import glob
import shutil

import pyarrow.parquet as pq
import pytest

from lucene_spark.corpus import synthetic_transcripts, synthetic_transcripts_pdf
from lucene_spark.indexing.builder import IndexBuilder
from lucene_spark.session import get_spark

N_CONVS = 80


@pytest.fixture(scope="session")
def spark():
    s = get_spark(4, app="lucene_spark_tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def corpus_pdf():
    return synthetic_transcripts_pdf(N_CONVS)


@pytest.fixture(scope="session")
def index_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx") / "index")
    shutil.rmtree(d, ignore_errors=True)
    df = synthetic_transcripts(spark, N_CONVS)
    IndexBuilder(spark, d, num_segments=4).build(df)
    return d


def _footer_overlap(index_dir, segs, field_terms):
    """(seg, file index, row group) of every postings row group of segments
    ``segs`` whose field and [min(term), max(term)] statistics can hold a
    term of ``field_terms``, and the total row-group count — straight from
    the parquet footers."""
    want, total = set(), 0
    for s in segs:
        for fi, p in enumerate(sorted(
                glob.glob(f"{index_dir}/postings/seg={s}/*.parquet"))):
            md = pq.ParquetFile(p).metadata
            names = [md.schema.column(i).name for i in range(md.num_columns)]
            fc, tc = names.index("field"), names.index("term")
            total += md.num_row_groups
            for rg in range(md.num_row_groups):
                fst = md.row_group(rg).column(fc).statistics
                tst = md.row_group(rg).column(tc).statistics
                if any(fst.min <= f <= fst.max
                       and any(tst.min <= t <= tst.max for t in ts)
                       for f, ts in field_terms.items()):
                    want.add((s, fi, rg))
    return want, total


@pytest.fixture(scope="session")
def footer_overlap():
    """The row groups an executor run over ``field_terms`` must read:
    ``footer_overlap(index_dir, segs, field_terms) -> (set, total)``."""
    return _footer_overlap


def _job_shape(sc, group, fn):
    """(jobs, stages, tasks, result) of ``fn()`` run in job group ``group``."""
    tracker = sc.statusTracker()
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = tracker.getJobIdsForGroup(group)
    stages = [st for j in jobs for st in tracker.getJobInfo(j).stageIds]
    tasks = sum(tracker.getStageInfo(st).numTasks for st in stages)
    return len(jobs), len(stages), tasks, out


@pytest.fixture(scope="session")
def job_shape():
    """``job_shape(sc, group, fn) -> (jobs, stages, tasks, fn())``, counted
    with the status tracker."""
    return _job_shape
