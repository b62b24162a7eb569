"""Build statistics, small tables and reader open without Spark jobs.

- term_stats / field_stats equal an independent pyarrow ``group_by`` over
  the postings and docs files of the index's live segments, for every index
  shape (plain, payload, index-sort, keyword fields, empty corpus, empty
  text, no-op resume, compaction survivors, an append generation);
- the reader's declared DataFrame schemas equal Spark's inferred ones;
- the Spark status tracker pins the job counts of a build, an open and a
  reopen-and-search;
- the over-cap term-dictionary fallback gives the cached path's results;
- ``build()`` reports per-segment skew consistent with build_manifest.
"""

import glob
import json

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from lucene_spark.corpus import (VOCAB, synthetic_transcripts,
                                 synthetic_transcripts_pdf)
from lucene_spark.indexing import tableio
from lucene_spark.indexing.builder import IndexBuilder
from lucene_spark.indexing.maintenance import IndexMaintenance
from lucene_spark.search.executor import SegmentExecutor
from lucene_spark.search.reader import IndexReader
from lucene_spark.search.searcher import IndexSearcher
from lucene_spark.streaming.incremental import IncrementalIndexer

N_CONVS = 40


def _payload_df(spark):
    pdf = synthetic_transcripts_pdf(N_CONVS)
    pdf["text"] = pdf["text"].map(lambda t: " ".join(
        f"{w}|{i}" for i, w in enumerate((t or "").split())))
    return spark.createDataFrame(pdf)


SHAPES = {
    "plain": (lambda spark: synthetic_transcripts(spark, N_CONVS), {}),
    "payload": (_payload_df, {"analyzer": "delimited_payload",
                              "positions": False}),
    "index_sort": (lambda spark: synthetic_transcripts(spark, N_CONVS)
                   .withColumn("slen",
                               F.length(F.coalesce("text", F.lit("")))),
                   {"index_sort": ("slen",)}),
    "keyword": (lambda spark: synthetic_transcripts(spark, N_CONVS),
                {"keyword_fields": ("role",)}),
}


@pytest.fixture(scope="module")
def shaped(spark, tmp_path_factory):
    """{shape: index dir}, each built with 4 segments."""
    root = tmp_path_factory.mktemp("stats_io")
    out = {}
    for name, (make_df, kw) in SHAPES.items():
        d = str(root / name)
        IndexBuilder(spark, d, num_segments=4, **kw).build(make_df(spark))
        out[name] = d
    return out


def _manifest(d):
    with open(f"{d}/manifest.json") as f:
        return json.load(f)


def _seg_files(d, table, segs):
    return sorted(p for s in segs
                  for p in glob.glob(f"{d}/{table}/seg={s}/*.parquet"))


def _read(files, columns):
    if not files:
        return None
    return pa.concat_tables(pq.read_table(f, columns=columns) for f in files)


def _oracle(d):
    """(term_stats rows, field_stats rows) recounted with pyarrow from the
    postings and docs files of the manifest's segments."""
    segs = sorted(int(s) for s in _manifest(d)["offsets"])
    post = _read(_seg_files(d, "postings", segs),
                 ["field", "term", "count", "ttf", "max_tf"])
    docs = _read(_seg_files(d, "docs", segs), ["dl"])
    terms, fields = [], {}
    if post is not None and post.num_rows:
        g = post.group_by(["field", "term"]).aggregate(
            [("count", "sum"), ("ttf", "sum"), ("max_tf", "max")])
        terms = sorted(zip(g["field"].to_pylist(), g["term"].to_pylist(),
                           g["count_sum"].to_pylist(),
                           g["ttf_sum"].to_pylist(),
                           g["max_tf_max"].to_pylist()))
        fg = post.group_by("field").aggregate([("count", "sum"),
                                               ("ttf", "sum")])
        fields = dict(zip(fg["field"].to_pylist(),
                          zip(fg["count_sum"].to_pylist(),
                              fg["ttf_sum"].to_pylist())))
    n_docs = 0 if docs is None else docs.num_rows
    sum_dl = 0 if docs is None else int(pc.sum(docs["dl"]).as_py() or 0)
    text_df, _ = fields.pop("text", (0, 0))
    field_rows = [("text", n_docs, sum_dl, text_df)]
    field_rows += [(f, df, ttf, df) for f, (df, ttf) in fields.items()]
    return terms, sorted(field_rows)


def _stats(d):
    sdirs = _manifest(d).get("stats_dirs", {})
    ts = tableio.read_table(f"{d}/{sdirs.get('term_stats', 'term_stats')}")
    fs = tableio.read_table(f"{d}/{sdirs.get('field_stats', 'field_stats')}")
    terms = sorted(zip(*(ts[c].to_pylist()
                         for c in ("field", "term", "df", "ttf", "max_tf"))))
    fields = sorted(zip(*(fs[c].to_pylist()
                          for c in ("field", "doc_count", "sum_ttf",
                                    "sum_df"))))
    return terms, fields


def _assert_stats_match(d):
    terms, fields = _stats(d)
    want_terms, want_fields = _oracle(d)
    assert terms == want_terms
    assert fields == want_fields
    # the text docCount is the manifest's doc count
    assert dict((f[0], f[1]) for f in fields)["text"] == \
        _manifest(d)["doc_count"]


@pytest.mark.parametrize("shape", sorted(SHAPES))
def test_stats_match_pyarrow_recount(shaped, shape):
    _assert_stats_match(shaped[shape])


@pytest.mark.parametrize("shape", sorted(SHAPES))
def test_declared_schemas_equal_inferred(spark, shaped, shape):
    d = shaped[shape]
    r = IndexReader(spark, d)
    assert r._postings_df.schema == spark.read.parquet(f"{d}/postings").schema
    assert r._docs_df.schema == spark.read.parquet(f"{d}/docs").schema
    assert r._term_stats_df.schema == \
        spark.read.parquet(f"{d}/term_stats").schema
    # the small tables read back through Spark as they did when Spark
    # wrote them
    assert spark.read.parquet(f"{d}/field_stats").schema.simpleString() == \
        "struct<field:string,doc_count:bigint,sum_ttf:bigint,sum_df:bigint>"
    assert spark.read.parquet(f"{d}/build_manifest").schema.simpleString() \
        == ("struct<segment:bigint,fingerprint:bigint,rows_in:bigint,"
            "doc_offset:bigint,terms:bigint,blocks:bigint,wall_ms:bigint,"
            "status:string>")


def test_stats_empty_corpus(spark, tmp_path):
    d = str(tmp_path / "empty")
    df = synthetic_transcripts(spark, N_CONVS).limit(0)
    res = IndexBuilder(spark, d, num_segments=4).build(df)
    assert res["doc_count"] == 0
    assert res["segments"] == {"wall_ms_max": 0, "wall_ms_median": 0.0,
                               "rows_max": 0, "rows_median": 0.0,
                               "reused": 0}
    assert _stats(d) == ([], [("text", 0, 0, 0)])
    _assert_stats_match(d)


def test_stats_all_empty_text(spark, tmp_path):
    # docs but no text tokens: the text row's Σdf is 0, not NULL, so the
    # index opens and answers (no hits)
    d = str(tmp_path / "blank")
    pdf = synthetic_transcripts_pdf(10)
    pdf["text"] = ""
    IndexBuilder(spark, d, num_segments=2).build(spark.createDataFrame(pdf))
    _assert_stats_match(d)
    assert _stats(d)[1] == [("text", len(pdf), 0, 0)]
    assert IndexSearcher(spark, d).search(VOCAB[0], k=5) == []


def test_stats_resume_compaction_and_append(spark, tmp_path):
    d = str(tmp_path / "idx")
    df = synthetic_transcripts(spark, N_CONVS)
    IndexBuilder(spark, d, num_segments=4).build(df)
    ts_file = tableio.parquet_files(f"{d}/term_stats")
    # no-op resume: every segment reused, stats files untouched
    res = IndexBuilder(spark, d, num_segments=4).build(df, resume=True)
    assert res["reused"] == res["segments"]["reused"] == 4
    assert tableio.parquet_files(f"{d}/term_stats") == ts_file
    _assert_stats_match(d)
    # an append generation (incremental merge of the new segments' stats)
    extra = synthetic_transcripts_pdf(6, seed=7)
    extra["conv_id"] = "zz" + extra["conv_id"]
    IncrementalIndexer(spark, d).append(spark.createDataFrame(extra))
    assert _manifest(d)["stats_dirs"]["term_stats"] != "term_stats"
    _assert_stats_match(d)
    # compaction survivors: deleted docs leave the statistics
    mnt = IndexMaintenance(spark, d)
    assert mnt.delete_by_term(VOCAB[40]) > 0
    mnt.compact(target_rows=10**9)
    assert not _manifest(d)["has_deletes"]
    _assert_stats_match(d)


def test_stats_over_one_file_bound(spark, tmp_path, monkeypatch):
    # past TERMS_PER_FILE the exact count sizes a range-partitioned
    # dictionary; its files, read in name order, stay (field, term)-sorted
    from lucene_spark.indexing import builder

    monkeypatch.setattr(builder, "TERMS_PER_FILE", 100)
    d = str(tmp_path / "multi")
    IndexBuilder(spark, d, num_segments=4).build(
        synthetic_transcripts(spark, N_CONVS))
    extra = synthetic_transcripts_pdf(6, seed=7)
    extra["conv_id"] = "zz" + extra["conv_id"]
    IncrementalIndexer(spark, d).append(spark.createDataFrame(extra))
    for sub in ("term_stats", _manifest(d)["stats_dirs"]["term_stats"]):
        ts = tableio.read_table(f"{d}/{sub}")
        keys = list(zip(ts["field"].to_pylist(), ts["term"].to_pylist()))
        assert keys == sorted(keys)
        assert len(tableio.parquet_files(f"{d}/{sub}")) == len(keys) // 100
    _assert_stats_match(d)
    s = IndexSearcher(spark, d)
    assert len(s.reader._term_cache()) == tableio.read_table(
        f"{d}/{_manifest(d)['stats_dirs']['term_stats']}").num_rows


# -- Spark job counts ---------------------------------------------------------

def _jobs(spark, name, fn):
    sc = spark.sparkContext
    group = f"stats_io_{name}"
    sc.setJobGroup(group, name)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


def test_job_counts_build_open_reopen(spark, tmp_path, monkeypatch,
                                      footer_overlap):
    d = str(tmp_path / "jobs")
    # ~2.4k turns: enough for plan_boundaries' 1-in-101 pre-sample to hold
    # >= 4 keys per segment (smaller corpora take their keys whole, below)
    df = synthetic_transcripts(spark, 600)
    n, res = _jobs(spark, "build", lambda: IndexBuilder(
        spark, d, num_segments=4).build(df))
    assert res["built"] == 4
    assert n <= 9, n
    # open + dictionary load: footers, pyarrow and declared schemas only
    monkeypatch.setattr(IndexReader, "_SHARED_TERM_CACHE", {})

    def open_and_load():
        r = IndexReader(spark, d)
        return r._term_cache()

    n, cache = _jobs(spark, "open", open_and_load)
    assert cache and n == 0, n
    # reopen + first search: a small read runs in the driver (no job);
    # past the driver bound (forced by a bound of 0) it is one job
    monkeypatch.setattr(IndexReader, "_SHARED_TERM_CACHE", {})

    def reopen_and_search():
        s = IndexSearcher(spark, d)
        return s.reader.segment_executor(), s.search(VOCAB[0], k=10)

    n, (ex, hits) = _jobs(spark, "reopen", reopen_and_search)
    assert hits and n == 0, n
    stats = ex.task_stats()
    assert {e["where"] for e in stats} == {"driver"}
    assert {tuple(x) for e in stats for x in e["read"]} == \
        footer_overlap(d, ex.files, {"text": [VOCAB[0]]})[0]
    monkeypatch.setattr(IndexReader, "_SHARED_TERM_CACHE", {})
    monkeypatch.setattr(SegmentExecutor, "DRIVER_RUN_BYTES", 0)
    n, spark_hits = _jobs(spark, "reopen-spark", lambda: IndexSearcher(
        spark, d).search(VOCAB[0], k=10))
    assert spark_hits == hits and n == 1, n


def test_small_corpus_plans_without_a_full_key_count(spark, tmp_path):
    """A corpus whose 1-in-101 pre-sample is too small for the segment
    count takes its keys whole in one capped collect: a ~160-turn build
    runs no more jobs than the 2.4k-turn build above, and its boundaries
    equal the full key set's (``sample_mod=1`` skips the pre-sample)."""
    from lucene_spark.indexing.partitioning import plan_boundaries

    df = synthetic_transcripts(spark, 40)
    big = synthetic_transcripts(spark, 600)
    stats = {}
    n, bounds = _jobs(spark, "plan-small",
                      lambda: plan_boundaries(df, 4, _stats=stats))
    assert stats["pre_sample"] == stats["collected"] == df.count()
    assert len(bounds) == 3 and bounds == plan_boundaries(df, 4,
                                                           sample_mod=1)
    n_big, _ = _jobs(spark, "plan-big", lambda: plan_boundaries(big, 4))
    assert n == n_big, (n, n_big)
    n, res = _jobs(spark, "build-small", lambda: IndexBuilder(
        spark, str(tmp_path / "small"), num_segments=4).build(df))
    assert res["built"] == 4
    assert n <= 9, n


# -- term-dictionary fallback --------------------------------------------------

def test_term_cache_fallback_matches_cached(spark, index_dir, monkeypatch):
    queries = [f"{VOCAB[0]} {VOCAB[3]}", f'"{VOCAB[0]} {VOCAB[3]}"',
               f"{VOCAB[11][:3]}*"]
    cached = IndexSearcher(spark, index_dir)
    want = [[(h.doc_id, h.score) for h in cached.search(q, 10)]
            for q in queries]
    terms = cached.reader.sorted_terms("text")
    assert terms and all(want)
    prefix = cached._expand_prefix_sorted("text", VOCAB[11][:3], 50)

    monkeypatch.setattr(IndexReader, "TERM_CACHE_MAX", 0)
    monkeypatch.setattr(IndexReader, "_SHARED_TERM_CACHE", {})

    def no_read(*a, **k):
        raise AssertionError("over-cap dictionary was read")

    s = IndexSearcher(spark, index_dir)
    with monkeypatch.context() as m:
        m.setattr(tableio, "read_table", no_read)
        n, cache = _jobs(spark, "fallback", s.reader._term_cache)
    assert cache is None and n == 0
    assert s.reader.sorted_terms("text") is None
    got = [[(h.doc_id, h.score) for h in s.search(q, 10)] for q in queries]
    assert got == want
    assert s._expand_prefix_sorted("text", VOCAB[11][:3], 50) == prefix
    for t in (VOCAB[0], terms[-1], "zzz-not-a-term"):
        assert s.reader.has_term("text", t) == \
            cached.reader.has_term("text", t)


# -- build skew ----------------------------------------------------------------

def test_build_reports_segment_skew(spark, tmp_path):
    d = str(tmp_path / "skew")
    df = synthetic_transcripts(spark, N_CONVS)
    res = IndexBuilder(spark, d, num_segments=4).build(df)
    seg = res["segments"]
    bm = tableio.read_table(f"{d}/build_manifest").to_pydict()
    assert seg["wall_ms_max"] >= seg["wall_ms_median"] > 0
    assert seg["rows_max"] >= seg["rows_median"] > 0
    assert seg["wall_ms_max"] == max(bm["wall_ms"])
    assert seg["rows_max"] == max(bm["rows_in"])
    assert seg["reused"] == res["reused"] == 0
    assert sum(bm["rows_in"]) == res["doc_count"]
    # a resume after changing one conversation rebuilds one segment
    pdf = df.toPandas()
    pdf.loc[0, "text"] = "changed " + str(pdf.loc[0, "text"])
    res2 = IndexBuilder(spark, d, num_segments=4).build(
        spark.createDataFrame(pdf), resume=True)
    assert res2["built"] == 1
    assert res2["segments"]["reused"] == res2["reused"] == 3
    bm2 = tableio.read_table(f"{d}/build_manifest").to_pydict()
    assert sum(bm2["rows_in"]) == res2["doc_count"]
