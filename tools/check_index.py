"""CheckIndex — full-index invariant validation (``core/index/CheckIndex.java``
analogy, SURVEY.md §5 row 7). Re-reads every structure and validates:

1. docs: per-segment docIDs dense 0..n-1; global docIDs == row_number over
   (conv_id, turn_idx) - 1; norm == SmallFloat(int_to_byte4(dl)).
2. postings: per (term, segment) blocks doc-ordered and disjoint; block
   metadata (first/last/count/ttf/max_tf) consistent with decoded content;
   impacts are a Pareto frontier covering the block's (tf, norm) pairs;
   in file order, each field's rows are contiguous and its terms ascending
   (the layout the serving path's binary-search term slices rely on).
3. stats: term_stats df/ttf == recount from postings; field_stats sums match.
4. manifest: offsets cumulative in segment order; doc_count == Σ rows.

Usage: python tools/check_index.py <index_dir> [--cpus N]
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def check_segment_postings(pdf: pd.DataFrame) -> list[str]:
    from lucene_spark.indexing.blocks import decode_block, pareto_impacts

    errs = []
    for (field, term), grp in pdf.groupby(["field", "term"], sort=False):
        term = f"{field}:{term}"
        grp = grp.sort_values("block_id")
        prev_last = -1
        if grp["block_id"].tolist() != list(range(len(grp))):
            errs.append(f"term {term!r}: non-contiguous block_ids")
        for r in grp.itertuples():
            d, tf, nm = decode_block(r.first_doc, r.count, bytes(r.doc_gaps),
                                     bytes(r.tfs), bytes(r.norms))
            if d.size != r.count:
                errs.append(f"{term!r} blk{r.block_id}: count mismatch")
            if d.size and (np.diff(d) <= 0).any():
                errs.append(f"{term!r} blk{r.block_id}: docIDs not strictly increasing")
            if d.size and (int(d[0]) != r.first_doc or int(d[-1]) != r.last_doc):
                errs.append(f"{term!r} blk{r.block_id}: first/last mismatch")
            if int(tf.sum()) != r.ttf or (tf.size and int(tf.max()) != r.max_tf):
                errs.append(f"{term!r} blk{r.block_id}: ttf/max_tf mismatch")
            if d[0] <= prev_last:
                errs.append(f"{term!r} blk{r.block_id}: overlaps previous block")
            prev_last = int(d[-1])
            it, inm = pareto_impacts(tf, nm)
            if list(it) != list(r.impact_tfs) or list(inm) != list(r.impact_norms):
                errs.append(f"{term!r} blk{r.block_id}: impacts not the Pareto frontier")
    return errs


def check_postings_layout(index_dir: str, segs) -> list[str]:
    """Problems with the row layout of segments ``segs``' postings files,
    read in file order: a field whose rows are not one contiguous run, or a
    field run whose terms are not ascending (non-decreasing, since a term's
    blocks are consecutive rows)."""
    import glob

    import pyarrow.parquet as pq

    errs = []
    for s in segs:
        for path in sorted(glob.glob(f"{index_dir}/postings/seg={s}/*.parquet")):
            t = pq.read_table(path, columns=["field", "term"])
            fields = t.column("field").to_pylist()
            terms = t.column("term").to_pylist()
            done: set = set()
            for i, f in enumerate(fields):
                if i and f == fields[i - 1]:
                    if terms[i] < terms[i - 1]:
                        errs.append(f"{path}: field {f!r} terms not ascending "
                                    f"at row {i} ({terms[i - 1]!r} > "
                                    f"{terms[i]!r})")
                        break
                    continue
                if f in done:
                    errs.append(f"{path}: field {f!r} rows not contiguous "
                                f"(run resumes at row {i})")
                    break
                done.add(f)
    return errs


def main():
    index_dir = sys.argv[1]
    cpus = int(sys.argv[2]) if len(sys.argv) > 2 else 8

    from pyspark.sql import functions as F

    from lucene_spark.session import get_spark
    from lucene_spark.smallfloat import int_to_byte4

    spark = get_spark(cpus, app="check_index")
    spark.sparkContext.setLogLevel("ERROR")
    problems: list[str] = []

    with open(f"{index_dir}/manifest.json") as f:
        manifest = json.load(f)
    offsets = {int(k): int(v) for k, v in manifest["offsets"].items()}
    live_segs = sorted(offsets)

    # only manifest-listed segments are live (a crashed compaction may leave
    # inert extra seg dirs awaiting GC); doc ORDER is doc_offset order, not
    # segment-id order (compaction assigns fresh ids)
    docs = spark.read.parquet(f"{index_dir}/docs") \
        .filter(F.col("seg").isin(live_segs))
    seg_counts = {r["seg"]: r["n"] for r in
                  docs.groupBy("seg").agg(F.count("*").alias("n")).collect()}
    acc = 0
    for s in sorted(offsets, key=lambda x: offsets[x]):
        if offsets[s] != acc:
            problems.append(f"manifest offset for seg {s}: {offsets[s]} != {acc}")
        acc += seg_counts.get(s, 0)
    if acc != manifest["doc_count"]:
        problems.append(f"doc_count {manifest['doc_count']} != Σ rows {acc}")

    # per-segment dense local ids + norm encoding (distributed check)
    bad_local = docs.groupBy("seg").agg(
        F.count("*").alias("n"), F.min("doc_id").alias("lo"),
        F.max("doc_id").alias("hi"), F.countDistinct("doc_id").alias("nd"),
    ).filter("lo != 0 OR hi != n - 1 OR nd != n").count()
    if bad_local:
        problems.append(f"{bad_local} segments with non-dense local docIDs")
    lookup = spark.createDataFrame(
        [(int(d), int(c)) for d, c in enumerate(int_to_byte4(np.arange(100000)))][:100000],
        "dlv int, code int",
    )
    bad_norm = docs.join(F.broadcast(lookup), docs["dl"] == lookup["dlv"]) \
        .filter("norm != code").count()
    if bad_norm:
        problems.append(f"{bad_norm} docs with norm != SmallFloat(dl)")

    # global docID order == (conv_id, turn_idx) order
    from pyspark.sql import Window

    from lucene_spark.search.reader import IndexReader
    rd = IndexReader(spark, index_dir)
    gd = rd.docs().select("doc_id", "conv_id", "turn_idx")
    disorder = gd.withColumn(
        "rn", F.row_number().over(Window.orderBy("conv_id", "turn_idx")) - 1
    ).filter("rn != doc_id").count()
    if disorder:
        problems.append(f"{disorder} docs out of (conv_id, turn_idx) order")

    # postings invariants per segment (distributed)
    post = spark.read.parquet(f"{index_dir}/postings") \
        .filter(F.col("seg").isin(live_segs))

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        errs = check_segment_postings(pdf)
        return pd.DataFrame({"err": errs[:20]})

    errs = (
        post.groupBy("seg").applyInPandas(run, "err string").collect()
    )
    problems.extend(r["err"] for r in errs)
    problems.extend(check_postings_layout(index_dir, live_segs))

    # stats consistency (resolved through the manifest generation pointer)
    sdirs = manifest.get("stats_dirs", {})
    ts = spark.read.parquet(
        f"{index_dir}/{sdirs.get('term_stats', 'term_stats')}")
    rec = post.groupBy("field", "term").agg(F.sum("count").alias("df2"),
                                            F.sum("ttf").alias("ttf2"))
    bad_ts = ts.join(rec, ["field", "term"]).filter("df != df2 OR ttf != ttf2").count()
    if bad_ts:
        problems.append(f"{bad_ts} terms with inconsistent term_stats")
    fs = spark.read.parquet(
        f"{index_dir}/{sdirs.get('field_stats', 'field_stats')}").collect()[0]
    sum_dl = docs.agg(F.sum("dl")).collect()[0][0] or 0
    if fs["sum_ttf"] != sum_dl:
        problems.append(f"field_stats sum_ttf {fs['sum_ttf']} != Σ dl {sum_dl}")
    if fs["doc_count"] != manifest["doc_count"]:
        problems.append("field_stats doc_count != manifest doc_count")

    spark.stop()
    if problems:
        print("CHECK FAILED:")
        for p in problems[:50]:
            print("  -", p)
        sys.exit(1)
    print(f"CheckIndex OK: {manifest['doc_count']} docs, "
          f"{len(offsets)} segments, all invariants hold")


if __name__ == "__main__":
    main()
