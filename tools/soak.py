"""Scale soak of the distributed condensed-graph fallbacks (VERDICT r3
next-round #7).

The guard-lowered pytests (tests/test_condense.py) prove the distributed
paths CORRECT; this proves their CONSTANT FACTORS at a production tile
count: a >=50M-cell synthetic DEM (7200 x 7200) through flow_accum /
watershed / clump with the driver-solve guards lowered so
operators/condense.py carries the full solve, plus dedup_clusters on a
2M-document synthetic corpus whose overlapping-window texts force both
heavy LSH bucket traffic and CHAINED near-dup components (the label-doubling
path).  Each op reports wall time plus cheap full-result invariants
(row counts, bounds) so a silently-truncated run cannot pass.

Usage:  python tools/soak.py [--rows 7200] [--cols 7200] [--docs 2000000]
Results are recorded in BENCH/BASELINE.md (round-4 soak table).
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from whitebox_geospatial_analysis_tools_spark.session import get_spark  # noqa: E402
from whitebox_geospatial_analysis_tools_spark.operators import clump as clump_mod  # noqa: E402
from whitebox_geospatial_analysis_tools_spark.operators import condense  # noqa: E402
from whitebox_geospatial_analysis_tools_spark.operators import hydro  # noqa: E402
from whitebox_geospatial_analysis_tools_spark.operators import raster as R  # noqa: E402
from whitebox_geospatial_analysis_tools_spark.operators import textops  # noqa: E402


def _timed(name, fn):
    t0 = time.perf_counter()
    out = fn()
    dt = time.perf_counter() - t0
    print(f"SOAK {name:18s} {dt:8.1f} s   {out}", flush=True)
    return dt


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=7200)
    ap.add_argument("--cols", type=int, default=7200)
    ap.add_argument("--docs", type=int, default=2_000_000)
    args = ap.parse_args()

    spark = get_spark(master="local[32]", shuffle_partitions=64)
    n_cells = args.rows * args.cols
    print(f"SOAK dem {args.rows}x{args.cols} = {n_cells / 1e6:.1f}M cells; "
          f"docs = {args.docs / 1e6:.1f}M", flush=True)

    # force the distributed condensed-graph paths regardless of natural size
    condense._MAX_DRIVER_ROWS = 100_000
    condense._MERGE_DRIVER_PAIRS = 100_000

    dem = R.synth_raster(spark, args.rows, args.cols)
    ptr = hydro.flow_pointer_d8(dem).persist()
    n_live = ptr.count()  # materialize pointers once, outside the op timings
    print(f"SOAK pointers persisted: {n_live} live cells", flush=True)

    def run_accum():
        acc = hydro.flow_accum(ptr)
        r = acc.agg(F.count(F.lit(1)).alias("n"), F.min("accum").alias("lo"),
                    F.max("accum").alias("hi")).collect()[0]
        assert r["n"] == n_live and r["lo"] >= 1.0 and r["hi"] <= n_live
        return f"n={r['n']} max_accum={int(r['hi'])}"

    def run_watershed():
        ws = hydro.watershed(ptr)
        r = ws.agg(F.count(F.lit(1)).alias("n"),
                   F.countDistinct("ws").alias("k")).collect()[0]
        assert r["n"] == n_live and 0 < r["k"] < r["n"]
        return f"n={r['n']} basins={r['k']}"

    def run_clump():
        cells = R.explode_cells(dem).where(F.col("value") != R.NODATA).select(
            "row", "col",
            F.expr("CAST(FLOOR(value / 50e0) AS BIGINT)").alias("cls"))
        cs = clump_mod.clump_sizes(cells, args.cols)
        r = cs.agg(F.count(F.lit(1)).alias("k"),
                   F.sum("n_cells").alias("tot")).collect()[0]
        assert r["tot"] == n_live and 0 < r["k"] < n_live
        return f"clumps={r['k']} cells={r['tot']}"

    def run_dedup():
        # overlapping 40-token windows over a shared token stream: adjacent
        # doc ids are near-identical -> chained components (the web-template
        # case), modular tok space keeps the bucket population heavy
        docs = spark.range(args.docs).select(
            F.col("id").alias("doc_id"),
            F.expr("array_join(transform(sequence(id * 2, id * 2 + 39), "
                   "j -> concat('tok', j % 1000000)), ' ')").alias("text"))
        lab = textops.dedup_clusters(docs)
        r = lab.agg(F.count(F.lit(1)).alias("n"),
                    F.countDistinct("canonical").alias("k")).collect()[0]
        assert r["n"] > 0 and r["k"] < r["n"]
        return f"paired_docs={r['n']} clusters={r['k']}"

    def _soak_docs():
        # same chained-near-dup corpus as run_dedup: adjacent doc ids share
        # 38 of 40 tokens, so block hashes and 8-token windows both collide
        return spark.range(args.docs).select(
            F.col("id").alias("doc_id"),
            F.expr("array_join(transform(sequence(id * 2, id * 2 + 39), "
                   "j -> concat('tok', j % 1000000)), ' ')").alias("text"))

    def run_para():
        out = textops.paragraph_dedup(_soak_docs())
        r = out.agg(F.count(F.lit(1)).alias("n"),
                    F.sum("n_dup_blocks").alias("dups"),
                    F.sum("n_blocks").alias("blocks")).collect()[0]
        assert r["n"] == args.docs and 0 < r["dups"] < r["blocks"]
        return f"docs={r['n']} dup_blocks={r['dups']}/{r['blocks']}"

    def run_spans():
        out = textops.substring_spans(_soak_docs())
        r = out.agg(F.count(F.lit(1)).alias("n"),
                    F.sum(F.expr("CASE WHEN n_dup_spans > 0 THEN 1 ELSE 0 END"))
                    .alias("hit"),
                    F.max("max_span_len").alias("mx")).collect()[0]
        assert r["n"] == args.docs and 0 < r["hit"] <= r["n"] and r["mx"] >= 8
        return f"docs={r['n']} docs_with_spans={r['hit']} max_span={r['mx']}"

    t1 = _timed("flow_accum", run_accum)
    t2 = _timed("watershed", run_watershed)
    t3 = _timed("clump_sizes", run_clump)
    ptr.unpersist()
    t4 = _timed("dedup_clusters", run_dedup)
    t5 = _timed("paragraph_dedup", run_para)
    t6 = _timed("substring_spans", run_spans)
    print(f"SOAK TOTAL {t1 + t2 + t3 + t4 + t5 + t6:.1f} s", flush=True)


# ---------------------------------------------------------------------------
# Kill-resume at soak scale (VERDICT r4 next-round #5): SIGKILL the resumable
# paragraph_dedup write mid-run after >=1 committed batch, re-run, and assert
# the final table is identical to a straight-through reference with no
# duplicate lineage rows — the plans/lineage.py resume path at production
# row counts (the north rule's checkpoint/resume clause).
# ---------------------------------------------------------------------------
_RESUME_KEYS = 64


def _resume_corpus(spark, docs: int):
    """The soak's chained-near-dup corpus (same expression as _soak_docs)."""
    return spark.range(docs).select(
        F.col("id").alias("doc_id"),
        F.expr("array_join(transform(sequence(id * 2, id * 2 + 39), "
               "j -> concat('tok', j % 1000000)), ' ')").alias("text"))


def _resume_result(spark, docs: int):
    """paragraph_dedup over the soak corpus, projected to a compact
    content-checkable row (kept_text folded to its md5)."""
    return textops.paragraph_dedup(_resume_corpus(spark, docs)).select(
        "doc_id", "n_blocks", "n_dup_blocks", "kept_chars",
        F.md5("kept_text").alias("kept_md5"),
        (F.col("doc_id") % _RESUME_KEYS).alias("pkey"),
    )


def resume_worker(out_dir: str, docs: int) -> None:
    """Child-process body: compute once (persist), then the resumable
    partitioned write — committed pkeys from a previous (killed) run are
    skipped by run_resumable's manifest anti-join."""
    import json

    from whitebox_geospatial_analysis_tools_spark.plans import lineage

    spark = get_spark(app="wgs-soak-resume", master="local[32]",
                      shuffle_partitions=64)
    res = _resume_result(spark, docs).persist()
    res.count()
    summary = lineage.run_resumable(
        spark, res, out_dir, "pkey", list(range(_RESUME_KEYS)),
        batch_size=4, input_desc=f"synthetic corpus docs={docs}")
    print("RESUME_SUMMARY " + json.dumps({
        "written": len(summary["written_keys"]),
        "skipped": len(summary["skipped_keys"]),
        "batches": summary["batches"],
    }), flush=True)


def ann_soak(n_vecs: int) -> None:
    """Constant-factor soak of the corpus-scaled trained-quantizer ANN
    family (VERDICT r4 wrong #1 fix): synthesize n_vecs clustered 64-dim
    embeddings ENTIRELY in Spark (xxhash64-derived — no driver data), then
    drive list_size_stats / semdedup / ivf_pq_topk_trained at a scale where
    n_lists = ceil(sqrt(n)) actually bites (448 lists at 200k vs the
    fixture's 16).  Invariants: the list spine covers the corpus, semdedup
    returns a full verdict spine with a non-trivial prune set, and every
    query gets exactly k re-ranked neighbors."""
    from whitebox_geospatial_analysis_tools_spark.operators import simsearch

    spark = get_spark(master="local[32]", shuffle_partitions=64)
    n_clusters = max(1, n_vecs // 10)
    # center component ~ U(-1, 1) per (cluster, dim); member = center + 5%
    # noise -> within-cluster cosine >> SEMDEDUP_TAU, so prunes must occur
    emb = spark.range(n_vecs).select(
        F.col("id").alias("vec_id"),
        F.expr(
            f"transform(sequence(0, 63), d -> CAST("
            f"  CAST(xxhash64(id % {n_clusters}, d) AS DOUBLE) / 9.223e18"
            f"  + CAST(xxhash64(id, d, 7) AS DOUBLE) / 9.223e18 * 0.05"
            f" AS FLOAT))").alias("embedding"),
    ).persist()
    n = emb.count()
    n_lists = simsearch.n_lists_for(n)
    print(f"SOAK ann corpus: {n} vecs, {n_clusters} clusters, "
          f"n_lists={n_lists}, nprobe={simsearch.nprobe_for(n_lists)}",
          flush=True)

    def run_lists():
        rows = simsearch.list_size_stats(emb).collect()
        # only non-empty lists appear; coverage of the corpus is the invariant
        assert 0 < len(rows) <= n_lists, (len(rows), n_lists)
        assert sum(r["n_vecs"] for r in rows) == n
        top = max(r["n_vecs"] for r in rows)
        return f"lists={len(rows)}/{n_lists} covered={n} max_list={top}"

    def run_semdedup():
        r = simsearch.semdedup(emb).agg(
            F.count(F.lit(1)).alias("n"), F.sum("pruned").alias("p")
        ).collect()[0]
        assert r["n"] == n and 0 < r["p"] < n, (r["n"], r["p"])
        return f"spine={r['n']} pruned={r['p']}"

    def run_ivfpq():
        rows = simsearch.ivf_pq_topk_trained(emb).collect()
        qids = {r["q_id"] for r in rows}
        assert len(qids) == 20 and len(rows) == 20 * 3, (len(qids), len(rows))
        return f"queries={len(qids)} topk_rows={len(rows)}"

    t1 = _timed("list_size_stats", run_lists)
    t2 = _timed("semdedup", run_semdedup)
    t3 = _timed("ivf_pq_trained", run_ivfpq)
    print(f"SOAK ann total {t1 + t2 + t3:.1f} s", flush=True)
    spark.stop()


def kill_resume(docs: int) -> None:
    import shutil
    import signal
    import subprocess
    import tempfile

    out_dir = tempfile.mkdtemp(prefix="soak_resume_")
    ldir = os.path.join(out_dir, "_lineage")
    cmd = [sys.executable, os.path.abspath(__file__), "--resume-worker",
           "--out", out_dir, "--docs", str(docs)]
    log1 = open(os.path.join(out_dir, "run1.log"), "wb")
    t0 = time.perf_counter()
    p = subprocess.Popen(cmd, stdout=log1, stderr=subprocess.STDOUT,
                         start_new_session=True)
    killed_manifests = None
    while time.perf_counter() - t0 < 900:
        n = (len([f for f in os.listdir(ldir) if f.endswith(".parquet")])
             if os.path.isdir(ldir) else 0)
        if n >= 2:  # >=1 committed batch, job still mid-flight
            os.killpg(p.pid, signal.SIGKILL)
            killed_manifests = n
            break
        if p.poll() is not None:
            break
        time.sleep(0.2)
    p.wait()
    assert killed_manifests is not None, \
        "job finished before the kill point — raise --docs"
    print(f"SOAK kill-resume: SIGKILL after {killed_manifests} committed "
          f"manifest(s) at {time.perf_counter() - t0:.1f} s", flush=True)

    t1 = time.perf_counter()
    out2 = subprocess.run(cmd, capture_output=True, text=True, check=True)
    print(out2.stdout.strip().splitlines()[-1], flush=True)
    wall2 = time.perf_counter() - t1

    # verify: identical final table, full key coverage, no duplicate lineage
    spark = get_spark(app="wgs-soak-verify", master="local[32]",
                      shuffle_partitions=64)
    exp = _resume_result(spark, docs)
    got = spark.read.parquet(os.path.join(out_dir, "data")).select(
        "doc_id", "n_blocks", "n_dup_blocks", "kept_chars", "kept_md5", "pkey")
    n_got = got.count()
    assert n_got == docs, f"row count {n_got} != {docs}"
    assert got.exceptAll(exp).count() == 0 and exp.exceptAll(got).count() == 0, \
        "post-resume table differs from the straight-through reference"
    lin = spark.read.parquet(ldir)
    n_lin = lin.count()
    n_keys = lin.select("pkey").distinct().count()
    assert n_lin == n_keys == _RESUME_KEYS, \
        f"lineage rows {n_lin} / distinct {n_keys} != {_RESUME_KEYS}"
    skipped = int(out2.stdout.split('"skipped": ')[1].split(",")[0])
    assert skipped >= (killed_manifests - 1) * 4, "resume re-wrote committed keys"
    print(f"SOAK kill-resume OK: docs={docs} resume_wall={wall2:.1f}s "
          f"skipped_keys={skipped} lineage_rows={n_lin} (no dups), "
          f"table == reference", flush=True)
    shutil.rmtree(out_dir, ignore_errors=True)


if __name__ == "__main__":
    if "--resume-worker" in sys.argv:
        resume_worker(sys.argv[sys.argv.index("--out") + 1],
                      int(sys.argv[sys.argv.index("--docs") + 1]))
    elif "--kill-resume" in sys.argv:
        docs = (int(sys.argv[sys.argv.index("--docs") + 1])
                if "--docs" in sys.argv else 2_000_000)
        kill_resume(docs)
    elif "--ann" in sys.argv:
        ann_soak(int(sys.argv[sys.argv.index("--ann") + 1]))
    else:
        main()
