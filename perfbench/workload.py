"""One benchmark workload, run in a fresh process by ``perfbench/run.py``.

Usage (normally only through run.py, which sets the environment):

  python3 perfbench/workload.py --workload NAME --seed N --seconds S
      --trace 0|1 --data DIR --oracle-dir DIR --run-dir DIR --out RESULT.json
      [--smoke]

The loop is closed with one client: each op starts when the previous one
returns.  Every op is timed around calls into the package's public functions,
checked against a verified result outside the timed region, and counted.
The result file holds the op counts, the end-to-end timings, the
benchmark-side per-layer numbers and the spans (name, start, end, parent,
trace id); run.py adds host context, memory and the event-log numbers.
"""

from __future__ import annotations

import argparse
import hashlib
import itertools
import json
import os
import random
import statistics
import sys
import time
import traceback
from contextlib import contextmanager

import pandas as pd
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
T_PROCESS = float(os.environ.get("PERFBENCH_T0", time.time()))

# workload sizes: "bench" is what BENCHMARK.json runs, "smoke" is the
# benchmark's own test (perfbench/smoke.py)
SIZES = {
    "bench": {"flag_pages": 32_000_000, "flag_step": 4096, "docs": 5000, "vecs": 2000},
    "smoke": {"flag_pages": 100_000, "flag_step": 256, "docs": 200, "vecs": 200},
}
FLAG_WINDOWS = 8  # the seed picks one of these page-id windows

GEO_MIX = [
    # vector
    "pip_counts", "knn", "idw", "intersect_area", "concave_intersect_area",
    "location_predicates", "convex_hull", "dissolve_geom", "find_polygon_chains",
    # raster / hydro
    "focal_mean", "slope", "viewshed", "euclidean_allocation", "flow_accum",
    "dinf_accum", "mass_flux", "stream_order", "downslope_index", "branch_length",
]
ANN_DEDUP = [
    "lsh_pairs", "simhash_near_dup", "cosine_topk", "ivf_topk", "semdedup",
    "ivf_pq_topk", "ivf_pq_topk_trained", "list_size_stats", "paragraph_dedup",
    "dedup_clusters",
]
# layer of each mix op (layers are named after the package's modules)
OP_LAYER = {q: "vector" for q in GEO_MIX[:9]}
OP_LAYER.update({q: "hydro" for q in GEO_MIX[9:]})
OP_LAYER.update({q: "simsearch" for q in ANN_DEDUP})
OP_LAYER["pip_counts"] = "spatial_join"
# the cheapest query of each of the hydro, vector and simsearch layers:
# tile_mix runs them beside the north-star job, so that the gated workloads
# run every layer within the time budget; their cold and warm times are
# per-layer metrics
LAYER_MIX = ["flow_accum", "convex_hull", "list_size_stats"]
# the span of one op (or pass): per-layer metrics are per such span
UNIT_SPAN = {"flagship_scan": "flagship", "tile_write": "north_star",
             "geo_mix": "pass", "ann_dedup": "pass", "tile_mix": "pass"}


def digest(df: pd.DataFrame) -> str:
    """Order-independent content hash of a result, after the checker's
    normalization (sorted columns and rows, canonical dtypes)."""
    from check_queries import normalize

    n = normalize(df)
    h = hashlib.sha1(",".join(f"{c}:{n[c].dtype}" for c in n.columns).encode())
    h.update(pd.util.hash_pandas_object(n, index=False).to_numpy().tobytes())
    return f"{len(n)}:{h.hexdigest()}"


def rows_digest(rows) -> str:
    """Hash of a small list of (poly_id, n_pages) rows, in poly_id order."""
    body = ";".join(f"{int(p)}={int(n)}" for p, n in sorted((int(a), int(b)) for a, b in rows))
    return hashlib.sha1(body.encode()).hexdigest()


class Tracer:
    """Spans kept in memory and written out when the workload ends.

    With tracing on, every span also becomes the Spark job group of the jobs
    it starts, so the event-log parser can attribute jobs to spans."""

    def __init__(self, trace_id: str, traced: bool):
        self.trace_id, self.traced = trace_id, traced
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.sc = None

    def _group(self, span):
        if self.traced and self.sc is not None:
            if span is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                self.sc.setJobGroup(span["id"], span["name"], False)

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        s = {"id": f"{self.trace_id}.{len(self.spans)}", "name": name, "layer": layer,
             "parent": self._stack[-1]["id"] if self._stack else None,
             "trace": self.trace_id, **attrs}
        self.spans.append(s)
        self._stack.append(s)
        self._group(s)
        s["start"] = time.time()
        try:
            yield s
        finally:
            s["end"] = time.time()
            self._stack.pop()
            self._group(self._stack[-1] if self._stack else None)


class Run:
    """State of one workload run: session, tracer, op accounting, results."""

    def __init__(self, args):
        self.args = args
        self.size = SIZES["smoke" if args.smoke else "bench"]
        self.rng = random.Random(args.seed)
        self.tracer = Tracer(f"{args.workload}-{args.seed}", bool(args.trace))
        self.attempted = 0
        self.failed = 0
        self.e2e: dict[str, tuple[float, str]] = {}
        self.layer: dict[str, tuple[float, str]] = {}
        self.detail: dict = {}
        self.spark = None
        self.work = os.path.join(args.run_dir, "out")

    # -- set-up -----------------------------------------------------------
    def setup(self) -> None:
        """Process start to session up, query registry loaded and classified
        cell index built: ``setup_s``, the cold set-up of this process."""
        from whitebox_geospatial_analysis_tools_spark.session import get_spark

        with self.tracer.span("setup", "session"):
            ts = time.time()
            # master: local[$SPARK_GRAFT_CPUS], which run.py sets to nproc
            self.spark = get_spark(app=f"perfbench-{self.args.workload}")
            self.tracer.sc = self.spark.sparkContext
            tq = time.time()
            from whitebox_geospatial_analysis_tools_spark import queries as Q

            self.queries = Q.all_queries()
            ti = time.time()
            from whitebox_geospatial_analysis_tools_spark.operators.spatial_join import (
                classified_cell_index,
            )

            with self.tracer.span("index_build", "spatial_join"):
                classified_cell_index(self.spark)
            te = time.time()
        self.e2e["setup_s"] = (te - T_PROCESS, "s")
        self.layer["setup.process_start_s"] = (ts - T_PROCESS, "s")
        self.layer["session.start_s"] = (tq - ts, "s")
        self.layer["queries.registry_load_s"] = (ti - tq, "s")
        self.layer["spatial_join.index_build_s"] = (te - ti, "s")

    # -- op accounting ------------------------------------------------------
    def op(self, name: str, layer: str, fn, check):
        """Time ``fn()``, then check its value outside the timed region.
        Returns (seconds, value-or-None); failures are counted, not raised."""
        self.attempted += 1
        with self.tracer.span(name, layer) as s:
            try:
                value = fn()
                ok = True
            except Exception:  # a failed op is counted and the run goes on
                traceback.print_exc(file=sys.stderr)
                value, ok = None, False
        dt = s["end"] - s["start"]
        if ok:
            problem = check(value)
            if problem:
                print(f"check failed: {name}: {problem}", file=sys.stderr)
                ok = False
        if not ok:
            self.failed += 1
        s["ok"] = ok
        return dt, (value if ok else None)

    def no_op(self, name: str, reason: str) -> None:
        """Count an op that could not be attempted as failed."""
        print(f"op not run: {name}: {reason}", file=sys.stderr)
        self.attempted += 1
        self.failed += 1

    def until(self, t_end: float, least: int = 2):
        """Yield op numbers until the measuring window has passed, and at
        least ``least`` (two or more), so that a warm median never rests on
        one op."""
        i = 0
        while i < least or time.time() < t_end:
            yield i
            i += 1

    # -- helpers -------------------------------------------------------------
    def ladder(self, steps: list[tuple[str, str, object]]) -> None:
        """Time cumulative prefixes of a pipeline, once each.  Each prefix is
        forced by a ``noop``-format write of exactly the columns the next
        layer consumes, so column pruning cannot erase a layer.  Reports each
        prefix as ``ladder.<step>_s`` and the differences under the layer
        names."""
        prev = 0.0
        for order, (metric, step, make_df) in enumerate(steps):
            with self.tracer.span(f"ladder.{step}", metric.split(".")[0],
                                  ladder=metric, ladder_order=order) as s:
                make_df().write.format("noop").mode("overwrite").save()
            t = s["end"] - s["start"]
            self.layer[f"ladder.{step}_s"] = (t, "s")
            self.layer[metric] = (t - prev, "s")
            prev = t

    def refine_ratio(self, points, key: str) -> None:
        """Share of the cell equi-join's rows (the candidates ``pip_join``
        refines) that the refine keeps, counted once over ``points``."""
        from pyspark.sql import functions as F
        from whitebox_geospatial_analysis_tools_spark.functions import exprs
        from whitebox_geospatial_analysis_tools_spark.operators import spatial_join as SJ

        idx = SJ.classified_cell_index(self.spark)
        pts = points.withColumn("_c9", F.expr(exprs.cell_expr("lon", "lat", SJ._REFINE_RES)))
        with self.tracer.span("refine_ratio", "spatial_join"):
            cand = pts.join(F.broadcast(idx), pts["_c9"] == idx["cell_id"]).count()
            hits = SJ.pip_join(points, self.spark, keep=(key,)).count()
        self.layer["spatial_join.candidate_rows"] = (float(cand), "rows")
        self.layer["spatial_join.refine_pass_ratio"] = (hits / cand if cand else 0.0, "ratio")

    def timing_summary(self, key: str, samples: list[float]) -> float:
        med = statistics.median(samples)
        q = statistics.quantiles(samples, n=4) if len(samples) > 1 else [med, med, med]
        self.detail[key] = {"median": med, "q1": q[0], "q3": q[2], "n": len(samples)}
        return med


# -- workloads ---------------------------------------------------------------

def flagship_scan(run: Run) -> None:
    """``plans.pipeline.flagship_synthetic`` over a seed-picked page window."""
    from whitebox_geospatial_analysis_tools_spark.plans.pipeline import flagship_synthetic

    spark, size = run.spark, run.size
    window = run.rng.randrange(FLAG_WINDOWS)
    n = size["flag_pages"] + window * size["flag_step"]
    with open(os.path.join(HERE, "expected.json")) as f:
        want = json.load(f)["flagship_synthetic"].get(str(n))
    run.detail["flagship_pages"] = n

    def go():
        return [(r.poly_id, r.n_pages) for r in flagship_synthetic(spark, n).collect()]

    def check(rows):
        if want is None:
            return f"no verified result for n={n} in expected.json"
        got = rows_digest(rows)
        return None if got == want else f"result hash {got} != verified {want}"

    cold, _ = run.op("flagship", "pipeline", go, check)
    warm = []
    t_end = time.time() + run.args.seconds
    # the first op after the cold one often still runs slower than the rest:
    # three warm ops, so that their median is a warm one
    for _ in run.until(t_end, least=3):
        warm.append(run.op("flagship", "pipeline", go, check)[0])
    med = run.timing_summary("warm_op_s", warm)
    run.e2e["cold_pass_s"] = (cold, "s")
    run.e2e["warm_pass_s"] = (med, "s")
    run.layer["flagship.pages_per_s"] = (n / med, "pages/s")
    if run.args.trace:
        from pyspark.sql import functions as F
        from whitebox_geospatial_analysis_tools_spark.functions import cells
        from whitebox_geospatial_analysis_tools_spark.operators.spatial_join import pip_join
        from whitebox_geospatial_analysis_tools_spark.sources.pages import synth_pages

        def geo():
            return cells.with_url_geocode(synth_pages(spark, n))

        def assigned():
            return cells.with_cells(cells.with_tile(geo()))

        def keyed():  # as flagship_synthetic keys the pages it joins
            return assigned().withColumn("doc_id", F.abs(F.xxhash64("url")))

        def joined():
            return pip_join(keyed(), spark, keep=("url",))

        run.refine_ratio(keyed(), "doc_id")
        run.ladder([
            ("sources.synth_s", "synth_pages", lambda: synth_pages(spark, n).select("url")),
            ("cells.geocode_s", "with_url_geocode", lambda: geo().select("url", "lon", "lat")),
            ("cells.assign_s", "with_cells",
             lambda: assigned().select("url", "lon", "lat", "tile_id")),
            ("spatial_join.pip_join_s", "pip_join", lambda: joined().select("poly_id")),
            ("pipeline.aggregate_s", "group_by",
             lambda: joined().groupBy("poly_id").agg(F.count(F.lit(1)).alias("n_pages"))),
        ])


class NorthStar:
    """``plans.pipeline.run_north_star`` as an op: a fresh output directory
    per call, checked against the ``pip_counts`` oracle.  ``finish`` then
    loses a batch manifest of the last good output and resumes it."""

    def __init__(self, run: Run):
        self.run = run
        oracle = pd.read_parquet(os.path.join(run.args.oracle_dir, "pip_counts.parquet"))
        self.want = rows_digest(oracle.itertuples(index=False))
        self.outs: list[str] = []
        self.last: str | None = None  # output directory of the last good op

    def go(self):
        from whitebox_geospatial_analysis_tools_spark.plans.pipeline import run_north_star

        out = os.path.join(self.run.work, f"tiles-{len(self.outs)}")
        self.outs.append(out)
        return out, run_north_star(self.run.spark, self.run.args.data, out)

    def counts_problem(self, res) -> str | None:
        got = rows_digest(res["counts"])
        return None if got == self.want else f"per-polygon counts {got} != pip_counts oracle {self.want}"

    def check(self, value) -> str | None:
        out, res = value
        if res["summary"]["skipped_keys"]:
            return "fresh directory reported skipped keys"
        problem = self.counts_problem(res)
        if problem is None:
            self.last = out
        return problem

    def finish(self, warm_s: float) -> None:
        run = self.run
        if self.last is None:
            run.no_op("resume", "no north-star op succeeded, so there is nothing to resume")
        else:
            resume_lost_batch(run, self.last, self.counts_problem, warm_s)
        if run.args.trace:
            from whitebox_geospatial_analysis_tools_spark.functions.cells import with_cells
            from whitebox_geospatial_analysis_tools_spark.operators.spatial_join import pip_join
            from whitebox_geospatial_analysis_tools_spark.sources.pages import (
                points_from_documents,
            )

            spark = run.spark

            def pts():
                return with_cells(points_from_documents(spark, run.args.data))

            cols = ["doc_id", "tile_id", "tile_y", "cell7", "cell8", "cell9"]
            run.refine_ratio(pts(), "doc_id")
            run.ladder([
                ("cells.assign_s", "with_cells", lambda: pts().select(*cols, "lon", "lat")),
                ("spatial_join.pip_join_s", "pip_join",
                 lambda: pip_join(pts(), spark, keep=("doc_id",), how="left")
                 .select(*cols, "poly_id")),
            ])


def tile_write(run: Run) -> None:
    """The north-star job alone, repeated, then the lost-manifest resume."""
    ns = NorthStar(run)
    cold, _ = run.op("north_star", "lineage", ns.go, ns.check)
    warm = []
    t_end = time.time() + run.args.seconds
    for _ in run.until(t_end):
        warm.append(run.op("north_star", "lineage", ns.go, ns.check)[0])
    med = run.timing_summary("warm_op_s", warm)
    run.e2e["cold_pass_s"] = (cold, "s")
    run.e2e["warm_pass_s"] = (med, "s")
    ns.finish(med)


def tile_mix(run: Run) -> None:
    """Passes of the north-star job and the LAYER_MIX queries, then the
    lost-manifest resume."""
    ns = NorthStar(run)
    times = mix(run, LAYER_MIX, {"north_star": ("lineage", ns.go, ns.check)})
    ns.finish(statistics.median(times["north_star"][1:]))


def resume_lost_batch(run: Run, out: str, counts_problem, warm_s: float) -> None:
    """Delete one batch manifest of a finished output (the crash between
    data and manifest that plans/lineage.py documents), resume, and check that
    the table equals the uninterrupted run's."""
    from whitebox_geospatial_analysis_tools_spark.plans import lineage as L
    from whitebox_geospatial_analysis_tools_spark.plans.pipeline import run_north_star

    spark, data = run.spark, run.args.data
    table = os.path.join(out, L.DATA_DIR)
    before = table_digest(spark, table)
    lineage = L.read_lineage(spark, out).toPandas()
    batches = sorted(lineage.batch_id.unique())
    lost = batches[run.rng.randrange(len(batches))]
    ldir = os.path.join(out, L.LINEAGE_DIR)
    for f in os.listdir(ldir):
        if batch_of(os.path.join(ldir, f)) == lost:
            os.remove(os.path.join(ldir, f))

    lost_keys = sorted(int(k) for k in lineage.pkey[lineage.batch_id == lost])

    def check(res):
        if sorted(res["summary"]["written_keys"]) != lost_keys or res["summary"]["batches"] != 1:
            return f"resume did not redo exactly the lost batch {lost_keys}: {res['summary']}"
        if table_digest(spark, table) != before:
            return "resumed table differs from the uninterrupted run"
        return counts_problem(res)

    resume_s, _ = run.op("resume", "lineage", lambda: run_north_star(spark, data, out), check)
    in_bytes = os.path.getsize(os.path.join(data, "documents.parquet"))
    out_bytes = L._dir_bytes(table)
    run.layer["lineage.rows_written_per_s"] = (int(lineage.n_rows.sum()) / warm_s, "rows/s")
    run.layer["lineage.resume_s"] = (resume_s, "s")
    run.layer["lineage.stored_bytes_per_input_byte"] = (out_bytes / in_bytes, "ratio")
    run.layer["lineage.batches"] = (float(len(batches)), "count")
    run.layer["lineage.source_bytes"] = (float(in_bytes), "bytes")
    run.layer["lineage.output_bytes"] = (float(out_bytes), "bytes")
    run.detail["lost_batch"] = lost


def batch_of(path: str) -> str | None:
    """Batch id a lineage manifest file commits (None for other files)."""
    if not path.endswith(".parquet"):
        return None
    return pq.read_table(path, columns=["batch_id"]).column(0)[0].as_py()


def table_digest(spark, path: str) -> str:
    return digest(spark.read.parquet(path).toPandas())


def mix(run: Run, names: list[str], extra: dict | None = None) -> dict[str, list[float]]:
    """A pass runs every query of the mix once, in a seed-permuted order.
    The first pass is checked against the DuckDB oracles (outside the timed
    region); every later op must reproduce the verified row count and hash.
    ``extra`` maps the names of further ops, which are not registry queries,
    to (layer, fn, check).  Returns each op's times, pass by pass."""
    from check_queries import compare

    spark, data = run.spark, run.args.data
    extra = extra or {}
    verified: dict[str, str] = {}
    times: dict[str, list[float]] = {q: [] for q in [*names, *extra]}

    def one(q, first):
        if q in extra:
            layer, fn, check = extra[q]
            return run.op(q, layer, fn, check)[0]

        def go():
            return run.queries[q](spark, data).toPandas()

        def check(df):
            if first:
                verdict = compare(df, pd.read_parquet(f"{run.args.oracle_dir}/{q}.parquet"))
                if verdict != "OK":
                    return verdict
                verified[q] = digest(df)
                return None
            if q not in verified:
                return "query was never verified against its oracle"
            got = digest(df)
            return None if got == verified[q] else f"hash {got} != verified {verified[q]}"

        return run.op(q, OP_LAYER[q], go, check)[0]

    passes = []
    t_end = float("inf")
    for i in itertools.count():
        order = list(times)
        run.rng.shuffle(order)
        run.detail.setdefault("order", []).append(order)
        with run.tracer.span("pass", "mix", index=i):
            total = 0.0
            for q in order:
                dt = one(q, first=(i == 0))
                times[q].append(dt)
                total += dt
        passes.append(total)
        if i == 0:
            t_end = time.time() + run.args.seconds
        elif time.time() >= t_end:
            break
    run.e2e["cold_pass_s"] = (passes[0], "s")
    run.e2e["warm_pass_s"] = (run.timing_summary("warm_pass_s", passes[1:]), "s")
    run.detail["op_s"] = times  # with "order", each op's time pass by pass
    for q in (q for q in LAYER_MIX if q in names):
        run.layer[f"op.{q}.cold_s"] = (times[q][0], "s")
        run.layer[f"op.{q}.warm_s"] = (statistics.median(times[q][1:]), "s")
    return times


WORKLOADS = {
    "flagship_scan": flagship_scan,
    "geo_mix": lambda run: mix(run, GEO_MIX),
    "ann_dedup": lambda run: mix(run, ANN_DEDUP),
    "tile_write": tile_write,
    "tile_mix": tile_mix,
}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", required=True)
    ap.add_argument("--oracle-dir", required=True)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args()
    sys.path.insert(0, os.path.join(os.getcwd(), "tools"))  # check_queries

    run = Run(args)
    run.setup()
    WORKLOADS[args.workload](run)
    run.spark.stop()
    with open(args.out, "w") as f:
        json.dump({
            "attempted": run.attempted, "failed": run.failed,
            "end_to_end": run.e2e, "per_layer": run.layer,
            "detail": run.detail, "spans": run.tracer.spans,
        }, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
