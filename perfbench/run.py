"""Benchmark entry point: one workload, one fresh process, one JSON result.

  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root.  Workloads: flagship_scan and tile_mix, which
BENCHMARK.json lists, and tile_write, geo_mix and ann_dedup, run by hand
(see perfbench/README.md).  The seed changes only the generated work: the
page window (flagship_scan), the lost batch (tile_write, tile_mix), the
query order (the mixes).

Steps: build the input tables and the DuckDB oracle answers once per checkout
(under .bench_build/), record host context (nproc, load average before and
after, an ALU control of nproc processes), then run perfbench/workload.py in a
fresh process on local[nproc] while sampling the resident memory of that
process and all its children (driver JVM, Python workers) from /proc.

The last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0`` the
metrics are BENCHMARK.json's end_to_end list; with ``--trace 1`` Spark's event
log is enabled from outside the package (PYSPARK_SUBMIT_ARGS) and the metrics
are the per_layer list.  Lines before it are for people: host context,
quartiles and sample counts, and the workload's own numbers.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
PACKAGE = "whitebox_geospatial_analysis_tools_spark"
RUN_LIMIT_S = 165  # workload processes are killed after this; a run must end within 180 s
NPROC = len(os.sched_getaffinity(0))  # what nproc prints
sys.path.insert(0, HERE)

import hostctx  # noqa: E402


def fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def contract(root: str) -> dict:
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return json.load(f)


def build_inputs(root: str, smoke: bool) -> str:
    """Input tables, generated once per checkout.  The directory name hashes
    the generator's source and sizes, so a changed generator rebuilds."""
    import datagen
    import workload

    size = workload.SIZES["smoke" if smoke else "bench"]
    with open(datagen.__file__, "rb") as f:
        key = hashlib.sha1(f.read() + repr(size).encode()).hexdigest()[:12]
    data = os.path.join(root, ".bench_build", "perfbench", f"data-{key}")
    if not os.path.isdir(data):
        tmp = data + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        datagen.write_tables(tmp, size["docs"], size["vecs"])
        os.rename(tmp, data)
    return data


def build_oracles(root: str, data: str, names: list[str]) -> str:
    """DuckDB oracle answers for ``names`` over ``data``, computed once per
    checkout and stored as parquet.  The directory name hashes the oracle SQL,
    so a changed oracle is recomputed."""
    import duckdb

    sys.path.insert(0, os.path.join(root, "tools"))
    sys.path.insert(0, root)
    from check_queries import TABLES

    from whitebox_geospatial_analysis_tools_spark import queries as Q

    sql = Q.all_oracles()
    key = hashlib.sha1("\0".join(f"{n}\0{sql[n]}" for n in names).encode()).hexdigest()[:12]
    out = os.path.join(data, f"oracle-{key}")
    if os.path.isdir(out):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(data, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    for n in names:
        con.sql(sql[n]).df().to_parquet(os.path.join(tmp, f"{n}.parquet"))
    con.close()
    os.rename(tmp, out)
    return out


def oracle_names(name: str) -> list[str]:
    import workload

    return {"geo_mix": workload.GEO_MIX, "ann_dedup": workload.ANN_DEDUP,
            "tile_mix": [*workload.LAYER_MIX, "pip_counts"], "tile_write": ["pip_counts"]}.get(name, [])


def run_child(root: str, args, data: str, oracles: str, traced: bool,
              deadline: float) -> tuple[dict | None, float]:
    """Run the workload in a fresh process, killed if it is still running at
    ``deadline``; returns (result, peak RSS in MB)."""
    rundir = os.path.join(root, ".bench_build", "perfbench", "run")
    shutil.rmtree(rundir, ignore_errors=True)
    for d in ("spark-local", "tmp", "out", "eventlog"):
        os.makedirs(os.path.join(rundir, d))
    tmp = os.path.join(rundir, "tmp")
    submit = [f"--driver-java-options=-Djava.io.tmpdir={tmp}"]
    if traced:
        submit += ["--conf", "spark.eventLog.enabled=true",
                   "--conf", f"spark.eventLog.dir=file://{rundir}/eventlog",
                   "--conf", "spark.eventLog.compress=false",
                   "--conf", "spark.eventLog.rolling.enabled=false"]
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": root,
        "SPARK_GRAFT_CPUS": str(NPROC),
        "SPARK_LOCAL_DIRS": os.path.join(rundir, "spark-local"),
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_SUBMIT_ARGS": " ".join(submit + ["pyspark-shell"]),
        "PERFBENCH_T0": repr(time.time()),
    })
    result = os.path.join(rundir, "result.json")
    cmd = [sys.executable, os.path.join(HERE, "workload.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(int(traced)),
           "--data", data, "--oracle-dir", oracles, "--run-dir", rundir, "--out", result]
    if args.smoke:
        cmd.append("--smoke")
    proc = subprocess.Popen(cmd, cwd=root, env=env, stdout=sys.stderr,
                            start_new_session=True, preexec_fn=hostctx.die_with_parent)
    sampler = hostctx.RssSampler(proc.pid)
    thread = threading.Thread(target=sampler.run, daemon=True)
    thread.start()
    code = None
    try:
        code = proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        pass
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sampler.stop()
        thread.join()
        # the JVM and Python workers end after the workload process; wait for
        # them (at once kill them if the workload did not end by itself)
        hostctx.stop_descendants(grace=10.0 if code is not None else 0.0)
    if code != 0 or not os.path.exists(result):
        print(f"perfbench: workload process ended with {code}", file=sys.stderr)
        return None, sampler.peak_mb
    with open(result) as f:
        res = json.load(f)
    res["eventlog"] = os.path.join(rundir, "eventlog")
    return res, sampler.peak_mb


def source_key(root: str) -> str:
    """Hash of the package's and the benchmark's sources: readings kept
    across runs are only compared between runs of the same code."""
    h = hashlib.sha1()
    for top in (PACKAGE, "perfbench"):
        for d, dirs, files in sorted(os.walk(os.path.join(root, top))):
            dirs.sort()
            for name in sorted(files):
                if name.endswith((".py", ".json")):
                    h.update(os.path.relpath(os.path.join(d, name), root).encode())
                    with open(os.path.join(d, name), "rb") as f:
                        h.update(f.read())
    return h.hexdigest()[:12]


def untraced_history(root: str, args) -> str:
    """Untraced warm_pass_s readings of this workload and this code, the base
    of the tracing overhead."""
    name = f"untraced-{args.workload}{'-smoke' if args.smoke else ''}-{source_key(root)}.json"
    return os.path.join(root, ".bench_build", "perfbench", name)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs (the benchmark's own test, see smoke.py)")
    args = ap.parse_args()
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, PACKAGE)):
        return fail(f"run from the repository root: no {PACKAGE}/ in {root}")
    import workload

    if args.workload not in workload.WORKLOADS:
        return fail(f"unknown workload {args.workload!r}")
    spec = contract(root)
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    data = build_inputs(root, args.smoke)
    oracles = build_oracles(root, data, oracle_names(args.workload))
    deadline = time.time() + RUN_LIMIT_S  # building inputs is not counted
    host = {"host.nproc": (float(NPROC), "count"),
            "host.load_before": (os.getloadavg()[0], "load")}
    host["host.alu_mops"] = (hostctx.alu_control(NPROC), "Mops/s")

    hist_path = untraced_history(root, args)
    history = []
    if os.path.exists(hist_path):
        with open(hist_path) as f:
            history = json.load(f)
    if args.trace and not history:
        # the tracing overhead needs an untraced reading of this workload and
        # this code; a short one (each workload's minimum of warm ops), so
        # that both processes end within the run's time limit
        short = argparse.Namespace(**{**vars(args), "seconds": 1})
        res, _ = run_child(root, short, data, oracles, traced=False, deadline=deadline)
        if res is None:
            return 1
        history.append(res["end_to_end"]["warm_pass_s"][0])
    res, peak_mb = run_child(root, args, data, oracles, traced=bool(args.trace),
                            deadline=deadline)
    host["host.load_after"] = (os.getloadavg()[0], "load")
    if res is None:
        return 1

    e2e = dict(res["end_to_end"])
    layer = dict(res["per_layer"])
    layer.update(host)
    layer["peak_rss_mb"] = (peak_mb, "MB")
    layer["op_fail_ratio"] = (res["failed"] / max(1, res["attempted"]), "ratio")
    if args.trace:
        import eventlog

        log = eventlog.EventLog().read_dir(res["eventlog"])
        layer.update(eventlog.layer_metrics(log, res["spans"], workload.UNIT_SPAN[args.workload]))
        layer["trace.warm_pass_s"] = (e2e["warm_pass_s"][0], "s")
        layer["trace.overhead_ratio"] = (e2e["warm_pass_s"][0] / statistics.median(history), "ratio")
    else:
        history.append(e2e["warm_pass_s"][0])
    os.makedirs(os.path.dirname(hist_path), exist_ok=True)
    with open(hist_path, "w") as f:
        json.dump(history[-50:], f)

    have = layer if args.trace else e2e
    metrics, missing = {}, []
    for m in wanted:
        # a per-layer metric of a layer this workload does not run reads 0
        value, unit = have.get(m["name"], (0.0, m["unit"]) if args.trace else (None, None))
        if unit != m["unit"]:
            missing.append(m["name"])
        else:
            metrics[m["name"]] = {"value": value, "unit": unit}
    print(json.dumps({"workload": args.workload, "seed": args.seed, "trace": args.trace,
                      "host": {k: v[0] for k, v in host.items()},
                      "detail": res["detail"],
                      "end_to_end": {k: v[0] for k, v in e2e.items()},
                      "workload_metrics": {k: v[0] for k, v in layer.items()
                                           if k.split(".")[0] in ("flagship", "lineage")
                                           or k in ("peak_rss_mb", "op_fail_ratio")}}))
    if missing:
        return fail(f"metrics missing or with another unit: {missing}")
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


def _terminate(signum, frame):
    raise SystemExit(128 + signum)


if __name__ == "__main__":
    # every process this run starts is stopped, and waited for, on every way
    # out of it: a normal end, an error, SIGTERM or SIGINT
    hostctx.become_subreaper()
    signal.signal(signal.SIGTERM, _terminate)
    signal.signal(signal.SIGINT, _terminate)
    try:
        code = main()
    finally:
        hostctx.stop_descendants(grace=0.0)
    sys.exit(code)
