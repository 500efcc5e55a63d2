"""The benchmark's own test: every workload once, on tiny inputs.

  python3 perfbench/smoke.py [workload ...]      (from the repository root)

For each workload, runs ``run.py --smoke`` untraced and traced and asserts
that the last line is the result object, that every metric BENCHMARK.json
names is present with its unit, that the workload's own layers read
non-zero, that no op failed, and that no process the run started is still
running when run.py has returned.  Then checks that the benchmark refuses to
run, without printing a result, in a directory holding only BENCHMARK.json
and perfbench/.  Takes about twenty minutes on a 4-CPU host.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ["flagship_scan", "tile_mix", "tile_write", "geo_mix", "ann_dedup"]
# per-layer metrics that must be non-zero on each workload
OWN = {
    "flagship_scan": ["ladder.synth_pages_s", "ladder.group_by_s", "spatial_join.hit_rows",
                      "spatial_join.refine_pass_ratio", "flagship.pages_per_s",
                      "cells.executor_run_s", "spatial_join.executor_run_s"],
    "tile_write": ["lineage.batches", "lineage.output_bytes", "lineage.resume_s",
                   "lineage.rows_written_per_s", "lineage.stages", "spatial_join.hit_rows",
                   "cells.assign_s"],
    "geo_mix": ["op.flow_accum.warm_s", "op.convex_hull.cold_s", "hydro.stages",
                "vector.executor_run_s", "spatial_join.executor_run_s", "hydro.python_bytes"],
    "tile_mix": ["lineage.batches", "lineage.resume_s", "lineage.stages", "spatial_join.hit_rows",
                 "op.flow_accum.warm_s", "op.convex_hull.cold_s", "op.list_size_stats.warm_s",
                 "hydro.stages", "vector.executor_run_s", "simsearch.executor_cpu_s"],
    "ann_dedup": ["op.list_size_stats.cold_s", "simsearch.stages", "simsearch.executor_cpu_s"],
}
COMMON = ["session.start_s", "spatial_join.index_build_s", "host.alu_mops",
          "trace.overhead_ratio", "peak_rss_mb"]


def run(cwd: str, *args: str) -> tuple[int, str]:
    p = subprocess.run([sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
                       cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True, timeout=600)
    return p.returncode, p.stdout


def in_root(root: str) -> dict[int, str]:
    """Processes, other than this one and its ancestors, whose working
    directory is in ``root`` (pid -> command line): every process a run
    starts (the workload, the driver JVM, Spark's Python workers, the ALU
    control) works there."""
    mine, pid = set(), os.getpid()
    while pid > 1:
        mine.add(pid)
        with open(f"/proc/{pid}/stat") as f:
            pid = int(f.read().rsplit(")", 1)[1].split()[1])
    found = {}
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            cwd = os.readlink(f"/proc/{pid}/cwd")
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read().replace(b"\0", b" ").decode(errors="replace")[:120]
        except OSError:
            continue
        if int(pid) not in mine and (cwd == root or cwd.startswith(root + os.sep)):
            found[int(pid)] = cmd
    return found


def check(root: str, spec: dict, workload: str, trace: int) -> list[str]:
    before = in_root(root)
    code, out = run(root, "--workload", workload, "--seed", "7", "--seconds", "1",
                    "--trace", str(trace), "--smoke")
    errs = [f"left running: {p} {c}" for p, c in in_root(root).items() if p not in before]
    if code != 0:
        return [f"{workload} trace={trace}: {e}" for e in [f"exit code {code}", *errs]]
    res = json.loads(out.strip().splitlines()[-1])
    if sorted(res) != ["attempted", "correct", "failed", "metrics"]:
        errs.append(f"keys {sorted(res)}")
    if res.get("failed") != 0 or res.get("correct") is not True or res.get("attempted", 0) < 1:
        errs.append(f"correct={res.get('correct')} failed={res.get('failed')}")
    wanted = spec["per_layer" if trace else "end_to_end"]
    got = res.get("metrics", {})
    if sorted(got) != sorted(m["name"] for m in wanted):
        errs.append(f"metric names differ: {set(got) ^ {m['name'] for m in wanted}}")
    for m in wanted:
        g = got.get(m["name"], {})
        if g.get("unit") != m["unit"] or not isinstance(g.get("value"), (int, float)):
            errs.append(f"{m['name']}: {g}")
    must = (OWN[workload] + COMMON) if trace else [m["name"] for m in wanted]
    errs += [f"{n} reads 0" for n in must if not got.get(n, {}).get("value")]
    return [f"{workload} trace={trace}: {e}" for e in errs]


def bare_dir_refuses(root: str) -> list[str]:
    bare = os.path.join(root, ".bench_build", "perfbench-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(root, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    code, out = run(bare, "--workload", "flagship_scan", "--seed", "1", "--seconds", "1",
                    "--trace", "0")
    shutil.rmtree(bare)
    if code == 0 or '"metrics"' in out:
        return [f"bare directory: exit code {code}, printed {out[-200:]!r}"]
    return []


def main() -> int:
    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    errs = bare_dir_refuses(root)
    for w in sys.argv[1:] or WORKLOADS:
        for trace in (0, 1):
            errs += check(root, spec, w, trace)
            print(f"{w} trace={trace} done", flush=True)
    for e in errs:
        print("FAIL", e)
    print("smoke: ok" if not errs else f"smoke: {len(errs)} problems")
    return 1 if errs else 0


if __name__ == "__main__":
    sys.exit(main())
