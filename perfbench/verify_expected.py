"""Verify the flagship_scan result hashes against the pip_counts oracle and
write them to perfbench/expected.json.

  python3 perfbench/verify_expected.py        (from the repository root)

flagship_scan checks every op against a stored hash instead of running an
oracle over millions of pages per run.  This script makes those hashes: for
each page window the workload can pick, it computes the pages' geocode keys
(``abs(xxhash64(url)) % M`` over ``sources.pages.synth_pages``, the key the
flagship geocodes), runs the registry's DuckDB ``pip_counts`` oracle over them
in chunks, and adds the chunk counts up.  The oracle counts (doc_id, poly_id)
pairs, so each chunk holds distinct keys: the k-th page with a given key goes
into the k-th round of chunks.  Counts are additive over pages, so each larger
window reuses the counts of the smaller ones.
"""

from __future__ import annotations

import json
import os
import sys

import duckdb
import numpy as np
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
CHUNK = 250_000


def oracle_counts(con, sql: str, keys: np.ndarray) -> pd.Series:
    total = pd.Series(dtype="int64")
    rank = pd.Series(keys).groupby(keys).cumcount().to_numpy()
    for r in range(int(rank.max()) + 1 if len(keys) else 0):
        ks = keys[rank == r]
        for i in range(0, len(ks), CHUNK):
            documents = pd.DataFrame({"doc_id": ks[i:i + CHUNK]})  # noqa: F841 (read by SQL)
            con.register("documents", documents)
            got = con.sql(sql).df().set_index("poly_id")["n_pages"].astype("int64")
            total = total.add(got, fill_value=0).astype("int64")
            con.unregister("documents")
    return total


def main() -> int:
    root = os.getcwd()
    sys.path.insert(0, root)
    sys.path.insert(0, HERE)
    from pyspark.sql import functions as F

    import workload
    from whitebox_geospatial_analysis_tools_spark import queries as Q
    from whitebox_geospatial_analysis_tools_spark.functions import exprs
    from whitebox_geospatial_analysis_tools_spark.session import get_spark
    from whitebox_geospatial_analysis_tools_spark.sources.pages import synth_pages

    sql = Q.all_oracles()["pip_counts"]
    spark = get_spark(app="perfbench-verify", master=f"local[{len(os.sched_getaffinity(0))}]")
    con = duckdb.connect()
    expected = {}
    try:
        for scale, size in workload.SIZES.items():
            n0, step = size["flag_pages"], size["flag_step"]
            bounds = [n0 + w * step for w in range(workload.FLAG_WINDOWS)]
            pages = (synth_pages(spark, bounds[-1])
                     .select(F.regexp_extract("url", r"/p/(\d+)$", 1).cast("long").alias("id"),
                             (F.abs(F.xxhash64("url")) % exprs.M).alias("key"))
                     .toPandas().sort_values("id"))
            keys = pages["key"].to_numpy(np.int64)
            counts, lo = pd.Series(dtype="int64"), 0
            for n in bounds:
                counts = counts.add(oracle_counts(con, sql, keys[lo:n]), fill_value=0).astype("int64")
                lo = n
                expected[str(n)] = workload.rows_digest(counts.items())
                print(f"{scale}: n={n} polygons={len(counts)} hits={int(counts.sum())}", flush=True)
    finally:
        spark.stop()
        con.close()
    with open(os.path.join(HERE, "expected.json"), "w") as f:
        json.dump({"flagship_synthetic": expected}, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
