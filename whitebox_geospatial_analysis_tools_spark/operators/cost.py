"""Cost-distance accumulation (GISTools/src/plugins/CostAccumulation.java,
635): least accumulated cost from any source cell over the 8-connected
grid, step cost = (cost(u) + cost(v)) / 2 * dist (diagonals sqrt(2)) — the
reference's cell-to-cell cost model.

Distributed formulation: the same iterative tile-local pattern as
priority-flood filling (operators/hydro.py fill_depressions): sources start
at 0, everything else +inf; each round ships 1-cell halo strips of the
current estimates and re-runs a sequential Dijkstra per tile given those
boundary values.  Estimates decrease monotonically to the global shortest
path in O(tile-graph diameter) rounds; lineage cut per round with
localCheckpoint.  Both engines accumulate each path's sum in path order, so
values match the oracle's Jacobi relaxation bit-for-bit (round 6 guards the
min over float-tied paths).
"""

from __future__ import annotations

import heapq

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import condense

_SQRT2 = 1.4142135623730951
_OFFS8 = [(-1, -1), (-1, 0), (-1, 1), (0, -1), (0, 1), (1, -1), (1, 0), (1, 1)]
INF = float("inf")


_NOSRC = np.int64(2) ** 62  # allocation sentinel for unreached cells


def cost_distance(cells: DataFrame, *, tile: int = 256,
                  max_rounds: int = 64, alloc: bool = False) -> DataFrame:
    """cells: (row, col, cost, is_src boolean) — non-nodata cells.

    Returns (row, col, cdist): least accumulated cost to any source.
    With alloc=True also returns `alloc` = the flat id (row*1e6+col) of the
    winning source (CostAllocation.java semantics); ties between sources at
    EXACTLY equal accumulated cost break to the smaller source id — the
    Dijkstra runs in the lexicographic (cost, source) min-semiring so the
    label is deterministic and matches the oracle's struct-min relaxation."""
    spark = cells.sparkSession
    state = cells.select(
        "row", "col", "cost",
        F.when(F.col("is_src"), F.lit(0.0)).otherwise(F.lit(INF)).alias("cdist"),
        F.when(
            F.col("is_src"), F.col("row") * F.lit(1_000_000) + F.col("col")
        ).otherwise(F.lit(int(_NOSRC))).alias("alloc"),
        (F.col("row") / tile).cast("long").alias("_tr"),
        (F.col("col") / tile).cast("long").alias("_tc"),
    ).persist()
    state.count()

    offs_arr = F.array(*[
        F.struct(F.lit(dr).alias("dr"), F.lit(dc).alias("dc")) for dr, dc in _OFFS8
    ])
    schema = ("row long, col long, cost double, cdist double, alloc long, "
              "changed int, _tr long, _tc long")

    def kernel(key, pdf: pd.DataFrame) -> pd.DataFrame:
        tr, tc = int(key[0]), int(key[1])
        r0, c0 = tr * tile, tc * tile
        own_mask = ~pdf["is_ext"].to_numpy()
        own = pdf[own_mask]
        if own.empty:
            return pd.DataFrame({
                "row": pd.Series([], dtype="int64"),
                "col": pd.Series([], dtype="int64"),
                "cost": pd.Series([], dtype="float64"),
                "cdist": pd.Series([], dtype="float64"),
                "alloc": pd.Series([], dtype="int64"),
                "changed": pd.Series([], dtype="int32"),
                "_tr": pd.Series([], dtype="int64"),
                "_tc": pd.Series([], dtype="int64"),
            })
        lr = pdf["row"].to_numpy(np.int64) - r0 + 1
        lc = pdf["col"].to_numpy(np.int64) - c0 + 1
        H = W = tile + 2
        cost = np.full((H, W), np.nan)
        dist = np.full((H, W), INF)
        srcl = np.full((H, W), _NOSRC, dtype=np.int64)
        is_own = np.zeros((H, W), dtype=bool)
        cost[lr, lc] = pdf["cost"].to_numpy(np.float64)
        dist[lr, lc] = pdf["cdist"].to_numpy(np.float64)
        srcl[lr, lc] = pdf["alloc"].to_numpy(np.int64)
        is_own[lr, lc] = own_mask
        old = dist.copy()
        olds = srcl.copy()
        heap = [
            (dist[r, c], int(srcl[r, c]), int(r), int(c))
            for r, c in zip(*np.nonzero(~np.isnan(cost)))
            if dist[r, c] < INF
        ]
        heapq.heapify(heap)
        while heap:
            d, s, r, c = heapq.heappop(heap)
            if (d, s) > (dist[r, c], srcl[r, c]):
                continue
            for dr, dc in _OFFS8:
                nr, nc = r + dr, c + dc
                if 0 <= nr < H and 0 <= nc < W and is_own[nr, nc]:
                    step = (cost[r, c] + cost[nr, nc]) / 2.0
                    if dr != 0 and dc != 0:
                        step = step * _SQRT2
                    nd = d + step
                    if (nd, s) < (dist[nr, nc], srcl[nr, nc]):
                        dist[nr, nc] = nd
                        srcl[nr, nc] = s
                        heapq.heappush(heap, (nd, s, nr, nc))
        orr = own["row"].to_numpy(np.int64)
        occ = own["col"].to_numpy(np.int64)
        nf = dist[orr - r0 + 1, occ - c0 + 1]
        ns = srcl[orr - r0 + 1, occ - c0 + 1]
        chg = (
            (nf < old[orr - r0 + 1, occ - c0 + 1])
            | ((nf == old[orr - r0 + 1, occ - c0 + 1])
               & (ns < olds[orr - r0 + 1, occ - c0 + 1]))
        ).astype(np.int32)
        return pd.DataFrame({
            "row": orr, "col": occ,
            "cost": own["cost"].to_numpy(np.float64),
            "cdist": nf, "alloc": ns, "changed": chg,
            "_tr": np.full(len(orr), tr, dtype=np.int64),
            "_tc": np.full(len(orr), tc, dtype=np.int64),
        })

    on_border = (
        (F.col("row") % tile == 0) | (F.col("row") % tile == tile - 1)
        | (F.col("col") % tile == 0) | (F.col("col") % tile == tile - 1)
    )
    for _ in range(max_rounds):
        own = state.drop("changed").withColumn("is_ext", F.lit(False))
        halo = (
            state.where(on_border)
            .withColumn("_o", F.explode(offs_arr))
            .withColumn("_ntr", ((F.col("row") + F.col("_o.dr")) / tile).cast("long"))
            .withColumn("_ntc", ((F.col("col") + F.col("_o.dc")) / tile).cast("long"))
            .where((F.col("_ntr") != F.col("_tr")) | (F.col("_ntc") != F.col("_tc")))
            .select(
                "row", "col", "cost", "cdist", "alloc",
                F.col("_ntr").alias("_tr"), F.col("_ntc").alias("_tc"),
                F.lit(True).alias("is_ext"),
            )
        )
        new_state = (
            own.unionByName(halo, allowMissingColumns=True)
            .groupBy("_tr", "_tc")
            .applyInPandas(kernel, schema)
            .localCheckpoint()  # cut per-round lineage (fill_depressions lesson)
        )
        n_changed = new_state.agg(F.sum("changed")).collect()[0][0] or 0
        state.unpersist()
        state = new_state
        if n_changed == 0:
            break
    else:
        raise RuntimeError("cost_distance did not converge; raise max_rounds")
    if alloc:
        return state.select("row", "col", "cdist", "alloc")
    return state.select("row", "col", "cdist")


def cost_allocation(cells: DataFrame, *, tile: int = 256,
                    max_rounds: int = 64) -> DataFrame:
    """(row, col, alloc): nearest-by-accumulated-cost source per cell
    (GISTools/src/plugins/CostAllocation.java:311)."""
    return cost_distance(cells, tile=tile, max_rounds=max_rounds, alloc=True)


def cost_pathway(cells: DataFrame, dests: DataFrame, *, tile: int = 256,
                 max_rounds: int = 64) -> DataFrame:
    """(row, col): cells on the least-cost path from each destination back
    to its source (GISTools/src/plugins/CostPathway.java:277).

    Backtrace pointer per cell: pred(c) = argmin over 8-neighbors n of
    struct(cdist(n) + step(n, c), nr, nc) — by construction the minimum
    equals cdist(c) exactly (it is the winning relaxation), so the chain
    strictly descends to a source (cdist = 0).  The pointer table collects
    to the driver under the usual guard (paths are output-sized); beyond it
    the walk runs as frontier rounds over a walker-sized frame."""
    acc = cost_distance(cells, tile=tile, max_rounds=max_rounds)
    base = cells.select("row", "col", "cost").join(acc, ["row", "col"])
    offs_arr = F.array(*[
        F.struct(F.lit(dr).alias("dr"), F.lit(dc).alias("dc")) for dr, dc in _OFFS8
    ])
    nb = base.select(
        F.col("row").alias("_nr2"), F.col("col").alias("_nc2"),
        F.col("cost").alias("_ncost"), F.col("cdist").alias("_ncd"),
    )
    cand = (
        base.withColumn("_o", F.explode(offs_arr))
        .select(
            "row", "col", "cost", "cdist",
            (F.col("row") + F.col("_o.dr")).alias("_nr2"),
            (F.col("col") + F.col("_o.dc")).alias("_nc2"),
        )
        .join(nb, ["_nr2", "_nc2"], "inner")
        .withColumn(
            "_step",
            (F.col("_ncost") + F.col("cost")) / 2.0
            * F.when(
                (F.col("_nr2") != F.col("row")) & (F.col("_nc2") != F.col("col")),
                F.lit(_SQRT2),
            ).otherwise(F.lit(1.0)),
        )
    )
    pred = (
        cand.groupBy("row", "col", "cdist")
        .agg(F.min(F.struct(
            (F.col("_ncd") + F.col("_step")).alias("d"),
            F.col("_nr2").alias("r"), F.col("_nc2").alias("c"),
        )).alias("_b"))
        .select(
            "row", "col", "cdist",
            F.col("_b.r").alias("pr"), F.col("_b.c").alias("pc"),
        )
    )
    head = pred.limit(condense._MAX_DRIVER_ROWS + 1).toPandas()
    dpd = dests.select("row", "col").toPandas()
    if len(head) <= condense._MAX_DRIVER_ROWS:
        ptr = {
            (int(r), int(c)): (float(d), (int(pr), int(pc)))
            for r, c, d, pr, pc in zip(
                head["row"], head["col"], head["cdist"], head["pr"], head["pc"]
            )
        }
        marked: set[tuple[int, int]] = set()
        for r, c in zip(dpd["row"], dpd["col"]):
            cur = (int(r), int(c))
            while cur in ptr and cur not in marked:
                marked.add(cur)
                d, nxt = ptr[cur]
                if d <= 0.0:
                    break
                cur = nxt
        spark = cells.sparkSession
        rows = sorted(marked)
        return spark.createDataFrame(rows, "row long, col long").orderBy("row", "col")
    # distributed fallback: frontier rounds (walker-sized frames)
    spark = cells.sparkSession
    frontier = dests.select("row", "col").localCheckpoint()
    out = frontier
    for _ in range(100_000):
        nxt = (
            frontier.join(pred, ["row", "col"], "inner")
            .where(F.col("cdist") > 0.0)
            .select(F.col("pr").alias("row"), F.col("pc").alias("col"))
            .join(out, ["row", "col"], "left_anti")
            .localCheckpoint()
        )
        if nxt.limit(1).count() == 0:
            break
        out = out.unionByName(nxt).localCheckpoint()
        frontier = nxt
    else:
        raise RuntimeError("cost_pathway walk exceeded round cap")
    return out.orderBy("row", "col")
