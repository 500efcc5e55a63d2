"""Hydrology slice: D8 flow pointer, flow accumulation, watershed, streams.

Reference semantics (SURVEY.md §2.12):
  FlowPointerD8   HydroTools/src/plugins/FlowPointerD8.java (307) — each
                  cell points to the steepest-descent neighbor of 8, drop
                  divided by distance (diagonals /sqrt(2)); power-of-two
                  direction codes, decoded log2 (FlowAccumD8.java:291-293).
  FlowAccumD8     HydroTools/src/plugins/FlowAccumD8.java (416) — number of
                  cells draining through each cell (incl. itself), computed
                  there by sequential upstream-count scheduling
                  (FlowAccumD8.java:282-330).
  Watershed       HydroTools/src/plugins/Watershed.java — label = terminal
                  pit each cell drains to.
  ExtractStreams  StreamNetworkAnalysisTools/src/plugins/ExtractStreams.java
                  (283) — accumulation >= threshold.

Distributed formulation (round-2 rebuild, replacing the O(path^2)
transitive-closure doubling of round 1 — VERDICT wrong-list #1):

  phase 1  one ``applyInPandas`` per tile runs the reference's own
           sequential upstream-count scheduling (vectorized Kahn wavefronts
           in numpy) with EXTERNAL INFLOW = 0, and emits
             - the tile-local accumulation per cell,
             - every cross-tile edge (source cell, destination cell, local
               mass), and
             - per border cell: where its within-tile flow path EXITS the
               tile (or the pit it terminates at) — via pointer jumping.
  phase 2  the condensed inflow graph lives on entry cells only (targets of
           cross-tile edges — O(N / tile) rows, the grid-graph analogue of a
           √N boundary): a functional DAG where each entry's mass forwards
           to exactly one downstream entry.  condense.graph_masses solves
           it and picks the tier itself: Kahn's algorithm on the driver
           under its guard, recursive super-tile condensation past it.
           When no flow crosses a tile edge, phase 1 is the answer.
  phase 3  entry masses join back; the SAME tile kernel reruns with
           per-cell weight = 1 + external inflow, giving exact global
           accumulation.  Total: 2 Spark passes, independent of flow-path
           length — O(V) state instead of O(Σ path²) closure pairs.

Watershed labels and flowpath lengths need one pass: each exiting path
takes its entry cell's terminal and remaining length from
condense.chase_paths (driver chase under its guard, path doubling past it).

Direction codes here are 2^j over the fixed neighbor order
(NW,N,NE,W,E,SW,S,SE); j differs from the reference's rosette layout but the
induced forest is identical up to that relabeling (tie-break: first maximum
in the fixed order, mirroring the reference's scan-order tie behavior).
"""

from __future__ import annotations

from types import SimpleNamespace

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import _scratch, condense
from .raster import NODATA, _assemble_pad, _halo_contributions

_SQRT2 = 1.4142135623730951
# neighbor order NW N NE W E SW S SE -> (dr, dc, dist)
D8_OFFS = [
    (-1, -1, _SQRT2), (-1, 0, 1.0), (-1, 1, _SQRT2),
    (0, -1, 1.0), (0, 1, 1.0),
    (1, -1, _SQRT2), (1, 0, 1.0), (1, 1, _SQRT2),
]
_D8_DR = np.array([o[0] for o in D8_OFFS], dtype=np.int64)
_D8_DC = np.array([o[1] for o in D8_OFFS], dtype=np.int64)

TILE = 256


def flow_pointer_d8(tiles: DataFrame) -> DataFrame:
    """(row, col, code): code = 2^j toward the steepest positive drop-rate
    neighbor, 0 for pits/flats, nodata cells omitted."""
    schema = "row long, col long, code long"

    def kernel(key, pdf: pd.DataFrame) -> pd.DataFrame:
        asm = _assemble_pad(pdf)
        if asm is None:
            return pd.DataFrame({
                "row": pd.Series([], dtype="int64"),
                "col": pd.Series([], dtype="int64"),
                "code": pd.Series([], dtype="int64"),
            })
        c, pad = asm
        h, w = int(c.h), int(c.w)
        centerv = pad[1:h + 1, 1:w + 1]
        best_rate = np.full((h, w), 0.0)
        best_j = np.full((h, w), -1)
        for j, (dr, dc, dist) in enumerate(D8_OFFS):
            nb = pad[1 + dr:1 + dr + h, 1 + dc:1 + dc + w]
            with np.errstate(invalid="ignore"):
                rate = (centerv - nb) / dist
            rate = np.where(np.isnan(rate), -np.inf, rate)
            take = rate > best_rate  # strict >: first max in order wins ties
            best_rate = np.where(take, rate, best_rate)
            best_j = np.where(take, j, best_j)
        code = np.where(best_j >= 0, 2 ** np.maximum(best_j, 0), 0)
        valid = ~np.isnan(centerv)
        rows, cols_ = np.nonzero(valid)
        return pd.DataFrame({
            "row": int(c.row0) + rows,
            "col": int(c.col0) + cols_,
            "code": code[rows, cols_].astype(np.int64),
        })

    contrib = _halo_contributions(tiles)
    return contrib.groupBy("dst_row", "dst_col").applyInPandas(kernel, schema)


RHO8_A, RHO8_C, RHO8_M = 2654435761, 987654321, 2147483648


def flow_pointer_rho8(tiles: DataFrame) -> DataFrame:
    """Rho8 stochastic pointer (HydroTools/src/plugins/FlowPointerRho8.java,
    Fairfield & Leymarie 1991): diagonal drop rates divide by (2 - rho)
    instead of sqrt(2), breaking the D8 grid bias.  The reference draws rho
    uniform at random; here rho is a deterministic per-cell LCG value
    (shared with the SQL oracle), the engine's standard determinization."""
    schema = "row long, col long, code long"

    def kernel(key, pdf: pd.DataFrame) -> pd.DataFrame:
        asm = _assemble_pad(pdf)
        if asm is None:
            return pd.DataFrame({
                "row": pd.Series([], dtype="int64"),
                "col": pd.Series([], dtype="int64"),
                "code": pd.Series([], dtype="int64"),
            })
        c, pad = asm
        h, w = int(c.h), int(c.w)
        centerv = pad[1:h + 1, 1:w + 1]
        gr = int(c.row0) + np.arange(h, dtype=np.int64)[:, None]
        gc = int(c.col0) + np.arange(w, dtype=np.int64)[None, :]
        u = ((gr * 1_000_003 + gc) * RHO8_A + RHO8_C) % RHO8_M
        rho = u.astype(np.float64) / RHO8_M
        best_rate = np.full((h, w), 0.0)
        best_j = np.full((h, w), -1)
        for j, (dr, dc, dist) in enumerate(D8_OFFS):
            nb = pad[1 + dr:1 + dr + h, 1 + dc:1 + dc + w]
            div = (2.0 - rho) if dist != 1.0 else 1.0
            with np.errstate(invalid="ignore"):
                rate = (centerv - nb) / div
            rate = np.where(np.isnan(rate), -np.inf, rate)
            take = rate > best_rate
            best_rate = np.where(take, rate, best_rate)
            best_j = np.where(take, j, best_j)
        code = np.where(best_j >= 0, 2 ** np.maximum(best_j, 0), 0)
        valid = ~np.isnan(centerv)
        rows, cols_ = np.nonzero(valid)
        return pd.DataFrame({
            "row": int(c.row0) + rows,
            "col": int(c.col0) + cols_,
            "code": code[rows, cols_].astype(np.int64),
        })

    contrib = _halo_contributions(tiles)
    return contrib.groupBy("dst_row", "dst_col").applyInPandas(kernel, schema)


def snap_pour_points(pour: DataFrame, acc: DataFrame, *, radius: int = 3) -> DataFrame:
    """SnapPourPoints (HydroTools/src/plugins/SnapPourPoints.java:407): move
    each pour point to the maximum-accumulation cell inside its snap window
    (arg-max window join; tie-break max accum, then min row, min col).

    pour: (pp_id, row, col); acc: (row, col, accum).
    Returns (pp_id, srow, scol, accum)."""
    cand = (
        pour.select(F.col("pp_id"), F.col("row").alias("_pr"), F.col("col").alias("_pc"))
        .withColumn("_dy", F.explode(F.sequence(F.lit(-radius), F.lit(radius))))
        .withColumn("_dx", F.explode(F.sequence(F.lit(-radius), F.lit(radius))))
        .select(
            "pp_id",
            (F.col("_pr") + F.col("_dy")).alias("row"),
            (F.col("_pc") + F.col("_dx")).alias("col"),
        )
        .join(acc, ["row", "col"], "inner")
    )
    return (
        cand.groupBy("pp_id")
        .agg(F.expr(
            "max_by(struct(row, col, accum), struct(accum, -row, -col))"
        ).alias("_b"))
        .select(
            "pp_id", F.col("_b.row").alias("srow"), F.col("_b.col").alias("scol"),
            F.col("_b.accum").alias("accum"),
        )
        .orderBy("pp_id")
    )


def stream_link_slope(pointers: DataFrame, dem_cells: DataFrame,
                      threshold: int = 5, *, tile: int = TILE) -> DataFrame:
    """StreamLinkSlope (StreamNetworkAnalysisTools StreamLinkSlope.java:396):
    per-link slope = elevation range along the link / link length (junction-
    cut links, same labeling as stream_network); single-cell links get 0.

    dem_cells: (row, col, v).  Returns (link, link_slope)."""
    from .clump import components_from_edges

    spark = pointers.sparkSession
    _scratch.release(spark, "linkslope")
    pointers = _scratch.track(spark, pointers.persist(), "linkslope")
    acc = flow_accum(pointers, tile=tile)
    stream = _scratch.track(
        spark,
        acc.where(F.col("accum") >= threshold).select("row", "col").persist(),
        "linkslope",
    )
    dr = F.expr("element_at(array(-1,-1,-1,0,0,1,1,1), CAST(log2(code) AS INT) + 1)")
    dc = F.expr("element_at(array(-1,0,1,-1,1,-1,0,1), CAST(log2(code) AS INT) + 1)")
    sd = (
        stream.join(pointers, ["row", "col"], "inner")
        .where(F.col("code") > 0)
        .select("row", "col",
                (F.col("row") + dr).alias("nr"), (F.col("col") + dc).alias("nc"))
    )
    st_t = stream.select(F.col("row").alias("nr"), F.col("col").alias("nc"))
    sedge = sd.join(st_t, ["nr", "nc"], "left_semi")
    junc = (
        sedge.groupBy("nr", "nc").agg(F.count(F.lit(1)).alias("_n"))
        .where(F.col("_n") >= 2).select("nr", "nc")
    )
    kept = sedge.join(junc, ["nr", "nc"], "left_anti")
    lab = components_from_edges(stream, kept, tile=tile)
    dist = F.when((F.col("row") != F.col("nr")) & (F.col("col") != F.col("nc")),
                  F.lit(_SQRT2)).otherwise(F.lit(1.0))
    length = (
        kept.join(lab, ["row", "col"], "inner")
        .groupBy("label").agg(F.sum(dist).alias("_len"))
    )
    elev = (
        lab.join(dem_cells.select("row", "col", "v"), ["row", "col"], "inner")
        .groupBy("label").agg(F.max("v").alias("_vmax"), F.min("v").alias("_vmin"))
    )
    return (
        elev.join(length, "label", "left")
        .select(
            F.col("label").alias("link"),
            F.when(
                F.col("_len").isNull() | (F.col("_len") == 0.0), F.lit(0.0)
            ).otherwise(
                F.expr("FLOOR(((_vmax - _vmin) / _len) * 1e6 + 0.5e0) / 1e6")
            ).alias("link_slope"),
        )
        .orderBy("link")
    )


def pointer_edges(pointers: DataFrame) -> DataFrame:
    """(id, nid): flat-id edge per cell toward its D8 target (code>0)."""
    dr = F.expr("element_at(array(-1,-1,-1,0,0,1,1,1), CAST(log2(code) AS INT) + 1)")
    dc = F.expr("element_at(array(-1,0,1,-1,1,-1,0,1), CAST(log2(code) AS INT) + 1)")
    return (
        pointers.where(F.col("code") > 0)
        .select(
            (F.col("row") * F.lit(1_000_000) + F.col("col")).alias("id"),
            ((F.col("row") + dr) * F.lit(1_000_000) + (F.col("col") + dc)).alias("nid"),
        )
    )


# ---------------------------------------------------------------------------
# tile-local flow solve (shared by flow_accum and watershed)
# ---------------------------------------------------------------------------
_FLOW_SCHEMA = (
    "row long, col long, acc long, x_row long, x_col long, "
    "p_row long, p_col long, pdist double, kind int"
)
# kind 0: per-cell row — acc = tile-local accumulation; (p_row,p_col) = the
#         pit this cell drains to when its path TERMINATES in-tile, else
#         (x_row,x_col) = the out-of-tile cell its path crosses into.
# kind 1: cross-tile edge — cell (row,col) sends mass acc into (x_row,x_col).
# kind 2: border transit — border cell (row,col)'s path exits into
#         (x_row,x_col), or terminates at pit (p_row,p_col).


def _decode_targets(rr, cc, code):
    has = code > 0
    j = np.zeros(len(rr), dtype=np.int64)
    j[has] = np.log2(code[has]).astype(np.int64)
    return has, rr + np.where(has, _D8_DR[j], 0), cc + np.where(has, _D8_DC[j], 0)


def _tile_paths(key, pdf: pd.DataFrame, tile: int) -> SimpleNamespace:
    """Tile-graph prelude shared by the flow and max-distance kernels: D8
    targets, in-tile edges, and each cell's within-tile path end (dest) and
    length (pdist) by weighted pointer jumping — terminals are zero-weight
    self-loops.  pdist runs to the NEXT TILE's entry cell (exit crossing
    step included) or to the in-tile pit.  Optional absorbing `stop` cells
    (e.g. stream cells for subbasin labeling) have their outflow cut, so
    they terminate paths like pits."""
    r0, c0 = int(key[0]) * tile, int(key[1]) * tile
    rr = pdf["row"].to_numpy(np.int64)
    cc = pdf["col"].to_numpy(np.int64)
    n = len(rr)
    lr, lc = rr - r0, cc - c0
    h, w = int(lr.max()) + 1, int(lc.max()) + 1
    gid = np.full((h, w), -1, dtype=np.int64)
    gid[lr, lc] = np.arange(n)
    has, t_r, t_c = _decode_targets(rr, cc, pdf["code"].to_numpy(np.int64))
    t_lr, t_lc = t_r - r0, t_c - c0
    inb = has & (t_lr >= 0) & (t_lr < min(tile, h)) & (t_lc >= 0) & (t_lc < min(tile, w))
    tgt = np.full(n, -1, dtype=np.int64)
    tgt[inb] = gid[t_lr[inb], t_lc[inb]]
    internal = tgt >= 0  # D8 never targets a missing (nodata) cell
    cross = has & ~internal
    if "stop" in pdf.columns:
        stop = pdf["stop"].fillna(False).to_numpy(bool)
        internal = internal & ~stop
        cross = cross & ~stop
        tgt = np.where(stop, -1, tgt)
    step = np.where(has, np.where((t_r != rr) & (t_c != cc), _SQRT2, 1.0), 0.0)
    dest = np.arange(n, dtype=np.int64)
    dest[internal] = tgt[internal]
    dd = np.where(internal, step, 0.0)
    while True:
        nd = dest[dest]
        if np.array_equal(nd, dest):
            break
        dd = dd + dd[dest]
        dest = nd
    on_border = (
        (rr % tile == 0) | (rr % tile == tile - 1)
        | (cc % tile == 0) | (cc % tile == tile - 1)
    )
    return SimpleNamespace(
        rr=rr, cc=cc, n=n, t_r=t_r, t_c=t_c, tgt=tgt, internal=internal,
        cross=cross, step=step, dest=dest,
        pdist=dd + np.where(cross, step, 0.0)[dest], on_border=on_border,
    )


def _tile_kahn(g: SimpleNamespace, val: np.ndarray, is_max: bool) -> np.ndarray:
    """Tile-local upstream-count scheduling (FlowAccumD8.java:282-330,
    vectorized Kahn wavefronts) over the in-tile edges: each cell adds its
    value to its target, or (is_max) offers value + step to a max."""
    indeg = np.bincount(g.tgt[g.internal], minlength=g.n)
    processed = np.zeros(g.n, dtype=bool)
    frontier = np.flatnonzero(indeg == 0)
    while frontier.size:
        processed[frontier] = True
        fe = frontier[g.internal[frontier]]
        if not fe.size:
            break
        t = g.tgt[fe]
        if is_max:
            np.maximum.at(val, t, val[fe] + g.step[fe])
        else:
            np.add.at(val, t, val[fe])
        indeg = indeg - np.bincount(t, minlength=g.n)
        frontier = np.flatnonzero((indeg == 0) & ~processed)
    return val


def _tile_flow_kernel(tile: int):
    def kernel(key, pdf: pd.DataFrame) -> pd.DataFrame:
        g = _tile_paths(key, pdf, tile)
        rr, cc, n, dest, cross = g.rr, g.cc, g.n, g.dest, g.cross
        ext = (
            pdf["ext"].fillna(0).to_numpy(np.int64)
            if "ext" in pdf.columns else np.zeros(n, dtype=np.int64)
        )
        accum = _tile_kahn(g, 1 + ext, is_max=False)
        d_exits = cross[dest]  # terminal cell has an out-of-tile edge

        parts = []
        null = np.int64(-1)
        # kind 0: per-cell local accumulation + path terminal
        parts.append(pd.DataFrame({
            "row": rr, "col": cc, "acc": accum,
            "x_row": np.where(d_exits, g.t_r[dest], null),
            "x_col": np.where(d_exits, g.t_c[dest], null),
            "p_row": np.where(d_exits, null, rr[dest]),
            "p_col": np.where(d_exits, null, cc[dest]),
            "pdist": g.pdist,
            "kind": np.zeros(n, dtype=np.int32),
        }))
        # kind 1: cross-tile out-edges with tile-local mass
        xs = np.flatnonzero(cross)
        if xs.size:
            parts.append(pd.DataFrame({
                "row": rr[xs], "col": cc[xs], "acc": accum[xs],
                "x_row": g.t_r[xs], "x_col": g.t_c[xs],
                "p_row": np.full(xs.size, null), "p_col": np.full(xs.size, null),
                "pdist": np.zeros(xs.size),
                "kind": np.full(xs.size, 1, dtype=np.int32),
            }))
        # kind 2: border-cell transit map
        bs = np.flatnonzero(g.on_border)
        if bs.size:
            bd = dest[bs]
            be = cross[bd]
            parts.append(pd.DataFrame({
                "row": rr[bs], "col": cc[bs],
                "acc": np.zeros(bs.size, dtype=np.int64),
                "x_row": np.where(be, g.t_r[bd], null),
                "x_col": np.where(be, g.t_c[bd], null),
                "p_row": np.where(be, null, rr[bd]),
                "p_col": np.where(be, null, cc[bd]),
                "pdist": g.pdist[bs],
                "kind": np.full(bs.size, 2, dtype=np.int32),
            }))
        return pd.concat(parts, ignore_index=True)

    return kernel


def _with_tiles(pointers: DataFrame, tile: int) -> DataFrame:
    return pointers.withColumn(
        "_tr", (F.col("row") / tile).cast("long")
    ).withColumn("_tc", (F.col("col") / tile).cast("long"))


def _two_pass(cells: DataFrame, tile: int, tag: str, *,
              is_max: bool = False) -> DataFrame:
    """Kind-0 rows of the exact tile solve (module docstring phases 1-3).

    Pass A runs the tile kernel with zero external inflow; when no flow
    crosses a tile edge it is the answer.  Otherwise the condensed entry
    DAG goes to condense.graph_masses, and pass B reruns the kernel with
    each entry's inflow added to `ext` (a per-cell seed that `cells` may
    carry).  is_max selects the max-distance kernel (MAX in place of SUM,
    the entry's within-tile path length as edge weight)."""
    spark = cells.sparkSession
    _scratch.release(spark, tag)
    kernel, schema, val = (
        (_tile_maxdist_kernel(tile), _MAXD_SCHEMA, "mx") if is_max
        else (_tile_flow_kernel(tile), _FLOW_SCHEMA, "acc")
    )
    pass_a = _scratch.track(
        spark,
        cells.groupBy("_tr", "_tc").applyInPandas(kernel, schema).persist(),
        tag,
    )
    xedges = pass_a.where(F.col("kind") == 1)
    if xedges.isEmpty():
        return pass_a.where(F.col("kind") == 0)
    base = xedges.groupBy(
        F.col("x_row").alias("row"), F.col("x_col").alias("col")
    ).agg((F.max(val) if is_max else F.sum(val)).cast("double").alias("base"))
    transit = pass_a.where(F.col("kind") == 2).select(
        "row", "col", F.col("x_row").alias("f_row"), F.col("x_col").alias("f_col"),
        (F.col("pdist") if is_max else F.lit(0.0)).alias("w"),
    )
    nodes = base.join(transit, ["row", "col"], "left").select(
        "row", "col", "base",
        F.coalesce("f_row", F.lit(-1)).alias("f_row"),
        F.coalesce("f_col", F.lit(-1)).alias("f_col"),
        F.coalesce("w", F.lit(0.0)).alias("w"),
    )
    mass = condense.graph_masses(nodes, group_cell=tile * 8, is_max=is_max)
    inflow = mass.where(F.col("mass") != 0).select(
        "row", "col",
        F.col("mass").alias("_m") if is_max else F.col("mass").cast("long").alias("_m"),
    )
    seed = F.coalesce("ext", F.lit(0)) if "ext" in cells.columns else F.lit(0)
    cells_b = cells.join(inflow, ["row", "col"], "left").withColumn(
        "ext", seed + F.coalesce("_m", F.lit(0))
    ).drop("_m")
    return cells_b.groupBy("_tr", "_tc").applyInPandas(kernel, schema).where(
        F.col("kind") == 0
    )


def flow_accum(pointers: DataFrame, *, tile: int = TILE) -> DataFrame:
    """(row, col, accum): cells draining through each cell, incl. itself.

    Two tile-kernel passes + a condensed boundary-graph solve (module
    docstring) — wall time linear in cells, independent of path length."""
    return _two_pass(_with_tiles(pointers, tile), tile, "flow_accum").select(
        "row", "col", F.col("acc").alias("accum")
    )


def weighted_flow_accum(pointers: DataFrame, weights: DataFrame, *,
                        tile: int = TILE) -> DataFrame:
    """(row, col, waccum): integer-weighted D8 accumulation — waccum(c) =
    w0(c) + Σ w0(u) over strictly-upslope cells u (the building block of
    AverageUpslopeFlowpathLength.java: accumulate a per-cell quantity
    instead of a count).

    Reuses _tile_flow_kernel UNCHANGED: the kernel computes 1 + ext, so
    seeding ext = w0 - 1 makes the tile-local Kahn accumulate the integer
    weights exactly (order-independent), and pass B adds the condensed
    entry masses on top.  `weights` must cover every pointer cell with an
    integer column `w0` (scale fractional quantities to micro-units first —
    integer sums keep the cross-engine bit-exactness the counting path
    has)."""
    ext0 = weights.select(
        "row", "col", (F.col("w0") - F.lit(1)).cast("long").alias("ext")
    )
    cells = _with_tiles(pointers, tile).join(ext0, ["row", "col"], "left")
    return _two_pass(cells, tile, "wflow_accum").select(
        "row", "col", F.col("acc").alias("waccum")
    )


def avg_upslope_length(pointers: DataFrame, *, tile: int = TILE) -> DataFrame:
    """(row, col, avg_len): mean downslope flow-path length from each
    strictly-upslope cell to this cell (AverageUpslopeFlowpathLength.java),
    0 where no cell drains in.

    Identity: every upslope cell's path to c runs THROUGH c, so
    pathlen(u -> c) = D(u) - D(c) with D = downslope flow-path length to the
    terminal; hence avg(c) = (Σ_upslope D(u) - N·D(c)) / N.  Σ D over the
    upslope set is a weighted accumulation of the micro-scaled (exact
    integer) D field — no new kernel, three existing passes."""
    D = flowpath_length(pointers, tile=tile)
    dm = D.select(
        "row", "col",
        F.expr("CAST(FLOOR(fp_len * 1e6 + 0.5e0) AS BIGINT)").alias("w0"),
    )
    acc = flow_accum(pointers, tile=tile)
    w = weighted_flow_accum(pointers, dm, tile=tile)
    j = (
        w.join(dm, ["row", "col"]).join(acc, ["row", "col"])
    )
    return j.select(
        "row", "col",
        F.when(
            F.col("accum") > 1,
            F.expr(
                "FLOOR(CAST(waccum - accum * w0 AS DOUBLE) "
                "/ CAST(accum - 1 AS DOUBLE) + 0.5e0) / 1e6"
            ),
        ).otherwise(F.lit(0.0)).alias("avg_len"),
    )


def extract_streams(pointers: DataFrame, threshold: int) -> DataFrame:
    """Stream cells: accumulation >= threshold (ExtractStreams.java)."""
    return flow_accum(pointers).where(F.col("accum") >= threshold)


def watershed(pointers: DataFrame, *, tile: int = TILE,
              stops: DataFrame | None = None) -> DataFrame:
    """(row, col, ws): watershed label = flat id (row*1e6+col) of the
    terminal pit/flat each cell drains to (Watershed.java semantics).

    One tile-kernel pass; pending cells (path exits the tile) take the
    terminal of their entry cell (_chase_exits).

    stops: optional (row, col) absorbing set — paths terminate at the first
    stop cell hit (the Subbasins/Hillslopes building block)."""
    cells = _with_tiles(pointers, tile)
    if stops is not None:
        cells = cells.join(
            stops.select("row", "col").withColumn("stop", F.lit(True)),
            ["row", "col"], "left",
        )
    done, pend = _chase_exits(cells, tile, "watershed", F.lit(0.0))
    ws = lambda r, c: (F.col(r) * F.lit(1_000_000) + F.col(c)).alias("ws")  # noqa: E731
    return done.select("row", "col", ws("p_row", "p_col")).unionByName(
        pend.select("row", "col", ws("term_row", "term_col"))
    )


def _chase_exits(cells: DataFrame, tile: int, tag: str, w) -> tuple:
    """One flow-kernel pass and the cross-tile remainder of every path.

    Returns (done, pend): pass-A cell rows whose path ends in-tile, and
    those whose path exits it, joined with their entry cell's chased
    (total, term_row, term_col) — condense.chase_paths over the border
    transit map, with path weight `w` (a pass-A column expression) per
    border cell."""
    spark = cells.sparkSession
    _scratch.release(spark, tag)
    pass_a = _scratch.track(
        spark,
        cells.groupBy("_tr", "_tc").applyInPandas(
            _tile_flow_kernel(tile), _FLOW_SCHEMA
        ).persist(),
        tag,
    )
    fwd = pass_a.where(F.col("kind") == 2).select(
        "row", "col", F.col("x_row").alias("t_row"),
        F.col("x_col").alias("t_col"), w.alias("w"), "p_row", "p_col",
    )
    lut = condense.chase_paths(fwd).withColumnRenamed(
        "row", "x_row"
    ).withColumnRenamed("col", "x_col")
    cell_rows = pass_a.where(F.col("kind") == 0)
    done = cell_rows.where(F.col("x_row") < 0)
    pend = cell_rows.where(F.col("x_row") >= 0).join(lut, ["x_row", "x_col"], "inner")
    return done, pend


# ---------------------------------------------------------------------------
# depression filling (priority flood)
# ---------------------------------------------------------------------------
_OFFS8 = [(-1, -1), (-1, 0), (-1, 1), (0, -1), (0, 1), (1, -1), (1, 0), (1, 1)]


def fill_depressions(cells: DataFrame, rows: int, cols: int, *,
                     tile: int = TILE, max_rounds: int = 64) -> DataFrame:
    """FillDepressions (HydroTools/src/plugins/FillDepressions.java, 416;
    BreachDepressionsFast.java:759 is the breach variant): filled(c) =
    max(dem(c), min over 8-connected paths to an open cell of the path's
    max dem) — the minimax fixpoint priority-flood computes.

    Distributed formulation: iterative TILE-LOCAL priority floods.  Open
    (seed) cells — raster border or nodata-adjacent — start at dem, all
    others at +inf; each round ships 1-cell halo strips of the current
    filled state to neighbor tiles and re-floods every tile given those
    boundary estimates (sequential heap flood in numpy/heapq per tile).
    Estimates decrease monotonically to the global fixpoint in
    O(tile-graph diameter) rounds — each round two narrow shuffles, state
    O(cells).  Values are max/min selections of input cells (no float
    arithmetic), so results are exact against any oracle.

    cells: (row, col, dem) — non-nodata cells only.
    Returns (row, col, filled).
    """
    import heapq

    spark = cells.sparkSession
    INF = float("inf")

    # seed mask: raster border or any missing (nodata / off-grid) 8-neighbor
    offs_arr = F.array(*[
        F.struct(F.lit(dr).alias("dr"), F.lit(dc).alias("dc")) for dr, dc in _OFFS8
    ])
    probe = (
        cells.select("row", "col")
        .withColumn("_o", F.explode(offs_arr))
        .select(
            "row", "col",
            (F.col("row") + F.col("_o.dr")).alias("nr"),
            (F.col("col") + F.col("_o.dc")).alias("nc"),
        )
        .where((F.col("nr") >= 0) & (F.col("nr") < rows)
               & (F.col("nc") >= 0) & (F.col("nc") < cols))
    )
    nbr_live = probe.join(
        cells.select(F.col("row").alias("nr"), F.col("col").alias("nc")),
        ["nr", "nc"], "inner",
    ).groupBy("row", "col").agg(F.count(F.lit(1)).alias("_nlive"))
    ingrid = probe.groupBy("row", "col").agg(F.count(F.lit(1)).alias("_ngrid"))
    seeds = (
        cells.join(nbr_live, ["row", "col"], "left")
        .join(ingrid, ["row", "col"], "left")
        .select(
            "row", "col", "dem",
            (
                (F.col("row") == 0) | (F.col("row") == rows - 1)
                | (F.col("col") == 0) | (F.col("col") == cols - 1)
                | (F.coalesce("_nlive", F.lit(0)) < F.coalesce("_ngrid", F.lit(0)))
            ).alias("seed"),
        )
    )

    state = seeds.select(
        "row", "col", "dem", "seed",
        F.when(F.col("seed"), F.col("dem")).otherwise(F.lit(INF)).alias("filled"),
        (F.col("row") / tile).cast("long").alias("_tr"),
        (F.col("col") / tile).cast("long").alias("_tc"),
    ).persist()
    state.count()

    schema = ("row long, col long, dem double, seed boolean, "
              "filled double, changed int, _tr long, _tc long")

    def kernel(key, pdf: pd.DataFrame) -> pd.DataFrame:
        tr, tc = int(key[0]), int(key[1])
        r0, c0 = tr * tile, tc * tile
        own = pdf[~pdf["is_ext"].to_numpy()]
        if own.empty:
            return pd.DataFrame({
                "row": pd.Series([], dtype="int64"),
                "col": pd.Series([], dtype="int64"),
                "dem": pd.Series([], dtype="float64"),
                "seed": pd.Series([], dtype="bool"),
                "filled": pd.Series([], dtype="float64"),
                "changed": pd.Series([], dtype="int32"),
                "_tr": pd.Series([], dtype="int64"),
                "_tc": pd.Series([], dtype="int64"),
            })
        # local grid with 1-cell margin for external halo cells
        lr = pdf["row"].to_numpy(np.int64) - r0 + 1
        lc = pdf["col"].to_numpy(np.int64) - c0 + 1
        H, W = tile + 2, tile + 2
        dem = np.full((H, W), np.nan)
        fil = np.full((H, W), INF)
        is_own = np.zeros((H, W), dtype=bool)
        dem[lr, lc] = pdf["dem"].to_numpy(np.float64)
        fil[lr, lc] = pdf["filled"].to_numpy(np.float64)
        is_own[lr, lc] = ~pdf["is_ext"].to_numpy()
        old = fil.copy()
        heap = [
            (fil[r, c], int(r), int(c))
            for r, c in zip(*np.nonzero(~np.isnan(dem)))
            if fil[r, c] < INF
        ]
        heapq.heapify(heap)
        while heap:
            f, r, c = heapq.heappop(heap)
            if f > fil[r, c]:
                continue
            for dr, dc in _OFFS8:
                nr, nc = r + dr, c + dc
                if 0 <= nr < H and 0 <= nc < W and is_own[nr, nc]:
                    nf = dem[nr, nc] if dem[nr, nc] > f else f
                    if nf < fil[nr, nc]:
                        fil[nr, nc] = nf
                        heapq.heappush(heap, (nf, nr, nc))
        orr = own["row"].to_numpy(np.int64)
        occ = own["col"].to_numpy(np.int64)
        new_f = fil[orr - r0 + 1, occ - c0 + 1]
        chg = (new_f < old[orr - r0 + 1, occ - c0 + 1]).astype(np.int32)
        return pd.DataFrame({
            "row": orr, "col": occ,
            "dem": own["dem"].to_numpy(np.float64),
            "seed": own["seed"].to_numpy(bool),
            "filled": new_f, "changed": chg,
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
                "row", "col", "dem", "seed", "filled",
                F.col("_ntr").alias("_tr"), F.col("_ntc").alias("_tc"),
                F.lit(True).alias("is_ext"),
            )
        )  # duplicate halo rows per corner are harmless (same heap value)
        # localCheckpoint CUTS the lineage each round — without it the plan
        # nests the whole round history and the driver heap grows unboundedly
        new_state = (
            own.unionByName(halo)
            .groupBy("_tr", "_tc")
            .applyInPandas(kernel, schema)
            .localCheckpoint()
        )
        n_changed = new_state.agg(F.sum("changed")).collect()[0][0] or 0
        state.unpersist()
        state = new_state
        if n_changed == 0:
            break
    else:
        raise RuntimeError("fill_depressions did not converge; raise max_rounds")
    out = state.select("row", "col", "filled")
    _scratch.release(spark, "fill")
    _scratch.track(spark, state, "fill")
    return out


# ---------------------------------------------------------------------------
# subbasins / hillslopes (Subbasins.java:389, Hillslopes.java:525)
# ---------------------------------------------------------------------------
def _stream_edge_tables(pointers: DataFrame, stream: DataFrame):
    """(sedge, junc, kept): stream flow edges, junction targets, and the
    junction-cut edge set — shared by the link-labeling family."""
    dr = F.expr("element_at(array(-1,-1,-1,0,0,1,1,1), CAST(log2(code) AS INT) + 1)")
    dc = F.expr("element_at(array(-1,0,1,-1,1,-1,0,1), CAST(log2(code) AS INT) + 1)")
    sd = (
        stream.join(pointers, ["row", "col"], "inner")
        .where(F.col("code") > 0)
        .select("row", "col",
                (F.col("row") + dr).alias("nr"), (F.col("col") + dc).alias("nc"))
    )
    st_t = stream.select(F.col("row").alias("nr"), F.col("col").alias("nc"))
    sedge = sd.join(st_t, ["nr", "nc"], "left_semi")
    junc = (
        sedge.groupBy("nr", "nc").agg(F.count(F.lit(1)).alias("_n"))
        .where(F.col("_n") >= 2).select("nr", "nc")
    )
    kept = sedge.join(junc, ["nr", "nc"], "left_anti")
    return sedge, junc, kept


def subbasins(pointers: DataFrame, threshold: int = 5, *,
              tile: int = TILE) -> DataFrame:
    """(row, col, sub): each cell labeled by the junction-cut stream LINK it
    first drains into (Subbasins.java semantics); cells whose path reaches a
    pit before any stream cell get -1 (non-contributing).

    Physical: watershed with the stream cells as an ABSORBING set (paths
    terminate at first stream contact), then a terminal -> link-label join."""
    from .clump import components_from_edges

    spark = pointers.sparkSession
    _scratch.release(spark, "subbasins")
    pointers = _scratch.track(spark, pointers.persist(), "subbasins")
    acc = flow_accum(pointers, tile=tile)
    stream = _scratch.track(
        spark,
        acc.where(F.col("accum") >= threshold).select("row", "col").persist(),
        "subbasins",
    )
    _sedge, _junc, kept = _stream_edge_tables(pointers, stream)
    lab = components_from_edges(stream, kept, tile=tile)
    ws = watershed(pointers, tile=tile, stops=stream)
    slab = lab.select(
        (F.col("row") * F.lit(1_000_000) + F.col("col")).alias("ws"),
        F.col("label").alias("sub"),
    )
    return ws.join(slab, "ws", "left").select(
        "row", "col", F.coalesce("sub", F.lit(-1)).alias("sub")
    )


def isobasin(pointers: DataFrame, target: int, *, tile: int = TILE) -> DataFrame:
    """(row, col, basin): equal-target-area basin decomposition
    (HydroTools/src/plugins/Isobasin.java:434 semantics, deterministic
    crossing form): an OUTLET is the first cell along each flow path whose
    accumulation reaches `target` (acc >= target while every upstream D8
    neighbor is still < target — accumulation is monotone along flow, so
    each path crosses exactly once); every cell is labeled with the flat id
    of the first outlet at-or-downstream of it, -1 for trunk/pit cells whose
    path never meets an outlet (they crossed upstream already).

    Composition: flow_accum + one edge aggregation for the crossing test +
    watershed with the outlets as the absorbing set — all existing
    tile-kernel machinery, no new iteration."""
    spark = pointers.sparkSession
    _scratch.release(spark, "isobasin")
    pointers = _scratch.track(spark, pointers.persist(), "isobasin")
    acc = flow_accum(pointers, tile=tile)
    dr = F.expr("element_at(array(-1,-1,-1,0,0,1,1,1), CAST(log2(code) AS INT) + 1)")
    dc = F.expr("element_at(array(-1,0,1,-1,1,-1,0,1), CAST(log2(code) AS INT) + 1)")
    edges = pointers.where(F.col("code") > 0).select(
        "row", "col",
        (F.col("row") + dr).alias("nr"), (F.col("col") + dc).alias("nc"),
    )
    upmax = (
        edges.join(acc, ["row", "col"])
        .groupBy(F.col("nr").alias("row"), F.col("nc").alias("col"))
        .agg(F.max("accum").alias("_upmax"))
    )
    outlets = _scratch.track(
        spark,
        acc.join(upmax, ["row", "col"], "left")
        .where(
            (F.col("accum") >= target)
            & (F.coalesce("_upmax", F.lit(0)) < target)
        )
        .select("row", "col")
        .persist(),
        "isobasin",
    )
    ws = watershed(pointers, tile=tile, stops=outlets)
    obas = outlets.select(
        (F.col("row") * F.lit(1_000_000) + F.col("col")).alias("ws"),
        (F.col("row") * F.lit(1_000_000) + F.col("col")).alias("basin"),
    )
    return ws.join(obas, "ws", "left").select(
        "row", "col", F.coalesce("basin", F.lit(-1)).alias("basin")
    )


def hillslopes(pointers: DataFrame, threshold: int = 5, *,
               tile: int = TILE) -> DataFrame:
    """(row, col, hs): Hillslopes.java semantics — stream cells get
    hs = 3 * link + 2 (channel); every other contributing cell gets
    3 * link + side, where side (0/1) is the bank its flow path enters the
    stream from: the sign of the cross product between the receiving stream
    cell's own flow direction and the entry direction (0 for headwater-style
    entries parallel/anti-parallel to the stream, e.g. into a link head or a
    stream pit).  Non-contributing cells get -1.

    Physical: watershed absorbed at ENTRY cells (the last non-stream cell of
    each path — cells whose D8 target is a stream cell); the entry cell's
    (link, side) broadcast back over its catch."""
    from .clump import components_from_edges

    spark = pointers.sparkSession
    _scratch.release(spark, "hillslopes")
    pointers = _scratch.track(spark, pointers.persist(), "hillslopes")
    acc = flow_accum(pointers, tile=tile)
    stream = _scratch.track(
        spark,
        acc.where(F.col("accum") >= threshold).select("row", "col").persist(),
        "hillslopes",
    )
    _sedge, _junc, kept = _stream_edge_tables(pointers, stream)
    lab = components_from_edges(stream, kept, tile=tile)

    dr = F.expr("element_at(array(-1,-1,-1,0,0,1,1,1), CAST(log2(code) AS INT) + 1)")
    dc = F.expr("element_at(array(-1,0,1,-1,1,-1,0,1), CAST(log2(code) AS INT) + 1)")
    ptr_t = pointers.select(
        "row", "col",
        F.when(F.col("code") > 0, F.col("row") + dr).otherwise(F.lit(None)).alias("nr"),
        F.when(F.col("code") > 0, F.col("col") + dc).otherwise(F.lit(None)).alias("nc"),
    )
    # entry cells: non-stream cells flowing INTO a stream cell
    entry = (
        ptr_t.join(stream, ["row", "col"], "left_anti")
        .join(
            stream.select(F.col("row").alias("nr"), F.col("col").alias("nc")),
            ["nr", "nc"], "left_semi",
        )
    )
    # side: cross product of the stream cell's flow direction with the entry
    # direction (entry -> stream)
    sdir = ptr_t.join(stream, ["row", "col"], "left_semi").select(
        F.col("row").alias("nr"), F.col("col").alias("nc"),
        (F.col("nr") - F.col("row")).alias("_sdr"),
        (F.col("nc") - F.col("col")).alias("_sdc"),
    )
    slab = lab.select(
        F.col("row").alias("nr"), F.col("col").alias("nc"),
        F.col("label").alias("_link"),
    )
    cross = (F.col("_sdr") * (F.col("nc") - F.col("col"))
             - F.col("_sdc") * (F.col("nr") - F.col("row")))
    entry_hs = (
        entry.join(sdir, ["nr", "nc"], "left")
        .join(slab, ["nr", "nc"], "inner")
        .select(
            (F.col("row") * F.lit(1_000_000) + F.col("col")).alias("ws"),
            (F.col("_link") * 3 + F.when(
                F.coalesce(cross, F.lit(0)) > 0, F.lit(1)
            ).otherwise(F.lit(0))).alias("hs"),
        )
    )
    ws = watershed(pointers, tile=tile, stops=entry.select("row", "col"))
    chan = lab.select(
        "row", "col", (F.col("label") * 3 + F.lit(2)).alias("hs")
    )
    nonstream = (
        ws.join(stream, ["row", "col"], "left_anti")
        .join(entry_hs, "ws", "left")
        .select("row", "col", F.coalesce("hs", F.lit(-1)).alias("hs"))
    )
    return nonstream.unionByName(chan.select("row", "col", "hs"))


# ---------------------------------------------------------------------------
# depression breaching (constrained-window, BreachDepressions.java)
# ---------------------------------------------------------------------------
BREACH_EPS = 2.0 ** -12  # dyadic decrement: carved channels strictly descend


def breach_depressions(cells: DataFrame, *, max_length: int = 8,
                       tile: int = TILE, eps: float = BREACH_EPS) -> DataFrame:
    """(row, col, breached): constrained depression breaching —
    HydroTools/src/plugins/BreachDepressions.java semantics (per-pit search
    within a maximum breach length, carve the least-cost channel), the
    recommended DEM conditioning path where filling would flatten flow paths.

    For each pit p (cell with no lower 8-neighbor, not draining off-grid), a
    bounded Dijkstra over the <= max_length-step window finds the target cell
    with dem < elev(p) - steps*eps minimizing (total carve depth, steps, row,
    col); the path cells are carved to elev(p) - k*eps (k = path position),
    a strictly descending channel.  Overlapping carves merge with MIN.  Pits
    with no target inside the window stay (compose with fill_depressions for
    the standard hybrid conditioning).

    Distributed shape: ONE tile kernel pass with a max_length-cell halo
    (the search is local by construction, so tile output is identical to the
    global sequential algorithm — tile-size invariance is tested), then a
    (row, col) min-merge of carve assignments back onto the DEM.  All
    arithmetic is dyadic-exact (dem multiples of 2^-10, eps = 2^-12), so
    tie-breaks are deterministic across engines and tilings.
    """
    import heapq

    spark = cells.sparkSession
    m = int(max_length)
    base = cells.select(
        "row", "col", F.col("dem").cast("double").alias("dem"),
        (F.col("row") / tile).cast("long").alias("_tr"),
        (F.col("col") / tile).cast("long").alias("_tc"),
    )
    own = base.withColumn("is_ext", F.lit(False))
    dirs = []
    for dtr in (-1, 0, 1):
        for dtc in (-1, 0, 1):
            if (dtr, dtc) != (0, 0):
                dirs.append((dtr, dtc))
    offs_arr = F.array(*[
        F.struct(F.lit(a).alias("dtr"), F.lit(b).alias("dtc")) for a, b in dirs
    ])
    rm = F.col("row") % tile
    cm = F.col("col") % tile
    near = (
        (rm < m) | (rm >= tile - m) | (cm < m) | (cm >= tile - m)
    )
    halo = (
        base.where(near)
        .withColumn("_o", F.explode(offs_arr))
        .where(
            ((F.col("_o.dtr") == 0)
             | ((F.col("_o.dtr") == -1) & (rm < m))
             | ((F.col("_o.dtr") == 1) & (rm >= tile - m)))
            & ((F.col("_o.dtc") == 0)
               | ((F.col("_o.dtc") == -1) & (cm < m))
               | ((F.col("_o.dtc") == 1) & (cm >= tile - m)))
        )
        .select(
            "row", "col", "dem",
            (F.col("_tr") + F.col("_o.dtr")).alias("_tr"),
            (F.col("_tc") + F.col("_o.dtc")).alias("_tc"),
            F.lit(True).alias("is_ext"),
        )
        .where((F.col("_tr") >= 0) & (F.col("_tc") >= 0))
    )

    def kernel(key, pdf: pd.DataFrame) -> pd.DataFrame:
        tr, tc = int(key[0]), int(key[1])
        r0, c0 = tr * tile - m, tc * tile - m
        H = W = tile + 2 * m
        dem = np.full((H, W), np.nan)
        is_own = np.zeros((H, W), dtype=bool)
        lr = pdf["row"].to_numpy(np.int64) - r0
        lc = pdf["col"].to_numpy(np.int64) - c0
        keep = (lr >= 0) & (lr < H) & (lc >= 0) & (lc < W)
        lr, lc = lr[keep], lc[keep]
        dem[lr, lc] = pdf["dem"].to_numpy(np.float64)[keep]
        np.logical_or.at(is_own, (lr, lc), ~pdf["is_ext"].to_numpy()[keep])
        valid = ~np.isnan(dem)
        # pits among OWN cells: every 8-neighbor present and none lower
        pad = np.full((H + 2, W + 2), np.nan)
        pad[1:-1, 1:-1] = dem
        all_nb = np.ones((H, W), dtype=bool)
        any_lower = np.zeros((H, W), dtype=bool)
        for dr, dc in [(-1, -1), (-1, 0), (-1, 1), (0, -1), (0, 1), (1, -1), (1, 0), (1, 1)]:
            nb = pad[1 + dr:1 + dr + H, 1 + dc:1 + dc + W]
            all_nb &= ~np.isnan(nb)
            with np.errstate(invalid="ignore"):
                any_lower |= nb < dem
        # cells at the raster boundary (not merely at the halo margin) drain
        # off-grid: their missing neighbors are genuine, so all_nb False
        pits = valid & is_own & all_nb & ~any_lower
        carves: dict[tuple[int, int], float] = {}
        offs = [(-1, -1), (-1, 0), (-1, 1), (0, -1), (0, 1), (1, -1), (1, 0), (1, 1)]
        for pr, pc in zip(*np.nonzero(pits)):
            p = dem[pr, pc]
            # bounded Dijkstra: state (cost, steps, r, c); carve depth at a
            # visited cell k steps out = max(0, dem - (p - k*eps))
            best: dict[tuple[int, int], tuple[float, int]] = {(pr, pc): (0.0, 0)}
            pred: dict[tuple[int, int], tuple[int, int]] = {}
            heap = [(0.0, 0, int(pr), int(pc))]
            target = None  # (cost, steps, r, c)
            while heap:
                cost, steps, r, c = heapq.heappop(heap)
                if best.get((r, c), (np.inf, 0)) < (cost, steps):
                    continue
                if target is not None and (cost, steps) >= target[:2]:
                    break
                if steps >= m:
                    continue
                for dr, dc in offs:
                    nr, nc = r + dr, c + dc
                    if not (0 <= nr < H and 0 <= nc < W) or np.isnan(dem[nr, nc]):
                        continue
                    need = p - (steps + 1) * eps
                    if dem[nr, nc] < need:
                        cand = (cost, steps + 1, nr, nc)
                        if target is None or cand < target:
                            target = cand
                            # pred of the target hop is pinned separately:
                            # (nr, nc) may later be relaxed as an ordinary
                            # cell and overwrite pred[(nr, nc)]
                            tpred = (r, c)
                        continue
                    ncost = cost + (dem[nr, nc] - need)
                    prevb = best.get((nr, nc))
                    if prevb is None or (ncost, steps + 1) < prevb:
                        best[(nr, nc)] = (ncost, steps + 1)
                        pred[(nr, nc)] = (r, c)
                        heapq.heappush(heap, (ncost, steps + 1, nr, nc))
            if target is None:
                continue
            # carve the path (exclusive of pit and target); settled cells'
            # pred entries are final (standard Dijkstra), the target's own
            # hop comes from tpred
            _, tsteps, tr_, tc_ = target
            path = [(tr_, tc_)]
            cur = tpred
            while cur != (int(pr), int(pc)):
                path.append(cur)
                cur = pred[cur]
            path.reverse()  # pit-adjacent first; last element is the target
            for k, (r, c) in enumerate(path[:-1], start=1):
                v = p - k * eps
                old = carves.get((r, c))
                if old is None or v < old:
                    carves[(r, c)] = v
        rows = [(r0 + r, c0 + c, v) for (r, c), v in carves.items()]
        return pd.DataFrame(rows, columns=["row", "col", "carved"]) if rows else \
            pd.DataFrame({"row": pd.Series([], dtype="int64"),
                          "col": pd.Series([], dtype="int64"),
                          "carved": pd.Series([], dtype="float64")})

    carve_df = (
        own.unionByName(halo)
        .groupBy("_tr", "_tc")
        .applyInPandas(kernel, "row long, col long, carved double")
        .groupBy("row", "col")
        .agg(F.min("carved").alias("carved"))
    )
    return (
        cells.select("row", "col", F.col("dem").cast("double").alias("dem"))
        .join(carve_df, ["row", "col"], "left")
        .select(
            "row", "col",
            F.least(F.col("dem"), F.coalesce("carved", F.col("dem"))).alias("breached"),
        )
    )


# ---------------------------------------------------------------------------
# stream network measures (StreamNetworkAnalysisTools)
# ---------------------------------------------------------------------------
def _links_meta(all_links, dag_pairs):
    """Strahler / Shreve / main-stem over the link DAG (driver Kahn) —
    shared by the full-driver and labeling-distributed tiers."""
    ups: dict[int, list[int]] = {}
    downs: dict[int, int] = {}
    for up, dn in dag_pairs:
        ups.setdefault(int(dn), []).append(int(up))
        downs[int(up)] = int(dn)
    strahler: dict[int, int] = {}
    mag: dict[int, int] = {}
    pending = {l: len(ups.get(l, [])) for l in all_links}
    stack = [l for l in all_links if pending[l] == 0]
    while stack:
        l = stack.pop()
        u = ups.get(l, [])
        if not u:
            strahler[l], mag[l] = 1, 1
        else:
            mx = max(strahler[x] for x in u)
            tie = sum(1 for x in u if strahler[x] == mx) >= 2
            strahler[l] = mx + 1 if tie else mx
            mag[l] = sum(mag[x] for x in u)
        d = downs.get(l)
        if d is not None and d in pending:
            pending[d] -= 1
            if pending[d] == 0:
                stack.append(d)
    # main stem: outlets walk upstream by max (magnitude, -link)
    main: set[int] = set()
    for outlet in (l for l in all_links if l not in downs):
        cur = outlet
        while True:
            main.add(cur)
            u = ups.get(cur, [])
            if not u:
                break
            cur = max(u, key=lambda x: (mag[x], -x))
    return strahler, mag, main


def _stream_network_driver(spark, tagged: pd.DataFrame) -> DataFrame:
    """Tier-1 solve: the whole stream graph fits the driver guard.  tagged
    holds node rows (nr = -1) and edge rows; all labeling/link logic runs in
    Python, identical semantics to the distributed tiers (junction-cut
    union-find with min-flat-id labels, then _links_meta)."""
    idmul = 1_000_000
    is_node = tagged["nr"].to_numpy() < 0
    nrow = tagged["row"].to_numpy(np.int64)
    ncol = tagged["col"].to_numpy(np.int64)
    nids = nrow[is_node] * idmul + ncol[is_node]
    e = tagged[~is_node]
    src = e["row"].to_numpy(np.int64) * idmul + e["col"].to_numpy(np.int64)
    dst = e["nr"].to_numpy(np.int64) * idmul + e["nc"].to_numpy(np.int64)
    diag = (
        (e["row"].to_numpy(np.int64) != e["nr"].to_numpy(np.int64))
        & (e["col"].to_numpy(np.int64) != e["nc"].to_numpy(np.int64))
    )
    from collections import Counter

    indeg = Counter(dst.tolist())
    is_junc = np.array([indeg[int(d)] >= 2 for d in dst], dtype=bool)

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != x:
            parent[x], x = r, parent[x]
        return r

    for a, b in zip(src[~is_junc], dst[~is_junc]):
        ra, rb = find(int(a)), find(int(b))
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    label = {int(i): find(int(i)) for i in nids}
    n_cells: dict[int, int] = {}
    for i in nids:
        l = label[int(i)]
        n_cells[l] = n_cells.get(l, 0) + 1
    length: dict[int, float] = {}
    order = np.argsort(src[~is_junc], kind="stable")  # deterministic sum order
    ks, kd = src[~is_junc][order], diag[~is_junc][order]
    for a, dg in zip(ks, kd):
        l = label[int(a)]
        length[l] = length.get(l, 0.0) + (_SQRT2 if dg else 1.0)
    dag_pairs = {
        (label[int(a)], label[int(b)])
        for a, b in zip(src[is_junc], dst[is_junc])
        if label[int(a)] != label[int(b)]
    }
    all_links = sorted(n_cells)
    strahler, mag, main = _links_meta(all_links, dag_pairs)
    rows = [
        (l, strahler[l], mag[l], n_cells[l], length.get(l, 0.0), l in main)
        for l in all_links
    ]
    out = spark.createDataFrame(
        rows,
        "link long, strahler long, magnitude long, n_cells long, "
        "length double, main_stem boolean",
    )
    # final rounding stays Spark-side so the HALF_UP policy matches the
    # distributed tiers / the oracle exactly
    return out.select(
        "link", "strahler", "magnitude", "n_cells",
        F.round("length", 6).cast("double").alias("length"), "main_stem",
    ).orderBy("link")


def stream_network(pointers: DataFrame, threshold: int = 5, *,
                   tile: int = TILE) -> DataFrame:
    """Link-level stream measures over the D8 network:

      StreamLinkID      StreamNetworkAnalysisTools/src/plugins/StreamLinkID.java
                        — links break at junctions (cells receiving >= 2
                        stream in-edges); expressed here by CUTTING edges
                        into junction cells before component labeling, so
                        the junction cell heads the downstream link.
      StreamOrder       StreamOrder.java (364) — Strahler: headwaters 1; at
                        a junction max of tributary orders, +1 on a tie.
      StreamMagnitude   StreamMagnitude.java (365) — Shreve source count.
      StreamLinkLength  StreamLinkLength.java (370) — sum of in-link step
                        lengths (1 / sqrt(2) per D8 step).
      FindMainStem      FindMainStem.java (347) — from each outlet walk
                        upstream choosing the max-magnitude tributary
                        (tie-break: smaller link id).

    Physical shape: stream cells + edges are Spark-side (joins/groupBys);
    link labeling reuses the tile union-find CC (components_from_edges);
    the LINK DAG is condensed (√N-ish) and is solved on the driver while it
    fits condense._MAX_DRIVER_ROWS, else by condense.solve_links.

    Returns (link, strahler, magnitude, n_cells, length, main_stem).
    """
    from .clump import components_from_edges

    spark = pointers.sparkSession
    _scratch.release(spark, "streamnet")
    # the pointer raster feeds flow_accum (2 kernel passes), the stream-edge
    # build, and several condensed-graph collects — persist it once
    pointers = _scratch.track(spark, pointers.persist(), "streamnet")
    acc = flow_accum(pointers, tile=tile)
    # persist the small stream tables: stream_network issues several driver
    # actions (condensed-graph collects), and without these caches each one
    # would recompute the full pointer + accumulation lineage
    stream = _scratch.track(
        spark,
        acc.where(F.col("accum") >= threshold).select("row", "col").persist(),
        "streamnet",
    )
    dr = F.expr("element_at(array(-1,-1,-1,0,0,1,1,1), CAST(log2(code) AS INT) + 1)")
    dc = F.expr("element_at(array(-1,0,1,-1,1,-1,0,1), CAST(log2(code) AS INT) + 1)")
    sd = (
        stream.join(pointers, ["row", "col"], "inner")
        .where(F.col("code") > 0)
        .select("row", "col",
                (F.col("row") + dr).alias("nr"), (F.col("col") + dc).alias("nc"))
    )
    st_t = stream.select(F.col("row").alias("nr"), F.col("col").alias("nc"))
    sedge = sd.join(st_t, ["nr", "nc"], "left_semi")

    # tier 1: the stream table itself is condensed relative to the raster
    # (a threshold-selected fraction); when it fits the driver guard, ONE
    # tagged collect of nodes+edges replaces the distributed labeling, all
    # link logic runs in plain Python, and the link-sized result is a single
    # createDataFrame — the dominant bench cost was five Spark actions over
    # applyInPandas lineage (VERDICT r2 wrong #6)
    tagged = stream.select(
        "row", "col", F.lit(-1).alias("nr"), F.lit(-1).alias("nc")
    ).unionByName(sedge).limit(2 * condense._MAX_DRIVER_ROWS + 2).toPandas()
    if len(tagged) <= 2 * condense._MAX_DRIVER_ROWS:
        return _stream_network_driver(spark, tagged)

    # tier 2/3: distributed link labeling (tile union-find CC); link tables
    # solved on the driver under guard, else via condense.solve_links
    sedge = _scratch.track(spark, sedge.persist(), "streamnet")
    junc = (
        sedge.groupBy("nr", "nc").agg(F.count(F.lit(1)).alias("_n"))
        .where(F.col("_n") >= 2).select("nr", "nc")
    )
    kept = sedge.join(junc, ["nr", "nc"], "left_anti")
    cut = sedge.join(junc, ["nr", "nc"], "left_semi")

    lab = components_from_edges(stream, kept, tile=tile)

    n_cells = lab.groupBy("label").agg(F.count(F.lit(1)).alias("n_cells"))
    dist = F.when((F.col("row") != F.col("nr")) & (F.col("col") != F.col("nc")),
                  F.lit(_SQRT2)).otherwise(F.lit(1.0))
    length = (
        kept.join(lab, ["row", "col"], "inner")
        .groupBy("label").agg(F.round(F.sum(dist), 6).cast("double").alias("length"))
    )
    lu = lab.select(F.col("row"), F.col("col"), F.col("label").alias("_up"))
    lv = lab.select(F.col("row").alias("nr"), F.col("col").alias("nc"),
                    F.col("label").alias("_dn"))
    ldag = (
        cut.join(lu, ["row", "col"], "inner").join(lv, ["nr", "nc"], "inner")
        .select(F.col("_up").alias("up"), F.col("_dn").alias("dn")).distinct()
    )

    # ONE driver action for both condensed tables (tagged union — VERDICT r2
    # wrong #6 fused the links/dag collects)
    nl = n_cells.join(length, "label", "left")
    combo = nl.select(
        F.lit(0).alias("_t"), F.col("label").alias("a"),
        F.col("n_cells").alias("b"), F.col("length").alias("c"),
    ).unionByName(ldag.select(
        F.lit(1).alias("_t"), F.col("up").alias("a"),
        F.col("dn").alias("b"), F.lit(None).cast("double").alias("c"),
    ))
    pdf = combo.limit(2 * condense._MAX_DRIVER_ROWS + 2).toPandas()
    if len(pdf) > 2 * condense._MAX_DRIVER_ROWS:
        # distributed fallback: frontier Kahn + pred-chain doubling over the
        # link DAG (operators/condense.py)
        meta = condense.solve_links(nl.select("label"), ldag)
        return (
            nl.join(meta, "label", "inner")
            .select(
                F.col("label").alias("link"),
                F.col("strahler").cast("long").alias("strahler"),
                F.col("magnitude").cast("long").alias("magnitude"),
                "n_cells",
                F.coalesce("length", F.lit(0.0)).alias("length"),
                "main_stem",
            )
            .orderBy("link")
        )
    links_pd = pdf[pdf["_t"] == 0]
    dag_pd = pdf[pdf["_t"] == 1].rename(columns={"a": "up", "b": "dn"})
    all_links = [int(x) for x in links_pd["a"]]
    strahler, mag, main = _links_meta(
        all_links, zip(dag_pd["up"], dag_pd["dn"])
    )
    # the full result is link-sized (under guard): build it driver-side —
    # no extra joins or broadcast, one createDataFrame
    import math as _math

    rows = [
        (
            l, strahler[l], mag[l], int(nc),
            0.0 if (ln is None or (isinstance(ln, float) and _math.isnan(ln)))
            else float(ln),
            l in main,
        )
        for l, nc, ln in zip(all_links, links_pd["b"], links_pd["c"])
    ]
    return spark.createDataFrame(
        rows,
        "link long, strahler long, magnitude long, n_cells long, "
        "length double, main_stem boolean",
    ).orderBy("link")


# ---------------------------------------------------------------------------
# FD8 multiple-flow-direction accumulation
# ---------------------------------------------------------------------------
def fd8_weights(tiles: DataFrame) -> DataFrame:
    """(row, col, ws array<double>[8]): FD8 outflow fractions per D8
    neighbor — positive downslope gradients normalized to sum 1 (Freeman
    1991 with p=1; HydroTools/src/plugins/FlowAccumFD8.java semantics).
    One halo-strip stencil pass; cells with no downslope neighbor (pits)
    get all-zero weights."""
    schema = "row long, col long, ws array<double>"

    def kernel(key, pdf: pd.DataFrame) -> pd.DataFrame:
        asm = _assemble_pad(pdf)
        if asm is None:
            return pd.DataFrame({
                "row": pd.Series([], dtype="int64"),
                "col": pd.Series([], dtype="int64"),
                "ws": pd.Series([], dtype=object),
            })
        c, pad = asm
        h, w = int(c.h), int(c.w)
        centerv = pad[1:h + 1, 1:w + 1]
        s = np.zeros((8, h, w))
        for j, (dr, dc, dist) in enumerate(D8_OFFS):
            nb = pad[1 + dr:1 + dr + h, 1 + dc:1 + dc + w]
            with np.errstate(invalid="ignore"):
                g = (centerv - nb) / dist
            s[j] = np.where(np.isnan(g), 0.0, np.maximum(g, 0.0))
        tot = s.sum(axis=0)
        with np.errstate(invalid="ignore", divide="ignore"):
            ws = np.where(tot > 0.0, s / tot, 0.0)
        valid = ~np.isnan(centerv)
        rr, cc = np.nonzero(valid)
        return pd.DataFrame({
            "row": int(c.row0) + rr,
            "col": int(c.col0) + cc,
            "ws": [ws[:, r, q].tolist() for r, q in zip(rr, cc)],
        })

    contrib = _halo_contributions(tiles)
    return contrib.groupBy("dst_row", "dst_col").applyInPandas(kernel, schema)


# sector s of the D-infinity angle (counter-clockwise from east, 45-degree
# sectors) splits flow between its bounding directions; indices into the
# fixed D8_OFFS order (NW,N,NE,W,E,SW,S,SE)
DINF_FD = [4, 2, 1, 0, 3, 5, 6, 7]  # floor direction of sector s
DINF_CD = [2, 1, 0, 3, 5, 6, 7, 4]  # ceil direction of sector s


def dinf_ws_exprs() -> list:
    """Shared SQL (engine = oracle verbatim): the 8 D-infinity outflow
    weights over an `angle` column — w2 = sector fraction to the ceil
    direction, 1 - w2 to the floor direction; pits (angle < 0) all-zero."""
    q = "(angle / (PI() / 4e0))"
    w2 = f"({q} - FLOOR({q}))"
    s = f"(CAST(FLOOR({q}) AS BIGINT) % 8)"
    out = []
    for k in range(8):
        sf, sc = DINF_FD.index(k), DINF_CD.index(k)
        out.append(
            f"(CASE WHEN angle < 0e0 THEN 0e0 WHEN {s} = {sf} "
            f"THEN 1e0 - {w2} ELSE 0e0 END) + "
            f"(CASE WHEN angle < 0e0 THEN 0e0 WHEN {s} = {sc} "
            f"THEN {w2} ELSE 0e0 END)"
        )
    return out


def dinf_weights(tiles: DataFrame) -> DataFrame:
    """(row, col, ws array<double>[8]): Tarboton D-infinity outflow split
    (FlowAccumDinf.java semantics) — the flow angle distributes between the
    two directions bounding its 45-degree sector.  Defined over cells with a
    full 8-neighborhood (the flow_pointer_dinf support); mass flowing into
    cells outside that support is dropped identically in engine and oracle."""
    d = flow_pointer_dinf(tiles)
    ws = F.array(*[F.expr(e) for e in dinf_ws_exprs()])
    return d.select("row", "col", ws.alias("ws"))


def mdinf_weights(tiles: DataFrame) -> DataFrame:
    """(row, col, ws array<double>[8]): MD-infinity multiple-direction split
    (GeasyTools FlowAccumMDInf.java, Seibert & McGlynn 2007, exponent p = 1
    so the weight chain is pure arithmetic and shared exactly with the SQL
    oracle): every positive-slope facet contributes its slope, divided
    between its two bounding directions by the within-facet angle; direction
    weights normalize by the facet-slope total.  Full 3x3 support, like the
    D-infinity pointer."""
    schema = "row long, col long, ws array<double>"
    qpi = np.pi / 4.0
    off_idx = {(dr, dc): i for i, (dr, dc, _) in enumerate(D8_OFFS)}

    def kernel(key, pdf: pd.DataFrame) -> pd.DataFrame:
        asm = _assemble_pad(pdf)
        if asm is None:
            return pd.DataFrame({
                "row": pd.Series([], dtype="int64"),
                "col": pd.Series([], dtype="int64"),
                "ws": pd.Series([], dtype=object),
            })
        c, pad = asm
        h, w = int(c.h), int(c.w)
        cv = pad[1:h + 1, 1:w + 1]

        def nb(dr, dc):
            return pad[1 + dr:1 + dr + h, 1 + dc:1 + dc + w]

        wdir = np.zeros((8, h, w))
        tot = np.zeros((h, w))
        with np.errstate(invalid="ignore"):
            for k, ((r1, c1), (r2, c2), ac, af) in enumerate(_DINF_FACETS):
                e1v, e2v = nb(r1, c1), nb(r2, c2)
                s1 = cv - e1v
                s2 = e1v - e2v
                r = np.arctan2(s2, s1)
                s = np.sqrt(s1 * s1 + s2 * s2)
                low = r < 0.0
                high = r > qpi
                r = np.where(low, 0.0, np.where(high, qpi, r))
                s = np.where(low, s1, np.where(high, (cv - e2v) / _SQRT2, s))
                pos = s > 0.0
                sk = np.where(pos, s, 0.0)
                sk = np.where(np.isnan(sk), 0.0, sk)
                # quantize the facet angle before the split: numpy and the
                # oracle's libm atan2 may differ in the last ulp
                rq = np.floor(r * 1e6 + 0.5) / 1e6
                d1, d2 = off_idx[(r1, c1)], off_idx[(r2, c2)]
                wdir[d1] = wdir[d1] + sk * (1.0 - rq / qpi)
                wdir[d2] = wdir[d2] + sk * (rq / qpi)
                tot = tot + sk
        with np.errstate(invalid="ignore", divide="ignore"):
            ws = np.where(tot > 0.0, wdir / tot, 0.0)
        full = ~np.isnan(pad[0:h + 2, 0:w + 2])
        ok = np.ones((h, w), dtype=bool)
        for dr in (-1, 0, 1):
            for dc in (-1, 0, 1):
                ok &= full[1 + dr:1 + dr + h, 1 + dc:1 + dc + w]
        rr, cc = np.nonzero(ok)
        return pd.DataFrame({
            "row": int(c.row0) + rr,
            "col": int(c.col0) + cc,
            "ws": [ws[:, r, q].tolist() for r, q in zip(rr, cc)],
        })

    contrib = _halo_contributions(tiles)
    return contrib.groupBy("dst_row", "dst_col").applyInPandas(kernel, schema)


def mdinf_accum(tiles: DataFrame, *, tile: int = TILE, max_rounds: int = 64,
                decimals: int = 4) -> DataFrame:
    """(row, col, accum): MD-infinity accumulation
    (GeasyTools/.../FlowAccumMDInf.java:631) — the same iterative MFD tile
    machinery as FD8/D-infinity with the all-facet weight split."""
    return fd8_accum(tiles, tile=tile, max_rounds=max_rounds,
                     decimals=decimals, weights=mdinf_weights(tiles))


def dinf_accum(tiles: DataFrame, *, tile: int = TILE, max_rounds: int = 64,
               decimals: int = 4) -> DataFrame:
    """(row, col, accum): D-infinity fractional accumulation
    (HydroTools FlowAccumDinf.java:490) — the FD8 iterative tile machinery
    with the Tarboton two-direction weight split."""
    return fd8_accum(tiles, tile=tile, max_rounds=max_rounds,
                     decimals=decimals, weights=dinf_weights(tiles))


def mass_flux_dinf(tiles: DataFrame, fields: DataFrame, *, tile: int = TILE,
                   max_rounds: int = 64, decimals: int = 4) -> DataFrame:
    """(row, col, flux): D-infinity mass transport —
    GeasyTools/src/plugins/MassFluxDinf.java:300-390 semantics:
    flux(c) = load(c) + sum over Dinf-upslope neighbors u of
    w(u->c) * eff(u) * (flux(u) - absorp(u)).  Unlike the D8 variant the
    reference applies NO zero clamp, so the transport is affine-linear and
    runs through fd8_accum's two-pass condensed border solve (one driver
    solve, two kernel passes) instead of the iterative exchange.
    fields: (row, col, load, eff, absorp)."""
    return fd8_accum(
        tiles, tile=tile, max_rounds=max_rounds, decimals=decimals,
        weights=dinf_weights(tiles), fields=fields,
    ).withColumnRenamed("accum", "flux")


def fd8_accum(tiles: DataFrame, *, tile: int = TILE, max_rounds: int = 64,
              decimals: int = 4, weights: DataFrame | None = None,
              fields: DataFrame | None = None) -> DataFrame:
    """(row, col, accum): FD8 fractional accumulation —
    a(c) = 1 + sum over upslope neighbors of w(u->c) * a(u).
    `weights` overrides the FD8 weight table with any (row, col, ws[8])
    multiple-flow-direction split (e.g. dinf_weights).
    `fields` (row, col, load, eff, absorp) generalizes the transport to
    the AFFINE mass-flux form a(c) = load(c) + sum w(u->c) * eff(u) *
    (a(u) - absorp(u)) (MassFluxDinf semantics — unclamped, hence still
    linear in the cross-tile inflows and solvable by the same condensed
    border system; the CLAMPED D8 variant lives in mass_flux_d8).

    Two-pass condensed solve (the same shape as flow_accum's D8
    condensation): MFD accumulation is *linear* in the cross-tile inflows,
    so pass 1 computes, per tile, the outflow masses with zero inflow plus
    the response coefficient of every border outflow to a unit inflow at
    each perimeter slot; the condensed border system m = b + C·m
    (O(grid/tile) variables) is solved on the driver, and a single second
    kernel pass with the exact inflows produces the result.  When the
    condensed system exceeds condense._MAX_DRIVER_ROWS the operator falls
    back to the fully distributed iterative tile-round exchange (rounds ~
    tile-graph depth).  The pass-1 response state is a dense (cells ×
    perimeter) matrix per tile — O(4·tile³) doubles, ~67 MB at tile=128;
    cap MFD tiles at 128 on memory-tight executors (or swap the state to
    float32/sparse) — pass 2 and the fallback are O(cells) regardless.
    Output rounds to `decimals` (parent-sum association differs between
    engines; error ~1e-13 relative)."""
    spark = tiles.sparkSession
    _scratch.release(spark, "fd8")
    wsrc = fd8_weights(tiles) if weights is None else weights
    if fields is not None:
        wsrc = wsrc.join(fields.select("row", "col", "load", "eff", "absorp"),
                         ["row", "col"], "left")
    wdf = _scratch.track(
        spark,
        wsrc.withColumn(
            "_tr", (F.col("row") / tile).cast("long")
        ).withColumn("_tc", (F.col("col") / tile).cast("long")).persist(),
        "fd8",
    )
    wdf.count()

    schema = "row long, col long, acc double, x_row long, x_col long, kind int"

    def kernel(key, pdf: pd.DataFrame) -> pd.DataFrame:
        tr, tc = int(key[0]), int(key[1])
        r0, c0 = tr * tile, tc * tile
        rr = pdf["row"].to_numpy(np.int64)
        cc = pdf["col"].to_numpy(np.int64)
        n = len(rr)
        ws = np.asarray([list(x) for x in pdf["ws"]], dtype=np.float64)  # (n, 8)
        extv = (
            pdf["ext"].fillna(0.0).to_numpy(np.float64)
            if "ext" in pdf.columns else np.zeros(n)
        )
        # affine-transport fields (mass flux): defaults reduce to plain
        # accumulation (load 1, efficiency 1, absorption 0)
        ld = (pdf["load"].to_numpy(np.float64)
              if "load" in pdf.columns else np.ones(n))
        we = ws * (pdf["eff"].to_numpy(np.float64)[:, None]
                   if "eff" in pdf.columns else 1.0)
        ab = (pdf["absorp"].to_numpy(np.float64)
              if "absorp" in pdf.columns else np.zeros(n))
        lr, lc = rr - r0, cc - c0
        h, w = int(lr.max()) + 1, int(lc.max()) + 1
        gid = np.full((h, w), -1, dtype=np.int64)
        gid[lr, lc] = np.arange(n)
        # in-tile targets per direction (local index or -1)
        tgt = np.full((n, 8), -1, dtype=np.int64)
        for j, (dr, dc, _) in enumerate(D8_OFFS):
            t_lr, t_lc = lr + dr, lc + dc
            m = (ws[:, j] > 0.0) & (t_lr >= 0) & (t_lr < min(tile, h)) \
                & (t_lc >= 0) & (t_lc < min(tile, w))
            tgt[m, j] = gid[t_lr[m], t_lc[m]]
            tgt[m & (tgt[:, j] < 0), j] = -1
        internal = tgt >= 0
        indeg = np.bincount(tgt[internal].ravel(), minlength=n)
        acc = ld + extv
        processed = np.zeros(n, dtype=bool)
        frontier = np.flatnonzero(indeg == 0)
        while frontier.size:
            processed[frontier] = True
            dec = np.zeros(n, dtype=np.int64)
            for j in range(8):
                fe = frontier[internal[frontier, j]]
                if fe.size:
                    t = tgt[fe, j]
                    np.add.at(acc, t, we[fe, j] * (acc[fe] - ab[fe]))
                    dec += np.bincount(t, minlength=n)
            indeg = indeg - dec
            frontier = np.flatnonzero((indeg == 0) & ~processed)
        rem = np.flatnonzero(~processed)
        if rem.size:
            # multiple-flow-direction weights can cycle (a D-infinity facet
            # component may point to a HIGHER neighbor): topological Kahn
            # strands those cells.  Their subgraph is closed upstream (no
            # rem -> processed edges can exist), so relax a = base + W'a
            # over the remnant to its geometric fixpoint (cycle gain < 1).
            base = acc.copy()
            inrem = np.zeros(n, dtype=bool)
            inrem[rem] = True
            for _ in range(10_000):
                newacc = base.copy()
                for j in range(8):
                    fe = rem[internal[rem, j]]
                    if fe.size:
                        np.add.at(newacc, tgt[fe, j],
                                  we[fe, j] * (acc[fe] - ab[fe]))
                delta = np.abs(newacc[rem] - acc[rem]).max()
                acc[rem] = newacc[rem]
                if delta <= 1e-12:
                    break
        parts = [pd.DataFrame({
            "row": rr, "col": cc, "acc": acc,
            "x_row": np.full(n, -1, dtype=np.int64),
            "x_col": np.full(n, -1, dtype=np.int64),
            "kind": np.zeros(n, dtype=np.int32),
        })]
        # cross-tile outflow masses
        for j, (dr, dc, _) in enumerate(D8_OFFS):
            m = (ws[:, j] > 0.0) & ~internal[:, j]
            if m.any():
                parts.append(pd.DataFrame({
                    "row": rr[m], "col": cc[m],
                    "acc": we[m, j] * (acc[m] - ab[m]),
                    "x_row": rr[m] + dr, "x_col": cc[m] + dc,
                    "kind": np.ones(m.sum(), dtype=np.int32),
                }))
        return pd.concat(parts, ignore_index=True)

    # ---- pass 1: per-tile base outflows + linear border response ---------
    rschema = ("x_row long, x_col long, slot_row long, slot_col long, "
               "coef double, kind int")

    def kernel_resp(key, pdf: pd.DataFrame) -> pd.DataFrame:
        tr, tc = int(key[0]), int(key[1])
        r0, c0 = tr * tile, tc * tile
        rr = pdf["row"].to_numpy(np.int64)
        cc = pdf["col"].to_numpy(np.int64)
        n = len(rr)
        ws = np.asarray([list(x) for x in pdf["ws"]], dtype=np.float64)
        ld = (pdf["load"].to_numpy(np.float64)
              if "load" in pdf.columns else np.ones(n))
        we = ws * (pdf["eff"].to_numpy(np.float64)[:, None]
                   if "eff" in pdf.columns else 1.0)
        ab = (pdf["absorp"].to_numpy(np.float64)
              if "absorp" in pdf.columns else np.zeros(n))
        lr, lc = rr - r0, cc - c0
        h, w = int(lr.max()) + 1, int(lc.max()) + 1
        gid = np.full((h, w), -1, dtype=np.int64)
        gid[lr, lc] = np.arange(n)
        tgt = np.full((n, 8), -1, dtype=np.int64)
        for j, (dr, dc, _) in enumerate(D8_OFFS):
            t_lr, t_lc = lr + dr, lc + dc
            m = (ws[:, j] > 0.0) & (t_lr >= 0) & (t_lr < min(tile, h)) \
                & (t_lc >= 0) & (t_lc < min(tile, w))
            tgt[m, j] = gid[t_lr[m], t_lc[m]]
            tgt[m & (tgt[:, j] < 0), j] = -1
        internal = tgt >= 0
        # perimeter slots: only cells on the tile's geometric boundary can
        # receive cross-tile mass
        slots = np.flatnonzero(
            (lr == 0) | (lc == 0) | (lr == tile - 1) | (lc == tile - 1)
        )
        nb = slots.size
        # state col 0 = base accumulation (ext = 0); col 1+k = response to a
        # unit inflow at slot k (acc = load + ext, so d acc[s] / d ext[s]
        # = 1).  Transfers are affine: we*(acc - absorp); the absorption
        # offset applies ONLY to the base column — the response columns
        # carry the pure linear part (superposition).
        state = np.zeros((n, 1 + nb))
        state[:, 0] = ld
        state[slots, 1 + np.arange(nb)] = 1.0

        def _xfer(fe, j):
            tmp = state[fe] * we[fe, j, None]
            tmp[:, 0] -= we[fe, j] * ab[fe]
            return tmp

        indeg = np.bincount(tgt[internal].ravel(), minlength=n)
        processed = np.zeros(n, dtype=bool)
        frontier = np.flatnonzero(indeg == 0)
        while frontier.size:
            processed[frontier] = True
            dec = np.zeros(n, dtype=np.int64)
            for j in range(8):
                fe = frontier[internal[frontier, j]]
                if fe.size:
                    t = tgt[fe, j]
                    np.add.at(state, t, _xfer(fe, j))
                    dec += np.bincount(t, minlength=n)
            indeg = indeg - dec
            frontier = np.flatnonzero((indeg == 0) & ~processed)
        rem = np.flatnonzero(~processed)
        if rem.size:
            base = state.copy()
            inrem = np.zeros(n, dtype=bool)
            inrem[rem] = True
            for _ in range(10_000):
                new = base.copy()
                for j in range(8):
                    fe = rem[internal[rem, j]]
                    if fe.size:
                        np.add.at(new, tgt[fe, j], _xfer(fe, j))
                delta = np.abs(new[rem] - state[rem]).max()
                state[rem] = new[rem]
                if delta <= 1e-12:
                    break
        parts = []
        for j, (dr, dc, _) in enumerate(D8_OFFS):
            m = (ws[:, j] > 0.0) & ~internal[:, j]
            if not m.any():
                continue
            src = np.flatnonzero(m)
            wj = we[src, j]
            dstr, dstc = rr[src] + dr, cc[src] + dc
            parts.append(pd.DataFrame({
                "x_row": dstr, "x_col": dstc,
                "slot_row": np.full(src.size, -1, dtype=np.int64),
                "slot_col": np.full(src.size, -1, dtype=np.int64),
                "coef": wj * (state[src, 0] - ab[src]),
                "kind": np.ones(src.size, dtype=np.int32),
            }))
            resp = wj[:, None] * state[src, 1:]
            ei, bi = np.nonzero(resp)
            if ei.size:
                parts.append(pd.DataFrame({
                    "x_row": dstr[ei], "x_col": dstc[ei],
                    "slot_row": rr[slots[bi]], "slot_col": cc[slots[bi]],
                    "coef": resp[ei, bi],
                    "kind": np.full(ei.size, 2, dtype=np.int32),
                }))
        if not parts:
            return pd.DataFrame({
                "x_row": np.array([], np.int64), "x_col": np.array([], np.int64),
                "slot_row": np.array([], np.int64),
                "slot_col": np.array([], np.int64),
                "coef": np.array([], np.float64), "kind": np.array([], np.int32),
            })
        return pd.concat(parts, ignore_index=True)

    res1 = wdf.groupBy("_tr", "_tc").applyInPandas(kernel_resp, rschema)
    # single-job guard: fetch at most guard+1 rows; an over-limit result is
    # discarded and the distributed fallback below runs instead
    cond = res1.limit(condense._MAX_DRIVER_ROWS + 1).toPandas()
    if len(cond) <= condense._MAX_DRIVER_ROWS:
        ext = None
        if len(cond):
            k1 = (cond[cond["kind"] == 1]
                  .groupby(["x_row", "x_col"])["coef"].sum())
            k2 = (cond[cond["kind"] == 2]
                  .groupby(["x_row", "x_col", "slot_row", "slot_col"])["coef"]
                  .sum().reset_index())
            idx = {cell: i for i, cell in enumerate(k1.index)}
            b_vec = k1.to_numpy(np.float64)
            n_ext = b_vec.size
            # a slot that never receives cross-tile mass has ext = 0 forever
            keep = [i for i, s in enumerate(zip(k2["slot_row"], k2["slot_col"]))
                    if s in idx]
            m = b_vec.copy()
            if keep:
                kk = k2.iloc[keep]
                dst_i = np.array(
                    [idx[c] for c in zip(kk["x_row"], kk["x_col"])], np.int64)
                slot_i = np.array(
                    [idx[c] for c in zip(kk["slot_row"], kk["slot_col"])],
                    np.int64)
                coef = kk["coef"].to_numpy(np.float64)
                # monotone fixpoint of the condensed system (coef >= 0);
                # doubles stabilize exactly once increments underflow
                for _ in range(100_000):
                    m_new = b_vec + np.bincount(
                        dst_i, weights=coef * m[slot_i], minlength=n_ext)
                    if np.array_equal(m_new, m):
                        break
                    m = m_new
            ext = spark.createDataFrame(pd.DataFrame({
                "row": np.array([r for r, _ in k1.index], np.int64),
                "col": np.array([c for _, c in k1.index], np.int64),
                "ext": m,
            }))
        inp = wdf if ext is None else wdf.join(
            F.broadcast(ext), ["row", "col"], "left"
        )
        out = inp.groupBy("_tr", "_tc").applyInPandas(kernel, schema)
        return out.where(F.col("kind") == 0).select(
            "row", "col", F.round("acc", decimals).cast("double").alias("accum")
        )

    # ---- distributed fallback: iterative tile-round exchange -------------
    ext = None  # (row, col, ext) — cross-tile inflow masses
    out = None
    for _ in range(max_rounds):
        inp = wdf if ext is None else wdf.join(
            F.broadcast(ext), ["row", "col"], "left"
        )
        res = (
            inp.groupBy("_tr", "_tc").applyInPandas(kernel, schema)
            .localCheckpoint()
        )
        new_ext = (
            res.where(F.col("kind") == 1)
            .groupBy(F.col("x_row").alias("row"), F.col("x_col").alias("col"))
            .agg(F.sum("acc").alias("ext"))
            # masses leaving the grid (or landing on nodata) reach no cell:
            # dropping them here lets shallow tile graphs converge a full
            # kernel round earlier (single-tile DEMs: 2 rounds -> 1)
            .join(wdf.select("row", "col"), ["row", "col"], "left_semi")
        )
        if ext is None:
            changed = new_ext.limit(1).count()
        else:
            changed = (
                new_ext.alias("n")
                .join(ext.alias("o"), ["row", "col"], "full_outer")
                .where(
                    F.col("n.ext").isNull() | F.col("o.ext").isNull()
                    | (F.col("n.ext") != F.col("o.ext"))
                )
                .limit(1).count()
            )
        out = res
        ext = new_ext.localCheckpoint()
        if changed == 0:
            break
    else:
        raise RuntimeError("fd8_accum did not converge; raise max_rounds")
    return out.where(F.col("kind") == 0).select(
        "row", "col", F.round("acc", decimals).cast("double").alias("accum")
    )


# ---------------------------------------------------------------------------
# D-infinity flow pointer (Tarboton 1997)
# ---------------------------------------------------------------------------
# facet table: (cardinal dr,dc), (diagonal dr,dc), ac (base angle, multiples
# of pi/2 counterclockwise from east), af (+-1) — angle = af * r + ac * pi/2
_DINF_FACETS = [
    ((0, 1), (-1, 1), 0, 1),
    ((-1, 0), (-1, 1), 1, -1),
    ((-1, 0), (-1, -1), 1, 1),
    ((0, -1), (-1, -1), 2, -1),
    ((0, -1), (1, -1), 2, 1),
    ((1, 0), (1, -1), 3, -1),
    ((1, 0), (1, 1), 3, 1),
    ((0, 1), (1, 1), 4, -1),
]


def flow_pointer_dinf(tiles: DataFrame) -> DataFrame:
    """(row, col, angle, slope): D-infinity steepest-descent direction
    (radians counterclockwise from east, facet-continuous) and its slope
    (FlowPointerDinf semantics, Tarboton 1997 8-facet construction).

    Full 3x3 window required; pits/flats (max facet slope <= 0) get
    angle = -1.  First facet in table order wins slope ties, mirroring the
    D8 kernel's scan-order tie rule; transcendental outputs round half-up
    to 6 decimals (shared oracle idiom)."""
    schema = "row long, col long, angle double, slope double"
    qpi = np.pi / 4.0

    def kernel(key, pdf: pd.DataFrame) -> pd.DataFrame:
        asm = _assemble_pad(pdf)
        if asm is None:
            return pd.DataFrame({
                "row": pd.Series([], dtype="int64"),
                "col": pd.Series([], dtype="int64"),
                "angle": pd.Series([], dtype="float64"),
                "slope": pd.Series([], dtype="float64"),
            })
        c, pad = asm
        h, w = int(c.h), int(c.w)
        cv = pad[1:h + 1, 1:w + 1]

        def nb(dr, dc):
            return pad[1 + dr:1 + dr + h, 1 + dc:1 + dc + w]

        s_all = np.full((8, h, w), -np.inf)
        a_all = np.zeros((8, h, w))
        with np.errstate(invalid="ignore"):
            for k, ((r1, c1), (r2, c2), ac, af) in enumerate(_DINF_FACETS):
                e1, e2 = nb(r1, c1), nb(r2, c2)
                s1 = cv - e1
                s2 = e1 - e2
                r = np.arctan2(s2, s1)
                s = np.sqrt(s1 * s1 + s2 * s2)
                low = r < 0.0
                high = r > qpi
                r = np.where(low, 0.0, np.where(high, qpi, r))
                s = np.where(low, s1, np.where(high, (cv - e2) / _SQRT2, s))
                s_all[k] = np.where(np.isnan(s), -np.inf, s)
                a_all[k] = af * r + ac * (np.pi / 2.0)
        best = np.argmax(s_all, axis=0)  # first max in facet order
        ii, jj = np.ogrid[:h, :w]
        smax = s_all[best, ii, jj]
        angle = np.where(smax > 0.0, a_all[best, ii, jj], -1.0)
        slope = np.where(smax > 0.0, smax, 0.0)
        full = ~np.isnan(pad[0:h + 2, 0:w + 2])
        ok = np.ones((h, w), dtype=bool)
        for dr in (-1, 0, 1):
            for dc in (-1, 0, 1):
                ok &= full[1 + dr:1 + dr + h, 1 + dc:1 + dc + w]
        rr, cc = np.nonzero(ok)
        rnd = lambda x: np.floor(x * 1e6 + 0.5) / 1e6  # noqa: E731
        return pd.DataFrame({
            "row": int(c.row0) + rr,
            "col": int(c.col0) + cc,
            "angle": rnd(angle[rr, cc]),
            "slope": rnd(slope[rr, cc]),
        })

    contrib = _halo_contributions(tiles)
    return contrib.groupBy("dst_row", "dst_col").applyInPandas(kernel, schema)


def flowpath_length(pointers: DataFrame, *, tile: int = TILE) -> DataFrame:
    """(row, col, fp_len): downslope D8 flow-path length from each cell to
    its terminal pit (DownslopeFlowpathLength.java semantics; steps 1 /
    sqrt(2)).

    One tile-kernel pass: within-tile path distances via weighted pointer
    jumping; cross-tile remainders are the chased transit distances of each
    path's entry cell (_chase_exits).  Distances accumulate in path order in
    both engines; round(6) guards the cross-engine association at tile
    joins."""
    done, pend = _chase_exits(
        _with_tiles(pointers, tile), tile, "flowpath", F.col("pdist")
    )
    return done.select(
        "row", "col", F.round("pdist", 6).cast("double").alias("fp_len")
    ).unionByName(pend.select(
        "row", "col",
        F.round(F.col("pdist") + F.col("total"), 6).cast("double").alias("fp_len"),
    ))


# ---------------------------------------------------------------------------
# upslope (longest) flow-path length
# ---------------------------------------------------------------------------
_MAXD_SCHEMA = (
    "row long, col long, mx double, x_row long, x_col long, pdist double, kind int"
)


def _tile_maxdist_kernel(tile: int):
    """Tile-local LONGEST upstream path (max-aggregation Kahn) + the same
    cross-edge / transit outputs as the accumulation kernel.  Because a D8
    cell has one outflow, all mass entering at a border cell follows a
    single path, so the condensed entry DAG carries max-distances with the
    additive per-entry path length."""
    def kernel(key, pdf: pd.DataFrame) -> pd.DataFrame:
        g = _tile_paths(key, pdf, tile)
        rr, cc, n = g.rr, g.cc, g.n
        ext = (
            pdf["ext"].fillna(0.0).to_numpy(np.float64)
            if "ext" in pdf.columns else np.zeros(n)
        )
        mx = _tile_kahn(g, ext.copy(), is_max=True)
        null = np.int64(-1)
        parts = [pd.DataFrame({
            "row": rr, "col": cc, "mx": mx,
            "x_row": np.full(n, null), "x_col": np.full(n, null),
            "pdist": np.zeros(n), "kind": np.zeros(n, dtype=np.int32),
        })]
        xs = np.flatnonzero(g.cross)
        if xs.size:
            parts.append(pd.DataFrame({
                "row": rr[xs], "col": cc[xs], "mx": mx[xs] + g.step[xs],
                "x_row": g.t_r[xs], "x_col": g.t_c[xs],
                "pdist": np.zeros(xs.size), "kind": np.full(xs.size, 1, dtype=np.int32),
            }))
        bs = np.flatnonzero(g.on_border)
        if bs.size:
            bd = g.dest[bs]
            be = g.cross[bd]
            parts.append(pd.DataFrame({
                "row": rr[bs], "col": cc[bs], "mx": np.zeros(bs.size),
                "x_row": np.where(be, g.t_r[bd], null),
                "x_col": np.where(be, g.t_c[bd], null),
                "pdist": g.pdist[bs], "kind": np.full(bs.size, 2, dtype=np.int32),
            }))
        return pd.concat(parts, ignore_index=True)

    return kernel


def upslope_max_length(pointers: DataFrame, *, tile: int = TILE) -> DataFrame:
    """(row, col, up_len): longest upstream D8 flow-path length into each
    cell (UpslopeFlowpathLength.java semantics; steps 1 / sqrt(2)).

    Same 2-pass condensed design as flow_accum with MAX in place of SUM:
    the condensed entry DAG's edge weight is each entry's single-path
    within-tile length (D8 outflow is unique)."""
    return _two_pass(
        _with_tiles(pointers, tile), tile, "upslope", is_max=True
    ).select("row", "col", F.round("mx", 6).cast("double").alias("up_len"))


# ---------------------------------------------------------------------------
# D8 mass flux (loading / efficiency / absorption transport)
# ---------------------------------------------------------------------------
def mass_flux_d8(cells: DataFrame, *, tile: int = TILE, max_rounds: int = 64,
                 decimals: int = 4) -> DataFrame:
    """(row, col, flux): D8 mass transport —
    HydroTools/src/plugins/MassFluxD8.java:255-300 semantics:
    flux(c) = load(c) + sum over inflowing neighbors u of
    max(0, (flux(u) - absorp(u)) * eff(u)).

    cells: (row, col, code, load, eff, absorp) with code = the 2^j D8
    pointer.  Unlike flow/FD8 accumulation the per-cell transfer is
    CLAMPED at zero, so the condensed linear-response shortcut does not
    apply; the plan is the iterative tile-round exchange (exact tile-local
    Kahn solves + border mass exchange, converging in tile-graph-depth
    rounds — each round propagates exact values one tile level, so the
    float-equality convergence test terminates at the fixpoint).  Output
    rounds to `decimals` (sum association differs across engines).
    """
    spark = cells.sparkSession
    _scratch.release(spark, "massflux")
    wdf = _scratch.track(
        spark,
        cells.withColumn("_tr", (F.col("row") / tile).cast("long"))
             .withColumn("_tc", (F.col("col") / tile).cast("long")).persist(),
        "massflux",
    )
    wdf.count()

    schema = "row long, col long, acc double, x_row long, x_col long, kind int"

    def kernel(key, pdf: pd.DataFrame) -> pd.DataFrame:
        tr, tc = int(key[0]), int(key[1])
        r0, c0 = tr * tile, tc * tile
        rr = pdf["row"].to_numpy(np.int64)
        cc = pdf["col"].to_numpy(np.int64)
        n = len(rr)
        code = pdf["code"].to_numpy(np.int64)
        load = pdf["load"].to_numpy(np.float64)
        eff = pdf["eff"].to_numpy(np.float64)
        absorp = pdf["absorp"].to_numpy(np.float64)
        extv = (
            pdf["ext"].fillna(0.0).to_numpy(np.float64)
            if "ext" in pdf.columns else np.zeros(n)
        )
        lr, lc = rr - r0, cc - c0
        h, w = int(lr.max()) + 1, int(lc.max()) + 1
        gid = np.full((h, w), -1, dtype=np.int64)
        gid[lr, lc] = np.arange(n)
        j = np.where(code > 0, np.log2(np.maximum(code, 1)).astype(np.int64), -1)
        t_lr = np.where(j >= 0, lr + _D8_DR[np.maximum(j, 0)], -1)
        t_lc = np.where(j >= 0, lc + _D8_DC[np.maximum(j, 0)], -1)
        internal = (j >= 0) & (t_lr >= 0) & (t_lr < h) & (t_lc >= 0) & (t_lc < w)
        tgt = np.full(n, -1, dtype=np.int64)
        tgt[internal] = gid[t_lr[internal], t_lc[internal]]
        internal &= tgt >= 0
        acc = load + extv
        indeg = np.bincount(tgt[internal & (tgt >= 0)], minlength=n)
        frontier = np.flatnonzero(indeg == 0)
        done = np.zeros(n, dtype=bool)
        while frontier.size:
            done[frontier] = True
            send = np.maximum((acc[frontier] - absorp[frontier]) * eff[frontier], 0.0)
            fi = internal[frontier]
            ft = tgt[frontier[fi]]
            np.add.at(acc, ft, send[fi])
            dec = np.bincount(ft, minlength=n)
            indeg = indeg - dec
            frontier = np.flatnonzero((indeg == 0) & ~done)
        parts = [pd.DataFrame({
            "row": rr, "col": cc, "acc": acc,
            "x_row": np.full(n, -1, np.int64), "x_col": np.full(n, -1, np.int64),
            "kind": np.zeros(n, np.int32),
        })]
        xs = np.flatnonzero((j >= 0) & ~internal)
        if xs.size:
            send = np.maximum((acc[xs] - absorp[xs]) * eff[xs], 0.0)
            keep = send > 0.0
            xs = xs[keep]
            if xs.size:
                parts.append(pd.DataFrame({
                    "row": rr[xs], "col": cc[xs], "acc": send[keep],
                    "x_row": rr[xs] + _D8_DR[j[xs]],
                    "x_col": cc[xs] + _D8_DC[j[xs]],
                    "kind": np.ones(xs.size, np.int32),
                }))
        return pd.concat(parts, ignore_index=True)

    def step(ext_df):
        """One LAZY exchange step: tile solves with the given border
        inflow joined in (None = no inflow yet)."""
        inp = wdf if ext_df is None else wdf.join(
            F.broadcast(ext_df), ["row", "col"], "left"
        )
        return inp.groupBy("_tr", "_tc").applyInPandas(kernel, schema)

    def exchange(res):
        """Border-crossing mass produced by a solve, re-keyed to the
        receiving cell (lazy)."""
        return (
            res.where(F.col("kind") == 1)
            .groupBy(F.col("x_row").alias("row"), F.col("x_col").alias("col"))
            .agg(F.sum("acc").alias("ext"))
            .join(wdf.select("row", "col"), ["row", "col"], "left_semi")
        )

    # The exchange table is broadcast back into every solve, i.e. it is
    # REQUIRED to be broadcast-sized — so collecting it to the driver for
    # the convergence test costs nothing extra at any scale the broadcast
    # itself survives.  TWO exchange steps run per materialization: the
    # second consumes the first's exchange table lazily (a broadcast
    # exchange inside one lineage), so each outer round pays one
    # checkpoint + one toPandas for two levels of tile-graph propagation.
    # Convergence: per-cell mass is monotone nondecreasing in the inflow,
    # so ext_{2k+2} == ext_{2k} pins the in-between step too — exact
    # fixpoint detection at double speed.
    ext = None            # driver pandas copy of the current exchange table
    ext_df = None
    out = None
    for _ in range(max_rounds):
        res = step(exchange(step(ext_df))).localCheckpoint()
        new_ext = (
            exchange(res).toPandas()
            .sort_values(["row", "col"]).reset_index(drop=True)
        )
        out = res
        changed = ext is None or not new_ext.equals(ext)
        ext = new_ext
        if not changed or len(new_ext) == 0:
            break
        ext_df = spark.createDataFrame(new_ext, "row long, col long, ext double")
    else:
        raise RuntimeError("mass_flux_d8 did not converge; raise max_rounds")
    return out.where(F.col("kind") == 0).select(
        "row", "col", F.round("acc", decimals).cast("double").alias("flux")
    )


# ---------------------------------------------------------------------------
# downslope index (Hjerdt et al. 2004) via binary lifting
# ---------------------------------------------------------------------------
def downslope_index(cells: DataFrame, *, d: float = 4.0,
                    levels: int = 10, decimals: int = 6) -> DataFrame:
    """(row, col, di): tan(beta_d) = d / L where L is the flow-path length
    to the point d elevation units below the start
    (TerrainAnalysisTools/src/plugins/DownslopeIndex.java:262-309, tangent
    mode; the reference's zLastCell is read at the fixed start cell — an
    off-by-one this implementation replaces with the intended
    previous-cell elevation, tracking Hjerdt et al. 2004).

    Paths that hit a pit/edge before dropping d output (zSt - zEnd) / L
    (nodata when L = 0).  The last partial cell is entered pro-rata:
    len * (zPrev - (zSt - d)) / (zPrev - zNext).

    Distributed shape: BINARY LIFTING over the D8 successor graph — jump
    table J_k = 2^k-step (end, length, endZ) built with k self-joins, then
    every source walks greedily from the top level down ("advance while the
    jumped-to elevation stays above zSt - d", valid because elevation is
    strictly decreasing along D8 paths).  O(log pathlen) equi-joins total,
    no driver loop, no per-cell iteration — the 100 TB path for any
    path-walk query.  Output rounds to `decimals` (the lifted length sum
    associates differently from a sequential walk)."""
    base = cells.select("row", "col", "z", "code")
    dr = F.expr(
        "CASE WHEN code IN (1, 2, 4) THEN -1 WHEN code IN (8, 16) THEN 0 ELSE 1 END"
    )
    dc = F.expr(
        "CASE WHEN code IN (1, 8, 32) THEN -1 WHEN code IN (2, 64) THEN 0 ELSE 1 END"
    )
    ln = F.expr(
        f"CASE WHEN code IN (1, 4, 32, 128) THEN {_SQRT2!r} ELSE 1e0 END"
    )
    ends = base.select(
        F.col("row").alias("erow"), F.col("col").alias("ecol"),
        F.col("z").alias("ez"),
    )
    j0 = (
        base.where(F.col("code") > 0)
        .select("row", "col", (F.col("row") + dr).alias("erow"),
                (F.col("col") + dc).alias("ecol"), ln.alias("jlen"))
        .join(ends, ["erow", "ecol"])
        # each lifted level references the previous one TWICE: without a
        # lineage cut the lazy plan doubles per level (2^levels copies of
        # j0) — materialize every table; they are reused datasets anyway
        .localCheckpoint()
    )
    jumps = [j0]
    for _ in range(1, levels):
        a = jumps[-1].alias("a")
        b = jumps[-1].alias("b")
        nxt = (
            a.join(b, (F.col("a.erow") == F.col("b.row"))
                   & (F.col("a.ecol") == F.col("b.col")))
            .select(
                F.col("a.row").alias("row"), F.col("a.col").alias("col"),
                F.col("b.erow").alias("erow"), F.col("b.ecol").alias("ecol"),
                (F.col("a.jlen") + F.col("b.jlen")).alias("jlen"),
                F.col("b.ez").alias("ez"),
            )
            .localCheckpoint()
        )
        # `levels` is a CAP, not a target: once no cell has a 2^k-step
        # successor the table is empty and every higher level is empty too
        # (a 2^(k+1) jump composes two 2^k jumps) — stop lifting there.
        # The count is free: the table was just materialized by the
        # checkpoint.  The descent below is invariant to extra all-empty
        # top levels (tested), so starting from the first empty level is
        # identical output with fewer jobs and a shallower plan.
        if nxt.count() == 0:
            break
        jumps.append(nxt)
    state = base.where(F.col("code") > 0).select(
        F.col("row").alias("srow"), F.col("col").alias("scol"),
        F.col("z").alias("zst"), F.col("row").alias("cr"),
        F.col("col").alias("cc"), F.col("z").alias("cz"),
        F.lit(0.0).alias("fl"),
    )
    for k in range(len(jumps) - 1, -1, -1):
        jk = jumps[k].select(
            F.col("row").alias("cr"), F.col("col").alias("cc"),
            F.col("erow").alias("_er"), F.col("ecol").alias("_ec"),
            F.col("jlen").alias("_jl"), F.col("ez").alias("_ez"),
        )
        adv = F.col("_ez").isNotNull() & (F.col("_ez") > F.col("zst") - F.lit(d))
        state = (
            state.join(jk, ["cr", "cc"], "left")
            .select(
                "srow", "scol", "zst",
                F.when(adv, F.col("_er")).otherwise(F.col("cr")).alias("cr"),
                F.when(adv, F.col("_ec")).otherwise(F.col("cc")).alias("cc"),
                F.when(adv, F.col("_ez")).otherwise(F.col("cz")).alias("cz"),
                F.when(adv, F.col("fl") + F.col("_jl")).otherwise(F.col("fl")).alias("fl"),
            )
        )
    fin = state.join(
        j0.select(
            F.col("row").alias("cr"), F.col("col").alias("cc"),
            F.col("jlen").alias("_jl"), F.col("ez").alias("_ez"),
        ),
        ["cr", "cc"], "left",
    )
    partial = F.col("_jl") * (F.col("cz") - (F.col("zst") - F.lit(d))) \
        / (F.col("cz") - F.col("_ez"))
    val = F.when(
        F.col("_ez").isNotNull(), F.lit(d) / (F.col("fl") + partial)
    ).otherwise(
        F.when(F.col("fl") > 0, (F.col("zst") - F.col("cz")) / F.col("fl"))
    )
    return (
        fin.select(
            F.col("srow").alias("row"), F.col("scol").alias("col"),
            F.round(val, decimals).cast("double").alias("di"),
        )
        .where(F.col("di").isNotNull())
    )


def remove_short_streams(pointers: DataFrame, *, threshold: int = 5,
                         min_len: float = 3.0, tile: int = TILE) -> DataFrame:
    """RemoveShortStreams (StreamNetworkAnalysisTools
    RemoveShortStreams.java:274-355): drop every junction-cut stream link
    whose along-link length is below `min_len`.  Same labeling machinery
    as stream_link_slope (tile union-find links); returns the surviving
    stream cells (row, col, link)."""
    from .clump import components_from_edges

    spark = pointers.sparkSession
    _scratch.release(spark, "rmshort")
    pointers = _scratch.track(spark, pointers.persist(), "rmshort")
    acc = flow_accum(pointers, tile=tile)
    stream = _scratch.track(
        spark,
        acc.where(F.col("accum") >= threshold).select("row", "col").persist(),
        "rmshort",
    )
    dr = F.expr("element_at(array(-1,-1,-1,0,0,1,1,1), CAST(log2(code) AS INT) + 1)")
    dc = F.expr("element_at(array(-1,0,1,-1,1,-1,0,1), CAST(log2(code) AS INT) + 1)")
    sd = (
        stream.join(pointers, ["row", "col"], "inner")
        .where(F.col("code") > 0)
        .select("row", "col",
                (F.col("row") + dr).alias("nr"), (F.col("col") + dc).alias("nc"))
    )
    st_t = stream.select(F.col("row").alias("nr"), F.col("col").alias("nc"))
    sedge = sd.join(st_t, ["nr", "nc"], "left_semi")
    junc = (
        sedge.groupBy("nr", "nc").agg(F.count(F.lit(1)).alias("_n"))
        .where(F.col("_n") >= 2).select("nr", "nc")
    )
    kept = sedge.join(junc, ["nr", "nc"], "left_anti")
    lab = components_from_edges(stream, kept, tile=tile)
    dist = F.when((F.col("row") != F.col("nr")) & (F.col("col") != F.col("nc")),
                  F.lit(_SQRT2)).otherwise(F.lit(1.0))
    length = (
        kept.join(lab, ["row", "col"], "inner")
        .groupBy("label").agg(F.sum(dist).alias("_len"))
    )
    survivors = length.where(F.col("_len") >= min_len).select("label")
    return (
        lab.join(survivors, "label", "left_semi")
        .select("row", "col", F.col("label").alias("link"))
    )


def avg_slope_to_divide(pointers: DataFrame, dem_cells: DataFrame, *,
                        tile: int = TILE) -> DataFrame:
    """(row, col, asd): mean slope gradient (degrees) from each cell to its
    upslope divide cells — TerrainAnalysisTools
    AverageSlopeToDivide.java:296-385: atan((meanDivideElev - z) /
    meanFlowpathLen), 0 where no divide drains in.

    Three integer-weighted accumulations over the unchanged tile flow
    kernel (divide count, divide elevation, divide downslope-path length)
    plus the flowpath-length identity pathlen(d -> c) = D(d) - D(c); all
    sums are exact micro-scaled integers, with one transcendental atan at
    the end (round 6).  dem_cells: (row, col, v)."""
    inflow_tgt = pointers.where(F.col("code") > 0).select(
        (F.col("row") + F.expr(
            "element_at(array(-1,-1,-1,0,0,1,1,1), CAST(log2(code) AS INT) + 1)"
        )).alias("row"),
        (F.col("col") + F.expr(
            "element_at(array(-1,0,1,-1,1,-1,0,1), CAST(log2(code) AS INT) + 1)"
        )).alias("col"),
    ).distinct()
    isdiv = pointers.join(inflow_tgt, ["row", "col"], "left_anti") \
        .select("row", "col", F.lit(1).alias("_d")) \
        .unionByName(
            pointers.join(inflow_tgt, ["row", "col"], "left_semi")
            .select("row", "col", F.lit(0).alias("_d"))
        )
    D = flowpath_length(pointers, tile=tile)
    base = (
        pointers.select("row", "col")
        .join(isdiv, ["row", "col"])
        .join(D, ["row", "col"])
        .join(dem_cells.select("row", "col", "v"), ["row", "col"])
        .select(
            "row", "col", "_d", "v",
            F.expr("CAST(FLOOR(fp_len * 1e6 + 0.5e0) AS BIGINT)").alias("_dm"),
            F.expr("CAST(FLOOR(v * 1e6 + 0.5e0) AS BIGINT)").alias("_zm"),
        )
        .localCheckpoint()  # consumed 4x; flowpath scratch gets evicted below
    )
    # eager localCheckpoint: each weighted_flow_accum call releases its
    # predecessor's scratch caches, so a lazy result would recompute its
    # whole kernel lineage at the final join
    wN = weighted_flow_accum(
        pointers, base.select("row", "col", F.col("_d").cast("long").alias("w0")),
        tile=tile,
    ).withColumnRenamed("waccum", "aN").localCheckpoint()
    wE = weighted_flow_accum(
        pointers, base.select("row", "col", (F.col("_d") * F.col("_zm")).alias("w0")),
        tile=tile,
    ).withColumnRenamed("waccum", "aE").localCheckpoint()
    wD = weighted_flow_accum(
        pointers, base.select("row", "col", (F.col("_d") * F.col("_dm")).alias("w0")),
        tile=tile,
    ).withColumnRenamed("waccum", "aD").localCheckpoint()
    j = (
        base.join(wN, ["row", "col"]).join(wE, ["row", "col"])
        .join(wD, ["row", "col"])
        .select(
            "row", "col", "v",
            (F.col("aN").cast("long") - F.col("_d")).alias("n_div"),
            (F.col("aE").cast("long") - F.col("_d") * F.col("_zm")).alias("e_sum"),
            (F.col("aD").cast("long") - F.col("_d") * F.col("_dm")).alias("sd_sum"),
            F.col("_dm").alias("dm"),
        )
    )
    asd = (
        "CASE WHEN n_div > 0 THEN "
        "FLOOR(DEGREES(ATAN(((CAST(e_sum AS DOUBLE) / n_div) / 1e6 - v) "
        "/ ((CAST(sd_sum - n_div * dm AS DOUBLE) / n_div) / 1e6))) "
        "* 1e6 + 0.5e0) / 1e6 ELSE 0e0 END"
    )
    return j.select("row", "col", F.expr(asd).alias("asd"))


def stream_relief(cells: DataFrame, stream: DataFrame, *,
                  levels: int = 10) -> DataFrame:
    """(row, col, dist_to_stream, hand): along-flowpath distance to the
    first stream cell and elevation above it (GeasyTools
    ElevAboveCreek.java — the height-above-nearest-drainage product).

    cells: (row, col, z, code); stream: (row, col).  Stream membership is
    closed downstream (accumulation grows along D8), so "first stream cell
    on the path" bounds a non-stream prefix — BINARY LIFTING over the
    successor graph RESTRICTED to non-stream endpoints reaches the last
    pre-stream cell in O(log pathlen) equi-joins, then one unrestricted
    step lands on the stream cell.  Stream cells output (0, 0); paths that
    exit the grid without meeting a stream are omitted (no drainage).
    dist rounds to 6 (lifted length association); hand is dyadic-exact."""
    base = cells.select("row", "col", "z", "code")
    smark = stream.select("row", "col").withColumn("_s", F.lit(True))
    dr = F.expr(
        "CASE WHEN code IN (1, 2, 4) THEN -1 WHEN code IN (8, 16) THEN 0 ELSE 1 END"
    )
    dc = F.expr(
        "CASE WHEN code IN (1, 8, 32) THEN -1 WHEN code IN (2, 64) THEN 0 ELSE 1 END"
    )
    ln = F.expr(
        f"CASE WHEN code IN (1, 4, 32, 128) THEN {_SQRT2!r} ELSE 1e0 END"
    )
    lab = base.join(smark, ["row", "col"], "left").select(
        "row", "col", "z", "code", F.coalesce("_s", F.lit(False)).alias("_s")
    )
    ends = lab.select(F.col("row").alias("erow"), F.col("col").alias("ecol"),
                      F.col("z").alias("ez"), F.col("_s").alias("es"))
    j0_full = (
        lab.where(F.col("code") > 0)
        .select("row", "col", (F.col("row") + dr).alias("erow"),
                (F.col("col") + dc).alias("ecol"), ln.alias("jlen"))
        .join(ends, ["erow", "ecol"]).localCheckpoint()
    )
    j0 = (
        lab.where((F.col("code") > 0) & (~F.col("_s")))
        .select("row", "col", (F.col("row") + dr).alias("erow"),
                (F.col("col") + dc).alias("ecol"), ln.alias("jlen"))
        .join(ends.where(~F.col("es")).drop("es"), ["erow", "ecol"])
        .localCheckpoint()
    )
    jumps = [j0]
    for _ in range(1, levels):
        a = jumps[-1].alias("a")
        b = jumps[-1].alias("b")
        nxt = (
            a.join(b, (F.col("a.erow") == F.col("b.row"))
                   & (F.col("a.ecol") == F.col("b.col")))
            .select(
                F.col("a.row").alias("row"), F.col("a.col").alias("col"),
                F.col("b.erow").alias("erow"), F.col("b.ecol").alias("ecol"),
                (F.col("a.jlen") + F.col("b.jlen")).alias("jlen"),
            )
            .localCheckpoint()
        )
        # `levels` caps the lift; an empty 2^k level makes all higher
        # levels empty (composition of two empties) — stop there.  The
        # count reads the just-materialized checkpoint; descent is
        # invariant to dropped all-empty top levels (tested).
        if nxt.count() == 0:
            break
        jumps.append(nxt)
    state = lab.where(~F.col("_s")).select(
        F.col("row").alias("srow"), F.col("col").alias("scol"),
        F.col("z").alias("zst"), F.col("row").alias("cr"),
        F.col("col").alias("cc"), F.lit(0.0).alias("fl"),
    )
    for k in range(len(jumps) - 1, -1, -1):
        jk = jumps[k].select(
            F.col("row").alias("cr"), F.col("col").alias("cc"),
            F.col("erow").alias("_er"), F.col("ecol").alias("_ec"),
            F.col("jlen").alias("_jl"),
        )
        adv = F.col("_er").isNotNull()
        state = (
            state.join(jk, ["cr", "cc"], "left")
            .select(
                "srow", "scol", "zst",
                F.when(adv, F.col("_er")).otherwise(F.col("cr")).alias("cr"),
                F.when(adv, F.col("_ec")).otherwise(F.col("cc")).alias("cc"),
                F.when(adv, F.col("fl") + F.col("_jl")).otherwise(F.col("fl")).alias("fl"),
            )
        )
    fin = state.join(
        j0_full.select(
            F.col("row").alias("cr"), F.col("col").alias("cc"),
            F.col("jlen").alias("_jl"), F.col("ez").alias("_ez"),
            F.col("es").alias("_es"),
        ),
        ["cr", "cc"], "inner",
    ).where(F.col("_es"))
    nonstream = fin.select(
        F.col("srow").alias("row"), F.col("scol").alias("col"),
        F.round(F.col("fl") + F.col("_jl"), 6).cast("double").alias("dist_to_stream"),
        (F.col("zst") - F.col("_ez")).alias("hand"),
    )
    zero = lab.where(F.col("_s")).select(
        "row", "col", F.lit(0.0).alias("dist_to_stream"), F.lit(0.0).alias("hand")
    )
    return nonstream.unionByName(zero)


# ---------------------------------------------------------------------------
# median upstream area (Seibert & Vis creek-network median)
# ---------------------------------------------------------------------------
# reference scan order c = 0..7 with (xd, yd) column/row offsets and the
# diagonal distances; first index wins slope ties (strict > replace).
_MUA_OFFS = [  # (ci, dr, dc, dist)
    (0, -1, 0, 1.0), (1, -1, -1, _SQRT2), (2, 0, -1, 1.0), (3, 1, -1, _SQRT2),
    (4, 1, 0, 1.0), (5, 1, 1, _SQRT2), (6, 0, 1, 1.0), (7, -1, 1, _SQRT2),
]


def median_upstream_area(dem: DataFrame, acc: DataFrame, *,
                         threshold: int = 10, rounds: int = 16) -> DataFrame:
    """(row, col, mua): per creek cell, the MEDIAN of the upslope-area
    values over every upstream creek cell (self-inclusive) —
    GeasyTools/src/plugins/MedianUpstreamArea.java:300-460 semantics.

    dem: (row, col, z) live cells; acc: (row, col, accum).  Creek = cells
    with accum >= threshold; creek flow directions are recomputed by
    steepest descent among strictly-lower creek NEIGHBORS (the reference
    derives its own stream directions from the DEM rather than taking the
    D8 pointer), first scan-order index winning slope ties.  Isolated
    creek cells output their own value (the reference leaves them at the
    raster's initial value — an init artifact, not a semantic).

    Distributed shape: the median is not a mergeable aggregate, so the
    upstream multiset is materialized as reachability pairs via DOUBLING
    over the creek forest (P <- P union P compose P), O(log pathlen)
    self-joins; the pair count equals the sum of upstream-set sizes — the
    exact support of the answer, so no exact plan does asymptotically
    less.  The creek network is a ~1% subset of the raster, which is what
    keeps the closure affordable at scale."""
    from pyspark.sql import Window

    ck = (
        acc.where(F.col("accum") >= threshold)
        .join(dem, ["row", "col"])
        .select("row", "col", "z", F.col("accum").cast("double").alias("ua"))
        .localCheckpoint()
    )
    offs = ", ".join(
        f"struct({ci} AS ci, {dr}L AS dr, {dc}L AS dc, "
        f"CAST({dd!r}e0 AS DOUBLE) AS dd)"
        for ci, dr, dc, dd in _MUA_OFFS
    )
    a = ck.select(
        "row", "col", "z", F.expr(f"explode(array({offs}))").alias("_o")
    ).select(
        "row", "col", "z", F.col("_o.ci").alias("ci"), F.col("_o.dd").alias("dd"),
        (F.col("row") + F.col("_o.dr")).alias("nrow"),
        (F.col("col") + F.col("_o.dc")).alias("ncol"),
    )
    b = ck.select(F.col("row").alias("nrow"), F.col("col").alias("ncol"),
                  F.col("z").alias("nz"))
    cand = a.join(b, ["nrow", "ncol"]).where(F.col("nz") < F.col("z"))
    w = Window.partitionBy("row", "col").orderBy(
        ((F.col("z") - F.col("nz")) / F.col("dd")).desc(), F.col("ci").asc()
    )
    ed = (
        cand.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1)
        .select(F.col("row").alias("ur"), F.col("col").alias("uc"),
                F.col("nrow").alias("xr"), F.col("ncol").alias("xc"))
        .localCheckpoint()
    )
    pairs = ed
    n = pairs.count()
    for _ in range(rounds):
        comp = (
            pairs.alias("a").join(
                pairs.alias("b"),
                (F.col("a.xr") == F.col("b.ur")) & (F.col("a.xc") == F.col("b.uc")),
            )
            .select(F.col("a.ur").alias("ur"), F.col("a.uc").alias("uc"),
                    F.col("b.xr").alias("xr"), F.col("b.xc").alias("xc"))
        )
        new = pairs.unionByName(comp).distinct().localCheckpoint()
        nn = new.count()
        pairs = new
        if nn == n:
            break
        n = nn
    else:
        raise RuntimeError("median_upstream_area closure did not converge; "
                           "raise rounds")
    allp = ck.select(
        F.col("row").alias("ur"), F.col("col").alias("uc"),
        F.col("row").alias("xr"), F.col("col").alias("xc"),
    ).unionByName(pairs)
    vals = allp.join(
        ck.select(F.col("row").alias("ur"), F.col("col").alias("uc"), "ua"),
        ["ur", "uc"],
    )
    return vals.groupBy(F.col("xr").alias("row"), F.col("xc").alias("col")) \
        .agg(F.expr("percentile(ua, 5e-1)").alias("mua"))


# ---------------------------------------------------------------------------
# branch length (first-common-descendant distance over the D8 forest)
# ---------------------------------------------------------------------------
def branch_length(pointers: DataFrame, *, levels: int = 12,
                  decimals: int = 6) -> DataFrame:
    """(row, col, bl): BranchLength —
    TerrainAnalysisTools/src/plugins/BranchLength.java:246-420 semantics.
    For every adjacent cell pair (4 forward offsets E, SE, S, SW), both D8
    flowpaths are traced downstream to their FIRST COMMON CELL; each
    cell's candidate is its along-path distance to that meet point (or its
    full flowpath length when the two paths never meet, i.e. different
    terminals); a cell outputs the MAX over all pairs it participates in.
    Cells participating in no pair (isolated) are omitted, mirroring the
    reference's untouched-nodata init.

    Distributed shape: the reference's dual walker is O(n * pathlen); here
    the meet is a lowest-common-descendant query answered with BINARY
    LIFTING — jump tables J_k = 2^k-step (end, length), a depth/terminal
    pass, per-pair depth ALIGNMENT (binary decomposition of the depth
    difference), then the classic top-down descent ("advance both while
    the 2^k jumps differ"); meet = the one-step jump after the descent.
    O(log pathlen) broadcast-sized equi-joins per phase, no iteration over
    path cells — the same 100 TB path-walk shape as downslope_index.
    Output rounds to `decimals` (lifted length sums associate differently
    from the sequential walk)."""
    base = pointers.select("row", "col", "code")
    dr = F.expr(
        "CASE WHEN code IN (1, 2, 4) THEN -1 WHEN code IN (8, 16) THEN 0 ELSE 1 END"
    )
    dc = F.expr(
        "CASE WHEN code IN (1, 8, 32) THEN -1 WHEN code IN (2, 64) THEN 0 ELSE 1 END"
    )
    ln = F.expr(
        f"CASE WHEN code IN (1, 4, 32, 128) THEN {_SQRT2!r} ELSE 1e0 END"
    )
    ends = base.select(F.col("row").alias("erow"), F.col("col").alias("ecol"))
    j0 = (
        base.where(F.col("code") > 0)
        .select("row", "col", (F.col("row") + dr).alias("erow"),
                (F.col("col") + dc).alias("ecol"), ln.alias("jlen"))
        .join(ends, ["erow", "ecol"], "left_semi")
        .localCheckpoint()
    )
    jumps = [j0]
    for _ in range(1, levels):
        a = jumps[-1].alias("a")
        b = jumps[-1].alias("b")
        nxt = (
            a.join(b, (F.col("a.erow") == F.col("b.row"))
                   & (F.col("a.ecol") == F.col("b.col")))
            .select(
                F.col("a.row").alias("row"), F.col("a.col").alias("col"),
                F.col("b.erow").alias("erow"), F.col("b.ecol").alias("ecol"),
                (F.col("a.jlen") + F.col("b.jlen")).alias("jlen"),
            )
            .localCheckpoint()
        )
        if nxt.count() == 0:
            break
        jumps.append(nxt)
    top = len(jumps)

    # depth / terminal / full-length pass (greedy top-down binary walk)
    st = base.select(
        "row", "col", F.col("row").alias("cr"), F.col("col").alias("cc"),
        F.lit(0).cast("long").alias("dep"), F.lit(0.0).alias("plen"),
    )
    for k in range(top - 1, -1, -1):
        jk = jumps[k].select(
            F.col("row").alias("cr"), F.col("col").alias("cc"),
            F.col("erow").alias("_er"), F.col("ecol").alias("_ec"),
            F.col("jlen").alias("_jl"),
        )
        adv = F.col("_er").isNotNull()
        st = st.join(jk, ["cr", "cc"], "left").select(
            "row", "col",
            F.when(adv, F.col("_er")).otherwise(F.col("cr")).alias("cr"),
            F.when(adv, F.col("_ec")).otherwise(F.col("cc")).alias("cc"),
            F.when(adv, F.col("dep") + F.lit(2 ** k)).otherwise(F.col("dep")).alias("dep"),
            F.when(adv, F.col("plen") + F.col("_jl")).otherwise(F.col("plen")).alias("plen"),
        )
    pst = st.select(
        "row", "col", F.col("cr").alias("tr"), F.col("cc").alias("tc"),
        "dep", "plen",
    ).localCheckpoint()

    # adjacent pairs: 4 forward offsets among live cells
    offs = ", ".join(f"struct({o[0]}L AS dr, {o[1]}L AS dc)"
                     for o in [(0, 1), (1, 1), (1, 0), (1, -1)])
    prs = (
        base.select("row", "col", F.expr(f"explode(array({offs}))").alias("_o"))
        .select(F.col("row").alias("ar"), F.col("col").alias("ac"),
                (F.col("row") + F.col("_o.dr")).alias("br"),
                (F.col("col") + F.col("_o.dc")).alias("bc"))
        .join(base.select(F.col("row").alias("br"), F.col("col").alias("bc")),
              ["br", "bc"], "left_semi")
    )
    sa = pst.select(F.col("row").alias("ar"), F.col("col").alias("ac"),
                    F.col("tr").alias("atr"), F.col("tc").alias("atc"),
                    F.col("dep").alias("adep"), F.col("plen").alias("aplen"))
    sb = pst.select(F.col("row").alias("br"), F.col("col").alias("bc"),
                    F.col("tr").alias("btr"), F.col("tc").alias("btc"),
                    F.col("dep").alias("bdep"), F.col("plen").alias("bplen"))
    pr = prs.join(sa, ["ar", "ac"]).join(sb, ["br", "bc"]).localCheckpoint()

    nomeet = pr.where((F.col("atr") != F.col("btr"))
                      | (F.col("atc") != F.col("btc"))).select(
        "ar", "ac", "br", "bc",
        F.col("aplen").alias("la"), F.col("bplen").alias("lb"),
    )

    # meet case: align depths, then LCD descent
    mt = pr.where((F.col("atr") == F.col("btr"))
                  & (F.col("atc") == F.col("btc"))).select(
        "ar", "ac", "br", "bc",
        F.col("ar").alias("car"), F.col("ac").alias("cac"),
        F.col("br").alias("cbr"), F.col("bc").alias("cbc"),
        "adep", "bdep", F.lit(0.0).alias("la"), F.lit(0.0).alias("lb"),
    )
    for k in range(top - 1, -1, -1):
        ja = jumps[k].select(
            F.col("row").alias("car"), F.col("col").alias("cac"),
            F.col("erow").alias("_aer"), F.col("ecol").alias("_aec"),
            F.col("jlen").alias("_ajl"),
        )
        jb = jumps[k].select(
            F.col("row").alias("cbr"), F.col("col").alias("cbc"),
            F.col("erow").alias("_ber"), F.col("ecol").alias("_bec"),
            F.col("jlen").alias("_bjl"),
        )
        adva = (F.col("adep") - F.col("bdep")) >= F.lit(2 ** k)
        advb = (F.col("bdep") - F.col("adep")) >= F.lit(2 ** k)
        mt = mt.join(ja, ["car", "cac"], "left").join(jb, ["cbr", "cbc"], "left") \
            .select(
                "ar", "ac", "br", "bc",
                F.when(adva, F.col("_aer")).otherwise(F.col("car")).alias("car"),
                F.when(adva, F.col("_aec")).otherwise(F.col("cac")).alias("cac"),
                F.when(advb, F.col("_ber")).otherwise(F.col("cbr")).alias("cbr"),
                F.when(advb, F.col("_bec")).otherwise(F.col("cbc")).alias("cbc"),
                F.when(adva, F.col("adep") - F.lit(2 ** k)).otherwise(F.col("adep")).alias("adep"),
                F.when(advb, F.col("bdep") - F.lit(2 ** k)).otherwise(F.col("bdep")).alias("bdep"),
                F.when(adva, F.col("la") + F.col("_ajl")).otherwise(F.col("la")).alias("la"),
                F.when(advb, F.col("lb") + F.col("_bjl")).otherwise(F.col("lb")).alias("lb"),
            )
    mt = mt.localCheckpoint()
    for k in range(top - 1, -1, -1):
        ja = jumps[k].select(
            F.col("row").alias("car"), F.col("col").alias("cac"),
            F.col("erow").alias("_aer"), F.col("ecol").alias("_aec"),
            F.col("jlen").alias("_ajl"),
        )
        jb = jumps[k].select(
            F.col("row").alias("cbr"), F.col("col").alias("cbc"),
            F.col("erow").alias("_ber"), F.col("ecol").alias("_bec"),
            F.col("jlen").alias("_bjl"),
        )
        adv = (
            F.col("_aer").isNotNull() & F.col("_ber").isNotNull()
            & ((F.col("_aer") != F.col("_ber")) | (F.col("_aec") != F.col("_bec")))
        )
        mt = mt.join(ja, ["car", "cac"], "left").join(jb, ["cbr", "cbc"], "left") \
            .select(
                "ar", "ac", "br", "bc", "adep", "bdep",
                F.when(adv, F.col("_aer")).otherwise(F.col("car")).alias("car"),
                F.when(adv, F.col("_aec")).otherwise(F.col("cac")).alias("cac"),
                F.when(adv, F.col("_ber")).otherwise(F.col("cbr")).alias("cbr"),
                F.when(adv, F.col("_bec")).otherwise(F.col("cbc")).alias("cbc"),
                F.when(adv, F.col("la") + F.col("_ajl")).otherwise(F.col("la")).alias("la"),
                F.when(adv, F.col("lb") + F.col("_bjl")).otherwise(F.col("lb")).alias("lb"),
            )
    j0a = j0.select(F.col("row").alias("car"), F.col("col").alias("cac"),
                    F.col("jlen").alias("_ajl"))
    j0b = j0.select(F.col("row").alias("cbr"), F.col("col").alias("cbc"),
                    F.col("jlen").alias("_bjl"))
    sep = (F.col("car") != F.col("cbr")) | (F.col("cac") != F.col("cbc"))
    met = mt.join(j0a, ["car", "cac"], "left").join(j0b, ["cbr", "cbc"], "left") \
        .select(
            "ar", "ac", "br", "bc",
            F.when(sep, F.col("la") + F.col("_ajl")).otherwise(F.col("la")).alias("la"),
            F.when(sep, F.col("lb") + F.col("_bjl")).otherwise(F.col("lb")).alias("lb"),
        )

    allc = nomeet.unionByName(met)
    contrib = allc.select(F.col("ar").alias("row"), F.col("ac").alias("col"),
                          F.col("la").alias("bl")) \
        .unionByName(allc.select(F.col("br").alias("row"),
                                 F.col("bc").alias("col"),
                                 F.col("lb").alias("bl")))
    return contrib.groupBy("row", "col").agg(
        F.round(F.max("bl"), decimals).cast("double").alias("bl")
    )


# ---------------------------------------------------------------------------
# MDInf stream heads (truncated-accumulation creek initiation)
# ---------------------------------------------------------------------------
def stream_heads_mdinf(tiles: DataFrame, *, threshold: float = 30.0,
                       tile: int = TILE, max_rounds: int = 64) -> DataFrame:
    """(row, col, head): StreamHeadsMDInf —
    WhiteboxGIS/.../StreamHeadsMDInf.java:330-540 semantics.  MDInf
    accumulation runs only while a cell's area a <= threshold; a crossing
    cell becomes a CREEK cell: its area is capped at the threshold and it
    forwards exactly `threshold` along its single D8 direction, marking
    the receiver as creek-fed (the receiver always crosses too).  head = a
    crossing cell that is NOT creek-fed — the first crossing on its path.
    Downstream truncation changes the whole field (split mass disappears,
    D8 pushes appear), so heads cannot be read off the untruncated
    accumulation; the dynamics are simulated.  D8 direction = the engine's
    shared steepest-descent kernel (flow_pointer_d8), used identically in
    the oracle.

    Distributed shape: the truncated transport is NONLINEAR (per-cell mode
    switch), so like the clamped D8 mass flux it runs as the iterative
    tile-round exchange — exact in-tile Kahn solves, cross-tile (mass,
    creek-marker) exchange, converging in tile-graph depth rounds (both
    the mass field and the marker set are monotone nondecreasing)."""
    from .raster import explode_cells

    spark = tiles.sparkSession
    _scratch.release(spark, "shmdinf")
    z = explode_cells(tiles).where(F.col("value") != NODATA) \
        .withColumnRenamed("value", "z")
    base = (
        mdinf_weights(tiles)
        .join(flow_pointer_d8(tiles).select("row", "col", "code"),
              ["row", "col"])
        .join(z, ["row", "col"])
    )
    wdf = _scratch.track(
        spark,
        base.withColumn("_tr", (F.col("row") / tile).cast("long"))
            .withColumn("_tc", (F.col("col") / tile).cast("long")).persist(),
        "shmdinf",
    )
    wdf.count()
    T = float(threshold)

    schema = ("row long, col long, acc double, fed int, crossed int, "
              "x_row long, x_col long, kind int")

    def kernel(key, pdf: pd.DataFrame) -> pd.DataFrame:
        tr, tc = int(key[0]), int(key[1])
        r0, c0 = tr * tile, tc * tile
        rr = pdf["row"].to_numpy(np.int64)
        cc = pdf["col"].to_numpy(np.int64)
        n = len(rr)
        ws = np.asarray([list(x) for x in pdf["ws"]], dtype=np.float64)
        code = pdf["code"].to_numpy(np.int64)
        extv = (pdf["ext"].fillna(0.0).to_numpy(np.float64)
                if "ext" in pdf.columns else np.zeros(n))
        extf = (pdf["extfed"].fillna(0).to_numpy(np.int64)
                if "extfed" in pdf.columns else np.zeros(n, np.int64))
        lr, lc = rr - r0, cc - c0
        h, w = int(lr.max()) + 1, int(lc.max()) + 1
        gid = np.full((h, w), -1, dtype=np.int64)
        gid[lr, lc] = np.arange(n)
        # mdinf split targets
        tgt = np.full((n, 8), -1, dtype=np.int64)
        xok = np.zeros((n, 8), dtype=bool)   # ws>0 but off-tile
        for j, (dr, dc, _) in enumerate(D8_OFFS):
            t_lr, t_lc = lr + dr, lc + dc
            m = ws[:, j] > 0.0
            inb = m & (t_lr >= 0) & (t_lr < h) & (t_lc >= 0) & (t_lc < w)
            tgt[inb, j] = gid[t_lr[inb], t_lc[inb]]
            inb &= tgt[:, j] >= 0
            xok[:, j] = m & ~inb
            tgt[~inb, j] = -1
        # d8 target (creek mode)
        jd8 = np.where(code > 0,
                       np.log2(np.maximum(code, 1)).astype(np.int64), -1)
        d8_lr = np.where(jd8 >= 0, lr + _D8_DR[np.maximum(jd8, 0)], -1)
        d8_lc = np.where(jd8 >= 0, lc + _D8_DC[np.maximum(jd8, 0)], -1)
        d8in = (jd8 >= 0) & (d8_lr >= 0) & (d8_lr < h) & (d8_lc >= 0) & (d8_lc < w)
        d8t = np.full(n, -1, dtype=np.int64)
        d8t[d8in] = gid[d8_lr[d8in], d8_lc[d8in]]
        d8in &= d8t >= 0
        # Kahn indegree over the union of potential mass edges
        indeg = np.zeros(n, dtype=np.int64)
        np.add.at(indeg, tgt[tgt >= 0], 1)
        # the d8 edge may coincide with an mdinf edge (same direction);
        # count it as an extra dependency only when it is NOT already in
        # the mdinf edge set, and decrement symmetrically below
        dup = d8in & (np.take_along_axis(tgt, np.maximum(jd8, 0)[:, None], 1)[:, 0] >= 0)
        add_d8 = d8in & ~dup
        np.add.at(indeg, d8t[add_d8], 1)
        acc = 1.0 + extv
        fed = extf.astype(bool)
        crossed = np.zeros(n, dtype=bool)
        parts_x = []   # cross-tile emissions (x_row, x_col, mass, fedflag)
        done = np.zeros(n, dtype=bool)
        frontier = np.flatnonzero(indeg == 0)
        while frontier.size:
            done[frontier] = True
            dec = np.zeros(n, dtype=np.int64)
            for u in frontier:
                if acc[u] > T:
                    crossed[u] = True
                    if d8in[u]:
                        acc[d8t[u]] += T
                        fed[d8t[u]] = True
                    elif jd8[u] >= 0:
                        parts_x.append((rr[u] + _D8_DR[jd8[u]],
                                        cc[u] + _D8_DC[jd8[u]], T, 1))
                else:
                    for j in range(8):
                        if tgt[u, j] >= 0:
                            acc[tgt[u, j]] += ws[u, j] * acc[u]
                        elif xok[u, j]:
                            dr, dc, _ = D8_OFFS[j]
                            parts_x.append((rr[u] + dr, cc[u] + dc,
                                            ws[u, j] * acc[u], 0))
                # decrement dependency edges regardless of mode
                for j in range(8):
                    if tgt[u, j] >= 0:
                        dec[tgt[u, j]] += 1
                if add_d8[u]:
                    dec[d8t[u]] += 1
            indeg = indeg - dec
            frontier = np.flatnonzero((indeg == 0) & ~done)
        rem = np.flatnonzero(~done)
        if rem.size:
            # mdinf facet weights can point uphill -> cycles strand the
            # Kahn (same as fd8_accum): relax the remnant subgraph to its
            # monotone fixpoint (cycle gain < 1; creek pushes are acyclic
            # D8).  No rem -> done edge can exist, so done cells are final.
            base = acc.copy()
            for _ in range(10_000):
                newacc = base.copy()
                newfed = fed.copy()
                for u in rem:
                    if acc[u] > T:
                        if d8in[u]:
                            newacc[d8t[u]] += T
                            newfed[d8t[u]] = True
                    else:
                        for j in range(8):
                            if tgt[u, j] >= 0:
                                newacc[tgt[u, j]] += ws[u, j] * acc[u]
                delta = np.abs(newacc[rem] - acc[rem]).max()
                fc = (newfed != fed).any()
                acc[rem] = newacc[rem]
                fed |= newfed
                if delta <= 1e-12 and not fc:
                    break
            # one-time cross-tile emissions for the converged remnant
            for u in rem:
                if acc[u] > T:
                    crossed[u] = True
                    if not d8in[u] and jd8[u] >= 0:
                        parts_x.append((rr[u] + _D8_DR[jd8[u]],
                                        cc[u] + _D8_DC[jd8[u]], T, 1))
                else:
                    for j in range(8):
                        if xok[u, j]:
                            dr, dc, _ = D8_OFFS[j]
                            parts_x.append((rr[u] + dr, cc[u] + dc,
                                            ws[u, j] * acc[u], 0))
        out = [pd.DataFrame({
            "row": rr, "col": cc, "acc": acc,
            "fed": fed.astype(np.int32), "crossed": crossed.astype(np.int32),
            "x_row": np.full(n, -1, np.int64), "x_col": np.full(n, -1, np.int64),
            "kind": np.zeros(n, np.int32),
        })]
        if parts_x:
            xr = np.array([p[0] for p in parts_x], np.int64)
            xc = np.array([p[1] for p in parts_x], np.int64)
            xm = np.array([p[2] for p in parts_x], np.float64)
            xf = np.array([p[3] for p in parts_x], np.int32)
            out.append(pd.DataFrame({
                "row": xr, "col": xc, "acc": xm,
                "fed": xf, "crossed": np.zeros(len(xr), np.int32),
                "x_row": xr, "x_col": xc,
                "kind": np.ones(len(xr), np.int32),
            }))
        return pd.concat(out, ignore_index=True)

    ext_pd = None
    out = None
    for _ in range(max_rounds):
        inp = wdf if ext_pd is None else wdf.join(
            F.broadcast(spark.createDataFrame(
                ext_pd, "row long, col long, ext double, extfed int")),
            ["row", "col"], "left",
        )
        res = inp.groupBy("_tr", "_tc").applyInPandas(kernel, schema) \
            .localCheckpoint()
        new_ext = (
            res.where(F.col("kind") == 1)
            .groupBy("row", "col")
            .agg(F.sum("acc").alias("ext"),
                 F.max("fed").cast("int").alias("extfed"))
            .join(wdf.select("row", "col"), ["row", "col"], "left_semi")
            .toPandas().sort_values(["row", "col"]).reset_index(drop=True)
        )
        out = res
        changed = ext_pd is None or not new_ext.equals(ext_pd)
        ext_pd = new_ext
        if not changed or len(new_ext) == 0:
            break
    else:
        raise RuntimeError("stream_heads_mdinf did not converge")
    return out.where(F.col("kind") == 0).select(
        "row", "col",
        ((F.col("crossed") == 1) & (F.col("fed") == 0)).cast("int").alias("head"),
    )
