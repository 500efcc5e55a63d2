"""Tiered solvers for condensed boundary/link graphs.

The hydro/clump operators condense their grid problems to boundary-sized
graphs (entry cells, stream links, label equivalences) and hand them to a
solver here.  The solver picks the tier: a graph within its guard
(`_MAX_DRIVER_ROWS` rows, `_MERGE_DRIVER_PAIRS` pairs for merge_labels) is
fetched in one job and solved on the driver; past the guard the SAME solve
runs distributed.  Operators never branch on the tier, so lowering a guard
forces the distributed tier everywhere (tests/test_condense.py,
tools/soak.py); stream_network, fd8_accum and cost_pathway keep their own
differently shaped tiers but read `_MAX_DRIVER_ROWS` at call time.

  graph_masses     mass/max through-values of the functional DAG of
                   flow_accum / upslope_max_length: driver Kahn under the
                   guard; else recursive super-tile condensation — each
                   level groups nodes by a fanout-times-larger spatial cell,
                   solves the in-group subgraph with the same vectorized
                   Kahn kernel, and forwards cross-group carries to a graph
                   ~fanout-times smaller (entry nodes sit on group
                   perimeters) until the guard is met — O(log_fanout)
                   levels, two passes per level.
  chase_paths      per node of a functional forest, the terminal cell and
                   the accumulated path weight (watershed labels, flowpath
                   remainders): memoized driver chase under the guard; else
                   weighted pointer jumping (path doubling), O(log path)
                   rounds.
  solve_links      iterative frontier Kahn over the stream-link DAG
                   (Strahler / Shreve) + pred-chain pointer doubling for
                   the main stem — rounds bounded by junction depth /
                   log(chain length), each a join over the link-sized table.
  merge_labels     min-label equivalence closure over label pairs (clump
                   boundary merge, dedup clusters): driver union-find under
                   the guard; else hook + shortcut rounds, a
                   Shiloach-Vishkin-style CC.

All inputs here are already condensed (O(N/tile) or link-sized), so every
round touches a frame orders of magnitude smaller than the raster.  A
driver-tier result is guard-sized and carries a broadcast hint, so the
operator's join back ships it rather than shuffling the raster.
Reference parity: FlowAccumD8.java:282-330 scheduling, Watershed.java
terminal labels, StreamOrder.java:364 / StreamMagnitude.java /
FindMainStem.java:347, Clump.java:131-206 merge semantics.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import _scratch

_MAX_DRIVER_ROWS = 5_000_000  # condensed rows solved on the driver
_MERGE_DRIVER_PAIRS = 2_000_000  # pair rows union-found on the driver
_OUT_SCHEMA = (
    "row long, col long, t_row long, t_col long, val double, w double, kind int"
)
_MAX_LEVELS = 24
_MAX_ROUNDS = 64
_FANOUT = 8  # super-group growth per graph_masses level


def _checkpoint(df: DataFrame, tag: str) -> DataFrame:
    """Local checkpoint of one round's state, re-wrapped in a fresh
    DataFrame.  A checkpoint keeps its plan's size estimate, and a join's
    estimate is the product of its inputs', so in a loop that joins
    checkpoint on checkpoint the estimate's bit length doubles every round:
    past ~16 rounds the driver spends seconds to minutes per round in
    BigInteger multiplication.  The re-wrapped rows carry no estimate."""
    spark = df.sparkSession
    cp = df.localCheckpoint()
    fresh = spark._jsparkSession.createDataFrame(cp._jdf.rdd(), cp._jdf.schema())
    return _scratch.track(spark, DataFrame(fresh, spark), tag)


# ---------------------------------------------------------------------------
# recursive mass/max solve over a functional spatial DAG
# ---------------------------------------------------------------------------
def _group_kernel(group_cell: int, is_max: bool):
    """Per-super-group solve over condensed nodes (row, col, base, f_row,
    f_col, w[, ext]).  Emits kind 0 = per-node through value, kind 1 =
    cross-group carry into (row, col), kind 2 = transit (where each node's
    in-group chain exits the group, with accumulated chain weight)."""

    def kernel(key, pdf: pd.DataFrame) -> pd.DataFrame:
        gr, gc = int(key[0]), int(key[1])
        n = len(pdf)
        rr = pdf["row"].to_numpy(np.int64)
        cc = pdf["col"].to_numpy(np.int64)
        base = pdf["base"].to_numpy(np.float64)
        ext = (
            pdf["ext"].fillna(0.0).to_numpy(np.float64)
            if "ext" in pdf.columns else np.zeros(n)
        )
        fr = pdf["f_row"].to_numpy(np.int64)
        fc = pdf["f_col"].to_numpy(np.int64)
        w = pdf["w"].to_numpy(np.float64)
        has = fr >= 0
        ing = has & (fr // group_cell == gr) & (fc // group_cell == gc)
        idx = {(int(r), int(c)): i for i, (r, c) in enumerate(zip(rr, cc))}
        tgt = np.full(n, -1, dtype=np.int64)
        for i in np.flatnonzero(ing):
            tgt[i] = idx.get((int(fr[i]), int(fc[i])), -1)
        internal = tgt >= 0
        cross = has & ~internal

        # local Kahn over internal edges (sum or max aggregation)
        indeg = np.bincount(tgt[internal], minlength=n)
        thr = np.maximum(base, ext) if is_max else base + ext
        processed = np.zeros(n, dtype=bool)
        frontier = np.flatnonzero(indeg == 0)
        while frontier.size:
            processed[frontier] = True
            fe = frontier[internal[frontier]]
            if fe.size:
                t = tgt[fe]
                if is_max:
                    np.maximum.at(thr, t, thr[fe] + w[fe])
                else:
                    np.add.at(thr, t, thr[fe])
                indeg = indeg - np.bincount(t, minlength=n)
                frontier = np.flatnonzero((indeg == 0) & ~processed)
            else:
                frontier = np.array([], dtype=np.int64)

        # transit: chase internal chains by pointer doubling with weights
        nxt = np.arange(n, dtype=np.int64)
        nxt[internal] = tgt[internal]
        dd = np.where(internal, w, 0.0)
        dest = nxt
        while True:
            nd = dest[dest]
            if np.array_equal(nd, dest):
                break
            dd = dd + dd[dest]
            dest = nd
        wout = np.where(cross, w, 0.0)
        chain_w = dd + wout[dest]
        exits = cross[dest]
        null = np.int64(-1)

        parts = [pd.DataFrame({
            "row": rr, "col": cc,
            "t_row": np.full(n, null), "t_col": np.full(n, null),
            "val": thr, "w": np.zeros(n),
            "kind": np.zeros(n, dtype=np.int32),
        })]
        xs = np.flatnonzero(cross)
        if xs.size:
            parts.append(pd.DataFrame({
                "row": fr[xs], "col": fc[xs],
                "t_row": np.full(xs.size, null), "t_col": np.full(xs.size, null),
                "val": thr[xs] + w[xs] if is_max else thr[xs],
                "w": np.zeros(xs.size),
                "kind": np.full(xs.size, 1, dtype=np.int32),
            }))
        parts.append(pd.DataFrame({
            "row": rr, "col": cc,
            "t_row": np.where(exits, fr[dest], null),
            "t_col": np.where(exits, fc[dest], null),
            "val": np.zeros(n), "w": chain_w,
            "kind": np.full(n, 2, dtype=np.int32),
        }))
        return pd.concat(parts, ignore_index=True)

    return kernel


def _driver_masses(spark, pdf: pd.DataFrame, is_max: bool) -> DataFrame:
    """Base case: Kahn over the (now guard-sized) condensed graph."""
    base: dict[tuple[int, int], float] = {}
    fwd: dict[tuple[int, int], tuple] = {}
    for r, c, b, frr, fcc, ww in zip(
        pdf["row"], pdf["col"], pdf["base"], pdf["f_row"], pdf["f_col"], pdf["w"]
    ):
        k = (int(r), int(c))
        base[k] = float(b)
        fwd[k] = (((int(frr), int(fcc)) if frr >= 0 else None), float(ww))
    mass = dict(base)
    indeg = {k: 0 for k in base}
    for k in base:
        t, _ = fwd[k]
        if t is not None and t in indeg:
            indeg[t] += 1
    stack = [k for k in base if indeg[k] == 0]
    while stack:
        e = stack.pop()
        t, ww = fwd[e]
        if t is not None and t in indeg:
            if is_max:
                cand = mass[e] + ww
                if cand > mass[t]:
                    mass[t] = cand
            else:
                mass[t] += mass[e]
            indeg[t] -= 1
            if indeg[t] == 0:
                stack.append(t)
    rows = [(r, c, m) for (r, c), m in mass.items()]
    return F.broadcast(spark.createDataFrame(rows, "row long, col long, mass double"))


def graph_masses(nodes: DataFrame, *, group_cell: int, is_max: bool = False,
                 _level: int = 0) -> DataFrame:
    """Through-value per node of a functional spatial DAG.

    nodes: (row, col, base double, f_row, f_col, w double) — f_row = -1 for
    terminal nodes; w is the forwarding path weight (ignored for sum mode).
    Returns (row, col, mass double) with
      sum mode:  mass[t] = base[t] + sum of predecessors' mass
      max mode:  mass[t] = max(base[t], max of predecessors' mass + edge w)
    Recursion: solve per spatial super-group, forward cross-group carries to
    a ~fanout-times-smaller graph, recurse; driver Kahn once under guard.
    """
    spark = nodes.sparkSession
    tag = f"condense{_level}"
    _scratch.release(spark, tag)
    nodes = _scratch.track(spark, nodes.persist(), tag)
    head = nodes.limit(_MAX_DRIVER_ROWS + 1).toPandas()
    if len(head) <= _MAX_DRIVER_ROWS:
        out = _driver_masses(spark, head, is_max)
        _scratch.release(spark, tag)
        return out
    if _level >= _MAX_LEVELS:
        raise RuntimeError("graph_masses: condensation failed to shrink")

    g = int(group_cell)
    grouped = nodes.withColumn("_gr", (F.col("row") / g).cast("long")) \
                   .withColumn("_gc", (F.col("col") / g).cast("long"))
    pass_a = _scratch.track(
        spark,
        grouped.groupBy("_gr", "_gc").applyInPandas(
            _group_kernel(g, is_max), _OUT_SCHEMA
        ).persist(),
        tag,
    )
    k1 = pass_a.where(F.col("kind") == 1)
    agg = F.max("val") if is_max else F.sum("val")
    base2 = k1.groupBy("row", "col").agg(agg.alias("base"))
    k2 = pass_a.where(F.col("kind") == 2).select(
        "row", "col",
        F.col("t_row").alias("f_row"), F.col("t_col").alias("f_col"), "w",
    )
    nodes2 = base2.join(k2, ["row", "col"], "left").select(
        "row", "col", "base",
        F.coalesce("f_row", F.lit(-1)).alias("f_row"),
        F.coalesce("f_col", F.lit(-1)).alias("f_col"),
        F.coalesce("w", F.lit(0.0)).alias("w"),
    )
    mass2 = graph_masses(
        nodes2, group_cell=g * _FANOUT, is_max=is_max, _level=_level + 1
    )
    ext = mass2.select("row", "col", F.col("mass").alias("ext"))
    pass_b = grouped.join(ext, ["row", "col"], "left").groupBy(
        "_gr", "_gc"
    ).applyInPandas(_group_kernel(g, is_max), _OUT_SCHEMA)
    return pass_b.where(F.col("kind") == 0).select(
        "row", "col", F.col("val").alias("mass")
    )


# ---------------------------------------------------------------------------
# weighted pointer jumping over a functional forest (transit chase)
# ---------------------------------------------------------------------------
def _driver_chase(spark, pdf: pd.DataFrame) -> DataFrame:
    """Base case: memoized chase over the (guard-sized) forest.  Totals fold
    from the terminal back (w + total(next)), the order in which the
    flowpath remainders accumulate."""
    fwd: dict[tuple[int, int], tuple] = {}
    for r, c, tr, tc, w, pr, pc in zip(
        pdf["row"], pdf["col"], pdf["t_row"], pdf["t_col"], pdf["w"],
        pdf["p_row"], pdf["p_col"],
    ):
        fwd[(int(r), int(c))] = (
            (int(tr), int(tc)) if tr >= 0 else None, float(w),
            (int(pr), int(pc)),
        )
    tot: dict[tuple[int, int], float] = {}
    term: dict[tuple[int, int], tuple[int, int]] = {}
    for e in fwd:
        chain = []
        cur = e
        while cur in fwd and cur not in tot:
            if len(chain) > len(fwd):
                raise RuntimeError("chase_paths did not converge (cycle?)")
            chain.append(cur)
            cur = fwd[cur][0]
            if cur is None:
                break
        for k in reversed(chain):
            t, w, p = fwd[k]
            if t is None:
                tot[k], term[k] = w, p
            elif t in tot:
                tot[k], term[k] = w + tot[t], term[t]
            else:  # missing pointer target: terminate at the dangling cell
                tot[k], term[k] = w, t
    rows = [(r, c, tot[(r, c)], *term[(r, c)]) for r, c in fwd]
    return F.broadcast(spark.createDataFrame(
        rows, "row long, col long, total double, term_row long, term_col long"
    ))


def chase_paths(fwd: DataFrame) -> DataFrame:
    """fwd: (row, col, t_row, t_col, w, p_row, p_col) — each node forwards
    to (t_row, t_col) with path weight w, or terminates (t_row = -1) at
    terminal cell (p_row, p_col).  A target absent from fwd ends the path
    at that cell.

    Returns (row, col, total double, term_row, term_col): accumulated chain
    weight to termination and the terminal cell — driver chase under the
    guard, else Wyllie path doubling, O(log chain) rounds over the
    condensed frame."""
    spark = fwd.sparkSession
    head = fwd.limit(_MAX_DRIVER_ROWS + 1).toPandas()
    if len(head) <= _MAX_DRIVER_ROWS:
        return _driver_chase(spark, head)
    _scratch.release(spark, "chase")
    state = fwd.select(
        "row", "col",
        F.col("t_row").alias("nr"), F.col("t_col").alias("nc"),
        F.col("w").cast("double").alias("acc"),
        F.when(F.col("t_row") < 0, F.col("p_row")).otherwise(F.lit(-1)).alias("xr"),
        F.when(F.col("t_row") < 0, F.col("p_col")).otherwise(F.lit(-1)).alias("xc"),
        (F.col("t_row") < 0).alias("done"),
    )
    state = _checkpoint(state, "chase")
    for _ in range(_MAX_ROUNDS):
        if state.where(~F.col("done")).limit(1).count() == 0:
            break
        nxt = state.select(
            F.col("row").alias("_jr"), F.col("col").alias("_jc"),
            F.col("nr").alias("_nr2"), F.col("nc").alias("_nc2"),
            F.col("acc").alias("_acc2"),
            F.col("xr").alias("_xr2"), F.col("xc").alias("_xc2"),
            F.col("done").alias("_done2"),
        )
        live = state.where(~F.col("done")).join(
            nxt,
            (F.col("nr") == F.col("_jr")) & (F.col("nc") == F.col("_jc")),
            "left",
        ).select(
            "row", "col",
            F.coalesce("_nr2", F.lit(-1)).alias("nr"),
            F.coalesce("_nc2", F.lit(-1)).alias("nc"),
            (F.col("acc") + F.coalesce("_acc2", F.lit(0.0))).alias("acc"),
            # missing pointer target: terminate at the dangling cell itself
            F.coalesce("_xr2", F.col("nr")).alias("xr"),
            F.coalesce("_xc2", F.col("nc")).alias("xc"),
            F.coalesce("_done2", F.lit(True)).alias("done"),
        )
        state = _checkpoint(state.where(F.col("done")).unionByName(live), "chase")
    else:
        raise RuntimeError("chase_paths did not converge (cycle?)")
    return state.select(
        "row", "col", F.col("acc").alias("total"),
        F.col("xr").alias("term_row"), F.col("xc").alias("term_col"),
    )


# ---------------------------------------------------------------------------
# stream-link DAG measures, distributed
# ---------------------------------------------------------------------------
def solve_links(links: DataFrame, dag: DataFrame) -> DataFrame:
    """links: (label); dag: (up, dn).  Returns (label, strahler, magnitude,
    main_stem) matching the driver Kahn in hydro.stream_network:

    Strahler/Shreve by frontier rounds (all links whose tributaries are all
    solved resolve together — rounds = junction depth of the network);
    main stem by pred-chain pointer doubling (best-tributary chains are
    vertex-disjoint paths, so each link's chain root is found in O(log)
    rounds; main iff the root is an outlet)."""
    spark = links.sparkSession
    _scratch.release(spark, "links")
    links = _checkpoint(links.select("label"), "links")
    dag = _checkpoint(dag, "links")
    need = dag.groupBy("dn").agg(F.count(F.lit(1)).alias("_need"))
    total = links.count()
    solved = links.join(
        need, links["label"] == need["dn"], "left_anti"
    ).select("label", F.lit(1).alias("strahler"), F.lit(1).alias("magnitude"))
    solved = _checkpoint(solved, "links")
    n_solved = solved.count()
    for _ in range(_MAX_ROUNDS):
        if n_solved >= total:
            break
        got = (
            dag.join(solved, dag["up"] == solved["label"], "inner")
            .groupBy("dn")
            .agg(
                F.count(F.lit(1)).alias("_got"),
                F.sum("magnitude").alias("magnitude"),
                F.collect_list("strahler").alias("_ss"),
            )
        )
        mx = F.array_max("_ss")
        tie = F.size(F.filter("_ss", lambda x: x == mx)) >= 2
        new = (
            got.join(need, "dn", "inner")
            .where(F.col("_got") == F.col("_need"))
            .select(
                F.col("dn").alias("label"),
                F.when(tie, mx + 1).otherwise(mx).cast("int").alias("strahler"),
                F.col("magnitude").cast("int").alias("magnitude"),
            )
        )
        # only links not yet solved are new (got==need happens exactly once)
        solved = _checkpoint(solved.unionByName(new), "links")
        prev, n_solved = n_solved, solved.count()
        if n_solved == prev:
            raise RuntimeError("solve_links: no progress (cyclic link DAG?)")
    else:
        raise RuntimeError("solve_links exceeded round cap")

    # main stem: per junction pick the max-(magnitude, -up) tributary; the
    # picked edges form disjoint chains; a link is main iff its pred-chain
    # root is an outlet (link with no downstream edge).
    bu = (
        dag.join(
            solved.select(F.col("label").alias("up"), "magnitude"), "up", "inner"
        )
        .groupBy("dn")
        .agg(F.expr("max_by(up, struct(magnitude, -up))").alias("bu"))
    )
    pred = bu.select(F.col("bu").alias("label"), F.col("dn").alias("p"))
    state = links.join(pred, "label", "left").select(
        "label",
        F.coalesce("p", F.col("label")).alias("cur"),
        F.col("p").isNull().alias("done"),
    )
    state = _checkpoint(state, "links")
    for _ in range(_MAX_ROUNDS):
        if state.where(~F.col("done")).limit(1).count() == 0:
            break
        nxt = state.select(
            F.col("label").alias("_jl"),
            F.col("cur").alias("_cur2"), F.col("done").alias("_done2"),
        )
        live = state.where(~F.col("done")).join(
            nxt, F.col("cur") == F.col("_jl"), "inner"
        ).select(
            "label", F.col("_cur2").alias("cur"), F.col("_done2").alias("done")
        )
        state = _checkpoint(state.where(F.col("done")).unionByName(live), "links")
    else:
        raise RuntimeError("solve_links main-stem chase exceeded round cap")
    outlets = links.join(
        dag.select(F.col("up").alias("label")), "label", "left_anti"
    ).select(F.col("label").alias("cur"), F.lit(True).alias("_is_outlet"))
    main = state.join(outlets, "cur", "left").select(
        "label", F.coalesce("_is_outlet", F.lit(False)).alias("main_stem")
    )
    out = solved.join(main, "label", "inner")
    return out


# ---------------------------------------------------------------------------
# equivalence-pair min-label closure (clump boundary merge)
# ---------------------------------------------------------------------------
def merge_labels(pairs: DataFrame) -> DataFrame:
    """pairs: (plabel, nplabel) undirected equivalences.  Returns (plabel,
    glabel) mapping every node appearing in a pair to the min label of its
    component.

    Tiered like every condensed solve in this module: a pair set under the
    driver guard is one path-compressed union-find on the driver (the pair
    frame is already candidate-sized, orders of magnitude below the corpus);
    past the guard, hook + shortcut rounds (Shiloach-Vishkin style) converge
    in O(log^2 component diameter) rounds over the pair-sized frame — the
    100-TB path, soak-tested at 2 M docs (tools/soak.py)."""
    spark = pairs.sparkSession
    # single-job guard: fetch at most guard+1 pair rows; an over-limit
    # result is discarded and the distributed rounds below run instead
    head = pairs.limit(_MERGE_DRIVER_PAIRS + 1).toPandas()
    if len(head) <= _MERGE_DRIVER_PAIRS:
        par: dict = {}

        def find(x):
            root = x
            while par.get(root, root) != root:
                root = par[root]
            while par.get(x, x) != x:
                par[x], x = root, par[x]
            return root

        av = head.iloc[:, 0].tolist()
        bv = head.iloc[:, 1].tolist()
        for a_, b_ in zip(av, bv):
            ra, rb = find(a_), find(b_)
            if ra != rb:
                if rb < ra:
                    ra, rb = rb, ra
                par[rb] = ra  # min-value root => glabel = component min
        nodes = sorted(set(av) | set(bv))
        out = [(int(n), int(find(n))) for n in nodes]
        return F.broadcast(spark.createDataFrame(out, "plabel long, glabel long"))
    _scratch.release(spark, "merge_labels")
    edges = pairs.select(F.col("plabel").alias("a"), F.col("nplabel").alias("b"))
    edges = edges.unionByName(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).distinct()
    edges = _checkpoint(edges, "merge_labels")
    parent = edges.groupBy("a").agg(
        F.least(F.min("b"), F.first("a")).alias("p")
    ).select(F.col("a").alias("n"), F.least("p", F.col("a")).alias("p"))
    parent = _checkpoint(parent, "merge_labels")
    for _ in range(_MAX_ROUNDS):
        # hook: p(v) <- min(p(v), min over neighbors' p)
        nb = (
            edges.join(parent, edges["b"] == parent["n"], "inner")
            .groupBy("a").agg(F.min("p").alias("_nbp"))
        )
        hooked = parent.join(nb, parent["n"] == nb["a"], "left").select(
            "n", F.least("p", F.coalesce("_nbp", F.col("p"))).alias("p")
        )
        # shortcut: p(v) <- p(p(v))
        pp = hooked.select(F.col("n").alias("_pn"), F.col("p").alias("_pp"))
        short = hooked.join(pp, hooked["p"] == pp["_pn"], "left").select(
            "n", F.least("p", F.coalesce("_pp", F.col("p"))).alias("p")
        )
        short = _checkpoint(short, "merge_labels")
        changed = (
            short.join(parent.select(F.col("n"), F.col("p").alias("_old")), "n")
            .where(F.col("p") != F.col("_old")).limit(1).count()
        )
        parent = short
        if changed == 0:
            break
    else:
        raise RuntimeError("merge_labels did not converge")
    return parent.select(F.col("n").alias("plabel"), F.col("p").alias("glabel"))
