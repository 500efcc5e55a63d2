"""Distributed condensed-graph fallbacks (VERDICT r2 next-round #3).

Each driver-solve guard in operators/condense.py is lowered below the
condensed-graph size so the operators take the distributed path, and the
output is asserted IDENTICAL to the driver-solve path on the same input.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from whitebox_geospatial_analysis_tools_spark.operators import clump as clump_mod
from whitebox_geospatial_analysis_tools_spark.operators import condense
from whitebox_geospatial_analysis_tools_spark.operators import hydro
from whitebox_geospatial_analysis_tools_spark.operators import raster as R

ROWS, COLS = 96, 256  # wide enough that super-groups at tile*8 split


@pytest.fixture(scope="module")
def ptr(spark):
    p = hydro.flow_pointer_d8(R.synth_raster(spark, ROWS, COLS)).persist()
    yield p
    p.unpersist()


def _sorted(df):
    pdf = df.toPandas()
    return pdf.sort_values(list(pdf.columns)).reset_index(drop=True)


def _both(op, monkeypatch, guard_attr=("_MAX_DRIVER_ROWS",), guard_val=8):
    want = _sorted(op())
    for g in guard_attr:
        monkeypatch.setattr(condense, g, guard_val)
    got = _sorted(op())
    return want, got


def test_flow_accum_distributed(spark, ptr, monkeypatch):
    want, got = _both(lambda: hydro.flow_accum(ptr, tile=16), monkeypatch)
    assert len(want) == len(got) > 0
    assert want.equals(got)


def test_watershed_distributed(spark, ptr, monkeypatch):
    want, got = _both(lambda: hydro.watershed(ptr, tile=16), monkeypatch)
    assert len(want) == len(got) > 0
    assert want.equals(got)


def test_flowpath_distributed(spark, ptr, monkeypatch):
    want, got = _both(lambda: hydro.flowpath_length(ptr, tile=16), monkeypatch)
    assert len(want) == len(got) > 0
    # rounding happens after the chain sum in both paths; association of the
    # float adds along the chain is identical (same per-hop pdist splits)
    assert (want["row"].equals(got["row"]) and want["col"].equals(got["col"]))
    assert np.abs(want["fp_len"].to_numpy() - got["fp_len"].to_numpy()).max() <= 1e-6


def test_upslope_distributed(spark, ptr, monkeypatch):
    want, got = _both(lambda: hydro.upslope_max_length(ptr, tile=16), monkeypatch)
    assert len(want) == len(got) > 0
    assert (want["row"].equals(got["row"]) and want["col"].equals(got["col"]))
    assert np.abs(want["up_len"].to_numpy() - got["up_len"].to_numpy()).max() <= 1e-6


def test_chase_paths_dangling_target(spark, monkeypatch):
    """A target missing from the forest ends the path at that cell, in
    both tiers: (0,0) -> (0,1) -> (9,9) absent; (1,1) -> pit (5,5)."""
    fwd = spark.createDataFrame(
        [(0, 0, 0, 1, 1.0, -1, -1), (0, 1, 9, 9, 2.0, -1, -1),
         (1, 0, -1, -1, 0.5, 5, 5), (1, 1, 1, 0, 0.25, -1, -1)],
        "row long, col long, t_row long, t_col long, w double, "
        "p_row long, p_col long",
    )
    want = [(0, 0, 3.0, 9, 9), (0, 1, 2.0, 9, 9),
            (1, 0, 0.5, 5, 5), (1, 1, 0.75, 5, 5)]
    for guard in (condense._MAX_DRIVER_ROWS, 0):
        monkeypatch.setattr(condense, "_MAX_DRIVER_ROWS", guard)
        got = sorted(tuple(r) for r in condense.chase_paths(fwd).collect())
        assert got == want


def test_stream_network_distributed(spark, ptr, monkeypatch):
    want, got = _both(
        lambda: hydro.stream_network(ptr, threshold=5, tile=16), monkeypatch,
        guard_val=4,
    )
    assert len(want) == len(got) > 0
    assert want.equals(got)


def test_stream_network_tier2(spark, monkeypatch):
    """Stream cells exceed the guard but the link tables fit: distributed
    labeling + driver link solve (the middle tier) matches tier 1."""
    from whitebox_geospatial_analysis_tools_spark.queries_raster_hydro import (
        VALLEY_VAL, _VCOLS, _VROWS, _VT,
    )

    ptr = hydro.flow_pointer_d8(
        R.synth_raster(spark, _VROWS, _VCOLS, value_sql=VALLEY_VAL)
    ).persist()
    try:
        want = _sorted(hydro.stream_network(ptr, _VT, tile=16))
        acc = hydro.flow_accum(ptr, tile=16)
        n_stream = acc.where(F.col("accum") >= _VT).count()
        # guard window that skips tier 1 (node+edge rows > 2G) but keeps the
        # link tables under guard (len(want) links + dag rows <= 2G)
        g2 = len(want) + 2  # links alone < 2*g2; dag pairs ~ junction count
        assert 2 * g2 < n_stream, "fixture too small to separate the tiers"
        monkeypatch.setattr(condense, "_MAX_DRIVER_ROWS", g2)
        got = _sorted(hydro.stream_network(ptr, _VT, tile=16))
        assert want.equals(got)
    finally:
        ptr.unpersist()


def test_merge_labels_long_path(spark, monkeypatch):
    """Path-shaped component of diameter 300 (chained templated pages):
    the old one-hop-per-round loops (dedup_clusters rounds=32,
    find_polygon_chains rounds=16) would exit at the cap and silently
    mislabel the far end; hook + shortcut must converge to the single
    component min in O(log) rounds (VERDICT r3 next-round #1).
    Guard lowered to 0 so the DISTRIBUTED tier (not the driver
    union-find) is what converges here."""
    monkeypatch.setattr(condense, "_MERGE_DRIVER_PAIRS", 0)
    n = 300
    pairs = spark.range(n - 1).selectExpr(
        "id AS plabel", "id + 1 AS nplabel")
    lab = condense.merge_labels(pairs).toPandas()
    assert len(lab) == n
    assert (lab["glabel"] == 0).all()


def test_merge_labels_tiers_equal(spark, monkeypatch):
    """Driver union-find tier == distributed hook+shortcut tier on a pair
    set mixing stars, chains, and singleton pairs."""
    pairs = spark.range(500).selectExpr(
        "id * 7919 % 211 AS plabel", "(id * 104729 + 3) % 211 AS nplabel")
    want = condense.merge_labels(pairs).toPandas().sort_values(
        "plabel").reset_index(drop=True)
    monkeypatch.setattr(condense, "_MERGE_DRIVER_PAIRS", 0)
    got = condense.merge_labels(pairs).toPandas().sort_values(
        "plabel").reset_index(drop=True)
    assert want.equals(got)


def test_merge_labels_raises_unconverged(spark, monkeypatch):
    """Hitting the round cap without fixpoint must be LOUD, never a silent
    wrong answer."""
    pairs = spark.range(99).selectExpr("id AS plabel", "id + 1 AS nplabel")
    monkeypatch.setattr(condense, "_MERGE_DRIVER_PAIRS", 0)
    monkeypatch.setattr(condense, "_MAX_ROUNDS", 1)
    with pytest.raises(RuntimeError, match="did not converge"):
        condense.merge_labels(pairs)


def test_dedup_clusters_chained_component(spark):
    """dedup_clusters end-to-end on documents engineered so LSH pairs chain
    A~B, B~C, ... (each adjacent pair shares shingles, the ends share
    none): every member must still collapse to one canonical."""
    from whitebox_geospatial_analysis_tools_spark.operators import textops

    # doc i = 40 tokens, overlapping window of a shared token stream ->
    # adjacent docs are near-identical, distant docs unrelated
    stream = [f"tok{j}" for j in range(400)]
    docs = spark.createDataFrame(
        [(i, " ".join(stream[i * 2: i * 2 + 40])) for i in range(80)],
        "doc_id long, text string",
    )
    lab = textops.dedup_clusters(docs).toPandas()
    # whatever the pair graph is, labels must be a valid min-closure:
    # canonical <= doc_id and canonical is itself labeled canonical
    assert (lab["canonical"] <= lab["doc_id"]).all()
    roots = lab.set_index("doc_id")["canonical"]
    assert all(roots[c] == c for c in lab["canonical"].unique())
    # and the chain construction must actually have produced a big
    # multi-doc component (else the fixture tests nothing)
    assert lab.groupby("canonical").size().max() >= 10


def test_clump_distributed(spark, monkeypatch):
    cells = (
        R.explode_cells(R.synth_raster(spark, 96, 128))
        .where(F.col("value") != R.NODATA)
        .select("row", "col",
                F.expr("CAST(FLOOR(value / 50e0) AS BIGINT)").alias("cls"))
    )
    want = _sorted(clump_mod.clump(cells, 128, tile=32))
    monkeypatch.setattr(condense, "_MERGE_DRIVER_PAIRS", 1)
    got = _sorted(clump_mod.clump(cells, 128, tile=32))
    assert len(want) == len(got) > 0
    assert want.equals(got)
