"""Round-12 operator/infrastructure pins: q14's shape gates and the
master classifier behind them (VERDICT r11 #1)."""

from __future__ import annotations

import pytest

from final_project_big_data_spark.queries import relational as R
from final_project_big_data_spark.session import is_local_master


def test_is_local_master():
    """``local-cluster[n,c,m]`` executors are separate JVMs — shuffle
    crosses the netty transport, so the one master classifier must call
    it non-local."""
    assert not is_local_master("local-cluster[2,8,2048]")
    assert not is_local_master("spark://host:7077")
    assert is_local_master("local[4]") and is_local_master("local")


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple"
    )


def test_q14_semi_bracket(spark, sf_dir, monkeypatch):
    """The semi prefilter needs a non-local (network) master — local
    media measured it a loss — AND orders' on-disk bytes inside the
    broadcastable-keyset bracket; unstat-able cluster paths must NOT
    gamble executor memory."""
    from final_project_big_data_spark import session

    assert not R._q14_semi(spark, sf_dir)  # local master: reorder measured faster
    monkeypatch.setattr(session, "is_local_master", lambda master: False)
    assert not R._q14_semi(spark, sf_dir)  # KB orders: below bracket floor
    assert not R._q14_semi(spark, "hdfs://nowhere/sf100")  # unknown: no gamble
    monkeypatch.setattr(
        "final_project_big_data_spark.io.table_bytes",
        lambda sf, table: R._Q14_SEMI_MIN_BYTES,
    )
    assert R._q14_semi(spark, sf_dir)  # inside the bracket


def test_q14_flat_gate(sf_dir):
    """Flat shape fires exactly in the everything-broadcasts regime:
    fixture orders (KBs) → flat; unstat-able cluster path → reorder
    (assume big)."""
    assert R._q14_flat(sf_dir)
    assert not R._q14_flat("hdfs://nowhere/sf100")


def _join_lines(plan: str) -> tuple[int, int]:
    lines = plan.splitlines()
    [i_fact] = [i for i, l in enumerate(lines) if "Join [l_orderkey" in l]
    [i_dim] = [i for i, l in enumerate(lines) if "Join [o_custkey" in l]
    return i_fact, i_dim


def test_q14_reorder_and_semi_plan(spark, sf_dir, monkeypatch):
    """Above the flat cap the dim⋈dim join (customer onto orders, on
    o_custkey) sits BELOW the fact join (on l_orderkey) — the round-12
    reorder; at fixture volume the flat shape applies (both dims
    broadcast concurrently, no nested build) and the customer join sits
    ABOVE; the LeftSemi prefilter appears exactly when its gate says."""
    from final_project_big_data_spark.queries import all_specs

    build = all_specs()["q14_multiway_join"].builder

    # fixture volume: orders ≪ _Q14_FLAT_MAX_BYTES → flat (li⋈o)⋈c
    plan = _plan(build(spark, sf_dir))
    assert "LeftSemi" not in plan  # local master: no prefilter
    i_fact, i_dim = _join_lines(plan)
    assert i_dim < i_fact, "flat shape: customer join above the fact join"

    # past the cap (forced): the reorder — customer nested under the fact
    monkeypatch.setattr(R, "_q14_flat", lambda sf: False)
    i_fact, i_dim = _join_lines(_plan(build(spark, sf_dir)))
    assert i_dim > i_fact, "customer join must be nested under the fact join"

    monkeypatch.setattr(R, "_q14_semi", lambda spark, sf: True)
    assert "LeftSemi" in _plan(build(spark, sf_dir))


@pytest.mark.parametrize("shape", ["reorder", "semi"])
def test_q14_forced_shape_matches_oracle(spark, sf_dir, duck, monkeypatch, shape):
    """Every q14 shape the gates can pick must hash-match the DuckDB
    oracle, not only the one this session's gates pick (flat, checked
    by the registry sweep)."""
    from final_project_big_data_spark.queries import all_specs
    from tests.oracle import compare

    monkeypatch.setattr(R, "_q14_flat", lambda sf: False)
    monkeypatch.setattr(R, "_q14_semi", lambda spark, sf: shape == "semi")
    spec = all_specs()["q14_multiway_join"]
    df = spec.builder(spark, sf_dir)
    assert ("LeftSemi" in _plan(df)) == (shape == "semi")
    rep = compare(df, duck, spec.oracle)
    assert rep["ok"], rep


@pytest.mark.parametrize("presort", ["on", "off"])
def test_q06_forced_presort_matches_oracle(spark, sf_dir, monkeypatch, presort):
    """Both branches of q06's presort gate (range_presorted_for_join)
    must hash-match the DuckDB oracle at sf0.01: presorted below the
    join, or sorted only by the final orderBy above it."""
    import os

    from final_project_big_data_spark.plans import ordering
    from final_project_big_data_spark.queries import all_specs
    from tests.oracle import compare, duckdb_connect

    monkeypatch.setattr(
        ordering,
        "range_presorted_for_join",
        lambda df, build_side, *keys: (
            ordering.range_presorted(df, *keys) if presort == "on" else df
        ),
    )
    sf = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    spec = all_specs()["q06_join_inner"]
    df = spec.builder(spark, sf)
    logical = df._jdf.queryExecution().logical().toString()
    assert ("RepartitionByExpression" in logical) == (presort == "on")
    con = duckdb_connect(sf)
    try:
        rep = compare(df, con, spec.oracle)
    finally:
        con.close()
    assert rep["ok"], rep


@pytest.mark.parametrize("prefilter", ["on", "off"])
def test_q96_forced_prefilter_matches_oracle(spark, sf_dir, monkeypatch, prefilter):
    """Both branches of q96's part-bytes gate must hash-match the DuckDB
    oracle at sf0.01: the fact semi-prefiltered on the filtered part keys,
    or (part unstat-able or over the cap) joined unfiltered."""
    import os

    from final_project_big_data_spark.queries import all_specs
    from tests.oracle import compare, duckdb_connect

    monkeypatch.setattr(
        "final_project_big_data_spark.io.table_bytes",
        lambda sf, table: 0 if prefilter == "on" else -1,
    )
    sf = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    spec = all_specs()["q96_tpch_q2_min_cost"]
    df = spec.builder(spark, sf)
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    assert ("LeftSemi" in optimized) == (prefilter == "on")
    con = duckdb_connect(sf)
    try:
        rep = compare(df, con, spec.oracle)
    finally:
        con.close()
    assert rep["ok"], rep


def test_iterative_graph_plans_grow_linearly_with_rounds(spark):
    """Round-12 linearization pin: the step-relation recurrence references
    the previous round's frame exactly ONCE, so the unrolled logical plan
    must grow LINEARLY in the iteration count. The pre-r12 x09 merge
    (dist ⟕ relax(dist)) embedded the previous round twice — 2^k growth —
    which this guard would catch as a plan-string explosion (6 rounds
    would be ≥8× the 3-round size; linear growth stays ≤~2.5×)."""
    from final_project_big_data_spark.operators.pagerank import pagerank

    edges = spark.createDataFrame(
        [(i, (i + 1) % 7) for i in range(7)], "src long, dst long"
    )

    def plan_size(n_iter: int) -> int:
        return len(
            pagerank(edges, n_iter=n_iter)._jdf.queryExecution()
            .logical()
            .toString()
        )

    s3, s6 = plan_size(3), plan_size(6)
    assert s6 < 2.5 * s3, (s3, s6)


def test_q14_fact_exchange_is_narrow(spark, sf_dir, monkeypatch):
    """Round-13 pin (guide §2.3): the fact side crossing q14's exchange
    carries exactly (l_orderkey, _rev) — the revenue product is folded
    into ONE double BEFORE the shuffle (measured −22% fact-exchange
    bytes at 1000×). Forced past the flat cap so the exchange exists;
    the raw price/discount columns must not appear above the scan's
    project."""
    from final_project_big_data_spark.queries import all_specs

    monkeypatch.setattr(R, "_q14_flat", lambda sf: False)
    plan = _plan(
        all_specs()["q14_multiway_join"].builder(spark, sf_dir)
    )
    assert "_rev" in plan
    # the product is computed in the scan-side project; nothing above it
    # (exchange, sort, join, agg) references the two raw columns
    [proj_line] = [
        l
        for l in plan.splitlines()
        if "_rev" in l and "l_extendedprice" in l and "Project" in l
    ]
    above = plan.split(proj_line)[0]
    assert "l_extendedprice" not in above and "l_discount" not in above


def test_x09_bfs_plan_grows_linearly_with_rounds(spark, sf_dir, monkeypatch):
    """Same linear-growth pin over x09's INLINE step-relation loop
    (ADVICE r12: the pagerank guard above covers x05's operator, but the
    documented 2^k offender — x09's dist⟕relax(dist) merge in
    queries/connectors.py — is inline code the operator guard cannot see;
    reintroducing the quadratic merge there would otherwise pass CI).
    ``_BFS_ITER`` is a module global the builder reads at call time, so
    patching it exercises the real registry builder."""
    from final_project_big_data_spark.queries import all_specs, connectors

    build = all_specs()["x09_bfs_distance"].builder

    def plan_size(n_iter: int) -> int:
        monkeypatch.setattr(connectors, "_BFS_ITER", n_iter)
        return len(
            build(spark, sf_dir)._jdf.queryExecution().logical().toString()
        )

    s3, s6 = plan_size(3), plan_size(6)
    assert s6 < 2.5 * s3, (s3, s6)
