"""Expression-tree MV routing (VERDICT r12 #1).

The matcher classifies the ANALYZED plan (mvmatch.plan_shape), so
view-wrapped aggregates, alias renames -- including adversarial
alias CAPTURE, where a view swaps two column names -- reordered
commutative operands, expression group keys and HAVING-hoisted hidden
aggregates all route; every routed result is bit-compared against the
direct (routing-off) run: same schema, same rows. Unsound shapes
(non-key filters, compound aggregates, HAVING inside the definition,
time-varying predicates, stale MVs) must fall through to the source
scan and still return correct results.

Reference analog: the Athena presentation-layer views at
scripts/update_metadata.py:78-117 (dashboards query VIEWS, not base
tables -- the shape the text classifier could never route).
"""

from __future__ import annotations

import datetime
import tempfile

import pytest
from pyspark.sql.types import (
    DateType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from sample_for_transactional_datalake_using_s3tables_spark.sources.sqlexec import WarehouseSQL
from sample_for_transactional_datalake_using_s3tables_spark.sources.warehouse import Warehouse


S = StructType(
    [
        StructField("k", StringType(), False),
        StructField("g", StringType()),
        StructField("v", LongType()),
        StructField("w", LongType()),
    ]
)


@pytest.fixture(scope="module")
def env(spark):
    with tempfile.TemporaryDirectory() as d:
        wh = Warehouse(spark, d)
        wh.create_namespace("ns")
        wh.create_table("ns", "t", S)
        wh.insert(
            "ns", "t",
            spark.createDataFrame(
                [(f"k{i}", f"g{i % 3}", i, i * i) for i in range(30)], S
            ).coalesce(2),
        )
        sql = WarehouseSQL(wh)
        sql.execute(
            "CREATE MATERIALIZED VIEW ns.mv AS "
            "SELECT g, SUM(v) AS total, COUNT(*) AS n, AVG(w) AS mw, "
            "SUM(v + w) AS tvw, COUNT(DISTINCT k) AS dk "
            "FROM ns.t GROUP BY g"
        )
        sql.execute("REFRESH MATERIALIZED VIEW ns.mv")
        sql.execute(
            "CREATE VIEW ns.vw AS "
            "SELECT g, SUM(v) AS total FROM ns.t GROUP BY g"
        )
        sql.execute(
            "CREATE VIEW ns.proj AS SELECT k, g AS grp, v, w FROM ns.t"
        )
        yield wh, sql, spark


def _run(sql, stmt, expect_route):
    """Execute routed and direct; assert bit-equality and the expected
    routing decision. Returns the routed rows."""
    before = sql.mv_route_count
    routed_df = sql.execute(stmt)
    routed_rows = sorted(tuple(r) for r in routed_df.collect())
    did_route = sql.mv_route_count > before
    sql.mv_routing = False
    try:
        direct_df = sql.execute(stmt)
        direct_rows = sorted(tuple(r) for r in direct_df.collect())
    finally:
        sql.mv_routing = True
    # names + types must match exactly; nullability is advisory in
    # Spark (a storage read is nullable where a COUNT literal is not)
    assert [
        (f.name, f.dataType) for f in routed_df.schema.fields
    ] == [(f.name, f.dataType) for f in direct_df.schema.fields], stmt
    assert routed_rows == direct_rows, stmt
    assert did_route == expect_route, (
        f"{stmt}: routed={did_route}, expected {expect_route}"
    )
    return routed_rows


# -- view-wrapped routing (the headline) --

def test_view_wrapping_aggregate_routes(env):
    _, sql, _ = env
    _run(sql, "SELECT * FROM ns.vw", True)


def test_view_where_on_key_conjoins_as_refinement(env):
    _, sql, _ = env
    _run(sql, "SELECT * FROM ns.vw WHERE g = 'g1'", True)
    _run(sql, "SELECT * FROM ns.vw WHERE g IN ('g0', 'g2')", True)
    _run(sql, "SELECT * FROM ns.vw WHERE total > 100", True)


def test_view_between_on_key_routes(env):
    """``BETWEEN`` analyzes to a RuntimeReplaceable ``Between`` over a
    ``With`` node; the matcher renders it from its operands, so a
    BETWEEN key refinement over a view routes like any comparison."""
    _, sql, _ = env
    _run(sql, "SELECT * FROM ns.vw WHERE g BETWEEN 'g0' AND 'g1'", True)


def test_group_by_over_projection_view_routes(env):
    _, sql, _ = env
    _run(sql, "SELECT grp, SUM(v) AS total FROM ns.proj GROUP BY grp", True)
    _run(
        sql,
        "SELECT grp, AVG(w) AS mw FROM ns.proj GROUP BY grp",
        True,
    )


def test_nested_view_with_renames_routes(env):
    _, sql, _ = env
    sql.execute(
        "CREATE VIEW ns.vr AS SELECT g AS grp, total AS t2 FROM ns.vw"
    )
    _run(sql, "SELECT * FROM ns.vr", True)
    _run(sql, "SELECT grp, t2 FROM ns.vr WHERE t2 > 100", True)


def test_alias_capture_swapped_names(env):
    """A view that SWAPS two column names: ``v`` in the query means
    base ``g`` and vice versa. Text matching would serve the wrong
    columns; the tree resolves through the rename."""
    _, sql, _ = env
    sql.execute(
        "CREATE VIEW ns.swap AS SELECT g AS v, v AS g, w FROM ns.t"
    )
    rows = _run(sql, "SELECT v, SUM(g) AS s FROM ns.swap GROUP BY v", True)
    # v (= base g) has 3 groups; SUM(g) is the sum of base v
    assert len(rows) == 3


def test_having_with_hidden_aggregate_over_view(env):
    _, sql, _ = env
    _run(
        sql,
        "SELECT grp, SUM(v) AS total FROM ns.proj GROUP BY grp "
        "HAVING COUNT(*) > 5 AND AVG(w) > 100",
        True,
    )


def test_expression_group_key_refinement(env):
    """Refinement conjuncts over EXPRESSION keys (year(ts)-style):
    only the tree path can substitute the whole key subtree."""
    _, sql, _ = env
    sql.execute(
        "CREATE MATERIALIZED VIEW ns.bucketmv AS "
        "SELECT v % 3 AS bucket, SUM(w) AS tw FROM ns.t GROUP BY v % 3"
    )
    sql.execute("REFRESH MATERIALIZED VIEW ns.bucketmv")
    _run(
        sql,
        "SELECT v % 3 AS bucket, SUM(w) AS tw FROM ns.t "
        "WHERE v % 3 = 1 GROUP BY v % 3",
        True,
    )


def test_commutative_operand_reorder_matches(env):
    _, sql, _ = env
    _run(sql, "SELECT g, SUM(w + v) AS tvw FROM ns.t GROUP BY g", True)


def test_coarser_grain_and_global_through_view(env):
    _, sql, _ = env
    _run(sql, "SELECT SUM(v) AS total FROM ns.proj", True)
    _run(sql, "SELECT AVG(w) AS mw FROM ns.proj", True)  # hidden partials
    _run(sql, "SELECT COUNT(*) AS n FROM ns.proj", True)


def test_distinct_keys_through_view(env):
    _, sql, _ = env
    _run(sql, "SELECT DISTINCT grp FROM ns.proj", True)


def test_count_distinct_equal_grain_only(env):
    _, sql, _ = env
    _run(sql, "SELECT g, COUNT(DISTINCT k) AS dk FROM ns.t GROUP BY g", True)
    # coarser grain: distinct counts don't re-aggregate
    _run(sql, "SELECT COUNT(DISTINCT k) AS dk FROM ns.t", False)


def test_order_by_limit_tail_over_view_route(env):
    _, sql, _ = env
    _run(
        sql,
        "SELECT * FROM ns.vw WHERE total > 10 ORDER BY total DESC LIMIT 2",
        True,
    )


def test_routed_select_reuses_the_definition_shape(env, monkeypatch):
    """A routed SELECT analyzes an MV definition once per session: the
    first route memoizes its shape, and REFRESH (which analyzes the
    definition anyway) seeds the memo."""
    wh, sql, _ = env
    sql.execute("REFRESH MATERIALIZED VIEW ns.mv")
    definition = wh.mv_definition("ns", "mv")
    stmt = "SELECT g, SUM(v) AS total FROM ns.t GROUP BY g"

    def analyzed_defs(session):
        seen: list[str] = []
        orig = session._rewrite_tables
        monkeypatch.setattr(
            session, "_rewrite_tables",
            lambda text, *a: seen.append(text) or orig(text, *a),
        )
        return seen

    cold = WarehouseSQL(wh)
    seen = analyzed_defs(cold)
    _run(cold, stmt, True)
    assert seen.count(definition) == 1
    seen.clear()
    _run(cold, stmt, True)
    assert definition not in seen

    seeded = WarehouseSQL(wh)
    seeded.execute("REFRESH MATERIALIZED VIEW ns.mv")
    seen = analyzed_defs(seeded)
    _run(seeded, stmt, True)
    assert definition not in seen


# -- the reference dashboard shapes: interval arithmetic, extract,
# make_date and try_divide classify like any other expression --

TX = StructType(
    [
        StructField("id", LongType(), False),
        StructField("region", StringType()),
        StructField("merchant_category", StringType()),
        StructField("date", DateType()),
        StructField("amount", DoubleType()),
        StructField("qty", LongType()),
        StructField("risk_score", StringType()),
        StructField("status", StringType()),
    ]
)

_RISK_SELECT = (
    "SELECT region, merchant_category, date, "
    "COUNT(*) AS total_transactions, "
    "SUM(CAST(amount AS DECIMAL(12,2))) AS total_amount, "
    "COUNT(CASE WHEN risk_score = 'HIGH' THEN 1 END) AS high_risk_count, "
    "COUNT(CASE WHEN status = 'FLAGGED' THEN 1 END) "
    "AS flagged_transactions "
    "FROM r.tx WHERE date >= DATE '2024-01-14' - INTERVAL '7' DAY "
    "GROUP BY region, merchant_category, date"
)


@pytest.fixture(scope="module")
def risk_env(spark):
    with tempfile.TemporaryDirectory() as d:
        wh = Warehouse(spark, d)
        wh.create_namespace("r")
        wh.create_table("r", "tx", TX)
        day0 = datetime.date(2024, 1, 1)
        rows = [
            (
                i, f"reg{i % 3}", f"cat{i % 2}",
                day0 + datetime.timedelta(days=i % 14),
                round(10.5 + i * 3.25, 2), 1 + i % 4,
                "HIGH" if i % 5 == 0 else "LOW",
                "FLAGGED" if i % 7 == 0 else "OK",
            )
            for i in range(60)
        ]
        wh.insert("r", "tx", spark.createDataFrame(rows, TX).coalesce(2))
        sql = WarehouseSQL(wh)
        for name, body in [
            ("risk7", _RISK_SELECT),
            (
                "daily",
                "SELECT region, date, COUNT(*) AS n, "
                "SUM(try_divide(CAST(amount AS DECIMAL(12,2)), qty)) "
                "AS per_unit FROM r.tx GROUP BY region, date",
            ),
            (
                "monthly",
                "SELECT make_date(year(date), extract(month FROM date), 1) "
                "AS month_start, region, "
                "SUM(CAST(amount AS DECIMAL(12,2))) AS total FROM r.tx "
                "GROUP BY make_date(year(date), extract(month FROM date), 1), "
                "region",
            ),
        ]:
            sql.execute(f"CREATE MATERIALIZED VIEW r.{name} AS {body}")
            sql.execute(f"REFRESH MATERIALIZED VIEW r.{name}")
        yield sql


def test_risk_dashboard_query_routes(risk_env):
    """The reference's Risk Analysis query (a ``DATE - INTERVAL`` WHERE,
    HAVING over a conditional count, ORDER BY) routes from an MV
    holding the same WHERE."""
    sql = risk_env
    rows = _run(
        sql,
        f"{_RISK_SELECT} "
        "HAVING COUNT(CASE WHEN risk_score = 'HIGH' THEN 1 END) > 0 "
        "ORDER BY high_risk_count DESC",
        True,
    )
    assert rows and sql._last_mv_route == "r.risk7"


def test_interval_predicate_refines_a_date_key(risk_env):
    """A different interval window is a refinement conjunct over the
    ``date`` key: re-rendered over MV storage, it must parse back."""
    sql = risk_env
    _run(
        sql,
        "SELECT region, COUNT(*) AS n FROM r.tx "
        "WHERE date >= DATE '2024-01-14' - INTERVAL '3' DAY GROUP BY region",
        True,
    )
    assert sql._last_mv_route == "r.daily"
    _run(
        sql,
        "SELECT date, "
        "SUM(try_divide(CAST(amount AS DECIMAL(12,2)), qty)) AS per_unit "
        "FROM r.tx WHERE date < DATE '2024-01-03' + INTERVAL '1' DAY "
        "AND region = 'reg1' GROUP BY date",
        True,
    )


def test_extract_and_make_date_keys_route(risk_env):
    """``date_part('month', d)`` and ``extract(month FROM d)`` analyze
    to the same ``month(d)``, so a make_date key written either way
    matches."""
    sql = risk_env
    _run(
        sql,
        "SELECT make_date(year(date), date_part('month', date), 1) AS ms, "
        "SUM(CAST(amount AS DECIMAL(12,2))) AS total FROM r.tx "
        "GROUP BY make_date(year(date), date_part('month', date), 1)",
        True,
    )
    assert sql._last_mv_route == "r.monthly"


# -- adversarial no-route cases (must stay correct via direct scan) --

def test_non_key_view_filter_refuses(env):
    _, sql, _ = env
    sql.execute(
        "CREATE VIEW ns.vf AS SELECT g, v FROM ns.t WHERE w > 100"
    )
    _run(sql, "SELECT g, SUM(v) AS total FROM ns.vf GROUP BY g", False)


def test_compound_aggregate_refuses(env):
    _, sql, _ = env
    _run(
        sql,
        "SELECT g, SUM(v) / SUM(w) AS ratio FROM ns.t GROUP BY g",
        False,
    )


def test_unknown_aggregate_refuses(env):
    _, sql, _ = env
    _run(
        sql,
        "SELECT grp, percentile_approx(v, 0.5) AS p50 FROM ns.proj "
        "GROUP BY grp",
        False,
    )


def test_mv_def_with_having_never_serves_undiltered_query(env):
    _, sql, _ = env
    sql.execute(
        "CREATE MATERIALIZED VIEW ns.hmv AS "
        "SELECT g, SUM(v) AS total FROM ns.t GROUP BY g "
        "HAVING SUM(v) > 10000"
    )
    sql.execute("REFRESH MATERIALIZED VIEW ns.hmv")
    # the same text minus HAVING must NOT serve from hmv's storage
    # (its groups are a filtered subset); ns.mv still serves it
    rows = _run(sql, "SELECT g, SUM(v) AS total FROM ns.t GROUP BY g", True)
    assert len(rows) == 3
    assert sql._last_mv_route != "ns.hmv"
    sql.execute("DROP MATERIALIZED VIEW ns.hmv")


@pytest.mark.parametrize(
    "fn",
    [
        "current_date",
        "current_timestamp()",
        "now()",
        "localtimestamp()",
        "current_time()",
        "unix_timestamp()",
    ],
)
def test_time_varying_predicate_never_routes(env, fn):
    """An evaluation-time-varying function never routes, whether the
    MV definition carries it too (a version-fresh MV materialized at an
    earlier wall clock is stale for it) or only the query does (as a
    refinement over the group key it would otherwise filter stored
    groups by a clock the storage never saw)."""
    _, sql, _ = env
    pred = f"k < CONCAT('z', CAST({fn} AS STRING))"
    sql.execute(
        "CREATE MATERIALIZED VIEW ns.tvmv AS "
        f"SELECT g, SUM(v) AS total FROM ns.t WHERE v >= 0 AND {pred} "
        "GROUP BY g"
    )
    sql.execute("REFRESH MATERIALIZED VIEW ns.tvmv")
    try:
        _run(
            sql,
            f"SELECT g, SUM(v) AS total FROM ns.t WHERE v >= 0 AND {pred} "
            "GROUP BY g",
            False,
        )
    finally:
        sql.execute("DROP MATERIALIZED VIEW ns.tvmv")
    # only the query: a key predicate ns.mv could otherwise serve
    _run(
        sql,
        "SELECT g, SUM(v) AS total FROM ns.t "
        f"WHERE g < CONCAT('z', CAST({fn} AS STRING)) GROUP BY g",
        False,
    )


def test_stale_mv_never_routes_through_view(env):
    wh, sql, spark = env
    wh.insert("ns", "t", spark.createDataFrame([("k99", "g0", 7, 9)], S))
    try:
        _run(sql, "SELECT * FROM ns.vw", False)
    finally:
        sql.execute("REFRESH MATERIALIZED VIEW ns.mv")
        sql.execute("REFRESH MATERIALIZED VIEW ns.bucketmv")
    _run(sql, "SELECT * FROM ns.vw", True)


def test_join_and_subquery_refuse(env):
    _, sql, _ = env
    _run(
        sql,
        "SELECT a.g, SUM(a.v) AS total FROM ns.t a "
        "JOIN ns.t b ON a.k = b.k GROUP BY a.g",
        False,
    )
    _run(
        sql,
        "SELECT g, SUM(v) AS total FROM ns.t "
        "WHERE k IN (SELECT k FROM ns.t WHERE w > 100) GROUP BY g",
        False,
    )


def test_mv_defined_over_a_view_never_serves(env):
    """An MV defined over a view never serves a routed query, before
    and after the view is replaced (the MV is then stale: its storage
    still holds the old view's rows)."""
    wh, sql, _ = env
    sql.execute("CREATE VIEW ns.wv AS SELECT g, v FROM ns.t")
    sql.execute(
        "CREATE MATERIALIZED VIEW ns.overview AS "
        "SELECT g, MAX(v) AS mx FROM ns.wv GROUP BY g"
    )
    sql.execute("REFRESH MATERIALIZED VIEW ns.overview")
    stmt = "SELECT g, MAX(v) AS mx FROM ns.wv GROUP BY g"  # only it matches
    try:
        _run(sql, stmt, False)
        sql.execute(
            "CREATE OR REPLACE VIEW ns.wv AS SELECT g, v * 100 AS v FROM ns.t"
        )
        assert not wh.mv_status("ns", "overview")["fresh"]
        _run(sql, stmt, False)
    finally:
        sql.execute("DROP MATERIALIZED VIEW ns.overview")


def test_replaced_view_makes_mv_stale_until_refresh(env):
    """REFRESH records the text of every view the definition reads
    through; replacing one makes the MV stale (``stale_sources`` names
    the view), and the next REFRESH recomputes through the new text
    instead of folding a source delta onto storage built from the old
    one."""
    wh, sql, spark = env
    gs = StructType([StructField("g", StringType()), StructField("v", LongType())])
    wh.create_table("ns", "gv", gs)
    wh.insert(
        "ns", "gv",
        spark.createDataFrame([("g0", 5), ("g0", 15), ("g1", 7)], gs).coalesce(1),
    )
    sql.execute("CREATE VIEW ns.gvv AS SELECT g, v FROM ns.gv")
    sql.execute(
        "CREATE MATERIALIZED VIEW ns.gvm AS "
        "SELECT g, SUM(v) AS s FROM ns.gvv GROUP BY g"
    )
    try:
        sql.execute("REFRESH MATERIALIZED VIEW ns.gvm")
        st = wh.mv_status("ns", "gvm")
        assert st["fresh"] and st["stale_sources"] == []
        sql.execute("CREATE OR REPLACE VIEW ns.gvv AS SELECT g, v * 100 AS v FROM ns.gv")
        st = wh.mv_status("ns", "gvm")
        assert not st["fresh"] and st["stale_sources"] == ["ns.gvv"]
        # storage still serves the rows of the old view text
        assert dict(sql.execute("SELECT * FROM ns.gvm").collect()) == {
            "g0": 20, "g1": 7,
        }
        wh.insert("ns", "gv", spark.createDataFrame([("g1", 1)], gs).coalesce(1))
        st = sql.execute("REFRESH MATERIALIZED VIEW ns.gvm")
        assert st["fresh"] and not st["incremental"]
        assert dict(sql.execute("SELECT * FROM ns.gvm").collect()) == {
            "g0": 2000, "g1": 800,
        }
        sql.execute("DROP VIEW ns.gvv")
        assert wh.mv_status("ns", "gvm")["stale_sources"] == ["ns.gvv"]
    finally:
        sql.execute("DROP MATERIALIZED VIEW ns.gvm")
        wh.drop_view("ns", "gvv")
        wh.drop_table("ns", "gv")


def test_view_with_order_limit_inside_refuses(env):
    _, sql, _ = env
    sql.execute(
        "CREATE VIEW ns.vtop AS "
        "SELECT g, v FROM ns.t ORDER BY v DESC LIMIT 10"
    )
    _run(sql, "SELECT g, SUM(v) AS total FROM ns.vtop GROUP BY g", False)


def test_governed_session_never_tree_routes(env):
    wh, sql, spark = env
    wh.grant("alice", "ns", "t", permissions=("SELECT",))
    gov = WarehouseSQL(wh, principal="alice")
    before_routes = sql.mv_route_count
    df = gov.execute("SELECT * FROM ns.vw")
    assert sorted(tuple(r) for r in df.collect())
    assert gov.mv_route_count == 0
    assert sql.mv_route_count == before_routes
