"""BI layer: entities, introspection parity, form-data compiler, and
the reference's exact bootstrap shape (init_db.py)."""

from __future__ import annotations

import pyspark.sql.functions as F

from hands_on_trino_iceberg_superset_spark.bi import (
    Chart,
    Database,
    compile_form_data,
)
from hands_on_trino_iceberg_superset_spark.bi.entities import reference_dashboard
from hands_on_trino_iceberg_superset_spark.engine import Engine
from hands_on_trino_iceberg_superset_spark.seed import seed_frames, seed_into_catalog


def test_reference_dashboard_bootstrap(spark) -> None:
    eng = Engine(spark)
    seed_into_catalog(spark, schema="demo_bi_test")
    eng.default_schema = "demo_bi_test"
    dash = reference_dashboard(eng)
    assert len(dash.charts) == 5
    # each chart runs and respects raw-mode row_limit
    for chart in dash.charts:
        rows = chart.run().collect()
        assert 0 < len(rows) <= 100
        assert list(chart.run().columns) == chart.form_data["all_columns"]
    # dataset introspection is get_columns-shaped
    cols = dash.charts[0].dataset.fetch_metadata()
    assert {c.name for c in cols} >= {"id", "ts", "event_type"}
    assert all(isinstance(c.nullable, bool) for c in cols)
    # layout: 5 charts -> 3 rows of <=2, reference constants
    pos = dash.position_json()
    grid_rows = pos["GRID_ID"]["children"]
    assert len(grid_rows) == 3
    assert pos["CHART-0"]["meta"]["width"] == 6
    assert pos["CHART-0"]["meta"]["height"] == 50


def test_compiler_agg_mode_adhoc_metrics(spark) -> None:
    users = seed_frames(spark)["users"]
    out = compile_form_data(
        users,
        {
            "query_mode": "aggregate",
            "groupby": ["country"],
            "metrics": [
                "count",
                {"aggregate": "COUNT_DISTINCT", "column": "user_id",
                 "label": "n_users"},
            ],
            "order_by": [["count", False]],
            "row_limit": 3,
        },
    )
    rows = out.collect()
    assert len(rows) == 3
    assert out.columns == ["country", "count", "n_users"]
    # counts descend
    counts = [r["count"] for r in rows]
    assert counts == sorted(counts, reverse=True)


def test_compiler_global_agg_without_groupby(spark) -> None:
    events = seed_frames(spark)["events"]
    out = compile_form_data(events, {"query_mode": "aggregate",
                                     "metrics": ["count"]})
    assert out.collect()[0]["count"] == 200


def test_compiler_time_range_halfopen(spark) -> None:
    events = seed_frames(spark)["events"]
    fd = {
        "query_mode": "aggregate",
        "metrics": ["count"],
        "granularity_sqla": "ts",
        "time_range": "2025-12-31 00:00:00 : 2026-01-01 00:00:00",
    }
    got = compile_form_data(events, fd).collect()[0]["count"]
    expect = events.filter(
        (F.col("ts") >= "2025-12-31") & (F.col("ts") < "2026-01-01")
    ).count()
    assert got == expect > 0


def test_raw_mode_ignores_metric_order_by(spark):
    """The reference's raw-mode blob carries order_by [["count",
    false]] with no such column; Superset ignores it in raw mode and
    so must the compiler (applying it crashed on UNRESOLVED_COLUMN)."""
    from hands_on_trino_iceberg_superset_spark.bi.compiler import (
        compile_form_data,
    )

    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string")
    out = compile_form_data(df, {
        "query_mode": "raw",
        "all_columns": ["id", "s"],
        "order_by": [["count", False]],
        "row_limit": 10,
    })
    assert out.count() == 2
    # a raw order_by naming a REAL projected column still applies
    out2 = compile_form_data(df, {
        "query_mode": "raw", "all_columns": ["id"],
        "order_by": [["id", False]], "row_limit": 1,
    })
    assert out2.collect()[0].id == 2
    # no all_columns: every column of the frame, and an order_by on a
    # real column applies while one on a missing column is dropped
    out3 = compile_form_data(df, {
        "query_mode": "raw",
        "order_by": [["ghost", True], ["id", False]],
    })
    assert out3.columns == ["id", "s"]
    assert [tuple(r) for r in out3.collect()] == [(2, "b"), (1, "a")]


def test_relative_time_range_resolves_and_unmodeled_raises(spark):
    """Superset's picker phrases resolve against the injectable
    anchor (r13; formerly a blanket refusal); grammar the compiler
    does not model ('Next ...', DATEADD expressions) still refuses
    loudly — resolving it wrong would silently filter the chart."""
    import pytest as _pytest

    from hands_on_trino_iceberg_superset_spark.bi.compiler import (
        compile_form_data,
    )

    df = spark.createDataFrame([(1,)], "id long").selectExpr(
        "id", "timestamp'2024-01-05 12:00:00' as ts"
    )
    # 'Last week' with a pinned anchor keeps the 01-05 row
    out = compile_form_data(df, {
        "query_mode": "raw",
        "time_range": "Last week",
        "time_range_anchor": "2024-01-08 09:15:00",
        "granularity_sqla": "ts",
    })
    assert out.count() == 1
    # ...and an anchor BEFORE the row filters it out (midnight
    # truncation: until = anchor's midnight, exclusive)
    out = compile_form_data(df, {
        "query_mode": "raw",
        "time_range": "Last week",
        "time_range_anchor": "2024-01-05 23:59:59",
        "granularity_sqla": "ts",
    })
    assert out.count() == 0
    for bad in ("Next week", "DATEADD(DATETIME('today'), -7, day)",
                "yesterday"):
        with _pytest.raises(ValueError, match="time_range"):
            compile_form_data(df, {
                "query_mode": "raw",
                "time_range": bad,
                "granularity_sqla": "ts",
            })
    with _pytest.raises(ValueError, match="anchor"):
        compile_form_data(df, {
            "query_mode": "raw",
            "time_range": "Last week",
            "time_range_anchor": "not a timestamp",
            "granularity_sqla": "ts",
        })


def test_relative_time_range_grammar_paths_agree(spark):
    """Every supported relative phrase resolves to the SAME bounds on
    the Catalyst and SQL-text paths (one resolver feeds both), with
    the documented semantics: common frames anchor at midnight,
    previous-calendar frames at the calendar boundary (ISO Monday
    week), custom 'Last N <unit>' at the raw anchor instant, and
    month math clamps the day into the target month."""
    from hands_on_trino_iceberg_superset_spark.bi.compiler import (
        compile_form_data,
        form_data_to_sql,
    )

    rows = [
        (1, "2024-01-22 00:00:00"),  # Monday, prev-cal-week start
        (2, "2024-01-25 13:00:00"),
        (3, "2024-01-28 23:59:59"),  # Sunday, prev-cal-week end
        (4, "2024-01-29 00:00:00"),  # anchor midnight (excluded)
        (5, "2024-01-29 08:00:00"),  # before raw anchor
        (6, "2023-12-31 23:00:00"),  # previous calendar month/year
        (7, "2023-01-15 00:00:00"),  # previous calendar year only
    ]
    df = spark.createDataFrame(rows, "id long, s string").selectExpr(
        "id", "cast(s as timestamp_ntz) as ts"
    )
    df.createOrReplaceTempView("rel_range_t")
    anchor = "2024-01-29 10:30:00"  # a Monday, mid-morning
    expected = {
        "Last week": {1, 2, 3},          # [01-22 00:00, 01-29 00:00)
        "previous calendar week": {1, 2, 3},  # identical on a Monday
        "Last 7 days": {2, 3, 4, 5},     # raw-anchor window: since
                                         # 01-22 10:30 excludes row 1
        "Last day": {3},                 # [01-28, 01-29)
        "previous calendar month": {6},  # [12-01, 01-01)
        "previous calendar year": {6, 7},
        "Last 12 hours": {3, 4, 5},      # since 01-28 22:30
        "Last month": {1, 2, 3, 6},      # [2023-12-29, 01-29)
    }
    for rng, want in expected.items():
        fd = {
            "query_mode": "raw",
            "all_columns": ["id"],
            "time_range": rng,
            "time_range_anchor": anchor,
            "granularity_sqla": "ts",
        }
        got_cat = {r.id for r in compile_form_data(df, fd).collect()}
        got_sql = {
            r.id
            for r in spark.sql(
                form_data_to_sql("rel_range_t", fd)).collect()
        }
        assert got_cat == want, (rng, got_cat)
        assert got_sql == want, (rng, got_sql)


def test_custom_time_range_grammar_paths_agree(spark):
    """Superset's ADVANCED ('Custom') tab sends grammar expressions
    as bounds — DATEADD/DATETRUNC/LASTDAY over DATETIME/today/now.
    Both paths resolve them against the anchor; malformed or
    unsupported grammar (HOLIDAY) refuses."""
    import pytest as _pytest

    from hands_on_trino_iceberg_superset_spark.bi.compiler import (
        _parse_range_expr,
        compile_form_data,
        form_data_to_sql,
    )
    from datetime import datetime

    anchor = datetime.fromisoformat("2024-01-29 10:30:00")
    cases = {
        "today": "2024-01-29 00:00:00",
        "now": "2024-01-29 10:30:00",
        "DATETIME('2024-01-15 08:00:00')": "2024-01-15 08:00:00",
        'DATEADD(DATETIME("today"), -7, day)': "2024-01-22 00:00:00",
        "DATEADD(today, 2, week)": "2024-02-12 00:00:00",
        "DATETRUNC(now, month)": "2024-01-01 00:00:00",
        "DATETRUNC(DATEADD(today, -1, month), quarter)":
            "2023-10-01 00:00:00",
        "LASTDAY(today, month)": "2024-01-31 00:00:00",
        "LASTDAY(DATETIME('2024-02-14'), week)": "2024-02-18 00:00:00",
        "LASTDAY(now, year)": "2024-12-31 00:00:00",
        "DATEADD(DATETIME('2024-03-31'), -1, month)":
            "2024-02-29 00:00:00",  # day clamped into February
    }
    for expr, want in cases.items():
        got = _parse_range_expr(expr, anchor)
        assert got == datetime.fromisoformat(want), (expr, got)

    # end-to-end on both compilation paths
    df = spark.createDataFrame(
        [(1, "2024-01-22 00:00:00"), (2, "2024-01-25 12:00:00"),
         (3, "2024-01-29 09:00:00")],
        "id long, s string",
    ).selectExpr("id", "cast(s as timestamp_ntz) as ts")
    df.createOrReplaceTempView("adv_range_t")
    fd = {
        "query_mode": "raw",
        "all_columns": ["id"],
        "granularity_sqla": "ts",
        "time_range": 'DATEADD(DATETIME("today"), -7, day) : today',
        "time_range_anchor": "2024-01-29 10:30:00",
    }
    got_cat = {r.id for r in compile_form_data(df, fd).collect()}
    sql = form_data_to_sql("adv_range_t", fd)
    got_sql = {r.id for r in spark.sql(sql).collect()}
    assert got_cat == got_sql == {1, 2}
    # the emitted SQL carries resolved ISO literals, never grammar
    assert "DATEADD" not in sql and "TIMESTAMP '2024-01-22" in sql
    for bad in ("HOLIDAY('christmas') : today",
                "DATEADD(today, x, day) : ",
                "DATEADD(today, 1) : ",
                "today tomorrow : "):
        with _pytest.raises(ValueError):
            form_data_to_sql("adv_range_t", {**fd, "time_range": bad})


def test_time_range_endpoints_paths_agree(spark):
    """SIP-15 time_range_endpoints: the default is [inclusive,
    exclusive); explicit pairs flip each bound on BOTH paths;
    'unknown' (pre-SIP-15) refuses."""
    import pytest as _pytest

    from hands_on_trino_iceberg_superset_spark.bi.compiler import (
        compile_form_data,
        form_data_to_sql,
    )

    df = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00"), (2, "2024-01-02 00:00:00"),
         (3, "2024-01-03 00:00:00")],
        "id long, s string",
    ).selectExpr("id", "cast(s as timestamp_ntz) as ts")
    df.createOrReplaceTempView("ep_range_t")
    base = {
        "query_mode": "raw",
        "all_columns": ["id"],
        "granularity_sqla": "ts",
        "time_range": "2024-01-01 00:00:00 : 2024-01-03 00:00:00",
    }
    cases = [
        (None, {1, 2}),
        (["inclusive", "exclusive"], {1, 2}),
        (["inclusive", "inclusive"], {1, 2, 3}),
        (["exclusive", "exclusive"], {2}),
        (["exclusive", "inclusive"], {2, 3}),
    ]
    for eps, want in cases:
        fd = dict(base)
        if eps is not None:
            fd["time_range_endpoints"] = eps
        got_cat = {r.id for r in compile_form_data(df, fd).collect()}
        got_sql = {
            r.id
            for r in spark.sql(
                form_data_to_sql("ep_range_t", fd)).collect()
        }
        assert got_cat == want == got_sql, (eps, got_cat, got_sql)
    for bad in (["unknown", "exclusive"], ["inclusive"], "inclusive"):
        with _pytest.raises(ValueError, match="endpoints"):
            compile_form_data(
                df, {**base, "time_range_endpoints": bad})


def test_dashboard_position_has_root(spark):
    from hands_on_trino_iceberg_superset_spark.bi.entities import (
        Chart, Dashboard,
    )

    d = Dashboard(title="t", charts=[
        Chart(name="c1", dataset=None, form_data={}),
    ])
    pos = d.position_json()
    assert pos["ROOT_ID"]["children"] == ["GRID_ID"]
    assert pos["GRID_ID"]["parents"] == ["ROOT_ID"]


def test_form_data_to_sql_shapes(spark):
    from hands_on_trino_iceberg_superset_spark.bi.compiler import (
        form_data_to_sql,
    )

    # aggregate mode with builtin + adhoc metrics
    sql = form_data_to_sql("t", {
        "query_mode": "aggregate",
        "groupby": ["a", "b"],
        "metrics": ["count",
                    {"aggregate": "SUM", "column": "x", "label": "sx"}],
        "order_by": [["count", False], ["a", True]],
        "row_limit": 10,
    })
    assert sql == ("SELECT a, b, count(*) AS count, sum(x) AS sx "
                   "FROM t GROUP BY a, b ORDER BY count DESC, a "
                   "LIMIT 10")

    # raw mode + explicit time range; metric-shaped order_by dropped
    sql = form_data_to_sql("t", {
        "query_mode": "raw",
        "all_columns": ["a"],
        "granularity_sqla": "ts",
        "time_range": "2025-01-01 00:00:00 : 2025-02-01 00:00:00",
        "order_by": [["count", False], ["a", True]],
    })
    assert sql == ("SELECT a FROM t"
                   " WHERE ts >= TIMESTAMP '2025-01-01 00:00:00'"
                   " AND ts < TIMESTAMP '2025-02-01 00:00:00'"
                   " ORDER BY a")

    # the emitted SQL actually runs on the engine
    spark.createDataFrame(
        [("u", 1.0), ("u", 2.0), ("v", 3.0)], "a string, x double"
    ).createOrReplaceTempView("t")
    got = spark.sql(form_data_to_sql("t", {
        "query_mode": "aggregate", "groupby": ["a"],
        "metrics": [{"aggregate": "SUM", "column": "x", "label": "sx"}],
        "order_by": [["a", True]],
    })).collect()
    assert [(r.a, r.sx) for r in got] == [("u", 3.0), ("v", 3.0)]

    # aggregate mode drops order_by entries naming nothing emitted
    # (mirrors the raw-mode filter): an unchecked label compiles to
    # SQL that fails only at execution time on the wire path
    sql = form_data_to_sql("t", {
        "query_mode": "aggregate",
        "groupby": ["a"],
        "metrics": [{"aggregate": "SUM", "column": "x", "label": "sx"}],
        "order_by": [["ghost", False], ["sx", False],
                     [{"aggregate": "SUM", "column": "x",
                       "label": "sx"}, True],
                     [{"aggregate": "AVG", "column": "y"}, True]],
    })
    assert sql == ("SELECT a, sum(x) AS sx FROM t GROUP BY a "
                   "ORDER BY sx DESC, sx")

    # a non-null time grain compiles to a leading date_trunc group
    # key under Superset's reserved __timestamp label, orderable by
    # that label; unknown grains raise
    sql = form_data_to_sql("t", {
        "query_mode": "aggregate",
        "granularity_sqla": "ts",
        "time_grain_sqla": "P1D",
        "groupby": ["a"],
        "metrics": ["count"],
        "order_by": [["__timestamp", True], ["count", False]],
    })
    assert sql == ("SELECT date_trunc('day', ts) AS __timestamp, a, "
                   "count(*) AS count FROM t "
                   "GROUP BY date_trunc('day', ts), a "
                   "ORDER BY __timestamp, count DESC")

    # injection-shaped identifiers are rejected, not quoted
    import pytest

    for bad in ("a;drop", 'a"b', "a b", "a-b"):
        with pytest.raises(ValueError):
            form_data_to_sql("t", {"query_mode": "raw",
                                   "all_columns": [bad]})
    with pytest.raises(ValueError):
        form_data_to_sql("t; --", {"query_mode": "raw"})


def test_form_data_to_sql_time_bounds_are_injection_hardened():
    import pytest

    from hands_on_trino_iceberg_superset_spark.bi.compiler import (
        form_data_to_sql,
    )

    # a quote smuggled into a time bound must not escape the literal
    # (bounds that are neither ISO nor the custom grammar refuse)
    for rng in ("2020-01-01' OR '1'='1 : ",
                " : 2020-01-01'; DROP TABLE t --",
                "HOLIDAY('christmas') : ", "Last week : tomorrow"):
        with pytest.raises(ValueError):
            form_data_to_sql("t", {
                "query_mode": "raw",
                "granularity_sqla": "ts",
                "time_range": rng,
            })
    # legit shapes still compile: date-only and fractional seconds
    sql = form_data_to_sql("t", {
        "query_mode": "raw",
        "granularity_sqla": "ts",
        "time_range": "2020-01-01 : 2020-02-01 12:30:00.5",
    })
    assert "ts >= TIMESTAMP '2020-01-01'" in sql
    assert "ts < TIMESTAMP '2020-02-01 12:30:00.5'" in sql

    # raw mode without all_columns drops ALL order_by entries (the
    # reference's raw blob carries [["count", false]]; SELECT * ...
    # ORDER BY count would fail at execution)
    sql = form_data_to_sql("t", {
        "query_mode": "raw",
        "order_by": [["count", False], ["a", True]],
    })
    assert sql == "SELECT * FROM t"


def test_time_grain_catalyst_and_sql_paths_agree(spark):
    """The Catalyst compilation and the SQL-text compilation of the
    same time-grained chart produce identical rows (executed on the
    engine), and bad grains raise on both paths."""
    import pytest

    from hands_on_trino_iceberg_superset_spark.bi.compiler import (
        compile_form_data,
        form_data_to_sql,
    )

    df = spark.createDataFrame(
        [("2024-01-01 10:00:00", "a", 1.0),
         ("2024-01-01 23:00:00", "a", 2.0),
         ("2024-01-02 01:00:00", "b", 3.0)],
        "ts_raw string, g string, v double",
    ).selectExpr("cast(ts_raw as timestamp) as ts", "g", "v")
    df.createOrReplaceTempView("grain_t")
    fd = {
        "query_mode": "aggregate",
        "granularity_sqla": "ts",
        "time_grain_sqla": "P1D",
        "groupby": ["g"],
        "metrics": [{"aggregate": "SUM", "column": "v", "label": "sv"}],
        "order_by": [["__timestamp", True], ["g", True]],
    }
    native = [tuple(r) for r in compile_form_data(df, fd).collect()]
    wire = [tuple(r) for r in
            spark.sql(form_data_to_sql("grain_t", fd)).collect()]
    assert native == wire
    assert [(str(t), g, v) for t, g, v in native] == [
        ("2024-01-01 00:00:00", "a", 3.0),
        ("2024-01-02 00:00:00", "b", 3.0),
    ]
    for compiler in (lambda f: compile_form_data(df, f),
                     lambda f: form_data_to_sql("grain_t", f)):
        with pytest.raises(ValueError):
            compiler({**fd, "time_grain_sqla": "P42X"})


def test_aggregate_order_by_filter_on_catalyst_path(spark):
    """Ghost order_by entries are dropped on the Catalyst path too —
    both compilation paths must produce the same result, not one
    filtering and the other crashing on UNRESOLVED_COLUMN."""
    from hands_on_trino_iceberg_superset_spark.bi.compiler import (
        compile_form_data,
    )

    df = spark.createDataFrame(
        [("u", 1.0), ("v", 2.0)], "a string, x double")
    out = compile_form_data(df, {
        "query_mode": "aggregate",
        "groupby": ["a"],
        "metrics": [{"aggregate": "SUM", "column": "x", "label": "sx"}],
        "order_by": [["ghost", False], ["a", True]],
    })
    assert [(r.a, r.sx) for r in out.collect()] == [("u", 1.0), ("v", 2.0)]


def test_percent_metrics_paths_agree(spark):
    """percent_metrics on both compiler paths: identical rows on the
    engine, shares summing to 1, and a percent metric not in metrics
    raising on both paths."""
    import pytest

    from hands_on_trino_iceberg_superset_spark.bi.compiler import (
        compile_form_data,
        form_data_to_sql,
    )

    df = spark.createDataFrame(
        [("a",), ("a",), ("a",), ("b",)], "g string")
    df.createOrReplaceTempView("pct_t")
    fd = {
        "query_mode": "aggregate",
        "groupby": ["g"],
        "metrics": ["count"],
        "percent_metrics": ["count"],
        "order_by": [["g", True], ["pct_count", False]],
    }
    native = [tuple(r) for r in compile_form_data(df, fd).collect()]
    wire = [tuple(r) for r in
            spark.sql(form_data_to_sql("pct_t", fd)).collect()]
    assert native == wire == [("a", 3, 0.75), ("b", 1, 0.25)]
    bad = {**fd, "percent_metrics": [
        {"aggregate": "SUM", "column": "x", "label": "sx"}]}
    for compiler in (lambda f: compile_form_data(df, f),
                     lambda f: form_data_to_sql("pct_t", f)):
        with pytest.raises(ValueError, match="percent metric"):
            compiler(bad)


def test_adhoc_filters_paths_agree_and_reject_sql_type(spark):
    """SIMPLE adhoc filters: identical rows on both compiler paths
    (incl. LIKE / IS NULL / quote-bearing literals), and the SQL
    expressionType refused on both — a stored blob must never reach
    the WHERE as free SQL."""
    import pytest

    from hands_on_trino_iceberg_superset_spark.bi.compiler import (
        compile_form_data,
        form_data_to_sql,
    )

    df = spark.createDataFrame(
        [("ann", 1, "x'y"), ("bob", 2, None),
         ("bea", 3, "z"), ("cal", 4, "x'y")],
        "name string, n long, tag string",
    )
    df.createOrReplaceTempView("adhoc_t")
    fd = {
        "query_mode": "raw",
        "all_columns": ["name", "n", "tag"],
        "adhoc_filters": [
            {"expressionType": "SIMPLE", "subject": "name",
             "operator": "LIKE", "comparator": "b%"},
            {"expressionType": "SIMPLE", "subject": "tag",
             "operator": "IS NOT NULL", "comparator": None},
        ],
        "order_by": [["name", True]],
    }
    native = [tuple(r) for r in compile_form_data(df, fd).collect()]
    wire = [tuple(r) for r in
            spark.sql(form_data_to_sql("adhoc_t", fd)).collect()]
    assert native == wire == [("bea", 3, "z")]
    # a single-quote in the comparator stays INSIDE the literal
    fd_quote = {
        "query_mode": "raw", "all_columns": ["name"],
        "adhoc_filters": [
            {"expressionType": "SIMPLE", "subject": "tag",
             "operator": "==", "comparator": "x'y"},
        ],
        "order_by": [["name", True]],
    }
    sql = form_data_to_sql("adhoc_t", fd_quote)
    assert "x''y" in sql
    assert [r.name for r in spark.sql(sql).collect()] == ["ann", "cal"]
    # SQL expressionType is refused on both paths
    bad = {
        "query_mode": "raw",
        "adhoc_filters": [
            {"expressionType": "SQL",
             "sqlExpression": "1=1; DROP TABLE x"},
        ],
    }
    for compiler in (lambda f: compile_form_data(df, f),
                     lambda f: form_data_to_sql("adhoc_t", f)):
        with pytest.raises(ValueError, match="SIMPLE"):
            compiler(bad)
        with pytest.raises(ValueError, match="operator"):
            compiler({
                "query_mode": "raw",
                "adhoc_filters": [
                    {"expressionType": "SIMPLE", "subject": "n",
                     "operator": "BETWEEN; DROP",
                     "comparator": 1}],
            })


def test_percent_metrics_over_fetched_result(spark):
    """Superset's table chart computes percents over the FETCHED
    (ordered + row-limited) result: with 3 groups and row_limit=2,
    the two displayed shares sum to 1 — on both compiler paths."""
    from hands_on_trino_iceberg_superset_spark.bi.compiler import (
        compile_form_data,
        form_data_to_sql,
    )

    df = spark.createDataFrame(
        [("a",)] * 5 + [("b",)] * 3 + [("c",)] * 2, "g string")
    df.createOrReplaceTempView("pct_lim_t")
    fd = {
        "query_mode": "aggregate",
        "groupby": ["g"],
        "metrics": ["count"],
        "percent_metrics": ["count"],
        "order_by": [["count", False], ["g", True]],
        "row_limit": 2,
    }
    native = [tuple(r) for r in compile_form_data(df, fd).collect()]
    wire = [tuple(r) for r in
            spark.sql(form_data_to_sql("pct_lim_t", fd)).collect()]
    assert native == wire == [("a", 5, 0.625), ("b", 3, 0.375)]
    assert abs(sum(r[2] for r in native) - 1.0) < 1e-12


def test_having_filters_paths_agree(spark):
    """HAVING-clause adhoc filters (Superset metric filters) run
    post-aggregation, before ordering/limit/percent, on both paths;
    raw mode and unknown subjects are refused on both."""
    import pytest

    from hands_on_trino_iceberg_superset_spark.bi.compiler import (
        compile_form_data,
        form_data_to_sql,
    )

    df = spark.createDataFrame(
        [("a",)] * 5 + [("b",)] * 3 + [("c",)] * 1, "g string")
    df.createOrReplaceTempView("having_t")
    fd = {
        "query_mode": "aggregate",
        "groupby": ["g"],
        "metrics": ["count"],
        "percent_metrics": ["count"],
        "adhoc_filters": [
            {"expressionType": "SIMPLE", "clause": "HAVING",
             "subject": "count", "operator": ">=", "comparator": 3},
        ],
        "order_by": [["g", True]],
    }
    native = [tuple(r) for r in compile_form_data(df, fd).collect()]
    wire = [tuple(r) for r in
            spark.sql(form_data_to_sql("having_t", fd)).collect()]
    # group c (count 1) is HAVING-dropped BEFORE percent: shares are
    # over the surviving groups
    assert native == wire == [("a", 5, 0.625), ("b", 3, 0.375)]
    sql = form_data_to_sql("having_t", fd)
    assert "HAVING count(*) >= 3" in sql
    for compiler in (lambda f: compile_form_data(df, f),
                     lambda f: form_data_to_sql("having_t", f)):
        with pytest.raises(ValueError, match="aggregate"):
            compiler({**fd, "query_mode": "raw"})
        with pytest.raises(ValueError, match="HAVING filter subject"):
            compiler({**fd, "adhoc_filters": [
                {"expressionType": "SIMPLE", "clause": "HAVING",
                 "subject": "ghost", "operator": ">",
                 "comparator": 1}]})


def test_rolling_compiles_identically_on_both_paths(spark):
    """rolling_type: the Catalyst compilation and the SQL-text twin
    must produce the same frame (the wire path runs the SQL), and
    malformed rolling configs are refused on both paths."""
    import pytest

    from hands_on_trino_iceberg_superset_spark.bi.compiler import (
        compile_form_data,
        form_data_to_sql,
    )

    df = spark.createDataFrame(
        [("2024-01-0%d 00:00:00" % d, "a", i)
         for d, i in [(1, 1), (2, 2), (3, 3), (4, 4)]]
        + [("2024-01-01 00:00:00", "b", 10),
           ("2024-01-03 00:00:00", "b", 20)],
        "ts string, k string, v long",
    ).selectExpr("CAST(ts AS TIMESTAMP) ts", "k", "v")
    fd = {
        "query_mode": "aggregate",
        "granularity_sqla": "ts",
        "time_grain_sqla": "P1D",
        "groupby": ["k"],
        "metrics": ["count",
                    {"aggregate": "SUM", "column": "v", "label": "sv"}],
        "rolling_type": "mean",
        "rolling_periods": 2,
        "min_periods": 1,
        "time_range": "No filter",
    }
    catalyst = {
        (str(r["__timestamp"]), r.k, r["count"], r.sv)
        for r in compile_form_data(df, fd).collect()
    }
    df.createOrReplaceTempView("roll_t")
    sql = form_data_to_sql("roll_t", fd)
    wire = {
        (str(r["__timestamp"]), r.k, r["count"], r.sv)
        for r in spark.sql(sql).collect()
    }
    assert catalyst == wire
    # day 2 for k=a: mean(count over [day1, day2]) = 1.0; sv 1.5
    assert ("2024-01-02 00:00:00", "a", 1.0, 1.5) in catalyst
    # k=b has no day-2 bucket: its day-3 window spans [day1, day3]
    # ROWS (2 rows), not 2 calendar days
    assert ("2024-01-03 00:00:00", "b", 1.0, 15.0) in catalyst

    # cumsum ignores rolling_periods; leading rows never null at
    # min_periods default 1
    cum = compile_form_data(df, {**fd, "rolling_type": "cumsum",
                                 "min_periods": None})
    a_rows = sorted(
        [(str(r["__timestamp"]), r.sv) for r in cum.collect()
         if r.k == "a"]
    )
    assert [v for _, v in a_rows] == [1.0, 3.0, 6.0, 10.0]

    for bad in (
        {**fd, "rolling_type": "std"},
        {**fd, "rolling_type": "mean", "rolling_periods": 0},
        {**fd, "time_grain_sqla": None},
        {**fd, "query_mode": "raw"},
        {**fd, "percent_metrics": ["count"],
         "metrics": ["count"]},
    ):
        with pytest.raises(ValueError):
            compile_form_data(df, bad)
        with pytest.raises(ValueError):
            form_data_to_sql("roll_t", bad)


def test_series_limit_compiles_identically_on_both_paths(spark):
    """series_limit keeps every bucket of the winning series on
    both paths; ties break deterministically on the key; raw mode
    and empty groupby are refused."""
    import pytest

    from hands_on_trino_iceberg_superset_spark.bi.compiler import (
        compile_form_data,
        form_data_to_sql,
    )

    df = spark.createDataFrame(
        [("2024-01-01 00:00:00", k, 1) for k in
         ["a"] * 5 + ["b"] * 3 + ["c"] * 3 + ["d"] * 1]
        + [("2024-01-02 00:00:00", "d", 1)],
        "ts string, k string, v long",
    ).selectExpr("CAST(ts AS TIMESTAMP) ts", "k", "v")
    fd = {
        "query_mode": "aggregate",
        "granularity_sqla": "ts",
        "time_grain_sqla": "P1D",
        "groupby": ["k"],
        "metrics": ["count"],
        "series_limit": 2,
        "time_range": "No filter",
    }
    catalyst = {(str(r["__timestamp"]), r.k, r["count"])
                for r in compile_form_data(df, fd).collect()}
    # top-2 series by total count: a(5), then the b/c tie at 3
    # breaks on the key -> b; d (2 total) excluded even though it
    # spans two buckets
    assert {k for _, k, _ in catalyst} == {"a", "b"}
    df.createOrReplaceTempView("sl_t")
    wire = {(str(r["__timestamp"]), r.k, r["count"])
            for r in spark.sql(form_data_to_sql("sl_t", fd)).collect()}
    assert catalyst == wire

    for bad in ({**fd, "query_mode": "raw"},
                {**fd, "groupby": []}):
        with pytest.raises(ValueError):
            compile_form_data(df, bad)
        with pytest.raises(ValueError):
            form_data_to_sql("sl_t", bad)


def test_time_compare_compiles_identically_on_both_paths(spark):
    """time_compare: the offset series aligns one-offset-ago values
    beside the current bucket as <metric>__<offset>, identically on
    the Catalyst and SQL-text paths; hand-checked alignment on a
    two-day fixture; malformed offsets and unsupported combinations
    raise on BOTH paths."""
    import pytest

    from hands_on_trino_iceberg_superset_spark.bi.compiler import (
        compile_form_data,
        form_data_to_sql,
    )

    df = spark.createDataFrame(
        [("2024-01-01 10:00:00", "a"), ("2024-01-01 11:00:00", "a"),
         ("2024-01-02 10:00:00", "a"),
         ("2024-01-08 09:00:00", "a"), ("2024-01-08 23:00:00", "b")],
        "ts_raw string, g string",
    ).selectExpr("cast(ts_raw as timestamp) as ts", "g")
    df.createOrReplaceTempView("tc_t")
    fd = {
        "query_mode": "aggregate",
        "granularity_sqla": "ts",
        "time_grain_sqla": "P1D",
        "groupby": ["g"],
        "metrics": ["count"],
        "time_compare": ["1 week ago"],
        "order_by": [["__timestamp", True], ["g", True]],
    }
    native = [tuple(r) for r in compile_form_data(df, fd).collect()]
    wire = [tuple(r) for r in
            spark.sql(form_data_to_sql("tc_t", fd)).collect()]
    assert native == wire
    by_key = {(str(t), g): (c, prev) for t, g, c, prev in native}
    # Jan 8 'a' bucket sees Jan 1's count (2) one week earlier;
    # Jan 8 'b' and the early buckets see NULL
    assert by_key[("2024-01-08 00:00:00", "a")] == (1, 2)
    assert by_key[("2024-01-08 00:00:00", "b")] == (1, None)
    assert by_key[("2024-01-01 00:00:00", "a")] == (2, None)
    # time_compare WITH an explicit time_range: the main arm covers
    # [Jan 8, Jan 9) ONLY, and the offset arm reads the SHIFTED
    # window [Jan 1, Jan 2) — so the window's first (and only)
    # bucket still finds its one-week-ago value (the shifted-range
    # fetch; a naive impl filtering both arms to the main window
    # would return NULL everywhere)
    fd_rng = {**fd, "time_range": "2024-01-08 00:00:00 : "
                                  "2024-01-09 00:00:00"}
    native = [tuple(r)
              for r in compile_form_data(df, fd_rng).collect()]
    wire = [tuple(r) for r in
            spark.sql(form_data_to_sql("tc_t", fd_rng)).collect()]
    assert native == wire
    by_key = {(str(t), g): (c, prev) for t, g, c, prev in native}
    assert set(by_key) == {("2024-01-08 00:00:00", "a"),
                           ("2024-01-08 00:00:00", "b")}
    assert by_key[("2024-01-08 00:00:00", "a")] == (1, 2)
    assert by_key[("2024-01-08 00:00:00", "b")] == (1, None)
    # ...and through a RELATIVE range with a pinned anchor ('Last
    # day' at Jan 9 midnight = the same [Jan 8, Jan 9) window)
    fd_rel = {**fd, "time_range": "Last day",
              "time_range_anchor": "2024-01-09 00:00:00"}
    native_rel = [tuple(r)
                  for r in compile_form_data(df, fd_rel).collect()]
    wire_rel = [tuple(r) for r in
                spark.sql(form_data_to_sql("tc_t", fd_rel)).collect()]
    assert native_rel == wire_rel == native

    for compiler in (lambda f: compile_form_data(df, f),
                     lambda f: form_data_to_sql("tc_t", f)):
        with pytest.raises(ValueError):
            compiler({**fd, "time_compare": ["next tuesday"]})
        with pytest.raises(ValueError):  # needs a timeseries chart
            compiler({k: v for k, v in fd.items()
                      if k != "time_grain_sqla"})
        with pytest.raises(ValueError):  # post-processing order
            compiler({**fd, "percent_metrics": ["count"]})


def test_contribution_compiles_identically_on_both_paths(spark):
    """contributionMode row/series: metric values become shares of
    the time bucket / of the series, identical on both paths, exact
    in f64 for count metrics; unknown modes raise."""
    import pytest

    from hands_on_trino_iceberg_superset_spark.bi.compiler import (
        compile_form_data,
        form_data_to_sql,
    )

    df = spark.createDataFrame(
        [("2024-01-01 10:00:00", "a"), ("2024-01-01 11:00:00", "a"),
         ("2024-01-01 12:00:00", "b"),
         ("2024-01-02 10:00:00", "a"), ("2024-01-02 11:00:00", "b")],
        "ts_raw string, g string",
    ).selectExpr("cast(ts_raw as timestamp) as ts", "g")
    df.createOrReplaceTempView("contrib_t")
    base = {
        "query_mode": "aggregate",
        "granularity_sqla": "ts",
        "time_grain_sqla": "P1D",
        "groupby": ["g"],
        "metrics": ["count"],
        "order_by": [["__timestamp", True], ["g", True]],
    }
    for mode, expect in (
        ("row", {("2024-01-01 00:00:00", "a"): 2 / 3,
                 ("2024-01-01 00:00:00", "b"): 1 / 3,
                 ("2024-01-02 00:00:00", "a"): 1 / 2,
                 ("2024-01-02 00:00:00", "b"): 1 / 2}),
        ("series", {("2024-01-01 00:00:00", "a"): 2 / 3,
                    ("2024-01-01 00:00:00", "b"): 1 / 2,
                    ("2024-01-02 00:00:00", "a"): 1 / 3,
                    ("2024-01-02 00:00:00", "b"): 1 / 2}),
    ):
        fd = {**base, "contributionMode": mode}
        native = [tuple(r)
                  for r in compile_form_data(df, fd).collect()]
        wire = [tuple(r) for r in
                spark.sql(form_data_to_sql("contrib_t", fd)).collect()]
        assert native == wire
        assert {(str(t), g): c for t, g, c in native} == expect
    for compiler in (lambda f: compile_form_data(df, f),
                     lambda f: form_data_to_sql("contrib_t", f)):
        with pytest.raises(ValueError):
            compiler({**base, "contributionMode": "column"})
        with pytest.raises(ValueError):  # either offsets or shares
            compiler({**base, "contributionMode": "row",
                      "time_compare": ["1 day ago"]})


def test_pivot_compiles_identically_on_both_paths(spark):
    """pivot_table_v2: groupbyColumns fans out into (value, metric)
    conditional-aggregate cells, identical on the Catalyst and
    SQL-text paths; NULL pivot keys contribute to no cell; shape
    violations raise."""
    import pytest

    from hands_on_trino_iceberg_superset_spark.bi.compiler import (
        compile_pivot_form_data,
        pivot_form_data_to_sql,
    )

    df = spark.createDataFrame(
        [("a", "x", 1.0), ("a", "x", 2.0), ("a", "y", 4.0),
         ("b", "y", 8.0), ("b", None, 99.0)],
        "r string, c string, v double",
    )
    df.createOrReplaceTempView("pivot_t")
    fd = {
        "viz_type": "pivot_table_v2",
        "groupbyRows": ["r"],
        "groupbyColumns": ["c"],
        "metrics": ["count",
                    {"aggregate": "SUM", "column": "v", "label": "sv"}],
    }
    native = compile_pivot_form_data(df, fd)
    assert native.columns == [
        "r", "x__count", "x__sv", "y__count", "y__sv",
    ]
    got = {r.r: tuple(r)[1:] for r in native.collect()}
    # NULL pivot key (the 99.0 row) lands in no cell
    assert got == {"a": (2, 3.0, 1, 4.0), "b": (0, None, 1, 8.0)}
    sql = pivot_form_data_to_sql("pivot_t", fd, values=["x", "y"])
    wire = {r.r: tuple(r)[1:] for r in spark.sql(sql).collect()}
    assert wire == got
    for bad in (
        {**fd, "groupbyColumns": ["c", "r"]},   # multi-key pivot
        {**fd, "groupbyColumns": []},
        {**fd, "groupbyRows": []},
        {**fd, "metrics": ["nope"]},
    ):
        with pytest.raises(ValueError):
            compile_pivot_form_data(df, bad)
        with pytest.raises(ValueError):
            pivot_form_data_to_sql("pivot_t", bad, values=["x"])
    # adhoc filters apply pre-pivot on both paths
    fd_f = {**fd, "adhoc_filters": [
        {"expressionType": "SIMPLE", "clause": "WHERE",
         "subject": "v", "operator": "<", "comparator": 5}]}
    nat_f = {r.r: tuple(r)[1:]
             for r in compile_pivot_form_data(df, fd_f).collect()}
    sql_f = pivot_form_data_to_sql("pivot_t", fd_f, values=["x", "y"])
    assert nat_f == {r.r: tuple(r)[1:]
                     for r in spark.sql(sql_f).collect()}
    # group b loses every row to the filter and disappears entirely
    # (a group exists iff it has input rows — same rule both paths)
    assert nat_f == {"a": (2, 3.0, 1, 4.0)}


def test_pivot_row_total_counts_null_pivot_keys(spark):
    """row_total=True emits Superset's row-total count as a REAL
    count(*): a row whose pivot key is NULL (or outside the pinned
    values) is invisible to every cell but still counts toward the
    row total — on BOTH compilation paths. Summing the count cells
    would report 1 for group b instead of 2."""
    from hands_on_trino_iceberg_superset_spark.bi.compiler import (
        compile_pivot_form_data,
        pivot_form_data_to_sql,
    )

    df = spark.createDataFrame(
        [("a", "x", 1.0), ("a", "y", 4.0),
         ("b", "y", 8.0), ("b", None, 99.0)],
        "r string, c string, v double",
    )
    df.createOrReplaceTempView("pivot_rt")
    fd = {
        "viz_type": "pivot_table_v2",
        "groupbyRows": ["r"],
        "groupbyColumns": ["c"],
        "metrics": ["count"],
    }
    native = compile_pivot_form_data(df, fd, row_total=True)
    assert native.columns == ["r", "x__count", "y__count", "count"]
    got = {r.r: tuple(r)[1:] for r in native.collect()}
    assert got == {"a": (1, 1, 2), "b": (0, 1, 2)}
    cell_sum = {k: v[0] + v[1] for k, v in got.items()}
    assert cell_sum["b"] != got["b"][2]  # the bug this test pins
    sql = pivot_form_data_to_sql(
        "pivot_rt", fd, values=["x", "y"], row_total=True
    )
    assert {r.r: tuple(r)[1:]
            for r in spark.sql(sql).collect()} == got


def test_virtual_dataset_over_view_both_paths(spark):
    """The Superset virtual-dataset chain: engine view -> Dataset(sql)
    -> chart, identical on the Catalyst and SQL-text compilation
    paths, with fetch_metadata introspecting the defining query."""
    from hands_on_trino_iceberg_superset_spark.bi.compiler import (
        compile_form_data,
        form_data_to_sql,
    )
    from hands_on_trino_iceberg_superset_spark.bi.entities import (
        Database,
    )
    from hands_on_trino_iceberg_superset_spark.engine import Engine

    spark.createDataFrame(
        [("p", "done", 5.0), ("p", "done", 7.0), ("p", "new", 1.0),
         ("r", "done", 99.0)],
        "tt string, status string, amount double",
    ).createOrReplaceTempView("vds_base")
    eng = Engine(spark)
    eng.sql("CREATE OR REPLACE VIEW v_vds AS "
            "SELECT status, amount FROM vds_base WHERE tt = 'p'")
    ds = Database("spark", eng).dataset(
        "v_vds", sql="SELECT * FROM v_vds"
    )
    assert ds.is_virtual
    assert [(c.name, c.type) for c in ds.fetch_metadata()] \
        == [("status", "string"), ("amount", "double")]
    fd = {
        "query_mode": "aggregate",
        "groupby": ["status"],
        "metrics": ["count",
                    {"aggregate": "SUM", "column": "amount",
                     "label": "sa"}],
        "order_by": [["status", True]],
    }
    native = [tuple(r) for r in
              compile_form_data(ds.df(), fd).collect()]
    wire = [tuple(r) for r in
            eng.sql(form_data_to_sql("v_vds", fd)).collect()]
    assert native == wire == [("done", 2, 12.0), ("new", 1, 1.0)]


def test_resample_methods_identical_on_both_paths(spark):
    """resample_rule/resample_method: the date-spine compilation fills
    gaps per method identically on the Catalyst and SQL-text paths;
    unsupported shapes are refused identically."""
    import pytest

    from hands_on_trino_iceberg_superset_spark.bi.compiler import (
        compile_form_data,
        form_data_to_sql,
    )

    df = spark.createDataFrame(
        [("2026-01-01 05:00:00", "a", 1.0),
         ("2026-01-01 06:00:00", "a", 2.0),
         ("2026-01-04 09:00:00", "a", 3.0),   # 2 missing days
         ("2026-01-02 01:00:00", "b", 4.0)],  # series b: gaps at end
        "tss string, k string, v double",
    ).selectExpr("CAST(tss AS TIMESTAMP) AS ts", "k", "v")
    df.createOrReplaceTempView("rs_base")
    base_fd = {
        "query_mode": "aggregate",
        "granularity_sqla": "ts",
        "time_grain_sqla": "P1D",
        "groupby": ["k"],
        "metrics": ["count"],
        "resample_rule": "1D",
        "order_by": [["k", True], ["__timestamp", True]],
    }

    def run(method):
        fd = {**base_fd, "resample_method": method}
        native = [(str(r[0]), r[1], r[2]) for r in
                  compile_form_data(df, fd).collect()]
        wire = [(str(r[0]), r[1], r[2]) for r in
                spark.sql(form_data_to_sql("rs_base", fd)).collect()]
        assert native == wire, method
        return {(t[:10], k): c for t, k, c in native}

    # spine: 2026-01-01 .. 2026-01-04 x {a, b} = 8 buckets
    zero = run("zerofill")
    assert len(zero) == 8
    assert zero[("2026-01-02", "a")] == 0
    assert zero[("2026-01-01", "a")] == 2  # two events that day
    asfreq = run("asfreq")
    assert asfreq[("2026-01-02", "a")] is None
    ffill = run("ffill")
    assert ffill[("2026-01-02", "a")] == 2   # carried forward
    assert ffill[("2026-01-01", "b")] is None  # nothing before
    bfill = run("bfill")
    assert bfill[("2026-01-03", "a")] == 1   # next observed (01-04)
    assert bfill[("2026-01-03", "b")] is None  # nothing after

    # sub-grain upsampling: 12H divides the day grain
    half = {**base_fd, "resample_rule": "12H",
            "resample_method": "zerofill"}
    n = compile_form_data(df, half).count()
    assert n == 2 * (3 * 2 + 1)  # 7 spine points x 2 series

    # identical refusals on both paths
    for bad in (
        {**base_fd, "resample_rule": "7H"},       # doesn't divide day
        {**base_fd, "resample_rule": "2D"},       # downsampling
        {**base_fd, "resample_rule": "1D",
         "resample_method": "sum"},               # agg method
        {**base_fd, "resample_rule": "1D", "row_limit": 5},
        {**base_fd, "resample_rule": "1D", "rolling_type": "mean"},
        {k: v for k, v in {**base_fd, "resample_rule": "1D",
                           "time_grain_sqla": None}.items()},
    ):
        with pytest.raises(ValueError):
            compile_form_data(df, bad)
        with pytest.raises(ValueError):
            form_data_to_sql("rs_base", bad)


def test_pivot_cardinality_guard(spark):
    """A pivot column past MAX_PIVOT_VALUES distinct values is
    refused loudly (each value becomes a physical output column, and
    the driver-side schema collect must stay bounded); pinning the
    schema with an explicit values list still compiles."""
    import pytest

    from hands_on_trino_iceberg_superset_spark.bi import compiler as C

    wide = spark.range(0, C.MAX_PIVOT_VALUES + 5).selectExpr(
        "CAST(id % 7 AS STRING) AS rk",
        "CAST(id AS STRING) AS ck",
        "CAST(id AS DOUBLE) AS v",
    )
    fd = {
        "groupbyRows": ["rk"],
        "groupbyColumns": ["ck"],
        "metrics": ["count"],
    }
    with pytest.raises(ValueError, match="distinct values"):
        C.compile_pivot_form_data(wide, fd)
    # an explicit pinned schema bypasses the data-derived collect
    out = C.compile_pivot_form_data(wide, fd, values=["1", "2"])
    assert len(out.columns) == 3  # rk + 2 pinned cells


def test_pivot_cardinality_guard_ignores_null(spark):
    """ADVICE r11: NULL never becomes a pivot output column, so a
    column with exactly MAX_PIVOT_VALUES non-null values PLUS NULL is
    within the cap — the NULL is filtered in the query, before the
    bounded collect."""
    from hands_on_trino_iceberg_superset_spark.bi import compiler as C

    n = C.MAX_PIVOT_VALUES
    edge = spark.range(0, n + 1).selectExpr(
        "CAST(id % 3 AS STRING) AS rk",
        f"CASE WHEN id < {n} THEN CAST(id AS STRING) END AS ck",
        "CAST(id AS DOUBLE) AS v",
    )
    vals = C._pivot_values(edge, "ck")
    assert len(vals) == n and None not in vals


def test_relative_range_composes_with_filters_and_series_limit(spark):
    """The resolved relative window composes with adhoc filters and
    series_limit identically on both paths — the realistic chart
    config (range + filter bar + series cap) in one form_data."""
    from hands_on_trino_iceberg_superset_spark.bi.compiler import (
        compile_form_data,
        form_data_to_sql,
    )

    rows = []
    for d in range(1, 29):
        for g, n in (("a", 3), ("b", 2), ("c", 1)):
            rows += [(f"2024-01-{d:02d} 06:00:00", g, "keep")] * n
            rows.append((f"2024-01-{d:02d} 07:00:00", g, "drop"))
    df = spark.createDataFrame(
        rows, "s string, g string, flag string"
    ).selectExpr("cast(s as timestamp_ntz) as ts", "g", "flag")
    df.createOrReplaceTempView("rel_compose_t")
    fd = {
        "query_mode": "aggregate",
        "granularity_sqla": "ts",
        "time_grain_sqla": "P1D",
        "groupby": ["g"],
        "metrics": ["count"],
        "time_range": "Last week",
        "time_range_anchor": "2024-01-29 00:00:00",
        "adhoc_filters": [
            {"expressionType": "SIMPLE", "clause": "WHERE",
             "subject": "flag", "operator": "==",
             "comparator": "keep"},
        ],
        "series_limit": 2,
        "order_by": [["__timestamp", True], ["g", True]],
    }
    def keyed(rows):
        # compare by NAME: the Catalyst semi-join puts its join keys
        # first, so positional tuples differ while content agrees
        # (the driver's oracle compare also sorts columns by name)
        return sorted(
            (str(r["__timestamp"]), r["g"], r["count"]) for r in rows
        )

    native = keyed(compile_form_data(df, fd).collect())
    wire = keyed(
        spark.sql(form_data_to_sql("rel_compose_t", fd)).collect())
    assert native == wire
    # 7 days in-window x top-2 series (a, b) — c capped out, 'drop'
    # rows filtered, days outside [01-22, 01-29) gone
    assert len(native) == 14
    assert {g for _, g, _ in native} == {"a", "b"}
    days = {t[:10] for t, _, _ in native}
    assert min(days) == "2024-01-22" and max(days) == "2024-01-28"
    assert all(c in (2, 3) for _, _, c in native)


def test_extra_form_data_native_filters_merge_both_paths(spark):
    """SIP-68 dashboard native filters: extra_form_data.filters
    ({col, op, val} query-object shape) and .adhoc_filters APPEND to
    the chart's own filters, .time_range OVERRIDES the chart's —
    identically on both compiler paths, without mutating the input
    blob. Before r14 the key was silently dropped: a dashboard user's
    filter selection returned unfiltered rows with no error."""
    import copy

    from hands_on_trino_iceberg_superset_spark.bi.compiler import (
        compile_form_data,
        form_data_to_sql,
    )

    rows = []
    for d in range(1, 29):
        for g in ("a", "b", "c"):
            rows.append((f"2024-01-{d:02d} 06:00:00", g, d))
    df = spark.createDataFrame(
        rows, "s string, g string, d long"
    ).selectExpr("cast(s as timestamp_ntz) as ts", "g", "d")
    df.createOrReplaceTempView("efd_t")
    fd = {
        "query_mode": "aggregate",
        "granularity_sqla": "ts",
        "groupby": ["g"],
        "metrics": ["count"],
        # the chart's own config: unfiltered range, one own filter
        "time_range": "No filter",
        "time_range_anchor": "2024-01-29 00:00:00",
        "adhoc_filters": [
            {"expressionType": "SIMPLE", "clause": "WHERE",
             "subject": "d", "operator": ">=", "comparator": 2},
        ],
        "order_by": [["g", True]],
        # the dashboard filter bar's channel
        "extra_form_data": {
            "filters": [{"col": "g", "op": "IN", "val": ["a", "b"]}],
            "adhoc_filters": [
                {"expressionType": "SIMPLE", "clause": "WHERE",
                 "subject": "d", "operator": "<=", "comparator": 27},
            ],
            "time_range": "Last week",
        },
    }
    snapshot = copy.deepcopy(fd)
    native = [tuple(r) for r in compile_form_data(df, fd).collect()]
    wire = [tuple(r) for r in
            spark.sql(form_data_to_sql("efd_t", fd)).collect()]
    # days 22..27 (native <=27 cap) x series a, b only
    assert native == wire == [("a", 6), ("b", 6)]
    assert fd == snapshot, "merge must not mutate the stored blob"


def test_extra_form_data_unmodeled_keys_refuse_loudly(spark):
    """Unknown extra_form_data sub-keys and malformed filter entries
    refuse on BOTH paths — partially honoring the native-filter
    channel would silently drop a user-set dashboard filter."""
    import pytest

    from hands_on_trino_iceberg_superset_spark.bi.compiler import (
        compile_form_data,
        form_data_to_sql,
    )

    df = spark.createDataFrame([(1, "a")], "n long, g string")
    df.createOrReplaceTempView("efd_bad_t")
    cases = [
        ({"interactive_groupby": ["g"]}, "interactive_groupby"),
        ({"custom_form_data": {"x": 1}}, "custom_form_data"),
        ({"granularity": "ts"}, "granularity"),
        ({"filters": [{"column": "g", "op": "=="}]}, "col, op"),
        ({"filters": [{"col": "g", "op": "==", "val": 1,
                       "grain": "P1D"}]}, "grain"),
    ]
    for extra, needle in cases:
        fd = {"query_mode": "raw", "all_columns": ["n"],
              "extra_form_data": extra}
        for compiler in (lambda f: compile_form_data(df, f),
                         lambda f: form_data_to_sql("efd_bad_t", f)):
            with pytest.raises(ValueError) as exc:
                compiler(fd)
            assert needle.split(",")[0].strip() in str(exc.value)
    # non-mapping channel refuses too
    with pytest.raises(ValueError, match="mapping"):
        compile_form_data(df, {"query_mode": "raw",
                               "extra_form_data": ["nope"]})


def test_extra_form_data_reaches_pivot_and_time_compare_arms(spark):
    """The merged native filter lands in the pivot compiler AND in
    every time_compare offset arm (the arm re-reads the pre-range
    frame — a filter dropped there would compare filtered current
    buckets against unfiltered history)."""
    from hands_on_trino_iceberg_superset_spark.bi.compiler import (
        compile_form_data,
        compile_pivot_form_data,
        pivot_form_data_to_sql,
    )

    rows = []
    for d in range(1, 29):
        rows += [(f"2024-01-{d:02d} 06:00:00", "a", "keep", 2),
                 (f"2024-01-{d:02d} 06:00:00", "a", "drop", 5),
                 (f"2024-01-{d:02d} 07:00:00", "b", "keep", 3)]
    df = spark.createDataFrame(
        rows, "s string, g string, flag string, v long"
    ).selectExpr("cast(s as timestamp_ntz) as ts", "g", "flag", "v")
    df.createOrReplaceTempView("efd_pivot_t")
    extra = {"filters": [{"col": "flag", "op": "==", "val": "keep"}]}

    pivot_fd = {
        "groupbyRows": ["g"], "groupbyColumns": ["flag"],
        "metrics": [{"aggregate": "SUM", "column": "v",
                     "label": "sum_v"}],
        "extra_form_data": extra,
    }
    got = {(r["g"], r["keep__sum_v"]) for r in
           compile_pivot_form_data(
               df, pivot_fd, values=["keep"]).collect()}
    assert got == {("a", 56), ("b", 84)}
    sql = pivot_form_data_to_sql("efd_pivot_t", pivot_fd,
                                 values=["keep"])
    assert "'keep'" in sql  # the native filter reached the WHERE
    got_sql = {(r["g"], r["keep__sum_v"]) for r in
               spark.sql(sql).collect()}
    assert got_sql == got

    tc_fd = {
        "query_mode": "aggregate",
        "granularity_sqla": "ts",
        "time_grain_sqla": "P1D",
        "metrics": [{"aggregate": "SUM", "column": "v",
                     "label": "sum_v"}],
        "time_compare": ["1 week ago"],
        "time_range": "Last week",
        "time_range_anchor": "2024-01-29 00:00:00",
        "order_by": [["__timestamp", True]],
        "extra_form_data": extra,
    }
    out = compile_form_data(df, tc_fd).collect()
    assert len(out) == 7
    # filtered on BOTH arms: keep-rows sum to 5/day on each side
    assert all(r["sum_v"] == 5 and r["sum_v__1_week_ago"] == 5
               for r in out)


def test_stream_sessions_chart_both_paths(spark, sf_dir):
    """The streaming virtual dataset (its defining SQL is
    TABLE(stream_sessionize(...))) compiles identically on the
    Catalyst path (compile_form_data over Dataset.df()) and the
    SQL-text path (form_data_to_sql over an engine VIEW with the
    same streaming body — each use re-drains through the seam).
    Compared by column NAME: the two paths may order columns
    differently."""
    from hands_on_trino_iceberg_superset_spark.bi.compiler import (
        compile_form_data,
        form_data_to_sql,
    )
    from hands_on_trino_iceberg_superset_spark.bi.entities import (
        Database,
    )
    from hands_on_trino_iceberg_superset_spark.engine import Engine
    from hands_on_trino_iceberg_superset_spark.sources import (
        load_table,
    )

    load_table(spark, sf_dir, "events").createOrReplaceTempView(
        "bi_parity_events_v"
    )
    eng = Engine(spark)
    body = (
        "SELECT user_id, "
        "CAST(total_value AS DECIMAL(18,2)) AS session_value "
        "FROM TABLE(stream_sessionize("
        "events => 'bi_parity_events_v', gap => '30 minutes'))"
    )
    eng.sql(f"CREATE OR REPLACE VIEW v_stream_sess_parity AS {body}")
    ds = Database("spark", eng).dataset(
        "v_stream_sess_parity", sql=body
    )
    fd = {
        "query_mode": "aggregate",
        "groupby": ["user_id"],
        "metrics": [
            {"aggregate": "COUNT", "column": "session_value",
             "label": "n_sessions"},
            {"aggregate": "SUM", "column": "session_value",
             "label": "sum_value"},
        ],
        "order_by": [["sum_value", False], ["user_id", True]],
        "row_limit": 5,
    }
    cols = ["user_id", "n_sessions", "sum_value"]

    def canon(df):
        return [tuple(r[c] for c in cols) for r in df.collect()]

    native = canon(compile_form_data(ds.df(), fd))
    wire = canon(eng.sql(form_data_to_sql("v_stream_sess_parity",
                                          fd)))
    assert native == wire
    assert len(native) == 5


def test_adapters_leave_no_temp_view_behind(spark):
    """compile_form_data / compile_pivot_form_data bind the frame to a
    temp view only while compiling: the catalog is unchanged after
    each call (also when compilation refuses), and the returned frame
    still collects once the view is gone."""
    import pytest

    from hands_on_trino_iceberg_superset_spark.bi.compiler import (
        compile_pivot_form_data,
    )

    def catalog():
        return sorted((t.name, t.isTemporary)
                      for t in spark.catalog.listTables())

    df = spark.createDataFrame(
        [("a", "x", 1.0), ("a", "y", 2.0), ("b", "x", 4.0)],
        "r string, c string, v double",
    )
    before = catalog()
    agg = compile_form_data(df, {
        "query_mode": "aggregate", "groupby": ["r"],
        "metrics": [{"aggregate": "SUM", "column": "v", "label": "sv"}],
        "order_by": [["r", True]],
    })
    pivot_fd = {"groupbyRows": ["r"], "groupbyColumns": ["c"],
                "metrics": ["count"]}
    derived = compile_pivot_form_data(df, pivot_fd)
    pinned = compile_pivot_form_data(df, pivot_fd, values=["x"],
                                     row_total=True)
    with pytest.raises(ValueError):
        compile_form_data(df, {"query_mode": "bogus"})
    assert catalog() == before
    assert [tuple(r) for r in agg.collect()] == [("a", 3.0), ("b", 4.0)]
    assert sorted(tuple(r) for r in derived.collect()) == [
        ("a", 1, 1), ("b", 1, 0)]
    assert sorted(tuple(r) for r in pinned.collect()) == [
        ("a", 1, 2), ("b", 1, 1)]
    assert catalog() == before
