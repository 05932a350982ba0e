"""``bi_dashboard``: Superset-like clients over the Trino wire.

A closed loop of ``min(CLIENTS, nproc)`` client threads with zero
think time; each sends its next statement only after draining the
previous one (``POST /v1/statement``, then every ``nextUri``).

Statements come in shuffled decks. A deck holds 31 chart statements
compiled by ``bi.compiler.form_data_to_sql`` (the reference
dashboard's five raw charts among them), 7 metadata statements and 4
multi-page raw reads (about 75/15/10%), each template's count
Zipf-skewed by its rank. Each template has a small set of parameter
variants; the seed shuffles every deck and every template's variants,
and the k-th use of a template takes its k-th variant, cycling. So
statements repeat exactly at a share printed with the results, and
that share and the mix are the same for every seed. A run sends one
deck per ``DECK_S`` of ``--seconds``, so every run does the same
amount of work.

After the timed window every distinct statement is checked against
DuckDB over the same parquet, or for metadata against the parquet
schemas.
"""

from __future__ import annotations

import itertools
import json
import os
import threading
import time
import urllib.error
import urllib.request
from dataclasses import dataclass
from datetime import date, datetime
from decimal import Decimal

import numpy as np
import pyarrow.parquet as pq

from common import RunContext, RunResult, percentile
from tracing import Tracer

SEED_TABLES = ["events", "users", "orders", "products", "transactions"]
META_TABLES = ["orders", "lineitem", "customer", "part", "supplier", "nation", "region"]
ZIPF_S = 1.1
#: nominal seconds per deck on a 4-core machine
DECK_S = 10
#: concurrent clients: with four, run-to-run throughput on a 4-core
#: machine spread by 22-33% (IQR/median over five runs) as the four
#: statements contend for the wire server's interpreter lock and the
#: cores; with two it was 10-12% over ten runs, most of it the
#: machine's own drift in speed
CLIENTS = 2
META_KINDS = ["columns", "infoschema", "tables", "schemas", "catalogs"]
#: the result columns Trino gives each metadata statement
META_COLUMNS = {
    "columns": ["Column", "Type", "Extra", "Comment"],
    "infoschema": ["column_name", "data_type"],
    "tables": ["Table"],
    "schemas": ["Schema"],
    "catalogs": ["Catalog"],
}
YEARS = list(range(1995, 2001))

#: input parts from datagen: the engine registers, and the oracle reads,
#: every table
INPUTS = ("tpch", "curation")


@dataclass(frozen=True)
class Statement:
    kind: str              # chart | meta | raw
    template: str
    table: str = ""
    form_data: str = ""    # JSON text (hashable)
    sql: str = ""


def _m(agg: str, col: str, label: str) -> dict:
    return {"aggregate": agg, "column": col, "label": label}


def _flt(subject: str, op: str, value) -> dict:
    return {"clause": "WHERE", "expressionType": "SIMPLE",
            "subject": subject, "operator": op, "comparator": value}


def _year_range(y: int, n: int) -> str:
    return f"{y}-01-01 : {y + n}-01-01"


def _day_range(d: int, n: int) -> str:
    return f"2024-01-{d:02d} : 2024-01-{d + n:02d}"


def _each(fn, *domains) -> list[dict]:
    return [fn(*combo) for combo in itertools.product(*domains)]


def chart_templates() -> list[tuple[str, str, list[dict]]]:
    """(name, table, every form_data variant), in Zipf rank order; the
    reference dashboard's raw charts are rank 4 (``ref_raw``)."""
    agg = {"query_mode": "aggregate"}
    return [
        ("li_flags", "lineitem", _each(lambda y, n: {
            **agg, "groupby": ["l_returnflag", "l_linestatus"],
            "metrics": ["count", _m("SUM", "l_quantity", "sum_qty"),
                        _m("AVG", "l_extendedprice", "avg_price")],
            "granularity_sqla": "l_shipdate", "time_range": _year_range(y, n),
            "order_by": [["count", False], ["l_returnflag", True], ["l_linestatus", True]],
            "row_limit": 100}, YEARS, [1, 2])),
        ("ev_types", "events", _each(lambda d, n: {
            **agg, "groupby": ["event_type"],
            "metrics": ["count", _m("SUM", "value", "total_value")],
            "granularity_sqla": "ts", "time_range": _day_range(d, n),
            "order_by": [["count", False], ["event_type", True]], "row_limit": 10},
            [1, 8, 15], [3, 7])),
        ("ord_status", "orders", _each(lambda y: {
            **agg, "groupby": ["o_orderstatus", "o_orderpriority"],
            "metrics": ["count", _m("SUM", "o_totalprice", "total")],
            "granularity_sqla": "o_orderdate", "time_range": _year_range(y, 1),
            "order_by": [["count", False], ["o_orderstatus", True], ["o_orderpriority", True]],
            "row_limit": 50}, YEARS)),
        ("ref_raw", "", []),
        ("li_monthly", "lineitem", _each(lambda y: {
            **agg, "groupby": [], "metrics": ["count", _m("SUM", "l_quantity", "qty")],
            "granularity_sqla": "l_shipdate", "time_grain_sqla": "P1M",
            "time_range": _year_range(y, 1),
            "order_by": [["__timestamp", True]], "row_limit": 1000}, YEARS)),
        ("ev_daily", "events", _each(lambda a, b: {
            **agg, "groupby": [], "metrics": ["count"],
            "granularity_sqla": "ts", "time_grain_sqla": "P1D", "time_range": "No filter",
            "adhoc_filters": [_flt("event_type", "IN", sorted([a, b]))],
            "order_by": [["__timestamp", True]], "row_limit": 1000},
            ["click", "view", "purchase"], ["error", "signup"])),
        ("li_discount", "lineitem", _each(lambda d: {
            **agg, "groupby": ["l_returnflag"],
            "metrics": [_m("SUM", "l_extendedprice", "revenue"),
                        _m("MAX", "l_discount", "max_disc")],
            "adhoc_filters": [_flt("l_discount", ">=", d)],
            "order_by": [["l_returnflag", True]], "row_limit": 10}, [0.02, 0.04, 0.06, 0.08])),
        ("ord_prio", "orders", _each(lambda v: {
            **agg, "groupby": ["o_orderpriority"],
            "metrics": [_m("MIN", "o_totalprice", "lo"), _m("MAX", "o_totalprice", "hi"), "count"],
            "adhoc_filters": [_flt("o_totalprice", ">", v)],
            "order_by": [["o_orderpriority", True]], "row_limit": 10}, [100000, 200000, 300000])),
        ("ev_top_users", "events", _each(lambda e: {
            **agg, "groupby": ["user_id"], "metrics": ["count"],
            "adhoc_filters": [_flt("event_type", "==", e)],
            "order_by": [["count", False], ["user_id", True]], "row_limit": 10},
            ["click", "view", "purchase"])),
        ("li_top_supp", "lineitem", _each(lambda y: {
            **agg, "groupby": ["l_suppkey"],
            "metrics": [_m("SUM", "l_extendedprice", "revenue")],
            "granularity_sqla": "l_shipdate", "time_range": _year_range(y, 1),
            "order_by": [["revenue", False], ["l_suppkey", True]], "row_limit": 10}, YEARS)),
        ("ord_yearly", "orders", _each(lambda p: {
            **agg, "groupby": [], "metrics": [_m("AVG", "o_totalprice", "avg_total")],
            "granularity_sqla": "o_orderdate", "time_grain_sqla": "P1Y", "time_range": "No filter",
            "adhoc_filters": [_flt("o_orderpriority", "==", p)],
            "order_by": [["__timestamp", True]], "row_limit": 100},
            ["1-URGENT", "3-MEDIUM", "5-LOW"])),
        ("ord_top_cust", "orders", _each(lambda st: {
            **agg, "groupby": ["o_custkey"], "metrics": [_m("SUM", "o_totalprice", "spend")],
            "adhoc_filters": [_flt("o_orderstatus", "==", st)],
            "order_by": [["spend", False], ["o_custkey", True]], "row_limit": 20},
            ["F", "O", "P"])),
        ("li_suppliers", "lineitem", _each(lambda f: {
            **agg, "groupby": ["l_linestatus"],
            "metrics": [_m("COUNT_DISTINCT", "l_suppkey", "n_supp")],
            "adhoc_filters": [_flt("l_returnflag", "IN", [f, "R"])],
            "order_by": [["l_linestatus", True]], "row_limit": 10}, ["A", "N"])),
        ("ev_users", "events", _each(lambda d: {
            **agg, "groupby": ["event_type"],
            "metrics": [_m("COUNT_DISTINCT", "user_id", "n_users")],
            "granularity_sqla": "ts", "time_range": _day_range(d, 7),
            "order_by": [["event_type", True]], "row_limit": 10}, [2, 9, 16])),
    ]


def reference_charts() -> list[tuple[str, dict]]:
    """The five raw-mode charts of ``bi.entities.reference_dashboard``
    as (seed view, form_data), each pinned to order by its first
    column so the page it returns is deterministic."""
    from types import SimpleNamespace

    from hands_on_trino_iceberg_superset_spark.bi.entities import reference_dashboard

    dash = reference_dashboard(SimpleNamespace(default_schema="demo"))
    out = []
    for chart in dash.charts:
        fd = dict(chart.form_data)
        fd["order_by"] = [[fd["all_columns"][0], True]]
        out.append((f"seed_{chart.dataset.table_name}", fd))
    return out


def _chart(name: str, table: str, fd: dict) -> Statement:
    return Statement("chart", name, table=table, form_data=json.dumps(fd, sort_keys=True))


def _meta(kind: str, t: str = "") -> Statement:
    sql = {
        "columns": f"SHOW COLUMNS FROM {t}",
        "infoschema": ("SELECT column_name, data_type FROM information_schema.columns "
                       f"WHERE table_schema = 'demo' AND table_name = '{t}' "
                       "ORDER BY ordinal_position"),
        "tables": "SHOW TABLES",
        "schemas": "SHOW SCHEMAS",
        "catalogs": "SHOW CATALOGS",
    }[kind]
    return Statement("meta", kind, table=t, sql=sql)


def _raw_lineitem(k: int) -> Statement:
    return Statement("raw", "li_pages", table="lineitem", sql=(
        "SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_shipdate "
        f"FROM lineitem WHERE l_orderkey >= {k} AND l_orderkey < {k + 1000} "
        "ORDER BY l_orderkey, l_linenumber"))


def _raw_events(k: int) -> Statement:
    return Statement("raw", "ev_pages", table="events", sql=(
        "SELECT event_id, ts, user_id, event_type, value FROM events "
        f"WHERE event_id >= {k} AND event_id < {k + 3000} ORDER BY event_id"))


def zipf_counts(n: int, slots: int) -> list[int]:
    """Copies of each of ``n`` ranked templates in a deck of about
    ``slots``: proportional to 1/rank**ZIPF_S, at least one each."""
    w = 1.0 / np.arange(1, n + 1) ** ZIPF_S
    return [max(1, round(slots * x)) for x in w / w.sum()]


def templates() -> list[tuple[int, list[Statement]]]:
    """(copies per deck, every variant) for each statement template."""
    charts = chart_templates()
    out = []
    for (name, table, fds), copies in zip(charts, zipf_counts(len(charts), 30)):
        variants = ([_chart(name, t, fd) for t, fd in reference_charts()] if name == "ref_raw"
                    else [_chart(name, table, fd) for fd in fds])
        out.append((copies, variants))
    for kind, copies in zip(META_KINDS, zipf_counts(len(META_KINDS), 6)):
        tables = META_TABLES if kind in ("columns", "infoschema") else [""]
        out.append((copies, [_meta(kind, t) for t in tables]))
    out.append((2, [_raw_lineitem(k * 10_000) for k in range(12)]))
    out.append((2, [_raw_events(k * 3000) for k in range(30)]))
    return out


def deck_size() -> int:
    return sum(copies for copies, _ in templates())


def workload_statements(seed: int, decks: int) -> tuple[list[Statement], list[Statement]]:
    """(warm-up, timed sequence). The seed shuffles each template's
    variants and each deck; the k-th use of a template takes its k-th
    variant, cycling, so every seed sends the same number of distinct
    and repeated statements. The warm-up runs each template's first
    variant."""
    rng = np.random.default_rng([seed, 1])
    tpls = templates()
    order = [[variants[i] for i in rng.permutation(len(variants))] for _, variants in tpls]
    cards = [t for t, (copies, _) in enumerate(tpls) for _ in range(copies)]
    used = [0] * len(tpls)
    seq: list[Statement] = []
    for _ in range(decks):
        for j in rng.permutation(len(cards)):
            t = cards[j]
            seq.append(order[t][used[t] % len(order[t])])
            used[t] += 1
    return [variants[0] for variants in order], seq


def compile_sql(st: Statement) -> str:
    if st.kind != "chart":
        return st.sql
    from hands_on_trino_iceberg_superset_spark.bi.compiler import form_data_to_sql

    return form_data_to_sql(st.table, json.loads(st.form_data))


def repeat_share(texts: list[str], seen: set[str]) -> float:
    """Share of ``texts`` already sent, by an earlier one or ``seen``."""
    seen = set(seen)
    repeats = 0
    for t in texts:
        repeats += t in seen
        seen.add(t)
    return repeats / len(texts) if texts else 0.0


# ------------------------------------------------------------- wire client

def execute(base_url: str, sql: str) -> dict:
    """POST one statement and drain every page."""
    req = urllib.request.Request(f"{base_url}/v1/statement", data=sql.encode(),
                                 method="POST", headers={"X-Trino-User": "perfbench"})
    with urllib.request.urlopen(req, timeout=60) as resp:
        body = resp.read()
    nbytes, pages = len(body), 1
    payload = json.loads(body)
    columns = payload.get("columns")
    rows = list(payload.get("data", []))
    while "error" not in payload and "nextUri" in payload:
        with urllib.request.urlopen(payload["nextUri"], timeout=60) as resp:
            body = resp.read()
        nbytes += len(body)
        pages += 1
        payload = json.loads(body)
        columns = columns or payload.get("columns")
        rows.extend(payload.get("data", []))
    return {"error": payload.get("error"), "columns": columns or [], "rows": rows,
            "bytes": nbytes, "pages": pages}


# ------------------------------------------------------------- oracle

def canon_wire(rows: list[list], columns: list[dict]) -> list[tuple]:
    types = [c["type"] for c in columns]
    out = []
    for r in rows:
        cells = []
        for v, t in zip(r, types):
            if v is not None and t.startswith("decimal"):
                v = float(v)
            cells.append(v)
        out.append(tuple(cells))
    return out


def canon_duck(rows: list[tuple], columns: list[dict]) -> list[tuple]:
    """DuckDB cells in the wire's encoding. DuckDB's ``date_trunc``
    returns DATE where the engine returns TIMESTAMP, so a DATE under a
    wire timestamp column is widened to midnight."""
    def cell(v, wire_type: str):
        if isinstance(v, Decimal):
            return float(v)
        if isinstance(v, date) and not isinstance(v, datetime) \
                and wire_type.startswith("timestamp"):
            v = datetime(v.year, v.month, v.day)
        if isinstance(v, datetime):
            return v.strftime("%Y-%m-%d %H:%M:%S.%f")[:-3]
        if isinstance(v, date):
            return v.isoformat()
        return v
    types = [c["type"] for c in columns]
    return [tuple(cell(v, t) for v, t in zip(r, types)) for r in rows]


def _cell_eq(a, b) -> bool:
    if isinstance(a, bool) or isinstance(b, bool):
        return a == b
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        if isinstance(a, int) and isinstance(b, int):
            return a == b
        return abs(a - b) <= 1e-10 * max(1.0, abs(a), abs(b))
    return a == b


def rows_equal(got: list[tuple], want: list[tuple], ordered: bool) -> bool:
    if len(got) != len(want):
        return False
    if not ordered:
        got, want = sorted(got, key=repr), sorted(want, key=repr)
    return all(len(g) == len(w) and all(_cell_eq(x, y) for x, y in zip(g, w))
               for g, w in zip(got, want))


def _case(n: str, k: int, values: list[str]) -> str:
    """``seed.seeder._case_mod`` in SQL."""
    arms = " ".join(f"WHEN {n} % {k} = {i} THEN '{v}'" for i, v in enumerate(values[:-1]))
    return f"CASE {arms} ELSE '{values[-1]}' END"


def seed_tables_sql(as_of: str) -> dict[str, str]:
    """The five reference tables of ``seed.seeder.seed_frames`` as
    DuckDB queries, restated from the reference seeder's formulas so
    the oracle does not read the engine's own output."""
    ts = f"TIMESTAMP '{as_of}'"
    rows = "FROM range(1, {}) t(n)"
    return {
        "events": f"""SELECT n AS id, {ts} - to_days(CAST(n % 30 AS INTEGER)) AS ts,
            {_case("n", 5, ["click", "purchase", "view", "login", "logout"])} AS event_type,
            'Event ' || n AS payload, n % 50 + 1 AS user_id,
            n * 10.5::DOUBLE + 100.0::DOUBLE AS amount {rows.format(201)}""",
        "users": f"""SELECT n AS user_id, 'user' || n AS username,
            'user' || n || '@example.com' AS email,
            {ts} - to_days(CAST(n % 90 AS INTEGER)) AS created_at,
            {_case("n", 10, ["US", "UK", "DE", "FR", "CA", "AU", "JP", "BR", "IN", "MX"])}
              AS country, n % 3 <> 0 AS active {rows.format(51)}""",
        "orders": f"""SELECT n AS order_id, n % 50 + 1 AS user_id, n % 20 + 1 AS product_id,
            CAST(n % 5 + 1 AS INTEGER) AS quantity,
            n * 15.75::DOUBLE + 50.0::DOUBLE AS price,
            {ts} - to_days(CAST(n % 60 AS INTEGER)) AS order_date,
            {_case("n", 4, ["completed", "pending", "shipped", "cancelled"])} AS status
            {rows.format(151)}""",
        "products": f"""SELECT n AS product_id, 'Product ' || n AS name,
            {_case("n", 5, ["Electronics", "Clothing", "Books", "Home", "Sports"])} AS category,
            n * 25.50::DOUBLE + 10.0::DOUBLE AS price, CAST(n * 10 + 50 AS INTEGER) AS stock,
            {ts} - to_days(CAST(n AS INTEGER)) AS created_at {rows.format(21)}""",
        "transactions": f"""SELECT n AS transaction_id, n % 50 + 1 AS user_id,
            n * 12.34::DOUBLE + 5.0::DOUBLE AS amount,
            {_case("n", 3, ["USD", "EUR", "GBP"])} AS currency,
            {_case("n", 3, ["payment", "refund", "transfer"])} AS transaction_type,
            {ts} - to_hours(CAST(n % 720 AS INTEGER)) AS "timestamp",
            {_case("n", 10, ["failed"] + ["success"] * 9)} AS status {rows.format(301)}""",
    }


class Oracle:
    """DuckDB over the same parquet the engine reads (and the reference
    tables restated in SQL), plus the expected metadata derived from
    the parquet schemas."""

    def __init__(self, data_dir: str) -> None:
        from hands_on_trino_iceberg_superset_spark.oracle import duckdb_connection
        from hands_on_trino_iceberg_superset_spark.seed.seeder import DEFAULT_AS_OF
        from hands_on_trino_iceberg_superset_spark.sources import TABLES

        self.con = duckdb_connection(data_dir)
        for t, sql in seed_tables_sql(DEFAULT_AS_OF).items():
            self.con.execute(f"CREATE VIEW seed_{t} AS {sql}")
        self.columns = {t: pq.read_schema(os.path.join(data_dir, f"{t}.parquet")).names
                        for t in META_TABLES}
        self.views = set(TABLES) | {f"seed_{t}" for t in SEED_TABLES}

    def check(self, st: Statement, sql: str, res: dict) -> str | None:
        """None when the wire result is right, else what is wrong. The
        column names (the labels a chart binds to) must match before
        any row is compared."""
        names = [c["name"] for c in res["columns"]]
        if st.kind != "meta":
            cur = self.con.execute(sql)
            want_names = [d[0] for d in cur.description]
            if names != want_names:
                return f"columns {names} differ from DuckDB's {want_names}"
            got = canon_wire(res["rows"], res["columns"])
            want = canon_duck(cur.fetchall(), res["columns"])
            if not rows_equal(got, want, ordered="ORDER BY" in sql.upper()):
                return f"rows differ from DuckDB ({len(got)} vs {len(want)} rows)"
            return None
        if names != META_COLUMNS[st.template]:
            return f"metadata columns {names}, expected {META_COLUMNS[st.template]}"
        first = [r[0] for r in res["rows"]]
        if st.template in ("columns", "infoschema"):
            ok = first == self.columns[st.table]
        elif st.template == "tables":
            ok = self.views <= set(first)
        elif st.template == "catalogs":
            ok = {"iceberg", "spark_catalog"} <= set(first)
        else:
            ok = {"demo", "information_schema"} <= set(first)
        return None if ok else f"metadata differs: {first[:12]}"


# ------------------------------------------------------------- the run

class _Recorder:
    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.latencies: list[float] = []
        self.pages = self.bytes = self.attempted = self.failed = 0
        self.first: dict[str, tuple[Statement, dict]] = {}
        self.errors: list[str] = []

    def add(self, st: Statement, sql: str, res: dict | None, ms: float, err: str | None) -> None:
        with self.lock:
            self.attempted += 1
            if err or res is None or res["error"]:
                self.failed += 1
                self.errors.append(err or str(res and res["error"])[:300])
                return
            self.latencies.append(ms)
            self.pages += res["pages"]
            self.bytes += res["bytes"]
            prev = self.first.get(sql)
            if prev is None:
                self.first[sql] = (st, res)
            elif prev[1]["rows"] != res["rows"]:
                self.failed += 1
                self.errors.append(f"repeat of a statement returned other rows: {sql[:120]}")


def _client_loop(url: str, seq: list[Statement], pos: list[int], stop_at: float,
                 rec: _Recorder, tracer: Tracer | None) -> None:
    while True:
        with rec.lock:
            if time.monotonic() >= stop_at or pos[0] >= len(seq):
                return
            st = seq[pos[0]]
            pos[0] += 1
        res = err = None
        sql = ""
        try:
            if tracer is not None:
                with tracer.span("bi.compile"):
                    sql = compile_sql(st)
            else:
                sql = compile_sql(st)
            t0 = time.perf_counter()
            res = execute(url, sql)
            ms = (time.perf_counter() - t0) * 1000
        except (OSError, ValueError, urllib.error.URLError) as exc:
            err, ms = f"{type(exc).__name__}: {exc}", 0.0
        rec.add(st, sql, res, ms, err)


def _run_clients(url: str, seq: list[Statement], clients: int, limit_s: float,
                 tracer: Tracer | None, rec: _Recorder) -> float:
    """Send every statement of ``seq`` from ``clients`` closed-loop
    threads, recording into ``rec``; stop early only when ``limit_s``
    has passed. Returns the elapsed seconds."""
    pos = [0]
    t0 = time.monotonic()
    threads = [threading.Thread(target=_client_loop,
                                args=(url, seq, pos, t0 + limit_s, rec, tracer))
               for _ in range(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return time.monotonic() - t0


def run(ctx: RunContext) -> RunResult:
    sut = ctx.sut
    clients = min(CLIENTS, ctx.cpus)
    tracer = Tracer() if ctx.trace else None
    started = sut.started()
    sut.call("setup_bi", timeout=120, data_dir=ctx.data_dir)
    url = started["wire_url"]
    warmup, seq = workload_statements(ctx.seed, max(1, round(ctx.seconds / DECK_S)))
    warm = _Recorder()
    _run_clients(url, warmup, min(4, ctx.cpus), 120, None, warm)
    sut.call("window_start")
    ready = time.monotonic()

    rec = _Recorder()
    window = _run_clients(url, seq, clients, ctx.deadline - time.monotonic() - 30, tracer, rec)
    rate = len(rec.latencies) / window
    p50, p90 = percentile(rec.latencies, 50), percentile(rec.latencies, 90)
    executed = [compile_sql(st) for st in seq[:rec.attempted]]
    warmed = {compile_sql(st) for st in warmup}

    errors = warm.errors + rec.errors
    failed = warm.failed + rec.failed
    oracle = Oracle(ctx.data_dir)
    for sql, (st, res) in list(warm.first.items()) + list(rec.first.items()):
        problem = oracle.check(st, sql, res)
        if problem:
            failed += 1
            errors.append(f"{st.template}: {problem}: {sql[:160]}")

    result = RunResult(
        end_to_end={"ops_per_s": rate, "op_p50_ms": p50},
        attempted=warm.attempted + rec.attempted,
        failed=failed,
        ready_at=ready,
        window_s=window,
        errors=errors,
        info={
            "queries_per_s": (rate, "1/s"),
            "query_p50_ms": (p50, "ms"),
            "query_p90_ms": (p90, "ms"),
            "statements": (len(rec.latencies), "count"),
            "distinct_statements": (len(rec.first), "count"),
            "repeat_share": (repeat_share(executed, warmed), "ratio"),
            "clients": (clients, "count"),
        },
    )
    if ctx.trace:
        result.per_layer, result.spans = _per_layer(ctx, started, tracer, rec, url)
    return result


def _per_layer(ctx: RunContext, started: dict, tracer: Tracer, rec: _Recorder,
               url: str) -> tuple[dict[str, float], int]:
    sut = ctx.sut.call("trace", path=ctx.path("trace-sut.jsonl"))
    tracer.dump(ctx.path("trace-client.jsonl"))
    # wire overhead: the same statement over HTTP and directly through
    # Engine.trino_sql, back to back and serially (after the spans are
    # taken, so these statements do not count in them)
    sample = [sql for sql, (st, _) in rec.first.items() if st.kind == "chart"][:8]
    diffs = []
    for sql in sample:
        t0 = time.perf_counter()
        execute(url, sql)
        http_ms = (time.perf_counter() - t0) * 1000
        diffs.append(http_ms - ctx.sut.call("direct", sql=sql))
    s, n = sut["summary"], max(1, sut["stmt_count"])

    def mean_ms(name: str) -> float:
        e = s.get(name)
        return e["total_ms"] / e["count"] if e else 0.0

    compile_spans = tracer.summary().get("bi.compile", {"total_ms": 0.0, "count": 1})
    done = max(1, len(rec.latencies))
    return {
        "session.start_s": started["session_start_s"],
        "sources.load_ms": s.get("sources.load", {}).get("total_ms", 0.0),
        "bi.compile_ms": compile_spans["total_ms"] / max(1, compile_spans["count"]),
        "dialect.translate_ms": mean_ms("dialect.translate"),
        "engine.resolve_ms": mean_ms("engine.resolve"),
        "engine.execute_ms": sut["execute_ms"] / n,
        "engine.spark_jobs_per_stmt": sut["jobs"] / n,
        "engine.infoschema_ms": sum(sut["meta_ms"]) / max(1, len(sut["meta_ms"])),
        "server.wire_overhead_ms": percentile(diffs, 50) if diffs else 0.0,
        "server.pages_per_stmt": rec.pages / done,
        "server.bytes_per_stmt": rec.bytes / done,
    }, sut["span_count"] + len(tracer.spans)
