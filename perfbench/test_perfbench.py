"""Tests of the benchmark itself: its inputs are seeded, its oracles
accept right results and reject wrong ones, and a run without the
program fails. None of them starts Spark.

    python3 -m pytest perfbench/test_perfbench.py -q -p no:cacheprovider
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import shutil
import subprocess
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

import bi_dashboard as bi  # noqa: E402
import curation_batch as cur  # noqa: E402
import datagen  # noqa: E402
import lake_ingest as lake  # noqa: E402
import run  # noqa: E402
from common import RunResult, percentile  # noqa: E402
from tracing import Tracer  # noqa: E402


@pytest.fixture(scope="module")
def data_dir(tmp_path_factory) -> str:
    d = str(tmp_path_factory.mktemp("data"))
    datagen.generate(d, 7)
    return d


def _digest(d: str) -> dict[str, str]:
    return {f: hashlib.sha256(open(os.path.join(d, f), "rb").read()).hexdigest()
            for f in sorted(os.listdir(d))}


def test_inputs_depend_only_on_the_seed(data_dir, tmp_path) -> None:
    again, other = str(tmp_path / "again"), str(tmp_path / "other")
    datagen.generate(again, 7)
    datagen.generate(other, 8)
    assert _digest(again) == _digest(data_dir)
    assert _digest(other)["orders.parquet"] != _digest(data_dir)["orders.parquet"]


#: FIXTURES.md section B: the sf* corpus's column names and physical
#: parquet types (a list's element name dropped)
FIXTURE_TYPES = {
    "region": "r_regionkey int32, r_name string",
    "nation": "n_nationkey int32, n_name string, n_regionkey int32",
    "customer": "c_custkey int64, c_name string, c_nationkey int32, c_acctbal double, "
                "c_mktsegment string",
    "supplier": "s_suppkey int64, s_name string, s_nationkey int32, s_acctbal double",
    "part": "p_partkey int64, p_name string, p_brand string, p_type string, p_size int32, "
            "p_retailprice double",
    "orders": "o_orderkey int64, o_custkey int64, o_orderstatus string, o_totalprice double, "
              "o_orderdate timestamp[ms], o_orderpriority string",
    "lineitem": "l_orderkey int64, l_partkey int64, l_suppkey int64, l_linenumber int32, "
                "l_quantity double, l_extendedprice double, l_discount double, l_tax double, "
                "l_returnflag string, l_linestatus string, l_shipdate timestamp[ms]",
    "events": "event_id int64, ts timestamp[ns], user_id int64, event_type string, "
              "value double, props string",
    "documents": "doc_id int64, text string, lang string, source string, n_chars int64",
    "embeddings": "vec_id int64, embedding list<float>, label int32",
}


def test_tables_have_the_fixture_types(data_dir) -> None:
    for table, want in FIXTURE_TYPES.items():
        schema = pq.read_schema(os.path.join(data_dir, f"{table}.parquet"))
        got = ", ".join(f"{f.name} {f.type}" for f in schema)
        assert got.replace("element: ", "").replace("item: ", "") == want, table


def test_statement_mix_is_seeded_and_the_same_for_every_seed() -> None:
    warm, seq = bi.workload_statements(5, 3)
    assert (warm, seq) == bi.workload_statements(5, 3)
    warm6, seq6 = bi.workload_statements(6, 3)
    assert seq != seq6
    n = bi.deck_size()
    assert len(seq) == 3 * n == 3 * 42
    kinds = [s.kind for s in seq]
    assert kinds.count("meta") == 3 * 7 and kinds.count("raw") == 3 * 4

    def shares(w, s):
        return bi.repeat_share([bi.compile_sql(x) for x in s],
                               {bi.compile_sql(x) for x in w})
    assert 0.2 < shares(warm, seq) < 0.9
    assert shares(warm, seq) == shares(warm6, seq6)


# ------------------------------------------------------------- bi oracle

@pytest.fixture(scope="module")
def oracle(data_dir) -> bi.Oracle:
    return bi.Oracle(data_dir)


def _wire(oracle: bi.Oracle, sql: str, types: list[str]) -> dict:
    cur = oracle.con.execute(sql)
    names = [d[0] for d in cur.description]
    return {"rows": [list(r) for r in cur.fetchall()],
            "columns": [{"name": n, "type": t} for n, t in zip(names, types)]}


def test_bi_oracle_accepts_the_right_rows_and_rejects_a_wrong_cell(oracle) -> None:
    st = bi.Statement("chart", "li_discount", table="lineitem", form_data=json.dumps({
        "query_mode": "aggregate", "groupby": ["l_returnflag"],
        "metrics": [{"aggregate": "SUM", "column": "l_extendedprice", "label": "revenue"}],
        "order_by": [["l_returnflag", True]], "row_limit": 10}))
    sql = bi.compile_sql(st)
    res = _wire(oracle, sql, ["varchar", "double"])
    assert oracle.check(st, sql, res) is None
    res["rows"][1][1] *= 1 + 1e-6
    assert "differ" in oracle.check(st, sql, res)
    res = _wire(oracle, sql, ["varchar", "double"])
    del res["rows"][0]
    assert oracle.check(st, sql, res) is not None


def test_bi_oracle_rejects_a_dropped_column_or_a_wrong_label(oracle) -> None:
    st = bi.Statement("chart", "li_discount", table="lineitem", form_data=json.dumps({
        "query_mode": "aggregate", "groupby": ["l_returnflag"],
        "metrics": [{"aggregate": "SUM", "column": "l_extendedprice", "label": "revenue"},
                    {"aggregate": "MAX", "column": "l_discount", "label": "max_disc"}],
        "order_by": [["l_returnflag", True]], "row_limit": 10}))
    sql = bi.compile_sql(st)
    types = ["varchar", "double", "double"]
    assert oracle.check(st, sql, _wire(oracle, sql, types)) is None
    res = _wire(oracle, sql, types)
    res["columns"].pop()
    res["rows"] = [r[:-1] for r in res["rows"]]
    assert "columns" in oracle.check(st, sql, res)
    res = _wire(oracle, sql, types)
    res["columns"][1]["name"] = "sum_revenue"
    assert "columns" in oracle.check(st, sql, res)


def test_bi_oracle_checks_metadata(oracle) -> None:
    st = bi.Statement("meta", "columns", table="orders", sql="SHOW COLUMNS FROM orders")
    cols = [[c, "varchar", "", ""] for c in oracle.columns["orders"]]
    header = [{"name": n, "type": "varchar"} for n in ("Column", "Type", "Extra", "Comment")]
    res = {"rows": cols, "columns": header}
    assert oracle.check(st, st.sql, res) is None
    res["rows"] = cols[1:]
    assert oracle.check(st, st.sql, res) is not None
    res = {"rows": cols, "columns": [dict(c, name=c["name"].lower()) for c in header]}
    assert oracle.check(st, st.sql, res) is not None


def test_timestamps_from_duckdb_dates_match_the_wire() -> None:
    from datetime import date

    cols = [{"type": "timestamp(3)"}, {"type": "bigint"}]
    assert bi.canon_duck([(date(1996, 3, 1), 4)], cols) == [("1996-03-01 00:00:00.000", 4)]
    assert bi.rows_equal([("a", 1.00000000001)], [("a", 1.0)], ordered=True)
    assert not bi.rows_equal([("a", 1.001)], [("a", 1.0)], ordered=True)


# ------------------------------------------------------------- lake oracle

def test_lake_replay_catches_a_lost_upsert(data_dir, tmp_path) -> None:
    orders = pq.read_table(os.path.join(data_dir, "orders.parquet")).to_pandas()
    state = orders[orders.o_orderkey < 2000].set_index("o_orderkey")
    rng = np.random.default_rng(0)
    batch, _, keys = lake.make_commit("upsert", 0, rng, state)
    assert len(keys) == 2
    after = lake.replay("upsert", state, batch, None)
    assert len(after) == len(state) + 500
    key = next(k for k in batch["o_orderkey"].to_pylist() if k in state.index)
    want = lake.expected_point(after, key)
    assert lake._same(want, want)
    assert not lake._same(lake.expected_point(state, key), want)

    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.Table.from_pandas(after.reset_index()), path)
    assert lake.table_mismatch(path, after) is None
    pq.write_table(pa.Table.from_pandas(state.reset_index()), path)
    assert lake.table_mismatch(path, after) is not None


def test_lake_replay_merge_updates_only_the_merge_columns(data_dir) -> None:
    orders = pq.read_table(os.path.join(data_dir, "orders.parquet")).to_pandas()
    state = orders[orders.o_orderkey < 2000].set_index("o_orderkey")
    batch, _, _ = lake.make_commit("merge", 0, np.random.default_rng(1), state)
    after = lake.replay("merge", state, batch, None)
    b = batch.to_pandas().set_index("o_orderkey")
    old = b.index.intersection(state.index)
    assert (after.loc[old, "o_custkey"] == state.loc[old, "o_custkey"]).all()
    assert (after.loc[old, "o_totalprice"] == b.loc[old, "o_totalprice"]).all()
    assert len(after) == len(state) + 100


# ------------------------------------------------------------- curation

def test_exact_pairs_match_brute_force(data_dir) -> None:
    docs = pq.read_table(os.path.join(data_dir, "documents.parquet")).to_pandas().head(400)
    sets = {int(i): cur.shingles(t) for i, t in zip(docs.doc_id, docs.text)}
    brute = {(a, b) for a in sets for b in sets
             if a < b and sets[a] and sets[b] and cur.jaccard(sets[a], sets[b]) >= 0.7}
    assert brute and cur.exact_pairs(sets, 0.7) == brute


def test_neardup_check_rejects_wrong_and_missing_pairs(data_dir) -> None:
    docs = pq.read_table(os.path.join(data_dir, "documents.parquet")).to_pandas()
    sets = {int(i): cur.shingles(t) for i, t in zip(docs.doc_id, docs.text)}
    truth = sorted(cur.exact_pairs(sets, cur.NEARDUP_THRESHOLD))
    frame = pd.DataFrame({"id_a": [a for a, _ in truth], "id_b": [b for _, b in truth],
                          "jaccard_sim": [cur.jaccard(sets[a], sets[b]) for a, b in truth]})
    problems, _, recall = cur.check_pairs(sets, frame)
    assert problems == [] and recall == 1.0
    wrong = frame.copy()
    wrong.loc[0, "jaccard_sim"] = 0.99
    assert cur.check_pairs(sets, wrong)[0]
    problems, _, recall = cur.check_pairs(sets, frame.head(len(frame) // 2))
    assert recall < cur.NEARDUP_RECALL_FLOOR and problems


def test_quality_check_rejects_a_wrong_gate(data_dir) -> None:
    docs = pq.read_table(os.path.join(data_dir, "documents.parquet")).to_pandas()
    texts = dict(zip(docs.doc_id.astype(int), docs.text))
    survivors = set(list(texts)[:300])
    frame = pd.DataFrame({"doc_id": sorted(survivors),
                          "passes_quality": [cur.passes_quality(texts[d])
                                             for d in sorted(survivors)]})
    assert 0 < frame.passes_quality.sum() < len(frame)
    problems, good = cur.check_quality(texts, survivors, frame)
    assert problems == [] and good == set(frame.doc_id[frame.passes_quality])
    flipped = frame.copy()
    flipped.loc[0, "passes_quality"] = not flipped.loc[0, "passes_quality"]
    assert cur.check_quality(texts, survivors, flipped)[0]
    assert cur.check_quality(texts, survivors, frame.iloc[1:])[0]


def test_bm25_reference_matches_the_known_answer() -> None:
    corpus = {1: "spark join window spark spark", 2: "join window filter sort",
              3: "the the the customer order", 4: "window"}
    refs = cur.bm25_ref(corpus, {1: "spark window window", 2: "spark window"})
    ref = refs[1]
    assert ref == refs[2]
    assert set(ref) == {1, 2, 4} and max(ref, key=ref.get) == 1
    # doc 4: tf 1, dl 1, avgdl 15/4, df("window") 3 of 4 docs
    idf = math.log(1 + (4 - 3 + 0.5) / (3 + 0.5))
    assert ref[4] == pytest.approx(idf * 2.2 / (1 + 1.2 * (0.25 + 0.75 / 3.75)), abs=1e-9)


def test_bm25_check_rejects_a_swapped_hit(data_dir) -> None:
    docs = pq.read_table(os.path.join(data_dir, "documents.parquet")).to_pandas().head(500)
    corpus = dict(zip(docs.doc_id.astype(int), docs.text))
    qs = pq.read_table(os.path.join(data_dir, "bm25_queries.parquet")).to_pandas()
    queries = dict(zip(qs.qid.astype(int), qs.qtext))
    refs = cur.bm25_ref(corpus, queries)
    rows = []
    for qid, ref in refs.items():
        top = sorted(ref, key=lambda d: (-ref[d], d))[:cur.K]
        rows += [(qid, r + 1, d, ref[d]) for r, d in enumerate(top)]
    hits = pd.DataFrame(rows, columns=["qid", "rank", "doc_id", "score"])
    assert cur.check_bm25(corpus, queries, hits) == []
    # the tenth hit of a query with more candidates, swapped for one
    # below the cut
    for qid, ref in refs.items():
        order = sorted(ref, key=lambda d: (-ref[d], d))
        if len(order) > cur.K and ref[order[cur.K - 1]] > ref[order[-1]] + 1e-6:
            break
    outside = order[-1]
    tenth = hits.index[(hits.qid == qid) & (hits["rank"] == cur.K)][0]
    swapped = hits.copy()
    swapped.loc[tenth, ["doc_id", "score"]] = [outside, ref[outside]]
    assert cur.check_bm25(corpus, queries, swapped)
    wrong_score = hits.copy()
    wrong_score.loc[0, "score"] += 1e-6
    assert cur.check_bm25(corpus, queries, wrong_score)


def test_ann_recall_floor() -> None:
    rng = np.random.default_rng(0)
    corpus, queries = rng.normal(size=(300, 8)), rng.normal(size=(20, 8))
    ids, qids = np.arange(300), np.arange(20)
    sims = (queries / np.linalg.norm(queries, axis=1, keepdims=True)) @ \
        (corpus / np.linalg.norm(corpus, axis=1, keepdims=True)).T
    exact = {q: set(np.argsort(-sims[q], kind="stable")[:cur.K]) for q in qids}
    assert cur.ann_recall(ids, corpus, qids, queries, exact) == ([], 1.0)
    poor = {q: set(rng.choice(300, cur.K, replace=False)) for q in qids}
    problems, recall = cur.ann_recall(ids, corpus, qids, queries, poor)
    assert problems and recall < cur.ANN_RECALL_FLOOR


# ------------------------------------------------------------- run.py

def test_a_failed_check_fails_the_run(capsys) -> None:
    result = RunResult(end_to_end={"ops_per_s": 1.0, "op_p50_ms": 2.0},
                       attempted=4, failed=1, ready_at=0.0, window_s=1.0,
                       errors=["rows differ"])
    e2e = dict(result.end_to_end, setup_s=1.0)
    assert run.report(result, e2e, trace=False) == 1
    last = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert last["correct"] is False and last["failed"] == 1
    assert set(last["metrics"]) == set(run.END_TO_END)


def test_run_exits_nonzero_without_the_program(tmp_path) -> None:
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "bi_dashboard",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


def test_percentile_and_self_time() -> None:
    assert percentile([1, 2, 3, 4, 5], 50) == 3
    assert percentile([0, 10], 95) == pytest.approx(9.5)
    t = Tracer()
    with t.span("outer"):
        with t.span("inner"):
            sum(range(10000))
    s = t.summary()
    assert s["outer"]["self_ms"] == pytest.approx(s["outer"]["total_ms"] - s["inner"]["total_ms"])
    assert t.by_name("inner")[0]["parent"] == t.by_name("outer")[0]["id"]
