"""``lake_ingest``: an ETL job committing to an Iceberg table.

The table (``lakehouse.iceberg.IcebergTable``) starts as the
``orders`` rows with ``o_orderkey < KEY_HI``; its first snapshot is
tagged so time travel to it keeps working through maintenance. Each
round commits, in order, an ``append`` of new keys, an ``upsert``
(equality deletes), a copy-on-write ``merge`` and a ``delete`` by
predicate, each published with ``NessieClient.put``. Point lookups of
a key the commit touched and of a random live key follow every
commit; one range aggregate and the maintenance trio end the round.
A run does ``ROUNDS`` rounds per 10 s of ``--seconds``, so every run
of a seed does the same work. One client, closed loop: every operation
waits for the previous one. Set-up warms every operation once on a
scratch table.

A pandas replay of the same operation sequence is the oracle for
every lookup, every aggregate, the final table and the first
snapshot; the Nessie pointer must equal the table's metadata file.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from common import RunContext, RunResult, SutError, percentile
from datagen import orders_columns

KEY_HI = 30_000
NEW_KEYS = 1_000_000
ROUND_KEYS = 10_000
#: rounds per 10 s of ``--seconds`` (a round takes 9-12 s on a 4-core
#: machine)
ROUNDS = 1
COMMITS = ("append", "upsert", "merge", "delete")
MERGE_COLS = ("o_totalprice", "o_orderstatus")
COLUMNS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
           "o_orderdate", "o_orderpriority"]

#: input parts from datagen
INPUTS = ("tpch",)


def _frame(keys: np.ndarray, rng: np.random.Generator) -> pa.Table:
    return pa.table(orders_columns(keys, rng))


def delete_predicate(lo: int) -> str:
    return f"o_orderkey >= {lo} AND o_orderkey < {lo + 2000} AND o_orderstatus = 'F'"


def delete_mask(state: pd.DataFrame, lo: int) -> pd.Series:
    return (state.index >= lo) & (state.index < lo + 2000) & (state.o_orderstatus == "F")


def make_commit(kind: str, rnd: int, rng: np.random.Generator,
                state: pd.DataFrame) -> tuple[pa.Table | None, int | None, list[int]]:
    """(batch, delete range start, keys to look up afterwards: one the
    commit touched and one live key) for one commit."""
    fresh = NEW_KEYS + rnd * ROUND_KEYS
    live = state.index.to_numpy()
    if kind == "delete":
        lo = int(rng.integers(0, KEY_HI - 2000))
        gone = state[delete_mask(state, lo)].index
        touched = int(gone[0]) if len(gone) else lo
        return None, lo, [touched, int(rng.choice(live))]
    if kind == "append":
        keys = np.arange(fresh, fresh + 1000)
    elif kind == "upsert":
        keys = np.concatenate([rng.choice(live, 500, replace=False),
                               np.arange(fresh + 2000, fresh + 2500)])
    else:
        keys = np.concatenate([rng.choice(live, 300, replace=False),
                               np.arange(fresh + 4000, fresh + 4100)])
    batch = _frame(keys, rng)
    return batch, None, [int(rng.choice(keys)), int(rng.choice(live))]


def replay(kind: str, state: pd.DataFrame, batch: pa.Table | None,
           lo: int | None) -> pd.DataFrame:
    """The operation's effect on a table indexed by o_orderkey."""
    if kind == "delete":
        return state[~delete_mask(state, lo)]
    b = batch.to_pandas().set_index("o_orderkey")
    if kind == "append":
        return pd.concat([state, b])
    if kind == "upsert":
        return pd.concat([state.drop(b.index, errors="ignore"), b])
    matched = b.index.intersection(state.index)
    state = state.copy()
    for col in MERGE_COLS:
        state.loc[matched, col] = b.loc[matched, col]
    return pd.concat([state, b.drop(matched)])


def _row(key: int, r: pd.Series) -> dict:
    d = {"o_orderkey": int(key)}
    for c in COLUMNS[1:]:
        v = r[c]
        d[c] = v.isoformat(sep=" ") if isinstance(v, pd.Timestamp) else (
            v.item() if hasattr(v, "item") else v)
    return d


def _same(got: list[dict], want: list[dict]) -> bool:
    if len(got) != len(want):
        return False
    for g, w in zip(sorted(got, key=repr), sorted(want, key=repr)):
        for k, v in w.items():
            x = g.get(k)
            if isinstance(v, float):
                if not isinstance(x, (int, float)) or abs(x - v) > 1e-9 * max(1.0, abs(v)):
                    return False
            elif x != v:
                return False
    return True


def expected_point(state: pd.DataFrame, key: int) -> list[dict]:
    if key not in state.index:
        return []
    return [_row(key, state.loc[key])]


def expected_range(state: pd.DataFrame, lo: int, hi: int) -> list[dict]:
    sel = state[(state.index >= lo) & (state.index <= hi)]
    g = sel.groupby("o_orderstatus").o_totalprice.agg(["count", "sum"])
    return [{"o_orderstatus": s, "n": int(r["count"]), "total": float(r["sum"])}
            for s, r in g.iterrows()]


def table_mismatch(path: str, state: pd.DataFrame) -> str | None:
    """Compare a parquet dir written by the engine with the replay."""
    got = pq.read_table(path).to_pandas()
    want = state.reset_index()[COLUMNS]
    if len(got) != len(want):
        return f"{len(got)} rows, replay has {len(want)}"
    got = got[COLUMNS].sort_values("o_orderkey").reset_index(drop=True)
    want = want.sort_values("o_orderkey").reset_index(drop=True)
    if hasattr(got.o_orderdate.dtype, "tz") and got.o_orderdate.dt.tz is not None:
        got["o_orderdate"] = got.o_orderdate.dt.tz_convert(None)
    for c in COLUMNS:
        a, b = got[c].to_numpy(), want[c].to_numpy()
        same = np.allclose(a, b, rtol=1e-12) if c == "o_totalprice" else (a == b).all()
        if not same:
            return f"column {c} differs"
    return None


def run(ctx: RunContext) -> RunResult:
    from hands_on_trino_iceberg_superset_spark.nessie import NessieClient

    sut = ctx.sut
    started = sut.started()
    orders = pq.read_table(os.path.join(ctx.data_dir, "orders.parquet")).to_pandas()
    state = orders[orders.o_orderkey < KEY_HI].set_index("o_orderkey")
    first = state
    sut.call("setup_lake", timeout=120, data_dir=ctx.data_dir,
             table_dir=ctx.path("lake", "orders"), key_hi=KEY_HI)
    sut.call("window_start")
    ready = time.monotonic()

    rng = np.random.default_rng([ctx.seed, 2])
    lat: dict[str, list[float]] = {"commit": [], "point": [], "range": [], "maintenance": []}
    errors: list[str] = []
    attempted = failed = 0
    rows_written = len(state)
    batch_dir = ctx.path("batches")
    os.makedirs(batch_dir, exist_ok=True)

    def timed(group: str, op: str, **args):
        nonlocal attempted, failed
        attempted += 1
        t0 = time.perf_counter()
        try:
            out = sut.call(op, **args)
        except SutError as exc:
            failed += 1
            errors.append(f"{op}: {exc}")
            return None
        lat[group].append((time.perf_counter() - t0) * 1000)
        return out

    def check(what: str, got, want) -> None:
        nonlocal failed
        if got is not None and not _same(got, want):
            failed += 1
            errors.append(f"{what}: engine {got[:3]} != replay {want[:3]}")

    rounds = max(1, round(ctx.seconds / 10 * ROUNDS))
    t0 = time.monotonic()
    for rnd in range(rounds):
        for kind in COMMITS:
            batch, lo, keys = make_commit(kind, rnd, rng, state)
            path = None
            if batch is not None:
                path = os.path.join(batch_dir, f"{rnd}-{kind}.parquet")
                pq.write_table(batch, path)
                rows_written += batch.num_rows
            pred = delete_predicate(lo) if lo is not None else None
            timed("commit", "lake_commit", kind=kind, batch=path, predicate=pred)
            state = replay(kind, state, batch, lo)
            for key in keys:
                got = timed("point", "lake_point", key=key)
                check(f"point {key} after {kind}", got, expected_point(state, key))
        lo = int(rng.integers(0, KEY_HI))
        got = timed("range", "lake_range", lo=lo, hi=lo + 5000)
        check(f"range {lo}", got, expected_range(state, lo, lo + 5000))
        timed("maintenance", "lake_maintenance")
    window = time.monotonic() - t0

    fin = sut.call("lake_finish", timeout=120, out_dir=ctx.path("lake-check"))
    for name, want in (("final", state), ("first", first)):
        problem = table_mismatch(ctx.path("lake-check", name), want)
        if problem:
            failed += 1
            errors.append(f"{name} table: {problem}")
    pointer = NessieClient(started["nessie_url"]).metadata_location("lake.orders")
    if pointer != fin["metadata_location"]:
        failed += 1
        errors.append(f"nessie pointer {pointer} != {fin['metadata_location']}")

    rate = len(lat["commit"]) / window
    point_p50 = percentile(lat["point"], 50)
    amplification = fin["table_bytes"] / fin["fresh_bytes"]
    result = RunResult(
        end_to_end={"ops_per_s": rate, "op_p50_ms": point_p50},
        attempted=attempted,
        failed=failed,
        ready_at=ready,
        window_s=window,
        errors=errors,
        info={
            "write_ops_per_s": (rate, "1/s"),
            "point_read_p50_ms": (point_p50, "ms"),
            "storage_amplification": (amplification, "ratio"),
            "rounds": (rounds, "count"),
        },
    )
    if ctx.trace:
        bytes_per_row = fin["fresh_bytes"] / max(1, len(state))
        result.per_layer, result.spans = _per_layer(ctx, started, fin,
                                                    rows_written * bytes_per_row)
    return result


def _per_layer(ctx: RunContext, started: dict, fin: dict,
               user_bytes: float) -> tuple[dict[str, float], int]:
    sut = ctx.sut.call("trace", path=ctx.path("trace-sut.jsonl"))
    s = sut["summary"]

    def mean_ms(*names: str) -> float:
        es = [s[n] for n in names if n in s]
        count = max((e["count"] for e in es), default=0)
        return sum(e["total_ms"] for e in es) / count if count else 0.0

    plans = sut["filtered_plans"]
    files = sum(p["files"] for p in plans)
    total = sum(p["total_files"] for p in plans)
    return {
        "session.start_s": started["session_start_s"],
        "sources.load_ms": s.get("sources.load", {}).get("total_ms", 0.0),
        "lakehouse.append_ms": mean_ms("lakehouse.append"),
        "lakehouse.upsert_ms": mean_ms("lakehouse.upsert"),
        "lakehouse.merge_ms": mean_ms("lakehouse.merge"),
        "lakehouse.delete_ms": mean_ms("lakehouse.delete"),
        "lakehouse.maintenance_ms": mean_ms(
            "lakehouse.maintenance.rewrite_data_files",
            "lakehouse.maintenance.rewrite_manifests",
            "lakehouse.maintenance.expire_snapshots"),
        "lakehouse.plan_scan_ms": mean_ms("lakehouse.plan_scan"),
        "lakehouse.files_scanned_per_read": files / max(1, len(plans)),
        "lakehouse.files_skipped_ratio": (total - files) / total if total else 0.0,
        "lakehouse.bytes_written_per_user_byte": fin["bytes_written"] / user_bytes,
        "lakehouse.data_files": fin["data_files"],
        "lakehouse.delete_files": fin["delete_files"],
        "lakehouse.manifests": fin["manifests"],
        "nessie.put_ms": mean_ms("nessie.put"),
        "nessie.conflicts": fin["nessie_conflicts"],
    }, sut["span_count"]
