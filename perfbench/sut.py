"""The system under test, run as its own process by ``run.py``.

One Spark session plus ``server.TrinoWireServer`` and
``nessie.NessieCatalogServer``. The load generator drives it over HTTP
(the wire server) and over a JSON-lines control channel on this
process's stdin/stdout: one request per line, ``{"op": ..., "args":
{...}}``, one reply per line, ``{"ok": true, "result": ...}`` or
``{"ok": false, "error": ...}``. Everything else this process or its
JVM prints goes to stderr.

With ``--trace`` the public functions of the program's modules are
wrapped with spans (see ``tracing.py``) before the session starts.

The session starts as soon as the process runs; the reply to that
implicit ``start`` is the first line. Usage (from ``run.py``):
``python3 perfbench/sut.py [--trace]``
"""

from __future__ import annotations

import itertools
import json
import os
import sys
import time
import traceback
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

from datagen import NEARDUP_THRESHOLD  # noqa: E402
from tracing import Tracer  # noqa: E402

ORDER_KEY = "o_orderkey"
MERGE_SET = {"o_totalprice": "s.o_totalprice", "o_orderstatus": "s.o_orderstatus"}
META_PREFIXES = ("SHOW", "DESCRIBE")
#: spans of set-up kept by the traced run; every other span counts
#: only when it started inside the timed window
SETUP_SPANS = ("session.start", "sources.load", "operators.build_ivf_index")


class _NoTracer:
    """Stand-in for :class:`Tracer` in the untraced run."""

    @contextmanager
    def span(self, name: str, **attrs):
        yield attrs


def _tree_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def _jsonable(row: dict) -> dict:
    return {k: (v.isoformat(sep=" ") if hasattr(v, "isoformat") else v)
            for k, v in row.items()}


class Sut:
    def __init__(self, trace: bool) -> None:
        self.tracer = Tracer() if trace else _NoTracer()
        self.trace = trace
        self.spark = None
        self.window_start_ns = 0

    # ------------------------------------------------------- session

    def op_start(self) -> dict:
        if self.trace:
            self._install_wrappers()
        from hands_on_trino_iceberg_superset_spark.engine import Engine
        from hands_on_trino_iceberg_superset_spark.nessie import (
            NessieCatalogServer,
            NessieClient,
        )
        from hands_on_trino_iceberg_superset_spark.server import TrinoWireServer
        from hands_on_trino_iceberg_superset_spark.session import get_spark

        t0 = time.perf_counter()
        with self.tracer.span("session.start"):
            self.spark = get_spark("perfbench")
        session_s = time.perf_counter() - t0
        self.engine = Engine(self.spark)
        self.wire = TrinoWireServer(self.engine, port=0)
        self.wire.start()
        self.nessie_server = NessieCatalogServer(port=0)
        self.nessie_server.start()
        self.nessie = NessieClient(self.nessie_server.url)
        return {"session_start_s": session_s, "wire_url": self.wire.url,
                "nessie_url": self.nessie_server.url}

    def op_stop(self) -> dict:
        self.wire.stop()
        self.nessie_server.stop()
        self.spark.stop()
        return {}

    def _install_wrappers(self) -> None:
        import pyspark.sql.classic.dataframe as classic

        from hands_on_trino_iceberg_superset_spark import dialect, engine, nessie, server
        from hands_on_trino_iceberg_superset_spark.lakehouse import iceberg

        t = self.tracer
        t.wrap(dialect, "trino_to_spark", "dialect.translate")
        t.wrap(engine.Engine, "trino_sql", "engine.resolve")
        t.wrap(classic.DataFrame, "collect", "spark.collect")

        def statement_exit(attrs, args, kwargs, result):
            attrs["meta"] = args[1].lstrip().upper().startswith(META_PREFIXES) \
                or "information_schema" in args[1]
            qid = result[0].get("id")
            tracker = self.spark.sparkContext.statusTracker()
            attrs["jobs"] = len(tracker.getJobIdsForGroup(qid)) if qid else 0

        t.wrap(server.TrinoWireServer, "_execute", "server.statement", statement_exit)
        for op in ("append", "upsert", "merge", "delete"):
            t.wrap(iceberg.IcebergTable, op, f"lakehouse.{op}")
        for op in ("rewrite_data_files", "rewrite_manifests", "expire_snapshots"):
            t.wrap(iceberg.IcebergTable, op, f"lakehouse.maintenance.{op}")
        t.wrap(iceberg.IcebergTable, "read", "lakehouse.read")

        def plan_exit(attrs, args, kwargs, plan):
            attrs["filtered"] = bool(kwargs.get("filter") or (len(args) > 3 and args[3]))
            attrs["files"] = len(plan.files)
            attrs["total_files"] = plan.total_files
            attrs["skipped"] = plan.files_skipped

        t.wrap(iceberg.IcebergTable, "plan_scan", "lakehouse.plan_scan", plan_exit)
        t.wrap(nessie.NessieClient, "put", "nessie.put")

    def op_window_start(self) -> None:
        """Set-up and warm-up are over: spans from here on are the
        timed window's."""
        self.window_start_ns = time.perf_counter_ns()

    def op_trace(self, path: str) -> dict:
        """Write the spans and return the per-name summary plus the
        span attributes the load generator turns into per-layer
        metrics."""
        if not self.trace:
            return {}
        t = self.tracer
        t.spans = [s for s in t.spans
                   if s["start"] >= self.window_start_ns or s["name"] in SETUP_SPANS]
        t.dump(path)
        statements = t.by_name("server.statement")
        stmt_ids = {s["id"] for s in statements}
        execute = [s for s in t.by_name("spark.collect") if s["parent"] in stmt_ids]
        plans = [s["attrs"] for s in t.by_name("lakehouse.plan_scan") if s["attrs"]["filtered"]]
        return {
            "summary": t.summary(),
            "span_count": len(t.spans),
            "stmt_count": len(statements),
            "execute_ms": sum(s["end"] - s["start"] for s in execute) / 1e6,
            "jobs": sum(s["attrs"]["jobs"] for s in statements),
            "meta_ms": [(s["end"] - s["start"]) / 1e6 for s in statements if s["attrs"]["meta"]],
            "filtered_plans": plans,
        }

    # ------------------------------------------------------ bi_dashboard

    def op_setup_bi(self, data_dir: str) -> None:
        from hands_on_trino_iceberg_superset_spark.seed import seed_frames
        from hands_on_trino_iceberg_superset_spark.sources.tpch import register_views

        with self.tracer.span("sources.load"):
            register_views(self.spark, data_dir)
            for name, df in seed_frames(self.spark).items():
                df.createOrReplaceTempView(f"seed_{name}")

    def op_direct(self, sql: str) -> float:
        """Execute one statement through ``Engine.trino_sql`` without
        the wire; returns milliseconds."""
        t0 = time.perf_counter()
        self.engine.trino_sql(sql).collect()
        return (time.perf_counter() - t0) * 1000

    # ------------------------------------------------------ lake_ingest

    def op_setup_lake(self, data_dir: str, table_dir: str, key_hi: int) -> dict:
        from hands_on_trino_iceberg_superset_spark.lakehouse.iceberg import IcebergTable

        with self.tracer.span("sources.load"):
            base = self.spark.read.parquet(os.path.join(data_dir, "orders.parquet")) \
                .where(f"{ORDER_KEY} < {key_hi}")
        self._warm_lake(base, table_dir + "-warmup")
        self.table_dir = table_dir
        self.table = IcebergTable.create(self.spark, table_dir, base)
        self.table.create_tag("first")
        self.files_seen: dict[str, int] = {}
        self.bytes_written = 0
        self.nessie_conflicts = 0
        self._account_files()
        self._publish()
        return {"metadata_location": self.table.metadata_location}

    def _warm_lake(self, base, path: str) -> None:
        """Every operation once on a small scratch table, so the timed
        window does not pay first-use code generation."""
        import pyspark.sql.functions as F

        from hands_on_trino_iceberg_superset_spark.lakehouse.iceberg import IcebergTable

        small = base.where(f"{ORDER_KEY} < 2000")
        t = IcebergTable.create(self.spark, path, small)
        t.append(small.withColumn(ORDER_KEY, F.col(ORDER_KEY) + 10_000))
        t.upsert(small.where(f"{ORDER_KEY} < 500"), ORDER_KEY)
        t.merge(small.where(f"{ORDER_KEY} >= 1500"), ORDER_KEY, when_matched_update=MERGE_SET)
        t.delete(f"{ORDER_KEY} < 100")
        t.read(filter={ORDER_KEY: 700}).collect()
        t.read(filter={ORDER_KEY: (0, 1000)}).groupBy("o_orderstatus").count().collect()
        t.rewrite_data_files()
        t.rewrite_manifests()
        t.expire_snapshots(keep_last=2)

    def _account_files(self) -> None:
        """Bytes of every file that appeared under the table dir since
        the last call (Iceberg never rewrites a file in place)."""
        for root, _, files in os.walk(self.table_dir):
            for f in files:
                p = os.path.join(root, f)
                if p not in self.files_seen:
                    self.files_seen[p] = os.path.getsize(p)
                    self.bytes_written += self.files_seen[p]

    def _publish(self) -> None:
        from hands_on_trino_iceberg_superset_spark.nessie import NessieError

        for _ in range(5):
            try:
                self.nessie.put("main", "lake.orders", self.table.metadata_location)
                return
            except NessieError as exc:
                if exc.status != 409:
                    raise
                self.nessie_conflicts += 1
        raise RuntimeError("nessie put kept conflicting")

    def op_lake_commit(self, kind: str, batch: str | None = None,
                       predicate: str | None = None) -> dict:
        t = self.table
        if kind == "delete":
            t.delete(predicate)
        else:
            src = self.spark.read.parquet(batch)
            if kind == "append":
                t.append(src)
            elif kind == "upsert":
                t.upsert(src, ORDER_KEY)
            elif kind == "merge":
                t.merge(src, ORDER_KEY, when_matched_update=MERGE_SET)
            else:
                raise ValueError(f"unknown commit kind {kind!r}")
        self._publish()
        self._account_files()
        return {"metadata_location": t.metadata_location}

    def op_lake_point(self, key: int) -> list[dict]:
        rows = self.table.read(filter={ORDER_KEY: key}).collect()
        return [_jsonable(r.asDict()) for r in rows]

    def op_lake_range(self, lo: int, hi: int) -> list[dict]:
        import pyspark.sql.functions as F

        rows = (self.table.read(filter={ORDER_KEY: (lo, hi)})
                .groupBy("o_orderstatus")
                .agg(F.count(F.lit(1)).alias("n"), F.sum("o_totalprice").alias("total"))
                .collect())
        return [r.asDict() for r in rows]

    def op_lake_maintenance(self) -> dict:
        t = self.table
        t.rewrite_data_files()
        t.rewrite_manifests()
        t.expire_snapshots(keep_last=2)
        self._publish()
        self._account_files()
        return {"metadata_location": t.metadata_location}

    def op_lake_finish(self, out_dir: str) -> dict:
        """Outside the timed window: write the live table and the
        first snapshot fresh for the correctness check, and report the
        storage counts."""
        t = self.table
        fresh = os.path.join(out_dir, "final")
        t.read().coalesce(1).write.parquet(fresh)
        t.read(ref="first").coalesce(1).write.parquet(os.path.join(out_dir, "first"))
        plan = t.plan_scan()
        return {
            "metadata_location": t.metadata_location,
            "table_bytes": _tree_bytes(self.table_dir),
            "fresh_bytes": _tree_bytes(fresh),
            "bytes_written": self.bytes_written,
            "data_files": len(plan.files),
            "delete_files": len(plan.deletes),
            "manifests": plan.manifests_total,
            "nessie_conflicts": self.nessie_conflicts,
        }

    # --------------------------------------------------- curation_batch

    def op_setup_curation(self, data_dir: str, work_dir: str) -> dict:
        import threading

        from hands_on_trino_iceberg_superset_spark.operators.similarity import build_ivf_index

        read = self.spark.read.parquet
        with self.tracer.span("sources.load"):
            self.docs = read(os.path.join(data_dir, "documents.parquet"))
            self.emb = read(os.path.join(data_dir, "embeddings.parquet"))
            self.ann_queries = read(os.path.join(data_dir, "ann_queries.parquet"))
            self.bm25_queries = read(os.path.join(data_dir, "bm25_queries.parquet"))
        self.ivf_path = os.path.join(work_dir, "ivf")
        failure: list[BaseException] = []

        def build() -> None:
            try:
                with self.tracer.span("operators.build_ivf_index"):
                    build_ivf_index(self.emb, self.ivf_path, n_centroids=16, max_iter=3)
            except BaseException as exc:  # noqa: BLE001 - re-raised below
                failure.append(exc)

        # the index build and an untimed pass over the whole pipeline
        # (so the timed jobs do not pay first-use code generation, JIT
        # compilation and Python worker start-up) share the cores; the
        # pass's ANN stage waits for the index
        index_build = threading.Thread(target=build)
        index_build.start()
        try:
            self._pipeline(os.path.join(work_dir, "warmup"), _NoTracer(),
                           before_ann=index_build.join)
        finally:
            index_build.join()
        if failure:
            raise failure[0]
        return {}

    def op_curation_job(self, job_dir: str) -> dict:
        t0 = time.perf_counter()
        stages = self._pipeline(job_dir, self.tracer)
        return {"job_s": time.perf_counter() - t0, "stages": stages}

    def _pipeline(self, out: str, tracer, before_ann=None) -> dict:
        """dedup -> quality -> ANN -> BM25; every stage writes parquet
        and the next stage reads it, so a stage's time covers its own
        execution."""
        import pyspark.sql.functions as F

        from hands_on_trino_iceberg_superset_spark.operators import (
            dedup,
            retrieval,
            similarity,
            textstats,
        )

        docs = self.docs
        read = self.spark.read.parquet
        stages: dict[str, float] = {}

        @contextmanager
        def stage(name: str):
            t0 = time.perf_counter()
            with tracer.span(f"operators.{name}"):
                yield os.path.join(out, name)
            stages[name] = time.perf_counter() - t0

        with stage("exact_duplicates") as p:
            dedup.exact_duplicates(docs).write.parquet(p)
        kept = docs.join(read(p).select(F.col("keep_id").alias("doc_id")), "doc_id")
        with stage("minhash_lsh_pairs") as p:
            dedup.minhash_lsh_pairs(kept, NEARDUP_THRESHOLD).write.parquet(p)
        edges = read(p).select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        with stage("connected_components") as p:
            dedup.connected_components(edges).write.parquet(p)
        dropped = read(p).where("node <> component").select(F.col("node").alias("doc_id"))
        survivors = kept.join(dropped, "doc_id", "left_anti")
        with stage("quality_scores") as p:
            textstats.quality_scores(survivors, chars_col="n_chars").write.parquet(p)
        good = survivors.join(read(p).where("passes_quality").select("doc_id"), "doc_id")
        if before_ann is not None:
            before_ann()
        with stage("ivf_topk") as p:
            similarity.ivf_topk(self.emb, self.ann_queries, k=10,
                                index_path=self.ivf_path).write.parquet(p)
        with stage("bm25_topk") as p:
            retrieval.bm25_topk(good, self.bm25_queries, k=10).write.parquet(p)
        return stages


def main() -> None:
    proto = os.fdopen(os.dup(1), "w", buffering=1)
    os.dup2(2, 1)
    sut = Sut(trace="--trace" in sys.argv[1:])
    # the session starts at once; its reply is the first line
    requests = (json.loads(line) for line in sys.stdin)
    for msg in itertools.chain([{"op": "start"}], requests):
        try:
            result = getattr(sut, "op_" + msg["op"])(**msg.get("args", {}))
            reply = {"ok": True, "result": result}
        except Exception as exc:  # noqa: BLE001 - reported to the load generator
            traceback.print_exc()
            reply = {"ok": False, "error": f"{type(exc).__name__}: {exc}"}
        proto.write(json.dumps(reply, default=str) + "\n")
        if msg["op"] == "stop":
            break


if __name__ == "__main__":
    main()
