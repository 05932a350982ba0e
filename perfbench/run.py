#!/usr/bin/env python3
"""Benchmark of record for the PySpark lakehouse engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Each run starts the system under
test in its own process (``sut.py``: a Spark session on
``local[nproc]`` plus the Trino wire server and the Nessie catalog
server) with a private cwd, TMPDIR and SPARK_LOCAL_DIRS under
``.perfbench/``, makes its inputs from ``--seed`` (``datagen.py``)
while the session starts, drives one workload sized by ``--seconds``
from this process, checks every output, stops every process it
started and removes its directory.

The last line of stdout is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` -- the end-to-end metrics
with ``--trace 0``, the per-layer metrics (from spans recorded around
calls into the program's modules) with ``--trace 1``. The lines before
it name every figure the run measured, with its unit. The exit code is
0 only when every output was correct.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "hands_on_trino_iceberg_superset_spark"
RUN_LIMIT_S = 170

#: the metrics of the result line with --trace 0, as in BENCHMARK.json
END_TO_END = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "op_p50_ms": "ms",
}

PER_LAYER = {
    "session.start_s": "s",
    "sources.load_ms": "ms",
    "bi.compile_ms": "ms",
    "dialect.translate_ms": "ms",
    "engine.resolve_ms": "ms",
    "engine.execute_ms": "ms",
    "engine.spark_jobs_per_stmt": "count",
    "engine.infoschema_ms": "ms",
    "server.wire_overhead_ms": "ms",
    "server.pages_per_stmt": "count",
    "server.bytes_per_stmt": "bytes",
    "lakehouse.append_ms": "ms",
    "lakehouse.upsert_ms": "ms",
    "lakehouse.merge_ms": "ms",
    "lakehouse.delete_ms": "ms",
    "lakehouse.maintenance_ms": "ms",
    "lakehouse.plan_scan_ms": "ms",
    "lakehouse.files_scanned_per_read": "count",
    "lakehouse.files_skipped_ratio": "ratio",
    "lakehouse.bytes_written_per_user_byte": "ratio",
    "lakehouse.data_files": "count",
    "lakehouse.delete_files": "count",
    "lakehouse.manifests": "count",
    "nessie.put_ms": "ms",
    "nessie.conflicts": "count",
    "operators.build_ivf_index_s": "s",
    "operators.exact_duplicates_s": "s",
    "operators.minhash_lsh_pairs_s": "s",
    "operators.connected_components_s": "s",
    "operators.quality_scores_s": "s",
    "operators.ivf_topk_s": "s",
    "operators.bm25_topk_s": "s",
    "operators.neardup_pairs": "count",
    "trace.overhead_pct": "%",
}

WORKLOADS = ("bi_dashboard", "lake_ingest", "curation_batch")


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _line(name: str, value: float, unit: str) -> None:
    print(f"{name:<40} {value:>14.6g} {unit}")


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    # a terminated run still stops the system under test (finally)
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"run.py: no {PACKAGE}/ next to {os.path.basename(HERE)}/; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import importlib

    import datagen
    from common import RunContext, SutProcess

    workload = importlib.import_module(args.workload)
    cpus = len(os.sched_getaffinity(0))
    deadline = time.monotonic() + RUN_LIMIT_S
    run_dir = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    ctx = RunContext(seed=args.seed, seconds=args.seconds, trace=bool(args.trace), cpus=cpus,
                     run_dir=run_dir, data_dir=os.path.join(run_dir, "data"),
                     deadline=deadline)
    try:
        spawned = time.monotonic()
        ctx.sut = SutProcess(run_dir, ctx.trace, cpus, deadline)
        try:
            # inputs are made while the session starts
            datagen.generate(ctx.data_dir, args.seed, workload.INPUTS)
            datagen_s = time.monotonic() - spawned
            result = workload.run(ctx)
            peak_rss = ctx.sut.peak_rss_mb()
        finally:
            ctx.sut.close()
        if ctx.trace:
            keep = os.path.join(ROOT, ".perfbench", "traces")
            os.makedirs(keep, exist_ok=True)
            for side in ("sut", "client"):
                src = ctx.path(f"trace-{side}.jsonl")
                if os.path.exists(src):
                    shutil.copy(src, os.path.join(keep, f"{args.workload}-{side}.jsonl"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    e2e = dict(result.end_to_end, setup_s=result.ready_at - spawned)
    # printed, not in the result line: the JVM's heap growth makes it
    # vary by more than any bound from run to run
    result.info.update(peak_rss_mb=(sum(peak_rss), "MB"), python_peak_rss_mb=(peak_rss[0], "MB"),
                       jvm_peak_rss_mb=(peak_rss[1], "MB"))
    print(f"workload {args.workload}  seed {args.seed}  cpus {cpus}  "
          f"window {result.window_s:.1f}s  inputs generated in {datagen_s:.1f}s")
    return report(result, e2e, ctx.trace)


def report(result, e2e: dict[str, float], trace: bool) -> int:
    """Print every figure by name with its unit, then the result line;
    return the exit code."""
    from tracing import span_cost_ns

    for name, unit in END_TO_END.items():
        _line(name, e2e[name], unit)
    for name, (value, unit) in result.info.items():
        _line(name, value, unit)
    _line("ops_failed_ratio", result.failed / max(1, result.attempted), "ratio")
    for err in result.errors[:20]:
        print(f"FAILED: {err}")

    if trace:
        overhead = result.spans * span_cost_ns() / (result.window_s * 1e9) * 100
        layers = {name: 0.0 for name in PER_LAYER}
        layers.update(result.per_layer, **{"trace.overhead_pct": overhead})
        for name, unit in PER_LAYER.items():
            _line(name, layers[name], unit)
        metrics = {n: {"value": layers[n], "unit": u} for n, u in PER_LAYER.items()}
    else:
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END.items()}
    correct = result.failed == 0
    print(json.dumps({"correct": correct, "attempted": result.attempted,
                      "failed": result.failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
