"""Load-generator side helpers: the system-under-test process handle,
percentiles and the per-run context shared by the workloads."""

from __future__ import annotations

import json
import os
import select
import shlex
import signal
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
SUT_PY = os.path.join(HERE, "sut.py")


class SutError(RuntimeError):
    pass


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, q in [0, 100]."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def _proc_status(pid: int, key: str) -> int:
    """A ``kB`` field of /proc/<pid>/status, 0 if the process is gone."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError):
        pass
    return 0


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _group_members(pgid: int) -> list[int]:
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            out.append(int(name))
    return out


class SutProcess:
    """The system under test: ``sut.py`` in its own process group,
    with a private cwd, TMPDIR and SPARK_LOCAL_DIRS under ``run_dir``."""

    def __init__(self, run_dir: str, trace: bool, cpus: int, deadline: float) -> None:
        self.deadline = deadline
        cwd = os.path.join(run_dir, "sut")
        tmp = os.path.join(run_dir, "tmp")
        local = os.path.join(run_dir, "spark-local")
        for d in (cwd, tmp, local):
            os.makedirs(d, exist_ok=True)
        # the JVM ignores TMPDIR: point java.io.tmpdir there too, and
        # keep its perf-data file out of /tmp
        java_opts = shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
        env = dict(os.environ, TMPDIR=tmp, SPARK_LOCAL_DIRS=local,
                   SPARK_GRAFT_CPUS=str(cpus), PYTHONDONTWRITEBYTECODE="1",
                   PYSPARK_SUBMIT_ARGS=f"--driver-java-options {java_opts} pyspark-shell")
        self.log_path = os.path.join(run_dir, "sut.log")
        self._log = open(self.log_path, "wb")
        cmd = [sys.executable, SUT_PY] + (["--trace"] if trace else [])
        self.proc = subprocess.Popen(
            cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
            stderr=self._log, cwd=cwd, env=env, start_new_session=True,
        )
        self._started: dict | None = None

    def started(self, timeout: float = 120.0) -> dict:
        """The reply of the session start the process makes on its own
        as soon as it runs (so the caller can generate inputs
        meanwhile)."""
        if self._started is None:
            self._started = self._receive("start", timeout)
        return self._started

    def call(self, op: str, timeout: float = 120.0, **args):
        self.started()
        self.proc.stdin.write((json.dumps({"op": op, "args": args}) + "\n").encode())
        self.proc.stdin.flush()
        return self._receive(op, timeout)

    def _receive(self, op: str, timeout: float):
        timeout = min(timeout, self.deadline - time.monotonic())
        if timeout <= 0:
            raise SutError(f"{op}: run deadline reached")
        ready, _, _ = select.select([self.proc.stdout], [], [], timeout)
        if not ready:
            raise SutError(f"{op}: no reply within {timeout:.0f}s")
        line = self.proc.stdout.readline()
        if not line:
            raise SutError(f"{op}: system under test exited ({self.tail_log()})")
        reply = json.loads(line)
        if not reply["ok"]:
            raise SutError(f"{op}: {reply['error']}")
        return reply["result"]

    def tail_log(self, n: int = 5) -> str:
        self._log.flush()
        with open(self.log_path, "rb") as fh:
            lines = fh.read().decode(errors="replace").strip().splitlines()
        return " | ".join(lines[-n:])

    def peak_rss_mb(self) -> tuple[float, float]:
        """VmHWM of this process and of its JVM child, in MiB."""
        kids = _children()
        pids, todo = [], [self.proc.pid]
        while todo:
            pid = todo.pop()
            pids.append(pid)
            todo.extend(kids.get(pid, []))
        jvm = []
        for pid in pids[1:]:
            try:
                with open(f"/proc/{pid}/comm") as fh:
                    if fh.read().strip() == "java":
                        jvm.append(pid)
            except OSError:
                continue
        return (_proc_status(self.proc.pid, "VmHWM") / 1024.0,
                sum(_proc_status(p, "VmHWM") for p in jvm) / 1024.0)

    def close(self) -> None:
        """Stop the session cleanly if possible, then make sure every
        process of the group has ended."""
        try:
            if self.proc.poll() is None:
                self.call("stop", timeout=30)
            self.proc.wait(timeout=30)
        except (SutError, OSError, ValueError, subprocess.TimeoutExpired):
            pass
        pgid = self.proc.pid
        for sig in (signal.SIGTERM, signal.SIGKILL):
            if not _group_members(pgid):
                break
            try:
                os.killpg(pgid, sig)
            except ProcessLookupError:
                break
            end = time.monotonic() + 10
            while _group_members(pgid) and time.monotonic() < end:
                time.sleep(0.1)
        if self.proc.poll() is None:
            self.proc.kill()
        self.proc.wait()
        for fh in (self.proc.stdin, self.proc.stdout, self._log):
            try:
                fh.close()
            except OSError:
                pass


@dataclass
class RunResult:
    """What a workload reports back to ``run.py``."""

    end_to_end: dict[str, float]
    attempted: int
    failed: int
    #: monotonic time at which set-up (and warm-up) had finished
    ready_at: float
    window_s: float
    errors: list[str] = field(default_factory=list)
    #: further figures printed by name with their unit
    info: dict[str, tuple[float, str]] = field(default_factory=dict)
    per_layer: dict[str, float] = field(default_factory=dict)
    #: spans recorded by the traced run, for the overhead estimate
    spans: int = 0


@dataclass
class RunContext:
    seed: int
    seconds: float
    trace: bool
    cpus: int
    run_dir: str
    data_dir: str
    deadline: float
    sut: SutProcess | None = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.run_dir, *parts)
