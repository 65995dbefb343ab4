"""Pieces shared by the three workloads: statistics, the run context (temp
root, Spark session, counters and checks) and the provenance record."""

from __future__ import annotations

import contextlib
import gc
import hashlib
import json
import math
import os
import platform
import resource
import shutil
import statistics
import subprocess
import sys
import time

#: A percentile is reported only with at least this many samples beyond it.
TAIL_SAMPLES = 10


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("quantile of no samples")
    pos = (len(xs) - 1) * q
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return statistics.median(values)


def geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


def tail_percentile(n: int) -> int | None:
    """Highest whole percentile with at least TAIL_SAMPLES samples beyond
    it among ``n`` samples, capped at 95; None when ``n`` is too small."""
    if n <= TAIL_SAMPLES:
        return None
    return min(95, math.floor(100 * (n - TAIL_SAMPLES) / n))


def tail(values: list[float]) -> dict:
    """{"p": percentile, "value": ..., "n": sample count} for the highest
    supported percentile (``p`` None when the sample is too small)."""
    p = tail_percentile(len(values))
    return {
        "p": p,
        "value": quantile(values, p / 100) if p is not None else None,
        "n": len(values),
    }


class Run:
    """State of one benchmark invocation: its hermetic temp root, the
    Spark session, op counters, output checks and reported numbers."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool,
                 size: str, root: str):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.size = size
        self.root = root
        self.cpus = len(os.sched_getaffinity(0))
        #: Spark's task slots: half the usable cores, leaving the rest to
        #: the driver thread, the HTTP clients and the JVM's JIT compiler
        #: threads, which stay busy through the measured stretch
        #: (perfbench/README.md, "Noise").
        self.spark_cores = max(1, self.cpus // 2)
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.failures: list[dict] = []
        self.metrics: dict[str, dict] = {}
        self.detail: dict[str, object] = {}
        self.params: dict[str, object] = {}
        #: program time spent setting up: the session, the workload's
        #: lake or warm-up; inputs are generated before and never count
        self.setup_s = 0.0
        self.setup_steps: dict[str, float] = {}
        #: what the untraced measurement leaves for the traced one
        self.state: dict[str, object] = {}

    # -- temp dirs -------------------------------------------------------

    def fresh_dir(self, name: str) -> str:
        """A new empty directory under the run root (removed if present)."""
        path = os.path.join(self.root, name)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        return path

    # -- accounting ------------------------------------------------------

    def op(self, ok: bool, what: str = "", message: str = "") -> None:
        """Count one attempted operation; a failed or wrong one counts as
        failed and is recorded as a failed check."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.check(False, what, message)

    def check(self, ok: bool, what: str, message: str = "") -> None:
        """Record a check; any failed one makes the run incorrect."""
        if not ok:
            self.failures.append({"check": what, "message": str(message)[:500]})
            print(f"perfbench: CHECK FAILED {what}: {message}"[:2000],
                  file=sys.stderr, flush=True)

    @property
    def correct(self) -> bool:
        return not self.failures

    def metric(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = {"value": value, "unit": unit}

    @contextlib.contextmanager
    def setup_step(self, name: str):
        """Time one set-up step of the program into ``setup_s``."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            dt = time.perf_counter() - t0
            self.setup_s += dt
            self.setup_steps[name] = self.setup_steps.get(name, 0.0) + dt

    @staticmethod
    def settle() -> None:
        """Move what set-up allocated out of the cyclic collector's view:
        the benchmark's clients and inputs share a process with the
        program, and rescanning them would add pauses to measured ops."""
        gc.collect()
        gc.freeze()

    # -- Spark -----------------------------------------------------------

    def start_spark(self, event_log_dir: str | None = None):
        """Start the program's own session (``mycenae_spark.session``) on
        ``local[spark_cores]``, with every scratch path inside the run root."""
        local = self.fresh_dir("spark-local")
        jtmp = self.fresh_dir("java-tmp")
        args = [
            f"--conf spark.local.dir={local}",
            f"--conf spark.sql.warehouse.dir={os.path.join(self.root, 'warehouse')}",
            "--conf spark.ui.showConsoleProgress=false",
            f"--driver-java-options -Djava.io.tmpdir={jtmp}",
        ]
        if event_log_dir:
            args += [
                "--conf spark.eventLog.enabled=true",
                "--conf spark.eventLog.compress=false",
                f"--conf spark.eventLog.dir=file://{event_log_dir}",
            ]
        os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args) + " pyspark-shell"
        from mycenae_spark.session import get_spark

        self.spark = get_spark("perfbench", cpus=self.spark_cores)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop_spark(self) -> None:
        """Stop the session and wait for its JVM to exit."""
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        gateway = sc._gateway
        proc = getattr(gateway, "proc", None)
        try:
            self.spark.stop()
        finally:
            self.spark = None
            try:
                gateway.shutdown()
            except Exception:  # noqa: BLE001 — best effort before the kill
                pass
            if proc is not None:
                try:
                    proc.stdin.close()
                    proc.wait(timeout=60)
                except (OSError, subprocess.TimeoutExpired):
                    proc.kill()
                    proc.wait(timeout=30)

    def jvm_peak_rss_mb(self) -> float:
        """Peak resident set of the Spark JVM (VmHWM), in MiB."""
        try:
            pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        return int(line.split()[1]) / 1024
        except (OSError, AttributeError, ValueError):
            pass
        return 0.0


def driver_peak_rss_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024


def cpu_ticks() -> list[int] | None:
    """The machine's CPU time counters (the ``cpu`` line of /proc/stat)."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def steal_pct(before: list[int] | None, after: list[int] | None) -> float | None:
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_ticks()`` readings.  On a shared host, timings follow it: runs
    with a few per cent of steal ran 20-100 % slower than runs with none."""
    if not before or not after or len(before) < 8:
        return None
    d = [b - a for a, b in zip(before, after)]
    return 100 * d[7] / sum(d) if sum(d) else None


def _source_fingerprint(root: str) -> str:
    """Content hash of the program's sources (the checkout the benchmark
    runs in need not be a git repository)."""
    h = hashlib.sha256()
    pkg = os.path.join(root, "mycenae_spark")
    for base, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(base, f)
                h.update(os.path.relpath(p, root).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def _git_commit(root: str) -> str | None:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
            text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None if out.returncode == 0 else None


def _cpu_model() -> str:
    try:
        with open("/proc/cpuinfo") as f:
            for line in f:
                if line.startswith("model name"):
                    return line.split(":", 1)[1].strip()
    except OSError:
        pass
    return platform.processor() or "unknown"


def host_fingerprint(cpus: int) -> dict:
    """What a comparison must hold equal: cores the run could use, the CPU
    model and the machine's memory."""
    mem_gb = round(
        os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    )
    return {"nproc": cpus, "cpu": _cpu_model(), "mem_gb": mem_gb,
            "machine": platform.machine()}


def provenance(run: Run, root: str) -> dict:
    import duckdb
    import pyarrow
    import pyspark

    java = None
    shuffle = None
    if run.spark is not None:
        java = run.spark._jvm.java.lang.System.getProperty("java.version")
        shuffle = run.spark.conf.get("spark.sql.shuffle.partitions")
    return {
        "host": host_fingerprint(run.cpus),
        "master": f"local[{run.spark_cores}]",
        "shuffle_partitions": shuffle,
        "versions": {
            "python": platform.python_version(),
            "pyspark": pyspark.__version__,
            "java": java,
            "pyarrow": pyarrow.__version__,
            "duckdb": duckdb.__version__,
        },
        "git_commit": _git_commit(root),
        "source_sha256": _source_fingerprint(root),
        "workload": run.workload,
        "seed": run.seed,
        "seconds": run.seconds,
        "trace": run.trace,
        "size": run.size,
        "params": run.params,
        "time": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }


def dumps(obj) -> str:
    return json.dumps(obj, sort_keys=True, default=str)
