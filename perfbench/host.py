"""Host-side plumbing: run-local environment, the foreign-Spark guard,
the machine-ceiling reading, process-tree memory sampling and the
shutdown of the Spark JVM.

Everything the benchmark writes lives under ``<checkout>/.perfbench-run``:
``work/<pid>`` (tables, WALs, checkpoints, spark.local.dir, temp files;
removed at exit) and ``out/`` (result and span files, kept).
"""

from __future__ import annotations

import bisect
import json
import os
import platform
import shutil
import subprocess
import sys
import threading
import time

PAGE = os.sysconf("SC_PAGE_SIZE")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(state_dir: str, root: str, cpus: int) -> str:
    """Point every writer the engine and Spark use at a per-process work
    directory inside the checkout, and make the engine importable by the
    Python workers. Must run before pyspark is imported."""
    work = os.path.join(state_dir, "work", str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    for d in ("scratch", "local", "tmp"):
        os.makedirs(os.path.join(work, d))
    env = os.environ
    env["SPARK_GRAFT_SCRATCH"] = os.path.join(work, "scratch")
    env["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "local")
    env["SPARK_GRAFT_CPUS"] = str(cpus)
    # ~0.75g of heap per task thread (BENCH/BASELINE.md), at least 2g
    env["SPARK_GRAFT_DRIVER_MEM"] = f"{max(2, (cpus * 3 + 3) // 4)}g"
    env["TMPDIR"] = os.path.join(work, "tmp")
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, env.get("PYTHONPATH")) if p
    )
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return work


def spark_conf(work: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
        ),
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + os.path.join(work, "eventlog")
        # one plain JSON-lines file, readable without a codec
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    return conf


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def foreign_spark_jvms() -> list[int]:
    """Spark JVMs on this host that this process did not start."""
    mine = set(_descendants(os.getpid()))
    return [
        int(p)
        for p in os.listdir("/proc")
        if p.isdigit()
        and int(p) not in mine
        and "org.apache.spark.deploy.SparkSubmit" in _cmdline(int(p))
    ]


def wait_for_quiet_host(timeout: float) -> list[int]:
    """Wait until no other Spark JVM runs; return the ones still running
    after ``timeout`` (empty when the host is quiet)."""
    deadline = time.monotonic() + timeout
    while True:
        jvms = foreign_spark_jvms()
        if not jvms or time.monotonic() >= deadline:
            return jvms
        time.sleep(1.0)


def machine_ceiling(root: str, state_dir: str, max_age: float) -> dict:
    """``BENCH/scaling.machine_ceiling()`` in a fresh interpreter (its
    pool forks, which is unsafe next to a JVM's threads). A reading younger
    than ``max_age`` seconds is reused from ``out/ceiling.json``, so
    back-to-back runs do not each pay the ~5 s probe."""
    cache = os.path.join(state_dir, "out", "ceiling.json")
    try:
        with open(cache) as f:
            cached = json.load(f)
        if time.time() - cached["taken_at"] <= max_age:
            return cached
    except (OSError, ValueError, KeyError):
        pass
    code = (
        "import json, sys; sys.path.insert(0, 'BENCH');"
        "from scaling import machine_ceiling; print(json.dumps(machine_ceiling()))"
    )
    p = subprocess.run(
        [sys.executable, "-c", code], cwd=root, capture_output=True, text=True, timeout=120
    )
    if p.returncode != 0:
        return {"error": p.stderr.strip()[-500:], "taken_at": time.time()}
    reading = json.loads(p.stdout.strip().splitlines()[-1])
    reading["taken_at"] = time.time()
    os.makedirs(os.path.dirname(cache), exist_ok=True)
    with open(cache, "w") as f:
        json.dump(reading, f)
    return reading


def host_record(cpus: int, seed: int) -> dict:
    import pyspark

    return {
        "nproc": cpus,
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "seed": seed,
    }


def _cpu_jiffies() -> tuple[int, int]:
    """(busy, stolen) clock ticks summed over every CPU since boot. Stolen
    ticks are the ones a CPU of this virtual machine wanted to run but the
    hypervisor gave to someone else."""
    with open("/proc/stat") as f:
        user, nice, system, _idle, _iowait, irq, softirq, steal = (
            int(x) for x in f.readline().split()[1:9])
    return user + nice + system + irq + softirq, steal


class HostSampler:
    """Samples, on a background thread, the peak resident memory of this
    process and all its descendants (the Spark JVM, its Python workers,
    the WAL generator) and the host's busy and stolen CPU ticks."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_bytes = 0
        self.ticks: list[tuple[float, int, int]] = []  # (time.time(), busy, stolen)
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="host-sampler", daemon=True)

    def sample(self) -> None:
        self.ticks.append((time.time(), *_cpu_jiffies()))
        total = 0
        for pid in _descendants(os.getpid()):
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * PAGE
            except OSError:
                continue
        self.peak_bytes = max(self.peak_bytes, total)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def _at(self, t: float) -> tuple[float, float]:
        """Busy and stolen ticks at time ``t``, interpolated."""
        ts = self.ticks
        i = bisect.bisect_left(ts, (t,))
        if i == 0:
            return ts[0][1], ts[0][2]
        if i == len(ts):
            return ts[-1][1], ts[-1][2]
        (t0, b0, s0), (t1, b1, s1) = ts[i - 1], ts[i]
        f = (t - t0) / (t1 - t0) if t1 > t0 else 0.0
        return b0 + f * (b1 - b0), s0 + f * (s1 - s0)

    def stolen_share(self, start: float, end: float) -> float:
        """Share of the CPU time this VM's busy CPUs wanted between
        ``start`` and ``end`` that the hypervisor withheld."""
        if len(self.ticks) < 2:
            return 0.0
        (b0, s0), (b1, s1) = self._at(start), self._at(end)
        want = (b1 - b0) + (s1 - s0)
        return (s1 - s0) / want if want > 0 else 0.0

    def __enter__(self) -> "HostSampler":
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()


def stop_spark(spark) -> None:
    """Stop the session, then the JVM PySpark launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
