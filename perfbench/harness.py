"""Launch recipe, host facts, input cache and memory sampling for the benchmark.

Everything the benchmark writes lives under the checkout it runs from:
``.perfbench_cache/`` (generated inputs, reused across runs) and
``.perfbench_run/`` (Spark scratch, event logs, run outputs — wiped at the
start of every run).  Nothing is read or written outside the checkout.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE_DIR = os.path.join(ROOT, ".perfbench_cache")
RUN_DIR = os.path.join(ROOT, ".perfbench_run")

# bump when a generator's output for a given (workload, seed, size) changes,
# so a cached input from an older generator is never reused
GEN_VERSION = 1


def cores() -> int:
    return len(os.sched_getaffinity(0))


def ram_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_memory_mb() -> int:
    """An eighth of RAM, capped at 2 GiB: the driver JVM shares the host
    with one Python worker per core (and, here, with other tenants); the
    12g the older bench scripts pinned would leave a 15 GiB host about
    3 GiB for four workers.  The benchmark's inputs are sized to fit."""
    return max(1024, min(2048, ram_mb() // 8))


def host_info() -> dict:
    import pyarrow
    import pyspark

    return {
        "nproc": cores(),
        "ram_mb": ram_mb(),
        "driver_memory_mb": driver_memory_mb(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
    }


def steal_s() -> float:
    """Host CPU time stolen by the hypervisor so far (all CPUs), from
    /proc/stat: a measure of interference from other tenants."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def process_start_time() -> float:
    """This process's start on the ``time.time()`` clock, from /proc (the
    interpreter's own start-up counts toward set-up time)."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])  # field 22, counted after "pid (comm)"
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    hz = os.sysconf("SC_CLK_TCK")
    return time.time() - uptime + start_ticks / hz


def prepare_run_dir() -> dict[str, str]:
    """Fresh per-run scratch tree; returns its named subdirectories."""
    shutil.rmtree(RUN_DIR, ignore_errors=True)
    dirs = {k: os.path.join(RUN_DIR, k) for k in ("tmp", "local", "warehouse", "events", "out")}
    for d in dirs.values():
        os.makedirs(d)
    return dirs


def start_spark(dirs: dict[str, str], event_log: bool):
    """The engine's own session factory with this host's sizing.

    ``session.get_spark`` keeps WORKER_ENV and ParallelGC (both measured as
    load-bearing); the overrides only move every scratch path into the
    checkout and size the driver heap to the host."""
    from deidcm_spark.session import DRIVER_JAVA_OPTIONS, get_spark

    os.environ["TMPDIR"] = dirs["tmp"]
    # a cluster-manager value would override spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    # the short-lived launcher JVM would otherwise write /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    # forked Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    n = cores()
    mem = driver_memory_mb()
    conf = {
        # a fixed-size heap: the resident size then tracks the work done
        # rather than when ParallelGC decided to grow the heap
        "spark.driver.extraJavaOptions": (
            f"{DRIVER_JAVA_OPTIONS} -Xms{mem}m -XX:-UseAdaptiveSizePolicy"
            f" -Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData"
        ),
        "spark.driver.memory": f"{mem}m",
        "spark.local.dir": dirs["local"],
        "spark.sql.warehouse.dir": dirs["warehouse"],
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + dirs["events"]
        # one uncompressed JSON-lines file
        conf["spark.eventLog.rolling.enabled"] = "false"
        conf["spark.eventLog.compress"] = "false"
    spark = get_spark(
        app_name="perfbench", master=f"local[{n}]", shuffle_partitions=2 * n,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session AND the JVM it runs in, waiting for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def jvm_pid(spark) -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(dirpath, name))
    return total


# ---------------------------------------------------------------------------
# input cache
# ---------------------------------------------------------------------------

def program_fingerprint() -> str:
    """Hash of the program's sources and data files, the contract module the
    oracles take their SQL from, and the benchmark's own code (a change to
    the verifier or the digest must not reuse an old verdict)."""
    import hashlib

    h = hashlib.sha256()
    paths = [os.path.join(ROOT, "__spark_entry__.py")]
    for top in ("deidcm_spark", "perfbench"):
        for dirpath, dirnames, files in os.walk(os.path.join(ROOT, top)):
            dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
            paths += [os.path.join(dirpath, f) for f in sorted(files)
                      if f.endswith((".py", ".tsv", ".txt"))]
    for path in paths:
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


class InputCache:
    """Generated inputs keyed by (workload, seed, size, cores, generator
    version).  An entry is reused only when its marker file matches the key
    exactly; a missing or different marker means regenerate from scratch."""

    def __init__(self, workload: str, seed: int, size: int):
        self.key = {
            "workload": workload, "seed": seed, "size": size,
            "cores": cores(), "gen_version": GEN_VERSION,
        }
        name = f"{workload}-s{seed}-n{size}-c{cores()}-v{GEN_VERSION}"
        self.path = os.path.join(CACHE_DIR, name)
        self._marker = os.path.join(self.path, "marker.json")

    def valid(self) -> bool:
        try:
            with open(self._marker) as f:
                return json.load(f) == self.key
        except (OSError, ValueError):
            return False

    def _verified_path(self) -> str:
        return os.path.join(self.path, f"verified-{program_fingerprint()}.json")

    def load_verified(self):
        """(digest, counts) of an output of THIS program that passed the full
        oracle comparison for this input, or None."""
        try:
            with open(self._verified_path()) as f:
                rec = json.load(f)
            return rec["digest"], rec["counts"]
        except (OSError, ValueError, KeyError):
            return None

    def store_verified(self, digest, counts: dict) -> None:
        tmp = self._verified_path() + ".partial"
        with open(tmp, "w") as f:
            json.dump({"digest": digest, "counts": counts}, f)
        os.rename(tmp, self._verified_path())

    def build(self, generate) -> float:
        """Run ``generate(path)`` unless a valid entry exists; returns the
        seconds spent generating (0.0 on a hit)."""
        if self.valid():
            return 0.0
        t0 = time.perf_counter()
        tmp = self.path + ".partial"
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(self.path, ignore_errors=True)
        os.makedirs(tmp)
        generate(tmp)
        with open(os.path.join(tmp, "marker.json"), "w") as f:
            json.dump(self.key, f)
        os.rename(tmp, self.path)
        return time.perf_counter() - t0


# ---------------------------------------------------------------------------
# resident memory of the JVM and its Python workers
# ---------------------------------------------------------------------------

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _pss_kb(pid: int) -> int:
    """Proportional set size: forked Python workers share pages with the
    daemon they fork from, which RSS would count once per worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants(root_pid: int) -> list[int]:
    kids = _children_map()
    out, stack = [], list(kids.get(root_pid, ()))
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(kids.get(pid, ()))
    return out


class JobMemory:
    """Peak resident memory of one job: the driver JVM's peak RSS as the
    kernel tracks it (VmHWM, reset when the job starts) plus the PSS of
    every process under the JVM (the Python daemon and its workers) when
    the job ends — the workers keep what they allocated, WORKER_ENV turns
    jemalloc's decay off.  Nothing samples while the job runs: reading the
    JVM's smaps every 50 ms takes its memory-map lock and slowed the jobs
    down by about a tenth.  psutil is not available, so this reads /proc.

    ``peaks`` holds each job's MB and ``splits`` its (JVM MB, workers' MB,
    workers)."""

    def __init__(self, root_pid: int):
        self.root_pid = root_pid
        self.peaks: list[float] = []
        self.splits: list[tuple[float, float, int]] = []

    @contextmanager
    def window(self):
        try:
            with open(f"/proc/{self.root_pid}/clear_refs", "w") as f:
                f.write("5")  # reset VmHWM to the current RSS
        except OSError:
            pass  # the peak then covers the process's whole life
        yield
        jvm = _status_kb(self.root_pid, "VmHWM") / 1024.0
        kids = _descendants(self.root_pid)
        workers = sum(_pss_kb(pid) for pid in kids) / 1024.0
        self.peaks.append(jvm + workers)
        self.splits.append((jvm, workers, len(kids)))
