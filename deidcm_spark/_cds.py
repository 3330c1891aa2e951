"""A per-machine class-data-sharing archive for the driver JVM.

Starting a session loads and verifies thousands of JVM classes from the
Spark jars: about half of its ~8-9 s start on a 4-core host.  A static
AppCDS archive (JEP 310) holds those classes already parsed and verified,
and the JVM maps it instead.  :func:`plan` decides, before
``session.get_spark`` launches the driver JVM, which of three paths the
session takes:

* **mapped** - ``<cache>/<key>.jsa`` exists: the JVM gets
  ``-XX:SharedArchiveFile``.  An archive that does not match the JVM
  (another classpath, other heap-compression flags) is ignored silently by
  the JVM, which then starts as it would without it.
* **recording** - no archive yet: the JVM gets ``-XX:DumpLoadedClassList``
  and writes the name of every class it loads.  At interpreter exit, after
  that JVM has exited, :func:`_dump_at_exit` builds the archive with
  ``java -Xshare:dump`` (~60 s and ~190 MB after a benchmark process on
  a 4-core host), checks it with ``-Xshare:on -version`` and renames it
  into place.  No session waits for it; the interpreter's exit does.
* **off** - nothing is added, and the reason is logged: the driver JVM
  already runs (``spark-submit``, or an earlier session of this process),
  the caller set ``SPARK_CONF_DIR``, ``$SPARK_HOME/conf`` holds more than
  ``*.template`` files, another process is building the archive, or an
  earlier build failed (its log is ``<cache>/<key>.dump.log``; delete
  ``<key>.failed`` to try again).

JDK 17 refuses to archive a classpath that holds a non-empty directory, and
Spark's launcher puts ``SPARK_CONF_DIR`` (default ``$SPARK_HOME/conf``)
first on it.  Both the mapped and the recording launch therefore point
``SPARK_CONF_DIR`` at one fixed empty directory, ``<cache>/conf``, which is
equivalent as long as ``$SPARK_HOME/conf`` holds only templates.

``<cache>`` is ``${XDG_CACHE_HOME:-~/.cache}/deidcm_spark/cds``.  ``<key>``
hashes the JDK's ``release`` file and the name, size and mtime of every
``$SPARK_HOME/jars`` entry, so a JDK or Spark upgrade records a new archive.
Everything the recording and the dump write stays in ``<cache>``: nothing
goes to stdout or to ``TMPDIR``.
"""

from __future__ import annotations

import atexit
import glob
import hashlib
import logging
import os
import shlex
import shutil
import signal
import subprocess
import time
from dataclasses import dataclass

log = logging.getLogger(__name__)

# the dump and its check together; the dump took ~60 s on a 4-core host
DUMP_TIMEOUT_S = 600
# the header of a static archive starts with this magic (little-endian)
_MAGIC = (0xF00BABA2).to_bytes(4, "little")


@dataclass
class Plan:
    mode: str  # "mapped", "recording" or "off"
    why: str = ""
    base: str = ""  # <cache>/<key>: every file of this key starts with it
    conf_dir: str = ""  # SPARK_CONF_DIR for the launch
    options: str = ""  # appended to spark.driver.extraJavaOptions
    class_list: str = ""  # what a recording JVM writes


def cache_dir() -> str:
    base = os.environ.get("XDG_CACHE_HOME", "")
    if not os.path.isabs(base):
        base = os.path.join(os.path.expanduser("~"), ".cache")
    return os.path.join(base, "deidcm_spark", "cds")


def _java_home() -> str:
    """The JDK that Spark's launcher runs: ``$JAVA_HOME``, else the one
    ``java`` on the PATH belongs to."""
    home = os.environ.get("JAVA_HOME")
    if home:
        return home
    java = shutil.which("java")
    if java is None:
        raise OSError("no java on the PATH")
    return os.path.dirname(os.path.dirname(os.path.realpath(java)))


def _key(java_home: str, spark_home: str) -> str:
    h = hashlib.sha256()
    with open(os.path.join(java_home, "release"), "rb") as f:
        h.update(f.read())
    for e in sorted(os.scandir(os.path.join(spark_home, "jars")), key=lambda e: e.name):
        st = e.stat()
        h.update(f"{e.name}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()[:16]


def _is_archive(path: str) -> bool:
    """A file that starts like a static archive.  The JVM checks the rest;
    with CDS logging on, JDK 17 crashes on a file shorter than the header,
    so anything else is not handed to it."""
    try:
        with open(path, "rb") as f:
            return f.read(4) == _MAGIC and os.fstat(f.fileno()).st_size > 1 << 20
    except OSError:
        return False


def plan() -> Plan:
    """The path the next driver-JVM launch takes (module docstring)."""
    from pyspark import SparkContext
    from pyspark.find_spark_home import _find_spark_home

    if SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ:
        return Plan("off", "the driver JVM already runs")
    cache = cache_dir()
    conf_dir = os.path.join(cache, "conf")
    if os.environ.get("SPARK_CONF_DIR", conf_dir) != conf_dir:
        return Plan("off", "SPARK_CONF_DIR is set")
    spark_home = _find_spark_home()
    shipped = os.path.join(spark_home, "conf")
    if os.path.isdir(shipped) and any(
        not name.endswith(".template") for name in os.listdir(shipped)
    ):
        return Plan("off", f"{shipped} holds configuration")
    if ":" in cache:
        return Plan("off", f"{cache} cannot sit on a classpath")
    try:
        base = os.path.join(cache, _key(_java_home(), spark_home))
        os.makedirs(conf_dir, exist_ok=True)
        if os.listdir(conf_dir):
            return Plan("off", f"{conf_dir} is not empty")
    except OSError as e:
        return Plan("off", f"no usable cache: {e}")
    jsa = base + ".jsa"
    if _is_archive(jsa):
        return Plan("mapped", base=base, conf_dir=conf_dir, options=(
            f"-XX:SharedArchiveFile={shlex.quote(jsa)}"
            # stdout is the caller's: the JVM's CDS messages go to a log
            # (rotated at launch, so it holds this session's and the last)
            f" -Xlog:cds*=off"
            f" -Xlog:cds*=warning,cds=info:file={shlex.quote(base + '.log')}::filecount=1"
        ))
    if os.path.exists(jsa):
        return Plan("off", f"{jsa} is not a class-data-sharing archive")
    if os.path.exists(base + ".failed"):
        return Plan("off", f"an earlier build failed, see {base}.dump.log")
    lock = base + ".lock"
    try:
        if time.time() - os.path.getmtime(lock) < 2 * DUMP_TIMEOUT_S:
            return Plan("off", "another process is building the archive")
        # its builder died: so did its dump, whose child dies with it
        _remove(lock, *glob.glob(glob.escape(base) + ".*.jsa.tmp"))
    except OSError:
        pass
    class_list = f"{base}.{os.getpid()}.classlist"
    return Plan("recording", base=base, conf_dir=conf_dir, class_list=class_list,
                options=f"-XX:DumpLoadedClassList={shlex.quote(class_list)}")


def after_launch(p: Plan, spark) -> None:
    """Log the path taken; a recording session schedules the build."""
    if p.mode != "recording":
        log.info("driver JVM class-data-sharing: %s%s", p.mode,
                 f" ({p.why})" if p.why else f" {p.base}.jsa")
        return
    from pyspark import SparkContext

    jvm = spark._jvm.System
    classpath = jvm.getProperty("java.class.path")
    java = os.path.join(jvm.getProperty("java.home"), "bin", "java")
    full = [d for d in classpath.split(os.pathsep) if os.path.isdir(d) and os.listdir(d)]
    if full:
        _remove(p.class_list)
        log.info("driver JVM class-data-sharing: off (%s is a non-empty directory "
                 "on the classpath)", full[0])
        return
    log.info("driver JVM class-data-sharing: recording %s, built at exit", p.class_list)
    atexit.register(_dump_at_exit, p, java, classpath, SparkContext._gateway.proc, os.getpid())


def _remove(*paths: str) -> None:
    for path in paths:
        try:
            os.remove(path)
        except FileNotFoundError:
            pass


def _run(cmd: list[str], out, deadline: float) -> bool:
    import ctypes

    prctl = ctypes.CDLL(None).prctl  # looked up before the fork
    prctl.argtypes, prctl.restype = [ctypes.c_int, ctypes.c_ulong], ctypes.c_int
    PR_SET_PDEATHSIG = 1
    try:
        return subprocess.run(
            cmd, stdin=subprocess.DEVNULL, stdout=out, stderr=subprocess.STDOUT,
            timeout=max(1.0, deadline - time.monotonic()),
            # the child gets SIGKILL when this interpreter dies: no dump
            # outlives it
            preexec_fn=lambda: prctl(PR_SET_PDEATHSIG, signal.SIGKILL),
        ).returncode == 0
    except subprocess.TimeoutExpired:  # run() has killed and reaped it
        out.write(f"\ntimed out after {DUMP_TIMEOUT_S} s: {cmd[1]}\n")
        return False


def _dump_at_exit(p: Plan, java: str, classpath: str, proc, pid: int) -> None:
    """Build ``<key>.jsa`` from this session's class list, under an
    ``O_EXCL`` lock so that one process builds it."""
    if os.getpid() != pid:  # a forked child inherited the handler
        return
    # the class list is complete once the JVM writing it has exited; the
    # gateway JVM exits when its stdin closes
    if proc is not None and proc.poll() is None:
        try:
            proc.stdin.close()
            proc.wait(timeout=60)
        except (OSError, subprocess.TimeoutExpired):
            _remove(p.class_list)
            return
    jsa, lock = p.base + ".jsa", p.base + ".lock"
    if os.path.exists(jsa) or not os.path.exists(p.class_list):
        _remove(p.class_list)
        return
    try:
        fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    except OSError:  # another process builds it
        _remove(p.class_list)
        return
    tmp = f"{p.base}.{os.getpid()}.jsa.tmp"
    deadline = time.monotonic() + DUMP_TIMEOUT_S
    try:
        with open(p.base + ".dump.log", "w") as out:
            ok = _run([java, "-Xshare:dump", f"-XX:SharedClassListFile={p.class_list}",
                       f"-XX:SharedArchiveFile={tmp}", "-cp", classpath], out, deadline)
            ok = ok and _run([java, "-Xshare:on", f"-XX:SharedArchiveFile={tmp}",
                              "-cp", classpath, "-version"], out, deadline)
        if ok:
            os.rename(tmp, jsa)
            # class lists of recorders that died before their exit
            _remove(*glob.glob(glob.escape(p.base) + ".*.classlist"))
        else:
            open(p.base + ".failed", "w").close()
    finally:
        _remove(tmp, p.class_list)
        os.close(fd)
        _remove(lock)
