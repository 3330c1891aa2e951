"""The driver JVM's class-data-sharing archive (deidcm_spark/_cds.py).

Launch behaviour runs in fresh interpreters against a temporary
``XDG_CACHE_HOME``: the first one records its class list and builds the
archive at exit, the second maps it.  The "off" rules are checked on
``_cds.plan()`` in this process, which launches nothing."""

import json
import os
import shutil
import subprocess
import sys

import pytest

from deidcm_spark import _cds

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SCRIPT = r"""
import json, logging, sys
logging.basicConfig(level=logging.INFO, stream=sys.stderr, format="%(name)s: %(message)s")
from deidcm_spark.session import get_spark
spark = get_spark(app_name="cds_test", master="local[2]", shuffle_partitions=2)
bean = spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
total = spark.range(100).selectExpr("sum(id)").collect()[0][0]
print(json.dumps({"sum": total, "jvm_args": list(bean.getInputArguments())}))
"""


def _interpreter(cache) -> tuple[dict, str]:
    """Run the script in a fresh interpreter; its parsed last stdout line
    and its stderr.  No JVM or dump may outlive it."""
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_CONF_DIR", "PYSPARK_GATEWAY_PORT", "PYSPARK_GATEWAY_SECRET")}
    env.update(PYTHONPATH=ROOT, XDG_CACHE_HOME=str(cache))
    proc = subprocess.run([sys.executable, "-c", _SCRIPT], capture_output=True,
                          text=True, timeout=900, env=env)
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert _processes_naming(str(cache)) == []
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["sum"] == 4950
    return result, proc.stderr


def _processes_naming(text: str) -> list[str]:
    found = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read().replace(b"\0", b" ").decode(errors="replace")
        except OSError:
            continue
        if text in cmd:
            found.append(f"{pid}: {cmd[:200]}")
    return found


def _flags(args: list[str]) -> list[str]:
    return [a for a in args if a.startswith(("-XX:SharedArchiveFile", "-XX:DumpLoadedClassList"))]


def _key_base(cache) -> str:
    from pyspark.find_spark_home import _find_spark_home

    return os.path.join(cache, "deidcm_spark", "cds",
                        _cds._key(_cds._java_home(), _find_spark_home()))


def test_first_interpreter_builds_the_archive_second_maps_it(tmp_path):
    cache = tmp_path / "cache"
    try:
        _build_then_map(cache)
    finally:
        shutil.rmtree(cache, ignore_errors=True)  # the archive is ~160 MB


def _build_then_map(cache) -> None:
    base = _key_base(cache)
    first, err = _interpreter(cache)
    [flag] = _flags(first["jvm_args"])
    assert flag.startswith(f"-XX:DumpLoadedClassList={base}.") and flag.endswith(".classlist")
    assert "class-data-sharing: recording" in err
    cds = os.path.dirname(base)
    leftovers = sorted(f for f in os.listdir(cds) if f != "conf")
    key = os.path.basename(base)
    assert leftovers == [f"{key}.dump.log", f"{key}.jsa"], leftovers
    assert os.listdir(os.path.join(cds, "conf")) == []

    second, err = _interpreter(cache)
    assert _flags(second["jvm_args"]) == [f"-XX:SharedArchiveFile={base}.jsa"]
    assert "class-data-sharing: mapped" in err
    with open(base + ".log") as f:
        log = f.read()
    assert "Mapped static" in log and "Unable to map" not in log, log[-2000:]


@pytest.mark.parametrize("content", ["random", "magic"])
def test_garbage_archive_starts_normally(tmp_path, content):
    """Random bytes are not handed to the JVM (off); a file that starts
    like an archive is, and the JVM ignores it silently."""
    cache = tmp_path / "cache"
    base = _key_base(cache)
    os.makedirs(os.path.dirname(base))
    with open(base + ".jsa", "wb") as f:
        if content == "magic":
            f.write(_cds._MAGIC + bytes(2 << 20))
        else:
            f.write(os.urandom(4096))
    result, err = _interpreter(cache)
    if content == "magic":
        assert _flags(result["jvm_args"]) == [f"-XX:SharedArchiveFile={base}.jsa"]
        with open(base + ".log") as f:
            assert "Unable to map" in f.read()
    else:
        assert _flags(result["jvm_args"]) == []
        assert "is not a class-data-sharing archive" in err
    assert not os.path.exists(base + ".lock")


@pytest.fixture
def fresh(tmp_path, monkeypatch):
    """plan() as a process that has not launched a JVM would see it, over a
    fake SPARK_HOME whose conf/ holds only templates."""
    from pyspark import SparkContext

    home = tmp_path / "spark_home"
    (home / "jars").mkdir(parents=True)
    (home / "conf").mkdir()
    (home / "jars" / "a.jar").write_bytes(b"a")
    (home / "conf" / "spark-defaults.conf.template").write_text("")
    monkeypatch.setattr(SparkContext, "_gateway", None)
    monkeypatch.setattr("pyspark.find_spark_home._find_spark_home", lambda: str(home))
    for k in ("SPARK_CONF_DIR", "PYSPARK_GATEWAY_PORT"):
        monkeypatch.delenv(k, raising=False)
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    return home


def test_plan_records_when_no_archive_exists(fresh, tmp_path, monkeypatch):
    p = _cds.plan()
    assert p.mode == "recording"
    assert p.conf_dir == str(tmp_path / "cache" / "deidcm_spark" / "cds" / "conf")
    assert p.options == f"-XX:DumpLoadedClassList={p.class_list}"
    # its own empty conf dir, left in the environment, is not the caller's
    monkeypatch.setenv("SPARK_CONF_DIR", p.conf_dir)
    assert _cds.plan().mode == "recording"


def test_plan_key_follows_the_jars(fresh):
    before = _cds.plan().base
    os.utime(fresh / "jars" / "a.jar", ns=(0, 0))
    assert _cds.plan().base != before


@pytest.mark.parametrize("case", ["conf_dir", "conf_file", "jvm", "building", "failed"])
def test_plan_adds_no_flag(fresh, monkeypatch, case):
    if case == "conf_dir":
        monkeypatch.setenv("SPARK_CONF_DIR", str(fresh / "conf"))
    elif case == "conf_file":
        (fresh / "conf" / "spark-defaults.conf").write_text("spark.x 1\n")
    elif case == "jvm":
        monkeypatch.setenv("PYSPARK_GATEWAY_PORT", "1")
    else:
        base = _cds.plan().base
        open(base + (".lock" if case == "building" else ".failed"), "w").close()
    p = _cds.plan()
    assert (p.mode, p.options, p.conf_dir) == ("off", "", ""), p
