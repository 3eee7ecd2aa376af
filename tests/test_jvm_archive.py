"""The driver JVM's class-data-sharing archive (``session.get_spark``):
the first session lists its classes and the dump at its exit is
promoted whole, later sessions map it, and a process that gets no
archive launches as it would without one. Each JVM runs in a child
process with its own ``XDG_CACHE_HOME``."""

import json
import os
import signal
import subprocess
import sys
import time
from pathlib import Path

from pyspark.find_spark_home import _find_spark_home

from udacity_data_engineering_capstone_project_spark import session

ROOT = Path(__file__).resolve().parent.parent

#: A child that starts one session, runs one job and prints, as its
#: last stdout line, what the JVM reports about itself.
SESSION = """
import json, os, sys
from udacity_data_engineering_capstone_project_spark import session
spark = session.get_spark("cds", cpus=2, shuffle_partitions=2, driver_memory=sys.argv[1],
                          extra_conf=json.loads(sys.argv[2]))
spark.range(3).count()
jvm = spark.sparkContext._jvm
print(json.dumps({
    "args": list(jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments()),
    "probe": spark.conf.get("spark.graft.probe", None),
    "conf_dir": os.environ.get("SPARK_CONF_DIR"),
    "archive": session.DRIVER_ARCHIVE,
}), flush=True)
"""


def _env(cache, **extra):
    env = dict(os.environ, XDG_CACHE_HOME=str(cache), PYTHONPATH=str(ROOT), **extra)
    env.pop("PYSPARK_GATEWAY_PORT", None)
    return env


def _start(cache, memory="4g", conf=None, **env):
    return subprocess.Popen(
        [sys.executable, "-c", SESSION, memory, json.dumps(conf or {})],
        env=_env(cache, **env),
        stdout=subprocess.PIPE,
        stderr=subprocess.PIPE,
        text=True,
    )


def _report(child):
    out, err = child.communicate(timeout=240)
    assert child.returncode == 0, err[-2000:]
    return json.loads(out.strip().splitlines()[-1])


def _session(cache, memory="4g", conf=None, **env):
    return _report(_start(cache, memory, conf, **env))


def _archives(cache):
    return sorted(p.name for p in (cache / "spark-graft" / "jvm").glob("*.*"))


def _shared_spark_classes(log):
    """Spark classes the JVM reports it took from a shared archive: the
    JDK's own archive holds none."""
    return sum(
        "org.apache.spark." in ln and "source: shared objects file" in ln for ln in open(log)
    )


def _kill_dump(cache):
    """SIGKILL the ``java -Xshare:dump`` writing into ``cache`` as soon
    as it runs."""
    deadline = time.monotonic() + 120
    while time.monotonic() < deadline:
        for pid in filter(str.isdigit, os.listdir("/proc")):
            try:
                cmd = Path(f"/proc/{pid}/cmdline").read_bytes().split(b"\0")
            except OSError:
                continue
            if b"-Xshare:dump" in cmd and any(str(cache).encode() in c for c in cmd):
                os.kill(int(pid), signal.SIGKILL)
                return
        time.sleep(0.01)
    raise AssertionError("no dump started")


def test_first_session_records_and_the_second_maps_per_oops_mode(tmp_path):
    home = _find_spark_home()
    key = session._archive_key
    assert key(home, {}, "4g") == key(home, {}, "2g") == key(home, {}, "31g")
    assert key(home, {}, "4g") != key(home, {}, "48g") == key(home, {}, "32g")

    small, large = tmp_path / "small", tmp_path / "large"
    jvm = small / "spark-graft" / "jvm"
    jvm.mkdir(parents=True)
    (jvm / "0000000000000000.jsa").write_text("")  # unused for 60 days
    (jvm / "1111111111111111.jsa").write_text("")  # another key, in use
    old = time.time() - 60 * 24 * 3600
    os.utime(jvm / "0000000000000000.jsa", (old, old))

    # both compressed-oops modes record at once: each exit runs its dump
    firsts = [_report(c) for c in (_start(small, "4g"), _start(large, "48g"))]
    for first in firsts:
        assert any(a.startswith("-XX:DumpLoadedClassList=") for a in first["args"])
        assert first["archive"] == "recorded"
        assert first["conf_dir"] is None  # the launch alone saw the empty conf dir
    (jsa,) = _archives(large)  # promoted; no .part or .classlist left
    assert jsa.endswith(".jsa")
    assert _archives(small) == ["1111111111111111.jsa", f"{key(home, {}, '4g')}.jsa"]

    for cache, memory in ((small, "4g"), (large, "48g")):
        opts = f"-Xlog:cds=info:file={cache}.cds -Xlog:class+load=info:file={cache}.cl"
        got = _session(cache, memory, conf={"spark.driver.extraJavaOptions": opts})
        final = f"{cache}/spark-graft/jvm/{key(home, {}, memory)}.jsa"
        assert f"-XX:SharedArchiveFile={final}" in got["args"]
        assert got["archive"] == "mapped"
        assert "CDS will be disabled" not in Path(f"{cache}.cds").read_text()
        assert _shared_spark_classes(f"{cache}.cl") > 1000


def test_a_dump_killed_midway_is_never_mapped(tmp_path):
    cache = tmp_path / "cache"
    child = _start(cache)
    _kill_dump(cache)
    assert _report(child)["archive"] == "recorded"
    assert _archives(cache) == []  # nothing under the final name, nothing left over

    # what a process killed during its dump leaves behind: its .part and
    # class list. The next session starts (recording afresh) and deletes them.
    gone = subprocess.Popen(["true"])
    gone.wait()
    jvm = cache / "spark-graft" / "jvm"
    for suffix in ("part", "classlist"):
        (jvm / f"feedfacefeedface.{gone.pid}.{suffix}").write_bytes(b"\0" * 4096)
    child = _start(cache)
    _kill_dump(cache)
    after = _report(child)
    assert any(a.startswith("-XX:DumpLoadedClassList=") for a in after["args"])
    assert _archives(cache) == []


def test_a_real_spark_conf_dir_gets_no_archive(tmp_path):
    cache, conf_dir = tmp_path / "cache", tmp_path / "conf"
    conf_dir.mkdir()
    (conf_dir / "spark-defaults.conf").write_text("spark.graft.probe 42\n")
    got = _session(cache, SPARK_CONF_DIR=str(conf_dir))
    assert got["probe"] == "42"
    assert not any(a.startswith(session._CDS_OPTIONS + ("-Xlog:cds",)) for a in got["args"])
    assert got["conf_dir"] == str(conf_dir)
    assert not cache.exists()


NO_ARCHIVE = """
import json, os
from udacity_data_engineering_capstone_project_spark.session import _class_data_sharing
seen = []
for conf in (
    {"spark.driver.extraJavaOptions": "-Xmx1g -XX:SharedArchiveFile=/x.jsa"},
    {"spark.driver.defaultJavaOptions": "-Xshare:off"},
    {},
):
    with _class_data_sharing(conf, "4g") as opts:
        seen.append([opts, os.environ.get("SPARK_CONF_DIR")])
print(json.dumps(seen))
"""


def test_no_archive_means_the_launch_of_today(tmp_path, spark):
    # a caller's own CDS option, and (last) an unusable cache
    blocker = tmp_path / "file"
    blocker.write_text("")
    out = subprocess.run(
        [sys.executable, "-c", NO_ARCHIVE],
        env=_env(blocker),
        capture_output=True,
        text=True,
        timeout=60,
        check=True,
    )
    assert json.loads(out.stdout) == [[None, None]] * 3
    # an existing gateway: no JVM is launched
    with session._class_data_sharing({}, "4g") as opts:
        assert opts is None
