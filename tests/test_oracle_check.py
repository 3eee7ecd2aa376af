"""``tools/oracle_check.py``'s command line: ``--help`` and a missing
data directory both exit before a Spark session starts (the gate prints
``spark.sql.ansi.enabled=`` as soon as its session is up)."""

import subprocess
import sys
from pathlib import Path

SCRIPT = Path(__file__).resolve().parent.parent / "tools" / "oracle_check.py"


def _run(*args):
    return subprocess.run(
        [sys.executable, str(SCRIPT), *args],
        capture_output=True, text=True, timeout=120,
    )


def test_help_exits_zero_without_spark():
    out = _run("--help")
    assert out.returncode == 0, out.stderr
    assert "--only" in out.stdout and "sf_dir" in out.stdout
    assert "spark.sql.ansi.enabled" not in out.stdout


def test_missing_data_dir_exits_nonzero_without_spark(tmp_path):
    missing = str(tmp_path / "no_such_sf")
    for args in ((missing,), (missing, "--only", "tpch_q1")):
        out = _run(*args)
        assert out.returncode != 0
        assert "no data directory" in out.stderr, out.stderr
        assert "spark.sql.ansi.enabled" not in out.stdout
