"""``bench_extra.py`` checks its command line before it starts Spark:
``--help`` prints the usage and an unknown query name is refused."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

SCRIPT = Path(__file__).resolve().parents[1] / "bench_extra.py"


def _run(*args: str) -> subprocess.CompletedProcess:
    # a JAVA_HOME with no java in it: a JVM start would fail loudly
    env = {**os.environ, "JAVA_HOME": str(SCRIPT.parent / "no-such-jdk")}
    return subprocess.run([sys.executable, str(SCRIPT), *args], capture_output=True,
                          text=True, timeout=60, env=env)


def test_help_exits_before_spark():
    r = _run("--help")
    assert r.returncode == 0 and "--queries" in r.stdout, r.stderr


def test_unknown_query_is_refused_before_spark():
    r = _run("--queries", "nope")
    assert r.returncode == 2 and "unknown queries: nope" in r.stderr, r.stderr
