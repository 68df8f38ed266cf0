"""The Python worker daemon's zip-directory guard (worker_daemon.py) and the
host-sized driver heap, core count and session defaults (session.py)."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

from ai_knowledge_graph_builder_spark import worker_daemon
from ai_knowledge_graph_builder_spark.session import (
    PACKAGE_ROOT,
    PYTHON_DAEMON_MODULE,
    default_cpus,
    default_driver_memory,
    default_shuffle_partitions,
    python_worker_conf,
)


@pytest.fixture()
def guard(monkeypatch):
    """The guard installed in this process with a fresh read record; yields
    the list of archives the stock ``invalidate_caches`` was called for."""
    calls: list[str] = []
    stock = worker_daemon._stock_invalidate

    def counting(self):
        calls.append(self.archive)
        stock(self)

    monkeypatch.setattr(worker_daemon, "_stock_invalidate", counting)
    monkeypatch.setattr(worker_daemon, "_read_at", {})
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", worker_daemon._guarded_invalidate)
    return calls


@pytest.fixture()
def zip_on_path(tmp_path, monkeypatch):
    """Write ``{module: source}`` into a zip on sys.path; returns the writer
    so a test can rewrite the archive in place."""
    archive = tmp_path / "mods.zip"

    def write(mods: dict[str, str]) -> str:
        with zipfile.ZipFile(archive, "w") as z:
            for name, src in mods.items():
                z.writestr(f"{name}.py", src)
        return str(archive)

    monkeypatch.syspath_prepend(str(archive))
    yield write
    for name in [m for m in sys.modules if m.startswith("zg_mod")]:
        del sys.modules[name]
    sys.path_importer_cache.pop(str(archive), None)


def test_unchanged_archive_is_not_reread(guard, zip_on_path):
    archive = zip_on_path({"zg_mod_a": "X = 1\n"})
    importlib.invalidate_caches()
    assert importlib.import_module("zg_mod_a").X == 1
    assert isinstance(sys.path_importer_cache[archive], zipimport.zipimporter)

    importlib.invalidate_caches()  # first guarded call: reads and records
    reads = guard.count(archive)
    assert reads == 1
    for _ in range(5):
        importlib.invalidate_caches()
    assert guard.count(archive) == reads


def test_rewritten_archive_is_reread(guard, zip_on_path):
    archive = zip_on_path({"zg_mod_b": "X = 1\n"})
    importlib.invalidate_caches()
    assert importlib.import_module("zg_mod_b").X == 1
    importlib.invalidate_caches()
    reads = guard.count(archive)

    # same path and inode, different content and size
    zip_on_path({"zg_mod_b": "X = 2\n", "zg_mod_c": "Y = 'new'\n"})
    importlib.invalidate_caches()
    assert guard.count(archive) == reads + 1
    assert importlib.import_module("zg_mod_c").Y == "new"


def test_python_workers_run_with_the_guard(spark):
    import pandas as pd

    assert spark.sparkContext.getConf().get("spark.python.daemon.module") == PYTHON_DAEMON_MODULE

    def probe(it):
        from ai_knowledge_graph_builder_spark.worker_daemon import zip_guard_installed

        for pdf in it:
            yield pd.DataFrame({"guard": [zip_guard_installed()] * len(pdf)})

    rows = spark.range(0, 8, 1, 4).mapInPandas(probe, "guard boolean").collect()
    assert len(rows) == 8 and all(r.guard for r in rows)


@pytest.mark.parametrize("master", ["local", "local[3]", "local[*]", "local[4,2]"])
def test_local_masters_use_the_guarded_daemon(master):
    assert python_worker_conf(master) == {
        "spark.python.daemon.module": PYTHON_DAEMON_MODULE,
        "spark.executorEnv.PYTHONPATH": PACKAGE_ROOT,
    }


@pytest.mark.parametrize("master", ["spark://host:7077", "yarn", "k8s://https://host:443",
                                    "local-cluster[2,1,1024]"])
def test_cluster_masters_keep_the_stock_daemon(master):
    # their executors may get the package only from --py-files, which a
    # worker puts on sys.path after the daemon has forked it
    assert python_worker_conf(master) == {}


def test_workers_import_the_daemon_outside_the_repo(tmp_path):
    """A local session started from another directory, with no PYTHONPATH,
    still starts its workers through the daemon."""
    script = tmp_path / "probe.py"
    script.write_text(textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {PACKAGE_ROOT!r})
        import pandas as pd
        from ai_knowledge_graph_builder_spark.session import get_spark

        def probe(it):
            from ai_knowledge_graph_builder_spark.worker_daemon import zip_guard_installed
            for pdf in it:
                yield pd.DataFrame({{"guard": [zip_guard_installed()] * len(pdf)}})

        spark = get_spark("daemon-cwd-probe", master="local[1]")
        rows = spark.range(0, 4, 1, 2).mapInPandas(probe, "guard boolean").collect()
        print("GUARD", all(r.guard for r in rows), len(rows))
        spark.stop()
    """))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "512m"
    out = subprocess.run([sys.executable, str(script)], cwd=tmp_path, env=env,
                         capture_output=True, text=True, timeout=300)
    assert "GUARD True 4" in out.stdout, out.stderr[-2000:]


def test_default_driver_memory_is_sized_to_the_host():
    mem = default_driver_memory()
    assert mem.endswith(("m", "g"))
    mb = int(mem[:-1]) * (1024 if mem.endswith("g") else 1)
    assert 0 < mb <= 16 * 1024


def test_default_cpus_is_the_affinity_count(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert default_cpus() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_cpus() == 3


@pytest.mark.parametrize("master, want", [
    ("local", 1), ("local[3]", 3), ("local[*]", 5), ("local[4,2]", 4), ("local[*,2]", 5),
    ("spark://host:7077", 32), ("yarn", 32), ("local-cluster[2,1,1024]", 32),
])
def test_shuffle_partitions_follow_the_local_thread_count(monkeypatch, master, want):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "5")  # what local[*] runs on
    assert default_shuffle_partitions(master) == want


def test_call_site_capture_is_off_unless_asked_for(spark, tmp_path):
    """Sessions skip pyspark's per-call Python call-site capture; extra_conf
    turns it back on. The setting is static, so the override starts a
    session of its own."""
    key = "spark.python.sql.dataFrameDebugging.enabled"
    assert spark.conf.get(key) == "false"
    script = tmp_path / "probe.py"
    script.write_text(textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {PACKAGE_ROOT!r})
        from ai_knowledge_graph_builder_spark.session import get_spark

        spark = get_spark("call-site-probe", master="local[1]", extra_conf={{{key!r}: "true"}})
        print("DEBUGGING", spark.conf.get({key!r}))
        spark.stop()
    """))
    env = {**os.environ, "SPARK_GRAFT_DRIVER_MEM": "512m"}
    out = subprocess.run([sys.executable, str(script)], cwd=tmp_path, env=env,
                         capture_output=True, text=True, timeout=300)
    assert "DEBUGGING true" in out.stdout, out.stderr[-2000:]
