"""build_session defaults: shuffle width = task slots, and the worker
daemon that skips the per-task zip re-read (local masters only)."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap
from types import SimpleNamespace

import pytest

from arlas_proc_spark import config

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DAEMON = "spark.python.daemon.module"


class _Builder:
    """Records what build_session configures; starts no JVM."""

    def __init__(self):
        self.conf = {}

    def master(self, m):
        self.conf["spark.master"] = m
        return self

    def appName(self, name):
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return SimpleNamespace(
            sparkContext=SimpleNamespace(setLogLevel=lambda level: None))


def _conf(monkeypatch, **kwargs) -> dict:
    b = _Builder()
    monkeypatch.setattr(config, "SparkSession", SimpleNamespace(builder=b))
    config.build_session(**kwargs)
    return b.conf


def test_default_shuffle_width_is_task_slots(monkeypatch):
    width = "spark.sql.shuffle.partitions"
    assert _conf(monkeypatch, master="local[2]")[width] == "2"
    assert _conf(monkeypatch, master="local[8]")[width] == "8"
    assert _conf(monkeypatch, master="local")[width] == "1"
    assert _conf(monkeypatch, master="local[3,2]")[width] == "3"
    assert _conf(monkeypatch, master="local[8]",
                 shuffle_partitions=3)[width] == "3"
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "5")
    assert _conf(monkeypatch, master="local[*]")[width] == "5"


def test_worker_daemon_only_for_local_masters(monkeypatch):
    conf = _conf(monkeypatch, master="local[2]")
    assert conf[DAEMON] == "arlas_proc_spark.worker_daemon"
    assert conf["spark.executorEnv.PYTHONPATH"] == ROOT
    for master in ("spark://host:7077", "yarn", "local-cluster[2,1,1024]"):
        conf = _conf(monkeypatch, master=master)
        assert DAEMON not in conf, master
        assert "spark.executorEnv.PYTHONPATH" not in conf, master


def test_invalidate_caches_keeps_zip_importers_only(tmp_path, monkeypatch):
    import zipfile
    import zipimport

    from arlas_proc_spark import worker_daemon
    archive = str(tmp_path / "lib.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("lib_mod.py", "X = 1\n")
    zi = zipimport.zipimporter(archive)
    calls = []
    # the stock function drops every entry it was given: what survives
    # the wrapper is exactly what it shielded
    monkeypatch.setattr(worker_daemon, "_invalidate_caches",
                        lambda: (calls.append(dict(sys.path_importer_cache)),
                                 sys.path_importer_cache.clear()))
    cache = {archive: zi, "rel.zip": zipimport.zipimporter(archive),
             str(tmp_path): None}
    monkeypatch.setattr(sys, "path_importer_cache", cache)
    worker_daemon.invalidate_caches()
    assert archive not in calls[0] and "rel.zip" in calls[0]
    assert cache == {archive: zi}


_PROBE = textwrap.dedent("""
    import importlib, json, os, sys, zipfile
    sys.path.insert(0, {root!r})
    from pyspark.sql import functions as F
    from arlas_proc_spark.config import build_session
    from arlas_proc_spark.functions.content import sha256_content

    spark = build_session(master="local[2]",
                          extra_conf={{"spark.ui.showConsoleProgress":
                                       "false"}})
    sc = spark.sparkContext
    df = spark.createDataFrame([(f"row {{i}}",) for i in range(40)], "c string")
    out = {{"width": spark.conf.get("spark.sql.shuffle.partitions"),
           "daemon": sc.getConf().get("spark.python.daemon.module")}}
    got = df.repartition(4).select(sha256_content("c").alias("u"),
                                   F.sha2("c", 256).alias("j")).collect()
    out["sha_rows"] = len(got)
    out["sha_equal"] = all(r.u == r.j for r in got)

    def wrapper(_):
        import importlib
        yield importlib.invalidate_caches.__module__
    out["worker_invalidate"] = sorted(set(
        sc.parallelize(range(4), 4).mapPartitions(wrapper).collect()))

    # a zip added after the workers above ran tasks (and invalidated
    # their caches) must still import in a later task
    zpath = os.path.join(os.getcwd(), "late_lib.zip")
    with zipfile.ZipFile(zpath, "w") as z:
        z.writestr("late_mod.py", "VALUE = 42\\n")
    sc.addPyFile(zpath)

    def late(_):
        import late_mod
        yield late_mod.VALUE
    out["late"] = sc.parallelize(range(4), 4).mapPartitions(late).collect()
    spark.stop()
    print("PROBE " + json.dumps(out))
""")


@pytest.fixture(scope="module")
def worker_probe(tmp_path_factory):
    """One local[2] session in a subprocess whose cwd is NOT the repo
    root and whose package import comes from ``sys.path.insert``, as in
    the jobs/ scripts."""
    cwd = tmp_path_factory.mktemp("probe")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_DRIVER_MEMORY="1g", PYSPARK_PYTHON=sys.executable)
    p = subprocess.run(
        [sys.executable, "-c", _PROBE.format(root=ROOT)], cwd=cwd, env=env,
        capture_output=True, text=True, timeout=600)
    lines = [ln for ln in p.stdout.splitlines() if ln.startswith("PROBE ")]
    assert p.returncode == 0 and lines, p.stderr[-3000:]
    return json.loads(lines[-1][len("PROBE "):])


def test_pandas_udf_runs_outside_repo_root(worker_probe):
    assert worker_probe["width"] == "2"
    assert worker_probe["daemon"] == "arlas_proc_spark.worker_daemon"
    # the tasks really ran under the wrapping daemon
    assert worker_probe["worker_invalidate"] == ["__main__"]
    assert worker_probe["sha_rows"] == 40 and worker_probe["sha_equal"]


def test_zip_added_after_tasks_ran_still_imports(worker_probe):
    assert worker_probe["late"] == [42, 42, 42, 42]
