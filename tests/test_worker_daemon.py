"""The engine's Python worker daemon: workers of an engine session run
without the spark-core jar on their import path."""

from __future__ import annotations

import pandas as pd


def test_python_tasks_run_without_the_jar_on_sys_path(spark):
    """A ``mapInPandas`` task reports no ``.jar`` entry on ``sys.path``
    and no jar key in ``sys.path_importer_cache``."""

    def report(batches):
        import sys

        for _ in batches:
            pass
        found = [p for p in sys.path if ".jar" in p]
        found += [k for k in sys.path_importer_cache if ".jar" in k]
        yield pd.DataFrame({"jar": found or [""]})

    assert spark.sparkContext.getConf().get("spark.python.daemon.module") == (
        "scala_reactivex_spark.worker_daemon"
    )
    rows = spark.range(4).repartition(2).mapInPandas(report, "jar string")
    assert {r.jar for r in rows.collect()} == {""}


def test_daemon_only_where_workers_import_the_engine(tmp_path, monkeypatch):
    """The daemon module is selected only when a worker, started in the
    driver's working directory with its ``PYTHONPATH``, finds the engine."""
    import os

    from scala_reactivex_spark import session

    root = os.path.dirname(os.path.dirname(os.path.abspath(session.__file__)))
    monkeypatch.delenv("PYTHONPATH", raising=False)
    monkeypatch.chdir(tmp_path)
    assert not session._workers_import_engine()
    monkeypatch.setenv("PYTHONPATH", os.pathsep.join([str(tmp_path), root]))
    assert session._workers_import_engine()
    monkeypatch.delenv("PYTHONPATH")
    monkeypatch.chdir(root)
    assert session._workers_import_engine()


def test_drop_jars_keeps_every_other_entry(monkeypatch):
    """Only jar entries and paths inside a jar leave ``sys.path`` and
    ``sys.path_importer_cache``."""
    import sys

    from scala_reactivex_spark import worker_daemon

    jar = "/spark/jars/spark-core.jar"
    kept = ["/spark/python/lib/pyspark.zip", "/work/engine"]
    monkeypatch.setattr(sys, "path", [kept[0], jar, kept[1]])
    monkeypatch.setattr(
        sys,
        "path_importer_cache",
        {jar: None, f"{jar}/org": None, kept[0]: None},
    )
    worker_daemon.drop_jars()
    assert sys.path == kept
    assert list(sys.path_importer_cache) == [kept[0]]
