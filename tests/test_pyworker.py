"""The local Python-worker daemon (``pyworker_daemon``) and the session conf
that selects it.

The daemon keeps a zip importer's directory cache across tasks while the
archive is unchanged, and still imports zips a task adds with ``addPyFile``.
"""

from __future__ import annotations

import os
import zipfile

import pytest

from streaming_data_pipeline_with_iceberg_and_spark_spark import session

DAEMON = "streaming_data_pipeline_with_iceberg_and_spark_spark.pyworker_daemon"
PATH_KEY = "spark.executorEnv.PYTHONPATH"
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# -- conf builder ----------------------------------------------------------
@pytest.mark.parametrize("master", ["local", "local[2]", "local[*]", "local[4,2]"])
def test_local_master_gets_daemon_and_package_root(master):
    conf = session.local_worker_conf(master, {"spark.x": "1"})
    assert conf["spark.python.daemon.module"] == DAEMON
    assert conf[PATH_KEY] == ROOT
    assert conf["spark.x"] == "1"


def test_existing_worker_pythonpath_and_daemon_are_kept():
    conf = session.local_worker_conf("local[2]", {PATH_KEY: "/opt/libs"})
    assert conf[PATH_KEY] == os.pathsep.join(["/opt/libs", ROOT])
    conf = session.local_worker_conf("local[2]", {"spark.python.daemon.module": "my.daemon"})
    assert conf["spark.python.daemon.module"] == "my.daemon"


@pytest.mark.parametrize(
    "master",
    ["yarn", "spark://host:7077", "k8s://https://h:443", "local-cluster[2,1,1024]"],
)
def test_non_local_master_is_untouched(master):
    given = {PATH_KEY: "/opt/libs", "spark.x": "1"}
    assert session.local_worker_conf(master, given) == given


def test_session_runs_the_daemon(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == DAEMON
    assert ROOT in conf.get(PATH_KEY).split(os.pathsep)


# -- daemon behaviour ------------------------------------------------------
def test_zip_directory_cache_survives_tasks_in_a_reused_worker(spark):
    """The stock daemon re-reads the archive per task, which drops the
    sentinel; the local daemon keeps it while pyspark.zip is unchanged."""
    # defined here so cloudpickle ships it by value: workers cannot import
    # the test module
    def probe(batches):
        # this worker's pid, and whether an earlier task's sentinel is still
        # in the pyspark.zip importer's directory cache; then plant it
        import sys
        import zipimport

        import pyarrow as pa

        for _ in batches:
            pass
        imp = next(
            v
            for k, v in sys.path_importer_cache.items()
            if k.endswith("pyspark.zip") and isinstance(v, zipimport.zipimporter)
        )
        present = "graft-sentinel" in imp._files
        imp._files["graft-sentinel"] = None
        yield pa.RecordBatch.from_pylist([{"pid": os.getpid(), "present": present}])

    df = spark.range(1, numPartitions=1)
    seen: dict[int, list[bool]] = {}
    for _ in range(6):
        (row,) = df.mapInArrow(probe, "pid long, present boolean").collect()
        seen.setdefault(row.pid, []).append(row.present)
    reused = {pid: marks for pid, marks in seen.items() if len(marks) > 1}
    assert reused, f"no worker was reused across 6 tasks: {seen}"
    for pid, marks in reused.items():
        assert all(marks[1:]), f"worker {pid} re-read pyspark.zip: {marks}"


def test_zip_added_after_first_task_is_importable(spark, tmp_path):
    sc = spark.sparkContext
    df = spark.range(1, numPartitions=1)
    assert df.mapInArrow(lambda it: it, df.schema).count() == 1
    mod = "graft_late_zip_probe"
    archive = tmp_path / "late.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr(f"{mod}.py", "VALUE = 42\n")
    sc.addPyFile(str(archive))

    def use_late_module(batches):
        import importlib

        import pyarrow as pa

        for _ in batches:
            pass
        value = importlib.import_module(mod).VALUE
        yield pa.RecordBatch.from_pylist([{"v": value}])

    assert df.mapInArrow(use_late_module, "v long").collect()[0].v == 42


# -- the stat-keyed invalidation, in process -------------------------------
def test_invalidate_rereads_only_a_changed_or_missing_archive(tmp_path):
    import zipimport

    from streaming_data_pipeline_with_iceberg_and_spark_spark.pyworker_daemon import (
        invalidate_caches,
    )

    archive = tmp_path / "lib.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("a.py", "A = 1\n")
    imp = zipimport.zipimporter(str(archive))
    invalidate_caches(imp)  # first call: no stamp yet, reads
    imp._files["sentinel"] = None
    invalidate_caches(imp)
    assert "sentinel" in imp._files  # unchanged archive: kept

    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("a.py", "A = 1\n")
        z.writestr("b.py", "B = 2\n")
    invalidate_caches(imp)
    assert "sentinel" not in imp._files and "b.py" in imp._files  # changed: re-read

    imp._files["sentinel"] = None
    archive.unlink()
    invalidate_caches(imp)
    assert imp._files == {}  # cannot stat: the stock re-read, which drops it
