"""The Python worker entry point (``pyspark_symtseries_worker``): its cache
rule, checked in this process with no Spark, and its use by the session's
workers, from any working directory."""

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport
from io import BytesIO

import pyarrow as pa
import pytest
from pyspark.core.files import SparkFiles
from pyspark.serializers import write_int, write_with_length

import pyspark_symtseries_worker as W

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _infile(files_dir, includes=()):
    """The set-up frame the JVM sends a worker: the SparkFiles directory,
    then the names of the archives shipped into it."""
    buf = BytesIO()
    write_with_length(str(files_dir).encode(), buf)
    write_int(len(includes), buf)
    for name in includes:
        write_with_length(name.encode(), buf)
    buf.seek(0)
    return buf


@pytest.fixture
def reused_worker(tmp_path, monkeypatch):
    """The import state of a reused worker: its SparkFiles directory is on
    ``sys.path`` and a module was imported from a zip archive, so a
    ``zipimporter`` is cached. Yields the directory and the list of archives
    whose directory was read."""
    archive = tmp_path / "lib.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("symt_zipped_probe.py", "VALUE = 1\n")
    files_dir = tmp_path / "files"
    files_dir.mkdir()
    monkeypatch.setattr(sys, "path", [sys.path[0], str(files_dir), str(archive), *sys.path[1:]])
    monkeypatch.setattr(sys, "path_importer_cache", dict(sys.path_importer_cache))
    monkeypatch.setattr(SparkFiles, "_root_directory", SparkFiles._root_directory)
    monkeypatch.setattr(SparkFiles, "_is_running_on_worker", SparkFiles._is_running_on_worker)
    importlib.import_module("symt_zipped_probe")
    reads = []
    read_directory = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda path: reads.append(path) or read_directory(path)
    )
    yield files_dir, reads
    for name in ("symt_zipped_probe", "symt_late_probe", "symt_included_probe"):
        sys.modules.pop(name, None)


def test_known_archives_are_not_reread(reused_worker):
    files_dir, reads = reused_worker
    W._pyspark_setup_spark_files(_infile(files_dir))
    assert reads, "PySpark's own set-up should re-read the cached archive"
    reads.clear()
    W.setup_spark_files(_infile(files_dir))
    assert reads == []
    assert zipimport.zipimporter.invalidate_caches is W._reread_archive


def test_directory_finders_are_still_invalidated(reused_worker):
    files_dir, _ = reused_worker
    with pytest.raises(ModuleNotFoundError):
        importlib.import_module("symt_late_probe")
    stat = os.stat(files_dir)
    (files_dir / "symt_late_probe.py").write_text("VALUE = 2\n")
    # a directory finder refreshes on an mtime change; hold the mtime so only
    # invalidation can make it look again
    os.utime(files_dir, ns=(stat.st_atime_ns, stat.st_mtime_ns))
    W.setup_spark_files(_infile(files_dir))
    assert importlib.import_module("symt_late_probe").VALUE == 2


def test_new_include_invalidates_in_full(reused_worker):
    files_dir, reads = reused_worker
    with zipfile.ZipFile(files_dir / "extra.zip", "w") as z:
        z.writestr("symt_included_probe.py", "VALUE = 3\n")
    W.setup_spark_files(_infile(files_dir, ["extra.zip"]))
    assert str(files_dir / "extra.zip") in sys.path
    assert str(files_dir.parent / "lib.zip") in reads
    assert importlib.import_module("symt_included_probe").VALUE == 3


def test_workers_run_the_engine_worker_module(spark):
    def setup_module(batches):
        import pyspark.worker

        for _ in batches:
            yield pa.RecordBatch.from_pydict({"m": [pyspark.worker.setup_spark_files.__module__]})

    rows = spark.range(1, numPartitions=1).mapInArrow(setup_module, "m string").collect()
    assert [r.m for r in rows] == ["pyspark_symtseries_worker"]


def test_reused_worker_imports_a_late_py_file(spark, tmp_path):
    def late_value(batches):
        import symt_late_shipped

        for _ in batches:
            yield pa.RecordBatch.from_pydict(
                {"pid": [os.getpid()], "value": [symt_late_shipped.VALUE]}
            )

    # leave an idle worker for the next task to reuse
    spark.range(1, numPartitions=1).mapInArrow(lambda b: b, "id long").collect()
    live = {int(p) for p in os.listdir("/proc") if p.isdigit()}
    path = tmp_path / "symt_late_shipped.py"
    path.write_text("VALUE = 42\n")
    spark.sparkContext.addPyFile(str(path))
    try:
        [row] = (
            spark.range(1, numPartitions=1).mapInArrow(late_value, "pid long, value long").collect()
        )
    finally:
        sys.modules.pop("symt_late_shipped", None)
    assert row.value == 42
    assert row.pid in live, "the task should run on a worker started before the file was shipped"


@pytest.mark.parametrize("daemon", ["true", "false"])
def test_workers_find_the_engine_from_any_cwd(tmp_path, daemon):
    caller = tmp_path / "caller"
    caller.mkdir()
    (caller / "symt_caller_probe.py").write_text("VALUE = 7\n")
    cwd = tmp_path / "cwd"
    cwd.mkdir()
    script = textwrap.dedent(
        f"""
        import os
        import sys
        sys.path.insert(0, {REPO!r})
        import pyarrow as pa
        from symtseries_spark.session import get_spark

        def probe(batches):
            import pyspark.worker
            import symt_caller_probe
            from symtseries_spark import kernel

            for _ in batches:
                yield pa.RecordBatch.from_pydict({{
                    "m": [os.path.basename(pyspark.worker.setup_spark_files.__code__.co_filename)],
                    "k": [kernel.__name__],
                    "v": [symt_caller_probe.VALUE],
                }})

        spark = get_spark("symtseries-cwd", master="local[1]", shuffle_partitions=1,
                          extra_conf={{"spark.driver.memory": "512m",
                                       "spark.python.use.daemon": {daemon!r},
                                       "spark.executorEnv.PYTHONPATH": {str(caller)!r}}})
        print(spark.range(1).mapInArrow(probe, "m string, k string, v long").collect())
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=cwd, env=env, capture_output=True, text=True, timeout=300
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert "Row(m='pyspark_symtseries_worker.py', k='symtseries_spark.kernel', v=7)" in out.stdout
