"""Python workers of a ``get_spark`` session: the repo daemon module.

``acuvate_spark.pydaemon`` keeps a zip importer's directory until its
archive changes. These tests pin that workers start from any working
directory, that a steady-state task re-reads no zip directory, and that
code shipped to a live worker is still seen.
"""

from __future__ import annotations

import os
import subprocess
import sys
import zipfile
import zipimport

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _on_each_worker(spark, fn):
    """Run ``fn()`` in one task per core; return the results."""
    n = spark.sparkContext.defaultParallelism
    return spark.sparkContext.parallelize(range(n), n).mapPartitions(lambda _: [fn()]).collect()


def test_importing_pydaemon_patches_nothing():
    before = zipimport.zipimporter.invalidate_caches
    import acuvate_spark.pydaemon  # noqa: F401

    assert zipimport.zipimporter.invalidate_caches is before


def test_workers_find_the_daemon_module_from_any_cwd(tmp_path):
    """The repo is on the driver's sys.path only: no PYTHONPATH, and a
    working directory that does not hold the package."""
    code = (
        f"import sys; sys.path.insert(0, {REPO!r})\n"
        "from acuvate_spark.session import get_spark\n"
        "spark = get_spark('cwd-test', cpus=2)\n"
        "rows = spark.createDataFrame([(i,) for i in range(6)], 'a int').collect()\n"
        "print('SUM', sum(r.a for r in rows))\n"
        "spark.stop()\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    r = subprocess.run([sys.executable, "-c", code], cwd=tmp_path, env=env,
                       capture_output=True, text=True, timeout=300)
    assert r.returncode == 0, r.stderr[-3000:]
    assert "SUM 15" in r.stdout


def test_steady_state_task_rereads_no_zip_directory(spark):
    """One job counts ``zipimport._read_directory`` calls in each worker;
    the next job's tasks report their worker's count. The stock daemon
    re-reads ``pyspark.zip`` once per zip importer at every task start."""

    def instrument():
        import importlib
        import zipimport

        if not hasattr(zipimport, "_test_reads"):
            zipimport._test_reads = 0
            read = zipimport._read_directory

            def counted(archive):
                zipimport._test_reads += 1
                return read(archive)

            zipimport._read_directory = counted
        importlib.invalidate_caches()  # importers this task created have now read their zip
        zipimport._test_reads = 0
        return os.getpid()

    def report():
        import zipimport

        return os.getpid(), getattr(zipimport, "_test_reads", None)

    _on_each_worker(spark, instrument)
    counts = dict(_on_each_worker(spark, report))
    instrumented = {pid: n for pid, n in counts.items() if n is not None}
    assert instrumented, counts
    assert set(instrumented.values()) == {0}, instrumented


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, value in modules.items():
            z.writestr(f"{name}.py", f"VALUE = {value!r}\n")


def test_code_shipped_to_live_workers_is_seen(spark, tmp_path):
    tag = f"m{os.getpid()}_{abs(hash(str(tmp_path)))}"
    sc = spark.sparkContext
    _on_each_worker(spark, os.getpid)  # workers are up before anything is shipped

    py_mod, zip_mod = f"{tag}_py", f"{tag}_zip"
    (tmp_path / f"{py_mod}.py").write_text("VALUE = 'py'\n")
    _write_zip(tmp_path / f"{tag}_shipped.zip", {zip_mod: "zip"})
    sc.addPyFile(str(tmp_path / f"{py_mod}.py"))
    sc.addPyFile(str(tmp_path / f"{tag}_shipped.zip"))

    def import_shipped():
        import importlib

        return importlib.import_module(py_mod).VALUE, importlib.import_module(zip_mod).VALUE

    assert set(_on_each_worker(spark, import_shipped)) == {("py", "zip")}

    live = str(tmp_path / f"{tag}_live.zip")
    first, second = f"{tag}_first", f"{tag}_second"
    _write_zip(live, {first: 1})

    def import_first():
        import importlib

        if live not in sys.path:
            sys.path.insert(0, live)
        value = importlib.import_module(first).VALUE
        importlib.invalidate_caches()  # as a task start does: the importer has read this zip
        return value

    assert set(_on_each_worker(spark, import_first)) == {1}
    _write_zip(live, {first: 1, second: 2})

    def import_second():
        import importlib

        had = live in sys.path
        if not had:
            sys.path.insert(0, live)
        return had, importlib.import_module(second).VALUE

    seen = _on_each_worker(spark, import_second)
    assert any(had for had, _ in seen), seen
    assert {v for _, v in seen} == {2}, seen
