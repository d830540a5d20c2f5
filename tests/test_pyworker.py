"""The Python worker daemon (``razulibs_spark.pyworker``): an unchanged
zip is not re-read when import caches are invalidated, a rewritten or
newly added one is, and the daemon module starts wherever the driver
runs."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import uuid
import zipfile
import zipimport

import pytest

from razulibs_spark import pyworker

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, source in modules.items():
            zf.writestr(name, source)


@pytest.fixture
def patched_zipimport(monkeypatch):
    """``keep_unchanged_zips`` in this process, undone afterwards."""
    monkeypatch.setattr(zipimport, "_read_directory", zipimport._read_directory)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    pyworker.keep_unchanged_zips()


def test_unchanged_zip_is_kept_and_a_rewritten_one_is_read_again(
    patched_zipimport, tmp_path, monkeypatch
):
    tag = uuid.uuid4().hex
    first, second = f"zfirst_{tag}", f"zsecond_{tag}"
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {f"{first}.py": "VALUE = 1\n"})
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module(first).VALUE == 1
        importer = sys.path_importer_cache[archive]
        if sys.version_info < (3, 13):
            files = importer._files
            importlib.invalidate_caches()
            assert importer._files is files  # not re-read
        _write_zip(archive, {f"{first}.py": "VALUE = 1\n", f"{second}.py": "VALUE = 2\n"})
        importlib.invalidate_caches()
        assert importlib.import_module(second).VALUE == 2
    finally:
        for name in (first, second):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)


def _arrow_task(spark, fn):
    """Run ``fn()`` in Python tasks and return the set of its results."""
    import pyarrow as pa

    def run(batches):
        for batch in batches:
            yield pa.RecordBatch.from_pydict({"v": [str(fn())] * batch.num_rows})

    return {r["v"] for r in spark.range(0, 8, numPartitions=4).mapInArrow(run, "v string").collect()}


def test_workers_fork_from_the_library_daemon(spark):
    assert _arrow_task(spark, lambda: sys.modules["__main__"].__spec__.name) == {
        "razulibs_spark.pyworker"
    }


def test_zip_added_mid_session_imports_in_a_later_task(spark, tmp_path):
    name = f"zmid_{uuid.uuid4().hex}"
    archive = tmp_path / f"{name}.zip"
    _write_zip(archive, {f"{name}.py": "VALUE = 42\n"})
    _arrow_task(spark, lambda: 0)  # the workers have run tasks before the zip arrives
    spark.sparkContext.addPyFile(str(archive))
    assert _arrow_task(spark, lambda: importlib.import_module(name).VALUE) == {"42"}


def test_session_runs_python_tasks_from_a_cwd_outside_the_checkout(tmp_path):
    script = tmp_path / "run.py"
    script.write_text(
        "import sys\n"
        f"sys.path.insert(0, {REPO!r})\n"
        "import pyarrow as pa\n"
        "from razulibs_spark.session import get_spark\n"
        "spark = get_spark('outside-cwd', cpus=1)\n"
        "def double(batches):\n"
        "    for b in batches:\n"
        "        yield pa.RecordBatch.from_pydict({'x': [2 * v for v in b.column(0).to_pylist()]})\n"
        "print(sorted(r.x for r in spark.range(3).mapInArrow(double, 'x long').collect()))\n"
        "spark.stop()\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    out = subprocess.run(
        [sys.executable, str(script)], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert out.stdout.strip().splitlines()[-1] == "[0, 2, 4]"
