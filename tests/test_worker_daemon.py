"""The package's Python worker daemon (``ner_pytorch_spark.worker_daemon``):
workers run the flush-on-change ``setup_spark_files`` and the pip-installed
pyspark, ``addPyFile`` code still imports, and a patch target of another
shape leaves the stock behaviour."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import textwrap
import types
import uuid
import zipfile

import pyarrow as pa
import pytest

from ner_pytorch_spark import worker_daemon

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _one_task(spark, fn):
    """Run ``fn()`` (returning a str) in one ``mapInArrow`` task."""
    def run(batches):
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({"out": [fn()]})

    return spark.range(1, numPartitions=1).mapInArrow(run, "out string").first().out


def test_task_uses_patched_setup_and_installed_pyspark(spark):
    def probe():
        import pyspark
        import pyspark.worker

        return pyspark.worker.setup_spark_files.__module__ + "|" + pyspark.__file__

    module, pyspark_file = _one_task(spark, probe).split("|")
    assert module == "ner_pytorch_spark.worker_daemon"
    assert not any(part.endswith(".zip") for part in pyspark_file.split(os.sep))


def _warm_then_import(spark, path, name):
    _one_task(spark, lambda: "warm")
    spark.sparkContext.addPyFile(str(path))
    return _one_task(spark, lambda: str(importlib.import_module(name).VALUE))


def test_addpyfile_zip_imports_after_warm_up(spark, tmp_path):
    name = f"daemon_zipmod_{uuid.uuid4().hex}"
    path = tmp_path / f"{name}.zip"
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr(f"{name}.py", "VALUE = 41\n")
    assert _warm_then_import(spark, path, name) == "41"


def test_addpyfile_py_imports_after_warm_up(spark, tmp_path):
    name = f"daemon_pymod_{uuid.uuid4().hex}"
    path = tmp_path / f"{name}.py"
    path.write_text("VALUE = 42\n")
    assert _warm_then_import(spark, path, name) == "42"


def _stub_worker_util(body: str) -> types.ModuleType:
    mod = types.ModuleType("stub_worker_util")
    exec(textwrap.dedent(body), mod.__dict__)
    return mod


@pytest.mark.parametrize("body", [
    "import importlib\n",
    "import importlib\ndef setup_spark_files(infile, outfile):\n    importlib.invalidate_caches()\n",
    "import types\nimportlib = types.SimpleNamespace(invalidate_caches=lambda: None)\n"
    "def setup_spark_files(infile):\n    importlib.invalidate_caches()\n",
], ids=["missing", "signature", "importlib"])
def test_patch_leaves_other_shapes_stock(body):
    stub = _stub_worker_util(body)
    before = dict(stub.__dict__)
    assert worker_daemon.patch(stub) is False
    assert stub.__dict__ == before


def test_patched_setup_flushes_only_on_change(monkeypatch, tmp_path):
    from pyspark.core.files import SparkFiles

    flushes = []
    monkeypatch.setattr(importlib, "invalidate_caches", lambda: flushes.append(1))
    monkeypatch.setattr(sys, "path", list(sys.path))
    monkeypatch.setattr(SparkFiles, "_root_directory", str(tmp_path))
    stub = _stub_worker_util("""
        import importlib, sys
        def setup_spark_files(infile):
            for p in infile:
                if p not in sys.path:
                    sys.path.insert(1, p)
            importlib.invalidate_caches()
    """)
    assert worker_daemon.patch(stub) is True
    assert stub.setup_spark_files.__module__ == "ner_pytorch_spark.worker_daemon"

    def flushes_after(includes):
        stub.setup_spark_files(includes)
        return len(flushes)

    assert [flushes_after([]) for _ in range(3)] == [1, 1, 1]
    zip_path = str(tmp_path / "dep.zip")
    assert [flushes_after([zip_path]) for _ in range(2)] == [2, 2]
    st = os.stat(tmp_path)
    os.utime(tmp_path, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))  # a .py lands
    assert [flushes_after([zip_path]) for _ in range(2)] == [3, 3]


def test_drop_spark_zips_only_for_the_installed_version(tmp_path):
    import pyspark

    def spark_zips(version):
        root = tmp_path / version
        root.mkdir()
        with zipfile.ZipFile(root / "pyspark.zip", "w") as zf:
            zf.writestr("pyspark/version.py", f"__version__: str = '{version}'\n")
        with zipfile.ZipFile(root / "py4j-0.10.9.9-src.zip", "w") as zf:
            zf.writestr("py4j/__init__.py", "")
        return [str(root / "pyspark.zip"), str(root / "py4j-0.10.9.9-src.zip")]

    older = spark_zips("0.0.1")
    path = older + ["/elsewhere"] + sys.path
    worker_daemon.drop_spark_zips(path)
    assert path == older + ["/elsewhere"] + sys.path

    same = spark_zips(pyspark.__version__)
    path = same + ["/elsewhere"] + sys.path
    worker_daemon.drop_spark_zips(path)
    assert path == ["/elsewhere"] + sys.path


def test_workers_import_daemon_from_any_cwd(tmp_path):
    script = tmp_path / "one_task.py"
    script.write_text(textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {REPO!r})
        import pyarrow as pa
        from ner_pytorch_spark.session import get_spark

        def run(batches):
            import pyspark.worker_util
            for _ in batches:
                pass
            yield pa.RecordBatch.from_pydict(
                {{"m": [pyspark.worker_util.setup_spark_files.__module__]}})

        spark = get_spark(app_name="daemon_cwd", cores=1)
        print("MODULE", spark.range(1).mapInArrow(run, "m string").first().m)
        spark.stop()
    """))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEM"] = "1g"
    out = subprocess.run([sys.executable, str(script)], cwd=tmp_path, env=env,
                         capture_output=True, text=True, timeout=300)
    assert "MODULE ner_pytorch_spark.worker_daemon" in out.stdout, out.stderr[-3000:]
