"""The per-task Python-worker floor: a PySpark worker that unpickles a
product function imports ``quackpipe_spark``, which makes the worker's
``zipimporter.invalidate_caches`` lazy (re-read an archive only when it
changed on disk), so a reused worker stops re-parsing ``pyspark.zip``,
py4j's zip and the Spark jar before every task. The driver keeps the
interpreter's own behaviour."""

from __future__ import annotations

import subprocess
import sys
import uuid
import zipfile
import zipimport

import pandas as pd
import pytest
from pyspark.sql.functions import pandas_udf

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="3.13 made zipimporter.invalidate_caches lazy itself"
)


def test_worker_invalidate_caches_is_lazy_and_addpyfile_imports(spark, tmp_path):
    from quackpipe_spark.functions.extensions import compression_ratio

    @pandas_udf("boolean")
    def lazy(s: pd.Series) -> pd.Series:
        import zipimport

        return pd.Series([getattr(zipimport.zipimporter.invalidate_caches, "lazy", False)] * len(s))

    df = spark.createDataFrame([("aaaaaaaa",), ("abcdefgh",)], "s string")
    # the product UDF and the probe share one Python stage, so the worker
    # that answers has unpickled the product function
    for _ in range(2):
        rows = df.select(compression_ratio("s").alias("r"), lazy("s").alias("lazy")).collect()
        assert [r["lazy"] for r in rows] == [True, True]
        assert all(r["r"] > 0 for r in rows)
    assert not getattr(zipimport.zipimporter.invalidate_caches, "lazy", False)

    # a file shipped after the workers went lazy is still importable
    mod = "qp_late_" + uuid.uuid4().hex[:8]
    path = tmp_path / f"{mod}.zip"
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{mod}.py", "VALUE = 41\n")
    spark.sparkContext.addPyFile(str(path))

    @pandas_udf("long")
    def late(s: pd.Series) -> pd.Series:
        import importlib

        return s.str.len() + importlib.import_module(mod).VALUE

    rows = df.select(compression_ratio("s"), late("s").alias("v"), lazy("s").alias("lazy")).collect()
    assert [(r["v"], r["lazy"]) for r in rows] == [(49, True), (49, True)]


def test_lazy_invalidation_rereads_a_changed_archive(tmp_path):
    """An unchanged archive keeps its directory; a rewritten one (new
    size, mtime or inode) is read again, as the eager call would."""
    script = f"""
import os, sys, time, zipfile, zipimport
import quackpipe_spark
assert not getattr(zipimport.zipimporter.invalidate_caches, "lazy", False)
quackpipe_spark._lazy_zip_invalidation()
path = {str(tmp_path / "lib.zip")!r}
with zipfile.ZipFile(path, "w") as z:
    z.writestr("qp_a.py", "A = 1\\n")
imp = zipimport.zipimporter(path)
imp.invalidate_caches()
files = imp._files
imp.invalidate_caches()
assert imp._files is files  # unchanged: not read again
with zipfile.ZipFile(path + ".new", "w") as z:
    z.writestr("qp_a.py", "A = 1\\n")
    z.writestr("qp_b.py", "B = 2\\n")
os.replace(path + ".new", path)
imp.invalidate_caches()
assert imp._files is not files and "qp_b.py" in imp._files
print("ok")
"""
    out = subprocess.run([sys.executable, "-c", script], capture_output=True, text=True, timeout=60)
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == "ok"
