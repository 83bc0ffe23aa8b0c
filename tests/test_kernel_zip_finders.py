"""The row-kernel loop drops every zip finder from
``sys.path_importer_cache`` when a task's batches run out, so PySpark's
per-task ``importlib.invalidate_caches()`` re-reads no archive (see the
batches module docstring), and imports from those archives still work.
In a Spark task it also freezes the reused worker's heap once."""

import functools
import json
import os
import subprocess
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

from fortissimo_spark.kernel import make_extract_kernel
from tests.kernel_fixtures import MEDIA, folded_kernels, run

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _zip_finders():
    return [p for p, f in sys.path_importer_cache.items()
            if isinstance(f, zipimport.zipimporter)]


def _one_page():
    return pd.DataFrame({"url": ["http://example.com/"],
                         "warc_ts": pd.to_datetime(["2024-01-01"]),
                         "html": [b"<p>one page</p>"], "lang": ["en"]})


def test_kernel_drops_zip_finders_and_zip_imports_still_work(tmp_path,
                                                              monkeypatch):
    zip_path = str(tmp_path / "zipped.zip")
    with zipfile.ZipFile(zip_path, "w") as z:
        z.writestr("zipped_pkg/__init__.py", "")
        z.writestr("zipped_pkg/first.py", "VALUE = 1\n")
        z.writestr("zipped_pkg/second.py", "VALUE = 2\n")
    monkeypatch.syspath_prepend(zip_path)
    try:
        import zipped_pkg.first
        assert zipped_pkg.first.__file__.startswith(zip_path)
        assert zip_path in _zip_finders()

        (out,) = make_extract_kernel()(iter([_one_page()]))
        assert out["text"].tolist() == ["one page"]
        assert _zip_finders() == []

        import zipped_pkg.second
        assert zipped_pkg.second.__file__.startswith(zip_path)
        assert zipped_pkg.second.VALUE == 2
    finally:
        for name in ("zipped_pkg", "zipped_pkg.first", "zipped_pkg.second"):
            sys.modules.pop(name, None)


def test_kernel_drops_zip_finders_when_closed_early(tmp_path):
    zip_path = str(tmp_path / "empty.zip")
    zipfile.ZipFile(zip_path, "w").close()
    sys.path_importer_cache[zip_path] = zipimport.zipimporter(zip_path)
    kernel = make_extract_kernel()(iter([_one_page(), _one_page()]))
    next(kernel)
    kernel.close()
    assert _zip_finders() == []


def test_folded_kernel_drops_zip_finders(tmp_path):
    zip_path = str(tmp_path / "empty.zip")
    zipfile.ZipFile(zip_path, "w").close()
    sys.path_importer_cache[zip_path] = zipimport.zipimporter(zip_path)
    (out,) = run(folded_kernels()["media_metadata"], MEDIA)
    assert len(out) == len(MEDIA)
    assert _zip_finders() == []


_SPARK_PROBE = """
import gc, json, os, sys, zipimport
import pandas as pd
from pyspark.sql import SparkSession
from fortissimo_spark.pipeline import extract_df

def zip_finders(batches):
    n = sum(isinstance(f, zipimport.zipimporter)
            for f in sys.path_importer_cache.values())
    for _ in batches:
        pass
    yield pd.DataFrame({"pid": [os.getpid()], "finders": [n],
                        "frozen": [gc.get_freeze_count()]})

spark = (SparkSession.builder.master("local[1]")
         .config("spark.ui.enabled", "false")
         .config("spark.python.worker.reuse", "true").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
probe = spark.range(1).mapInPandas(zip_finders,
                                   "pid long, finders long, frozen long")
before = probe.collect()[0]
pages = spark.createDataFrame(
    [("http://example.com/%d" % i, None, b"<p>page %d</p>" % i, "en")
     for i in range(12)],
    "url string, warc_ts timestamp, html binary, lang string").repartition(3)
texts = sorted(r.text for r in extract_df(pages).collect())
after = probe.collect()[0]
spark.stop()
print(json.dumps([before.pid, before.finders, after.pid, after.finders,
                  texts, before.frozen, after.frozen]))
"""


@functools.lru_cache(maxsize=None)
def _spark_probe():
    """One local[1] session (one reused worker): a probe task, an
    extract_df job, the probe again."""
    out = subprocess.run([sys.executable, "-c", _SPARK_PROBE], cwd=ROOT,
                         capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-4000:]
    return json.loads(out.stdout.splitlines()[-1])


def test_next_task_starts_without_zip_finders():
    pid0, before, pid1, after, texts, _, _ = _spark_probe()
    if before == 0:
        pytest.skip("no zip archive on the Python worker's path")
    # local[1] with worker reuse: every task ran in one worker process
    assert pid0 == pid1
    assert texts == sorted("page %d" % i for i in range(12))
    assert after == 0


def test_reused_worker_freezes_its_heap_after_a_task():
    # the probe runs off the row-kernel loop, so the worker's first task
    # freezes nothing; the extract job's first task freezes its heap
    pid0, _, pid1, _, _, frozen_before, frozen_after = _spark_probe()
    assert pid0 == pid1
    assert frozen_before == 0 and frozen_after > 10_000, (frozen_before,
                                                          frozen_after)
