"""Packaging helpers for ``spark-submit --py-files`` deployment.

The engine is Python + stdlib + numpy/pandas (worker side) plus one C
source, the native parse core ``_native.c``, so a single zip of the package
is the whole deployable artifact:

    spark-submit --py-files fortissimo_spark.zip job.py

Each executor host builds the core from the zipped source on first import,
once per host, into a per-user cache (``native.py``).  An executor without
gcc and the Python headers cannot build it and parses with the Python
general machine instead: same output, but parsing is about 4x slower on
crawl_agg pages and 1.7x slower on tag_soup pages than with the core.

For programmatic use (and the local-cluster scaling evidence) the same zip
is attached via ``SparkContext.addPyFile``.
"""

from __future__ import annotations

import os
import zipfile

__all__ = ["build_pyfiles_zip", "attach_to_session"]

_PKG_DIR = os.path.dirname(os.path.abspath(__file__))


def build_pyfiles_zip(out_path: str | None = None) -> str:
    """Zip the fortissimo_spark package for --py-files / addPyFile."""
    if out_path is None:
        out_path = os.path.join(os.path.dirname(_PKG_DIR), ".bench_scratch",
                                "fortissimo_spark.zip")
    os.makedirs(os.path.dirname(out_path), exist_ok=True)
    with zipfile.ZipFile(out_path, "w", zipfile.ZIP_DEFLATED) as zf:
        for name in sorted(os.listdir(_PKG_DIR)):
            if name.endswith(".py") or name == "_native.c":
                zf.write(os.path.join(_PKG_DIR, name),
                         arcname=f"fortissimo_spark/{name}")
    return out_path


def attach_to_session(spark) -> str:
    """Ship the package to executors of an existing session."""
    path = build_pyfiles_zip()
    spark.sparkContext.addPyFile(path)
    return path
