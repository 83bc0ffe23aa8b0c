"""One batch loop for every per-row ``mapInPandas`` kernel.

Contract: ``row_kernel(schema, rows, inputs, carry)`` returns the
``mapInPandas`` function of a kernel that maps each input row to zero or
more output rows.  For every input row the loop calls ``rows(*values)``
with the row's ``inputs`` columns, in that order, and ``rows`` returns an
iterable of row tuples: the schema's fields in schema order, without the
``carry`` columns.  The loop copies those from the input row onto each of
its output rows (NULL for a carried column the input lacks).  An empty
input batch yields nothing; every other batch yields one frame, possibly
of zero rows, whose columns are the schema's, in schema order.  What a
row function does with a bad payload (skip it, emit a NULL row, emit an
error row) is its own policy.  The kernel is named after its row
function, so a plan's ``MapInPandas`` node says which kernel runs.

Integer columns: every ``IntegerType``/``LongType`` column the loop builds
is a nullable ``pd.array(..., "Int32"/"Int64")`` made from the row
values.  A plain column made from a list that holds a ``None`` is
float64, and Arrow's ``safe=True`` check does not catch the rounding: a
64-bit hash such as 2^62+1 would read back as 2^62.  Carried columns keep
the input's dtype.

Garbage collection: every kernel on the loop runs under ``gc_paused``,
which disables Python's cyclic collector while the kernel builds one
output batch and restores the caller's GC state before the batch is
yielded (or an exception propagates).  A parsed page's DOM is a flat list
of per-node lists whose parent/child links are integer indices, and the
media, PDF and WARC decoders build flat lists and bytes, so a row holds
no reference cycles and refcounting frees it as soon as the row is done
(pinned in ``tests/test_kernel_gc.py``).  A DOM's tracked containers
(every record, and an element's children list and any attribute lists;
about 1.7 per node on malformed ~12 KB pages) would otherwise set off
~1,000 generation-0 and 7 full collections per 600 such pages, all
finding nothing.  The
collector is paused for at most one Arrow batch, so a cycle made
elsewhere waits at most one batch longer to be collected.

A reused Python worker freezes its heap once: at the end of the first
task whose batches run out on the loop, ``_freeze_worker_heap`` runs
``gc.collect()`` and then ``gc.freeze()``, which moves every object the
worker holds (its imports: ``pyspark.worker``, pandas, pyarrow, this
package; about 73k tracked objects) into the permanent generation.
PySpark's daemon runs ``gc.collect()`` after every task of a reused
worker, and over that heap each collection took 11-21 ms on a 4-vCPU
host; after the freeze it takes ~0 ms.  The freeze happens only when a Spark task
context is set, so a driver, a test or an in-process benchmark that
calls a kernel keeps its GC as it was.  Frozen objects are still freed
by refcounting; only a cycle among them outlives the worker's tasks.

Zip finders: when a kernel's batch iterator is exhausted or closed,
``_drop_zip_finders`` deletes every ``zipimport.zipimporter`` from
``sys.path_importer_cache``.  PySpark's worker calls
``importlib.invalidate_caches()`` at the start of every task
(``worker_util.setup_spark_files``), and on CPython 3.11 and 3.12 each
cached zipimporter then re-reads its archive's whole central directory
(3.13 only drops its cache).  PySpark's own imports leave 16 of them
behind on a worker: 2 for the spark-core jar (5,359 entries, 21-34 ms per
re-read), 12 for ``pyspark.zip`` (1,328 entries, 5-8 ms) and 2 for the
py4j zip (9 entries).  That is 0.10-0.12 s per task on an idle 4-vCPU host
and 0.17-0.28 s while other work runs on it, before the kernel sees a row.
With the finders gone the next task's ``invalidate_caches()`` takes
~0.1 ms.  Deleting a cache entry is the documented way to force a fresh
path-entry search, and a later import from one of those paths re-creates
its finder from zipimport's directory cache without reading the archive.
That cache is not refreshed: an archive on a worker's path does not
change while the worker lives.  Spark's own jars and zips are fixed for
the application, and ``--py-files`` copies get fixed names.

This module imports neither the parser nor pyspark, so the media, PDF and
WARC modules use the loop without building the native parse core.
"""

from __future__ import annotations

import gc
import sys
import zipimport
from functools import wraps

import pandas as pd

__all__ = ["row_kernel", "gc_paused"]

# nullable pandas dtype of each Spark integer type the loop builds
_INT_DTYPES = {"integer": "Int32", "long": "Int64"}


def gc_paused(kernel):
    """Wrap a mapInPandas kernel so the cyclic collector is off while it
    builds each output batch (see the module docstring).  The caller's GC
    state is restored before every yield and on any exception."""

    @wraps(kernel)
    def paused(batches):
        out = kernel(batches)
        while True:
            enabled = gc.isenabled()
            gc.disable()
            try:
                pdf = next(out, None)
            finally:
                if enabled:
                    gc.enable()
            if pdf is None:
                return
            yield pdf

    return paused


def _drop_zip_finders() -> None:
    """Delete every zip finder from ``sys.path_importer_cache``, so the
    next task's ``importlib.invalidate_caches()`` re-reads no archive (see
    the module docstring)."""
    cache = sys.path_importer_cache
    for path in [p for p, f in cache.items()
                 if isinstance(f, zipimport.zipimporter)]:
        del cache[path]


_heap_frozen = False


def _freeze_worker_heap() -> None:
    """``gc.collect()`` then ``gc.freeze()``, once per process, inside a
    Spark task (see the module docstring).  The task context is read from
    ``pyspark.taskcontext`` if a worker loaded it; this module does not
    import pyspark."""
    global _heap_frozen
    context = sys.modules.get("pyspark.taskcontext")
    if _heap_frozen or context is None or context.TaskContext.get() is None:
        return
    _heap_frozen = True
    gc.collect()
    gc.freeze()


def row_kernel(schema, rows, inputs, carry=()):
    """The row-kernel loop (see the module docstring): ``rows(*values)``
    per input row of ``inputs`` columns, ``carry`` columns copied from
    the input row, one frame in ``schema`` order per non-empty batch."""
    fields = [(f.name, f.name in carry,
               _INT_DTYPES.get(f.dataType.typeName()))
              for f in schema.fields]

    def kernel(batches):
        try:
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                out, src = [], []
                for i, values in enumerate(
                        zip(*[pdf[c].tolist() for c in inputs])):
                    for row in rows(*values):
                        out.append(row)
                        src.append(i)
                built = zip(*out)
                cols = {}
                for name, carried, dtype in fields:
                    if carried and name in pdf.columns:
                        cols[name] = pdf[name].values[src]
                        continue
                    col = [None] * len(src) if carried \
                        else list(next(built, ()))
                    cols[name] = pd.array(col, dtype=dtype) if dtype else col
                # empty list columns would default to float64, which Arrow
                # cannot cast to a timestamp
                yield pd.DataFrame(cols, dtype=None if src else object)
        finally:
            _drop_zip_finders()
            _freeze_worker_heap()

    kernel.__name__ = rows.__name__
    return gc_paused(kernel)
