"""Python worker entry for the traced run: engine timers inside Spark.

Set as ``spark.python.worker.module`` (the PySpark daemon accepts only
module names starting with "pyspark"). On import it wraps the four
engine calls the extraction kernel in ``htmld_spark.functions.udfs``
makes per document with timers, then serves tasks with the stock
``pyspark.worker.main``. After each task it writes this process's
cumulative counters to ``$PERFBENCH_ENGINE_DIR/<pid>.json``.

The wrappers replace the functions in the modules that define them:
the kernel reaches the worker as a pickled closure whose engine globals
are unpickled by module and name, so that is where they are looked up.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.worker import main as _worker_main

from htmld_spark.engine import dom, encoding, extract
from htmld_spark.engine.native import get_native

_TIMED = [
    (encoding, "to_utf8", "to_utf8_s"),
    (dom, "parse_document", "parse_s"),
    (extract, "main_text", "main_text_s"),
    (extract, "element_span_columns", "spans_s"),
]
COUNTERS = {key: 0.0 for _mod, _name, key in _TIMED}
COUNTERS.update(docs=0, input_bytes=0)


def _timed(fn, key):
    clock = time.perf_counter

    def wrapper(*args, **kwargs):
        t0 = clock()
        try:
            return fn(*args, **kwargs)
        finally:
            COUNTERS[key] += clock() - t0

    return wrapper


def _count_docs(fn):
    def wrapper(raw, *args, **kwargs):
        COUNTERS["docs"] += 1
        COUNTERS["input_bytes"] += len(raw)
        return fn(raw, *args, **kwargs)

    return wrapper


for _mod, _name, _key in _TIMED:
    setattr(_mod, _name, _timed(getattr(_mod, _name), _key))
encoding.to_utf8 = _count_docs(encoding.to_utf8)


def main(infile, outfile):
    try:
        _worker_main(infile, outfile)
    finally:
        out_dir = os.environ.get("PERFBENCH_ENGINE_DIR")
        if out_dir:
            path = os.path.join(out_dir, f"{os.getpid()}.json")
            with open(path + ".tmp", "w") as f:
                json.dump({**COUNTERS, "native": get_native() is not None}, f)
            os.replace(path + ".tmp", path)
