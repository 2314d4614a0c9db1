"""Session set-up and output checks for the Spark workloads,
``extract_job`` and ``curate_minhash``.

Both run in a local Spark session built by the program's own
``get_spark`` with the documented deployment settings: its defaults plus
``spark.task.cpus=2`` at ``local[nproc]``. JobConfig and split sizes stay
at their defaults.

Each workload call gets a fresh output directory and is checked against
the generator's golden columns after it returns, outside its timing.
"""

from __future__ import annotations

import glob
import hashlib
import os
import time

import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq


def start_session(nproc: int, tmp: str, trace_dir: str | None):
    """The program's session factory with the deployment settings. With
    ``trace_dir`` the session also writes an event log and runs Python
    workers through the engine-timer entry, which writes its counters to
    ``trace_dir/engine`` (``PERFBENCH_ENGINE_DIR``, set before the JVM
    starts because workers inherit the JVM's environment)."""
    from htmld_spark.pipeline.session import get_spark

    conf = {
        "spark.task.cpus": "2",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
    }
    if trace_dir:
        os.makedirs(os.path.join(trace_dir, "engine"), exist_ok=True)
        os.makedirs(os.path.join(trace_dir, "eventlog"), exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": os.path.join(trace_dir, "eventlog"),
                "spark.eventLog.logBlockUpdates.enabled": "true",
                "spark.python.worker.module": "pyspark_perfbench_worker",
            }
        )
    return get_spark(master=f"local[{nproc}]", extra_conf=conf)


def stop_jvm(timeout_s: float = 30.0) -> None:
    """Shut down the JVM that PySpark launched for this process, if any,
    and wait for it to exit. Left alone, it exits only after this
    process does, when it sees its stdin close."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:
        pass
    SparkContext._gateway = SparkContext._jvm = None
    if proc is None:
        return
    try:
        proc.stdin.close()
        proc.wait(timeout=timeout_s)
    except Exception:
        proc.kill()
        proc.wait()


def _key_table(table: pa.Table) -> pa.Table:
    """warc_ts as int64 microseconds, whatever unit the writer used."""
    i = table.schema.get_field_index("warc_ts")
    ts = table.column(i).cast(pa.timestamp("us")).cast(pa.int64())
    return table.set_column(i, "warc_ts", ts)


class Golden:
    def __init__(self, record: dict):
        t = _key_table(pq.read_table(record["golden"]))
        cols = {c: t.column(c).to_pylist() for c in t.column_names}
        self.docs = t.num_rows
        self.by_key = {
            (u, ts): (x, s)
            for u, ts, x, s in zip(cols["url"], cols["warc_ts"], cols["text"], cols["sel_all"])
        }
        latest: dict[str, tuple[int, str]] = {}
        for u, ts, x in zip(cols["url"], cols["warc_ts"], cols["text"]):
            if u not in latest or ts > latest[u][0]:
                latest[u] = (ts, x)
        self.latest_text = {u: x for u, (_, x) in latest.items()}
        self.groups: dict[int, list[str]] = {}
        self.group_kind: dict[int, str] = {}
        for u, g, kind in zip(cols["url"], cols["group"], cols["copy"]):
            if g >= 0:
                self.groups.setdefault(g, []).append(u)
                if kind != "source":
                    self.group_kind[g] = kind


def check_extract(out: str, golden: Golden) -> tuple[int, dict]:
    """Failed documents of one extract_job output, and output stats."""
    data = os.path.join(out, "data")
    t = ds.dataset(data, format="parquet", partitioning="hive").to_table(
        columns=["url", "warc_ts", "text", "n_spans", "parse_ok"]
    )
    t = _key_table(t)
    got = {}
    extra = 0
    for u, ts, x, n, ok in zip(*(t.column(c).to_pylist() for c in t.column_names)):
        if (u, ts) in got or (u, ts) not in golden.by_key:
            extra += 1
        got[(u, ts)] = (x, n, ok)
    failed = extra
    for key, (text, sel_all) in golden.by_key.items():
        row = got.get(key)
        if row is None or row[0] != text or row[1] != sel_all or not row[2]:
            failed += 1
    files = [f for f in glob.glob(os.path.join(data, "**", "*.parquet"), recursive=True)]
    stats = {
        "output_files": len(files),
        "output_mb": sum(os.path.getsize(f) for f in files) / 1e6,
        "round_s": [
            pq.read_table(f, columns=["wall_ms"]).column(0)[0].as_py() / 1e3
            for f in glob.glob(os.path.join(out, "_manifest", "*.parquet"))
        ],
    }
    return failed, stats


def check_curate(sink: str, golden: Golden) -> tuple[int, dict]:
    """Failed documents of one curate output: wrong text, a url twice or
    not in the input, a repeated md5(text), or an exact-copy group that
    does not keep exactly one row."""
    t = pq.read_table(sink, columns=["url", "text"])
    urls, texts = t.column("url").to_pylist(), t.column("text").to_pylist()
    failed = 0
    seen_urls: set[str] = set()
    seen_md5: set[bytes] = set()
    for u, x in zip(urls, texts):
        digest = hashlib.md5(x.encode()).digest()
        if u in seen_urls or u not in golden.latest_text or golden.latest_text[u] != x or digest in seen_md5:
            failed += 1
        seen_urls.add(u)
        seen_md5.add(digest)
    removed = injected = 0
    for g, members in golden.groups.items():
        kept = sum(1 for u in members if u in seen_urls)
        if golden.group_kind[g] == "exact" and kept != 1:
            failed += 1
        injected += len(members) - 1
        removed += min(len(members) - 1, len(members) - kept)
    stats = {
        "kept_docs": len(urls),
        "kept_digest": hashlib.sha256("\n".join(sorted(urls)).encode()).hexdigest(),
        "copies_removed_frac": removed / injected if injected else 0.0,
    }
    return failed, stats


def engine_counters(trace_dir: str) -> dict[int, dict]:
    """Cumulative engine counters per Python worker pid (written by
    ``pyspark_perfbench_worker`` after each task)."""
    import json

    out = {}
    time.sleep(0.5)  # a worker writes its counters just after its task ends
    for path in glob.glob(os.path.join(trace_dir, "engine", "*.json")):
        with open(path) as f:
            out[int(os.path.basename(path)[:-5])] = json.load(f)
    return out
