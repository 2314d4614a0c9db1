"""The ``engine_lib`` workload: the L0 engine with no Spark.

``nproc`` spawned processes each hold a share of near-equal html bytes
of the pages table and, per pass, run the per-document chain of the
extraction kernel: to_utf8 → parse_document → main_text → element_span_columns. A
pass ends when the slowest process is done. Each process checks its
documents against the golden text and span count (``sel_all``).
"""

from __future__ import annotations

import heapq
import multiprocessing as mp
import statistics
import time

SPAN_BATCH = 512  # rows per Arrow batch in the kernel (maxRecordsPerBatch)


def _worker(conn, index: int, n_workers: int) -> None:
    from htmld_spark.engine.dom import parse_document
    from htmld_spark.engine.encoding import to_utf8
    from htmld_spark.engine.extract import element_span_columns, main_text
    from htmld_spark.engine.native import get_native

    fns = (to_utf8, parse_document, main_text, element_span_columns)
    _pass([(b"<html><main><p>warm</p></main></html>", "warm", 4)], traced=False, fns=fns)
    conn.send(("ready", get_native() is not None))
    docs: list[tuple[bytes, str, int]] = []
    while True:
        cmd, arg = conn.recv()
        if cmd == "stop":
            return
        if cmd == "load":
            import pyarrow.parquet as pq

            pages = pq.read_table(arg["pages"], columns=["url", "warc_ts", "html"])
            golden = pq.read_table(arg["golden"], columns=["url", "warc_ts", "text", "sel_all"])
            gold = {
                (u, t): (x, s)
                for u, t, x, s in zip(*(golden.column(c).to_pylist() for c in golden.column_names))
            }
            rows = list(zip(*(pages.column(c).to_pylist() for c in pages.column_names)))
            mine = balanced_shares([len(h) for _u, _t, h in rows], n_workers)[index]
            docs = [(rows[i][2], *gold[rows[i][:2]]) for i in mine]
            conn.send(("loaded", len(docs)))
        elif cmd == "pass":
            conn.send(("done", _pass(docs, traced=arg, fns=fns)))


def balanced_shares(sizes: list[int], n: int) -> list[list[int]]:
    """Split document indexes into ``n`` shares of near-equal bytes:
    largest first, each to the share with the fewest bytes so far. Every
    process computes the same split. Half of the html bytes sit in the
    few ~1 MiB pages, so a split by row index would make one process the
    straggler of every pass, by an amount that changes with the seed."""
    heap = [(0, k) for k in range(n)]
    shares: list[list[int]] = [[] for _ in range(n)]
    for i in sorted(range(len(sizes)), key=lambda i: (-sizes[i], i)):
        load, k = heapq.heappop(heap)
        shares[k].append(i)
        heapq.heappush(heap, (load + sizes[i], k))
    return [sorted(s) for s in shares]


def _pass(docs, traced: bool, fns) -> dict:
    to_utf8, parse_document, main_text, element_span_columns = fns
    failed = 0
    timers = [0.0, 0.0, 0.0, 0.0]
    clock = time.perf_counter
    t0, c0 = clock(), time.process_time()
    cols: tuple[list, ...] = ()
    for k, (raw, text, sel_all) in enumerate(docs):
        if k % SPAN_BATCH == 0:
            cols = ([], [], [], [], [], [], [])
        if traced:
            a = clock()
            utf8, _codec, _src = to_utf8(raw, None)
            b = clock()
            doc = parse_document(utf8)
            c = clock()
            txt = main_text(doc).decode("utf-8", "replace")
            d = clock()
            n_spans = element_span_columns(doc, cols)
            timers[0] += b - a
            timers[1] += c - b
            timers[2] += d - c
            timers[3] += clock() - d
        else:
            utf8, _codec, _src = to_utf8(raw, None)
            doc = parse_document(utf8)
            txt = main_text(doc).decode("utf-8", "replace")
            n_spans = element_span_columns(doc, cols)
        if txt != text or n_spans != sel_all:
            failed += 1
    return {
        "docs": len(docs),
        "failed": failed,
        "wall_s": clock() - t0,
        "cpu_s": time.process_time() - c0,
        "input_bytes": sum(len(d[0]) for d in docs),
        "timers": timers,
    }


class EnginePool:
    """``n`` spawned engine processes, each reached through its own pipe,
    so every process gets exactly one share per pass."""

    def __init__(self, n: int):
        ctx = mp.get_context("spawn")
        self.conns, self.procs = [], []
        for i in range(n):
            parent, child = ctx.Pipe()
            p = ctx.Process(target=_worker, args=(child, i, n), daemon=True)
            p.start()
            child.close()
            self.conns.append(parent)
            self.procs.append(p)
        self.native = all(c.recv()[1] for c in self.conns)

    def _all(self, cmd: str, arg=None) -> list:
        for c in self.conns:
            c.send((cmd, arg))
        return [c.recv()[1] for c in self.conns]

    def load(self, record: dict) -> None:
        self._all("load", {"pages": record["pages"], "golden": record["golden"]})

    def run_pass(self, traced: bool) -> list[dict]:
        return self._all("pass", traced)

    def close(self) -> None:
        for c in self.conns:
            try:
                c.send(("stop", None))
            except OSError:
                pass
        for p in self.procs:
            p.join(timeout=10)
            if p.is_alive():
                p.terminate()
                p.join(timeout=10)


def straggler_ratio(results: list[dict]) -> float:
    walls = [r["wall_s"] for r in results]
    return max(walls) / statistics.median(walls)


def timed_setup(n: int, repeats: int) -> tuple[EnginePool, list[float]]:
    """Start the pool ``repeats`` times (the last one is kept); return it
    with the set-up time of each start."""
    times = []
    for i in range(repeats):
        t0 = time.perf_counter()
        pool = EnginePool(n)
        times.append(time.perf_counter() - t0)
        if i < repeats - 1:
            pool.close()
    return pool, times

