"""The repository's benchmark: three workloads over seeded inputs.

    python3 perfbench/run.py --workload extract_job --seed 1 --seconds 20 --trace 0

Workloads (see perfbench/README.md for why each exists):

- ``extract_job``: ``pipeline.job.run_extract_job`` into a fresh output
  directory (L0 + L1 heavy, one salted shuffle);
- ``curate_minhash``: ``pipeline.curate.curate(near_dedup="minhash")``
  written to a parquet sink (L2 heavy: exchanges, checkpoints, CC loop);
- ``engine_lib``: the engine calls in ``nproc`` processes, no Spark (L0).

Each run generates its inputs from ``--seed`` (outside every timing),
sets up, then repeats the workload call until ``--seconds`` have passed,
checking every output against the generator's golden columns. The last
line of stdout is one JSON object: ``correct``, ``attempted`` and
``failed`` (documents), and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. A traced run
first repeats the untraced run, then runs again with Spark's event log
and the engine timers on, and writes its spans to
``perfbench/.cache/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(HERE, ".cache")

# base documents per input table, before recrawls and copies; curate_minhash
# is smaller because its fixed per-call cost (jobs, checkpoints, CC loop)
# already makes one call take longer than one extract_job call
N_DOCS = {"extract_job": 20_000, "engine_lib": 20_000, "curate_minhash": 10_000}
SETUP_REPEATS = 3  # engine_lib pool starts per run (Spark starts once)
# warm-up calls in a Spark set-up: curate's plans keep getting faster for
# a few calls (the JIT is still warming), extract_job's flatten after one
WARM_CALLS = {"extract_job": 1, "curate_minhash": 2}
MIN_CALLS = 2  # timed calls per Spark phase, whatever --seconds says

END_TO_END = {
    "docs_per_s": "1/s",
    "cpu_s": "s",
    "setup_s": "s",
    "py_worker_rss_mb": "MB",
}
PER_LAYER = {
    "engine.to_utf8_s": "s",
    "engine.parse_s": "s",
    "engine.main_text_s": "s",
    "engine.spans_s": "s",
    "engine.straggler_ratio": "ratio",
    "engine.docs": "count",
    "engine.input_mb": "MB",
    "engine.native": "bool",
    "udfs.tasks": "count",
    "udfs.python_start_s": "s",
    "udfs.python_init_s": "s",
    "udfs.python_run_s": "s",
    "udfs.init_share": "ratio",
    "udfs.sent_mb": "MB",
    "udfs.received_mb": "MB",
    "udfs.task_s_p50": "s",
    "udfs.task_s_max": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.scan_mb": "MB",
    "spark.scan_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_write_s": "s",
    "spark.shuffle_read_mb": "MB",
    "spark.fetch_wait_s": "s",
    "spark.spill_mb": "MB",
    "spark.gc_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.slot_wait_s": "s",
    "spark.checkpoint_mb": "MB",
    "job.rounds": "count",
    "job.round_s_p50": "s",
    "job.round_s_max": "s",
    "job.lineage_s": "s",
    "job.scan_amplification": "ratio",
    "job.output_mb": "MB",
    "job.output_files": "count",
    "curate.build_s": "s",
    "curate.write_s": "s",
    "curate.kept_docs": "count",
    "curate.kept_frac": "ratio",
    "curate.copies_removed_frac": "ratio",
    "session.start_s": "s",
    "session.warm_s": "s",
    "trace.overhead_s": "s",
}


class Tracer:
    """Benchmark spans, kept in memory and written out at the end."""

    def __init__(self):
        self.spans: list[dict] = []

    def begin(self, name: str, layer: str, parent: str | None = None) -> str:
        sid = f"b{len(self.spans)}"
        self.spans.append(
            {"id": sid, "parent": parent, "name": name, "layer": layer, "start": time.time(), "end": None}
        )
        return sid

    def end(self, sid: str, **attrs) -> None:
        span = self.spans[int(sid[1:])]
        span["end"] = time.time()
        span.update(attrs)


def process_start() -> float:
    """Wall-clock time at which this process started."""
    with open("/proc/self/stat", "rb") as f:
        data = f.read()
    start_ticks = int(data[data.rindex(b")") + 2 :].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def _median(xs):
    return statistics.median(xs) if xs else 0.0


# --------------------------------------------------------------- Spark workloads


def _spark_call(ctx, spark, source: str, tag: str, parent: str, check: bool) -> dict:
    from htmld_spark.pipeline.curate import curate
    from htmld_spark.pipeline.io import read_pages, write_output
    from htmld_spark.pipeline.job import JobConfig, run_extract_job

    from perfbench import spark_jobs
    from perfbench.procs import tree_cpu_s

    tracer, sc = ctx["tracer"], spark.sparkContext
    out = os.path.join(ctx["tmp"], f"out-{tag}")
    cpu0, t0 = tree_cpu_s(), time.perf_counter()
    if ctx["workload"] == "extract_job":
        span = tracer.begin("job.run_extract_job", "job", parent)
        sc.setLocalProperty("perfbench.span", span)
        stats = run_extract_job(spark, JobConfig(source=source, output=out))
        r = {"wall": time.perf_counter() - t0, "rounds": stats["rounds"], "owners": [span]}
        tracer.end(span)
    else:
        span = tracer.begin("curate.build", "curate", parent)
        sc.setLocalProperty("perfbench.span", span)
        df = curate(read_pages(spark, source), near_dedup="minhash")
        build_s = time.perf_counter() - t0
        tracer.end(span)
        wspan = tracer.begin("curate.write", "curate", parent)
        sc.setLocalProperty("perfbench.span", wspan)
        write_output(df, out)
        wall = time.perf_counter() - t0
        r = {"wall": wall, "build_s": build_s, "write_s": wall - build_s, "owners": [span, wspan]}
        tracer.end(wspan)
    r["cpu"] = tree_cpu_s() - cpu0
    sc.setLocalProperty("perfbench.span", None)
    if check:
        checker = spark_jobs.check_extract if ctx["workload"] == "extract_job" else spark_jobs.check_curate
        r["failed"], stats = checker(out, ctx["golden"])
        r.update(stats)
    shutil.rmtree(out, ignore_errors=True)
    return r


def _spark_phase(ctx, traced: bool, timed: bool = True) -> dict:
    """Session start, warm-up and (if ``timed``) the timed loop in one
    Spark session."""
    from perfbench import spark_jobs

    tracer, record = ctx["tracer"], ctx["record"]
    name = f"{'traced' if traced else 'untraced'}-{len(tracer.spans)}"
    phase = tracer.begin(f"phase.{name}", "run", ctx["root"])
    trace_dir = os.path.join(ctx["tmp"], "trace") if traced else None
    span = tracer.begin("session.start", "session", phase)
    t0 = time.perf_counter()
    spark = spark_jobs.start_session(ctx["nproc"], ctx["tmp"], trace_dir)
    start_s = time.perf_counter() - t0
    tracer.end(span)
    try:
        span = tracer.begin("session.warm", "session", phase)
        t0 = time.perf_counter()
        for i in range(WARM_CALLS[ctx["workload"]]):
            _spark_call(ctx, spark, record["pages"], f"{name}-warm{i}", span, check=False)
        warm_s = time.perf_counter() - t0
        tracer.end(span)
        ready = time.time()
        before = spark_jobs.engine_counters(trace_dir) if traced else {}
        calls = []
        t_loop = time.perf_counter()
        while timed and (len(calls) < MIN_CALLS or time.perf_counter() - t_loop < ctx["seconds"]):
            span = tracer.begin(f"call.{len(calls)}", "run", phase)
            calls.append(_spark_call(ctx, spark, record["pages"], f"{name}-{len(calls)}", span, check=True))
            tracer.end(span)
        after = spark_jobs.engine_counters(trace_dir) if traced else {}
    finally:
        spark.stop()
    tracer.end(phase)
    return {"start_s": start_s, "warm_s": warm_s, "ready": ready, "calls": calls,
            "engine": (before, after), "trace_dir": trace_dir}


def _engine_from_counters(before: dict, after: dict, n_calls: int) -> dict:
    keys = ("to_utf8_s", "parse_s", "main_text_s", "spans_s", "docs", "input_bytes")
    per_pid = {
        pid: {k: c[k] - before.get(pid, {}).get(k, 0) for k in keys} for pid, c in after.items()
    }
    busy = [sum(d[k] for k in keys[:4]) for d in per_pid.values() if d["docs"] > 0]
    total = {k: sum(d[k] for d in per_pid.values()) / n_calls for k in keys}
    return {
        "engine.to_utf8_s": total["to_utf8_s"],
        "engine.parse_s": total["parse_s"],
        "engine.main_text_s": total["main_text_s"],
        "engine.spans_s": total["spans_s"],
        "engine.straggler_ratio": max(busy) / _median(busy) if busy else 0.0,
        "engine.docs": total["docs"],
        "engine.input_mb": total["input_bytes"] / 1e6,
        "engine.native": float(bool(after) and all(c["native"] for c in after.values())),
    }


def run_spark(ctx) -> dict:
    from perfbench.eventlog import EventLog, read_events, self_times
    from perfbench.spark_jobs import Golden

    ctx["golden"] = golden = Golden(ctx["record"])
    untraced = _spark_phase(ctx, traced=False, timed=not ctx["trace"])
    calls = untraced["calls"]
    result = {
        "attempted": golden.docs * len(calls),
        "failed": sum(c["failed"] for c in calls),
        "consistent": len({c.get("kept_digest") for c in calls}) <= 1,
        "setup_s": untraced["ready"] - ctx["t_start"] - ctx["prep_s"],
        "docs_per_s": _median([golden.docs / c["wall"] for c in calls]),
        "cpu_s": _median([c["cpu"] for c in calls]),
        "walls": [c["wall"] for c in calls],
    }
    if not ctx["trace"]:
        return result
    # The traced phase runs in a second SparkContext of the same JVM. Its
    # overhead is measured against an untraced third one, which the JVM
    # reaches at least as warm, so the figure errs high, not low.
    traced = _spark_phase(ctx, traced=True)
    tcalls = traced["calls"]
    calls = _spark_phase(ctx, traced=False)["calls"]
    for c in tcalls + calls:
        result["attempted"] += golden.docs
        result["failed"] += c["failed"]
    result["consistent"] = len({c.get("kept_digest") for c in tcalls + calls}) == 1
    log = EventLog(read_events(os.path.join(traced["trace_dir"], "eventlog")), ctx["record"]["pages"])
    ctx["tracer"].spans += log.spans
    n = len(tcalls)
    layer = log.owner_metrics([o for c in tcalls for o in c["owners"]], n)
    layer.update(_engine_from_counters(*traced["engine"], n))
    layer["session.start_s"] = untraced["start_s"]
    layer["session.warm_s"] = untraced["warm_s"]
    layer["trace.overhead_s"] = _median([c["wall"] for c in tcalls]) - _median([c["wall"] for c in calls])
    input_scan_mb = layer.pop("input_scan_mb", 0.0)
    absent = {}
    if ctx["workload"] == "extract_job":
        rounds = [s for c in tcalls for s in c["round_s"]]
        layer["job.rounds"] = _median([c["rounds"] for c in tcalls])
        layer["job.round_s_p50"] = _median(rounds)
        layer["job.round_s_max"] = max(rounds)
        layer["job.lineage_s"] = _median([c["wall"] - sum(c["round_s"]) for c in tcalls])
        layer["job.scan_amplification"] = input_scan_mb / ctx["record"]["file_mb"]
        layer["job.output_mb"] = _median([c["output_mb"] for c in tcalls])
        layer["job.output_files"] = _median([c["output_files"] for c in tcalls])
        absent.update({k: "curate() is not called by extract_job" for k in PER_LAYER if k.startswith("curate.")})
    else:
        layer["curate.build_s"] = _median([c["build_s"] for c in tcalls])
        layer["curate.write_s"] = _median([c["write_s"] for c in tcalls])
        layer["curate.kept_docs"] = _median([c["kept_docs"] for c in tcalls])
        layer["curate.kept_frac"] = layer["curate.kept_docs"] / golden.docs
        layer["curate.copies_removed_frac"] = _median([c["copies_removed_frac"] for c in tcalls])
        absent.update({k: "pipeline/job.py is not called by curate_minhash" for k in PER_LAYER if k.startswith("job.")})
        absent["engine.spans_s"] = "curate extracts without spans"
    self_times(ctx["tracer"].spans)
    result["layer"], result["absent"] = layer, absent
    return result


# --------------------------------------------------------------- engine_lib


def _engine_passes(ctx, pool, traced: bool, parent: str) -> list[dict]:
    tracer, out = ctx["tracer"], []
    t_loop = time.perf_counter()
    while not out or time.perf_counter() - t_loop < ctx["seconds"]:
        span = tracer.begin(f"pass.{len(out)}", "engine", parent)
        cpu0, t0 = time.process_time(), time.perf_counter()
        workers = pool.run_pass(traced)
        wall = time.perf_counter() - t0
        # the pool's own clocks: /proc ticks are too coarse for a 0.3 s pass
        cpu = time.process_time() - cpu0 + sum(w["cpu_s"] for w in workers)
        tracer.end(span, workers=workers)
        out.append({"wall": wall, "cpu": cpu, "workers": workers})
    return out


def run_engine(ctx) -> dict:
    from perfbench.engine_lib import straggler_ratio, timed_setup

    tracer, record = ctx["tracer"], ctx["record"]
    pre_s = time.time() - ctx["t_start"] - ctx["prep_s"]
    span = tracer.begin("session.start", "session", ctx["root"])
    pool, setup_times = timed_setup(ctx["nproc"], SETUP_REPEATS)
    tracer.end(span, setup_times=setup_times)
    try:
        pool.load(record)
        phase = tracer.begin("phase.untraced", "run", ctx["root"])
        passes = _engine_passes(ctx, pool, False, phase)
        tracer.end(phase)
        tpasses = []
        if ctx["trace"]:
            phase = tracer.begin("phase.traced", "run", ctx["root"])
            tpasses = _engine_passes(ctx, pool, True, phase)
            tracer.end(phase)
    finally:
        pool.close()
    docs = sum(w["docs"] for w in passes[0]["workers"])
    every = passes + tpasses
    result = {
        "attempted": docs * len(every),
        "failed": sum(w["failed"] for p in every for w in p["workers"]),
        "consistent": True,
        "setup_s": pre_s + _median(setup_times),
        "docs_per_s": _median([docs / p["wall"] for p in passes]),
        "cpu_s": _median([p["cpu"] for p in passes]),
        "walls": [p["wall"] for p in passes],
    }
    if ctx["trace"]:
        def timer(i):
            return _median([sum(w["timers"][i] for w in p["workers"]) for p in tpasses])

        layer = {k: 0.0 for k in PER_LAYER}
        layer.update({
            "engine.to_utf8_s": timer(0),
            "engine.parse_s": timer(1),
            "engine.main_text_s": timer(2),
            "engine.spans_s": timer(3),
            "engine.straggler_ratio": _median([straggler_ratio(p["workers"]) for p in tpasses]),
            "engine.docs": docs,
            "engine.input_mb": sum(w["input_bytes"] for w in passes[0]["workers"]) / 1e6,
            "engine.native": float(pool.native),
            "session.start_s": _median(setup_times),
            "trace.overhead_s": _median([p["wall"] for p in tpasses]) - _median([p["wall"] for p in passes]),
        })
        result["layer"] = layer
        result["absent"] = {
            k: "engine_lib runs no Spark" for k in PER_LAYER if k.split(".")[0] in ("udfs", "spark", "job", "curate")
        }
        result["absent"]["session.warm_s"] = "the warm-up call is part of each pool start (session.start_s)"
    return result


# --------------------------------------------------------------- entry point

WORKLOADS = {"extract_job": run_spark, "curate_minhash": run_spark, "engine_lib": run_engine}


def _isolate(tmp: str) -> None:
    """Keep every file the run writes inside the checkout."""
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    # every JVM, the launcher's too: no /tmp/hsperfdata_*, temp files here
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        [os.environ.get("JAVA_TOOL_OPTIONS", ""), "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
    ).strip()
    os.environ["PERFBENCH_ENGINE_DIR"] = os.path.join(tmp, "trace", "engine")
    os.environ["XDG_CACHE_HOME"] = os.path.join(CACHE, "xdg")  # the C engine's build
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    t_start = process_start()
    sys.path.insert(0, ROOT)
    from perfbench.procs import adopt_orphans, stop_descendants

    adopt_orphans()
    # a terminated run still goes through the clean-up below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    os.makedirs(os.path.join(CACHE, "tmp"), exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="run-", dir=os.path.join(CACHE, "tmp"))
    try:
        _isolate(tmp)
        from perfbench.inputs import ensure_inputs
        from perfbench.procs import RssSampler

        t0 = time.time()
        record = ensure_inputs(N_DOCS[args.workload], args.seed, with_copies=args.workload == "curate_minhash")
        from htmld_spark.engine.native import get_native

        native_built = get_native() is not None  # compiles once per checkout
        tracer = Tracer()
        ctx = {
            "workload": args.workload, "seconds": args.seconds, "trace": bool(args.trace),
            "record": record, "t_start": t_start, "prep_s": time.time() - t0, "tmp": tmp,
            "nproc": len(os.sched_getaffinity(0)), "tracer": tracer, "root": tracer.begin(args.workload, "run"),
        }
        with RssSampler() as rss:
            result = WORKLOADS[args.workload](ctx)
        tracer.end(ctx["root"])
        if args.trace:
            metrics = {k: {"value": result["layer"].get(k, 0.0), "unit": u} for k, u in PER_LAYER.items()}
        else:
            values = {**result, "py_worker_rss_mb": rss.peak_mb}
            metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
        host = {
            "nproc": ctx["nproc"],
            "spark": __import__("pyspark").__version__,
            "pyarrow": __import__("pyarrow").__version__,
            "native_engine": native_built,
            "call_walls": result["walls"],
            "input": {k: v for k, v in record.items() if k not in ("pages", "golden")},
        }
        print(json.dumps({"host": host, "absent": result.get("absent", {})}), file=sys.stderr)
        if args.trace:
            trace_path = os.path.join(CACHE, "traces", f"{args.workload}-seed{args.seed}.json")
            os.makedirs(os.path.dirname(trace_path), exist_ok=True)
            with open(trace_path, "w") as f:
                json.dump({"host": host, "metrics": result["layer"], "absent": result["absent"],
                           "spans": tracer.spans}, f)
            print(f"spans: {trace_path}", file=sys.stderr)
        print(json.dumps({
            "correct": result["failed"] == 0 and result["consistent"] and result["attempted"] > 0,
            "attempted": result["attempted"],
            "failed": result["failed"],
            "metrics": metrics,
        }))
    finally:
        if "pyspark" in sys.modules:
            from perfbench.spark_jobs import stop_jvm

            stop_jvm()
        if "multiprocessing.resource_tracker" in sys.modules:
            # it ignores SIGTERM and would only end when this process does
            from multiprocessing import resource_tracker

            resource_tracker._resource_tracker._stop()
        stop_descendants()
        shutil.rmtree(tmp, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
