"""Seeded benchmark of the engine: interactive search traffic and LLM ingest-and-dedup cycles.

    python3 esbench/run.py --workload search_mix --seed 1 --seconds 20 --trace 0

Run from the root of a checkout.  One closed-loop client (no think time)
drives the engine's public functions on ``local[<host cores>]`` for
``--seconds`` and checks every operation's output against an answer
computed without the engine.  The last line of stdout is one JSON object:
``correct``, ``attempted``, ``failed`` and ``metrics`` (the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``).
Lines before it start with ``#`` and record the host and a readable
summary.  See ``esbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("search_mix", "llm_dedup")
SETUP_REPS = 3
WARMUP_ROUNDS = 1
MIN_ROUNDS = 4

END_TO_END = {
    "latency_p50_ms": "ms",
    "latency_p90_ms": "ms",
    "ops_per_s": "1/s",
    "docs_per_s": "1/s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "storage_bytes_per_doc_byte": "ratio",
}

OP_TYPES = {
    "search_mix": ("search", "match", "aggs", "esql", "knn", "bm25", "read_docs"),
    "llm_dedup": ("upsert", "delete", "exact", "minhash", "clusters", "segments", "topk"),
}

PER_LAYER = {
    "search.build_ms": "ms",
    "aggs_dsl.build_ms": "ms",
    "esql.build_ms": "ms",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "scheduler.jobs": "count",
    "scheduler.stages": "count",
    "scheduler.tasks": "count",
    "scheduler.stage_wall_ms": "ms",
    "scheduler.gap_ms": "ms",
    "scan.input_bytes": "bytes",
    "scan.input_records": "count",
    "shuffle.write_bytes": "bytes",
    "shuffle.read_bytes": "bytes",
    "exec.task_run_ms": "ms",
    "exec.core_busy_share": "ratio",
    "exec.spill_bytes": "bytes",
    "exec.peak_exec_memory_bytes": "bytes",
    "collect.tail_ms": "ms",
    "collect.rows": "count",
    "sources.build_ms": "ms",
    "sources.read_docs_ms": "ms",
    "sources.write_docs_ms": "ms",
    "sources.rows_per_s": "1/s",
    "catalog.write_index_ms": "ms",
    "catalog.count_index_ms": "ms",
    "catalog.read_index_ms": "ms",
    "catalog.jobs_per_write": "count",
    "catalog.files_per_index": "count",
    "ingest.compile_ms": "ms",
    "operators.exact_dedup_ms": "ms",
    "operators.minhash_lsh_ms": "ms",
    "operators.connected_components_ms": "ms",
    "operators.segments_global_ms": "ms",
    "operators.similarity_topk_ms": "ms",
    "operators.pair_recall": "ratio",
    "operators.pair_base": "count",
    "operators.knn_recall": "ratio",
    "operators.knn_base": "count",
    **{f"op.{t}.p50_ms": "ms" for types in OP_TYPES.values() for t in types},
    "host.sentinel_ms": "ms",
    "host.nproc": "count",
    "host.loadavg_1m": "load",
    "traced.latency_p50_ms": "ms",
    "trace.overhead_ms": "ms",
    "trace.breakdown_error": "ratio",
}

# the parts an operation's time splits into; they should add up to the
# operation's latency less the tracer's own overhead (trace.breakdown_error
# says how far)
_PARTS = (
    "build_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
    "scheduler.stage_wall_ms", "scheduler.gap_ms", "collect.tail_ms", "opaque_ms",
)


def make_workload(name: str, spark, seed: int, size: str):
    """A workload object: ``types`` (its operation-type rotation),
    ``prepare(root, tracer)``, ``schedule()`` (endless ``(type, params)``
    in whole rounds of ``types``), ``execute(type, params, tracer) ->
    (output, docs)``,
    ``expected(type, params)``, ``matches(type, output, expected)``,
    ``final_check()``, ``storage_ratio()`` and ``close()``."""
    if name == "search_mix":
        from search_mix import SearchMix

        return SearchMix(spark, seed, size)
    if name == "llm_dedup":
        from llm_dedup import LlmDedup

        return LlmDedup(spark, seed, size)
    raise ValueError(f"unknown workload {name!r}")


def _median(vals: list[float]) -> float:
    return float(statistics.median(vals)) if vals else 0.0


def _p90(vals: list[float]) -> float:
    if len(vals) < 2:
        return vals[0] if vals else 0.0
    return float(statistics.quantiles(vals, n=10, method="inclusive")[-1])


class Run:
    """One benchmark run: set-up, the measured closed loop, the checks."""

    def __init__(self, spark, workload: str, seed: int, seconds: float, trace: bool,
                 size: str, work_dir: str):
        from tracing import Tracer

        self.seconds = seconds
        self.work_dir = work_dir
        self.tr = Tracer(spark, trace)
        self.wl = make_workload(workload, spark, seed, size)
        self.stream = self.wl.schedule()
        self.attempted = 0
        self.failed = 0
        self.latencies: list[float] = []
        self.by_type: dict[str, list[float]] = {}
        self.docs = 0

    def one(self, typ: str, params, measured: bool) -> None:
        """Run, time and check one operation.  A raising or wrong
        operation counts as failed; it is never skipped."""
        self.attempted += 1
        try:
            t0 = time.perf_counter()
            with self.tr.op(typ if measured else "setup"):
                got, docs = self.wl.execute(typ, params, self.tr)
            ms = (time.perf_counter() - t0) * 1000.0
            ok = self.wl.matches(typ, got, self.wl.expected(typ, params))
        except Exception:
            traceback.print_exc(file=sys.stderr)
            ok = False
        if not ok:
            self.failed += 1
            print(f"# FAILED {typ} {json.dumps(params, default=str)[:300]}", file=sys.stderr)
            return
        if measured:
            self.latencies.append(ms)
            self.by_type.setdefault(typ, []).append(ms)
            self.docs += docs
            if self.tr.enabled:
                self.tr.per_op[-1][1]["latency_ms"] = ms

    def setup(self) -> tuple[list[float], float]:
        """Prepare the inputs ``SETUP_REPS`` times, each time afresh in a
        new directory (the last one is measured), then run
        ``WARMUP_ROUNDS`` rounds of the operation stream unmeasured (they
        pay for every type's cold code paths and are checked like the
        rest).  Returns each preparation's seconds and the warm-up's."""
        prep = []
        for k in range(SETUP_REPS):
            t0 = time.perf_counter()
            with self.tr.op("setup"):
                self.wl.prepare(os.path.join(self.work_dir, f"setup{k}"), self.tr)
            prep.append(time.perf_counter() - t0)
            if k:
                shutil.rmtree(os.path.join(self.work_dir, f"setup{k - 1}"), ignore_errors=True)
        t0 = time.perf_counter()
        for _ in range(WARMUP_ROUNDS * len(self.wl.types)):
            self.one(*next(self.stream), measured=False)
        return prep, time.perf_counter() - t0

    def measure(self) -> float:
        """The closed loop: the next operation as soon as the last one
        completes, for whole rounds of the type rotation until ``seconds``
        have passed and at least ``MIN_ROUNDS`` are done, so every run
        measures the same mix and has a median to report."""
        t0 = time.perf_counter()
        n = len(self.wl.types)
        for i, (typ, params) in enumerate(self.stream):
            if i % n == 0 and i >= MIN_ROUNDS * n and time.perf_counter() - t0 >= self.seconds:
                break
            self.one(typ, params, measured=True)
        return time.perf_counter() - t0

    def final_check(self) -> None:
        self.attempted += 1
        try:
            ok = self.wl.final_check()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            ok = False
        if not ok:
            self.failed += 1
            print("# FAILED final check", file=sys.stderr)


def end_to_end(run: Run, setup_s: float, rss_mb: float) -> dict[str, float]:
    busy_s = sum(run.latencies) / 1000.0
    return {
        "latency_p50_ms": _median(run.latencies),
        "latency_p90_ms": _p90(run.latencies),
        "ops_per_s": len(run.latencies) / busy_s if busy_s else 0.0,
        "docs_per_s": run.docs / busy_s if busy_s else 0.0,
        "setup_s": setup_s,
        "peak_rss_mb": rss_mb,
        "storage_bytes_per_doc_byte": run.wl.storage_ratio(),
    }


def per_layer(run: Run, host: dict, sentinel: list[float]) -> dict[str, float]:
    """Each layer metric is the median, over the measured operations that
    touched the layer, of its per-operation total; a layer touched only
    during set-up reports its set-up median; an untouched layer reports 0."""
    measured = [d for t, d in run.tr.per_op if t != "setup"]
    setup = [d for t, d in run.tr.per_op if t == "setup"]

    def med(key: str, ops=None) -> float:
        pool = ops if ops is not None else measured
        vals = [d[key] for d in pool if key in d]
        if not vals and ops is None:
            vals = [d[key] for d in setup if key in d]
        return _median(vals)

    out = {name: 0.0 for name in PER_LAYER}
    for name in PER_LAYER:
        if not name.startswith(("op.", "host.", "trace")):
            out[name] = med(name)
    cores = run.tr.cores
    out["exec.core_busy_share"] = _median([
        d["exec.task_run_ms"] / (d["busy_wall_ms"] * cores)
        for d in measured if d.get("busy_wall_ms")
    ])
    rows_s = [
        d["sources.rows"] / ((d.get("sources.read_docs_ms", 0.0) + d.get("sources.write_docs_ms", 0.0)) / 1000.0)
        for d in measured if d.get("sources.rows")
    ]
    out["sources.rows_per_s"] = _median(rows_s)
    worst = 0.0
    for typ, lat in run.by_type.items():
        out[f"op.{typ}.p50_ms"] = _median(lat)
        errors = [
            abs(sum(d.get(k, 0.0) for k in _PARTS) / (d["latency_ms"] - d.get("trace.overhead_ms", 0.0)) - 1.0)
            for t, d in run.tr.per_op if t == typ and "latency_ms" in d
        ]
        worst = max(worst, _median(errors))
    out["trace.breakdown_error"] = worst
    out["trace.overhead_ms"] = med("trace.overhead_ms")
    out["traced.latency_p50_ms"] = _median(run.latencies)
    out["host.sentinel_ms"] = _median(sentinel)
    out["host.nproc"] = float(host["nproc"])
    out["host.loadavg_1m"] = float(host["loadavg"][0])
    return out


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=20.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="input sizes; tiny is for the benchmark's own tests")
    return ap.parse_args(argv)


def execute(spark, args, work_dir: str, session_s: float) -> tuple[dict, list[str]]:
    """Run one benchmark in an existing session; returns the result
    object and the summary lines."""
    import tracing

    sentinel = [tracing.sentinel_ms(spark)]
    run = Run(spark, args.workload, args.seed, args.seconds, bool(args.trace), args.size, work_dir)
    try:
        prep, warm = run.setup()
        elapsed = run.measure()
        run.final_check()
        sentinel.append(tracing.sentinel_ms(spark))
        host = tracing.host_record(spark)
        host["sentinel_ms"] = sentinel
        e2e = end_to_end(run, session_s + _median(prep) + warm, tracing.peak_rss_mb(spark))
        if args.trace:
            values, units = per_layer(run, host, sentinel), PER_LAYER
            _write_trace(args, host, run)
        else:
            values, units = e2e, END_TO_END
    finally:
        run.wl.close()
    lines = [
        f"# host {json.dumps(host)}",
        f"# workload {args.workload} seed {args.seed} seconds {args.seconds} trace {args.trace}"
        f" measured {len(run.latencies)} ops in {elapsed:.1f} s",
        f"# error_rate {run.failed / run.attempted:.6f} ({run.failed}/{run.attempted} failed)",
        f"# latencies_ms {json.dumps({t: [round(x) for x in v] for t, v in run.by_type.items()})}",
        f"# setup: session_start_s {session_s:.3f} prepare_s {[round(t, 3) for t in prep]}"
        f" warmup_s {warm:.3f}",
    ] + [f"# {k} {v:.6g} {END_TO_END[k]}" for k, v in e2e.items()]
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }
    return result, lines


def _write_trace(args, host: dict, run: Run) -> None:
    """Spans are kept in memory during the run and written once, here."""
    out_dir = os.path.join(ROOT, ".esbench_work", "traces")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}.json")
    with open(path, "w") as f:
        json.dump({"host": host, "spans": run.tr.spans, "ops": run.tr.per_op}, f)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "elasticsearch_hadoop_spark", "__init__.py")):
        print(f"esbench: no engine package at {ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    os.environ["TZ"] = "UTC"
    time.tzset()
    import tracing

    work_dir = os.path.join(ROOT, ".esbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work_dir, exist_ok=True)
    try:
        t0 = time.perf_counter()
        spark = tracing.start_spark(work_dir)
        try:
            result, lines = execute(spark, args, work_dir, time.perf_counter() - t0)
        finally:
            tracing.stop_spark(spark)
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)
    for line in lines:
        print(line)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
