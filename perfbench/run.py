"""Benchmark of the engine's CDC delivery path and its analytics registry.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The workloads read the engine's own
fixtures (lineitem and events at sf0.1, the analytics tables at sf0.01);
--seed drives the storm workload's fault schedule. Change files, state and
checkpoints go under .perfbench_work/ in the checkout and are removed at
exit; the engine runs on local[4]. A traced run writes its spans to
.perfbench_spans/. Human-readable lines go to stdout first; the last stdout
line is one JSON object {"correct", "attempted", "failed", "metrics"}
holding the end-to-end metrics (--trace 0) or the per-layer metrics
(--trace 1). Exits non-zero without a result when the engine package or
its fixtures are not present.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "sqldataintegrationfunctiontriggerapp_spark"
WORKLOADS = ("cdc_stream", "cdc_storm", "analytics_mix")

END_TO_END = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "rows_per_s": "rows/s",
    "peak_rss_mb": "MB",
}


def per_layer_names() -> list[str]:
    from perfbench.workloads import ANALYTICS_QUERIES

    names = [
        "session.get_session_s", "session.warmup_s",
        "changefeed.latest_offset_ms", "changefeed.get_batch_ms",
        "changefeed.rows_per_batch", "changefeed.scan_rows_per_row_out",
        "pipeline.add_batch_ms", "pipeline.checkpoint_ms",
        "pipeline.query_planning_ms", "pipeline.batches",
        "state.get_calls", "state.get_ms", "state.upsert_calls", "state.upsert_ms",
        "projection.call_ms", "projection.cols_kept_share",
        "http_sink.envelope_ms", "http_sink.post_partitions_ms", "http_sink.post_attempts",
        "http_sink.attempts_per_chunk", "http_sink.rows_per_post", "http_sink.bytes_per_row",
        "http_sink.connections_per_post", "http_sink.backoff_requested_s",
        "receiver.busy_ms", "receiver.post_p50_ms",
        "retry.batch_redeliveries", "retry.last_error_writes", "retry.duplicate_share",
        "spark.jobs", "spark.stages", "spark.tasks", "spark.job_wall_ms",
        "spark.driver_gap_ms", "spark.executor_run_ms", "spark.executor_cpu_ms",
        "spark.gc_ms", "spark.shuffle_read_mb", "spark.shuffle_write_mb",
        "spark.spill_mb", "spark.input_mb",
    ]
    for q in ANALYTICS_QUERIES:
        names += [f"plans.{q}.{m}" for m in ("build_ms", "exec_ms", "driver_gap_ms", "executor_cpu_ms")]
    names += ["trace.overhead_share", "trace.reconcile_share"]
    return names


def layer_unit(name: str) -> str:
    for suffix, unit in (("_ms", "ms"), ("_s", "s"), ("_mb", "MB"), ("_share", "share")):
        if name.endswith(suffix):
            return unit
    if name.endswith("bytes_per_row"):
        return "B/row"
    return "ratio" if "_per_" in name else "count"


class SetupClock:
    """Accumulates the set-up phases that run inside a workload."""

    def __init__(self):
        self.total = 0.0
        self._t = None

    def start(self):
        self._t = time.perf_counter()

    def stop(self):
        self.total += time.perf_counter() - self._t
        self._t = None


def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"engine package {PACKAGE!r} not found under {ROOT}", file=sys.stderr)
        return 2
    # import the benchmark as the `perfbench` package from the checkout root
    if sys.path and os.path.abspath(sys.path[0]) == os.path.dirname(os.path.abspath(__file__)):
        sys.path.pop(0)
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    # Spark's JVM inherits fd 1 and may print into it; keep stdout for the
    # report by pointing fd 1 at stderr while the engine runs.
    report_fd = os.dup(1)
    os.dup2(2, 1)
    sys.stdout = sys.stderr
    # on SIGTERM, unwind through the finally blocks: stop the JVM, drop inputs
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        lines, result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    with os.fdopen(report_fd, "w") as out:
        for line in lines:
            out.write(line + "\n")
        out.write(json.dumps(result) + "\n")
    return 0


def run(args, work: str):
    from perfbench import engine

    engine.configure_env(ROOT, work)
    data = engine.use_fixture("sf0.01" if args.workload == "analytics_mix" else "sf0.1")
    if not os.path.isdir(data):
        raise SystemExit(f"engine fixtures not found at {data}")
    from perfbench import workloads as W
    from perfbench.spans import Tracer
    from perfbench.stats import summarize

    spark, get_session_s = engine.start()
    try:
        tracer = Tracer(f"{args.workload}-{args.seed}", spark, enabled=bool(args.trace))
        clock = SetupClock()
        run_workload = {"cdc_stream": W.run_stream, "cdc_storm": W.run_storm,
                        "analytics_mix": W.run_analytics}[args.workload]
        res = run_workload(spark, work, data, args.seed, args.seconds, tracer, clock)
        if args.trace:
            spans_dir = os.path.join(ROOT, ".perfbench_spans")
            os.makedirs(spans_dir, exist_ok=True)
            tracer.dump(os.path.join(spans_dir, f"{args.workload}-{args.seed}.jsonl"))
        rss = engine.peak_rss_mb()
    finally:
        engine.stop(spark)

    setup_s = get_session_s + clock.total
    lat = [x * 1e3 for x in res.latencies_s] if res.latencies_s is not None else [
        o.latency_s * 1e3 for o in res.ops if o.ok]
    s = summarize(lat)
    attempted = len(res.ops)
    failed = res.failed
    e2e = {
        "setup_s": setup_s,
        # no delivered operation: the run fails, and 0 keeps the line JSON
        "op_p50_ms": s["p50"] if s["p50"] is not None else 0.0,
        "rows_per_s": res.rows_per_s,
        "peak_rss_mb": rss,
    }
    lines = [f"# workload={args.workload} seed={args.seed} seconds={args.seconds:g} "
             f"trace={args.trace} cpus={engine.CPUS}"]
    lines.append(f"setup_s             {setup_s:.4f} s   (n=1; get_session "
                 f"{get_session_s:.3f} + warm-up {clock.total:.3f})")
    tail = (f"p{s['tail_p']:g} {s['tail']:.3f} ms" if s["tail_p"] is not None
            else "none (fewer than 20 samples)")
    lines.append(f"op_p50_ms           {e2e['op_p50_ms']:.3f} ms  (n={s['n']}; tail {tail})")
    lines.append(f"rows_per_s          {res.rows_per_s:.1f} rows/s")
    lines.append(f"peak_rss_mb         {rss:.1f} MB")
    lines.append(f"failed_share        {failed / max(attempted, 1):.4f} share  "
                 f"({failed}/{attempted} operations)")
    for k, v in res.info.items():
        lines.append(f"info.{k:<24} {v:.4f}" if isinstance(v, float) else f"info.{k:<24} {v}")
    for o in res.ops:
        if not o.ok:
            lines.append(f"FAILED {o.name}: {o.why}")
    correct = failed == 0 and attempted > 0
    lines.append(f"correct={correct}")
    if args.trace:
        layers = {n: 0.0 for n in per_layer_names()}
        layers["session.get_session_s"] = get_session_s
        layers["session.warmup_s"] = clock.total
        layers.update({k: v for k, v in res.layers.items() if k in layers})
        metrics = {k: {"value": float(v), "unit": layer_unit(k)} for k, v in layers.items()}
        for k, v in layers.items():
            lines.append(f"{k:<48} {float(v):.4f} {layer_unit(k)}")
    else:
        metrics = {k: {"value": float(v), "unit": END_TO_END[k]} for k, v in e2e.items()}
    return lines, {"correct": correct, "attempted": attempted, "failed": failed,
                   "metrics": metrics}


if __name__ == "__main__":
    sys.exit(main())
