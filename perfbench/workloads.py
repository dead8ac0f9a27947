"""The three benchmark workloads, all on the engine's own fixtures.

- cdc_stream: open loop. A generator thread publishes change files cut from
  `events` (sf0.1) into a file source on a fixed schedule;
  `ChangePipeline.foreach_batch` delivers them to a healthy receiver.
  Per-batch fixed costs dominate.
- cdc_storm: closed loop. Shipdate slices of `lineitem` (sf0.1) go through
  `ChangePipeline.process_batch` one after another, against a receiver that
  refuses POSTs on a seeded schedule, including one chunk per batch that
  exhausts the sink's retry budget, so every batch is redelivered once.
- analytics_mix: eight registry entries through the noop sink (sf0.01).

Each workload returns a `Result` holding its operations (with latency and
verdict), the end-to-end numbers and, when traced, the per-layer numbers.
"""

from __future__ import annotations

import hashlib
import itertools
import math
import os
import threading
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq

from perfbench import sparkstats
from perfbench.receiver import BackoffRecorder, FaultSchedule, Receiver
from perfbench.spans import (
    Tracer, TracedSink, TracedState, child_intervals, reconcile, self_times, union_length,
)
from perfbench.stats import median, percentile

DAY_US = 86_400_000_000
STORM_BATCHES = 12         # lineitem's 600k rows x 11 columns in shipdate slices of 50k
STORM_WARMUP_BATCHES = 2
LINEITEM_CONFIG_ALLOW = "l_orderkey,l_linenumber,l_quantity,l_extendedprice,l_shipdate"
LINEITEM_CLIENT_ALLOW = "L_ORDERKEY"  # already in the config list, other case
STREAM_FILES = 50          # events' 100k rows in files of 2k
STREAM_PERIOD_S = 1.2      # about half the closed-loop drain rate at 4 cores
STREAM_WARMUP_FILES = 4
EVENTS_CONFIG_ALLOW = "event_id,user_id,event_type,value"
EVENTS_CLIENT_ALLOW = "EVENT_TYPE"
STORM_FAIL_SHARE = 0.3
STORM_MAX_ATTEMPTS = 3
REDELIVERY_BUDGET = 4      # deliveries of one batch before it counts as failed
ANALYTICS_QUERIES = (
    "q1_pricing_summary",
    "q7_nation_volume_shipping",
    "funnel_analysis",
    "kmv_jaccard_sources",
    "frequent_term_triples",
    "ann_pq_adc_topk",
    "multimodal_decode_gif",
    "cdc_merge_upsert",
)


@dataclass
class Op:
    name: str
    latency_s: float
    rows: int = 0
    ok: bool = True
    why: str = ""
    traced: bool = False
    counts: dict = field(default_factory=dict)


@dataclass
class Result:
    ops: list = field(default_factory=list)
    rows_per_s: float = 0.0
    # latencies the end-to-end timing reports, when an operation's verdict
    # and its timing have different grains (analytics: per query vs per pass)
    latencies_s: list | None = None
    info: dict = field(default_factory=dict)    # printed, never gated
    layers: dict = field(default_factory=dict)  # per-layer metrics (traced run)

    @property
    def failed(self) -> int:
        return sum(not o.ok for o in self.ops)


def lineitem_row_id(item: dict) -> tuple:
    # (orderkey, linenumber) repeats in the fixture; with the price it is a key
    return (item["l_orderkey"], item["l_linenumber"], item["l_extendedprice"])


def event_row_id(item: dict) -> int:
    return item["event_id"]


# --------------------------------------------------------------------------
# CDC plumbing shared by the two delivery workloads
# --------------------------------------------------------------------------
class CdcRig:
    """Receiver, state store, sink and pipeline for one table; the state
    and sink reach the pipeline through the tracing wrappers."""

    def __init__(self, spark, work: str, table: str, config_csv: str, client_csv: str,
                 row_id, tracer: Tracer, schedule: FaultSchedule | None = None,
                 max_attempts: int = 5):
        from sqldataintegrationfunctiontriggerapp_spark.config import EngineSettings
        from sqldataintegrationfunctiontriggerapp_spark.operators.projection import (
            union_allowlists,
        )
        from sqldataintegrationfunctiontriggerapp_spark.sinks.http_sink import HttpSink
        from sqldataintegrationfunctiontriggerapp_spark.state import StateStore
        from sqldataintegrationfunctiontriggerapp_spark.streaming.pipeline import (
            ChangePipeline,
        )

        self.tracer = tracer
        self.allow = union_allowlists(config_csv, client_csv)
        self.receiver = Receiver(self.allow, row_id, schedule)
        url = self.receiver.start()
        store = StateStore(spark, os.path.join(work, "state"))
        store.save_allowed_columns(table, client_csv)
        self.recorder = BackoffRecorder(os.path.join(work, "backoff.log"))
        sink = HttpSink(base_url=url, max_attempts=max_attempts, sleeper=self.recorder)
        self.state = TracedState(store, tracer)
        self.pipe = ChangePipeline(
            settings=EngineSettings(http_base_url=url, allowed_columns={table: config_csv}),
            state=self.state,
            sink=TracedSink(sink, tracer),
        )
        self.pipe.project = tracer.wrap("pipeline.project", self.pipe.project)
        self.pipe.process_batch = tracer.wrap("pipeline.process_batch", self.pipe.process_batch)
        self._patched = None
        if tracer.enabled:
            self._patch_envelope()

    def _patch_envelope(self):
        from sqldataintegrationfunctiontriggerapp_spark.streaming import pipeline as pmod

        self._patched = pmod.envelope_json
        pmod.envelope_json = self.tracer.wrap("http_sink.envelope_json", pmod.envelope_json)

    def close(self):
        if self._patched is not None:
            from sqldataintegrationfunctiontriggerapp_spark.streaming import pipeline as pmod

            pmod.envelope_json = self._patched
        self.receiver.stop()

    def warm_receiver(self):
        """One empty POST, so the receiver's first real request is warm."""
        import urllib.request

        url = self.pipe.sink.url()
        req = urllib.request.Request(url, data=b"[]", method="POST",
                                     headers={"Content-Type": "application/json"})
        with urllib.request.urlopen(req, timeout=10) as r:
            r.read()


def sink_layers(rig: CdcRig) -> dict:
    c = rig.receiver.counts
    return {
        "http_sink.post_attempts": c.posts,
        "http_sink.attempts_per_chunk": c.posts / max(c.bodies, 1),
        "http_sink.rows_per_post": c.body_rows / max(c.posts, 1),
        "http_sink.bytes_per_row": c.body_bytes / max(c.body_rows, 1),
        "http_sink.connections_per_post": c.connections / max(c.posts, 1),
        "http_sink.backoff_requested_s": sum(rig.recorder.requested()),
        "receiver.busy_ms": c.busy_s * 1e3,
        "receiver.post_p50_ms": percentile(c.handler_s, 50) * 1e3 if c.handler_s else 0.0,
    }


def span_layers(tracer: Tracer, state: TracedState) -> dict:
    """Call counts over every operation, and median per-call times of the
    traced ones (projection as self time: its state lookup is a child)."""
    selfs = self_times(tracer.spans)

    def med_ms(name, use_self=False):
        xs = [(selfs[s.id] if use_self else s.duration) for s in tracer.named(name)]
        return median(xs) * 1e3 if xs else 0.0

    return {
        "state.get_calls": state.get_calls,
        "state.get_ms": med_ms("state.get_allowed_columns"),
        "state.upsert_calls": state.upsert_calls,
        "state.upsert_ms": med_ms("state.upsert"),
        "projection.call_ms": med_ms("pipeline.project", use_self=True),
        "http_sink.envelope_ms": med_ms("http_sink.envelope_json"),
        "http_sink.post_partitions_ms": med_ms("http_sink.post_partitions"),
    }


def spark_layers(spark, job_ids, wall_s: float) -> tuple[dict, sparkstats.JobStats]:
    js = sparkstats.collect(spark, job_ids)
    mb = 1024.0 * 1024.0
    return {
        "spark.jobs": js.jobs,
        "spark.stages": js.stages,
        "spark.tasks": js.tasks,
        "spark.job_wall_ms": js.job_wall_s * 1e3,
        "spark.driver_gap_ms": max(wall_s - js.job_wall_s, 0.0) * 1e3,
        "spark.executor_run_ms": js.run_ms,
        "spark.executor_cpu_ms": js.cpu_ms,
        "spark.gc_ms": js.gc_ms,
        "spark.shuffle_read_mb": js.shuffle_read_bytes / mb,
        "spark.shuffle_write_mb": js.shuffle_write_bytes / mb,
        "spark.spill_mb": js.spill_bytes / mb,
        "spark.input_mb": js.input_bytes / mb,
    }, js


def overhead_share(ops, by_name: bool = True) -> float:
    """(traced - untraced) / untraced from the medians of traced and
    untraced latencies; with `by_name`, per operation name, summed over the
    names that have both."""
    key = (lambda o: o.name) if by_name else (lambda o: "")
    on = off = 0.0
    for name in {key(o) for o in ops}:
        t = [o.latency_s for o in ops if key(o) == name and o.traced]
        u = [o.latency_s for o in ops if key(o) == name and not o.traced]
        if t and u:
            on += median(t)
            off += median(u)
    return (on - off) / off if off else 0.0


def batch_reconcile(tracer: Tracer) -> float:
    """The largest share of a traced `process_batch` call that its direct
    children (projection, envelope, post, LastError write) leave unexplained."""
    return max((reconcile(s.duration, child_intervals(tracer.spans, s))
                for s in tracer.named("pipeline.process_batch")), default=0.0)


# --------------------------------------------------------------------------
# cdc_storm: closed loop over shipdate slices of lineitem, faulty receiver
# --------------------------------------------------------------------------
def prepare_lineitem(data: str):
    """Shipdate slices of the fixture's lineitem: (lo_us, hi_us, row ids,
    the row id in the middle of the slice in file order)."""
    t = pq.read_table(os.path.join(data, "lineitem.parquet"),
                      columns=["l_orderkey", "l_linenumber", "l_extendedprice", "l_shipdate"])
    ship = t.column("l_shipdate").cast("int64").to_numpy()
    ids = list(zip(t.column("l_orderkey").to_pylist(), t.column("l_linenumber").to_pylist(),
                   t.column("l_extendedprice").to_pylist()))
    # shipdates are whole days; day-aligned edges let a batch's watermarks
    # move by up to a day minus 1 us without changing which rows it holds
    edges = np.quantile(ship, np.linspace(0, 1, STORM_BATCHES + 1)) // DAY_US * DAY_US
    edges[0] = ship.min() - DAY_US
    edges[-1] = ship.max()
    slices = []
    for lo, hi in zip(edges[:-1], edges[1:]):
        rows = np.flatnonzero((ship > lo) & (ship <= hi))
        slices.append((int(lo), int(hi), {ids[r] for r in rows}, ids[rows[len(rows) // 2]]))
    return slices


def _us_to_dt(us: int):
    from datetime import datetime, timedelta

    return datetime(1970, 1, 1) + timedelta(microseconds=us)


def run_storm(spark, work: str, data: str, seed: int, seconds: float, tracer: Tracer,
              setup_clock) -> Result:
    from pyspark.sql import functions as F

    from sqldataintegrationfunctiontriggerapp_spark.catalog import load_table
    from sqldataintegrationfunctiontriggerapp_spark.sinks.http_sink import (
        FatalSinkError,
        RetryableSinkError,
    )
    from sqldataintegrationfunctiontriggerapp_spark.sources.changefeed import batch_changes

    slices = prepare_lineitem(data)
    # the chunk holding each batch's middle row (one scan task delivers the
    # batch in file order) exhausts the retry budget after about half the
    # batch was acknowledged, so redelivery duplicates that half
    doomed = frozenset(mid for _, _, _, mid in slices)
    schedule = FaultSchedule(seed, STORM_FAIL_SHARE, STORM_MAX_ATTEMPTS, doomed)
    setup_clock.start()
    trace_mode = tracer.enabled
    rig = CdcRig(spark, work, "lineitem", LINEITEM_CONFIG_ALLOW, LINEITEM_CLIENT_ALLOW,
                 lineitem_row_id, tracer, schedule, max_attempts=STORM_MAX_ATTEMPTS)
    try:
        rig.warm_receiver()
        src = load_table(spark, data, "lineitem")
        def frame(k: int, i: int):
            """Slice k as change batch i. Like successive change-feed
            batches, every batch carries watermarks no earlier batch used
            (shifted by i microseconds), so plans cached for one batch are
            not reused by the next."""
            lo, hi = slices[k][:2]
            return batch_changes(
                src.where(F.col("l_shipdate") <= F.lit(_us_to_dt(hi + i))),
                "l_shipdate", _us_to_dt(lo + i))
        def deliver(k: int, i: int, name: str) -> Op:
            """One batch, redelivered as Structured Streaming would until it
            is acknowledged or the redelivery budget is spent."""
            ledger = rig.receiver.begin_op()
            posts0, errors0 = rig.receiver.counts.posts, rig.state.last_error_calls
            batch = frame(k, i)
            t0 = time.perf_counter()
            deliveries = 0
            ok, why = False, "undelivered within the redelivery budget"
            while deliveries < REDELIVERY_BUDGET:
                deliveries += 1
                try:
                    rig.pipe.process_batch(batch, "lineitem")
                    ok, why = True, ""
                    break
                except RetryableSinkError:
                    continue
                except FatalSinkError as e:
                    why = f"fatal sink error: {e}"[:200]
                    break
            dt = time.perf_counter() - t0
            rig.receiver.end_op()
            expected = slices[k][2]
            if ok and ledger.ids != expected:
                ok, why = False, f"{len(expected - ledger.ids)} rows missing"
            return Op(name, dt, len(expected), ok, why, tracer.enabled, {
                "posts": rig.receiver.counts.posts - posts0,
                "redeliveries": deliveries - 1,
                "last_error_writes": rig.state.last_error_calls - errors0,
                "duplicates": ledger.accepted_rows - len(ledger.ids),
                "distinct": len(ledger.ids),
            })

        # warm-up: the first batches through every layer, receiver included,
        # until the per-batch path has left its JIT-cold phase
        for i in range(STORM_WARMUP_BATCHES):
            deliver(i % len(slices), i, "warmup")
        setup_clock.stop()
        tracer.spans.clear()
        rig.receiver.counts.__init__()
        rig.state.get_calls = rig.state.upsert_calls = rig.state.last_error_calls = 0
        if rig.recorder.requested():
            os.remove(rig.recorder.path)
        first_job = sparkstats.last_job_id(spark)
        res = Result()
        t_start = time.perf_counter()
        # closed loop over the slices, until the window has passed; each
        # batch's counts depend only on the seed and the slice
        for i in itertools.count(STORM_WARMUP_BATCHES):
            k = i % len(slices)
            if trace_mode:
                tracer.enabled = i % 2 == 0
            res.ops.append(deliver(k, i, f"batch{k}"))
            if time.perf_counter() - t_start >= seconds:
                break
        wall = time.perf_counter() - t_start
        tracer.enabled = trace_mode
        c = rig.receiver.counts
        res.rows_per_s = (sum(o.rows for o in res.ops if o.ok)
                          / sum(o.latency_s for o in res.ops))
        total = {key: sum(o.counts[key] for o in res.ops) for key in res.ops[0].counts}
        dup_share = total["duplicates"] / max(total["distinct"], 1)
        res.info.update({
            "batches": len(res.ops),
            "duplicate_share": dup_share,
            "bad_item_keys": c.bad_keys,
            "per_batch ms/posts/redeliveries/last_error_writes/duplicates": "; ".join(
                f"{o.name}:{o.latency_s * 1e3:.0f}/{o.counts['posts']}/{o.counts['redeliveries']}/"
                f"{o.counts['last_error_writes']}/{o.counts['duplicates']}" for o in res.ops),
        })
        if c.bad_keys:
            for o in res.ops:
                o.ok, o.why = False, "item keys outside allowlist"
        if trace_mode:
            jobs = sparkstats.job_ids_after(spark, first_job)
            sl, js = spark_layers(spark, jobs, wall)
            res.layers.update(sl)
            res.layers.update(span_layers(tracer, rig.state))
            res.layers.update(sink_layers(rig))
            res.layers.update({
                "changefeed.scan_rows_per_row_out": js.input_records / max(c.accepted_rows, 1),
                "projection.cols_kept_share": len(rig.allow) / 11.0,
                "pipeline.batches": len(res.ops),
                "retry.batch_redeliveries": total["redeliveries"],
                "retry.last_error_writes": total["last_error_writes"],
                "retry.duplicate_share": dup_share,
                "trace.overhead_share": overhead_share(res.ops, by_name=False),
                "trace.reconcile_share": batch_reconcile(tracer),
            })
        return res
    finally:
        rig.close()

# --------------------------------------------------------------------------
# cdc_stream: open loop through the file source and foreach_batch
# --------------------------------------------------------------------------
def run_stream(spark, work: str, data: str, seed: int, seconds: float, tracer: Tracer,
               setup_clock) -> Result:
    from sqldataintegrationfunctiontriggerapp_spark.sources.changefeed import stream_changes

    events = pq.read_table(os.path.join(data, "events.parquet"))
    staging = os.path.join(work, "staging")
    src = os.path.join(work, "stream_src")
    os.makedirs(staging)
    os.makedirs(src)
    per = math.ceil(events.num_rows / STREAM_FILES)
    files = []
    for k in range(STREAM_FILES):
        part = events.slice(k * per, per)
        name = f"part-{k:05d}.parquet"
        pq.write_table(part, os.path.join(staging, name))
        files.append((name, part.column("event_id").to_numpy()))

    setup_clock.start()
    trace_mode = tracer.enabled
    rig = CdcRig(spark, work, "events", EVENTS_CONFIG_ALLOW, EVENTS_CLIENT_ALLOW,
                 event_row_id, tracer)
    recv = rig.receiver
    recv.stamp_rows = True
    # the stream thread alternates traced and untraced batches
    calls = {"n": 0}
    timed_batches: list[tuple[float, bool]] = []
    inner = rig.pipe.process_batch

    def process_batch(df, table):
        traced = trace_mode and calls["n"] % 2 == 1
        calls["n"] += 1
        tracer.enabled = traced
        t0 = time.perf_counter()
        try:
            return inner(df, table)
        finally:
            timed_batches.append((time.perf_counter() - t0, traced))

    rig.pipe.process_batch = process_batch
    query = None
    try:
        rig.warm_receiver()
        schema = spark.read.parquet(os.path.join(staging, files[0][0])).schema
        query = (
            stream_changes(spark, src, schema)
            .writeStream.foreachBatch(rig.pipe.foreach_batch("events"))
            .option("checkpointLocation", os.path.join(work, "checkpoint"))
            .start()
        )

        def publish(k):
            os.rename(os.path.join(staging, files[k][0]), os.path.join(src, files[k][0]))

        def acked(k) -> bool:
            return all(int(i) in recv.ack_times for i in files[k][1])

        def wait_acked(ks, timeout):
            deadline = time.time() + timeout
            while time.time() < deadline:
                if query.exception() is not None:
                    return False
                if all(acked(k) for k in ks):
                    return True
                time.sleep(0.01)
            return False

        # warm-up: the first files one at a time, until the per-batch path
        # has left its JIT-cold phase (the first batches run ~1.7x slower)
        for k in range(STREAM_WARMUP_FILES):
            publish(k)
            if not wait_acked([k], 30):
                raise RuntimeError(f"warm-up file {k} was not delivered")
        # rows are acknowledged inside process_batch; let the last warm-up
        # batch return and commit before the counters are reset
        query.processAllAvailable()
        setup_clock.stop()
        tracer.spans.clear()
        first_job = sparkstats.last_job_id(spark)
        first_progress = len(query.recentProgress)
        calls["n"] = 0
        timed_batches.clear()
        recv.counts.__init__()
        rig.state.get_calls = rig.state.upsert_calls = 0

        measured = list(range(STREAM_WARMUP_FILES, STREAM_FILES))
        due: dict[int, float] = {}
        late: list[float] = []
        t0 = time.time() + 0.05

        def generator():
            for i, k in enumerate(measured):
                d = t0 + i * STREAM_PERIOD_S
                if d > t0 + seconds:
                    break
                pause = d - time.time()
                if pause > 0:
                    time.sleep(pause)
                publish(k)
                due[k] = d
                late.append(time.time() - d)

        gen = threading.Thread(target=generator, name="change-file-generator")
        gen.start()
        gen.join(timeout=seconds + 30)
        published = sorted(due)
        drained = wait_acked(published, 30)
        if drained:
            query.processAllAvailable()  # the last batch's process_batch returns
        wall = time.time() - t0
        res = Result()
        for k in published:
            ids = files[k][1]
            got = [recv.ack_times.get(int(i)) for i in ids]
            if any(g is None for g in got):
                res.ops.append(Op(f"file{k}", float("nan"), len(ids), False,
                                  f"{sum(g is None for g in got)} rows missing"))
                continue
            res.ops.append(Op(f"file{k}", max(got) - due[k], len(ids)))
        if recv.counts.bad_keys:
            for o in res.ops:
                o.ok, o.why = False, "item keys outside allowlist"
        if not drained and query.exception() is not None:
            res.info["stream_error"] = str(query.exception())[:300]
        # the pipeline's own time: delivered rows over the summed wall of
        # the process_batch calls that delivered them
        batch_wall = sum(dt for dt, _ in timed_batches)
        res.rows_per_s = sum(o.rows for o in res.ops if o.ok) / max(batch_wall, 1e-9)
        res.info.update({
            "files": len(published),
            "period_s": STREAM_PERIOD_S,
            "generator_late_p50_ms": percentile(late, 50) * 1e3 if late else 0.0,
            "generator_late_max_ms": max(late) * 1e3 if late else 0.0,
            "bad_item_keys": recv.counts.bad_keys,
            "lag_ms": " ".join(f"{o.latency_s * 1e3:.0f}" for o in res.ops),
        })
        progress = [p for p in query.recentProgress[first_progress:] if p.numInputRows > 0]
        if trace_mode:
            def dur(key):
                xs = [p.durationMs.get(key, 0) for p in progress]
                return median(xs) if xs else 0.0

            sl, js = spark_layers(spark, sparkstats.job_ids_after(spark, first_job), wall)
            res.layers.update(sl)
            res.layers.update(span_layers(tracer, rig.state))
            res.layers.update(sink_layers(rig))
            batch_ops = [Op("b", dt, traced=tr) for dt, tr in timed_batches]
            res.layers.update({
                "changefeed.latest_offset_ms": dur("latestOffset"),
                "changefeed.get_batch_ms": dur("getBatch"),
                "changefeed.rows_per_batch": median([p.numInputRows for p in progress]) if progress else 0.0,
                "changefeed.scan_rows_per_row_out": js.input_records / max(recv.counts.accepted_rows, 1),
                "pipeline.add_batch_ms": dur("addBatch"),
                "pipeline.checkpoint_ms": median([
                    p.durationMs.get("walCommit", 0) + p.durationMs.get("commitOffsets", 0)
                    for p in progress]) if progress else 0.0,
                "pipeline.query_planning_ms": dur("queryPlanning"),
                "pipeline.batches": len(progress),
                "projection.cols_kept_share": len(rig.allow) / 6.0,
                "trace.overhead_share": overhead_share(batch_ops),
                "trace.reconcile_share": batch_reconcile(tracer),
            })
        return res
    finally:
        tracer.enabled = trace_mode
        if query is not None:
            query.stop()
        rig.close()


# --------------------------------------------------------------------------
# analytics_mix: eight registry entries through the noop sink
# --------------------------------------------------------------------------
def canon_hash(columns, rows) -> str:
    """Order-insensitive hash of a result: columns sorted by name, floats by
    repr, rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                vals.append("NaN" if math.isnan(v) else repr(v))
            else:
                vals.append(str(v))
        out.append(tuple(vals))
    out.sort()
    return hashlib.sha256(repr(out).encode()).hexdigest()


def oracle_hashes(data: str, names) -> dict:
    import duckdb

    from sqldataintegrationfunctiontriggerapp_spark.catalog import TABLES
    from sqldataintegrationfunctiontriggerapp_spark.plans import ORACLES

    con = duckdb.connect()
    try:
        con.execute("SET threads TO 4")
        for t in TABLES:
            p = os.path.join(data, f"{t}.parquet")
            con.sql(f"CREATE VIEW {t} AS FROM read_parquet('{p}')")
        out = {}
        for n in names:
            rel = con.sql(ORACLES[n])
            out[n] = canon_hash(rel.columns, rel.fetchall())
        return out
    finally:
        con.close()


def run_analytics(spark, work: str, data: str, seed: int, seconds: float, tracer: Tracer,
                  setup_clock) -> Result:
    from sqldataintegrationfunctiontriggerapp_spark.plans import QUERIES
    from sqldataintegrationfunctiontriggerapp_spark.plans._util import stage_ledger_tick

    setup_clock.start()
    trace_mode = tracer.enabled
    # warm-up pass doubles as the output check: collect and hash each result
    got: dict[str, str] = {}
    errors: dict[str, str] = {}
    for name in ANALYTICS_QUERIES:
        try:
            df = QUERIES[name](spark, data)
            got[name] = canon_hash(df.columns, [tuple(r) for r in df.collect()])
        except Exception as e:  # a raising query is a failed operation
            errors[name] = f"{type(e).__name__}: {e}"[:200]
        spark.catalog.clearCache()
        stage_ledger_tick(spark)
    setup_clock.stop()

    res = Result()
    first_job = sparkstats.last_job_id(spark)
    t_start = time.perf_counter()
    passes = 0
    while True:
        for qi, name in enumerate(ANALYTICS_QUERIES):
            # traced runs alternate tracing per query and pass, so every query
            # has traced and untraced runs and pass order does not bias them
            traced = trace_mode and (passes + qi) % 2 == 1
            tracer.enabled = traced
            t0 = time.perf_counter()
            ok, why = name not in errors, errors.get(name, "")
            try:
                with tracer.span(f"plans.{name}.build"):
                    df = QUERIES[name](spark, data)
                with tracer.span(f"plans.{name}.exec", job_group=True):
                    df.write.mode("overwrite").format("noop").save()
            except Exception as e:
                ok, why = False, f"{type(e).__name__}: {e}"[:200]
            dt = time.perf_counter() - t0
            spark.catalog.clearCache()
            stage_ledger_tick(spark)
            res.ops.append(Op(name, dt, 0, ok, why, traced))
        passes += 1
        done = time.perf_counter() - t_start >= seconds
        if done and (not trace_mode or passes >= 2):
            break
    wall = time.perf_counter() - t_start
    tracer.enabled = trace_mode
    jobs = sparkstats.job_ids_after(spark, first_job)
    js = sparkstats.collect(spark, jobs)
    res.rows_per_s = js.input_records / sum(o.latency_s for o in res.ops)
    expected = oracle_hashes(data, [n for n in ANALYTICS_QUERIES if n in got])
    for o in res.ops:
        if o.ok and got.get(o.name) != expected.get(o.name):
            o.ok, o.why = False, "output hash differs from the DuckDB oracle"
    n_q = len(ANALYTICS_QUERIES)
    res.latencies_s = [sum(o.latency_s for o in res.ops[i:i + n_q])
                       for i in range(0, len(res.ops), n_q)]
    res.info.update({
        "passes": passes,
        "query_wall_s": median(res.latencies_s),
        "input_rows": js.input_records,
        "query_ms": " ".join(f"{o.name}={o.latency_s * 1e3:.0f}" for o in res.ops),
    })
    if trace_mode:
        sl, _ = spark_layers(spark, jobs, wall)
        res.layers.update(sl)
        worst = 0.0
        for name in ANALYTICS_QUERIES:
            build = tracer.named(f"plans.{name}.build")
            ex = tracer.named(f"plans.{name}.exec")
            cpu_ms = gap_ms = 0.0
            for s in ex:
                qjs = sparkstats.collect(spark, sparkstats.job_ids_for_group(spark, s.job_group))
                clipped = [(max(a, s.start), min(b, s.end)) for a, b in qjs.intervals]
                gap_ms += (s.duration - union_length(clipped)) * 1e3
                cpu_ms += qjs.cpu_ms
                # the noop write against the Spark jobs tagged with its group
                worst = max(worst, reconcile(s.duration, clipped))
            n = max(len(ex), 1)
            res.layers.update({
                f"plans.{name}.build_ms": median([s.duration for s in build]) * 1e3 if build else 0.0,
                f"plans.{name}.exec_ms": median([s.duration for s in ex]) * 1e3 if ex else 0.0,
                f"plans.{name}.driver_gap_ms": gap_ms / n,
                f"plans.{name}.executor_cpu_ms": cpu_ms / n,
            })
        res.layers["trace.overhead_share"] = overhead_share(res.ops)
        res.layers["trace.reconcile_share"] = worst
    return res
