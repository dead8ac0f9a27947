"""End-to-end change pipeline: change feed -> allowlist projection -> JSON
envelope -> HTTP sink with classified retry + LastError state (reference
ExecuteTriggerHelper.cs:28-158 + HttpPostAction.cs:33-87)."""

from __future__ import annotations

import http.server
import json
import os
import socket
import threading

import pytest

from sqldataintegrationfunctiontriggerapp_spark.catalog import load_table
from sqldataintegrationfunctiontriggerapp_spark.config import EngineSettings
from sqldataintegrationfunctiontriggerapp_spark.sinks.http_sink import (
    FatalSinkError,
    HttpSink,
    RetryableSinkError,
    classify_status,
    truncate_error,
)
from sqldataintegrationfunctiontriggerapp_spark.sources.changefeed import (
    batch_changes,
    latest_state_per_key,
)
from sqldataintegrationfunctiontriggerapp_spark.state import StateStore
from sqldataintegrationfunctiontriggerapp_spark.streaming.pipeline import ChangePipeline


class _Handler(http.server.BaseHTTPRequestHandler):
    status_plan: list[int] = [200]
    received: list[list] = []

    def do_POST(self):  # noqa: N802
        body = self.rfile.read(int(self.headers["Content-Length"]))
        _Handler.received.append(json.loads(body))
        status = _Handler.status_plan.pop(0) if len(_Handler.status_plan) > 1 else _Handler.status_plan[0]
        self.send_response(status)
        self.send_header("Content-Length", "2")
        self.end_headers()
        self.wfile.write(b"ok")

    def log_message(self, *a):  # silence
        pass


@pytest.fixture()
def http_server():
    _Handler.status_plan = [200]
    _Handler.received = []
    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), _Handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_address[1]}", _Handler
    srv.shutdown()


@pytest.fixture()
def pipeline(spark, tmp_path, http_server):
    base_url, handler = http_server
    settings = EngineSettings(allowed_columns={"events": "event_id,user_id,event_type"})
    state = StateStore(spark, str(tmp_path / "state"))
    sink = HttpSink(base_url=base_url, max_attempts=2, sleeper=lambda s: None)
    return ChangePipeline(settings, state, sink), handler, state


def test_classify_status_matrix():
    # A8: HttpPostAction.cs:74-83
    assert classify_status(200) == "success"
    assert classify_status(204) == "success"
    for s in (408, 429, 500, 503, 599):
        assert classify_status(s) == "retryable"
    for s in (400, 401, 403, 404, 418):
        assert classify_status(s) == "fatal"


def test_truncate_error_500_chars():
    assert truncate_error("x" * 1000) == "x" * 500  # A9


def test_end_to_end_post_projects_and_envelopes(spark, sf_dir, pipeline):
    pipe, handler, state = pipeline
    ev = load_table(spark, sf_dir, "events")
    batch = batch_changes(ev, "ts", "2024-01-28", operation="Update")
    n = pipe.process_batch(batch, "events")
    assert n == batch.count() > 0
    assert len(handler.received) == 1
    doc = handler.received[0][0]
    # envelope: {"operation": ..., "item": {allowlisted columns only}}
    assert doc["operation"] == "Update"
    assert set(doc["item"].keys()) == {"event_id", "user_id", "event_type"}


def test_client_allowlist_unions_with_config(spark, sf_dir, pipeline):
    pipe, handler, state = pipeline
    state.save_allowed_columns("events", "value")
    assert pipe.resolve_allowlist("[events]") == {
        "event_id", "user_id", "event_type", "value"
    }


def test_failure_records_last_error_and_reraises(spark, sf_dir, pipeline):
    pipe, handler, state = pipeline
    handler.status_plan = [404]
    ev = load_table(spark, sf_dir, "events").limit(3)
    from sqldataintegrationfunctiontriggerapp_spark.sources.changefeed import with_operation

    with pytest.raises(FatalSinkError):
        pipe.process_batch(with_operation(ev), "events")
    # A10: LastError recorded, keyed by normalized table name
    assert "status=404" in state.get("LastError", "events")
    assert pipe.last_outcome == {"table": "events", "ok": False, "retryable": False}


def test_retryable_backoff_then_raise(spark, sf_dir, pipeline):
    """Executor-side POST path: the 503 classification must survive the trip
    back to the driver (post_partitions re-raises with the fatal-vs-retryable
    signal intact). Backoff TIMING is asserted driver-side in
    test_backoff_schedule_first_10s below -- the executor's sleeper is a
    pickled copy the test process cannot record."""
    pipe, handler, state = pipeline
    handler.status_plan = [503, 503]
    from sqldataintegrationfunctiontriggerapp_spark.sources.changefeed import with_operation

    ev = load_table(spark, sf_dir, "events").limit(2)
    with pytest.raises(RetryableSinkError):
        pipe.process_batch(with_operation(ev), "events")
    # max_attempts=2: initial try + 1 backed-off retry reached the server
    assert len(handler.received) == 2
    assert pipe.last_outcome["retryable"] is True
    assert "status=503" in state.get("LastError", "events")


def test_process_batch_posts_executor_side_only(spark, sf_dir, pipeline):
    """Deployment-path pin (VERDICT r11 #6): ChangePipeline.process_batch
    must route through the executor-side post_partitions path -- a
    multi-partition batch arrives as one POST per partition (no driver
    fan-in)."""
    pipe, handler, state = pipeline
    from sqldataintegrationfunctiontriggerapp_spark.sources.changefeed import (
        with_operation,
    )

    ev = with_operation(
        load_table(spark, sf_dir, "events").limit(40).repartition(4)
    )
    n = pipe.process_batch(ev, "events")
    assert n == 40
    # 4 non-empty partitions, chunk_rows=500 > 10 rows each -> exactly one
    # POST per partition; a driver-side collect would have produced 1
    assert len(handler.received) == 4
    assert sum(len(req) for req in handler.received) == 40


def _closed_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def test_refused_connection_is_retryable_and_records_last_error(
        spark, sf_dir, pipeline):
    """A transport failure is retryable (A8: an HttpRequestException without
    the retry=false tag): a closed receiver port must surface from the
    executor-side POST as RetryableSinkError and leave a LastError, not
    escape as a raw URLError / opaque task failure."""
    pipe, handler, state = pipeline
    pipe.sink = HttpSink(base_url=f"http://127.0.0.1:{_closed_port()}",
                         max_attempts=2, sleeper=lambda s: None)
    from sqldataintegrationfunctiontriggerapp_spark.sources.changefeed import with_operation

    ev = load_table(spark, sf_dir, "events").limit(3)
    with pytest.raises(RetryableSinkError, match="transport error"):
        pipe.process_batch(with_operation(ev), "events")
    assert "transport error" in state.get("LastError", "events")
    assert pipe.last_outcome == {"table": "events", "ok": False, "retryable": True}


@pytest.mark.parametrize("receiver", ["refused", "silent"])
def test_transport_errors_back_off_then_raise_retryable(receiver):
    """Refused and timed-out connections take the A15 backoff like a 503."""
    with socket.socket() as silent:  # accepts (backlog) but never answers
        silent.bind(("127.0.0.1", 0))
        silent.listen(4)
        port = _closed_port() if receiver == "refused" else silent.getsockname()[1]
        sleeps: list[float] = []
        sink = HttpSink(base_url=f"http://127.0.0.1:{port}", max_attempts=2,
                        timeout_seconds=0.2, sleeper=sleeps.append)
        with pytest.raises(RetryableSinkError, match="transport error"):
            sink.post_payloads(["{}"])
    assert sleeps == [10.0]


def _events_pipeline_without_config_allowlist(pipeline):
    """The fixture's pipeline with no config allowlist, so the client
    allowlist in state is the only thing narrowing the posted columns."""
    pipe, handler, state = pipeline
    return ChangePipeline(EngineSettings(), state, pipe.sink), handler, state


def test_failed_allowlist_upsert_never_widens_egress(spark, sf_dir, pipeline,
                                                     monkeypatch):
    """A state write that dies midway must leave the prior allowlist in
    force: the next batch posts no column outside it. (A lost allowlist
    would read as "none configured" and post every column, A2.)"""
    from sqldataintegrationfunctiontriggerapp_spark import state as state_mod
    from sqldataintegrationfunctiontriggerapp_spark.sources.changefeed import with_operation

    pipe, handler, state = _events_pipeline_without_config_allowlist(pipeline)
    state.save_allowed_columns("events", "event_id,value")

    def torn_dump(obj, f):
        f.write('{"value": "event_id,value,us')
        raise OSError(28, "No space left on device")

    monkeypatch.setattr(state_mod.json, "dump", torn_dump)
    with pytest.raises(OSError):
        state.save_allowed_columns("events", "event_id,value,user_id")
    monkeypatch.undo()
    doc = state._doc_path("AllowedColumns", "events")
    assert os.listdir(os.path.dirname(doc)) == ["events.json"]  # no temp left

    ev = load_table(spark, sf_dir, "events").limit(5)
    assert pipe.process_batch(with_operation(ev), "events") == 5
    items = [doc["item"] for req in handler.received for doc in req]
    assert len(items) == 5
    assert all(set(item) == {"event_id", "value"} for item in items)


def test_corrupt_allowlist_fails_batch_before_any_post(spark, sf_dir, pipeline):
    """An allowlist document that exists but cannot be parsed fails the
    batch before the sink is reached (the checkpoint does not advance);
    it is never read as "no allowlist", which would post every column."""
    from sqldataintegrationfunctiontriggerapp_spark.sources.changefeed import with_operation

    pipe, handler, state = _events_pipeline_without_config_allowlist(pipeline)
    state.save_allowed_columns("events", "event_id,value")
    with open(state._doc_path("AllowedColumns", "events"), "w") as f:
        f.write('{"value": "event_id,va')  # torn by something outside the store
    ev = load_table(spark, sf_dir, "events").limit(5)
    with pytest.raises(ValueError):
        pipe.process_batch(with_operation(ev), "events")
    assert handler.received == []
    with pytest.raises(ValueError):
        state.as_dataframe()


def test_backoff_schedule_first_10s(http_server):
    """A15 first backoff = 10 s (RetryFunctions.cs:44), asserted against the
    driver-side post path where the sleeper is observable."""
    base_url, handler = http_server
    handler.status_plan = [503, 503]
    sleeps: list[float] = []
    sink = HttpSink(base_url=base_url, max_attempts=2, sleeper=sleeps.append)
    with pytest.raises(RetryableSinkError):
        sink.post_payloads(["{}"])
    assert sleeps == [10.0]


def test_batch_changes_watermark_and_cap(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    capped = batch_changes(ev, "ts", "2024-01-01", max_batch_rows=10,
                           order_cols=["ts", "event_id"])
    assert capped.count() == 10  # Sql_Trigger_MaxBatchSize analog
    assert "operation" in capped.columns


def test_latest_state_per_key(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    latest = latest_state_per_key(ev, "user_id", ["ts", "event_id"])
    assert latest.count() == ev.select("user_id").distinct().count()
