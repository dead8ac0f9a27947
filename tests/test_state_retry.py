"""Keyed state store (EntityFunctions.cs), retry controller
(RetryFunctions.cs), notifier throttling (NotifyFunctions.cs), retention GC
(CleanupFunction.cs)."""

from __future__ import annotations

from datetime import datetime, timedelta, timezone

import pytest

from sqldataintegrationfunctiontriggerapp_spark.config import EngineSettings
from sqldataintegrationfunctiontriggerapp_spark.maintenance import purge_history
from sqldataintegrationfunctiontriggerapp_spark.retry import (
    Notifier,
    RetryController,
    SingletonRegistry,
    rearm_attempt_count,
    timed_out,
)
from sqldataintegrationfunctiontriggerapp_spark.state import StateStore


def test_state_upsert_and_point_lookup(spark, tmp_path):
    st = StateStore(spark, str(tmp_path / "state"))
    assert st.get_allowed_columns("t1") is None
    st.save_allowed_columns("t1", "a,b")
    st.save_last_error("t1", "boom")
    st.save_allowed_columns("t1", "a,b,c")  # last-writer-wins
    assert st.get_allowed_columns("t1") == "a,b,c"
    assert st.get("LastError", "t1") == "boom"
    assert st.as_dataframe().count() == 2  # one row per (entity, key)


def test_state_upsert_leaves_other_keys_untouched(spark, tmp_path):
    """An upsert replaces its own key's document and nothing else: the files
    of other keys -- same key under another entity type included -- keep
    their inode and mtime, and no temp file survives a committed write."""
    import os

    st = StateStore(spark, str(tmp_path / "state"))
    st.save_allowed_columns("t1", "a,b")
    st.save_last_error("t1", "boom")
    st.save_last_error("t2", "boom")

    def stat_of(entity, key):
        s = os.stat(st._doc_path(entity, key))
        return s.st_ino, s.st_mtime_ns

    others = {("AllowedColumns", "t1"), ("LastError", "t1")}
    before = {k: stat_of(*k) for k in others}
    before_t2 = stat_of("LastError", "t2")
    st.save_last_error("t2", "boom again")
    assert {k: stat_of(*k) for k in others} == before  # bytes untouched
    assert stat_of("LastError", "t2") != before_t2      # target replaced
    assert st.get_allowed_columns("t1") == "a,b"
    assert st.get("LastError", "t1") == "boom"
    assert st.get("LastError", "t2") == "boom again"
    assert sorted(os.listdir(os.path.dirname(st._doc_path("LastError", "t2")))) \
        == ["t1.json", "t2.json"]


def test_state_upsert_incoming_wins_under_clock_skew(spark, tmp_path):
    """Last-writer-wins is CALL order, not stored-timestamp order (ADVICE
    r06 #2): a stored document stamped in the FUTURE (skewed writer clock)
    must still lose to the incoming upsert, exactly like a durable entity
    applying operations in arrival order (EntityFunctions.cs:17-21)."""
    import json
    from datetime import datetime

    st = StateStore(spark, str(tmp_path / "state"))
    st.save_last_error("t1", "old")
    with open(st._doc_path("LastError", "t1"), "w") as f:
        json.dump({"value": "from the future", "updated_at": "2999-01-01T00:00:00"}, f)
    st.save_last_error("t1", "incoming")
    assert st.get("LastError", "t1") == "incoming"
    rows = st.as_dataframe().where("key = 't1'").collect()
    assert len(rows) == 1 and rows[0]["value"] == "incoming"
    assert rows[0]["updated_at"] < datetime(2999, 1, 1)


def test_state_keys_are_quoted_into_file_names(spark, tmp_path):
    """Keys are arbitrary table names: path separators and leading dots
    stay inside one file name and round-trip through as_dataframe."""
    st = StateStore(spark, str(tmp_path / "state"))
    keys = ["dbo/orders", ".hidden", "[sales].[x y]"]
    for k in keys:
        st.save_allowed_columns(k, k.upper())
    assert [st.get_allowed_columns(k) for k in keys] == [k.upper() for k in keys]
    got = {(r["key"], r["value"]) for r in st.as_dataframe().collect()}
    assert got == {(k, k.upper()) for k in keys}


def test_state_ignores_leftover_temp_files(spark, tmp_path):
    """A writer killed before its rename leaves a temp file next to the
    document; readers see only committed documents."""
    st = StateStore(spark, str(tmp_path / "state"))
    st.save_allowed_columns("t1", "a,b")
    doc = st._doc_path("AllowedColumns", "t1")
    with open(doc + ".tmp.0123abcd", "w") as f:
        f.write('{"value": "a,b,c,d", "upd')   # torn: never committed
    with open(st._doc_path("AllowedColumns", "t2") + ".tmp.4567ef", "w") as f:
        f.write('{"value": "x"')                # a key that never committed
    assert st.get_allowed_columns("t1") == "a,b"
    assert st.get_allowed_columns("t2") is None
    rows = st.as_dataframe().collect()
    assert [(r["key"], r["value"]) for r in rows] == [("t1", "a,b")]
    st.save_allowed_columns("t2", "x,y")  # a later writer commits normally
    assert st.get_allowed_columns("t2") == "x,y"


def test_cli_shim_get_set(spark, tmp_path):
    """ClientAllowedColumnsFunction.cs:16-56 analog: set then get through the
    CLI surface; missing key maps to rc=1 (the 404 path)."""
    from sqldataintegrationfunctiontriggerapp_spark import cli

    path = str(tmp_path / "state")
    p = cli.build_parser()
    rc, _ = cli.run(p.parse_args(
        ["allowed-columns", "set", "--state-path", path,
         "--table", "events", "--columns", "a,b"]), spark)
    assert rc == 0
    rc, val = cli.run(p.parse_args(
        ["allowed-columns", "get", "--state-path", path, "--table", "events"]),
        spark)
    assert (rc, val) == (0, "a,b")
    rc, val = cli.run(p.parse_args(
        ["last-error", "get", "--state-path", path, "--table", "events"]),
        spark)
    assert (rc, val) == (1, None)


def test_backoff_capped_linear():
    s = EngineSettings()
    # A12 (RetryFunctions.cs:30-33): 6, 7, ..., capped at 12
    assert [s.backoff_minutes(n) for n in (0, 1, 5, 6, 99)] == [6, 7, 11, 12, 12]


def test_timeout_and_rearm():
    now = datetime(2026, 1, 10, tzinfo=timezone.utc)
    assert timed_out(now - timedelta(hours=169), 168, now)  # A19
    assert not timed_out(now - timedelta(hours=167), 168, now)
    assert rearm_attempt_count(5) == 4  # A18
    assert rearm_attempt_count(3) is None


def test_retry_loop_stops_on_success_and_notifies_on_threshold():
    settings = EngineSettings(notify_on_retry_count=2)
    counts = [5, 3, 2, None]  # A16 probe results; None => success, stop
    notifier = Notifier()
    rearmed = []
    ctl = RetryController(
        settings,
        "t1",
        probe_attempt_count=lambda: counts.pop(0),
        rearm=rearmed.append,
        notifier=notifier,
        sleeper=lambda s: None,
        clock=lambda: datetime.now(timezone.utc),
    )
    iters = ctl.run_retry_loop()
    assert iters == 3  # stopped when probe returned None (A17)
    assert rearmed == [4]  # count==5 re-armed once (A18)
    assert notifier.sent == [("t1", "retry #2 for t1")]  # A20 threshold


def test_step_times_out_outside_run_retry_loop():
    """A19 holds for a controller driven one step at a time: the first step
    starts the clock, and a step past total_retry_timeout_hours stops."""
    ctl = RetryController(
        EngineSettings(total_retry_timeout_hours=1),
        "t1",
        probe_attempt_count=lambda: 3,
    )
    t0 = datetime(2026, 1, 1, tzinfo=timezone.utc)
    assert ctl.step(t0)
    assert ctl.step(t0 + timedelta(minutes=59))
    assert not ctl.step(t0 + timedelta(hours=1, minutes=1))
    assert ctl.retry_count == 2


def test_notifier_throttles_six_hours():
    t = [datetime(2026, 1, 1, 0, 0, tzinfo=timezone.utc)]
    n = Notifier(throttle_minutes=360, clock=lambda: t[0])
    assert n.notify("k", "m1") is True
    t[0] += timedelta(minutes=359)
    assert n.notify("k", "m2") is False  # suppressed (A22)
    t[0] += timedelta(minutes=2)
    assert n.notify("k", "m3") is True   # window passed
    assert n.notify("k", "m4", throttled=False) is True  # A20 path untouched


def test_singleton_registry():
    reg = SingletonRegistry()
    a, started_a = reg.start("t1", lambda: object())
    b, started_b = reg.start("t1", lambda: object())
    assert started_a and not started_b and a is b  # A21
    reg.finish("t1")
    _, started_c = reg.start("t1", lambda: object())
    assert started_c


def test_purge_history(spark):
    now = datetime(2026, 1, 31)
    rows = [
        ("Completed", now - timedelta(days=8)),    # purged (>7d)
        ("Completed", now - timedelta(days=2)),    # kept
        ("Failed", now - timedelta(days=31)),      # purged (>30d)
        ("Failed", now - timedelta(days=10)),      # kept (intended semantics)
        ("Running", now - timedelta(days=100)),    # kept (status not purgeable)
    ]
    log = spark.createDataFrame(rows, "status string, created_at timestamp")
    kept = purge_history(log, now, completed_days=7, failed_days=30)
    assert sorted((r.status, r.created_at) for r in kept.collect()) == sorted(
        [rows[1], rows[3], rows[4]]
    )
