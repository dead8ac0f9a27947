"""Retry / notify control loop -- the engine's RetryFunctions +
NotifyFunctions (RetryFunctions.cs:19-177, NotifyFunctions.cs:16-98),
collapsed from durable orchestrations into a driver-side controller.

Durable-machinery mapping (SURVEY.md §3.3):
- RetryOrchestrator eternal loop (ContinueAsNew, :50,:62) -> `run_retry_loop`
  while-loop with an injectable clock/sleeper (no history to truncate).
- CheckSqlStatus activity (:122-177) -> a callable probe returning the
  current attempt count (None => nothing pending).
- Singleton-by-key instances (:75-108) -> an in-process registry keyed by
  table (the streaming analog is one checkpointed query per table).
- Notify throttling (NotifyFunctions.cs:31-34) -> per-key last-notified
  timestamps; repeats within the window are suppressed. This is the exact
  iterative semantics (suppress relative to the last *emitted* event) that
  the sessionization query approximates in SQL.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone

from sqldataintegrationfunctiontriggerapp_spark.config import EngineSettings

MAX_BUILTIN_ATTEMPTS = 5  # the extension's cap (README.md:24, RetryFunctions.cs:161)


def timed_out(start: datetime, timeout_hours: int, now: datetime) -> bool:
    """A19 (RetryFunctions.cs:129-132)."""
    return start + timedelta(hours=timeout_hours) < now


def rearm_attempt_count(attempt_count: int | None) -> int | None:
    """A18 (RetryFunctions.cs:161-167): when the built-in retry is exhausted
    (count==5), set it back to 4 so delivery is attempted again. Returns the
    new count, or None when nothing should change."""
    if attempt_count == MAX_BUILTIN_ATTEMPTS:
        return MAX_BUILTIN_ATTEMPTS - 1
    return None


class Notifier:
    """A22/A23: notify with per-key throttling (NotifyFunctions.cs:31-54)."""

    def __init__(self, throttle_minutes: int = 360, clock=None):
        self.throttle = timedelta(minutes=throttle_minutes)
        self.clock = clock or (lambda: datetime.now(timezone.utc))
        self.last_notified: dict[str, datetime] = {}
        self.sent: list[tuple[str, str]] = []

    def notify(self, key: str, message: str, throttled: bool = True) -> bool:
        """Returns True if the notification was emitted. `throttled=False`
        mirrors the un-throttled NotifyOnRetryCount path
        (RetryFunctions.cs:172 vs NotifyFunctions.cs:61)."""
        now = self.clock()
        last = self.last_notified.get(key)
        if throttled and last is not None and now - last < self.throttle:
            return False
        self.last_notified[key] = now
        self.sent.append((key, message))
        return True


@dataclass
class RetryController:
    """One reference orchestration instance, keyed by table."""

    settings: EngineSettings
    table: str
    probe_attempt_count: object  # Callable[[], int | None] -- A16
    rearm: object = None         # Callable[[int], None] -- apply A18 update
    notifier: Notifier | None = None
    sleeper: object = time.sleep
    clock: object = field(default=lambda: datetime.now(timezone.utc))
    retry_count: int = 0
    # when the orchestration began; set by the first step (or by
    # run_retry_loop) and measured against total_retry_timeout_hours
    start: datetime | None = field(default=None, init=False)

    def step(self, now: datetime) -> bool:
        """One orchestration turn (RetryFunctions.cs:19-68). Returns True to
        continue (ContinueAsNew), False when done."""
        if self.start is None:
            self.start = now
        if timed_out(self.start, self.settings.total_retry_timeout_hours, now):
            return False  # :129-132
        count = self.probe_attempt_count()  # :141-143 (A16)
        if count is None or count < 1:
            return False  # :146-157 (A17) -- success happened, stop
        new_count = rearm_attempt_count(count)
        if new_count is not None and self.rearm is not None:
            self.rearm(new_count)  # :161-167 (A18)
        # Reference increments RetryCount BEFORE the notify comparison
        # (RetryFunctions.cs:51,172), so the Nth probe turn notifies -- not
        # the (N+1)th.
        self.retry_count += 1
        if (
            self.retry_count == self.settings.notify_on_retry_count
            and self.notifier is not None
        ):
            # :170-173 (A20); this path is not throttled
            self.notifier.notify(self.table, f"retry #{self.retry_count} for {self.table}",
                                 throttled=False)
        return True

    def run_retry_loop(self, max_iterations: int = 1000) -> int:
        """A14 eternal loop with A12 capped-linear sleeps between turns.
        Bounded by max_iterations as a test/driver safety net (the reference
        bounds by total timeout only)."""
        self.start = self.clock()
        iterations = 0
        while iterations < max_iterations:
            now = self.clock()
            if not self.step(now):
                break
            self.sleeper(60 * self.settings.backoff_minutes(self.retry_count - 1))
            iterations += 1
        return iterations


class SingletonRegistry:
    """A21: singleton-by-key job start (RetryFunctions.cs:75-108,
    NotifyFunctions.cs:61-98): starting an instance whose key is already
    running is a no-op."""

    def __init__(self):
        self.running: dict[str, object] = {}

    def start(self, key: str, factory) -> tuple[object, bool]:
        """Returns (instance, started): started=False when already running."""
        if key in self.running:
            return self.running[key], False
        inst = factory()
        self.running[key] = inst
        return inst, True

    def finish(self, key: str) -> None:
        self.running.pop(key, None)
