"""Loopback HTTP receiver standing in for the pipeline's downstream endpoint.

The receiver is the benchmark's delivery oracle. It
- answers each POST from a deterministic fault schedule (body content and
  the body's attempt number, never arrival order),
- checks every item's keys against the table's allowlist plus `operation`,
- keeps the delivered row ids of the operation in flight, so at-least-once
  delivery and duplicates can be proven and counted,
- counts TCP connections apart from POSTs,
- stamps each accepted POST so a row can be traced back to its arrival time.
"""

from __future__ import annotations

import hashlib
import http.server
import json
import os
import threading
import time
from collections import Counter
from dataclasses import dataclass, field


def unit_hash(*parts) -> float:
    """Deterministic value in [0, 1) from the given parts."""
    h = hashlib.blake2b(repr(parts).encode(), digest_size=8).digest()
    return int.from_bytes(h, "big") / 2.0 ** 64


@dataclass(frozen=True)
class FaultSchedule:
    """Which status a POST gets, from its content alone.

    A body whose digest draws below `fail_share` is refused once (429 or
    503) and accepted on its second attempt, which stays inside the sink's
    retry budget. A body holding a doomed row id is refused on every
    attempt up to `max_attempts`, so its first delivery exhausts the budget
    and the whole batch is redelivered; the redelivered copy is accepted."""

    seed: int = 0
    fail_share: float = 0.0
    max_attempts: int = 3
    doomed: frozenset = frozenset()

    def status(self, digest: str, attempt: int, row_ids) -> int:
        if self.doomed and attempt <= self.max_attempts and not self.doomed.isdisjoint(row_ids):
            return 503
        if attempt == 1 and unit_hash(self.seed, digest) < self.fail_share:
            return 429 if unit_hash(self.seed, digest, "kind") < 0.5 else 503
        return 200


@dataclass
class OpLedger:
    """What the receiver saw while one operation (batch, file set, ...) ran."""

    ids: set = field(default_factory=set)
    accepted_rows: int = 0
    last_ack: float = 0.0


@dataclass
class Counts:
    posts: int = 0
    bodies: int = 0
    refused: int = 0
    connections: int = 0
    body_bytes: int = 0
    body_rows: int = 0
    accepted_rows: int = 0
    busy_s: float = 0.0
    bad_keys: int = 0
    bad_bodies: int = 0
    handler_s: list = field(default_factory=list)


class Receiver:
    """Threaded loopback server; `start()` binds an ephemeral port."""

    def __init__(self, allowlist: set[str], row_id,
                 schedule: FaultSchedule | None = None):
        """`row_id(item) -> hashable` names a delivered row."""
        self.allowed_item_keys = {c.lower() for c in allowlist}
        self.row_id = row_id
        self.schedule = schedule or FaultSchedule()
        self.lock = threading.Lock()
        self.counts = Counts()
        self.attempts: Counter = Counter()
        self.ack_times: dict = {}
        self.stamp_rows = False
        self.op: OpLedger | None = None
        self._srv: http.server.ThreadingHTTPServer | None = None
        self._thread: threading.Thread | None = None

    # -- accounting -------------------------------------------------------
    def begin_op(self) -> OpLedger:
        """Start recording one operation. Attempt numbers restart, so every
        operation (with its redeliveries) meets the same fault schedule."""
        with self.lock:
            self.op = OpLedger()
            self.attempts = Counter()
            return self.op

    def end_op(self) -> OpLedger:
        with self.lock:
            op, self.op = self.op, None
            return op

    def handle(self, body: bytes) -> int:
        """Decide, check and record one POST body; returns the status."""
        t0 = time.perf_counter()
        digest = hashlib.blake2b(body, digest_size=16).hexdigest()
        try:
            docs = json.loads(body)
            ids = [self.row_id(d["item"]) for d in docs]
            bad = sum(
                1 for d in docs
                if set(d) - {"operation", "item"} or set(d["item"]) - self.allowed_item_keys
            )
        except (ValueError, KeyError, TypeError):
            docs, ids, bad = [], [], 0
            malformed = True
        else:
            malformed = False
        with self.lock:
            self.attempts[digest] += 1
            attempt = self.attempts[digest]
            self.counts.bodies += attempt == 1
        if malformed:
            status = 400
        else:
            status = self.schedule.status(digest, attempt, ids) if ids else 200
        now = time.time()
        with self.lock:
            c = self.counts
            c.posts += 1
            c.body_bytes += len(body)
            c.body_rows += len(ids)
            c.bad_keys += bad
            c.bad_bodies += malformed
            if status == 200:
                c.accepted_rows += len(ids)
                if self.op is not None:
                    self.op.ids.update(ids)
                    self.op.accepted_rows += len(ids)
                    self.op.last_ack = now
                if self.stamp_rows:
                    for i in ids:
                        self.ack_times[i] = now
            else:
                c.refused += 1
            dt = time.perf_counter() - t0
            c.busy_s += dt
            c.handler_s.append(dt)
        return status

    # -- server -------------------------------------------------------------
    def start(self) -> str:
        receiver = self

        class Handler(http.server.BaseHTTPRequestHandler):
            def setup(self):
                super().setup()
                with receiver.lock:
                    receiver.counts.connections += 1

            def do_POST(self):  # noqa: N802
                body = self.rfile.read(int(self.headers.get("Content-Length", 0)))
                status = receiver.handle(body)
                self.send_response(status)
                self.send_header("Content-Length", "2")
                self.end_headers()
                self.wfile.write(b"ok" if status == 200 else b"no")

            def log_message(self, *a):
                pass

        self._srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self._srv.daemon_threads = True
        self._thread = threading.Thread(target=self._srv.serve_forever, daemon=True)
        self._thread.start()
        return f"http://127.0.0.1:{self._srv.server_address[1]}"

    def stop(self) -> None:
        if self._srv is not None:
            self._srv.shutdown()
            self._srv.server_close()
            self._thread.join(timeout=10)
            self._srv = None


class BackoffRecorder:
    """HttpSink `sleeper` that records the requested backoff instead of
    sleeping. The sink runs inside Spark's Python workers, so the record is
    an append to a file the benchmark reads back, one line per request."""

    def __init__(self, path: str):
        self.path = path

    def __call__(self, seconds: float) -> None:
        fd = os.open(self.path, os.O_WRONLY | os.O_CREAT | os.O_APPEND, 0o644)
        try:
            os.write(fd, f"{seconds!r}\n".encode())
        finally:
            os.close(fd)

    def requested(self) -> list[float]:
        try:
            with open(self.path) as f:
                return [float(x) for x in f.read().split()]
        except FileNotFoundError:
            return []
