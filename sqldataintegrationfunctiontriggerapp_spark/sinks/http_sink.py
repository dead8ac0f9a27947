"""HTTP POST sink -- the engine's IDataSyncAction/HttpPostAction
(ActionFunctions/HttpPostAction.cs:33-87, IDataSyncAction.cs).

Behavioral parity:
- serialize the change batch to a JSON array (operation + projected item),
  HttpPostAction.cs:36 / A6
- POST to base_url + route with a timeout (960 s in the reference, :39)
- classify the response: 2xx success; 408/429/5xx retryable; other fatal
  (:74-83 / A8); a refused, reset or timed-out connection is retryable too
  (an HttpRequestException without the retry=false tag)
- truncate response bodies to 500 chars for diagnostics (:60-63 / A9)
- on failure record LastError (A10) and re-raise so the caller's checkpoint
  does not advance (A25, ExecuteTriggerHelper.cs:156-157)
- exponential activity backoff around the POST (A15, RetryFunctions.cs:41-48)

Scale: rows are serialized executor-side (to_json is JVM columnar work);
posting happens per partition via foreachPartition-style iteration so a
1000-executor job opens 1000 connections, not one driver bottleneck
(`post_partitions`).
"""

from __future__ import annotations

import time
import urllib.error
import urllib.request
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class FatalSinkError(Exception):
    """Non-retryable response ('retry=false' tag, HttpPostAction.cs:80-82)."""


class RetryableSinkError(Exception):
    """408/429/5xx (HttpPostAction.cs:74-79)."""


def classify_status(status: int) -> str:
    """A8 (HttpPostAction.cs:74-83)."""
    if 200 <= status < 300:
        return "success"
    if status in (408, 429) or status >= 500:
        return "retryable"
    return "fatal"


def truncate_error(body: str, limit: int = 500) -> str:
    """A9 (HttpPostAction.cs:60-63)."""
    return body[:limit]


def envelope_json(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """A6: one JSON document per change row: {"operation": ..., "item": {...}}
    -- the SqlChange<JsonObject> wire shape (HttpPostAction.cs:36)."""
    cols = columns or [c for c in df.columns if c != "operation"]
    return df.select(
        F.to_json(
            F.struct(
                F.col("operation"),
                F.struct(*[F.col(c) for c in cols]).alias("item"),
            )
        ).alias("payload")
    )


def _post_once(url: str, data: bytes, timeout: float) -> tuple[int, str]:
    req = urllib.request.Request(
        url, data=data, headers={"Content-Type": "application/json"}, method="POST"
    )
    try:
        with urllib.request.urlopen(req, timeout=timeout) as resp:
            return resp.status, resp.read().decode("utf-8", "replace")
    except urllib.error.HTTPError as e:
        return e.code, e.read().decode("utf-8", "replace")


@dataclass
class HttpSink:
    base_url: str
    route: str = "/post"
    timeout_seconds: float = 960.0  # HttpPostAction.cs:39
    # A15 activity retry policy (RetryFunctions.cs:41-48): first 10 s,
    # backoff x1.125, capped; attempts bounded by the caller's budget.
    max_attempts: int = 5
    first_backoff_seconds: float = 10.0
    backoff_coefficient: float = 1.125
    max_backoff_seconds: float = 300.0
    sleeper: object = time.sleep  # injectable for tests

    def url(self) -> str:
        return self.base_url.rstrip("/") + self.route

    def post_payloads(self, payloads: list[str]) -> None:
        """POST a JSON array built from per-row JSON documents; apply A15
        backoff on retryable failures, raise FatalSinkError otherwise."""
        body = ("[" + ",".join(payloads) + "]").encode()
        attempt = 0
        while True:
            try:
                status, resp_body = _post_once(self.url(), body, self.timeout_seconds)
                kind = classify_status(status)
                err = f"status={status} body={truncate_error(resp_body)}"
            except OSError as e:  # refused / reset / timed out (URLError too)
                kind, err = "retryable", f"transport error: {e!r}"
            if kind == "success":
                return
            if kind == "fatal":
                raise FatalSinkError(err)
            attempt += 1
            if attempt >= self.max_attempts:
                raise RetryableSinkError(err)
            backoff = min(
                self.first_backoff_seconds * self.backoff_coefficient ** (attempt - 1),
                self.max_backoff_seconds,
            )
            self.sleeper(backoff)

    def post_partitions(self, enveloped: DataFrame, chunk_rows: int = 500) -> int:
        """Executor-side POST: each partition posts its own chunked batches
        (Sql_Trigger_MaxBatchSize analog) -- the at-scale path with no driver
        bottleneck. Returns total rows posted.

        Sink errors are carried back as data and re-raised driver-side with
        their classification intact: an exception thrown inside a task would
        surface as an opaque Py4J error, losing the fatal-vs-retryable
        signal process_batch routes on (A8). Fatal outranks retryable. A
        failing partition may leave other partitions already posted -- that
        is the at-least-once contract (A25): the caller re-raises, the
        checkpoint does not advance, and the batch redelivers."""
        sink = self

        def _post_iter(it):
            buf: list[str] = []
            n = 0
            try:
                for row in it:
                    buf.append(row["payload"])
                    if len(buf) >= chunk_rows:
                        sink.post_payloads(buf)
                        n += len(buf)
                        buf = []
                if buf:
                    sink.post_payloads(buf)
                    n += len(buf)
            except FatalSinkError as e:
                yield (n, "fatal", str(e))
                return
            except RetryableSinkError as e:
                yield (n, "retryable", str(e))
                return
            yield (n, None, None)

        results = enveloped.rdd.mapPartitions(_post_iter).collect()
        for kind_wanted, exc in (("fatal", FatalSinkError),
                                 ("retryable", RetryableSinkError)):
            for _, kind, msg in results:
                if kind == kind_wanted:
                    raise exc(msg)
        return sum(n for n, _, _ in results)
