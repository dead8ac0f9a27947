"""The change pipeline -- the engine's ExecuteTriggerHelper
(SqlTriggerFunctions/ExecuteTriggerHelper.cs:28-158).

Reference lifecycle per batch (SURVEY.md §3.1):
  1. read client allowlist from entity state        (:49)   -> StateStore
  2. read config allowlist from env                 (:57)   -> EngineSettings
  3. union case-insensitively                       (:65-86)
  4. project each row to the allowlist              (:89-113)
  5. serialize + POST                               (:118, HttpPostAction)
  failure: record LastError, classify, rethrow so the checkpoint does not
  advance (:120-158) => at-least-once redelivery (A25).

Spark shape: `process_batch` is the foreachBatch body. An exception inside
foreachBatch fails the micro-batch; Structured Streaming re-delivers it from
the checkpoint -- exactly the reference's lease/rethrow semantics. The same
function doubles as the batch-mode pipeline.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame

from sqldataintegrationfunctiontriggerapp_spark.config import EngineSettings
from sqldataintegrationfunctiontriggerapp_spark.operators.projection import (
    normalize_table_name,
    project_allowlist,
    union_allowlists,
)
from sqldataintegrationfunctiontriggerapp_spark.sinks.http_sink import (
    FatalSinkError,
    HttpSink,
    RetryableSinkError,
    envelope_json,
)
from sqldataintegrationfunctiontriggerapp_spark.state import StateStore


@dataclass
class ChangePipeline:
    settings: EngineSettings
    state: StateStore
    sink: HttpSink
    # observability for tests / retry orchestration
    last_outcome: dict = field(default_factory=dict)

    def resolve_allowlist(self, table: str) -> set[str]:
        """Steps 1-3: client allowlist (entity state) UNION config allowlist
        (env), case-insensitive (ExecuteTriggerHelper.cs:49-86)."""
        key = normalize_table_name(table)
        client_csv = self.state.get_allowed_columns(key)
        config_csv = self.settings.allowed_columns.get(key)
        return union_allowlists(client_csv, config_csv)

    def project(self, df: DataFrame, table: str) -> DataFrame:
        """Step 4 (A2): allowlist projection; 'operation' always survives
        (it is envelope metadata, not a row column)."""
        allow = self.resolve_allowlist(table)
        if not allow:
            return df
        return project_allowlist(df, allow | {"operation"})

    def process_batch(self, df: DataFrame, table: str) -> int:
        """The foreachBatch body: project -> envelope -> POST; on failure
        record LastError (A10), classify (A8), and re-raise (A25) so the
        caller's checkpoint does not advance."""
        projected = self.project(df, table)
        item_cols = [c for c in projected.columns if c != "operation"]
        enveloped = envelope_json(projected, item_cols)
        try:
            # executor-side: each partition POSTs its own chunks, nothing
            # is collected to the driver
            n = self.sink.post_partitions(enveloped)
        except (FatalSinkError, RetryableSinkError) as e:
            retryable = isinstance(e, RetryableSinkError)
            self.state.save_last_error(normalize_table_name(table), str(e))
            self.last_outcome = {"table": table, "ok": False, "retryable": retryable}
            raise
        self.last_outcome = {"table": table, "ok": True, "rows": n}
        return n

    def foreach_batch(self, table: str):
        """Adapter for writeStream.foreachBatch: checkpoint-gated
        at-least-once delivery (README.md:22-23)."""

        def _fn(batch_df: DataFrame, epoch_id: int) -> None:
            self.process_batch(batch_df, table)

        return _fn
