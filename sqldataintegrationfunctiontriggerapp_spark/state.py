"""Keyed state store -- the engine's replacement for durable entities
(EntityFunctions.cs) and orchestration instance registries.

The reference keeps two entity families keyed by table name -- LastError
{message, date} (EntityFunctions.cs:8-27) and AllowedColumns {csv}
(:32-47). Each (entity_type, key) holds one small value.

Storage: one JSON document per (entity_type, key) at
``<path>/<quote(entity_type)>/<quote(key)>.json`` holding
``{"value": ..., "updated_at": <UTC ISO-8601>}``. Neither reads nor writes
run a Spark job; only `as_dataframe` builds a frame.

Commit point: `upsert` writes the whole document to a temp file in the same
directory, fsyncs it, and `os.replace`s it over the key's document. The
rename is the commit: a reader sees the old document or the new one, never
a torn or missing one, and a writer that dies before the rename leaves only
a ``*.json.tmp.*`` file that readers ignore. Upserts to different keys
write different files, so neither can lose the other's update.

Reads: `get` opens one document. Only a missing document means "not
configured" (None). One that exists but cannot be read or parsed raises, so
a batch fails before any POST -- instead of treating the allowlist as absent
and posting every column (A2) -- and its checkpoint does not advance.
"""

from __future__ import annotations

import json
import os
import uuid
from datetime import datetime, timezone
from urllib.parse import quote, unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

STATE_SCHEMA = T.StructType(
    [
        T.StructField("entity_type", T.StringType(), False),
        T.StructField("key", T.StringType(), False),
        T.StructField("value", T.StringType(), True),
        T.StructField("updated_at", T.TimestampType(), False),
    ]
)


def _local_df(
    spark: SparkSession, rows: list, schema: T.StructType | str
) -> DataFrame:
    """createDataFrame over a SINGLE-slice RDD. The default createDataFrame
    path parallelizes local rows into defaultParallelism slices; any
    single-task consumer (coalesce(1) write, collect of a one-row frame)
    then pays one sequential Python-worker roundtrip PER SLICE -- measured
    ~5 s for a ONE-ROW frame at local[32]. One slice = one roundtrip, and
    state frames are tiny by construction. (Shared with the streaming-parity
    result frames in plans/windows.py, which are equally tiny.)"""
    return spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)


LAST_ERROR = "LastError"          # EntityFunctions.cs:8
ALLOWED_COLUMNS = "AllowedColumns"  # EntityFunctions.cs:32


class StateStore:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def _doc_path(self, entity_type: str, key: str) -> str:
        return os.path.join(
            self.path, quote(entity_type, safe=""), quote(key, safe="") + ".json"
        )

    def upsert(self, entity_type: str, key: str, value: str | None) -> None:
        """Last-writer-wins upsert (EntityFunctions.cs Save ops): replaces
        the key's document and touches no other file.

        Last-writer-wins is defined by CALL order, not by stored timestamps:
        the incoming write replaces the document unconditionally, even if the
        stored one carries a LATER updated_at (clock skew between writers).
        That matches the reference's entity semantics -- a durable entity
        applies operations in arrival order, it never compares wall clocks
        (EntityFunctions.cs:17-21). Pinned by tests/test_state_retry.py."""
        now = datetime.now(timezone.utc).replace(tzinfo=None)
        doc = self._doc_path(entity_type, key)
        os.makedirs(os.path.dirname(doc), exist_ok=True)
        tmp = f"{doc}.tmp.{uuid.uuid4().hex}"
        try:
            with open(tmp, "w") as f:
                json.dump({"value": value, "updated_at": now.isoformat()}, f)
                f.flush()
                os.fsync(f.fileno())
            os.replace(tmp, doc)  # THE commit point
        except BaseException:
            if os.path.exists(tmp):
                os.unlink(tmp)
            raise

    def get(self, entity_type: str, key: str) -> str | None:
        """Keyed point lookup (ClientAllowedColumnsFunction.cs:47-56): opens
        exactly one document; None only when it does not exist."""
        try:
            with open(self._doc_path(entity_type, key)) as f:
                return json.load(f)["value"]
        except FileNotFoundError:
            return None

    def save_last_error(self, table: str, message: str) -> None:
        """A10: LastError upsert with UTC stamp (EntityFunctions.cs:17-21,
        signaled at ExecuteTriggerHelper.cs:129-131)."""
        self.upsert(LAST_ERROR, table, message)

    def save_allowed_columns(self, table: str, csv: str) -> None:
        """A11 (ClientAllowedColumnsFunction.cs:16-26)."""
        self.upsert(ALLOWED_COLUMNS, table, csv)

    def get_allowed_columns(self, table: str) -> str | None:
        return self.get(ALLOWED_COLUMNS, table)

    def as_dataframe(self) -> DataFrame:
        """Every committed document as one STATE_SCHEMA row."""
        rows = []
        entities = os.listdir(self.path) if os.path.isdir(self.path) else []
        for entity in sorted(entities):
            entity_dir = os.path.join(self.path, entity)
            for name in sorted(os.listdir(entity_dir)):
                if not name.endswith(".json"):
                    continue  # a crashed writer's temp file
                with open(os.path.join(entity_dir, name)) as f:
                    d = json.load(f)
                rows.append((
                    unquote(entity),
                    unquote(name[: -len(".json")]),
                    d["value"],
                    datetime.fromisoformat(d["updated_at"]),
                ))
        return _local_df(self.spark, rows, STATE_SCHEMA)
