"""Watermark / checkpoint state: the ``_sync_state`` table (SURVEY T2, §1.1).

The reference persists one append-only state table per pipeline and reads
the latest row per source table:

- ES schema: index_name, table_name, time_field, update_time_field,
  last_sync_time, last_update_time, last_sync_count, updated_at
  (es/es_to_bytehouse.py:412-432); read = ``ORDER BY updated_at DESC
  LIMIT 1`` per index (:434-452); write = append (:454-465).
- CH schema: table_name, last_sync_time, last_update_time, sync_count,
  sync_time (clickhouse/clickhouse_to_bytehouse.py:159-203); read = max().
- Mongo schema: table_name, last_sync_time, last_id, sync_count, sync_time
  (mongodb/mongodb_to_bytehouse.py:218-262).

Here the state lives as an append-only parquet table inside the target
warehouse — same queryability, and the append-only + latest-wins design
means state commits are blind appends at any scale (no read-modify-
write). Latest-row reads use a window (`row_number() = 1`), the Spark
expression of the reference's ORDER BY … DESC LIMIT 1.

A sync round's state traffic is answered on the driver:

- ``get`` / ``has_synced_before`` read an in-memory copy of the latest
  row per table. The copy is valid while the set of ``*.parquet`` part
  names under ``_sync_state`` (one Hadoop ``listStatus``, no Spark job)
  equals the set it was loaded from or last wrote; any part it did not
  write (another process committed, or an older snapshot of the
  directory was restored) triggers one full re-read.
- ``commit`` writes its row as JVM-side literals over a one-partition
  ``range`` — no Python worker — so each commit adds exactly one part,
  and the copy takes the row only when the listing grew by exactly that
  part.

Watermarks are kept as *strings* in the table for reference parity
(lexicographic ISO compare — es/es_to_bytehouse.py:912,918) but the engine
compares typed values internally (SURVEY §7.4 risk 3).
"""

from __future__ import annotations

import threading
from dataclasses import dataclass, replace
from datetime import datetime, timezone

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from es_to_clickhouse_spark import fsio

STATE_SCHEMA = T.StructType(
    [
        T.StructField("table_name", T.StringType()),
        T.StructField("source_name", T.StringType()),
        T.StructField("time_field", T.StringType()),
        T.StructField("update_time_field", T.StringType()),
        T.StructField("last_sync_time", T.StringType()),
        T.StructField("last_update_time", T.StringType()),
        T.StructField("last_id", T.StringType()),
        T.StructField("last_sync_count", T.LongType()),
        T.StructField("updated_at", T.TimestampType()),
    ]
)


@dataclass
class SyncState:
    table_name: str
    source_name: str | None = None
    time_field: str | None = None
    update_time_field: str | None = None
    last_sync_time: str | None = None
    last_update_time: str | None = None
    last_id: str | None = None
    last_sync_count: int = 0


class StateStore:
    """Append-only ``_sync_state`` parquet table under the warehouse root,
    with the latest row per table cached on the driver."""

    def __init__(self, spark: SparkSession, warehouse: str):
        self.spark = spark
        # Hadoop-FS IO (fsio) so the warehouse root can be any URI
        # (file:// hdfs:// s3a://) — never driver-local os.* calls.
        self.path = fsio.join(warehouse, "_sync_state")
        fsio.mkdirs(spark, warehouse)
        #: table -> (updated_at, SyncState) of its latest row; valid while
        #: the part listing equals ``_parts`` (None: not loaded yet)
        self._latest: dict[str, tuple[datetime, SyncState]] = {}
        self._parts: frozenset[str] | None = None
        # streaming foreachBatch threads share one store: a commit's
        # "the one new part is mine" check must not interleave with
        # another thread's commit or reload
        self._lock = threading.Lock()
        if not self._list_parts():
            self._parts = frozenset()  # an empty store needs no read

    def _exists(self) -> bool:
        return fsio.has_glob(self.spark, fsio.join(self.path, "*.parquet"))

    def _list_parts(self) -> frozenset[str]:
        return frozenset(
            n for n in fsio.listdir(self.spark, self.path) if n.endswith(".parquet")
        )

    def _cached(self) -> dict[str, tuple[datetime, SyncState]]:
        """The latest row per table, re-read only when the part listing
        differs from the one the cache holds. The listing is taken
        BEFORE the read: a part landing in between makes the next call
        re-read, never hides the part."""
        with self._lock:
            parts = self._list_parts()
            if parts != self._parts:
                rows = self.latest().collect() if parts else []
                self._latest = {
                    r.table_name: (
                        r.updated_at,
                        SyncState(
                            table_name=r.table_name,
                            source_name=r.source_name,
                            time_field=r.time_field,
                            update_time_field=r.update_time_field,
                            last_sync_time=r.last_sync_time,
                            last_update_time=r.last_update_time,
                            last_id=r.last_id,
                            last_sync_count=r.last_sync_count or 0,
                        ),
                    )
                    for r in rows
                }
                self._parts = parts
            return self._latest

    def read_all(self):
        if not self._exists():
            return self.spark.createDataFrame([], STATE_SCHEMA)
        return self.spark.read.schema(STATE_SCHEMA).parquet(self.path)

    def latest(self):
        """Latest state row per table (ORDER BY updated_at DESC LIMIT 1
        per key — es/es_to_bytehouse.py:437-440)."""
        w = Window.partitionBy("table_name").orderBy(F.desc("updated_at"))
        return (
            self.read_all()
            .withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn")
        )

    def get(self, table_name: str) -> SyncState | None:
        """The table's latest row, from the listing-validated cache (no
        Spark job unless a part this instance did not write appeared)."""
        hit = self._cached().get(table_name)
        return replace(hit[1]) if hit else None

    def has_synced_before(self, table_name: str) -> bool:
        """Auto-mode probe (mongodb/mongodb_to_bytehouse.py:285-295)."""
        return table_name in self._cached()

    def commit(self, state: SyncState) -> None:
        """Append one watermark row (es/es_to_bytehouse.py:454-465). Blind
        append — no shuffle, no read — so commits stay O(1) at scale.

        The row is built from JVM-side literals over a one-partition
        ``range`` (``createDataFrame`` would run a Python worker), so the
        write adds exactly one part. ``updated_at`` goes through
        TimestampType's own conversion, so the cached value equals what
        a read-back returns and latest-wins compares like frames."""
        ts = T.TimestampType()
        micros = ts.toInternal(datetime.now(timezone.utc).replace(tzinfo=None))
        cols = [
            F.lit(getattr(state, f.name)).cast(f.dataType).alias(f.name)
            for f in STATE_SCHEMA.fields
            if f.name != "updated_at"
        ]
        cols.append(F.timestamp_micros(F.lit(micros)).alias("updated_at"))
        row = self.spark.range(0, 1, 1, 1).select(*cols)
        with self._lock:
            before = self._parts
            row.write.mode("append").parquet(self.path)
            parts = self._list_parts()
            if before is None or not before < parts or len(parts - before) != 1:
                return  # another writer's part too: the next read reloads
            updated_at = ts.fromInternal(micros)
            held = self._latest.get(state.table_name)
            if held is None or updated_at >= held[0]:
                self._latest[state.table_name] = (updated_at, replace(state))
            self._parts = parts

    def status(self, limit: int = 10):
        """`--mode status` inspection: most recent commits first
        (clickhouse/clickhouse_to_bytehouse.py:205-224)."""
        return self.read_all().orderBy(F.desc("updated_at")).limit(limit)
