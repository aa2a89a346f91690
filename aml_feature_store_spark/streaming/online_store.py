"""Online feature store: streaming sink + point-lookup surface
(SURVEY §2.1 S5/S6; reference Redis hash store,
flink_job/aml_stream_processor.py:203-221, api/main.py:327-363).

Spark-first: the online store is a **latest-value table** keyed by entity,
maintained by ``foreachBatch`` last-write-wins merge. With Delta/Iceberg
on the classpath this is ``MERGE INTO``; this environment has neither, so
the merge is emulated on a parquet dir: the current table (tagged
``_src=0``) and the batch (``_src=1``) are unioned and one ``row_number``
window per entity, ordered by ``_src desc, ts desc``, keeps one row. A batch row therefore always replaces the stored row, and
the latest batch row per key wins. The batch is read once (inside
``foreachBatch`` it is an uncached scan of the stream's stateful plan)
and there is one shuffle. The result goes to a staging dir, then a
directory swap. The swap is two renames, so a crash can interrupt it —
every entry point first runs deterministic recovery (roll back a half-swap
from the well-known ``.old`` dir, drop orphan ``.staging.*`` dirs), under
a single-writer assumption.

The merge also writes ``_meta.json`` into the staging dir before the swap,
so it is swapped atomically with the data: ``{"schema": <StructType
json>, "max_ts_us": <max feature_ts as epoch µs, null if empty>}``. The max
is read on the driver with pyarrow from the staged files' ts column, so it
costs no Spark job. (``DataFrame.observe`` with an ``Observation`` would
also be job-free, but on Spark 4.1 it leaves the session unserializable,
which breaks e.g. ``LogisticRegressionModel.summary`` later in the same
session.) Readers pass the stored schema to ``spark.read.schema`` (no
schema-inference job) and use ``max_ts_us`` as the default ``now`` (no
aggregate job), so a lookup is a single scan-and-filter job. Spark and
pyarrow skip files whose names start with ``_``, so data readers never see
it. A store dir without ``_meta.json`` is rejected with
``FileNotFoundError`` naming the missing file; there is no fallback.

NULL entity keys form one key, like any other value: a merge keeps at
most one NULL-key row (the latest batch row wins).

TTL is a read-time predicate on feature_timestamp, exactly the 24 h Redis
EXPIRE semantics.
"""

from __future__ import annotations

import errno
import glob
import json
import os
import shutil
import uuid

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, Window, functions as F
from pyspark.sql.types import StructType

TTL_SECONDS_DEFAULT = 86400  # reference: EXPIRE 86400
META_FILE = "_meta.json"


class OnlineStore:
    """Latest-value feature table on a parquet path."""

    def __init__(self, spark: SparkSession, path: str,
                 entity_col: str = "user_id", ts_col: str = "feature_ts") -> None:
        self.spark = spark
        self.path = path
        self.entity_col = entity_col
        self.ts_col = ts_col

    @property
    def _old(self) -> str:
        # WELL-KNOWN previous-version name (not uuid-suffixed) so crash
        # recovery is deterministic: at most one .old can exist, and its
        # meaning is unambiguous from which paths are present.
        return f"{self.path}.old"

    def _recover(self) -> None:
        """Repair any interrupted swap (single-writer assumption — one
        streaming query owns the store). Cases:
        - path missing + .old present: a crash hit between the two swap
          renames — roll back to the previous version (the batch that was
          being merged will be replayed by the stream; last-write-wins
          merge makes the replay idempotent).
        - path + .old both present: crash after the swap, before cleanup
          — the swap completed, drop the previous version.
        - orphan .staging.* dirs: failed/interrupted staging writes —
          drop them."""
        if os.path.exists(self._old):
            if os.path.exists(self.path):
                shutil.rmtree(self._old)
            else:
                os.rename(self._old, self.path)
        for orphan in glob.glob(f"{self.path}.staging.*"):
            shutil.rmtree(orphan, ignore_errors=True)

    def _meta(self) -> dict | None:
        """The store's ``_meta.json``; None when no store exists yet.
        Raises ``FileNotFoundError`` naming the file when the store dir
        exists without it."""
        if not os.path.exists(self.path):
            return None
        meta = os.path.join(self.path, META_FILE)
        try:
            with open(meta) as f:
                return json.load(f)
        except FileNotFoundError:
            raise FileNotFoundError(
                errno.ENOENT,
                f"online store has no {META_FILE} (written by OnlineStore.merge)",
                meta,
            ) from None

    def _scan(self, meta: dict) -> DataFrame:
        return self.spark.read.schema(StructType.fromJson(meta["schema"])).parquet(self.path)

    def _max_ts_us(self, table_dir: str) -> int | None:
        """Max of the ts column of the parquet files in ``table_dir``, as
        epoch µs. Spark writes timestamps as INT96, which carries no
        min/max statistics, so the column itself is read."""
        col = pq.read_table(
            table_dir, columns=[self.ts_col], coerce_int96_timestamp_unit="us"
        ).column(0)
        return pc.max(col.cast(pa.timestamp("us", col.type.tz))).value

    def merge(self, batch: DataFrame) -> None:
        """Last-write-wins upsert of a feature batch (the foreachBatch body)."""
        self._recover()
        meta = self._meta()
        merged = batch.withColumn("_src", F.lit(1))
        if meta is not None:
            merged = self._scan(meta).withColumn("_src", F.lit(0)).unionByName(merged)
        w = Window.partitionBy(self.entity_col).orderBy(
            F.col("_src").desc(), F.col(self.ts_col).desc()
        )
        merged = (
            merged.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn", "_src")
        )
        # parquet has no MERGE (Delta would): fully materialize the merged
        # result into a staging dir FIRST, then swap directories. The write
        # still reads the current table, but the current table is never
        # overwritten mid-read — a lost cache block / executor failure
        # during the write just recomputes from the intact source, instead
        # of corrupting the store.
        staging = f"{self.path}.staging.{uuid.uuid4().hex[:8]}"
        try:
            merged.write.mode("overwrite").parquet(staging)
            meta = {"schema": merged.schema.jsonValue(),
                    "max_ts_us": self._max_ts_us(staging)}
            with open(os.path.join(staging, META_FILE), "w") as f:
                json.dump(meta, f)
        except BaseException:
            shutil.rmtree(staging, ignore_errors=True)
            raise
        moved = False
        if os.path.exists(self.path):
            os.rename(self.path, self._old)
            moved = True
        try:
            os.rename(staging, self.path)
        except BaseException:
            # roll the previous version back so the store never vanishes
            if moved and not os.path.exists(self.path):
                os.rename(self._old, self.path)
            shutil.rmtree(staging, ignore_errors=True)
            raise
        if moved:
            shutil.rmtree(self._old, ignore_errors=True)

    def foreach_batch(self):
        """Adapter for stream.writeStream.foreachBatch(...)."""

        def fn(batch_df: DataFrame, _epoch_id: int) -> None:
            self.merge(batch_df)

        return fn

    def read(self, ttl_s: int = TTL_SECONDS_DEFAULT,
             now_expr: str | None = None) -> DataFrame:
        """TTL-filtered online view: rows whose feature_ts is within ttl of
        `now` (default: the table's max feature_ts from ``_meta.json`` —
        deterministic for tests; pass now_expr='current_timestamp()' in
        production). Builds no Spark job."""
        self._recover()
        meta = self._meta()
        if meta is None:
            raise FileNotFoundError(errno.ENOENT, "no online store at", self.path)
        if now_expr is None:
            now = F.timestamp_micros(F.lit(meta["max_ts_us"]))
        else:
            now = F.expr(now_expr)
        return self._scan(meta).filter(
            F.unix_millis(now) - F.unix_millis(F.col(self.ts_col)) <= ttl_s * 1000
        )

    def lookup(self, entity_ids: list, ttl_s: int = TTL_SECONDS_DEFAULT) -> DataFrame:
        """Point lookup (J1): the API-serving read path, with zero-defaults
        left to the caller's coalesce (api/main.py:345-361 semantics)."""
        return self.read(ttl_s).filter(F.col(self.entity_col).isin(entity_ids))
