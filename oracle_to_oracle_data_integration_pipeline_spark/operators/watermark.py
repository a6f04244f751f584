"""Per-table high-water-mark store — the engine's only persistent state.

Parity with the reference's ``ETL_WATERMARKS`` table and its access
protocol (`/root/reference/scripts/03_cdc_etl.py:56-96`):

- keyed by upper-cased table name (reference normalizes at
  `/root/reference/scripts/03_cdc_etl.py:81,94`);
- point lookup per table before the delta read;
- upsert AFTER a successful merge only — at-least-once delivery, safe
  because the merge is idempotent last-writer-wins
  (`/root/reference/scripts/03_cdc_etl.py:324-334`, `README.md:287`).

Storage is a single small parquet FILE (hundreds of rows at most — one
per table), read and written driver-side via pyarrow: launching Spark
jobs for a point lookup costs ~2s of scheduler overhead per op
(measured 12-15s for the 5-op qid round-trip vs ~0.2s driver-side) and
buys nothing — this is control-plane state, exactly like Structured
Streaming checkpoint offsets, NOT on the data path. The file stays
Spark-readable (plain parquet) for audits/joins. Writes go through a
temp file + atomic ``os.replace`` so a crashed writer never leaves a
half-written state visible; a legacy Spark-written directory layout is
still readable and migrates to the file form on first upsert.
"""

from __future__ import annotations

import os
import shutil
import threading
import uuid
from datetime import datetime

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import SparkSession
from pyspark.sql import types as T

_SCHEMA = T.StructType(
    [
        T.StructField("table_name", T.StringType(), False),
        T.StructField("last_ts", T.TimestampType(), True),
    ]
)


class WatermarkStore:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        # upsert is read-modify-write of the whole (tiny) state; the
        # pipeline replicates independent tables from driver threads,
        # so serialize mutations or concurrent upserts lose updates
        # (observed: a parallel wave dropped a table's watermark and
        # the next run re-replicated it).
        self._lock = threading.Lock()

    def _read_all(self) -> dict[str, datetime]:
        path = self.path
        if not os.path.exists(path):
            # a writer may have crashed mid-migration: the legacy dir is
            # parked at .migrating until the new file lands
            bak = f"{self.path}.migrating"
            if not os.path.exists(bak):
                return {}
            path = bak
        if os.path.isdir(path):
            # legacy layout written by Spark: a parquet directory
            rows = self.spark.read.schema(_SCHEMA).parquet(path).collect()
            return {r["table_name"]: r["last_ts"] for r in rows}
        t = pq.read_table(path)
        return dict(
            zip(t.column("table_name").to_pylist(), t.column("last_ts").to_pylist())
        )

    def get(self, table: str) -> datetime | None:
        """``get_last_watermark`` parity
        (`/root/reference/scripts/03_cdc_etl.py:77-83`): None → full load.

        Takes the store lock: an unlocked read can land in an upsert's
        rename window (path briefly absent between the two renames) and
        either fail or silently report "no watermark" → spurious full
        reload. Same-process only; multi-driver deployments need
        per-table state files."""
        with self._lock:
            return self._read_all().get(table.upper())

    def upsert(self, table: str, ts: datetime) -> None:
        """``upsert_watermark`` parity
        (`/root/reference/scripts/03_cdc_etl.py:85-96`)."""
        if ts is not None and not isinstance(ts, datetime):
            # fail HERE, not as an OverflowError on the next read: an
            # int watermark means the source's change-ts columns were
            # read as bigint (TIMESTAMP(NANOS) parquet under the
            # nanosAsLong conf) — the table needs ns→timestamp
            # normalization before replication
            raise TypeError(
                f"watermark for {table!r} must be a datetime, got "
                f"{type(ts).__name__}: {ts!r}"
            )
        with self._lock:
            state = self._read_all()
            state[table.upper()] = ts
            self._write_all(state)

    def _write_all(self, state: dict[str, datetime]) -> None:
        names = sorted(state)
        table = pa.table(
            {"table_name": names, "last_ts": [state[k] for k in names]},
            schema=pa.schema(
                [("table_name", pa.string()), ("last_ts", pa.timestamp("us"))]
            ),
        )
        os.makedirs(os.path.dirname(self.path) or ".", exist_ok=True)
        tmp = f"{self.path}.tmp-{uuid.uuid4().hex[:8]}"
        pq.write_table(table, tmp)
        if os.path.isdir(self.path):
            # migrate the legacy directory layout crash-safely: park the
            # dir aside (readers fall back to it while the path is
            # briefly absent), land the file, then drop the backup — a
            # writer dying between the steps never loses state
            bak = f"{self.path}.migrating"
            shutil.rmtree(bak, ignore_errors=True)
            os.replace(self.path, bak)
            os.replace(tmp, self.path)
            shutil.rmtree(bak, ignore_errors=True)
        else:
            os.replace(tmp, self.path)

    def all(self) -> dict[str, datetime]:
        with self._lock:
            return self._read_all()
