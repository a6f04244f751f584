"""Schema clone & CDC-column evolution.

Parity targets:
- ``scripts/02_clone_schema_structure.py`` — DDL extraction → rewrite →
  replay. In Spark there is no physical-storage clause to strip, so the
  clone is a direct StructType copy: ``df.limit(0)`` is the engine's
  ``CREATE TABLE ... AS SELECT * WHERE 1=2``
  (`/root/reference/scripts/03_cdc_etl.py:98-120`).
- ``scripts/01_prepare_cdc_columns`` — idempotent ALTER TABLE ADD of
  the three CDC columns (`/root/reference/scripts/01_prepare_cdc_columns:20-38`).
  Here that's schema evolution at read time: missing CDC columns are
  added with the reference's defaults (CREATED_AT ← now, UPDATED_AT ←
  NULL, IS_DELETED ← 'N'), probing per column exactly like the
  reference's ``column_exists`` loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from oracle_to_oracle_data_integration_pipeline_spark.operators.cdc import CREATED, DELETED, UPDATED

# Column factories, not Columns: building a Column requires an active
# SparkContext, so defaults stay lazy until a session exists.
CDC_DEFAULTS = {
    CREATED: lambda: F.current_timestamp(),          # reference: DEFAULT SYSTIMESTAMP
    UPDATED: lambda: F.lit(None).cast("timestamp"),  # reference: NULL until update
    DELETED: lambda: F.lit("N"),                     # reference: DEFAULT 'N' NOT NULL
}


def empty_clone(df: DataFrame) -> DataFrame:
    """Schema-only clone (CTAS WHERE 1=2 analog)."""
    return df.limit(0)


def has_cdc_columns(df: DataFrame) -> bool:
    cols = {c.lower() for c in df.columns}
    return {CREATED, UPDATED, DELETED} <= cols


def add_missing_cdc_columns(df: DataFrame, created_default=None) -> DataFrame:
    """Idempotent: adds only absent CDC columns, with reference defaults.

    ``created_default`` lets deterministic tests pin the insert
    timestamp instead of ``current_timestamp()``.
    """
    cols = {c.lower() for c in df.columns}
    out = df
    for name, default_factory in CDC_DEFAULTS.items():
        if name not in cols:
            default = default_factory()
            if name == CREATED and created_default is not None:
                default = created_default
            out = out.withColumn(name, default)
    return out


def validate_cdc_columns(df: DataFrame | StructType, table: str) -> None:
    """Hard check mirroring the reference's per-table validation
    (`/root/reference/scripts/03_cdc_etl.py:270-274`), on a DataFrame or
    a schema."""
    names = df.names if isinstance(df, StructType) else df.columns
    missing = {CREATED, UPDATED, DELETED} - {c.lower() for c in names}
    if missing:
        raise ValueError(f"table {table} missing CDC columns: {sorted(missing)}")


def schema_ddl(df: DataFrame, table: str) -> str:
    """DDL text for the schema — the GET_DDL analog
    (`/root/reference/utils/database.py:49-55`)."""
    cols = ", ".join(f"{f.name} {f.dataType.simpleString().upper()}" for f in df.schema.fields)
    return f"CREATE TABLE {table} ({cols})"
