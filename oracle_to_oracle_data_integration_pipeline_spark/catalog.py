"""Table registry — the engine's catalog.

Replaces the reference's Oracle dictionary-view helpers
(`/root/reference/utils/database.py:17-109`: ``list_tables``,
``get_all_columns``, ``get_pk_columns``, ``get_fk_relationships``,
``table_exists``/``column_exists``, ``get_table_ddl``) with a typed,
source-agnostic registry. Tables are discovered at runtime from the
source (directory listing for parquet, dictionary views for JDBC), and
each carries the metadata the CDC pipeline needs: ordered columns,
primary-key columns (composite supported, ordered — reference orders by
``col.position``, `/root/reference/utils/database.py:68`), and FK edges
restricted to the registered table set
(`/root/reference/utils/database.py:107-108`).

Identifier handling mirrors the reference's normalization (every lookup
upper-cases the name, `/root/reference/utils/database.py:29,39,46`):
registry keys are case-insensitive.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from oracle_to_oracle_data_integration_pipeline_spark.sources.parquet import footer_schema

# CDC columns every tracked table carries, mirroring
# /root/reference/config/settings.py:22-27 (name, Spark type, "default").
CDC_COLUMNS: list[tuple[str, T.DataType]] = [
    ("CREATED_AT", T.TimestampType()),
    ("UPDATED_AT", T.TimestampType()),
    ("IS_DELETED", T.StringType()),
]

# The fixture star schema's keys and FK graph (FIXTURES.md). In a JDBC
# deployment these come from the source dictionary instead.
FIXTURE_PKS: dict[str, list[str]] = {
    "region": ["r_regionkey"],
    "nation": ["n_nationkey"],
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey"],
    "lineitem": ["l_orderkey", "l_linenumber"],
    "events": ["event_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}

# (parent, child) edges — same shape the reference's FK discovery returns
# (`/root/reference/utils/database.py:86-109`).
FIXTURE_FK_EDGES: list[tuple[str, str]] = [
    ("region", "nation"),
    ("nation", "customer"),
    ("nation", "supplier"),
    ("customer", "orders"),
    ("orders", "lineitem"),
    ("part", "lineitem"),
    ("supplier", "lineitem"),
]


@dataclass
class TableMeta:
    """Metadata for one registered table. ``schema`` is the one the
    latest ``Catalog.get_schema`` or ``load`` saw."""

    name: str
    path: str | None = None
    pk: list[str] = field(default_factory=list)
    schema: T.StructType | None = None

    @property
    def has_pk(self) -> bool:
        return bool(self.pk)


class Catalog:
    """Case-insensitive table registry backed by a parquet directory.

    ``Catalog.from_parquet_dir(spark, sf_dir)`` plays the role of the
    reference's ``list_tables`` discovery loop
    (`/root/reference/scripts/03_cdc_etl.py:246-249`): every
    ``*.parquet`` in the directory becomes a registered table, keys and
    FK edges attached from the fixture metadata when known.
    """

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._tables: dict[str, TableMeta] = {}
        self._fk_edges: list[tuple[str, str]] = []
        self._frames: dict[str, DataFrame] = {}  # put() tables

    # -- construction -------------------------------------------------

    @classmethod
    def from_parquet_dir(
        cls,
        spark: SparkSession,
        sf_dir: str,
        pks: dict[str, list[str]] | None = None,
        fk_edges: list[tuple[str, str]] | None = None,
    ) -> "Catalog":
        cat = cls(spark)
        pks = pks if pks is not None else FIXTURE_PKS
        # Two layouts: fixture-style single files (<name>.parquet) and
        # production-style table directories (<name>/part-*.parquet).
        entries: dict[str, str] = {}
        for f in os.listdir(sf_dir):
            full = os.path.join(sf_dir, f)
            if f.endswith(".parquet") and os.path.isfile(full):
                entries[f[: -len(".parquet")]] = full
            elif os.path.isdir(full) and not f.startswith((".", "_")):
                children = os.listdir(full)
                has_files = any(p.endswith(".parquet") for p in children)
                # hive-partitioned layout: only key=value subdirs at the
                # top level (e.g. orders/o_year=1997/part-*.parquet)
                has_partitions = any(
                    "=" in p and os.path.isdir(os.path.join(full, p)) for p in children
                )
                if has_files or has_partitions:
                    entries.setdefault(f, full)
        for name in sorted(entries):
            cat.register(
                TableMeta(
                    name=name,
                    path=entries[name],
                    pk=list(pks.get(name.lower(), [])),
                )
            )
        known = set(cat.list_tables())
        edges = fk_edges if fk_edges is not None else FIXTURE_FK_EDGES
        # Restrict edges to registered tables, as the reference restricts
        # FK discovery to the discovered table set
        # (/root/reference/utils/database.py:107-108).
        cat._fk_edges = [(p, c) for p, c in edges if p.lower() in known and c.lower() in known]
        return cat

    def register(self, meta: TableMeta) -> None:
        self._tables[meta.name.lower()] = meta

    # -- catalog scans (reference utils/database.py parity) -----------

    def list_tables(self) -> list[str]:
        """Sorted table names (reference ORDER BY table_name,
        `/root/reference/utils/database.py:26`)."""
        return sorted(self._tables)

    def table_exists(self, name: str) -> bool:
        return name.lower() in self._tables

    def column_exists(self, table: str, column: str) -> bool:
        return column.lower() in (c.lower() for c in self.get_all_columns(table))

    def get_meta(self, name: str) -> TableMeta:
        return self._tables[name.lower()]

    def get_pk_columns(self, name: str) -> list[str]:
        return list(self.get_meta(name).pk)

    def get_all_columns(self, name: str) -> list[str]:
        """Ordered column list (reference orders by column_id,
        `/root/reference/utils/database.py:74-84`); StructType preserves
        source order."""
        return self.get_schema(name).names

    def get_fk_relationships(self) -> list[tuple[str, str]]:
        return list(self._fk_edges)

    def get_table_ddl(self, name: str) -> str:
        """Schema as a DDL string — the engine's analog of
        ``DBMS_METADATA.GET_DDL`` (`/root/reference/utils/database.py:49-55`).
        No physical-storage clauses exist to strip in Spark DDL, which is
        why the reference's regex rewriting
        (`/root/reference/scripts/02_clone_schema_structure.py:21-40`)
        has no counterpart here.
        """
        schema = self.get_schema(name)
        cols = ", ".join(f"{f.name} {f.dataType.simpleString().upper()}" for f in schema.fields)
        return f"CREATE TABLE {name} ({cols})"

    # -- data plane ----------------------------------------------------

    def get_schema(self, name: str) -> T.StructType:
        """The table's schema, kept in its ``TableMeta.schema``. A path
        table's is read fresh from a parquet footer on the driver
        (``footer_schema``: no Spark job), so a source whose schema
        evolves is seen on the next call."""
        key = name.lower()
        meta = self._tables[key]
        if key in self._frames:
            meta.schema = self._frames[key].schema
        elif meta.path is None:
            raise KeyError(f"table {name} has no path and no DataFrame")
        else:
            meta.schema = footer_schema(self.spark, meta.path)
        return meta.schema

    def load(self, name: str, schema: T.StructType | None = None) -> DataFrame:
        """DataFrame for a registered table (lazy parquet scan; Catalyst
        handles pushdown/pruning — nothing is materialized here).

        A path table gets a fresh reader, and with it a fresh file
        listing, on every call: a reader kept across calls keeps its
        file index and misses part files added since. Its schema is
        ``schema`` when the caller has just read it with ``get_schema``
        (no second footer read), else read fresh."""
        key = name.lower()
        if key in self._frames:
            return self._frames[key]
        return self.spark.read.schema(schema or self.get_schema(name)).parquet(self._tables[key].path)

    def put(self, name: str, df: DataFrame, pk: list[str] | None = None) -> None:
        """Register an in-memory DataFrame as a table (used by tests and
        by the pipeline for derived snapshots)."""
        self._tables[name.lower()] = TableMeta(name=name, pk=list(pk or []))
        self._frames[name.lower()] = df
