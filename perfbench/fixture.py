"""Seeded inputs for the benchmark, built with numpy and pyarrow only.

Two kinds of input:

- ``write_analytics_dir`` writes the ten tables the query registry
  reads (``<dir>/<name>.parquet``, one file each), with the schemas and
  value shapes documented in FIXTURES.md.
- ``CdcSource`` owns the replication source: the seven star tables made
  PK-unique, with CDC columns, one current-state parquet file per table.
  It gives the counts of a first load, plants change batches,
  rewrites the changed files in place and keeps the state the target
  must reach, plus the per-cycle merge counts the pipeline must report.

No Spark is used here, so generating inputs adds no Spark job to the
counts the trace reads.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

STAR_TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]

PKS = {
    "region": ["r_regionkey"],
    "nation": ["n_nationkey"],
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey"],
    "lineitem": ["l_orderkey", "l_linenumber"],
}

# Tables a change batch touches, the value column each update moves,
# and the share of a table's rows one batch changes.
CHANGED = {"customer": "c_acctbal", "orders": "o_totalprice", "lineitem": "l_quantity"}
CHANGE_SHARE = 0.01

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()

_US = pa.timestamp("us")
_US_UTC = pa.timestamp("us", tz="UTC")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: datetime, span_days: int, n: int) -> pa.Array:
    base = np.datetime64(start, "us")
    offs = rng.integers(0, span_days, n).astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.array(base + offs, _US)


def star_tables(rng: np.random.Generator, sf: float) -> dict[str, pa.Table]:
    """The TPC-H-shaped star schema. Like the reference fixture, lineitem
    draws ``l_orderkey`` and ``l_linenumber`` independently, so its
    natural key repeats."""
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord, n_li = int(200_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": pa.array(SEGMENTS).take(rng.integers(0, 5, n_cust)),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    names = [f"{a} {b}" for a in P_ADJ for b in P_NOUN]
    keys = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": keys,
        "p_name": pa.array(names).take(rng.integers(0, len(names), n_part)),
        "p_brand": pa.array([f"Brand#{i}" for i in range(1, 26)]).take(rng.integers(0, 25, n_part)),
        "p_type": pa.array(P_TYPES).take(rng.integers(0, len(P_TYPES), n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (keys % 1000) / 10, 2),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": pa.array(["F", "O", "P"]).take(rng.integers(0, 3, n_ord)),
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": _days(rng, datetime(1995, 1, 1), 2405, n_ord),
        "o_orderpriority": pa.array(PRIORITIES).take(rng.integers(0, 5, n_ord)),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": pa.array(["A", "N", "R"]).take(rng.integers(0, 3, n_li)),
        "l_linestatus": pa.array(["F", "O"]).take(rng.integers(0, 2, n_li)),
        "l_shipdate": _days(rng, datetime(1995, 1, 2), 2499, n_li),
    })
    return t


def _events(rng, sf: float) -> pa.Table:
    n = int(1_000_000 * sf)
    gaps = rng.exponential(30 * 86400 / n, n)
    ts = np.datetime64(datetime(2024, 1, 1), "us") + (np.cumsum(gaps) * 1e6).astype("timedelta64[us]")
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(ts, _US),
        "user_id": rng.integers(0, max(150, int(15_000 * sf)), n),
        "event_type": pa.array(EVENT_TYPES).take(rng.integers(0, 5, n)),
        "value": np.maximum(np.round(rng.exponential(50, n), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def _documents(rng, n: int) -> pa.Table:
    """Synthetic sentences; one in twenty is an earlier document with
    `` dup`` appended, so the near-duplicate operators find pairs."""
    texts = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 100)))))
    langs = pa.array(LANGS).take(rng.choice(5, n, p=[0.44, 0.14, 0.14, 0.14, 0.14]))
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })


def _embeddings(rng, n: int, dim: int = 64) -> pa.Table:
    """Unit vectors drawn around one weak centre per label (0-9)."""
    labels = rng.integers(0, 10, n)
    centres = rng.normal(size=(10, dim))
    x = 0.15 * centres[labels] + rng.normal(size=(n, dim))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def write_analytics_dir(path: str, seed: int, sf: float) -> None:
    """The ten registry tables at scale ``sf``, one parquet file each."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(path, exist_ok=True)
    tables = star_tables(rng, sf)
    tables["events"] = _events(rng, sf)
    tables["documents"] = _documents(rng, max(500, int(50_000 * sf)))
    tables["embeddings"] = _embeddings(rng, max(500, int(20_000 * sf)))
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(path, f"{name}.parquet"))


def dedup_by_key(tbl: pa.Table, pk: list[str]) -> pa.Table:
    """Keep the first row of each key, in generation order.

    The replication source must be PK-unique: with two rows of one key
    and equal change times, ``latest_per_key`` may keep either, so the
    target would not be a function of the source and no check could
    pin it. Keeping the first occurrence is deterministic for a seed."""
    idx = pa.array(np.arange(tbl.num_rows, dtype=np.int64))
    first = (
        tbl.select(pk).append_column("__i__", idx)
        .group_by(pk, use_threads=False).aggregate([("__i__", "min")])
        .column("__i___min")
    )
    return tbl.take(np.sort(first.to_numpy()))


@dataclass
class Expected:
    """What one ``CdcPipeline.run()`` must report for a changed table."""

    inserted: int
    updated: int
    dropped_deletes: int


class CdcSource:
    """Replication source with CDC columns and a generator of change
    batches.

    ``state[t]`` is the current source table; ``in_target[t]`` marks the
    rows whose key the target holds (a key enters the target the first
    time a replicated version has ``is_deleted = 'N'``). The target must
    equal ``state[t]`` filtered by ``in_target[t]`` after every run.
    """

    # Initial change times lie in 2020; batch ``c`` stamps its rows
    # inside hour ``c`` after T0, so each batch is newer than the last
    # watermark and the delta is exactly the batch.
    T0 = datetime(2021, 1, 1)

    def __init__(self, path: str, seed: int, sf: float):
        self.path = path
        self.rng = np.random.default_rng([seed, 2])
        self.cycle = 0
        self.state: dict[str, pa.Table] = {}
        self.in_target: dict[str, np.ndarray] = {}
        os.makedirs(path, exist_ok=True)
        for name, tbl in star_tables(self.rng, sf).items():
            tbl = dedup_by_key(tbl, PKS[name])
            n = tbl.num_rows
            created = np.datetime64(datetime(2020, 1, 1), "us") + self.rng.integers(
                0, 365 * 86400 * 10**6, n
            ).astype("timedelta64[us]")
            upd_ok = self.rng.random(n) < 0.2
            updated = created + self.rng.integers(1, 86400 * 10**6, n).astype("timedelta64[us]")
            deleted = np.where(self.rng.random(n) < 0.005, "Y", "N")
            tbl = (
                tbl.append_column("created_at", pa.array(created, _US_UTC))
                .append_column("updated_at", pa.array(updated, _US_UTC, mask=~upd_ok))
                .append_column("is_deleted", pa.array(deleted))
            )
            self.state[name] = tbl
            self.in_target[name] = np.zeros(n, dtype=bool)
            self._write(name)

    def _write(self, name: str) -> None:
        final = os.path.join(self.path, f"{name}.parquet")
        tmp = f"{final}.tmp"
        pq.write_table(self.state[name], tmp)
        os.replace(tmp, final)

    def first_load_expected(self) -> dict[str, Expected]:
        """Counts of a full load into an empty target: live rows insert,
        soft-deleted ones meet the insert gate. Marks live rows
        replicated."""
        out = {}
        for name, tbl in self.state.items():
            live = pc.equal(tbl.column("is_deleted"), "N").to_numpy(zero_copy_only=False)
            self.in_target[name] = live
            out[name] = Expected(inserted=int(live.sum()), updated=0,
                                 dropped_deletes=int((~live).sum()))
        return out

    def plant_batch(self) -> dict[str, Expected]:
        """Change ``CHANGE_SHARE`` of the replicated rows of customer,
        orders and lineitem: value updates, a tenth of them soft-deletes,
        plus fresh-key inserts and fresh-key soft-deletes (which the
        merge's insert gate must drop). Rewrites the changed files."""
        self.cycle += 1
        hour = np.datetime64(self.T0 + timedelta(hours=self.cycle), "us")

        def stamp(k):
            return pa.array(hour + self.rng.integers(1, 3600 * 10**6, k).astype("timedelta64[us]"), _US_UTC)

        out = {}
        for name, value_col in CHANGED.items():
            tbl, live = self.state[name], self.in_target[name]
            n_upd = max(1, int(tbl.num_rows * CHANGE_SHARE))
            n_new = max(2, n_upd // 20)
            n_gate = max(1, n_upd // 100)
            rows = self.rng.choice(np.flatnonzero(live), n_upd, replace=False)

            value = tbl.column(value_col).to_numpy().copy()
            value[rows] = np.round(value[rows] + 1.0, 2)
            upd = pc.fill_null(tbl.column("updated_at").cast(pa.int64()), 0).to_numpy().copy()
            upd_null = pc.is_null(tbl.column("updated_at")).to_numpy(zero_copy_only=False).copy()
            upd[rows] = stamp(n_upd).cast(pa.int64()).to_numpy()
            upd_null[rows] = False
            deleted = tbl.column("is_deleted").to_numpy(zero_copy_only=False).copy()
            deleted[rows] = np.where(self.rng.random(n_upd) < 0.1, "Y", "N")
            tbl = (
                tbl.set_column(tbl.schema.get_field_index(value_col), value_col, pa.array(value))
                .set_column(tbl.schema.get_field_index("updated_at"), "updated_at",
                            pa.array(upd, pa.int64(), mask=upd_null).cast(_US_UTC))
                .set_column(tbl.schema.get_field_index("is_deleted"), "is_deleted",
                            pa.array(deleted, pa.string()))
            )

            # fresh keys above the current maximum: inserts, then gated deletes
            k = n_new + n_gate
            fresh = tbl.take(self.rng.integers(0, tbl.num_rows, k))
            key0 = PKS[name][0]
            first_key = pc.max(tbl.column(key0)).as_py() + 1
            for col, arr in (
                (key0, pa.array(np.arange(first_key, first_key + k), fresh.schema.field(key0).type)),
                ("created_at", stamp(k)),
                ("updated_at", pa.nulls(k, _US_UTC)),
                ("is_deleted", pa.array(["N"] * n_new + ["Y"] * n_gate)),
            ):
                fresh = fresh.set_column(fresh.schema.get_field_index(col), col, arr)
            self.state[name] = pa.concat_tables([tbl, fresh]).combine_chunks()
            self.in_target[name] = np.concatenate([live, np.ones(n_new, bool), np.zeros(n_gate, bool)])
            self._write(name)
            out[name] = Expected(inserted=n_new, updated=n_upd, dropped_deletes=n_gate)
        return out

    def expected_target(self, name: str) -> pa.Table:
        return self.state[name].filter(pa.array(self.in_target[name]))

    def max_change_ts(self, name: str) -> datetime:
        """``max(greatest(coalesce(updated_at, created_at), created_at))``."""
        tbl = self.state[name]
        created = tbl.column("created_at").cast(pa.int64())
        updated = pc.coalesce(tbl.column("updated_at").cast(pa.int64()), created)
        us = pc.max(pc.max_element_wise(updated, created)).as_py()
        return datetime(1970, 1, 1) + timedelta(microseconds=us)
