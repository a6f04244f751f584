"""Slowly-changing-dimension Type 2 history: validity-interval
tracking over CDC versions.

The reference replicates SCD1-style (soft-delete last-writer-wins
upserts, `/root/reference/scripts/03_cdc_etl.py:129-172`): history is
lost on every update. SCD2 is the standard warehouse answer — each key
keeps one row per version with ``[valid_from, valid_to)`` intervals and
an ``is_current`` flag. Two forms:

- ``scd2_from_versions``: rebuild the full history from a pile of
  versioned rows — one window over ``partitionBy(pk).orderBy(ts)``
  (a single shuffle keyed by the PK, the same partitioning the CDC
  merge already uses, so composing them reuses the exchange).
- ``scd2_apply``: incremental microbatch apply — close the affected
  open rows, append the new versions. One join keyed by the PK against
  the delta; the history's closed rows pass through untouched (at
  100 TB: partition the stored history by ``is_current`` so the apply
  only ever reads/writes the open slice — the closed majority is never
  touched).

Invariant (pinned by tests/test_scd2.py): applying batches one at a
time equals rebuilding from all versions at once —
``scd2_apply(scd2_from_versions(b1), b2) == scd2_from_versions(b1 ∪ b2)``.

Contract: (pk, ts) unique across all versions; delta batches move
strictly forward in time per key (the watermark-gated CDC guarantee) —
a delta version at or before a key's current ``valid_from`` raises.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def scd2_from_versions(df: DataFrame, pk: list[str], ts_col: str) -> DataFrame:
    """Full-history rebuild: every input row becomes a version with
    ``valid_from = ts``, ``valid_to`` = next version's ts (NULL = still
    current)."""
    w = Window.partitionBy(*pk).orderBy(ts_col)
    out = df.withColumn("valid_from", F.col(ts_col)).withColumn(
        "valid_to", F.lead(ts_col).over(w)
    )
    return out.withColumn("is_current", F.col("valid_to").isNull()).drop(ts_col)


def scd2_apply(hist: DataFrame, delta: DataFrame, pk: list[str], ts_col: str) -> DataFrame:
    """Incremental SCD2 microbatch apply. ``hist`` is prior
    ``scd2_*`` output; ``delta`` carries at most one new version per
    key (pre-collapse multi-version batches with
    ``scd2_from_versions``-style ordering or ``latest_per_key``).

    Stale delta versions (ts <= the key's open ``valid_from``) and
    NULL-ts delta rows violate the forward-only CDC contract and raise
    rather than silently corrupting intervals (a NULL ts would slip
    past the stale guard, leave the old row current AND append a second
    current row for the same key).
    """
    if not delta.filter(F.col(ts_col).isNull()).isEmpty():
        raise ValueError(
            "scd2_apply: delta contains NULL-ts rows — every version needs "
            "a change timestamp to place it on the validity timeline"
        )
    d = delta.select(
        *[F.col(c).alias(f"__d_{c}") for c in pk],
        F.col(ts_col).alias("__d_ts"),
    )
    on = [F.col(c) == F.col(f"__d_{c}") for c in pk]
    open_rows = hist.filter(F.col("is_current"))
    # localCheckpoint: the stale probe below and the returned plan both
    # consume this join — materialize it once instead of executing the
    # open-slice join twice per microbatch (the CDC merge avoids the
    # same double execution by observing its counts on the write)
    joined = open_rows.join(d, on, "left").localCheckpoint()
    stale = joined.filter(
        F.col("__d_ts").isNotNull() & (F.col("__d_ts") <= F.col("valid_from"))
    )
    if not stale.isEmpty():
        raise ValueError(
            "scd2_apply: delta contains versions at or before a key's open "
            "valid_from — CDC batches must move forward in time per key"
        )
    closed_now = joined.withColumn(
        "valid_to", F.coalesce(F.col("__d_ts"), F.col("valid_to"))
    ).withColumn("is_current", F.col("__d_ts").isNull()).drop(
        "__d_ts", *[f"__d_{c}" for c in pk]
    )
    new_rows = (
        delta.withColumn("valid_from", F.col(ts_col))
        .withColumn("valid_to", F.lit(None).cast(dict(hist.dtypes)["valid_from"]))
        .withColumn("is_current", F.lit(True))
        .drop(ts_col)
        .select(*closed_now.columns)
    )
    closed_before = hist.filter(~F.col("is_current"))
    return closed_before.unionByName(closed_now).unionByName(new_rows)
