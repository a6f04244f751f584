"""CDC kernel: change-time derivation, delta predicates, latest-per-key
dedup, and the soft-delete upsert merge.

This re-expresses the reference pipeline's data plane as Spark algebra:

- ``change_ts_col`` — the synthetic event-time expression
  ``GREATEST(COALESCE(UPDATED_AT, CREATED_AT), CREATED_AT)``
  (`/root/reference/scripts/03_cdc_etl.py:284-289`).
- ``delta_predicate`` — the incremental filter, rewritten onto *base*
  columns so it pushes down to parquet row-group stats / JDBC
  (the reference filters on the derived column after a full read,
  `/root/reference/scripts/03_cdc_etl.py:291-294` — see SURVEY.md §4).
- ``latest_per_key`` — window dedup picking the newest version per PK.
  The reference never needs this because it processes one batch per run
  and lets Oracle MERGE see at most one row per key; a real engine must
  collapse multi-change batches first (SURVEY.md §7 risk 4).
- ``merge_soft_delete`` — the Oracle MERGE
  (`/root/reference/scripts/03_cdc_etl.py:129-172`) as a single
  full-outer join: matched rows take ALL delta non-PK columns (including
  ``IS_DELETED``); unmatched delta rows insert only when
  ``IS_DELETED='N'`` — a soft-delete for a never-replicated key is
  dropped silently, exactly as the reference's insert gate does
  (`/root/reference/scripts/03_cdc_etl.py:152-156`; pinned behavior).

Scale notes (100 TB): the merge is ONE shuffle on the PK — both sides
hash-partition on ``pk`` and AQE converts to broadcast when the delta is
small (the common CDC case) or splits skewed partitions. Attribution
counts and the batch's max change time are observed on the merge join
by the one action that writes it, not by the reference's before/after
``COUNT(*)`` arithmetic and ``MAX(GREATEST(...))`` query
(reference `scripts/03_cdc_etl.py:168-169,325-329`): three extra
scans, and the counts double-count dropped soft-deletes as updates
(SURVEY.md §7 risk 2).
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import datetime

from py4j.protocol import Py4JJavaError
from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F

CREATED = "created_at"
UPDATED = "updated_at"
DELETED = "is_deleted"


def change_ts_col(created: str = CREATED, updated: str = UPDATED) -> Column:
    """``GREATEST(COALESCE(updated, created), created)`` — the
    reference's synthetic change time
    (`/root/reference/scripts/03_cdc_etl.py:284-289`)."""
    return F.greatest(F.coalesce(F.col(updated), F.col(created)), F.col(created))


def delta_predicate(last_ts, created: str = CREATED, updated: str = UPDATED) -> Column | None:
    """Pushdown-safe incremental predicate.

    ``change_ts > last_ts`` is equivalent to
    ``created > last_ts OR updated > last_ts`` because
    ``change_ts = greatest(coalesce(u, c), c)`` equals ``c`` when ``u``
    is NULL and ``max(u, c)`` otherwise. Comparisons on base columns
    reach the parquet reader (row-group min/max pruning) and the JDBC
    pushed query, unlike the derived-column filter the reference applies
    after a full scan (`/root/reference/scripts/03_cdc_etl.py:282-294`).

    ``None`` (no watermark yet) means full load — first-run semantics
    per `/root/reference/scripts/03_cdc_etl.py:291-294`.

    Boundary semantics: the strict ``>`` matches the reference exactly
    — which means a row that becomes VISIBLE late with ``change_ts``
    equal to the committed watermark is never re-read (at-most-once at
    the boundary; the reference shares this hazard).
    """
    if last_ts is None:
        return None
    ts = F.lit(last_ts)
    return (F.col(created) > ts) | (F.col(updated) > ts)


def delta_predicate_sql(last_ts, created: str = CREATED, updated: str = UPDATED) -> str | None:
    """Same predicate rendered as SQL for JDBC subquery pushdown."""
    if last_ts is None:
        return None
    lit = f"TIMESTAMP '{last_ts}'" if not str(last_ts).upper().startswith("TIMESTAMP") else str(last_ts)
    return f"({created} > {lit} OR {updated} > {lit})"


def with_change_ts(df: DataFrame, col_name: str = "__change_ts__",
                   created: str = CREATED, updated: str = UPDATED) -> DataFrame:
    return df.withColumn(col_name, change_ts_col(created, updated))


def latest_per_key(df: DataFrame, pk: list[str], order_cols: list[Column] | None = None,
                   created: str = CREATED, updated: str = UPDATED) -> DataFrame:
    """Keep only the newest version of each key.

    Default ordering: change time desc. Callers should add a
    deterministic tiebreak column when change times can collide.
    One shuffle on ``pk`` — the same partitioning the merge join needs,
    so Catalyst reuses the exchange when composed with
    ``merge_soft_delete``. Over a single partition (``coalesce(1)``,
    for a delta known to be small) there is no shuffle at all: one
    partition already meets the window's clustering.
    """
    order = order_cols or [change_ts_col(created, updated).desc()]
    w = Window.partitionBy(*pk).orderBy(*order)
    return (
        df.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") == 1)
        .drop("__rn__")
    )


@dataclass
class MergeStats:
    """Exact attribution, from the merge join itself (not table-count
    deltas — see module docstring). ``delta_rows`` counts every row of
    the delta the merge read, so 0 means the delta was empty: u+i+x
    cannot tell, because a new key whose ``is_deleted`` is NULL
    neither inserts nor counts as a dropped delete."""

    updated: int
    inserted: int
    dropped_deletes: int
    # gated soft-deletes included; None for a delta without CDC columns
    max_change_ts: datetime | None = None
    delta_rows: int = 0

    @property
    def staged(self) -> int:
        return self.updated + self.inserted + self.dropped_deletes


@dataclass
class MergeResult:
    """``df`` is the merged table. Its plan observes the merge join
    below the insert gate, so the first action that runs ``df`` in full
    (the target write) also fills ``observation``: the u/i/x counts, the
    delta's row count and its max change time, with no action of its
    own."""

    df: DataFrame
    observation: Observation

    def stats(self) -> MergeStats:
        """What the first action over ``df`` observed; if none has run,
        runs ``df`` into the no-op sink rather than wait forever. A
        partial first action (``take``, ``show``, ``isEmpty``) leaves
        partial counts: run ``df`` in full first."""
        done = self.observation._jo.future().isCompleted
        if not done():
            # an action's fill is posted on the listener bus after the
            # action returns: drain it before deciding none has run
            try:
                self.df.sparkSession.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
            except Py4JJavaError:  # timeout on a backlogged bus
                pass
            if not done():
                self.df.write.mode("overwrite").format("noop").save()
        m = self.observation.get
        return MergeStats(updated=m["u"], inserted=m["i"], dropped_deletes=m["x"],
                          max_change_ts=m.get("max_ts"), delta_rows=m["n"])


def _q(name: str) -> str:
    """Backtick-quote a column name for ``selectExpr``/``where`` text."""
    return "`" + name.replace("`", "``") + "`"


def _attribution(t_present: Column, d_present: Column, deleted: Column) -> list[Column]:
    """Aggregates over a merge join: delta rows that update a target
    row, insert, or are dropped by the insert gate (a soft-delete of a
    key the target never saw)."""
    new = d_present & ~t_present
    return [
        F.count_if(d_present & t_present).alias("u"),
        F.count_if(new & (deleted == "N")).alias("i"),
        F.count_if(new & (deleted == "Y")).alias("x"),
    ]


def _observed(t_present: Column, d_present: Column, deleted: Column,
              change_ts: Column | None) -> list[Column]:
    """What a merge observes: the attribution, the delta's row count
    and, with CDC columns, its max change time."""
    return _attribution(t_present, d_present, deleted) + [F.count_if(d_present).alias("n")] + (
        [] if change_ts is None else [F.max(change_ts).alias("max_ts")])


def _align_schemas(target: DataFrame, delta: DataFrame) -> tuple[DataFrame, DataFrame, list[str]]:
    """Schema evolution across runs (the reference handles DDL drift in
    a separate schema-sync pass; in-engine the merge absorbs it):

    - column added at the source → target gains it as NULL, existing
      rows keep NULL until a delta updates them;
    - column dropped at the source → delta gains it as NULL for schema
      alignment, but matched rows PRESERVE the target's value: the
      reference MERGE's SET list covers only staged columns
      (`/root/reference/scripts/03_cdc_etl.py:145-157`), so a column
      the delta doesn't carry is never overwritten. The merge
      strategies use the returned ``backfilled`` list to resolve those
      columns from the target side on matched rows.

    Output column order: target columns, then new delta columns in
    delta order. Returns (target, delta, backfilled-column-names).
    """
    t_cols = {c.lower(): c for c in target.columns}
    d_cols = {c.lower(): c for c in delta.columns}
    d_types = dict(zip([c.lower() for c in delta.columns], [f.dataType for f in delta.schema.fields]))
    t_types = dict(zip([c.lower() for c in target.columns], [f.dataType for f in target.schema.fields]))
    for lc, name in d_cols.items():
        if lc not in t_cols:
            target = target.withColumn(name, F.lit(None).cast(d_types[lc]))
    backfilled = []
    for lc, name in t_cols.items():
        if lc not in d_cols:
            delta = delta.withColumn(name, F.lit(None).cast(t_types[lc]))
            backfilled.append(name)
    # delta projected into the (evolved) target column order
    delta = delta.select(*target.columns)
    return target, delta, backfilled


def _merge_broadcast_delta(
    target: DataFrame, delta: DataFrame, pk: list[str], deleted_col: str,
    backfilled: list[str], change_ts: Column | None,
) -> MergeResult:
    """No-target-shuffle merge: see ``merge_soft_delete`` docstring."""
    out_cols = target.columns
    # target-side passes: broadcast the (small) delta keys. The explicit
    # non-null filter (a null key matches nothing) makes the anti and
    # semi joins plan the same broadcast, so Spark builds it once over
    # an uncached delta; over a cached one (the pipeline's counted
    # delta) AQE plans two cache stages and builds it twice.
    keys = delta.selectExpr(*map(_q, pk)).where(" AND ".join(f"{_q(k)} IS NOT NULL" for k in pk))
    untouched = target.join(F.broadcast(keys), pk, "left_anti").selectExpr(*map(_q, out_cols))
    # matched keys also carry the target's values for columns the delta
    # does not stage (schema-drop case) — still ≤|delta| rows, so the
    # broadcast stays delta-sized
    matched_keys = target.join(F.broadcast(keys), pk, "left_semi").selectExpr(
        *map(_q, pk), *[f"{_q(c)} AS {_q(f'__tb_{c}__')}" for c in backfilled], "1 AS __m__"
    )
    # resolve delta rows against the (≤|delta|) matched-key set
    d_flagged = delta.join(F.broadcast(matched_keys), pk, "left")
    matched = F.col("__m__").isNotNull()
    obs = Observation()  # below the insert gate: gated soft-deletes count
    d_flagged = d_flagged.observe(obs, *_observed(matched, F.lit(True), F.col(deleted_col), change_ts))
    kept = d_flagged.where(f"__m__ IS NOT NULL OR {_q(deleted_col)} = 'N'").selectExpr(*[
        f"CASE WHEN __m__ IS NOT NULL THEN {_q(f'__tb_{c}__')} ELSE {_q(c)} END AS {_q(c)}"
        if c in backfilled
        else _q(c)
        for c in out_cols
    ])
    return MergeResult(df=untouched.unionByName(kept), observation=obs)


def merge_attribution(target: DataFrame, delta: DataFrame, pk: list[str],
                      deleted_col: str = DELETED) -> DataFrame:
    """One-row DataFrame of exact merge attribution counts
    (updated_count, inserted_count, dropped_count), computed from the
    merge join in a single pass — replaces the reference's before/after
    ``COUNT(*)`` arithmetic (`/root/reference/scripts/03_cdc_etl.py:122-127,168-169`)
    which costs two extra full scans and misattributes dropped
    soft-deletes as updates (SURVEY.md §7 risk 2)."""
    return _tagged_join(target, delta, pk).agg(*_attribution(
        F.col(f"__t_{pk[0]}__").isNotNull(), F.col(f"__d_{pk[0]}__").isNotNull(),
        F.col(f"__d_{deleted_col}__"),
    )).toDF("updated_count", "inserted_count", "dropped_count")


def _tagged_join(target: DataFrame, delta: DataFrame, pk: list[str]) -> DataFrame:
    """Full-outer join on ``pk``, every column tagged ``__t_c__`` /
    ``__d_c__`` so the joined plan keeps unambiguous references."""
    t = target.select([F.col(c).alias(f"__t_{c}__") for c in target.columns])
    d = delta.select([F.col(c).alias(f"__d_{c}__") for c in delta.columns])
    cond = None
    for k in pk:
        clause = F.col(f"__t_{k}__") == F.col(f"__d_{k}__")
        cond = clause if cond is None else (cond & clause)
    return t.join(d, cond, "full_outer")


def merge_soft_delete(
    target: DataFrame,
    delta: DataFrame,
    pk: list[str],
    deleted_col: str = DELETED,
    dedup_delta: bool = False,
    created: str = CREATED,
    updated: str = UPDATED,
    strategy: str = "shuffle",
) -> MergeResult:
    """Soft-delete upsert merge (reference MERGE parity).

    Semantics (pinned to `/root/reference/scripts/03_cdc_etl.py:145-157`):

    - MATCHED → row takes every delta column (SET list covers all
      non-PK columns *including* ``is_deleted``).
    - NOT MATCHED → insert only when ``delta.is_deleted = 'N'``;
      a soft-delete for a key the target never saw is dropped.
    - Target rows without a delta match pass through unchanged.

    Two physical strategies, identical results:

    - ``strategy="shuffle"`` (default): ONE full-outer join on ``pk``
      with per-column ``WHEN delta-matched THEN delta ELSE target``
      resolution, then the insert-gate filter. Both sides shuffle —
      right when target and delta are comparable sizes.
    - ``strategy="broadcast_delta"``: full-outer joins cannot
      broadcast, so the default shuffles the ENTIRE target every run —
      at 100 TB that dominates everything. When the delta is small
      (the steady-state CDC case) this strategy decomposes the merge
      into target-side anti/semi joins against the broadcast delta:
      the target is scanned but NEVER shuffled, and the surviving
      delta rows are resolved against the (tiny) matched-key set.
      Cost: 2 target scans, 0 target shuffles vs 1 scan + 1 full
      shuffle — scans are far cheaper than a cluster-wide shuffle of
      the same bytes — and 2 broadcasts: the delta keys, built once
      and reused by the anti and semi joins, and the matched-key set.
      So 3 jobs with the write. A delta deduplicated in one partition
      (``latest_per_key`` over ``coalesce(1)``) adds no exchange
      either. A cached delta (the pipeline caches one it counts) gets
      no reuse: its key broadcast is built twice.

    ``dedup_delta=True`` collapses multi-change batches via
    ``latest_per_key`` first. Column order of the output = target
    column order.

    Both strategies observe the join below the insert gate, so the
    write of ``df`` also fills the u/i/x counts, the delta's row count
    and its max change time.
    """
    if not pk:
        raise ValueError("merge requires a non-empty primary key")
    if strategy not in ("shuffle", "broadcast_delta"):
        raise ValueError(f"unknown merge strategy: {strategy}")
    if dedup_delta:
        delta = latest_per_key(delta, pk, created=created, updated=updated)
    target, delta, backfilled = _align_schemas(target, delta)
    # the merge also serves frames without CDC columns (snapshots, qids)
    has_ts = {created.lower(), updated.lower()} <= {c.lower() for c in delta.columns}
    if strategy == "broadcast_delta":
        change_ts = change_ts_col(created, updated) if has_ts else None
        return _merge_broadcast_delta(target, delta, pk, deleted_col, backfilled, change_ts)

    out_cols = target.columns
    joined = _tagged_join(target, delta, pk)
    d_present = F.col(f"__d_{pk[0]}__").isNotNull()
    t_present = F.col(f"__t_{pk[0]}__").isNotNull()
    change_ts = change_ts_col(f"__d_{created}__", f"__d_{updated}__") if has_ts else None
    obs = Observation()  # below the insert gate: gated soft-deletes count
    joined = joined.observe(
        obs, *_observed(t_present, d_present, F.col(f"__d_{deleted_col}__"), change_ts))
    resolved = joined.filter(
        t_present | (F.col(f"__d_{deleted_col}__") == "N")  # insert gate
    ).select(
        [
            # backfilled = column the delta doesn't stage: matched rows
            # keep the target value (reference MERGE SET-list scope)
            F.when(t_present, F.col(f"__t_{c}__")).otherwise(F.col(f"__d_{c}__")).alias(c)
            if c in backfilled
            else F.when(d_present, F.col(f"__d_{c}__")).otherwise(F.col(f"__t_{c}__")).alias(c)
            for c in out_cols
        ]
    )
    return MergeResult(df=resolved, observation=obs)
