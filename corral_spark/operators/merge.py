"""MERGE INTO (upsert) semantics as a batch DataFrame operator.

Spark core has no MERGE against plain parquet (that's a table-format
feature); the engine-level semantics — matched rows take the update's
values, unmatched updates are inserted, everything else is carried
over — are a single full-outer join on the merge key with per-column
COALESCE. One shuffle on the key for both sides; AQE handles skew, and
when the updates side is small the join broadcasts automatically.

Deletes follow the CDC convention: an optional tombstone column on the
updates side marks keys to drop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def merge_upsert(
    current: DataFrame,
    updates: DataFrame,
    key_col: str,
    delete_col: str | None = None,
) -> DataFrame:
    """Return ``current`` with ``updates`` applied by ``key_col``:
    update-over-insert-over-carry, optionally dropping rows whose
    update marks ``delete_col`` true. Both inputs must share a schema
    (minus the tombstone column). Column updates are partial: a NULL
    in an update column keeps the current value (CDC patch-style);
    use a delete+insert pair to force a column to NULL.
    """
    value_cols = [c for c in current.columns if c != key_col]
    up = updates
    if delete_col is not None:
        # NULL tombstone flag means "not a delete" (CDC feeds often
        # populate the flag only on deletes); a bare ~col() would drop
        # NULL-flagged updates from BOTH branches under three-valued
        # logic, silently discarding them.
        is_delete = F.coalesce(F.col(delete_col), F.lit(False))
        tomb = up.filter(is_delete).select(key_col)
        up = up.filter(~is_delete).drop(delete_col)
    cur = current.alias("c")
    upd = up.alias("u")
    merged = cur.join(upd, on=key_col, how="full_outer").select(
        F.col(key_col),
        *[
            F.coalesce(F.col(f"u.{c}"), F.col(f"c.{c}")).alias(c)
            for c in value_cols
        ],
    )
    if delete_col is not None:
        merged = merged.join(tomb, on=key_col, how="left_anti")
    return merged


def apply_agg_delta(
    snapshot: DataFrame,
    delta: DataFrame,
    key_cols: list[str],
    sum_cols: list[str],
    count_col: str = "n",
    sign_col: str = "sign",
) -> DataFrame:
    """Incremental view maintenance for a COUNT/SUM group-by rollup:
    update ``snapshot`` (one row per group: key_cols, count_col,
    sum_cols) with a signed ``delta`` batch (base-table rows plus
    ``sign_col`` = +1 insert / -1 delete) WITHOUT rescanning the base
    table — the maintenance step that keeps a 100 TB fact table's
    rollup current at the cost of the delta, not the table.

    COUNT and SUM are self-maintainable (deltas fold in by signed
    addition; AVG derives as sum/count downstream); MIN/MAX are NOT —
    deleting a group's current extremum requires recomputing that
    group from base data, which is why this operator deliberately
    supports only the additive family (document the limit at the call
    site, or keep extrema in a separate non-incremental view).

    Shape: the delta pre-aggregates per group (map-side combine — the
    shuffle carries one row per TOUCHED group), then a full-outer
    combine with the snapshot by key; groups whose maintained count
    reaches zero drop out, and a maintained count going NEGATIVE
    raises at evaluation (raise_error in-plan): a delete for a row
    the view never absorbed means the delta stream and snapshot have
    diverged, and silently clamping would hide the corruption.

    Output: same schema as ``snapshot``. Equivalence to a full
    recompute over base+delta is pytest-pinned.

    Group keys are matched NULL-SAFELY (``<=>``): GROUP BY collects
    all-NULL keys into one group, but a plain equi-join would never
    match that group between snapshot and delta — a delete against a
    NULL-keyed group then sees snapshot-side 0 and trips the
    negative-count guard (loud), and an insert-only delta silently
    DUPLICATES the group instead (both unmatched rows survive the
    full outer). Found by the NULL-injection campaign.
    """
    s = F.col(sign_col)
    # Companion NON-NULL-contribution counts: a maintained NULLABLE
    # SUM cannot distinguish "sums to zero" from "has no non-null
    # contributions left" after deletes — SQL's SUM over an all-NULL
    # group is NULL, and the layered-corruption campaign caught
    # the maintained state reading 0.0 there. When the snapshot
    # carries ``<col>__nn`` columns (COUNT(col) at snapshot build),
    # they are maintained alongside and the sum is emitted as NULL
    # exactly when its non-null count reaches 0. Snapshots without
    # the companions keep the legacy additive behavior (documented
    # limitation: all-NULL groups read 0).
    tracked = [c for c in sum_cols if f"{c}__nn" in snapshot.columns]
    dagg = delta.groupBy(*key_cols).agg(
        F.sum(s).alias("__dn"),
        *[
            F.sum(s * F.col(c)).alias(f"__d_{c}")
            for c in sum_cols
        ],
        *[
            F.sum(s * F.col(c).isNotNull().cast("long")).alias(
                f"__dnn_{c}"
            )
            for c in tracked
        ],
    )
    snap = snapshot.alias("s")
    d = dagg.alias("d")
    new_n = F.coalesce(F.col(f"s.{count_col}"), F.lit(0)) + F.coalesce(
        F.col("__dn"), F.lit(0)
    )
    checked_n = F.when(
        new_n < 0,
        F.raise_error(
            F.concat(
                F.lit("apply_agg_delta: negative maintained count for group "),
                F.concat_ws(
                    ",",
                    *[
                        F.coalesce(F.col(f"s.{k}"), F.col(f"d.{k}"))
                        .cast("string")
                        for k in key_cols
                    ],
                ),
            )
        ).cast(snapshot.schema[count_col].dataType),
    ).otherwise(new_n)
    cond = None
    for k in key_cols:
        c = F.col(f"s.{k}").eqNullSafe(F.col(f"d.{k}"))
        cond = c if cond is None else cond & c
    combined = snap.join(d, on=cond, how="full_outer").select(
        *[
            F.coalesce(F.col(f"s.{k}"), F.col(f"d.{k}")).alias(k)
            for k in key_cols
        ],
        checked_n.alias(count_col),
        *[
            (
                F.when(
                    (
                        F.coalesce(F.col(f"s.{c}__nn"), F.lit(0))
                        + F.coalesce(F.col(f"__dnn_{c}"), F.lit(0))
                    )
                    > 0,
                    F.coalesce(F.col(f"s.{c}"), F.lit(0))
                    + F.coalesce(F.col(f"__d_{c}"), F.lit(0)),
                )
                if c in tracked
                else F.coalesce(F.col(f"s.{c}"), F.lit(0))
                + F.coalesce(F.col(f"__d_{c}"), F.lit(0))
            ).alias(c)
            for c in sum_cols
        ],
        *[
            (
                F.coalesce(F.col(f"s.{c}__nn"), F.lit(0))
                + F.coalesce(F.col(f"__dnn_{c}"), F.lit(0))
            ).alias(f"{c}__nn")
            for c in tracked
        ],
    )
    return combined.filter(F.col(count_col) > 0)


def refresh_affected_groups(
    snapshot: DataFrame,
    base: DataFrame,
    touched_keys: DataFrame,
    key_cols: list[str],
    aggregate,
) -> DataFrame:
    """The non-additive companion to ``apply_agg_delta``: refresh a
    group-by view for aggregates that are NOT self-maintainable under
    deletes (MIN/MAX, exact distinct counts, percentiles) by
    recomputing ONLY the groups a delta touched against the base
    table, while every untouched group carries over from the
    snapshot verbatim. Cost: one base-side scan FILTERED to the
    touched keys (a semi-join the optimizer can turn into a runtime
    bloom/DPP prune when the touched set is selective) plus an
    anti-join over the groups-sized snapshot — never a full-view
    recompute.

    ``aggregate`` is the view definition: a callable mapping a base
    frame to its grouped aggregate (the SAME function that built the
    snapshot — passing it in keeps the two definitions incapable of
    drifting). ``touched_keys`` holds the key columns of the groups
    to refresh (dedup not required); a touched group with no
    remaining base rows simply disappears from the view.

    The semi/anti joins match keys NULL-SAFELY (``<=>``): a
    NULL-keyed touched group would otherwise neither select its base
    rows for recompute nor evict its stale snapshot row (anti-join
    keeps non-matches), silently carrying the old aggregate forward
    (found by the NULL-injection campaign).
    """
    touched = touched_keys.select(*key_cols).distinct()

    def _cond(left_alias: str):
        cond = None
        for k in key_cols:
            c = F.col(f"{left_alias}.{k}").eqNullSafe(F.col(f"t.{k}"))
            cond = c if cond is None else cond & c
        return cond

    recomputed = aggregate(
        base.alias("b")
        .join(touched.alias("t"), _cond("b"), "leftsemi")
    )
    untouched = snapshot.alias("v").join(
        touched.alias("t"), _cond("v"), "left_anti"
    )
    return untouched.unionByName(recomputed)
