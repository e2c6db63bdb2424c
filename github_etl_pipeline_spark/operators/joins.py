"""Custom join operators Spark lacks natively.

``range_join``: interval containment (fact.time BETWEEN interval.start
AND interval.end). Naively expressed, Catalyst plans a non-equi
condition join as BroadcastNestedLoopJoin — quadratic work and the exact
node the plan-hygiene suite bans. The bucketized form restores an
equi-join: bucket both sides on floor(time / W); each interval EXPLODES
into the buckets it spans (bounded by interval_length/W + 1 rows), each
fact lands in exactly ONE bucket, so the hash join on (keys..., bucket)
followed by the exact BETWEEN verify emits every true match exactly once
— no dedup shuffle. Cost: shuffle of facts + intervals x spanned-bucket
fan-out; pick ``bucket_width`` near the typical interval length so the
fan-out stays ~2. Skewed hot buckets respond to the usual levers (AQE
skew join, salting the bucket key).

``asof_join``: the other classic time join, generalized (direction
backward/forward/nearest, tolerance, exact-match toggle) — see its
docstring. The fixed-shape special case predates it as the registered
``plans/relational.py::asof_click_before_error`` query; the generalized
operator is exercised by ``asof_nearest_events``.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def range_join(
    facts: DataFrame,
    intervals: DataFrame,
    fact_time_col: str,
    start_col: str,
    end_col: str,
    keys: Sequence[str] = (),
    bucket_width: int = 86_400_000_000,
) -> DataFrame:
    """Join each fact row to every interval row containing its timestamp
    (inclusive bounds), optionally also matching on equi-``keys``.
    Times are integers (e.g. epoch micros) so the containment predicate
    is exact on both engines. Output: fact columns + interval columns
    (minus the helper bucket)."""
    if bucket_width <= 0:
        raise ValueError(f"bucket_width must be positive (got {bucket_width})")
    i = intervals.withColumn(
        "_b",
        F.explode(
            F.sequence(
                F.floor(F.col(start_col) / bucket_width),
                F.floor(F.col(end_col) / bucket_width),
            )
        ),
    )
    f = facts.withColumn("_b", F.floor(F.col(fact_time_col) / bucket_width))
    return (
        f.join(i, ["_b", *keys])
        .where(
            (F.col(fact_time_col) >= F.col(start_col))
            & (F.col(fact_time_col) <= F.col(end_col))
        )
        .drop("_b")
    )


def interval_overlap_join(
    a: DataFrame,
    b: DataFrame,
    a_start: str,
    a_end: str,
    b_start: str,
    b_end: str,
    keys: Sequence[str] = (),
    bucket_width: int = 86_400_000_000,
) -> DataFrame:
    """Interval x interval overlap join: every (a, b) pair whose closed
    intervals intersect (``a_start <= b_end AND b_start <= a_end``),
    optionally also matching on equi-``keys``.

    Same bucketization as ``range_join``, but BOTH sides explode into the
    buckets they span, so overlapping pairs meet in every shared bucket.
    Rather than a dedup shuffle, each true pair is kept only in its
    CANONICAL bucket — the one containing the overlap's start,
    ``floor(greatest(a_start, b_start) / W)``, which both intervals
    provably span — so every match is emitted exactly once. Cost is the
    same equi-join shape: shuffle of (bucket, keys) with per-interval
    fan-out ~ length/W + 1; pick ``bucket_width`` near the typical
    interval length. Column names across ``a`` and ``b`` must not
    collide (rename before calling, as with any self-join)."""
    if bucket_width <= 0:
        raise ValueError(f"bucket_width must be positive (got {bucket_width})")
    ea = a.withColumn(
        "_b",
        F.explode(
            F.sequence(
                F.floor(F.col(a_start) / bucket_width),
                F.floor(F.col(a_end) / bucket_width),
            )
        ),
    )
    eb = b.withColumn(
        "_b",
        F.explode(
            F.sequence(
                F.floor(F.col(b_start) / bucket_width),
                F.floor(F.col(b_end) / bucket_width),
            )
        ),
    )
    return (
        ea.join(eb, ["_b", *keys])
        .where(
            (F.col(a_start) <= F.col(b_end))
            & (F.col(b_start) <= F.col(a_end))
            & (F.col("_b") == F.floor(F.greatest(F.col(a_start), F.col(b_start)) / bucket_width))
        )
        .drop("_b")
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    left_on: str,
    right_on: str,
    values: Sequence[str],
    by: Sequence[str] = (),
    direction: str = "backward",
    tolerance: int | None = None,
    allow_exact_matches: bool = True,
) -> DataFrame:
    """Point-in-time (as-of) join: attach to each left row the right row
    whose time is nearest under ``direction`` — the feature-store /
    time-series join Spark lacks natively (pandas ``merge_asof``, kdb
    ``aj``). Times are INTEGERS (e.g. epoch micros via
    ``functions.epoch.event_micros``) so exactness and the ±1 exclusive-
    bound shifts below are well-defined.

    * ``backward``: latest right time <= left time (< when
      ``allow_exact_matches=False``)
    * ``forward``: earliest right time >= left time (> when exclusive)
    * ``nearest``: whichever of those two candidates has the smaller
      ``abs(dt)``; ties prefer backward (pandas semantics)
    * ``tolerance``: matches farther than this many time units are
      dropped (the left row survives with NULL values, merge_asof-style)

    Scale shape — the union + carry-forward window merge, NOT a non-equi
    join (Catalyst would plan that as a quadratic
    BroadcastNestedLoopJoin): left rows and per-direction right copies
    union into one relation, ONE shuffle on ``by`` + ONE sort by
    (time, tag) computes both direction candidates (two frames over the
    same WindowExec ordering), so cost is a sort-merge over
    |left| + d·|right| skinny rows per key — linear, skew responding to
    the usual key-salting levers. With ``by=()`` the window is a single
    global partition: fine for dimension-sized inputs, wrong for corpus
    scale (same caveat as merge_asof without ``by``).

    Determinism: among right rows tied on the SAME time, backward picks
    the one with the greatest ``(right_on, *values)`` tuple, forward the
    least — pinned by sorting the union on the payload struct, so
    results (and the DuckDB oracle) are exact, never
    partition-order-dependent.

    Output: every ``left`` column, the chosen right ``values`` (NULL
    when unmatched), and ``asof_dt`` = right time − left time (NULL when
    unmatched). ``left`` must not already contain ``values`` /
    ``asof_dt`` names; rename right-side collisions before calling, as
    with any join.
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(f"direction must be backward|forward|nearest (got {direction!r})")
    if tolerance is not None and tolerance < 0:
        raise ValueError(f"tolerance must be >= 0 (got {tolerance})")
    clash = ({*values, "asof_dt"} & set(left.columns)) | ({left_on} & set(values))
    if clash:
        raise ValueError(f"output column collision with left side: {sorted(clash)}")
    # missing inputs would be SILENTLY null-filled by the unionByName
    # merge (every row unmatched, no error) — refuse loudly instead
    missing = [
        f"left.{c}" for c in (*by, left_on) if c not in left.columns
    ] + [f"right.{c}" for c in (*by, right_on, *values) if c not in right.columns]
    if missing:
        raise ValueError(f"asof_join input columns not found: {missing}")
    need_bwd = direction in ("backward", "nearest")
    need_fwd = direction in ("forward", "nearest")
    shift = 0 if allow_exact_matches else 1

    payload = F.struct(
        F.col(right_on).cast("long").alias("_rt"),
        *[F.col(v) for v in values],
    )
    u = left.select(
        *left.columns,
        F.col(left_on).cast("long").alias("_at"),
        F.lit(1).alias("_atag"),
    )
    order_cols: list[str] = []
    if need_bwd:
        u = u.unionByName(
            right.select(
                *by,
                (F.col(right_on).cast("long") + F.lit(shift)).alias("_at"),
                F.lit(0).alias("_atag"),
                payload.alias("_abwd"),
            ),
            allowMissingColumns=True,
        )
        order_cols.append("_abwd")
    if need_fwd:
        u = u.unionByName(
            right.select(
                *by,
                (F.col(right_on).cast("long") - F.lit(shift)).alias("_at"),
                F.lit(2).alias("_atag"),
                payload.alias("_afwd"),
            ),
            allowMissingColumns=True,
        )
        order_cols.append("_afwd")

    order = Window.partitionBy(*[F.col(c) for c in by]).orderBy(
        "_at", "_atag", *order_cols
    )
    cands: dict[str, Column] = {}
    if need_bwd:
        cands["b"] = F.last("_abwd", ignorenulls=True).over(
            order.rowsBetween(Window.unboundedPreceding, 0)
        )
    if need_fwd:
        cands["f"] = F.first("_afwd", ignorenulls=True).over(
            order.rowsBetween(0, Window.unboundedFollowing)
        )
    u = u.select("*", *[c.alias(f"_a{k}") for k, c in cands.items()])
    u = u.where(F.col("_atag") == 1)

    def _ok(cand: Column) -> Column:
        ok = cand.isNotNull()
        if tolerance is not None:
            ok = ok & (F.abs(cand["_rt"] - F.col("_at")) <= F.lit(tolerance))
        return ok

    if direction == "backward":
        chosen = F.when(_ok(F.col("_ab")), F.col("_ab"))
    elif direction == "forward":
        chosen = F.when(_ok(F.col("_af")), F.col("_af"))
    else:
        b, f_ = F.col("_ab"), F.col("_af")
        both = _ok(b) & _ok(f_)
        db = F.col("_at") - b["_rt"]
        df_ = f_["_rt"] - F.col("_at")
        chosen = (
            F.when(both & (db <= df_), b)
            .when(both, f_)
            .when(_ok(b), b)
            .when(_ok(f_), f_)
        )
    return u.select(
        *left.columns,
        *[chosen[v].alias(v) for v in values],
        (chosen["_rt"] - F.col("_at")).alias("asof_dt"),
    )
