"""Temporal joins Spark lacks as built-ins, composed from DataFrame ops
(the task mandate's "custom operators" — as-of join, range join) — both
single-shuffle, zero-Python formulations with native DuckDB cross-checks
(`ASOF JOIN` / inequality join) in the query catalog.

- :func:`asof_join` — attach to each left row the LATEST right row with
  ``right.ts <= left.ts`` per key (backward-inclusive). Union the two
  sides, window ``last(..., ignorenulls)`` over (ts, side) — ONE shuffle
  keyed by the join key, no per-row Python, no non-equi join explosion.
- :func:`range_join` — join points to containing ``[start, end]``
  intervals via time-bucketing: intervals explode to their covered
  buckets, points carry exactly one bucket, the equi-join on
  (key, bucket) + a residual range filter yields each (point, interval)
  pair exactly once (a point's single bucket meets an interval once) —
  the standard scale rewrite of an inequality join that would otherwise
  be a broadcast-nested-loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as sf


def asof_join(left: DataFrame, right: DataFrame,
              value_cols: list[str] | None = None) -> DataFrame:
    """Backward-inclusive as-of join: every left row gains the right row's
    ``value_cols`` (suffixed ``_asof``) and matched timestamp ``ts_asof``
    from the latest right row with ``right.ts <= left.ts`` in the same
    ``user_id`` group; nulls when no prior right row exists.

    Shuffle profile: one exchange of the UNION of both sides keyed by
    ``user_id`` + a per-key ordered window — linear, vs the quadratic blowup of
    expressing this as a non-equi join. The matched right row is carried as
    ONE struct through ``last(..., ignorenulls)``, so a right row whose
    value column is genuinely NULL still matches as itself (per-column
    carries would skip past it to a stale older value — wrong row). Rows
    with NULL key or NULL timestamp on the right are excluded up front
    (``l.ts >= r.ts`` / key equality can never hold for them in the join
    semantics this mirrors); NULL-key or NULL-ts left rows come back
    unmatched. Ties: a right row at exactly the left timestamp matches
    (sorted before the left row); multiple right rows sharing (key, ts)
    are caller-deduped (the catalog query aggregates them first).

    Skew note: one window partition per key — salt or pre-aggregate
    pathological hot keys (the extraction job splits a hot conversation
    with a range exchange on (conv_id, turn_idx)).
    """
    from pyspark.sql import Window

    value_cols = value_cols or []
    if "ts" in value_cols:
        # the matched timestamp is ALWAYS carried as ts_asof; listing it in
        # value_cols too would build a _carry struct with two identical
        # field names and fail later with an opaque ambiguous-field
        # AnalysisException instead of this ValueError (review r05)
        raise ValueError(
            "asof_join: 'ts' is carried automatically as 'ts_asof' — "
            "remove it from value_cols")
    rmap = {c: f"{c}_asof" for c in value_cols}
    reserved = {"ts_asof", *rmap.values(), "_src", "_carry", "_m"}
    clash = reserved & set(left.columns)
    if clash:
        raise ValueError(
            f"asof_join output columns {sorted(clash)} already exist on the "
            "left frame — rename or drop those columns first")
    r = right.filter(sf.col("user_id").isNotNull()
                     & sf.col("ts").isNotNull()) \
        .select(
            "user_id", "ts",
            sf.lit(0).alias("_src"),
            sf.struct(
                sf.col("ts").alias("ts_asof"),
                *[sf.col(c).alias(rmap[c]) for c in value_cols],
            ).alias("_carry"))
    l = left.withColumn("_src", sf.lit(1))
    u = l.unionByName(r, allowMissingColumns=True)
    w = (Window.partitionBy("user_id").orderBy("ts", "_src")
         .rowsBetween(Window.unboundedPreceding, 0))
    matched = sf.last("_carry", ignorenulls=True).over(w)
    return (u.withColumn("_m", matched)
            .filter(sf.col("_src") == 1)
            .select(*left.columns,
                    sf.col("_m")["ts_asof"].alias("ts_asof"),
                    *[sf.col("_m")[rmap[c]].alias(rmap[c])
                      for c in value_cols]))


def range_join(points: DataFrame, intervals: DataFrame) -> DataFrame:
    """All (point, interval) pairs with ``start <= ts <= end`` per
    ``user_id``. Intervals explode to their covered one-hour buckets; each
    point has exactly ONE bucket, so the (key, bucket) equi-join plus the
    residual range filter emits every qualifying pair exactly once — no
    dedup, no cartesian. Candidates per point ≈ intervals overlapping its
    hour.
    """
    # reserved working-column guard, same contract as asof_join: withColumn
    # would silently OVERWRITE a caller's pre-existing _bucket (e.g. the
    # undropped output of another bucketing op) and then drop it from the
    # result (review r05)
    clash = {"_bucket"} & (set(points.columns) | set(intervals.columns))
    if clash:
        raise ValueError(
            "range_join reserves the working column '_bucket', which "
            "already exists on an input frame — rename or drop it first")
    # interval columns sharing a POINT column's name (beyond the join key)
    # get an '_interval' suffix: the join itself is alias-qualified and
    # works either way, but the returned frame would carry two columns of
    # the same name and fail the caller's first unqualified reference with
    # AMBIGUOUS_REFERENCE far from here (review r05)
    start_col, end_col = "start", "end"
    overlap = (set(intervals.columns) & set(points.columns)) - {"user_id"}
    if overlap:
        renames = {c: f"{c}_interval" for c in sorted(overlap)}
        taken = set(renames.values()) & (set(intervals.columns)
                                         | set(points.columns))
        if taken:
            raise ValueError(
                f"range_join: cannot disambiguate overlapping columns "
                f"{sorted(overlap)} — suffixed names {sorted(taken)} "
                f"already exist; rename the inputs")
        intervals = intervals.withColumnsRenamed(renames)
        start_col = renames.get(start_col, start_col)
        end_col = renames.get(end_col, end_col)
    p_bucket = sf.floor(sf.unix_timestamp(sf.col("ts")) / sf.lit(3600))
    i_buckets = sf.sequence(
        sf.floor(sf.unix_timestamp(sf.col(start_col)) / sf.lit(3600)),
        sf.floor(sf.unix_timestamp(sf.col(end_col)) / sf.lit(3600)))
    # qualified residual filter: an intervals frame that happens to carry a
    # column named ts (or vice versa) must not make the bare-name references
    # ambiguous (review r04 — asof_join already guards its clashes)
    pts = points.withColumn("_bucket", p_bucket).alias("_p")
    ivs = intervals.withColumn("_bucket", sf.explode(i_buckets)).alias("_i")
    joined = pts.join(ivs, ["user_id", "_bucket"]).filter(
        (sf.col("_p.ts") >= sf.col(f"_i.{start_col}"))
        & (sf.col("_p.ts") <= sf.col(f"_i.{end_col}")))
    return joined.drop("_bucket")


def sessionize(df: DataFrame, gap_seconds: int = 1800,
               tiebreak_col: str | None = None) -> DataFrame:
    """Gap-based sessionization (an operator Spark lacks as a built-in —
    every large-scale event/training-data pipeline needs it): rows of the
    same ``user_id`` whose consecutive ``ts`` gaps are all
    ``<= gap_seconds`` share a ``session_idx`` (0-based per key, assigned
    in time order). A NULL timestamp can never satisfy the gap predicate,
    so NULL-ts rows each OPEN a new session (they sort first and are
    flagged new) rather than silently extending a neighbor.

    Shuffle profile: ONE exchange keyed by ``user_id`` + a per-key ordered
    window evaluates both the lag and the running flag-sum — the standard
    lag→flag→cumsum formulation, entirely codegen'd column expressions.
    A per-session aggregate downstream (``groupBy('user_id', 'session_idx')``)
    adds only a pre-aggregated second exchange: the partial agg collapses
    to one row per session map-side, so the second shuffle moves sessions,
    not events. Skew: one window partition per key — an adversarial single
    hot key needs a split like the extraction job's range exchange on
    (conv_id, turn_idx).

    ``tiebreak_col`` makes the within-key order total when timestamps can
    collide (e.g. ``event_id``); without one, equal-ts rows order
    arbitrarily and ``session_idx`` is still deterministic (ties can't
    straddle a gap boundary: a tie's lag-gap is 0) but row attribution
    between two same-ts sessions is not.
    """
    from pyspark.sql import Window

    if "session_idx" in df.columns or "_new_session" in df.columns:
        raise ValueError(
            "sessionize output columns (session_idx, _new_session) already "
            "exist on the input frame")
    order = ["ts"] + ([tiebreak_col] if tiebreak_col else [])
    w = Window.partitionBy("user_id").orderBy(*order)
    prev = sf.lag("ts").over(w)
    # timestamp subtraction → day-time interval, exact for both TIMESTAMP
    # (instant difference) and TIMESTAMP_NTZ (wall-clock difference) — a
    # cast-to-TIMESTAMP + unix_micros detour would shift NTZ values through
    # the session timezone, mis-sizing gaps that straddle a DST transition
    # (review r05)
    gap_ok = ((sf.col("ts") - prev)
              <= sf.expr(f"INTERVAL {int(gap_seconds)} SECOND"))
    new_session = sf.when(prev.isNotNull() & gap_ok,
                          sf.lit(0)).otherwise(sf.lit(1))
    running = (Window.partitionBy("user_id").orderBy(*order)
               .rowsBetween(Window.unboundedPreceding, 0))
    return (df.withColumn("_new_session", new_session)
            .withColumn("session_idx",
                        sf.sum("_new_session").over(running) - 1)
            .drop("_new_session"))
