"""Distributed forms of ordered computations that are trivially expressed
with a global (or low-cardinality-partition) window but collapse to a
single task at scale: running/prefix aggregates and exact rank selection.

Spark's ``Window.orderBy(...)`` with no (or a ~5-value) partition spec
moves every row to one partition — fine on a catalog-sized series, a
20 M-row single-task sort at sf100.  The reference sidesteps the problem
by being single-node (its consumer applies changes serially,
internal/dao/replication.go receive loop); a 1000-executor engine needs
the classic two-phase decompositions instead:

* ``segmented_running`` — running sum/min/max/row_number over a total
  order, computed as bounded within-segment window partials plus
  broadcast per-segment offsets (the distributed prefix-sum).  The
  segment column is a PLAN HINT only: any deterministic segmenting that
  is monotone along the sort order yields bit-identical results, because
  offsets are derived from the actual per-segment aggregates.
* ``rank_pick`` — the exact (value, tie) tuple at arbitrary rank k per
  group, found with two levels of counting (coarse bucket counts locate
  the bucket containing rank k; only that bucket's rows are ever
  sorted).  No corpus-wide sort, no single-task window; the only
  ordered windows run over bucket-count summaries.

Both keep exact arithmetic (decimal sums, integer counts) so results
hash-match a single-window oracle bit-for-bit.
"""

from __future__ import annotations

import functools
from typing import Callable, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

SEG = "_seg"


def const_partition(anchor: Column | str) -> Column:
    """A constant-0 window partition key for windows over BOUNDED
    summaries (per-segment offsets, calendar-day cumulatives, grand
    totals over a binned histogram).

    Semantically these windows span ALL summary rows — the naive spelling
    is an empty ``partitionBy()``, which is correct and cheap here (the
    input is a bounded aggregate, never the corpus) but logs WindowExec's
    "No Partition Defined" warning, making real single-partition scale
    bugs indistinguishable from by-design summary walks in the logs.
    This key keeps the warning class meaningful: a clean run logs ZERO
    such warnings (gated in tests/test_window_warnings.py), so any
    occurrence is a genuine unbounded global window.

    The expression must survive Catalyst to reach WindowExec's partition
    spec: plain ``F.lit(0)`` is foldable and gets optimized out of the
    spec, and any ``x * 0`` with a non-nullable ``x`` constant-folds too
    (measured on Spark 4.1).  ``xxhash64(anchor) - xxhash64(anchor)`` is
    non-foldable (references a column), type-agnostic, NEVER NULL
    (xxhash64 hashes NULL to its seed), and identically 0 — every row
    lands in the one partition the empty spec produced, bit-identical
    results."""
    c = F.col(anchor) if isinstance(anchor, str) else anchor
    return F.xxhash64(c) - F.xxhash64(c)


def segmented_running(
    df: DataFrame,
    part_cols: Sequence[str],
    seg_col: Column | str,
    order_cols: Sequence[Column | str],
    specs: dict[str, tuple[Column, str]],
    *,
    persist: bool = False,
) -> DataFrame:
    """Add running-aggregate columns over ``Window.partitionBy(part_cols)
    .orderBy(order_cols)`` without ever materializing a per-``part_cols``
    partition: rows are windowed within (part_cols, segment) — bounded —
    and per-segment totals (a summary with one row per segment) supply
    broadcast offsets from all PRIOR segments.

    ``specs`` maps output column name -> (input expression, kind) with
    kind in {"sum", "min", "max", "rownum"} ("rownum" ignores the input
    expression).  REQUIRES ``seg_col`` monotone non-decreasing along
    ``order_cols`` within each part group (so segment order refines the
    row order); pass a string to reuse an existing segment column — the
    second call then shares the first's (part, seg) sort exchange.

    The summary leg re-evaluates the input subtree (Spark DataFrames
    share no work across consumers without caching).  That is free when
    the input is a scan projection — the normal case — but pass
    ``persist=True`` when the input is an expensive derived pipeline
    (e.g. text metrics): the segmented input is cached once and both
    legs read it.  Callers own the cache lifetime (Spark's LRU evicts;
    bench calls release_caches between runs).
    """
    if isinstance(seg_col, str):
        if seg_col != SEG:
            df = df.withColumn(SEG, F.col(seg_col))
    else:
        df = df.withColumn(SEG, seg_col)
    if persist:
        from creek_spark.operators.cachereg import register_cache

        df = register_cache(df)
    pk = [F.col(c) for c in part_cols]
    wl = (
        Window.partitionBy(*pk, F.col(SEG))
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wl_rn = Window.partitionBy(*pk, F.col(SEG)).orderBy(*order_cols)
    local = {"sum": F.sum, "min": F.min, "max": F.max}
    seg_agg = {"sum": F.sum, "min": F.min, "max": F.max, "rownum": None}
    out = df
    aggs = []
    for name, (expr, kind) in specs.items():
        if kind == "rownum":
            out = out.withColumn(f"_l_{name}", F.row_number().over(wl_rn))
            aggs.append(F.count(F.lit(1)).alias(f"_t_{name}"))
        elif kind in local:
            out = out.withColumn(f"_l_{name}", local[kind](expr).over(wl))
            aggs.append(seg_agg[kind](expr).alias(f"_t_{name}"))
        else:
            raise ValueError(f"unknown running kind {kind!r}")
    summary = out.groupBy(*pk, F.col(SEG)).agg(*aggs)
    # offsets = aggregate of every PRIOR segment, over the tiny summary;
    # with no part groups the spec still gets a (constant) key so the
    # by-design summary walk doesn't log the global-window warning
    ws = (
        Window.partitionBy(*(pk or [const_partition(SEG)]))
        .orderBy(F.col(SEG))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off = {"sum": F.sum, "min": F.min, "max": F.max, "rownum": F.sum}
    offsets = summary.select(
        *pk,
        F.col(SEG),
        *[
            off[kind](F.col(f"_t_{name}")).over(ws).alias(f"_o_{name}")
            for name, (_, kind) in specs.items()
        ],
    )
    # Null-safe key equality: a NULL part/segment value is an ordinary
    # partition value in the native window formulation this replaces, so
    # the offsets join must match it too (plain EqualTo would leave the
    # offset NULL and silently restart the running agg per segment).
    # EqualNullSafe keys still plan as a broadcast hash join.
    key_cols = [*part_cols, SEG]
    off_r = offsets
    for c in key_cols:
        off_r = off_r.withColumnRenamed(c, f"_k_{c}")
    cond = functools.reduce(
        lambda a, b: a & b,
        [F.col(c).eqNullSafe(F.col(f"_k_{c}")) for c in key_cols],
    )
    out = out.join(F.broadcast(off_r), cond, "left").drop(
        *[f"_k_{c}" for c in key_cols]
    )
    combine = {
        "sum": lambda l, o: F.when(o.isNull(), l).otherwise(l + o),
        "min": F.least,  # least/greatest skip NULLs — first segment safe
        "max": F.greatest,
        "rownum": lambda l, o: l + F.coalesce(o, F.lit(0)),
    }
    for name, (_, kind) in specs.items():
        out = out.withColumn(
            name, combine[kind](F.col(f"_l_{name}"), F.col(f"_o_{name}"))
        )
    return out.drop(
        *[f"_l_{n}" for n in specs], *[f"_o_{n}" for n in specs]
    )


def rank_pick(
    df: DataFrame,
    part_cols: Sequence[str],
    sort_col: Column,
    tie_col: Column,
    bucket_col: Column,
    ranks_fn: Callable[[Column], Sequence[Column]],
    *,
    persist: bool = False,
) -> DataFrame:
    """Exact distributed selection: per part group, the (sort, tie)
    tuple at each requested rank under ORDER BY sort_col, tie_col —
    with NO per-group sort of the data.

    ``ranks_fn(n)`` maps the group's row count (a Column) to the list of
    target-rank expressions (1-based); ``bucket_col`` must be a
    deterministic non-decreasing INTEGRAL function of ``sort_col``
    (granularity is a plan knob only — any monotone segmenting gives the
    same picks; integral so the summary's super-segment is a floor-div).

    Ranks beyond the group size are silently absent from the result
    (no bucket's cumulative count reaches them) — callers derive ranks
    from the group's own count (``ranks_fn(n)``), which keeps them in
    range by construction; guard explicitly if passing literals.

    Level 1 counts rows per (group, bucket) — a skew-free hash agg —
    and walks the cumulative counts over the BUCKET SUMMARY to find each
    rank's bucket and its preceding-row offset.  Level 2 revisits only
    the rows of target buckets, counts per distinct (sort, tie), and
    picks the tuple whose cumulative count first reaches the rank.
    Returns one row per (part group, rank index): part_cols + ``_ki``
    (0-based index into ranks_fn's list), ``_k`` (the rank), ``_pick_v``
    (sort value), ``_pick_t`` (tie value).

    A constant ``tie_col`` is allowed when only the VALUE at rank k is
    needed (discrete percentiles): ties collapse in the level-2 distinct
    and the cumulative multiplicity still lands the correct value.

    PRECONDITION: ``part_cols`` values and ``sort_col``/``tie_col``/
    ``bucket_col`` must be non-NULL.  The two internal bucket joins use
    plain (non-null-safe) equality, so a NULL group key or NULL sort
    value silently drops rows — unlike the native window form, which
    ranks NULL as an ordinary value.  Callers with nullable keys must
    map NULL to a sentinel (or filter) first; every catalog caller
    derives these from non-null scan columns.
    """
    G = "_g"
    gcols = [*part_cols, G]
    # _g is the constant-1 group helper that lets the empty-part_cols
    # (global-rank) case share every keyed path below; built non-foldable
    # (const_partition) so Catalyst cannot inline it out of the summary
    # window specs and turn the bounded bucket walks into "No Partition
    # Defined" log noise (see const_partition)
    work = df.select(
        "*",
        (const_partition(sort_col) + F.lit(1)).alias(G),
        sort_col.alias("_sv"),
        tie_col.alias("_tv"),
        bucket_col.alias("_bkt"),
    )
    if persist:
        # two consumers (bucket counts, target-bucket revisit) re-evaluate
        # the input subtree otherwise — same trade-off as
        # segmented_running's persist knob; registered for caller-owned
        # release (cachereg.release_caches)
        from creek_spark.operators.cachereg import register_cache

        work = register_cache(work)
    # Everything below `work` runs on the ALIASED names (_sv/_tv/_bkt and
    # the group keys), so it is spelled as single-parse SQL expression
    # strings (round 13, guide §5 — the wave-4 `_EXACT_DOT` move
    # applied to the summary pipeline): the Column-API form cost one py4j
    # socket round trip PER expression node — ~1000 round trips ≈
    # 0.3–1.9 s of driver time per rank_pick call, rebuilt on every
    # bench rep — where each SQL string is one round trip + one JVM
    # parse.  Every string is spelled node-for-node identical to the
    # Column tree it replaces (same frames, same predicate shapes, same
    # aliases), so analysis yields the same Catalyst tree — gated by
    # test_rank_pick_sql_plan_identity (normalized formatted-plan
    # equality against an in-test copy of the Column-API form) plus the
    # existing oracle rows of all four consumers.
    gl = ", ".join(f"`{c}`" for c in gcols)
    b1 = work.groupBy(*gcols, "_bkt").agg(F.expr("count(1) AS _cnt"))
    # cumulative bucket counts: a plain per-group running sum over the
    # BUCKET SUMMARY.  The summary is one row per (group, bucket) — the
    # same frame the `_n`/target-bucket walk below already holds whole
    # per group in one task (PARTITION BY the group keys), so a segmented
    # prefix-sum here (the r4–r11 form) bought no scale headroom and
    # cost 3 extra exchanges + a broadcast join PER rank_pick, all of it
    # re-evaluated at every consumer of tb (round-12 optimization: the
    # two rank_pick headline queries dropped ~40% of their stages).
    # Integer sums over the same order (_bkt is unique per group after
    # the groupBy) — bit-identical to the segmented form.
    c1 = b1.withColumn(
        "_cum",
        F.expr(
            f"sum(_cnt) OVER (PARTITION BY {gl} ORDER BY _bkt "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
        ),
    )
    # group sizes fold from the CUMULATIVE summary (the group max of the
    # running count IS Σ per-bucket counts — no second corpus exchange,
    # and no separate group-count shuffle + rank broadcast join: the
    # ranks expand inline on the summary rows, r7 verdict item 5's
    # plan-build/stage-count diet).  The window partitions by the group
    # keys over the bucket summary — bounded by construction.
    # the bucket containing rank k, and the row count strictly before it
    tb = (
        c1.withColumn("_n", F.expr(f"max(_cum) OVER (PARTITION BY {gl})"))
        .select(
            *gcols,
            "_bkt",
            "_cnt",
            "_cum",
            F.posexplode(F.array(*ranks_fn(F.col("_n")))).alias("_ki", "_k"),
        )
        .where("_cum >= _k AND _cum - _cnt < _k")
        .selectExpr(
            *[f"`{c}`" for c in gcols],
            "_ki",
            "_k",
            "_bkt",
            "_cum - _cnt AS _off",
        )
    )
    # ONE broadcast of the full target-bucket frame (round-12): the
    # r4-r11 form broadcast tb twice — its (group, bucket) distinct to
    # prune level 2, then the full frame again to attach _k/_off — so
    # the whole summary pipeline (b1→c1→tb) ran in TWO separate
    # broadcast-build jobs per rank_pick.  Joining the full frame up
    # front attaches _ki/_k/_off in the same pass; rows of a bucket
    # holding r ranks replicate ×r (r ≤ the caller's rank-list length,
    # never corpus-scale), and the level-2 counts/cumsums below key on
    # _ki too, so each rank-copy walks exactly the per-bucket distinct
    # counts the two-join form produced — bit-identical picks.
    lvl2 = work.join(F.broadcast(tb), [*gcols, "_bkt"])
    d2 = lvl2.groupBy(*gcols, "_bkt", "_ki", "_k", "_off", "_sv", "_tv").agg(
        F.expr("count(1) AS _cnt2")
    )
    c2 = d2.withColumn(
        "_cum2",
        F.expr(
            f"sum(_cnt2) OVER (PARTITION BY {gl}, _bkt, _ki "
            "ORDER BY _sv, _tv "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
        ),
    )
    picked = c2.where(
        "_off + _cum2 >= _k AND _off + _cum2 - _cnt2 < _k"
    ).selectExpr(
        *[f"`{c}`" for c in part_cols],
        "_ki",
        "_k",
        "_sv AS _pick_v",
        "_tv AS _pick_t",
    )
    return picked


def discrete_percentile(
    df: DataFrame,
    part_cols: Sequence[str],
    value_col: Column,
    bucket_col: Column,
    p: float = 0.5,
    *,
    persist: bool = False,
) -> DataFrame:
    """Exact discrete percentile (the rank-``floor(p·(n−1))+1`` pick, no
    interpolation) per group, via :func:`rank_pick` — the scalable twin
    of ``row_number() = pick`` over a per-group sorted window.  Returns
    part_cols + ``_pick_v`` (the value)."""
    ranks = lambda n: [  # noqa: E731
        F.floor(F.lit(p) * (n - 1)).cast("bigint") + 1
    ]
    return rank_pick(
        df, part_cols, value_col, F.lit(0), bucket_col, ranks, persist=persist
    ).select(*part_cols, "_pick_v")
