"""Scalable EXACT percentile (rank-selection via approx bracketing).

Spark's built-in ``percentile`` aggregates a value→count hash map
(partial-aggregated map-side), so its true cost scales with DISTINCT
values per group, not rows: on bounded domains (integer quantities,
price grids) it is effectively a word-count and hard to beat. Its
ceiling is CONTINUOUS domains — distinct ≈ n — where the per-group
map degenerates to n entries and the final merge lands n-sized maps
on ONE reducer per group (measured on 30M rows / 30M distinct,
local[32]: built-in 36.5 s vs this operator 7.6 s and the gap grows
with n; at 100 TB with few groups that merge is a single-task
multi-TB hash map, i.e. OOM). Decision rule, measured in SCALE.md:

* bounded / low-cardinality value domain → use the built-in;
* continuous / high-cardinality domain → use this operator.

It computes the SAME interpolated percentile with distributed
aggregation passes and a driver-safe footprint, routing each group by
size:

* **small groups** (n <= accuracy): the group's complete sorted value
  array is collected IN THE SAME aggregation pass as the large route
  (bounded at `accuracy` elements by the routing criterion itself) and
  interpolated in-expression — below that size the approx bracket's
  rank margin (4n/accuracy < 4 ranks) cannot absorb the sketch's +-1
  rank discretization, so bracketing is both unnecessary and unsafe
  there. Folding the route into one aggregate keeps the operator at
  TWO data scans total (a separate filtered small/large branch pair
  would make three).
* **large groups** (n > accuracy) — the 100 TB path, steps all
  map-side-combinable hash aggregates (parallelism = input partitions,
  never #groups):

  1. **stats pass** — per group: ``count`` plus a ``percentile_approx``
     bracket ``[lo, hi]`` at ``p +- 4/accuracy``. Greenwald-Khanna
     guarantees rank error <= n/accuracy, leaving >= 3n/accuracy > 3
     ranks of slack on each side of the target.
  2. **select pass** — per group: ``count(x < lo)``, the duplicate-run
     sizes of the two bracket endpoints, and the sorted array of STRICT
     interior values. The interior is rank-bounded at ~8n/accuracy
     (0.08% at the default) no matter how duplicated the data is —
     endpoint runs are counted, never collected, so a million-row tie
     at the median costs two longs.
  3. **index read-out** — rank below the lo-run -> lo; inside the
     interior -> array lookup; inside the hi-run -> hi. An out-of-range
     rank (approx guarantee violated) raises rather than returning a
     plausible wrong answer.

Pick ``accuracy ~ group_rows/10_000`` as data grows to keep interiors
bounded. The interpolation replicates Spark's ``Percentile`` formula
term-for-term — ``(higher - pos) * lowerValue + (pos - lower) *
higherValue`` — so results are BITWISE equal to the built-in (asserted
in tests/test_percentile.py) and hence inherit the built-in's DuckDB
``quantile_cont`` oracle parity.

Construction cost (r15): every per-spec expression is rendered as ONE
SQL string and parsed in a single JVM call (the r14 LSH/JL lever —
guide §4's driver boundary). The nested-Column spelling built each
spec's bracket decomposition and readout as hundreds of py4j
round-trips; q125's 7-septile plan paid ~2/3 of a second of pure
driver-side tree construction per bench invocation. The parsed trees
are semantically identical (same operations, same order, same casts),
so values stay bitwise equal — asserted by the same tests.

Reference parity note: the reference engine has no percentile operator
(SURVEY.md §2B aggregations list); this is part of the north-star
analytics surface, engineered for the 100 TB target.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_mingo_tail_spark.tables import spread

# Spec columns and aliases are pasted unquoted into generated column
# names and SQL string literals, so they must be plain identifiers.
_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def _pick_sql(alias: str, rank: str) -> str:
    """Order statistic at 0-based ``rank`` (among the group's non-null
    values) read from the bracket decomposition: lo-run | interior | hi-run.
    ``rank`` is an SQL sub-expression; returns an SQL sub-expression."""
    idx = f"({rank}) - _below_{alias}"
    # try_element_at: CaseWhen branches are not reliably lazy under
    # whole-stage codegen (subexpression elimination), so the array
    # probe must itself tolerate an out-of-range index.
    return (
        f"CASE WHEN ({idx}) >= 0 AND ({idx}) < _nlo_{alias}"
        f" THEN CAST(_lo_{alias} AS DOUBLE)"
        f" WHEN ({idx}) < _nlo_{alias} + size(_in_{alias})"
        f" THEN try_element_at(_in_{alias}, CAST(({idx}) - _nlo_{alias} + 1 AS INT))"
        f" WHEN ({idx}) < _nlo_{alias} + size(_in_{alias}) + _nhi_{alias}"
        f" THEN CAST(_hi_{alias} AS DOUBLE)"
        f" ELSE raise_error('percentile bracket missed target rank for {alias}') END"
    )


def exact_percentiles(
    df: DataFrame,
    keys: list[str],
    specs: list[tuple[str, float, str]],
    accuracy: int = 10_000,
) -> DataFrame:
    """Exact interpolated percentiles per group, without large per-group
    sorts. ``specs`` is ``[(column, p, output_alias), ...]``. Returns one
    row per key combination with one double column per spec, bitwise
    equal to ``F.percentile(column, p)``.

    A group takes the rank-select path only when EVERY spec column has
    n > accuracy there (mixed-size routing per spec would force an
    n-way join of per-spec results; a group that is small for any spec
    is cheap to sort for all of them).
    """
    for col, _, alias in specs:
        for ident in (col, alias):
            if not _IDENT.fullmatch(ident):
                raise ValueError(f"exact_percentiles: {ident!r} is not a plain SQL identifier")
    margin = 4.0 / accuracy

    # ONE approx sketch per distinct column, not per spec: a GK sketch
    # answers any number of percentile probes, so specs sharing a
    # column share one sketch and read their [lo, hi] bracket out of
    # the combined result array (q125 asks 7 septiles of one column —
    # 7 sketches over the same 600k values cost ~3s of pure waste).
    by_col: dict[str, list[tuple[float, str]]] = {}
    for col, p, alias in specs:
        by_col.setdefault(col, []).append((p, alias))

    stats_aggs: list[str] = []
    bracket_reads: list[str] = []  # projected after the agg
    for col, col_specs in by_col.items():
        ps: list[float] = []
        for p, alias in col_specs:
            p_lo, p_hi = max(0.0, p - margin), min(1.0, p + margin)
            idx = len(ps)
            ps.extend([p_lo, p_hi])
            # r14 optimization: carry the bracket as TWO SCALAR double
            # columns, not a 2-element array — the select pass reuses
            # the carried columns as GROUPING KEYS, and an array-typed
            # grouping key disqualifies whole-stage HashAggregate
            # (Spark falls back to a sort-based aggregate: a full sort
            # of the fact rows, measured ~2.5 s of q125's wall).
            # Scalar keys keep the identical values hash-aggregable.
            # (Spark SQL array subscripts are 0-based, like getItem.)
            bracket_reads.append(f"_brall_{col}[{idx}] AS _lo_{alias}")
            bracket_reads.append(f"_brall_{col}[{idx + 1}] AS _hi_{alias}")
            stats_aggs.append(f"count(`{col}`) AS _n_{alias}")
        probe_array = ", ".join(f"CAST({p!r} AS DOUBLE)" for p in ps)
        stats_aggs.append(
            f"percentile_approx(CAST(`{col}` AS DOUBLE), array({probe_array}), {accuracy})"
            f" AS _brall_{col}"
        )
    stats = df.groupBy(*keys).agg(*[F.expr(s) for s in stats_aggs])
    stats = stats.selectExpr(
        *[f"`{k}`" for k in keys],
        *[f"_n_{a}" for _, _, a in specs],
        *bracket_reads,
    )

    n_all = [f"_n_{a}" for _, _, a in specs]
    is_large = (
        f"least({', '.join(n_all)}) > {accuracy}"
        if len(n_all) > 1
        else f"{n_all[0]} > {accuracy}"
    )
    # The two passes want OPPOSITE parallelism (r15, measured at sf0.1):
    # the stats pass is a GK-sketch aggregate whose merge cost grows
    # with partial count — spreading the single-file test scan made it
    # 1.99 s -> 3.15 s — while the select pass is 29 per-row CASE
    # aggregates that serialize on the narrow scan — spread() took the
    # operator 6.06 s -> ~2.4 s combined. So: sketch from the raw scan,
    # select pass from the spread scan. spread() is scale-gated (a
    # many-file production scan is returned untouched), and both
    # spellings aggregate the same rows — values are bitwise equal.
    joined = spread(df).join(F.broadcast(stats), keys)

    # ONE select pass for both routes (a filtered small branch + a
    # filtered large branch would each rescan the full input — three
    # data passes total; this keeps the operator at two). Per group:
    # bracket decomposition for the large route, and — only when the
    # group is small — the complete sorted value array (bounded at
    # `accuracy` rows by the routing criterion itself).
    # Measured dead end (do not retry): merging the _in/_all lists into
    # one collect_list with a two-branch when() is ~7-10% SLOWER on the
    # 7-spec plan — the extra branch evaluates per row, while the
    # separate small-route list short-circuits on one boolean.
    select_aggs: list[str] = []
    for col, p, alias in specs:
        lo = f"CAST(_lo_{alias} AS DOUBLE)"
        hi = f"CAST(_hi_{alias} AS DOUBLE)"
        c = f"CAST(`{col}` AS DOUBLE)"
        select_aggs.extend(
            [
                f"count(CASE WHEN ({is_large}) AND {c} < {lo} THEN true END)"
                f" AS _below_{alias}",
                f"count(CASE WHEN ({is_large}) AND {c} = {lo} THEN true END)"
                f" AS _nlo_{alias}",
                f"count(CASE WHEN ({is_large}) AND {c} = {hi} AND {hi} != {lo} THEN true END)"
                f" AS _nhi_{alias}",
                f"sort_array(collect_list(CASE WHEN ({is_large}) AND {c} > {lo} AND {c} < {hi}"
                f" THEN {c} END)) AS _in_{alias}",
            ]
        )
    # r14 optimization: the small-route complete-array list depends only
    # on the COLUMN (identical for every spec sharing it) — collect it
    # once per distinct column instead of once per spec (q125's 7
    # septiles shared one column and paid 7 identical list aggregates).
    for col in by_col:
        select_aggs.append(
            f"sort_array(collect_list(CASE WHEN NOT ({is_large})"
            f" THEN CAST(`{col}` AS DOUBLE) END)) AS _all_{col}"
        )
    # The readout needs the per-group n and bracket columns. They are
    # CONSTANT within a group (computed per group, broadcast-joined), so
    # they ride along as extra GROUPING KEYS: group count is unchanged,
    # no aggregate slots are spent carrying them (14 first()s measured
    # ~40% of the select pass on q125's 35-aggregate plan), and no
    # second join is needed — the earlier `.join(broadcast(stats))`
    # readout re-COMPUTED the whole stats pass, GK sketch included
    # (differential column pruning made the two broadcast subtrees
    # non-identical, so ReuseExchange never fired: q125's plan scanned
    # the fact table 4x / built the sketch twice; now 2 scans, 1 sketch
    # — pinned in tests/test_plans.py).
    carry = (
        [f"_lo_{a}" for _, _, a in specs]
        + [f"_hi_{a}" for _, _, a in specs]
        + [f"_n_{a}" for _, _, a in specs]
    )
    picked = joined.groupBy(*keys, *carry).agg(*[F.expr(s) for s in select_aggs])

    out_cols: list[str] = [f"`{k}`" for k in keys]
    for col, p, alias in specs:
        n = f"_n_{alias}"
        # Spark Percentile.getPercentile: position = p * (n - 1).
        pos = f"CAST({p!r} AS DOUBLE) * CAST(({n} - 1) AS DOUBLE)"
        lower = f"floor({pos})"
        higher = f"ceil({pos})"
        # Large route: order statistics read from the bracket decomposition.
        v_lower = _pick_sql(alias, lower)
        v_higher = _pick_sql(alias, higher)
        exact_large = (
            f"CASE WHEN ({higher}) = ({lower}) THEN {v_lower}"
            f" ELSE (CAST({higher} AS DOUBLE) - ({pos})) * ({v_lower})"
            f" + (({pos}) - CAST({lower} AS DOUBLE)) * ({v_higher}) END"
        )
        # Small route: the same interpolation formula (term-for-term the
        # built-in Percentile's) over the complete sorted array. Indexes
        # clamped + try_element_at: CaseWhen branches are not reliably
        # lazy under codegen (see _pick_sql), and n = 0 (all-null group)
        # must yield NULL, not an ANSI index error.
        at_lo = f"try_element_at(_all_{col}, CAST(greatest(({lower}) + 1, 1) AS INT))"
        at_hi = f"try_element_at(_all_{col}, CAST(greatest(({higher}) + 1, 1) AS INT))"
        exact_small = (
            f"CASE WHEN {n} = 0 THEN CAST(NULL AS DOUBLE)"
            f" WHEN ({higher}) = ({lower}) THEN {at_lo}"
            f" ELSE (CAST({higher} AS DOUBLE) - ({pos})) * ({at_lo})"
            f" + (({pos}) - CAST({lower} AS DOUBLE)) * ({at_hi}) END"
        )
        # Routing flag, recomputed from the carried counts.
        out_cols.append(
            f"CASE WHEN ({is_large}) THEN ({exact_large})"
            f" ELSE ({exact_small}) END AS `{alias}`"
        )
    return picked.selectExpr(*out_cols)
