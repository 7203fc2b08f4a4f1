"""Incrementally-maintained materialized rollups over the market index.

A continuous-aggregate (hypertable-rollup) analogue for the index: small
at-rest summary tables that ``insert()``/``clean()`` keep in sync without
re-scanning the index. The reference has no such feature (its SQLite
index is always queried live); this is an engine-level extension for the
100 TB shape, where "how many markets per sport per day" should not cost
an index scan.

One mechanism serves every rollup. A rollup is a SPEC — group-by dims
plus mergeable aggregates (``parse_spec``) — stored as per-(partition,
dims) partials (``summarize_spec``), committed by one atomic swap
(``_spec_atomic_swap``), served at user grain (``spec_view``) and routed
by one loop (``route_select``). Named rollups (``create_rollup(name=,
dims=, aggs=)``) live at ``.betfairdatabaserollup-<name>.parquet``. The
built-in per-(sport, day) rollup is the reserved ``BUILTIN_SPEC`` at
``.betfairdatabaserollup.parquet``, routed as ``rollup:builtin`` after
the named ones; ``rollup()`` serves it with ``ROLLUP_SCHEMA``'s columns
and types, the same columns ``summarize`` computes from raw rows.

Maintenance contract
--------------------
Index maintenance rewrites whole ``eventTypeId=`` partitions
(``database._upsert_partitions``), so a rollup updates at the same
granularity: partials for TOUCHED partitions are recomputed from the
replacement frame (already checkpointed in memory by the upsert),
partials for untouched partitions are carried over from the previous
rollup file. The index parquet is never re-read during an incremental
update — pinned by ``test_maintenance.py`` (``_read_index`` patched to
raise). Compute is O(replacement rows + rollup size); the at-rest rollup
is bounded by |eventTypeId| x |dim values|, never by market count.

Consistency
-----------
Every rollup commit records the index manifest snapshot number it was
derived from and its spec (``_rollup_meta.json`` inside the rollup
directory — the leading underscore hides it from Spark's file listing).
The rollup swap happens strictly AFTER the index commit, so a crash in
between leaves a rollup one snapshot behind; ``rollup()`` compares
snapshot numbers and raises ``StaleRollupError`` instead of serving stale
aggregates, and ``create_rollup()`` is the (full-rebuild) heal. The swap
itself is temp-write + directory replace: a crash mid-swap can only lose
the rollup entirely (detected as missing), never serve a torn file set.

Storage format: a built-in rollup whose meta does not carry
``BUILTIN_SPEC`` was written before the built-in became a spec (final
aggregates under other column names; format 1 also coalesced all-NULL
sums to 0). It is never a routing candidate, ``rollup()`` refuses it,
and the next ``insert()``/``clean()``/``index()``/``create_rollup()``
rebuilds it in full.

All aggregates are additive/mergeable (counts, sums, min/max, sketches)
so the carry-over + recompute composition is exact. marketStartTime is
the index's ISO-8601 string; ISO-8601 min/max under string ordering
equals chronological min/max.
"""

from __future__ import annotations

import json
import os
import shutil
from pathlib import Path

from pyspark.sql import DataFrame, functions as F

# Unused, but bound like every maintenance module's for tracers to wrap.
from betfair_database_spark.plans.materialize import materialize  # noqa: F401
from pyspark.sql.types import (
    DateType,
    LongType,
    StringType,
    StructField,
    StructType,
)

ROLLUP_DIRNAME = ".betfairdatabaserollup.parquet"
_META_NAME = "_rollup_meta.json"

ROLLUP_SCHEMA = StructType(
    [
        StructField("eventTypeId", StringType()),
        StructField("startDate", DateType()),
        StructField("markets", LongType()),
        StructField("bspMarkets", LongType()),
        StructField("inPlayMarkets", LongType()),
        StructField("settledMarkets", LongType()),
        StructField("runnersTotal", LongType()),
        StructField("firstStart", StringType()),
        StructField("lastStart", StringType()),
    ]
)


def summarize(index_df: DataFrame) -> DataFrame:
    """The rollup aggregate: per-(eventTypeId, start date) market stats.

    Pure function of index rows — used for the from-scratch reference in
    tests and the streaming rollup fold. One hash aggregate with map-side
    partials; no window, no shuffle beyond the group-by exchange.
    """
    return index_df.groupBy(
        F.col("eventTypeId"),
        F.to_date(F.substring("marketStartTime", 1, 10)).alias("startDate"),
    ).agg(
        F.count(F.lit(1)).alias("markets"),
        # sums store NULL (not 0) for all-NULL cells: SQLite's sum() over
        # all NULLs is NULL, and the routed path must merge to exactly
        # what the scan's sum() returns (round-11 ADVICE parity fix) —
        # a coalesced 0 here would make routed=0 vs scan=NULL
        F.sum("bspMarket").cast("long").alias("bspMarkets"),
        F.sum("turnInPlayEnabled").cast("long").alias("inPlayMarkets"),
        F.count("marketSettledTime").alias("settledMarkets"),
        F.sum("runners").cast("long").alias("runnersTotal"),
        F.min("marketStartTime").alias("firstStart"),
        F.max("marketStartTime").alias("lastStart"),
    )


def rollup_path(database_dir: Path) -> Path:
    return Path(database_dir) / ROLLUP_DIRNAME


def _meta_read(path: Path) -> dict | None:
    try:
        return json.loads((path / _META_NAME).read_text())
    except (OSError, ValueError):
        return None


# =========================================================================
# Rollup specs (round 9): declared dims + additive aggs
# =========================================================================
#
# A spec declares group-by dims (index columns, or alias=EXPR derived
# columns) and mergeable aggregates — count / sum / min / max /
# approx_count_distinct (HLL sketch) and the moment, histogram and
# quantile-sketch partials below — and gets the whole machinery:
# materialized beside the index, partition-incrementally maintained by
# insert()/clean() (never re-reads the index), snapshot-stamped,
# StaleRollupError-guarded, auto-routed. Named specs cover the query
# shapes reference users group by (venue, country, marketType); the
# built-in per-(sport, day) rollup is one more spec, BUILTIN_SPEC.
#
# Storage grain: the at-rest frame always includes eventTypeId (the index
# partition key) in front of the user dims, with PARTIAL aggregates per
# (partition, dims) cell — so maintenance can drop-and-recompute touched
# partitions and carry the rest, even when the user's dims don't contain
# the partition key. ``rollup(name)`` re-aggregates the partials to the
# user grain at read time (rollup-sized input: cheap). count/sum merge by
# sum, min/max by min/max, HLL sketches by hll_union_agg — all exact
# merges of exact partials except HLL, which is the standard mergeable
# approximate-distinct synopsis.

import re as _re

_SPEC_AGG_RE = _re.compile(
    r"^\s*([A-Za-z_][A-Za-z0-9_]*)\s*=\s*"
    r"(count|sumsq|sum|min|max|qsketch|approx_count_distinct)\s*\(\s*([^)]*?)\s*\)\s*$"
)

# ---- second-moment serving (round 12, verdict #4) ----------------------
# stddev/var select() aggregates are DERIVED from three exact partials —
# count(col), sum(col), sumsq(col) — through ONE formula both the routed
# path (merge_partials) and the scan twin (database._scan_agg_sql) build
# from this module, so routed == scan bit-for-bit whenever the partials
# are exact (integer/decimal columns; double columns are one
# summation-order away from +-ulp, same caveat as any float sum).
# The cancellation guard (greatest 0) keeps sqrt off negative dust when
# the two terms nearly cancel.

_MOMENT_NORMALIZE = {
    "stddev": "stddev_samp",
    "variance": "var_samp",
    "stddev_samp": "stddev_samp",
    "stddev_pop": "stddev_pop",
    "var_samp": "var_samp",
    "var_pop": "var_pop",
}


def moment_sql(op: str, n: str, s: str, ss: str) -> str:
    """SQL for a sample/population variance or stddev over operand SQL
    strings: ``n`` = non-null count, ``s`` = sum, ``ss`` = sum of
    squares. Fixed double-arithmetic sequence — the single definition
    shared by the routed and scan paths (and usable verbatim as a
    DuckDB oracle)."""
    op = _MOMENT_NORMALIZE[op]
    var = (
        f"greatest(cast(0 as double), cast({ss} as double) - "
        f"cast({s} as double) * cast({s} as double) / {n})"
    )
    if op == "var_samp":
        return f"CASE WHEN {n} > 1 THEN {var} / ({n} - 1) END"
    if op == "var_pop":
        return f"CASE WHEN {n} > 0 THEN {var} / {n} END"
    if op == "stddev_samp":
        return f"CASE WHEN {n} > 1 THEN sqrt({var} / ({n} - 1)) END"
    return f"CASE WHEN {n} > 0 THEN sqrt({var} / {n}) END"


# ---- histogram partials / percentile serving (round 12) -----------------
# A fixed-bin histogram is the MERGEABLE percentile synopsis: per-bin
# counts are exact longs that add across partials (streaming folds
# included), and a percentile is then a deterministic interpolation over
# the merged counts — the same monitoring-aggregate progression as
# count/sum (avg, round 11) and sumsq (variance family, verdict #4).
# ``alias=hist(col, lo, hi, nbins)`` declares the partial in a rollup
# spec; ``approx_percentile_hist(col, q) AS alias`` in select() is served
# from it — ROUTED and SCAN paths both compute the identical
# histogram-interpolated value (this is the function's DEFINITION: a
# histogram-based approximation with bin-width error, NOT the exact
# percentile — exactness across paths, approximation vs the true order
# statistic), so routed == scan bit-for-bit and a DuckDB oracle can
# replay the same arithmetic. Values below lo / at-or-above hi clamp
# into the edge bins; NULLs are excluded; q must be in (0, 1].

_SPEC_HIST_RE = _re.compile(
    r"^\s*([A-Za-z_][A-Za-z0-9_]*)\s*=\s*hist\s*\(\s*"
    r"([A-Za-z_][A-Za-z0-9_]*)\s*,\s*"
    r"(-?(?:\d+\.?\d*|\.\d+)(?:[eE][+-]?\d+)?)\s*,\s*"
    r"(-?(?:\d+\.?\d*|\.\d+)(?:[eE][+-]?\d+)?)\s*,\s*(\d+)\s*\)\s*$"
)
HIST_MAX_BINS = 512


def hist_bin_sql(col: str, lo: float, hi: float, nbins: int) -> str:
    """Bin index (0-based, clamped) of ``col`` — ONE text used by the
    partial builder, the scan twin and the oracle, so bin assignment can
    never drift between paths. NULL col -> NULL (excluded by the
    conditional count)."""
    w = (hi - lo) / nbins
    # explicit NULL guard: greatest()/least() SKIP nulls on both Spark
    # and DuckDB, so without it a NULL value would clamp into bin 0
    # instead of dropping out of the counts
    return (
        f"(CASE WHEN {col} IS NULL THEN cast(NULL as int) ELSE "
        f"least({nbins - 1}, greatest(0, cast(floor("
        f"(cast({col} as double) - cast({lo!r} as double)) / "
        f"cast({w!r} as double)) as int))) END)"
    )


def hist_array_sql(col: str, lo: float, hi: float, nbins: int) -> str:
    """Aggregate SQL building the per-group histogram array<bigint> from
    RAW rows — the scan twin of a stored hist partial."""
    b = hist_bin_sql(col, lo, hi, nbins)
    terms = ", ".join(
        f"sum(CASE WHEN {b} = {i} THEN cast(1 as bigint) "
        f"ELSE cast(0 as bigint) END)"
        for i in range(nbins)
    )
    return f"array({terms})"


def hist_percentile_from_array_sql(
    arr: str, lo: float, hi: float, nbins: int, q: float
) -> str:
    """Percentile-by-linear-interpolation over a histogram array SQL
    expression — the single arithmetic sequence shared by the routed
    merge and the scan twin. Bin counts are exact longs (any summation
    order), so only THIS expression's double arithmetic is
    order-sensitive; it is one fixed tree. q in (0,1] guarantees the
    picked bin is non-empty (rank r > cum_{b-1} forces h_b > 0) and IEEE
    round-to-nearest guarantees r = q*total <= total, so the bin search
    always lands.

    ``arr`` is interpolated into the text exactly ONCE (round-12 ADVICE):
    each intermediate — the input array, the prefix-sum array, the picked
    bin — is bound to a nested-lambda variable (``transform(array(x),
    v -> ...)`` is Spark SQL's let-binding), so the scan twin's
    nbins-term aggregate text no longer appears five times and the
    prefix sums are one O(nbins) fold instead of O(nbins²)
    slice/aggregate work. The double arithmetic (r, the bin search, the
    interpolation) is the SAME op sequence over the SAME exact bigint
    counts as before, so routed == scan == oracle values are unchanged
    bit-for-bit."""
    if not 0 < q <= 1:
        raise ValueError(f"approx_percentile_hist q must be in (0, 1]: {q}")
    w = (hi - lo) / nbins
    # prefix sums over the bound array __h: one exact bigint fold with a
    # leading 0 seed, sliced off so __c[k] = sum(__h[1..k])
    cum = (
        f"slice(aggregate(__h, array(cast(0 as bigint)), "
        f"(__a, __x) -> concat(__a, array(element_at(__a, -1) + __x))), "
        f"2, {nbins})"
    )
    total = f"element_at(__c, {nbins})"
    r = f"(cast({q!r} as double) * cast({total} as double))"
    b = (
        f"element_at(filter(sequence(1, {nbins}), __k -> "
        f"cast(element_at(__c, __k) as double) >= {r}), 1)"
    )
    cumb = (
        "(CASE WHEN __b = 1 THEN cast(0 as bigint) "
        "ELSE element_at(__c, __b - 1) END)"
    )
    h = "element_at(__h, __b)"
    val = (
        f"(cast({lo!r} as double) + cast({w!r} as double) * "
        f"cast((__b - 1) as double) + cast({w!r} as double) * "
        f"({r} - cast({cumb} as double)) / cast({h} as double))"
    )
    # the empty-group CASE sits inside the __c binding but OUTSIDE the
    # __b binding: when total == 0 the bin search is never evaluated
    # (CASE is lazy), matching the old guard's semantics exactly
    return (
        f"element_at(transform(array({arr}), __h -> "
        f"element_at(transform(array({cum}), __c -> "
        f"CASE WHEN {total} <= 0 THEN cast(NULL as double) "
        f"ELSE element_at(transform(array({b}), __b -> {val}), 1) END"
        f"), 1)), 1)"
    )


def suggest_hist_binning(
    df: DataFrame, col: str, nbins: int = 32, alias: "str | None" = None
) -> str:
    """One min/max scan -> a ready ``alias=hist(col, lo, hi, nbins)``
    spec string for ``create_rollup(aggs=[...])``. [lo, hi) is the
    observed range widened to the next integers (values that later land
    outside still CLAMP into the edge bins — the binning stays correct,
    only edge-bin resolution degrades), so the caller never hand-picks
    bounds blindly. Raises on an all-NULL column — a histogram of
    nothing has no defensible range."""
    if not 1 <= nbins <= HIST_MAX_BINS:
        raise ValueError(f"nbins must be in [1, {HIST_MAX_BINS}]: {nbins}")
    import math

    row = df.agg(
        F.min(F.col(col).cast("double")).alias("mn"),
        F.max(F.col(col).cast("double")).alias("mx"),
    ).first()
    if row["mn"] is None:
        raise ValueError(
            f"suggest_hist_binning({col!r}): column has no non-NULL "
            "values to derive a range from"
        )
    lo = float(math.floor(row["mn"]))
    hi = float(math.ceil(row["mx"]))
    if hi <= lo:
        hi = lo + 1.0
    return f"{alias or col + '_hist'}=hist({col}, {lo!r}, {hi!r}, {nbins})"


def hist_params_for(db, cols: set) -> dict:
    """col -> (lo, hi, nbins) resolved from PERSISTED rollup specs (meta
    is readable even when the rollup is stale — exactly the scan-fallback
    case, same pattern as derived_dim_exprs). approx_percentile_hist is
    DEFINED by its declared binning, so with no declaring spec the
    function is an error, and two specs binning the same column
    differently raise rather than silently picking one."""
    out: dict = {}
    for _, spec, _ in rollup_specs(db):
        for a in spec["aggs"]:
            if a["op"] != "hist" or a["col"] not in cols:
                continue
            params = (a["lo"], a["hi"], a["nbins"])
            if a["col"] in out and out[a["col"]] != params:
                raise ValueError(
                    f"column {a['col']!r} has hist partials with "
                    "different binning in two rollup specs — "
                    "approx_percentile_hist would be ambiguous; drop or "
                    "re-bin one of them"
                )
            out[a["col"]] = params
    missing = cols - set(out)
    if missing:
        raise ValueError(
            f"approx_percentile_hist({sorted(missing)[0]}, ...) needs a "
            "hist partial declared in some rollup spec (create_rollup "
            "aggs entry 'alias=hist(col, lo, hi, nbins)') — the binning "
            "defines the function's value"
        )
    return out


# ---- log-linear quantile sketch partials (round 13) ---------------------
# The histogram partial (round 12) serves approx_percentile_hist but
# REQUIRES a declared [lo, hi) — a drifting value domain silently clips
# into the edge bins. This is the mergeable arbitrary-quantile partial
# the verdict asked for: a log-linear sketch (HDR-histogram / DDSketch
# family — Masson et al., VLDB 2019, "DDSketch: a fast and
# fully-mergeable quantile sketch") with NO declared range. A value maps
# to (octave, sub-bin): octave e = floor(log2(|x|)) — computed with a
# comparison-CORRECTED log2 so libm ulp noise can never flip a bin —
# and 64 LINEAR sub-bins within the octave, where |x|/2^e is EXACT IEEE
# arithmetic (division by a power of two). The partial is a sparse
# map<okey, count> of exact longs: merging is element-wise addition —
# commutative, associative, order-independent — so routed merge, scan
# twin, streaming fold and the DuckDB oracle all produce IDENTICAL
# counts, and the quantile (rank-select over sorted keys + a midpoint
# representative built from exact powers of two) is the same double on
# every path. Unlike KLL/t-digest, whose compactions are
# insertion-order-dependent, this sketch keeps the repo's defining
# invariant: routed == scan == streaming, bit-for-bit.
#
# Accuracy contract: relative error <= 1/128 (~0.78%) for any value
# with |x| in [2^-300, 2^301); values outside clamp into edge bins
# (like hist edges — but 600 octaves of headroom instead of a declared
# range); zero is exact (its own bin); NULL/NaN excluded. Memory: at
# most 64*601*2+1 occupied keys per lane — in practice tens of keys
# (values span few octaves), far smaller than a 512-bin dense array.
#
# ``alias=qsketch(col)`` declares the partial (parameter-free — two
# specs can never disagree, the ambiguity the hist family must guard
# against cannot exist); ``approx_percentile(col, q) AS alias`` in
# select() is served from it when covered, and the scan path builds the
# SAME sketch from raw rows — the function is DEFINED as the sketch
# interpolation, so its value never changes with rollup freshness.

QSKETCH_SUB = 64  # sub-bins per octave: relative error <= 1/(2*64)
QSKETCH_EMAX = 300  # |x| outside [2^-300, 2^301) clamps to edge bins


def qsketch_key_sql(col: str) -> str:
    """Order key (bigint) of a value — ONE portable text (Spark SQL and
    DuckDB both run it) so bin assignment can never drift between the
    engine and the oracle. Monotone in the value: negative lane
    -(k), zero 0, positive lane +(k) with k = (e+300)*64 + s + 1.

    Exactness: log2 is only an INITIAL GUESS — the CASE correction
    compares against power(2, e) directly, so a 1-ulp libm difference
    between engines cannot flip the octave; power(2, int) exactness is
    pinned by test on both engines (powers of two are exactly
    representable); the sub-bin arithmetic (|x|/2^e - 1) * 64 is exact
    IEEE (division and multiplication by powers of two). floor/least/
    greatest/abs are exact everywhere."""
    x = f"cast({col} as double)"
    ax = f"abs({x})"
    e0 = f"cast(least(1100.0, greatest(-1100.0, floor(log2({ax})))) as int)"
    ec = (
        f"(CASE WHEN power(2.0, {e0}) > {ax} THEN {e0} - 1 "
        f"WHEN power(2.0, {e0} + 1) <= {ax} THEN {e0} + 1 "
        f"ELSE {e0} END)"
    )
    e = f"least({QSKETCH_EMAX}, greatest(-{QSKETCH_EMAX}, {ec}))"
    s = (
        f"cast(least({QSKETCH_SUB - 1}.0, greatest(0.0, "
        f"floor(({ax} / power(2.0, {e}) - 1.0) * {QSKETCH_SUB}.0))) as int)"
    )
    k = (
        f"cast(({e} + {QSKETCH_EMAX}) * {QSKETCH_SUB} + {s} + 1 as bigint)"
    )
    return (
        f"(CASE WHEN {col} IS NULL THEN cast(NULL as bigint) "
        f"WHEN isnan({x}) THEN cast(NULL as bigint) "
        f"WHEN {x} = 0.0 THEN cast(0 as bigint) "
        f"WHEN {x} > 0.0 THEN {k} ELSE -{k} END)"
    )


def qsketch_rep_sql(okey: str) -> str:
    """Representative value (double) of an order key — the bin's
    midpoint, 2^e * (1 + (s + 0.5)/64), sign-mirrored. Every operation
    is exact IEEE ((2s+1)/128 has granularity 1/128; 1 + that is
    exactly representable; the power-of-two product cannot round), so
    the SAME key yields the SAME double on every engine and path —
    portable text, shared with the DuckDB oracle."""
    ak = f"(abs({okey}) - 1)"
    e64 = f"cast(floor({ak} / {QSKETCH_SUB}.0) as int)"
    e = f"({e64} - {QSKETCH_EMAX})"
    s = f"cast({ak} - cast({e64} as bigint) * {QSKETCH_SUB} as int)"
    rep = (
        f"(power(2.0, {e}) * (1.0 + (cast({s} as double) + 0.5) "
        f"/ {QSKETCH_SUB}.0))"
    )
    return (
        f"(CASE WHEN {okey} = 0 THEN 0.0 "
        f"WHEN {okey} > 0 THEN {rep} ELSE -{rep} END)"
    )


def qsketch_map_merge_sql(maps_arr: str) -> str:
    """Merge an array of sketch maps by key-wise addition (Spark-side
    text; higher-order functions). Commutative and associative over
    exact longs — any merge tree yields the same map."""
    return (
        f"aggregate({maps_arr}, cast(map() as map<bigint,bigint>), "
        f"(__m, __x) -> map_zip_with(__m, __x, (__k, __a, __b) -> "
        f"coalesce(__a, cast(0 as bigint)) "
        f"+ coalesce(__b, cast(0 as bigint))))"
    )


def qsketch_percentile_from_map_sql(map_expr: str, q: float) -> str:
    """Quantile from a merged sketch map (Spark-side text): sort the
    entries by key, prefix-sum the exact counts, select the first key
    whose cumulative count reaches r = q * total (the same rank rule as
    the hist family), return its representative. Let-bound intermediates
    (round-12 ADVICE pattern) keep ``map_expr`` appearing once. q in
    (0, 1] guarantees the search lands; empty sketch (all-NULL group)
    yields NULL."""
    if not 0 < q <= 1:
        raise ValueError(f"approx_percentile q must be in (0, 1]: {q}")
    entries = f"sort_array(map_entries({map_expr}))"
    cum = (
        "slice(aggregate(transform(__e, __x -> __x.value), "
        "array(cast(0 as bigint)), "
        "(__a, __v) -> concat(__a, array(element_at(__a, -1) + __v))), "
        "2, size(__e))"
    )
    total = "element_at(__c, size(__e))"
    r = f"(cast({q!r} as double) * cast({total} as double))"
    b = (
        f"element_at(filter(sequence(1, size(__e)), __j -> "
        f"cast(element_at(__c, __j) as double) >= {r}), 1)"
    )
    rep = qsketch_rep_sql("element_at(__e, __b).key")
    return (
        f"element_at(transform(array({entries}), __e -> "
        f"CASE WHEN size(__e) = 0 THEN cast(NULL as double) "
        f"ELSE element_at(transform(array({cum}), __c -> "
        f"element_at(transform(array({b}), __b -> {rep}), 1)"
        f"), 1) END), 1)"
    )


def parse_spec(dims: list[str], aggs: list[str]) -> dict:
    """Validate/normalize a rollup spec. ``dims`` entries are index column
    names or ``alias=SQL_EXPR`` derived dims; ``aggs`` entries are
    ``alias=op(col)`` with op in count/sum/min/max/approx_count_distinct.
    ``count()``/``count(*)`` is the row count; ``count(col)`` (round 11)
    is the NON-NULL count of ``col`` — declare it next to ``sum(col)``
    and ``avg(col)`` select() queries become routable (avg is served as
    sum-partial / count-partial). Returns the canonical JSON-able spec
    dict."""
    from betfair_database_spark.const import SQL_TABLE_COLUMNS

    cols = set(SQL_TABLE_COLUMNS)
    nd = []
    for d in dims:
        if "=" in d:
            alias, expr = d.split("=", 1)
            alias, expr = alias.strip(), expr.strip()
            if not alias.isidentifier():
                raise ValueError(f"bad dim alias {alias!r}")
            nd.append({"alias": alias, "expr": expr})
        else:
            d = d.strip()
            if d not in cols:
                raise ValueError(f"unknown index column {d!r} in dims")
            nd.append({"alias": d, "expr": None})
    if not nd:
        raise ValueError("a rollup spec needs at least one dim")
    na = []
    for a in aggs:
        h = _SPEC_HIST_RE.match(a)
        if h:
            alias, col = h.group(1), h.group(2)
            lo, hi, nb = float(h.group(3)), float(h.group(4)), int(h.group(5))
            if col not in cols:
                raise ValueError(f"agg {a!r} needs a known index column")
            if not hi > lo:
                raise ValueError(f"hist needs hi > lo in {a!r}")
            if not 1 <= nb <= HIST_MAX_BINS:
                raise ValueError(
                    f"hist nbins must be in [1, {HIST_MAX_BINS}] in {a!r}"
                )
            na.append(
                {"alias": alias, "op": "hist", "col": col,
                 "lo": lo, "hi": hi, "nbins": nb}
            )
            continue
        m = _SPEC_AGG_RE.match(a)
        if not m:
            raise ValueError(
                f"bad agg {a!r}; expected alias=op(col) with op in "
                "count/sum/sumsq/min/max/qsketch/"
                "approx_count_distinct, or "
                "alias=hist(col, lo, hi, nbins)"
            )
        alias, op, col = m.group(1), m.group(2), m.group(3) or None
        if op == "count" and col in (None, "*"):
            col = None
        elif col is None or col not in cols:
            raise ValueError(f"agg {a!r} needs a known index column")
        na.append({"alias": alias, "op": op, "col": col})
    if not na:
        raise ValueError("a rollup spec needs at least one agg")
    names = [d["alias"] for d in nd] + [x["alias"] for x in na]
    if len(set(names)) != len(names):
        raise ValueError("duplicate alias in rollup spec")
    if any(n.startswith("_p_") for n in names):
        # the storage grain prefixes partial columns with _p_; a user
        # alias in that namespace would corrupt key/partial detection
        raise ValueError("aliases starting with '_p_' are reserved")
    if any(d["expr"] is not None and d["alias"] == "eventTypeId" for d in nd):
        raise ValueError(
            "a derived dim cannot shadow eventTypeId (the storage grain's "
            "partition key)"
        )
    return {"dims": nd, "aggs": na}


def _spec_dim_cols(spec: dict):
    return [
        F.expr(d["expr"]).alias(d["alias"]) if d["expr"] else F.col(d["alias"])
        for d in spec["dims"]
    ]


def _spec_partial_aggs(spec: dict):
    """Aggregate expressions at the internal (eventTypeId, dims) grain."""
    out = []
    for a in spec["aggs"]:
        al, op, col = "_p_" + a["alias"], a["op"], a["col"]
        if op == "count":
            # count() = row count; count(col) = non-null count (the avg
            # routing denominator) — both merge additively by sum
            out.append(
                (F.count(col) if col else F.count(F.lit(1))).alias(al)
            )
        elif op == "sum":
            out.append(F.sum(col).alias(al))
        elif op == "sumsq":
            # second-moment partial (round 12): exact in the column's
            # natural sum type (long for ints — the parity-exact case;
            # see moment_sql), merges additively like sum
            out.append(F.sum(F.col(col) * F.col(col)).alias(al))
        elif op == "min":
            out.append(F.min(col).alias(al))
        elif op == "max":
            out.append(F.max(col).alias(al))
        elif op == "hist":
            # fixed-bin histogram partial (round 12): array<bigint> of
            # per-bin counts — exact, additively mergeable. Bin
            # assignment via hist_bin_sql, the ONE text the scan twin
            # and oracle also use.
            b = F.expr(hist_bin_sql(col, a["lo"], a["hi"], a["nbins"]))
            out.append(
                F.array(
                    *[
                        F.sum(
                            F.when(b == i, F.lit(1)).otherwise(F.lit(0))
                        ).cast("long")
                        for i in range(a["nbins"])
                    ]
                ).alias(al)
            )
        elif op == "qsketch":
            raise ValueError(
                "qsketch partials need the two-stage build — "
                "summarize_spec handles them; _spec_partial_aggs must "
                "only see the non-sketch aggs"
            )
        else:  # approx_count_distinct: mergeable HLL sketch partial
            out.append(F.hll_sketch_agg(F.col(col).cast("string")).alias(al))
    return out


def _qsketch_stage2_expr(spec_aggs_q: list, a: dict, alias: str):
    """Stage-2 sketch-map build from the (keys x okeys)-grain stage-1
    frame: collect the (okey, rowcount) entries for THIS sketch column
    and turn them into the sparse map partial. With one sketch agg the
    okey is a stage-1 group key, so entries are already key-unique and
    map_from_entries suffices; with several, entries for one column
    repeat across the other columns' okeys and the key-wise fold merges
    the duplicates."""
    kcol = "_qk_" + a["alias"]
    collected = (
        f"sort_array(collect_list(CASE WHEN `{kcol}` IS NOT NULL THEN "
        f"struct(`{kcol}` AS k, `_qn` AS n) END))"
    )
    if len(spec_aggs_q) == 1:
        sql = f"map_from_entries({collected})"
    else:
        sql = qsketch_map_merge_sql(
            f"transform({collected}, __t -> map(__t.k, __t.n))"
        )
    return F.expr(sql).alias(alias)


def _hist_elementwise_sum(p: str, nbins: int, alias: str):
    """Element-wise bigint sum of histogram arrays — stays inside the
    hash aggregate (one F.sum per bin), no collect_list."""
    return F.array(
        *[F.sum(F.element_at(F.col(p), i + 1)) for i in range(nbins)]
    ).alias(alias)


def _spec_merge_aggs(spec: dict):
    """Merge the partials to the user grain (read time, rollup-sized)."""
    out = []
    for a in spec["aggs"]:
        al, op = a["alias"], a["op"]
        p = "_p_" + al
        if op in ("count", "sum", "sumsq"):
            out.append(F.sum(p).alias(al))
        elif op == "min":
            out.append(F.min(p).alias(al))
        elif op == "max":
            out.append(F.max(p).alias(al))
        elif op == "hist":
            out.append(_hist_elementwise_sum(p, a["nbins"], al))
        elif op == "qsketch":
            out.append(
                F.expr(qsketch_map_merge_sql(f"collect_list(`{p}`)")).alias(al)
            )
        else:
            out.append(
                F.hll_sketch_estimate(F.hll_union_agg(p)).alias(al)
            )
    return out


def _spec_fold_partials(spec: dict):
    """Fold partials INTO partials (same column names/types) — the
    streaming additive merge: counts/sums add, min/max re-extremize, HLL
    sketches union without estimating. Register-max semantics make every
    one of these order-independent, so an incremental fold equals the
    one-shot aggregate bit-for-bit (HLL: sketch-for-sketch)."""
    out = []
    for a in spec["aggs"]:
        p = "_p_" + a["alias"]
        op = a["op"]
        if op in ("count", "sum", "sumsq"):
            out.append(F.sum(p).alias(p))
        elif op == "min":
            out.append(F.min(p).alias(p))
        elif op == "max":
            out.append(F.max(p).alias(p))
        elif op == "hist":
            # per-bin counts add like any sum partial (exact longs)
            out.append(_hist_elementwise_sum(p, a["nbins"], p))
        elif op == "qsketch":
            # sparse maps merge by key-wise addition of exact longs —
            # commutative/associative, so the incremental streaming fold
            # equals the one-shot build map-for-map
            out.append(
                F.expr(qsketch_map_merge_sql(f"collect_list(`{p}`)")).alias(p)
            )
        else:
            out.append(F.hll_union_agg(p).alias(p))
    return out


def summarize_spec(
    index_df: DataFrame, spec: dict, part_col: str = "eventTypeId"
) -> DataFrame:
    """The internal at-rest frame: partials per (partition key, user
    dims). Pure function of input rows — full build, touched-partition
    recompute, and the from-scratch reference in tests all use it.
    ``part_col`` defaults to the index's partition key; the oracle gate
    exercises the same machinery over other tables with their own
    bucketing key."""
    has_part = any(
        d["expr"] is None and d["alias"] == part_col for d in spec["dims"]
    )
    keys = ([] if has_part else [F.col(part_col)]) + _spec_dim_cols(spec)
    qs = [a for a in spec["aggs"] if a["op"] == "qsketch"]
    if not qs:
        return index_df.groupBy(*keys).agg(*_spec_partial_aggs(spec))
    # qsketch partials (round 13) need per-(cell, okey) counts, which a
    # single agg expression cannot build without collecting row-sized
    # lists. Two-stage instead: stage 1 groups by keys + okeys (the
    # okey domain is bounded — at most 2*64*601+1 keys per column — so
    # this inflates the grain by occupied bins, not by rows); stage 2
    # folds back to the cell grain. Every OTHER partial is itself
    # mergeable (that is its defining property), so re-merging the
    # stage-1 partials with _spec_fold_partials is exact.
    rest = {**spec, "aggs": [a for a in spec["aggs"] if a["op"] != "qsketch"]}
    kcols = [
        F.expr(qsketch_key_sql(a["col"])).alias("_qk_" + a["alias"])
        for a in qs
    ]
    stage1 = index_df.groupBy(*keys, *kcols).agg(
        *_spec_partial_aggs(rest), F.count(F.lit(1)).alias("_qn")
    )
    names = ([] if has_part else [part_col]) + [
        d["alias"] for d in spec["dims"]
    ]
    sketch_exprs = [
        _qsketch_stage2_expr(qs, a, "_p_" + a["alias"]) for a in qs
    ]
    out_cols = names + ["_p_" + a["alias"] for a in spec["aggs"]]
    return (
        stage1.groupBy(*names)
        .agg(*_spec_fold_partials(rest), *sketch_exprs)
        .select(*out_cols)
    )


def spec_view(internal: DataFrame, spec: dict) -> DataFrame:
    """User-grain view of the internal frame: drop the partition key,
    merge the partials."""
    dims = [d["alias"] for d in spec["dims"]]
    return internal.groupBy(*dims).agg(*_spec_merge_aggs(spec))


def spec_rollup_path(database_dir: Path, name: str) -> Path:
    if not name.isidentifier():
        raise ValueError(f"rollup name {name!r} must be an identifier")
    return Path(database_dir) / f".betfairdatabaserollup-{name}.parquet"


# The built-in per-(sport, day) rollup: a reserved spec, stored at
# ROLLUP_DIRNAME and addressed as name None. Its user-grain view has
# exactly ROLLUP_SCHEMA's columns, in order.
BUILTIN_SPEC = parse_spec(
    ["eventTypeId", "startDate=to_date(substring(marketStartTime, 1, 10))"],
    [
        "markets=count()",
        "bspMarkets=sum(bspMarket)",
        "inPlayMarkets=sum(turnInPlayEnabled)",
        "settledMarkets=count(marketSettledTime)",
        "runnersTotal=sum(runners)",
        "firstStart=min(marketStartTime)",
        "lastStart=max(marketStartTime)",
    ],
)


def _path(db, name: str | None) -> Path:
    if name is None:
        return rollup_path(db.database_dir)
    return spec_rollup_path(db.database_dir, name)


def _spec_atomic_swap(db, path: Path, frame: DataFrame, meta: dict) -> int:
    """Write ``frame`` + meta to a sibling temp dir, then replace the live
    rollup. A rollup is group-cardinality-sized, so one part-file; its
    row count comes from that file's parquet footer, not a re-read. The
    meta records the frame's schema for ``_read_partials``."""
    import pyarrow.parquet as pq

    tmp = path.with_suffix(".swap")
    if tmp.exists():
        shutil.rmtree(tmp)
    schema = frame.schema
    frame.coalesce(1).write.mode("overwrite").parquet(str(tmp))
    n = sum(pq.read_metadata(f).num_rows for f in tmp.glob("*.parquet"))
    (tmp / _META_NAME).write_text(
        json.dumps({**meta, "rows": n, "schema": schema.jsonValue()})
    )
    if path.exists():
        shutil.rmtree(path)
    tmp.rename(path)
    return n


def _read_partials(db, path: Path, meta: dict) -> DataFrame:
    """A rollup's stored partials frame, through the handle's relation
    memo keyed by the rollup's part-files: a swap writes new UUID-named
    files, so a rebuilt rollup is a new key. Reading explicit files with
    the schema its commit recorded skips Spark's directory listing and
    the job that parquet schema inference runs; rollups committed before
    the schema was recorded fall back to inference."""
    files = [
        str(path / n)
        for n in os.listdir(path)
        if n.endswith(".parquet") and not n.startswith((".", "_"))
    ]
    schema = StructType.fromJson(meta["schema"]) if "schema" in meta else None
    return db._relation(files, schema, path)


def spec_rollup_build(db, name: str | None, spec: dict) -> int:
    """Full (re)build of a rollup from the live index (``name`` None =
    the built-in). Returns the stored internal (eventTypeId x dims) row
    count; the user view is a cheap re-aggregate of it."""
    from betfair_database_spark.database import _manifest_snapshot_no

    snap = _manifest_snapshot_no(db._index_path)
    return _spec_atomic_swap(
        db,
        _path(db, name),
        summarize_spec(db._read_index(), spec),
        {"index_snapshot": snap, "spec": spec, "name": name},
    )


def rollup_specs(db) -> list[tuple]:
    """``(name, spec, meta)`` of every materialized rollup, in routing
    order: named rollups sorted by name, then the built-in (name None,
    spec BUILTIN_SPEC) when its directory exists. The built-in's meta may
    be None or lack the spec (torn, or an older storage format): readers
    of its stored data check ``meta["spec"] == spec``. Directory scan, no
    Spark."""
    out = []
    for p in Path(db.database_dir).glob(".betfairdatabaserollup-*.parquet"):
        meta = _meta_read(p)
        if meta and "spec" in meta:
            out.append((meta["name"], meta["spec"], meta))
    out.sort(key=lambda t: t[0])
    live = rollup_path(db.database_dir)
    if live.exists():
        out.append((None, BUILTIN_SPEC, _meta_read(live)))
    return out


def _maintain(db, name, spec: dict, meta, repl: DataFrame, touched) -> None:
    """Partition-incremental maintenance of ONE rollup, called by the
    index upsert AFTER its manifest commit. ``repl`` is the checkpointed
    replacement frame (rows outside ``touched`` are filtered away here),
    ``touched`` the eventTypeId values whose index partitions were
    rewritten.

    Reads: the previous rollup file (small) + ``repl`` (in memory).
    Never re-reads the index parquet."""
    from betfair_database_spark.database import _manifest_snapshot_no

    snap = _manifest_snapshot_no(db._index_path)
    if (
        meta is None
        or meta.get("spec") != spec
        or meta.get("index_snapshot") not in (snap - 1, snap)
    ):
        # Snapshot numbers are sequential, so the only safe incremental
        # bases are snap-1 (the normal post-commit call: rollup was fresh
        # at the previous snapshot) and snap itself (an idempotent re-fold:
        # touched partitions are recomputed from ``repl`` either way). Any
        # other value means a prior maintenance op crashed between its
        # index commit and rollup swap (or the index was force-rebuilt);
        # carrying those rows over and stamping ``snap`` would launder the
        # staleness past the StaleRollupError guard. A meta without the
        # spec is an older storage format whose rows cannot be carried.
        # Heal by a full rebuild from the live index instead.
        spec_rollup_build(db, name, spec)
        return
    path = _path(db, name)
    keep = _read_partials(db, path, meta).where(~db._partition_filter(touched))
    fresh = summarize_spec(repl.where(db._partition_filter(touched)), spec)
    # No cut: the swap's one write reads ``keep`` from the old rollup
    # files and finishes before they are removed.
    _spec_atomic_swap(
        db,
        path,
        keep.unionByName(fresh),
        {"index_snapshot": snap, "spec": spec, "name": name},
    )


def rollup_update(db, repl: DataFrame, touched: list) -> None:
    """Maintain the built-in rollup after an index upsert (see
    ``_maintain``). No-op when it is not materialized."""
    live = rollup_path(db.database_dir)
    if touched and live.exists():
        _maintain(db, None, BUILTIN_SPEC, _meta_read(live), repl, touched)


def spec_rollup_update(db, repl: DataFrame, touched: list) -> None:
    """Maintain EVERY named rollup after an index upsert (see
    ``_maintain``)."""
    if not touched:
        return
    for name, spec, meta in rollup_specs(db):
        if name is not None:
            _maintain(db, name, spec, meta, repl, touched)


def spec_rollup_read(db, name: str | None) -> DataFrame:
    """A committed rollup at USER grain, freshness-checked (``name``
    None = the built-in, served with ROLLUP_SCHEMA's columns and types)."""
    from betfair_database_spark.database import _manifest_snapshot_no
    from betfair_database_spark.exceptions import (
        RollupMissingError,
        StaleRollupError,
    )

    label = "the built-in rollup" if name is None else f"rollup {name!r}"
    path = _path(db, name)
    meta = _meta_read(path)
    if meta is None:
        raise RollupMissingError(
            db.database_dir if name is None else f"{db.database_dir} ({label})"
        )
    if name is None and meta.get("spec") != BUILTIN_SPEC:
        raise StaleRollupError(
            "the built-in rollup was written by an older storage format "
            "(its meta carries no reserved spec) — call create_rollup() "
            "to rebuild (any insert()/clean()/index() also heals it)"
        )
    current = _manifest_snapshot_no(db._index_path)
    if meta.get("index_snapshot") != current:
        raise StaleRollupError(
            f"{label} was built at index snapshot "
            f"{meta.get('index_snapshot')} but the index is at snapshot "
            f"{current} — a maintenance write crashed between the index "
            "commit and the rollup swap; call create_rollup("
            f"{'' if name is None else f'name={name!r}'}) to rebuild"
        )
    view = spec_view(_read_partials(db, path, meta), meta["spec"])
    if name is None:
        view = view.select(
            *[F.col(f.name).cast(f.dataType) for f in ROLLUP_SCHEMA.fields]
        )
    return view


# =========================================================================
# Rollup auto-routing (round 10, verdict #1): serve covered aggregate
# select() queries from a materialized rollup without reading the index
# =========================================================================
#
# The reference's only query surface is select() (reference
# betfairdatabase/database.py:119-157); a user aggregating by the exact
# dims of a materialized rollup should never pay an index scan — at
# 100 TB the whole point of a continuous aggregate is that covered
# queries cost rollup-sized IO. Routing is an OPTIMIZATION with a strict
# safety contract: it only fires when the answer is provably identical
# to the scan (fresh rollup — the snapshot protocol guarantees it —
# plain-column dims covering every referenced identifier, aggregates
# matching a stored partial, WHERE referencing group dims only); any
# doubt falls back to the scan, never to an error.

_AGG_COL_RE = _re.compile(
    r"^\s*(count|sum|avg|min|max|approx_count_distinct|"
    r"stddev_samp|stddev_pop|stddev|var_samp|var_pop|variance)\s*\(\s*"
    r"(\*|[A-Za-z_][A-Za-z0-9_]*)?\s*\)\s*"
    r"(?:[Aa][Ss]\s+([A-Za-z_][A-Za-z0-9_]*))?\s*$"
)
_IDENT_RE = _re.compile(r"^\s*[A-Za-z_][A-Za-z0-9_]*\s*$")
# approx_percentile_hist(col, q) AS alias — q a literal in (0, 1]
_PCTL_COL_RE = _re.compile(
    r"^\s*approx_percentile_hist\s*\(\s*([A-Za-z_][A-Za-z0-9_]*)\s*,\s*"
    r"((?:0?\.\d+)|(?:1(?:\.0+)?))\s*\)\s*"
    r"(?:[Aa][Ss]\s+([A-Za-z_][A-Za-z0-9_]*))?\s*$"
)
# approx_percentile(col, q) AS alias — the log-linear-sketch quantile
# (round 13): DEFINED as the qsketch interpolation on every path, so it
# deliberately shadows Spark's native approx_percentile inside select()
# (the same single-estimator rule as approx_count_distinct -> HLL
# sketch). Routes when a spec stores qsketch(col); the scan builds the
# same sketch from raw rows, so the value never depends on freshness.
_PCTL2_COL_RE = _re.compile(
    r"^\s*approx_percentile\s*\(\s*([A-Za-z_][A-Za-z0-9_]*)\s*,\s*"
    r"((?:0?\.\d+)|(?:1(?:\.0+)?))\s*\)\s*"
    r"(?:[Aa][Ss]\s+([A-Za-z_][A-Za-z0-9_]*))?\s*$"
)
_WHERE_KEYWORDS = {
    "AND", "OR", "NOT", "IN", "IS", "NULL", "BETWEEN",
    "LIKE", "GLOB", "ESCAPE", "TRUE", "FALSE",
}

def parse_select_shape(columns, group_by):
    """Classify a select() column list as an aggregate query: returns
    (dims_in_select, aggs, out_order) or None when the list is not a
    routable aggregate shape (op in count/sum/avg/min/max/
    approx_count_distinct). ``aggs`` entries are (op, col, alias);
    aggregates REQUIRE an explicit ``AS alias`` (without one, Spark's
    auto-generated name would differ between the routed and scan paths).
    ``out_order`` is the output column order (dim aliases and agg
    aliases, as listed)."""
    if not columns:
        return None
    dims, aggs, order = [], [], []
    for c in columns:
        pm = _PCTL_COL_RE.match(c)
        if pm:
            col, q, alias = pm.group(1), float(pm.group(2)), pm.group(3)
            if alias is None:
                return None
            aggs.append(("approx_percentile_hist", col, alias, q))
            order.append(alias)
            continue
        pm2 = _PCTL2_COL_RE.match(c)
        if pm2:
            col, q, alias = pm2.group(1), float(pm2.group(2)), pm2.group(3)
            if alias is None:
                return None
            aggs.append(("approx_percentile", col, alias, q))
            order.append(alias)
            continue
        m = _AGG_COL_RE.match(c)
        if m:
            op, col, alias = m.group(1).lower(), m.group(2), m.group(3)
            if alias is None:
                return None
            if op == "count" and col in (None, "*"):
                col = None
            elif col in (None, "*"):
                return None
            aggs.append((op, col, alias))
            order.append(alias)
        elif _IDENT_RE.match(c):
            dims.append(c.strip())
            order.append(c.strip())
        else:
            return None
    if not aggs:
        return None  # nothing aggregated: plain projection, never routed
    if group_by is None and dims:
        return None  # bare-aggregate mixed with dims: not a GROUP BY query
    return dims, aggs, order


def _agg_covered(op: str, col, stored: set) -> bool:
    """Does a stored-partial set serve this select() aggregate? avg has
    no partial of its own — it is derived from the sum + non-null-count
    pair (declare ``s=sum(col)`` and ``c=count(col)`` in the spec); the
    variance family (round 12) additionally needs the sumsq partial."""
    if op == "avg":
        return ("sum", col) in stored and ("count", col) in stored
    if op in _MOMENT_NORMALIZE:
        return (
            ("sum", col) in stored
            and ("count", col) in stored
            and ("sumsq", col) in stored
        )
    if op == "approx_percentile_hist":
        return ("hist", col) in stored
    if op == "approx_percentile":
        return ("qsketch", col) in stored
    return (op, col) in stored


def _where_idents(where: str):
    """Conservative identifier extraction from a raw SQLite WHERE clause:
    the set of referenced column names, or None when the clause contains
    anything this simple scan cannot prove safe (quoted identifiers,
    nested quotes it cannot strip, ...). String literals are stripped
    first; tokens that survive must each be a routable dim or a known
    keyword — a function call's name fails the dim check downstream, so
    parenthesised expressions are safe to tokenize."""
    s = _re.sub(r"'(?:[^']|'')*'", " ", where)
    if _re.search(r'["\[\]`]', s):
        return None
    return {
        t
        for t in _re.findall(r"[A-Za-z_][A-Za-z0-9_]*", s)
        if t.upper() not in _WHERE_KEYWORDS
    }


def merge_partials(
    internal: DataFrame,
    spec: dict,
    group_dims: list[str],
    aggs: list[tuple],
    where_expr: "str | None" = None,
) -> DataFrame:
    """Re-aggregate a spec rollup's INTERNAL partials frame to an
    arbitrary SUBSET of its dims — the routed query's physical plan, and
    a pure function so the oracle gate can exercise it directly. ``aggs``
    entries are (op, col, out_alias), each matching a stored partial.
    Filtering on group-dim columns commutes with the aggregation (every
    row of a partial cell shares the cell's dim values), so ``where_expr``
    applies to the partials frame before the merge."""
    by_key = {(a["op"], a["col"]): "_p_" + a["alias"] for a in spec["aggs"]}
    df = internal
    if where_expr:
        df = df.where(F.expr(where_expr))
    exprs, post = [], {}
    for entry in aggs:
        op, col, alias = entry[0], entry[1], entry[2]
        if op == "approx_percentile_hist":
            # merge the hist partial arrays inside the aggregate, then
            # interpolate in a post-projection — the ONE formula
            # (hist_percentile_from_array_sql) the scan twin also builds
            q = entry[3]
            sa = next(
                a
                for a in spec["aggs"]
                if a["op"] == "hist" and a["col"] == col
            )
            tmp = f"__hist_{alias}"
            exprs.append(
                _hist_elementwise_sum(by_key[("hist", col)], sa["nbins"], tmp)
            )
            post[alias] = hist_percentile_from_array_sql(
                f"`{tmp}`", sa["lo"], sa["hi"], sa["nbins"], q
            )
            continue
        if op == "approx_percentile":
            # log-linear-sketch quantile (round 13): fold the sparse
            # map partials key-wise inside the aggregate, then the ONE
            # extraction text (qsketch_percentile_from_map_sql) the
            # scan twin also builds
            q = entry[3]
            p = by_key[("qsketch", col)]
            tmp = f"__qs_{alias}"
            exprs.append(
                F.expr(
                    qsketch_map_merge_sql(f"collect_list(`{p}`)")
                ).alias(tmp)
            )
            post[alias] = qsketch_percentile_from_map_sql(f"`{tmp}`", q)
            continue
        if op == "avg":
            # avg is DERIVED: sum-partial / count-partial (non-null
            # count), the one division shared with the scan twin
            # (_scan_agg_sql) so routed == scan exactly; count==0 →
            # NULL explicitly (ANSI mode would raise on /0)
            s, c = F.sum(by_key[("sum", col)]), F.sum(by_key[("count", col)])
            exprs.append(F.when(c > 0, s / c).alias(alias))
            continue
        if op in _MOMENT_NORMALIZE:
            # variance family (round 12, verdict #4): derived from the
            # (count, sum, sumsq) partial triple through moment_sql —
            # the ONE formula the scan twin also builds, so routed ==
            # scan whenever the partials are exact
            sql = moment_sql(
                op,
                f"sum({by_key[('count', col)]})",
                f"sum({by_key[('sum', col)]})",
                f"sum({by_key[('sumsq', col)]})",
            )
            exprs.append(F.expr(sql).alias(alias))
            continue
        p = by_key[(op, col)]
        if op == "count":
            # a filtered-empty GLOBAL aggregate must yield 0 like the
            # scan's count(*), not sum's NULL
            exprs.append(
                F.coalesce(F.sum(p), F.lit(0)).cast("long").alias(alias)
            )
        elif op == "sum":
            exprs.append(F.sum(p).alias(alias))
        elif op == "min":
            exprs.append(F.min(p).alias(alias))
        elif op == "max":
            exprs.append(F.max(p).alias(alias))
        else:
            exprs.append(
                F.hll_sketch_estimate(F.hll_union_agg(p)).alias(alias)
            )
    agged = (
        df.groupBy(*group_dims).agg(*exprs) if group_dims else df.agg(*exprs)
    )
    if post:
        outcols = [F.col(d) for d in group_dims]
        for entry in aggs:
            alias = entry[2]
            outcols.append(
                F.expr(post[alias]).alias(alias)
                if alias in post
                else F.col(alias)
            )
        agged = agged.select(*outcols)
    return agged


def derived_dim_exprs(db, names) -> dict:
    """alias -> SQL expr for DERIVED spec-rollup dims among ``names`` —
    the scan fallback's resolver. A routed-shape query over a derived
    dim (``group_by=["startDay"]``) must stay runnable when its rollup
    is STALE or the coverage check fails, so the scan path substitutes
    the persisted spec's expression for the alias (persisted meta is
    readable even when the rollup is stale — exactly the fallback case).
    Aliases shadowing real index columns are never substituted (the
    column wins); two specs defining the same alias differently raise
    loudly rather than silently picking one."""
    from betfair_database_spark.const import SQL_TABLE_COLUMNS

    want = {n for n in names if _IDENT_RE.match(n)}
    out: dict = {}
    for _, spec, _ in rollup_specs(db):
        for d in spec["dims"]:
            a = d["alias"]
            if (
                d["expr"] is None
                or a in SQL_TABLE_COLUMNS
                or a not in want
            ):
                continue
            if a in out and out[a] != d["expr"]:
                raise ValueError(
                    f"derived dim {a!r} is defined differently by two "
                    "rollup specs — drop or rename one of them"
                )
            out[a] = d["expr"]
    return out


def route_select(db, columns, where, group_by, local_tz=None):
    """Try to serve ``select(columns, where, group_by)`` from a fresh
    materialized rollup. Returns (route_name, DataFrame) or None (fall
    back to the scan). Never raises on staleness — a stale rollup is
    simply not a candidate."""
    from betfair_database_spark.database import _manifest_snapshot_no
    from betfair_database_spark.plans.dialect import (
        register_sqlite_functions,
        translate_where,
    )

    shape = parse_select_shape(columns, group_by)
    if shape is None:
        return None
    # a translated WHERE may reference sqlite_* temp functions; register
    # them BEFORE analyzing candidate frames so routing is deterministic
    # in cold sessions (round-11 ADVICE: a session where no scan query
    # ran first used to silently skip routing on analysis failure)
    register_sqlite_functions(db.spark)
    dims_sel, aggs, order = shape
    pctl_cols = {a[1] for a in aggs if a[0] == "approx_percentile_hist"}
    if pctl_cols:
        # resolve binning through the ONE ambiguity-checking resolver the
        # scan path uses — two specs binning the same column differently
        # must raise IDENTICALLY on both paths, not have the routed path
        # silently answer from whichever spec iterates first while the
        # same query errors once the rollup goes stale (round-12 ADVICE)
        hist_params_for(db, pctl_cols)
    gb = [g.strip() for g in group_by] if group_by else []
    if any(not _IDENT_RE.match(g) for g in gb):
        return None
    wid: set = set()
    if where:
        w = _where_idents(where)
        if w is None:
            return None
        wid = w
    try:
        current = _manifest_snapshot_no(db._index_path)
    except OSError:
        return None

    from betfair_database_spark.const import SQL_TABLE_COLUMNS

    # named rollups first (sorted by name), the built-in last
    for name, spec, meta in rollup_specs(db):
        if (
            meta is None
            or meta.get("spec") != spec
            or meta.get("index_snapshot") != current
        ):
            continue  # stale, torn or older format: NEVER an error
        # Routable dims: plain index columns, plus DERIVED dim aliases
        # (stored columns of the internal frame) as long as the alias
        # does not shadow a real index column — a shadowing alias would
        # make the routed answer (expr values) differ from the scan
        # (column values). WHERE may reference ANY routable dim
        # (round 11): filtering on group dims — derived ones included,
        # they are stored columns of the partials frame with one value
        # per cell — commutes with the merge, and the scan fallback now
        # resolves derived aliases inside WHERE too (select_df), so both
        # paths accept the same query text.
        plain_dims = {
            d["alias"] for d in spec["dims"] if d["expr"] is None
        } | {"eventTypeId"}
        routable_dims = plain_dims | {
            d["alias"]
            for d in spec["dims"]
            if d["expr"] is not None and d["alias"] not in SQL_TABLE_COLUMNS
        }
        if not (set(dims_sel) | set(gb)) <= routable_dims:
            continue
        if where and not (wid <= routable_dims):
            continue
        stored = {(a["op"], a["col"]) for a in spec["aggs"]}
        if not all(_agg_covered(a[0], a[1], stored) for a in aggs):
            continue
        where_expr = translate_where(where, local_tz=local_tz) if where else None
        internal = _read_partials(db, _path(db, name), meta)
        try:
            out = merge_partials(
                internal, spec, gb, aggs, where_expr
            ).select(*order)
            out.schema  # force analysis: unresolvable WHERE -> fallback
        except Exception:
            continue
        return f"rollup:{name or 'builtin'}", out
    return None
