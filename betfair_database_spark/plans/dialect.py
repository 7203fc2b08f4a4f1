"""SQLite → Spark SQL dialect shim for the ``select(where=...)`` passthrough.

The reference interpolates the user's WHERE string straight into SQLite
(reference database.py:144-152), so the observable query language is SQLite's
expression grammar. Spark SQL accepts almost all of it verbatim (=, ==, AND,
OR, NOT, IN, BETWEEN, IS NULL, LIKE, arithmetic — SURVEY §2.2). The deltas we
bridge:

  - ``true``/``false`` literals compared against 0/1-stored booleans
    (reference tests/test_integration.py:385-393): rewritten to 1/0 outside
    string literals.
  - SQLite scalar datetime functions ``time()``, ``datetime()``,
    ``strftime()`` (reference tests/test_integration.py:327-343): registered
    as Spark SQL user functions (JVM-side expression macros, no Python UDF),
    robust to arbitrary nesting. ``date()`` already exists in Spark with
    compatible comparison semantics.

  - ``strftime`` codes ``%w`` (weekday 0-6, Sunday=0) and ``%W`` (week of
    year 00-53, Monday-first) have no java.time pattern equivalent, so the
    shim substitutes their computed values into the pattern before
    ``date_format`` (digits are literals in java.time patterns).
  - ``GLOB`` (case-sensitive ``*``/``?``/``[...]`` matching): rewritten to
    ``RLIKE sqlite_glob_regex('<pattern>')`` — the pattern→regex conversion
    is a JVM-side replace chain.
  - Double-quoted spans follow SQLite's resolution rule: a known index
    column name becomes a backtick identifier, anything else a string
    literal (SQLite prefers identifier, falls back to literal; Spark would
    otherwise always parse ``"x"`` as a string).

``LIKE`` is rewritten to ``RLIKE`` on a pattern→regex conversion carrying
the ``(?i)`` flag WITHOUT ``(?u)``: Java regex case-insensitivity folds the
26 ASCII letters only unless UNICODE_CASE is set, which is byte-for-byte
SQLite's LIKE rule ("case folding for the 26 upper case characters of
ASCII only"). Non-ASCII case pairs stay case-SENSITIVE, exactly like
SQLite (Spark's own ILIKE would fold Unicode — rejected for that reason),
and a backslash in the pattern is a literal character, exactly like
SQLite's escape-less LIKE (Spark LIKE/ILIKE would treat it as an escape).

Round 6 brings the datetime bridge to full SQLite fidelity on the
modifier/time-value grammar (every rule below pinned empirically against
sqlite 3.40 and property-fuzzed in ``test_dialect_modifiers.py`` /
``test_dialect_fuzz.py``):

  - **Modifier arguments** (``datetime(x, '+3 days', 'start of month')``):
    ``±NNN days/hours/minutes/seconds/months/years`` (fractional and
    e-notation values, SQLite's exact tokenizer: no leading space, at
    least one space before the unit word, nothing after it, and the
    per-unit float32 magnitude limits of date.c's aXformType), ``start
    of day/month/year``, ``weekday N``, ``unixepoch``, ``julianday``.
    Two execution paths, both exact and both fuzzed: a fully-LITERAL
    call (base and modifiers) CONSTANT-FOLDS at translate time through a
    Python model of SQLite's ms arithmetic; a COLUMN base folds into a
    chain of JVM-side SQL macros over epoch-ms BIGINTs. Month / year
    arithmetic reproduces SQLite's day-overflow roll
    (``2001-01-31,'+1 month'`` → ``2001-03-03``), fractional months/years
    convert to 30/365 days, ms rounding matches C's ``(i64)(r*k ± 0.5)``,
    and julian-domain validity is checked exactly where SQLite checks it
    (month/start-of/weekday inputs and every output — never on pure ms
    shifts, whose intermediates may leave the domain and return). An
    UNRECOGNIZED modifier folds the whole call to NULL — exactly SQLite
    (this also covers 3.42's ``subsec``, which 3.40 NULLs).
    ``localtime``/``utc`` raise loudly instead (they need the
    reference host's timezone, which Spark sessions don't share);
    ``auto`` is BRIDGED (round 8 — it needs no timezone: numeric values
    in [0, 5373484.5) stay julian, other numerics are epoch seconds,
    text parses normally; legal only first, NULL past position 0);
    non-literal (column-valued) modifier expressions are BRIDGED
    (round 12) through an Arrow kernel that reuses the literal
    constant-fold engine per row (``_dyn_modifier_kernel`` — the slow
    path, drift-proof by construction); >500-modifier calls and a
    per-row ``'now'`` base still raise.
  - **Time values**: SQLite's exact accepted set — strict
    ``YYYY-MM-DD[ HH:MM[:SS[.frac]]]`` (strict 0-padding; ``T``
    separator; optional trailing ``Z``; trailing whitespace ok, leading
    not), time-only strings (date 2000-01-01), bare julian-day numbers
    (``datetime(2460000.5)``) whether quoted or not, the literal
    ``'now'`` (zero-argument calls default to it), and SQLite's exact
    component validation (month 1-12, day 1-31, hour ≤24, minute ≤59,
    second <60 — day overflow like ``'2023-02-31'`` rolls through the
    calendar once any arithmetic happens). Anything else is NULL, never
    an error — matching SQLite, and ANSI-safe (the pre-round-6 bridge
    raised on unparseable strings under ANSI).

Round 7: ``localtime``/``utc`` are BRIDGED when the caller supplies the
capture timezone — ``translate_where(..., local_tz='<IANA zone>')`` /
``select(..., local_tz=...)`` — the reference's host-tz semantics with
the host made explicit (tested against sqlite3 under a pinned process
TZ). Without ``local_tz`` they still raise. Round 8: ``auto`` is fully
bridged (no timezone involved — numeric-range dispatch between julian
and unixepoch interpretations, first-position-only, pinned vs sqlite3).
Bridged window: years 1-9999; offsets come from IANA tzdata on both
paths (zoneinfo on the literal fold, convert_timezone on the column
chain). Round 10 closes the last two localtime/utc residuals: (a) 'utc'
inside the 1-2 h DST gap/overlap windows now runs SQLite's own ITERATE
(date.c) on both paths — guess, measure localtime(guess) against the
wall value, correct, up to four rounds — instead of the
java.time/PEP-495 single-lookup convention, which picks a different
instant in positive-offset zones (pinned vs stdlib sqlite3 across gap
and overlap in ±offset and 30-minute-DST zones); (b) instants outside
the 32-bit time_t window resolve their offset at SQLite's PROXY YEAR
``2000 + Y % 4`` with month/day preserved (empirically derived on
3.40.1 and fuzz-pinned across zones x out-of-range years). One corner
remains documented-not-reproduced: around Mar 1 of out-of-range CENTURY
non-leap years SQLite materializes the proxy's Feb 29 in a non-leap
year (datetime() renders the invalid date, julianday() day-rolls it one
day off true arithmetic) — this bridge keeps calendar-true values
there. SQLite's tzSet flag is fully modeled (see below).

Round 7 also bridges numeric utc-offset suffixes in time values
(``'2023-01-01 10:00:00+02:00'`` — hour 00-14, minute 00-59, only after
a time component, exactly sqlite 3.40.1's grammar; date-only values now
also reject a bare ``Z``, matching SQLite — both pinned in the matrix),
and ``LIKE ... ESCAPE`` exactly for literal
pattern+escape operands (escape makes the FOLLOWING char literal,
dangling escape matches nothing, single-char escape enforced — pinned
and fuzzed against sqlite3); computed operands keep the ILIKE fallback.

Round 8 bridges ``||`` on REAL operands: known-REAL index columns wrap
in the ``sqlite_real_text`` macro and unsigned float literals fold at
translate time (both %!.15g — '1.0e+20', '100.0', trailing-zero trim,
-0.0 → '0.0', Inf/-Inf; fuzzed vs sqlite3). Exact for every value whose
shortest repr has <= 15 significant digits (all realistic data);
documented last-digit corners: subnormals and 16-digit shortest-repr
doubles can differ by one unit in the 15th digit (Java formats from the
shortest repr with HALF_UP; SQLite's pre-3.41 long-double dtoa is
itself not correctly rounded there).

Residual deltas (documented, not bridged): ``||`` on COMPUTED float
expressions and sign-prefixed float literals (Spark's default rendering
agrees for ordinary decimals) plus the last-digit corners above;
``LIKE ... ESCAPE`` with COMPUTED pattern/escape operands (ILIKE
fallback); strftime codes the
reference-era SQLite (3.40) itself returns NULL for (``%e %u %k %l %I %T
%R %F %p %P %G %g %U %V``); ``%%`` immediately followed by another code
letter (``%%Y``); results/inputs
outside years 0001-9999 (SQLite spans -4713..9999; we render NULL there);
single ms shifts beyond ±8e15 ms ≈ ±250k years NULL early (SQLite's own
second/minute/hour limits run to ~14.7M years, values only ever visible
through more NULLs); alphabetic literal characters in COMPUTED strftime
format strings hit java.time pattern letters in the generic macro (a
literal format renders them verbatim on both the folded and the
segmented column path);
rendering of degenerate not-quite-real datetimes with NO modifier applied
(SQLite echoes ``'2023-02-31'`` back verbatim from its raw-component
cache; we normalize through the calendar, as SQLite itself does the
moment any modifier or numeric conversion touches the value); and >3
fractional-second digits in component renders (SQLite keeps the raw
digits for plain ``datetime()`` rendering but rounds to ms for all
arithmetic/numeric outputs; we round once at parse).
Bridged codes: ``%Y %m %d %H %M %S %f %j %w %W %s %J %%`` plus ``time()``,
``date()``, ``datetime()``, ``julianday()``, ``unixepoch()`` — each
property-tested against the stdlib sqlite3 engine, on SQLite's own
millisecond-rounded time model.
"""

from __future__ import annotations

import math
import re

from pyspark.sql import SparkSession

# SQLite strftime → java.time format codes (common subset)
_FMT_MAP = (
    ("%Y", "yyyy"),
    ("%m", "MM"),
    ("%d", "dd"),
    ("%H", "HH"),
    ("%M", "mm"),
    ("%S", "ss"),
    ("%f", "ss.SSS"),  # seconds with milliseconds, e.g. '47.625'
    ("%j", "DDD"),
    ("%%", "%"),
)

# Shared NTZ time expressions for the strftime/unixepoch macros. SQLite's
# internal time representation is MILLISECONDS (iJD), so every input rounds
# to the nearest millisecond at parse — '47.9999' is second 48 to SQLite.
# All parsing funnels through sqlite_ts(x) (defined below), which is the
# bridge's single model of SQLite's time-value grammar: strict ISO,
# time-only, julian-day numerics, millisecond rounding, NULL (never an
# ANSI error) for anything else.
_EPOCH = "TIMESTAMP_NTZ '1970-01-01 00:00:00'"


def _ms_of(t: str) -> str:
    """ms-of-epoch of a (parsed, already ms-exact) timestamp expression —
    the div is exact because sqlite_ts rounds to ms at parse."""
    return f"(timestampdiff(MICROSECOND, {_EPOCH}, {t}) div 1000)"


def _julian_of(t: str) -> str:
    """Julian day BIT-IDENTICAL to SQLite: one double division of the
    integer julian-epoch milliseconds (iJD = epoch-ms + 2440587.5 days of
    ms), exactly the (double)iJD/86400000.0 SQLite computes — summing two
    rounded terms instead would disagree in the last ulp."""
    return f"(({_ms_of(t)} + 210866760000000L) / 86400000.0d)"


def _julian_text_of(t: str) -> str:
    """SQLite prints %J with C's "%.16g": correctly-rounded 16 significant
    digits, trailing zeros (then a bare trailing dot) stripped. Java's
    format_string('%g') rounds the SHORTEST decimal repr half-up — off by
    one ulp on values like ...4975 — but format_number (DecimalFormat)
    rounds the exact binary value half-even like C. Use it at
    16-minus-integer-digits decimals, strip its grouping commas, then the
    zeros."""
    jd = _julian_of(t)
    return (
        "regexp_replace(regexp_replace(replace(format_number("
        f"{jd}, 16 - length(cast(cast(floor({jd}) as bigint) as string))"
        "), ',', ''), '0+$', ''), '\\\\.$', '')"
    )


_MS_T = _ms_of("t")
_JULIAN = _julian_of("t")
_JULIAN_TEXT = _julian_text_of("t")

# SQLite names collide with Spark builtins (Spark 4 has a TIME-typed
# ``time()``), so the WHERE rewriter renames calls to a ``sqlite_`` prefix and
# these SQL UDFs (JVM-side expression macros, no Python) implement them.
#
# Every function parses via to_timestamp_ntz: SQLite's datetime space is UTC
# wall-clock (tz-less strings are UTC; a trailing Z is dropped as offset
# zero), and NTZ arithmetic makes each result IDENTICAL under any session
# timezone — the session may belong to the caller, not this engine.
# SQLite time-value gates, written at the SQL-string-literal level (Spark's
# parser processes one escape level, so \\d in the SQL text is regex \d).
# ISO: strict 0-padded YYYY-MM-DD, optional ' '/'T' time, optional trailing
# Z (whitespace before/after the Z ok, leading whitespace NOT — pinned
# against sqlite 3.40). Time-only: HH:MM[:SS[.frac]] (date 2000-01-01).
# Numeric: julian day number, leading/trailing whitespace tolerated.
# SQLite's component RANGE validation (date.c parseYyyyMmDd/parseHhMmSs:
# year >= 1, month 1-12, day 1-31, hour <= 24, minute <= 59, second < 60)
# lives INSIDE these regexes (round 7): one regex reference per parse
# instead of a CASE re-reading every component twice — the value
# expressions below reference each component exactly once, which halves
# the inlined WHERE-clause tree (see the 64 KB notes further down).
# suffix after a TIME component: Z/z, or a numeric utc offset
# [+-]HH:MM with hour 00-14 and minute 00-59 (pinned against sqlite
# 3.40.1: +14:59 parses, +15:00 is NULL; date-only values accept NO
# suffix — '2023-07-28Z' is NULL, which round 7 also fixed here)
_TZ_SUFFIX = r"[Zz]|[+-](0\\d|1[0-4]):[0-5]\\d"
_ISO_GATE = (
    r"'^(?!0000)\\d{4}-(0[1-9]|1[0-2])-(0[1-9]|[12]\\d|3[01])"
    r"(([ T])([01]\\d|2[0-4]):([0-5]\\d)(:([0-5]\\d)(\\.\\d+)?)?"
    r"\\s*(" + _TZ_SUFFIX + r")?)?\\s*$'"
)
_TIME_GATE = (
    r"'^([01]\\d|2[0-4]):([0-5]\\d)(:([0-5]\\d)(\\.\\d+)?)?"
    r"\\s*(" + _TZ_SUFFIX + r")?\\s*$'"
)
_NUM_GATE = r"'^[+-]?(\\d+\\.?\\d*|\\.\\d+)([eE][+-]?\\d+)?$'"
# tzSet probe (round 10): does the value CARRY an explicit timezone —
# trailing Z/z or ±HH:MM after a time component? SQLite sets its tzSet
# flag while parsing such values, which makes a later 'utc' modifier a
# NO-OP (date.c: the utc branch runs only when tzSet==0). The probe may
# fire on invalid-but-suffixed strings — harmless, their parsed ms is
# NULL so both branches of the conditional utc agree.
_HASTZ_GATE = r"'([Zz]|[+-](0\\d|1[0-4]):[0-5]\\d)\\s*$'"
# fast-path shape, checked INSIDE the (already validating) ISO gate: no
# fraction (SQLite rounds fractions to ms; Spark's cast keeps micros), no
# trailing Z/whitespace, no hour-24 wraparound concerns — for these,
# Spark's native string→TIMESTAMP_NTZ cast (~0.3 µs) replaces the ~5 µs
# substring-arithmetic parse; SQLite's day-overflow rolls ('2023-02-31')
# make the native cast NULL and coalesce into the arithmetic parse
_FAST_GATE = r"'^\\d{4}-\\d{2}-\\d{2}([ T]\\d{2}:\\d{2}(:\\d{2})?)?$'"

# Component accessors over the RAW gated ISO string (fixed offsets — the
# gate regex guarantees digit positions): Y 1-4, M 6-7, D 9-10, H 12-13,
# Mi 15-16, seconds (with fraction) from 18. Missing components are ''.
# Raw-offset extraction (round 7): the parse used to run on a
# regexp_replace-stripped copy of the string, but SQL-UDF inlining
# duplicates a function's argument expression once per reference — 12
# copies of the strip per ms_iso call blew the JVM's 64 KB codegen limit
# in WHERE clauses and re-ran the regex 12× per row. Extracting at fixed
# offsets from the raw string makes every duplicated reference a cheap
# attribute read; only the seconds field (the one place trailing
# 'Z'/whitespace can bleed in) strips — on its own short substring.
# try_cast covers the edge where a stripped-off 'Z' lands inside a
# component window ('2023-07-28 Z': H reads 'Z' → NULL → 0, exactly the
# value the strip-first parse produced).
# julian-domain validity windows over the ms value: SQLite's
# validJulianDay shifted to epoch-ms; _MSRENDER additionally floors at
# 0001-01-01 for date_format-ability (pre-0001 render is a documented
# residual). The _TS variants lift a VALID ms value back to a timestamp.
# The modifier/render bodies below are Python EMITTERS parameterized by
# the value expression: the same text registers as SQL temp functions
# (inline chain form — Spark's analyzer let-binds their parameters inside
# Project nodes) AND emits directly over a lambda variable (predicate
# chain form — see _rewrite_datetime_call; a SQL temp function cannot be
# CALLED on a lambda variable, Spark's inliner fails to resolve it).


def _msvalid_of(v: str) -> str:
    return (
        f"(CASE WHEN {v} BETWEEN -210866760000000L AND 253402300799999L"
        f" THEN {v} END)"
    )


def _msday_of(v: str) -> str:
    """civil DATE of a VALID ms value — pure int arithmetic (floor-div via
    pmod) + one date_add; no timestamp lift, no CASE."""
    return (
        "date_add(DATE '1970-01-01',"
        f" cast(({v} - pmod({v}, 86400000L)) div 86400000L as int))"
    )


def _try_ts_of(v: str) -> str:
    """single-reference lift of v to TIMESTAMP_NTZ: try_multiply NULLs the
    >±292k-year ms magnitudes a 500-modifier chain can accumulate (instead
    of overflowing), the caller gates the render window with year()."""
    return (
        f"timestampadd(MICROSECOND, try_multiply({v}, 1000L), "
        "TIMESTAMP_NTZ '1970-01-01 00:00:00')"
    )


_MSVALID = _msvalid_of("v")
_MSDAY = _msday_of("v")
_EPOCH_DATE = "DATE '1970-01-01'"
_MSVALID_TS = (
    f"timestampadd(MICROSECOND, {_MSVALID} * 1000, "
    "TIMESTAMP_NTZ '1970-01-01 00:00:00')"
)
_MSRENDER_TS = (
    "timestampadd(MICROSECOND, (CASE WHEN v BETWEEN -62135596800000L"
    " AND 253402300799999L THEN v END) * 1000, "
    "TIMESTAMP_NTZ '1970-01-01 00:00:00')"
)
_TRY_TS = _try_ts_of("v")


def _b_months(v: str, n) -> str:
    """months shift body — see the sqlite_msmod_months docs below."""
    ym = f"(year({_msday_of(v)}) * 12 + month({_msday_of(v)}) - 1 + {n})"
    return (
        f"CASE WHEN {_msvalid_of(v)} IS NOT NULL THEN "
        f"CASE WHEN {ym} BETWEEN 12 AND 119999 "
        f"THEN cast(datediff(date_add(make_date({ym} div 12, "
        f"pmod({ym}, 12) + 1, 1), day({_msday_of(v)}) - 1), "
        f"{_EPOCH_DATE}) as bigint) * 86400000L + pmod({v}, 86400000L) "
        "END END"
    )


def _b_sod(v: str) -> str:
    return (
        f"CASE WHEN {_msvalid_of(v)} IS NOT NULL "
        f"THEN {v} - pmod({v}, 86400000L) END"
    )


def _b_som(v: str) -> str:
    return (
        f"CASE WHEN {_msvalid_of(v)} IS NOT NULL "
        f"THEN cast(datediff(trunc({_msday_of(v)}, 'MM'), {_EPOCH_DATE}) "
        "as bigint) * 86400000L END"
    )


def _b_soy(v: str) -> str:
    return (
        f"CASE WHEN {_msvalid_of(v)} IS NOT NULL "
        f"THEN cast(datediff(trunc({_msday_of(v)}, 'YEAR'), {_EPOCH_DATE}) "
        "as bigint) * 86400000L END"
    )


def _b_weekday(v: str, n) -> str:
    return (
        f"CASE WHEN {_msvalid_of(v)} IS NOT NULL "
        f"THEN {v} + 86400000L * pmod({n} - pmod(({v} - pmod({v}, "
        "86400000L)) div 86400000L + 4, 7), 7) END"
    )


def _b_fmt(v: str, pat: str) -> str:
    """2-reference render: lift once via try_multiply, gate the render
    window with year() — [1, 9999] is exactly the old
    [_MS_RENDER_LO, _MS_VALID_HI] ms window."""
    t = _try_ts_of(v)
    return (
        f"CASE WHEN year({t}) BETWEEN 1 AND 9999 "
        f"THEN date_format({t}, '{pat}') END"
    )


def _b_msue(v: str) -> str:
    return f"cast(floor({_msvalid_of(v)} / 1000.0) as bigint)"


def _b_msjd(v: str) -> str:
    return f"(({_msvalid_of(v)} + 210866760000000L) / 86400000.0d)"


def _tz_literal(tz: str) -> str:
    return "'" + tz.replace("\\", "").replace("'", "''") + "'"


def _msrender_gate_of(v: str) -> str:
    """years 1-9999 window (same as the render gate) — localtime/utc are
    bridged only there: Python's datetime cannot represent the julian
    window's pre-0001 tail. Outside the time_t window SQLite's proxy-year
    clamp applies (round 10, bridged — see _b_lt_ms)."""
    return (
        f"(CASE WHEN {v} BETWEEN -62135596800000L AND 253402300799999L"
        f" THEN {v} END)"
    )


# SQLite's localtime PROXY-YEAR CLAMP (round 10, pinned empirically on
# 3.40.1): for instants outside [1970-01-01T00:00Z, 2038-01-18T00:00Z]
# (the classic 32-bit time_t window, date.c's iJD gate) the offset is
# looked up at year ``2000 + Y % 4`` with month/day/time-of-day
# preserved — NOT at the true year. The mod-4 proxy keeps approximate
# leapness and hands the OS the modern DST rule for that month (e.g.
# 1902-07-01 in New York resolves at 2002-07-01 → EDT, though 1902 had
# no DST). Residual (documented, not reproduced): within the offset-wide
# window around Mar 1 of out-of-range CENTURY non-leap years (2100,
# 2200, 1900...), SQLite's internal field mapping materializes Feb 29 of
# the leap proxy in a non-leap year — datetime() renders the invalid
# date verbatim and julianday() day-rolls it, one day off true
# arithmetic; this bridge keeps calendar-true values there.
_TT_HI_MS = 2147385600000  # 2038-01-18T00:00:00Z in epoch ms


def _b_lt_ms(x: str, tz: str) -> str:
    """ms -> ms 'localtime' of the INSTANT ``x`` — convert_timezone on
    the NTZ lift inside the time_t window (IANA tzdata, same rules
    Python's zoneinfo applies on the literal fold path), the proxy-year
    clamp outside it. ``x`` should be a cheap expression (a lambda/macro
    variable): it is referenced several times."""
    t = _try_ts_of(_msrender_gate_of(x))

    def conv(ts: str) -> str:
        return (
            f"(timestampdiff(MICROSECOND, {_EPOCH}, "
            f"convert_timezone('UTC', {_tz_literal(tz)}, {ts})) div 1000)"
        )

    proxy_ms = (
        f"({x} + cast(datediff(make_date(2000 + pmod(year({t}), 4), "
        f"month({t}), day({t})), to_date({t})) as bigint) * 86400000L)"
    )
    pt = _try_ts_of(proxy_ms)
    return (
        f"(CASE WHEN {x} >= 0L AND {x} <= {_TT_HI_MS}L THEN {conv(t)} "
        f"ELSE {x} + ({conv(pt)} - {proxy_ms}) END)"
    )


def _b_localtime(v: str, tz: str) -> str:
    """'localtime': the value is UTC; shift it to ``tz`` wall-clock —
    with SQLite's proxy-year clamp outside the time_t window (see
    _b_lt_ms). The input is let-bound once: the clamp references it
    several times."""
    _UTC_SEQ[0] += 1
    var = f"sqlite_lt{_UTC_SEQ[0]}"
    return f"(transform(array({v}), {var} -> {_b_lt_ms(var, tz)})[0])"


_UTC_SEQ = [0]  # unique lambda-variable namespace per _b_utc emission


def _b_utc(v: str, tz: str) -> str:
    """'utc': the value is ``tz`` wall-clock; shift it to UTC — by
    SQLITE'S OWN ITERATE (date.c, the ``utc`` branch), round 10: guess
    the instant, measure ``localtime(guess)`` against the original wall
    value, correct, up to four rounds. Outside DST edges it converges in
    one round to the obvious offset subtraction; INSIDE the 1-2 h
    gap/overlap windows it reproduces SQLite's exact pick — which
    java.time's ``ofLocal`` (the old ``convert_timezone(tz,'UTC',...)``
    bridge) gets wrong for positive-offset zones (e.g. Europe/Paris
    2023-10-29 02:30: SQLite resolves to the LATER instant, ofLocal to
    the earlier). Unrolled algebra: with e_i measured against the
    original value, the result after four bodies is
    ``v - e1 - e2 - e3`` (the fourth error is discarded), and once any
    e_i is 0 the later terms stay 0 — so three fixed localtime
    evaluations implement the loop exactly, early exit included. Each
    evaluation is let-bound once via nested ``transform`` lambdas
    (names are globally unique, so chained/nested tz modifiers never
    collide); NULL and out-of-window inputs fold to NULL like every
    other ms macro. Verified against stdlib sqlite3 inside transition
    windows for gap and overlap in ±offset and 30-minute-DST zones
    (test_dialect_modifiers / test_dialect_fuzz)."""

    def lt(x: str) -> str:  # localtime of INSTANT x, in ms (clamped)
        return _b_lt_ms(x, tz)

    _UTC_SEQ[0] += 1
    u0, u1, u2 = (f"sqlite_u{_UTC_SEQ[0]}_{i}" for i in range(3))
    return (
        f"(transform(array({v}), {u0} -> "
        f"transform(array({u0} - ({lt(u0)} - {u0})), {u1} -> "
        f"transform(array({u1} - ({lt(u1)} - {u0})), {u2} -> "
        f"{u2} - ({lt(u2)} - {u0})"
        f")[0])[0])[0])"
    )

_Y = "cast(substring(x, 1, 4) as int)"
_MO = "cast(substring(x, 6, 2) as int)"
_D = "cast(substring(x, 9, 2) as int)"
_H = "coalesce(try_cast(nullif(substring(x, 12, 2), '') as int), 0)"
_MI = "coalesce(try_cast(nullif(substring(x, 15, 2), '') as int), 0)"
# seconds exist iff ':' sits at offset 17; extract ONLY the leading
# digits+fraction (a trailing Z / utc-offset / whitespace never reaches
# the cast — and absent seconds with a tz suffix would otherwise read
# the offset's hour digits as seconds)
_SEC = (
    "(CASE WHEN substring(x, 17, 1) = ':' THEN"
    " coalesce(cast(nullif(regexp_extract(substring(x, 18),"
    " '^[0-9]{2}([.][0-9]+)?', 0), '') as double), 0.0d)"
    " ELSE 0.0d END)"
)
# time-only strings ('HH:MM[:SS[.frac]]', date 2000-01-01): same fixed
# offsets rebased to 1/4/7, no Z possible (the time gate rejects it)
_TH = "cast(substring(x, 1, 2) as int)"
_TMI = "cast(substring(x, 4, 2) as int)"
_TSEC = (
    "(CASE WHEN substring(x, 6, 1) = ':' THEN"
    " coalesce(cast(nullif(regexp_extract(substring(x, 7),"
    " '^[0-9]{2}([.][0-9]+)?', 0), '') as double), 0.0d)"
    " ELSE 0.0d END)"
)
# epoch-days of 2000-01-01 (the date SQLite assigns to time-only values)
_TIMEONLY_DAYS = 10957
_TIMEONLY_DAYS_PY = _TIMEONLY_DAYS

_SQL_FUNCTIONS = [
    # Raw gated ISO string -> epoch ms. Component ranges are already
    # proven by the gate regex (day 1-31: Feb 31 is VALID to SQLite and
    # rolls through the calendar — reproduced by make_date(y, m, 1) +
    # (d-1) days); seconds round to SQLite's millisecond iJD resolution,
    # C-style half away from zero. Pure int/date arithmetic, each
    # component referenced exactly once — no timestamp values anywhere
    # in the parse.
    f"""
    CREATE OR REPLACE TEMPORARY FUNCTION sqlite_ms_iso(x STRING)
    RETURNS BIGINT
    RETURN cast(datediff(date_add(make_date({_Y}, {_MO}, 1), {_D} - 1),
                         {_EPOCH_DATE}) as bigint) * 86400000L
           + ({_H} * 3600L + {_MI} * 60L) * 1000L
           + cast(round({_SEC} * 1000.0d) as bigint)
    """,
    # Raw gated time-only string -> epoch ms on date 2000-01-01
    f"""
    CREATE OR REPLACE TEMPORARY FUNCTION sqlite_ms_hms(x STRING)
    RETURNS BIGINT
    RETURN {_TIMEONLY_DAYS}L * 86400000L
           + ({_TH} * 3600L + {_TMI} * 60L) * 1000L
           + cast(round({_TSEC} * 1000.0d) as bigint)
    """,
    # numeric utc-offset suffix -> SIGNED offset ms (0 when absent); the
    # cheap leading RLIKE short-circuits the three regexp_extracts for
    # the overwhelmingly common unsuffixed values
    f"""
    CREATE OR REPLACE TEMPORARY FUNCTION sqlite_hastz(x STRING)
    RETURNS BOOLEAN
    RETURN x RLIKE {_HASTZ_GATE}
    """,
    r"""
    CREATE OR REPLACE TEMPORARY FUNCTION sqlite_tzoff(x STRING)
    RETURNS BIGINT
    RETURN CASE WHEN x RLIKE '[+-]\\d{2}:\\d{2}\\s*$' THEN
        (CASE WHEN regexp_extract(x,
                   '([+-])(\\d{2}):(\\d{2})\\s*$', 1) = '-'
              THEN -1L ELSE 1L END)
        * (cast(regexp_extract(x, '([+-])(\\d{2}):(\\d{2})\\s*$', 2)
                as bigint) * 60L
           + cast(regexp_extract(x, '([+-])(\\d{2}):(\\d{2})\\s*$', 3)
                  as bigint)) * 60000L
        ELSE 0L END
    """,
    # THE time-value parser: SQLite's accepted grammar -> epoch ms, NULL
    # for the rest. A bare number (quoted or not — SQLite treats
    # '2460000.5' the same as 2460000.5) is a julian day; gated to years
    # 0001-9999 (documented residual: SQLite itself spans back to -4713)
    # and converted on SQLite's own iJD arithmetic: round(jd * 86400000)
    # ms, C half-up.
    f"""
    CREATE OR REPLACE TEMPORARY FUNCTION sqlite_msparse(x STRING)
    RETURNS BIGINT
    RETURN CASE
        WHEN x IS NULL THEN NULL
        WHEN x RLIKE {_ISO_GATE} THEN coalesce(
            CASE WHEN x RLIKE {_FAST_GATE}
                 THEN (timestampdiff(MICROSECOND, {_EPOCH},
                       try_cast(x as timestamp_ntz)) div 1000) END,
            sqlite_ms_iso(x) - sqlite_tzoff(x))
        WHEN x RLIKE {_TIME_GATE} THEN sqlite_ms_hms(x) - sqlite_tzoff(x)
        WHEN trim(x) RLIKE {_NUM_GATE} THEN
            CASE WHEN cast(trim(x) as double)
                      BETWEEN 1721425.5d AND 5373484.5d
                 THEN cast(round(cast(trim(x) as double) * 86400000.0d)
                           as bigint) - 210866760000000L
            END
        END
    """,
    # timestamp view of a parsed value — only the strftime render path
    # needs it (date_format wants a timestamp)
    """
    CREATE OR REPLACE TEMPORARY FUNCTION sqlite_ts(x STRING)
    RETURNS TIMESTAMP_NTZ
    RETURN timestampadd(MICROSECOND, sqlite_msparse(x) * 1000,
                        TIMESTAMP_NTZ '1970-01-01 00:00:00')
    """,
    # --- modifier macros ---------------------------------------------
    # translate_where folds literal modifiers into chains of these. The
    # chain value is EPOCH-MILLISECONDS as a nullable BIGINT — exactly
    # SQLite's internal iJD representation (shifted by the epoch offset).
    # Representation choice is load-bearing: SQL-UDF inlining substitutes
    # the argument expression once PER REFERENCE, so chain depth
    # multiplies the analyzed tree by each macro's reference count. In
    # ms-space a day/hour/minute/second shift is a plain `+` (multiplier
    # 1 — it is not even a function), start-of/weekday are ~3, months ~7;
    # the earlier timestamp-space design hit ~20 per month level and an
    # analyzer heap OOM on 3-deep chains.
    #
    # SQLite's validity model, pinned empirically: per-unit float32
    # VALUE limits at each modifier (aXformType.rLimit — enforced at
    # fold time); julian-domain validity (validJulianDay: iJD in
    # [0, 464269060799999] ms) checked ONLY where computeYMD runs — at
    # month/start-of/weekday modifiers (on their INPUT) and at every
    # output — never on pure ms shifts, whose intermediates may wander
    # out of range and come back ('9999-12-31','+1 day','-2 days' is
    # 9999-12-30, while '+3000000 days','start of month' is NULL).
    # The _MSVALID gate below is that check, epoch-shifted; renders
    # additionally need year >= 1 for date_format (pre-0001 output is a
    # documented residual).
    # months shift: SQLite keeps D and lets the calendar roll day
    # overflow ('2001-01-31','+1 month' -> '2001-03-03') — reproduced by
    # make_date(y2, m2, 1) + (D-1) days; time-of-day (pmod ms) carries
    # over. All int/date intrinsics: the previous timestamp-space version
    # cost ~11 us/row in per-row CASE+timestampadd lifts (measured 1.7 s
    # of a 2.5 s chain at 150k rows). The y2 gate keeps make_date inside
    # its domain; it also NULLs a month-shift whose TARGET leaves
    # 1..9999, slightly earlier than SQLite's output-time check
    # (documented residual at the year-9999/0001 edges).
    f"""
    CREATE OR REPLACE TEMPORARY FUNCTION sqlite_msmod_months(v BIGINT,
                                                             n INT)
    RETURNS BIGINT
    RETURN {_b_months("v", "n")}
    """,
    f"""
    CREATE OR REPLACE TEMPORARY FUNCTION sqlite_msmod_sod(v BIGINT)
    RETURNS BIGINT
    RETURN {_b_sod("v")}
    """,
    f"""
    CREATE OR REPLACE TEMPORARY FUNCTION sqlite_msmod_som(v BIGINT)
    RETURNS BIGINT
    RETURN {_b_som("v")}
    """,
    f"""
    CREATE OR REPLACE TEMPORARY FUNCTION sqlite_msmod_soy(v BIGINT)
    RETURNS BIGINT
    RETURN {_b_soy("v")}
    """,
    # 'weekday N': advance 0-6 days forward to the next date whose
    # weekday (Sunday=0) is N; time-of-day unchanged (a plain ms add —
    # dayofweek() is Sunday=1).
    f"""
    CREATE OR REPLACE TEMPORARY FUNCTION sqlite_msmod_weekday(v BIGINT,
                                                              n INT)
    RETURNS BIGINT
    RETURN {_b_weekday("v", "n")}
    """,
    # 'unixepoch' modifier: the base value must be a bare number (SQLite
    # NULLs everything else — including column values row-by-row, which
    # this runtime gate reproduces); seconds -> ms with C rounding. The
    # magnitude bound keeps the cast exact; beyond it every output is
    # NULL in SQLite too (outside the julian domain).
    f"""
    CREATE OR REPLACE TEMPORARY FUNCTION sqlite_ms_unixepoch(x STRING)
    RETURNS BIGINT
    RETURN CASE WHEN trim(x) RLIKE {_NUM_GATE} THEN
        CASE WHEN abs(cast(trim(x) as double)) <= 300000000000.0d
             THEN cast(round(cast(trim(x) as double) * 1000.0d) as bigint)
        END END
    """,
    # 'now': SQLite's current UTC wall-clock, whatever the session tz is.
    """
    CREATE OR REPLACE TEMPORARY FUNCTION sqlite_ms_now()
    RETURNS BIGINT
    RETURN (timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00',
            convert_timezone(current_timezone(), 'UTC', localtimestamp()))
            div 1000)
    """,
    # --- top renders / numeric extractors ----------------------------
    # 2-reference render (_b_fmt): one fewer duplicated parse tree per
    # inlined WHERE-clause call.
    f"""
    CREATE OR REPLACE TEMPORARY FUNCTION sqlite_msfmt_t(v BIGINT)
    RETURNS STRING
    RETURN {_b_fmt("v", "HH:mm:ss")}
    """,
    f"""
    CREATE OR REPLACE TEMPORARY FUNCTION sqlite_msfmt_d(v BIGINT)
    RETURNS STRING
    RETURN {_b_fmt("v", "yyyy-MM-dd")}
    """,
    f"""
    CREATE OR REPLACE TEMPORARY FUNCTION sqlite_msfmt_dt(v BIGINT)
    RETURNS STRING
    RETURN {_b_fmt("v", "yyyy-MM-dd HH:mm:ss")}
    """,
    # numeric outputs validate the full julian domain (no year-1 floor:
    # julianday('0001-01-10','-20 days') is a number in SQLite)
    f"""
    CREATE OR REPLACE TEMPORARY FUNCTION sqlite_msue(v BIGINT)
    RETURNS BIGINT
    RETURN {_b_msue("v")}
    """,
    f"""
    CREATE OR REPLACE TEMPORARY FUNCTION sqlite_msjd(v BIGINT)
    RETURNS DOUBLE
    RETURN {_b_msjd("v")}
    """,
    # --- the SQLite-named entry points (string time value in) --------
    # time('2023-07-27T20:30:00.000Z') -> '20:30:00'
    """
    CREATE OR REPLACE TEMPORARY FUNCTION sqlite_time(x STRING)
    RETURNS STRING
    RETURN sqlite_msfmt_t(sqlite_msparse(x))
    """,
    """
    CREATE OR REPLACE TEMPORARY FUNCTION sqlite_date(x STRING)
    RETURNS STRING
    RETURN sqlite_msfmt_d(sqlite_msparse(x))
    """,
    """
    CREATE OR REPLACE TEMPORARY FUNCTION sqlite_datetime(x STRING)
    RETURNS STRING
    RETURN sqlite_msfmt_dt(sqlite_msparse(x))
    """,
    """
    CREATE OR REPLACE TEMPORARY FUNCTION sqlite_unixepoch(x STRING)
    RETURNS BIGINT
    RETURN sqlite_msue(sqlite_msparse(x))
    """,
    # strftime('%m', x) -> '07'; format translated inline, stays JVM-side.
    # %w/%W/%s/%J have no java.time code: their computed values are
    # substituted into the pattern first (unquoted digits, '.' and '-' are
    # literals to date_format).
    """
    CREATE OR REPLACE TEMPORARY FUNCTION sqlite_strftime_ts(
        fmt STRING, t TIMESTAMP_NTZ)
    RETURNS STRING
    RETURN CASE WHEN year(t) BETWEEN 1 AND 9999 THEN date_format(
        t,
        {chain}
    ) END
    """,
    f"""
    CREATE OR REPLACE TEMPORARY FUNCTION sqlite_msstrftime(fmt STRING,
                                                           v BIGINT)
    RETURNS STRING
    RETURN sqlite_strftime_ts(fmt, {_MSVALID_TS})
    """,
    """
    CREATE OR REPLACE TEMPORARY FUNCTION sqlite_strftime(fmt STRING, x STRING)
    RETURNS STRING
    RETURN sqlite_msstrftime(fmt, sqlite_msparse(x))
    """,
    # julianday(x): days since noon UTC, 24 Nov 4714 BC = epoch-days +
    # the epoch's own Julian day number, millis-rounded like SQLite's iJD
    """
    CREATE OR REPLACE TEMPORARY FUNCTION sqlite_julianday(x STRING)
    RETURNS DOUBLE
    RETURN sqlite_msjd(sqlite_msparse(x))
    """,
    # GLOB pattern -> anchored Java regex: escape regex metachars that GLOB
    # treats literally, then * -> .* and ? -> . ([...] classes pass through —
    # GLOB and regex agree on [seq] and [^seq]).
    r"""
    CREATE OR REPLACE TEMPORARY FUNCTION sqlite_glob_regex(pat STRING)
    RETURNS STRING
    RETURN concat('^',
        replace(replace(
            regexp_replace(
                regexp_replace(pat, '([\\\\.$+(){}|])', '\\\\$1'),
                '(?<!\\[)\\^', '\\\\^'),
            '*', '.*'), '?', '.'),
        '$')
    """,
    # LIKE pattern -> Java regex with SQLite's exact fold rule: (?i) without
    # (?u) = ASCII-only case-insensitivity; (?s) lets %/_ cross newlines.
    # Every regex metachar (incl. backslash — SQLite LIKE has no escape
    # char) is matched literally; % -> .*, _ -> . .
    r"""
    CREATE OR REPLACE TEMPORARY FUNCTION sqlite_like_regex(pat STRING)
    RETURNS STRING
    RETURN concat('(?is)^',
        replace(replace(
            regexp_replace(pat, '([\\\\.$+(){}|\\[\\]^*?])', '\\\\$1'),
            '%', '.*'), '_', '.'),
        '$')
    """,
    # SQLite's REAL-to-TEXT rendering (%!.15g, date.c/printf.c, pinned
    # against 3.40.1): 15 significant digits, trailing fraction zeros
    # trimmed but at least one kept ('100.0', '1.0e+15'), scientific form
    # when the decimal exponent is >= 15 or < -4 (the C %g rule, which
    # Java's Formatter shares), -0.0 rendered '0.0', NaN -> NULL,
    # infinities -> 'Inf'/'-Inf'. Java %.15g supplies the digits (Spark
    # pins Locale.US); the two regexp_replaces do SQLite's '!' trim.
    # Used by translate_where to bridge `||` on REAL columns — the
    # previously-documented residual.
    r"""
    CREATE OR REPLACE TEMPORARY FUNCTION sqlite_real_text(x DOUBLE)
    RETURNS STRING
    RETURN CASE
      WHEN x IS NULL OR isnan(x) THEN NULL
      WHEN x = 0.0d THEN '0.0'
      WHEN x = cast('Infinity' as double) THEN 'Inf'
      WHEN x = cast('-Infinity' as double) THEN '-Inf'
      WHEN contains(format_string('%.15g', x), 'e') THEN
        regexp_replace(regexp_replace(format_string('%.15g', x),
                                      '(\\.\\d*?)0+e', '$1e'),
                       '\\.e', '.0e')
      WHEN NOT contains(format_string('%.15g', x), '.') THEN
        concat(format_string('%.15g', x), '.0')
      ELSE
        regexp_replace(regexp_replace(format_string('%.15g', x),
                                      '(\\.\\d*?)0+$', '$1'),
                       '\\.$', '.0')
    END
    """,
    # 'auto' modifier base parse (first position only): numeric values in
    # the julian-day window [0, 5373484.5) keep the default julian
    # interpretation; numeric outside it are unix epoch seconds (same
    # C-rounding + magnitude gate as 'unixepoch'); non-numeric text
    # parses normally. Pinned against sqlite3 in the modifier matrix.
    f"""
    CREATE OR REPLACE TEMPORARY FUNCTION sqlite_ms_auto(x STRING)
    RETURNS BIGINT
    RETURN CASE WHEN trim(x) RLIKE {_NUM_GATE} THEN
        CASE WHEN cast(trim(x) as double) >= 0.0d
                  AND cast(trim(x) as double) < 5373484.5d
             THEN sqlite_msparse(x)
             WHEN abs(cast(trim(x) as double)) <= 300000000000.0d
             THEN cast(round(cast(trim(x) as double) * 1000.0d) as bigint)
        END
    ELSE sqlite_msparse(x) END
    """,
]

_RENAMED_FUNCS = re.compile(
    r"(?i)\b(time|date|datetime|strftime|julianday|unixepoch)\s*\("
)
_GLOB_OP = re.compile(r"(?i)\bGLOB\b\s*")
# SQLite LIKE is case-INSENSITIVE for ASCII; Spark's is case-sensitive.
# ILIKE is Spark's case-insensitive LIKE — the delta narrows to non-ASCII
# case pairs (SQLite stays sensitive there; documented in the header).
_LIKE_OP = re.compile(r"(?i)\bLIKE\b")
_BARE_OPERAND = re.compile(r"[A-Za-z_][\w.]*")

_NEVER_MATCHES = "(?!)"  # SQLite: a malformed class matches nothing


def glob_to_regex(pat: str) -> str:
    """SQLite GLOB pattern → anchored Java regex, stateful scan.

    Faithful to glob(7)/SQLite: ``*``/``?`` wildcards, ``[...]`` classes
    with ``^`` negation and ranges, a ``]`` directly after ``[`` or ``[^``
    is a literal member, wildcards inside a class are literal members, and
    an unterminated class matches nothing.
    """
    out: list[str] = ["^"]
    i, n = 0, len(pat)
    while i < n:
        c = pat[i]
        if c == "*":
            out.append(".*")
        elif c == "?":
            out.append(".")
        elif c == "[":
            j = i + 1
            cls: list[str] = []
            if j < n and pat[j] == "^":
                cls.append("^")
                j += 1
            if j < n and pat[j] == "]":  # literal ] as first member
                cls.append("\\]")
                j += 1
            while j < n and pat[j] != "]":
                ch = pat[j]
                cls.append("\\" + ch if ch in "\\]^[&" else ch)
                j += 1
            if j >= n:  # unterminated class
                return _NEVER_MATCHES
            out.append("[" + "".join(cls) + "]")
            i = j
        else:
            out.append(re.escape(c))
        i += 1
    out.append("$")
    return "".join(out)


def like_to_regex(pat: str, esc: str | None = None) -> str:
    """SQLite LIKE pattern → anchored Java regex.

    ``(?i)`` WITHOUT ``(?u)`` is Java's ASCII-only case folding — exactly
    SQLite's LIKE rule (ASCII letters fold, non-ASCII stays sensitive);
    ``(?s)`` lets ``%``/``_`` match across newlines. Everything except the
    two wildcards is a literal — including backslash, which escape-less
    SQLite LIKE treats as an ordinary character (Spark LIKE would treat it
    as an escape; ADVICE round-5 delta, now bridged).

    ``esc`` bridges ``LIKE ... ESCAPE`` (round 7, pinned against
    sqlite3): the escape char makes its FOLLOWING char a literal —
    wildcard, the escape char itself, or any ordinary char alike — and a
    dangling escape at the end makes the pattern match nothing.
    """
    out: list[str] = ["(?is)^"]
    i, n = 0, len(pat)
    while i < n:
        c = pat[i]
        if esc is not None and c == esc:
            if i + 1 >= n:  # dangling escape: SQLite matches nothing
                return _NEVER_MATCHES
            out.append(re.escape(pat[i + 1]))
            i += 2
            continue
        if c == "%":
            out.append(".*")
        elif c == "_":
            out.append(".")
        else:
            out.append(re.escape(c))
        i += 1
    out.append("$")
    return "".join(out)


def _fmt_translation_expr() -> str:
    # Codes with no java.time equivalent are VALUE substitutions applied
    # before the code-to-code replaces: %w (weekday, Sunday=0), %W
    # (Monday-first week 00-53, the C strftime formula
    # (yday + 7 - monday_based_wday) / 7), %s (epoch seconds) and %J
    # (Julian day, C %.16g rendering). All run on the millis-rounded
    # timestamp, matching SQLite's internal resolution.
    subs = (
        (
            "%W",
            "lpad(cast((dayofyear(t) - 1 + 7"
            " - weekday(t)) div 7 as string), 2, '0')",
        ),
        ("%w", "cast(dayofweek(t) - 1 as string)"),
        ("%s", f"cast(cast(floor({_MS_T} / 1000.0) as bigint) as string)"),
        ("%J", _JULIAN_TEXT),
    )
    expr = "fmt"
    for code, value in subs:
        expr = f"replace({expr}, '{code}', {value})"
    for sqlite_code, java_code in _FMT_MAP:
        expr = f"replace({expr}, '{sqlite_code}', '{java_code}')"
    return expr


# sessions already carrying the current function set — re-running the ~25
# CREATE FUNCTION statements costs ~0.7 s of round-trips per call, which
# suite/bench paths pay per query (the module text is constant within a
# process, so session identity is the right cache key)
_REGISTERED_SESSIONS = None


def register_sqlite_functions(spark: SparkSession) -> None:
    """Register SQLite-compatible scalar SQL functions (idempotent; a
    session that already holds the current set is a no-op)."""
    global _REGISTERED_SESSIONS
    if _REGISTERED_SESSIONS is None:
        import weakref

        _REGISTERED_SESSIONS = weakref.WeakSet()
    if spark in _REGISTERED_SESSIONS:
        return
    for stmt in _SQL_FUNCTIONS:
        spark.sql(stmt.format(chain=_fmt_translation_expr()) if "{chain}" in stmt else stmt)
    _register_dynamic_modifier_udfs(spark)
    _REGISTERED_SESSIONS.add(spark)


def _dyn_modifier_kernel(fname, base, mods, fmt, tz):
    """Per-row evaluation of a datetime call whose MODIFIERS are column
    values (round 12 — the last dialect residual). Reuses the exact
    literal constant-fold engine (``_py_fold_call``), so the dynamic
    path can never drift from the matrix-tested literal semantics; the
    ``_py_value`` render returns Python values instead of SQL literals.
    NULL base or any NULL modifier -> NULL (SQLite's behavior for an
    unusable argument). Raises (loudly, with the fix) for the corners
    that stay un-bridged: a per-row 'now' base (SQLite pins 'now' per
    STATEMENT; a per-row Python clock would drift) and strftime codes
    the Python renderer defers to the SQL path."""
    if base is None:
        return None
    base = str(base)
    if base.strip().lower() == "now":
        raise ValueError(
            "dynamic datetime modifiers with a per-row 'now' base are "
            "not bridged ('now' is statement-stable in SQLite; a per-row "
            "clock would drift) — use a literal 'now' base with literal "
            "modifiers, or materialize the timestamp first"
        )
    ml = []
    for m in mods:
        if m is None:
            return None
        ml.append(str(m))
    out = _py_fold_call(
        fname,
        base,
        ml,
        None if fmt is None else str(fmt),
        tz or None,
        render=_py_value,
    )
    if out is None:
        raise ValueError(
            f"dynamic {fname}() modifiers hit an un-bridged corner "
            f"(mods={ml!r}): 'localtime'/'utc' need local_tz, and "
            "strftime formats with an un-bridged code or a lone "
            "trailing '%' are SQL-path-only — use literal modifiers there"
        )
    return out[1]


def _register_dynamic_modifier_udfs(spark: SparkSession) -> None:
    """Arrow-batched pandas UDFs serving column-valued datetime
    modifiers: one per SQL return type. These are the documented SLOW
    path (per-row Python via Arrow) for a corner the macro chain cannot
    express — literal modifiers never come here (they constant-fold or
    chain in codegen)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def make(ret_type, caster):
        def f(fname, base, mods, fmt, tz):
            vals = [
                _dyn_modifier_kernel(fn, b, m, fm, t)
                for fn, b, m, fm, t in zip(fname, base, mods, fmt, tz)
            ]
            return pd.Series(vals, dtype=ret_type)

        return pandas_udf(f, caster)

    spark.udf.register(
        "sqlite_dyn_str", make("object", "string")
    )
    spark.udf.register(
        "sqlite_dyn_double", make("float64", "double")
    )
    spark.udf.register(
        "sqlite_dyn_long", make("object", "bigint")
    )


# --- SQLite datetime-modifier folding (translate time) -------------------
# SQLite's modifier tokenizer, pinned against 3.40: a signed (or bare)
# number — fractional and e-notation ok — then >=1 space, then the unit
# word with optional 's', nothing after; 'start of X' with single spaces
# and no padding; 'weekday N' tolerating trailing (not leading) space;
# 'unixepoch'/'julianday' exact. Anything else is an unrecognized modifier
# and NULLs the whole call, exactly like SQLite.
_MOD_NUM = re.compile(
    r"(?i)^([+-]?(?:\d+\.?\d*|\.\d+)(?:[eE][+-]?\d+)?)"
    r"\s+(day|hour|minute|second|month|year)s?$"
)
_MOD_START = re.compile(r"(?i)^start of (day|month|year)$")
_MOD_WEEKDAY = re.compile(r"(?i)^weekday\s+(\d+)\s*$")
_MOD_TZ = re.compile(r"(?i)^(localtime|utc|auto)$")
_BARE_NUMBER = re.compile(r"^[+-]?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?$")

_UNIT_MS = {"day": 86400000.0, "hour": 3600000.0, "minute": 60000.0,
            "second": 1000.0}
# SQLite's per-unit magnitude limits on the modifier VALUE (date.c
# aXformType.rLimit — stored as C floats, so the effective bound is the
# float32 rounding of these constants; |r| must be strictly below it or
# the modifier is treated as unrecognized -> NULL)
_f32 = __import__("struct")
_UNIT_LIMIT = {
    u: _f32.unpack("f", _f32.pack("f", v))[0]
    for u, v in (("second", 4.6427e14), ("minute", 7.7379e12),
                 ("hour", 1.2897e11), ("day", 5373485.0),
                 ("month", 176546.0), ("year", 14713.0))
}
# engine-safety cap on a single emitted shift (~250k years in ms): keeps
# every intermediate inside the tsafe window so overflow is NULL, never an
# ANSI error. SQLite's second/minute/hour limits allow values up to ~14.7M
# years that only ever surface as NULL at any output — documented residual.
_MAX_SHIFT_MS = 8 * 10**15
_NULL_TYPE = {"julianday": "double", "unixepoch": "bigint"}
# top-of-chain render/extract per function (chains live in timestamp space)
_TS_RENDER = {
    "datetime": "sqlite_msfmt_dt",
    "date": "sqlite_msfmt_d",
    "time": "sqlite_msfmt_t",
    "julianday": "sqlite_msjd",
    "unixepoch": "sqlite_msue",
}


def _c_round(v: float) -> int:
    """C's ``(sqlite3_int64)(v + (v<0 ? -0.5 : +0.5))`` — round half away
    from zero, then truncate toward zero (date.c's ms conversion)."""
    return int(v + 0.5) if v >= 0 else int(v - 0.5)


# --- Python constant evaluator (literal time values) ---------------------
# When the base time value AND all modifiers are literals — the
# overwhelmingly common case in WHERE clauses — the whole call folds to a
# CONSTANT at translate time. This is not just an optimization: SQL-UDF
# inlining duplicates argument expressions per reference, so deep literal
# chains (datetime('x','+1 month','+1 month','+1 month')) would otherwise
# cost the analyzer dearly. The model below mirrors the ms-space macros
# exactly (same gates, same C rounding, same julian-domain checks); the
# SQL macros remain the execution path for COLUMN time values and are
# property-tested against sqlite3 through real column filters.

_MS_VALID_LO, _MS_VALID_HI = -210866760000000, 253402300799999
_MS_RENDER_LO = -62135596800000  # 0001-01-01 00:00:00
_PY_TZ = r"(?:[Zz]|(?P<tzs>[+-])(?P<tzh>0\d|1[0-4]):(?P<tzm>[0-5]\d))"
_PY_ISO = re.compile(
    r"^(\d{4})-(\d{2})-(\d{2})"
    r"([ T](\d{2}):(\d{2})(:(\d{2}(?:\.\d+)?))?\s*" + _PY_TZ + r"?)?"
    r"\s*$"
)
_PY_TIME = re.compile(
    r"^(\d{2}):(\d{2})(:(\d{2}(?:\.\d+)?))?\s*"
    + _PY_TZ + r"?\s*$"
)
# Python twin of the sqlite_hastz SQL macro (tzSet probe — see the
# _HASTZ_GATE comment): suffix-only test, invalid values parse NULL
# anyway so a loose positive is harmless.
_PY_HASTZ = re.compile(r"([Zz]|[+-](0\d|1[0-4]):[0-5]\d)\s*$")


def _py_hastz(base: str) -> bool:
    return bool(_PY_HASTZ.search(base))


_DAY_MS = 86400000


def _days_from_civil(y: int, m: int, d: int) -> int:
    """Proleptic-Gregorian days since 1970-01-01 (Hinnant's civil
    algorithm with Python floor division; valid for any year)."""
    y -= 1 if m <= 2 else 0
    era = y // 400
    yoe = y - era * 400
    mp = m - 3 if m > 2 else m + 9
    doy = (153 * mp + 2) // 5 + d - 1
    doe = yoe * 365 + yoe // 4 - yoe // 100 + doy
    return era * 146097 + doe - 719468


def _civil_from_days(z: int) -> tuple[int, int, int]:
    z += 719468
    era = z // 146097
    doe = z - era * 146097
    yoe = (doe - doe // 1460 + doe // 36524 - doe // 146096) // 365
    y = yoe + era * 400
    doy = doe - (365 * yoe + yoe // 4 - yoe // 100)
    mp = (5 * doy + 2) // 153
    d = doy - (153 * mp + 2) // 5 + 1
    m = mp + 3 if mp < 10 else mp - 9
    return y + (1 if m <= 2 else 0), m, d


def _py_tzoff_ms(m: "re.Match") -> int:
    """Signed offset ms of a matched _PY_TZ suffix (0 for Z/absent)."""
    if m.group("tzs") is None:
        return 0
    sign = -1 if m.group("tzs") == "-" else 1
    return sign * (int(m.group("tzh")) * 60 + int(m.group("tzm"))) * 60000


def _py_parse(txt: str) -> int | None:
    """sqlite_ts in Python: literal time value -> epoch ms (or None)."""
    m = _PY_ISO.match(txt)
    if m:
        y, mo, d = int(m.group(1)), int(m.group(2)), int(m.group(3))
        h = int(m.group(5)) if m.group(5) else 0
        mi = int(m.group(6)) if m.group(6) else 0
        s = float(m.group(8)) if m.group(8) else 0.0
        if not (y >= 1 and 1 <= mo <= 12 and 1 <= d <= 31
                and h <= 24 and mi <= 59 and s < 60.0):
            return None
        days = _days_from_civil(y, mo, 1) + (d - 1)  # Feb-31 rolls
        return (
            days * _DAY_MS
            + (h * 3600 + mi * 60) * 1000
            + _c_round(s * 1000.0)
            - _py_tzoff_ms(m)
        )
    m = _PY_TIME.match(txt)
    if m:
        h, mi = int(m.group(1)), int(m.group(2))
        s = float(m.group(4)) if m.group(4) else 0.0
        if not (h <= 24 and mi <= 59 and s < 60.0):
            return None
        return (
            _TIMEONLY_DAYS_PY * _DAY_MS
            + (h * 3600 + mi * 60) * 1000
            + _c_round(s * 1000.0)
            - _py_tzoff_ms(m)
        )
    t = txt.strip()
    if _BARE_NUMBER.match(t):
        jd = float(t)
        if 1721425.5 <= jd <= 5373484.5:
            return _c_round(jd * 86400000.0) - 210866760000000
    return None


def _py_tzmod(v: int, kind: str, tz: str) -> int | None:
    """'localtime'/'utc' in ms space via zoneinfo — the literal-fold twin
    of _b_localtime/_b_utc. 'localtime' is a total function of the
    instant (one offset lookup, exactly SQLite's single toLocaltime).
    'utc' runs SQLITE'S ITERATE (round 10; see _b_utc): guess, measure
    localtime(guess) against the original wall value, correct, up to
    four rounds — byte-identical to SQLite inside DST gap/overlap
    windows where a single ofLocal/PEP-495 lookup is not. Bridged
    window: years 1-9999 (the render gate), checked on every iterate
    guess so the fold NULLs exactly where the column chain's gate does;
    outside the time_t window SQLite's proxy-year clamp applies
    (bridged — see _b_lt_ms; the century-Feb-29 corner stays a
    documented residual)."""
    from datetime import datetime, timezone
    from zoneinfo import ZoneInfo

    if not (_MS_RENDER_LO <= v <= _MS_VALID_HI):
        return None
    zi = ZoneInfo(tz)

    def lt(t: int) -> int | None:  # localtime of INSTANT t, in ms
        if not (_MS_RENDER_LO <= t <= _MS_VALID_HI):
            return None
        days, ms_of_day = divmod(t, _DAY_MS)
        y, mo, d = _civil_from_days(days)
        h, rem = divmod(ms_of_day, 3600000)
        mi, rem = divmod(rem, 60000)
        sec, ms = divmod(rem, 1000)
        if not (0 <= t <= _TT_HI_MS):
            # SQLite's proxy-year clamp (see _b_lt_ms): the offset is
            # looked up at year 2000 + y % 4, month/day/time preserved
            # (any Feb 29 input is leap -> proxy 2000 is leap too)
            y = 2000 + y % 4
        naive = datetime(y, mo, d, h, mi, sec, ms * 1000)
        off = naive.replace(tzinfo=timezone.utc).astimezone(zi).utcoffset()
        return t + int(off.total_seconds() * 1000)

    if kind == "localtime":
        return lt(v)
    # 'utc': SQLite date.c iterate — do { guess -= err; err =
    # localtime(guess) - orig; } while (err && cnt++ < 3)
    iguess, ierr, cnt = v, 0, 0
    while True:
        iguess -= ierr
        wall = lt(iguess)
        if wall is None:
            return None
        ierr = wall - v
        if not ierr or cnt >= 3:
            return iguess
        cnt += 1


def _py_modify(
    v: int | None, mod: str, local_tz: str | None = None
) -> int | None:
    """One modifier in ms space; None = NULL (mirrors the SQL emitters)."""
    if v is None:
        return None
    m = _MOD_NUM.match(mod)
    if m:
        r, unit = float(m.group(1)), m.group(2).lower()
        if not (-_UNIT_LIMIT[unit] < r < _UNIT_LIMIT[unit]):
            return None
        if unit in _UNIT_MS:
            d = _c_round(r * _UNIT_MS[unit])
            return v + d if abs(d) <= _MAX_SHIFT_MS else None
        months = int(r) if unit == "month" else int(r) * 12
        frac = r - int(r)
        if months:
            if not (_MS_VALID_LO <= v <= _MS_VALID_HI):
                return None
            y, mo, d = _civil_from_days(v // _DAY_MS)
            tot = y * 12 + mo - 1 + months
            if not (tot >= 0 and 1 <= tot // 12 <= 9999):
                return None
            days = _days_from_civil(tot // 12, tot % 12 + 1, 1) + (d - 1)
            v = days * _DAY_MS + v % _DAY_MS
        if frac:
            per_day = 30.0 if unit == "month" else 365.0
            v += _c_round(frac * per_day * 86400000.0)
        return v
    m = _MOD_START.match(mod)
    if m:
        if not (_MS_VALID_LO <= v <= _MS_VALID_HI):
            return None
        unit = m.group(1).lower()
        if unit == "day":
            return (v // _DAY_MS) * _DAY_MS
        y, mo, _d = _civil_from_days(v // _DAY_MS)
        if unit == "month":
            return _days_from_civil(y, mo, 1) * _DAY_MS
        return _days_from_civil(y, 1, 1) * _DAY_MS
    m = _MOD_WEEKDAY.match(mod)
    if m:
        n = int(m.group(1))
        if n > 6 or not (_MS_VALID_LO <= v <= _MS_VALID_HI):
            return None
        wd = (v // _DAY_MS + 4) % 7  # 1970-01-01 was Thursday (=4)
        return v + _DAY_MS * ((n - wd) % 7)
    m = _MOD_TZ.match(mod)
    if m and m.group(1).lower() != "auto" and local_tz is not None:
        return _py_tzmod(v, m.group(1).lower(), local_tz)
    # unrecognized (incl. 'unixepoch'/'julianday' past position 0, which
    # the caller consumes when legal): SQLite NULLs the whole call
    return None


_STRFTIME_CODES = set("YmdHMSfjwWsJ%")


def _py_strftime(fmt: str, v: int) -> str | None:
    """Exact sqlite strftime over the bridged code set; returns None when
    the format needs the SQL path (an un-bridged code or a lone trailing
    '%'). Characters outside a %-code are copied verbatim, as SQLite does;
    the segmented emitter renders them the same way on the column path."""
    if not (_MS_RENDER_LO <= v <= _MS_VALID_HI):
        return None
    days, ms_of_day = v // _DAY_MS, v % _DAY_MS
    y, mo, d = _civil_from_days(days)
    h, rem = ms_of_day // 3600000, ms_of_day % 3600000
    mi, rem = rem // 60000, rem % 60000
    sec, ms = rem // 1000, rem % 1000
    doy = days - _days_from_civil(y, 1, 1) + 1
    wd = (days + 4) % 7
    out = []
    i, n = 0, len(fmt)
    while i < n:
        c = fmt[i]
        if c != "%":
            out.append(c)
            i += 1
            continue
        if i + 1 >= n:
            return None
        code = fmt[i + 1]
        i += 2
        if code == "Y":
            out.append(f"{y:04d}")
        elif code == "m":
            out.append(f"{mo:02d}")
        elif code == "d":
            out.append(f"{d:02d}")
        elif code == "H":
            out.append(f"{h:02d}")
        elif code == "M":
            out.append(f"{mi:02d}")
        elif code == "S":
            out.append(f"{sec:02d}")
        elif code == "f":
            out.append(f"{sec:02d}.{ms:03d}")
        elif code == "j":
            out.append(f"{doy:03d}")
        elif code == "w":
            out.append(str(wd))
        elif code == "W":
            out.append(f"{(doy - 1 + 7 - (wd + 6) % 7) // 7:02d}")
        elif code == "s":
            out.append(str(v // 1000))  # floor
        elif code == "J":
            out.append(f"{(v + 210866760000000) / 86400000.0:.16g}")
        elif code == "%":
            out.append("%")
        else:
            return None  # un-bridged code: SQL path decides
    return "".join(out)


def _sql_string_literal(s: str) -> str:
    return "'" + s.replace("\\", "\\\\").replace("'", "''") + "'"


# --- segmented strftime emission (column time values) ---------------------
# In a SELECT list Spark inlines SQL UDFs through stacked Projects that
# let-bind each parameter once, so the generic sqlite_msstrftime macro is
# fine there. In a WHERE clause the analyzer must keep the predicate a
# single expression: every parameter reference duplicates its whole
# argument tree, and the generic macro's %-substitution chain references
# the parsed timestamp ~8 times — the inlined filter predicate blew
# Janino's 64 KB method limit and forced interpreted execution (round-6
# verdict). For LITERAL formats (the only kind the reference's query
# surface produces) we instead segment the format in Python and emit one
# small expression per piece, each referencing the parsed value once or
# twice — the worst filter tree shrinks ~20× and whole-stage codegen
# compiles (pinned by test_dialect_codegen.py).

# SQLite code -> java.time pattern (same mapping as _FMT_MAP, per code)
_JAVA_CODE = {
    "Y": "yyyy", "m": "MM", "d": "dd", "H": "HH",
    "M": "mm", "S": "ss", "f": "ss.SSS", "j": "DDD",
}
# literal characters safe to merge into a java pattern unquoted (alpha
# chars are pattern letters; # { } [ ] ' are reserved/special)
_JAVA_SAFE_LIT = set(" -:./,;+0123456789")
# refs of the parsed timestamp each piece kind costs in the emitted tree
_PIECE_REFS = {"java": 1, "lit": 0, "w": 1, "W": 2, "s": 1, "J": 2}


def _strftime_pieces(fmt: str) -> list[tuple[str, str | None]] | None:
    """Segment a literal strftime format into render pieces.

    Returns a list of ``(kind, payload)`` with kind in
    ``{'java','lit','w','W','s','J'}`` — or None when the format needs the
    generic SQL macro (un-bridged code, lone trailing '%', which keeps
    those cases byte-identical to the pre-segmentation behavior).
    """
    pieces: list[tuple[str, str | None]] = []

    def _append(kind: str, payload: str) -> None:
        if pieces and pieces[-1][0] == kind:
            pieces[-1] = (kind, pieces[-1][1] + payload)
        else:
            pieces.append((kind, payload))

    i, n = 0, len(fmt)
    while i < n:
        c = fmt[i]
        if c != "%":
            # literal char: safe punctuation/digits merge into a java run
            # (non-alpha chars are literals to date_format); anything else
            # becomes a constant piece — which also renders alphabetic
            # literals EXACTLY (the generic path's java-pattern-letter
            # delta does not apply here)
            if c in _JAVA_SAFE_LIT:
                _append("java", c)
            else:
                _append("lit", c)
            i += 1
            continue
        if i + 1 >= n:
            return None  # lone trailing '%': generic path decides
        code = fmt[i + 1]
        i += 2
        if code in _JAVA_CODE:
            _append("java", _JAVA_CODE[code])
        elif code == "%":
            _append("lit", "%")
        elif code in "wWsJ":
            pieces.append((code, None))
        else:
            return None  # un-bridged code: generic path decides
    return pieces


def _emit_segmented_strftime(pieces, ms_expr: str) -> str:
    """Emit the segmented strftime render over an epoch-ms SQL expression.

    The parsed value is lifted to TIMESTAMP_NTZ with a single reference per
    use site (try_multiply NULLs the >±292k-year magnitudes a 500-modifier
    chain could in principle accumulate, instead of overflowing), and the
    SQLite render-domain gate (years 1-9999 — same window as
    sqlite_msstrftime's year() CASE over _MSVALID_TS) is checked once at
    the top instead of once per piece.

    Inlined WHERE-clause predicates duplicate ``ms_expr`` once per
    reference (Spark's analyzer let-binds SQL-UDF parameters only inside
    Project nodes), so render shapes needing more than a few references
    would still overrun Janino's 64 KB method limit. Those take the
    lambda form ``transform(array(ms), v -> render)[0]`` instead: the
    lambda variable IS a let-binding, the tree stays tiny, and only the
    higher-order subtree evaluates interpreted — the rest of the stage
    keeps whole-stage codegen (measured: a 4-copy inline predicate
    compiles; 7 copies abort the stage to fully-interpreted execution).
    """
    refs = 1 + sum(_PIECE_REFS[k] for k, _ in pieces)
    if refs <= 5:
        t = (
            f"timestampadd(MICROSECOND, try_multiply(({ms_expr}), 1000L), "
            f"{_EPOCH})"
        )
        return _segmented_render_body(pieces, t)
    t = f"timestampadd(MICROSECOND, try_multiply(sqlite_v, 1000L), {_EPOCH})"
    body = _segmented_render_body(pieces, t)
    return f"transform(array(({ms_expr})), sqlite_v -> {body})[0]"


def _segmented_render_body(pieces, t: str) -> str:
    rendered: list[str] = []
    for kind, payload in pieces:
        if kind == "java":
            rendered.append(f"date_format({t}, '{payload}')")
        elif kind == "lit":
            rendered.append(_sql_string_literal(payload))
        elif kind == "w":
            rendered.append(f"cast(dayofweek({t}) - 1 as string)")
        elif kind == "W":
            rendered.append(
                f"lpad(cast((dayofyear({t}) - 1 + 7 - weekday({t})) div 7"
                " as string), 2, '0')"
            )
        elif kind == "s":
            rendered.append(
                f"cast(cast(floor({_ms_of(t)} / 1000.0) as bigint)"
                " as string)"
            )
        else:  # 'J'
            rendered.append(_julian_text_of(t))
    body = rendered[0] if len(rendered) == 1 else (
        "concat(" + ", ".join(rendered) + ")" if rendered else "''"
    )
    return f"CASE WHEN year({t}) BETWEEN 1 AND 9999 THEN {body} END"


def _py_render(fname: str, v: int | None, fmt: str | None):
    """Render the folded ms value as a SQL literal; None = unfoldable."""
    null = f"cast(null as {_NULL_TYPE.get(fname, 'string')})"
    if v is None:
        return null
    if fname == "julianday":
        if not (_MS_VALID_LO <= v <= _MS_VALID_HI):
            return null
        return repr((v + 210866760000000) / 86400000.0) + "d"
    if fname == "unixepoch":
        if not (_MS_VALID_LO <= v <= _MS_VALID_HI):
            return null
        return f"{v // 1000}L"
    if fname == "strftime":
        rendered = _py_strftime(fmt, v)
        return None if rendered is None else _sql_string_literal(rendered)
    if not (_MS_RENDER_LO <= v <= _MS_VALID_HI):
        return null
    y, mo, d = _civil_from_days(v // _DAY_MS)
    ms_of_day = v % _DAY_MS
    h, rem = ms_of_day // 3600000, ms_of_day % 3600000
    mi, sec = rem // 60000, rem % 60000 // 1000
    date_s, time_s = f"{y:04d}-{mo:02d}-{d:02d}", f"{h:02d}:{mi:02d}:{sec:02d}"
    if fname == "time":
        return _sql_string_literal(time_s)
    if fname == "date":
        return _sql_string_literal(date_s)
    return _sql_string_literal(f"{date_s} {time_s}")


def _py_value(fname, v: "int | None", fmt: "str | None"):
    """Value twin of ``_py_render`` (round 12, dynamic modifiers): the
    same domain checks and rendering, but returning the PYTHON value a
    per-row kernel hands back through Arrow — ``("ok", value)`` with
    value None for SQL NULL, or None when the call needs the SQL path
    (un-bridged strftime code), exactly where ``_py_render`` returns
    None. Keeping both twins one screen apart is the drift guard."""
    if v is None:
        return ("ok", None)
    if fname == "julianday":
        if not (_MS_VALID_LO <= v <= _MS_VALID_HI):
            return ("ok", None)
        return ("ok", (v + 210866760000000) / 86400000.0)
    if fname == "unixepoch":
        if not (_MS_VALID_LO <= v <= _MS_VALID_HI):
            return ("ok", None)
        return ("ok", v // 1000)
    if fname == "strftime":
        rendered = _py_strftime(fmt, v)
        return None if rendered is None else ("ok", rendered)
    if not (_MS_RENDER_LO <= v <= _MS_VALID_HI):
        return ("ok", None)
    y, mo, d = _civil_from_days(v // _DAY_MS)
    ms_of_day = v % _DAY_MS
    h, rem = ms_of_day // 3600000, ms_of_day % 3600000
    mi, sec = rem // 60000, rem % 60000 // 1000
    date_s, time_s = f"{y:04d}-{mo:02d}-{d:02d}", f"{h:02d}:{mi:02d}:{sec:02d}"
    if fname == "time":
        return ("ok", time_s)
    if fname == "date":
        return ("ok", date_s)
    return ("ok", f"{date_s} {time_s}")


def _py_fold_call(fname, base_lit, mod_lits, fmt_lit, local_tz=None, render=None):
    if render is None:
        render = _py_render
    """Constant-fold a fully-literal call; None = not foldable here."""
    mods = list(mod_lits)
    if mods and mods[0].lower() == "unixepoch":
        t = base_lit.strip()
        if not _BARE_NUMBER.match(t):
            return render(fname, None, fmt_lit)
        sec = float(t)
        v = _c_round(sec * 1000.0) if abs(sec) <= 3e11 else None
        mods = mods[1:]
    elif mods and mods[0].lower() == "auto":
        # numeric in [0, 5373484.5) -> julian default; numeric outside ->
        # unix epoch seconds; text -> ordinary parse (sqlite's 'auto')
        t = base_lit.strip()
        if _BARE_NUMBER.match(t):
            sec = float(t)
            if 0.0 <= sec < 5373484.5:
                v = _py_parse(base_lit)
            else:
                v = _c_round(sec * 1000.0) if abs(sec) <= 3e11 else None
        else:
            v = _py_parse(base_lit)
        mods = mods[1:]
    else:
        v = _py_parse(base_lit)
        if mods and mods[0].lower() == "julianday":
            if not (_BARE_NUMBER.match(base_lit.strip())):
                return render(fname, None, fmt_lit)
            mods = mods[1:]
    # SQLite's tzSet flag (round 10): set by an explicit Z/±HH:MM suffix
    # in the time VALUE, and by the first applied 'utc' modifier; while
    # set, 'utc' modifiers are NO-OPS (date.c runs the utc branch only
    # when tzSet==0). 'localtime' neither checks nor sets it (pinned
    # against sqlite 3.40.1: 'localtime','localtime' double-shifts,
    # 'utc','utc' does not).
    tzset = _py_hastz(base_lit)
    for mod in mods:
        m_tz = _MOD_TZ.match(mod)
        if m_tz and m_tz.group(1).lower() != "auto" and local_tz is None:
            return None  # let the chain path raise the loud error
        if m_tz and m_tz.group(1).lower() == "utc":
            if tzset:
                continue  # tzSet already 1 -> no-op
            tzset = True
        v = _py_modify(v, mod, local_tz)
        if v is None:
            return render(fname, None, fmt_lit)
    return render(fname, v, fmt_lit)


def _match_paren(s: str, open_ix: int) -> int | None:
    """Index of the ')' closing the '(' at ``open_ix``, skipping quoted
    spans; None if unbalanced."""
    depth, i, n = 0, open_ix, len(s)
    while i < n:
        c = s[i]
        if c in "'\"":
            i = _scan_quoted(s, i, c) + 1
            continue
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
            if depth == 0:
                return i
        i += 1
    return None


def _split_top_level(inner: str) -> list[str]:
    """Split a call's argument text on top-level commas (quote- and
    paren-aware). Empty/whitespace text -> []."""
    if not inner.strip():
        return []
    args, start, depth, i, n = [], 0, 0, 0, len(inner)
    while i < n:
        c = inner[i]
        if c in "'\"":
            i = _scan_quoted(inner, i, c) + 1
            continue
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif c == "," and depth == 0:
            args.append(inner[start:i])
            start = i + 1
        i += 1
    args.append(inner[start:])
    return args


def _decode_literal(raw: str) -> str | None:
    """Decoded body when ``raw`` is exactly one single-quoted string
    literal (modulo surrounding whitespace); else None."""
    s = raw.strip()
    if not s.startswith("'"):
        return None
    end = _scan_quoted(s, 0, "'")
    if end != len(s) - 1 or s[end] != "'":
        return None
    return s[1:end].replace("''", "'")


def _modifier_op(
    mod: str, first: bool, base_is_number: bool, local_tz: str | None = None
):
    """One literal modifier → abstract op tuple, or None when SQLite
    NULLs the whole call. Ops: ``('add', ms)``, ``('months', n, frac_ms)``,
    ``('sod',)``/``('som',)``/``('soy',)``, ``('weekday', n)``,
    ``('noop',)``. ('unixepoch' is consumed by the caller before the
    chain starts — it changes how the BASE parses.) The abstraction
    exists so the same validation drives BOTH emitters below."""
    m = _MOD_NUM.match(mod)
    if m:
        r, unit = float(m.group(1)), m.group(2).lower()
        if not (-_UNIT_LIMIT[unit] < r < _UNIT_LIMIT[unit]):
            return None  # SQLite's rLimit check: out-of-bound value -> NULL
        if unit in _UNIT_MS:
            d = _c_round(r * _UNIT_MS[unit])
            return ("add", d) if abs(d) <= _MAX_SHIFT_MS else None
        months = int(r) if unit == "month" else int(r) * 12
        frac = r - int(r)
        per_day = 30.0 if unit == "month" else 365.0
        frac_d = _c_round(frac * per_day * 86400000.0) if frac else 0
        return ("months", months, frac_d)
    m = _MOD_START.match(mod)
    if m:
        return ("so" + m.group(1)[0].lower(),)
    m = _MOD_WEEKDAY.match(mod)
    if m:
        n = int(m.group(1))
        return ("weekday", n) if n <= 6 else None
    low = mod.lower()
    if low == "unixepoch":
        # valid only as the FIRST modifier (handled by the caller there)
        return None
    if low == "julianday":
        # asserts the default interpretation of a bare-number value; a
        # no-op there, NULL anywhere else
        return ("noop",) if first and base_is_number else None
    m = _MOD_TZ.match(mod)
    if m:
        kind = m.group(1).lower()
        if kind == "auto":
            # first-position 'auto' is consumed by the chain base before
            # modifiers are parsed; past position 0 SQLite NULLs it
            return None
        if local_tz is not None:
            return (kind,)
        raise ValueError(
            f"SQLite datetime modifier {mod!r} is not bridged: it depends "
            "on the reference host's local timezone, which a Spark session "
            "does not share. Pass local_tz='<IANA zone>' to "
            "translate_where()/select() to bridge 'localtime'/'utc' with "
            "an explicit capture timezone."
        )
    return None


def _ms_add(expr: str, d: int) -> str:
    return f"({expr} + {d}L)" if d >= 0 else f"({expr} - {-d}L)"


def _apply_op_inline(expr: str, op, local_tz: str | None = None) -> str:
    """Inline emission: macro CALLS. Spark's analyzer let-binds each
    call's parameter inside Project nodes, so SELECT-list chains stay
    small and fully codegen'd."""
    kind = op[0]
    if kind == "add":
        return _ms_add(expr, op[1])
    if kind == "months":
        _, months, frac_d = op
        if months:
            expr = f"sqlite_msmod_months({expr}, {months})"
        if frac_d:
            expr = _ms_add(expr, frac_d)
        return expr
    if kind in ("sod", "som", "soy"):
        return f"sqlite_msmod_{kind}({expr})"
    if kind == "weekday":
        return f"sqlite_msmod_weekday({expr}, {op[1]})"
    if kind == "localtime":
        return _b_localtime(expr, local_tz)
    if kind == "utc":
        return _b_utc(expr, local_tz)
    if kind == "utc_cond":  # per-row tzSet: suffixed base -> no-op
        return (
            f"(CASE WHEN sqlite_hastz({op[1]}) THEN {expr} "
            f"ELSE {_b_utc(expr, local_tz)} END)"
        )
    return expr  # noop


# copies of the upstream tree one inlined level costs in a WHERE clause
# (the macro body's reference count of v); used to decide when a
# predicate chain must switch to the lambda form
_OP_WEIGHT = {"add": 1, "sod": 5, "som": 5, "soy": 5, "weekday": 7,
              "localtime": 1, "utc": 1, "utc_cond": 2,
              "noop": 1}  # localtime/utc self-bind; cond = THEN + ELSE
_RENDER_WEIGHT = {"datetime": 2, "date": 2, "time": 2,
                  "julianday": 3, "unixepoch": 3}
# inlined predicate trees above this many parse-tree copies risk Janino's
# 64 KB method limit (measured: 4 copies compile, 7 abort the stage)
_INLINE_COPY_LIMIT = 5


class _LambdaChain:
    """Lambda emission for WHERE-clause chains: each calendar-level op
    let-binds its input once via ``transform(array(x), v -> body)[0]`` —
    a filter predicate cannot host Project let-bindings, so macro CALLS
    would inline multiplicatively (months ×14 × start-of ×5 × render ×2 =
    140 parse copies — far past the 64 KB method limit). The bound
    variable makes every body reference a cheap lambda-var read; only the
    higher-order subtrees evaluate interpreted, the rest of the stage
    keeps whole-stage codegen."""

    def __init__(self, local_tz: str | None = None) -> None:
        self._n = 0
        self.local_tz = local_tz

    def bind(self, expr: str, body_fn) -> str:
        self._n += 1
        var = f"sqlite_v{self._n}"
        return f"transform(array({expr}), {var} -> {body_fn(var)})[0]"

    def apply_op(self, expr: str, op) -> str:
        kind = op[0]
        if kind == "add":
            return _ms_add(expr, op[1])
        if kind == "months":
            _, months, frac_d = op
            if months:
                expr = self.bind(expr, lambda v: _b_months(v, months))
            if frac_d:
                expr = _ms_add(expr, frac_d)
            return expr
        if kind == "sod":
            return self.bind(expr, _b_sod)
        if kind == "som":
            return self.bind(expr, _b_som)
        if kind == "soy":
            return self.bind(expr, _b_soy)
        if kind == "weekday":
            return self.bind(expr, lambda v: _b_weekday(v, op[1]))
        if kind == "localtime":
            return self.bind(expr, lambda v: _b_localtime(v, self.local_tz))
        if kind == "utc":
            return _b_utc(expr, self.local_tz)  # self-binding iterate
        if kind == "utc_cond":
            return self.bind(
                expr,
                lambda v: (
                    f"(CASE WHEN sqlite_hastz({op[1]}) THEN {v} "
                    f"ELSE {_b_utc(v, self.local_tz)} END)"
                ),
            )
        return expr  # noop


def _rewrite_datetime_call(fname, args, projection=False, local_tz=None):
    """Fold a datetime-function call with modifier arguments (or a 'now' /
    zero-argument / bare-number time value) into macro-chain SQL. Returns
    None for plain one-time-value calls — the caller keeps its minimal
    fast path for those. ``projection=True`` promises the expression
    lands in a SELECT list (Spark let-binds SQL-UDF parameters there), so
    heavy chains keep the fully-codegen inline form; the default assumes
    a WHERE clause, where heavy chains must take the lambda form (see
    _LambdaChain)."""
    base_ix = 1 if fname == "strftime" else 0
    base_raw = args[base_ix] if len(args) > base_ix else None
    mods = args[base_ix + 1 :]
    base_lit = _decode_literal(base_raw) if base_raw is not None else None
    base_is_number = base_raw is not None and bool(
        _BARE_NUMBER.match(base_raw.strip())
        or (base_lit is not None and _BARE_NUMBER.match(base_lit.strip()))
    )
    is_now = base_raw is None or (
        base_lit is not None and base_lit.lower() == "now"
    )
    # literal strftime formats take the segmented emitter even for plain
    # column calls — the generic macro's inlined filter tree blows the JVM
    # 64 KB codegen limit (see _emit_segmented_strftime)
    fmt_pieces = None
    if fname == "strftime" and args:
        fmt_lit0 = _decode_literal(args[0])
        if fmt_lit0 is not None:
            fmt_pieces = _strftime_pieces(fmt_lit0)
    if not (mods or is_now or base_is_number or fmt_pieces is not None):
        return None
    if fname == "strftime" and not args:
        return None  # malformed; let Spark report the arity error

    def null_result():
        return f"cast(null as {_NULL_TYPE.get(fname, 'string')})"

    if len(mods) > 500:
        raise ValueError(
            "more than 500 datetime modifiers in one call — refusing "
            "(bounded to keep ms arithmetic overflow-free)"
        )
    # decode modifier literals up front; COLUMN-VALUED modifiers take
    # the Arrow kernel (round 12 — previously a pinned loud error)
    if any(_decode_literal(raw) is None for raw in mods):
        if is_now:
            raise ValueError(
                "dynamic (column-valued) datetime modifiers with a "
                "'now' base are not bridged: 'now' is statement-stable "
                "in SQLite and the per-row kernel has no statement "
                "clock — materialize the timestamp first"
            )
        base_sql = (
            "cast(("
            + translate_where(base_raw, projection, local_tz)
            + ") as string)"
        )
        mod_sqls = ", ".join(
            "cast(("
            + translate_where(raw, projection, local_tz)
            + ") as string)"
            for raw in mods
        )
        fmt_sql = (
            "cast(("
            + translate_where(args[0], projection, local_tz)
            + ") as string)"
            if fname == "strftime"
            else "cast(null as string)"
        )
        tz_sql = (
            _sql_string_literal(local_tz)
            if local_tz
            else "cast(null as string)"
        )
        fn = {
            "julianday": "sqlite_dyn_double",
            "unixepoch": "sqlite_dyn_long",
        }.get(fname, "sqlite_dyn_str")
        return (
            f"{fn}('{fname}', {base_sql}, array({mod_sqls}), "
            f"{fmt_sql}, {tz_sql})"
        )
    mod_lits = [_decode_literal(raw) for raw in mods]

    # the chain bottom: parse the base time value ONCE into timestamp
    # space ('unixepoch' as the first modifier switches how it parses —
    # epoch seconds instead of ISO/julian; 'now' parses as nothing)
    # fully-literal calls fold to a constant right here (see the Python
    # evaluator above); anything it can't fold falls through to the
    # SQL-macro chain
    if not is_now and (base_lit is not None or base_is_number):
        base_txt = base_lit if base_lit is not None else base_raw.strip()
        fmt_lit = _decode_literal(args[0]) if fname == "strftime" else None
        if fname != "strftime" or fmt_lit is not None:
            folded = _py_fold_call(
                fname, base_txt, mod_lits, fmt_lit, local_tz
            )
            if folded is not None:
                return folded

    raw_base = True  # 'julianday' is a no-op only right after a raw number
    base_str = (
        None
        if base_raw is None
        else (
            "cast(("
            f"{translate_where(base_raw, projection, local_tz)}) as string)"
        )
    )
    if mod_lits and mod_lits[0].lower() == "auto":
        mod_lits = mod_lits[1:]
        raw_base = False  # 'julianday' after 'auto' is NULL (pinned)
        if is_now:  # 'now' is text: 'auto' is a no-op
            expr = "sqlite_ms_now()"
        else:
            expr = f"sqlite_ms_auto({base_str})"
    elif mod_lits and mod_lits[0].lower() == "unixepoch":
        mod_lits = mod_lits[1:]
        raw_base = False
        if is_now:  # 'now' is not a bare number: SQLite NULLs this
            return null_result()
        expr = f"sqlite_ms_unixepoch({base_str})"
    elif is_now:
        expr = "sqlite_ms_now()"
    else:
        # cast: bare numerics (julian day numbers) arrive as Spark
        # numeric literals; the parser takes the interchange string
        expr = f"sqlite_msparse({base_str})"

    ops = []
    for k, lit in enumerate(mod_lits):
        op = _modifier_op(
            lit, k == 0 and raw_base, base_is_number, local_tz
        )
        if op is None:  # unrecognized/invalid modifier -> SQLite NULLs
            return null_result()
        ops.append(op)

    # SQLite tzSet modeling (round 10): the first applied 'utc' sets
    # tzSet, so every LATER 'utc' op is statically a no-op — drop it.
    # Whether the FIRST 'utc' applies depends on the base value carrying
    # an explicit Z/±HH:MM suffix: decidable at translate time for
    # literal/numeric/'now' bases, per-ROW for column bases — those emit
    # the conditional ("utc_cond") form, which probes sqlite_hastz on
    # the raw base string. 'localtime' neither checks nor sets tzSet
    # (pinned against sqlite 3.40.1).
    if any(op[0] == "utc" for op in ops):
        if is_now or base_is_number:
            base_hastz = False
        elif base_lit is not None:
            base_hastz = _py_hastz(base_lit)
        else:
            base_hastz = None  # column base: per-row
        rewritten, seen_utc = [], False
        for op in ops:
            if op[0] != "utc":
                rewritten.append(op)
                continue
            if seen_utc or base_hastz is True:
                seen_utc = True
                continue
            seen_utc = True
            rewritten.append(
                op if base_hastz is False else ("utc_cond", base_str)
            )
        ops = rewritten

    # predicate chains past the copy limit take the lambda form; the
    # generic-macro strftime tail (computed format) cannot — it must call
    # a SQL function, which cannot take a lambda variable
    weight = 1
    for op in ops:
        if op[0] == "months":
            weight *= 14 if op[1] else 1
        else:
            weight *= _OP_WEIGHT[op[0]]
    if fname == "strftime":
        render_w = (
            (1 + sum(_PIECE_REFS[k] for k, _ in fmt_pieces))
            if fmt_pieces is not None
            else 1
        )
    else:
        render_w = _RENDER_WEIGHT[fname]
    use_lambda = (
        not projection
        and weight * render_w > _INLINE_COPY_LIMIT
        and not (fname == "strftime" and fmt_pieces is None)
    )

    if use_lambda:
        chain = _LambdaChain(local_tz)
        for op in ops:
            expr = chain.apply_op(expr, op)
        if fname == "strftime":
            return chain.bind(
                expr,
                lambda v: _segmented_render_body(fmt_pieces, _try_ts_of(v)),
            )
        if fname in ("datetime", "date", "time"):
            pat = {
                "datetime": "yyyy-MM-dd HH:mm:ss",
                "date": "yyyy-MM-dd",
                "time": "HH:mm:ss",
            }[fname]
            return chain.bind(expr, lambda v: _b_fmt(v, pat))
        body = _b_msue if fname == "unixepoch" else _b_msjd
        return chain.bind(expr, body)

    for op in ops:
        expr = _apply_op_inline(expr, op, local_tz)
    if fname == "strftime":
        if fmt_pieces is not None:
            return _emit_segmented_strftime(fmt_pieces, expr)
        return (
            f"sqlite_msstrftime("
            f"{translate_where(args[0], projection, local_tz)}, {expr})"
        )
    return f"{_TS_RENDER[fname]}({expr})"


def sqlite_real_text_py(v: float) -> str | None:
    """SQLite's %!.15g REAL-to-TEXT rendering in Python (the twin of the
    sqlite_real_text SQL macro; parity fuzzed against stdlib sqlite3 in
    tests/test_dialect.py). Used to fold float LITERALS in ``||`` chains
    at translate time."""
    if v != v:  # NaN: SQLite stores/renders it as NULL
        return None
    if v == 0:
        return "0.0"
    if math.isinf(v):
        return "Inf" if v > 0 else "-Inf"
    s = f"{v:.15g}"
    if "e" in s:
        m, e = s.split("e")
        if "." in m:
            m = m.rstrip("0")
            if m.endswith("."):
                m += "0"
        else:
            m += ".0"
        return m + "e" + e
    if "." in s:
        s = s.rstrip("0")
        if s.endswith("."):
            s += "0"
        return s
    return s + ".0"


_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
_NUMBER = re.compile(r"(?:\d+\.?\d*|\.\d+)(?:[eE][+-]?\d+)?")


def _real_columns_ci() -> dict[str, str]:
    """lower(name) -> name for the index's REAL (double) columns — the
    operands whose ``||`` text rendering needs the SQLite bridge."""
    from betfair_database_spark.const import INDEX_SCHEMA

    return {
        f.name.lower(): f.name
        for f in INDEX_SCHEMA.fields
        if f.dataType.simpleString() == "double"
    }


def _prev_is_concat(out: list) -> bool:
    # Whitespace is appended one char per element, so skip blank TRAILING
    # elements first — a fixed out[-4:] window would miss `||` behind 3+
    # spaces or a newline+indent and silently skip the sqlite_real_text
    # bridge. `||` itself spans two single-char "|" elements, so after the
    # skip accumulate contiguous elements until two substantive chars are
    # in hand (keeping interior whitespace, so `| |` is NOT concat).
    i = len(out) - 1
    while i >= 0 and not out[i].strip():
        i -= 1
    tail = ""
    while i >= 0 and len(tail) < 2:
        tail = out[i] + tail
        i -= 1
    return tail.endswith("||")


def _next_is_concat(where: str, j: int) -> bool:
    while j < len(where) and where[j].isspace():
        j += 1
    return where.startswith("||", j)


def translate_where(
    where: str, projection: bool = False, local_tz: str | None = None
) -> str:
    """Rewrite a SQLite WHERE clause into Spark SQL.

    Rewrites, all outside string literals: ``true``/``false`` → ``1``/``0``,
    SQLite datetime function calls → their registered ``sqlite_`` twins,
    ``GLOB <operand>`` → ``RLIKE sqlite_glob_regex(<operand>)``,
    ``LIKE <operand>`` → ``RLIKE`` on the ASCII-fold regex (see
    ``like_to_regex``; ``ESCAPE`` forms fall back to ``ILIKE``), and
    double-quoted spans resolved the way SQLite would (known column →
    backtick identifier, otherwise a string literal). String literals have
    their backslashes doubled (SQLite literals have no escapes; Spark's
    parser would process them). Everything else passes through verbatim.

    ``projection=True`` declares that the translated text will sit in a
    SELECT list rather than a predicate: Spark's analyzer let-binds
    SQL-UDF parameters there, so heavy datetime-modifier chains keep the
    fully-codegen inline form instead of the predicate-safe lambda form
    (see _rewrite_datetime_call).
    """
    from betfair_database_spark.const import SQL_TABLE_COLUMNS

    # SQLite resolves quoted identifiers case-insensitively
    columns_ci = {c.lower(): c for c in SQL_TABLE_COLUMNS}
    _real_cols = _real_columns_ci()

    def resolve_double_quoted(span_body: str) -> str:
        """SQLite resolves "x" as an identifier when a column named x exists
        (case-insensitively), else as a string literal; Spark always parses
        "x" as a string, so resolve against the index column contract."""
        actual = columns_ci.get(span_body.lower())
        if actual is not None:
            return f"`{actual}`"
        return "'" + span_body.replace("'", "''") + "'"

    out: list[str] = []
    i, n = 0, len(where)
    while i < n:
        ch = where[i]
        if ch == "'":  # string literal, '' is the escaped quote
            j = _scan_quoted(where, i, "'")
            # SQLite string literals have NO backslash escapes; Spark's
            # parser processes \t, \n, \\ etc. Double every backslash so
            # Spark reads the same bytes SQLite would.
            out.append(where[i : j + 1].replace("\\", "\\\\"))
            i = j + 1
            continue
        if ch == '"':
            j = _scan_quoted(where, i, '"')
            resolved = resolve_double_quoted(where[i + 1 : j].replace('""', '"'))
            if resolved.startswith("'"):  # literal — same backslash bridge
                resolved = resolved.replace("\\", "\\\\")
            elif resolved[1:-1] in _real_cols.values() and (
                _prev_is_concat(out) or _next_is_concat(where, j + 1)
            ):  # "quoted" REAL identifier in a || chain — same bridge
                resolved = f"sqlite_real_text({resolved})"
            out.append(resolved)
            i = j + 1
            continue
        boundary_ok = i == 0 or not (where[i - 1].isalnum() or where[i - 1] in "_.")
        m = re.match(r"(?i)\b(true|false)\b", where[i:])
        if m and boundary_ok:
            out.append("1" if m.group(1).lower() == "true" else "0")
            i += m.end()
            continue
        m = _LIKE_OP.match(where[i:])
        if m and boundary_ok:
            j = i + m.end()
            while j < n and where[j].isspace():
                j += 1
            kind, value, j2 = _parse_pattern_operand(where, j, resolve_double_quoted)
            if kind is None:
                out.append("ILIKE")
                i += m.end()
                continue
            mesc = _ESCAPE_KW.match(where[j2:])
            if mesc:
                # LIKE ... ESCAPE (round 7): a literal pattern + literal
                # single-char escape compiles to the exact regex (escape
                # makes the following char a literal; dangling escape
                # matches nothing — pinned against sqlite3). Computed
                # pattern/escape operands keep the documented ILIKE
                # fallback (Unicode fold + Spark escape handling).
                k = j2 + mesc.end()
                while k < n and where[k].isspace():
                    k += 1
                ekind, evalue, j3 = _parse_pattern_operand(
                    where, k, resolve_double_quoted
                )
                if kind == "literal" and ekind == "literal":
                    if len(evalue) != 1:
                        raise ValueError(
                            "ESCAPE expression must be a single character"
                        )
                    lit = (
                        like_to_regex(value, evalue)
                        .replace("\\", "\\\\")
                        .replace("'", "''")
                    )
                    out.append(f"RLIKE '{lit}'")
                    i = j3
                    continue
                out.append("ILIKE")
                i += m.end()
                continue
            if kind == "literal":
                lit = like_to_regex(value).replace("\\", "\\\\").replace("'", "''")
                out.append(f"RLIKE '{lit}'")
            else:
                out.append(
                    "RLIKE sqlite_like_regex("
                    f"{translate_where(value, projection, local_tz)})"
                )
            i = j2
            continue
        m = _GLOB_OP.match(where[i:])
        if m and boundary_ok:
            i += m.end()
            # Rewrite by operand form. A literal pattern converts here in
            # Python (full stateful GLOB→regex, all class edge cases); only
            # data-driven patterns (column/function operands) fall back to
            # the sqlite_glob_regex SQL macro. The recursion on expr
            # operands bridges their insides too (e.g. x GLOB
            # strftime('%Y*', col) needs sqlite_strftime).
            kind, value, j2 = _parse_pattern_operand(where, i, resolve_double_quoted)
            if kind == "literal":
                lit = glob_to_regex(value).replace("\\", "\\\\").replace("'", "''")
                out.append(f"RLIKE '{lit}'")
            else:
                out.append(
                    "RLIKE sqlite_glob_regex("
                    f"{translate_where(value or '', projection, local_tz)})"
                )
            i = j2
            continue
        m = _RENAMED_FUNCS.match(where[i:])
        if m and boundary_ok:
            fname = m.group(1).lower()
            open_paren = i + m.end() - 1  # the match ends on '('
            close = _match_paren(where, open_paren)
            rewritten = (
                None
                if close is None
                else _rewrite_datetime_call(
                    fname,
                    _split_top_level(where[open_paren + 1 : close]),
                    projection=projection,
                    local_tz=local_tz,
                )
            )
            if rewritten is None:
                # plain single-time-value call: keep the minimal fast path
                # (rename; the main loop translates the argument text)
                out.append(f"sqlite_{fname}(")
                i += m.end()
                continue
            out.append(rewritten)
            i = close + 1
            continue
        # `||` on REAL operands (round 8): SQLite renders REAL via %!.15g
        # ('1.0e+20'), Spark via Java Double.toString ('1.0E20') — bridge
        # the two translatable operand forms: a known-REAL index column
        # (wrap in the sqlite_real_text macro) and an unsigned float
        # literal (fold to its SQLite text right here). Computed float
        # expressions and sign-prefixed literals stay documented residuals
        # (Spark's default agrees for ordinary decimals).
        if (ch.isalpha() or ch == "_") and boundary_ok:
            m = _IDENT.match(where, i)
            word = m.group(0)
            j = m.end()
            actual = _real_cols.get(word.lower())
            if actual is not None and (
                _prev_is_concat(out) or _next_is_concat(where, j)
            ):
                out.append(f"sqlite_real_text(`{actual}`)")
            else:
                out.append(word)
            i = j
            continue
        if (
            ch.isdigit() or (ch == "." and i + 1 < n and where[i + 1].isdigit())
        ) and boundary_ok:
            m = _NUMBER.match(where, i)
            tok = m.group(0)
            j = m.end()
            is_real = "." in tok or "e" in tok.lower()
            if not is_real and int(tok) > 2**63 - 1:
                is_real = True  # SQLite int literals overflow to REAL
            tail = "".join(out[-2:]).rstrip()
            unsigned = not tail.endswith(("+", "-"))
            if (
                is_real
                and unsigned
                and (_prev_is_concat(out) or _next_is_concat(where, j))
            ):
                out.append("'" + sqlite_real_text_py(float(tok)) + "'")
            else:
                out.append(tok)
            i = j
            continue
        out.append(ch)
        i += 1
    return "".join(out)


_ESCAPE_KW = re.compile(r"(?i)\s*ESCAPE\b")


def _parse_pattern_operand(where: str, i: int, resolve_double_quoted):
    """Parse the pattern operand of a LIKE/GLOB at ``i`` (whitespace already
    skipped). Returns ``(kind, value, j)``:

    - ``("literal", decoded_body, j)`` — a single quoted literal (or a
      double-quoted span that resolves to one), decoded;
    - ``("expr", raw_text, j)`` — a column, function call, or ``||``
      concatenation chain, as raw source text for the caller to recurse on;
    - ``(None, "", i)`` — nothing parseable (caller falls back).

    ``||`` binds tighter than LIKE/GLOB in SQLite, so a chain like
    ``'R' || '%'`` is part of the pattern and is folded into one expr.
    """
    n = len(where)
    pieces: list[tuple[str, str | None]] = []  # (raw, decoded-literal|None)
    while True:
        if i < n and where[i] == "'":
            j = _scan_quoted(where, i, "'")
            pieces.append((where[i : j + 1], where[i + 1 : j].replace("''", "'")))
            i = j + 1
        elif i < n and where[i] == '"':
            j = _scan_quoted(where, i, '"')
            resolved = resolve_double_quoted(where[i + 1 : j].replace('""', '"'))
            decoded = (
                resolved[1:-1].replace("''", "'")
                if resolved.startswith("'")
                else None
            )
            pieces.append((where[i : j + 1], decoded))
            i = j + 1
        else:
            mo = _BARE_OPERAND.match(where, i)
            if not mo:
                if pieces:  # dangling || — raw chain, let Spark error/handle
                    break
                return None, "", i
            operand = mo.group(0)
            i = mo.end()
            if i < n and where[i] == "(":  # function-call operand
                depth, j = 0, i
                while j < n:
                    if where[j] == "(":
                        depth += 1
                    elif where[j] == ")":
                        depth -= 1
                        if depth == 0:
                            break
                    j += 1
                operand += where[i : j + 1]
                i = j + 1
            pieces.append((operand, None))
        k = i
        while k < n and where[k].isspace():
            k += 1
        if where.startswith("||", k):
            i = k + 2
            while i < n and where[i].isspace():
                i += 1
            continue
        break
    if len(pieces) == 1 and pieces[0][1] is not None:
        return "literal", pieces[0][1], i
    return "expr", " || ".join(raw for raw, _ in pieces), i


def _scan_quoted(s: str, start: int, quote: str) -> int:
    """Index of the closing quote of the span opening at ``start`` (doubled
    quotes are the escape, per SQL)."""
    j = start + 1
    n = len(s)
    while j < n:
        if s[j] == quote:
            if j + 1 < n and s[j + 1] == quote:
                j += 2
                continue
            break
        j += 1
    return j
