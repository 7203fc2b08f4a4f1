"""SQLite datetime-modifier bridge: equivalence against the REAL engine.

Round-6 coverage for the modifier/time-value grammar
(``plans/dialect.py``): every deterministic pin below ran against stdlib
sqlite3 (the reference's actual engine, reference database.py:144-152),
plus a randomized chain fuzz. The bridge folds literal modifiers at
translate time into timestamp-space macro chains; these tests assert the
OUTPUT equality that contract promises.
"""

from __future__ import annotations

import datetime as _dt
import random
import sqlite3

import pytest

from betfair_database_spark.plans.dialect import (
    register_sqlite_functions,
    translate_where,
)

# Deterministic matrix: every empirically-pinned behavior class —
# month/year day-roll, fractional units (30/365-day conversion, C ms
# rounding), start-of, weekday, unixepoch/julianday modifiers, SQLite's
# exact modifier tokenizer (spacing, case, trailing text), strict
# time-value grammar (0-padding, T/Z, 24:00, Feb-31 roll, julian-day
# numerics, time-only), per-unit value limits (float32 rLimit), julian-
# domain validity at computeYMD sites and outputs but NOT on ms shifts,
# and NULL (never an error) for everything unrecognized.
MATRIX = [
    "datetime('2001-01-31 10:20:30.500','+1 month')",
    "datetime('2001-01-31','+1.5 months')",
    "datetime('2001-01-31','-1.5 months')",
    "datetime('2000-02-29','+1 year')",
    "datetime('2000-02-29','+1.25 years')",
    "datetime('2023-07-27 20:30:00','+1.5 days')",
    "datetime('2023-07-27 20:30:00','-1.5 hours')",
    "datetime('2023-07-27 20:30:00','-0.0005 seconds')",
    "datetime('2023-07-27 20:30:00','start of month')",
    "datetime('2023-07-27 20:30:00','start of year')",
    "datetime('2023-07-27','weekday 0')",
    "datetime('2023-07-27 10:00:00','weekday 3')",
    "datetime(1092941466,'unixepoch')",
    "datetime(-86400.5,'unixepoch')",
    "strftime('%s','1969-12-31 23:59:59.4')",
    "unixepoch('1969-12-31 23:59:59.4')",
    "julianday('1969-12-31 23:59:59.4')",
    "datetime('2023-07-27 20:30:00','+2 days','start of month','+1 hours')",
    "time('2023-07-27 20:30:00','+90 minutes')",
    "date('2023-01-31','+1 month')",
    "datetime('2024-02-29','-1 years')",
    "datetime('2023-07-27','-25 months')",
    "datetime('2023-01-01','bogus')",
    "datetime('2023-01-01','weekday 7')",
    "datetime('2023-01-01','1 day')",
    "datetime('2023-01-01','2 DAY')",
    "datetime('2023-01-01','START OF MONTH')",
    "datetime('2023-01-01','  +1   days ')",
    "datetime(2460000.5)",
    "datetime('2460000.5')",
    "julianday('2023-01-01','+1 day')",
    "unixepoch('2023-01-01','+1 day')",
    "datetime(1092941466,'unixepoch','+1 day')",
    "datetime('2023-01-01','unixepoch')",
    "strftime('%Y-%m-%d %H:%M:%f','2023-01-31 10:20:30.125','+1 month')",
    "datetime('2023-01-01 10:00:00','start of day','+12 hours')",
    "datetime('2023-01-01','+0.7 days')",
    "datetime('2023-01-01','-0.7 days')",
    "datetime('2023-03-31','+11 months')",
    "datetime('2023-01-01','+1.999 seconds')",
    "date('2023-01-05','weekday 1','weekday 1')",
    "datetime('2023-01-01','+1 days ')",
    "datetime('2023-01-01',' +1 days')",
    "datetime('2023-01-01','+1  days')",
    "datetime('2023-01-01','start  of  month')",
    "datetime('-1')",
    "datetime('5373484.6')",
    "datetime('2023-01-01','julianday')",
    "datetime(2459946.5,'julianday','+1 day')",
    "datetime('+1092941466','unixepoch')",
    "datetime('2023-01-01T10:20:30Z','+1 hour')",
    "datetime('2023-01-01 10:20','+1 hour')",
    "datetime('10:20:30','+1 hour')",
    "date('2023-01-05','weekday 1','start of month','+25 hours','-2 minutes')",
    "datetime('2023-13-01')",
    "datetime('2023-01-32')",
    "datetime('2023-01-01 25:00:00')",
    "datetime('2023-01-01 23:60:00')",
    "datetime('2023-01-01 10:20:60')",
    "datetime(' 2023-01-01')",
    "datetime('2023-01-01 ')",
    "datetime('2023-02-31','+0 seconds')",
    "datetime('9999-12-31 23:59:59','+1 second')",
    "datetime('2023-01-01 10:20:30 Z')",
    "strftime('%s',1092941466,'unixepoch')",
    "datetime('2023-01-01 24:00:00','+0 seconds')",
    "datetime('2023-01-01','+1 months','bogus')",
    "datetime('9999-12-31','+1 day','-2 days')",
    "datetime('9999-12-01','+2 months','-4 months')",
    "datetime('0001-01-01','-1 days','+2 days')",
    "julianday('9999-12-31 23:59:59','+1 second')",
    "datetime('2023-06-15','+200000000 days','-200000000 days')",
    "datetime('2023-01-01 10:20:30')",
    "time('2023-07-27T20:30:00.000Z')",
    "strftime('%w %W %j %J','2023-07-27 20:30:00')",
    "datetime('9999-12-31','+2 days','-4 days')",
    "datetime('9999-12-31','+100000 days','-100000 days')",
    "datetime('9999-12-31','+3000000 days','-3000000 days')",
    "datetime('2023-06-15','+5000000 days','-5000000 days')",
    "datetime('0001-01-01','-2000000 days','+2000000 days')",
    "datetime('9999-12-31','+1 month','-2 months')",
    "datetime('2023-06-15','+10675199 days','-10675199 days')",
    "julianday('2023-01-01','+3000000 days')",
    "unixepoch('2023-01-01','+3000000 days')",
    "strftime('%s','2023-01-01','+3000000 days')",
    "datetime('2023-01-01','+3000000 days','start of month')",
    "datetime('2023-01-01','+3000000 days','weekday 2')",
    "datetime('2023-01-01','+3000000 days','+1 month')",
    "datetime('2023-01-01','+5373484 days','-5373484 days')",
    "unixepoch(1092941466,'unixepoch','+1 minute')",
    # round 7: numeric utc-offset suffixes (hour 00-14, minute 00-59,
    # only after a time component) + the date-only-Z rejection fix
    "datetime('2023-01-01 10:00:00+02:00')",
    "datetime('2023-01-01 10:00+02:00','+1 day')",
    "datetime('2023-01-01T10:00:00-05:30')",
    "datetime('2023-01-01 10:00:00 +02:00','start of day')",
    "datetime('2023-01-01 10:00:00.5+02:00')",
    "time('10:00:00+02:00')",
    "datetime('2023-01-01 10:00:00+14:59')",
    "datetime('2023-01-01 10:00:00+15:00')",
    "datetime('2023-01-01 10:00:00+02:60')",
    "datetime('2023-01-01+02:00')",
    "datetime('2023-07-28Z')",
    "datetime('2023-07-28 Z')",
    "datetime('10:00Z','+30 minutes')",
    "unixepoch('2023-02-31 10:00+02:00')",
    "julianday('2023-01-01 10:00:00-00:30')",
]

# Literal strftime formats with text outside the %-codes: SQLite copies
# every such character verbatim (T/Z, words, a doubled quote, a
# backslash, non-ASCII), so these fold to a string literal at translate
# time. Part of the matrix.
LITERAL_TEXT_FORMAT_ROWS = [
    "strftime('%Y-%m-%dT%H:%M:%S.000Z','2023-07-27','+3 days')",
    "strftime('%Y-%m-%dT%H:%M:%S.000Z','2023-12-31','+1 days')",
    "strftime('%Y-%m-%dT%H:%M:%fZ','2023-07-27T10:20:30.125Z','+1 day','start of day')",
    "strftime('%Y-%m-%dT%H:%MZ',1092941466,'unixepoch','+90 minutes')",
    "strftime('Day %j of %Y, week %W','2024-03-01','-1 month')",
    "strftime('%Y''s %m','2023-01-31','+1 month')",
    "strftime('It''s %H o''clock','2023-07-27 20:30:00','+90 minutes')",
    "strftime('%Y\\%m','2023-01-01','+1 month')",
    "strftime('%d/%m été','2023-07-27','weekday 0')",
    "strftime('T%%Z %s','2023-01-01','+1 day')",
    "strftime('%Y-%m-%dT%H:%M:%S.000Z','2023-01-01','bogus')",
]
MATRIX += LITERAL_TEXT_FORMAT_ROWS


def _compare(spark, exprs, batch=24):
    # batched SELECTs: folded chains inline their macros, so one giant
    # projection makes Catalyst analysis super-linear in expression count
    register_sqlite_functions(spark)
    con = sqlite3.connect(":memory:")
    mismatches = []
    for lo in range(0, len(exprs), batch):
        chunk = exprs[lo : lo + batch]
        sel = "SELECT " + ", ".join(
            f"({translate_where(e)}) AS c{i}" for i, e in enumerate(chunk)
        )
        row = spark.sql(sel).first()
        for i, e in enumerate(chunk):
            want = con.execute(f"select {e}").fetchone()[0]
            got = row[f"c{i}"]
            if isinstance(want, float) and isinstance(got, float):
                ok = abs(want - got) < 1e-9
            elif want is None or got is None:
                ok = want is None and got is None
            else:
                ok = str(want) == str(got)
            if not ok:
                mismatches.append(f"{e}: sqlite={want!r} spark={got!r}")
    assert not mismatches, "\n".join(mismatches)


def test_modifier_matrix_matches_sqlite(spark):
    _compare(spark, MATRIX)


def test_literal_text_formats_fold_to_constants():
    for e in LITERAL_TEXT_FORMAT_ROWS:
        out = translate_where(e)
        assert "sqlite_" not in out, (e, out)


def test_time_range_upper_bound_folds():
    """The benchmark's time_range predicate: its upper bound is fully
    literal, so the translation is two plain string comparisons."""
    where = (
        "marketStartTime >= '2023-03-14T00:00:00.000Z' AND marketStartTime < "
        "strftime('%Y-%m-%dT%H:%M:%S.000Z', '2023-03-14', '+7 days')"
    )
    out = translate_where(where)
    assert "sqlite_" not in out, out
    assert "'2023-03-21T00:00:00.000Z'" in out, out


def test_modifier_chain_fuzz_matches_sqlite(spark):
    """Randomized chains: base values across 1950-2100 (ms-exact — beyond
    ms precision SQLite's raw-component rendering is a documented
    residual), 1-3 modifiers drawn from the whole supported grammar,
    rendered through every output function."""
    rng = random.Random(20260814)
    units = ["days", "hours", "minutes", "seconds", "months", "years"]
    exprs = []
    for _ in range(120):
        base = _dt.datetime(1950, 1, 1) + _dt.timedelta(
            days=rng.randint(0, 54000),
            seconds=rng.randint(0, 86399),
            milliseconds=rng.randint(0, 999),
        )
        mods = []
        for _k in range(rng.randint(1, 3)):
            kind = rng.random()
            if kind < 0.55:
                v = round(rng.uniform(-40, 40), rng.choice([0, 1, 3]))
                mods.append(f"'{v:+g} {rng.choice(units)}'")
            elif kind < 0.75:
                mods.append(
                    f"'start of {rng.choice(['day', 'month', 'year'])}'"
                )
            else:
                mods.append(f"'weekday {rng.randint(0, 6)}'")
        fn = rng.choice(
            ["datetime", "date", "time", "julianday", "unixepoch"]
        )
        # round 7: a third of the bases carry a suffix — Z, a valid
        # [+-]HH:MM utc offset, or a deliberately-invalid one
        suffix = ""
        r = rng.random()
        if r < 0.15:
            suffix = rng.choice(["Z", "z", " Z"])
        elif r < 0.35:
            sign = rng.choice("+-")
            h = rng.randint(0, 16)  # 15/16 are invalid on purpose
            m = rng.choice([0, 30, 59, 60])  # 60 invalid
            suffix = f"{sign}{h:02d}:{m:02d}"
        arg = (
            f"'{base.strftime('%Y-%m-%d %H:%M:%S')}"
            f".{base.microsecond // 1000:03d}{suffix}'"
        )
        exprs.append(f"{fn}({arg}, {', '.join(mods)})")
    _compare(spark, exprs)


def test_now_default_and_literal(spark):
    """'now' (and the zero-argument default) tracks SQLite's current UTC
    wall-clock under ANY session timezone — compared with tolerance."""
    register_sqlite_functions(spark)
    con = sqlite3.connect(":memory:")
    for expr in ["unixepoch('now')", "unixepoch()",
                 "unixepoch('now', '+2 hours')"]:
        got = spark.sql(f"SELECT {translate_where(expr)}").first()[0]
        want = con.execute(f"select {expr}").fetchone()[0]
        assert abs(got - want) < 30, expr


def test_tz_modifiers_raise_loudly(spark):
    """localtime/utc need the reference host's timezone — the bridge
    refuses rather than silently diverging ('auto' is bridged: it never
    involves a timezone)."""
    for mod in ("localtime", "utc"):
        with pytest.raises(ValueError, match="not bridged"):
            translate_where(f"datetime(marketStartTime, '{mod}')")


def test_computed_modifier_translates_to_dynamic_kernel():
    """Round 12: column-valued modifiers no longer raise — they route
    through the Arrow kernel (sqlite_dyn_*), which reuses the literal
    constant-fold engine per row (semantics tests below)."""
    sql = translate_where("datetime(marketStartTime, marketType)")
    assert "sqlite_dyn_str" in sql and "'datetime'" in sql


def test_modifier_column_chain_fuzz_matches_sqlite(spark):
    """COLUMN time values take the SQL macro chain (literal bases
    constant-fold in Python) — fuzz that path too, so the two
    implementations can never drift apart: random ms-precision rows,
    random 1-2 modifier chains, full-column equality vs sqlite3."""
    register_sqlite_functions(spark)
    rng = random.Random(99)
    rows = []
    for _ in range(60):
        base = _dt.datetime(1960, 1, 1) + _dt.timedelta(
            days=rng.randint(0, 50000),
            seconds=rng.randint(0, 86399),
            milliseconds=rng.randint(0, 999),
        )
        rows.append(
            f"{base.strftime('%Y-%m-%d %H:%M:%S')}.{base.microsecond // 1000:03d}"
        )
    con = sqlite3.connect(":memory:")
    con.execute("CREATE TABLE t (ts TEXT)")
    con.executemany("INSERT INTO t VALUES (?)", [(v,) for v in rows])
    spark.createDataFrame([(v,) for v in rows], "ts string").createOrReplaceTempView("t")
    units = ["days", "hours", "minutes", "seconds", "months", "years"]
    for trial in range(12):
        mods = []
        for _k in range(rng.randint(1, 2)):
            kind = rng.random()
            if kind < 0.6:
                v = round(rng.uniform(-30, 30), rng.choice([0, 1]))
                mods.append(f"'{v:+g} {rng.choice(units)}'")
            elif kind < 0.8:
                mods.append(f"'start of {rng.choice(['day', 'month', 'year'])}'")
            else:
                mods.append(f"'weekday {rng.randint(0, 6)}'")
        fn = rng.choice(["datetime", "date", "time", "julianday", "unixepoch"])
        expr = f"{fn}(ts, {', '.join(mods)})"
        want = [r[0] for r in con.execute(f"SELECT {expr} FROM t ORDER BY ts")]
        got = [
            r[0]
            for r in spark.sql(
                f"SELECT {translate_where(expr)} FROM t ORDER BY ts"
            ).collect()
        ]
        for w, g in zip(want, got):
            if isinstance(w, float) and isinstance(g, float):
                assert abs(w - g) < 1e-9, (expr, w, g)
            else:
                assert str(w) == str(g) or (w is None and g is None), (expr, w, g)


def test_modifiers_inside_where_filter(spark):
    """End-to-end through a WHERE clause over real rows: the folded chain
    must filter identically to SQLite."""
    register_sqlite_functions(spark)
    con = sqlite3.connect(":memory:")
    con.execute("CREATE TABLE t (ts TEXT)")
    vals = [f"2023-07-{d:02d} {h:02d}:30:00" for d in (1, 15, 27) for h in (0, 12, 20)]
    con.executemany("INSERT INTO t VALUES (?)", [(v,) for v in vals])
    df = spark.createDataFrame([(v,) for v in vals], "ts string")
    df.createOrReplaceTempView("t")
    for where in [
        "datetime(ts, '+1 month', 'start of month') = '2023-08-01 00:00:00'",
        "time(ts, '+90 minutes') >= '13:00:00'",
        "date(ts, 'weekday 4') = '2023-07-27'",
        "unixepoch(ts, '+1 day') % 2 = 0",
    ]:
        want = sorted(r[0] for r in con.execute(f"SELECT ts FROM t WHERE {where}"))
        got = sorted(
            r[0]
            for r in spark.sql(
                f"SELECT ts FROM t WHERE {translate_where(where)}"
            ).collect()
        )
        assert got == want, where


def test_localtime_utc_modifiers_with_explicit_tz(spark):
    """Round 7: 'localtime'/'utc' bridged via translate_where(...,
    local_tz=<IANA zone>) — compared against stdlib sqlite3 running with
    the SAME zone pinned as the process TZ (the reference's host-tz
    semantics). Cases stay inside 1971-2037 (SQLite clamps outside) and
    away from the 1-2 h DST ambiguity windows (java.time/PEP-495 resolve
    those by convention; SQLite iterates — documented residual)."""
    import os
    import time as _time

    register_sqlite_functions(spark)
    tz = "Europe/London"
    cases = [
        "datetime('2023-07-01 12:00:00','localtime')",  # BST +1
        "datetime('2023-01-15 12:00:00','localtime')",  # GMT +0
        "datetime('2023-07-01 12:00:00','utc')",
        "datetime('2023-01-15 12:00:00','utc')",
        "datetime('2023-03-26 12:00:00','localtime')",  # DST-change day, noon
        "datetime('2023-10-29 12:00:00','utc')",
        "time('2023-07-01 23:30:00','localtime')",  # crosses midnight
        "date('2023-07-01 23:30:00','localtime')",
        "unixepoch('2023-07-01 12:00:00','utc')",
        "strftime('%Y-%m-%d %H:%M','2023-07-01 12:00:00','localtime')",
        "datetime('2023-07-01 12:00:00','+1 months','localtime')",
        "datetime('2023-07-01 12:00:00','localtime','start of day')",
        "datetime('1971-06-01 00:30:00','localtime')",
        "datetime('2036-12-31 23:00:00','localtime')",
        "datetime('bogus','localtime')",
    ]
    old_tz = os.environ.get("TZ")
    os.environ["TZ"] = tz
    _time.tzset()
    try:
        con = sqlite3.connect(":memory:")
        mismatches = []
        sel = "SELECT " + ", ".join(
            f"({translate_where(e, local_tz=tz)}) AS c{i}"
            for i, e in enumerate(cases)
        )
        row = spark.sql(sel).first()
        for i, e in enumerate(cases):
            want = con.execute(f"select {e}").fetchone()[0]
            got = row[f"c{i}"]
            if not (
                (want is None and got is None) or str(want) == str(got)
            ):
                mismatches.append(f"{e}: sqlite={want!r} spark={got!r}")
        assert not mismatches, "\n".join(mismatches)
    finally:
        if old_tz is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old_tz
        _time.tzset()


def test_utc_localtime_inside_dst_transition_windows(spark):
    """Round 10 (verdict #7): 'utc' runs SQLite's date.c ITERATE on both
    paths, so timestamps INSIDE the DST gap/overlap windows — where the
    old java.time/PEP-495 single lookup picks a different instant in
    positive-offset zones — now match stdlib sqlite3 exactly. Dense
    minute sampling across a ±2 h window around both 2023 transitions in
    four zones (negative offset, positive offset, UK straddle, and a
    30-minute-DST zone), 'utc' on wall values and 'localtime' on
    instants, literal fold AND column chain."""
    import datetime as dt
    import os
    import time as _time

    register_sqlite_functions(spark)
    # (zone, local wall anchor of each 2023 transition)
    zones = {
        "America/New_York": ["2023-03-12 02:00:00", "2023-11-05 02:00:00"],
        "Europe/Paris": ["2023-03-26 02:00:00", "2023-10-29 03:00:00"],
        "Europe/London": ["2023-03-26 01:00:00", "2023-10-29 02:00:00"],
        "Australia/Lord_Howe": [
            "2023-10-01 02:00:00",
            "2023-04-02 02:00:00",
        ],
    }
    old_tz = os.environ.get("TZ")
    mismatches = []
    try:
        for tz, anchors in zones.items():
            os.environ["TZ"] = tz
            _time.tzset()
            con = sqlite3.connect(":memory:")
            vals = []
            for anchor in anchors:
                a = dt.datetime.fromisoformat(anchor)
                for mins in range(-120, 121, 17):
                    vals.append(
                        (a + dt.timedelta(minutes=mins)).strftime(
                            "%Y-%m-%d %H:%M:%S"
                        )
                    )
            exprs = [
                f"datetime('{v}','{kind}')"
                for v in vals
                for kind in ("utc", "localtime")
            ]
            want = [
                con.execute(f"select {e}").fetchone()[0] for e in exprs
            ]
            # literal fold path: everything folds at translate time
            sel = "SELECT " + ", ".join(
                f"({translate_where(e, local_tz=tz)}) AS c{i}"
                for i, e in enumerate(exprs)
            )
            row = spark.sql(sel).first()
            for i, e in enumerate(exprs):
                if str(row[f"c{i}"]) != str(want[i]):
                    mismatches.append(
                        f"fold {tz} {e}: sqlite={want[i]!r} "
                        f"spark={row[f'c{i}']!r}"
                    )
            # column path: same values through the macro chain
            spark.createDataFrame(
                [(v,) for v in vals], "x string"
            ).createOrReplaceTempView("dstvals")
            for kind in ("utc", "localtime"):
                cexpr = translate_where(
                    f"datetime(x,'{kind}')", local_tz=tz
                )
                got = {
                    r["x"]: str(r["r"])
                    for r in spark.sql(
                        f"SELECT x, ({cexpr}) AS r FROM dstvals"
                    ).collect()
                }
                for v in vals:
                    w = str(
                        con.execute(
                            f"select datetime('{v}','{kind}')"
                        ).fetchone()[0]
                    )
                    if got[v] != w:
                        mismatches.append(
                            f"col {tz} {kind} {v}: sqlite={w!r} "
                            f"spark={got[v]!r}"
                        )
    finally:
        if old_tz is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old_tz
        _time.tzset()
    assert not mismatches, "\n".join(mismatches[:20])


def test_localtime_utc_proxy_year_clamp(spark):
    """Round 10: instants outside the 32-bit time_t window resolve their
    offset at SQLite's proxy year 2000 + Y % 4 with month/day preserved
    (derived empirically on 3.40.1 — e.g. 1902-07-01 New York resolves
    as EDT via proxy 2002 although 1902 had no DST). Matrix across
    out-of-range years x dates straddling the proxy years' DST
    boundaries x zones, 'localtime' AND 'utc', fold and column paths,
    all vs stdlib sqlite3. Times at noon keep clear of the documented
    century-Feb-29 corner."""
    import itertools
    import os
    import time as _time

    register_sqlite_functions(spark)
    years = [1902, 1950, 1969, 2039, 2045, 2100]
    dates = ["01-15", "04-03", "06-15", "10-27", "12-30"]
    vals = [f"{y}-{md} 12:00:00" for y, md in itertools.product(years, dates)]
    old_tz = os.environ.get("TZ")
    mismatches = []
    try:
        for tz in ("America/New_York", "Australia/Sydney"):
            os.environ["TZ"] = tz
            _time.tzset()
            con = sqlite3.connect(":memory:")
            exprs = [
                f"datetime('{v}','{kind}')"
                for v in vals
                for kind in ("localtime", "utc")
            ]
            want = [
                str(con.execute(f"select {e}").fetchone()[0])
                for e in exprs
            ]
            sel = "SELECT " + ", ".join(
                f"({translate_where(e, local_tz=tz)}) AS c{i}"
                for i, e in enumerate(exprs)
            )
            row = spark.sql(sel).first()
            for i, e in enumerate(exprs):
                if str(row[f"c{i}"]) != want[i]:
                    mismatches.append(
                        f"fold {tz} {e}: sqlite={want[i]!r} "
                        f"spark={row[f'c{i}']!r}"
                    )
            spark.createDataFrame(
                [(v,) for v in vals], "x string"
            ).createOrReplaceTempView("proxyvals")
            for kind in ("localtime", "utc"):
                ce = translate_where(f"datetime(x,'{kind}')", local_tz=tz)
                got = {
                    r["x"]: str(r["r"])
                    for r in spark.sql(
                        f"SELECT x, ({ce}) AS r FROM proxyvals"
                    ).collect()
                }
                for v in vals:
                    w = str(
                        con.execute(
                            f"select datetime('{v}','{kind}')"
                        ).fetchone()[0]
                    )
                    if got[v] != w:
                        mismatches.append(
                            f"col {tz} {kind} {v}: sqlite={w!r} "
                            f"spark={got[v]!r}"
                        )
    finally:
        if old_tz is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old_tz
        _time.tzset()
    assert not mismatches, "\n".join(mismatches[:20])


def test_utc_iterate_composes_with_other_modifiers(spark):
    """The self-binding iterate must compose inside modifier chains (its
    input is an arbitrary ms expression, its output feeds downstream
    macros) — including back-to-back tz modifiers, which exercise the
    unique-lambda-name namespace in one expression tree."""
    import os
    import time as _time

    register_sqlite_functions(spark)
    tz = "Europe/Paris"
    cases = [
        "datetime('2023-10-29 02:30:00','utc','start of day')",
        "datetime('2023-10-29 00:30:00','+2 hours','utc')",
        "datetime('2023-03-26 02:10:00','utc','+30 minutes')",
        "datetime('2023-10-29 02:30:00','utc','localtime')",
        "datetime('2023-10-29 02:30:00','utc','localtime','utc')",
        "unixepoch('2023-03-26 02:30:00','utc')",
        "strftime('%H:%M','2023-10-29 02:30:00','utc')",
        # tzSet (round 10): an explicit Z/±HH:MM suffix in the VALUE
        # makes a later 'utc' a no-op; the first applied 'utc' does the
        # same for every later one; 'localtime' neither checks nor sets
        "datetime('2023-07-01 12:00:00Z','utc')",
        "datetime('2023-07-01 12:00:00+03:00','utc')",
        "datetime('2023-07-01 12:00:00-05:30','utc','localtime')",
        "datetime('2023-07-01 12:00:00','utc','utc')",
        "datetime('2023-07-01 12:00:00Z','utc','+1 hours','utc')",
        "datetime('2023-07-01 12:00:00','localtime','utc','utc')",
        "datetime('2023-07-01 12:00:00','localtime','localtime')",
        "datetime('12:30:00+02:00','utc')",
        "unixepoch('2023-07-01 12:00:00+03:00','utc')",
    ]
    old_tz = os.environ.get("TZ")
    os.environ["TZ"] = tz
    _time.tzset()
    try:
        con = sqlite3.connect(":memory:")
        spark.createDataFrame(
            [("2023-10-29 02:30:00",), ("2023-03-26 02:10:00",)],
            "x string",
        ).createOrReplaceTempView("t")
        for e in cases:
            want = str(con.execute(f"select {e}").fetchone()[0])
            got = str(
                spark.sql(
                    f"SELECT ({translate_where(e, local_tz=tz)}) AS r"
                ).first()["r"]
            )
            assert got == want, f"fold {e}: sqlite={want!r} spark={got!r}"
        # column chain: chained tz modifiers (nested iterates) and the
        # per-row tzSet conditional over suffixed/unsuffixed values
        spark.createDataFrame(
            [
                ("2023-10-29 02:30:00",),
                ("2023-03-26 02:10:00",),
                ("2023-07-01 12:00:00Z",),
                ("2023-07-01 12:00:00+03:00",),
                ("12:30:00+02:00",),
                ("garbage",),
            ],
            "x string",
        ).createOrReplaceTempView("tzc")
        for q in (
            "datetime(x,'utc','localtime','utc')",
            "datetime(x,'utc')",
            "datetime(x,'utc','utc')",
            "datetime(x,'localtime','utc')",
        ):
            ce = translate_where(q, local_tz=tz)
            got = {
                r["x"]: r["r"]
                for r in spark.sql(
                    f"SELECT x, ({ce}) AS r FROM tzc"
                ).collect()
            }
            for v in got:
                want = con.execute(
                    "select " + q.replace("x", f"'{v}'")
                ).fetchone()[0]
                assert (want is None and got[v] is None) or str(
                    got[v]
                ) == str(want), (q, v, got[v], want)
    finally:
        if old_tz is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old_tz
        _time.tzset()


def test_localtime_utc_column_path_matches_fold(spark):
    """The COLUMN chain (convert_timezone macros) and the literal fold
    (zoneinfo) are the same function — pin value agreement over rows."""
    register_sqlite_functions(spark)
    tz = "Australia/Sydney"
    vals = [
        "2023-07-01 12:00:00", "2023-01-15 23:45:10.5",
        "2023-04-02 12:00:00", "1971-02-03 04:05:06", "garbage", None,
    ]
    spark.createDataFrame(
        [(v,) for v in vals], "x string"
    ).createOrReplaceTempView("tzvals")
    for kind in ("localtime", "utc"):
        col_expr = translate_where(f"datetime(x, '{kind}')", local_tz=tz)
        got = {
            r["x"]: r["r"]
            for r in spark.sql(
                f"SELECT x, ({col_expr}) AS r FROM tzvals"
            ).collect()
        }
        for v in vals:
            lit = translate_where(
                f"datetime('{v}', '{kind}')", local_tz=tz
            ) if v is not None else None
            want = (
                spark.sql(f"SELECT ({lit}) AS r").first()["r"]
                if lit is not None
                else None
            )
            assert got[v] == want, (kind, v, got[v], want)


def test_tz_modifiers_raise_without_local_tz():
    with pytest.raises(ValueError, match="local_tz"):
        translate_where("datetime('2023-01-01','localtime')")
    with pytest.raises(ValueError, match="not bridged"):
        translate_where("datetime('2023-01-01','utc')")
    # 'auto' is bridged (round 8): literal bases fold at translate time,
    # column bases take the sqlite_ms_auto macro — neither raises
    assert translate_where("datetime('2023-01-01','auto')")
    assert "sqlite_ms_auto" in translate_where(
        "datetime(marketStartTime,'auto')"
    )


AUTO_MATRIX = [
    # 'auto' (round 8): numeric in [0, 5373484.5) stays julian, other
    # numerics are epoch seconds, text parses normally; first-position
    # only (NULL past position 0); render window years 1-9999 as
    # everywhere else in the bridge.
    "datetime(2460000.5, 'auto')",
    "datetime(1700000000, 'auto')",
    "datetime('2023-01-01 10:00', 'auto')",
    "datetime('  1700000000  ', 'auto')",
    "datetime(5373484.49, 'auto')",
    "datetime(5373484.5, 'auto')",
    "datetime(-1, 'auto')",
    "datetime(1.7e9, 'auto')",
    "datetime(1700000000, 'auto', '+1 day')",
    "datetime(1700000000, 'auto', 'start of month')",
    "datetime(1700000000, '+1 day', 'auto')",  # past position 0 -> NULL
    "datetime(2460000.5, 'auto', 'julianday')",  # julianday after auto -> NULL
    "date(1.7e9, 'auto')",
    "time(1700000000, 'auto')",
    "julianday(1700000000, 'auto')",
    "unixepoch(2460000.5, 'auto')",
    "unixepoch('2023-01-01', 'auto')",
    "strftime('%Y-%m-%d %H:%M', 1700000000, 'auto')",
    "datetime(300000000001, 'auto')",  # beyond the epoch magnitude gate
    "datetime('2460000.5x', 'auto')",
]


def test_auto_modifier_matrix_matches_sqlite(spark):
    _compare(spark, AUTO_MATRIX)


def test_auto_modifier_on_columns(spark):
    """Column-path 'auto': per-row numeric-range dispatch (mixed julian /
    epoch / text / garbage values in one column)."""
    import sqlite3

    register_sqlite_functions(spark)

    vals = [
        "2460000.5", "1700000000", "2023-01-01 10:00", "2440587.5",
        "5373484.49", "5373484.5", "-1", "garbage", "", "1.7e9",
    ]
    con = sqlite3.connect(":memory:")
    con.execute("CREATE TABLE t (v)")
    con.executemany("INSERT INTO t VALUES (?)", [(v,) for v in vals])
    want = [r[0] for r in con.execute(
        "SELECT datetime(v, 'auto') FROM t ORDER BY rowid"
    )]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "i long, v string"
    )
    df.createOrReplaceTempView("t_auto")
    shim = translate_where("datetime(v, 'auto')")
    got = [
        r[0]
        for r in spark.sql(
            f"SELECT {shim} FROM t_auto ORDER BY i"
        ).collect()
    ]
    assert got == want


def test_auto_chain_fuzz_matches_sqlite(spark):
    """Randomized 'auto'-led chains: numeric bases straddling the julian
    window boundary (julian-range, epoch-range, negative, fractional,
    scientific notation, quoted and bare) followed by 0-2 ordinary
    modifiers, rendered through every output function."""
    rng = random.Random(20260815)
    units = ["days", "hours", "minutes", "seconds", "months", "years"]
    exprs = []
    for _ in range(90):
        r = rng.random()
        if r < 0.35:  # julian-range (renders inside years 1-9999)
            base = f"{rng.uniform(1721426.0, 5373484.4):.6f}"
        elif r < 0.7:  # epoch-range
            base = f"{rng.uniform(5373485.0, 4e9):.3f}"
        elif r < 0.8:  # negative epoch
            base = f"{rng.uniform(-2e9, -1):.3f}"
        elif r < 0.9:  # scientific notation
            base = f"{rng.uniform(1.0, 4.0):.6f}e9"
        else:  # text base: 'auto' must be a no-op
            d = _dt.datetime(2000, 1, 1) + _dt.timedelta(
                days=rng.randint(0, 9000), seconds=rng.randint(0, 86399)
            )
            base = f"'{d.strftime('%Y-%m-%d %H:%M:%S')}'"
        if rng.random() < 0.5 and not base.startswith("'"):
            base = f"'{base}'"  # quoted numerics behave identically
        mods = ["'auto'"]
        for _k in range(rng.randint(0, 2)):
            if rng.random() < 0.6:
                v = round(rng.uniform(-40, 40), rng.choice([0, 1, 3]))
                mods.append(f"'{v:+g} {rng.choice(units)}'")
            else:
                mods.append(
                    f"'start of {rng.choice(['day', 'month', 'year'])}'"
                )
        fn = rng.choice(
            ["datetime", "date", "time", "julianday", "unixepoch"]
        )
        exprs.append(f"{fn}({base}, {', '.join(mods)})")
    _compare(spark, exprs)


def test_century_nonleap_feb29_corner_wontfix(spark):
    """Round 11 (verdict #9): formal WONTFIX, pinned on BOTH sides.
    Around Mar 1 of out-of-time_t-window CENTURY non-leap years, SQLite
    materializes its proxy leap year's Feb 29 into the real year:
    datetime() renders an INVALID calendar date and julianday()
    day-rolls it to Mar 1 (+1 day off true arithmetic). This bridge
    intentionally stays calendar-true — documented in README's
    dialect-delta table. The sqlite3 side is pinned too, so a future
    SQLite that fixes the corner surfaces here as a skip-worthy
    version change rather than a silent drift."""
    import os
    import time as _time

    register_sqlite_functions(spark)
    tz = "America/New_York"
    val = "2100-03-01 01:00:00"
    old_tz = os.environ.get("TZ")
    try:
        os.environ["TZ"] = tz
        _time.tzset()
        con = sqlite3.connect(":memory:")
        sq_dt = con.execute(
            f"select datetime('{val}','localtime')"
        ).fetchone()[0]
        if sq_dt != "2100-02-29 20:00:00":
            pytest.skip(
                f"sqlite {sqlite3.sqlite_version} no longer renders the "
                f"invalid proxy date (got {sq_dt!r}) — revisit the wontfix"
            )
        # true arithmetic: julianday of the CALENDAR-TRUE local value
        true_jd = con.execute(
            "select julianday('2100-02-28 20:00:00')"
        ).fetchone()[0]
    finally:
        if old_tz is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old_tz
        _time.tzset()

    exprs = [
        f"datetime('{val}','localtime')",
        f"julianday('{val}','localtime')",
    ]
    sel = "SELECT " + ", ".join(
        f"({translate_where(e, local_tz=tz)}) AS c{i}"
        for i, e in enumerate(exprs)
    )
    row = spark.sql(sel).first()
    assert row["c0"] == "2100-02-28 20:00:00"  # calendar-true, not Feb 29
    assert abs(row["c1"] - true_jd) < 1e-6  # exact arithmetic, no day roll
    # column path agrees with the fold path
    spark.createDataFrame([(val,)], "x string").createOrReplaceTempView(
        "wontfix_corner"
    )
    ce = translate_where("datetime(x,'localtime')", local_tz=tz)
    got = spark.sql(f"SELECT ({ce}) AS r FROM wontfix_corner").first()["r"]
    assert got == "2100-02-28 20:00:00"


class TestDynamicModifiers:
    """Round 12 (verdict #8, upgraded): column-valued datetime MODIFIERS
    are now BRIDGED — an Arrow-batched kernel evaluates each row through
    the SAME Python constant-fold engine the literal path uses
    (``_py_fold_call`` with the ``_py_value`` render), so the dynamic
    path can never drift from the matrix-tested literal semantics.
    Documented residuals stay loud: a per-row 'now' base and strftime
    formats the Python renderer defers to the SQL path."""

    ROWS = [
        ("2023-07-27 20:30:00", "+1 day"),
        ("2023-01-31 10:20:30.500", "+1 month"),
        ("2001-01-31", "+1.5 months"),
        ("2000-02-29", "+1 year"),
        ("2023-07-27 20:30:00", "-1.5 hours"),
        ("2023-07-27 20:30:00", "start of month"),
        ("2023-07-27 20:30:00", "start of year"),
        ("2023-07-27", "weekday 0"),
        ("2023-07-27 10:00:00", "weekday 3"),
        ("2023-07-27 20:30:00", "-0.0005 seconds"),
        ("2023-07-27 20:30:00", "bogus mod"),
        ("2023-07-27 20:30:00", "+1 dayz "),
        ("2023-07-27 20:30:00", None),
        (None, "+1 day"),
        ("2023-13-40", "+1 day"),
        ("2440587.5", "+12 hours"),
    ]

    def _cmp(self, spark, expr, sqlite_sql):
        import sqlite3 as _sq

        con = _sq.connect(":memory:")
        df = spark.createDataFrame(self.ROWS, "ts string, mod string")
        df.createOrReplaceTempView("dynmod")
        got = [
            r[0]
            for r in spark.sql(
                f"SELECT ({translate_where(expr, projection=True)}) "
                "FROM dynmod"
            ).collect()
        ]
        exp = [
            con.execute(sqlite_sql, (ts, m)).fetchone()[0]
            for ts, m in self.ROWS
        ]
        assert got == exp, list(zip(self.ROWS, got, exp))

    def test_datetime_dynamic_matches_sqlite(self, spark):
        register_sqlite_functions(spark)
        self._cmp(spark, "datetime(ts, mod)", "SELECT datetime(?, ?)")

    def test_date_time_dynamic_match_sqlite(self, spark):
        register_sqlite_functions(spark)
        self._cmp(spark, "date(ts, mod)", "SELECT date(?, ?)")
        self._cmp(spark, "time(ts, mod)", "SELECT time(?, ?)")

    def test_julianday_unixepoch_dynamic_match_sqlite(self, spark):
        register_sqlite_functions(spark)
        self._cmp(spark, "julianday(ts, mod)", "SELECT julianday(?, ?)")
        self._cmp(spark, "unixepoch(ts, mod)", "SELECT unixepoch(?, ?)")

    def test_strftime_literal_format_dynamic_modifier(self, spark):
        register_sqlite_functions(spark)
        self._cmp(
            spark,
            "strftime('%Y-%m-%d %H:%M', ts, mod)",
            "SELECT strftime('%Y-%m-%d %H:%M', ?, ?)",
        )

    def test_strftime_literal_text_format_dynamic_modifier(self, spark):
        register_sqlite_functions(spark)
        self._cmp(
            spark,
            "strftime('%Y-%m-%dT%H:%M:%S.000Z', ts, mod)",
            "SELECT strftime('%Y-%m-%dT%H:%M:%S.000Z', ?, ?)",
        )

    def test_mixed_literal_and_dynamic_chain(self, spark):
        register_sqlite_functions(spark)
        self._cmp(
            spark,
            "datetime(ts, '+2 days', mod, 'start of day')",
            "SELECT datetime(?, '+2 days', ?, 'start of day')",
        )

    def test_dynamic_in_where_clause(self, spark):
        import sqlite3 as _sq

        register_sqlite_functions(spark)
        con = _sq.connect(":memory:")
        con.execute("CREATE TABLE t (ts TEXT, mod TEXT)")
        con.executemany("INSERT INTO t VALUES (?, ?)", self.ROWS)
        df = spark.createDataFrame(self.ROWS, "ts string, mod string")
        df.createOrReplaceTempView("dynmod")
        where = "datetime(ts, mod) >= '2023-07-28 00:00:00'"
        got = sorted(
            r[0]
            for r in spark.sql(
                f"SELECT ts FROM dynmod WHERE {translate_where(where)}"
            ).collect()
        )
        exp = sorted(
            r[0]
            for r in con.execute(f"SELECT ts FROM t WHERE {where}")
        )
        assert got == exp and got

    def test_dynamic_localtime_agrees_with_literal_bridge(self, spark):
        """The dynamic kernel and the literal macro chain must agree on
        tz modifiers (the literal path is sqlite3-pinned elsewhere) —
        including across a DST boundary."""
        register_sqlite_functions(spark)
        rows = [
            ("2023-03-26 00:30:00", "localtime"),
            ("2023-03-26 01:30:00", "localtime"),  # CET spring-forward gap window
            ("2023-10-29 01:30:00", "localtime"),
            ("2023-07-27 20:30:00", "utc"),
            ("2023-01-15 10:00:00", "localtime"),
        ]
        df = spark.createDataFrame(rows, "ts string, mod string")
        df.createOrReplaceTempView("dynmodtz")
        tz = "Europe/Berlin"
        dyn = [
            r[0]
            for r in spark.sql(
                "SELECT ("
                + translate_where(
                    "datetime(ts, mod)", projection=True, local_tz=tz
                )
                + ") FROM dynmodtz"
            ).collect()
        ]
        lit = []
        for ts, mod in rows:
            lit.append(
                spark.sql(
                    "SELECT ("
                    + translate_where(
                        f"datetime('{ts}', '{mod}')", local_tz=tz
                    )
                    + ")"
                ).first()[0]
            )
        assert dyn == lit

    def test_dynamic_now_base_raises_at_translate_time(self):
        with pytest.raises(ValueError, match="statement-stable"):
            translate_where("datetime('now', mod_col)")

    def test_dynamic_tz_without_local_tz_raises_at_runtime(self, spark):
        register_sqlite_functions(spark)
        df = spark.createDataFrame(
            [("2023-07-27 20:30:00", "localtime")], "ts string, mod string"
        )
        df.createOrReplaceTempView("dynmoderr")
        with pytest.raises(Exception, match="un-bridged|local_tz"):
            spark.sql(
                f"SELECT ({translate_where('datetime(ts, mod)', projection=True)}) "
                "FROM dynmoderr"
            ).collect()
