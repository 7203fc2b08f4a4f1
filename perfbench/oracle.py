"""The query mix and its answer oracle.

Eight query shapes, drawn in a seeded weighted sequence. Every answer is
checked against stdlib ``sqlite3`` running the same WHERE text over the
ground-truth rows: the engine promises SQLite's dialect, so SQLite is the
reference.
"""

from __future__ import annotations

import sqlite3
import threading
from dataclasses import dataclass

from corpus import GT_COLUMNS, MARKET_TYPES, SPORTS

TABLE = "BetfairDatabaseIndex"

# shape -> queries per block of the mix. Every block holds exactly these
# counts in a seeded order, so a run's shape mix does not vary with the seed.
# No traffic log exists to take the weights from; they are assumptions:
SHAPES = {
    # the typical call: find a market's files by id before replaying it
    "point_lookup": 5,
    # the README's example query; picks a backtest's markets
    "sport_filter": 3,
    # backtests are bounded by date as often as by sport
    "time_range": 3,
    # the SQLite dialect's date functions, less common than plain ranges
    "dialect_datetime": 2,
    "name_like": 2,
    # summaries; most are served by a rollup, a few force the scan
    "agg_rollup": 2,
    "agg_scan": 1,
    # whole rows for inspection, always with a LIMIT
    "full_row_limit": 2,
}

# The named rollup the databases carry next to the built-in one.
SPEC_ROLLUP = ("by_type", ["eventTypeId", "marketType"], ["n=count()", "r=sum(runners)"])

_BUILTIN_AGG = (
    "eventTypeId",
    "count(*) AS n",
    "sum(runners) AS r",
    "min(marketStartTime) AS first_start",
    "max(marketStartTime) AS last_start",
)
_SPEC_AGG = ("marketType", "count(*) AS n", "sum(runners) AS r")
_LIKE = ("%hcap%", "r1 %", "%odds", "%480M%", "to be%", "%stks%", "%(rev)%")
_SPORT_SETS = (("7", "4339"), ("1",), ("2", "4"), ("7",), ("1", "2", "4"))


@dataclass(frozen=True)
class Query:
    shape: str
    columns: tuple | None
    where: str
    group_by: tuple | None = None
    limit: int | None = None
    use_rollups: bool = True

    def run(self, db) -> list[dict]:
        return db.select(
            list(self.columns) if self.columns else None,
            self.where,
            self.limit,
            group_by=list(self.group_by) if self.group_by else None,
            use_rollups=self.use_rollups,
        )


class QueryGen:
    """Seeded weighted query sequence, drawn in blocks that hold each shape
    as often as ``SHAPES`` says; parameters come from the oracle's current
    rows so point lookups hit real markets."""

    def __init__(self, rng):
        self.rng = rng
        self._block = [shape for shape, n in SHAPES.items() for _ in range(n)]

    def draw(self, blocks: int, market_ids: list[str]) -> list[Query]:
        out = []
        for _ in range(blocks):
            shapes = list(self._block)
            self.rng.shuffle(shapes)
            out += [self._one(shape, market_ids) for shape in shapes]
        return out

    def _day(self) -> str:
        return f"2023-{self.rng.randrange(1, 13):02d}-{self.rng.randrange(1, 29):02d}"

    def _one(self, shape: str, market_ids: list[str]) -> Query:
        rng = self.rng
        if shape == "point_lookup":
            return Query(
                shape,
                ("marketId", "marketName", "eventTypeId", "marketStartTime"),
                f"marketId = '{rng.choice(market_ids)}'",
            )
        if shape == "sport_filter":
            sports = rng.choice(_SPORT_SETS)
            mtype = rng.choice(sorted({t for s in sports for t in MARKET_TYPES[s]}))
            ids = ",".join(f"'{s}'" for s in sports)
            return Query(
                shape,
                ("marketId", "marketType", "bspMarket"),
                f"eventTypeId IN ({ids}) AND marketType = '{mtype}' "
                f"AND bspMarket = {rng.choice(('true', 'false'))}",
            )
        if shape == "time_range":
            day = self._day()
            days = rng.choice((1, 3, 7))
            return Query(
                shape,
                ("marketId", "marketStartTime", "eventId"),
                f"marketStartTime >= '{day}T00:00:00.000Z' AND marketStartTime < "
                f"strftime('%Y-%m-%dT%H:%M:%S.000Z', '{day}', '+{days} days')",
            )
        if shape == "dialect_datetime":
            form = rng.randrange(4)
            if form == 0:
                where = (
                    f"strftime('%H', marketStartTime) = '{rng.randrange(24):02d}' "
                    f"AND eventTypeId = '{rng.choice(SPORTS)[0]}'"
                )
            elif form == 1:
                where = f"date(marketStartTime, '+1 day') = '{self._day()}'"
            elif form == 2:
                where = (
                    f"strftime('%w', marketStartTime) = '{rng.randrange(7)}' AND "
                    f"date(marketStartTime, 'start of month') = "
                    f"'2023-{rng.randrange(1, 13):02d}-01'"
                )
            else:
                where = f"date(marketStartTime, 'weekday 0') = date('{self._day()}', 'weekday 0')"
            return Query(shape, ("marketId", "marketStartTime"), where)
        if shape == "name_like":
            return Query(
                shape, ("marketId", "marketName"), f"marketName LIKE '{rng.choice(_LIKE)}'"
            )
        if shape in ("agg_rollup", "agg_scan"):
            use_rollups = shape == "agg_rollup"
            if rng.random() < 0.5:
                sports = ",".join(f"'{s}'" for s in rng.choice(_SPORT_SETS))
                return Query(
                    shape, _BUILTIN_AGG, f"eventTypeId IN ({sports})",
                    ("eventTypeId",), use_rollups=use_rollups,
                )
            return Query(
                shape, _SPEC_AGG, f"eventTypeId = '{rng.choice(SPORTS)[0]}'",
                ("marketType",), use_rollups=use_rollups,
            )
        sport = rng.choice(SPORTS)[0]
        return Query(
            shape,
            None,
            f"eventTypeId = '{sport}' AND marketType = '{rng.choice(MARKET_TYPES[sport])}'",
            limit=rng.choice((10, 25)),
        )


class Oracle:
    """Ground truth in an in-memory SQLite table, kept in step with every
    write the benchmark makes."""

    def __init__(self, rows: list[dict], all_columns: list[str]):
        self.all_columns = list(all_columns)
        self._lock = threading.Lock()
        self._con = sqlite3.connect(":memory:", check_same_thread=False)
        types = {"bspMarket": "INTEGER", "turnInPlayEnabled": "INTEGER", "runners": "INTEGER"}
        cols = ", ".join(f"{c} {types.get(c, 'TEXT')}" for c in GT_COLUMNS)
        self._con.execute(f"CREATE TABLE {TABLE} ({cols})")
        self.upsert(rows)

    def upsert(self, rows: list[dict]) -> None:
        """Insert rows, replacing any row with the same metadata path (the
        index's market key)."""
        with self._lock:
            self._con.executemany(
                f"DELETE FROM {TABLE} WHERE marketMetadataFilePath = ?",
                [(r["marketMetadataFilePath"],) for r in rows],
            )
            self._con.executemany(
                f"INSERT INTO {TABLE} VALUES ({','.join('?' * len(GT_COLUMNS))})",
                [tuple(r[c] for c in GT_COLUMNS) for r in rows],
            )

    def _fetch(self, sql: str) -> list[tuple]:
        with self._lock:
            return self._con.execute(sql).fetchall()

    def size(self) -> int:
        return self._fetch(f"SELECT count(*) FROM {TABLE}")[0][0]

    def market_ids(self) -> list[str]:
        return [r[0] for r in self._fetch(f"SELECT marketId FROM {TABLE} ORDER BY marketId")]

    def all_rows(self) -> list[tuple]:
        return self._fetch(f"SELECT {', '.join(GT_COLUMNS)} FROM {TABLE}")

    def check(self, q: Query, rows: list[dict]) -> str | None:
        """None when ``rows`` is the right answer to ``q``, else why not."""
        if q.columns is None:
            return self._check_full_rows(q, rows)
        sql = f"SELECT {', '.join(q.columns)} FROM {TABLE} WHERE {q.where}"
        if q.group_by:
            sql += " GROUP BY " + ", ".join(q.group_by)
        want = _canonical(self._fetch(sql))
        got = _canonical([tuple(r.values()) for r in rows])
        if got != want:
            return f"{q.shape}: {len(got)} rows, expected {len(want)} ({q.where})"
        return None

    def _check_full_rows(self, q: Query, rows: list[dict]) -> str | None:
        want = {
            r[0]: r
            for r in self._fetch(
                f"SELECT {', '.join(GT_COLUMNS)} FROM {TABLE} WHERE {q.where}"
            )
        }
        if len(rows) != min(q.limit, len(want)):
            return f"{q.shape}: {len(rows)} rows, expected {min(q.limit, len(want))}"
        seen = set()
        for r in rows:
            if list(r) != self.all_columns:
                return f"{q.shape}: column list differs from the index contract"
            row = tuple(r[c] for c in GT_COLUMNS)
            if row[0] in seen or want.get(row[0]) != row:
                return f"{q.shape}: wrong or repeated row for {row[0]}"
            seen.add(row[0])
        return None

    def check_contents(self, rows: list[dict]) -> str | None:
        """Whole-index check: every ground-truth column of every row."""
        got = _canonical([tuple(r[c] for c in GT_COLUMNS) for r in rows])
        want = _canonical(self.all_rows())
        if got != want:
            return f"index holds {len(got)} rows that differ from the {len(want)} expected"
        return None


def _canonical(rows) -> list[tuple]:
    return sorted((tuple(r) for r in rows), key=repr)
