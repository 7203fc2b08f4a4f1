"""Seeded Betfair-shaped market corpora and their ground truth.

Self-contained: the benchmark must not depend on the test fixtures. Every
generator takes a ``random.Random`` built from the run's seed, so the same
seed writes byte-identical files.

File kinds (the shapes the importer recognises):

- ``cat_plain``   catalogue ``<id>.json`` + plaintext stream ``<id>``
- ``def_gz``      definition ``<id>.json`` + gzip stream ``<id>.gz``
- ``orphan_bz2``  bz2 stream only; the importer derives the definition
- ``orphan_zip``  zip stream only (member named ``<id>``); derived too
- ``bulk``        entry of a directory's ``metadata.json`` + plaintext stream
- ``corrupt_meta``  unparseable ``<id>.json`` + stream   -> corrupt_files
- ``no_data``       catalogue ``<id>.json`` only          -> markets_without_data
- ``no_defn``       stream with no definition line        -> markets_without_metadata
- ``corrupt_defn``  stream whose definition line is broken -> corrupt_files

Ground truth is one dict per indexed market holding the columns in
``GT_COLUMNS`` exactly as the index must store them (booleans as 0/1,
absolute paths).
"""

from __future__ import annotations

import bz2
import calendar
import gzip
import json
import os
import zipfile
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone
from pathlib import Path

GT_COLUMNS = (
    "marketId",
    "marketName",
    "marketStartTime",
    "bspMarket",
    "turnInPlayEnabled",
    "marketType",
    "runners",
    "eventTypeId",
    "eventId",
    "marketSettledTime",
    "marketMetadataFilePath",
    "marketDataFilePath",
)

# (eventTypeId, eventTypeName, weight)
SPORTS = (
    ("1", "Soccer", 0.30),
    ("2", "Tennis", 0.15),
    ("4", "Cricket", 0.10),
    ("7", "Horse Racing", 0.30),
    ("4339", "Greyhound Racing", 0.15),
)
RACING = ("7", "4339")
MARKET_TYPES = {
    "1": ("MATCH_ODDS", "OVER_UNDER_25", "CORRECT_SCORE"),
    "2": ("MATCH_ODDS", "SET_BETTING"),
    "4": ("MATCH_ODDS", "COMPLETED_MATCH"),
    "7": ("WIN", "PLACE", "EACH_WAY"),
    "4339": ("WIN", "PLACE"),
}
_SPORT_NAMES = {
    "MATCH_ODDS": "Match Odds",
    "OVER_UNDER_25": "Over/Under 2.5 Goals",
    "CORRECT_SCORE": "Correct Score",
    "SET_BETTING": "Set Betting",
    "COMPLETED_MATCH": "Completed Match",
}
_RACE_NAMES = {
    "7": ("2m Hcap Chs", "1m2f Stks", "5f Nov Stks", "2m4f Hrd", "7f Mdn", "1m Hcap"),
    "4339": ("R1 480m A5", "R4 320m Mdn", "R7 500m Or", "R2 270m S3"),
}
_VENUES = {
    "7": ("Ascot", "York", "Kempton", "Cheltenham"),
    "4339": ("Romford", "Sheffield", "Towcester"),
}
_TIMEZONES = ("Europe/London", "Europe/London", "Australia/Sydney", "America/New_York")
_YEAR_START = datetime(2023, 1, 1, tzinfo=timezone.utc)

# Share of each kind in the index corpus. The kinds are the dataset
# families of FIXTURES.md section 6; their shares are assumptions:
INDEX_KINDS = (
    # "official": Betfair's historical data, .bz2 streams that mostly have
    # no metadata file, so the importer derives the definition
    ("orphan_bz2", 0.30),
    # "uncompressed": a self-recorded catalogue with its plaintext stream
    ("cat_plain", 0.30),
    # a self-recorded stream with its definition, gzip-compressed
    ("def_gz", 0.15),
    # "bulk_metadata": one metadata.json for a directory of streams
    ("bulk", 0.15),
    # "zip-lzma": zipped streams, the least common archive
    ("orphan_zip", 0.10),
)
BULK_DIR_SIZE = 40


def iso(ts: datetime) -> str:
    return ts.strftime("%Y-%m-%dT%H:%M:%S.000Z")


@dataclass
class Corpus:
    """What a generator wrote: ground-truth rows of the markets the index
    must hold and the import counters ``index()`` must report."""

    rows: list[dict]
    counters: dict


def _market(rng, market_id: str, fmt: str) -> dict:
    """Draw one market's attributes; ``fmt`` is 'cat' or 'def'."""
    sport = rng.choices(SPORTS, weights=[s[2] for s in SPORTS])[0]
    etid = sport[0]
    mtype = rng.choice(MARKET_TYPES[etid])
    start = _YEAR_START + timedelta(
        days=rng.randrange(365), minutes=5 * rng.randrange(12 * 24)
    )
    racing = etid in RACING
    if racing:
        name = rng.choice(_RACE_NAMES[etid]) if mtype == "WIN" else (
            "To Be Placed" if mtype == "PLACE" else "Each Way"
        )
    else:
        name = _SPORT_NAMES[mtype]
    settled = start + timedelta(minutes=rng.randrange(5, 200))
    return {
        "marketId": market_id,
        "fmt": fmt,
        "eventTypeId": etid,
        "eventTypeName": sport[1],
        "marketType": mtype,
        "marketName": name,
        "start": iso(start),
        "settled": iso(settled),
        "bsp": racing and rng.random() < 0.8 or (not racing and rng.random() < 0.1),
        "inplay": rng.random() < 0.7,
        "runners": rng.randrange(2, 17),
        "eventId": str(30_000_000 + rng.randrange(2_000_000)),
        "venue": rng.choice(_VENUES[etid]) if racing else None,
        "country": ("GB" if rng.random() < 0.8 else "IE") if racing else None,
        "timezone": rng.choice(_TIMEZONES),
        "openDate": iso(start - timedelta(hours=rng.randrange(1, 48))),
    }


def changed(m: dict) -> dict:
    """The same market with attributes a re-download could change, keeping
    everything that decides its destination directory."""
    out = dict(m)
    out["marketName"] = m["marketName"] + " (rev)"
    out["runners"] = m["runners"] + 1
    return out


def catalogue_doc(m: dict) -> dict:
    event = {
        "id": m["eventId"],
        "name": f"Event {m['eventId']}",
        "timezone": m["timezone"],
        "openDate": m["openDate"],
    }
    if m["venue"] is not None:
        event["venue"] = m["venue"]
        event["countryCode"] = m["country"]
    doc = {
        "marketId": m["marketId"],
        "marketName": m["marketName"],
        "marketStartTime": m["start"],
        "totalMatched": 1000.0,
        "description": {
            "persistenceEnabled": True,
            "bspMarket": m["bsp"],
            "marketTime": m["start"],
            "suspendTime": m["start"],
            "settledTime": m["settled"],
            "bettingType": "ODDS",
            "turnInPlayEnabled": m["inplay"],
            "marketType": m["marketType"],
            "regulator": "GIBRALTAR REGULATOR",
            "marketBaseRate": 5.0,
            "discountAllowed": True,
            "priceLadderDescription": {"type": "CLASSIC"},
        },
        "runners": [
            {
                "selectionId": 10000 + i,
                "runnerName": f"Runner {i}",
                "handicap": 0.0,
                "sortPriority": i + 1,
            }
            for i in range(m["runners"])
        ],
        "eventType": {"id": m["eventTypeId"], "name": m["eventTypeName"]},
        "event": event,
    }
    if m["eventTypeId"] not in RACING:
        doc["competition"] = {"id": "900" + m["eventTypeId"], "name": "League"}
    return doc


def definition_doc(m: dict, with_id: bool = True, version: int = 2) -> dict:
    d = {
        "bspMarket": m["bsp"],
        "turnInPlayEnabled": m["inplay"],
        "persistenceEnabled": True,
        "bspReconciled": False,
        "complete": True,
        "inPlay": False,
        "crossMatching": False,
        "runnersVoidable": False,
        "discountAllowed": True,
        "marketBaseRate": 5.0,
        "eventId": m["eventId"],
        "eventTypeId": m["eventTypeId"],
        "numberOfWinners": 1,
        "bettingType": "ODDS",
        "marketType": m["marketType"],
        "status": "CLOSED",
        "marketTime": m["start"],
        "suspendTime": m["start"],
        "settledTime": m["settled"],
        "numberOfActiveRunners": m["runners"],
        "betDelay": 0,
        "runners": [
            {"status": "ACTIVE", "sortPriority": i + 1, "id": 20000 + i}
            for i in range(m["runners"])
        ],
        "regulators": ["MR_INT"],
        "timezone": m["timezone"],
        "openDate": m["openDate"],
        "version": version,
        "name": m["marketName"],
        "eventName": f"Event {m['eventId']}",
    }
    if with_id:
        d["marketId"] = m["marketId"]
    if m["venue"] is not None:
        d["venue"] = m["venue"]
        d["countryCode"] = m["country"]
    return d


def _dumps(obj) -> str:
    return json.dumps(obj, separators=(",", ":"))


def _mcm(market_id: str, pt: int, defn: dict | None = None) -> str:
    mc: dict = {"id": market_id}
    if defn is not None:
        mc["marketDefinition"] = defn
    else:
        mc["rc"] = [{"ltp": 1.5 + (pt % 7) / 10, "id": 20000 + pt % 5}]
    return _dumps({"op": "mcm", "clk": str(pt), "pt": pt, "mc": [mc]})


def stream_text(m: dict, with_defn: bool, price_lines: int = 4) -> str:
    """NDJSON market stream. With definitions, an early stale one (older
    version, other name) precedes the final one, so 'last wins' matters."""
    pt0 = 1_672_531_200_000 + int(m["marketId"].split(".")[1]) % 10_000_000
    lines = []
    if with_defn:
        stale = dict(m, marketName=m["marketName"] + " (early)", runners=m["runners"] + 2)
        lines.append(_mcm(m["marketId"], pt0, definition_doc(stale, False, version=1)))
    lines += [_mcm(m["marketId"], pt0 + 1000 * (i + 1)) for i in range(price_lines)]
    if with_defn:
        lines.append(
            _mcm(m["marketId"], pt0 + 1000 * (price_lines + 1), definition_doc(m, False))
        )
    return "\n".join(lines) + "\n"


def gt_row(m: dict, meta_path: str, data_path: str) -> dict:
    """The index row the market must produce (flatten rules: catalogue rows
    carry no marketSettledTime; definitions alias marketStartTime to
    marketTime)."""
    return {
        "marketId": m["marketId"],
        "marketName": m["marketName"],
        "marketStartTime": m["start"],
        "bspMarket": int(m["bsp"]),
        "turnInPlayEnabled": int(m["inplay"]),
        "marketType": m["marketType"],
        "runners": m["runners"],
        "eventTypeId": m["eventTypeId"],
        "eventId": m["eventId"],
        "marketSettledTime": m["settled"] if m["fmt"] == "def" else None,
        "marketMetadataFilePath": meta_path,
        "marketDataFilePath": data_path,
    }


def write_market(m: dict, directory: str) -> dict:
    """Write a ``cat_plain`` or ``def_gz`` market (by ``m['fmt']``) into
    ``directory``; returns its ground-truth row."""
    meta = os.path.join(directory, m["marketId"] + ".json")
    if m["fmt"] == "cat":
        data = os.path.join(directory, m["marketId"])
        _write_text(meta, _dumps(catalogue_doc(m)))
        _write_text(data, stream_text(m, with_defn=False))
    else:
        data = meta[: -len(".json")] + ".gz"
        _write_text(meta, _dumps(definition_doc(m)))
        _write_bytes(data, gzip.compress(stream_text(m, True).encode(), mtime=0))
    return gt_row(m, meta, data)


def _write_text(path: str, text: str) -> None:
    with open(path, "w", encoding="utf-8") as f:
        f.write(text)


def _write_bytes(path: str, data: bytes) -> None:
    with open(path, "wb") as f:
        f.write(data)


class MarketIds:
    """Unique market ids ``1.<9 digits>`` from one seeded counter."""

    def __init__(self, rng):
        self._next = 200_000_000 + rng.randrange(100_000_000)

    def __call__(self) -> str:
        self._next += 1
        return f"1.{self._next}"


def write_index_corpus(root: Path, rng, n_markets: int) -> Corpus:
    """A mixed corpus of every file kind under ``root``: ``n_markets``
    indexable markets plus one of each error kind per 500 markets (at least
    one each), so every import counter is non-zero."""
    root = Path(os.path.realpath(root))
    root.mkdir(parents=True, exist_ok=True)
    ids = MarketIds(rng)
    rows: list[dict] = []
    bulk: list[dict] = []
    kinds = [k for k, _ in INDEX_KINDS]
    weights = [w for _, w in INDEX_KINDS]
    made_dirs: set[str] = set()

    def dir_for(m: dict) -> str:
        d = os.path.join(root, m["eventTypeId"], m["start"][:7])
        if d not in made_dirs:
            os.makedirs(d, exist_ok=True)
            made_dirs.add(d)
        return d

    for _ in range(n_markets):
        kind = rng.choices(kinds, weights=weights)[0]
        fmt = "cat" if kind == "cat_plain" or (kind == "bulk" and rng.random() < 0.5) else "def"
        m = _market(rng, ids(), fmt)
        if kind in ("cat_plain", "def_gz"):
            rows.append(write_market(m, dir_for(m)))
        elif kind in ("orphan_bz2", "orphan_zip"):
            d = dir_for(m)
            text = stream_text(m, with_defn=True).encode()
            stem = os.path.join(d, m["marketId"])
            if kind == "orphan_bz2":
                data = stem + ".bz2"
                _write_bytes(data, bz2.compress(text))
            else:
                data = stem + ".zip"
                info = zipfile.ZipInfo(m["marketId"], date_time=(2023, 1, 1, 0, 0, 0))
                with zipfile.ZipFile(data, "w", zipfile.ZIP_DEFLATED) as zf:
                    zf.writestr(info, text)
            rows.append(gt_row(m, stem + ".json", data))
        else:
            bulk.append(m)

    for start in range(0, len(bulk), BULK_DIR_SIZE):
        d = root / "bulk" / str(start // BULK_DIR_SIZE)
        d.mkdir(parents=True, exist_ok=True)
        meta = str(d / "metadata.json")
        docs = []
        for m in bulk[start : start + BULK_DIR_SIZE]:
            docs.append(catalogue_doc(m) if m["fmt"] == "cat" else definition_doc(m))
            data = str(d / m["marketId"])
            _write_text(data, stream_text(m, with_defn=False))
            rows.append(gt_row(m, meta, data))
        # an entry without a data file and an invalid entry: both ignored
        ghost = _market(rng, ids(), "cat")
        docs += [catalogue_doc(ghost), {}]
        _write_text(meta, _dumps(docs))

    n_err = max(1, n_markets // 500)
    errors = root / "errors"
    errors.mkdir(exist_ok=True)
    for _ in range(n_err):
        m = _market(rng, ids(), "cat")
        _write_text(str(errors / (m["marketId"] + ".json")), "{not valid json")
        _write_text(str(errors / m["marketId"]), stream_text(m, with_defn=False))
        m = _market(rng, ids(), "cat")
        _write_text(str(errors / (m["marketId"] + ".json")), _dumps(catalogue_doc(m)))
        m = _market(rng, ids(), "def")
        _write_text(str(errors / m["marketId"]), stream_text(m, with_defn=False))
        m = _market(rng, ids(), "def")
        _write_text(
            str(errors / m["marketId"]),
            '{"op":"mcm","pt":1,"mc":[{"id":"%s","marketDefinition":{broken\n'
            % m["marketId"],
        )
    counters = {
        "total_markets": n_markets + 4 * n_err,
        "rows_inserted": n_markets,
        "markets_without_data": n_err,
        "markets_without_metadata": n_err,
        "corrupt_files": 2 * n_err,
        "markets_skipped": 0,
        "markets_updated": 0,
    }
    return Corpus(rows, counters)


def destination_dir(base: str, m: dict) -> str:
    """The ``betfair_historical`` import pattern: year/Mon/day/eventId from
    the settled time of a definition, else the start time (catalogues keep
    settledTime out of the flat row)."""
    when = m["settled"] if m["fmt"] == "def" else m["start"]
    y, mo, d = int(when[:4]), int(when[5:7]), int(when[8:10])
    return os.path.join(base, str(y), calendar.month_abbr[mo], str(d), m["eventId"])


def write_database(root: Path, rng, ids: MarketIds, n_markets: int):
    """A database directory laid out the way ``insert()`` files markets, so
    later batches can collide with it. Returns (markets, ground truth)."""
    root = Path(os.path.realpath(root))
    root.mkdir(parents=True, exist_ok=True)
    markets, rows = [], []
    for _ in range(n_markets):
        m = _market(rng, ids(), "cat" if rng.random() < 0.7 else "def")
        d = destination_dir(str(root), m)
        os.makedirs(d, exist_ok=True)
        rows.append(write_market(m, d))
        markets.append(m)
    return markets, rows


@dataclass
class Batch:
    """One insert batch: its source directory, the expected action split,
    and the index rows it adds or replaces."""

    source: str
    n_insert: int
    n_update: int
    n_skip: int
    upserts: list[dict]


def write_insert_batch(
    source: Path,
    db_root: str,
    rng,
    ids: MarketIds,
    existing: list[dict],
    n_new: int,
    n_same: int,
    n_changed: int,
) -> Batch:
    """``n_new`` unseen markets, ``n_same`` byte-identical copies of indexed
    markets (UPDATE policy -> SKIP) and ``n_changed`` indexed markets with a
    new name and runner count (-> UPDATE), all flat in ``source``.
    ``existing`` is consumed: a market is duplicated by one batch only."""
    source.mkdir(parents=True, exist_ok=True)
    db_root = os.path.realpath(db_root)
    upserts = []
    for _ in range(n_new):
        m = _market(rng, ids(), "cat" if rng.random() < 0.7 else "def")
        write_market(m, str(source))
        upserts.append(_dest_row(db_root, m))
    for _ in range(n_same):
        write_market(existing.pop(), str(source))
    for _ in range(n_changed):
        m = changed(existing.pop())
        write_market(m, str(source))
        upserts.append(_dest_row(db_root, m))
    return Batch(str(source), n_new, n_changed, n_same, upserts)


def _dest_row(db_root: str, m: dict) -> dict:
    d = destination_dir(db_root, m)
    meta = os.path.join(d, m["marketId"] + ".json")
    data = os.path.join(d, m["marketId"] + ("" if m["fmt"] == "cat" else ".gz"))
    return gt_row(m, meta, data)
