"""The benchmark's workloads and the metrics computed from them.

A run is one invocation of the tool: a fresh process starts a Spark
session, performs one write, then serves a round of the query mix from the
same process. The write is the first of its kind in the process, as it is
for every ``index`` or ``insert`` a user runs from the command line, so its
time includes the JIT and code generation of that path. Set-up covers what
every operation pays once per process: the session, Spark's first job and
the Python workers. The work of a run is fixed; ``--seconds`` does not
change it.

``index_build``  ``index()`` of a fresh corpus of every file kind, then a
                 round of the query mix on the new index. Stresses sources,
                 functions and etl.
``maintain``     one ``insert()`` batch of new, unchanged and changed
                 markets into a prebuilt database with rollups, then a round
                 of the query mix. Stresses inserts, the manifest commit,
                 rollup maintenance and the read path (plans, rollup
                 routing) after a write.

The prebuilt database does not depend on the seed: its files are written
again in every run, and its index and rollups are built once per checkout
by ``prebuild.py`` in a process of its own, then copied in.

Query rounds are a closed loop of ``CLIENTS`` threads sharing one
``BetfairDatabase``; each thread takes the next query of a seeded sequence
once its previous one has returned.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
import statistics
import subprocess
import sys
import threading
import time
from collections import defaultdict
from contextlib import nullcontext
from pathlib import Path

import corpus
import tracing
from oracle import SHAPES, Oracle, QueryGen

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

# A first index() or insert() in a process costs 25-40 s on a 4-core
# machine whatever the corpus size (its Spark jobs dominate), and a process
# pays about 18 s to start a session, its first job and its Python workers,
# so a run affords one write and two blocks of the mix.
INDEX_MARKETS = 250
DB_MARKETS = 300
BASE_SEED = 1  # the prebuilt database is the same in every run
BATCH = (150, 25, 25)  # new, unchanged duplicates (SKIP), changed (UPDATE)
CLIENTS = 2
# blocks of the query mix after the write; the first query of each shape
# compiles its plan, so one block would put p50 among those
MIX_BLOCKS = 2
MAX_ERRORS_SHOWN = 10

# name, unit, better — every workload reports all of them
END_TO_END = (
    ("setup_s", "s", "lower"),
    ("write_markets_per_s", "markets/s", "higher"),
    ("select_p50_ms", "ms", "lower"),
    ("index_bytes_per_market", "B", "lower"),
)


class Tally:
    """Operations attempted and failed; a wrong answer is a failure."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def record(self, error: str | None) -> None:
        self.attempted += 1
        if error is not None:
            self.failed += 1
            if len(self.errors) < MAX_ERRORS_SHOWN:
                self.errors.append(error)


def tree_bytes(path: Path) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def is_engine_state(path: Path) -> bool:
    """The index, rollups and manifests the engine keeps beside the
    market files."""
    return path.name.startswith(".betfairdatabase")


def copy_engine_state(src: Path, dst: Path) -> None:
    for p in src.iterdir():
        if is_engine_state(p):
            (shutil.copytree if p.is_dir() else shutil.copy2)(p, dst / p.name)


class Workload:
    def __init__(self, work: Path, seed: int):
        self.work = work
        self.rng = random.Random(seed)
        self.qgen = QueryGen(random.Random(seed * 1_000_003 + 17))
        self.tally = Tally()
        self.tracer: tracing.Tracer | None = None
        self.setup_parts: dict[str, float] = {}

    # ------------------------------------------------------------ set-up

    def start_session(self) -> None:
        from betfair_database_spark.session import get_spark

        t = time.perf_counter()
        self.spark = get_spark("perfbench")
        self.setup_parts["session.start_s"] = time.perf_counter() - t

        def load_engine(batches):
            import betfair_database_spark  # noqa: F401

            yield from batches

        # Spark's first job and one Python worker per core; the workers
        # import the engine, so one that cannot find it fails here
        t = time.perf_counter()
        n = self.spark.sparkContext.defaultParallelism
        self.spark.range(0, n, 1, n).mapInPandas(load_engine, "id long").collect()
        self.setup_parts["session.warmup_s"] = time.perf_counter() - t

    def index_bytes(self) -> int:
        return sum(tree_bytes(p) for p in self.db.database_dir.iterdir() if is_engine_state(p))

    # ------------------------------------------------------------ queries

    def op(self, kind: str, **attrs):
        return self.tracer.op(kind, **attrs) if self.tracer else nullcontext()

    def mix_round(self, samples: dict) -> None:
        queries = self.qgen.draw(MIX_BLOCKS, self.oracle.market_ids())
        n = len(queries)
        results: list = [None] * n
        order = iter(range(n))
        lock = threading.Lock()

        def client():
            while True:
                with lock:
                    i = next(order, None)
                if i is None:
                    return
                q = queries[i]
                try:
                    with self.op("select", shape=q.shape):
                        t = time.perf_counter()
                        rows = q.run(self.db)
                        results[i] = (time.perf_counter() - t, rows, None)
                except Exception as e:  # a failed query is counted, not fatal
                    results[i] = (None, None, f"{q.shape}: {type(e).__name__}: {e}")

        threads = [threading.Thread(target=client) for _ in range(CLIENTS)]
        t = time.perf_counter()
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        samples["round_wall"].append(time.perf_counter() - t)
        samples["round_queries"].append(n)
        for q, (dt, rows, err) in zip(queries, results):
            err = err or self.oracle.check(q, rows)
            self.tally.record(err)
            if err is None:
                samples["select"].append(dt)
                samples["select:" + q.shape].append(dt)

    def check_contents(self) -> None:
        """Every ground-truth column of every row the index holds."""
        self.tally.record(self.oracle.check_contents(self.db.select(list(corpus.GT_COLUMNS))))


def new_samples() -> dict:
    return defaultdict(list)


class IndexBuild(Workload):
    def setup(self) -> None:
        t = time.perf_counter()
        self.corpus = corpus.write_index_corpus(self.work / "markets", self.rng, INDEX_MARKETS)
        self.setup_parts["setup.corpus_s"] = time.perf_counter() - t
        self.start_session()
        from betfair_database_spark import BetfairDatabase

        self.db = BetfairDatabase(self.work / "markets", spark=self.spark)
        self.oracle = Oracle(self.corpus.rows, self.db.columns())

    def check_index(self, n: int) -> str | None:
        got = {k: getattr(self.db.last_counters, k) for k in self.corpus.counters}
        if got != self.corpus.counters:
            return f"index counters {got}, expected {self.corpus.counters}"
        if n != len(self.corpus.rows):
            return f"index() reports {n} rows, expected {len(self.corpus.rows)}"
        return None

    def measure(self) -> dict:
        samples = new_samples()
        with self.op("index"):
            t = time.perf_counter()
            n = self.db.index()
            dt = time.perf_counter() - t
        self.tally.record(self.check_index(n))
        samples["write_s"].append(dt)
        samples["write_markets"].append(n)
        samples["index_s"].append(dt)
        samples["bytes_per_market"].append(self.index_bytes() / n)
        self.mix_round(samples)
        self.check_contents()
        return samples


def base_corpus(db_dir: Path, n_markets: int):
    """The prebuilt database's market files. Returns (markets, ground
    truth, the id counter that later markets continue)."""
    rng = random.Random(BASE_SEED)
    ids = corpus.MarketIds(rng)
    markets, rows = corpus.write_database(db_dir, rng, ids, n_markets)
    return markets, rows, ids


def base_cache(n_markets: int) -> Path:
    """Where the prebuilt database's engine state is kept: one directory
    per engine source, benchmark source and size."""
    h = hashlib.sha256(str(n_markets).encode())
    for d in (ROOT / "betfair_database_spark", HERE):
        for p in sorted(d.rglob("*.py")):
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return ROOT / ".bench_work" / "cache" / f"maintain-{h.hexdigest()[:16]}"


def ensure_base(db_dir: Path) -> float:
    """Build the prebuilt database's engine state if this checkout has
    none yet, at ``db_dir``, the path ``maintain`` runs use; returns the
    seconds spent building (0 when it exists)."""
    cache = base_cache(DB_MARKETS)
    if cache.is_dir():
        return 0.0
    t = time.perf_counter()
    shutil.rmtree(db_dir, ignore_errors=True)  # what an interrupted run left
    # its output goes to stderr: the last line of stdout is the result
    subprocess.run(
        [sys.executable, str(HERE / "prebuild.py"), str(db_dir), str(cache), str(DB_MARKETS)],
        check=True,
        stdout=sys.stderr,
    )
    shutil.rmtree(db_dir)
    return time.perf_counter() - t


class Maintain(Workload):
    def setup(self) -> None:
        t = time.perf_counter()
        self.db_dir = self.work / "db"
        markets, self.base_rows, ids = base_corpus(self.db_dir, DB_MARKETS)
        copy_engine_state(base_cache(DB_MARKETS), self.db_dir)
        self.rng.shuffle(markets)
        self.batch = corpus.write_insert_batch(
            self.work / "batch", str(self.db_dir), self.rng, ids, markets, *BATCH
        )
        self.setup_parts["setup.corpus_s"] = time.perf_counter() - t
        self.start_session()
        from betfair_database_spark import BetfairDatabase

        self.db = BetfairDatabase(self.db_dir, spark=self.spark)
        self.oracle = Oracle(self.base_rows, self.db.columns())

    def part_files(self) -> int:
        return sum(1 for _ in self.db._index_path.rglob("*.parquet"))

    def measure(self) -> dict:
        samples = new_samples()
        batch = self.batch
        with self.op("insert"):
            t = time.perf_counter()
            n = self.db.insert(batch.source)
            dt = time.perf_counter() - t
        c = self.db.last_counters
        self.oracle.upsert(batch.upserts)
        got = (n, c.markets_updated, c.markets_skipped)
        want = (batch.n_insert + batch.n_update, batch.n_update, batch.n_skip)
        self.tally.record(
            None if got == want else f"insert (rows, updated, skipped) {got}, expected {want}"
        )
        samples["write_s"].append(dt)
        samples["write_markets"].append(batch.n_insert + batch.n_update + batch.n_skip)
        samples["insert_s"].append(dt)
        samples["actions_insert"].append(n - c.markets_updated)
        samples["actions_update"].append(c.markets_updated)
        samples["actions_skip"].append(c.markets_skipped)
        samples["part_files"].append(self.part_files())
        samples["bytes_per_market"].append(self.index_bytes() / self.oracle.size())
        self.mix_round(samples)
        self.check_contents()
        return samples


WORKLOADS = {"index_build": IndexBuild, "maintain": Maintain}


# ----------------------------------------------------------------- metrics


def end_to_end(samples: dict, setup_s: float) -> dict:
    return {
        "setup_s": setup_s,
        "write_markets_per_s": sum(samples["write_markets"]) / sum(samples["write_s"]),
        "select_p50_ms": 1000 * statistics.median(samples["select"]),
        "index_bytes_per_market": samples["bytes_per_market"][-1],
    }


def _median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def _tail_pct(n: int) -> int:
    """Highest of p99/p95/p90/p75/p50 with at least ten samples beyond it."""
    for q in (99, 95, 90, 75):
        if n * (100 - q) / 100 >= 10:
            return q
    return 50


def workload_metrics(samples: dict, setup_parts: dict) -> dict:
    """Per-workload figures of the run: the write latency, the select
    tail, throughput and per-shape medians, and the set-up split. Zero
    where the workload has no such operation."""
    sel = samples["select"]
    out = dict(setup_parts)
    out["index_s"] = _median(samples["index_s"])
    out["insert_batch_s"] = _median(samples["insert_s"])
    out["select_tail_pct"] = _tail_pct(len(sel))
    out["select_tail_ms"] = 1000 * percentile(sel, out["select_tail_pct"])
    out["select_samples"] = len(sel)
    out["select_qps"] = sum(samples["round_queries"]) / sum(samples["round_wall"])
    for shape in SHAPES:
        out[f"select.{shape}_p50_ms"] = 1000 * _median(samples["select:" + shape])
    out["database.index_part_files"] = samples["part_files"][-1] if samples["part_files"] else 0
    for a in ("insert", "update", "skip"):
        out[f"inserts.actions_{a}"] = _median(samples["actions_" + a])
    return out


_MATERIALIZE_ROLES = {
    "index": {
        "sources.list_s": "etl-listing",
        "sources.bulk_fetch_s": "etl-bulk-content",
        "sources.derive_defs_s": "etl-derived-defs",
        "sources.meta_fetch_s": "etl-meta-content",
        "etl.pairing_s": "etl-pairing",
        "functions.flatten_s": "etl-flat-union",
    },
    "insert": {
        "inserts.source_frame_s": "insert-source-frame",
        "inserts.db_listing_s": "insert-db-listing",
        "inserts.decision_join_s": "insert-decision-join",
        "inserts.decided_s": "insert-decided",
        "inserts.new_rows_s": "insert-new-rows",
        "database.upsert_replacement_s": "upsert-replacement",
    },
}


def layer_metrics(tracer: tracing.Tracer) -> dict:
    """Per-layer figures from the traced run: each is computed per
    operation and reported as the median over operations of its kind."""
    by_op = tracer.by_op()
    per: dict[str, list[float]] = {}

    def add(name: str, value: float) -> None:
        per.setdefault(name, []).append(value)

    routable = routed = 0
    probe_s = 0.0
    for op in tracer.ops:
        spans = by_op.get(op["id"], [])
        kind = op["name"][len("op:") :]

        def named(name):
            return [s for s in spans if s["name"] == name]

        def total(name):
            return sum(tracing.duration(s) for s in named(name))

        def self_total(name):
            return sum(tracing.self_time(s, spans) for s in named(name))

        probe_s += total("bench.probe")
        for metric, role in _MATERIALIZE_ROLES.get(kind, {}).items():
            add(metric, self_total("materialize:" + role))
        if kind == "index":
            add("sources.write_derived_s", total("sources.write_derived"))
            add("etl.build_index_frame_self_s", self_total("etl.build_index_frame"))
            add("database.index_write_self_s", self_total("database.index"))
            add("etl.spark_jobs", op["spark_jobs"])
            add("etl.spark_tasks", op["spark_tasks"])
            for metric, role in (
                ("sources.files_listed", "etl-listing"),
                ("sources.derived_defs", "etl-derived-defs"),
            ):
                add(metric, sum(s.get("rows", 0) for s in named("materialize:" + role)))
        elif kind == "select":
            add("plans.translate_where_ms", 1000 * total("plans.translate_where"))
            if named("rollup.route_select"):
                add("rollup.route_select_ms", 1000 * total("rollup.route_select"))
            plan = total("database.select_df")
            add("database.select_plan_ms", 1000 * plan)
            add("database.select_exec_ms", 1000 * (total("database.select") - plan))
            add("database.select_spark_jobs", op["spark_jobs"])
            add("database.select_spark_tasks", op["spark_tasks"])
            if op.get("shape") == "agg_rollup":
                routable += 1
                routed += any(s.get("routed") for s in named("rollup.route_select"))
        elif kind == "insert":
            add("inserts.build_index_frame_s", total("inserts.build_index_frame"))
            add("rollup.update_s", total("rollup.update"))
            add("inserts.spark_jobs", op["spark_jobs"])
    out = {name: _median(values) for name, values in per.items()}
    out["rollup.routed_ratio"] = routed / routable if routable else 0.0
    out["trace.probe_s"] = probe_s
    return out


# Every per-layer metric, in report order: (name, unit, better). Every
# workload reports all of them, 0 where it has no such operation.
_COUNTS_OF_WORK = {
    "select_tail_pct", "select_samples", "select_qps", "sources.files_listed",
    "sources.derived_defs", "rollup.routed_ratio", "inserts.actions_insert",
    "inserts.actions_update", "inserts.actions_skip",
}
PER_LAYER = tuple(
    (name, unit, "higher" if name in _COUNTS_OF_WORK else "lower")
    for name, unit in (
        ("session.start_s", "s"),
        ("session.warmup_s", "s"),
        ("setup.corpus_s", "s"),
        ("index_s", "s"),
        ("insert_batch_s", "s"),
        ("select_tail_ms", "ms"),
        ("select_tail_pct", "pct"),
        ("select_samples", "count"),
        ("select_qps", "1/s"),
        ("sources.list_s", "s"),
        ("sources.bulk_fetch_s", "s"),
        ("sources.derive_defs_s", "s"),
        ("sources.write_derived_s", "s"),
        ("sources.meta_fetch_s", "s"),
        ("etl.pairing_s", "s"),
        ("functions.flatten_s", "s"),
        ("etl.build_index_frame_self_s", "s"),
        ("database.index_write_self_s", "s"),
        ("etl.spark_jobs", "count"),
        ("etl.spark_tasks", "count"),
        ("sources.files_listed", "count"),
        ("sources.derived_defs", "count"),
        ("plans.translate_where_ms", "ms"),
        ("rollup.route_select_ms", "ms"),
        ("database.select_plan_ms", "ms"),
        ("database.select_exec_ms", "ms"),
        ("database.select_spark_jobs", "count"),
        ("database.select_spark_tasks", "count"),
        ("rollup.routed_ratio", "ratio"),
        *((f"select.{shape}_p50_ms", "ms") for shape in SHAPES),
        ("inserts.build_index_frame_s", "s"),
        ("inserts.source_frame_s", "s"),
        ("inserts.db_listing_s", "s"),
        ("inserts.decision_join_s", "s"),
        ("inserts.decided_s", "s"),
        ("inserts.new_rows_s", "s"),
        ("database.upsert_replacement_s", "s"),
        ("rollup.update_s", "s"),
        ("inserts.spark_jobs", "count"),
        ("database.index_part_files", "count"),
        ("inserts.actions_insert", "count"),
        ("inserts.actions_update", "count"),
        ("inserts.actions_skip", "count"),
        # time the tracer's own counts took inside measured operations
        ("trace.probe_s", "s"),
    )
)
