"""BetfairDatabase facade: index/select/insert/export/clean/size over a
directory of market files, with a Parquet-backed index
(reference: database.py:36-251).

The index is a DataFrame with an explicit 37-field schema persisted as
Parquet inside the database directory; queries run through Spark SQL with the
SQLite dialect shim. All mutation follows the reference's delete-and-rewrite
spirit (processor.py:365-375) as atomic Parquet swaps.
"""

from __future__ import annotations

import json
import os
import shutil
import socket
import threading
import time
from contextlib import contextmanager
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from betfair_database_spark.const import (
    INDEX_DIRNAME,
    MARKET_DATA_FILE_PATH,
    MARKET_METADATA_FILE_PATH,
    PARQUET_COMPRESSION,
    SQL_TABLE_COLUMNS,
    DuplicatePolicy,
)
from betfair_database_spark.etl import Counters, build_index_frame
from betfair_database_spark.exceptions import (
    ConcurrentWriterError,
    DatabaseDirectoryError,
    IndexExistsError,
    IndexMissingError,
)
from betfair_database_spark.plans.materialize import materialize
from betfair_database_spark.plans.dialect import (
    register_sqlite_functions,
    translate_where,
)
from betfair_database_spark.session import get_spark
from betfair_database_spark.sources.fetch import file_size


class BetfairDatabase:
    """Directory-backed market database with a Parquet index."""

    def __init__(
        self,
        database_dir: str | Path,
        spark: SparkSession | None = None,
        retain_snapshots: int = 1,
        lock_lease_seconds: float | None = None,
    ):
        self.database_dir = Path(database_dir)
        if not self.database_dir.exists():
            raise DatabaseDirectoryError(f"'{database_dir}' does not exist.")
        if not self.database_dir.is_dir():
            raise DatabaseDirectoryError(f"'{database_dir}' is not a directory.")
        self.spark = spark or get_spark()
        self._index_path = self.database_dir / INDEX_DIRNAME
        self.last_counters: Counters | None = None
        # per-thread backing of last_select_route: clients sharing one
        # handle each read the route of their own last select()
        self._route = threading.local()
        # Relation memo (_relation): source dir -> (key, DataFrame), one
        # entry per source (the index, each rollup), shared by the threads
        # that share this handle.
        self._relations: dict[str, tuple[tuple, DataFrame]] = {}
        self._relations_lock = threading.Lock()
        # Snapshot retention (Delta-style time travel over the versioned
        # manifest protocol): every commit also records its manifest under
        # _snapshots/v{N}.json; maintenance reaps only part-files that NO
        # retained snapshot references. retain_snapshots=1 keeps just the
        # live snapshot (storage behavior identical to a plain index);
        # higher values make select(version=...) able to read back that
        # many committed states until vacuum() prunes them.
        if retain_snapshots < 1:
            raise ValueError("retain_snapshots must be >= 1")
        self.retain_snapshots = retain_snapshots
        # Cross-host lock liveness: while held, a daemon thread refreshes
        # the lock file's mtime every lease/3; a lock whose heartbeat is
        # older than the lease is taken over regardless of host (see
        # _writer_lock). The default trades promptly-unwedged maintenance
        # against clock skew on shared storage; skew must stay << lease.
        if lock_lease_seconds is None:
            lock_lease_seconds = LOCK_LEASE_SECONDS
        if lock_lease_seconds <= 0:
            raise ValueError("lock_lease_seconds must be > 0")
        self.lock_lease_seconds = float(lock_lease_seconds)
        self._lock_depth = 0

    @property
    def last_select_route(self) -> str:
        """Which path served this thread's last select(): 'scan',
        'rollup:builtin' or 'rollup:<name>'."""
        return getattr(self._route, "value", "scan")

    @last_select_route.setter
    def last_select_route(self, route: str) -> None:
        self._route.value = route

    # ------------------------------------------------------------- writer lock

    @contextmanager
    def _writer_lock(self):
        """Single-writer mutual exclusion for every index mutator.

        The crash-atomic commit protocol (_upsert_partitions) assumes one
        writer — two interleaved reap→append→commit sequences can reap each
        other's uncommitted files or lose a committed snapshot. The
        reference gets this exclusion free from SQLite's file locking
        (reference processor.py:365-384 runs inside one locked connection);
        here an O_EXCL-created lock file beside the index carries
        ``pid host epoch``. Contention raises a loud ConcurrentWriterError
        rather than queueing: maintenance batches are operator actions, not
        a multi-writer workload.

        Liveness (two independent signals, either suffices for takeover):
        (1) the lock names a dead pid ON THIS HOST — the holder crashed
        before its ``finally``; (2) the lock's HEARTBEAT (its mtime, which
        a daemon thread refreshes every lease/3 while the lock is held)
        is older than ``lock_lease_seconds`` — the holder died on ANY
        host, including one whose pid this process cannot probe. A fresh
        heartbeat from a foreign host is never stolen. The lease is the
        standard shared-storage trade: a live-but-wedged holder that
        cannot refresh for a whole lease loses the lock, so the heartbeat
        interval is lease/3 and the refresher touches the file only while
        its contents still name this process (it never resurrects a lock
        someone else took over). Re-entrant within one handle (insert()
        auto-indexes via index())."""
        if self._lock_depth:
            self._lock_depth += 1
            try:
                yield
            finally:
                self._lock_depth -= 1
            return
        lock = self.database_dir / (INDEX_DIRNAME + ".lock")
        state = LeaseLockState()
        try:
            with lease_file_lock(lock, self.lock_lease_seconds, state):
                self._lock_depth = 1
                try:
                    yield
                finally:
                    self._lock_depth = 0
        finally:
            self._lease_lost = state.lease_lost


    # ------------------------------------------------------------------ build

    def index(self, force: bool = False) -> int:
        """Index the directory; returns the number of indexed markets
        (reference database.py:55-80)."""
        with self._writer_lock():
            # checked and removed under the lock: a forced reindex must
            # never delete an index another writer is committing into.
            # A directory without a committed manifest (a crashed index(),
            # or a pre-v2 layout) is uncommitted garbage: cleared, rebuilt.
            if not force:
                try:
                    self._committed_manifest()
                except IndexMissingError:
                    pass
                else:
                    raise IndexExistsError(
                        self.database_dir,
                        " Use force=True option to reindex the database.",
                    )
            if self._index_path.exists():
                shutil.rmtree(self._index_path)
            frame, counters = build_index_frame(self.spark, str(self.database_dir))
            # The manifest lists the committed part-files and their counts:
            # readers resolve files through it, size() sums its counts, and
            # its atomic replace is the commit point.
            parts = _write_part_files(frame, self._index_path)
            _manifest_write(self._index_path, parts)
            counters.rows_inserted = sum(e["count"] for e in parts.values())
            from betfair_database_spark.rollup import (
                rollup_specs,
                spec_rollup_build,
            )

            # full index build → full rebuild of every rollup
            for name, spec, _ in rollup_specs(self):
                spec_rollup_build(self, name, spec)
        self.last_counters = counters
        return counters.rows_inserted

    # ------------------------------------------------------------------ query

    def select_df(
        self,
        columns: list[str] | None = None,
        where: str | None = None,
        limit: int | None = None,
        version: int | None = None,
        local_tz: str | None = None,
        group_by: list[str] | None = None,
        use_rollups: bool = True,
    ) -> DataFrame:
        """DataFrame-returning select — the native query surface.

        ``version`` time-travels to an earlier committed snapshot (see
        ``snapshots()``); requires the database to have been maintained
        with ``retain_snapshots`` > 1 so the files still exist.

        ``local_tz`` (round 7) bridges SQLite's ``localtime``/``utc``
        datetime modifiers with an explicit IANA capture timezone — the
        reference delegates them to the HOST's timezone (reference
        metadata.py:40-72 semantics), which a Spark session does not
        share; without it those modifiers raise.

        ``group_by`` (round 10) turns the select into an aggregate query:
        ``columns`` may then mix group dims with ``op(col) AS alias``
        aggregates (op in count/sum/avg/min/max/approx_count_distinct,
        the variance family — round 12, served from count/sum/sumsq
        partials — and ``approx_percentile_hist(col, q)`` — round 12,
        served from a declared ``hist(col, lo, hi, nbins)`` partial; the
        binning DEFINES the function, so it errors loudly without one.
        ``approx_percentile(col, q)`` — round 13 — is the PARAMETER-FREE
        drift-proof quantile: a log-linear sketch (qsketch) with no
        declared range, relative error <= 1/128; it routes when a spec
        stores ``qsketch(col)`` and otherwise builds the same sketch
        from raw rows through a two-level scan, so its value never
        depends on rollup freshness;
        avg routes when the covering spec stores BOTH ``sum(col)`` and
        ``count(col)`` — it is served as the sum/count division on both
        paths). WHERE may reference derived rollup dims (round 11): the
        routed path filters the stored dim column, the scan fallback
        resolves the persisted spec expression in a subquery.
        **Rollup auto-routing**: when a FRESH materialized rollup
        (built-in or named spec) covers the query — dims, aggregates and
        every WHERE identifier — the answer is served from the rollup
        and the index parquet is NEVER read (rollup-sized IO instead of
        a scan; the snapshot protocol guarantees equality). Anything
        uncovered, ambiguous or stale falls back to the scan silently;
        ``last_select_route`` records which path served the query
        ('rollup:<name>', 'rollup:builtin' or 'scan').
        ``use_rollups=False`` forces the scan. Bare aggregates with no
        dims route too (pass ``group_by=[]`` or just aggregate columns).
        """
        self.last_select_route = "scan"
        if use_rollups and version is None:
            from betfair_database_spark.rollup import route_select

            routed = route_select(self, columns, where, group_by, local_tz)
            if routed is not None:
                self.last_select_route = routed[0]
                out = routed[1]
                return out.limit(limit) if limit is not None else out
        df = self._read_index(version=version)
        register_sqlite_functions(self.spark)
        col_list = list(columns) if columns else list(SQL_TABLE_COLUMNS)
        gb_list = list(group_by) if group_by else []
        # Bound per call, not as a session-global view that a select on
        # another database could replace. Keyword binding formats the SQL
        # text, so braces in user or spec text are doubled (_braces).
        from_clause = "{index}"
        # scan fallback for derived-dim rollup queries: project the
        # persisted spec's expression as the alias in a subquery, so the
        # same query text — SELECT, GROUP BY, and (round 11) WHERE, the
        # latter for bare aggregates too — runs whether or not the
        # rollup is fresh. Aliases shadowing real index columns are
        # never substituted (derived_dim_exprs), so plain reference
        # selects are unaffected.
        names = []
        if group_by is not None:
            names += [c.strip() for c in col_list] + [
                g.strip() for g in gb_list
            ]
        if where:
            from betfair_database_spark.rollup import _where_idents

            wid = _where_idents(where)
            if wid:
                names += sorted(wid)
        if names:
            from betfair_database_spark.rollup import derived_dim_exprs

            derived = derived_dim_exprs(self, names)
            if derived:
                proj = ", ".join(
                    f"({e}) AS {a}" for a, e in sorted(derived.items())
                )
                from_clause = f"(SELECT *, {_braces(proj)} FROM {{index}})"
        # aggregate-entry rewrite applies to BARE aggregates too
        # (group_by=None): routed and scan answers must come from the
        # same estimator/division regardless of grouping shape
        from betfair_database_spark.rollup import _PCTL_COL_RE

        hist_params = None
        pctl_cols = set()
        for c in col_list:
            if (m := _PCTL_COL_RE.match(c)) is None:
                continue
            if m.group(3) is None:
                # without an alias the entry would fall through
                # _scan_agg_sql untransformed and die in Spark analysis
                # with an opaque undefined-function error — use the same
                # loud contract error as every other aggregate seam
                # (round-12 ADVICE)
                raise ValueError(
                    f"approx_percentile_hist requires an explicit "
                    f"'AS alias': {c!r}"
                )
            pctl_cols.add(m.group(1))
        if pctl_cols:
            # the function is DEFINED by its declared binning: resolve
            # (lo, hi, nbins) from persisted spec metas (stale-readable),
            # loud error when absent or ambiguous
            from betfair_database_spark.rollup import hist_params_for

            hist_params = hist_params_for(self, pctl_cols)
        from betfair_database_spark.rollup import _PCTL2_COL_RE

        where_sql = (
            _braces(translate_where(where, local_tz=local_tz)) if where else None
        )
        gb_sql = [_braces(g) for g in gb_list]
        if any(_PCTL2_COL_RE.match(c) for c in col_list):
            # log-linear-sketch quantile (round 13): needs the two-level
            # scan twin — per-(group, okey) counts cannot be built in a
            # flat aggregate. Parameter-free (no declared range), so no
            # spec resolution step; the sketch IS the definition. Its
            # column entries are plain identifiers (brace-free).
            sql = _qsketch_scan_sql(col_list, gb_sql, from_clause, where_sql)
        else:
            cols = ",".join(
                _braces(_scan_agg_sql(c, hist_params)) for c in col_list
            )
            sql = f"SELECT {cols} FROM {from_clause}"
            if where_sql:
                sql += f" WHERE {where_sql}"
            if gb_sql:
                sql += " GROUP BY " + ",".join(gb_sql)
        if limit is not None:
            sql += f" LIMIT {limit}"
        return self.spark.sql(sql, index=df)

    def select(
        self,
        columns: list[str] | None = None,
        where: str | None = None,
        limit: int | None = None,
        return_dict: bool = True,
        version: int | None = None,
        local_tz: str | None = None,
        group_by: list[str] | None = None,
        use_rollups: bool = True,
    ) -> list[dict | tuple]:
        """Reference-parity select returning materialized rows
        (reference database.py:119-157). ``version``/``local_tz``/
        ``group_by`` (extensions beyond the reference surface)
        time-travel to an earlier snapshot / bridge the localtime-utc
        modifiers / aggregate with rollup auto-routing (see select_df)."""
        rows = self.select_df(
            columns,
            where,
            limit,
            version=version,
            local_tz=local_tz,
            group_by=group_by,
            use_rollups=use_rollups,
        ).collect()
        if return_dict:
            return [r.asDict() for r in rows]
        return [tuple(r) for r in rows]

    def snapshots(self) -> list[dict]:
        """Committed index snapshots, oldest first: ``{"version", "rows",
        "readable", "current"}``. ``readable`` is False once ``vacuum()``
        (or maintenance under a small ``retain_snapshots``) has reaped files
        the snapshot references; ``current`` marks the live snapshot."""
        out = []
        current = _manifest_snapshot_no(self._index_path)
        for snap in _snapshot_versions(self._index_path):
            m = _snapshot_read(self._index_path, snap)
            if m is None:
                continue
            readable = all(
                (self._index_path / f"eventTypeId={k}" / name).exists()
                for k, e in m.items()
                for name in e["files"]
            )
            out.append(
                {
                    "version": snap,
                    "rows": sum(e["count"] for e in m.values()),
                    "readable": readable,
                    "current": snap == current,
                }
            )
        return out

    def diff(self, version: int, to_version: int | None = None) -> DataFrame:
        """What changed between two committed index snapshots (engine
        extension on the time-travel surface; the reference has no
        versioning at all): one row per difference with ``change_type``
        in {added, removed, changed}, named by ``marketMetadataFilePath``.
        Rows are matched on the index's row key, the (metadata path, data
        path) pair (``_ROW_KEY``). ``to_version=None`` compares against
        the live index.

        Plan: two snapshot reads full-outer-joined on the key — O(both
        snapshots' touched partitions), no driver-side row loops; the
        'changed' test compares the remaining 35 columns as one struct
        (null-safe). Snapshot readability rules are _read_index's
        (vacuumed history raises with the retained-version list)."""
        old = self._read_index(version=version)
        new = self._read_index(version=to_version)
        rest = [c for c in SQL_TABLE_COLUMNS if c not in _ROW_KEY]
        o = old.select(*_ROW_KEY, F.struct(*rest).alias("_o"))
        n = new.select(*_ROW_KEY, F.struct(*rest).alias("_n"))
        change = (
            F.when(F.col("_o").isNull(), F.lit("added"))
            .when(F.col("_n").isNull(), F.lit("removed"))
            .when(~F.col("_o").eqNullSafe(F.col("_n")), F.lit("changed"))
        )
        key = MARKET_METADATA_FILE_PATH
        return (
            _join_on_row_key(o, n, "full_outer")
            .withColumn("change_type", change)
            .where(F.col("change_type").isNotNull())
            .select(F.coalesce(key, "_r" + key).alias(key), "change_type")
        )

    def vacuum(self, retain_last: int | None = None) -> int:
        """Prune snapshot history to the newest ``retain_last`` (defaults
        to this handle's ``retain_snapshots``) and reap every part-file no
        retained snapshot references. Returns the number of files reaped.

        Order is crash-safe: stale snapshot manifests are deleted FIRST —
        a crash mid-way leaves orphaned part-files that the next
        maintenance pass reaps as uncommitted garbage."""
        keep = retain_last if retain_last is not None else self.retain_snapshots
        if keep < 1:
            raise ValueError("retain_last must be >= 1")
        with self._writer_lock():
            return self._vacuum_locked(keep)

    def _vacuum_locked(self, keep: int) -> int:
        live = self._committed_manifest()  # before anything is deleted
        versions = _snapshot_versions(self._index_path)
        snap_dir = self._index_path / _SNAPSHOT_DIRNAME
        for snap in versions[:-keep]:
            (snap_dir / _snapshot_name(snap)).unlink(missing_ok=True)
        protected = _retained_file_set(self._index_path, keep)
        for k, e in live.items():  # never reap the live snapshot
            for name in e["files"]:
                protected.add(f"eventTypeId={k}/{name}")
        stale = [
            rel
            for key in _list_partition_keys(self._index_path)
            for name in _list_part_files(self._index_path, key)
            if (rel := f"eventTypeId={key}/{name}") not in protected
        ]
        self._reap_files(stale)
        return len(stale)

    @staticmethod
    def columns() -> list:
        """Queryable database columns, in contract order."""
        return list(SQL_TABLE_COLUMNS)

    def size(self) -> int:
        """Number of indexed entries (reference database.py:232-237).

        Served from the committed manifest's per-partition counts — no
        Spark job, no parquet footer reads, O(1) at any index scale.
        Raises IndexMissingError when no manifest is committed."""
        return sum(e["count"] for e in self._committed_manifest().values())

    # ------------------------------------------------------- materialized rollup

    def suggest_hist_binning(
        self, col: str, nbins: int = 32, alias: str | None = None
    ) -> str:
        """One min/max scan of the live index -> a ready
        ``alias=hist(col, lo, hi, nbins)`` spec string for
        ``create_rollup(aggs=[...])`` (round 12): later out-of-range
        values clamp into the edge bins, so the binning stays correct as
        data grows — only edge-bin resolution degrades."""
        from betfair_database_spark.rollup import suggest_hist_binning

        return suggest_hist_binning(
            self._read_index(), col, nbins=nbins, alias=alias
        )

    def create_rollup(
        self,
        name: str | None = None,
        dims: list[str] | None = None,
        aggs: list[str] | None = None,
    ) -> int:
        """Materialize a summary rollup and keep it incrementally
        maintained by insert()/clean() — a continuous-aggregate
        (hypertable-rollup) engine extension with no reference analogue
        (see rollup.py for the maintenance and consistency contract).

        No arguments → the built-in per-(eventTypeId, start date) rollup,
        which is the reserved spec ``rollup.BUILTIN_SPEC`` (also the heal
        for a stale or older-format built-in). With ``name`` + ``dims`` +
        ``aggs`` → a NAMED user-spec rollup (round 9): ``dims`` are index
        columns or ``alias=SQL_EXPR`` derived dims, ``aggs`` are
        ``alias=op(col)`` with op in
        count/sum/sumsq/min/max/approx_count_distinct, or
        ``alias=hist(col, lo, hi, nbins)`` (round 12) — a mergeable
        fixed-bin histogram partial that serves
        ``approx_percentile_hist(col, q)`` select() queries. Any number of
        named rollups coexist; they and the built-in share one mechanism:
        the same partition-incremental maintenance, atomic swap,
        StaleRollupError guard and auto-routing. Returns the stored row
        count."""
        from betfair_database_spark.rollup import (
            BUILTIN_SPEC,
            _meta_read,
            parse_spec,
            spec_rollup_build,
            spec_rollup_path,
        )

        with self._writer_lock():
            self._committed_manifest()
            if name is None:
                if dims or aggs:
                    raise ValueError("dims/aggs require a rollup name")
                return spec_rollup_build(self, None, BUILTIN_SPEC)
            if (dims is None) != (aggs is None):
                # a lone half would silently fall into the heal path and
                # discard the caller's new spec — refuse instead
                raise ValueError(
                    "pass both dims= and aggs=, or neither to rebuild the "
                    "persisted spec"
                )
            if dims is None or aggs is None:
                # re-create from the persisted spec (the heal path)
                meta = _meta_read(spec_rollup_path(self.database_dir, name))
                if meta is None or "spec" not in meta:
                    raise ValueError(
                        f"no persisted spec for rollup {name!r}; pass "
                        "dims= and aggs="
                    )
                spec = meta["spec"]
            else:
                spec = parse_spec(dims, aggs)
            return spec_rollup_build(self, name, spec)

    def rollup(self, name: str | None = None) -> DataFrame:
        """The committed rollup as a DataFrame at USER grain (partials
        merged at read time) — the built-in per-(sport, day) one by
        default, with ``rollup.ROLLUP_SCHEMA``'s columns and types, or a
        named spec rollup when ``name`` is given. Raises
        RollupMissingError when none was materialized, StaleRollupError
        when the rollup lags the index (crash between index commit and
        rollup swap) or is a built-in written by an older storage
        format."""
        from betfair_database_spark.rollup import spec_rollup_read

        return spec_rollup_read(self, name)

    def drop_rollup(self, name: str) -> bool:
        """Remove a named spec rollup (stops its maintenance). Returns
        whether it existed."""
        from betfair_database_spark.rollup import spec_rollup_path

        with self._writer_lock():
            p = spec_rollup_path(self.database_dir, name)
            existed = p.exists()
            if existed:
                shutil.rmtree(p)
            swap = p.with_suffix(".swap")
            if swap.exists():
                shutil.rmtree(swap)
            return existed

    # ------------------------------------------------------------ maintenance

    def export(self, dest: str | Path = ".", single_file: bool = True) -> Path:
        """Export the index to CSV (reference database.py:165-186).

        ``single_file=True`` (default) preserves the reference contract: one
        CSV file, written distributed then atomically moved; NULL renders as
        the empty string like csv.DictWriter. The reference itself warns this
        "can be very slow" (its database.py:172-174) — at large index scale a
        one-task final write is the bottleneck, so ``single_file=False``
        writes a directory of header-consistent ``part-*.csv`` shards in
        parallel instead (every part carries the same header row; parts
        concatenated minus headers hold exactly the single-file rows).
        """
        dest = Path(dest)
        if not single_file:
            if dest.is_dir():
                dest = dest / (self.database_dir.name + ".csv.d")
            (
                self._read_index()
                .write.mode("overwrite")
                .option("header", True)
                .option("nullValue", "")
                .option("emptyValue", "")
                .csv(str(dest))
            )
            return dest
        if dest.is_dir():
            dest = dest / (self.database_dir.name + ".csv")
        tmp = dest.parent / (dest.name + ".__tmp__")
        (
            self._read_index()
            .coalesce(1)
            .write.mode("overwrite")
            .option("header", True)
            .option("nullValue", "")
            .option("emptyValue", "")
            .csv(str(tmp))
        )
        part = next(Path(tmp).glob("part-*.csv"))
        shutil.move(str(part), str(dest))
        shutil.rmtree(tmp)
        return dest

    def clean(self) -> int:
        """Delete index entries whose market data file no longer exists;
        returns the number of removed entries (reference database.py:188-230).

        Like the reference's per-row os.path.exists, an executor-side stat
        of each row's data file path finds them, wherever the path points;
        ``_upsert_partitions`` retires them.
        """
        with self._writer_lock():
            return self._clean_locked()

    def _clean_locked(self) -> int:
        # A NULL path names no file: its row goes too.
        gone = self._read_index().where(
            file_size(F.col(MARKET_DATA_FILE_PATH)).isNull()
        )
        # Cut: the upsert reads these rows twice; a replay would re-stat.
        return self._upsert_partitions(materialize(gone, "clean-retired-rows"))

    def insert(
        self,
        source_dir: str | Path,
        copy: bool = False,
        pattern="betfair_historical",
        on_duplicates: DuplicatePolicy | str = DuplicatePolicy.UPDATE,
    ) -> int:
        """Insert market files from source_dir into the database
        (reference database.py:82-117). Returns inserted row count."""
        from betfair_database_spark.inserts import insert_markets

        with self._writer_lock():
            try:
                self._committed_manifest()
            except IndexMissingError:
                self.index()
            return insert_markets(
                self,
                Path(source_dir),
                copy=copy,
                pattern=pattern,
                on_duplicates=DuplicatePolicy(on_duplicates)
                if not isinstance(on_duplicates, DuplicatePolicy)
                else on_duplicates,
            )

    # --------------------------------------------------------------- internal

    def _committed_manifest(self) -> dict[str, dict]:
        """The committed manifest — the one definition of "an index
        exists". Raises IndexMissingError when none is committed: no index
        directory, an index() that died before its commit, or a pre-v2
        layout. Such a directory is uncommitted garbage that index()
        clears and rebuilds. An empty manifest (0 markets) is an index."""
        manifest = _manifest_read(self._index_path)
        if manifest is None:
            raise IndexMissingError(self.database_dir)
        return manifest

    def _read_index(self, version: int | None = None) -> DataFrame:
        manifest = self._committed_manifest()
        if version is not None:
            manifest = _snapshot_read(self._index_path, version)
            if manifest is None:
                raise ValueError(
                    f"unknown index snapshot version {version}; "
                    f"available: {_snapshot_versions(self._index_path)}"
                )
            missing = [
                f"eventTypeId={k}/{name}"
                for k, e in manifest.items()
                for name in e["files"]
                if not (self._index_path / f"eventTypeId={k}" / name).exists()
            ]
            if missing:
                raise ValueError(
                    f"index snapshot {version} is no longer readable — "
                    f"{len(missing)} of its part-files were vacuumed "
                    "(maintain with retain_snapshots > 1 to keep history)"
                )
        # Snapshot read: exactly the part-files the committed manifest
        # lists — uncommitted files from an in-flight (or crashed)
        # maintenance write are invisible, so a reader sees either the
        # old snapshot or the new one, never a mix.
        paths = [
            str(self._index_path / f"eventTypeId={k}" / name)
            for k, e in manifest.items()
            for name in e["files"]
        ]
        return self._relation(
            paths, _index_schema(), self._index_path, SQL_TABLE_COLUMNS
        )

    def _relation(
        self,
        paths: list[str],
        schema: StructType | None,
        base: Path,
        columns: tuple[str, ...] = (),
    ) -> DataFrame:
        """The relation over exactly ``paths`` under ``base``, memoized
        on that input. Building one lists and stats every file, a fixed
        cost per call that a warm select would otherwise pay each time.

        The key is the sorted file list plus schema, ``base`` and
        projection, never a snapshot number: ``index(force=True)``
        restarts the numbering at 1 with new files. Part-file names carry
        a fresh UUID per write and committed files are never rewritten in
        place, so equal keys mean equal relations and nothing needs
        invalidating. The value is a plain DataFrame handle, never
        ``.cache()``d (Spark's CacheManager would serve an identical plan
        stale data). One entry per ``base`` keeps memory bounded."""
        key = (
            tuple(sorted(paths)),
            None if schema is None else schema.json(),
            columns,
        )
        with self._relations_lock:
            hit = self._relations.get(str(base))
            if hit is None or hit[0] != key:
                df = _read_parquet_files(self.spark, key[0], schema, base)
                if columns:
                    df = df.select(*columns)
                hit = self._relations[str(base)] = (key, df)
            return hit[1]

    def _partition_filter(self, touched: list[str | None]) -> F.Column:
        """Predicate matching rows in the given eventTypeId partitions
        (None = the hive null partition). Partition-prunes on read."""
        vals = [v for v in touched if v is not None]
        cond = F.col("eventTypeId").isin(vals) if vals else F.lit(False)
        if any(v is None for v in touched):
            cond = cond | F.col("eventTypeId").isNull()
        return cond

    def _upsert_partitions(
        self, retired: DataFrame, added: DataFrame | None = None
    ) -> int:
        """Delete the live index rows ``retired``, append ``added``, and
        return how many rows were retired: the index's one write
        primitive, the set-based form of the reference's DELETE+INSERT
        (clean(), database.py:188-230; an insert() UPDATE,
        processor.py:365-384).

        Only the eventTypeId= partitions that lose or gain a row are
        rewritten, as their live rows minus ``retired`` (matched on
        ``_ROW_KEY``, null-safe) plus ``added``; untouched partitions
        keep their part-files byte-for-byte. One collect over ``retired``
        ∪ ``added`` finds them and the retired count: O(sports), never
        O(rows)."""
        parts = retired.select("eventTypeId", F.lit(1).alias("n"))
        if added is not None:
            parts = parts.unionByName(
                added.select("eventTypeId", F.lit(0).alias("n"))
            )
        retired_per_part = dict(parts.groupBy("eventTypeId").sum("n").collect())
        touched = list(retired_per_part)
        if not touched:
            return 0
        in_touched = self._partition_filter(touched)
        # Every retired row is in a touched partition: the filter drops
        # none, and lets the read behind ``retired`` prune to them.
        replacement = _join_on_row_key(
            self._read_index().where(in_touched),
            retired.where(in_touched).select(*_ROW_KEY),
            "left_anti",
        )
        if added is not None:
            replacement = replacement.unionByName(added)
        manifest = self._committed_manifest()
        # Materialize first: the replacement lineage reads the very parquet
        # files the swap below retires.
        repl = materialize(replacement, "upsert-replacement")
        # Crash-atomic commit protocol (round 6). Readers resolve part-files
        # through the manifest (_read_index), and the manifest swap is an
        # atomic rename — so a crash at ANY point leaves every reader on a
        # consistent snapshot:
        #   reap → write-alongside → commit (atomic) → reap old
        # Crash before commit: manifest unchanged, new files invisible.
        # Crash after commit: old files still on disk but unreferenced —
        # invisible, reaped by the next maintenance pass. Single writer
        # assumed (the reference holds the same assumption via its SQLite
        # connection, processor.py:365-384); a concurrent reader holding a
        # pre-commit file list may hit deleted files once the reap runs —
        # the snapshot guarantee is for reads started after the commit.
        touched_keys = {_part_key(v) for v in touched}
        # 0. Reap uncommitted garbage from any previously crashed writer
        #    (also covers a crash between commit and reap: those files are
        #    committed-away, i.e. unreferenced too). One _reap_files call —
        #    the protocol has exactly two reap points (pre-write, post-
        #    commit), which fault-injection tests rely on.
        protected = _retained_file_set(self._index_path, self.retain_snapshots)
        self._reap_files(
            rel
            for key in _list_partition_keys(self._index_path)
            for name in _list_part_files(self._index_path, key)
            if name not in manifest.get(key, {}).get("files", ())
            and (rel := f"eventTypeId={key}/{name}") not in protected
        )
        # 1. Write the replacement rows ALONGSIDE the live files (append
        #    never deletes); Spark's UUID part names cannot collide. The
        #    writer returns the manifest entries of what it wrote, counts
        #    from the new files' footers — no Spark job re-counts them.
        written = _write_part_files(repl, self._index_path)
        # 2. The new snapshot: untouched partitions as committed, touched
        #    ones exactly as just written. A touched partition the write
        #    left no rows in is absent from ``written``: it drops out.
        new_manifest = {
            k: e for k, e in manifest.items() if k not in touched_keys
        }
        new_manifest.update(written)
        # 3. COMMIT: atomic manifest replace.
        _manifest_write(self._index_path, new_manifest)
        # 4. Reap the replaced snapshot's files and emptied partition dirs —
        #    except files a retained snapshot still references (time travel).
        protected = _retained_file_set(self._index_path, self.retain_snapshots)
        self._reap_files(
            rel
            for k in touched_keys & set(manifest)
            for name in manifest[k]["files"]
            if (rel := f"eventTypeId={k}/{name}") not in protected
        )
        for k in touched_keys - set(written):
            gone = self._index_path / f"eventTypeId={k}"
            if gone.exists() and not any(gone.glob("*.parquet")):
                shutil.rmtree(gone)
        # Materialized-rollup maintenance (engine extension, rollup.py):
        # strictly AFTER the index commit — a crash here leaves the rollup
        # one snapshot behind, which rollup() detects (StaleRollupError)
        # rather than serving stale aggregates. Named spec rollups get the
        # same treatment.
        from betfair_database_spark.rollup import (
            rollup_update,
            spec_rollup_update,
        )

        rollup_update(self, repl, touched)
        spec_rollup_update(self, repl, touched)
        return sum(retired_per_part.values())

    def _reap_files(self, rel_paths) -> None:
        """Delete index part-files (and their local-FS .crc siblings) that no
        committed snapshot references. Factored out as the post-commit step
        so fault-injection tests can kill the protocol right after commit."""
        for rel in rel_paths:
            p = self._index_path / rel
            p.unlink(missing_ok=True)
            crc = p.parent / ("." + p.name + ".crc")
            crc.unlink(missing_ok=True)


def _read_parquet_files(
    spark: SparkSession, paths, schema: StructType | None, base: Path
) -> DataFrame:
    """A parquet relation over exactly ``paths``; partition columns are
    discovered below ``base``. No files reads as an empty frame."""
    if not paths:
        return spark.createDataFrame([], schema)
    reader = spark.read.option("basePath", str(base))
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(*paths)


def _braces(text: str) -> str:
    """``text`` escaped for keyword-bound spark.sql, which formats the
    query like str.format."""
    return text.replace("{", "{{").replace("}", "}}")


def _qsketch_scan_sql(
    col_list: list, gb_list: list, from_clause: str, where_sql: str | None
) -> str:
    """Scan-path twin of a select() containing ``approx_percentile(col,
    q) AS alias`` entries (round 13): the log-linear sketch needs
    per-(group, okey) counts, which one flat aggregate cannot build, so
    the scan restructures into two levels — inner GROUP BY dims + okeys
    (bounded inflation: occupied bins, not rows), outer GROUP BY dims
    merging the inner partials. Every co-aggregate is re-merged through
    its PARTIAL form (sums of sums, min of mins, the avg division, the
    moment formula), which is exactly what the routed path computes —
    so routed == scan holds for the whole result row, not only the
    sketch column. approx_count_distinct / approx_percentile_hist in
    the same query raise loudly (their partials have their own serving
    paths; split the query)."""
    from betfair_database_spark.rollup import (
        _AGG_COL_RE,
        _IDENT_RE,
        _MOMENT_NORMALIZE,
        _PCTL2_COL_RE,
        _PCTL_COL_RE,
        moment_sql,
        qsketch_key_sql,
        qsketch_map_merge_sql,
        qsketch_percentile_from_map_sql,
    )

    sketch_cols: list[str] = []  # distinct source columns, stable order
    inner_aggs, outer_cols = [], []
    for idx, c in enumerate(col_list):
        pm2 = _PCTL2_COL_RE.match(c)
        if pm2:
            col, q, alias = pm2.group(1), float(pm2.group(2)), pm2.group(3)
            if alias is None:
                raise ValueError(
                    f"approx_percentile requires an explicit "
                    f"'AS alias': {c!r}"
                )
            if col not in sketch_cols:
                sketch_cols.append(col)
            ki = f"__qk_{sketch_cols.index(col)}"
            collected = (
                f"sort_array(collect_list(CASE WHEN {ki} IS NOT NULL "
                f"THEN struct({ki} AS k, __qn AS n) END))"
            )
            outer_cols.append((idx, col, q, alias, collected))
            continue
        if _PCTL_COL_RE.match(c):
            raise ValueError(
                "approx_percentile_hist cannot be combined with "
                "approx_percentile in one select() — their partials "
                f"serve through different paths; split the query: {c!r}"
            )
        m = _AGG_COL_RE.match(c)
        if m:
            op, col, alias = m.group(1).lower(), m.group(2), m.group(3)
            if alias is None:
                raise ValueError(
                    "aggregates combined with approx_percentile need "
                    f"an explicit 'AS alias': {c!r}"
                )
            p = f"__p{idx}"
            if op == "approx_count_distinct":
                # the HLL register-max union is partition-independent,
                # so estimate(union of inner sketches) == the flat
                # twin's estimate — same property the routed path uses
                inner_aggs.append(
                    f"hll_sketch_agg(cast({col} as string)) AS {p}"
                )
                outer_cols.append(
                    (
                        idx,
                        f"hll_sketch_estimate(hll_union_agg({p})) "
                        f"AS {alias}",
                    )
                )
            elif op == "count" and col in (None, "*"):
                outer_cols.append((idx, f"sum(__qn) AS {alias}"))
            elif op == "count":
                inner_aggs.append(f"count({col}) AS {p}")
                outer_cols.append((idx, f"sum({p}) AS {alias}"))
            elif op == "sum":
                inner_aggs.append(f"sum({col}) AS {p}")
                outer_cols.append((idx, f"sum({p}) AS {alias}"))
            elif op in ("min", "max"):
                inner_aggs.append(f"{op}({col}) AS {p}")
                outer_cols.append((idx, f"{op}({p}) AS {alias}"))
            elif op == "avg":
                inner_aggs.append(f"sum({col}) AS {p}s")
                inner_aggs.append(f"count({col}) AS {p}c")
                outer_cols.append(
                    (
                        idx,
                        f"CASE WHEN sum({p}c) > 0 THEN sum({p}s) / "
                        f"sum({p}c) END AS {alias}",
                    )
                )
            elif op in _MOMENT_NORMALIZE:
                inner_aggs.append(f"count({col}) AS {p}c")
                inner_aggs.append(f"sum({col}) AS {p}s")
                inner_aggs.append(f"sum({col} * {col}) AS {p}q")
                outer_cols.append(
                    (
                        idx,
                        moment_sql(
                            op, f"sum({p}c)", f"sum({p}s)", f"sum({p}q)"
                        )
                        + f" AS {alias}",
                    )
                )
            else:  # pragma: no cover — regex bounds the op set
                raise ValueError(f"unsupported co-aggregate {c!r}")
            continue
        if _IDENT_RE.match(c):
            outer_cols.append((idx, c.strip()))
            continue
        raise ValueError(
            "select() entries combined with approx_percentile must be "
            f"group dims or 'op(col) AS alias' aggregates: {c!r}"
        )
    key_exprs = [
        f"{qsketch_key_sql(col)} AS __qk_{i}"
        for i, col in enumerate(sketch_cols)
    ]
    inner_gb = [g for g in gb_list] + [
        f"__qk_{i}" for i in range(len(sketch_cols))
    ]
    inner_sel = (
        [g for g in gb_list]
        + key_exprs
        + ["count(*) AS __qn"]
        + inner_aggs
    )
    inner = f"SELECT {', '.join(inner_sel)} FROM {from_clause}"
    if where_sql:
        inner += f" WHERE {where_sql}"
    inner += f" GROUP BY {', '.join(inner_gb)}"
    final = []
    for entry in sorted(outer_cols, key=lambda t: t[0]):
        if len(entry) == 2:
            final.append(entry[1])
            continue
        _, col, q, alias, collected = entry
        map_sql = (
            f"map_from_entries({collected})"
            if len(sketch_cols) == 1
            else qsketch_map_merge_sql(
                f"transform({collected}, __t -> map(__t.k, __t.n))"
            )
        )
        final.append(
            qsketch_percentile_from_map_sql(map_sql, q) + f" AS {alias}"
        )
    sql = f"SELECT {', '.join(final)} FROM ({inner})"
    if gb_list:
        sql += f" GROUP BY {', '.join(gb_list)}"
    return sql


def _scan_agg_sql(col_entry: str, hist_params: dict | None = None) -> str:
    """Scan-path twin of a select() aggregate entry, applied to EVERY
    select() column list (grouped or bare — round-11 ADVICE: the same
    query must not change estimator when its rollup goes stale). Two
    rewrites:

    - approx_count_distinct: the routed path merges the rollup's
      DataSketches HLL partials, so the scan must use the SAME sketch
      (hll_sketch_agg/hll_sketch_estimate) — Spark's native
      approx_count_distinct is HyperLogLog++ and estimates differently.
    - avg (round 11): served as sum(col)/count(col) in one place — the
      exact division the routed path computes from its sum/count
      partials; count==0 yields NULL explicitly (ANSI-safe)."""
    from betfair_database_spark.rollup import (
        _AGG_COL_RE,
        _MOMENT_NORMALIZE,
        _PCTL_COL_RE,
        hist_array_sql,
        hist_percentile_from_array_sql,
        moment_sql,
    )

    pm = _PCTL_COL_RE.match(col_entry)
    if pm and hist_params:
        # approx_percentile_hist (round 12): build the SAME fixed-bin
        # histogram the rollup partial stores (hist_bin_sql text shared)
        # from raw rows, then the SAME interpolation — the function's
        # value is identical whether or not the rollup is fresh
        c, q, alias = pm.group(1), float(pm.group(2)), pm.group(3)
        if alias and c in hist_params:
            lo, hi, nb = hist_params[c]
            arr = hist_array_sql(c, lo, hi, nb)
            twin = hist_percentile_from_array_sql(arr, lo, hi, nb, q)
            return f"{twin} AS {alias}"
    m = _AGG_COL_RE.match(col_entry)
    if not m:
        return col_entry
    op, c, alias = m.group(1).lower(), m.group(2), m.group(3)
    # No-alias entries are NEVER routable (parse_select_shape requires
    # an explicit alias), so there is no routed/scan estimator seam to
    # protect — and rewriting them would silently change the output
    # column name (the return_dict key) and the estimate between
    # releases (round-12 ADVICE). Leave them to Spark verbatim.
    if op == "approx_count_distinct" and alias:
        twin = f"hll_sketch_estimate(hll_sketch_agg(cast({c} as string)))"
        return f"{twin} AS {alias}"
    if op == "avg" and c not in (None, "*") and alias:
        twin = (
            f"CASE WHEN count({c}) > 0 THEN sum({c}) / count({c}) END"
        )
        return f"{twin} AS {alias}"
    if op in _MOMENT_NORMALIZE and c not in (None, "*") and alias:
        # variance family (round 12): same moment_sql formula the routed
        # path computes from its (count, sum, sumsq) partials — Spark's
        # native stddev/var use a streaming (Welford) recurrence whose
        # float rounding differs from the moment form, so the twin keeps
        # routed == scan when a rollup goes stale mid-session
        twin = moment_sql(op, f"count({c})", f"sum({c})", f"sum({c} * {c})")
        return f"{twin} AS {alias}"
    return col_entry


def _index_schema():
    from betfair_database_spark.const import INDEX_SCHEMA

    return INDEX_SCHEMA


# The index's row key: the ETL dedups on it and insert() groups by it. Every
# market of a bulk metadata.json shares its metadata path.
_ROW_KEY = (MARKET_METADATA_FILE_PATH, MARKET_DATA_FILE_PATH)


def _join_on_row_key(left: DataFrame, right: DataFrame, how: str) -> DataFrame:
    """Join on ``_ROW_KEY``, null-safe; ``right``'s key columns are
    renamed ``_r<column>``."""
    right = right.withColumnsRenamed({k: "_r" + k for k in _ROW_KEY})
    meta, data = (F.col(k).eqNullSafe(F.col("_r" + k)) for k in _ROW_KEY)
    return left.join(right, meta & data, how)


# Hive's directory name for the null partition value.
_HIVE_NULL_PART = "__HIVE_DEFAULT_PARTITION__"
_MANIFEST_NAME = "_manifest.json"  # leading _ → invisible to Spark file listing
_SNAPSHOT_DIRNAME = "_snapshots"  # versioned manifest copies (time travel)
# Writer-lock lease: a lock whose heartbeat (file mtime, refreshed every
# lease/3 by the holder) is older than this is taken over on any host. Must
# dwarf both the heartbeat interval and cross-host clock skew on the shared
# filesystem; BetfairDatabase(lock_lease_seconds=) overrides per handle.
LOCK_LEASE_SECONDS = 300.0


def _part_key(value: str | None) -> str:
    return _HIVE_NULL_PART if value is None else str(value)


def _lock_holder(lock: Path) -> str:
    """Raw contents of the writer lock file ('' when unreadable/gone)."""
    try:
        return lock.read_text().strip()
    except OSError:
        return ""



class LeaseLockState:
    """Mutable view into a :func:`lease_file_lock` hold — ``lease_lost``
    flips when the heartbeat detects a takeover or a full-lease refresh
    outage (the lock also raises loudly on exit when it does)."""

    lease_lost = False


@contextmanager
def lease_file_lock(
    lock: Path, lease_seconds: float, state: "LeaseLockState | None" = None
):
    """Generic single-writer file lock with a heartbeat lease — the
    protocol BetfairDatabase._writer_lock documents, reusable for any
    at-rest structure with a maintenance commit protocol (the ANN index
    uses it too). O_EXCL acquisition; dead-pid-same-host or
    expired-heartbeat takeover serialized through a claim file with
    revalidation; release by rename-verify; transient refresh failures
    retried for one lease; a lost lease raises ConcurrentWriterError on
    exit (after the release) so the caller never trusts a possibly-raced
    commit silently."""
    if state is None:
        state = LeaseLockState()
    fd = None
    for attempt in (0, 1):
        try:
            fd = os.open(str(lock), os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            break
        except FileExistsError:
            holder = _lock_holder(lock)
            if attempt or not (
                _lock_is_stale(holder)
                or _lock_lease_expired(lock, lease_seconds)
            ):
                raise ConcurrentWriterError(
                    lock, holder or "unreadable lock"
                ) from None
            # Stale: dead pid on this host, or heartbeat past the lease
            # on any host — take over. Arbitration is by RENAME to a
            # unique temp name: of N contenders that all observed the
            # same expired heartbeat, exactly ONE rename succeeds
            # (POSIX rename is atomic); losers get FileNotFoundError
            # and re-enter the O_EXCL contention, where the winner's
            # fresh lock makes them raise. A bare unlink here would
            # let a slow contender delete the winner's freshly created
            # lock and admit two writers.
            if not _lock_takeover(lock, holder, lease_seconds):
                raise ConcurrentWriterError(
                    lock, _lock_holder(lock) or "unreadable lock"
                ) from None
    stop = threading.Event()
    beat = None
    state.lease_lost = False
    mine = f"{os.getpid()} {socket.gethostname()} {time.time()}"
    try:
        os.write(fd, mine.encode())
        os.close(fd)

        def _heartbeat():
            interval = max(lease_seconds / 3.0, 0.05)
            fail_since = None  # monotonic start of the current outage
            wait = interval
            while not stop.wait(wait):
                holder = _lock_holder(lock)
                if holder and holder != mine:
                    # definitive: taken over past our lease — never
                    # touch it, and make the loss LOUD on release
                    state.lease_lost = True
                    return
                try:
                    if holder == mine:
                        os.utime(lock, None)
                    else:  # unreadable lock file: transient storage?
                        raise OSError("lock file unreadable")
                    fail_since, wait = None, interval
                except OSError:
                    # Transient storage hiccup (NFS blip): keep
                    # retrying densely for up to one lease before
                    # declaring the lease lost — a single failed utime
                    # must not silently stop refreshes while the
                    # holder keeps writing.
                    now = time.monotonic()
                    if fail_since is None:
                        fail_since = now
                    if now - fail_since >= lease_seconds:
                        state.lease_lost = True
                        return
                    wait = min(interval, 0.2)

        beat = threading.Thread(
            target=_heartbeat, name="bfdb-lock-heartbeat", daemon=True
        )
        beat.start()
        yield state
    finally:
        stop.set()
        if beat is not None:
            beat.join(timeout=5)
        _lock_release(lock, mine)
    if state.lease_lost:
        # The write COMPLETED, but the lease expired mid-way (storage
        # outage or takeover) — another writer may have interleaved.
        # Surface it loudly so the operator re-verifies instead of
        # trusting a possibly-raced commit.
        raise ConcurrentWriterError(
            lock,
            "lock lease lost while writing (heartbeat could not be "
            "refreshed for a full lease, or the lock was taken over) — "
            "verify the data and re-run the operation",
        )


def _lock_takeover(
    lock: Path, observed_holder: str, lease_seconds: float
) -> bool:
    """Remove a stale lock so the caller may retry O_EXCL. Returns True
    iff the stale lock is gone; False means contention (caller raises).

    A bare ``unlink`` here is the two-writers bug the round-9 ADVICE
    flagged: of two contenders that both observed the same expired
    heartbeat, the slower one's unlink can delete the faster one's
    FRESHLY CREATED lock. Worse, rename-only arbitration has the same
    hole one level down — the slow contender can rename the winner's
    fresh lock away. The fix is a two-layer protocol:

    1. **Claim**: takeovers are serialized through an O_EXCL-created
       ``.tko`` claim file — at most one contender is inside the
       takeover critical section. A claim whose own mtime ages past the
       lease belongs to a crashed claimant and is swept.
    2. **Revalidate inside the claim**: the live lock must still carry
       the exact contents we judged stale. A takeover that completed
       while we were claiming left a FRESH lock (different contents) —
       report contention, never touch it. Only then is the stale file
       renamed to a unique temp (atomic; content re-verified; a
       mismatch is restored via link-if-absent, never clobbered) and
       discarded.

    Residual: a doubly-degenerate race (crashed claimant + two sweepers)
    can still orphan a just-created lock — the orphan's heartbeat
    detects the foreign contents and raises loudly on exit (the
    lease model's inherent limit without storage-side fencing)."""
    claim = lock.with_name(lock.name + ".tko")
    try:
        cfd = os.open(str(claim), os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    except FileExistsError:
        if not _lock_lease_expired(claim, lease_seconds):
            return False  # live takeover in progress elsewhere
        claim.unlink(missing_ok=True)  # crashed claimant
        try:
            cfd = os.open(str(claim), os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            return False
    try:
        os.write(
            cfd,
            f"{os.getpid()} {socket.gethostname()} {time.time()}".encode(),
        )
        os.close(cfd)
        current = _lock_holder(lock)
        if current != observed_holder:
            # the lock changed while we acquired the claim: released
            # (retry O_EXCL) or re-acquired fresh (contention)
            return current == "" and not lock.exists()
        tmp = lock.with_name(
            f"{lock.name}.tkotmp.{os.getpid()}.{time.time_ns()}"
        )
        try:
            os.rename(lock, tmp)
        except OSError:
            return True  # just released: the O_EXCL retry arbitrates
        if _lock_holder(tmp) != observed_holder:
            _lock_restore(tmp, lock)  # a fresh lock we must not touch
            tmp.unlink(missing_ok=True)
            return False
        tmp.unlink(missing_ok=True)
        return True
    finally:
        claim.unlink(missing_ok=True)


def _lock_restore(tmp: Path, lock: Path) -> None:
    """Put back a raced-away FRESH lock (renamed to ``tmp`` before we
    discovered it was not ours). ``os.link`` is the atomic
    link-if-absent path; filesystems without hard-link support (some
    NFS/object-store mounts — targets the lease design explicitly
    serves) raise, and silently skipping the restore there would delete
    the new holder's lock and admit a second writer for up to one full
    lease (round-11 ADVICE). Fallback: re-create the lock via O_EXCL
    with ``tmp``'s contents — same never-clobber semantics, atomic
    presence (the content write follows the exclusive create, and
    ``_lock_holder`` readers treat a torn read as foreign/unreadable,
    which is loud, never stolen)."""
    try:
        os.link(tmp, lock)
        return
    except FileExistsError:
        return  # a new lock reappeared meanwhile: nothing to restore
    except OSError:
        pass  # no hard-link support: copy/restore below
    try:
        data = tmp.read_bytes()
        fd = os.open(str(lock), os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        try:
            os.write(fd, data)
        finally:
            os.close(fd)
    except (FileExistsError, OSError):
        pass  # lock reappeared (or tmp vanished): nothing to restore


def _lock_release(lock: Path, mine: str) -> None:
    """Release via the same rename arbitration: a plain check-then-unlink
    could delete a NEW holder's lock if a lease takeover lands between the
    check and the unlink. Renaming first makes the race harmless — if the
    renamed file turns out not to be ours, it is restored."""
    tmp = lock.with_name(f"{lock.name}.rel.{os.getpid()}.{time.time_ns()}")
    try:
        os.rename(lock, tmp)
    except OSError:
        return  # already taken over and released/renamed by someone else
    if _lock_holder(tmp) == mine:
        tmp.unlink(missing_ok=True)
        return
    # not ours anymore: restore the new holder's lock
    _lock_restore(tmp, lock)
    tmp.unlink(missing_ok=True)


def _lock_lease_expired(lock: Path, lease_seconds: float) -> bool:
    """True iff the lock file's heartbeat (mtime, refreshed every lease/3
    by the holder's daemon thread) is older than the lease — the holder
    died, on ANY host. False for a missing file (just released; the
    caller's O_EXCL retry arbitrates)."""
    try:
        age = time.time() - lock.stat().st_mtime
    except OSError:
        return False
    return age > lease_seconds


def _lock_is_stale(holder: str) -> bool:
    """True iff the lock names a dead pid on THIS host. Unreadable or
    foreign-host locks are never treated as stale — be loud, don't steal."""
    parts = holder.split()
    if len(parts) < 2 or parts[1] != socket.gethostname():
        return False
    try:
        pid = int(parts[0])
    except ValueError:
        return False
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return True
    except PermissionError:
        return False  # alive, owned by someone else
    return False


def _write_part_files(frame: DataFrame, index_path: Path) -> dict[str, dict]:
    """The one index part-file writer, for index() and maintenance alike.
    Appends ``frame`` beside whatever is on disk (it never deletes; the
    manifest commit decides what is live) and returns the manifest
    entries of what it wrote: partition key → ``{"count": rows, "files":
    [names of the part-files this write added]}``. The count is the sum
    of those files' parquet footer row counts — a driver-side read of
    the bytes just written, no Spark job — so a manifest's counts and
    file lists always describe the same files.

    Layout for scale: hive-partitioned by eventTypeId (the most selective
    common predicate → partition pruning) and sorted by marketStartTime
    within partitions (parquet min/max stats → row-group skipping for
    time-range queries). Cardinality of eventTypeId is a few dozen sports,
    so the partition count stays sane at any corpus size.

    "Added" is computed against EVERYTHING on disk (live + retained-
    snapshot + uncommitted files), not just the live manifest, or a
    retained older snapshot's files would be adopted into the new
    manifest as if freshly written; Spark's UUID part names cannot
    collide."""
    import pyarrow.parquet as pq

    before = {
        key: set(_list_part_files(index_path, key))
        for key in _list_partition_keys(index_path)
    }
    (
        frame.repartition(F.col("eventTypeId"))
        .sortWithinPartitions("marketStartTime")
        .write.mode("append")
        .option("compression", PARQUET_COMPRESSION)
        # marketId is the point-lookup key (the reference's README
        # queries select single markets); a parquet bloom filter lets
        # a 100 TB scan skip every row group that provably lacks the
        # id — the sort key covers RANGE predicates, blooms cover
        # EQUALITY on the high-cardinality column the sort cannot.
        # Adaptive sizing: each file writer keeps 11 candidate filters
        # (1 MiB down to 1 KiB, the writer's floor) and on close writes
        # the smallest whose 1%-FPP capacity covers the distinct ids it
        # saw (~1 KiB for a file of 50 markets).
        # The adaptive key is honoured only in its global form, and any
        # expected.ndv setting turns it off; marketId is the only
        # bloom-enabled column, so the global key touches nothing else.
        .option("parquet.bloom.filter.enabled#marketId", "true")
        .option("parquet.bloom.filter.adaptive.enabled", "true")
        .option("parquet.bloom.filter.candidates.number#marketId", "11")
        .partitionBy("eventTypeId")
        .parquet(str(index_path))
    )
    added = {}
    for key in _list_partition_keys(index_path):
        old = before.get(key, set())
        names = [n for n in _list_part_files(index_path, key) if n not in old]
        if names:
            rows = sum(
                pq.read_metadata(index_path / f"eventTypeId={key}" / n).num_rows
                for n in names
            )
            added[key] = {"count": rows, "files": names}
    return added


def _manifest_write(index_path: Path, partitions: dict[str, dict]) -> int:
    """Atomically replace the manifest (write temp + rename): this IS the
    commit point of the maintenance protocol. ``partitions`` maps partition
    key → ``{"count": int, "files": [part-file names]}``.

    Every commit gets a monotonically increasing snapshot number and a
    copy of its manifest under ``_snapshots/v{N}.json`` (written BEFORE
    the atomic rename — a crash in between leaves an orphan snapshot file
    that the next commit simply overwrites, since numbering derives from
    the committed manifest). Returns the committed snapshot number."""
    snap = _manifest_snapshot_no(index_path) + 1
    payload = json.dumps(
        {"version": 2, "snapshot": snap, "partitions": partitions},
        sort_keys=True,
    )
    snap_dir = index_path / _SNAPSHOT_DIRNAME
    snap_dir.mkdir(exist_ok=True)
    (snap_dir / _snapshot_name(snap)).write_text(payload)
    tmp = index_path / (_MANIFEST_NAME + ".tmp")
    tmp.write_text(payload)
    os.replace(tmp, index_path / _MANIFEST_NAME)
    return snap


def _snapshot_name(snap: int) -> str:
    return f"v{snap:08d}.json"


def _manifest_snapshot_no(index_path: Path) -> int:
    """Snapshot number of the committed manifest; 0 when none is
    committed (absent, unreadable or pre-v2), so the first commit is 1."""
    p = index_path / _MANIFEST_NAME
    try:
        data = json.loads(p.read_text())
        return int(data.get("snapshot", 0))
    except (OSError, ValueError, TypeError):
        return 0


def _snapshot_versions(index_path: Path) -> list[int]:
    """Committed snapshot numbers on disk, ascending (orphans from a
    crash-between-copy-and-commit are excluded: nothing newer than the
    committed manifest counts)."""
    d = index_path / _SNAPSHOT_DIRNAME
    if not d.is_dir():
        return []
    current = _manifest_snapshot_no(index_path)
    out = []
    for p in d.glob("v*.json"):
        try:
            n = int(p.stem[1:])
        except ValueError:
            continue
        if n <= current:
            out.append(n)
    return sorted(out)


def _snapshot_read(index_path: Path, snap: int) -> dict[str, dict] | None:
    """A retained snapshot's manifest copy, read like _manifest_read."""
    return _read_manifest_file(
        index_path / _SNAPSHOT_DIRNAME / _snapshot_name(snap)
    )


def _retained_file_set(index_path: Path, keep: int) -> set[str]:
    """Relative paths (``eventTypeId=K/name``) referenced by the newest
    ``keep`` retained snapshots — the set maintenance must NOT reap."""
    protected: set[str] = set()
    for snap in _snapshot_versions(index_path)[-keep:]:
        m = _snapshot_read(index_path, snap)
        if m is None:
            continue
        for k, e in m.items():
            for name in e["files"]:
                protected.add(f"eventTypeId={k}/{name}")
    return protected


def _manifest_read(index_path: Path) -> dict[str, dict] | None:
    """The committed manifest: partition key → ``{"count": int, "files":
    [names]}``. None when no v2 manifest is committed — absent,
    unreadable, or a pre-v2 one (bare counts, no file list)."""
    return _read_manifest_file(index_path / _MANIFEST_NAME)


def _read_manifest_file(p: Path) -> dict[str, dict] | None:
    try:
        data = json.loads(p.read_text())
        if data["version"] != 2:
            return None
        return {
            str(k): {"count": int(e["count"]), "files": list(e["files"])}
            for k, e in data["partitions"].items()
        }
    except (OSError, ValueError, TypeError, KeyError):
        return None


def _list_part_files(index_path: Path, key: str) -> list[str]:
    """Sorted parquet part-file names currently on disk in one partition."""
    d = index_path / f"eventTypeId={key}"
    if not d.is_dir():
        return []
    return sorted(p.name for p in d.glob("*.parquet"))


def _list_partition_keys(index_path: Path) -> list[str]:
    return sorted(
        p.name.split("=", 1)[1]
        for p in index_path.glob("eventTypeId=*")
        if p.is_dir()
    )
