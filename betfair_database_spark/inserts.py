"""Insert (file import) with duplicate policies — the decision-join design
(reference: database.py:82-117, processor.py:335-387, market.py:135-198).

The reference interleaves the policy decision with filesystem mutation per
market; here the decision is a pure DataFrame computation (a stat of each
market's own paths, never a listing of the database, + a row-hash comparison
against parsed destination metadata), and the filesystem mutation is an
executor-side pass over the decided frame. Policy semantics preserved exactly:

  metadata destination exists:
    REPLACE           → action UPDATE (always rewrite file + index row)
    SKIP              → action SKIP
    UPDATE, row equal → action SKIP   (flattened 35-col comparison,
                                       market.py:152-158; racing columns are
                                       None on both sides of the reference's
                                       comparison and are excluded here)
    UPDATE, row diff  → action UPDATE
  metadata destination absent → action INSERT

  data file copied iff: destination absent, or REPLACE, or
  (UPDATE and incoming file larger than existing) (market.py:170-178).

Index paths always point at the destination, whether or not files moved
(market.py:195-198). Index upsert = retire the live rows at each written
destination metadata path (at a bulk ``metadata.json``, only the written
markets' rows) + append (``_upsert_partitions``), the set-based form of the
reference's DELETE+INSERT (processor.py:365-384).
"""

from __future__ import annotations

from collections.abc import Iterator
from pathlib import Path

import pandas as pd
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from betfair_database_spark.const import (
    METADATA_FILE_NAME,
    SQL_TABLE_COLUMNS,
    DuplicatePolicy,
)
from betfair_database_spark.etl import build_index_frame
from betfair_database_spark.plans.materialize import materialize
from betfair_database_spark.functions.flatten import (
    catalogue_to_flat,
    definition_to_flat,
)
from betfair_database_spark.functions.patterns import resolve_pattern
from betfair_database_spark.sources.fetch import fetch_text_files, file_size
from betfair_database_spark.sources.metadata_reader import parse_metadata_content

# Columns compared for the UPDATE-policy "has the row changed" check:
# everything except the two paths (always differ) and the four racing columns
# (None on both sides of the reference's no-additional-metadata comparison).
_HASH_COLS = [
    c
    for c in SQL_TABLE_COLUMNS
    if c
    not in (
        "marketMetadataFilePath",
        "marketDataFilePath",
        "raceId",
        "raceTypeFromName",
        "raceDistanceMeters",
        "raceDistanceFurlongs",
    )
]


def _row_hash(prefix: str = "") -> F.Column:
    return F.md5(F.to_json(F.struct(*[F.col(prefix + c).alias(c) for c in _HASH_COLS])))


def _file_ops(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Executor-side move/copy of decided markets."""
    import os
    import shutil

    for batch in batches:
        done = 0
        for row in batch.itertuples(index=False):
            os.makedirs(row.dest_dir, exist_ok=True)
            op = shutil.copy if row.is_copy else shutil.move
            if row.process_meta and os.path.exists(row.src_meta):
                if os.path.abspath(row.src_meta) != os.path.abspath(row.dest_meta):
                    op(row.src_meta, row.dest_meta)
            if row.process_data and os.path.exists(row.src_data):
                if os.path.abspath(row.src_data) != os.path.abspath(row.dest_data):
                    op(row.src_data, row.dest_data)
            done += 1
        yield pd.DataFrame({"n": [done]})


def insert_markets(
    db,
    source_dir: Path,
    copy: bool,
    pattern,
    on_duplicates: DuplicatePolicy,
) -> int:
    base = str(db.database_dir.resolve())

    frame, counters = build_index_frame(db.spark, str(source_dir))

    # --- destination paths ---------------------------------------------------
    dest_rel = resolve_pattern(pattern)
    meta_name = F.element_at(F.split("marketMetadataFilePath", "/"), -1)
    data_name = F.element_at(F.split("marketDataFilePath", "/"), -1)
    dest_dir = F.rtrim(F.concat(F.lit(base + "/"), F.coalesce(dest_rel, F.lit(""))))
    dest_dir = F.regexp_replace(dest_dir, "/+$", "")
    # Two source markets can map to the same destination paths (same file
    # names, same pattern dir). The survivor is chosen deterministically:
    # greatest marketMetadataFilePath wins — the lexicographically-last
    # source path, i.e. the file a serial alphabetical walk would process
    # last, mirroring the reference's last-write-wins on its serial loop.
    with_dest = frame.withColumns(
        {
            "dest_dir": dest_dir,
            "dest_meta": F.concat(dest_dir, F.lit("/"), meta_name),
            "dest_data": F.concat(dest_dir, F.lit("/"), data_name),
        }
    )
    payload = F.struct(*[c for c in with_dest.columns if c not in ("dest_meta", "dest_data")])
    decided = (
        with_dest.groupBy("dest_meta", "dest_data")
        .agg(F.max_by(payload, F.col("marketMetadataFilePath")).alias("_r"))
        .select("dest_meta", "dest_data", "_r.*")
    )

    # --- file facts: a stat of exactly the paths involved -------------------
    # Cut: the file pass below moves files, so the sizes and existence it
    # decides on are pinned before it runs.
    decided = materialize(
        decided.withColumns(
            {
                "incoming_size": file_size("marketDataFilePath"),
                "existing_size": file_size("dest_data"),
                "meta_exists": file_size("dest_meta").isNotNull(),
            }
        ),
        "insert-decision-join",
    )

    # --- live index rows at the batch's destinations -------------------------
    # Every decided destination, whether or not its metadata file is still
    # there: an indexed row whose file has gone is retired all the same.
    # Cut: the row-equality join and the upsert's two reads of ``retired``.
    dests = decided.select(F.col("dest_meta").alias("marketMetadataFilePath"))
    live = materialize(
        db._read_index()
        .join(F.broadcast(dests.distinct()), "marketMetadataFilePath", "left_semi")
        .select(
            "marketMetadataFilePath", "marketDataFilePath", "eventTypeId", "marketId",
            _row_hash().alias("row_hash"),
        ),
        "insert-live-rows",
    )

    # --- row-equality against existing destination metadata (UPDATE only) ----
    decided = _attach_row_equality(decided, live, on_duplicates)

    # --- policy decision -------------------------------------------------------
    policy = on_duplicates
    action = (
        F.when(~F.col("meta_exists"), F.lit("INSERT"))
        .when(F.lit(policy is DuplicatePolicy.REPLACE), F.lit("UPDATE"))
        .when(F.lit(policy is DuplicatePolicy.SKIP), F.lit("SKIP"))
        .when(F.col("rows_equal"), F.lit("SKIP"))
        .otherwise(F.lit("UPDATE"))
    )
    process_data = F.when(F.col("existing_size").isNull(), F.lit(True)).otherwise(
        F.when(F.lit(policy is DuplicatePolicy.REPLACE), F.lit(True))
        .when(F.lit(policy is DuplicatePolicy.SKIP), F.lit(False))
        .otherwise(F.col("incoming_size") > F.col("existing_size"))
    )
    decided = materialize(
        decided.withColumns(
            {"sql_action": action, "process_data": process_data}
        ),
        "insert-decided",
    )

    # --- filesystem mutation (executor-side) ----------------------------------
    # The pass counts the decided actions as it goes (observed metrics).
    actions = Observation()
    ops = decided.observe(
        actions,
        *[
            F.count_if(F.col("sql_action") == a).alias(a)
            for a in ("INSERT", "UPDATE", "SKIP")
        ],
    ).select(
        F.col("marketMetadataFilePath").alias("src_meta"),
        F.col("marketDataFilePath").alias("src_data"),
        "dest_dir",
        "dest_meta",
        "dest_data",
        (F.col("sql_action") != "SKIP").alias("process_meta"),
        "process_data",
        F.lit(copy).alias("is_copy"),
    )
    ops.mapInPandas(_file_ops, schema="n long").collect()
    n = actions.get
    counters.markets_updated = n["UPDATE"]
    counters.markets_skipped = n["SKIP"]
    counters.rows_inserted = n["INSERT"] + counters.markets_updated
    db.last_counters = counters

    # --- index upsert -----------------------------------------------------------
    # The reference's UPDATE deletes by metadata path (processor.py:365-384).
    # Every market of a bulk metadata.json shares its path: there only the
    # rows of the markets this batch wrote go.
    added = decided.where(F.col("sql_action") != "SKIP").select(
        *[
            c
            for c in SQL_TABLE_COLUMNS
            if c not in ("marketMetadataFilePath", "marketDataFilePath")
        ],
        F.col("dest_meta").alias("marketMetadataFilePath"),
        F.col("dest_data").alias("marketDataFilePath"),
    )
    written = added.select("marketMetadataFilePath", "marketId").toDF("_w_meta", "_w_mid")
    meta = F.col("marketMetadataFilePath")
    bulk = F.element_at(F.split(meta, "/"), -1) == METADATA_FILE_NAME
    same_market = F.col("marketId").eqNullSafe(F.col("_w_mid"))
    retired = live.join(
        F.broadcast(written), (meta == F.col("_w_meta")) & (~bulk | same_market), "left_semi"
    )
    db._upsert_partitions(retired, added)

    return counters.rows_inserted


def _attach_row_equality(
    decided: DataFrame, live: DataFrame, policy: DuplicatePolicy
) -> DataFrame:
    """Adds a ``rows_equal`` column: does the incoming flattened row match the
    flattened row of the existing destination metadata file? Only computed
    for the UPDATE policy; False otherwise.

    Two comparison sources, file first: (a) parse+flatten the existing
    destination metadata file (the reference's exact comparison,
    market.py:152-158); (b) for markets whose destination metadata is a bulk
    ``metadata.json`` (unparseable as a single market — the reference has no
    defined behavior there), fall back to the hash of the ``live`` index row
    keyed on (destination path, marketId)."""
    if policy is not DuplicatePolicy.UPDATE:
        return decided.withColumn("rows_equal", F.lit(False))
    # The comparison file set is data-dependent (this batch's collision
    # targets), so the path frame drives an executor-side fetch — no path
    # list on the driver.
    cmp_paths = (
        decided.where(F.col("meta_exists"))
        .select(F.col("dest_meta").alias("path"))
        .distinct()
    )

    idx_hashes = live.select("marketMetadataFilePath", "marketId", "row_hash").toDF(
        "dest_meta", "marketId", "idx_hash"
    )
    decided = decided.join(
        F.broadcast(idx_hashes.dropDuplicates(["dest_meta", "marketId"])),
        ["dest_meta", "marketId"],
        "left",
    )

    parsed = parse_metadata_content(
        fetch_text_files(cmp_paths).where(F.col("content").isNotNull())
    ).where(~F.col("corrupt"))
    # The flatten helpers emit a fixed projection including the two path
    # columns; feed the destination path through marketMetadataFilePath and
    # recover it after flattening.
    carrier = parsed.withColumns(
        {
            "marketMetadataFilePath": F.col("path"),
            "marketDataFilePath": F.lit(None).cast("string"),
        }
    )
    cat_flat = catalogue_to_flat(
        carrier.where(~F.col("is_definition")).select(
            "cat.*", "marketMetadataFilePath", "marketDataFilePath"
        )
    )
    def_flat = definition_to_flat(
        carrier.where(F.col("is_definition")).select(
            "defn.*", "marketMetadataFilePath", "marketDataFilePath"
        )
    )
    existing = cat_flat.unionByName(def_flat).select(
        F.col("marketMetadataFilePath").alias("dest_meta"),
        _row_hash().alias("existing_hash"),
    )
    equal = F.coalesce(
        _row_hash() == F.col("existing_hash"),
        _row_hash() == F.col("idx_hash"),
        F.lit(False),
    )
    out = decided.join(F.broadcast(existing), "dest_meta", "left").withColumn(
        "rows_equal", equal
    )
    return out.drop("existing_hash", "idx_hash")
