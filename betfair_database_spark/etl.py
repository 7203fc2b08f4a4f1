"""The index-build pipeline: one declarative lineage from file listing to the
37-column index frame (reference flow: processor.py:138-163, re-planned for
Spark — SURVEY §3.1).

    listing ─┬─ metadata files ──┐
             ├─ data files ──────┼─ pairing joins (J1-J4) ─ JSON parse ─
             └─ bulk metadata ───┘
    ─ flatten projections (F1-F9) ─ racing broadcast join (J5) ─ index frame

Every branch is a DataFrame; import counters (reference processor.py:35-79)
are counts of the branch frames. The only Python-on-executor code is the zip
codec (no Spark codec exists for zip).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from betfair_database_spark.const import SQL_TABLE_COLUMNS
from betfair_database_spark.plans.materialize import materialize
from betfair_database_spark.functions.flatten import (
    catalogue_to_flat,
    definition_to_flat,
)
from betfair_database_spark.functions.racing import enrich_with_racing
from betfair_database_spark.sources.bulk import parse_bulk_content
from betfair_database_spark.sources.discovery import (
    KIND_BULK,
    KIND_DATA,
    KIND_METADATA,
    classify_files,
    list_files,
)
from betfair_database_spark.sources.marketdef import (
    definition_lines,
    extract_latest_definitions,
    write_derived_metadata_files,
)
from betfair_database_spark.sources.fetch import fetch_text_files
from betfair_database_spark.sources.metadata_reader import parse_metadata_content


@dataclass
class Counters:
    """Import statistics (reference processor.py:35-79)."""

    total_markets: int = 0
    markets_without_data: int = 0
    markets_without_metadata: int = 0
    corrupt_files: int = 0
    rows_inserted: int = 0
    markets_updated: int = 0
    markets_skipped: int = 0

    @property
    def markets_added(self) -> int:
        return self.rows_inserted - self.markets_updated

    def validate(self) -> bool:
        return self.total_markets == (
            self.rows_inserted
            + self.markets_skipped
            + self.corrupt_files
            + self.markets_without_data
            + self.markets_without_metadata
        )


def build_index_frame(
    spark: SparkSession, source_dir: str
) -> tuple[DataFrame, Counters]:
    """Build the 37-column index frame for every market under source_dir.

    Returns the frame (unordered; dedup on the path pair applied) and the
    import counters. The frame is lazily planned; the counters come from one
    merged aggregate job over the checkpointed branch frames.
    """
    counters = Counters()

    # The listing is a local relation, so a filter over it reads its rows
    # on the driver without a Spark job: that is how has_bulk is answered.
    classified = classify_files(list_files(spark, source_dir))
    has_bulk = not classified.where(F.col("kind") == KIND_BULK).isEmpty()
    # A local relation has no disk to re-list, so this cut protects nothing;
    # it stays as the listing's named step, where perfbench's trace counts
    # the files listed (sources.files_listed).
    listing = materialize(classified, "etl-listing")
    meta_files = listing.where(F.col("kind") == KIND_METADATA).select("stem", "path")
    data_files = listing.where(F.col("kind") == KIND_DATA).select(
        "stem", F.col("path").alias("data_path"), "length"
    )
    bulk_files = listing.where(F.col("kind") == KIND_BULK).select("path")

    # Content reads are driven by the frames that name the files — executors
    # open the files of their own partitions, no path list ever reaches the
    # driver, and only files whose content is actually consumed are read
    # (bulk files here; PAIRED metadata below — metadata-without-data
    # markets are counted but never parsed, so their bytes are never
    # fetched). Checkpointed: bulk_rows has two consumers, and later steps
    # write .json files that a lazy re-read must not pick up.
    #
    # Empty-branch short-circuit: most directories have no bulk
    # metadata.json, and the skipped fetch job (Python worker spin-up +
    # checkpoint) costs seconds. limit(0) folds the whole branch to an
    # empty LocalRelation with the exact schema — no job ever runs.
    bulk_plan = fetch_text_files(bulk_files)
    bulk_content = (
        materialize(bulk_plan, "etl-bulk-content")
        if has_bulk
        else bulk_plan.limit(0)
    )

    # --- bulk metadata takes precedence (J4; processor.py:195-258) ----------
    bulk_rows = parse_bulk_content(bulk_content)
    bulk_paired = bulk_rows.join(data_files, "stem", "inner")
    data_remaining = data_files.join(bulk_rows.select("stem"), "stem", "left_anti")

    # --- pairing (J1) + anti-joins (J2/J3) ----------------------------------
    # One full-outer join materializes all three pairing relationships
    # (paired / metadata-only / data-only) in a single shuffle; the inner and
    # anti variants are filters over it, and the J2/J3 counters are aggregates
    # over the same checkpointed frame instead of separate join jobs.
    pairing = materialize(
        meta_files.join(data_remaining, "stem", "full_outer"), "etl-pairing"
    )
    paired = pairing.where(
        F.col("path").isNotNull() & F.col("data_path").isNotNull()
    ).select("stem", "path", "data_path", "length")
    orphan_data = pairing.where(F.col("path").isNull()).select(
        "stem", "data_path", "length"
    )

    # --- derive definitions for orphan data files (S5/S6) -------------------
    # The orphan path frame itself drives an executor-side read (the file set
    # is data-dependent — see sources.marketdef.definition_lines).
    # Same empty short-circuit as the bulk branch: no orphan data files (the
    # common case) → no token-scan job, no derived-file write pass.
    lines = definition_lines(orphan_data.select(F.col("data_path").alias("path")))
    latest_plan = extract_latest_definitions(lines)
    has_orphans = orphan_data.limit(1).count() > 0
    latest = (
        materialize(latest_plan, "etl-derived-defs")
        if has_orphans
        else latest_plan.limit(0)
    )

    derived_ok = latest.where(F.col("defn").isNotNull())
    # No checkpoint: both consumers (the file-write pass and the definition
    # union) replay a cheap join over the already-materialized `latest` and
    # `pairing` — never the orphan-file reads themselves.
    derived = (
        derived_ok.withColumnRenamed("path", "data_path")
        .join(orphan_data, "data_path", "inner")
        .select(
            F.col("defn"),
            F.concat(F.col("stem"), F.lit(".json")).alias("marketMetadataFilePath"),
            F.col("data_path").alias("marketDataFilePath"),
        )
    )
    if has_orphans:
        write_derived_metadata_files(
            derived.select(
                F.col("marketMetadataFilePath").alias("json_path"),
                F.to_json("defn").alias("defn_json"),
            )
        )

    # --- parse paired metadata files (S2) ------------------------------------
    # Fetch exactly the paired metadata files; the parse replays over the
    # checkpointed content (in-memory), so its two consumers (stats + the
    # good branch) cost one extra from_json pass, not a file re-read.
    meta_content = materialize(
        fetch_text_files(paired.select("path")), "etl-meta-content"
    )
    parsed = parse_metadata_content(meta_content)

    good = parsed.where(~F.col("corrupt")).join(
        paired.select(F.col("path"), F.col("data_path")), "path", "inner"
    )

    # --- counters: ONE job over the checkpointed branch frames ---------------
    _fill_counters(counters, listing, pairing, latest, parsed)

    # The flatten projection is the largest expression tree in the engine
    # (37 columns × per-row-timezone logic); analyzing and codegen-compiling
    # it once per source branch is measurable driver time. So the RAW struct
    # branches union first — catalogue sources into one frame, definition
    # sources (paired + derived + bulk) into another — and each flatten tree
    # is built exactly once.
    def _with_paths(df: DataFrame, struct_col: str, meta_path: str) -> DataFrame:
        return df.select(
            F.col(struct_col).alias("m"),
            F.col(meta_path).alias("marketMetadataFilePath"),
            F.col("data_path").alias("marketDataFilePath"),
        )

    cat_in = _with_paths(good.where(~F.col("is_definition")), "cat", "path").unionByName(
        _with_paths(bulk_paired.where(~F.col("is_definition")), "cat", "bulk_path")
    )
    def_in = (
        _with_paths(good.where(F.col("is_definition")), "defn", "path")
        .unionByName(
            derived.select(
                F.col("defn").alias("m"),
                "marketMetadataFilePath",
                "marketDataFilePath",
            )
        )
        .unionByName(
            _with_paths(bulk_paired.where(F.col("is_definition")), "defn", "bulk_path")
        )
    )

    def _exploded(df: DataFrame) -> DataFrame:
        return df.select("m.*", "marketMetadataFilePath", "marketDataFilePath")

    cat_flat = catalogue_to_flat(_exploded(cat_in))
    def_flat = definition_to_flat(_exploded(def_in))

    # Materialize the flattened union once: the racing build side and the
    # probe side both consume it — recomputing doubles execution time.
    flat = materialize(cat_flat.unionByName(def_flat), "etl-flat-union")

    # --- racing enrichment (J5: broadcast build/probe) -----------------------
    enriched = enrich_with_racing(flat)

    index = enriched.select(*SQL_TABLE_COLUMNS).dropDuplicates(
        ["marketMetadataFilePath", "marketDataFilePath"]
    )
    return index, counters


def _fill_counters(
    counters: Counters,
    listing: DataFrame,
    pairing: DataFrame,
    latest: DataFrame,
    parsed: DataFrame,
) -> None:
    """All import counters in ONE Spark job: a union of one-row aggregates
    over the already-checkpointed branch frames. No rescans (the inputs are
    materialized) and no per-counter count() jobs.

    markets_without_metadata = orphan data files minus files that yielded at
    least one definition-token line (corrupt or not): the token-less ones.
    """

    def one(df: DataFrame, name: str, expr: F.Column) -> DataFrame:
        return df.agg(F.coalesce(expr, F.lit(0)).cast("long").alias("v")).select(
            F.lit(name).alias("k"), "v"
        )

    frames = [
        one(
            listing,
            "total",
            F.count_distinct(
                F.when(F.col("kind").isin(KIND_METADATA, KIND_DATA), F.col("stem"))
            ),
        ),
        one(pairing, "no_data", F.sum(F.col("data_path").isNull().cast("int"))),
        one(pairing, "orphans", F.sum(F.col("path").isNull().cast("int"))),
        one(latest, "token_files", F.count("*")),
        one(latest, "corrupt_data", F.sum(F.col("corrupt").cast("int"))),
        one(parsed, "corrupt_meta", F.sum(F.col("corrupt").cast("int"))),
    ]
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    stats = {r.k: r.v for r in out.collect()}
    counters.total_markets = stats["total"]
    counters.markets_without_data = stats["no_data"]
    counters.markets_without_metadata = stats["orphans"] - stats["token_files"]
    counters.corrupt_files = stats["corrupt_meta"] + stats["corrupt_data"]
