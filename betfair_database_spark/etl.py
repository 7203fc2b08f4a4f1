"""The index-build pipeline: one declarative lineage from file listing to the
37-column index frame (reference flow: processor.py:138-163, re-planned for
Spark — SURVEY §3.1).

    listing ─┬─ metadata files ──┐
             ├─ data files ──────┼─ pairing joins (J1-J4) ─ JSON parse ─
             └─ bulk metadata ───┘
    ─ flatten projections (F1-F9) ─ racing broadcast join (J5) ─ index frame

Every branch is a DataFrame. The import counters (reference
processor.py:35-79) ride on work that runs anyway: each is a
``DataFrame.observe`` metric of a lineage cut's job, or, for the market
total, a projection of the listing's rows already on the driver. No job runs
only to count. The only Python-on-executor code is the zip codec (no Spark
codec exists for zip).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
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
    import counters. The frame is lazily planned past its last cut. The
    counters are observed on the cuts' own jobs (pairing, derived
    definitions, flat union) and on the listing's driver-side rows.
    """
    # The listing is a local relation, so a filter over it reads its rows
    # on the driver without a Spark job: that is how has_bulk and the
    # market total are answered (observed metrics refuse DISTINCT).
    classified = classify_files(list_files(spark, source_dir))
    has_bulk = not classified.where(F.col("kind") == KIND_BULK).isEmpty()
    stems = classified.where(F.col("kind").isin(KIND_METADATA, KIND_DATA))
    total_markets = len({r.stem for r in stems.select("stem").collect()})
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
    # anti variants are filters over it, and the J2/J3 counters are observed
    # on the job that cuts it, not counted by separate join jobs.
    pairing_obs = Observation()
    pairing = materialize(
        meta_files.join(data_remaining, "stem", "full_outer").observe(
            pairing_obs,
            F.count("*").alias("rows"),
            F.count_if(F.col("data_path").isNull()).alias("no_data"),
            F.count_if(F.col("path").isNull()).alias("orphans"),
        ),
        "etl-pairing",
    )
    pair_stats = pairing_obs.get
    n_paired = pair_stats["rows"] - pair_stats["no_data"] - pair_stats["orphans"]
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
    has_orphans = pair_stats["orphans"] > 0
    if has_orphans:
        defs_obs = Observation()
        latest = materialize(
            latest_plan.observe(
                defs_obs,
                F.count("*").alias("token_files"),
                F.count_if("corrupt").alias("corrupt_data"),
            ),
            "etl-derived-defs",
        )
        defs_stats = defs_obs.get
    else:
        latest = latest_plan.limit(0)
        defs_stats = {"token_files": 0, "corrupt_data": 0}

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
    # Fetch exactly the paired metadata files, read by the flat-union job
    # below, once for the catalogue branch and once for the definition
    # branch. The corrupt count is observed on the catalogue branch's parse
    # only: one observed node in the plan, below every filter.
    parsed = parse_metadata_content(fetch_text_files(paired.select("path")))
    meta_obs = Observation()
    observed = parsed.observe(meta_obs, F.count_if("corrupt").alias("corrupt"))
    paired_paths = paired.select("path", "data_path")
    good = ~F.col("corrupt")
    good_cat = observed.where(good & ~F.col("is_definition")).join(paired_paths, "path")
    good_def = parsed.where(good & F.col("is_definition")).join(paired_paths, "path")

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

    cat_in = _with_paths(good_cat, "cat", "path").unionByName(
        _with_paths(bulk_paired.where(~F.col("is_definition")), "cat", "bulk_path")
    )
    def_in = (
        _with_paths(good_def, "defn", "path")
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
    # With no paired rows, adaptive execution finds the join's paired side
    # empty and never runs the observed parse, so its Observation holds no
    # row and .get fails: nothing was parsed, so 0.
    corrupt_meta = meta_obs.get["corrupt"] if n_paired else 0
    counters = Counters(
        total_markets=total_markets,
        markets_without_data=pair_stats["no_data"],
        # orphan data files minus those that yielded at least one
        # definition-token line (corrupt or not): the token-less ones
        markets_without_metadata=pair_stats["orphans"] - defs_stats["token_files"],
        corrupt_files=corrupt_meta + defs_stats["corrupt_data"],
    )

    # --- racing enrichment (J5: broadcast build/probe) -----------------------
    enriched = enrich_with_racing(flat)

    index = enriched.select(*SQL_TABLE_COLUMNS).dropDuplicates(
        ["marketMetadataFilePath", "marketDataFilePath"]
    )
    return index, counters

