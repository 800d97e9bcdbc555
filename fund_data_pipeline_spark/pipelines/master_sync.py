"""Master-list sync: clean -> consolidate -> validate -> load -> lifecycle.

Rebuilds reference entry point 2 (SURVEY §3, orchestrator
src/05_db_synchronization/01_master_sync/07_master_sync_orchestrator.py:30-38):

1. ``clean``        00_master_list_cleaner.py — header/value normalize,
                    conform to the 6 scrape columns, in-source dedup (D1)
2. ``consolidate``  01_source_consolidator.py:67-86 — union all sources,
                    sort, dedup per (ticker, asset_type, source) (D3);
                    cross-source duplicates deliberately survive
3. ``validate``     02_master_list_validator.py:37-88 — row rules, all
                    failed rules joined by '; ' (F5), valid/invalid split
4. ``load``         04_master_list_loader.py:43-85 — H7 row hash, K5
                    unconditional upsert preserving first_seen (L1)
5. ``transition``   05_status_manager.py:30-45 — L3 expiry + L4 promotion

Scale: steps 1-3 are map-side except the two keyed dedups (one shuffle
each on the natural key); the load is one keyed merge. Nothing touches the
driver.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import conform, dedup, hashing, lifecycle, merge, validate
from ..schemas import SECURITY_MASTER, SECURITY_MASTER_KEY

#: the cleaner's 6-column scrape schema (01_ft_list_scraper.py:149)
SCRAPE_COLUMNS = ["ticker", "asset_type", "name", "status", "source", "date_added"]


def clean(df: DataFrame) -> DataFrame:
    """Per-source cleaner (00_master_list_cleaner.py:37-77).

    Header normalize + synonym rename, upper/trim ticker & asset_type (X1),
    MUTUAL FUND -> FUND (X3), lower/trim status (X2), source typo map,
    conform to the scrape columns, then in-source keep-first dedup on
    (ticker, asset_type, source) — D1. ``source`` is in the dedup key so a
    caller feeding one COMBINED frame spanning several sources (the
    orchestrator's single landing-dir scan) cannot collapse cross-source
    rows that consolidate/SECURITY_MASTER_KEY deliberately preserve; for a
    single-source frame the behavior is identical. The tiebreak order is
    over NON-key columns (name, status, date_added) — ordering on a key
    column is constant within its own partition and would pick an
    arbitrary survivor.
    """
    df = conform.rename_synonyms(conform.normalize_headers(df))
    for c in SCRAPE_COLUMNS:
        if c not in df.columns:
            df = df.withColumn(c, F.lit(None).cast("string"))
    df = df.select(
        conform.upper_trim(conform.null_sentinels_to_null("ticker")).alias("ticker"),
        conform.map_values(
            conform.upper_trim(conform.null_sentinels_to_null("asset_type")), conform.ASSET_TYPE_MAP
        ).alias("asset_type"),
        conform.null_sentinels_to_null("name").alias("name"),
        conform.lower_trim(conform.null_sentinels_to_null("status")).alias("status"),
        conform.map_values(
            conform.lower_trim(conform.null_sentinels_to_null("source")), conform.SOURCE_MAP
        ).alias("source"),
        F.col("date_added").try_cast("date").alias("date_added"),
    )
    return dedup.dedup_keyed(
        df, ["ticker", "asset_type", "source"], ["name", "status", "date_added"], keep="first"
    )


def consolidate(sources: Sequence[DataFrame]) -> DataFrame:
    """01_source_consolidator.py:67-86: union by name, per-source dedup (D3).

    The reference sorts then keep-first dedups on (ticker, asset_type,
    source). Its sort key IS the dedup key, so within a duplicate group
    pandas fell back to read order — i.e. the survivor among true
    duplicates was arbitrary. Here the tiebreak is explicit NON-key
    columns (name, status, date_added): deterministic run-over-run, which
    the reference's behavior was not. No trailing global sort: row order
    carries no downstream contract (the merge reshuffles on the key), so
    a full range-partition exchange would be pure waste.
    """
    unioned = sources[0]
    for s in sources[1:]:
        unioned = unioned.unionByName(s, allowMissingColumns=True)
    return dedup.dedup_keyed(
        unioned,
        ["ticker", "asset_type", "source"],
        ["name", "status", "date_added"],
        keep="first",
    )


def validate_split(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """02_master_list_validator.py:37-88: F5 all-reasons split.

    The reference assigns status 'new' (L2) BEFORE validating, so rows with
    no status pass the status rule.
    """
    df = lifecycle.assign_initial_status(df)
    return validate.validation_split_all_reasons(df, validate.master_rules())


def prepare_load(df: DataFrame, as_of: Column | None = None) -> DataFrame:
    """04_master_list_loader.py:43-67: conform to the table schema, stamp
    first/last_seen (L1 source side), attach the H7 row hash."""
    df = lifecycle.stamp_first_last_seen(df, as_of)
    df = conform.conform(df, SECURITY_MASTER, renames={})
    return hashing.with_row_hash(df, hashing.master_row_hash())


def run(
    spark: SparkSession,
    sources: Sequence[DataFrame],
    target_path: str,
    as_of: Column | None = None,
    today: Column | None = None,
) -> tuple[merge.MergeStats, DataFrame]:
    """Full flow: returns (merge stats, invalid-row side-channel).

    The upsert is K5 (unconditional update, first_seen preserved,
    last_seen always refreshed — 04_master_list_loader.py:69-85); status
    transitions then rewrite the table in place (05_status_manager.py).
    """
    cleaned = [clean(s) for s in sources]
    consolidated = consolidate(cleaned)
    valid, invalid = validate_split(consolidated)
    batch = prepare_load(valid, as_of)
    stats = merge.merge_upsert(
        spark,
        target_path,
        batch,
        SECURITY_MASTER_KEY,
        preserve_cols=("first_seen",),
        always_update_cols=("last_seen", "updated_at"),
        unconditional=True,
    )
    # layout-aware read + guard: the transition rewrite is flat-layout by
    # contract; going through the public read path and the layout guard
    # means a migrated (manifest/hive) table fails loudly instead of being
    # silently flattened
    merge._check_layout_compatible(merge.Path(target_path), "flat")
    table = merge.read_table(spark, target_path)
    transitioned = lifecycle.apply_status_transitions(table, today=today)
    merge._atomic_write(transitioned, merge.Path(target_path))
    return stats, invalid
