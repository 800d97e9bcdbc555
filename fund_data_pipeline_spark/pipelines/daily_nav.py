"""Daily-NAV sync: scan+union -> conform -> keep-last dedup -> validate -> load.

Rebuilds reference entry point 3 (SURVEY §3, orchestrator
src/05_db_synchronization/02_performance_sync/05_performance_sync_orchestrator.py:43-48):

1. ``clean``     00_performance_data_cleaner.py:45-145 — multi-dir scan +
                 union (S1), conform to the 7 scrape columns, upper/trim
                 ticker+asset_type (X1), date coerce (X10), null-key drop
                 (F1), keep-last dedup on the natural key (D2), positive
                 NAV filter (F2)
2. ``validate``  01_performance_validator.py:42-78 — F4 single-reason split
                 (Missing Data / Non-Positive NAV / Future Date, later rule
                 wins)
3. ``load``      03_daily_nav_loader.py + db_connector.py:380-419 — K3
                 upsert (stg_daily_nav has no row_hash guard in the
                 reference — §1.4 — so the merge is unconditional)

The flagship query ``latest_nav_per_fund`` is A3/W5: last valid NAV per
(ticker, asset_type, source) — `max_by(struct(...), as_of_date)` semantics,
one partial-aggregating shuffle, no window sort needed.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import conform, dedup, hashing, merge, validate
from ..schemas import DAILY_NAV, DAILY_NAV_KEY
from ..sources.csv_landing import read_landing_csvs


def clean(df: DataFrame, dedupe_order: Sequence[str] = ("scrape_date", "origin_file")) -> DataFrame:
    """00_performance_data_cleaner.py:90-145 as one lineage.

    ``dedupe_order`` replaces pandas' read-order keep-last (D2) with an
    explicit tiebreaker: latest scrape_date wins, then origin_file
    lexicographic (SURVEY §7.4-3). ``nav_price`` is always appended as the
    final tiebreaker so the dedup stays deterministic even for a frame
    with NO provenance columns — the previous as_of_date fallback was a
    key column, constant within its own partition, i.e. an arbitrary
    survivor.
    """
    df = conform.rename_synonyms(conform.normalize_headers(df))
    keep_order = [c for c in dedupe_order if c in df.columns] + ["nav_price"]
    base = ["ticker", "asset_type", "source", "nav_price", "currency", "as_of_date"]
    extras = [c for c in dict.fromkeys([*keep_order, "scrape_date"]) if c in df.columns and c not in base]
    df = df.select(
        conform.upper_trim(conform.null_sentinels_to_null("ticker")).alias("ticker"),
        conform.upper_trim(conform.null_sentinels_to_null("asset_type")).alias("asset_type"),
        conform.map_values(
            conform.lower_trim(conform.null_sentinels_to_null("source")), conform.SOURCE_MAP
        ).alias("source"),
        F.col("nav_price").try_cast("decimal(18,4)").alias("nav_price"),
        F.coalesce(conform.null_sentinels_to_null("currency"), F.lit("USD")).alias("currency"),
        F.col("as_of_date").try_cast("date").alias("as_of_date"),
        # scrape_date is a keep-last TIEBREAK column: it must order as a
        # DATE, not as its raw string — lexicographic '2024-9-5' sorts
        # after '2024-10-01' and picks the older scrape as the survivor
        # (review r13; conform coerced it only AFTER the dedup)
        *[
            (F.col(c).try_cast("date").alias(c) if c == "scrape_date" else F.col(c))
            for c in extras
        ],
    )
    df = validate.drop_null_keys(df, ["ticker", "as_of_date"])
    df = dedup.dedup_keyed(df, DAILY_NAV_KEY, keep_order, keep="last")
    return validate.positive_filter(df, "nav_price")


def validate_split(df: DataFrame, today: Column | None = None) -> tuple[DataFrame, DataFrame]:
    """01_performance_validator.py:42-78: F4 single-reason good/bad split."""
    return validate.validation_split_single_reason(df, validate.nav_rules(today))


def prepare_load(df: DataFrame) -> DataFrame:
    """Conform to stg_daily_nav and stamp audit columns.

    The reference table has no row_hash column (§1.4) but the rebuild adds
    one (H2 family, collision-safe variant) so the merge can still elide
    unchanged rows — pure win at scale.
    """
    df = conform.conform(df, DAILY_NAV, renames={})
    value_cols = [c for c in df.columns if c not in ("row_hash", "updated_at")]
    return hashing.with_row_hash(df, hashing.row_hash_safe(value_cols))


def run(
    spark: SparkSession,
    landing_dirs: Sequence[str],
    target_path: str,
    today: Column | None = None,
) -> tuple[merge.MergeStats, DataFrame]:
    """Full flow from landing CSVs; returns (merge stats, error side-channel)."""
    raw = read_landing_csvs(spark, list(landing_dirs))
    cleaned = clean(raw)
    valid, errors = validate_split(cleaned, today)
    batch = prepare_load(valid)
    stats = merge.merge_upsert(
        spark,
        target_path,
        batch,
        DAILY_NAV_KEY,
        dedupe_order=["scrape_date"] if "scrape_date" in batch.columns else None,
    )
    return stats, errors


def latest_nav_per_fund(nav: DataFrame) -> DataFrame:
    """A3/W5: last valid NAV per entity — aggregation, not a window sort.

    ``max_by`` runs as a partial+final hash aggregate (map-side combine),
    the cheapest possible plan for top-1-per-key at 100 TB.
    """
    return (
        nav.filter(F.col("nav_price").isNotNull())
        .groupBy("ticker", "asset_type", "source")
        .agg(
            F.max_by(F.col("nav_price"), F.col("as_of_date")).alias("nav_price"),
            F.max("as_of_date").alias("as_of_date"),
        )
    )


def run_repair(
    spark: SparkSession,
    target_path: str,
    reprocess,
    repair_log_path: str | None = None,
):
    """The reference's repair pass (03_ft_nav_repair.py) as a pipeline step.

    stg_daily_nav has no status column, so the failed subset is the
    reference's fallback predicate (:49-50): rows whose nav_price is
    missing or non-positive. ``reprocess`` recomputes those rows from a
    corrected source (re-parse of the raw landing files, an alternate
    feed); repairs merge back on the natural key, and the Repaired stamp
    lands in the repair log (the target keeps its own schema).
    """
    from .repair import repair_feed

    return repair_feed(
        spark,
        target_path,
        lambda failed: prepare_load(reprocess(failed)),
        DAILY_NAV_KEY,
        fallback_predicate=F.col("nav_price").isNull() | (F.col("nav_price") <= 0),
        repair_log_path=repair_log_path,
    )
