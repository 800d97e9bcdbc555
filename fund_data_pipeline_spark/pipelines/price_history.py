"""Price-history bulk path: per-entity scan -> conform -> OHLCV hash -> merge.

Rebuilds the reference's price chain (SURVEY §3, entry point 3 side-chain):
- 02_performance_sync/00_price_history_cleaner.py:36-83 — rglob over
  thousands of per-ticker CSVs, ticker from filename stem, asset_type from
  path, date coerce; rebuilt as ONE distributed scan (S2), the #1 scale win
- 02_performance_sync/02_history_hasher.py:31-36 — H3 sha256 over OHLCV
- 02_performance_sync/03_price_history_loader.py:32-63 — K4 temp-table
  merge with the `IS DISTINCT FROM` hash guard (H8), rebuilt as one
  hash-guarded keyed merge instead of one round-trip per file

Scale: the reference does O(files) driver round-trips; this does one scan
(partition-sized tasks regardless of file count) + one shuffle on the
4-column natural key for the merge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import conform, dedup, hashing, merge, parse, validate
from ..schemas import PRICE_HISTORY, PRICE_HISTORY_KEY
from ..sources.csv_landing import read_per_entity_csvs


def clean(df: DataFrame) -> DataFrame:
    """00_price_history_cleaner.py:36-64: conform per-entity OHLCV rows.

    Expects ``ticker``/``asset_type`` already derived from the path (S2);
    fills source, coerces date (X10) and numerics, drops null-key rows (F1).
    """
    df = conform.rename_synonyms(conform.normalize_headers(df))
    if "source" not in df.columns:
        df = df.withColumn("source", F.lit("stock_analysis"))
    if "volume" in df.columns:
        df = df.withColumn("volume", parse.parse_thousands("volume"))  # X5
    # X10 coerce BEFORE the keep-last dedup (review r13): the dedup key must
    # be the COERCED date — two raw spellings of the same day ('2024-01-05'
    # vs '2024-01-05T00:00:00') otherwise survive dedup as distinct keys,
    # and when conform's cast later collapses them, 'latest origin_file
    # wins' silently becomes merge-default-order-wins for that key
    if "date" in df.columns:
        df = df.withColumn(
            "date", parse.parse_date_coerce(conform.null_sentinels_to_null("date"))
        )
    # deterministic keep-last before the conform drops provenance (D2 analog)
    if "origin_file" in df.columns:
        df = dedup.dedup_keyed(df, PRICE_HISTORY_KEY, ["origin_file"], keep="last")
    df = conform.conform(df, PRICE_HISTORY, renames={})
    return validate.drop_null_keys(df, ["ticker", "date"])


def hash_batch(df: DataFrame) -> DataFrame:
    """02_history_hasher.py:31-36: H3 sha256(OHLCV concat) + updated_at."""
    return hashing.with_row_hash(df, hashing.ohlcv_hash())


def run(
    spark: SparkSession,
    landing_root: str,
    target_path: str,
) -> merge.MergeStats:
    """One scan over the whole per-ticker landing tree, one hash-guarded merge."""
    raw = read_per_entity_csvs(spark, landing_root, infer_date=False)
    batch = hash_batch(clean(raw))
    return merge.merge_upsert(spark, target_path, batch, PRICE_HISTORY_KEY)
