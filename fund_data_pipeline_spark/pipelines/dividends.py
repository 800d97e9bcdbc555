"""Dividend chain: conform -> defaults -> 7-key dedup -> H4 hash -> merge.

Rebuilds the reference's dividend side-chain (SURVEY §3):
- 02_performance_sync/00_dividend_history_cleaner.py — per-ticker files,
  ticker from filename stem (X14)
- 02_performance_sync/03_dividend_loader.py:37-85 — synonym renames
  (ex_dividend_date -> ex_date, cash_amount -> amount), type default
  'Cash' (X13), null-key drop (F1), blank row_hash filter (F8), 7-column
  natural-key dedup (D5)
- 02_performance_sync/02_dividend_hasher.py:11-14 — H4 sha256(ex_date +
  amount + type)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import conform, dedup, hashing, merge, validate
from ..schemas import DIVIDEND_HISTORY, DIVIDEND_HISTORY_KEY
from ..sources.csv_landing import read_per_entity_csvs


def clean(df: DataFrame, source: str = "yahoo_finance") -> DataFrame:
    """03_dividend_loader.py:37-85 conform: renames, defaults, key dedup."""
    df = conform.rename_synonyms(conform.normalize_headers(df))
    if "source" not in df.columns:
        df = df.withColumn("source", F.lit(source))
    if "type" in df.columns:
        df = df.withColumn("type", F.coalesce(conform.null_sentinels_to_null("type"), F.lit("Cash")))
    else:
        df = df.withColumn("type", F.lit("Cash"))
    df = conform.conform(df, DIVIDEND_HISTORY, renames={})
    df = validate.drop_null_keys(df, ["ticker", "ex_date", "amount"])
    # dedup_min, not dedup_any: the 7-column key doesn't cover `currency`,
    # so an arbitrary survivor would make reruns non-idempotent (review r11)
    return dedup.dedup_min(df, DIVIDEND_HISTORY_KEY)


def hash_batch(df: DataFrame) -> DataFrame:
    """02_dividend_hasher.py:11-14: H4 + updated_at stamp."""
    return hashing.with_row_hash(df, hashing.dividend_hash())


def run(spark: SparkSession, landing_root: str, target_path: str) -> merge.MergeStats:
    """One scan over per-ticker dividend files, one hash-guarded merge (H8)."""
    raw = read_per_entity_csvs(spark, landing_root, infer_date=False)
    batch = hash_batch(clean(raw))
    return merge.merge_upsert(spark, target_path, batch, DIVIDEND_HISTORY_KEY)
