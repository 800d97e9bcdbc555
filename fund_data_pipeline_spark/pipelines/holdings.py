"""Holdings + allocations sync: guards -> path-date -> dedup -> hash -> merge.

Rebuilds reference entry point 4 (SURVEY §3, orchestrator
src/05_db_synchronization/04_holdings_sync/06_holdings_sync_orchestrator.py:14-21):

- 00_holdings_data_cleaner.py — per-source x per-kind extractors:
  utf-8-sig read (S5), as_of_date from the YYYY-MM-DD path component
  (S4:75-81), numeric to_float with %,+ strip (X4:55-65), null sentinels
  (X9:58-60), drop FT summary rows 'per cent of portfolio' (F7:126-127),
  heuristic column discovery by substring (§1.3-4:188-191)
- 01_holdings_integrity_checker.py:29-32 — null-key drop (F1)
- 02_holdings_hasher.py:33-35 — H6 all-columns hash
- 03_holdings_loader.py:30-79 — renames (item_name -> holding_name,
  value_net -> holding_percentage), 20-char length guard on holding_ticker
  (F10:72), 5-key dedup (D5:77-79), merge into stg_fund_holdings
- 04_allocations_loader.py:29-79 — three calls with allocation_type
  literal (P5), 6-key dedup, merge into stg_allocations
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import conform, dedup, hashing, merge, parse, validate
from ..schemas import ALLOCATIONS, ALLOCATIONS_KEY, FUND_HOLDINGS, FUND_HOLDINGS_KEY

#: FT summary rows dropped from holdings (00_holdings_data_cleaner.py:126-127)
SUMMARY_ROW_MARKER = "per cent of portfolio"


def clean_holdings(df: DataFrame) -> DataFrame:
    """Holdings cleaner + loader conform (00_holdings_data_cleaner.py,
    03_holdings_loader.py:30-79)."""
    df = conform.rename_synonyms(conform.normalize_headers(df))
    if "as_of_date" not in df.columns and "origin_file" in df.columns:
        df = df.withColumn("as_of_date", parse.path_date(F.col("origin_file")))
    if "holding_name" in df.columns:
        df = df.filter(
            ~F.lower(F.coalesce(F.col("holding_name"), F.lit(""))).contains(SUMMARY_ROW_MARKER)
        )
    if "holding_percentage" in df.columns:
        df = df.withColumn("holding_percentage", parse.parse_percent("holding_percentage"))
    if "holding_ticker" in df.columns:
        df = df.withColumn(
            "holding_ticker",
            parse.length_guard(conform.null_sentinels_to_null("holding_ticker"), 20),
        )
    df = conform.conform(df, FUND_HOLDINGS, renames={})
    df = validate.drop_null_keys(df, ["ticker", "holding_name", "as_of_date"])
    # dedup_min, not dedup_any: non-key value columns (holding_ticker,
    # holding_percentage) feed the all-columns hash — an arbitrary survivor
    # re-fires the hash-guarded merge on a no-op rerun (review r11)
    df = dedup.dedup_min(df, FUND_HOLDINGS_KEY)
    return hashing.with_row_hash(df, hashing.all_columns_hash(df))


def clean_allocations(df: DataFrame, allocation_type: str) -> DataFrame:
    """04_allocations_loader.py:29-79: one extractor call per allocation
    kind, the kind injected as a literal (P5)."""
    # item_name/value_net keep their names here (the holding_name /
    # holding_percentage synonyms apply only to the holdings table), so the
    # allocation path uses a rename map without those two entries.
    renames = {k: v for k, v in conform.DEFAULT_RENAMES.items() if k not in ("item_name", "value_net")}
    df = conform.rename_synonyms(conform.normalize_headers(df), renames)
    df = df.withColumn("allocation_type", F.lit(allocation_type))
    if "as_of_date" not in df.columns and "origin_file" in df.columns:
        df = df.withColumn("as_of_date", parse.path_date(F.col("origin_file")))
    for c in ("value_net", "value_category_avg", "value_long", "value_short"):
        if c in df.columns:
            df = df.withColumn(c, parse.parse_percent(c))
    df = conform.conform(df, ALLOCATIONS, renames={})
    df = validate.drop_null_keys(df, ["ticker", "item_name", "as_of_date"])
    # deterministic survivor for the same reason as clean_holdings (review r11)
    df = dedup.dedup_min(df, ALLOCATIONS_KEY)
    return hashing.with_row_hash(df, hashing.all_columns_hash(df))


def run(
    spark: SparkSession,
    holdings_raw: DataFrame | None,
    allocations_raw: dict[str, DataFrame],
    warehouse: str,
) -> dict[str, merge.MergeStats]:
    """Holdings + N allocation kinds, each one hash-guarded merge (H8).

    ``holdings_raw`` may be ``None`` (holdings feed delivered nothing) —
    the allocation feeds are independent and still load (review r9)."""
    stats: dict[str, merge.MergeStats] = {}
    if holdings_raw is not None:
        stats["stg_fund_holdings"] = merge.merge_upsert(
            spark, f"{warehouse}/stg_fund_holdings", clean_holdings(holdings_raw),
            FUND_HOLDINGS_KEY,
        )
    alloc_batches = [clean_allocations(df, kind) for kind, df in allocations_raw.items()]
    if alloc_batches:
        batch = alloc_batches[0]
        for b in alloc_batches[1:]:
            batch = batch.unionByName(b)
        stats["stg_allocations"] = merge.merge_upsert(
            spark, f"{warehouse}/stg_allocations", batch, ALLOCATIONS_KEY
        )
    return stats
