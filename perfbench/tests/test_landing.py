"""The landing-zone generator: determinism, and its expectations against an
independent DuckDB recount of the CSVs it wrote.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[2]))

from perfbench import landing  # noqa: E402

N_TICKERS, N_DAYS = 120, 3


def _files(root: Path) -> dict[str, bytes]:
    return {p.relative_to(root).as_posix(): p.read_bytes() for p in sorted(root.rglob("*.csv"))}


def test_same_seed_same_bytes(tmp_path):
    a = landing.generate(tmp_path / "a", 5, N_TICKERS, N_DAYS)
    landing.generate(tmp_path / "b", 5, N_TICKERS, N_DAYS)
    fa, fb = _files(tmp_path / "a"), _files(tmp_path / "b")
    assert fa and fa == fb
    other = landing.generate(tmp_path / "c", 6, N_TICKERS, N_DAYS)
    assert _files(tmp_path / "c") != fa
    assert [d.merge for d in a.days] != [d.merge for d in other.days]


def test_run_dates_fire_grace_and_purge():
    dates = landing.run_dates(2)
    assert (dates[1] - dates[0]).days > landing.INACTIVE_GRACE_DAYS
    assert (dates[1] - dates[0]).days > landing.ARCHIVE_RETENTION_DAYS


# ---------------------------------------------------------------------------
# the recount: the engine's cleaning rules restated in SQL over the CSVs
# ---------------------------------------------------------------------------

SENTINELS = "('', 'nan', 'none', 'null', 'n/a', 'na', '-')"
SOURCES = {
    "ft": "financial_times", "yf": "yahoo_finance", "financial times": "financial_times",
    "financialtimes": "financial_times", "finantial_times": "financial_times",
    "yahoo finance": "yahoo_finance", "yahoofinance": "yahoo_finance",
}
MACROS = f"""
CREATE MACRO nul(x) AS CASE WHEN x IS NULL OR lower(trim(x)) IN {SENTINELS} THEN NULL ELSE trim(x) END;
CREATE MACRO src(x) AS CASE lower(trim(x)) {' '.join(f"WHEN '{k}' THEN '{v}'" for k, v in SOURCES.items())} ELSE lower(trim(x)) END;
CREATE MACRO asset(x) AS CASE upper(trim(x)) WHEN 'MUTUAL FUND' THEN 'FUND' WHEN 'MUTUALFUND' THEN 'FUND' ELSE upper(trim(x)) END;
CREATE MACRO pct(x) AS TRY_CAST(regexp_replace(trim(x), '[%,+]', '', 'g') AS DOUBLE);
CREATE MACRO rescale(x) AS CASE WHEN x > 1 THEN x / 100 ELSE x END;
CREATE MACRO repair(x) AS CASE WHEN abs(x) > 999.99 THEN x / 100 ELSE x END;
CREATE MACRO outlier(x) AS CASE WHEN abs(x) < 1000 THEN x END;
CREATE MACRO magnitude(x) AS
  CAST(replace(regexp_extract(lower(trim(x)), '(-?[0-9,]*\\.?[0-9]+)', 1), ',', '') AS DOUBLE)
  * CASE regexp_extract(lower(trim(x)), '-?[0-9,]*\\.?[0-9]+\\s*([kmbt])', 1)
      WHEN 'k' THEN 1e3 WHEN 'm' THEN 1e6 WHEN 'b' THEN 1e9 WHEN 't' THEN 1e12 ELSE 1 END;
"""


def _csv(day: Path, sub: str, names: list[str]) -> str:
    cols = ", ".join(f"'{n}': 'VARCHAR'" for n in names)
    return f"read_csv('{day}/{sub}/**/*.csv', header=true, columns={{{cols}}}, filename=true, quote='\"')"


def _stats(target: dict, batch: dict, unconditional=False) -> dict:
    ins = sum(k not in target for k in batch)
    upd = sum(k in target and (unconditional or target[k] != v) for k, v in batch.items())
    return {"inserted": ins, "updated": upd, "unchanged": len(target) - upd}


def _recount(zone: landing.LandingZone) -> list[dict]:
    con = duckdb.connect()
    con.execute(MACROS)
    wh: dict[str, dict] = {t: {} for t in landing.TABLES}
    out = []
    for i, today in enumerate(zone.dates):
        day = zone.day_root(i)
        got: dict = {"merge": {}, "quarantined": {}}

        rows = con.execute(f"""
            SELECT DISTINCT upper(trim(t)), asset(nul(a)), src(nul(s)), nul(n), coalesce(lower(nul(st)), 'new')
            FROM {_csv(day, 'master_list', ['t', 'a', 'n', 'st', 's', 'd'])}""").fetchall()
        valid = {r[:3]: r[3:] for r in rows if r[1] in ("FUND", "ETF") and r[2] and r[4] in ("new", "active", "inactive")}
        got["quarantined"]["master_sync"] = len(rows) - len(valid)
        got["merge"]["stg_security_master"] = _stats(wh["stg_security_master"], valid, unconditional=True)
        wh["stg_security_master"].update(valid)

        rows = con.execute(f"""
            WITH r AS (
              SELECT upper(trim(t)) AS t, upper(trim(a)) AS a, src(nul(s)) AS s,
                     TRY_CAST(p AS DECIMAL(18,4)) AS p, coalesce(nul(c), 'USD') AS c,
                     TRY_CAST(d AS DATE) AS d, TRY_CAST(sd AS DATE) AS sd, filename
              FROM {_csv(day, 'daily_nav', ['t', 'a', 's', 'p', 'c', 'd', 'sd'])}
              WHERE nul(t) IS NOT NULL AND TRY_CAST(d AS DATE) IS NOT NULL
            ), k AS (
              SELECT *, row_number() OVER (PARTITION BY t, a, s, d ORDER BY sd DESC, filename DESC, p DESC) AS rn FROM r
            )
            SELECT t, a, s, CAST(d AS VARCHAR), CAST(p AS DOUBLE), c, CAST(sd AS VARCHAR), d > DATE '{today}' + 1
            FROM k WHERE rn = 1 AND p > 0""").fetchall()
        got["quarantined"]["daily_nav"] = sum(r[7] for r in rows)
        batch = {r[:4]: r[4:7] for r in rows if not r[7]}
        got["merge"]["stg_daily_nav"] = _stats(wh["stg_daily_nav"], batch)
        wh["stg_daily_nav"].update(batch)

        rows = con.execute(f"""
            SELECT upper(trim(t)), coalesce(asset(nul(a)), 'ETF'), src(nul(s)),
                   nul(n), nul(iss), CAST(TRY_CAST(inc AS DATE) AS VARCHAR),
                   round(rescale(pct(er)), 4), round(magnitude(aum), 2), CAST(replace(hc, ',', '') AS INT),
                   round(outlier(pct(sh)), 2), round(outlier(repair(pct(sd))), 2),
                   round(pct(dy), 2), round(outlier(repair(pct(r1))), 2)
            FROM {_csv(day, 'fund_details', ['t', 'a', 's', 'n', 'iss', 'inc', 'aum', 'er', 'hc', 'sd', 'sh', 'dy', 'r1'])}""").fetchall()
        for table, cols in (("stg_fund_info", slice(3, 6)), ("stg_fund_fees", slice(6, 9)), ("stg_fund_risk", slice(9, 11)), ("stg_fund_policy", slice(11, 13))):
            batch = {r[:3]: r[cols] for r in rows}
            got["merge"][table] = _stats(wh[table], batch)
            wh[table].update(batch)

        rows = con.execute(f"""
            SELECT DISTINCT trim(t), trim(a), trim(s), trim(n), regexp_extract(filename, '/(\\d{{4}}-\\d{{2}}-\\d{{2}})/', 1),
                   CASE WHEN length(nul(ht)) <= 20 THEN nul(ht) END, pct(v), CAST(sh AS DECIMAL(20,2)), CAST(mv AS DECIMAL(20,2)), nul(sec)
            FROM {_csv(day, 'holdings', ['t', 'a', 's', 'n', 'ht', 'v', 'sh', 'mv', 'sec', 'c'])}
            WHERE lower(n) NOT LIKE '%per cent of portfolio%'""").fetchall()
        batch = {r[:5]: r[5:] for r in rows}
        got["merge"]["stg_fund_holdings"] = _stats(wh["stg_fund_holdings"], batch)
        wh["stg_fund_holdings"].update(batch)

        rows = con.execute(f"""
            SELECT trim(t), trim(a), trim(s), regexp_extract(filename, '/allocations/([^/]+)/', 1), trim(n), d, pct(v), pct(ca)
            FROM {_csv(day, 'allocations', ['t', 'a', 's', 'n', 'v', 'ca', 'd'])}""").fetchall()
        batch = {r[:6]: r[6:] for r in rows}
        got["merge"]["stg_allocations"] = _stats(wh["stg_allocations"], batch)
        wh["stg_allocations"].update(batch)

        rows = con.execute(f"""
            SELECT DISTINCT upper(split_part(regexp_extract(filename, '([^/]+)\\.csv$', 1), '_', 1)),
                   CASE WHEN lower(filename) LIKE '%etf%' THEN 'ETF' ELSE 'FUND' END, d,
                   CAST(o AS DECIMAL(18,4)), CAST(h AS DECIMAL(18,4)), CAST(l AS DECIMAL(18,4)),
                   CAST(c AS DECIMAL(18,4)), CAST(ac AS DECIMAL(18,4)), CAST(replace(v, ',', '') AS BIGINT)
            FROM {_csv(day, 'price_history', ['d', 'o', 'h', 'l', 'c', 'ac', 'v', 'chg'])}""").fetchall()
        batch = {(r[0], r[1], "stock_analysis", r[2]): r[3:] for r in rows}
        got["merge"]["stg_price_history"] = _stats(wh["stg_price_history"], batch)
        wh["stg_price_history"].update(batch)
        out.append(got)
    return out


@pytest.mark.parametrize("seed", [3, 11])
def test_expectations_match_duckdb_recount(tmp_path, seed):
    zone = landing.generate(tmp_path / "landing", seed, N_TICKERS, N_DAYS)
    recount = _recount(zone)
    for exp, got in zip(zone.days, recount):
        assert got["quarantined"] == exp.quarantined, exp.run_date
        assert got["merge"] == exp.merge, exp.run_date
    assert sum(d.merge["stg_daily_nav"]["updated"] for d in zone.days) > 0
    assert sum(d.marked_inactive for d in zone.days) > 0
    assert any(d.purged for d in zone.days)
