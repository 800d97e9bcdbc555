"""Seeded landing-zone generator for the ``etl_daily`` workload.

Writes N tickers x D run dates of messy CSV feeds in the layout that
``pipelines.orchestrator.default_stages`` scans (plus a per-ticker
``price_history`` tree), and keeps a ground-truth model of what the engine
must do with them: per run date and table the expected inserted / updated /
unchanged / quarantined counts, the lifecycle transitions, the archive
partitions purged, and the final warehouse content.

The mess follows FIXTURES.md B1/B2/B3/B5/B6: synonym and padded headers,
``%`` / ``,`` / ``+`` and magnitude-suffix numerics, null sentinels,
duplicate keys across two source dirs, future-dated NAV rows (quarantined),
non-positive NAV rows (dropped by the cleaner, so the repair feed finds
nothing), per-ticker ``<TICKER>_history.csv`` files, and tickers that
appear and disappear. Every rendered value is decoded back through a model
of the engine's parsers at generation time, so a rendering the model cannot
decode fails here, not as a benchmark mismatch.

Run dates fall on every seventh weekday (nine calendar days apart), so the
7-day inactive grace fires on the second date for a ticker last seen on the
first, and a 7-day archive retention purges the first snapshot there too.

Only the standard library is used; the same seed writes byte-identical
files.
"""

from __future__ import annotations

import csv
import random
import re
from dataclasses import dataclass, field
from datetime import date, timedelta
from pathlib import Path

FIRST_RUN_DATE = date(2024, 3, 4)  # a Monday
RUN_DATE_STRIDE = 7  # weekdays between run dates
INACTIVE_GRACE_DAYS = 7  # lifecycle.INACTIVE_THRESHOLD_DAYS
ARCHIVE_RETENTION_DAYS = 7
ALLOCATION_AS_OF = "2024-02-29"
NULL_SENTINELS = ("", "nan", "none", "null", "n/a", "na", "-")
SOURCE_CANON = {"ft": "financial_times", "yf": "yahoo_finance"}
# no 'E' in symbols: the price-history scan classifies a path containing
# "etf" as an ETF, so a symbol must never spell it
SYMBOL_ALPHABET = "ABCDFGHJKLMNPQRSTVWXYZ"
PATH_DATE_RE = re.compile(r"(?:^|/)(\d{4}-\d{2}-\d{2})(?=/|$)")

WORDS = (
    "Alpha Beacon Cedar Delta Harbor Summit Granite Meridian Orchard Pioneer "
    "Quartz Ridge Sterling Tandem Vantage Willow Atlas Boreal Crest Falcon"
).split()
ISSUERS = ["Vanguard", "BlackRock", "Fidelity", "Schwab", "Invesco", "State Street"]
HOLDING_NAMES = [
    ("Apple Inc", "AAPL"), ("Microsoft Corp", "MSFT"), ("Amazon.com Inc", "AMZN"),
    ("Nvidia Corp", "NVDA"), ("Alphabet Inc", "GOOGL"), ("Meta Platforms", "META"),
    ("Berkshire Hathaway", "BRK.B"), ("JPMorgan Chase", "JPM"), ("Visa Inc", "V"),
    ("Exxon Mobil", "XOM"), ("UnitedHealth Group", "UNH"), ("Johnson & Johnson", "JNJ"),
    ("Procter & Gamble", "PG"), ("Mastercard Inc", "MA"), ("Home Depot", "HD"),
    ("US Treasury 4.25% 2034", "N/A"), ("Cash & Equivalents", "-"),
]
SECTORS = ["Technology", "Healthcare", "Financials", "Energy", "Industrials", "Utilities"]
REGIONS = ["North America", "Europe", "Asia Pacific", "Emerging Markets"]

TABLES = (
    "stg_security_master", "stg_daily_nav", "stg_price_history", "stg_fund_info",
    "stg_fund_fees", "stg_fund_risk", "stg_fund_policy", "stg_fund_holdings",
    "stg_allocations",
)


def run_dates(n_days: int) -> list[date]:
    out, d, weekdays = [], FIRST_RUN_DATE, 0
    while len(out) < n_days:
        if d.weekday() < 5:
            if weekdays % RUN_DATE_STRIDE == 0:
                out.append(d)
            weekdays += 1
        d += timedelta(days=1)
    return out


# ---------------------------------------------------------------------------
# models of the engine's scalar parsers (conform.py / parse.py)
# ---------------------------------------------------------------------------


def null_sentinel(s: str | None) -> str | None:
    if s is None:
        return None
    t = s.strip()
    return None if t.lower() in NULL_SENTINELS else t


def parse_percent(s: str | None) -> float | None:
    if s is None:
        return None
    try:
        return float(re.sub(r"[%,+]", "", s.strip()))
    except ValueError:
        return None


def parse_magnitude(s: str) -> float | None:
    low = s.strip().lower()
    m = re.search(r"(-?[\d,]*\.?\d+)", low)
    if m is None:
        return None
    num = float(m.group(1).replace(",", ""))
    suffix = re.search(r"-?[\d,]*\.?\d+[ \t\n\x0b\f\r]*([kmbt])", low)
    scale = {"k": 1e3, "m": 1e6, "b": 1e9, "t": 1e12}.get(suffix.group(1) if suffix else "", 1.0)
    return num * scale


def percent_rescale(x: float | None) -> float | None:
    return None if x is None else (x / 100.0 if x > 1.0 else x)


def overflow_repair(x: float | None) -> float | None:
    return None if x is None else (x / 100.0 if abs(x) > 999.99 else x)


def outlier_to_null(x: float | None) -> float | None:
    return x if x is not None and abs(x) < 1000.0 else None


def dec(x: float | None, scale: int) -> float | None:
    """A double cast to DECIMAL(p, scale), as a float for comparison."""
    return None if x is None else round(x, scale)


# ---------------------------------------------------------------------------
# the universe
# ---------------------------------------------------------------------------


@dataclass
class Fund:
    sym: str
    asset: str  # FUND | ETF
    first_day: int
    last_day: int
    name: str
    name_from_day: int  # the feeds carry a null-sentinel name before this day
    listed: str | None  # date_added
    on_yf: bool  # also listed (and priced) by the second source
    currency: str
    issuer: str
    inception: str
    has_holdings: bool
    n_holdings: int
    nav: dict = field(default_factory=dict)  # source -> current NAV
    aum: float = 0.0
    expense: float = 0.0
    holdings_count: int = 0
    std_dev: float = 0.0
    sharpe: float = 0.0
    div_yield: float = 0.0
    ret_1y: float = 0.0
    alloc: dict = field(default_factory=dict)  # (kind, item) -> (net, cat_avg)
    prices: dict = field(default_factory=dict)  # run-date index -> OHLCV tuple

    def present(self, day: int) -> bool:
        return self.first_day <= day <= self.last_day


@dataclass
class DayExpect:
    run_date: str
    merge: dict  # table -> {"inserted", "updated", "unchanged"}
    quarantined: dict  # stage -> rows
    repair_failed: int
    promoted: int
    marked_inactive: int
    purged: list
    landed_rows: int
    landed_files: int
    reads: dict


@dataclass
class LandingZone:
    root: Path
    dates: list
    days: list  # DayExpect per run date
    final: dict  # table -> {key tuple: row dict}

    @property
    def landed_rows(self) -> int:
        return sum(d.landed_rows for d in self.days)

    def day_root(self, i: int) -> Path:
        return self.root / self.dates[i].isoformat()


def _symbols(rng: random.Random, n: int) -> list[str]:
    seen: set[str] = set()
    out = []
    while len(out) < n:
        s = "".join(rng.choice(SYMBOL_ALPHABET) for _ in range(rng.choice((4, 5))))
        if s not in seen:
            seen.add(s)
            out.append(s)
    return out


def _universe(rng: random.Random, n: int, n_days: int) -> list[Fund]:
    funds = []
    for i, sym in enumerate(_symbols(rng, n)):
        r = rng.random()
        first_day, last_day = 0, n_days - 1
        if n_days > 1 and r < 0.06:
            last_day = 0  # disappears after the first run date
        elif n_days > 3 and r < 0.10:
            last_day = 1
        elif n_days > 1 and r < 0.18:
            first_day = rng.randint(1, n_days - 1)  # listed later
        f = Fund(
            sym=sym,
            asset="ETF" if rng.random() < 0.4 else "FUND",
            first_day=first_day,
            last_day=last_day,
            name=f"{rng.choice(WORDS)} {rng.choice(WORDS)} {'ETF' if i % 2 else 'Fund'} {i}",
            name_from_day=first_day + (rng.randint(1, 2) if rng.random() < 0.08 else 0),
            listed=(FIRST_RUN_DATE - timedelta(days=rng.randint(30, 3000))).isoformat()
            if rng.random() < 0.6
            else None,
            on_yf=rng.random() < 0.5,
            currency="EUR" if rng.random() < 0.1 else "USD",
            issuer=rng.choice(ISSUERS),
            inception=(date(2000, 1, 1) + timedelta(days=rng.randint(0, 8000))).isoformat(),
            has_holdings=rng.random() < 0.7,
            n_holdings=rng.randint(3, 6),
        )
        f.nav = {"ft": round(rng.uniform(8, 400), 2), "yf": round(rng.uniform(8, 400), 2)}
        f.aum = round(rng.uniform(5, 900), 2) * 1e6
        f.expense = round(rng.uniform(0.03, 1.9), 2)  # percent points
        f.holdings_count = rng.randint(20, 4000)
        f.std_dev = round(rng.uniform(10.0, 35.0), 2)
        f.sharpe = round(rng.uniform(-1.5, 3.0), 2)
        f.div_yield = round(rng.uniform(0, 6), 2)
        f.ret_1y = round(rng.uniform(-30, 60), 2)
        for item in rng.sample(SECTORS, 3):
            f.alloc[("sector", item)] = (round(rng.uniform(1, 60), 2), round(rng.uniform(1, 60), 2))
        for item in rng.sample(REGIONS, 2):
            f.alloc[("region", item)] = (round(rng.uniform(1, 90), 2), round(rng.uniform(1, 90), 2))
        funds.append(f)
    return funds


# ---------------------------------------------------------------------------
# rendering: each returns (raw string, value the engine decodes it to)
# ---------------------------------------------------------------------------


def _ticker(rng, sym):
    return rng.choice((sym, sym.lower(), f"  {sym} ", f"{sym.lower()} "))


def _master_asset(rng, asset):
    return rng.choice(("FUND", "Mutual Fund", "mutualfund", "fund ")) if asset == "FUND" else rng.choice(("ETF", "etf", " Etf"))


def _source(rng, src):
    forms = {
        "ft": ("ft", "FT", "Financial Times", "financialtimes", "finantial_times"),
        "yf": ("yf", "YF", "Yahoo Finance", "YahooFinance"),
    }
    return rng.choice(forms[src])


def _aum(rng, v):
    forms = [f"{v / 1e6:.2f}m USD", f"{v / 1e6:.2f}M", f"{v:,.0f}"]
    if v >= 1e8:
        forms.append(f"{v / 1e9:.5f}b")
    raw = rng.choice(forms)
    assert dec(parse_magnitude(raw), 2) == dec(v, 2), raw
    return raw


def _expense(rng, pct_points):
    # a fee given as 45 means 0.45 (rescaled because > 1); a fraction
    # already below 1 passes through
    alt = f"{pct_points * 100:.0f}" if pct_points < 1 else f"{pct_points / 100:.4f}"
    raw = rng.choice((f"{pct_points:.2f}%", alt))
    return raw, dec(percent_rescale(parse_percent(raw)), 4)


def _std_dev(rng, v):
    raw = rng.choice((f"{v:.2f}", f"{v * 100:.2f}", f"{v:.2f}%"))
    return raw, dec(outlier_to_null(overflow_repair(parse_percent(raw))), 2)


def _sharpe(rng, v):
    raw = rng.choice((f"{v:.2f}", f"{v:+.2f}", "1500" if rng.random() < 0.2 else f"{v:.2f}"))
    return raw, dec(outlier_to_null(parse_percent(raw)), 2)


def _pct(rng, v):
    raw = rng.choice((f"{v:.2f}%", f"{v:+.2f}%", f"{v:.2f}"))
    return raw, dec(parse_percent(raw), 2)


def _ret(rng, v):
    raw = rng.choice((f"{v:.2f}", f"{v * 100:.2f}" if abs(v) >= 10 else f"{v:.2f}", f"{v:.2f}%"))
    return raw, dec(outlier_to_null(overflow_repair(parse_percent(raw))), 2)


# ---------------------------------------------------------------------------
# the generator
# ---------------------------------------------------------------------------


def _write(path: Path, header: list[str], rows: list[list[str]]) -> tuple[int, int]:
    path.parent.mkdir(parents=True, exist_ok=True)
    with open(path, "w", newline="") as fh:
        w = csv.writer(fh, lineterminator="\n")
        w.writerow(header)
        w.writerows(rows)
    return len(rows), 1


def _uri_date(path: Path) -> str:
    m = PATH_DATE_RE.search(path.absolute().as_posix())
    assert m is not None, path
    return m.group(1)


def _stats(target: dict, batch: dict, unconditional: bool = False) -> dict:
    ins = upd = 0
    for k, v in batch.items():
        if k not in target:
            ins += 1
        elif unconditional or target[k] != v:
            upd += 1
    return {"inserted": ins, "updated": upd, "unchanged": len(target) - upd}


def generate(root: Path, seed: int, n_tickers: int, n_days: int) -> LandingZone:
    """Write the landing zone under ``root`` (one dir per run date) and
    return its ground truth."""
    rng = random.Random(seed)
    dates = run_dates(n_days)
    funds = _universe(rng, n_tickers, n_days)
    wh: dict[str, dict] = {t: {} for t in TABLES}
    days: list[DayExpect] = []
    archived: list[str] = []
    invalid_sym = iter(_symbols(random.Random(seed + 1), n_tickers))

    for t, today in enumerate(dates):
        iso = today.isoformat()
        base = root / iso
        present = [f for f in funds if f.present(t)]
        rows_files = [0, 0]

        def emit(path, header, rows):
            r, n = _write(path, header, rows)
            rows_files[0] += r
            rows_files[1] += n

        # ---- master list (two source dirs, same layout) -----------------
        header = ["Symbol", " asset_type ", "Fund Name", "Status", "source", "date_added"]
        per_dir: dict[str, list] = {"ft": [], "yf": []}
        batch: dict = {}
        n_invalid = 0
        for f in present:
            for src in ("ft", "yf") if f.on_yf else ("ft",):
                named = t >= f.name_from_day
                raw_status = rng.choice(("", "", "", "Active", " new ", "N/A"))
                status = (null_sentinel(raw_status) or "new").lower()
                raw_name = f.name if named else rng.choice(("N/A", "", "nan"))
                raw_added = f.listed if (f.listed and rng.random() < 0.8) else ""
                row = [_ticker(rng, f.sym), _master_asset(rng, f.asset), raw_name, raw_status, _source(rng, src), raw_added]
                per_dir[src].append(row)
                if rng.random() < 0.05:  # same key re-posted in the other source dir
                    dup = [_ticker(rng, f.sym), _master_asset(rng, f.asset), raw_name, raw_status, _source(rng, src), raw_added]
                    per_dir["yf" if src == "ft" else "ft"].append(dup)
                batch[(f.sym, f.asset, SOURCE_CANON[src])] = {
                    "name": f.name if named else None,
                    "status": status,
                    "date_added": f.listed if raw_added else None,
                }
        for _ in range(max(1, len(present) // 50)):  # invalid asset type
            per_dir["yf"].append([next(invalid_sym), "BOND", "Some Bond", "", "yf", ""])
            n_invalid += 1
        for src, rows in per_dir.items():
            rng.shuffle(rows)
            emit(base / "master_list" / src / "list.csv", header, rows)
        master = wh["stg_security_master"]
        st = _stats(master, batch, unconditional=True)
        for k, b in batch.items():
            prev = master.get(k)
            master[k] = {
                "name": b["name"],
                "status": b["status"],
                "first_seen": prev["first_seen"] if prev else (b["date_added"] or iso),
                "last_seen": iso,
            }
        promoted = inactive = 0
        cutoff = (today - timedelta(days=INACTIVE_GRACE_DAYS)).isoformat()
        for row in master.values():
            if row["status"] == "active" and row["last_seen"] < cutoff:
                row["status"] = "inactive"
                inactive += 1
            elif row["status"] == "new" and row["name"] is not None:
                row["status"] = "active"
                promoted += 1
        merge_stats = {"stg_security_master": st}

        # ---- daily NAV (two source dirs) ---------------------------------
        header = ["Ticker", "Asset_Type", "Source", "nav_price", "currency", "as_of_date", "scrape_date"]
        per_dir = {"ft": [], "yf": []}
        nav = wh["stg_daily_nav"]
        batch = {}
        n_future = 0
        prev_iso = dates[t - 1].isoformat() if t else None

        def nav_row(f, src, price, as_of, scrape):
            cur = f.currency if f.currency != "USD" else rng.choice(("USD", "USD", "", "nan", "N/A"))
            return [
                _ticker(rng, f.sym),
                rng.choice((f.asset, f.asset.lower(), f" {f.asset.title()}")),
                _source(rng, src),
                rng.choice((f"{price:.4f}", f"{price:.2f}")) if isinstance(price, float) else price,
                cur,
                as_of,
                scrape,
            ]

        for f in present:
            for src in ("ft", "yf") if f.on_yf else ("ft",):
                key = (f.sym, f.asset, SOURCE_CANON[src], iso)
                if src == "ft" and rng.random() < 0.03:  # scraper failure
                    per_dir[src].append(nav_row(f, src, rng.choice(("0", "-3.2100", "N/A")), iso, iso))
                    continue
                f.nav[src] = round(max(1.0, f.nav[src] * rng.uniform(0.97, 1.03)), 2)
                per_dir[src].append(nav_row(f, src, f.nav[src], iso, iso))
                batch[key] = (f.nav[src], f.currency, iso)
                if src == "yf" and rng.random() < 0.05:  # stale twin in the other dir
                    stale = round(f.nav[src] + 1.0, 2)
                    per_dir["ft"].append(nav_row(f, src, stale, iso, prev_iso or "2024-01-01"))
            if t and f.present(t - 1) and rng.random() < 0.3:  # late re-delivery
                key = (f.sym, f.asset, "yahoo_finance", prev_iso)
                if key in nav and f.on_yf:
                    price, _, scrape = nav[key]
                    if rng.random() < 1 / 3:  # corrected price
                        price, scrape = round(price + 0.5, 2), iso
                    per_dir["yf"].append(nav_row(f, "yf", price, prev_iso, scrape))
                    batch[key] = (price, f.currency, scrape)
            if rng.random() < 0.02:  # future-dated: quarantined
                future = (today + timedelta(days=40)).isoformat()
                per_dir["ft"].append(nav_row(f, "ft", f.nav["ft"], future, iso))
                n_future += 1
        for src, rows in per_dir.items():
            rng.shuffle(rows)
            emit(base / "daily_nav" / src / "nav.csv", header, rows)
        merge_stats["stg_daily_nav"] = _stats(nav, batch)
        nav.update(batch)

        # ---- static details (one wide file per source dir) ---------------
        header = [
            "Symbol", "asset_type", "source", "Fund Name", "issuer", "inception_date",
            "assets_aum", "expense_ratio", "holdings_count", "standard_dev_3y",
            "sharpe_ratio_1y", "dividend_yield", "total_return_1y",
        ]
        per_dir = {"ft": [], "yf": []}
        batches: dict[str, dict] = {t_: {} for t_ in ("stg_fund_info", "stg_fund_fees", "stg_fund_risk", "stg_fund_policy")}
        for f in present:
            if t and rng.random() < 0.10:
                f.aum = round(f.aum / 1e6 * rng.uniform(0.95, 1.05), 2) * 1e6
            if t and rng.random() < 0.05:
                f.sharpe = round(f.sharpe + 0.1, 2)
            if t and rng.random() < 0.05:
                f.div_yield = round(f.div_yield + 0.05, 2)
            if t and rng.random() < 0.02:
                f.issuer = rng.choice(ISSUERS)
            for src in ("ft", "yf") if f.on_yf else ("ft",):
                asset_raw = rng.choice(("Mutual Fund", "FUND", "fund")) if f.asset == "FUND" else rng.choice(("ETF", "", "etf"))
                issuer_raw = f.issuer if rng.random() < 0.95 else "N/A"
                exp_raw, exp = _expense(rng, f.expense)
                sd_raw, sd = _std_dev(rng, f.std_dev)
                sh_raw, sh = _sharpe(rng, f.sharpe)
                dy_raw, dy = _pct(rng, f.div_yield)
                r1_raw, r1 = _ret(rng, f.ret_1y)
                per_dir[src].append([
                    _ticker(rng, f.sym), asset_raw, src, f.name, issuer_raw, f.inception,
                    _aum(rng, f.aum), exp_raw, f"{f.holdings_count:,}", sd_raw, sh_raw, dy_raw, r1_raw,
                ])
                key = (f.sym, f.asset, SOURCE_CANON[src])
                batches["stg_fund_info"][key] = {
                    "name": f.name, "issuer": null_sentinel(issuer_raw), "inception_date": f.inception,
                }
                batches["stg_fund_fees"][key] = {
                    "expense_ratio": exp, "assets_aum": dec(f.aum, 2), "holdings_count": f.holdings_count,
                }
                batches["stg_fund_risk"][key] = {"sharpe_ratio_1y": sh, "standard_dev_3y": sd}
                batches["stg_fund_policy"][key] = {"dividend_yield": dy, "total_return_1y": r1}
        for src, rows in per_dir.items():
            emit(base / "fund_details" / src / "details.csv", header, rows)
        for table, b in batches.items():
            merge_stats[table] = _stats(wh[table], b)
            wh[table].update(b)

        # ---- holdings (as_of_date from the path) + allocations -----------
        header = [
            "ticker", "asset_type", "source", "Item_Name", "holding_ticker", "Value_Net",
            "shares_held", "market_value", "sector", "country",
        ]
        hold_rows: list = []
        batch = {}
        hold_path = base / "holdings" / "h.csv"
        alloc_rows: dict[str, list] = {"sector": [], "region": []}
        alloc_batch = {}
        for f in present:
            if not f.has_holdings:
                continue
            for name, tick in rng.sample(HOLDING_NAMES, f.n_holdings):
                pct = round(rng.uniform(0.5, 9.5), 2)
                shares, mv = round(rng.uniform(100, 90000), 2), round(rng.uniform(1e3, 9e6), 2)
                sector = rng.choice(SECTORS + ["N/A"])
                tick_raw = tick if rng.random() < 0.9 else "X" * 25  # over the 20-char guard
                row = [f" {f.sym}", f.asset, "ft", name, tick_raw, f"{pct:+.2f}%", f"{shares:.2f}", f"{mv:.2f}", sector, "US"]
                hold_rows.append(row)
                if rng.random() < 0.08:  # duplicate key, other rendering
                    hold_rows.append([f.sym, f.asset, "ft", name, tick_raw, f"{pct}%", f"{shares:.2f}", f"{mv:.2f}", sector, "US"])
                batch[(f.sym, f.asset, "ft", name, None)] = {
                    "holding_ticker": null_sentinel(tick_raw) if len(tick_raw) <= 20 else None,
                    "holding_percentage": pct,
                    "shares_held": shares,
                    "market_value": mv,
                    "sector": null_sentinel(sector),
                    "country": "US",
                }
            hold_rows.append([f.sym, f.asset, "ft", "Total per cent of portfolio", "", "100%", "", "", "", ""])
            for (kind, item), (net, cat) in list(f.alloc.items()):
                if t and rng.random() < 0.10:
                    net = round(net + 0.25, 2)
                    f.alloc[(kind, item)] = (net, cat)
                alloc_rows[kind].append([f.sym, f.asset, "ft", item, rng.choice((f"{net:.2f}%", f"{net:+.2f}")), f"{cat:.2f}", ALLOCATION_AS_OF])
                alloc_batch[(f.sym, f.asset, "ft", kind, item, ALLOCATION_AS_OF)] = {"value_net": net, "value_category_avg": cat}
        if hold_rows:
            emit(hold_path, header, hold_rows)
            as_of = _uri_date(hold_path)
            batch = {k[:4] + (as_of,): v for k, v in batch.items()}
        for kind, rows in alloc_rows.items():
            if rows:
                emit(base / "allocations" / kind / "a.csv", ["ticker", "asset_type", "source", "item_name", "value_net", "value_category_avg", "as_of_date"], rows)
        merge_stats["stg_fund_holdings"] = _stats(wh["stg_fund_holdings"], batch)
        wh["stg_fund_holdings"].update(batch)
        merge_stats["stg_allocations"] = _stats(wh["stg_allocations"], alloc_batch)
        wh["stg_allocations"].update(alloc_batch)

        # ---- price history: one <TICKER>_history.csv per ticker ----------
        header = ["Date", "Open", "High", "Low", "Close", "Adj Close", "Volume", "Change %"]
        batch = {}
        for f in present:
            close = f.nav["ft"]
            f.prices[t] = (round(close * 0.99, 2), round(close * 1.02, 2), round(close * 0.98, 2), close, close, rng.randint(1000, 9_000_000))
            window = [d for d in range(max(f.first_day, t - 2), t + 1) if d in f.prices]
            for d in window[:-1]:
                if rng.random() < 0.05:  # revised adjusted close
                    o, h, lo, c, a, v = f.prices[d]
                    f.prices[d] = (o, h, lo, c, round(a - 0.05, 2), v)
            rows = []
            for d in window:
                o, h, lo, c, a, v = f.prices[d]
                rows.append([dates[d].isoformat(), f"{o:.2f}", f"{h:.2f}", f"{lo:.2f}", f"{c:.2f}", f"{a:.2f}", f"{v:,}", f"{rng.uniform(-3, 3):+.2f}%"])
            if rng.random() < 0.05:
                rows.append(list(rows[-1]))  # duplicate date row
            path = base / "price_history" / f.asset.lower() / f"{f.sym}_history.csv"
            emit(path, header, rows)
            asset = "ETF" if "etf" in path.absolute().as_posix().lower() else "FUND"
            for d in window:
                batch[(f.sym, asset, "stock_analysis", dates[d].isoformat())] = f.prices[d]
        merge_stats["stg_price_history"] = _stats(wh["stg_price_history"], batch)
        wh["stg_price_history"].update(batch)

        # ---- maintenance: archive snapshot of the master, then purge -----
        archived.append(iso)
        keep_from = (today - timedelta(days=ARCHIVE_RETENTION_DAYS)).isoformat()
        purged = [f"dt={d}" for d in archived if d < keep_from]
        archived = [d for d in archived if d >= keep_from]

        statuses: dict[str, int] = {}
        for row in master.values():
            statuses[row["status"]] = statuses.get(row["status"], 0) + 1
        days.append(
            DayExpect(
                run_date=iso,
                merge=merge_stats,
                quarantined={"master_sync": n_invalid, "daily_nav": n_future},
                repair_failed=0,
                promoted=promoted,
                marked_inactive=inactive,
                purged=purged,
                landed_rows=rows_files[0],
                landed_files=rows_files[1],
                reads={
                    "latest_nav": len({k[:3] for k in nav}),
                    "master_status": statuses,
                    "holdings_rows": len(wh["stg_fund_holdings"]),
                    "priced_tickers": len({k[:2] for k in wh["stg_price_history"]}),
                },
            )
        )

    return LandingZone(root=root, dates=dates, days=days, final=_final_rows(wh))


def _final_rows(wh: dict) -> dict:
    """The expected warehouse: table -> {natural key: non-null-able value
    columns}. Columns a table has but the feeds never fill are NULL."""
    out: dict[str, dict] = {}
    key_cols = {
        "stg_security_master": ("ticker", "asset_type", "source"),
        "stg_daily_nav": ("ticker", "asset_type", "source", "as_of_date"),
        "stg_price_history": ("ticker", "asset_type", "source", "date"),
        "stg_fund_holdings": ("ticker", "asset_type", "source", "holding_name", "as_of_date"),
        "stg_allocations": ("ticker", "asset_type", "source", "allocation_type", "item_name", "as_of_date"),
    }
    for table, rows in wh.items():
        keys = key_cols.get(table, ("ticker", "asset_type", "source"))
        out[table] = {}
        for k, v in rows.items():
            row = dict(zip(keys, k))
            if table == "stg_daily_nav":
                row.update(nav_price=v[0], currency=v[1], scrape_date=v[2])
            elif table == "stg_price_history":
                row.update(zip(("open", "high", "low", "close", "adj_close", "volume"), v))
            else:
                row.update(v)
            out[table][k] = row
    return out
