"""``etl_daily``: the reference's own job over a generated landing zone.

Each run date is one ``run_all(default_stages(...) + [price_history])``,
then an archive snapshot of the security master and a retention purge
(the write path, timed as one run date), then a read phase over the
warehouse. A cycle is every run date from an empty warehouse. The final
warehouse is checked with DuckDB, outside Spark.
"""

from __future__ import annotations

import shutil
import threading
import time
from dataclasses import dataclass, field
from datetime import date
from pathlib import Path

from . import landing
from .trace import SparkCounters, Tracer, add_counts, materialize

#: run_all's stages in report order -> {RunReport table name: warehouse table}
STAGE_TABLES = {
    "master_sync": {"master_sync": "stg_security_master"},
    "daily_nav": {"daily_nav": "stg_daily_nav"},
    "nav_repair": {},
    "static_details": {t: t for t in ("stg_fund_info", "stg_fund_fees", "stg_fund_risk", "stg_fund_policy")},
    "holdings": {t: t for t in ("stg_fund_holdings", "stg_allocations")},
    "price_history": {"price_history": "stg_price_history"},
}
ARCHIVE = "archive/stg_security_master"


def _unchanged(failed):
    """NAV repair re-feed: the cleaner already dropped every non-positive
    NAV, so the repair pass finds nothing and never calls this."""
    return failed


@dataclass
class Cycle:
    day_s: list = field(default_factory=list)
    read_s: list = field(default_factory=list)
    stage_s: dict = field(default_factory=dict)  # stage -> [seconds per day]
    attempts: int = 0
    ops: int = 0
    failed: int = 0
    problems: list = field(default_factory=list)
    spark_write: dict = field(default_factory=dict)
    spark_read: dict = field(default_factory=dict)
    storage: dict = field(default_factory=dict)  # table -> {"files", "bytes"} after the last day
    files_live: list = field(default_factory=list)  # warehouse files after each run date
    wall_s: float = 0.0  # write paths plus read phases


def data_files(path: Path) -> list[Path]:
    """A table's live parquet files (hidden and staging entries skipped)."""
    if not path.exists():
        return []
    return [p for p in path.rglob("*.parquet") if not any(part.startswith((".", "_")) for part in p.relative_to(path).parts)]


def table_storage(path: Path) -> dict:
    files = data_files(path)
    return {"files": len(files), "bytes": sum(p.stat().st_size for p in files)}


def file_ids(path: Path) -> dict:
    """Live file -> (inode, mtime, size): a file a write replaced or added
    has another id than before."""
    out = {}
    for p in data_files(path):
        st = p.stat()
        out[p] = (st.st_ino, st.st_mtime_ns, st.st_size)
    return out


class EtlDaily:
    def __init__(self, spark, seed: int, n_tickers: int, n_days: int) -> None:
        self.spark, self.seed = spark, seed
        self.n_tickers, self.n_days = n_tickers, n_days

    def generate(self, root: Path) -> landing.LandingZone:
        if root.exists():
            shutil.rmtree(root)
        return landing.generate(root, self.seed, self.n_tickers, self.n_days)

    # ------------------------------------------------------------------
    def run_cycle(self, zone: landing.LandingZone, wh: Path) -> Cycle:
        """Every run date from an empty warehouse."""
        if wh.exists():
            shutil.rmtree(wh)
        cyc = Cycle()
        for i in range(len(zone.days)):
            self.run_day(zone, i, wh, cyc)
        return cyc

    def run_traced_pair(self, zone: landing.LandingZone, wh_plain: Path, wh_traced: Path, tracer: Tracer, layer: dict) -> tuple[Cycle, Cycle]:
        """An untraced cycle and a traced replay of the incremental run
        dates. The first date runs untraced only (it pays the JIT warmup);
        its warehouse is copied, and each later date runs traced on the copy
        first, then untraced on the original, so the two legs start every
        date from the same state and a date compares them without
        favouring tracing."""
        for wh in (wh_plain, wh_traced):
            if wh.exists():
                shutil.rmtree(wh)
        plain, traced = Cycle(), Cycle()
        self.run_day(zone, 0, wh_plain, plain)
        shutil.copytree(wh_plain, wh_traced)
        for i in range(1, len(zone.days)):
            install_tracing(tracer, layer)
            try:
                self.run_day(zone, i, wh_traced, traced, tracer)
            finally:
                tracer.restore()
            self.run_day(zone, i, wh_plain, plain)
        return plain, traced

    def run_day(self, zone: landing.LandingZone, i: int, wh: Path, cyc: Cycle, tracer: Tracer | None = None) -> None:
        """One run date: the write path (run_all, archive snapshot, purge),
        then the read phase, each timed; then the untimed checks."""
        from pyspark.sql import functions as F

        from fund_data_pipeline_spark import maintenance, merge
        from fund_data_pipeline_spark.pipelines import daily_nav, orchestrator, price_history

        spark = self.spark
        exp = zone.days[i]
        iso = exp.run_date
        day_root = zone.day_root(i)
        counters = SparkCounters(spark)
        if tracer is not None:
            tracer.run_id = f"{self.seed}:{iso}"
        root_span = tracer.span("etl.day") if tracer else None
        day_id = root_span.__enter__().id if root_span else None
        t0 = time.perf_counter()
        today = F.lit(iso).cast("date")
        stages = orchestrator.default_stages(spark, str(day_root), str(wh), today=today, nav_reprocess=_unchanged)
        stages.append(
            ("price_history", lambda: price_history.run(spark, str(day_root / "price_history"), str(wh / "stg_price_history")))
        )
        if tracer is not None:
            stages = [
                [(n, tracer.bind(f"orchestrator.{n}", fn, day_id)) for n, fn in e]
                if isinstance(e, list)
                else (e[0], tracer.bind(f"orchestrator.{e[0]}", e[1], day_id))
                for e in stages
            ]
        report = orchestrator.run_all(stages)
        master = merge.read_table(spark, str(wh / "stg_security_master"))
        maintenance.snapshot(master, str(wh / ARCHIVE), iso)
        dropped = maintenance.purge_expired_partitions(
            str(wh / ARCHIVE), today=date.fromisoformat(iso), retention_days=landing.ARCHIVE_RETENTION_DAYS
        )
        cyc.day_s.append(time.perf_counter() - t0)
        add_counts(cyc.spark_write, counters.take())
        if root_span:
            root_span.__exit__(None, None, None)

        # read phase: the warehouse read back the way a consumer would
        read_span = tracer.span("etl.read") if tracer else None
        if read_span:
            read_span.__enter__()
        t0 = time.perf_counter()
        reads = {
            "latest_nav": daily_nav.latest_nav_per_fund(merge.read_table(spark, str(wh / "stg_daily_nav"))).count(),
            "master_status": {
                r["status"]: r["count"]
                for r in merge.read_table(spark, str(wh / "stg_security_master")).groupBy("status").count().collect()
            },
            "holdings_rows": merge.read_table(spark, str(wh / "stg_fund_holdings")).count(),
            "priced_tickers": merge.read_table(spark, str(wh / "stg_price_history")).select("ticker", "asset_type").distinct().count(),
        }
        cyc.read_s.append(time.perf_counter() - t0)
        add_counts(cyc.spark_read, counters.take())
        if read_span:
            read_span.__exit__(None, None, None)
        cyc.wall_s += cyc.day_s[-1] + cyc.read_s[-1]

        for st in report.stages:
            cyc.stage_s.setdefault(st.name, []).append(st.duration_sec)
            cyc.attempts += st.attempts
        cyc.ops += len(report.stages) + 1 + len(reads)
        self._check_day(exp, report, dropped, reads, cyc)
        cyc.storage = {t: table_storage(wh / t) for t in landing.TABLES}
        cyc.files_live.append(sum(s["files"] for s in cyc.storage.values()))

    def _check_day(self, exp, report, dropped, reads, cyc: Cycle) -> None:
        def fail(msg):
            cyc.failed += 1
            cyc.problems.append(f"{exp.run_date}: {msg}")

        by_name = {s.name: s for s in report.stages}
        if [s.name for s in report.stages] != list(STAGE_TABLES):
            fail(f"stages {[s.name for s in report.stages]}")
        for name, tables in STAGE_TABLES.items():
            st = by_name.get(name)
            if st is None or st.status != "ok":
                fail(f"stage {name}: {st.status if st else 'missing'} {st.error if st else ''}")
                continue
            bad = []
            for rep_key, table in tables.items():
                got = st.tables.get(rep_key)
                want = exp.merge[table]
                if got is None or (got.inserted, got.updated, got.unchanged) != (want["inserted"], want["updated"], want["unchanged"]):
                    bad.append(f"{table}: got {got} want {want}")
            if name in exp.quarantined and st.side_counts.get("rows_quarantined") != exp.quarantined[name]:
                bad.append(f"quarantined {st.side_counts.get('rows_quarantined')} want {exp.quarantined[name]}")
            if name == "nav_repair" and st.side_counts.get("rows_failed", 0) != exp.repair_failed:
                bad.append(f"repair failed rows {st.side_counts}")
            if bad:
                fail(f"stage {name}: " + "; ".join(bad))
        if dropped != exp.purged:
            fail(f"purged {dropped} want {exp.purged}")
        for k, want in exp.reads.items():
            if reads[k] != want:
                fail(f"read {k}: got {reads[k]} want {want}")

    # ------------------------------------------------------------------
    @staticmethod
    def warehouse_rows(wh: Path, table: str, skip=("updated_at",)) -> dict:
        """Natural key -> canonical value tuple of every column but
        ``skip``, read with DuckDB straight from the table's parquet files."""
        import duckdb

        from fund_data_pipeline_spark.schemas import TABLES

        schema, key = TABLES[table]
        cols = [f.name for f in schema.fields if f.name not in skip]
        with duckdb.connect() as con:
            rows = con.execute(f"SELECT {', '.join(cols)} FROM read_parquet('{wh / table}/*.parquet')").fetchall()
        at = {c: j for j, c in enumerate(cols)}
        return {tuple(canon(r[at[k]]) for k in key): tuple(canon(v) for v in r) for r in rows}

    def check_final(self, zone: landing.LandingZone, wh: Path) -> list[str]:
        """The final warehouse against the generator's model, on keys and
        values, audit columns (row_hash, updated_at) excluded."""
        from fund_data_pipeline_spark.schemas import TABLES

        problems = []
        for table in landing.TABLES:
            schema, key = TABLES[table]
            cols = [f.name for f in schema.fields if f.name not in ("row_hash", "updated_at")]
            got = self.warehouse_rows(wh, table, skip=("row_hash", "updated_at"))
            want = {
                tuple(canon(row.get(k)) for k in key): tuple(canon(row.get(c)) for c in cols)
                for row in zone.final[table].values()
            }
            if got != want:
                missing = [k for k in want if k not in got][:2]
                extra = [k for k in got if k not in want][:2]
                diff = [(k, got[k], want[k]) for k in want if k in got and got[k] != want[k]][:2]
                problems.append(f"{table}: {len(got)} rows vs {len(want)} expected; missing {missing} extra {extra} differ {diff}")
        return problems

    def same_warehouse(self, a: Path, b: Path) -> list[str]:
        """Tables that differ between two warehouses (updated_at ignored)."""
        return [t for t in landing.TABLES if self.warehouse_rows(a, t) != self.warehouse_rows(b, t)]


def canon(v):
    from decimal import Decimal

    if v is None:
        return None
    if isinstance(v, (Decimal, float, int)) and not isinstance(v, bool):
        return round(float(v), 6)
    if isinstance(v, date):
        return v.isoformat()
    return v


# ---------------------------------------------------------------------------
# traced replay: the layer functions each flow calls, wrapped
# ---------------------------------------------------------------------------


def install_tracing(tracer: Tracer, layer: dict) -> None:
    """Swap the ETL layers' public functions for span-recording,
    materializing wrappers. ``layer`` accumulates the layer counts."""
    from fund_data_pipeline_spark import dedup, hashing, lifecycle, maintenance, merge
    from fund_data_pipeline_spark.pipelines import daily_nav, holdings, master_sync, price_history, static_details
    from fund_data_pipeline_spark.sources import csv_landing

    lock = threading.Lock()

    def bump(key, n):
        with lock:
            layer[key] = layer.get(key, 0) + n

    def frame_span(name, count_in=False, count_key=None):
        def factory(fn):
            def run(*a, **kw):
                with tracer.span(name) as sp:
                    if count_in:
                        sp.counts["rows_in"] = a[0].count()
                    out = materialize(fn(*a, **kw))
                    sp.counts["rows_out"] = out.count()
                if count_key:
                    bump(count_key + ".rows_in", sp.counts.get("rows_in", 0))
                    bump(count_key + ".rows_out", sp.counts["rows_out"])
                return out

            return run

        return factory

    def read_factory(fn):
        def run(*a, **kw):
            from pyspark.sql import functions as F

            with tracer.span("sources.read") as sp:
                out = materialize(fn(*a, **kw))
                per_file = out.groupBy("origin_file").agg(F.count(F.lit(1)).alias("n")).collect()
                sp.counts.update(rows=sum(r["n"] for r in per_file), files=len(per_file))
                sp.counts["bytes"] = sum(Path(_uri_path(r["origin_file"])).stat().st_size for r in per_file)
            for k in ("rows", "files", "bytes"):
                bump(f"sources.{k}_read", sp.counts[k])
            return out

        return run

    def validate_factory(flow):
        def factory(fn):
            def run(*a, **kw):
                with tracer.span(f"validate.{flow}") as sp:
                    good, bad = fn(*a, **kw)
                    good, bad = materialize(good), materialize(bad)
                    sp.counts.update(valid=good.count(), quarantined=bad.count())
                bump("validate.rows_quarantined", sp.counts["quarantined"])
                bump("validate.rows_checked", sp.counts["valid"] + sp.counts["quarantined"])
                return good, bad

            return run

        return factory

    def merge_factory(fn):
        def run(spark_, target_path, *a, **kw):
            import pyarrow.parquet as pq

            table = Path(target_path).name
            before = file_ids(Path(target_path))
            with tracer.span(f"merge.{table}") as sp:
                stats = fn(spark_, target_path, *a, **kw)
            # the files this merge wrote: their rows are the rows it rewrote
            after = file_ids(Path(target_path))
            written = [f for f, ident in after.items() if before.get(f) != ident]
            rewritten = sum(pq.ParquetFile(f).metadata.num_rows for f in written)
            ins, upd, unch = stats.inserted, stats.updated, stats.unchanged
            sp.counts.update(inserted=ins, updated=upd, unchanged=unch, rewritten=rewritten, files_written=len(written))
            for k, v in (("inserted", ins), ("updated", upd), ("unchanged", unch), ("rewritten", rewritten)):
                bump(f"merge.rows_{k}", v)
            bump("merge.bytes_written", sum(after[f][2] for f in written))
            return stats

        return run

    def transition_factory(fn):
        def run(df, today=None, **kw):
            from pyspark.sql import functions as F

            with tracer.span("lifecycle.transition") as sp:
                expire = lifecycle.should_mark_inactive(today=today)
                promote = lifecycle.should_promote_to_active()
                r = df.select(
                    F.sum(expire.cast("int")).alias("inactive"),
                    F.sum((~expire & promote).cast("int")).alias("promoted"),
                ).first()
                out = materialize(fn(df, today=today, **kw))
            bump("lifecycle.marked_inactive", r["inactive"] or 0)
            bump("lifecycle.promoted", r["promoted"] or 0)
            return out

        return run

    def plain(name, counter=None):
        def factory(fn):
            def run(*a, **kw):
                with tracer.span(name):
                    out = fn(*a, **kw)
                if counter:
                    bump(counter, len(out))
                return out

            return run

        return factory

    for owner in (csv_landing, daily_nav):
        tracer.swap(owner, "read_landing_csvs", read_factory)
    for mod, flow in ((master_sync, "master_sync"), (daily_nav, "daily_nav"), (price_history, "price_history"), (static_details, "static_details")):
        tracer.swap(mod, "clean", frame_span(f"clean.{flow}", count_in=True, count_key="clean"))
    tracer.swap(master_sync, "consolidate", frame_span("clean.master_sync"))
    tracer.swap(holdings, "clean_holdings", frame_span("clean.holdings", count_in=True, count_key="clean"))
    tracer.swap(holdings, "clean_allocations", frame_span("clean.holdings", count_in=True, count_key="clean"))
    for fn in ("dedup_keyed", "dedup_min"):
        tracer.swap(dedup, fn, frame_span("dedup", count_in=True, count_key="dedup"))
    tracer.swap(master_sync, "validate_split", validate_factory("master_sync"))
    tracer.swap(daily_nav, "validate_split", validate_factory("daily_nav"))
    tracer.swap(hashing, "with_row_hash", frame_span("hashing.prepare"))
    tracer.swap(merge, "merge_upsert", merge_factory)
    tracer.swap(lifecycle, "apply_status_transitions", transition_factory)
    tracer.swap(maintenance, "snapshot", plain("maintenance.snapshot"))
    tracer.swap(maintenance, "purge_expired_partitions", plain("maintenance.purge", "maintenance.partitions_dropped"))


def _uri_path(uri: str) -> str:
    from urllib.parse import unquote, urlparse

    return unquote(urlparse(uri).path)
