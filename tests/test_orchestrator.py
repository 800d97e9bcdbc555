"""O1/O7: fail-stop orchestration + run-summary reporting over a full
landing-zone fixture (reference main_pipeline.py:16-33 + logger.py:81-117)."""

from __future__ import annotations

from pyspark.sql import functions as F

from fund_data_pipeline_spark.pipelines import orchestrator, run_pipeline


def _write_landing(root):
    (root / "master_list").mkdir(parents=True)
    (root / "master_list" / "ft.csv").write_text(
        "Symbol,asset_type,Fund Name,status,source,date_added\n"
        "vtsax,Mutual Fund,Vanguard Total,,ft,2024-03-01\n"
        "SPY,ETF,SPDR S&P 500,active,yf,2024-03-01\n"
    )
    (root / "daily_nav").mkdir()
    (root / "daily_nav" / "nav.csv").write_text(
        "Ticker,Asset_Type,Source,nav_price,currency,as_of_date,scrape_date\n"
        "VTSAX,FUND,yf,12.99,USD,2024-03-01,2024-03-01\n"
        "SPY,ETF,yf,500.10,USD,2024-03-09,2024-03-01\n"  # future date: quarantined
    )
    (root / "fund_details").mkdir()
    (root / "fund_details" / "details.csv").write_text(
        "Symbol,asset_type,source,Fund Name,assets_aum,expense_ratio,initial_charge,"
        "holdings_count,total_return_1y,standard_dev_3y,as_of_date\n"
        'vtsax,FUND,yf,Vanguard,842.33m USD,0.04%,45,"1,234",150.5,2550.0,2024-03-01\n'
    )
    (root / "holdings").mkdir()
    (root / "holdings" / "h.csv").write_text(
        "ticker,asset_type,source,Item_Name,holding_ticker,Value_Net,as_of_date\n"
        "VTSAX,FUND,ft,Apple Inc,AAPL,+5.2%,2024-03-01\n"
    )
    (root / "allocations" / "sector").mkdir(parents=True)
    (root / "allocations" / "sector" / "a.csv").write_text(
        "ticker,asset_type,source,item_name,value_net,as_of_date\n"
        "VTSAX,FUND,ft,Technology,45.5%,2024-03-01\n"
    )


def test_run_pipeline_full_chain(spark, tmp_path):
    landing = tmp_path / "landing"
    warehouse = tmp_path / "warehouse"
    _write_landing(landing)

    report = run_pipeline(
        spark, str(landing), str(warehouse), today=F.lit("2024-03-05").cast("date")
    )
    assert report.ok
    by_name = {s.name: s for s in report.stages}
    assert [s.name for s in report.stages] == [
        "master_sync", "daily_nav", "nav_repair", "static_details", "holdings",
    ]
    assert all(s.status == "ok" for s in report.stages)

    # per-stage stats reached the report
    assert by_name["master_sync"].tables["master_sync"].inserted == 2
    assert by_name["daily_nav"].tables["daily_nav"].inserted == 1
    assert by_name["daily_nav"].side_counts["rows_quarantined"] == 1
    assert by_name["static_details"].tables["stg_fund_info"].inserted == 1
    assert by_name["holdings"].tables["stg_allocations"].inserted == 1

    # the warehouse actually has the tables
    for t in (
        "stg_security_master", "stg_daily_nav", "stg_fund_info",
        "stg_fund_fees", "stg_fund_risk", "stg_fund_policy",
        "stg_fund_holdings", "stg_allocations",
    ):
        assert (warehouse / t).is_dir(), t
    assert spark.read.parquet(str(warehouse / "stg_daily_nav")).count() == 1

    # run summary: one line per stage + totals (logger.py:81-117 parity)
    lines = report.summary_lines()
    assert lines[0] == "== pipeline run summary =="
    assert len(lines) == 2 + len(report.stages)
    assert "stage daily_nav: ok" in lines[2] and "rows_quarantined=1" in lines[2]
    assert lines[-1].startswith("TOTAL: 5 ok, 0 failed, 0 skipped")
    tot = report.totals()
    assert tot.inserted == 2 + 1 + 4 + 2  # master + nav + details x4 + holdings/alloc

    # idempotent re-run: hash guards elide everything except the K5 master
    report2 = run_pipeline(
        spark, str(landing), str(warehouse), today=F.lit("2024-03-05").cast("date")
    )
    assert report2.ok and report2.totals().inserted == 0


def test_run_all_fail_stop(spark):
    calls = []

    def ok_stage():
        calls.append("a")

    def boom():
        raise RuntimeError("feed exploded")

    def never():
        calls.append("c")

    report = orchestrator.run_all([("a", ok_stage), ("b", boom), ("c", never)])
    assert not report.ok
    assert [s.status for s in report.stages] == ["ok", "failed", "skipped"]
    assert "feed exploded" in report.stages[1].error
    assert report.stages[2].error == "fail-stop: b failed"
    assert calls == ["a"]  # c never ran

    # independent-flows mode: later stages still run
    calls.clear()
    report = orchestrator.run_all(
        [("a", ok_stage), ("b", boom), ("c", never)], fail_stop=False
    )
    assert [s.status for s in report.stages] == ["ok", "failed", "ok"]
    assert calls == ["a", "c"]


def test_run_all_stage_retries(spark):
    """O4 parity (reference 04_sa_history_remediator.py:228-237, two
    attempts): a stage that fails transiently succeeds on a retry — only
    the final outcome counts, attempts are recorded, fail-stop still sees
    a stage that exhausts its retries, and a mid-retry success leaves no
    'failed' residue in the report."""
    flaky_calls = {"n": 0}

    def flaky():
        flaky_calls["n"] += 1
        if flaky_calls["n"] < 3:
            raise RuntimeError(f"transient {flaky_calls['n']}")

    def always_boom():
        raise RuntimeError("permanent")

    report = orchestrator.run_all([("f", flaky)], retries=2)
    assert report.ok
    assert flaky_calls["n"] == 3
    st = report.stages[0]
    assert st.status == "ok" and st.attempts == 3 and st.error is None
    assert "[attempt 3]" in report.summary_lines()[1]

    # exhausted retries: last error recorded, later stages fail-stop
    report = orchestrator.run_all(
        [("b", always_boom), ("c", lambda: None)], retries=1
    )
    assert not report.ok
    assert report.stages[0].status == "failed" and report.stages[0].attempts == 2
    assert "permanent" in report.stages[0].error
    assert report.stages[1].status == "skipped"

    # default stays single-attempt (the r14 behavior)
    flaky_calls["n"] = 0
    report = orchestrator.run_all([("f", flaky)])
    assert not report.ok and report.stages[0].attempts == 1


def test_run_all_retry_delay_backs_off_between_attempts(monkeypatch):
    """r15 ADVICE: the reference remediator sleeps 10s between its two
    attempts; retry_delay_sec applies that backoff between attempts (not
    before the first), so a retry does not instantly re-hit the same
    transient condition. Sleeps are intercepted — the test pins WHERE the
    delay applies, not wall-clock."""
    slept: list[float] = []
    monkeypatch.setattr(orchestrator.time, "sleep", lambda s: slept.append(s))
    calls = {"n": 0}

    def flaky():
        calls["n"] += 1
        if calls["n"] < 3:
            raise RuntimeError("transient")

    report = orchestrator.run_all([("f", flaky)], retries=2, retry_delay_sec=0.5)
    assert report.ok and report.stages[0].attempts == 3
    # two retries -> two sleeps, none before the first attempt
    assert slept == [0.5, 0.5]

    # default 0 delay: no sleep calls at all (current-test preservation)
    slept.clear()
    calls["n"] = 0
    orchestrator.run_all([("f", flaky)], retries=2)
    assert slept == []


def test_missing_feeds_do_not_fail_the_run(spark, tmp_path):
    (tmp_path / "landing").mkdir()
    report = run_pipeline(spark, str(tmp_path / "landing"), str(tmp_path / "wh"))
    assert report.ok
    assert all(s.status == "ok" and not s.tables for s in report.stages)


def test_parallel_group_runs_concurrently_and_fail_stops_after():
    """O2: stages inside a list entry must actually run concurrently (a
    2-party barrier with a timeout can only be satisfied if both stages are
    in flight at once), siblings of a failed group member still complete,
    and entries after the group are skipped under fail-stop."""
    import threading

    from fund_data_pipeline_spark.pipelines.orchestrator import run_all

    barrier = threading.Barrier(2, timeout=30)

    def meet():
        barrier.wait()  # deadlocks (then breaks) if run sequentially
        return None

    def boom():
        barrier.wait()
        raise RuntimeError("kaput")

    report = run_all(
        [
            ("first", lambda: None),
            [("meet", meet), ("boom", boom)],
            ("after", lambda: None),
        ]
    )
    by_name = {s.name: s for s in report.stages}
    assert [s.name for s in report.stages] == ["first", "meet", "boom", "after"]
    assert by_name["first"].status == "ok"
    assert by_name["meet"].status == "ok"  # sibling completed despite failure
    assert by_name["boom"].status == "failed" and "kaput" in by_name["boom"].error
    assert by_name["after"].status == "skipped"
    assert "boom failed" in by_name["after"].error


def test_sentinel_only_feed_is_a_noop_not_a_crash(spark, tmp_path):
    """A feed dir holding ONLY error_log.csv delivered nothing: the presence
    gate must mirror the scan's token exclusion, or the stage reads an empty
    frame with the sentinel's header and crashes (review r9)."""
    landing = tmp_path / "landing"
    (landing / "daily_nav").mkdir(parents=True)
    (landing / "daily_nav" / "error_log.csv").write_text(
        "ticker,error_message\nAAA,timeout\n"
    )
    report = run_pipeline(spark, str(landing), str(tmp_path / "wh"))
    assert report.ok
    nav = next(s for s in report.stages if s.name == "daily_nav")
    assert nav.status == "ok" and not nav.tables  # no-op, not failed


def test_allocations_load_without_holdings_feed(spark, tmp_path):
    """Allocations and holdings are independent feeds: allocation CSVs must
    load even when the holdings dir is empty (review r9 — the allocations
    scan was gated behind the holdings presence check)."""
    landing = tmp_path / "landing"
    (landing / "allocations" / "sector").mkdir(parents=True)
    (landing / "allocations" / "sector" / "a.csv").write_text(
        "ticker,asset_type,source,item_name,value_net,as_of_date\n"
        "VTSAX,FUND,ft,Technology,45.5%,2024-03-01\n"
    )
    report = run_pipeline(spark, str(landing), str(tmp_path / "wh"))
    assert report.ok
    hold = next(s for s in report.stages if s.name == "holdings")
    assert "stg_allocations" in hold.tables
    assert hold.tables["stg_allocations"].inserted == 1
    assert "stg_fund_holdings" not in hold.tables
    assert spark.read.parquet(str(tmp_path / "wh" / "stg_allocations")).count() == 1


def test_summary_reports_wall_time():
    """summary_lines: TOTAL uses run_all's recorded wall time (stage-duration
    sum overstates concurrent groups) — review r9."""
    import time

    from fund_data_pipeline_spark.merge import MergeStats

    def slow_ok():
        time.sleep(0.3)
        return MergeStats(0, 0, 0)

    report = orchestrator.run_all([[("a", slow_ok), ("b", slow_ok)]])
    assert report.wall_sec is not None
    assert f"in {report.wall_sec:.1f}s;" in report.summary_lines()[-1]
    # two 0.3s stages ran concurrently: wall must be well under their sum
    assert report.wall_sec < sum(s.duration_sec for s in report.stages)


def test_concurrent_merges_report_their_own_counts(spark, tmp_path):
    """Two merges in one concurrent run_all group each count their actions
    with their own Observation; the counts must not mix across threads."""
    from fund_data_pipeline_spark import merge

    def batch(rows):
        df = spark.createDataFrame(rows, "ticker string, value double")
        return df.withColumn("row_hash", F.md5(F.col("value").cast("string")))

    def upsert(table, rows):
        return lambda: merge.merge_upsert(spark, str(tmp_path / table), batch(rows), ["ticker"])

    a0 = [(f"A{i}", 1.0) for i in range(6)]
    b0 = [(f"B{i}", 1.0) for i in range(3)]
    # a: 2 inserts, 1 update, 1 unchanged + 4 kept; b: 1 insert, 3 updates
    a1 = [("A0", 2.0), ("A1", 1.0), ("A8", 1.0), ("A9", 1.0)]
    b1 = [("B0", 2.0), ("B1", 2.0), ("B2", 2.0), ("B9", 1.0)]
    report = orchestrator.run_all([
        [("create_a", upsert("a", a0)), ("create_b", upsert("b", b0))],
        [("merge_a", upsert("a", a1)), ("merge_b", upsert("b", b1))],
    ])
    assert report.ok
    got = {st.name: st.tables[st.name] for st in report.stages}
    assert {n: (s.inserted, s.updated, s.unchanged) for n, s in got.items()} == {
        "create_a": (6, 0, 0),
        "create_b": (3, 0, 0),
        "merge_a": (2, 1, 5),
        "merge_b": (1, 3, 0),
    }
