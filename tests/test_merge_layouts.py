"""Storage-layout tests for the merge engine: partition-pruned merges must
leave untouched partitions byte-identical, the manifest layout must swap via
the pointer file only, and crashed swaps must self-heal on retry."""

from __future__ import annotations

import pytest
from pathlib import Path
from pyspark.sql import functions as F

from fund_data_pipeline_spark import maintenance
from fund_data_pipeline_spark.merge import (
    MANIFEST_NAME,
    merge_upsert,
    read_table,
)


def _snapshot(spark, rows):
    df = spark.createDataFrame(rows, "ticker string, dt string, value double")
    return df.withColumn(
        "row_hash", F.md5(F.concat_ws("|", "ticker", "dt", F.col("value").cast("string")))
    )


def _file_state(root):
    """(relative-path -> (size, mtime_ns)) for every parquet data file."""
    return {
        str(p.relative_to(root)): (p.stat().st_size, p.stat().st_mtime_ns)
        for p in root.rglob("*.parquet")
    }


def test_partition_pruned_merge_leaves_other_partitions_untouched(spark, tmp_path):
    path = tmp_path / "prices"
    base = _snapshot(
        spark,
        [
            ("AAA", "2024-01-01", 10.0),
            ("BBB", "2024-01-01", 11.0),
            ("AAA", "2024-01-02", 12.0),
        ],
    )
    merge_upsert(spark, str(path), base, keys=["ticker", "dt"], partition_col="dt")
    assert (path / "dt=2024-01-01").is_dir() and (path / "dt=2024-01-02").is_dir()

    before = {
        k: v for k, v in _file_state(path).items() if k.startswith("dt=2024-01-01")
    }
    assert before, "expected data files in the untouched partition"

    batch = _snapshot(
        spark,
        [
            ("AAA", "2024-01-02", 99.0),  # update in place
            ("CCC", "2024-01-03", 13.0),  # brand-new partition
        ],
    )
    stats = merge_upsert(
        spark, str(path), batch, keys=["ticker", "dt"], partition_col="dt"
    )
    assert stats.inserted == 1 and stats.updated == 1

    after = {k: v for k, v in _file_state(path).items() if k.startswith("dt=2024-01-01")}
    assert after == before  # same files, same bytes, same mtimes — never rewritten

    out = {
        (r["ticker"], r["dt"]): r["value"]
        for r in spark.read.parquet(str(path)).collect()
    }
    assert out == {
        ("AAA", "2024-01-01"): 10.0,
        ("BBB", "2024-01-01"): 11.0,
        ("AAA", "2024-01-02"): 99.0,
        ("CCC", "2024-01-03"): 13.0,
    }


def test_partition_pruned_merge_is_idempotent(spark, tmp_path):
    path = tmp_path / "prices"
    base = _snapshot(spark, [("AAA", "2024-01-01", 1.0), ("AAA", "2024-01-02", 2.0)])
    merge_upsert(spark, str(path), base, keys=["ticker", "dt"], partition_col="dt")
    batch = _snapshot(spark, [("AAA", "2024-01-02", 5.0)])
    for _ in range(2):
        merge_upsert(spark, str(path), batch, keys=["ticker", "dt"], partition_col="dt")
    rows = sorted(
        (r["ticker"], r["dt"], r["value"]) for r in spark.read.parquet(str(path)).collect()
    )
    assert rows == [("AAA", "2024-01-01", 1.0), ("AAA", "2024-01-02", 5.0)]


def test_partition_col_must_be_a_key(spark, tmp_path):
    df = _snapshot(spark, [("AAA", "2024-01-01", 1.0)])
    with pytest.raises(ValueError, match="must be part of keys"):
        merge_upsert(spark, str(tmp_path / "t"), df, keys=["ticker"], partition_col="dt")


def test_manifest_layout_swaps_via_pointer(spark, tmp_path):
    path = tmp_path / "master"
    base = _snapshot(spark, [("AAA", "2024-01-01", 1.0), ("BBB", "2024-01-01", 2.0)])
    merge_upsert(spark, str(path), base, keys=["ticker"], layout="manifest")
    assert (path / MANIFEST_NAME).read_text() == "_v_00001"

    batch = _snapshot(spark, [("BBB", "2024-01-01", 7.0)])
    merge_upsert(spark, str(path), batch, keys=["ticker"], layout="manifest")
    assert (path / MANIFEST_NAME).read_text() == "_v_00002"
    assert not (path / "_v_00001").exists()  # superseded snapshot pruned

    out = {r["ticker"]: r["value"] for r in read_table(spark, str(path)).collect()}
    assert out == {"AAA": 1.0, "BBB": 7.0}


def test_compact_partition_recovers_from_crashed_swap(spark, tmp_path):
    path = tmp_path / "t"
    spark.range(0, 100).write.parquet(str(path))
    # simulate a crash between the two swap renames: only the (dot-prefixed,
    # discovery-invisible) backup exists
    path.rename(tmp_path / ".t.__old__")
    n = maintenance.compact_partition(spark, str(path))
    assert n >= 1
    assert spark.read.parquet(str(path)).count() == 100
    assert not (tmp_path / ".t.__old__").exists()

    # a missing target with no backup is a loud, explained error
    with pytest.raises(FileNotFoundError, match="no crash backup"):
        maintenance.compact_partition(spark, str(tmp_path / "nope"))


def test_compact_partition_refuses_partitioned_root(spark, tmp_path):
    root = tmp_path / "parts"
    df = spark.range(0, 10).withColumn("dt", F.lit("2024-01-01"))
    df.write.partitionBy("dt").parquet(str(root))
    with pytest.raises(ValueError, match="leaf partition"):
        maintenance.compact_partition(spark, str(root))


def test_connected_components_unconverged_raises(spark):
    from fund_data_pipeline_spark.operators.graph import connected_components

    nodes = spark.range(0, 6).withColumnRenamed("id", "node")
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(5)], "src long, dst long"
    )
    # the strict and warn contracts belong to the distributed path; the
    # default driver union-find resolves this small chain exactly
    with pytest.raises(RuntimeError, match="fixpoint"):
        connected_components(
            nodes, chain, max_iterations=1, driver_collect_max_edges=0
        ).collect()
    with pytest.warns(UserWarning, match="fixpoint"):
        labels = connected_components(
            nodes, chain, max_iterations=1, strict=False, driver_collect_max_edges=0
        )
        labels.collect()
    exact = connected_components(nodes, chain, max_iterations=1).collect()
    assert {r.node: r.cluster_id for r in exact} == {i: 0 for i in range(6)}


def test_vacuum_snapshots_removes_orphans_only(spark, tmp_path):
    """vacuum collects below-live leftovers (a crashed post-swap prune) and
    never touches the live snapshot or anything at/above the pointer — an
    at-or-above version may belong to a concurrent writer."""
    from fund_data_pipeline_spark import maintenance
    from fund_data_pipeline_spark.merge import merge_upsert, read_table

    path = str(tmp_path / "t")
    df = spark.range(10).withColumnRenamed("id", "k").withColumn(
        "row_hash", F.md5(F.col("k").cast("string"))
    )
    merge_upsert(spark, path, df, keys=["k"], layout="manifest")
    merge_upsert(spark, path, df.limit(5), keys=["k"], layout="manifest")  # live = _v_00002
    before = sorted(r.k for r in read_table(spark, path).collect())

    # crashed post-swap prune: the superseded snapshot lingers below live
    stale = tmp_path / "t" / "_v_00001"
    df.limit(3).write.parquet(str(stale))
    # concurrent/crashed writer ABOVE the pointer: must be left alone
    inflight = tmp_path / "t" / "_v_00003"
    df.limit(2).write.parquet(str(inflight))

    removed = maintenance.vacuum_snapshots(path)
    assert removed == ["_v_00001"]
    assert inflight.exists()
    assert sorted(r.k for r in read_table(spark, path).collect()) == before
    # idempotent: nothing below live remains
    assert maintenance.vacuum_snapshots(path) == []


def _hashed(spark, rows, schema="ticker string, value double, first_seen string"):
    df = spark.createDataFrame(rows, schema)
    return df.withColumn(
        "row_hash", F.md5(F.concat_ws("|", F.coalesce("ticker", F.lit("")), F.col("value").cast("string")))
    )


def test_merge_null_key_target_row_is_matched_not_inserted(spark, tmp_path):
    """eqNullSafe keys mean a NULL key can match; presence markers (not
    key-null tests) must classify that row as an update, keep preserve_cols
    from the target, and not duplicate it."""
    path = tmp_path / "nullkey"
    base = _hashed(spark, [("AAA", 1.0, "day0"), (None, 2.0, "day0")])
    merge_upsert(spark, str(path), base, keys=["ticker"], preserve_cols=["first_seen"])

    batch = _hashed(spark, [(None, 9.0, "day5")])  # same NULL key, new value
    stats = merge_upsert(
        spark, str(path), batch, keys=["ticker"],
        preserve_cols=["first_seen"],
    )
    assert stats.inserted == 0 and stats.updated == 1 and stats.unchanged == 1

    rows = {r["ticker"]: (r["value"], r["first_seen"]) for r in spark.read.parquet(str(path)).collect()}
    assert len(rows) == 2
    assert rows[None] == (9.0, "day0")  # value updated, first_seen preserved from target
    assert rows["AAA"] == (1.0, "day0")


def test_merge_as_dataframe_null_key_matches(spark):
    from fund_data_pipeline_spark.merge import merge_as_dataframe

    t = _hashed(spark, [(None, 2.0, "day0")])
    s = _hashed(spark, [(None, 9.0, "day5")])
    out = merge_as_dataframe(t, s, ["ticker"], preserve_cols=["first_seen"]).collect()
    assert len(out) == 1
    assert out[0]["value"] == 9.0 and out[0]["first_seen"] == "day0"


def test_merge_schema_evolution(spark, tmp_path):
    path = tmp_path / "evolve"
    base = _hashed(spark, [("AAA", 1.0, "d0"), ("BBB", 2.0, "d0")])
    merge_upsert(spark, str(path), base, keys=["ticker"])

    batch = _hashed(spark, [("BBB", 2.0, "d1")]).withColumn("sector", F.lit("tech"))

    # default: conform-to-target, new column dropped
    merge_upsert(spark, str(path), batch, keys=["ticker"])
    assert "sector" not in spark.read.parquet(str(path)).columns

    # allow_new_columns: schema widens; matched row gets the value even though
    # its hash is unchanged (the old hash predates the column); unmatched
    # target rows get NULL
    merge_upsert(spark, str(path), batch, keys=["ticker"], allow_new_columns=True)
    out = {r["ticker"]: r["sector"] for r in spark.read.parquet(str(path)).collect()}
    assert out == {"AAA": None, "BBB": "tech"}


def test_partitioned_merge_schema_evolution_survives_mixed_footers(spark, tmp_path):
    """allow_new_columns + partition_col rewrites ONLY the touched partition,
    so on-disk files legitimately differ in schema width. read_table (and the
    next pruned merge) must see the evolved column deterministically — NULL in
    untouched partitions, values in the touched one — regardless of which file
    a one-footer schema sample would have picked (ADVICE r5)."""
    path = tmp_path / "evolve_part"
    base = _snapshot(
        spark,
        [("AAA", "2024-01-01", 10.0), ("BBB", "2024-01-02", 11.0)],
    )
    merge_upsert(spark, str(path), base, keys=["ticker", "dt"], partition_col="dt")

    untouched_before = {
        k: v for k, v in _file_state(path).items() if k.startswith("dt=2024-01-01")
    }
    batch = _snapshot(spark, [("BBB", "2024-01-02", 12.0)]).withColumn(
        "sector", F.lit("tech")
    )
    merge_upsert(
        spark,
        str(path),
        batch,
        keys=["ticker", "dt"],
        partition_col="dt",
        allow_new_columns=True,
    )
    # untouched partition is byte-identical (still the narrow schema on disk)
    untouched_after = {
        k: v for k, v in _file_state(path).items() if k.startswith("dt=2024-01-01")
    }
    assert untouched_after == untouched_before

    out = read_table(spark, str(path))
    assert "sector" in out.columns
    got = {r["ticker"]: r["sector"] for r in out.collect()}
    assert got == {"AAA": None, "BBB": "tech"}

    # a further pruned merge against the mixed-schema table must also see the
    # evolved column (its target read footer-merges), and keep its value
    batch2 = _snapshot(spark, [("AAA", "2024-01-01", 10.5)])
    merge_upsert(
        spark, str(path), batch2, keys=["ticker", "dt"], partition_col="dt"
    )
    out2 = {r["ticker"]: (r["value"], r["sector"]) for r in read_table(spark, str(path)).collect()}
    assert out2 == {"AAA": (10.5, None), "BBB": (12.0, "tech")}


def test_merge_reserved_column_names_raise(spark, tmp_path):
    df = _hashed(spark, [("AAA", 1.0, "d0")]).withColumn("__t_present", F.lit(True))
    path = tmp_path / "rsv"
    merge_upsert(spark, str(path), df.drop("__t_present"), keys=["ticker"])
    with pytest.raises(ValueError, match="reserved"):
        merge_upsert(spark, str(path), df, keys=["ticker"])


def test_backfill_prune_switches_to_semi_join(spark, tmp_path, monkeypatch):
    """Above _ISIN_PRUNE_MAX touched partitions the prune must go through the
    broadcast semi-join path and still produce the same result with untouched
    partitions byte-identical."""
    from fund_data_pipeline_spark import merge as M

    monkeypatch.setattr(M, "_ISIN_PRUNE_MAX", 2)
    path = tmp_path / "backfill"
    days = [f"2024-01-{d:02d}" for d in range(1, 6)]
    base = _snapshot(spark, [("AAA", d, float(i)) for i, d in enumerate(days)])
    merge_upsert(spark, str(path), base, keys=["ticker", "dt"], partition_col="dt")

    untouched_before = {
        k: v for k, v in _file_state(path).items() if k.startswith("dt=2024-01-01")
    }
    # backfill touching 4 partitions (> cap of 2) with updates + one new row
    batch = _snapshot(
        spark,
        [("AAA", d, 100.0 + i) for i, d in enumerate(days[1:])]
        + [("ZZZ", "2024-01-03", 7.0)],
    )
    stats = merge_upsert(
        spark, str(path), batch, keys=["ticker", "dt"],
        partition_col="dt",
    )
    assert stats.inserted == 1 and stats.updated == 4

    untouched_after = {
        k: v for k, v in _file_state(path).items() if k.startswith("dt=2024-01-01")
    }
    assert untouched_after == untouched_before

    out = {
        (r["ticker"], r["dt"]): r["value"] for r in spark.read.parquet(str(path)).collect()
    }
    assert out[("AAA", "2024-01-01")] == 0.0
    assert out[("ZZZ", "2024-01-03")] == 7.0
    assert all(out[("AAA", d)] == 100.0 + i for i, d in enumerate(days[1:]))


def test_manifest_history_time_travel_and_cdc(spark, tmp_path):
    """history=N retains the last N snapshots: older versions stay readable
    (time travel), table_changes classifies insert/update/delete between any
    two retained versions, and snapshots beyond the window are pruned."""
    from fund_data_pipeline_spark.merge import (
        _manifest_write,
        list_versions,
        merge_upsert,
        read_table,
        table_changes,
    )

    path = str(tmp_path / "t")
    v1 = _snapshot(spark, [("A", "d1", 1.0), ("B", "d1", 2.0), ("C", "d1", 3.0)])
    merge_upsert(spark, path, v1, keys=["ticker"], layout="manifest", history=3)
    v2 = _snapshot(spark, [("B", "d1", 5.0), ("D", "d1", 4.0)])
    merge_upsert(spark, path, v2, keys=["ticker"], layout="manifest", history=3)
    assert list_versions(path) == [1, 2]

    # time travel: v1 is still the pre-merge state
    old = {r.ticker: r.value for r in read_table(spark, path, version=1).collect()}
    assert old == {"A": 1.0, "B": 2.0, "C": 3.0}
    live = {r.ticker: r.value for r in read_table(spark, path).collect()}
    assert live == {"A": 1.0, "B": 5.0, "C": 3.0, "D": 4.0}

    changes = {
        r.ticker: r._change_type
        for r in table_changes(spark, path, 1, 2, keys=["ticker"]).collect()
    }
    assert changes == {"B": "update", "D": "insert"}  # A/C unchanged -> omitted

    # a snapshot written without C: CDC must classify the disappearance
    v3 = _snapshot(spark, [("A", "d1", 1.0), ("B", "d1", 5.0), ("D", "d1", 4.0)])
    _manifest_write(v3, Path(path), history=3)
    ch = table_changes(spark, path, 2, 3, keys=["ticker"])
    rows = {r.ticker: (r._change_type, r.value) for r in ch.collect()}
    assert rows == {"C": ("delete", 3.0)}  # delete carries the v_from row

    # window rolls: the 4th merge prunes v1
    merge_upsert(
        spark,
        path,
        _snapshot(spark, [("E", "d1", 9.0)]),
        keys=["ticker"],
        layout="manifest",
        history=3,
    )
    assert list_versions(path) == [2, 3, 4]
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        read_table(spark, path, version=1)


def test_vacuum_keep_last_preserves_time_travel_window(spark, tmp_path):
    from fund_data_pipeline_spark import maintenance
    from fund_data_pipeline_spark.merge import list_versions, merge_upsert

    path = str(tmp_path / "t")
    for i in range(4):
        merge_upsert(
            spark,
            path,
            _snapshot(spark, [("A", "d1", float(i))]),
            keys=["ticker"],
            layout="manifest",
            history=4,
        )
    assert list_versions(path) == [1, 2, 3, 4]
    removed = maintenance.vacuum_snapshots(path, keep_last=3)
    assert removed == ["_v_00001"]
    assert list_versions(path) == [2, 3, 4]
    # default janitor honors the table's persisted retention (history=4
    # above): a pass with no keep_last must NOT collect the window
    assert maintenance.vacuum_snapshots(path) == []
    assert list_versions(path) == [2, 3, 4]
    # explicit keep_last=1 still collapses to live-only
    assert maintenance.vacuum_snapshots(path, keep_last=1) == ["_v_00002", "_v_00003"]
    assert list_versions(path) == [4]


def test_manifest_write_recovers_from_crashed_snapshot(spark, tmp_path):
    """A writer that crashed AFTER writing its snapshot directory but BEFORE
    repointing the manifest leaves an orphan at version live+1. The next
    merge must claim that version: discard the half-written orphan, write
    its own complete snapshot there, and repoint — readers never observe
    the orphan because the pointer never referenced it."""
    from fund_data_pipeline_spark.merge import list_versions, merge_upsert, read_table

    path = tmp_path / "t"
    merge_upsert(
        spark,
        str(path),
        _snapshot(spark, [("A", "d1", 1.0)]),
        keys=["ticker"],
        layout="manifest",
    )
    assert list_versions(str(path)) == [1]

    # simulate the crash: an incomplete _v_00002 with junk, pointer still at 1
    orphan = path / "_v_00002"
    orphan.mkdir()
    (orphan / "part-junk.parquet").write_bytes(b"not parquet at all")
    assert (path / "_MANIFEST").read_text().strip() == "_v_00001"

    merge_upsert(
        spark,
        str(path),
        _snapshot(spark, [("B", "d1", 2.0)]),
        keys=["ticker"],
        layout="manifest",
    )
    assert (path / "_MANIFEST").read_text().strip() == "_v_00002"
    got = {r.ticker: r.value for r in read_table(spark, str(path)).collect()}
    assert got == {"A": 1.0, "B": 2.0}
    assert not (orphan / "part-junk.parquet").exists()


def test_apply_changes_syncs_replica(spark, tmp_path):
    """CDC end-to-end: table_changes(v1, v2) from the primary, applied to a
    replica holding the v1 state, must reproduce exactly the v2 state —
    and re-applying the same feed is a no-op."""
    from fund_data_pipeline_spark.merge import (
        _manifest_write,
        apply_changes,
        merge_upsert,
        read_table,
        table_changes,
    )

    primary = str(tmp_path / "primary")
    replica = str(tmp_path / "replica")
    v1 = _snapshot(spark, [("A", "d1", 1.0), ("B", "d1", 2.0), ("C", "d1", 3.0)])
    merge_upsert(spark, primary, v1, keys=["ticker"], layout="manifest", history=3)
    # v2: B updated, D inserted, C deleted (snapshot written directly — the
    # merge itself never deletes)
    v2 = _snapshot(spark, [("A", "d1", 1.0), ("B", "d1", 5.0), ("D", "d1", 4.0)])
    _manifest_write(v2, Path(primary), history=3)

    merge_upsert(spark, replica, v1, keys=["ticker"])  # replica at v1
    feed = table_changes(spark, primary, 1, 2, keys=["ticker"])
    apply_changes(spark, replica, feed, keys=["ticker"])

    def state(path):
        return sorted(
            (r.ticker, r.value) for r in read_table(spark, path).collect()
        )

    assert state(replica) == state(primary)

    apply_changes(spark, replica, feed, keys=["ticker"])  # idempotent
    assert state(replica) == state(primary)


def test_rename_merge_refuses_manifest_table(spark, tmp_path):
    """A rename-layout merge over a manifest table would atomically replace
    the directory — pointer, snapshots, history all gone — and silently
    convert the layout. It must refuse instead; apply_changes auto-follows
    the replica's layout (exercised by test_apply_changes_syncs_replica on
    a manifest primary)."""
    from fund_data_pipeline_spark.merge import apply_changes, merge_upsert, read_table

    path = str(tmp_path / "t")
    v1 = _snapshot(spark, [("A", "d1", 1.0)])
    merge_upsert(spark, path, v1, keys=["ticker"], layout="manifest")
    with pytest.raises(ValueError, match="manifest-layout"):
        merge_upsert(spark, path, v1, keys=["ticker"])  # default rename layout

    # apply_changes on the same table auto-detects and upgrades the layout
    feed = _snapshot(spark, [("B", "d1", 2.0)]).withColumn(
        "_change_type", F.lit("insert")
    )
    apply_changes(spark, path, feed, keys=["ticker"])
    got = {r.ticker for r in read_table(spark, path).collect()}
    assert got == {"A", "B"}
    assert (tmp_path / "t" / "_MANIFEST").exists()


def test_retention_persisted_in_manifest_pointer(spark, tmp_path):
    """A merge with history=N persists the retention as a table property in
    the manifest pointer; later writers using the DEFAULT history (None)
    inherit it instead of silently pruning the time-travel window — the
    Delta-table-property behavior."""
    from fund_data_pipeline_spark.merge import list_versions, merge_upsert

    path = str(tmp_path / "t")
    merge_upsert(
        spark, path, _snapshot(spark, [("A", "d1", 1.0)]),
        keys=["ticker"], layout="manifest", history=3,
    )
    assert "retention=3" in (tmp_path / "t" / "_MANIFEST").read_text()
    # two default-history writers: window must survive both
    for i in (2, 3):
        merge_upsert(
            spark, path, _snapshot(spark, [("A", "d1", float(i))]),
            keys=["ticker"], layout="manifest",
        )
    assert list_versions(path) == [1, 2, 3]
    # an explicit history shrinks AND re-persists
    merge_upsert(
        spark, path, _snapshot(spark, [("A", "d1", 9.0)]),
        keys=["ticker"], layout="manifest", history=1,
    )
    assert list_versions(path) == [4]
    assert "retention" not in (tmp_path / "t" / "_MANIFEST").read_text()


def test_apply_changes_manifest_is_single_commit(spark, tmp_path):
    """Applying a feed with BOTH deletes and upserts to a manifest replica
    must publish exactly ONE new version — no intermediate delete-only
    snapshot a concurrent reader (or CDC consumer) could observe."""
    from fund_data_pipeline_spark.merge import (
        apply_changes,
        list_versions,
        merge_upsert,
        read_table,
    )

    replica = str(tmp_path / "replica")
    v1 = _snapshot(spark, [("A", "d1", 1.0), ("B", "d1", 2.0), ("C", "d1", 3.0)])
    merge_upsert(spark, replica, v1, keys=["ticker"], layout="manifest", history=5)
    assert list_versions(replica) == [1]

    feed = (
        _snapshot(spark, [("C", "d1", 3.0)]).withColumn("_change_type", F.lit("delete"))
        .unionByName(
            _snapshot(spark, [("B", "d1", 5.0)]).withColumn("_change_type", F.lit("update"))
        )
        .unionByName(
            _snapshot(spark, [("D", "d1", 4.0)]).withColumn("_change_type", F.lit("insert"))
        )
    )
    apply_changes(spark, replica, feed, keys=["ticker"])
    assert list_versions(replica) == [1, 2]  # exactly one commit for the feed
    got = sorted((r.ticker, r.value) for r in read_table(spark, replica).collect())
    assert got == [("A", 1.0), ("B", 5.0), ("D", 4.0)]

    apply_changes(spark, replica, feed, keys=["ticker"])  # idempotent content
    got2 = sorted((r.ticker, r.value) for r in read_table(spark, replica).collect())
    assert got2 == got


def test_apply_changes_empty_feed_is_noop(spark, tmp_path):
    """An empty change feed must not publish a snapshot version: a no-op
    sync that burned a version could push real snapshots out of the
    persisted retention window."""
    from fund_data_pipeline_spark.merge import apply_changes, list_versions, merge_upsert

    replica = str(tmp_path / "replica")
    v1 = _snapshot(spark, [("A", "d1", 1.0)])
    merge_upsert(spark, replica, v1, keys=["ticker"], layout="manifest", history=3)
    empty = _snapshot(spark, []).withColumn("_change_type", F.lit("update")).limit(0)
    apply_changes(spark, replica, empty, keys=["ticker"])
    assert list_versions(replica) == [1]  # no version burned


def test_empty_manifest_file_is_handled(spark, tmp_path):
    """A zero-byte _MANIFEST (crash mid-create) must raise a clear
    corrupt-table error from read_table, and vacuum_snapshots must degrade
    to a no-op instead of crashing with IndexError."""
    import pytest

    from fund_data_pipeline_spark import maintenance
    from fund_data_pipeline_spark.merge import MANIFEST_NAME, read_table

    path = tmp_path / "corrupt"
    path.mkdir()
    (path / MANIFEST_NAME).write_text("")
    with pytest.raises(ValueError, match="corrupt manifest"):
        read_table(spark, str(path))
    assert maintenance.vacuum_snapshots(path) == []


def test_partition_pruned_merge_keeps_null_partition_rows(spark, tmp_path):
    """A batch touching the NULL partition (__HIVE_DEFAULT_PARTITION__) must
    merge INTO it like any other partition — the prune filter is null-safe,
    so pre-existing NULL-partition rows survive a merge that only updates
    one of them (review r8: plain isin dropped them and the swap replaced
    the whole partition with source-only content)."""
    from fund_data_pipeline_spark.merge import merge_upsert, read_table

    path = str(tmp_path / "t")
    base = _snapshot(
        spark, [("AAA", "2024-01", 1.0), ("BBB", "2024-01", 2.0), ("CCC", None, 3.0), ("DDD", None, 4.0)]
    )
    merge_upsert(spark, path, base, keys=["ticker", "dt"], partition_col="dt")
    batch = _snapshot(spark, [("CCC", None, 9.0)])  # update one NULL-partition row
    merge_upsert(spark, path, batch, keys=["ticker", "dt"], partition_col="dt")
    got = sorted((r.ticker, r.dt, r.value) for r in read_table(spark, path).collect())
    assert got == [
        ("AAA", "2024-01", 1.0),
        ("BBB", "2024-01", 2.0),
        ("CCC", None, 9.0),
        ("DDD", None, 4.0),  # the other NULL-partition row must survive
    ]


def test_merge_heals_crashed_flat_swap_before_create_decision(spark, tmp_path):
    """A crash between _atomic_write's two renames leaves ONLY the backup
    dir. merge_upsert must heal BEFORE its existence check — otherwise it
    sees no table, takes the CREATE branch, and the heal inside the writer
    restores the full old table just in time for the source-only staging
    to be swapped over it, silently deleting every pre-crash row not in
    the batch (review r11)."""
    from fund_data_pipeline_spark.merge import merge_upsert, read_table

    path = tmp_path / "t"
    base = _snapshot(spark, [("AAA", "2024-01", 1.0), ("BBB", "2024-02", 2.0)])
    merge_upsert(spark, str(path), base, keys=["ticker"])
    path.rename(tmp_path / "t.__old__")  # simulate the crash state
    batch = _snapshot(spark, [("CCC", "2024-03", 3.0)])
    merge_upsert(spark, str(path), batch, keys=["ticker"])
    got = sorted((r.ticker, r.value) for r in read_table(spark, str(path)).collect())
    assert got == [("AAA", 1.0), ("BBB", 2.0), ("CCC", 3.0)]
    assert not (tmp_path / "t.__old__").exists()


def test_merge_heals_crashed_partition_swap_on_same_partition(spark, tmp_path):
    """The orphaned-backup heal must run BEFORE the merge reads the target:
    when the next batch touches the SAME partition as the orphan, the
    pruned read would see that partition as empty, classify every batch
    row as insert, and the in-writer heal would restore the backup only
    for the swap to drop it (review r11 — the existing foreign-orphan
    test touches a different partition and so never hit this)."""
    from fund_data_pipeline_spark.merge import merge_upsert, read_table

    path = tmp_path / "t"
    base = _snapshot(spark, [("AAA", "2024-01", 1.0), ("BBB", "2024-01", 2.0)])
    merge_upsert(spark, str(path), base, keys=["ticker", "dt"], partition_col="dt")
    (path / "dt=2024-01").rename(path / ".dt=2024-01.__old__")
    batch = _snapshot(spark, [("BBB", "2024-01", 5.0)])  # SAME partition
    merge_upsert(spark, str(path), batch, keys=["ticker", "dt"], partition_col="dt")
    got = sorted((r.ticker, r.value) for r in read_table(spark, str(path)).collect())
    assert got == [("AAA", 1.0), ("BBB", 5.0)]  # AAA survived the heal+merge
    assert not (path / ".dt=2024-01.__old__").exists()


def test_delete_keys_heals_crashed_swap_before_read(spark, tmp_path):
    """delete_keys reads the target to find victims; against a crashed-swap
    table it must heal first or it deletes against the wrong state
    (review r11)."""
    from fund_data_pipeline_spark.maintenance import delete_keys
    from fund_data_pipeline_spark.merge import merge_upsert, read_table

    path = tmp_path / "t"
    base = _snapshot(spark, [("AAA", "2024-01", 1.0), ("BBB", "2024-02", 2.0)])
    merge_upsert(spark, str(path), base, keys=["ticker"])
    path.rename(tmp_path / "t.__old__")
    victims = spark.createDataFrame([("AAA",)], "ticker string")
    n = delete_keys(spark, str(path), victims, ["ticker"])
    assert n == 1
    got = [(r.ticker, r.value) for r in read_table(spark, str(path)).collect()]
    assert got == [("BBB", 2.0)]


def test_merge_default_dedupe_order_is_deterministic(spark, tmp_path):
    """With no dedupe_order, a duplicate-key batch must keep the same
    survivor on every run and partitioning: the default now orders by the
    NON-key columns (keep='last' -> max tuple). The old default ordered by
    the key itself — constant within its own window partition, i.e. an
    arbitrary survivor that could flip a rerun's row hash (review r11)."""
    from fund_data_pipeline_spark.merge import merge_upsert, read_table

    rows = [("AAA", "2024-01", 1.0), ("AAA", "2024-01", 9.0), ("AAA", "2024-01", 4.0)]
    for n_parts in (1, 5):
        path = tmp_path / f"t{n_parts}"
        merge_upsert(
            spark, str(path), _snapshot(spark, rows).repartition(n_parts), keys=["ticker"]
        )
        got = [(r.ticker, r.value) for r in read_table(spark, str(path)).collect()]
        assert got == [("AAA", 9.0)], n_parts  # max (dt, value) tuple


def test_merge_default_dedupe_order_skips_unorderable_columns(spark, tmp_path):
    """A source carrying a map column must still merge with the DEFAULT
    tiebreak: maps are unorderable in Spark, so the all-non-key-columns
    default (review r11) would fail at analysis where the old keys-only
    default worked — a silent API regression for generic callers. The
    default now filters to orderable columns; the survivor is still the
    deterministic max over those (ADVICE r11)."""
    from fund_data_pipeline_spark.merge import _dedupe_order, merge_upsert, read_table

    df = spark.createDataFrame(
        [("AAA", "2024-01", 1.0, {"s": "x"}), ("AAA", "2024-02", 9.0, {"s": "y"})],
        "ticker string, dt string, value double, props map<string,string>",
    )
    assert _dedupe_order(df, ["ticker"], None) == ["dt", "value"]
    path = tmp_path / "t"
    merge_upsert(spark, str(path), df, keys=["ticker"])
    got = [(r.ticker, r.dt, r.value, dict(r.props)) for r in read_table(spark, str(path)).collect()]
    assert got == [("AAA", "2024-02", 9.0, {"s": "y"})]
    # every column unorderable except the key: falls back to the keys
    only_map = df.select("ticker", "props")
    assert _dedupe_order(only_map, ["ticker"], None) == ["ticker"]


def test_list_versions_sorts_numerically(spark, tmp_path):
    """Version order must be numeric, not lexicographic: _v_100000 (6
    digits, written once %05d widens) sorts before _v_99999 by name, and
    the documented 'live version is the last entry' breaks (review r11)."""
    from fund_data_pipeline_spark.merge import MANIFEST_NAME, list_versions

    path = tmp_path / "t"
    path.mkdir()
    (path / MANIFEST_NAME).write_text("{}")
    for v in (99999, 100000, 7):
        (path / f"_v_{v:05d}").mkdir()
    assert list_versions(str(path)) == [7, 99999, 100000]


def test_partition_swap_heals_foreign_orphan_backup(spark, tmp_path):
    """A crash between the two swap renames of an EARLIER batch leaves only
    the (dot-prefixed) backup; the next merge — touching a DIFFERENT
    partition — must restore it, and the backup must never be visible to
    partition discovery meanwhile."""
    from fund_data_pipeline_spark.merge import merge_upsert, read_table

    path = tmp_path / "t"
    base = _snapshot(spark, [("AAA", "2024-01", 1.0), ("BBB", "2024-02", 2.0)])
    merge_upsert(spark, str(path), base, keys=["ticker", "dt"], partition_col="dt")
    # simulate the crash: partition dir renamed to backup, dest missing
    (path / "dt=2024-01").rename(path / ".dt=2024-01.__old__")
    # hidden backup: reads don't see a bogus '2024-01.__old__' partition
    assert sorted(r.dt for r in spark.read.parquet(str(path)).collect()) == ["2024-02"]
    batch = _snapshot(spark, [("BBB", "2024-02", 5.0)])  # touches another partition
    merge_upsert(spark, str(path), batch, keys=["ticker", "dt"], partition_col="dt")
    got = sorted((r.ticker, r.value) for r in read_table(spark, str(path)).collect())
    assert got == [("AAA", 1.0), ("BBB", 5.0)]  # orphan healed, batch applied
    assert not (path / ".dt=2024-01.__old__").exists()


def test_partition_swap_heals_legacy_undotted_backup(spark, tmp_path):
    """A crash leftover from the pre-dot-prefix release wrote VISIBLE
    '<pcol>=v.__old__' backups; the healing loop must also restore/delete
    those (review r9: they'd otherwise be parsed by partition discovery as
    a real partition with value 'v.__old__' — the exact corruption the
    rename was meant to prevent)."""
    from fund_data_pipeline_spark.merge import merge_upsert, read_table

    path = tmp_path / "t"
    base = _snapshot(spark, [("AAA", "2024-01", 1.0), ("BBB", "2024-02", 2.0)])
    merge_upsert(spark, str(path), base, keys=["ticker", "dt"], partition_col="dt")
    # legacy crash between renames: dest missing, un-dotted backup IS the data
    (path / "dt=2024-01").rename(path / "dt=2024-01.__old__")
    batch = _snapshot(spark, [("BBB", "2024-02", 5.0)])  # touches another partition
    merge_upsert(spark, str(path), batch, keys=["ticker", "dt"], partition_col="dt")
    got = sorted((r.ticker, r.dt, r.value) for r in read_table(spark, str(path)).collect())
    assert got == [("AAA", "2024-01", 1.0), ("BBB", "2024-02", 5.0)]
    assert not (path / "dt=2024-01.__old__").exists()

    # legacy crash AFTER the swap: dest present, stale un-dotted backup
    (path / "dt=2024-02.__old__").mkdir()
    batch2 = _snapshot(spark, [("AAA", "2024-01", 7.0)])
    merge_upsert(spark, str(path), batch2, keys=["ticker", "dt"], partition_col="dt")
    assert not (path / "dt=2024-02.__old__").exists()  # stale backup deleted
    got = sorted((r.ticker, r.value) for r in read_table(spark, str(path)).collect())
    assert got == [("AAA", 7.0), ("BBB", 5.0)]


def test_first_write_into_precreated_empty_dir(spark, tmp_path):
    """An operator-pre-created empty directory (or a crash-orphaned _v_*
    snapshot with no manifest pointer) must not classify as an existing
    flat table and brick the first/retried write (review r8)."""
    from fund_data_pipeline_spark.merge import detect_layout, list_versions, merge_upsert

    path = tmp_path / "t"
    path.mkdir()
    assert detect_layout(path) is None
    merge_upsert(spark, str(path), _snapshot(spark, [("A", "d1", 1.0)]),
                 keys=["ticker"], layout="manifest")
    assert detect_layout(path) == "manifest" and list_versions(str(path)) == [1]

    # crashed first manifest write: snapshot dir exists, pointer never written
    p2 = tmp_path / "t2"
    (p2 / "_v_00001").mkdir(parents=True)
    assert detect_layout(p2) is None
    merge_upsert(spark, str(p2), _snapshot(spark, [("A", "d1", 1.0)]),
                 keys=["ticker"], layout="manifest")
    assert list_versions(str(p2)) == [1]

    # pre-created empty dir before a hive-partitioned first merge
    p3 = tmp_path / "t3"
    p3.mkdir()
    merge_upsert(spark, str(p3), _snapshot(spark, [("A", "2024-01", 1.0)]),
                 keys=["ticker", "dt"], partition_col="dt")
    assert detect_layout(p3) == "hive"


def test_apply_changes_bootstraps_missing_replica_with_deletes(spark, tmp_path):
    """Replaying a CDC feed that contains deletes against a not-yet-existing
    replica must treat the deletes as no-ops and create the replica from
    the upserts (review r8: previously crashed in delete_keys)."""
    from fund_data_pipeline_spark.merge import apply_changes, read_table

    replica = str(tmp_path / "replica")
    feed = (
        _snapshot(spark, [("GONE", "d1", 0.0)]).withColumn("_change_type", F.lit("delete"))
        .unionByName(
            _snapshot(spark, [("A", "d1", 1.0)]).withColumn("_change_type", F.lit("insert"))
        )
    )
    apply_changes(spark, replica, feed, keys=["ticker"])
    got = [(r.ticker, r.value) for r in read_table(spark, replica).collect()]
    assert got == [("A", 1.0)]


def test_diff_frames_rejects_reserved_columns(spark):
    from fund_data_pipeline_spark.merge import diff_frames

    df = spark.createDataFrame([(1, True)], "k long, __n_present boolean")
    clean = spark.createDataFrame([(1, "x")], "k long, v string")
    with pytest.raises(ValueError, match="reserved by diff_frames"):
        diff_frames(clean, df, ["k"])


def test_build_rollup_recovers_from_crashed_swap(spark, tmp_path):
    """build_rollup over an existing rollup is staging-then-swap: a crash
    that left only the backup is healed, and a successful rebuild leaves
    no staging/backup residue."""
    from fund_data_pipeline_spark.rollup import build_rollup, read_rollup

    base = _snapshot(spark, [("A", "2024-01", 1.0), ("B", "2024-02", 2.0)])
    path = tmp_path / "r"
    measures = {"total": F.sum("value")}
    build_rollup(base, str(path), partition_col="dt", group_cols=["ticker"], measures=measures)
    # simulate a crash between the two renames: only the backup remains
    path.rename(tmp_path / "r.__old__")
    build_rollup(base, str(path), partition_col="dt", group_cols=["ticker"], measures=measures)
    assert read_rollup(spark, str(path)).count() == 2
    assert not (tmp_path / "r.__old__").exists()
    assert not (tmp_path / "r.__staging__").exists()


def _sd_snapshot(spark, rows):
    """rows: (ticker, sd scrape-date string|None, value)."""
    df = spark.createDataFrame(rows, "ticker string, sd string, value double")
    return df.withColumn(
        "row_hash", F.md5(F.concat_ws("|", "ticker", F.col("value").cast("string")))
    )


def test_merge_precedence_col_stale_source_loses(spark, tmp_path):
    """precedence_col: a matched source row strictly older than the stored
    one updates NOTHING (counts as unchanged), even with a differing hash,
    under unconditional=True, and for always_update_cols (review r9 — the
    in-merge form of the streaming cross-batch staleness guard)."""
    path = str(tmp_path / "t")
    merge_upsert(spark, path, _sd_snapshot(spark, [("A", "2024-01-05", 10.0)]), keys=["ticker"])

    stale = _sd_snapshot(spark, [("A", "2024-01-02", 99.0)])
    stats = merge_upsert(
        spark, path, stale, keys=["ticker"], precedence_col="sd"
    )
    assert (stats.inserted, stats.updated, stats.unchanged) == (0, 0, 1)
    row = read_table(spark, path).collect()[0]
    assert (row.sd, row.value) == ("2024-01-05", 10.0)

    # unconditional + always_update_cols must not bypass the guard
    merge_upsert(
        spark, path, stale, keys=["ticker"], precedence_col="sd",
        unconditional=True, always_update_cols=["value"],
    )
    row = read_table(spark, path).collect()[0]
    assert (row.sd, row.value) == ("2024-01-05", 10.0)


def test_merge_precedence_col_fresh_and_null_pass(spark, tmp_path):
    """Equal-or-newer precedence updates; NULL on either side passes (the
    batch loader has no freshness info for such rows and merges them via
    the hash guard — streaming must not silently drop them)."""
    path = str(tmp_path / "t")
    merge_upsert(
        spark, path,
        _sd_snapshot(spark, [("A", "2024-01-05", 10.0), ("B", None, 20.0), ("C", "2024-01-05", 30.0)]),
        keys=["ticker"],
    )
    batch = _sd_snapshot(
        spark,
        [
            ("A", "2024-01-05", 11.0),  # equal precedence -> hash guard updates
            ("B", "2024-01-01", 21.0),  # target NULL -> source wins
            ("C", None, 31.0),          # source NULL -> passes, hash guard updates
            ("D", "2024-01-03", 40.0),  # new key inserts regardless
        ],
    )
    stats = merge_upsert(
        spark, path, batch, keys=["ticker"], precedence_col="sd"
    )
    assert (stats.inserted, stats.updated, stats.unchanged) == (1, 3, 0)
    got = {r.ticker: (r.sd, r.value) for r in read_table(spark, path).collect()}
    assert got == {
        "A": ("2024-01-05", 11.0),
        "B": ("2024-01-01", 21.0),
        "C": (None, 31.0),
        "D": ("2024-01-03", 40.0),
    }


def test_merge_precedence_col_missing_raises(spark, tmp_path):
    path = str(tmp_path / "t")
    merge_upsert(spark, path, _sd_snapshot(spark, [("A", "2024-01-05", 10.0)]), keys=["ticker"])
    no_sd = spark.createDataFrame([("A", 1.0)], "ticker string, value double").withColumn(
        "row_hash", F.md5(F.col("ticker"))
    )
    with pytest.raises(ValueError, match="source is missing precedence_col"):
        merge_upsert(spark, path, no_sd, keys=["ticker"], precedence_col="sd")
    bad_target = str(tmp_path / "t2")
    merge_upsert(spark, bad_target, no_sd, keys=["ticker"])  # table without sd
    with pytest.raises(ValueError, match="target is missing precedence_col"):
        merge_upsert(
            spark, bad_target, _sd_snapshot(spark, [("A", "2024-01-01", 2.0)]),
            keys=["ticker"], precedence_col="sd",
        )


def test_pruned_merge_conforms_to_touched_partition_schema(spark, tmp_path):
    """Pins the r16 dir-pruned target read's schema contract: the pruned
    merge conforms the source to the TOUCHED partitions' merged footer
    schema, not the whole table's. A source column that was evolved only in
    UNTOUCHED partitions is unknown to the touched partition — dropped under
    the default conform-to-target rule, widened (always-update) under
    allow_new_columns=True — and read_table still NULL-fills it across
    partitions either way."""
    path = tmp_path / "evolve_corner"
    base = _snapshot(
        spark,
        [("AAA", "2024-01-01", 10.0), ("BBB", "2024-01-02", 11.0)],
    )
    merge_upsert(spark, str(path), base, keys=["ticker", "dt"], partition_col="dt")
    # evolve ONLY dt=2024-01-02 with `sector`
    merge_upsert(
        spark,
        str(path),
        _snapshot(spark, [("BBB", "2024-01-02", 12.0)]).withColumn(
            "sector", F.lit("tech")
        ),
        keys=["ticker", "dt"],
        partition_col="dt",
        allow_new_columns=True,
    )

    # batch carrying `sector` into the NON-evolved partition, default rules:
    # the touched partition's schema has no sector, so it is dropped
    merge_upsert(
        spark,
        str(path),
        _snapshot(spark, [("AAA", "2024-01-01", 10.5)]).withColumn(
            "sector", F.lit("fin")
        ),
        keys=["ticker", "dt"],
        partition_col="dt",
    )
    out = {r["ticker"]: (r["value"], r["sector"]) for r in read_table(spark, str(path)).collect()}
    assert out == {"AAA": (10.5, None), "BBB": (12.0, "tech")}

    # same batch WITH allow_new_columns: the touched partition widens
    merge_upsert(
        spark,
        str(path),
        _snapshot(spark, [("AAA", "2024-01-01", 10.7)]).withColumn(
            "sector", F.lit("fin")
        ),
        keys=["ticker", "dt"],
        partition_col="dt",
        allow_new_columns=True,
    )
    out2 = {r["ticker"]: (r["value"], r["sector"]) for r in read_table(spark, str(path)).collect()}
    assert out2 == {"AAA": (10.7, "fin"), "BBB": (12.0, "tech")}


def _live_hashes(path: Path) -> dict:
    """(ticker, dt) -> row_hash of the table's live parquet files, read by
    DuckDB (an engine independent of the merge under test)."""
    import duckdb

    from fund_data_pipeline_spark.merge import _live_snapshot

    if not path.exists():
        return {}
    live = _live_snapshot(path) or path
    rows = duckdb.sql(
        f"SELECT ticker, CAST(dt AS VARCHAR), row_hash "
        f"FROM read_parquet('{live}/**/*.parquet', hive_partitioning = true)"
    ).fetchall()
    return {(t, d): h for t, d, h in rows}


def _recount(before: dict, after: dict, scope) -> tuple[int, int, int]:
    """(inserted, updated, unchanged) from the table's files before and
    after a merge, over the rows it rewrites: every row, or on the hive
    layout the partitions in ``scope`` (the batch's dt values)."""
    keys = [k for k in after if scope is None or k[1] in scope]
    return (
        sum(k not in before for k in keys),
        sum(k in before and before[k] != after[k] for k in keys),
        sum(k in before and before[k] == after[k] for k in keys),
    )


@pytest.mark.parametrize("layout", ["flat", "manifest", "hive_pruned", "hive_backfill"])
def test_merge_stats_are_exact_on_every_layout(spark, tmp_path, monkeypatch, layout):
    """MergeStats are counted on the write itself; on every layout and on
    the create, merge and empty-batch paths they must equal the counts
    worked out by hand and the DuckDB recount over the table's files before
    and after. The batch touches dt 1-4 of dt 1-5: four partitions are
    under _ISIN_PRUNE_MAX (isin prune) and, with the cap lowered to 2, over
    it (broadcast semi-join prune). No merge may leave a block cached."""
    from fund_data_pipeline_spark import merge as M

    kw = {
        "flat": {},
        "manifest": {"layout": "manifest"},
        "hive_pruned": {"partition_col": "dt"},
        "hive_backfill": {"partition_col": "dt"},
    }[layout]
    if layout == "hive_backfill":
        monkeypatch.setattr(M, "_ISIN_PRUNE_MAX", 2)
    hive = "partition_col" in kw
    path = tmp_path / layout
    days = [f"2024-01-0{d}" for d in range(1, 6)]
    base = [(t, d, 10.0) for t in ("A", "B", "C") for d in days]
    batch = [
        ("A", days[0], 11.0), ("B", days[2], 12.0),  # update
        ("A", days[1], 10.0), ("C", days[2], 10.0),  # unchanged
        ("D", days[0], 1.0), ("D", days[3], 2.0), ("E", days[2], 3.0),  # insert
    ]
    # target rows the batch leaves alone ("keep", reported as unchanged):
    # all 11 on a full rewrite, the 8 in dt 1-4 on the hive layout
    expected = [
        (base, (15, 0, 0)),
        (batch, (3, 2, 2 + (8 if hive else 11))),
        ([], (0, 0, 0 if hive else 18)),
    ]
    cached = spark.sparkContext._jsc.getPersistentRDDs
    held = cached().size()
    for rows, want in expected:
        before = _live_hashes(path)
        stats = merge_upsert(
            spark, str(path), _snapshot(spark, rows), keys=["ticker", "dt"], **kw
        )
        got = (stats.inserted, stats.updated, stats.unchanged)
        scope = {d for _, d, _ in rows} if hive else None
        assert got == want == _recount(before, _live_hashes(path), scope), (rows, got)
        assert cached().size() == held  # the hive create's pin is released


def test_merge_runs_no_stats_pass(spark, tmp_path, monkeypatch):
    """One merge into an existing flat table caches nothing and starts no
    more Spark jobs than the observed write needs (job-id range of the
    status tracker, as the benchmark counts them). The persisted stats pass
    this replaced held the merged result in the cache during the write and
    started 8 jobs here; the observed write starts 5."""
    path = tmp_path / "jobs"
    days = ["2024-01-01", "2024-01-02"]
    base = _snapshot(spark, [(t, d, 1.0) for t in "ABC" for d in days])
    merge_upsert(spark, str(path), base, keys=["ticker", "dt"])
    batch = _snapshot(spark, [("A", days[0], 2.0), ("B", days[1], 1.0), ("Z", days[0], 3.0)])

    # relative to what the session already holds, so a block another test
    # left cached cannot fail this one
    cached = spark.sparkContext._jsc.getPersistentRDDs
    held = cached().size()
    cached_at_write = []
    write_prop = type(batch).write

    def write(df):
        cached_at_write.append(cached().size())
        return write_prop.fget(df)

    monkeypatch.setattr(type(batch), "write", property(write))
    tracker = spark.sparkContext.statusTracker()
    first = max(tracker.getJobIdsForGroup(None), default=-1)
    stats = merge_upsert(spark, str(path), batch, keys=["ticker", "dt"])
    jobs = [j for j in tracker.getJobIdsForGroup(None) if j > first]
    assert (stats.inserted, stats.updated, stats.unchanged) == (1, 1, 5)
    assert cached_at_write == [held] and cached().size() == held
    assert len(jobs) <= 5, jobs
