"""Hash-guarded keyed upsert over Parquet — the engine's signature operator.

Reproduces the reference's ``INSERT ... ON CONFLICT ON CONSTRAINT <uq>
DO UPDATE SET ... WHERE target.row_hash IS DISTINCT FROM excluded.row_hash``
(src/utils/db_connector.py:380-419, 02_performance_sync/03_price_history_loader.py:32-63,
01_master_sync/04_master_list_loader.py:69-85) as a Delta-style MERGE built
from a full-outer join, with no transactional-format dependency:

    target' = FULL OUTER JOIN(target, source, keys)
              WHEN MATCHED AND NOT (t.hash <=> s.hash) THEN source row
                                                            (preserve_cols kept)
              WHEN MATCHED (hash equal)                 THEN target row (write
                                                            elision: audit cols
                                                            untouched)
              WHEN NOT MATCHED BY TARGET                THEN insert source row
              WHEN NOT MATCHED BY SOURCE                THEN keep target row

Write discipline — three layouts, one merge:

- ``layout="rename"`` (default, local fast path): new snapshot goes to
  ``<path>.__staging__`` then swaps in via rename, so a failed job never
  corrupts the table (SURVEY §7.4-1). POSIX-atomic; NOT object-store-safe
  (an S3 "rename" is a non-atomic copy).
- ``layout="manifest"`` (object-store-safe): each merge writes a NEW
  immutable snapshot directory ``_v_NNNNN`` under the table root, then
  atomically repoints the tiny ``_MANIFEST`` pointer file (one small PUT —
  atomic on POSIX via os.replace and on S3/GCS because single-object PUT is
  atomic). Readers resolve the pointer first (:func:`read_table`), so they
  always see a complete snapshot; no big-data rename ever happens. Snapshot
  dirs start with ``_`` so vanilla parquet listers skip them.
- ``partition_col=...`` (partition-pruned merge): the target is a
  hive-partitioned ``<pcol>=<value>`` layout and the merge reads + rewrites
  ONLY the partitions present in the batch — merge cost is proportional to
  the touched partitions, not the table (the reference touches only the
  current day's staging: 02_performance_sync/03_price_history_loader.py:32-63).
  Requires ``partition_col`` to be one of ``keys`` (true for daily tables
  keyed (entity, date)) so a key can never silently move partitions.

Merge statistics cost no extra pass: every merge tags each output row with
its action (insert / update / unchanged / keep) and counts the tags with one
``DataFrame.observe`` on the frame it hands to the parquet writer, so the
write job itself returns the exact :class:`MergeStats`. The observation is
the writer's last node on every layout (after the hive path's repartition):
there it runs in the result stage, whose task accumulator updates Spark
applies once per partition, while a re-run shuffle-map task could count its
rows twice.

Scale notes (100 TB):
- The join shuffles both sides by the natural key — unavoidable for a keyed
  merge without a transactional format; on a cluster, bucketed tables on the
  key make it shuffle-free on the target side.
- Daily batches are small relative to the table: the source side is
  broadcast automatically by AQE when under the threshold.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable, Sequence
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .dedup import dedup_keyed

#: Partition-pruned merge: above this many touched partitions the driver-side
#: isin literal list is replaced by a broadcast semi-join prune (a multi-year
#: backfill would otherwise inflate the plan with thousands of literals).
_ISIN_PRUNE_MAX = 64

#: Per-row merge outcome, counted on the write: ``keep`` is a target row the
#: batch did not touch, reported together with ``unchanged``.
_ACTIONS = ("insert", "update", "unchanged", "keep")

#: The last transform a writer applies before ``DataFrame.write``.
Observe = Callable[[DataFrame], DataFrame]


@dataclass
class MergeStats:
    inserted: int
    updated: int
    unchanged: int
    deleted_by_retention: int = 0
    #: Partition values this merge touched (partition-pruned merges only).
    #: The merge already collects them for its isin prune, so callers that
    #: need them next (rollup refresh, compaction targeting) read them here
    #: instead of re-running the distinct+collect the merge just did. None
    #: when the merge is unpartitioned OR the batch exceeded _ISIN_PRUNE_MAX
    #: (the backfill path deliberately never collects an unbounded list —
    #: recompute downstream if genuinely needed).
    touched_partitions: list | None = None


def _null_safe_ne(left: Column, right: Column) -> Column:
    return ~left.eqNullSafe(right)


def merge_upsert(
    spark: SparkSession,
    target_path: str,
    source: DataFrame,
    keys: Sequence[str],
    hash_col: str = "row_hash",
    preserve_cols: Sequence[str] = (),
    always_update_cols: Sequence[str] = (),
    unconditional: bool = False,
    precedence_col: str | None = None,
    dedupe_order: Sequence[str] | None = None,
    partition_col: str | None = None,
    layout: str = "rename",
    allow_new_columns: bool = False,
    history: int | None = None,
) -> MergeStats:
    """Upsert ``source`` into the Parquet table at ``target_path``.

    Returns exact counts: inserted, updated, and unchanged (matched rows
    whose hash guard held plus target rows the batch did not touch). They
    come from an observation on the write itself, placed as the writer's
    last node so it runs in the write's result stage, where a retried or
    speculative task cannot count its rows twice (module docstring). No
    extra job runs and the merged result is not cached. A create counts the
    rows written as inserted.

    - ``preserve_cols``: target wins on matched rows (e.g. ``first_seen`` — L1).
    - ``always_update_cols``: source wins on matched rows even when the hash
      is unchanged (e.g. ``last_seen`` freshness on the master table — K5).
      Default empty: the reference's hash guard skips the whole UPDATE when
      the hash matches (db_connector.py:400-405), so audit columns stay
      untouched on unchanged rows.
    - ``unconditional=True``: K5's always-update semantics (no hash guard),
      used by the master loader; default is the H8 hash guard.
    - ``precedence_col``: cross-batch staleness guard. A matched source row
      whose value in this column is strictly OLDER than the target's (both
      non-NULL) does not update ANY column — the target row wins and the row
      counts as unchanged, even under ``unconditional`` / always-update
      columns. NULL on either side passes (unknown freshness merges like the
      batch loader would). Used by the streaming NAV loader so a re-delivered
      old file drained in a later micro-batch cannot clobber newer rows; the
      guard runs inside the merge's own full-outer join, so it costs no extra
      target scan.
    - ``dedupe_order``: tiebreak columns making the batch one-row-per-key
      (required for a deterministic merge). Default: all NON-key source
      columns — a deterministic total order over whatever distinguishes
      the duplicate rows. The previous default was the key itself, which
      is CONSTANT inside its own dedup partition, i.e. an arbitrary
      survivor whose row hash could flip on a rerun and re-fire the
      hash guard on a no-op (review r11; same class as dedup_min).
    - ``partition_col``: hive-partition column of the target; when set, only
      the partitions present in ``source`` are read and rewritten (all other
      partitions' files are untouched on disk). Must be one of ``keys``.
    - ``layout``: ``"rename"`` (POSIX swap) or ``"manifest"``
      (object-store-safe snapshot + pointer; see module docstring).
    - ``allow_new_columns=True``: schema evolution — source columns absent
      from the target widen the output schema instead of being dropped. New
      columns behave as always-update (source wins whenever a source row is
      present, even under an unchanged hash — the old hash predates the
      column, so the guard must not freeze the new column at NULL); target
      rows with no source match get NULL. Default False keeps the
      conform-to-target contract: the reference conforms every feed to the
      master schema before loading, so an unexpected column is dropped.
    - ``history``: manifest layout only — snapshots retained including the
      new live one. N>1 enables time travel (``read_table(version=...)``)
      and CDC (:func:`table_changes`) over the last N merges, and is
      persisted in the manifest pointer as the table's retention property.
      Default ``None`` preserves the table's persisted retention (1 for a
      table that never declared one); an explicit int sets and persists it.
    """
    keys = list(keys)
    if layout not in ("rename", "manifest"):
        raise ValueError(f"unknown layout {layout!r}; use 'rename' or 'manifest'")
    _check_layout_compatible(
        Path(target_path),
        "manifest" if layout == "manifest" else ("hive" if partition_col else "flat"),
    )
    if partition_col is not None:
        if partition_col not in keys:
            raise ValueError(
                f"partition_col {partition_col!r} must be part of keys {keys} — a "
                f"merge key moving between partitions would leave a stale twin"
            )
        if layout == "manifest":
            raise ValueError("partition-pruned merge uses the hive layout; manifest applies to unpartitioned tables")
        if partition_col not in source.columns:
            raise ValueError(f"source is missing partition_col {partition_col!r}")
    if precedence_col is not None and precedence_col not in source.columns:
        raise ValueError(f"source is missing precedence_col {precedence_col!r}")
    source = dedup_keyed(source, keys, _dedupe_order(source, keys, dedupe_order), keep="last")

    path = Path(target_path)
    # heal BEFORE existence/read: a crash between a previous swap's two
    # renames leaves only the backup — without this, _table_exists sees no
    # table, the merge takes the CREATE branch, and the heal inside the
    # writer restores the full old table just in time for the source-only
    # staging to be swapped over it (silent loss of every pre-crash row
    # not in the batch; review r11 — rollup.refresh_rollup already healed
    # on entry for exactly this reason). Same for hive partition backups:
    # a missing live partition dir reads back as empty, misclassifying
    # every batch row as insert.
    if layout == "rename":
        heal_backup_swap(path)
        if partition_col is not None:
            _heal_partition_backups(path, partition_col)
    exists = _table_exists(path, layout)
    if not exists:
        # the write is the source's only consumer on a flat or manifest
        # create, so nothing is pinned; a hive create also collects its
        # touched partitions below, and the pin keeps a non-deterministic
        # source from reporting partitions the write did not produce.
        # persist() returns the same object, so an identity test cannot
        # tell whether a pin was taken: the release keys on partition_col
        if partition_col is not None:
            source.persist()
        try:
            counted = _observed_write(
                source, path, layout, partition_col, history, F.count(F.lit(1)).alias("n")
            )
            stats = MergeStats(inserted=counted["n"], updated=0, unchanged=0)
            if partition_col is not None:
                # same capped collect as the merge path below, so the create
                # batch reports its touched partitions too (a streaming
                # loader's FIRST micro-batch must not be the one case the
                # field is absent)
                created = [
                    r[0]
                    for r in source.select(partition_col)
                    .distinct()
                    .limit(_ISIN_PRUNE_MAX + 1)
                    .collect()
                ]
                if len(created) <= _ISIN_PRUNE_MAX:
                    stats.touched_partitions = created
        finally:
            if partition_col is not None:
                source.unpersist()
        return stats

    if partition_col is not None:
        src_dtype = dict(source.dtypes)[partition_col]
        distinct_parts = source.select(partition_col).distinct()
        # Daily-batch fast path: collect the touched partition values (capped)
        # so the isin filter resolves at planning time against the hive dir
        # names — only touched partitions are ever listed or scanned. The
        # partition col is cast back to the source's dtype so partition-value
        # inference can't change the merge key's type. A backfill touching
        # more than _ISIN_PRUNE_MAX partitions would bloat the plan with a
        # giant literal list instead, so it switches to a broadcast semi-join
        # prune: the scan keeps the bare partition column (dynamic partition
        # pruning stays eligible) and no unbounded collect hits the driver.
        touched = [
            r[0] for r in distinct_parts.limit(_ISIN_PRUNE_MAX + 1).collect()
        ]
        # mergeSchema: a prior allow_new_columns merge rewrites only touched
        # partitions, so partition files can legitimately carry different
        # widths; a single-footer schema sample would nondeterministically
        # drop the evolved column. Footer-merging is a distributed
        # metadata-only job bounded by file count — correct first, and cheap
        # relative to the merge itself.
        # both prune paths are NULL-safe: a batch row with a NULL partition
        # value lives in __HIVE_DEFAULT_PARTITION__, and that partition's
        # existing target rows must enter the merge like any other touched
        # partition's (plain isin / == would silently drop them and the
        # swap would overwrite the NULL partition with source-only content)
        if len(touched) <= _ISIN_PRUNE_MAX:
            # Read ONLY the touched partition directories (r16 optimization):
            # a root-path read pays file listing + footer mergeSchema for the
            # WHOLE table at DataFrame-creation time — driver-side planning
            # work proportional to TOTAL partitions, not touched ones
            # (measured 0.42 s of the ~1.3 s sf0.1 bench merge at 84
            # partitions; a years-deep production table pays far more for a
            # one-partition daily batch). basePath keeps the partition column
            # derived from dir names; dir names come from hive_partition_dir,
            # the same value->dir contract the swap and stale-partition drops
            # already rely on (NULL -> __HIVE_DEFAULT_PARTITION__). The merge
            # therefore conforms to the TOUCHED partitions' merged schema: a
            # column evolved only in untouched partitions is invisible here —
            # matched rows keep their partition's physical width, exactly
            # what the swap rewrites (pinned by
            # test_pruned_merge_conforms_to_touched_partition_schema). A
            # touched value with no dir yet is a brand-new partition (no
            # target rows); if NO touched dir exists the root read supplies
            # the table schema for an empty target (rare: all-new backfill).
            part_dirs = [
                path / hive_partition_dir(partition_col, v) for v in touched
            ]
            existing = [str(d) for d in part_dirs if d.is_dir()]
            if existing:
                target = (
                    spark.read.option("mergeSchema", "true")
                    .option("basePath", str(path))
                    .parquet(*existing)
                )
            else:
                target = (
                    spark.read.option("mergeSchema", "true")
                    .parquet(str(path))
                    .filter(F.lit(False))
                )
            target = (
                target.filter(
                    touched_partition_filter(
                        F.col(partition_col).cast(src_dtype), touched
                    )
                )
                .withColumn(partition_col, F.col(partition_col).cast(src_dtype))
            )
        else:
            raw = spark.read.option("mergeSchema", "true").parquet(str(path))
            tgt_dtype = dict(raw.dtypes)[partition_col]
            probe = F.broadcast(
                distinct_parts.select(
                    F.col(partition_col).cast(tgt_dtype).alias("__touched_part")
                ).distinct()
            )
            target = (
                raw.join(
                    probe,
                    raw[partition_col].eqNullSafe(probe["__touched_part"]),
                    "left_semi",
                )
                .withColumn(partition_col, F.col(partition_col).cast(src_dtype))
            )
        touched_out = touched if len(touched) <= _ISIN_PRUNE_MAX else None
    else:
        target = read_table(spark, str(path))
        touched_out = None
    out_cols = target.columns
    new_cols = [c for c in source.columns if c not in out_cols]
    if allow_new_columns:
        out_cols = out_cols + new_cols

    reserved = {"__t_present", "__s_present", "__action"}
    clash = reserved & (set(target.columns) | set(source.columns))
    if clash:
        raise ValueError(f"column names reserved by merge_upsert: {sorted(clash)}")
    # Presence must be decided by explicit markers, not key-null tests: the
    # join is eqNullSafe precisely so NULL key values can match, and a target
    # row whose first key is NULL would otherwise be misclassified as an
    # insert (preserve_cols taken from source, stats wrong).
    t = target.withColumn("__t_present", F.lit(True)).alias("t")
    s = source.withColumn("__s_present", F.lit(True)).alias("s")
    cond = [F.col(f"t.{k}").eqNullSafe(F.col(f"s.{k}")) for k in keys]
    joined = t.join(s, cond, "full_outer")

    s_present = F.col("s.__s_present").isNotNull()
    t_present = F.col("t.__t_present").isNotNull()
    if unconditional:
        changed = F.lit(True)
    else:
        changed = _null_safe_ne(F.col(f"t.{hash_col}"), F.col(f"s.{hash_col}"))
    # staleness guard: a matched source row older than the stored one loses
    # outright — gates the hash-guard branch AND always-update/new columns
    stale = F.lit(False)
    if precedence_col is not None:
        if precedence_col not in target.columns:
            raise ValueError(
                f"target is missing precedence_col {precedence_col!r}; the "
                f"staleness guard needs the stored value to compare against"
            )
        stale = (
            F.col(f"s.{precedence_col}").isNotNull()
            & F.col(f"t.{precedence_col}").isNotNull()
            & (F.col(f"s.{precedence_col}") < F.col(f"t.{precedence_col}"))
        )
        changed = changed & ~stale

    preserve = set(preserve_cols)
    always = set(always_update_cols)
    src_dtypes = dict(source.dtypes)

    merged_cols: list[Column] = []
    for c in out_cols:
        s_c = F.col(f"s.{c}") if c in source.columns else F.lit(None)
        t_c = (
            F.col(f"t.{c}")
            if c in target.columns
            else F.lit(None).cast(src_dtypes[c])
        )
        if c in keys:
            expr = F.coalesce(t_c, s_c)
        elif c in preserve:
            expr = F.when(t_present, t_c).otherwise(s_c)
        elif c in always or c in new_cols:
            # new columns are always-update: the stored hash predates them,
            # so the hash guard must not freeze them at NULL on matched rows
            expr = F.when(s_present & ~stale, s_c).otherwise(t_c)
        else:
            expr = (
                F.when(~t_present, s_c)
                .when(~s_present, t_c)
                .when(changed, s_c)
                .otherwise(t_c)
            )
        merged_cols.append(expr.alias(c))

    action = (
        F.when(~t_present, F.lit("insert"))
        .when(~s_present, F.lit("keep"))
        .when(changed, F.lit("update"))
        .otherwise(F.lit("unchanged"))
    )
    result = joined.select(*merged_cols, action.alias("__action"))

    counted = _observed_write(
        result,
        path,
        layout,
        partition_col,
        history,
        *(F.count_if(F.col("__action") == a).alias(a) for a in _ACTIONS),
        drop="__action",
    )
    return MergeStats(
        inserted=counted["insert"],
        updated=counted["update"],
        unchanged=counted["unchanged"] + counted["keep"],
        touched_partitions=touched_out,
    )


def _observed_write(
    df: DataFrame,
    path: Path,
    layout: str,
    partition_col: str | None,
    history: int | None,
    *metrics: Column,
    drop: str | None = None,
) -> dict:
    """Write ``df`` like :func:`_write_table` and return ``metrics``, the
    aggregates of one :class:`Observation` the write itself evaluates: no
    extra job, no cache. ``drop`` names a column only the metrics read; it
    is removed after the observation. Every writer applies the observation
    as its last node before the parquet writer (module docstring says why;
    ``tests/test_plans.py`` pins it)."""
    obs = Observation()

    def observe(out: DataFrame) -> DataFrame:
        out = out.observe(obs, *metrics)
        return out.drop(drop) if drop is not None else out

    _write_table(df, path, layout, partition_col, history, observe)
    return obs.get


# ---------------------------------------------------------------------------
# storage layouts
# ---------------------------------------------------------------------------

MANIFEST_NAME = "_MANIFEST"


def _live_snapshot(path: Path) -> Path | None:
    """Resolve the manifest pointer, or None for plain-directory tables."""
    mf = path / MANIFEST_NAME
    if mf.exists():
        head = (mf.read_text().splitlines() or [""])[0].strip()
        if not head:
            raise ValueError(f"corrupt manifest table: empty {mf}")
        return path / head
    return None


def _persisted_retention(path: Path) -> int | None:
    """Snapshot-retention table property persisted in the manifest pointer
    (``retention=N`` on its second line, Delta-table-property style), or
    None when the table has never declared one (legacy single-line
    manifests)."""
    mf = path / MANIFEST_NAME
    if not mf.exists():
        return None
    for line in mf.read_text().splitlines()[1:]:
        if line.startswith("retention="):
            try:
                return int(line.split("=", 1)[1])
            except ValueError:
                return None
    return None


def detect_layout(path: Path | str) -> str | None:
    """The on-disk layout of an existing table: ``"manifest"`` (pointer
    file), ``"hive"`` (``col=value`` partition dirs), ``"flat"`` (plain
    parquet directory), or None if nothing exists yet.

    Hidden and underscore-prefixed entries don't count as table content:
    an empty pre-created directory, a crash-orphaned ``_v_*`` snapshot
    whose manifest pointer was never written, or a leftover dot-prefixed
    swap backup must not classify as a ``flat`` table — that would make
    the layout guard refuse the (perfectly safe) first or retried write
    forever."""
    path = Path(path)
    if (path / MANIFEST_NAME).exists():
        return "manifest"
    if not path.exists():
        return None
    entries = [d for d in path.iterdir() if not d.name.startswith((".", "_"))]
    if any(d.is_dir() and "=" in d.name for d in entries):
        return "hive"
    return "flat" if entries else None


def _check_layout_compatible(path: Path, intended: str) -> None:
    """Refuse a write whose layout differs from the table's existing one.

    Every cross-layout write corrupts silently rather than failing loudly:
    rename-over-manifest discards the pointer/snapshots/history;
    manifest-over-flat buries the existing rows as invisible orphan files
    (the merge takes the table-does-not-exist branch); a partition swap
    into a flat root leaves a mix of partition dirs and flat files whose
    reads drop or duplicate rows; a flat atomic write over a hive root
    destroys the partition layout. Migrate explicitly (read_table ->
    rewrite) instead.
    """
    existing = detect_layout(path)
    if existing is not None and existing != intended:
        raise ValueError(
            f"{path} is an existing {existing}-layout table; this write would "
            f"{'replace' if intended != 'hive' else 'mix'} it with a {intended} "
            f"layout and corrupt it silently. Read and rewrite the table to "
            f"migrate layouts explicitly."
        )


#: Characters Spark/Hive percent-escape in partition directory names
#: (org.apache.hadoop.hive.common.FileUtils.escapePathName's charset).
_HIVE_ESCAPE = set('"#%\'*/:=?\\{[]^') | {chr(c) for c in range(0x20)} | {chr(0x7F)}


def hive_partition_dir(partition_col: str, value) -> str:
    """The directory name Spark writes for one partition value — NULL maps
    to ``__HIVE_DEFAULT_PARTITION__`` and special characters are
    percent-escaped, so path manipulation (stale-partition drops, swap
    bookkeeping) agrees with what is actually on disk."""
    if value is None:
        return f"{partition_col}=__HIVE_DEFAULT_PARTITION__"
    escaped = "".join(
        f"%{ord(ch):02X}" if ch in _HIVE_ESCAPE else ch for ch in str(value)
    )
    return f"{partition_col}={escaped}"


def touched_partition_filter(partition_col: str | Column, touched) -> Column:
    """Null-safe membership filter over partition values: plain ``isin``
    silently drops a NULL partition value (SQL three-valued logic), so rows
    in ``__HIVE_DEFAULT_PARTITION__`` would be excluded from a rewrite that
    claims to cover them. Accepts a column name or a prepared Column
    expression (the pruned merge passes the dtype-cast column)."""
    col = F.col(partition_col) if isinstance(partition_col, str) else partition_col
    touched = list(touched)  # consumed twice below; tolerate one-shot iterators
    nonnull = [v for v in touched if v is not None]
    cond = col.isin(nonnull) if nonnull else F.lit(False)
    if len(nonnull) != len(touched):
        cond = cond | col.isNull()
    return cond


def swap_partitions_dropping_absent(
    out: DataFrame, path: Path, partition_col: str, touched
) -> None:
    """Swap ``out``'s partitions into the table and remove the directory of
    every ``touched`` partition that produced no rows (a partition whose
    content disappeared entirely — the case plain swap can't express).
    The present set is derived from the staging directories the swap
    actually wrote — ``out`` is evaluated exactly once, so a
    non-deterministic source cannot produce a present set that disagrees
    with the dirs on disk (which would delete a just-written partition or
    keep a stale one). Stale directory names go through
    :func:`hive_partition_dir` so NULL and escaped values are found on
    disk. Shared by ``rollup.refresh_rollup`` and
    ``maintenance.delete_keys``."""
    swapped = _partition_swap_write(out, path, partition_col)
    for value in touched:
        dirname = hive_partition_dir(partition_col, value)
        if dirname not in swapped:
            stale = path / dirname
            if stale.exists():
                shutil.rmtree(stale)


def read_table(
    spark: SparkSession,
    path: str,
    merge_schema: bool | None = None,
    version: int | None = None,
) -> DataFrame:
    """Read a merge-managed table regardless of layout: resolves the
    ``_MANIFEST`` pointer when present, else reads the directory directly
    (plain and hive-partitioned layouts).

    ``version``: time travel — read a specific retained snapshot of a
    manifest table (merges run with ``history>1`` retain the last N;
    :func:`list_versions` enumerates what is readable). Raises if the
    snapshot was never written or already pruned.

    ``merge_schema=None`` (default) auto-enables parquet ``mergeSchema`` for
    hive-partitioned tables: a partition-pruned ``allow_new_columns`` merge
    rewrites only touched partitions, so files legitimately differ in width
    and a one-footer schema sample could silently drop the evolved column
    (reading it as absent or NULL depending on which file supplies the
    schema). Rename/manifest layouts rewrite the whole snapshot per merge —
    uniform schema — so they skip the footer-merge. Pass ``False`` to force
    the cheap single-footer path, or ``True`` to force merging."""
    p = Path(path)
    live = _live_snapshot(p)
    if version is not None:
        if live is None:
            raise ValueError(f"{path} is not a manifest table; version= needs one")
        snap = p / f"_v_{version:05d}"
        if not snap.is_dir():
            raise FileNotFoundError(
                f"snapshot version {version} of {path} was never written or has "
                f"been pruned (on disk: {list_versions(path)}; raise history= on "
                f"the merge / keep_last= on vacuum_snapshots to retain more)"
            )
        # snapshot dirs are uniform flat parquet — no footer merge needed
        return spark.read.parquet(str(snap))
    base = live if live is not None else p
    if merge_schema is None:
        merge_schema = (
            live is None
            and base.is_dir()
            and any(d.is_dir() and "=" in d.name for d in base.iterdir())
        )
    reader = spark.read
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    return reader.parquet(str(base))


def _table_exists(path: Path, layout: str) -> bool:
    if layout == "manifest":
        return (path / MANIFEST_NAME).exists()
    # content-based, matching detect_layout: a pre-created EMPTY directory
    # (or one holding only bookkeeping/hidden entries) is not a table —
    # treating it as one would send the merge down the read path and die
    # on schema inference over zero files
    return detect_layout(path) in ("hive", "flat")


def _write_table(
    df: DataFrame,
    path: Path,
    layout: str,
    partition_col: str | None,
    history: int | None = None,
    observe: Observe | None = None,
) -> None:
    if layout == "manifest":
        _manifest_write(df, path, history=history, observe=observe)
    elif partition_col is not None:
        _partition_swap_write(df, path, partition_col, observe=observe)
    else:
        _atomic_write(df, path, observe=observe)


def _atomic_write(
    df: DataFrame, path: Path, partition_by: str | None = None, observe: Observe | None = None
) -> None:
    """Write-temp-then-swap: the table directory is replaced via rename.

    POSIX fast path only — the two renames are not atomic as a unit and an
    object store copies on rename; use ``layout="manifest"`` there. A crash
    between the renames is self-healed on the next call (backup restored).

    ``partition_by`` writes the staging directory hive-partitioned (the
    rollup full build) — ONE swap discipline for flat and partitioned full
    rewrites, so crash-heal fixes can never apply to one and not the other.
    ``observe`` is applied directly before the writer (see
    :func:`_observed_write`)."""
    staging = path.with_name(path.name + ".__staging__")
    backup = path.with_name(path.name + ".__old__")
    heal_backup_swap(path)
    if staging.exists():
        shutil.rmtree(staging)
    if observe is not None:
        df = observe(df)
    writer = df.write.mode("overwrite")
    if partition_by is not None:
        writer = writer.partitionBy(partition_by)
    writer.parquet(str(staging))
    if path.exists():
        path.rename(backup)
    staging.rename(path)
    if backup.exists():
        shutil.rmtree(backup)


def _orderable(dt) -> bool:
    """Whether Spark can sort on the type: maps are unorderable, and a
    struct/array is only orderable if everything inside it is."""
    from pyspark.sql import types as T

    if isinstance(dt, T.MapType):
        return False
    if isinstance(dt, T.ArrayType):
        return _orderable(dt.elementType)
    if isinstance(dt, T.StructType):
        return all(_orderable(f.dataType) for f in dt.fields)
    return True


def _dedupe_order(source: DataFrame, keys: Sequence[str], dedupe_order) -> list:
    """The batch-dedup tiebreak: the caller's columns, else all NON-key
    ORDERABLE columns (a deterministic total order over whatever
    distinguishes the duplicates), else the keys themselves (rows are
    identical per key up to unorderable columns, so any survivor is the
    same row). Unorderable columns (maps, and structs/arrays containing
    them) are excluded from the DEFAULT rather than failing analysis — a
    source carrying a map column keeps the old keys-only-era behavior for
    that column (arbitrary survivor among rows tied on every orderable
    column); callers needing a total order over map contents must pass an
    explicit dedupe_order of derived orderable expressions (ADVICE r11)."""
    if dedupe_order:
        return list(dedupe_order)
    fields = {f.name: f.dataType for f in source.schema.fields}
    others = [
        c for c in source.columns if c not in keys and _orderable(fields[c])
    ]
    return others or list(keys)


def _heal_partition_backups(path: Path, partition_col: str) -> None:
    """Restore-or-discard orphaned hive partition backups (both the
    dot-prefixed and the legacy un-dotted spelling) — shared by the swap
    writer and the merge/delete entry points, which must heal BEFORE
    reading the target (review r11)."""
    if not path.exists():
        return
    for pattern, strip_dot in ((f".{partition_col}=*.__old__", True), (f"{partition_col}=*.__old__", False)):
        for backup in list(path.glob(pattern)):
            name = backup.name[1:] if strip_dot else backup.name
            dest = path / name[: -len(".__old__")]
            if dest.exists():
                shutil.rmtree(backup)  # crash after the swap: backup is stale
            else:
                backup.rename(dest)  # crash between renames: backup IS the data


def heal_backup_swap(path: Path) -> None:
    """Entry-point crash heal shared by every rename-swap writer AND by
    readers/refreshers that touch a swap-managed table before writing: a
    ``<name>.__old__`` sibling with no live ``<name>`` means the previous
    swap crashed between its two renames — the backup IS the table, so
    restore it; a backup alongside a live table is a stale leftover from a
    crash after the swap and is discarded. Without this, an incremental
    refresher (rollup) that mkdir-creates the missing live path would
    resurrect a PARTIAL table while the intact backup sits ignored."""
    backup = path.with_name(path.name + ".__old__")
    if backup.exists() and not path.exists():
        backup.rename(path)
    elif backup.exists():
        shutil.rmtree(backup)


def _manifest_write(
    df: DataFrame, path: Path, history: int | None = None, observe: Observe | None = None
) -> None:
    """Object-store-safe swap: write a NEW immutable snapshot directory, then
    atomically repoint the small manifest pointer. The only non-idempotent
    step is a single small-file replace — atomic on POSIX (os.replace) and
    on object stores (single-object PUT).

    ``history`` is the number of snapshots retained INCLUDING the new live
    one: 1 prunes the superseded snapshot immediately; N>1 keeps the last N
    versions readable for time travel (:func:`read_table` ``version=``) and
    CDC diffs (:func:`table_changes`). ``None`` (default) preserves the
    retention the table itself declares — persisted in the manifest pointer
    as a ``retention=N`` line, like a Delta table property — so a later
    writer that doesn't pass ``history`` cannot silently prune a
    time-travel window established by earlier merges. Passing an int sets
    AND persists the new retention. An object-store deployment would
    additionally GC after a read-grace period (in-flight readers may still
    hold the old pointer). ``observe`` is applied directly before the
    writer (see :func:`_observed_write`)."""
    path.mkdir(parents=True, exist_ok=True)
    if history is None:
        history = _persisted_retention(path) or 1
    current = _live_snapshot(path)
    version = int(current.name.rsplit("_", 1)[-1]) + 1 if current is not None else 1
    snap = path / f"_v_{version:05d}"
    if snap.exists():
        shutil.rmtree(snap)  # failed previous attempt; manifest never pointed here
    if observe is not None:
        df = observe(df)
    df.write.mode("overwrite").parquet(str(snap))
    tmp = path / (MANIFEST_NAME + ".__tmp__")
    pointer = snap.name if history <= 1 else f"{snap.name}\nretention={history}"
    tmp.write_text(pointer)
    os.replace(tmp, path / MANIFEST_NAME)
    cutoff = version - max(1, history)
    for old in sorted(path.glob("_v_*")):
        try:
            old_version = int(old.name.rsplit("_", 1)[-1])
        except ValueError:
            continue
        if old.is_dir() and old_version <= cutoff:
            # a concurrent vacuum_snapshots janitor may prune the superseded
            # snapshot first; losing that race is fine — the directory is gone
            shutil.rmtree(old, ignore_errors=True)


def list_versions(table_path: str) -> list[int]:
    """Version numbers of the snapshots currently on disk (ascending); the
    live version is the last entry. Empty for non-manifest tables."""
    path = Path(table_path)
    if not (path / MANIFEST_NAME).exists():
        return []
    out = []
    for snap in path.glob("_v_*"):
        try:
            out.append(int(snap.name.rsplit("_", 1)[-1]))
        except ValueError:
            continue
    # sort the PARSED ints, not the names: the zero-padded %05d widens past
    # 99999, where lexicographic order breaks the documented "live version
    # is the last entry" contract (review r11)
    return sorted(out)


def table_changes(
    spark: SparkSession,
    table_path: str,
    v_from: int,
    v_to: int,
    keys: Sequence[str],
    hash_col: str = "row_hash",
) -> DataFrame:
    """CDC between two retained snapshots of a manifest table: one row per
    key whose state changed, with ``_change_type`` in
    ``insert`` / ``update`` / ``delete`` (unchanged rows are omitted).
    Inserts and updates carry the ``v_to`` row; deletes carry the ``v_from``
    row. Change detection is the merge engine's own null-safe ``hash_col``
    comparison, so "update" means exactly what the hash-guarded merge means
    by it.

    This is diff-based CDC (a keyed full-outer join of the two snapshots) —
    the price of having no transaction log. Cost is bounded by the two
    snapshot scans plus one shuffle on the key; at 100 TB, prefer diffing
    adjacent versions (daily snapshots) over distant ones, and feed the
    result incrementally downstream rather than re-diffing history.
    """
    old = read_table(spark, table_path, version=v_from)
    new = read_table(spark, table_path, version=v_to)
    return diff_frames(old, new, keys, hash_col=hash_col)


def diff_frames(
    old: DataFrame,
    new: DataFrame,
    keys: Sequence[str],
    hash_col: str = "row_hash",
) -> DataFrame:
    """Pure-DataFrame CDC kernel behind :func:`table_changes`: classify each
    key as insert / update / delete between two relations, unchanged rows
    omitted. Inserts/updates carry the ``new`` row, deletes the ``old`` row;
    keys join null-safely (matching the merge's own semantics)."""
    keys = list(keys)
    reserved = {"__o_present", "__n_present"}
    clash = reserved & (set(old.columns) | set(new.columns))
    if clash:
        raise ValueError(f"column names reserved by diff_frames: {sorted(clash)}")
    cond = [F.col(f"o.{k}").eqNullSafe(F.col(f"n.{k}")) for k in keys]
    o = old.withColumn("__o_present", F.lit(True)).alias("o")
    n = new.withColumn("__n_present", F.lit(True)).alias("n")
    joined = o.join(n, cond, "full_outer")
    o_present = F.col("o.__o_present").isNotNull()
    n_present = F.col("n.__n_present").isNotNull()
    changed = _null_safe_ne(F.col(f"o.{hash_col}"), F.col(f"n.{hash_col}"))
    change_type = (
        F.when(~o_present, F.lit("insert"))
        .when(~n_present, F.lit("delete"))
        .when(changed, F.lit("update"))
        .otherwise(F.lit(None))
    )
    # row-presence CASE, not per-column coalesce: an update whose NEW value
    # is legitimately NULL must emit that NULL, not silently backfill the
    # old value (caught by the round-trip property test)
    cols = [
        F.when(n_present, F.col(f"n.{c}")).otherwise(F.col(f"o.{c}")).alias(c)
        if c in old.columns
        else F.col(f"n.{c}").alias(c)
        for c in new.columns
        if c != "__n_present"
    ]
    return (
        joined.select(*cols, change_type.alias("_change_type"))
        .filter(F.col("_change_type").isNotNull())
    )


def _partition_swap_write(
    df: DataFrame, path: Path, partition_col: str, observe: Observe | None = None
) -> set[str]:
    """Swap ONLY the partition directories present in ``df`` into the table
    root; every other partition's files are left byte-untouched. The merge
    result contains exactly the touched partitions (pruned target subset
    full-outer source), so staging emits exactly those ``<pcol>=`` dirs.
    Returns the set of swapped partition dir names (``<pcol>=<escaped>``) so
    callers can reason about what was actually written — the staging glob is
    the ground truth, not a second evaluation of ``df``. ``observe`` is
    applied after the repartition, directly before the writer, so the
    observation runs in the result stage (see :func:`_observed_write`)."""
    staging = path.with_name(path.name + ".__staging__")
    if staging.exists():
        shutil.rmtree(staging)
    # shuffle rows to their partition before the partitioned write: without
    # this every task emits a file into every partition (tasks x partitions
    # small files — the classic scan-killer). One task per partition is right
    # for daily-merge-sized partitions; a table with huge partitions would
    # add a within-partition split key here.
    df = df.repartition(F.col(partition_col))
    if observe is not None:
        df = observe(df)
    df.write.mode("overwrite").partitionBy(partition_col).parquet(str(staging))
    path.mkdir(parents=True, exist_ok=True)
    # heal EVERY orphaned backup first, not just this batch's partitions: a
    # crash between the two renames of some earlier batch leaves only the
    # backup, and waiting for the same partition to be touched again would
    # leave the table missing that partition indefinitely. Backup names are
    # dot-prefixed so Spark's partition discovery never parses one as a
    # real partition; the legacy un-dotted spelling is healed too (r9).
    # Shared with the merge/delete entry points, which heal BEFORE reading
    # the target (review r11).
    _heal_partition_backups(path, partition_col)
    swapped: set[str] = set()
    for part_dir in sorted(staging.glob(f"{partition_col}=*")):
        dest = path / part_dir.name
        backup = path / ("." + part_dir.name + ".__old__")
        if dest.exists():
            dest.rename(backup)
        part_dir.rename(dest)
        if backup.exists():
            shutil.rmtree(backup)
        swapped.add(part_dir.name)
    shutil.rmtree(staging)
    return swapped


def merge_as_dataframe(
    target: DataFrame,
    source: DataFrame,
    keys: Sequence[str],
    hash_col: str = "row_hash",
    preserve_cols: Sequence[str] = (),
    null_safe_keys: bool = True,
) -> DataFrame:
    """Pure-DataFrame MERGE (no I/O): returns the post-merge relation.

    Used by the oracle-checked queries and anywhere the caller manages
    persistence itself. Same semantics as :func:`merge_upsert`.

    ``null_safe_keys=False`` joins on plain equality instead of ``<=>``:
    required to reuse a bucketed target's layout (null-safe equality blocks
    bucket-scan reuse and forces a full re-shuffle of the target); only
    correct when key columns are non-null by construction, which a
    natural-key table guarantees.
    """
    keys = list(keys)
    reserved = {"__t_present", "__s_present"}
    clash = reserved & (set(target.columns) | set(source.columns))
    if clash:
        raise ValueError(f"column names reserved by merge_as_dataframe: {sorted(clash)}")
    # explicit presence markers: with eqNullSafe keys a NULL key can match,
    # so key-null tests would misclassify a matched null-keyed target row
    t = target.withColumn("__t_present", F.lit(True)).alias("t")
    s = source.withColumn("__s_present", F.lit(True)).alias("s")
    if null_safe_keys:
        cond = [F.col(f"t.{k}").eqNullSafe(F.col(f"s.{k}")) for k in keys]
    else:
        cond = [F.col(f"t.{k}") == F.col(f"s.{k}") for k in keys]
    joined = t.join(s, cond, "full_outer")
    t_present = F.col("t.__t_present").isNotNull()
    s_present = F.col("s.__s_present").isNotNull()
    changed = _null_safe_ne(F.col(f"t.{hash_col}"), F.col(f"s.{hash_col}"))
    preserve = set(preserve_cols)
    cols = []
    for c in target.columns:
        s_c = F.col(f"s.{c}") if c in source.columns else F.lit(None)
        t_c = F.col(f"t.{c}")
        if c in keys:
            expr = F.coalesce(t_c, s_c)
        elif c in preserve:
            expr = F.when(t_present, t_c).otherwise(s_c)
        else:
            expr = (
                F.when(~t_present, s_c).when(~s_present, t_c).when(changed, s_c).otherwise(t_c)
            )
        cols.append(expr.alias(c))
    return joined.select(*cols)


def apply_changes(
    spark: SparkSession,
    target_path: str,
    changes: DataFrame,
    keys: Sequence[str],
    hash_col: str = "row_hash",
    layout: str = "rename",
    partition_col: str | None = None,
    history: int | None = None,
) -> None:
    """Apply a change feed (the :func:`table_changes` / :func:`diff_frames`
    shape: rows + ``_change_type``) to a replica table — the CDC consumer
    side. Deletes are removed by keyed anti-join, inserts/updates are
    upserted through the hash-guarded merge, so applying
    ``table_changes(v1, v2)`` to a replica at v1 state yields exactly the
    v2 state (``test_apply_changes_syncs_replica``). Idempotent: re-applying
    the same feed is a no-op (deletes find nothing, upserts hash-match).

    Feed recompute contract (ADVICE r12): the feed is persisted and eagerly
    materialized before the first target rewrite, but persisted blocks are
    NOT replicated — an executor lost mid-apply recomputes them from the
    feed's lineage. A ``table_changes()`` feed recomputes identically (it
    reads immutable snapshots); a feed hand-built by scanning THIS
    rename/hive-layout target in place does not (its files are replaced
    mid-apply) and would produce silently wrong upserts on recompute —
    such a caller must break the lineage first (``localCheckpoint()`` or a
    staging write).

    One pass each way: the delete is an anti-join rewrite, the upsert one
    keyed merge — at scale, both shuffle on the key once. Feeds spanning
    several versions must be applied in order (or pre-collapsed to
    latest-per-key with ``dedupe_order``).

    The write follows the replica's on-disk layout: pass ``partition_col``
    for a hive-partitioned replica (both the delete and the upsert then
    touch only the victim/batch partitions); manifest replicas are
    auto-detected. A mismatched shape (e.g. no ``partition_col`` against a
    hive replica) is refused by the layout guard rather than corrupting
    the table.

    Commit granularity: an existing MANIFEST replica gets the deletes and
    upserts folded into ONE snapshot commit — a concurrent reader (or time
    travel/CDC) never observes an intermediate delete-only state, and the
    replica gains exactly one version per feed applied. Rename/hive
    replicas publish the delete and the upsert as two separate swaps; a
    reader between them sees the delete-only state, and a crash between
    them leaves it until the feed is re-applied (idempotent).
    """
    from .maintenance import delete_keys

    keys = list(keys)
    # pin the feed ONCE: the change feed is typically table_changes(...) —
    # a full keyed diff of two snapshots — and without the pin the three
    # isEmpty() probes plus the delete and upsert consumers would each
    # re-run that diff join, ~5 evaluations of the dominant shuffle per
    # feed applied (review r11). persist(), not localCheckpoint(): there is
    # no iteration here needing lineage truncation, and checkpoint blocks
    # are non-replicated — one lost executor would kill the whole apply,
    # while persisted blocks recompute from the feed (ADVICE r11; the same
    # rationale applied in scrub_boilerplate_segments). Cache size is the
    # feed, not a table. Recompute safety: a table_changes() feed reads
    # immutable manifest snapshots, so an evicted block recomputes
    # identically even while this apply rewrites the target; a caller who
    # hand-builds a feed by scanning a rename/hive-layout target IN PLACE
    # must materialize it first (those files are replaced mid-apply).
    changes = changes.persist()
    try:
        # Eager materialization (ADVICE r12): populate the whole cache
        # BEFORE the first target rewrite. Without it, a block evicted (or
        # an executor lost) after delete_keys has replaced target files
        # would recompute a hand-built in-place feed from the REWRITTEN
        # table — silently wrong upserts. The count doubles as the no-op
        # probe. Executor loss after this point can still force a
        # recompute (persisted blocks are not replicated), which is why
        # the docstring contract below additionally requires hand-built
        # in-place feeds to be checkpointed by the caller.
        if changes.count() == 0:
            return  # no-op feed: burn no snapshot version, touch nothing
        if detect_layout(target_path) == "manifest":
            layout = "manifest"  # replica is a manifest table: follow its layout
        deletes = changes.filter(F.col("_change_type") == "delete").select(*keys)
        upserts = changes.filter(F.col("_change_type") != "delete").drop("_change_type")
        if layout == "manifest" and detect_layout(target_path) == "manifest":
            # single-commit path: one read, one anti-join, one pure-DataFrame
            # merge, one snapshot publish — no intermediate delete-only version.
            # No broadcast hint on the delete set: a CDC feed can carry an
            # unbounded delete set (GDPR sweeps), so let AQE pick broadcast vs
            # shuffled anti-join from the observed size.
            path = Path(target_path)
            current = read_table(spark, target_path)
            survivors = current.join(deletes.dropDuplicates(keys), keys, "left_anti")
            batch = dedup_keyed(upserts, keys, _dedupe_order(upserts, keys, None), keep="last")
            merged = merge_as_dataframe(survivors, batch, keys, hash_col=hash_col)
            _manifest_write(merged, path, history=history)
            return
        # bootstrap replay: a feed applied to a not-yet-existing replica has
        # nothing to delete from — skip straight to the upserts instead of
        # crashing inside delete_keys' read of the missing path
        if not Path(target_path).exists():
            deletes = deletes.limit(0)
        if not deletes.isEmpty():
            delete_keys(
                spark, target_path, deletes, keys, partition_col=partition_col, history=history
            )
        if not upserts.isEmpty():
            merge_upsert(
                spark,
                target_path,
                upserts,
                keys,
                hash_col=hash_col,
                layout=layout,
                partition_col=partition_col,
                history=history,
            )
    finally:
        changes.unpersist()
