"""The table-directory writer: one month-partitioned append for every
table of the four-table root, plus the flat->partitioned migration.

Every table of the contract is ``month=``-partitioned (the reference's
``PARTITION BY toYYYYMM(Date)`` DDL), and every writer — the batch
``pipeline.write_tables``, the bulk ``pipeline.ingest_and_store`` and
the streaming micro-batch — goes through :func:`append_table`, which
holds the only copy of the write rules (emptiness, layout guard,
sort order, memo).

A FLAT table directory comes only from an older build (before
index/tagged were partitioned) or from a hand-written dir. Spark's
parquet reader, pointed at a directory that mixes flat data files with
``month=`` partition directories, silently returns ONLY the
partitioned rows (partition discovery wins and the flat files are
never listed). An unguarded partitioned append onto such a table
therefore hides all of its history from every reader with no error.

The guard here is the missing probe: before a partitioned append,
:func:`prepare_partitioned_append` classifies the target's layout and

* ``missing`` / ``partitioned`` — append partitioned, nothing to do;
* ``flat`` — migrate ONCE (rewrite the flat rows into their
  ``month=`` partitions, then delete the flat files), after which the
  table is a normal partitioned table forever;
* ``mixed`` — the damage case (an unguarded append already happened,
  or a migration crashed mid-way): the still-hidden flat files are
  folded into partitions the same way, RECOVERING the hidden rows;
* flat with no ``date`` column — cannot be month-partitioned; the
  caller is told to write flat to match (legacy ``tree``-shaped
  tables, whose engine-derived frames are equally date-less, so the
  appended files share the stored schema — a date-CARRYING frame
  aimed at a date-less store is a schema mismatch no layout choice
  fixes, and behaves exactly as it did before partitioning existed).

Crash-safety: the migration appends the partitioned copies first and
deletes the flat originals second, so a crash in between leaves a
mixed directory whose PARTITIONED side already holds every row — no
read ever sees less than the full history. A re-run of the guard would
re-append the leftover flat files, duplicating series rows; that is
the ReplacingMergeTree-tolerated failure mode (duplicate inserts,
collapsed by ``replacing_latest`` / ``compact_replacing`` at read or
merge time — uploader retries in the reference duplicate rows the same
way, ``uploader/upload.go`` retry loop), strictly better than the
silent loss it replaces.

At 100 TB: the probe is one ``listStatus`` RPC per table per process
(memoized once the table is known partitioned with rows), and the
migration cost is one read+write of the legacy table — paid once at
upgrade, never per batch.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = [
    "append_table",
    "table_sort_cols",
    "table_layout",
    "prepare_partitioned_append",
    "migrate_flat_to_partitioned",
    "forget_layout",
]

# tables known month-partitioned WITH rows this process (a non-empty
# partitioned write landed, or the probe found month= dirs): their
# layout can only stay partitioned and an empty append to them writes
# no data files (the dynamic-partition writer creates files on first
# row), so append_table skips both the layout RPC and the head(1)
# emptiness probe. _KNOWN_FLAT memoizes the opposite verdict — a
# stored date-less flat table stays flat, and re-probing (plus
# re-pinning the batch frame) every micro-batch would tax the hot path
# for nothing
_KNOWN_PARTITIONED: set[str] = set()
_KNOWN_FLAT: set[str] = set()
_KNOWN_LOCK = threading.Lock()


def _memo_key(path: str) -> str:
    return os.path.abspath(path) if "://" not in path else path


def forget_layout(path: str) -> None:
    """Drop a table's memoized layout verdict. Called when a probe
    finds the directory MISSING (see :func:`table_layout`) or a
    partitioned append FAILS — either way the stored layout may no
    longer be what the memo remembers (an out-of-band
    delete-and-recreate is invisible to a process-lifetime memo), so
    the next append must re-probe instead of trusting it."""
    key = _memo_key(path)
    with _KNOWN_LOCK:
        _KNOWN_PARTITIONED.discard(key)
        _KNOWN_FLAT.discard(key)


def _fs_and_path(spark: SparkSession, path: str):
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def _is_data_file(name: str) -> bool:
    # skip commit markers / sidecars (_SUCCESS, _replaced_at,
    # _rolled_at, _refreshed_ver, _migrating...) and checksums
    return not name.startswith(("_", "."))


def table_layout(spark: SparkSession, path: str) -> str:
    """Classify a table directory: ``missing`` | ``flat`` |
    ``partitioned`` | ``mixed`` (flat data files AND ``month=`` dirs
    side by side — the layout Spark reads HALF of)."""
    fs, jpath = _fs_and_path(spark, path)
    if not fs.exists(jpath):
        # a memoized table observed MISSING was deleted out of band:
        # whatever recreates it may pick any layout, so the stale
        # memo must not short-circuit the next append's probe
        forget_layout(path)
        return "missing"
    has_flat = False
    has_part = False
    for st in fs.listStatus(jpath):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith("month="):
            has_part = True
        elif st.isFile() and _is_data_file(name):
            has_flat = True
    if has_flat and has_part:
        return "mixed"
    if has_part:
        return "partitioned"
    if has_flat:
        return "flat"
    # empty dir (e.g. only _SUCCESS): treat as missing — nothing to
    # lose (and equally memo-invalidating: the data was removed)
    forget_layout(path)
    return "missing"


def _flat_data_files(spark: SparkSession, path: str) -> list[str]:
    fs, jpath = _fs_and_path(spark, path)
    return [
        st.getPath().toString()
        for st in fs.listStatus(jpath)
        if st.isFile() and _is_data_file(st.getPath().getName())
    ]


def _write_partitioned(
    df: DataFrame, path: str, sort_cols, mode: str = "append"
) -> None:
    """The contract's physical layout: ``month`` = ``yyyyMM`` of
    ``date``, rows sorted ``(month, *sort_cols)`` within each task so
    parquet min/max stats skip along the primary key like the CH
    ORDER BY key."""
    cols = [c for c in sort_cols if c in df.columns]
    (
        df.withColumn("month", F.date_format("date", "yyyyMM"))
        .sortWithinPartitions("month", *cols)
        .write.mode(mode)
        .partitionBy("month")
        .parquet(path)
    )


def migrate_flat_to_partitioned(
    spark: SparkSession, path: str, sort_cols: tuple[str, ...] = ("path",)
) -> bool:
    """Fold a table's top-level flat parquet files into ``month=``
    partitions (month = ``yyyyMM`` of the ``date`` column, the same
    derivation every writer uses). Returns False — caller must write
    flat to match — when the flat rows have no ``date`` column.

    Reads the flat files BY EXPLICIT PATH (``spark.read.parquet(path)``
    on a mixed dir would return only the partitioned rows — the very
    bug this migration exists to fix), appends their partitioned
    copies, then deletes the originals."""
    flat = _flat_data_files(spark, path)
    if not flat:
        return True
    df = spark.read.parquet(*flat)
    if "date" not in df.columns:
        return False
    _write_partitioned(df, path, sort_cols)
    fs, _ = _fs_and_path(spark, path)
    jvm = spark._jvm
    for f in flat:
        fs.delete(jvm.org.apache.hadoop.fs.Path(f), False)
    return True


def prepare_partitioned_append(
    spark: SparkSession,
    path: str,
    sort_cols: tuple[str, ...] = ("path",),
    pin: DataFrame | None = None,
) -> tuple[bool, DataFrame | None]:
    """Make ``path`` safe for a ``month=``-partitioned append.

    Returns ``(ok, pinned)``: ``ok`` is True when the partitioned
    append may proceed (table missing, already partitioned, or just
    migrated) and False when the existing table is flat WITHOUT a
    ``date`` column — the caller must then append flat to match the
    stored layout.

    ``pin`` is the frame the caller is about to write. When a
    migration is actually needed, the frame's lazy plan may itself
    read the table being migrated (the A2 anti-join references the
    stored index/tagged files), and the migration DELETES the flat
    files those plans point at — so the frame is materialized and its
    lineage cut via ``localCheckpoint(eager=True)`` BEFORE the
    migration touches anything, and the pinned replacement comes back
    as ``pinned`` (None when no migration ran: the common case costs
    nothing)."""
    key = _memo_key(path)
    with _KNOWN_LOCK:
        if key in _KNOWN_PARTITIONED:
            return True, None
        if key in _KNOWN_FLAT:
            return False, None
    layout = table_layout(spark, path)
    ok = True
    pinned = None
    if layout in ("flat", "mixed"):
        # schema probe BEFORE the (expensive) pin: a date-less legacy
        # table cannot be month-partitioned, so there is nothing to
        # migrate and no reason to materialize the batch frame
        flat = _flat_data_files(spark, path)
        if flat and "date" not in spark.read.parquet(*flat).columns:
            ok = False
        else:
            if pin is not None:
                pinned = pin.localCheckpoint(eager=True)
            ok = migrate_flat_to_partitioned(spark, path, sort_cols)
    # a missing or just-migrated table may hold no rows: only the
    # caller's non-empty partitioned write (append_table) marks it
    if layout == "partitioned" or not ok:
        with _KNOWN_LOCK:
            (_KNOWN_PARTITIONED if ok else _KNOWN_FLAT).add(key)
    return ok, pinned


def table_sort_cols(table: str) -> tuple[str, ...]:
    """A table's sort key within each ``month=`` partition — the CH
    ORDER BY key: ``(path, time)`` for the points tables, ``path``
    alone for the series tables (index, tagged, legacy tree/series)."""
    return ("path", "time") if table.startswith("points") else ("path",)


def append_table(
    df: DataFrame, path: str, sort_cols: tuple[str, ...], mode: str = "append"
) -> None:
    """Write ``df`` to the table at ``path`` in the contract layout —
    the one writer behind every table write of the batch, bulk and
    streaming paths (callers sharing a table across threads hold its
    lock around the call).

    * an empty frame writes nothing: a partitioned write of no rows
      leaves a directory holding only ``_SUCCESS``, which
      ``spark.read.parquet`` cannot infer a schema from (readers treat
      a missing table as empty). An append decides that with a
      ``head(1)`` probe, run only while the table is not known
      partitioned with rows — after that (the streaming steady state)
      an empty append simply writes no data files. While the probe
      runs, ``df`` is persisted for the call so the probe and the write
      share one evaluation (an A2 anti-join is a shuffle). An overwrite
      needs no probe: it truncates, and a ``_SUCCESS``-only result is
      then deleted (one listing, not a second evaluation of the frame).
    * before appending onto a flat dir (older build / hand-written),
      :func:`prepare_partitioned_append` migrates it, pinning ``df``
      first because its plan may read the files being migrated (the
      A2 anti-join); the pinned copy is written, then released. A
      caller that reads the rows again after the write (the ClickHouse
      mirror) persists ``df`` beforehand: the pin fills that cache, so
      ``df`` never re-reads the migrated files. A date-less frame, or
      a date-less flat dir, is written flat to match.
    * a failed write drops the memo (:func:`forget_layout`): the dir
      may be in any state, so the next append re-probes."""
    spark = df.sparkSession
    key = _memo_key(path)
    partitioned = "date" in df.columns
    owned = pinned = None
    try:
        if mode == "overwrite":
            forget_layout(path)  # the whole dir is replaced
        else:
            with _KNOWN_LOCK:
                known = partitioned and key in _KNOWN_PARTITIONED
            if not known:
                if not df.is_cached:
                    owned = df.persist()
                if not df.head(1):
                    return
            if partitioned:
                partitioned, pinned = prepare_partitioned_append(
                    spark, path, sort_cols, pin=df
                )
        out = df if pinned is None else pinned
        try:
            if partitioned:
                _write_partitioned(out, path, sort_cols, mode)
            else:
                out.sortWithinPartitions(*sort_cols).write.mode(mode).parquet(path)
        except Exception:
            forget_layout(path)
            raise
    finally:
        if owned is not None:
            owned.unpersist()
        if pinned is not None:
            # DataFrame.unpersist() does not reach a localCheckpoint:
            # its blocks belong to the RDD behind the LogicalRDD plan
            pinned._jdf.queryExecution().analyzed().rdd().unpersist(False)
    if partitioned:
        if mode == "overwrite" and table_layout(spark, path) == "missing":
            fs, jpath = _fs_and_path(spark, path)
            fs.delete(jpath, True)
        else:
            with _KNOWN_LOCK:
                _KNOWN_PARTITIONED.add(key)
