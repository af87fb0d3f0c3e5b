"""Versioned table layer: a minimal parquet transaction log giving
snapshot isolation and time travel on top of plain parquet.

The reference stores bronze/silver as Delta tables
(consumer_lake.py:48-54, process_silver.py:43-45) and relies on two
log-dependent behaviors the plain-parquet substitution cannot express:
read-your-snapshot (a reader never sees a half-written commit) and time
travel (`VERSION AS OF`).  `delta-spark` is not installable in this
sandbox (SCALE.md probe), so this module implements the minimal core of
the same idea -- an ordered manifest log over immutable data files:

* A table is a directory of immutable parquet files plus a ``_log/``
  directory of manifest files ``v{N}.json``, each listing exactly the
  data files that make up version N.
* **Commit** = write data files to unique paths, then write
  ``v{N}.json``.  The manifest write is the atomic commit point (single
  small file); a crash before it leaves only orphaned data files that no
  reader can ever see -- the same guarantee Delta's ``_delta_log`` gives.
* **Read** = pick the manifest (latest, or ``version=`` for time
  travel), then read exactly its file list.  A raw ``*.parquet`` glob
  over the directory bypasses the log and sees uncommitted/overwritten
  files -- reproducing the reference's documented raw-glob quirk
  (SURVEY §4) on purpose.

Scale: the log holds one small JSON per version (file lists, not data),
so log reads are O(versions) driver-side metadata -- the same shape as
Delta checkpointing before compaction.  Data files are immutable, so
concurrent readers never block writers; lost-update safety across
CONCURRENT writers needs a putIfAbsent on the manifest write (object
stores: conditional put), which a local filesystem approximates with
O_EXCL create -- used here.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession

LOG_DIR = "_log"

# An unreferenced data directory younger than this may belong to an
# in-flight commit whose manifest has not landed yet; vacuum leaves it
# alone.  Older than this it is a crashed attempt's orphan and is reaped.
ORPHAN_GRACE_S = 3600.0


def _log_path(table_dir: str) -> str:
    return os.path.join(table_dir, LOG_DIR)


def _manifest(table_dir: str, version: int) -> str:
    return os.path.join(_log_path(table_dir), f"v{version}.json")


def table_versions(table_dir: str) -> list[int]:
    log = _log_path(table_dir)
    if not os.path.isdir(log):
        return []
    out = []
    for name in os.listdir(log):
        if name.startswith("v") and name.endswith(".json"):
            try:
                out.append(int(name[1:-5]))
            except ValueError:
                continue
    return sorted(out)


def read_manifest(table_dir: str, version: int) -> dict:
    with open(_manifest(table_dir, version)) as f:
        return json.load(f)


def _write_data(df: DataFrame, table_dir: str, version: int) -> tuple[str, list[str]]:
    """Write ``df`` into a per-attempt unique data directory and return
    (directory, sorted parquet file list)."""
    data_dir = os.path.join(table_dir, f"data_v{version}_{uuid.uuid4().hex[:12]}")
    df.write.mode("overwrite").parquet(data_dir)
    files = sorted(
        os.path.join(data_dir, f)
        for f in os.listdir(data_dir)
        if f.endswith(".parquet")
    )
    return data_dir, files


def _commit_manifest(
    table_dir: str,
    version: int,
    files: list[str],
    txn: dict | None,
    own_data_dir: str | None,
) -> int:
    """Atomically publish ``files`` as version ``version``.  Exclusive
    create is the commit point; on a lost race the attempt's own private
    data directory (if any) is removed and the conflict surfaces."""
    manifest = {"version": version, "files": files, "n_files": len(files)}
    if txn:
        manifest["txn"] = txn
    try:
        fd = os.open(
            _manifest(table_dir, version), os.O_CREAT | os.O_EXCL | os.O_WRONLY
        )
    except FileExistsError:
        # lost the race: our data dir is private, remove it and surface
        # the conflict (caller retries against the new latest version)
        if own_data_dir:
            shutil.rmtree(own_data_dir, ignore_errors=True)
        raise
    with os.fdopen(fd, "w") as f:
        json.dump(manifest, f)
    return version


def commit_version(
    df: DataFrame, table_dir: str, txn: dict | None = None, mode: str = "overwrite"
) -> int:
    """Write ``df`` as the next version of the table.  Data files land
    under a per-ATTEMPT unique subdirectory (``data_v{N}_{uuid}``), so
    two committers racing for the same version number can never touch
    each other's files -- the same reason Delta writes globally-unique
    data file names.  The version becomes visible only when the manifest
    file is created (O_EXCL -- the concurrent loser gets
    FileExistsError, the local stand-in for an object store's
    conditional put) and the manifest records the attempt's own data
    paths, so a winning manifest can only ever reference files the
    winner wrote.  The loser's data directory is removed on the way out;
    a crash between data write and manifest create leaves an orphan
    directory that no reader sees and ``vacuum`` reaps after a grace
    period.

    ``mode="append"`` carries the previous version's file list forward
    and adds the new files -- Delta's append commit: old data files are
    never rewritten, the manifest simply references them again, so an
    append costs only the new data regardless of table size.  The new
    files may carry MORE columns than the old ones (schema evolution);
    read the union schema back with ``read_version(merge_schema=True)``.

    ``txn`` is recorded verbatim in the manifest -- a streaming writer
    stores its (app_id, batch_id) there and skips re-committing a batch
    it already owns (idempotent_commit), which is exactly Delta's
    transactional-writer (txnAppId/txnVersion) exactly-once recipe."""
    if mode not in ("overwrite", "append"):
        raise ValueError(f"mode must be overwrite|append, got {mode!r}")
    os.makedirs(_log_path(table_dir), exist_ok=True)
    prior = table_versions(table_dir)
    version = (prior or [-1])[-1] + 1
    carried: list[str] = []
    if mode == "append" and prior:
        carried = read_manifest(table_dir, prior[-1])["files"]
    data_dir, files = _write_data(df, table_dir, version)
    return _commit_manifest(table_dir, version, carried + files, txn, data_dir)


def idempotent_commit(
    df: DataFrame, table_dir: str, app_id: str, batch_id: int
) -> int | None:
    """Commit unless a version already carries this (app_id, batch_id) --
    the foreachBatch retry-safety contract: Structured Streaming may
    re-run a batch after a failure, and the second run must become a
    no-op instead of a duplicate version."""
    for v in table_versions(table_dir):
        txn = read_manifest(table_dir, v).get("txn") or {}
        if txn.get("app_id") == app_id and txn.get("batch_id") == batch_id:
            return None
    return commit_version(df, table_dir, txn={"app_id": app_id, "batch_id": batch_id})


def read_version(
    spark: SparkSession,
    table_dir: str,
    version: int | None = None,
    merge_schema: bool = False,
) -> DataFrame:
    """Snapshot read: latest committed version, or ``version=`` for time
    travel.  Reads exactly the manifest's file list -- files from newer,
    older, or in-flight versions are invisible.

    ``merge_schema=True`` unions the per-file schemas (Spark's
    ``mergeSchema``): files written before a column was added surface it
    as NULL -- Delta's add-column schema evolution, where old data files
    are never rewritten.  Off by default because schema merging footer-
    reads every file up front; a production log would cache the evolved
    schema in the manifest (as Delta's metadata action does)."""
    versions = table_versions(table_dir)
    if not versions:
        raise FileNotFoundError(f"no committed versions in {table_dir}")
    pick = versions[-1] if version is None else version
    if pick not in versions:
        raise FileNotFoundError(f"version {pick} not in {versions}")
    with open(_manifest(table_dir, pick)) as f:
        manifest = json.load(f)
    reader = spark.read
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    return reader.parquet(*manifest["files"])


def _file_column_range(path: str, col: str):
    """(min, max) of ``col`` across a parquet file's row groups, straight
    from the footer statistics -- a metadata read, no data scan.  Returns
    None when any row group lacks min/max stats (treat as
    may-contain-anything)."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    try:
        idx = md.schema.names.index(col)
    except ValueError:
        return None
    mins, maxs = [], []
    for rg in range(md.num_row_groups):
        st = md.row_group(rg).column(idx).statistics
        if st is None or not st.has_min_max:
            return None
        mins.append(st.min)
        maxs.append(st.max)
    if not mins:
        return None
    return min(mins), max(maxs)


def delete_where(
    spark: SparkSession,
    table_dir: str,
    predicate: str,
    prune: tuple[str, object, object] | None = None,
) -> int:
    """``DELETE FROM table WHERE predicate`` as a copy-on-write commit:
    rewrite only the data files that can contain matching rows, carry
    every other file into the new manifest untouched, and publish the
    result as the next version (old versions stay time-travel readable
    -- deletion is logical until ``vacuum``).

    ``prune=(col, lo, hi)`` declares that every matching row has
    ``lo <= col <= hi``; files whose parquet footer min/max range for
    ``col`` does not overlap ``[lo, hi]`` are carried forward without
    being read.  This is Delta's data-skipping delete: on a 100 TB table
    a predicate touching one day rewrites that day's files only -- the
    manifest diff records how many files were carried vs rewritten.
    Footer stats are metadata reads (O(files), driver-side, no Spark
    job); a file with missing stats is conservatively rewritten.
    Without ``prune`` every file is rewritten (correct, full COW).

    Rows where the predicate is NULL are KEPT -- SQL DELETE removes only
    rows where the predicate is TRUE."""
    from pyspark.sql import functions as F

    versions = table_versions(table_dir)
    if not versions:
        raise FileNotFoundError(f"no committed versions in {table_dir}")
    latest = versions[-1]
    files = read_manifest(table_dir, latest)["files"]
    touched, carried = [], []
    for f in files:
        if prune is not None:
            rng = _file_column_range(f, prune[0])
            if rng is not None and (rng[1] < prune[1] or rng[0] > prune[2]):
                carried.append(f)
                continue
        touched.append(f)
    version = latest + 1
    new_files = list(carried)
    data_dir: str | None = None
    if touched:
        kept = spark.read.parquet(*touched).filter(
            ~F.coalesce(F.expr(predicate), F.lit(False))
        )
        data_dir, written = _write_data(kept, table_dir, version)
        new_files += written
    txn = {
        "op": "delete",
        "predicate": predicate,
        "files_rewritten": len(touched),
        "files_carried": len(carried),
    }
    return _commit_manifest(table_dir, version, sorted(new_files), txn, data_dir)


def compact(spark: SparkSession, table_dir: str, target_files: int = 1) -> int:
    """OPTIMIZE: rewrite the latest snapshot's data into ``target_files``
    files and commit the result as a NEW version with identical content.
    Readers never block (old versions stay readable; time travel still
    resolves every prior manifest); the log records the compaction like
    any other commit.

    Scale: small-file proliferation is the tax of frequent streaming
    commits -- a micro-batch cadence of seconds produces thousands of
    KB-sized files per hour, and scan cost becomes file-open dominated.
    Periodic compaction amortizes that: one coalesce/repartition job per
    maintenance window.  ``coalesce`` (not ``repartition``) so the
    rewrite avoids a shuffle when only merging files."""
    latest = read_version(spark, table_dir)
    return commit_version(
        latest.coalesce(target_files), table_dir, txn={"op": "compact"}
    )


def vacuum(
    table_dir: str, keep_last: int = 1, orphan_grace_s: float = ORPHAN_GRACE_S
) -> list[str]:
    """VACUUM: drop the data directories that the EXPLICITLY vacuumed
    versions reference (and nothing referenced by any kept manifest),
    plus orphaned data directories no manifest at all references --
    crashed commit attempts -- but only once they are older than
    ``orphan_grace_s`` seconds, because a young unreferenced directory
    may be an in-flight commit whose manifest is about to land (the
    same reason Delta's VACUUM has a retention-hours floor).  Manifests
    of vacuumed versions are removed too, so a time-travel read of a
    vacuumed version fails loudly instead of returning partial data.
    Returns removed paths.

    Scale: retention is a policy knob -- time travel works only within
    the vacuum horizon, exactly as in Delta.  The deletion list is built
    from the log (metadata-only); actual file removal is embarrassingly
    parallel on an object store."""
    versions = table_versions(table_dir)
    keep = set(versions[-keep_last:]) if keep_last > 0 else set()

    def _dirs_of(v: int) -> set[str]:
        return {os.path.dirname(f) for f in read_manifest(table_dir, v)["files"]}

    kept_dirs: set[str] = set()
    for v in keep:
        kept_dirs |= _dirs_of(v)
    doomed_dirs: set[str] = set()
    removed: list[str] = []
    for v in versions:
        if v in keep:
            continue
        doomed_dirs |= _dirs_of(v)
        os.remove(_manifest(table_dir, v))
        removed.append(_manifest(table_dir, v))
    all_referenced = kept_dirs | doomed_dirs
    now = time.time()
    for name in sorted(os.listdir(table_dir)):
        path = os.path.join(table_dir, name)
        if name == LOG_DIR or not os.path.isdir(path):
            continue
        if path in kept_dirs:
            continue
        if path in doomed_dirs:
            shutil.rmtree(path)
            removed.append(path)
        elif path not in all_referenced and now - os.path.getmtime(path) > orphan_grace_s:
            # unreferenced orphan past the grace window: crashed attempt
            shutil.rmtree(path)
            removed.append(path)
    return removed


def table_changes(
    spark: SparkSession,
    table_dir: str,
    from_version: int,
    to_version: int,
    key_cols: list[str],
) -> DataFrame:
    """Change-data-feed between two committed versions: full-outer join
    the two snapshots on ``key_cols`` and classify every row as insert
    (key only in ``to``), delete (key only in ``from``), or update (key
    in both with any non-key column changed).  Unchanged rows are
    dropped.  This is the read-side CDF Delta derives from its log;
    computing it as a snapshot diff works on any manifest-logged table
    without writers recording row-level change files.

    Scale: one co-partitioned full-outer join on the key -- at billions
    of keys both sides shuffle once on ``key_cols``; if the table is
    bucketed/z-ordered by key the exchange disappears.  Emitted volume
    is proportional to the CHANGE set, not the table."""
    from pyspark.sql import functions as F

    old = read_version(spark, table_dir, from_version)
    new = read_version(spark, table_dir, to_version)
    val_cols = [c for c in new.columns if c not in key_cols]
    o = old.select(
        *[F.col(c).alias(f"o_{c}") for c in key_cols],
        F.struct(*[F.col(c) for c in val_cols]).alias("o_vals"),
    )
    n = new.select(
        *[F.col(c).alias(f"n_{c}") for c in key_cols],
        F.struct(*[F.col(c) for c in val_cols]).alias("n_vals"),
    )
    cond = [o[f"o_{c}"].eqNullSafe(n[f"n_{c}"]) for c in key_cols]
    joined = o.join(n, cond, "full_outer")
    change = (
        F.when(F.col(f"o_{key_cols[0]}").isNull(), F.lit("insert"))
        .when(F.col(f"n_{key_cols[0]}").isNull(), F.lit("delete"))
        .when(~F.col("o_vals").eqNullSafe(F.col("n_vals")), F.lit("update"))
        .otherwise(F.lit("unchanged"))
    )
    keys = [
        F.coalesce(F.col(f"n_{c}"), F.col(f"o_{c}")).alias(c) for c in key_cols
    ]
    vals = [
        F.coalesce(F.col("n_vals").getField(c), F.col("o_vals").getField(c)).alias(c)
        for c in val_cols
    ]
    return (
        joined.select(*keys, *vals, change.alias("change_type"))
        .filter(F.col("change_type") != "unchanged")
        .orderBy(*key_cols)
    )


def changes_stream(
    spark: SparkSession,
    table_dir: str,
    key_cols: list[str],
    out_dir: str,
    checkpoint_dir: str,
) -> None:
    """Stream the change feed: consume the manifest log itself as a
    Structured Streaming file source, so every committed version is
    processed EXACTLY ONCE across restarts -- the streaming face of
    ``table_changes`` (Delta's ``readChangeFeed`` with
    ``startingVersion=0``: version 0 arrives as its full snapshot
    tagged ``insert``, every later version as its diff from the
    predecessor, each row tagged with the ``version`` that produced it).

    Mechanics: ``readStream.json`` over ``_log/`` -- manifests are the
    only files there, commits make them appear atomically, and the file
    source records processed files in the checkpoint, which IS the
    exactly-once bookkeeping (a second ``availableNow`` pass picks up
    only manifests committed since the last).  ``foreachBatch`` resolves
    each new manifest to its change rows and overwrites a
    deterministic per-batch output directory -- a retried batch rewrites
    the same path instead of appending duplicates.

    Scale: the streamed frames are MANIFESTS (one small JSON per
    version) -- metadata, not data; the per-version ``collect`` is a
    handful of integers.  The data-sized work is the snapshot diff,
    which runs as a normal distributed join per version (one shuffle on
    the key, emitted volume proportional to the change set).  At high
    commit rates, raise the trigger interval so one batch folds many
    versions."""
    from pyspark.sql import functions as F

    def _process(batch_df, batch_id: int) -> None:
        versions = sorted(r["version"] for r in batch_df.select("version").collect())
        if not versions:
            return
        parts = []
        for v in versions:
            if v == 0:
                snap = read_version(spark, table_dir, 0).withColumn(
                    "change_type", F.lit("insert")
                )
            else:
                snap = table_changes(spark, table_dir, v - 1, v, key_cols)
            parts.append(snap.withColumn("version", F.lit(v).cast("long")))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        # deterministic per-batch path + overwrite = retry-idempotent
        out.write.mode("overwrite").parquet(os.path.join(out_dir, f"batch={batch_id}"))

    (
        spark.readStream.schema("version INT, n_files INT")
        .json(_log_path(table_dir))
        .writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def read_changes_feed(spark: SparkSession, out_dir: str) -> DataFrame:
    """Read everything ``changes_stream`` has emitted so far: ``out_dir``
    itself, whose ``batch=N`` directories partition discovery finds."""
    return spark.read.parquet(out_dir).drop("batch")


def restore_version(table_dir: str, to_version: int) -> int:
    """Delta RESTORE: make an OLD snapshot the new latest by committing a
    new manifest that re-references the old version's files -- history is
    preserved (the bad versions stay readable for forensics), nothing is
    rewritten, and the restore itself is one manifest write regardless of
    table size.  The txn records what was restored, so ``table_history``
    shows the rollback as an audited operation."""
    prior = table_versions(table_dir)
    if not prior:
        raise FileNotFoundError(f"no committed versions in {table_dir}")
    man = read_manifest(table_dir, to_version)
    version = prior[-1] + 1
    return _commit_manifest(
        table_dir,
        version,
        man["files"],
        {"op": "restore", "restored_from": to_version},
        None,
    )


def table_history(spark: SparkSession, table_dir: str) -> DataFrame:
    """DESCRIBE HISTORY: one row per committed version with the operation
    kind and file count, read from manifest metadata only (no data files
    touched -- at any table size this is a handful of JSON reads)."""
    rows = []
    for v in table_versions(table_dir):
        man = read_manifest(table_dir, v)
        txn = man.get("txn") or {}
        rows.append(
            (
                v,
                str(txn.get("op", "write")),
                int(man.get("n_files", len(man["files"]))),
                txn.get("restored_from"),
            )
        )
    return spark.createDataFrame(
        rows, "version int, op string, n_files int, restored_from int"
    ).orderBy("version")


def clone_table(
    src_dir: str, dst_dir: str, version: int | None = None
) -> int:
    """Zero-copy SHALLOW CLONE (Delta's ``CREATE TABLE ... SHALLOW
    CLONE``): the clone's v0 manifest references the SOURCE's data files
    verbatim -- no bytes move, the clone costs one JSON write regardless
    of table size.  Writes to either side stay isolated afterwards:
    commits land in each table's own private ``data_v*`` directories, an
    append to the clone merely re-references the shared files plus its
    new ones, and ``vacuum`` only reaps orphans under its OWN table_dir,
    so cloning never endangers source data.  Provenance (source path +
    version) is recorded in the manifest's ``txn`` field, the same slot
    the streaming writer uses.

    ``version`` pins the clone to a historical snapshot (time-travel
    clone); default is the source's latest."""
    versions = table_versions(src_dir)
    if not versions:
        raise FileNotFoundError(f"no committed versions in {src_dir}")
    pick = versions[-1] if version is None else version
    if pick not in versions:
        raise FileNotFoundError(f"version {pick} not in {versions}")
    manifest = read_manifest(src_dir, pick)
    if table_versions(dst_dir):
        raise FileExistsError(f"clone target {dst_dir} already has versions")
    os.makedirs(_log_path(dst_dir), exist_ok=True)
    return _commit_manifest(
        dst_dir,
        0,
        manifest["files"],
        txn={"clone_of": os.path.abspath(src_dir), "source_version": pick},
        own_data_dir=None,
    )
