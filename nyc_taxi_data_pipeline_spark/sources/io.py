"""Sources and sinks (SURVEY.md §2.1, S1-S14).

All readers return lazy DataFrames; all writers take DataFrames — the engine
never round-trips through pandas the way the reference's cleaning stage does
(scripts/transform_data.py:159-170). Exotic backends (Delta, JDBC, Kafka) are
gated behind availability checks so the library imports cleanly in minimal
environments.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession


# --------------------------------------------------------------------------
# batch sources
# --------------------------------------------------------------------------

def read_parquet(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """S1/S2/S5: one scan over a file, directory, or glob."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(path)


def read_csv(spark: SparkSession, path: str, schema=None, header: bool = True) -> DataFrame:
    """S3: lookup-dimension CSV scan (reference: scripts/transform_data.py:43).

    Explicit schema preferred at scale — inference costs an extra pass.
    """
    reader = spark.read.option("header", str(header).lower())
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def read_json(spark: SparkSession, path: str, schema=None) -> DataFrame:
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    properties: dict[str, str] | None = None,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """JDBC source. Partitioned read options matter at scale — without
    partition_column the whole table funnels through one task."""
    reader = spark.read.format("jdbc").option("url", url).option("dbtable", table)
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    if partition_column is not None:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
            .option("numPartitions", str(num_partitions or 8))
        )
    return reader.load()


# --------------------------------------------------------------------------
# batch sinks
# --------------------------------------------------------------------------

def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: tuple[str, ...] | list[str] | None = None,
) -> None:
    """S8: zone-transition sink. `partition_by` produces the hive layout that
    downstream partition pruning reads (reference partitions the stream sink
    by date_partition, streaming_to_minio_fixed.py:75)."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_parquet_idempotent(
    df: DataFrame,
    path: str,
    partition_by: tuple[str, ...] | list[str],
) -> None:
    """Idempotent partitioned write: dynamic partition overwrite replaces
    ONLY the partitions present in `df`, leaving the rest of the zone
    untouched. This is the engine's substitute for the reference's
    object-exists-skip + retry loop (scripts/extract_load.py:49-76) — rerun
    a failed batch and it converges instead of duplicating.

    The mode is a per-write option, so the session conf is never touched
    and concurrent writers in one session cannot race on it."""
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_by)
        .parquet(path)
    )


def write_zorder_zone(
    df: DataFrame,
    path: str,
    x_col: str,
    y_col: str,
    bits: int = 8,
    n_files: int = 8,
    mode: str = "overwrite",
) -> None:
    """Z-ORDERED zone write (the Delta/Iceberg OPTIMIZE ZORDER layout,
    done with stock Spark): interleave the low `bits` of two integer
    columns into a Morton key, range-partition the frame into `n_files`
    key ranges, sort within each partition by the key, and write one
    parquet file per partition. Result: every file's parquet footer
    carries TIGHT min-max statistics on BOTH columns (bounding boxes are
    Morton tiles, not full-width stripes), so row-group/file skipping
    prunes band predicates on either dimension — the property the
    `zorder_layout_audit` catalog entry measures and
    `test_zorder_zone_footer_stats` proves from the written footers.
    The z key is dropped before writing; it exists only to place rows.
    At 100 TB this is an ingest-time layout decision: one range
    shuffle, no extra passes."""
    from pyspark.sql import functions as F

    from nyc_taxi_data_pipeline_spark.functions.scalar import z_interleave_sql

    zed = df.withColumn(
        "__z", F.expr(z_interleave_sql(x_col, y_col, bits, cast_bigint=True))
    )
    (
        zed.repartitionByRange(n_files, F.col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode(mode)
        .parquet(path)
    )


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "append",
    properties: dict[str, str] | None = None,
    batchsize: int = 10_000,
    num_partitions: int = 4,
) -> None:
    """S7: staging-warehouse sink (reference: batch_processing_optimized.py:186-197
    — coalesce(4) + batchsize 10000). numPartitions bounds concurrent
    connections; on a big cluster raise it with the DB's write capacity.

    Round-trip proven against embedded Derby (tests/test_operators.py);
    the reference's target is Postgres, which this environment cannot run
    (no network, no pg wheel), so the known Derby-vs-Postgres JDBC type
    deltas are documented here instead of asserted:
      * TimestampType → Derby TIMESTAMP has NANOsecond precision, Postgres
        `timestamp` is MICROsecond — equal for this engine (Spark
        timestamps are micros end-to-end), but sub-micro values a future
        source introduces would truncate on pg only;
      * DoubleType → Derby DOUBLE and pg `double precision` are both
        IEEE754-binary64 (no delta); mapping to pg `numeric` instead goes
        through the dialect only if the caller creates the table first —
        let Spark create the schema to avoid double↔numeric rounding;
      * StringType → Derby needs an explicit VARCHAR width via
        `createTableColumnTypes` (default LONG VARCHAR forbids indexes),
        pg `text` is unbounded — set createTableColumnTypes per-target;
      * BooleanType → pg `boolean` natively; Derby <10.7 lacked BOOLEAN
        (modern Derby fine);
      * ShortType/ByteType → both promote to SMALLINT on pg (JDBC dialect
        folds TINYINT), Derby keeps SMALLINT — readback widens to short.
    The writer itself is dialect-agnostic: Spark's JdbcDialects supplies
    the DDL type map per-URL, so no code branch is needed — only the
    width/precision caveats above."""
    (
        df.coalesce(num_partitions)
        .write.mode(mode)
        .format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("batchsize", str(batchsize))
        .options(**(properties or {}))
        .save()
    )


def compact_parquet_zone(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    sort_within_by: list[str] | None = None,
) -> int:
    """Small-file compaction: rewrite a parquet zone into ~target-size files
    (streaming sinks and incremental batches accumulate small files; at
    scale that degrades scan planning and S3 listing). Returns the new file
    count. `sort_within_by` clusters rows inside each file so parquet
    row-group min/max statistics enable data skipping on those columns.

    Plain parquet has no transaction, so the rewrite staging-swaps through
    a sibling directory rather than reading and overwriting in place."""
    import math
    from pathlib import Path

    df = spark.read.parquet(path)
    total_bytes = sum(f.stat().st_size for f in Path(path).rglob("*.parquet"))
    n_files = max(1, math.ceil(total_bytes / target_file_bytes))
    out = df.repartition(n_files)
    if sort_within_by:
        out = out.sortWithinPartitions(*sort_within_by)
    staging = f"{path}__compacting"
    out.write.mode("overwrite").parquet(staging)
    shutil.rmtree(path)
    shutil.move(staging, path)
    return n_files


def delta_available(spark: SparkSession) -> bool:
    """S9 gate: Delta needs its jars on the classpath (not in this image)."""
    try:
        spark._jvm.io.delta.tables.DeltaTable  # noqa: SLF001
        return True
    except Exception:
        return False


def write_delta(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """S9: Delta sink (reference: scripts/convert_to_delta.py:85-88).
    Raises a clear error when delta-spark jars are absent."""
    if not delta_available(df.sparkSession):
        raise NotImplementedError(
            "delta-spark jars not on the classpath; install delta-spark and "
            "configure spark.sql.extensions=io.delta.sql.DeltaSparkSessionExtension"
        )
    df.write.format("delta").mode(mode).save(path)


def create_external_table(spark: SparkSession, name: str, path: str, fmt: str = "parquet") -> None:
    """S13/S14: catalog DDL over an existing lake location — replaces both the
    psycopg2 DDL executor (utils/create_table.py) and the Trino external-table
    generator (utils/trinp_db.py:8-27) with the session catalog."""
    spark.sql(f"CREATE TABLE IF NOT EXISTS {name} USING {fmt} LOCATION '{path}'")


def write_bucketed_table(
    df: DataFrame, name: str, key: str, buckets: int = 32, sorted_by_key: bool = True
) -> None:
    """Bucketed (and bucket-sorted) managed table: pays the shuffle ONCE at
    write time so every later equi-join / aggregation on `key` between
    tables bucketed the same way runs shuffle-free — the 100 TB answer to
    a fact table that is joined on the same key by many downstream jobs
    (SURVEY §2.3 J2: fact×dim repeats every run). With `sorted_by_key`,
    SortMergeJoin also skips its per-task sort. Bucket count is a
    write-time contract: both sides must match for the exchange to be
    elided, so standardize on one count per key domain."""
    writer = df.write.mode("overwrite").format("parquet").bucketBy(buckets, key)
    if sorted_by_key:
        writer = writer.sortBy(key)
    writer.saveAsTable(name)



# --------------------------------------------------------------------------
# Delta Lake READ path without connector jars (public protocol)
# --------------------------------------------------------------------------
#
# write_delta stays jar-gated (the transactional writer genuinely needs
# io.delta), but READING an existing Delta table requires only the
# published Delta transaction-log protocol
# (https://github.com/delta-io/delta/blob/master/PROTOCOL.md): the table
# state at version V is the replay of _delta_log/<20-digit>.json commits
# (line-delimited JSON actions) on top of the newest
# <v>.checkpoint.parquet at or below V; the active file set is the adds
# minus removes, last action per path winning. The resolver below walks
# that log driver-side (it is metadata: thousands of small actions, not
# data) and hands Spark a plain parquet scan of the active files — so a
# user of the reference's convert_to_delta.py output
# (scripts/convert_to_delta.py:85-88) can read every snapshot, including
# time travel, with zero extra jars.


def delta_table_versions(path: str) -> list[int]:
    """Commit versions present in the table's _delta_log, ascending."""
    import re

    log_dir = os.path.join(path, "_delta_log")
    if not os.path.isdir(log_dir):
        return []
    return sorted(
        int(m.group(1))
        for f in os.listdir(log_dir)
        if (m := re.fullmatch(r"(\d{20})\.json", f))
    )


def _delta_active_files(path: str, version: int) -> tuple[list[str], dict]:
    """Replay the Delta log up to `version` (inclusive): newest checkpoint
    at or below it, then the JSON commits after it. Returns (active
    relative file paths, last metaData action seen)."""
    import re
    import urllib.parse

    log_dir = os.path.join(path, "_delta_log")
    ckpts = sorted(
        int(m.group(1))
        for f in os.listdir(log_dir)
        if (m := re.fullmatch(r"(\d{20})\.checkpoint\.parquet", f))
    )
    start = 0
    active: dict[str, bool] = {}
    meta: dict = {}
    base = [c for c in ckpts if c <= version]
    if base:
        import pyarrow.parquet as pq

        ck = pq.read_table(
            os.path.join(log_dir, f"{base[-1]:020d}.checkpoint.parquet")
        )
        cols = set(ck.column_names)
        rows = ck.to_pylist()
        for r in rows:
            add = r.get("add") if "add" in cols else None
            rem = r.get("remove") if "remove" in cols else None
            md = r.get("metaData") if "metaData" in cols else None
            if add and add.get("path"):
                active[add["path"]] = True
            if rem and rem.get("path"):
                active.pop(rem["path"], None)
            if md and (md.get("id") or md.get("partitionColumns") is not None):
                meta = md
        start = base[-1] + 1
    for v in range(start, version + 1):
        commit = os.path.join(log_dir, f"{v:020d}.json")
        if not os.path.isfile(commit):
            # commits below a checkpoint never enter this loop (start is
            # checkpoint+1), so a gap here is a genuinely broken log
            raise ValueError(f"delta log is missing commit {v} at {path}")
        with open(commit) as f:
            for line in f:
                line = line.strip()
                if not line:
                    continue
                action = json.loads(line)
                if "add" in action:
                    active[action["add"]["path"]] = True
                elif "remove" in action:
                    active.pop(action["remove"]["path"], None)
                elif "metaData" in action:
                    meta = action["metaData"]
    # paths are URL-encoded relative paths per the protocol
    return [urllib.parse.unquote(p) for p in active], meta


def read_delta_snapshot(
    spark: SparkSession, path: str, version: int | None = None
) -> DataFrame:
    """Read a Delta table snapshot (default: latest; pass `version` for
    time travel) WITHOUT delta jars, by resolving the transaction log
    driver-side and planning one parquet scan over the active files.
    Partitioned tables work because Delta lays files out under
    hive-style partition dirs: basePath recovers the partition columns.
    Column-mapping / deletion-vector tables (reader protocol v2
    features) are rejected rather than misread."""

    versions = delta_table_versions(path)
    if not versions and version is None:
        raise ValueError(f"{path} has no _delta_log — not a Delta table")
    v = max(versions) if version is None else version
    files, meta = _delta_active_files(path, v)
    if meta:
        fmt = meta.get("format", {})
        if fmt and fmt.get("provider", "parquet") != "parquet":
            raise NotImplementedError(
                f"delta format provider {fmt.get('provider')} unsupported"
            )
        cfg = meta.get("configuration", {}) or {}
        if cfg.get("delta.columnMapping.mode", "none") not in ("", "none"):
            raise NotImplementedError(
                "column-mapping Delta tables need the real reader"
            )
        if cfg.get("delta.enableDeletionVectors", "false") == "true":
            raise NotImplementedError(
                "deletion-vector Delta tables need the real reader"
            )
    if not files:
        raise ValueError(f"delta snapshot v{v} of {path} has no data files")
    return spark.read.option("basePath", path).parquet(
        *[os.path.join(path, f) for f in files]
    )



# --------------------------------------------------------------------------
# versioned zones: one commit protocol
# --------------------------------------------------------------------------
#
# A zone is a set of immutable snapshots named by a commit log — the
# protocol Delta Lake gets from its _delta_log (the reference converts its
# processed zone with scripts/convert_to_delta.py:85-88). A writer first
# stages its whole snapshot into a fresh `_staged/tx-<uuid>` dir, with no
# lock held during the (arbitrarily long) data write, then commits it by
# exclusively creating the next NUMBERED log entry `_log/<n>.json` —
# O_CREAT|O_EXCL on a POSIX filesystem, conditional PUT (If-None-Match) on
# an object store — so exactly one writer ever owns a version number. The
# entry names the version's data dir; a staged dir no entry names (an
# in-flight, crashed, conflicted or audit-rejected writer) is invisible
# until vacuum_zone removes it. Every writer states the version its
# snapshot was derived from: any commit since then raises
# ZoneConflictError, except that partition-scoped writers rebase over
# interleaved commits on DISJOINT partitions and retry.


class ZoneConflictError(RuntimeError):
    """Another writer committed a conflicting version since this writer's
    snapshot was taken. Carries the base the writer expected and the
    version that blocked it."""

    def __init__(self, zone: str, expected: int, blocking: int, why: str):
        super().__init__(
            f"zone {zone}: expected to commit on top of v{expected} but "
            f"v{blocking} committed since ({why})"
        )
        self.expected = expected
        self.blocking = blocking


def _zone_log_dir(zone: str) -> str:
    return os.path.join(zone, "_log")


def read_zone_log(zone: str) -> dict[int, dict]:
    """Committed transactions, by version. A staged dir WITHOUT a log
    entry is an in-flight, crashed or rejected writer — never visible
    here."""
    log_dir = _zone_log_dir(zone)
    if not os.path.isdir(log_dir):
        return {}
    out: dict[int, dict] = {}
    for name in os.listdir(log_dir):
        if name.endswith(".json") and name[:-5].isdigit():
            with open(os.path.join(log_dir, name)) as f:
                out[int(name[:-5])] = json.load(f)
    return out


def current_zone_version(zone: str) -> int | None:
    """Latest committed version (None for a zone with no commits)."""
    return max(read_zone_log(zone), default=None)


def list_zone_versions(zone: str) -> list[int]:
    """Committed versions still in the log, ascending."""
    return sorted(read_zone_log(zone))


def zone_version_path(zone: str, version: int) -> str:
    """Data directory of a committed version, as its log entry records it.
    Data dirs are immutable — never renamed — so a path resolved once stays
    valid for the life of a lazy plan."""
    entry = read_zone_log(zone).get(version)
    if entry is not None:
        path = os.path.join(zone, entry["data_dir"])
        if os.path.isdir(path):
            return path
    raise ValueError(f"zone {zone} has no data for version {version}")


def read_zone_snapshot(
    spark: SparkSession, zone: str, version: int | None = None
) -> DataFrame:
    """Snapshot-isolated read at `version` (default: latest committed)."""
    v = current_zone_version(zone) if version is None else version
    if v is None:
        raise ValueError(f"zone {zone} has no committed version")
    return spark.read.parquet(zone_version_path(zone, v))


def _try_commit(
    zone: str,
    expected: int,
    data_dir: str,
    partitions: list | None,
    partition_col: str | None,
) -> int:
    """One CAS attempt: every version is a FULL snapshot baked from the
    writer's base, so ANY commit after `expected` makes the staged
    snapshot stale — this always raises ZoneConflictError on interleaving.
    The `why` distinguishes rebasable staleness (interleaved commits all
    touched disjoint partitions: the caller can rebuild its snapshot on
    the new base and retry) from true write-write conflicts (overlap /
    serializable writers: only re-deriving the update can help). Then
    exclusive-create the next numbered log entry and return its version."""
    log_dir = _zone_log_dir(zone)
    os.makedirs(log_dir, exist_ok=True)
    while True:
        log = read_zone_log(zone)
        latest = max(log, default=expected if expected >= 0 else -1)
        for v in sorted(log):
            if v <= expected:
                continue
            theirs = log[v].get("partitions")
            if partitions is None or theirs is None:
                raise ZoneConflictError(
                    zone, expected, v, "serializable writers cannot interleave"
                )
            if log[v].get("partition_col") != partition_col:
                raise ZoneConflictError(
                    zone, expected, v, "different partition columns"
                )
            overlap = set(map(str, partitions)) & set(map(str, theirs))
            if overlap:
                raise ZoneConflictError(
                    zone, expected, v, f"overlapping partitions {sorted(overlap)}"
                )
            raise ZoneConflictError(
                zone, expected, v,
                "disjoint interleaved commit: snapshot stale, rebase and retry",
            )
        n = latest + 1
        entry = {
            "version": n,
            "base": expected,
            "data_dir": data_dir,
            "partitions": None
            if partitions is None
            else sorted(map(str, partitions)),
            "partition_col": partition_col,
        }
        # unique per ATTEMPT, not per process: two threads in one PID can
        # race the same n, and a shared tmp path lets the winner's
        # post-link unlink() delete the loser's pending tmp (observed as
        # FileNotFoundError instead of the CAS conflict). uuid covers
        # threads, retries, and PID reuse alike.
        tmp = os.path.join(log_dir, f".{n}.json.{uuid.uuid4().hex}.tmp")
        with open(tmp, "w") as f:
            json.dump(entry, f)
        try:
            # exclusive hardlink-style publish: link() fails with EEXIST
            # atomically, and the tmp file is complete before linking, so
            # a reader can never observe a torn log entry
            os.link(tmp, os.path.join(log_dir, f"{n}.json"))
        except FileExistsError:
            os.unlink(tmp)
            continue  # lost the race for n — re-scan, conflict-check v=n too
        os.unlink(tmp)
        # NO post-commit rename of the data dir: a concurrent rebaser may
        # have already planned a (lazy) scan against the staged path it
        # resolved from the log, and moving the directory under a live
        # plan turns a benign rebase into a read failure. Data stays at
        # its immutable staged path; the log is the naming authority.
        return n


def _new_staged_dir() -> str:
    """Zone-relative path of a fresh, never-committed data dir."""
    return os.path.join("_staged", f"tx-{uuid.uuid4().hex}")


def _commit_staged(zone: str, staged: str, expected: int) -> int:
    """Commit a staged whole snapshot on top of `expected`; a conflicted
    writer removes its staged data before re-raising."""
    try:
        return _try_commit(zone, expected, staged, None, None)
    except ZoneConflictError:
        shutil.rmtree(os.path.join(zone, staged), ignore_errors=True)
        raise


def publish_zone_version(df: DataFrame, zone: str, expected_version: int) -> int:
    """Serializable whole-snapshot publish: commit `df` as the next version
    IF AND ONLY IF no other writer committed after `expected_version`
    (the version this writer's snapshot/derivation was based on; -1 for a
    brand-new zone). Any interleaved commit raises ZoneConflictError —
    whole-snapshot writers cannot rebase mechanically because their new
    snapshot bakes in the old state of every row. The expensive data write
    happens BEFORE the commit attempt, unserialized, into a staged dir.
    Readers holding an older version keep scanning its immutable data
    (snapshot isolation); a crashed writer leaves an orphaned staged dir
    but never a half-visible version. Returns the committed version."""
    staged = _new_staged_dir()
    df.write.mode("errorifexists").parquet(os.path.join(zone, staged))
    return _commit_staged(zone, staged, expected_version)


def publish_zone_partitions_cas(
    spark: SparkSession,
    zone: str,
    updates: DataFrame,
    partition_col: str,
    expected_version: int,
    max_rebase: int = 3,
) -> int:
    """Partition-scoped optimistic publish with retry-with-rebase: replace
    the partitions present in `updates` (distinct `partition_col` values),
    keep every other partition from the base snapshot. If another writer
    commits first on DISJOINT partitions, the snapshot is rebuilt on top
    of their commit and the commit retried (bounded by `max_rebase`);
    overlapping partitions raise ZoneConflictError — the caller must
    re-derive its update from the new state, which no engine can do
    mechanically.

    At 100 TB the rebase is metadata-shaped: the base snapshot's untouched
    partitions re-enter the new version by reference (partition dirs are
    immutable parquet), so only the updated partitions are rewritten —
    here the snapshot union rewrites them physically, which is the same
    plan with copies instead of symlinks."""
    from pyspark.sql import functions as F

    touched = [
        r[0] for r in updates.select(partition_col).distinct().collect()
    ]
    expected = expected_version
    for _ in range(max_rebase + 1):
        if expected >= 0:
            base = read_zone_snapshot(spark, zone, expected).filter(
                ~F.col(partition_col).isin(touched)
            )
            snapshot = base.unionByName(updates)
        else:
            snapshot = updates
        staged = _new_staged_dir()
        snapshot.repartition(partition_col).write.mode(
            "errorifexists"
        ).partitionBy(partition_col).parquet(os.path.join(zone, staged))
        try:
            return _try_commit(zone, expected, staged, touched, partition_col)
        except ZoneConflictError:
            shutil.rmtree(os.path.join(zone, staged), ignore_errors=True)
            # rebasable only if EVERY interleaved commit is a
            # partition-scoped write on our partition column whose
            # partitions are disjoint from ours
            log = read_zone_log(zone)
            mine = set(map(str, touched))
            for v in sorted(log):
                if v <= expected:
                    continue
                theirs = log[v].get("partitions")
                if (
                    theirs is None
                    or log[v].get("partition_col") != partition_col
                    or mine & set(theirs)
                ):
                    raise
            expected = max(log)  # all disjoint: rebase on top and retry
    raise ZoneConflictError(
        zone, expected, current_zone_version(zone) or -1,
        f"gave up after {max_rebase} rebases",
    )


def audited_publish_zone(df: DataFrame, zone: str, rules) -> tuple[int | None, dict]:
    """Write-Audit-Publish: stage the snapshot with quality metrics
    observed ON the write itself (one scan total) and commit it on top of
    the current version ONLY if no rule is violated. A rejected snapshot
    is never committed — readers keep the last good version, and the
    staged dir stays on disk for inspection until vacuum_zone removes it.
    Returns (committed version or None, metric dict); a writer that
    commits in between raises ZoneConflictError. This is the WAP protocol
    Iceberg/Delta users build with branches, done with the commit log."""
    from nyc_taxi_data_pipeline_spark.operators.quality import observe_quality

    base = current_zone_version(zone)
    observed, obs = observe_quality(df, rules)
    staged = _new_staged_dir()
    observed.write.mode("errorifexists").parquet(os.path.join(zone, staged))
    metrics = dict(obs.get)
    if any(v > 0 for k, v in metrics.items() if k != "observed_rows"):
        return None, metrics
    return _commit_staged(zone, staged, -1 if base is None else base), metrics


def rollback_zone(zone: str, version: int) -> int:
    """RESTORE (Delta semantics): commit a new version whose data is
    `version`'s immutable data dir — the recovery path when a published
    version turns out bad downstream. O(1): one log entry, no data
    movement, and the history keeps every version in between. Raises
    ValueError if the version has no data, ZoneConflictError if another
    writer commits first. Returns the new version."""
    zone_version_path(zone, version)  # raises for unknown/vacuumed versions
    log = read_zone_log(zone)
    return _try_commit(zone, max(log), log[version]["data_dir"], None, None)


def delete_rows_from_zone(
    spark: SparkSession, zone: str, predicate
) -> tuple[int, int]:
    """Targeted delete (GDPR right-to-be-forgotten shape): commit a NEW
    version of the zone without the rows matching `predicate` (a Column)
    on top of the current one. Old versions keep the data until
    vacuum_zone removes them — deletion-by-rewrite is the lakehouse
    contract (Delta/Iceberg DELETE does the same under a fancier log).
    Returns (new version, rows deleted); a writer that commits in between
    raises ZoneConflictError. O(zone) rewrite: at 100 TB partition the
    zone so the rewrite touches only partitions that can contain the
    targets (pair with partition-level checksums to find them)."""
    base = current_zone_version(zone)
    current = read_zone_snapshot(spark, zone, base)
    keep = current.filter(~predicate)
    deleted = current.count() - keep.count()
    return publish_zone_version(keep, zone, base), deleted


def upsert_rows_to_zone(
    spark: SparkSession, zone: str, updates: DataFrame, key: str
) -> tuple[int, int, int]:
    """MERGE-style batch upsert: commit a new version on top of the
    current one where rows matching `key` in `updates` replace the
    current rows and unmatched updates append — the update half of the
    maintenance pair with `delete_rows_from_zone` (Delta/Iceberg MERGE
    INTO). Returns (version, n_updated, n_inserted); a writer that commits
    in between raises ZoneConflictError. Column sets must match. The
    current snapshot is read once; updates win via left_anti + union
    (cheaper and easier to reason about than a full-outer coalesce when
    updates replace WHOLE rows). At 100 TB: partition the zone on a prefix
    of the key so the rewrite only touches affected partitions."""
    base = current_zone_version(zone)
    current = read_zone_snapshot(spark, zone, base).select(*updates.columns)
    matched = current.join(updates.select(key), key, "left_semi").count()
    survivors = current.join(updates.select(key), key, "left_anti")
    merged = survivors.unionByName(updates)
    version = publish_zone_version(merged, zone, base)
    return version, matched, updates.count() - matched


def zone_group_checksums(df: DataFrame, key: str, cols: list[str]) -> DataFrame:
    """Per-group order-independent checksum: md5 each row's canonical
    string, fold 60-bit prefixes with an addition per group key — the
    anti-entropy primitive for comparing two zone versions (or a replica)
    WITHOUT shipping rows: groups whose checksum differs are the only
    ones to re-sync. Same exactness recipe as table_checksum_orderfree."""
    from pyspark.sql import functions as F

    canonical = F.concat_ws("|", *[F.col(c).cast("string") for c in cols])
    row_val = F.conv(F.substring(F.md5(canonical), 1, 15), 16, 10).cast(
        "decimal(38,0)"
    )
    return df.groupBy(key).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(row_val).cast("string").alias("checksum"),
    )


def zone_diff_by_checksum(
    spark: SparkSession, zone: str, v_old: int, v_new: int, key: str, cols: list[str]
) -> DataFrame:
    """Which groups changed between two zone versions — computed from
    group checksums alone (full-outer join of two tiny checksum tables,
    never a row-level diff). Returns (key, change) with change in
    {'added','removed','modified'}; unchanged groups are absent. The
    row-level reconciliation (full_outer_reconciliation) then runs only
    on the flagged groups."""
    from pyspark.sql import functions as F

    old = zone_group_checksums(
        read_zone_snapshot(spark, zone, v_old), key, cols
    ).select(key, F.col("checksum").alias("__old"))
    new = zone_group_checksums(
        read_zone_snapshot(spark, zone, v_new), key, cols
    ).select(key, F.col("checksum").alias("__new"))
    return (
        old.join(new, key, "full_outer")
        .withColumn(
            "change",
            F.when(F.col("__old").isNull(), F.lit("added"))
            .when(F.col("__new").isNull(), F.lit("removed"))
            .when(F.col("__old") != F.col("__new"), F.lit("modified")),
        )
        .filter(F.col("change").isNotNull())
        .select(key, "change")
    )


def zone_history(zone: str) -> list[dict]:
    """DESCRIBE HISTORY for a zone: the log entry of every committed
    version (version, base, data_dir, partitions, partition_col),
    ascending. A rollback shows as a new version reusing an older
    version's data_dir."""
    log = read_zone_log(zone)
    return [log[v] for v in sorted(log)]


def vacuum_zone(zone: str, keep_last: int = 2) -> dict:
    """VACUUM: reclaim disk from (a) versions older than the newest
    `keep_last` committed ones — their log entries are removed, so time
    travel past the horizon fails loudly instead of resolving to missing
    data, and so are their data dirs unless a retained version (a
    rollback) still references them — and (b) ORPHANED staged dirs
    (crashed, conflicted or audit-rejected writers whose uuid dir no
    commit references). The current version is always retained. Returns
    {"removed_versions": [...], "removed_orphans": n}.

    Safety: readers of a retained version are unaffected (their dirs are
    immutable and untouched); readers holding a lazy plan against a
    vacuumed version fail on next action — the same contract as Delta's
    VACUUM versus long-running time-travel readers."""
    log = read_zone_log(zone)
    versions = sorted(log)
    retained = versions[-max(1, keep_last):]
    removed = [v for v in versions if v not in retained]
    for v in removed:
        try:
            os.unlink(os.path.join(_zone_log_dir(zone), f"{v}.json"))
        except FileNotFoundError:  # a concurrent vacuum removed it first
            pass
    committed = {os.path.basename(e["data_dir"]) for e in log.values()}
    live = {os.path.basename(log[v]["data_dir"]) for v in retained}
    staged_root = os.path.join(zone, "_staged")
    orphans = 0
    for d in os.listdir(staged_root) if os.path.isdir(staged_root) else []:
        if d not in live:
            shutil.rmtree(os.path.join(staged_root, d), ignore_errors=True)
            orphans += d not in committed
    return {"removed_versions": removed, "removed_orphans": orphans}
