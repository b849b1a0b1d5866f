"""Columnar IO with scale-oriented layout.

The reference stored everything as Cassandra wide rows — every analytical
read was a full-table scan through the connector, with no column pruning
beyond the CQL projection and no partition pruning at all (SURVEY.md §4).
Here the awards fact lands as Parquet partitioned by (year, month) of
start_date, so:

- time-bucketed queries (the monthly rollups, A3) prune at the directory
  level before any IO;
- Catalyst pushes predicates to row-group stats and prunes columns to the
  ReadSchema;
- files are sized by spark.sql.files.maxPartitionBytes for even task splits.

At 100 TB the same layout holds: ~240 month partitions x size-bounded files;
per-partition writes are idempotent overwrite (dynamic partition overwrite),
so re-ingesting a month replaces exactly that month.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
import uuid

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def local_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """Bounded local rows → DataFrame as ONE cheap partition.

    ``spark.createDataFrame(list, schema)`` parallelizes the pickled rows
    into ``defaultParallelism`` PYTHON slices: every downstream action then
    schedules that many Python-runner tasks (measured round 15 at local[32]:
    ~0.17 s of executor time per task for a 100-row frame — ~5.5 s of task
    time and ~0.5 s wall per action, repeated for every collect/join/write
    that touches the frame), and a write emits that many tiny files (the
    guide §6 small-file problem seeded at the source). Model-state frames
    (centroids, codebooks, probe cells, k-bounded audit outputs) are bounded
    by construction, so one slice is the right layout at EVERY scale: one
    task per action, one file per write. Values are bit-preserved — the rows
    are the same driver-side objects either way.

    The driver-side rows also ride along as ``_local_rows`` (as Row
    objects, for name access) so kernel builders that need the SAME model
    rows back (ivf_assign's centroid kernel, pq_encode's codebook tables)
    can skip the 1-task Python-runner collect job — round-16 guide §5:
    each such re-collect measured ~0.15-0.2 s of pure scheduling per
    lifecycle verb, several per audit."""
    rows = list(rows)
    out = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
    named = _as_named_rows(rows, out.schema.names)
    if named is not None:
        out._local_rows = named
    return out


def _as_named_rows(rows, names) -> "list | None":
    """Normalize driver-side tuples/Rows to name-addressable Rows (the
    shape ``DataFrame.collect`` returns), so consumers can use either
    positional or ``r["col"]`` access interchangeably. None for any other
    row shape (scalars under an atomic schema, dicts): the attribute is an
    optimization only, and consumers of such a frame collect it."""
    from pyspark.sql import Row

    if not all(isinstance(r, (tuple, list)) for r in rows):
        return None
    if rows and isinstance(rows[0], Row):
        return rows
    cls = Row(*names)
    return [cls(*r) for r in rows]


def local_rows_of(df: DataFrame) -> "list | None":
    """The driver-side rows a ``local_frame`` was built from (None when
    ``df`` is not such a frame, or was transformed since)."""
    return getattr(df, "_local_rows", None)


# --------------------------------------------------------------------------
# Driver-side parquet I/O for BOUNDED model state (round 16, guide §5)
# --------------------------------------------------------------------------
# Index model components (centroids, codebooks, rotations, iterable-sourced
# tombstones) are O(cells)/O(m*k) rows by construction, yet every lifecycle
# verb re-read them as a Spark collect job and re-wrote them as a Spark
# write job: ~50-200 ms of pure scheduling/commit-protocol latency per
# touch, dozens of touches per lifecycle audit (round-16 profiler:
# q_ann_index_compact = 75 jobs, ~7 s outside any job). On a local
# filesystem the same parquet bytes read/write driver-side in ~2-5 ms via
# pyarrow, with values identical (both engines decode the same pages to
# the same doubles/ints/lists). Non-local schemes (hdfs://, s3a://) keep
# the Spark path — the helpers fall back automatically, so the
# any-filesystem contract of the index layout is unchanged.


def _arrow_fallback_errors() -> tuple:
    """The failures a driver-side pyarrow fast path below falls back to
    Spark on: pyarrow missing, an unreadable/unwritable file, or a type
    or layout one side of the arrow <-> Spark conversion does not
    support. Anything else is a bug and propagates."""
    errors = (ImportError, OSError, TypeError, ValueError, NotImplementedError)
    try:
        import pyarrow as pa
    except ImportError:
        return errors
    return errors + (pa.ArrowException,)


def _driver_local_path(path: str) -> "str | None":
    """The driver-local filesystem path for ``path``, or None when the
    scheme is not the local filesystem (then callers use Spark I/O)."""
    scheme, sep, rest = path.partition("://")
    if not sep:
        return path
    if scheme.lower() == "file":
        return "/" + rest.split("/", 1)[1] if not rest.startswith("/") else rest
    return None


def _arrow_table_files(local: str) -> "list[str]":
    """Parquet data files under a component path (file or directory),
    sorted by name (Spark's part-numbering order); markers/hidden files
    skipped — the same set a Spark scan would read."""
    if os.path.isfile(local):
        return [local]
    out = []
    for root, dirs, files in os.walk(local):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for f in sorted(files):
            if not f.startswith(("_", ".")):
                out.append(os.path.join(root, f))
    return sorted(out)


def read_model_rows(spark: SparkSession, path: str, what: str, max_rows: int):
    """Cap-guarded ``(rows, spark_schema)`` of a bounded parquet model
    component. Local filesystems read DRIVER-SIDE via pyarrow — no Spark
    job; other schemes fall back to one spark.read…collect() job. Rows
    come back as name-addressable Row objects either way."""
    local = _driver_local_path(path)
    if local is not None and os.path.exists(local):
        parsed = None
        try:
            import pyarrow as pa
            import pyarrow.parquet as pq
            from pyspark.sql import Row
            from pyspark.sql.pandas.types import from_arrow_schema

            files = _arrow_table_files(local)
            table = pa.concat_tables([pq.read_table(f) for f in files])
            schema = from_arrow_schema(table.schema)
            cls = Row(*table.schema.names)
            cols = [table.column(i).to_pylist() for i in range(table.num_columns)]
            parsed = ([cls(*vals) for vals in zip(*cols)], schema)
        except _arrow_fallback_errors():
            parsed = None  # unsupported type/layout: use the Spark path
        if parsed is not None:
            rows, schema = parsed
            if len(rows) > max_rows:
                raise ValueError(
                    f"index has more than max_cells={max_rows} {what} "
                    "rows; a driver-side model load needs bounded state"
                )
            return rows, schema
    df = spark.read.parquet(path)
    rows = df.limit(max_rows + 1).collect()
    if len(rows) > max_rows:
        raise ValueError(
            f"index has more than max_cells={max_rows} {what} rows; "
            "a driver-side model load needs bounded state"
        )
    return rows, df.schema


def _footer_spark_schema(file: str):
    """The Spark schema one parquet file's footer describes, as Spark's
    own inference reads it: the schema Spark stored in the footer when
    Spark wrote the file, else the arrow schema of a pyarrow-written
    file when every field is a plain atomic type or an array of one.
    None for anything else (let Spark infer)."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema
    from pyspark.sql.types import (
        ArrayType, AtomicType, DateType, DecimalType, StructType,
        TimestampNTZType, TimestampType,
    )

    arrow = pq.read_schema(file)
    stored = (arrow.metadata or {}).get(b"org.apache.spark.sql.parquet.row.metadata")
    if stored is not None:
        return StructType.fromJson(json.loads(stored))
    schema = from_arrow_schema(arrow)

    def plain(dt) -> bool:
        if isinstance(dt, ArrayType):
            return plain(dt.elementType)
        return isinstance(dt, AtomicType) and not isinstance(
            dt, (DateType, DecimalType, TimestampType, TimestampNTZType)
        )

    return schema if all(plain(f.dataType) for f in schema.fields) else None


def _as_nullable(dt):
    """``dt`` with every field and element nullable — what Spark's file
    sources report for any schema they read."""
    from pyspark.sql.types import ArrayType, MapType, StructField, StructType

    if isinstance(dt, StructType):
        return StructType([
            StructField(f.name, _as_nullable(f.dataType), True, f.metadata)
            for f in dt.fields
        ])
    if isinstance(dt, ArrayType):
        return ArrayType(_as_nullable(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(
            _as_nullable(dt.keyType), _as_nullable(dt.valueType), True
        )
    return dt


def parquet_read_schema(spark: SparkSession, path: str):
    """The schema ``spark.read.parquet(path)`` would infer, taken
    driver-side from one file footer, or None to let Spark infer it.
    Spark's inference is a job of its own (~0.15-0.2 s per read of a
    small index component); ``spark.read.schema(s).parquet(path)`` with
    this schema runs none. Local filesystems only. A layout partitioned
    one level deep by integer values (the ANN ``cell=N`` directories)
    gets that column appended as ``int``, as Spark's partition type
    inference gives it; any other layout, an empty component or an
    unreadable footer returns None."""
    from pyspark.sql.types import IntegerType, StructField, StructType

    local = _driver_local_path(path)
    if local is None or not os.path.isdir(local):
        return None

    def visible(d):
        return [e for e in os.listdir(d) if not e.startswith(("_", "."))]

    entries = visible(local)
    part = None
    if any(os.path.isdir(os.path.join(local, e)) for e in entries):
        # one level of key=<int> directories holding files only; at most
        # 9 digits, so every value fits the int Spark infers
        keys = {e.partition("=")[0] for e in entries}
        if len(keys) != 1 or spark.conf.get(
            "spark.sql.sources.partitionColumnTypeInference.enabled", "true"
        ).lower() != "true" or not all(
            re.fullmatch(r"[^=]+=-?[0-9]{1,9}", e)
            and os.path.isdir(os.path.join(local, e))
            and not any(
                os.path.isdir(os.path.join(local, e, f))
                for f in visible(os.path.join(local, e))
            )
            for e in entries
        ):
            return None
        part = StructField(keys.pop(), IntegerType(), True)
    files = _arrow_table_files(local)
    if not files:
        return None
    try:
        schema = _footer_spark_schema(files[0])
    except _arrow_fallback_errors():
        return None
    if schema is None or (part is not None and part.name in schema.names):
        return None
    schema = _as_nullable(schema)
    return schema if part is None else StructType([*schema.fields, part])


def model_row_count(spark: SparkSession, path: str) -> int:
    """Exact row count of a parquet component from file FOOTER metadata,
    driver-side, on local filesystems — the same number a Spark
    ``count()`` job computes (parquet counts are rowgroup-stats only),
    without the job. Non-local schemes fall back to the count job."""
    local = _driver_local_path(path)
    if local is not None and os.path.exists(local):
        try:
            import pyarrow.parquet as pq

            return sum(
                pq.ParquetFile(f).metadata.num_rows
                for f in _arrow_table_files(local)
            )
        except _arrow_fallback_errors():
            pass
    return spark.read.parquet(path).count()


def model_distinct_count(spark: SparkSession, path: str) -> int:
    """Distinct-row count of a NARROW bounded component (tombstone id
    sets), driver-side on local filesystems; one Spark job elsewhere."""
    local = _driver_local_path(path)
    if local is not None and os.path.exists(local):
        try:
            import pyarrow.parquet as pq

            vals: set = set()
            for f in _arrow_table_files(local):
                t = pq.read_table(f)
                vals.update(zip(*(c.to_pylist() for c in t.columns)))
            return len(vals)
        except _arrow_fallback_errors():
            pass
    return spark.read.parquet(path).distinct().count()


def write_model_parquet(
    spark: SparkSession, rows, schema, path: str, mode: str = "overwrite"
) -> None:
    """Write bounded model rows as ONE parquet file. Local filesystems
    write DRIVER-SIDE via pyarrow (no Spark job, no commit protocol) into
    the same directory-shaped layout a 1-slice Spark write produces
    (part file + _SUCCESS marker), so every reader — Spark scans, the
    pyarrow fast path above, hadoop_data_file_stats — sees an identical
    component; other schemes fall back to a local_frame Spark write.
    ``mode="append"`` adds a uniquely-named file to the live directory
    (the tombstone-append shape)."""
    local = _driver_local_path(path)
    if local is not None:
        try:
            import pyarrow as pa
            import pyarrow.parquet as pq
            from pyspark.sql.types import StructType
            from pyspark.sql.pandas.types import to_arrow_schema

            if isinstance(schema, str):
                from pyspark.sql.types import _parse_datatype_string

                schema = _parse_datatype_string(schema)
            if not isinstance(schema, StructType):
                raise TypeError(f"need a StructType/DDL schema, got {schema!r}")
            arrow_schema = to_arrow_schema(schema)
            rows = list(rows)
            cols = list(zip(*rows)) if rows else [[] for _ in arrow_schema]
            table = pa.Table.from_arrays(
                [
                    pa.array(list(col), type=f.type)
                    for col, f in zip(cols, arrow_schema)
                ],
                schema=arrow_schema,
            )
            if mode == "overwrite" and os.path.exists(local):
                shutil.rmtree(local)
            os.makedirs(local, exist_ok=True)
            token = uuid.uuid4().hex[:12]
            tmp = os.path.join(local, f".part-{token}.snappy.parquet.tmp")
            pq.write_table(table, tmp, compression="snappy")
            os.replace(
                tmp, os.path.join(local, f"part-00000-{token}.snappy.parquet")
            )
            with open(os.path.join(local, "_SUCCESS"), "w"):
                pass
            return
        except _arrow_fallback_errors():
            # fall through to the Spark writer (unsupported arrow type,
            # permission error, …)
            pass
    local_frame(spark, rows, schema).write.mode(mode).parquet(path)


def write_awards_partitioned(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Write an awards-shaped DataFrame partitioned by (year, month). An
    overwrite replaces only the months present in ``df`` (dynamic
    partition overwrite, set on this write alone: as a session conf it
    would turn every later partitioned overwrite in the session, such as
    an index rebuild, into a partial one)."""
    out = df.withColumn("year", F.year("start_date").cast("int")).withColumn(
        "month", F.month("start_date").cast("int")
    )
    (
        out.write.mode(mode)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("year", "month")
        .parquet(path)
    )


def read_awards(spark: SparkSession, path: str) -> DataFrame:
    """Read the partitioned awards table; year/month partition columns are
    available for pruning (e.g. .filter('year = 2023') never touches other
    directories)."""
    return spark.read.parquet(path)


def compact(df: DataFrame, target_partitions: int) -> DataFrame:
    """Coalesce small files before a write (post-AQE output sizing)."""
    return df.coalesce(target_partitions)


# --------------------------------------------------------------------------
# PK upsert semantics (merge-on-read + compaction)
# --------------------------------------------------------------------------
# The reference's Cassandra INSERT was implicitly an upsert on award_id
# (last write wins). On immutable columnar storage the scalable equivalent
# is merge-on-read: appends carry a monotonically increasing version; readers
# keep the newest row per key; a periodic compaction rewrites the table to
# one row per key. No global key lookup on the write path — writes stay
# append-only and O(batch), exactly what a 100-TB ingest needs.

VERSION_COL = "_version"

# URI schemes treated as local-filesystem (atomic-rename capable)
_LOCAL_SCHEMES = ("file",)


def _require_rename_capable(path: str, op: str) -> None:
    """Refuse object-store paths for operations whose crash-safety depends
    on atomic rename (os.replace / shutil.move). s3://, s3a://, gs://,
    abfs:// etc. have no atomic rename — a crash mid-swap can lose the
    table. The public-knowledge answer there is a real table format with
    snapshot commits (Delta/Iceberg, not installable in this environment);
    failing fast beats silently unsafe semantics."""
    scheme, sep, _ = path.partition("://")
    if sep and scheme.lower() not in _LOCAL_SCHEMES:
        raise ValueError(
            f"{op} requires an atomic-rename filesystem; got scheme "
            f"'{scheme}://'. Use a table format with snapshot commits "
            "(Delta/Iceberg) for object-store state."
        )


def append_versions(df: DataFrame, path: str, version: int) -> None:
    """Append a batch stamped with its version (e.g. the ingest run's epoch
    millis — caller supplies it so replays are idempotent). Guarded to
    rename-capable filesystems: the append itself is object-store-safe, but
    the table's upsert contract includes compact_versions, which is not —
    better to refuse at first write than corrupt at first compaction."""
    _require_rename_capable(path, "append_versions")
    df.withColumn(VERSION_COL, F.lit(version).cast("long")).write.mode("append").parquet(path)


def upsert_versions(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    version: int,
    key: str,
    compact_every: "int | None" = None,
) -> None:
    """Append + cadence-scheduled compaction: the merge-on-read PK-upsert
    sink with its maintenance folded in (the ``compact_every`` contract
    the streaming index jobs use, applied here — round-13 closing the
    loop: compact_versions existed but nothing scheduled it). After the
    append, when the live table holds MORE than ``compact_every``
    distinct versions, it is rewritten to one (newest row per key) —
    bounding read_latest's merge-on-read window cost at a constant
    instead of letting it grow with ingest history."""
    append_versions(df, path, version)
    if compact_every:
        n = spark.read.parquet(path).select(VERSION_COL).distinct().count()
        if n > int(compact_every):
            compact_versions(spark, path, key)


def read_latest(spark: SparkSession, path: str, key: str) -> DataFrame:
    """Last-write-wins view: newest version per key (merge-on-read)."""
    from pyspark.sql import Window

    df = spark.read.parquet(path)
    w = Window.partitionBy(key).orderBy(F.desc(VERSION_COL))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", VERSION_COL)
    )


def compact_versions(spark: SparkSession, path: str, key: str) -> None:
    """Rewrite the table keeping only the newest row per key (the
    compaction that bounds merge-on-read cost).

    Swap order is crash-safe on a local filesystem: write the compacted copy
    aside, rename the live table aside, rename the compacted copy in, THEN
    delete the old copy — at no point is the data unrecoverable (a crash
    between the two renames leaves the full old table at ``path__old_*``).
    Object stores have no atomic rename; there the public-knowledge answer
    is a real table format (Delta/Iceberg snapshot commit) — enforced by
    _require_rename_capable, same as the versioned-state manifest below."""
    _require_rename_capable(path, "compact_versions")
    latest = read_latest(spark, path, key).withColumn(
        VERSION_COL, F.lit(0).cast("long")
    )
    token = uuid.uuid4().hex[:8]
    tmp = f"{path}__compact_{token}"
    old = f"{path}__old_{token}"
    latest.write.mode("overwrite").parquet(tmp)
    shutil.move(path, old)
    shutil.move(tmp, path)
    shutil.rmtree(old)


# --------------------------------------------------------------------------
# Versioned state table (manifest-pointer commits)
# --------------------------------------------------------------------------
# Small materialized-state tables (incremental rollup state, stream
# accumulators) need atomic replace + replay idempotency. Layout:
#
#   path/_MANIFEST.json   -> {"version": N, "batch_id": B}
#   path/v=N/...parquet   -> the committed state snapshot
#
# Readers load the version the manifest points at; writers stage a new
# v=N+1 directory and then atomically repoint the manifest (os.replace — a
# POSIX atomic rename). A crash mid-write leaves a dangling v=N+1 dir and an
# intact manifest: the previous state is still what readers see. batch_id in
# the manifest makes foreachBatch replays detectable (at-least-once ->
# effectively-once). Local-filesystem scope; on object stores use a table
# format with snapshot commits.

_MANIFEST = "_MANIFEST.json"

# hadoop_swap_rewrite only sweeps an orphaned __compact_* staging dir
# once this old — a fresh one may belong to a concurrent swap mid-write
_COMPACT_ORPHAN_AGE_MS = 15 * 60 * 1000

# filesystems whose rename is NOT atomic (object stores) — the swap
# below would have an unbounded corruption window there; a real table
# format (Delta/Iceberg snapshot commits) is the answer on those
_NO_ATOMIC_RENAME = (
    "s3", "s3a", "s3n", "gs", "abfs", "abfss", "wasb", "wasbs", "oss",
    "cos", "swift",
)


def require_atomic_rename(path: str, op: str) -> None:
    """Refuse object-store schemes for swap-based rewrites (no atomic
    rename — an interrupted swap there has an unbounded corruption
    window). Callers check this FIRST, before any FS round-trip."""
    scheme, sep, _ = path.partition("://")
    if sep and scheme.lower() in _NO_ATOMIC_RENAME:
        raise ValueError(
            f"{op} requires an atomic-rename filesystem; got scheme "
            f"'{scheme}://'. Use a table format with snapshot commits "
            "(Delta/Iceberg) for object-store indexes."
        )


def hadoop_fs(spark: SparkSession, path: str, *more: str) -> tuple:
    """``(fs, hpath, *more_hpaths)``: the Hadoop FileSystem that holds
    ``path``, resolved through the session's Hadoop configuration, then a
    Hadoop Path for ``path`` and for each of ``more`` (paths on the same
    filesystem). The one place the package reaches the JVM for a
    filesystem handle."""
    make = spark._jvm.org.apache.hadoop.fs.Path
    paths = [make(p) for p in (path, *more)]
    return (paths[0].getFileSystem(spark._jsc.hadoopConfiguration()), *paths)


def num_partitions(df: DataFrame) -> int:
    """Partition count of ``df``'s physical RDD, without a Spark job. The
    JVM RDD is probed directly: ``df.rdd`` wraps the same RDD in the
    Python serializer layer at ~100x the per-call cost (measured round
    15: ~80-260 ms vs ~1 ms). ``_jdf.queryExecution`` is a private seam,
    so the public ``df.rdd`` count is the fallback for the two ways it
    can be missing — no ``_jdf`` (AttributeError, e.g. a Spark Connect
    frame) or a JVM method gone in another Spark version (Py4JError).
    Anything else propagates."""
    try:
        return df._jdf.queryExecution().toRdd().getNumPartitions()
    except (AttributeError, Py4JError):
        return df.rdd.getNumPartitions()


def hadoop_child_names(spark: SparkSession, path: str) -> "list[str]":
    """Names of the entries directly under the directory ``path`` (empty
    when it does not exist) — one driver-side listing, no Spark job."""
    fs, hpath = hadoop_fs(spark, path)
    if not fs.exists(hpath):
        return []
    return [str(st.getPath().getName()) for st in fs.listStatus(hpath)]


def hadoop_data_file_stats(spark: SparkSession, path: str) -> "tuple[int, int]":
    """``(n_files, n_bytes)`` of the DATA files under a parquet directory
    (recursively, through the Hadoop FS API so it works on any
    filesystem), skipping markers (_SUCCESS) and hidden files — the
    fragmentation metric the index compactors report and size their
    rewrites from."""
    fs, hpath = hadoop_fs(spark, path)
    if not fs.exists(hpath):
        return 0, 0
    it = fs.listFiles(hpath, True)
    n = b = 0
    while it.hasNext():
        f = it.next()
        name = f.getPath().getName()
        if not name.startswith("_") and not name.startswith("."):
            n += 1
            b += int(f.getLen())
    return n, b


def hadoop_data_file_count(spark: SparkSession, path: str) -> int:
    return hadoop_data_file_stats(spark, path)[0]


def hadoop_read_json(spark: SparkSession, path: str) -> "dict | None":
    """Read a small JSON sidecar through the Hadoop FS API (None if
    absent) — manifests and metas must live on the SAME filesystem as
    the data they describe (the winnow-meta lesson: a driver-local read
    of a remote index fails from every other driver)."""
    fs, hpath = hadoop_fs(spark, path)
    if not fs.exists(hpath):
        return None
    stream = fs.open(hpath)
    try:
        data = spark._jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
    finally:
        stream.close()
    return json.loads(bytes(data).decode("utf-8"))


def hadoop_write_json(spark: SparkSession, path: str, obj: dict) -> None:
    fs, hpath = hadoop_fs(spark, path)
    out = fs.create(hpath, True)
    try:
        out.write(bytearray(json.dumps(obj).encode("utf-8")))
    finally:
        out.close()


def hadoop_delete_prefixed(spark: SparkSession, target: str, prefix: str) -> None:
    """Delete every data file under ``target`` (recursively) whose name
    starts with ``prefix`` — the self-clean step of the idempotent
    batch-append: a crashed attempt's partial moves are identified by
    the batch's name prefix alone."""
    fs, hpath = hadoop_fs(spark, target)
    if not fs.exists(hpath):
        return
    stale = []
    it = fs.listFiles(hpath, True)
    while it.hasNext():
        f = it.next().getPath()
        if f.getName().startswith(prefix):
            stale.append(f)
    for f in stale:
        fs.delete(f, False)


def hadoop_staged_append(
    spark: SparkSession, staging: str, target: str, prefix: str
) -> None:
    """Move every data file under ``staging`` into ``target`` — same
    relative subdirectory (so a partitionBy layout's ``cell=N`` dirs
    land in place and a flat layout's files land at the root) — renamed
    with the batch's ``prefix``; then drop the staging dir. The move
    step of the exactly-once append: the caller cleans prefix files
    first (hadoop_delete_prefixed), writes the staging dir, calls this,
    and advances its manifest LAST."""
    fs, spath = hadoop_fs(spark, staging)
    s_uri = str(fs.makeQualified(spath).toUri().getPath())
    moves = []
    it = fs.listFiles(spath, True)
    while it.hasNext():
        f = it.next().getPath()
        name = f.getName()
        if name.startswith("_") or name.startswith("."):
            continue
        parent = str(f.getParent().toUri().getPath())
        rel = parent[len(s_uri):].strip("/")
        moves.append((f, rel, name))
    for f, rel, name in moves:
        dest_dir = f"{target}/{rel}" if rel else target
        tfs, dest_hdir, dest = hadoop_fs(
            spark, dest_dir, f"{dest_dir}/{prefix}{name}"
        )
        tfs.mkdirs(dest_hdir)
        if not tfs.rename(f, dest):
            raise IOError(
                f"staged append: rename {f} -> {dest} failed; replaying "
                "the batch cleans its prefix files and redoes the move"
            )
    fs.delete(spath, True)


def _swap_old_copies(fs, t_path) -> list:
    """The ``{target}__old_*`` statuses beside ``target``: what a swap
    leaves between its two renames, or after them until its delete."""
    prefix = f"{t_path.getName()}__old_"
    return [
        st
        for st in fs.listStatus(t_path.getParent())
        if st.getPath().getName().startswith(prefix)
    ]


def hadoop_swap_leftover(spark: SparkSession, target: str) -> "str | None":
    """The copy the next hadoop_swap_rewrite entry restores: the newest
    ``{target}__old_*`` when ``target`` itself is missing (a swap
    stopped between its two renames); None otherwise."""
    fs, t_path = hadoop_fs(spark, target)
    if fs.exists(t_path) or not fs.exists(t_path.getParent()):
        return None
    old = _swap_old_copies(fs, t_path)
    if not old:
        return None
    return str(max(old, key=lambda st: st.getModificationTime()).getPath())


def hadoop_swap_rewrite(spark: SparkSession, target: str, write_tmp, op: str) -> None:
    """Crash-bounded in-place rewrite of one parquet component: stage the
    rewritten copy aside, rename the live directory aside, rename the
    copy in, THEN delete the old — compact_versions' swap order carried
    onto the Hadoop FileSystem API so it serves hdfs:// as well as
    file:// (both have atomic directory rename). At no point is the data
    unrecoverable: a crash between the two renames leaves the full old
    component at ``{target}__old_*``. Object-store schemes are refused
    up front (no atomic rename — use a snapshot-commit table format
    there), matching the versioned-state contract above.

    Entry self-heals that crash window: if ``target`` is missing but a
    ``{target}__old_*`` leftover exists, the leftover is renamed back
    into place before the rewrite starts — a stream that folds
    compaction into foreachBatch (compact_every) recovers on its next
    trigger instead of failing every subsequent batch on a missing
    component. Orphaned ``__compact_*`` staging dirs are swept either
    way (they are pre-swap copies, never the only copy) — but only once
    older than ``_COMPACT_ORPHAN_AGE_MS``, so a CONCURRENT swap's
    in-flight staging dir is never destroyed by a second entrant
    (round-14 ADVICE). The component contract is still single-writer
    per component (two completing swaps race at the rename step, last
    one wins); the age guard only keeps the failure mode at "one swap
    wins" instead of "the other's staging dir is deleted mid-write".

    ``write_tmp(tmp_path)`` writes the rewritten component (the caller
    owns the plan — the swap only sequences the renames)."""
    require_atomic_rename(target, op)
    token = uuid.uuid4().hex[:8]
    tmp = f"{target}__compact_{token}"
    old = f"{target}__old_{token}"
    fs, t_path, tmp_path, old_path = hadoop_fs(spark, target, tmp, old)
    parent = t_path.getParent()
    base = t_path.getName()
    if fs.exists(parent):
        leftovers = _swap_old_copies(fs, t_path)
        if leftovers and not fs.exists(t_path):
            # Crash landed between rename-aside and rename-in: the
            # newest __old_* IS the live component — restore it.
            newest = max(leftovers, key=lambda st: st.getModificationTime())
            keep = newest.getPath()
            if not fs.rename(keep, t_path):
                raise IOError(
                    f"{op}: auto-restore {keep} -> {target} failed; "
                    f"restore it manually (hdfs dfs -mv) and re-run"
                )
            leftovers.remove(newest)
        if fs.exists(t_path):
            for st in leftovers:
                fs.delete(st.getPath(), True)
        now_ms = int(time.time() * 1000)
        for st in fs.listStatus(parent):
            if (
                st.getPath().getName().startswith(f"{base}__compact_")
                and now_ms - st.getModificationTime() > _COMPACT_ORPHAN_AGE_MS
            ):
                fs.delete(st.getPath(), True)
    write_tmp(tmp)
    if not fs.rename(t_path, old_path):
        raise IOError(f"{op}: rename {target} -> {old} failed")
    if not fs.rename(tmp_path, t_path):
        raise IOError(
            f"{op}: rename {tmp} -> {target} failed; previous component "
            f"preserved at {old}"
        )
    fs.delete(old_path, True)


def read_state_manifest(path: str) -> dict | None:
    try:
        with open(os.path.join(path, _MANIFEST), encoding="utf-8") as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return None


def read_versioned_state(spark: SparkSession, path: str) -> DataFrame | None:
    """Load the committed state snapshot, or None if nothing committed yet."""
    manifest = read_state_manifest(path)
    if manifest is None:
        return None
    return spark.read.parquet(os.path.join(path, f"v={manifest['version']}"))


def commit_versioned_state(df: DataFrame, path: str, batch_id: int) -> None:
    """Write df as the next state version and atomically repoint the
    manifest. Prior versions older than the immediate predecessor are
    pruned (the predecessor is kept so a reader that loaded the manifest
    just before the swap can still finish its scan)."""
    _require_rename_capable(path, "commit_versioned_state")
    manifest = read_state_manifest(path)
    version = (manifest["version"] + 1) if manifest else 0
    df.write.mode("overwrite").parquet(os.path.join(path, f"v={version}"))
    tmp = os.path.join(path, f"{_MANIFEST}.tmp")
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump({"version": version, "batch_id": batch_id}, fh)
    os.replace(tmp, os.path.join(path, _MANIFEST))  # the atomic commit point
    for name in os.listdir(path):
        if name.startswith("v=") and int(name[2:]) < version - 1:
            shutil.rmtree(os.path.join(path, name), ignore_errors=True)


def apply_versioned_batch(
    spark: SparkSession, path: str, batch_id: int, step
) -> bool:
    """Apply micro-batch ``batch_id`` to the versioned state at ``path``
    exactly once. A replay (``batch_id`` at or below the committed one)
    returns False and changes nothing. Otherwise ``step(cur)`` maps the
    committed state (None before the first commit) to the new full
    state, which is committed as the next version; returns True. A
    ``step`` that raises, or a crash before the manifest flip, leaves
    the previous version committed."""
    manifest = read_state_manifest(path)
    if manifest is not None and batch_id <= manifest["batch_id"]:
        return False
    commit_versioned_state(
        step(read_versioned_state(spark, path)), path, batch_id
    )
    return True


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    num_buckets: int = 32,
    mode: str = "overwrite",
) -> None:
    """Materialize a table bucketed (and sorted) by the join/aggregation key.

    Two tables bucketed by the same key into the same bucket count join
    WITHOUT a shuffle exchange — at 100 TB this turns the recurring
    fact ⋈ fact joins (and repeated aggregations on the same key) from a
    full-network shuffle into a local merge per bucket. The reference's
    Cassandra layout had the same goal (partition-key locality) but lost it
    the moment data entered Spark.
    """
    (
        df.write.mode(mode)
        .bucketBy(num_buckets, bucket_col)
        .sortBy(bucket_col)
        .format("parquet")
        .saveAsTable(table)
    )


def zorder_value(
    df: DataFrame, cols: list[str], bits: int = 12, alias: str = "_z"
) -> DataFrame:
    """Add a Morton (Z-order) interleave column over ``cols``.

    Each column is linearly quantized to ``bits`` bits between its global
    min and max (one tiny 1-row aggregate broadcast back — the
    fixed_width_histogram pattern), then the bit-planes are interleaved so
    nearby (c1, c2, ...) points get nearby z-values. The whole computation
    is shift/or/floor expressions inside whole-stage codegen — no UDF.

    Linear quantization keeps the oracle-friendly determinism but is
    skew-sensitive; for heavy-tailed columns substitute a percent_rank
    pre-pass for the min/max scaling (one extra shuffle) and interleave the
    ranks instead.
    """
    if not cols or bits * len(cols) > 63:
        raise ValueError(f"need 1+ cols with bits*len(cols) <= 63, got {cols!r}")
    stats = df.agg(
        *[F.min(F.col(c).cast("double")).alias(f"_mn_{c}") for c in cols],
        *[F.max(F.col(c).cast("double")).alias(f"_mx_{c}") for c in cols],
    )
    out = df.join(F.broadcast(stats))
    top = (1 << bits) - 1
    quantized = []
    for c in cols:
        mn, mx = F.col(f"_mn_{c}"), F.col(f"_mx_{c}")
        span = F.when(mx > mn, mx - mn).otherwise(F.lit(1.0))
        q = F.floor(
            (F.col(c).cast("double") - mn) * F.lit(float(top + 1)) / span
        )
        quantized.append(F.least(q, F.lit(top)).cast("long"))
    z = F.lit(0).cast("long")
    for b in range(bits):
        for i, q in enumerate(quantized):
            bit = F.shiftright(q, b).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, b * len(cols) + i))
    return out.select(*df.columns, z.alias(alias))


def zorder_write(
    df: DataFrame,
    path: str,
    cols: list[str],
    num_files: int = 32,
    bits: int = 12,
) -> None:
    """Cluster ``df`` on the Z-order of ``cols`` and write size-balanced
    parquet files.

    Range-partitioning by z-value + sorting within each file makes every
    file's min/max footer stats NARROW on ALL interleaved columns at once,
    so a conjunctive box predicate (c1 BETWEEN ... AND c2 BETWEEN ...)
    prunes most files/row-groups at planning time — the multi-dimensional
    generalization of the single-key sort that only helps the leading
    column. This is the data-skipping layout for append-heavy 100-TB
    tables where queries filter on 2-4 correlated dimensions.
    """
    zdf = zorder_value(df, cols, bits=bits)
    (
        zdf.repartitionByRange(num_files, F.col("_z"))
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(path)
    )


def scd2_apply(
    current: DataFrame,
    updates: DataFrame,
    key: str,
    tracked: list[str],
    eff_date_col: str = "eff_date",
    eff_from_col: str = "eff_from",
    eff_to_col: str = "eff_to",
) -> DataFrame:
    """Slowly-changing-dimension Type-2 merge: apply a batch of dimension
    updates, closing changed open rows and appending new versions, keeping
    full history.

    The reference refreshes its dimension data by re-downloading and
    overwriting whole tables (app/ml_app.py ingest path); at 100 TB the
    scalable pattern is incremental history maintenance:

    - ``current``: the history table — ``key``, tracked attrs,
      ``eff_from``, ``eff_to`` (NULL = open row).
    - ``updates``: one row per key — ``key``, tracked attrs, ``eff_date``.

    Plan shape: closed history rows PASS THROUGH with no shuffle; open rows
    full-outer-join updates on the key (ONE shuffle — broadcast if the
    update batch is small), then each joined row expands through
    ``inline(array(struct...))`` into 0–2 output rows (close + insert for
    changed keys, insert for brand-new keys, identity otherwise) — the
    single-join alternative to the three-branch MERGE rewrite, which would
    re-shuffle the open set once per branch.

    Update rows are taken as-is (dedupe/latest-wins upstream); attribute
    comparison is null-safe (``eqNullSafe``), so NULL -> value and
    value -> NULL both count as changes.
    """
    open_rows = current.filter(F.col(eff_to_col).isNull())
    closed_rows = current.filter(F.col(eff_to_col).isNotNull())

    upd = updates.select(
        F.col(key).alias("_uk"),
        F.col(eff_date_col).alias("_ud"),
        *[F.col(c).alias(f"_u_{c}") for c in tracked],
    )
    j = open_rows.join(upd, open_rows[key] == F.col("_uk"), "full_outer")

    changed = ~F.lit(True)
    for c in tracked:
        changed = changed | ~F.col(c).eqNullSafe(F.col(f"_u_{c}"))

    def _row(key_c, from_c, to_c, cols):
        return F.struct(
            key_c.alias(key),
            *[c.alias(name) for c, name in zip(cols, tracked)],
            from_c.alias(eff_from_col),
            to_c.alias(eff_to_col),
        )

    old_cols = [F.col(c) for c in tracked]
    new_cols = [F.col(f"_u_{c}") for c in tracked]
    keep_old = _row(F.col(key), F.col(eff_from_col), F.lit(None).cast("timestamp"), old_cols)
    close_old = _row(F.col(key), F.col(eff_from_col), F.col("_ud"), old_cols)
    insert_new = _row(F.col("_uk"), F.col("_ud"), F.lit(None).cast("timestamp"), new_cols)

    rows = (
        F.when(F.col("_uk").isNull(), F.array(keep_old))  # no update for key
        .when(F.col(key).isNull(), F.array(insert_new))  # brand-new key
        .when(changed, F.array(close_old, insert_new))  # SCD2 close + insert
        .otherwise(F.array(keep_old))  # update arrived, nothing changed
    )
    out_cols = [key, *tracked, eff_from_col, eff_to_col]
    return closed_rows.select(*out_cols).unionByName(
        j.select(F.inline(rows)).select(*out_cols)
    )
