"""The persisted-index lifecycle both index families share.

The ANN index (``operators.similarity``: ``vectors.parquet`` plus its
model state) and the positioned winnow index (``operators.dedup``:
``fps.parquet`` plus ``meta.json``) change through the same verbs —
build → add → remove → compact → rebuild — and keep the same
bookkeeping beside their data component:

- ``tombstones.parquet``: the pending logical deletes, one id column
  (the ANN index's id column; ``_id`` on the winnow index). Every read
  of the data goes through ``read_live`` (an anti-join); ``compact``
  drops the rows physically and clears the set — the merge-on-read
  delete-vector pattern (Iceberg/Delta deletion vectors) without a
  table format.
- ``_ADD_MANIFEST.json``: ``{"batch_id": N}``, the last batch
  ``add_batch`` committed; replays at or below it are skipped.
- ``meta.json``: the winnow index's fingerprint parameters.

Each commit point of the lifecycle is here: the tombstone append
(``remove``), the manifest advance (``add_batch``), the component swap
(``compact``) and the stale-state clear (``clear_on_rebuild``). The
family modules supply only what differs: the id-type check, the staging
write of a batch and the layout of the compacted rewrite.

Every path goes through the Hadoop FileSystem API, so an index on
hdfs:// behaves as one on file:// does — a driver-local ``os.path``
probe would silently miss components on a remote filesystem.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .io import (
    hadoop_data_file_stats,
    hadoop_delete_prefixed,
    hadoop_fs,
    hadoop_read_json,
    hadoop_staged_append,
    hadoop_swap_leftover,
    hadoop_swap_rewrite,
    hadoop_write_json,
    local_frame,
    local_rows_of,
    model_distinct_count,
    model_row_count,
    parquet_read_schema,
    write_model_parquet,
)

TOMBSTONES = "tombstones.parquet"
ADD_MANIFEST = "_ADD_MANIFEST.json"
META = "meta.json"


def has(spark, path: str, name: str) -> bool:
    """Whether the index at ``path`` has the component ``name``."""
    fs, hpath = hadoop_fs(spark, f"{path}/{name}")
    return bool(fs.exists(hpath))


def delete(spark, path: str, name: str) -> None:
    """Remove the component ``name`` of the index at ``path`` if present."""
    fs, hpath = hadoop_fs(spark, f"{path}/{name}")
    if fs.exists(hpath):
        fs.delete(hpath, True)


# --------------------------------------------------------------------------
# reads
# --------------------------------------------------------------------------

def read(spark, path: str, component: str) -> DataFrame:
    """Scan the data component of an index. A component lost to a
    compaction that stopped between its two renames fails with a
    FileNotFoundError naming the leftover copy, not Spark's generic
    PATH_NOT_FOUND; the leftover is looked for on that failure path
    only, so a healthy read costs no extra filesystem call."""
    target = f"{path}/{component}"
    try:
        return _scan(spark, target)
    except AnalysisException as err:
        leftover = hadoop_swap_leftover(spark, target)
        if leftover is None:
            raise
        raise FileNotFoundError(
            f"{target} is missing and {leftover} holds its last copy: a "
            "compaction stopped between its two renames. Run compact on "
            "the index (ann_index_compact / winnow_index_compact, or the "
            "CLI's compact action) to restore it."
        ) from err


def _scan(spark, target: str) -> DataFrame:
    """``spark.read.parquet(target)`` with the schema read from a file
    footer on local filesystems (io.parquet_read_schema), so the read
    schedules no schema-inference job; elsewhere Spark infers it."""
    schema = parquet_read_schema(spark, target)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(target)


def read_live(spark, path: str, component: str, prepare=None) -> DataFrame:
    """The LIVE rows of an index: the data component (mapped through
    ``prepare``, e.g. a parallelism spread) minus the tombstoned ids,
    anti-joined on the tombstone file's column. With no tombstones this
    is the plain scan. With some, the anti-join is AQE-sized (the set is
    bounded by the compaction cadence, so it plans as a broadcast) and
    Catalyst still pushes a caller's partition predicate below it."""
    data = read(spark, path, component)
    if prepare is not None:
        data = prepare(data)
    if not has(spark, path, TOMBSTONES):
        return data
    tomb = _scan(spark, f"{path}/{TOMBSTONES}")
    tcol = tomb.columns[0]
    return data.join(tomb.select(tcol).distinct(), on=tcol, how="left_anti")


def pending_tombstones(spark, path: str) -> int:
    """Distinct tombstoned ids the next compact will drop."""
    if not has(spark, path, TOMBSTONES):
        return 0
    return model_distinct_count(spark, f"{path}/{TOMBSTONES}")


# --------------------------------------------------------------------------
# remove / re-add guard
# --------------------------------------------------------------------------

def remove(
    spark,
    path: str,
    ids,
    live: DataFrame,
    *,
    id_col: str,
    id_type: str,
    tomb_col: str,
    verb: str,
) -> dict:
    """Tombstone ``ids`` — a DataFrame carrying ``id_col`` or a plain
    iterable of id values — under the tombstone column ``tomb_col``.
    ``id_type`` is the id type the index stores, read by the caller from
    its own layout; a DataFrame of another type is refused, since a
    never-matching tombstone is a takedown that did not happen.
    Deletion is LOGICAL and O(removed ids). Re-removing an id appends a
    duplicate that the distinct anti-join ignores, so replays are
    harmless.

    Returns ``{"requested", "matched_live", "tombstoned_total"}``:
    ``matched_live`` counts the ids present in ``live`` (the index's
    live rows) at remove time — the witness that a takedown happened."""
    if isinstance(ids, DataFrame):
        if id_col not in ids.columns:
            raise ValueError(f"{verb}: ids frame has no {id_col!r} column")
        got = dict(ids.dtypes)[id_col]
        if got != id_type:
            raise ValueError(
                f"{verb}: ids column {id_col!r} has type {got} but the "
                f"index stores {id_type}; cast the ids"
            )
        ids_df = ids.select(F.col(id_col).alias(tomb_col))
        requested = ids_df.count()
    else:
        rows = [(i,) for i in ids]
        requested = len(rows)
        ids_df = local_frame(spark, rows, f"{tomb_col} {id_type}")
    matched_live = live.join(ids_df.distinct(), on=tomb_col, how="semi").count()
    tomb_path = f"{path}/{TOMBSTONES}"
    # iterable-sourced ids append driver-side (deduplicated in Python —
    # the value SET is what every anti-join reads); DataFrame ids keep
    # the Spark write (they may be corpus-scale)
    local_ids = local_rows_of(ids_df)
    if local_ids is not None:
        uniq = list(dict.fromkeys(tuple(r) for r in local_ids))
        write_model_parquet(spark, uniq, ids_df.schema, tomb_path, mode="append")
    else:
        ids_df.distinct().coalesce(1).write.mode("append").parquet(tomb_path)
    return {
        "requested": int(requested),
        "matched_live": int(matched_live),
        "tombstoned_total": int(model_distinct_count(spark, tomb_path)),
    }


def refuse_tombstoned(
    spark, path: str, df: DataFrame, id_col: str, compact_verb: str
) -> None:
    """The add-side guard: an id tombstoned in the index cannot be
    re-added until ``compact_verb`` physically drops it — the live
    read's anti-join would suppress the NEW row too, silently losing the
    re-add."""
    if not has(spark, path, TOMBSTONES):
        return
    tomb = _scan(spark, f"{path}/{TOMBSTONES}")
    tcol = tomb.columns[0]
    n_hit = (
        df.select(F.col(id_col).alias(tcol))
        .join(tomb.select(tcol).distinct(), on=tcol, how="semi")
        .count()
    )
    if n_hit:
        raise ValueError(
            f"{n_hit} id(s) in the batch are tombstoned in the index at "
            f"{path!r} — run {compact_verb} first (it physically drops "
            "removed rows and clears the tombstone set), then re-add"
        )


# --------------------------------------------------------------------------
# exactly-once batch add
# --------------------------------------------------------------------------

def read_manifest(spark, path: str) -> "dict | None":
    """The index's add manifest, ``{"batch_id": N}``, or None."""
    return hadoop_read_json(spark, f"{path}/{ADD_MANIFEST}")


def batch_committed(spark, path: str, batch_id: int) -> bool:
    """Whether ``batch_id`` is at or below the manifest (a replay)."""
    manifest = read_manifest(spark, path)
    return manifest is not None and batch_id <= manifest["batch_id"]


def drop_partial_batch(spark, path: str, component: str, batch_id: int) -> None:
    """Delete the ``b{batch_id}-`` files a crashed attempt of this batch
    moved into ``component`` before its manifest advanced."""
    hadoop_delete_prefixed(spark, f"{path}/{component}", f"b{batch_id}-")


def add_batch(spark, path: str, component: str, batch_id: int, stage) -> bool:
    """One IDEMPOTENT micro-batch append to ``component``: skip a replay
    of a committed batch, delete the batch's partial files from an
    earlier crashed attempt, let ``stage(staging_dir)`` write the batch
    (and run the family's checks), RENAME every staged data file into
    the component under a ``b{batch_id}-`` prefix, and advance the
    manifest LAST — append idempotence from file naming alone, no table
    format. Compaction drops the prefixes, which is safe: committed
    batches are never replayed.

    Returns True if the batch was applied, False if skipped as a
    replay. The manifest holds ONE monotone batch_id sequence per index,
    shared by manual batch ids and a stream's foreachBatch ids."""
    if batch_committed(spark, path, batch_id):
        return False
    drop_partial_batch(spark, path, component, batch_id)
    staging = f"{path}/.staging-b{batch_id}"
    stage(staging)
    hadoop_staged_append(
        spark, staging, f"{path}/{component}", f"b{batch_id}-"
    )
    hadoop_write_json(
        spark, f"{path}/{ADD_MANIFEST}", {"batch_id": int(batch_id)}
    )
    return True


# --------------------------------------------------------------------------
# compact / rebuild
# --------------------------------------------------------------------------

def compact(spark, path: str, component: str, verb: str, rewrite) -> dict:
    """Rewrite ``component`` from its live rows — the merge step of the
    merge-on-read delete, and the fix for the per-batch file
    fragmentation adds leave behind — through io.hadoop_swap_rewrite's
    crash-bounded swap, then clear the tombstones.
    ``rewrite(tmp, live_bytes)`` writes the live rows to ``tmp`` in the
    family's layout; ``live_bytes`` estimates their on-disk size. The
    staged copy's row count is verified BEFORE the live component is
    touched.

    Everything that reads the component runs inside the swap, after its
    entry has restored a copy left by an earlier interrupted swap, so
    compact is also the recovery verb for that state.

    Returns ``{"files_before", "files_after", "rows", "removed_rows"}``."""
    target = f"{path}/{component}"
    out: dict = {}

    def write_tmp(tmp: str) -> None:
        files_before, n_bytes = hadoop_data_file_stats(spark, target)
        # one pass for both counts: no tombstones → live == physical,
        # from footer stats; otherwise one left-join aggregate
        if not has(spark, path, TOMBSTONES):
            n_physical = n_rows = model_row_count(spark, target)
        else:
            tomb = _scan(spark, f"{path}/{TOMBSTONES}")
            tcol = tomb.columns[0]
            marked = _scan(spark, target).join(
                tomb.select(tcol).distinct().withColumn("_t", F.lit(1)),
                on=tcol, how="left",
            )
            row = marked.agg(
                F.count(F.lit(1)).alias("physical"),
                F.count(F.when(F.col("_t").isNull(), F.lit(1))).alias("live"),
            ).collect()[0]
            n_physical, n_rows = int(row["physical"]), int(row["live"])
        live_bytes = (
            n_bytes if n_physical == 0 else (n_bytes * n_rows) // n_physical
        )
        rewrite(tmp, live_bytes)
        staged = model_row_count(spark, tmp)
        if staged != n_rows:
            raise IOError(
                f"{verb}: staged rewrite holds {staged} rows, expected "
                f"{n_rows}; aborting before touching the live layout"
            )
        out.update(
            files_before=files_before,
            rows=n_rows,
            removed_rows=n_physical - n_rows,
        )

    hadoop_swap_rewrite(spark, target, write_tmp, verb)
    delete(spark, path, TOMBSTONES)
    out["files_after"], _ = hadoop_data_file_stats(spark, target)
    return out


def clear_on_rebuild(spark, path: str, *stale: str) -> None:
    """Run by every build over a directory that may hold a former index.
    A stale tombstone set would silently hide any rebuilt row sharing a
    removed id; a stale add manifest would make a fresh stream (batch_id
    restarting at 0) be skipped as replays of the dead stream's
    batches. ``stale`` names the family's own components the new layout
    does not have (a plain IVF build drops a former IVF-PQ index's
    codebooks and rotation)."""
    for name in (TOMBSTONES, ADD_MANIFEST, *stale):
        delete(spark, path, name)


# --------------------------------------------------------------------------
# meta.json (winnow index)
# --------------------------------------------------------------------------

def read_meta(spark, path: str) -> dict:
    meta = hadoop_read_json(spark, f"{path}/{META}")
    if meta is None:
        raise ValueError(
            f"no winnow index meta at {path!r}/{META} — the directory "
            "was not written by winnow_pos_index_write"
        )
    return meta


def write_meta(spark, path: str, meta: dict) -> None:
    hadoop_write_json(spark, f"{path}/{META}", meta)

