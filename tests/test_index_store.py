"""The persisted-index lifecycle both index families share
(``index_store``): remove → stats backlog → re-add refusal →
exactly-once batch add → compact → rebuild, and the on-disk names every
existing index carries, on a tiny in-memory index of each family. The
slow per-family suites cover the probes; this pins the shared protocol
in the fast tier."""

from __future__ import annotations

import json
import os

import pyarrow.parquet as pq
import pytest

from bigdata_usaspending_spark.io import local_frame
from bigdata_usaspending_spark.operators import dedup as dd
from bigdata_usaspending_spark.operators import similarity

_TEXTS = [
    "the quick brown fox jumps over the lazy dog near the old stone bridge",
    "an entirely different text about long trains and steel rails at night",
    "completely fresh words about sailing ships and wide oceans at dawn",
    "a fourth note on mountain goats climbing the steep northern ridges",
]


class _Ann:
    """IVF index over 4-d vectors, two cells; ids in ``vec_id``."""

    data = "vectors.parquet"
    tomb_col = "vec_id"

    def __init__(self, spark, path):
        self.spark, self.path = spark, path
        self.cents = local_frame(
            spark,
            [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0])],
            "cell int, centroid array<double>",
        )

    def frame(self, ids):
        rows = [(i, [float(i % 2 == 0), float(i % 2), 0.5, 0.25]) for i in ids]
        return local_frame(self.spark, rows, "vec_id long, embedding array<float>")

    def build(self, ids):
        similarity.ivf_index_write(self.frame(ids), self.cents, self.path)

    def add_batch(self, ids, batch_id):
        return similarity.ann_index_add_batch(
            self.spark, self.path, self.frame(ids), batch_id
        )

    def remove(self, ids):
        return similarity.ann_index_remove(self.spark, self.path, ids)

    def live(self):
        """(live rows, pending tombstones) from the stats verb."""
        st = similarity.ann_index_stats(self.spark, self.path)
        return st["vectors"], st["tombstones"]

    def compact(self):
        return similarity.ann_index_compact(self.spark, self.path)


class _Winnow:
    """Positioned winnow index over short docs; ids in ``doc_id``."""

    data = "fps.parquet"
    tomb_col = "_id"

    def __init__(self, spark, path):
        self.spark, self.path = spark, path

    def frame(self, ids):
        rows = [(i, f"{_TEXTS[i % 4]} number {i}") for i in ids]
        return local_frame(self.spark, rows, "doc_id long, text string")

    def build(self, ids):
        dd.winnow_pos_index_write(self.frame(ids), self.path, portable=True)

    def add_batch(self, ids, batch_id):
        return dd.winnow_index_add_batch(
            self.spark, self.path, self.frame(ids), batch_id
        )

    def remove(self, ids):
        return dd.winnow_index_remove(self.spark, self.path, ids)

    def live(self):
        """(live rows, pending tombstones) from the stats verb."""
        st = dd.winnow_index_stats(self.spark, self.path)
        return st["docs"], st["tombstones"]

    def compact(self):
        return dd.winnow_index_compact(self.spark, self.path)


_FAMILIES = {"ann": _Ann, "winnow": _Winnow}


@pytest.mark.parametrize("family", sorted(_FAMILIES))
def test_index_lifecycle_and_file_format(spark, tmp_path, family):
    path = str(tmp_path / "idx")
    idx = _FAMILIES[family](spark, path)
    idx.build([1, 2, 3, 4])
    tomb = os.path.join(path, "tombstones.parquet")
    manifest = os.path.join(path, "_ADD_MANIFEST.json")

    # exactly-once add: applied once, skipped on replay
    assert idx.add_batch([5, 6], 3) is True
    assert idx.add_batch([5, 6], 3) is False
    with open(manifest, encoding="utf-8") as fh:
        assert json.load(fh) == {"batch_id": 3}

    # remove: the witness counts, then the pending backlog in stats
    assert idx.remove([2, 99]) == {
        "requested": 2, "matched_live": 1, "tombstoned_total": 2
    }
    assert idx.live() == (5, 2)
    assert pq.read_table(tomb).column_names == [idx.tomb_col]

    # a tombstoned id cannot be re-added before the compact
    with pytest.raises(ValueError, match="tombstoned"):
        idx.add_batch([2], 4)
    with open(manifest, encoding="utf-8") as fh:
        assert json.load(fh) == {"batch_id": 3}

    # compact drops the removed row physically and clears the tombstones
    stats = idx.compact()
    assert stats["rows"] == 5 and stats["removed_rows"] == 1
    assert not os.path.exists(tomb)

    # a rebuild clears both the pending tombstones and the add manifest
    idx.remove([1])
    assert os.path.exists(tomb) and os.path.exists(manifest)
    idx.build([1, 2])
    assert not os.path.exists(tomb) and not os.path.exists(manifest)


@pytest.mark.parametrize("family", sorted(_FAMILIES))
def test_half_swapped_index_names_leftover_until_compact(spark, tmp_path, family):
    """A compaction that stopped between io.hadoop_swap_rewrite's two
    renames leaves the data component at ``{data}__old_*`` and no live
    copy. Reads fail with a FileNotFoundError naming the leftover and
    the compact that restores it; the compact then does restore it."""
    path = str(tmp_path / "idx")
    idx = _FAMILIES[family](spark, path)
    idx.build([1, 2, 3])
    data = os.path.join(path, idx.data)
    os.rename(data, f"{data}__old_deadbeef")

    for verb in (idx.live, lambda: idx.remove([1])):
        with pytest.raises(FileNotFoundError) as err:
            verb()
        assert f"{idx.data}__old_deadbeef" in str(err.value)
        assert "compact" in str(err.value)

    assert idx.compact()["rows"] == 3
    assert idx.live() == (3, 0)
    assert not os.path.exists(f"{data}__old_deadbeef")


@pytest.mark.parametrize("family", sorted(_FAMILIES))
def test_index_reads_take_the_footer_schema_without_a_job(spark, tmp_path, family):
    """Index reads supply the schema from a parquet footer (plus the ANN
    ``cell`` partition column): no schema-inference job, and the schema
    — types and nullability — Spark would infer, after a build, an add,
    a remove (the tombstone read) and a compact."""
    from bigdata_usaspending_spark import index_store

    path = str(tmp_path / "idx")
    idx = _FAMILIES[family](spark, path)
    sc = spark.sparkContext

    def check(stage):
        group = f"footer-schema-{family}-{stage}"
        sc.setJobGroup(group, "index read")
        try:
            data = index_store.read(spark, path, idx.data)
            live = index_store.read_live(spark, path, idx.data)
            jobs = sc.statusTracker().getJobIdsForGroup(group)
        finally:
            sc.setJobGroup("", "")
        assert jobs == [], stage
        assert data.schema == spark.read.parquet(f"{path}/{idx.data}").schema, stage
        assert live.schema == data.schema, stage

    idx.build([1, 2, 3, 4])
    check("build")
    idx.add_batch([5, 6], 0)
    check("add")
    idx.remove([2])
    check("remove")
    idx.compact()
    check("compact")
