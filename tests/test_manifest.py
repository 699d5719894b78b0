"""Snapshot-versioned manifest store (functions/manifest.py): atomic
commits, time travel, merge-on-read deletes, partition-pruned
compaction, manifest-level file pruning, vacuum GC, concurrency."""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from ddf_flink_spark.functions.manifest import (
    SnapshotConflict,
    _child,
    _load_manifest,
    _publish,
    snapshot_append,
    snapshot_compact,
    snapshot_create,
    snapshot_delete,
    snapshot_log,
    snapshot_read,
    snapshot_restore,
    snapshot_vacuum,
    snapshot_versions,
)


def _mkbase(tmp_path, name):
    base = str(tmp_path / name)
    shutil.rmtree(base, ignore_errors=True)
    return base


def _frame(spark, lo, hi, n_parts=4):
    return (
        spark.range(lo, hi)
        .withColumn("cell", (F.col("id") % n_parts).cast("int"))
        .withColumn("val", (F.col("id") * 3 + 1).cast("long"))
    )


def _paths(manifest):
    return {(e["commit"], e["path"]) for e in manifest["files"]}


class TestLifecycle:
    def test_create_append_read(self, spark, tmp_path):
        base = _mkbase(tmp_path, "m1")
        assert snapshot_create(_frame(spark, 0, 100), base, part_col="cell") == 1
        assert snapshot_read(spark, base).count() == 100
        assert snapshot_append(_frame(spark, 100, 150), base) == 2
        got = snapshot_read(spark, base)
        assert got.count() == 150
        assert set(got.columns) == {"id", "cell", "val"}
        # appended rows actually present with correct values
        row = got.filter(F.col("id") == 149).collect()[0]
        assert row["val"] == 149 * 3 + 1 and row["cell"] == 149 % 4

    def test_create_on_existing_store_conflicts(self, spark, tmp_path):
        base = _mkbase(tmp_path, "m2")
        snapshot_create(_frame(spark, 0, 10), base)
        with pytest.raises(SnapshotConflict):
            snapshot_create(_frame(spark, 0, 10), base)

    def test_idempotent_append_by_batch_tag(self, spark, tmp_path):
        base = _mkbase(tmp_path, "m3")
        snapshot_create(_frame(spark, 0, 10), base, part_col="cell")
        v = snapshot_append(_frame(spark, 10, 20), base, batch_tag="b1")
        assert v == 2
        # replaying the same micro-batch is a no-op: same version, no dup rows
        assert snapshot_append(_frame(spark, 10, 20), base, batch_tag="b1") == 2
        assert snapshot_read(spark, base).count() == 20
        # a different tag commits
        assert snapshot_append(_frame(spark, 20, 25), base, batch_tag="b2") == 3
        assert snapshot_read(spark, base).count() == 25

    def test_unpartitioned_table(self, spark, tmp_path):
        base = _mkbase(tmp_path, "m4")
        snapshot_create(_frame(spark, 0, 50), base)  # no part_col
        snapshot_delete(spark.range(0, 10), base)
        assert snapshot_read(spark, base).count() == 40
        snapshot_compact(spark, base)
        assert snapshot_read(spark, base).count() == 40
        assert _load_manifest(base)["tombstones"] == []


class TestDeleteTimeTravel:
    def test_merge_on_read_and_time_travel(self, spark, tmp_path):
        base = _mkbase(tmp_path, "m5")
        snapshot_create(_frame(spark, 0, 100), base, part_col="cell")
        v_pre = snapshot_versions(base)[-1]
        snapshot_delete(spark.range(0, 100).filter(F.col("id") % 5 == 0), base)
        assert snapshot_read(spark, base).count() == 80
        # the pre-delete snapshot still serves every row
        assert snapshot_read(spark, base, version=v_pre).count() == 100

    def test_tombstone_ids_missing_from_table(self, spark, tmp_path):
        base = _mkbase(tmp_path, "m6")
        snapshot_create(_frame(spark, 0, 20), base, part_col="cell")
        snapshot_delete(spark.range(1000, 1100), base)  # all miss
        assert snapshot_read(spark, base).count() == 20
        v = snapshot_compact(spark, base)  # retires them, rewrites nothing
        m = _load_manifest(base, v)
        assert m["tombstones"] == [] and m["op"] == "compact"
        assert snapshot_read(spark, base).count() == 20

    def test_restore_rolls_forward(self, spark, tmp_path):
        base = _mkbase(tmp_path, "m7")
        snapshot_create(_frame(spark, 0, 30), base, part_col="cell")
        snapshot_delete(spark.range(0, 15), base)
        snapshot_compact(spark, base)
        assert snapshot_read(spark, base).count() == 15
        v = snapshot_restore(base, 1)
        assert v == 4
        assert snapshot_read(spark, base).count() == 30
        # history stayed linear: v3 still reads the compacted state
        assert snapshot_read(spark, base, version=3).count() == 15


class TestCompaction:
    def test_untouched_partition_entries_carried_verbatim(self, spark, tmp_path):
        base = _mkbase(tmp_path, "m8")
        snapshot_create(_frame(spark, 0, 400, n_parts=8), base, part_col="cell")
        pre = _load_manifest(base)
        # tombstones confined to cells 0 and 1
        snapshot_delete(
            spark.range(0, 400).filter(F.col("id") % 8 <= 1), base
        )
        v = snapshot_compact(spark, base)
        post = _load_manifest(base, v)
        assert sorted(post["compacted_parts"]) == ["0", "1"]
        pre_untouched = {t for t in _paths(pre) if not _is_cell(t, (0, 1))}
        post_untouched = {t for t in _paths(post) if not _is_cell(t, (0, 1))}
        # untouched partitions: the SAME immutable files, not copies
        assert pre_untouched == post_untouched
        # affected partitions: all-new files in the new commit dir
        assert all(
            t[0].startswith(f"c{v:06d}")
            for t in _paths(post)
            if _is_cell(t, (0, 1))
        )
        assert snapshot_read(spark, base).count() == 300

    def test_all_rows_of_a_partition_deleted(self, spark, tmp_path):
        base = _mkbase(tmp_path, "m9")
        snapshot_create(_frame(spark, 0, 40), base, part_col="cell")
        snapshot_delete(
            spark.range(0, 40).filter(F.col("id") % 4 == 2), base
        )
        v = snapshot_compact(spark, base)
        got = snapshot_read(spark, base)
        assert got.count() == 30
        assert got.filter(F.col("cell") == 2).count() == 0
        assert all(e["part"] != "2" for e in _load_manifest(base, v)["files"])

    def test_whole_table_deleted_stays_readable(self, spark, tmp_path):
        base = _mkbase(tmp_path, "m10")
        snapshot_create(_frame(spark, 0, 20), base, part_col="cell")
        snapshot_delete(spark.range(0, 20), base)
        snapshot_compact(spark, base)
        got = snapshot_read(spark, base)
        assert got.count() == 0
        assert set(got.columns) == {"id", "cell", "val"}

    def test_pinned_reader_unaffected_by_concurrent_maintenance(
        self, spark, tmp_path
    ):
        """A reader that resolved its snapshot BEFORE maintenance keeps
        serving identical data afterwards — the isolation the in-place
        directory swap can't give."""
        base = _mkbase(tmp_path, "m11")
        snapshot_create(_frame(spark, 0, 200), base, part_col="cell")
        pinned = snapshot_read(spark, base, version=1)
        before = sorted(r["id"] for r in pinned.collect())
        snapshot_delete(spark.range(0, 100), base)
        snapshot_compact(spark, base)
        snapshot_append(_frame(spark, 200, 300), base)
        # re-execute the pinned plan from scratch: old files still there
        assert sorted(r["id"] for r in pinned.collect()) == before
        assert snapshot_read(spark, base).count() == 200  # 100 del + 100 new


def _is_cell(t, cells):
    return any(t[1].startswith(f"cell={c}/") for c in cells)


class TestPruning:
    def test_partition_pruning_reads_fewer_files(self, spark, tmp_path):
        base = _mkbase(tmp_path, "m12")
        snapshot_create(_frame(spark, 0, 400, n_parts=8), base, part_col="cell")
        pruned = snapshot_read(spark, base, parts=[3, 5])
        full = snapshot_read(spark, base)
        assert pruned.count() == full.filter(F.col("cell").isin(3, 5)).count()
        assert len(pruned.inputFiles()) < len(full.inputFiles())

    def test_zone_map_pruning_exact_and_skips_files(self, spark, tmp_path):
        base = _mkbase(tmp_path, "m13")
        # range-cluster by id so per-file min/max are disjoint
        df = (
            _frame(spark, 0, 10000)
            .repartitionByRange(16, "id")
            .sortWithinPartitions("id")
        )
        snapshot_create(df, base, stats_cols=["id"])
        got = snapshot_read(spark, base, between=("id", 1000, 1200))
        assert got.count() == 201
        assert sorted(r["id"] for r in got.collect()) == list(range(1000, 1201))
        full = snapshot_read(spark, base)
        assert len(got.inputFiles()) < len(full.inputFiles())

    def test_zone_map_keeps_files_without_stats(self, spark, tmp_path):
        base = _mkbase(tmp_path, "m14")
        snapshot_create(_frame(spark, 0, 100), base)  # no stats recorded
        got = snapshot_read(spark, base, between=("id", 10, 20))
        assert got.count() == 11  # row-level filter still exact

    def test_morton_zorder_composition(self, spark, tmp_path):
        """Z-ORDER + zone map: cluster by the Morton interleave of two
        dimensions, record its stats, and a box predicate on EITHER
        dimension prunes files through the morton-range read."""
        from ddf_flink_spark.functions.layout import morton_key

        base = _mkbase(tmp_path, "m15")
        df = (
            spark.range(0, 4096)
            .withColumn("x", (F.col("id") % 64).cast("long"))
            .withColumn("y", (F.col("id") / 64).cast("long"))
            .withColumn("mk", morton_key("x", "y", bits=6))
            .repartitionByRange(16, "mk")
            .sortWithinPartitions("mk")
        )
        snapshot_create(df, base, stats_cols=["mk"])
        # box query x∈[0,7], y∈[0,7] → morton keys all < 2^6
        got = snapshot_read(spark, base, between=("mk", 0, 63)).filter(
            (F.col("x") < 8) & (F.col("y") < 8)
        )
        assert got.count() == 64
        full = snapshot_read(spark, base)
        assert len(got.inputFiles()) < len(full.inputFiles())


class TestConcurrencyAndGC:
    def test_version_race_loser_gets_conflict(self, spark, tmp_path):
        base = _mkbase(tmp_path, "m16")
        snapshot_create(_frame(spark, 0, 10), base)
        parent = _load_manifest(base)
        _publish(base, _child(parent, "append"))
        with pytest.raises(SnapshotConflict):
            _publish(base, _child(parent, "append"))

    def test_aborted_commit_is_invisible_and_vacuumed(self, spark, tmp_path):
        """Crash BEFORE manifest publication: data files exist, no
        manifest references them — readers are unaffected, vacuum
        reclaims."""
        base = _mkbase(tmp_path, "m17")
        snapshot_create(_frame(spark, 0, 50), base)
        # simulate: a writer wrote its commit dir then died pre-publish
        _frame(spark, 50, 99).write.parquet(f"{base}/data/c000099_deadbeef")
        assert snapshot_read(spark, base).count() == 50
        assert snapshot_versions(base) == [1]
        # an orphan YOUNGER than the grace window is protected: it may
        # be an in-flight commit that has not linked its header yet
        res = snapshot_vacuum(base, retain_last=1)
        assert res["files_deleted"] == 0
        assert os.path.isdir(f"{base}/data/c000099_deadbeef")
        # past the grace window (grace=0) the orphan is reclaimed
        res = snapshot_vacuum(base, retain_last=1, orphan_grace_seconds=0)
        assert res["files_deleted"] > 0
        assert not os.path.isdir(f"{base}/data/c000099_deadbeef")
        assert snapshot_read(spark, base).count() == 50

    def test_vacuum_retention(self, spark, tmp_path):
        base = _mkbase(tmp_path, "m18")
        snapshot_create(_frame(spark, 0, 100), base, part_col="cell")
        snapshot_delete(spark.range(0, 50), base)
        snapshot_compact(spark, base)
        res = snapshot_vacuum(base, retain_last=1)
        assert res["manifests_deleted"] == 2
        assert snapshot_versions(base) == [3]
        assert snapshot_read(spark, base).count() == 50
        with pytest.raises(FileNotFoundError):
            snapshot_read(spark, base, version=1)

    def test_manifest_publication_is_atomic_no_temp_left(self, spark, tmp_path):
        base = _mkbase(tmp_path, "m19")
        snapshot_create(_frame(spark, 0, 10), base)
        snapshot_append(_frame(spark, 10, 20), base)
        leftovers = [
            f for f in os.listdir(f"{base}/manifests") if f.endswith(".tmp")
        ]
        assert leftovers == []

    def test_log_metadata_only(self, spark, tmp_path):
        base = _mkbase(tmp_path, "m20")
        snapshot_create(_frame(spark, 0, 100), base, part_col="cell")
        snapshot_append(_frame(spark, 100, 130), base)
        snapshot_delete(spark.range(0, 10), base)
        snapshot_compact(spark, base)
        rows = {r["version"]: r for r in snapshot_log(spark, base).collect()}
        assert rows[1]["op"] == "create" and rows[1]["rows_added"] == 100
        assert rows[2]["rows_added"] == 30 and rows[2]["visible_rows"] == 130
        # outstanding tombstones → visible count deferred (NULL)
        assert rows[3]["rows_removed"] == 10 and rows[3]["visible_rows"] is None
        assert rows[4]["visible_rows"] == 120 and rows[4]["n_tombstone_files"] == 0

    def test_stats_survive_compaction(self, spark, tmp_path):
        base = _mkbase(tmp_path, "m21")
        df = (
            _frame(spark, 0, 1000)
            .repartitionByRange(8, "id")
            .sortWithinPartitions("id")
        )
        snapshot_create(df, base, part_col="cell", stats_cols=["id"])
        snapshot_delete(spark.range(0, 100), base)
        v = snapshot_compact(spark, base)
        m = _load_manifest(base, v)
        assert any("stats" in e and "id" in e["stats"] for e in m["files"])


class TestReplaceAndChanges:
    def test_replace_partitions_carries_others_verbatim(self, spark, tmp_path):
        base = _mkbase(tmp_path, "m22")
        snapshot_create(_frame(spark, 0, 200, n_parts=4), base, part_col="cell")
        pre = _load_manifest(base)
        from ddf_flink_spark.functions.manifest import (
            snapshot_replace_partitions,
        )

        # rewrite cells 1 and 2 with doubled vals
        replacement = (
            _frame(spark, 0, 200, n_parts=4)
            .filter(F.col("cell").isin(1, 2))
            .withColumn("val", F.col("val") * 2)
        )
        v = snapshot_replace_partitions(
            replacement, base, parts=[1, 2], op="rebalance",
            meta={"note": "doubled"},
        )
        post = _load_manifest(base, v)
        assert post["op"] == "rebalance" and post["meta"]["note"] == "doubled"
        pre_other = {t for t in _paths(pre) if not _is_cell(t, (1, 2))}
        post_other = {t for t in _paths(post) if not _is_cell(t, (1, 2))}
        assert pre_other == post_other  # untouched cells: same files
        got = snapshot_read(spark, base)
        assert got.count() == 200
        assert (
            got.filter(F.col("cell") == 1)
            .filter(F.col("val") != (F.col("id") * 3 + 1) * 2)
            .count()
            == 0
        )
        # rows outside the listed partitions in the replacement frame
        # would be filtered, and v1 still serves the original values
        old = snapshot_read(spark, base, version=1)
        assert old.filter(F.col("cell") == 1).filter(
            F.col("val") != F.col("id") * 3 + 1
        ).count() == 0

    def test_changes_insert_delete_compact_restore(self, spark, tmp_path):
        from ddf_flink_spark.functions.manifest import snapshot_changes

        base = _mkbase(tmp_path, "m23")
        snapshot_create(_frame(spark, 0, 100), base, part_col="cell")
        snapshot_append(_frame(spark, 100, 140), base)          # v2
        snapshot_delete(spark.range(0, 20), base)               # v3
        snapshot_compact(spark, base)                           # v4
        snapshot_restore(base, 2)                               # v5

        c12 = snapshot_changes(spark, base, 1, 2)
        assert c12.filter(F.col("_change") == "delete").count() == 0
        assert sorted(
            r["id"] for r in c12.filter(F.col("_change") == "insert").collect()
        ) == list(range(100, 140))

        # tombstone-only span: deletes surface from UNCHANGED files
        c23 = snapshot_changes(spark, base, 2, 3)
        assert c23.filter(F.col("_change") == "insert").count() == 0
        assert sorted(
            r["id"] for r in c23.filter(F.col("_change") == "delete").collect()
        ) == list(range(0, 20))

        # compaction: physical rewrite, zero logical change
        assert snapshot_changes(spark, base, 3, 4).count() == 0

        # restore: the deleted rows resurrect as inserts
        c45 = snapshot_changes(spark, base, 4, 5)
        assert c45.filter(F.col("_change") == "delete").count() == 0
        assert sorted(
            r["id"] for r in c45.filter(F.col("_change") == "insert").collect()
        ) == list(range(0, 20))

        # end-to-end span collapses to the net difference
        c15 = snapshot_changes(spark, base, 1, 5)
        assert c15.filter(F.col("_change") == "delete").count() == 0
        assert sorted(
            r["id"] for r in c15.filter(F.col("_change") == "insert").collect()
        ) == list(range(100, 140))


class TestOptimizeAndEvolution:
    def test_optimize_packs_small_files_with_zero_logical_change(
        self, spark, tmp_path
    ):
        from ddf_flink_spark.functions.manifest import (
            snapshot_changes,
            snapshot_optimize,
        )

        base = _mkbase(tmp_path, "m24")
        snapshot_create(_frame(spark, 0, 40), base, part_col="cell")
        for lo in (40, 80, 120):  # streaming-shaped: one small commit each
            snapshot_append(_frame(spark, lo, lo + 40), base)
        pre = _load_manifest(base)
        pre_counts = {}
        for e in pre["files"]:
            pre_counts[e["part"]] = pre_counts.get(e["part"], 0) + 1
        assert all(n >= 4 for n in pre_counts.values())
        v = snapshot_optimize(spark, base)
        post = _load_manifest(base, v)
        post_counts = {}
        for e in post["files"]:
            post_counts[e["part"]] = post_counts.get(e["part"], 0) + 1
        assert all(n == 1 for n in post_counts.values())
        assert snapshot_read(spark, base).count() == 160
        # physical rewrite, zero logical change
        assert snapshot_changes(spark, base, v - 1, v).count() == 0
        # idempotent: nothing qualifies now
        assert snapshot_optimize(spark, base) == v

    def test_optimize_scoped_to_parts_carries_others_verbatim(
        self, spark, tmp_path
    ):
        from ddf_flink_spark.functions.manifest import snapshot_optimize

        base = _mkbase(tmp_path, "m25")
        snapshot_create(_frame(spark, 0, 40), base, part_col="cell")
        snapshot_append(_frame(spark, 40, 80), base)
        pre = _load_manifest(base)
        v = snapshot_optimize(spark, base, parts=[0])
        post = _load_manifest(base, v)
        pre_other = {t for t in _paths(pre) if not _is_cell(t, (0,))}
        post_other = {t for t in _paths(post) if not _is_cell(t, (0,))}
        assert pre_other == post_other
        assert sum(1 for e in post["files"] if e["part"] == "0") == 1

    def test_schema_evolution_add_column(self, spark, tmp_path):
        base = _mkbase(tmp_path, "m26")
        snapshot_create(_frame(spark, 0, 50), base, part_col="cell")
        batch = _frame(spark, 50, 70).withColumn(
            "extra", (F.col("id") * 10).cast("long")
        )
        with pytest.raises(ValueError, match="merge_schema"):
            snapshot_append(batch, base)
        snapshot_append(batch, base, merge_schema=True)
        got = snapshot_read(spark, base)
        assert got.columns == ["id", "cell", "val", "extra"]
        assert got.filter(F.col("extra").isNull()).count() == 50
        assert got.filter(F.col("extra") == F.col("id") * 10).count() == 20
        # time travel reads the OLD schema
        assert "extra" not in snapshot_read(spark, base, version=1).columns

    def test_schema_type_change_rejected(self, spark, tmp_path):
        base = _mkbase(tmp_path, "m27")
        snapshot_create(_frame(spark, 0, 10), base)
        bad = _frame(spark, 10, 20).withColumn("val", F.col("val").cast("string"))
        with pytest.raises(ValueError, match="type changes"):
            snapshot_append(bad, base, merge_schema=True)

    def test_missing_columns_in_append_read_as_null(self, spark, tmp_path):
        base = _mkbase(tmp_path, "m28")
        snapshot_create(_frame(spark, 0, 10), base)
        snapshot_append(spark.range(10, 15).select("id"), base)
        got = snapshot_read(spark, base)
        assert got.count() == 15
        assert got.filter(F.col("val").isNull()).count() == 5


class TestBloomPointLookup:
    def _store(self, spark, tmp_path, name):
        base = _mkbase(tmp_path, name)
        # val is a scrambled high-cardinality column: every file's
        # [min,max] spans ~the whole domain, so min/max stats alone
        # cannot prune a point lookup — the Bloom has to
        df = (
            spark.range(0, 5000)
            .withColumn("val", (F.col("id") * 2654435761 % 100003).cast("long"))
            .repartition(16)
        )
        snapshot_create(df, base, stats_cols=["val"], bloom_cols=["val"])
        return base

    def test_point_lookup_exact_and_prunes(self, spark, tmp_path):
        base = self._store(spark, tmp_path, "m29")
        probe = (4242 * 2654435761) % 100003
        got = snapshot_read(spark, base, point=("val", probe))
        rows = got.collect()
        assert [r["id"] for r in rows] == [4242]
        full = snapshot_read(spark, base)
        # the Bloom prunes most of the 16 files; min/max could not
        assert len(got.inputFiles()) < len(full.inputFiles()) / 2

    def test_absent_value_reads_nothing(self, spark, tmp_path):
        base = self._store(spark, tmp_path, "m30")
        got = snapshot_read(spark, base, point=("val", 100002))
        assert got.count() == 0

    def test_bloom_survives_append_and_compact(self, spark, tmp_path):
        from ddf_flink_spark.functions.manifest import _load_manifest as lm

        base = self._store(spark, tmp_path, "m31")
        snapshot_append(
            spark.range(5000, 6000)
            .withColumn("val", (F.col("id") * 2654435761 % 100003).cast("long"))
            .repartition(4),
            base,
        )
        m = lm(base)
        assert all("bloom" in e and "val" in e["bloom"] for e in m["files"])
        probe = (5500 * 2654435761) % 100003
        got = snapshot_read(spark, base, point=("val", probe))
        assert [r["id"] for r in got.collect()] == [5500]

    def test_false_positive_rate_holds_at_file_scale(self):
        """Sized from the row count (1024 bits per 100 values, k=5), a
        Bloom over 5000 distinct values keeps its ≈0.86% false-positive
        rate (σ ≈ 0.065% over 20,000 probes; 1.2% is ~5σ out). A fixed
        1024-bit filter at this size is all ones and admits everything."""
        from ddf_flink_spark.functions.manifest import (
            _bloom_maybe_contains,
            _bloom_words,
        )

        words = _bloom_words(list(range(5000)))
        absent = range(1_000_000, 1_020_000)
        fp = sum(_bloom_maybe_contains(words, v) for v in absent)
        assert fp <= 0.012 * len(absent), fp / len(absent)

    def test_legacy_fixed_size_bloom_probes_as_before(self):
        """A manifest entry written with the former fixed m=1024 (16
        words) Bloom admits every value it was built from, and every
        other probe gets the answer the fixed-size probe gave."""
        import hashlib

        from ddf_flink_spark.functions.manifest import (
            _bloom_canon,
            _bloom_maybe_contains,
            _entry_admits,
        )

        def legacy_positions(v):
            h = hashlib.md5(_bloom_canon(v).encode()).digest()
            h1 = int.from_bytes(h[:8], "big")
            h2 = int.from_bytes(h[8:], "big") | 1
            return [(h1 + i * h2) % 1024 for i in range(5)]

        values = [(i * 2654435761) % 100003 for i in range(80)]
        words = [0] * 16
        for v in values:
            for pos in legacy_positions(v):
                words[pos // 64] |= 1 << (pos % 64)
        entry = {"commit": "c000000", "rows": 80, "bloom": {"val": words}}
        assert all(_entry_admits(entry, "val", v) for v in values)
        for v in range(5000):
            legacy = all(words[p // 64] >> (p % 64) & 1 for p in legacy_positions(v))
            assert _bloom_maybe_contains(words, v) == legacy, v

    def test_bloomless_files_conservatively_kept(self, spark, tmp_path):
        base = _mkbase(tmp_path, "m32")
        snapshot_create(spark.range(0, 100).withColumn("val", F.col("id") * 7), base)
        got = snapshot_read(spark, base, point=("val", 77))
        assert [r["id"] for r in got.collect()] == [11]


class TestUpsertAndTombstoneScope:
    def test_upsert_updates_and_inserts_atomically(self, spark, tmp_path):
        from ddf_flink_spark.functions.manifest import snapshot_upsert

        base = _mkbase(tmp_path, "m33")
        snapshot_create(_frame(spark, 0, 100), base, part_col="cell")
        # update ids 90..99 (val -> id*1000), insert ids 100..109
        batch = (
            spark.range(90, 110)
            .withColumn("cell", (F.col("id") % 4).cast("int"))
            .withColumn("val", (F.col("id") * 1000).cast("long"))
        )
        v = snapshot_upsert(batch, base, batch_tag="u1")
        assert v == 2
        got = snapshot_read(spark, base)
        assert got.count() == 110  # 100 - 10 replaced + 20 batch
        assert got.filter((F.col("id") == 95) & (F.col("val") == 95000)).count() == 1
        assert got.filter((F.col("id") == 95) & (F.col("val") != 95000)).count() == 0
        assert got.filter(F.col("id") == 105).count() == 1
        # replay is a no-op
        assert snapshot_upsert(batch, base, batch_tag="u1") == 2
        assert snapshot_read(spark, base).count() == 110
        # time travel: pre-upsert values intact
        old = snapshot_read(spark, base, version=1)
        assert old.filter((F.col("id") == 95) & (F.col("val") == 95 * 3 + 1)).count() == 1

    def test_upsert_then_compact_folds_cleanly(self, spark, tmp_path):
        from ddf_flink_spark.functions.manifest import snapshot_upsert

        base = _mkbase(tmp_path, "m34")
        snapshot_create(_frame(spark, 0, 50), base, part_col="cell")
        batch = (
            spark.range(0, 10)
            .withColumn("cell", (F.col("id") % 4).cast("int"))
            .withColumn("val", F.lit(-1).cast("long"))
        )
        snapshot_upsert(batch, base)
        v = snapshot_compact(spark, base)
        got = snapshot_read(spark, base)
        assert got.count() == 50
        assert got.filter(F.col("val") == -1).count() == 10
        assert _load_manifest(base, v)["tombstones"] == []

    def test_delete_does_not_erase_later_append_of_same_id(self, spark, tmp_path):
        """A tombstone is scoped to the commits it was issued against:
        deleting id 7 then APPENDING a new row with id 7 must serve the
        new row (the unscoped anti-join got this wrong)."""
        base = _mkbase(tmp_path, "m35")
        snapshot_create(_frame(spark, 0, 20), base, part_col="cell")
        snapshot_delete(spark.range(7, 8), base)
        assert snapshot_read(spark, base).count() == 19
        reborn = (
            spark.range(7, 8)
            .withColumn("cell", (F.col("id") % 4).cast("int"))
            .withColumn("val", F.lit(777).cast("long"))
        )
        snapshot_append(reborn, base)
        got = snapshot_read(spark, base).filter(F.col("id") == 7).collect()
        assert len(got) == 1 and got[0]["val"] == 777
        # and compaction preserves the reborn row
        snapshot_compact(spark, base)
        got = snapshot_read(spark, base).filter(F.col("id") == 7).collect()
        assert len(got) == 1 and got[0]["val"] == 777

    def test_changes_across_upsert(self, spark, tmp_path):
        from ddf_flink_spark.functions.manifest import (
            snapshot_changes,
            snapshot_upsert,
        )

        base = _mkbase(tmp_path, "m36")
        snapshot_create(_frame(spark, 0, 30), base, part_col="cell")
        batch = (
            spark.range(25, 35)
            .withColumn("cell", (F.col("id") % 4).cast("int"))
            .withColumn("val", (F.col("id") * 1000).cast("long"))
        )
        snapshot_upsert(batch, base)
        c = snapshot_changes(spark, base, 1, 2)
        ins = {r["id"] for r in c.filter(F.col("_change") == "insert").collect()}
        dels = {r["id"] for r in c.filter(F.col("_change") == "delete").collect()}
        assert ins == set(range(25, 35))   # new current versions
        assert dels == set(range(25, 30))  # replaced old versions


class TestPlans:
    def test_tombstone_anti_join_broadcasts(self, spark, tmp_path):
        """The merge-on-read anti-join's build side is the (small)
        tombstone set — at runtime AQE must pick a broadcast join, not
        shuffle the data side (the posture that keeps deletes free at
        100 TB read time)."""
        base = _mkbase(tmp_path, "m37")
        snapshot_create(_frame(spark, 0, 2000), base, part_col="cell")
        snapshot_delete(spark.range(0, 50), base)
        df = snapshot_read(spark, base)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
        assert "SortMergeJoin" not in plan

    def test_snapshot_scan_column_pruning(self, spark, tmp_path):
        """A projection over a snapshot read must prune at the parquet
        scan (ReadSchema), exactly like a direct table read — the
        manifest layer adds no materialization barrier."""
        base = _mkbase(tmp_path, "m38")
        snapshot_create(_frame(spark, 0, 100), base, part_col="cell")
        df = snapshot_read(spark, base).select("id")
        plan = df._jdf.queryExecution().executedPlan().toString()
        read_schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
        assert "val" not in read_schema

    def test_optimize_max_records_per_file_bin_packs(self, spark, tmp_path):
        """A hot partition must bin-pack into several right-sized files,
        not serialize into one giant one."""
        from ddf_flink_spark.functions.manifest import snapshot_optimize

        base = _mkbase(tmp_path, "m39")
        snapshot_create(_frame(spark, 0, 400, n_parts=2), base, part_col="cell")
        snapshot_append(_frame(spark, 400, 800, n_parts=2), base)
        v = snapshot_optimize(spark, base, max_records_per_file=100)
        post = _load_manifest(base, v)
        counts = {}
        for e in post["files"]:
            counts[e["part"]] = counts.get(e["part"], 0) + 1
        # 400 rows/partition at <=100 rows/file -> >= 4 files each
        assert all(n >= 4 for n in counts.values())
        assert all(e["rows"] <= 100 for e in post["files"])
        assert snapshot_read(spark, base).count() == 800
        # the session conf does not leak
        assert not spark.conf.get("spark.sql.files.maxRecordsPerFile", None)

    def test_changes_across_schema_evolution(self, spark, tmp_path):
        """The change feed spans an add-column boundary: deltas come
        back in the TARGET version's schema with NULL for columns the
        old files never had."""
        from ddf_flink_spark.functions.manifest import snapshot_changes

        base = _mkbase(tmp_path, "m40")
        snapshot_create(_frame(spark, 0, 20), base, part_col="cell")
        evolved = _frame(spark, 20, 30).withColumn(
            "extra", (F.col("id") + 5).cast("long")
        )
        snapshot_append(evolved, base, merge_schema=True)
        c = snapshot_changes(spark, base, 1, 2)
        assert "extra" in c.columns
        ins = c.filter(F.col("_change") == "insert").collect()
        assert sorted(r["id"] for r in ins) == list(range(20, 30))
        assert all(r["extra"] == r["id"] + 5 for r in ins)
        assert c.filter(F.col("_change") == "delete").count() == 0
        # and a delete AFTER evolution diffs old-file rows as v_to rows
        snapshot_delete(spark.range(0, 5), base)
        c23 = snapshot_changes(spark, base, 2, 3)
        dels = c23.filter(F.col("_change") == "delete").collect()
        assert sorted(r["id"] for r in dels) == list(range(0, 5))
        assert all(r["extra"] is None for r in dels)

    def test_optimize_does_not_resurrect_tombstoned_rows(self, spark, tmp_path):
        """Rewritten rows land in a NEW commit, outside old tombstones'
        applies_before scope — optimize must fold the deletes for the
        partitions it touches, or deleted rows come back."""
        from ddf_flink_spark.functions.manifest import snapshot_optimize

        base = _mkbase(tmp_path, "m41")
        snapshot_create(_frame(spark, 0, 40), base, part_col="cell")
        snapshot_append(_frame(spark, 40, 80), base)
        snapshot_delete(spark.range(0, 20), base)
        assert snapshot_read(spark, base).count() == 60
        snapshot_optimize(spark, base)
        got = snapshot_read(spark, base)
        assert got.count() == 60
        assert got.filter(F.col("id") < 20).count() == 0
        # pre-delete time travel still serves everything
        assert snapshot_read(spark, base, version=2).count() == 80
        # and compaction afterwards stays clean
        snapshot_compact(spark, base)
        assert snapshot_read(spark, base).count() == 60

    def test_string_columns_get_no_zone_map(self, spark, tmp_path):
        """String min/max can be writer-truncated — the manifest must
        not record them (blooms are the string path)."""
        base = _mkbase(tmp_path, "m42")
        df = spark.range(0, 100).withColumn(
            "s", F.concat(F.lit("k"), F.col("id"))
        )
        snapshot_create(df, base, stats_cols=["s", "id"])
        m = _load_manifest(base)
        assert all("s" not in e.get("stats", {}) for e in m["files"])
        assert any("id" in e.get("stats", {}) for e in m["files"])

    def test_racing_writers_never_share_a_data_dir(self, spark, tmp_path):
        """Version-name data dirs let the publish-race LOSER clobber
        the winner's files before the manifest link decides; attempt-
        unique dirs make the loser's files harmless orphans."""
        from ddf_flink_spark.functions.manifest import _next_commit_dir

        base = _mkbase(tmp_path, "m43")
        assert _next_commit_dir(base, 3) != _next_commit_dir(base, 3)


# ---------------------------------------------------------------------------
# Round-10 additions: Hive partition-value canonicalization, Bloom value
# canonicalization + executor-side construction, change-feed pruning and
# doubly-tombstoned flips, optimistic-concurrency retry, manifest-diff vacuum.
# ---------------------------------------------------------------------------


class TestHivePartitionCanon:
    def test_part_token_matches_spark_dir_names(self, spark, tmp_path):
        """_part_token must reproduce EXACTLY the directory token Spark
        writes for every value class — verified against Spark's own
        output, not against a re-implementation."""
        from ddf_flink_spark.functions.manifest import _part_token

        vals = [None, "", "a b", "x:y", "p%q", "A/B", "d=e", "q'r",
                'w"t', "h#i", "n\\o", "r[s]", "t^u", "café", "tab\tx"]
        df = spark.createDataFrame(
            [(i, v) for i, v in enumerate(vals)], "id int, p string"
        )
        out = str(tmp_path / "hive_esc")
        df.write.partitionBy("p").parquet(out)
        dirs = {d[2:] for d in os.listdir(out) if d.startswith("p=")}
        toks = {_part_token(v) for v in vals}
        assert toks == dirs

    def test_compact_folds_null_partition_tombstones(self, spark, tmp_path):
        """The ADVICE repro: tombstoned rows in the NULL partition must
        fold on compact, not resurrect (str(None) vs the Hive token)."""
        base = _mkbase(tmp_path, "m44")
        df = spark.range(0, 40).withColumn(
            "cell",
            F.when(F.col("id") % 4 == 0, F.lit(None)).otherwise(
                F.col("id") % 4
            ).cast("int"),
        )
        snapshot_create(df, base, part_col="cell")
        # delete 5 ids that live in the NULL partition
        snapshot_delete(spark.range(0, 20).filter(F.col("id") % 4 == 0), base)
        assert snapshot_read(spark, base).count() == 35
        v = snapshot_compact(spark, base)
        got = snapshot_read(spark, base)
        assert got.count() == 35  # was 40 pre-fix: tombstones dropped, rows kept
        assert got.filter(F.col("id").isin(0, 4, 8, 12, 16)).count() == 0
        m = _load_manifest(base, v)
        assert m["tombstones"] == []
        # null-partition survivors are intact
        assert got.filter(F.col("cell").isNull()).count() == 5

    def test_optimize_keeps_null_partition_rows(self, spark, tmp_path):
        """snapshot_optimize over a table with NULL partition values
        must rewrite them, not silently drop them (isin(null) is never
        true)."""
        from ddf_flink_spark.functions.manifest import snapshot_optimize

        base = _mkbase(tmp_path, "m45")
        def mk(lo, hi):
            return spark.range(lo, hi).withColumn(
                "cell",
                F.when(F.col("id") % 2 == 0, F.lit(None)).otherwise(
                    F.lit(1)
                ).cast("int"),
            )
        snapshot_create(mk(0, 20), base, part_col="cell")
        snapshot_append(mk(20, 40), base)
        v = snapshot_optimize(spark, base)
        got = snapshot_read(spark, base)
        assert got.count() == 40
        assert got.filter(F.col("cell").isNull()).count() == 20
        m = _load_manifest(base, v)
        counts = {}
        for e in m["files"]:
            counts[e["part"]] = counts.get(e["part"], 0) + 1
        assert counts == {"__HIVE_DEFAULT_PARTITION__": 1, "1": 1}

    def test_escaped_partition_values_roundtrip(self, spark, tmp_path):
        """Partition values Spark %XX-escapes in dir names (':', '/')
        prune, replace and compact by VALUE."""
        from ddf_flink_spark.functions.manifest import (
            snapshot_replace_partitions,
        )

        base = _mkbase(tmp_path, "m46")
        df = spark.createDataFrame(
            [(i, "a:b" if i % 2 == 0 else "c/d", i * 10) for i in range(20)],
            "id long, cell string, val long",
        )
        snapshot_create(df, base, part_col="cell")
        pruned = snapshot_read(spark, base, parts=["a:b"])
        assert pruned.count() == 10
        assert pruned.filter(F.col("cell") != "a:b").count() == 0
        # replace the escaped partition by value
        repl = spark.createDataFrame(
            [(100, "a:b", -1)], "id long, cell string, val long"
        )
        snapshot_replace_partitions(repl, base, parts=["a:b"])
        got = snapshot_read(spark, base)
        assert got.count() == 11
        assert got.filter(F.col("cell") == "a:b").count() == 1
        # and compact on a delete inside the escaped partition
        snapshot_delete(spark.createDataFrame([(100,)], "id long"), base)
        snapshot_compact(spark, base)
        assert snapshot_read(spark, base).count() == 10
        assert snapshot_read(spark, base).filter(
            F.col("cell") == "a:b"
        ).count() == 0


class TestBloomCanon:
    def test_cross_type_probe_no_false_negative(self, spark, tmp_path):
        """A float/Decimal/numpy probe equal to an int value must HIT
        the Bloom (str(5) vs str(5.0) was a silent false negative)."""
        import decimal

        import numpy as np

        base = _mkbase(tmp_path, "m47")
        df = spark.range(0, 2000).withColumn(
            "val", (F.col("id") * 2654435761 % 100003).cast("long")
        ).repartition(8)
        snapshot_create(df, base, stats_cols=["val"], bloom_cols=["val"])
        probe_int = (77 * 2654435761) % 100003
        for probe in (probe_int, float(probe_int),
                      decimal.Decimal(probe_int), np.int64(probe_int)):
            got = snapshot_read(spark, base, point=("val", probe))
            assert [r["id"] for r in got.collect()] == [77], repr(probe)

    def test_canon_forms(self):
        from ddf_flink_spark.functions.manifest import _bloom_canon

        import decimal

        import numpy as np

        assert _bloom_canon(5) == _bloom_canon(5.0)
        assert _bloom_canon(5) == _bloom_canon(decimal.Decimal("5"))
        assert _bloom_canon(5) == _bloom_canon(np.int64(5))
        assert _bloom_canon(1.5) == _bloom_canon(decimal.Decimal("1.50"))
        assert _bloom_canon(True) != _bloom_canon(1)  # bools stay distinct
        assert _bloom_canon(None) is None
        assert _bloom_canon(float("nan")) is None

    def test_executor_and_driver_blooms_byte_equal(self, spark, tmp_path):
        """The mapInArrow executor-side builder must produce byte-equal
        word arrays vs the driver pyarrow loop — including big ints
        beyond float53 precision and nulls (the pandas int→float trap
        the Arrow path exists to avoid)."""
        from ddf_flink_spark.functions.manifest import _scan_files

        commit = str(tmp_path / "bloomeq")
        big = 2**60
        df = spark.createDataFrame(
            [(i, big + i if i % 3 else None, f"s{i}") for i in range(5000)],
            "id long, big long, s string",
        ).repartition(8)
        df.write.parquet(commit)
        via_spark, _ = _scan_files(
            commit, None, [], bloom_cols=["big", "s"], spark=spark
        )
        via_driver, _ = _scan_files(
            commit, None, [], bloom_cols=["big", "s"], spark=None
        )
        key = lambda e: e["path"]  # noqa: E731
        d = {key(e): e["bloom"] for e in via_driver}
        assert len(via_spark) > 1
        for e in via_spark:
            assert e["bloom"] == d[key(e)], e["path"]

    def test_multi_batch_files_send_one_bloom_each(
        self, spark, tmp_path, monkeypatch
    ):
        """A file of more rows than one Arrow batch is hashed into ONE
        word array per task, not one file-sized partial per batch: the
        driver collects one partial per file, byte-equal with the
        driver-side Bloom."""
        from ddf_flink_spark.functions.manifest import _scan_files

        commit = str(tmp_path / "bloombatches")
        spark.range(0, 4000).withColumn("val", F.col("id") * 7).repartition(
            4
        ).write.parquet(commit)
        collected = []
        df_cls = type(spark.range(0))  # the session's concrete DataFrame
        orig_collect = df_cls.collect

        def spy(df):
            rows = orig_collect(df)
            if df.columns == ["_f", "words"]:
                collected.append(len(rows))
            return rows

        monkeypatch.setattr(df_cls, "collect", spy)
        key = "spark.sql.execution.arrow.maxRecordsPerBatch"
        saved = spark.conf.get(key)
        spark.conf.set(key, "100")  # ~1000-row files: ~10 batches each
        try:
            via_spark, _ = _scan_files(
                commit, None, [], bloom_cols=["val"], spark=spark
            )
        finally:
            spark.conf.set(key, saved)
        via_driver, _ = _scan_files(
            commit, None, [], bloom_cols=["val"], spark=None
        )
        assert len(via_spark) == 4
        assert all(e["rows"] > 100 for e in via_spark)
        assert collected == [len(via_spark)]
        d = {e["path"]: e["bloom"] for e in via_driver}
        for e in via_spark:
            assert e["bloom"] == d[e["path"]], e["path"]


class TestChangesPruning:
    def test_one_id_delete_reads_one_admitting_file(self, spark, tmp_path):
        """Directive: a tombstone-only delta must NOT scan every common
        file — per-file id stats prune the scan to the admitting
        file(s)."""
        from ddf_flink_spark.functions.manifest import snapshot_changes

        base = _mkbase(tmp_path, "m48")
        df = (
            spark.range(0, 16000)
            .withColumn("val", F.col("id") * 3)
            .repartitionByRange(16, "id")
            .sortWithinPartitions("id")
        )
        snapshot_create(df, base, stats_cols=["id"])
        snapshot_delete(spark.range(42, 43), base)
        c = snapshot_changes(spark, base, 1, 2)
        rows = c.collect()
        assert len(rows) == 1
        assert rows[0]["id"] == 42 and rows[0]["_change"] == "delete"
        # the scan read ~1 data file (disjoint id ranges), not 16
        data_files = [f for f in c.inputFiles() if "/data/c000001" in f]
        assert len(data_files) <= 2
        full = snapshot_read(spark, base, apply_tombstones=False)
        assert len(full.inputFiles()) == 16

    def test_identical_tombstones_no_common_scan(self, spark, tmp_path):
        """When the tombstone set did NOT change between versions, the
        change feed must not read any common file at all (append-only
        delta with outstanding tombstones)."""
        from ddf_flink_spark.functions.manifest import snapshot_changes

        base = _mkbase(tmp_path, "m49")
        snapshot_create(_frame(spark, 0, 100), base, part_col="cell")
        snapshot_delete(spark.range(0, 10), base)
        snapshot_append(_frame(spark, 100, 120), base)
        c = snapshot_changes(spark, base, 2, 3)
        ins = sorted(r["id"] for r in c.collect())
        assert ins == list(range(100, 120))
        # only the appended commit's files were opened
        data_files = [f for f in c.inputFiles() if "/data/c000001" in f]
        assert data_files == []

    def test_doubly_tombstoned_restore_is_no_change(self, spark, tmp_path):
        """id deleted at v2 AND v3: a restore to v2 (dropping only the
        v3 tombstone) must NOT emit the still-hidden row as insert."""
        from ddf_flink_spark.functions.manifest import snapshot_changes

        base = _mkbase(tmp_path, "m50")
        snapshot_create(_frame(spark, 0, 20), base, part_col="cell")
        snapshot_delete(spark.range(5, 6), base)   # v2
        snapshot_delete(spark.range(5, 6), base)   # v3 (again)
        snapshot_restore(base, 2)                  # v4: only v2 tombstone
        assert snapshot_read(spark, base).count() == 19
        c34 = snapshot_changes(spark, base, 3, 4)
        assert c34.count() == 0
        # symmetric: re-adding a redundant tombstone is also no change
        c23 = snapshot_changes(spark, base, 2, 3)
        assert c23.count() == 0


def _race_worker(base, tag, barrier, out):
    """Module-level for fork pickling: race a metadata-only commit."""
    from ddf_flink_spark.functions.manifest import (
        _apply_with_retry,
        _child,
    )

    def apply(parent):
        m = _child(parent, f"race-{tag}")
        m["meta"] = dict(m["meta"], **{f"tag_{tag}": True})
        return m

    barrier.wait()
    try:
        out[tag] = _apply_with_retry(base, apply, retries=10)
    except Exception as exc:  # noqa: BLE001
        out[tag] = f"ERR {exc}"


class TestConcurrentWriters:
    def test_two_process_publish_race_converges(self, spark, tmp_path):
        """Two real OS processes race the SAME version: os.link picks
        exactly one winner; the loser's retry re-resolves the parent
        and lands on the next version. Both commits survive."""
        import multiprocessing as mp

        base = _mkbase(tmp_path, "m51")
        snapshot_create(_frame(spark, 0, 10), base)
        ctx = mp.get_context("fork")
        mgr = ctx.Manager()
        out = mgr.dict()
        barrier = mgr.Barrier(2)
        ps = [
            ctx.Process(target=_race_worker, args=(base, t, barrier, out))
            for t in ("a", "b")
        ]
        for p in ps:
            p.start()
        for p in ps:
            p.join(60)
        assert sorted(out.values()) == [2, 3], dict(out)
        top = _load_manifest(base)
        assert top["meta"].get("tag_a") and top["meta"].get("tag_b")
        assert snapshot_versions(base) == [1, 2, 3]

    def test_append_retry_after_forced_conflict(self, spark, tmp_path, monkeypatch):
        """snapshot_append(retries=) re-resolves the parent after a
        conflict and re-publishes metadata only — the data files and
        segment written on attempt 1 are committed as-is."""
        import ddf_flink_spark.functions.manifest as mf

        base = _mkbase(tmp_path, "m52")
        snapshot_create(_frame(spark, 0, 20), base, part_col="cell")
        real_publish = mf._publish
        state = {"fired": False}

        def racing_publish(b, header):
            if not state["fired"] and header["op"] == "append":
                state["fired"] = True
                # a competing writer steals the version first
                steal = mf._child(mf._load_header(b), "steal")
                real_publish(b, steal)
            return real_publish(b, header)

        monkeypatch.setattr(mf, "_publish", racing_publish)
        v = mf.snapshot_append(_frame(spark, 20, 30), base, retries=3)
        assert v == 3  # v2 was stolen mid-commit
        assert state["fired"]
        got = snapshot_read(spark, base)
        assert got.count() == 30
        with pytest.raises(SnapshotConflict):
            state["fired"] = False
            mf.snapshot_append(_frame(spark, 30, 40), base)  # retries=0

    def test_upsert_retry_keeps_own_rows_and_covers_concurrent(
        self, spark, tmp_path, monkeypatch
    ):
        """An upsert that loses the publish race must still (a) keep
        its own batch rows (its tombstones must not erase them after
        the rebase) and (b) replace matching rows from the concurrent
        commit it rebases over."""
        import ddf_flink_spark.functions.manifest as mf

        base = _mkbase(tmp_path, "m53")
        snapshot_create(_frame(spark, 0, 20), base, part_col="cell")
        real_publish = mf._publish
        state = {"fired": False}
        stolen = _frame(spark, 15, 25).withColumn(
            "val", F.lit(-5).cast("long")
        )

        def racing_publish(b, header):
            if not state["fired"] and header["op"] == "upsert":
                state["fired"] = True
                real_publish(
                    b, mf._publish and _steal_append(mf, b, stolen)
                )
            return real_publish(b, header)

        def _steal_append(mod, b, df_steal):
            parent = mod._load_header(b)
            commit_dir = mod._next_commit_dir(b, parent["version"] + 1)
            w = df_steal.write.mode("overwrite")
            if parent["part_col"]:
                w = w.partitionBy(parent["part_col"])
            w.parquet(commit_dir)
            entries, rows = mod._scan_files(
                commit_dir, parent["part_col"], parent["stats_cols"]
            )
            ref = mod._seg_write(b, entries)
            m = mod._child(parent, "steal")
            m["file_segs"].append(ref)
            m["rows_added"] = rows
            return m

        monkeypatch.setattr(mf, "_publish", racing_publish)
        batch = (
            spark.range(18, 22)
            .withColumn("cell", (F.col("id") % 4).cast("int"))
            .withColumn("val", F.lit(999).cast("long"))
        )
        v = mf.snapshot_upsert(batch, base, retries=3)
        assert v == 3 and state["fired"]
        got = snapshot_read(spark, base)
        # base 0..19, stolen upserted... stolen is an APPEND of 15..24
        # (val=-5) at v2; our upsert at v3 tombstones ids 18..21 across
        # v1 AND v2 and inserts its own 4 rows.
        by_id = {}
        for r in got.collect():
            by_id.setdefault(r["id"], []).append(r["val"])
        for i in range(18, 22):
            assert by_id[i] == [999], (i, by_id.get(i))
        # stolen rows outside the upsert keys survive (dup ids 15..17
        # expected: the steal was an append, not an upsert)
        assert -5 in by_id[15]
        assert sorted(by_id[24]) == [-5]


class TestVacuumManifestDiff:
    def test_vacuum_without_walk_reclaims_dropped_commits(self, spark, tmp_path):
        """Happy path: deletions derive from manifest diffs alone
        (orphan walk disabled) — compacted-away files and their
        segments are reclaimed, retained files untouched."""
        base = _mkbase(tmp_path, "m54")
        snapshot_create(_frame(spark, 0, 100), base, part_col="cell")
        snapshot_delete(spark.range(0, 50), base)
        snapshot_compact(spark, base)
        pre_files = {
            (e["commit"], e["path"]) for e in _load_manifest(base, 1)["files"]
        }
        res = snapshot_vacuum(base, retain_last=1, orphan_grace_seconds=None)
        assert res["manifests_deleted"] == 2
        assert res["files_deleted"] > 0
        assert res["segments_deleted"] > 0
        assert snapshot_versions(base) == [3]
        assert snapshot_read(spark, base).count() == 50
        # every v1 data file that was compacted away is gone from disk
        kept = {
            (e["commit"], e["path"]) for e in _load_manifest(base, 3)["files"]
        }
        for commit, path in pre_files - kept:
            assert not os.path.exists(f"{base}/data/{commit}/{path}")

    def test_vacuum_preserves_carried_segments(self, spark, tmp_path):
        """A segment shared by dropped AND retained versions (carried
        refs) must survive, and the retained snapshot stays fully
        readable afterwards."""
        base = _mkbase(tmp_path, "m55")
        snapshot_create(_frame(spark, 0, 200, n_parts=8), base, part_col="cell")
        snapshot_delete(spark.range(0, 200).filter(F.col("id") % 8 == 0), base)
        snapshot_compact(spark, base)  # carries 7/8 partitions by ref
        snapshot_vacuum(base, retain_last=1, orphan_grace_seconds=None)
        got = snapshot_read(spark, base)
        assert got.count() == 175
        assert got.filter(F.col("cell") == 0).count() == 0


class TestRewriteManifests:
    def test_folds_refs_metadata_only(self, spark, tmp_path):
        """After many small commits the header carries one ref per
        commit; rewrite_manifests folds them into one, touching ZERO
        data files, with identical reads and an empty change feed."""
        from ddf_flink_spark.functions.manifest import (
            _load_header,
            snapshot_changes,
            snapshot_rewrite_manifests,
        )

        base = _mkbase(tmp_path, "m56")
        snapshot_create(_frame(spark, 0, 40), base, part_col="cell")
        for lo in range(40, 200, 40):
            snapshot_append(_frame(spark, lo, lo + 40), base)
        snapshot_delete(spark.range(0, 5), base)   # one tomb ref
        snapshot_delete(spark.range(5, 10), base)  # another (different ab)
        pre = _load_header(base)
        assert len(pre["file_segs"]) == 5 and len(pre["tomb_segs"]) == 2
        pre_paths = _paths(_load_manifest(base))
        v = snapshot_rewrite_manifests(base)
        post = _load_header(base, v)
        assert post["op"] == "rewrite_manifests"
        assert len(post["file_segs"]) == 1
        # tombstones keep one ref PER applies_before bound (scope is
        # ref-level), so two deletes stay two refs
        assert len(post["tomb_segs"]) == 2
        assert {r["applies_before"] for r in post["tomb_segs"]} == {
            r["applies_before"] for r in pre["tomb_segs"]
        }
        # identical file listing (same immutable data files), same reads
        assert _paths(_load_manifest(base, v)) == pre_paths
        got = snapshot_read(spark, base)
        assert got.count() == 190
        assert got.filter(F.col("id") < 10).count() == 0
        # metadata-only: the change feed across the rewrite is empty
        assert snapshot_changes(spark, base, v - 1, v).count() == 0
        # idempotent: nothing left to fold
        assert snapshot_rewrite_manifests(base) == v
        # and tombstone SCOPE survived the rewrite: a reborn id 3 row
        # appended after the rewrite is served
        reborn = (
            spark.range(3, 4)
            .withColumn("cell", (F.col("id") % 4).cast("int"))
            .withColumn("val", F.lit(333).cast("long"))
        )
        snapshot_append(reborn, base)
        rows = snapshot_read(spark, base).filter(F.col("id") == 3).collect()
        assert len(rows) == 1 and rows[0]["val"] == 333

    def test_vacuum_retires_old_segments_after_rewrite(self, spark, tmp_path):
        from ddf_flink_spark.functions.manifest import (
            _load_header,
            snapshot_rewrite_manifests,
        )

        base = _mkbase(tmp_path, "m57")
        snapshot_create(_frame(spark, 0, 40), base, part_col="cell")
        for lo in (40, 80):
            snapshot_append(_frame(spark, lo, lo + 40), base)
        old_segs = {r["seg"] for r in _load_header(base)["file_segs"]}
        v = snapshot_rewrite_manifests(base)
        res = snapshot_vacuum(base, retain_last=1, orphan_grace_seconds=None)
        assert res["segments_deleted"] == len(old_segs)
        for seg in old_segs:
            assert not os.path.exists(f"{base}/manifests/{seg}")
        assert snapshot_read(spark, base, version=v).count() == 120


class TestModelBasedLifecycle:
    """Stateful model check: a random op sequence applied to the store
    AND to a pure-Python visibility model (multiset of (id, val) with
    commit-scoped tombstone semantics); after every op the store's
    visible rows must equal the model, and at the end every retained
    version must still serve its recorded model state (time travel).
    Catches interaction bugs no single-op test shapes — compaction
    after restore after upsert, optimize over outstanding tombstones,
    manifest rewrite mid-history."""

    def _run(self, spark, tmp_path, seed, n_ops=12):
        import random

        from ddf_flink_spark.functions.manifest import (
            snapshot_optimize,
            snapshot_restore,
            snapshot_rewrite_manifests,
            snapshot_upsert,
        )

        rng = random.Random(seed)
        base = _mkbase(tmp_path, f"model{seed}")
        next_id = 40
        snapshot_create(_frame(spark, 0, 40), base, part_col="cell")
        visible = {(i, i * 3 + 1) for i in range(40)}  # (id, val); vals unique per id here
        history = {1: set(visible)}
        v = 1

        def mk(ids, val_off):
            return (
                spark.createDataFrame(
                    [(i, i % 4, i * 3 + 1 + val_off) for i in ids],
                    "id long, cell int, val long",
                )
            )

        for _step in range(n_ops):
            op = rng.choice(
                ["append", "delete", "upsert", "compact", "optimize",
                 "restore", "rewrite"]
            )
            if op == "append":
                ids = list(range(next_id, next_id + rng.randint(1, 10)))
                next_id += len(ids)
                snapshot_append(mk(ids, 0), base)
                visible |= {(i, i * 3 + 1) for i in ids}
            elif op == "delete":
                pool = sorted({i for i, _ in visible}) or [0]
                ids = rng.sample(pool, min(len(pool), rng.randint(1, 6)))
                ids.append(10_000 + rng.randint(0, 9))  # always-miss id
                snapshot_delete(
                    spark.createDataFrame([(i,) for i in ids], "id long"),
                    base,
                )
                visible = {(i, x) for i, x in visible if i not in set(ids)}
            elif op == "upsert":
                pool = sorted({i for i, _ in visible})
                old = rng.sample(pool, min(len(pool), 3)) if pool else []
                new = list(range(next_id, next_id + 2))
                next_id += 2
                ids = old + new
                snapshot_upsert(mk(ids, 1000), base)
                visible = {(i, x) for i, x in visible if i not in set(ids)}
                visible |= {(i, i * 3 + 1 + 1000) for i in ids}
            elif op == "compact":
                snapshot_compact(spark, base)
            elif op == "optimize":
                snapshot_optimize(spark, base)
            elif op == "restore":
                target = rng.choice(sorted(history))
                snapshot_restore(base, target)
                visible = set(history[target])
            elif op == "rewrite":
                snapshot_rewrite_manifests(base)
            v = snapshot_versions(base)[-1]
            history[v] = set(visible)
            got = {
                (r["id"], r["val"])
                for r in snapshot_read(spark, base).collect()
            }
            assert got == visible, (seed, _step, op, got ^ visible)
        # time travel: every retained version serves its recorded state
        for ver, want in history.items():
            got = {
                (r["id"], r["val"])
                for r in snapshot_read(spark, base, version=ver).collect()
            }
            assert got == want, (seed, "time-travel", ver, got ^ want)

    def test_seed_1(self, spark, tmp_path):
        self._run(spark, tmp_path, seed=1)

    def test_seed_2(self, spark, tmp_path):
        self._run(spark, tmp_path, seed=2)

    def test_seed_3(self, spark, tmp_path):
        self._run(spark, tmp_path, seed=3)


class TestTemporalZoneMaps:
    def test_date_column_zone_map_prunes_and_exact(self, spark, tmp_path):
        """Date columns get min/max pruning (the dominant real-world
        range-scan case): a one-week window over a date-clustered year
        reads a strict file subset and the result is row-exact."""
        import datetime

        base = _mkbase(tmp_path, "m58")
        df = (
            spark.range(0, 3650)
            .withColumn("d", F.date_add(F.lit("2024-01-01"), (F.col("id") / 10).cast("int")))
            .withColumn("val", F.col("id") * 2)
            .repartitionByRange(16, "d")
            .sortWithinPartitions("d")
        )
        snapshot_create(df, base, stats_cols=["d"])
        m = _load_manifest(base)
        assert any("d" in e.get("stats", {}) for e in m["files"])
        lo = datetime.date(2024, 3, 1)
        hi = datetime.date(2024, 3, 7)
        got = snapshot_read(spark, base, between=("d", lo, hi))
        rows = got.collect()
        assert len(rows) == 70  # 7 days x 10 rows/day
        assert all(lo <= r["d"] <= hi for r in rows)
        full = snapshot_read(spark, base)
        assert len(got.inputFiles()) < len(full.inputFiles())
        # point lookup on the date column also prunes via stats
        got1 = snapshot_read(spark, base, point=("d", datetime.date(2024, 6, 15)))
        assert got1.count() == 10
        assert len(got1.inputFiles()) < len(full.inputFiles())

    def test_timestamp_column_zone_map(self, spark, tmp_path):
        """Timestamp zone maps require the writer to emit
        TIMESTAMP_MICROS (Spark's INT96 default carries NO parquet
        min/max — the manifest then conservatively keeps every file,
        correct but unpruned). Production posture: set
        spark.sql.parquet.outputTimestampType=TIMESTAMP_MICROS, the
        non-deprecated type, session-wide."""
        import datetime

        key = "spark.sql.parquet.outputTimestampType"
        prior = spark.conf.get(key, None)
        spark.conf.set(key, "TIMESTAMP_MICROS")
        try:
            base = _mkbase(tmp_path, "m59")
            df = (
                spark.range(0, 2400)
                .withColumn(
                    "ts",
                    F.timestamp_seconds(F.lit(1704067200) + F.col("id") * 3600),
                )
                .repartitionByRange(8, "ts")
                .sortWithinPartitions("ts")
            )
            snapshot_create(df, base, stats_cols=["ts"])
            m = _load_manifest(base)
            assert any("ts" in e.get("stats", {}) for e in m["files"])
            lo = datetime.datetime(2024, 1, 10, 0, 0, 0)
            hi = datetime.datetime(2024, 1, 10, 23, 0, 0)
            got = snapshot_read(spark, base, between=("ts", lo, hi))
            assert got.count() == 24
            full = snapshot_read(spark, base)
            assert len(got.inputFiles()) < len(full.inputFiles())
        finally:
            if prior is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, prior)

    def test_string_columns_still_excluded(self, spark, tmp_path):
        base = _mkbase(tmp_path, "m60")
        df = spark.range(0, 100).withColumn("s", F.concat(F.lit("k"), F.col("id")))
        snapshot_create(df, base, stats_cols=["s"])
        m = _load_manifest(base)
        assert all("s" not in e.get("stats", {}) for e in m["files"])


class TestMultiColumnPartitioning:
    def _mk(self, spark, lo, hi):
        return (
            spark.range(lo, hi)
            .withColumn("d", (F.col("id") % 3).cast("int"))
            .withColumn(
                "h",
                F.when(F.col("id") % 4 == 0, F.lit(None)).otherwise(
                    F.col("id") % 4
                ).cast("int"),
            )
            .withColumn("val", (F.col("id") * 7).cast("long"))
        )

    def test_lifecycle_two_level_partitioning(self, spark, tmp_path):
        """date/hour-style two-level partitioning: entries record the
        joined token path, parts= prunes by VALUE TUPLE (including a
        NULL level), delete+compact rewrites only the affected (d, h)
        combinations, and optimize folds per leaf partition."""
        from ddf_flink_spark.functions.manifest import (
            _load_header,
            snapshot_optimize,
        )

        base = _mkbase(tmp_path, "m61")
        snapshot_create(self._mk(spark, 0, 120), base, part_col=["d", "h"])
        h = _load_header(base)
        assert h["part_col"] == ["d", "h"]
        m = _load_manifest(base)
        assert all(e["part"].count("/") == 1 for e in m["files"])
        assert any(
            e["part"].endswith("/__HIVE_DEFAULT_PARTITION__")
            for e in m["files"]
        )
        # tuple-valued partition pruning, including the NULL level
        got = snapshot_read(spark, base, parts=[(1, 2)])
        assert got.count() == 120 // 12  # ids with id%3==1 and id%4==2
        assert got.filter((F.col("d") != 1) | (F.col("h") != 2)).count() == 0
        gnull = snapshot_read(spark, base, parts=[(0, None)])
        assert gnull.count() == 120 // 12
        assert gnull.filter(F.col("h").isNotNull()).count() == 0
        # append + delete + compact confined to affected leaves
        snapshot_append(self._mk(spark, 120, 180), base)
        pre = _load_manifest(base)
        victim_ids = [i for i in range(0, 180) if i % 3 == 2 and i % 4 == 1]
        snapshot_delete(
            spark.createDataFrame([(i,) for i in victim_ids], "id long"),
            base,
        )
        v = snapshot_compact(spark, base)
        post = _load_manifest(base, v)
        assert post["compacted_parts"] == ["2/1"]
        pre_other = {
            t for t in _paths(pre) if not t[1].startswith("d=2/h=1/")
        }
        post_other = {
            t for t in _paths(post) if not t[1].startswith("d=2/h=1/")
        }
        assert pre_other == post_other  # untouched leaves carried by ref
        got = snapshot_read(spark, base)
        assert got.count() == 180 - len(victim_ids)
        assert got.filter((F.col("d") == 2) & (F.col("h") == 1)).count() == 0
        # optimize folds each leaf to one file
        v2 = snapshot_optimize(spark, base)
        counts = {}
        for e in _load_manifest(base, v2)["files"]:
            counts[e["part"]] = counts.get(e["part"], 0) + 1
        assert all(n == 1 for n in counts.values())
        assert snapshot_read(spark, base).count() == 180 - len(victim_ids)

    def test_replace_partitions_by_tuple(self, spark, tmp_path):
        from ddf_flink_spark.functions.manifest import (
            snapshot_replace_partitions,
        )

        base = _mkbase(tmp_path, "m62")
        snapshot_create(self._mk(spark, 0, 120), base, part_col=["d", "h"])
        repl = self._mk(spark, 0, 120).filter(
            (F.col("d") == 1) & (F.col("h") == 3)
        ).withColumn("val", F.col("val") * -1)
        v = snapshot_replace_partitions(repl, base, parts=[(1, 3)])
        got = snapshot_read(spark, base)
        assert got.count() == 120
        leaf = got.filter((F.col("d") == 1) & (F.col("h") == 3))
        assert leaf.count() == 10 and leaf.filter(F.col("val") >= 0).count() == 0
        others = got.filter((F.col("d") != 1) | (F.col("h") != 3) | F.col("h").isNull())
        assert others.filter(F.col("val") < 0).count() == 0
        # the null-level replacement also routes correctly
        repl0 = self._mk(spark, 0, 120).filter(
            (F.col("d") == 0) & F.col("h").isNull()
        ).withColumn("val", F.lit(-999).cast("long"))
        snapshot_replace_partitions(repl0, base, parts=[(0, None)])
        got = snapshot_read(spark, base)
        assert got.filter(F.col("val") == -999).count() == 10
        assert got.count() == 120


class TestModelBasedMultiCol:
    def test_two_level_random_lifecycle(self, spark, tmp_path):
        """The model-based lifecycle check on a TWO-LEVEL partitioned
        table (including a NULL second level) — compaction, optimize
        and restore address leaf partitions."""
        import random

        from ddf_flink_spark.functions.manifest import (
            snapshot_optimize,
            snapshot_restore,
            snapshot_rewrite_manifests,
            snapshot_upsert,
        )

        rng = random.Random(7)
        base = _mkbase(tmp_path, "model_mc")

        def mk(ids, val_off):
            rows = [
                (i, i % 3, None if i % 4 == 0 else i % 4, i * 7 + val_off)
                for i in ids
            ]
            return spark.createDataFrame(
                rows, "id long, d int, h int, val long"
            )

        from ddf_flink_spark.functions.manifest import snapshot_create as _c

        _c(mk(range(30), 0), base, part_col=["d", "h"])
        visible = {(i, i * 7) for i in range(30)}
        history = {1: set(visible)}
        next_id = 30
        for step in range(10):
            op = rng.choice(
                ["append", "delete", "upsert", "compact", "optimize",
                 "restore", "rewrite"]
            )
            if op == "append":
                ids = list(range(next_id, next_id + rng.randint(1, 8)))
                next_id += len(ids)
                snapshot_append(mk(ids, 0), base)
                visible |= {(i, i * 7) for i in ids}
            elif op == "delete":
                pool = sorted({i for i, _ in visible}) or [0]
                ids = rng.sample(pool, min(len(pool), rng.randint(1, 5)))
                snapshot_delete(
                    spark.createDataFrame([(i,) for i in ids], "id long"),
                    base,
                )
                visible = {(i, x) for i, x in visible if i not in set(ids)}
            elif op == "upsert":
                pool = sorted({i for i, _ in visible})
                old = rng.sample(pool, min(len(pool), 2)) if pool else []
                new = [next_id]
                next_id += 1
                ids = old + new
                snapshot_upsert(mk(ids, 500), base)
                visible = {(i, x) for i, x in visible if i not in set(ids)}
                visible |= {(i, i * 7 + 500) for i in ids}
            elif op == "compact":
                snapshot_compact(spark, base)
            elif op == "optimize":
                snapshot_optimize(spark, base)
            elif op == "restore":
                target = rng.choice(sorted(history))
                snapshot_restore(base, target)
                visible = set(history[target])
            elif op == "rewrite":
                snapshot_rewrite_manifests(base)
            v = snapshot_versions(base)[-1]
            history[v] = set(visible)
            got = {
                (r["id"], r["val"])
                for r in snapshot_read(spark, base).collect()
            }
            assert got == visible, (step, op, got ^ visible)
        for ver, want in history.items():
            got = {
                (r["id"], r["val"])
                for r in snapshot_read(spark, base, version=ver).collect()
            }
            assert got == want, ("time-travel", ver, got ^ want)


class TestTxnIdempotency:
    def test_per_writer_monotonic_versions(self, spark, tmp_path):
        """txn=(app, version): replays and stale versions are no-ops;
        the header keeps ONE max version per app — O(#writers) forever,
        where batch_tag grows O(#batches)."""
        from ddf_flink_spark.functions.manifest import (
            _load_header,
            snapshot_upsert,
        )

        base = _mkbase(tmp_path, "m63")
        snapshot_create(_frame(spark, 0, 20), base, part_col="cell")
        assert snapshot_append(_frame(spark, 20, 30), base, txn=("w", 1)) == 2
        # replay of the same (app, version): no-op
        assert snapshot_append(_frame(spark, 20, 30), base, txn=("w", 1)) == 2
        # a STALE version (recovery replaying an older batch): no-op
        assert snapshot_append(_frame(spark, 0, 99), base, txn=("w", 0)) == 2
        assert snapshot_read(spark, base).count() == 30
        # the next version commits; an independent writer app commits too
        assert snapshot_append(_frame(spark, 30, 35), base, txn=("w", 2)) == 3
        assert snapshot_append(_frame(spark, 35, 40), base, txn=("x", 1)) == 4
        assert snapshot_read(spark, base).count() == 40
        h = _load_header(base)
        assert h["txns"] == {"w": 2, "x": 1}  # O(#writers), not O(#batches)
        # upsert honors the same discipline
        batch = (
            spark.range(0, 5)
            .withColumn("cell", (F.col("id") % 4).cast("int"))
            .withColumn("val", F.lit(-1).cast("long"))
        )
        v = snapshot_upsert(batch, base, txn=("w", 3))
        assert snapshot_upsert(batch, base, txn=("w", 3)) == v
        got = snapshot_read(spark, base)
        assert got.count() == 40
        assert got.filter(F.col("val") == -1).count() == 5


class TestChangesSegmentDiff:
    def test_append_delta_opens_only_new_segment(self, spark, tmp_path, monkeypatch):
        """The change feed's metadata cost is O(segments that differ):
        changes(v, v+1) after one append on a many-segment table opens
        ONLY the appended segment file (no common segment, no tombstone
        segment)."""
        import ddf_flink_spark.functions.manifest as mf

        base = _mkbase(tmp_path, "m64")
        snapshot_create(_frame(spark, 0, 40), base, part_col="cell")
        for lo in range(40, 240, 40):
            snapshot_append(_frame(spark, lo, lo + 40), base)
        v = snapshot_versions(base)[-1]
        new_seg = mf._load_header(base, v)["file_segs"][-1]["seg"]
        opened: list[str] = []
        real = mf._seg_entries

        def spy(b, ref):
            opened.append(ref["seg"])
            return real(b, ref)

        monkeypatch.setattr(mf, "_seg_entries", spy)
        c = mf.snapshot_changes(spark, base, v - 1, v)
        got = sorted(r["id"] for r in c.collect())
        assert got == list(range(200, 240))
        assert set(opened) == {new_seg}, opened

    def test_rewrite_still_cancels_via_key_reconciliation(self, spark, tmp_path):
        """A manifest rewrite renames every segment; the (commit, path)
        reconciliation folds the re-stated entries back to common and
        the feed stays empty — no data file is scanned (inputFiles of
        the empty plan)."""
        from ddf_flink_spark.functions.manifest import (
            snapshot_changes,
            snapshot_rewrite_manifests,
        )

        base = _mkbase(tmp_path, "m65")
        snapshot_create(_frame(spark, 0, 40), base, part_col="cell")
        snapshot_append(_frame(spark, 40, 80), base)
        v = snapshot_rewrite_manifests(base)
        c = snapshot_changes(spark, base, v - 1, v)
        assert c.count() == 0
        assert [f for f in c.inputFiles() if "/data/" in f] == []


class TestStatsKindSafety:
    """Round-11 ADVICE: _stats_encode maps dates to ordinals and
    timestamps to epoch-micros — two unrelated integer scales. A probe
    whose bound KIND differs from the column's recorded kind must keep
    the file (conservative), never compare across scales and silently
    prune files that hold matching rows."""

    def _date_table(self, spark, tmp_path, name):
        base = _mkbase(tmp_path, name)
        df = (
            spark.range(0, 3650)
            .withColumn(
                "d",
                F.date_add(F.lit("2024-01-01"), (F.col("id") / 10).cast("int")),
            )
            .withColumn("val", F.col("id") * 2)
            .repartitionByRange(16, "d")
            .sortWithinPartitions("d")
        )
        snapshot_create(df, base, stats_cols=["d"])
        return base

    def test_stats_record_their_kind(self, spark, tmp_path):
        base = self._date_table(spark, tmp_path, "m66")
        m = _load_manifest(base)
        tagged = [e["stats"]["d"] for e in m["files"] if "d" in e.get("stats", {})]
        assert tagged and all(len(st) == 3 and st[2] == "date" for st in tagged)

    def test_datetime_probe_on_date_column_is_exact(self, spark, tmp_path):
        """The ADVICE failure case: a datetime bound on a date column
        encodes to epoch-micros while the stats are ordinals — every
        ordinal range "misses" the huge micros bound and the old code
        pruned ALL files, returning zero rows. Kind-tagged stats keep
        every file and the row-level filter makes the result exact."""
        import datetime

        base = self._date_table(spark, tmp_path, "m67")
        lo = datetime.datetime(2024, 3, 1, 0, 0, 0)
        hi = datetime.datetime(2024, 3, 7, 23, 59, 59)
        got = snapshot_read(spark, base, between=("d", lo, hi))
        assert got.count() == 70  # 7 days x 10 rows/day — NOT zero

    def test_temporal_point_probe_on_int_column_keeps_files(self, spark, tmp_path):
        """A date probe against a plain numeric column (kind 'num')
        must not prune via the ordinal's accidental int value."""
        import datetime

        from ddf_flink_spark.functions.manifest import _entry_admits

        probe_date = datetime.date(2024, 6, 15)
        # a numeric stats range that does NOT contain the date's ordinal
        entry = {"stats": {"id": [0, 100]}}
        assert _entry_admits(entry, "id", probe_date) is True
        # same-kind numeric probe still prunes as before
        assert _entry_admits(entry, "id", 500) is False
        assert _entry_admits(entry, "id", 50) is True

    def test_date_probe_on_date_column_still_prunes(self, spark, tmp_path):
        """Like-kind probes keep their pruning power after the tag."""
        import datetime

        base = self._date_table(spark, tmp_path, "m68")
        got = snapshot_read(
            spark,
            base,
            between=("d", datetime.date(2024, 3, 1), datetime.date(2024, 3, 7)),
        )
        full = snapshot_read(spark, base)
        assert got.count() == 70
        assert len(got.inputFiles()) < len(full.inputFiles())


class TestVacuumRound11:
    def test_default_grace_is_delta_parity(self):
        from ddf_flink_spark.functions.manifest import _ORPHAN_GRACE_DEFAULT

        assert _ORPHAN_GRACE_DEFAULT == 7 * 24 * 3600.0

    def test_in_flight_commit_gated_on_newest_file_mtime(self, spark, tmp_path):
        """ADVICE medium: a write phase longer than the grace window
        must not lose its EARLIEST files while the writer is still
        writing — the orphan gate is the commit dir's NEWEST mtime,
        not each file's own."""
        import time as _time

        base = _mkbase(tmp_path, "m69")
        snapshot_create(_frame(spark, 0, 50), base)
        cdir = f"{base}/data/c000099_inflight"
        _frame(spark, 50, 99).write.parquet(cdir)
        files = sorted(
            os.path.join(r, f)
            for r, _d, fs in os.walk(cdir)
            for f in fs
        )
        assert len(files) >= 2
        # first file aged far past the grace; last file freshly written
        old = _time.time() - 10_000
        os.utime(files[0], (old, old))
        res = snapshot_vacuum(base, retain_last=1, orphan_grace_seconds=3600)
        assert res["files_deleted"] == 0
        assert os.path.exists(files[0])
        # once the whole commit is quiet past the grace, it is reclaimed
        for f in files:
            os.utime(f, (old, old))
        res = snapshot_vacuum(base, retain_last=1, orphan_grace_seconds=3600)
        assert res["files_deleted"] >= len(files)
        assert not os.path.isdir(cdir)

    def test_tmp_files_reclaimed_with_age_guard(self, spark, tmp_path):
        """ADVICE low: crashed writers' dot-prefixed temp files
        ('.seg-*.json.tmp' from _seg_write, '.v*.tmp' from _publish)
        are swept once aged, counted separately, and protected while
        fresh."""
        import time as _time

        base = _mkbase(tmp_path, "m70")
        snapshot_create(_frame(spark, 0, 20), base)
        tmp1 = f"{base}/manifests/.seg-deadbeef.json.tmp"
        tmp2 = f"{base}/manifests/.v9.deadbeef.tmp"
        for p in (tmp1, tmp2):
            with open(p, "w") as fh:
                fh.write("{}")
        res = snapshot_vacuum(base, retain_last=1, orphan_grace_seconds=3600)
        assert res["tmp_deleted"] == 0  # fresh: protected
        old = _time.time() - 10_000
        for p in (tmp1, tmp2):
            os.utime(p, (old, old))
        res = snapshot_vacuum(base, retain_last=1, orphan_grace_seconds=3600)
        assert res["tmp_deleted"] == 2
        assert not os.path.exists(tmp1) and not os.path.exists(tmp2)

    def test_vacuum_recovers_from_segment_manifest_crash_window(
        self, spark, tmp_path
    ):
        """ADVICE low: simulate the OLD crash state — a dropped
        version's segment deleted while its manifest survived. Vacuum
        must tolerate the missing segment on the DROP side (its files
        become age-guarded orphans) instead of raising on every
        subsequent run."""
        base = _mkbase(tmp_path, "m71")
        snapshot_create(_frame(spark, 0, 100), base, part_col="cell")
        snapshot_delete(spark.range(0, 50), base)
        snapshot_compact(spark, base)
        # the v2 tombstone segment is referenced ONLY by dropped v2
        import ddf_flink_spark.functions.manifest as mf

        tomb_seg = mf._load_header(base, 2)["tomb_segs"][0]["seg"]
        os.unlink(f"{base}/manifests/{tomb_seg}")
        res = snapshot_vacuum(base, retain_last=1, orphan_grace_seconds=None)
        assert res["manifests_deleted"] == 2
        assert snapshot_versions(base) == [3]
        assert snapshot_read(spark, base).count() == 50

    def test_deletion_order_manifests_before_segments(self, spark, tmp_path, monkeypatch):
        """The crash-safe ordering itself: by the time the first
        segment is unlinked, every dropped manifest is already gone —
        a crash mid-vacuum can only leave orphans, never a manifest
        referencing missing segments."""
        import ddf_flink_spark.functions.manifest as mf

        base = _mkbase(tmp_path, "m72")
        snapshot_create(_frame(spark, 0, 100), base, part_col="cell")
        snapshot_delete(spark.range(0, 50), base)
        snapshot_compact(spark, base)
        real_unlink = os.unlink
        seen: list[str] = []

        def spy(path, *a, **kw):
            seen.append(os.path.basename(str(path)))
            return real_unlink(path, *a, **kw)

        monkeypatch.setattr(mf.os, "unlink", spy)
        snapshot_vacuum(base, retain_last=1, orphan_grace_seconds=None)
        seg_i = [i for i, n in enumerate(seen) if n.startswith("seg-")]
        man_i = [i for i, n in enumerate(seen) if n.startswith("v") and n.endswith(".json")]
        assert man_i and seg_i and max(man_i) < min(seg_i)


class TestCompactProbePruning:
    def test_probe_reads_only_admitting_files(self, spark, tmp_path, monkeypatch):
        """Round-10 verdict 'What's wrong #1': folding a 1-id delete on
        a stats-covered id column must probe ~1 admitting file, never
        the table. Spy on _read_entries: the FIRST commit-tagged read
        (the affected-partition probe) sees only the admitting entry."""
        import ddf_flink_spark.functions.manifest as mf

        base = _mkbase(tmp_path, "m73")
        df = (
            spark.range(0, 400)
            .withColumn("cell", (F.col("id") / 100).cast("int"))
            .withColumn("val", (F.col("id") * 3).cast("long"))
            .repartition(1)
        )
        snapshot_create(df, base, part_col="cell", stats_cols=["id"])
        n_files = len(_load_manifest(base)["files"])
        assert n_files == 4  # one id-contiguous file per cell
        snapshot_delete(spark.range(250, 251), base)
        tagged_sizes: list[int] = []
        real = mf._read_entries

        def spy(spark_, base_, entries, *a, **kw):
            if kw.get("tag_commit_version"):
                tagged_sizes.append(len(entries))
            return real(spark_, base_, entries, *a, **kw)

        monkeypatch.setattr(mf, "_read_entries", spy)
        v = mf.snapshot_compact(spark, base)
        # first tagged read = the probe (1 admitting file of 4);
        # second = the survivors scan of the one affected partition
        assert tagged_sizes[0] == 1, tagged_sizes
        h = mf._load_header(base, v)
        assert h["compacted_parts"] == ["2"]
        got = snapshot_read(spark, base)
        assert got.count() == 399
        assert got.filter(F.col("id") == 250).count() == 0

    def test_missing_id_probe_prunes_to_zero_and_retires(self, spark, tmp_path):
        """A tombstoned id absent from every file admits nothing: the
        probe scan is empty (no job over the table) and the tombstones
        are retired header-only."""
        import ddf_flink_spark.functions.manifest as mf

        base = _mkbase(tmp_path, "m74")
        df = (
            spark.range(0, 400)
            .withColumn("cell", (F.col("id") / 100).cast("int"))
            .withColumn("val", (F.col("id") * 3).cast("long"))
            .repartition(1)
        )
        snapshot_create(df, base, part_col="cell", stats_cols=["id"])
        snapshot_delete(spark.range(99_999, 100_000), base)
        v = snapshot_compact(spark, base)
        h = mf._load_header(base, v)
        assert h["op"] == "compact" and h["tomb_segs"] == []
        assert snapshot_read(spark, base).count() == 400

    def test_large_tombstone_set_falls_back_to_full_probe(self, spark, tmp_path):
        """Above the prune threshold the full probe is the fallback —
        correctness unchanged."""
        import ddf_flink_spark.functions.manifest as mf

        base = _mkbase(tmp_path, "m75")
        snapshot_create(_frame(spark, 0, 3000), base, part_col="cell")
        monkey_ids = spark.range(0, 1500)  # > _CHANGES_PRUNE_MAX_IDS
        assert 1500 > mf._CHANGES_PRUNE_MAX_IDS
        snapshot_delete(monkey_ids, base)
        snapshot_compact(spark, base)
        got = snapshot_read(spark, base)
        assert got.count() == 1500
        assert got.filter(F.col("id") < 1500).count() == 0


class TestCommitTimestamps:
    def test_every_header_records_ts(self, spark, tmp_path):
        import ddf_flink_spark.functions.manifest as mf

        base = _mkbase(tmp_path, "m76")
        snapshot_create(_frame(spark, 0, 20), base)
        snapshot_append(_frame(spark, 20, 40), base)
        ts = [mf._load_header(base, v)["ts_us"] for v in snapshot_versions(base)]
        assert all(isinstance(t, int) and t > 0 for t in ts)
        assert ts[0] < ts[1]

    def test_ts_monotonic_under_clock_skew(self, spark, tmp_path, monkeypatch):
        """A writer with a BACKWARD wall clock still commits a ts
        strictly after its parent's — AS-OF resolution can never see
        history out of order."""
        import ddf_flink_spark.functions.manifest as mf

        base = _mkbase(tmp_path, "m77")
        snapshot_create(_frame(spark, 0, 20), base)
        t1 = mf._load_header(base, 1)["ts_us"]
        monkeypatch.setattr(mf, "_now_us", lambda: t1 - 10_000_000)
        snapshot_append(_frame(spark, 20, 40), base)
        t2 = mf._load_header(base, 2)["ts_us"]
        assert t2 == t1 + 1  # clamped to parent + 1µs, not the skewed clock

    def test_as_of_ts_resolution_and_boundaries(self, spark, tmp_path):
        import datetime

        import ddf_flink_spark.functions.manifest as mf
        from ddf_flink_spark.functions.manifest import snapshot_version_as_of

        base = _mkbase(tmp_path, "m78")
        snapshot_create(_frame(spark, 0, 10), base)
        snapshot_append(_frame(spark, 10, 20), base)
        snapshot_append(_frame(spark, 20, 30), base)
        epoch = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)
        t = {
            v: epoch + datetime.timedelta(
                microseconds=mf._load_header(base, v)["ts_us"]
            )
            for v in (1, 2, 3)
        }
        # exact boundary: AS OF t2 is v2 (inclusive), 1µs earlier is v1
        assert snapshot_version_as_of(base, t[2]) == 2
        assert (
            snapshot_version_as_of(
                base, t[2] - datetime.timedelta(microseconds=1)
            )
            == 1
        )
        assert snapshot_version_as_of(base, t[3]) == 3
        # the read itself: state as of v2's commit time
        got = snapshot_read(spark, base, as_of_ts=t[2])
        assert got.count() == 20
        # before the table existed
        with pytest.raises(FileNotFoundError):
            snapshot_version_as_of(
                base, t[1] - datetime.timedelta(seconds=1)
            )
        # version= and as_of_ts= are mutually exclusive
        with pytest.raises(ValueError):
            snapshot_read(spark, base, version=2, as_of_ts=t[2])
        # naive datetime = UTC; epoch-seconds float also accepted
        naive = (t[3]).replace(tzinfo=None)
        assert snapshot_version_as_of(base, naive) == 3
        assert (
            snapshot_version_as_of(
                base, mf._load_header(base, 3)["ts_us"] / 1e6 + 1.0
            )
            == 3
        )

    def test_snapshot_log_has_ts_column(self, spark, tmp_path):
        base = _mkbase(tmp_path, "m79")
        snapshot_create(_frame(spark, 0, 10), base)
        snapshot_append(_frame(spark, 10, 20), base)
        log = snapshot_log(spark, base)
        assert "ts" in log.columns
        rows = sorted(log.collect(), key=lambda r: r["version"])
        assert all(r["ts"] is not None for r in rows)
        assert rows[0]["ts"] <= rows[1]["ts"]

    def test_vacuum_retain_hours(self, spark, tmp_path, monkeypatch):
        """Age-based retention: old versions beyond the window drop,
        versions inside it survive even past retain_last, and the
        count floor always keeps the newest."""
        import ddf_flink_spark.functions.manifest as mf

        base = _mkbase(tmp_path, "m80")
        old_clock = mf._now_us() - 10 * 3600 * 1_000_000  # 10h ago
        monkeypatch.setattr(mf, "_now_us", lambda: old_clock)
        snapshot_create(_frame(spark, 0, 10), base)
        snapshot_append(_frame(spark, 10, 20), base)
        monkeypatch.undo()
        snapshot_append(_frame(spark, 20, 30), base)  # fresh commit
        snapshot_append(_frame(spark, 30, 40), base)  # fresh commit
        # window covers the two fresh commits; the two 10h-old ones drop
        res = snapshot_vacuum(
            base, retain_last=1, retain_hours=1.0, orphan_grace_seconds=None
        )
        assert res["manifests_deleted"] == 2
        assert snapshot_versions(base) == [3, 4]
        assert snapshot_read(spark, base, version=3).count() == 30
        # a wide window retains everything regardless of retain_last
        base2 = _mkbase(tmp_path, "m81")
        snapshot_create(_frame(spark, 0, 10), base2)
        snapshot_append(_frame(spark, 10, 20), base2)
        res = snapshot_vacuum(
            base2, retain_last=1, retain_hours=24.0, orphan_grace_seconds=None
        )
        assert res["manifests_deleted"] == 0
        assert snapshot_versions(base2) == [1, 2]


class TestRewriteManifestsIncremental:
    def test_big_segments_carry_by_ref_unopened(self, spark, tmp_path, monkeypatch):
        """Round-11 directive #4: the fold materializes ONLY small
        refs. A table with one already-consolidated segment and
        several small ones folds the small ones; the big segment file
        is never opened and its ref carries verbatim."""
        import ddf_flink_spark.functions.manifest as mf
        from ddf_flink_spark.functions.manifest import (
            snapshot_rewrite_manifests,
        )

        base = _mkbase(tmp_path, "m82")
        # create with 4 partitions -> one ref with n=4 files (the "big"
        # segment at max_entries_per_seg=3)
        snapshot_create(_frame(spark, 0, 80, n_parts=4), base, part_col="cell")
        big_seg = mf._load_header(base)["file_segs"][0]["seg"]
        # five 1-file appends (single partition each) -> five small refs
        for lo in range(80, 130, 10):
            snapshot_append(
                _frame(spark, lo, lo + 10, n_parts=1).coalesce(1), base
            )
        pre = mf._load_header(base)
        assert pre["file_segs"][0]["n"] >= 3
        assert all(r["n"] == 1 for r in pre["file_segs"][1:])
        opened: list[str] = []
        real = mf._seg_entries

        def spy(b, ref):
            opened.append(ref["seg"])
            return real(b, ref)

        monkeypatch.setattr(mf, "_seg_entries", spy)
        v = snapshot_rewrite_manifests(base, max_entries_per_seg=3)
        monkeypatch.undo()
        post = mf._load_header(base, v)
        assert big_seg not in opened, opened
        # big ref carried verbatim; the five small refs folded
        assert post["file_segs"][0]["seg"] == big_seg
        assert len(post["file_segs"]) < len(pre["file_segs"])
        # reads identical
        got = snapshot_read(spark, base)
        assert got.count() == 130
        # idempotent at the same threshold: folded output is one ref of
        # n=5 >= 3 (big now) plus the original big -> nothing to fold
        assert snapshot_rewrite_manifests(base, max_entries_per_seg=3) == v

    def test_single_small_ref_is_not_churned(self, spark, tmp_path):
        from ddf_flink_spark.functions.manifest import (
            snapshot_rewrite_manifests,
        )

        base = _mkbase(tmp_path, "m83")
        snapshot_create(_frame(spark, 0, 40), base, part_col="cell")
        v = snapshot_versions(base)[-1]
        assert snapshot_rewrite_manifests(base) == v  # one ref: no-op

    def test_tomb_single_ref_per_bound_carries(self, spark, tmp_path):
        """One small tombstone ref per applies_before bound: nothing
        to fold on the tomb side; two same-bound refs DO fold."""
        import ddf_flink_spark.functions.manifest as mf
        from ddf_flink_spark.functions.manifest import (
            snapshot_rewrite_manifests,
        )

        base = _mkbase(tmp_path, "m84")
        snapshot_create(_frame(spark, 0, 40), base, part_col="cell")
        for lo in (40, 80):
            snapshot_append(_frame(spark, lo, lo + 40), base)
        snapshot_delete(spark.range(0, 3), base)
        snapshot_delete(spark.range(3, 6), base)
        pre_tombs = [dict(r) for r in mf._load_header(base)["tomb_segs"]]
        v = snapshot_rewrite_manifests(base)
        post = mf._load_header(base, v)
        # different bounds -> carried verbatim (same seg names)
        assert [r["seg"] for r in post["tomb_segs"]] == [
            r["seg"] for r in pre_tombs
        ]
        got = snapshot_read(spark, base)
        assert got.count() == 114
        assert got.filter(F.col("id") < 6).count() == 0


class TestVacuumSegmentDiff:
    def test_append_only_vacuum_opens_no_segments(self, spark, tmp_path, monkeypatch):
        """Happy path (round-11 directive #5): every dropped version's
        segments are carried into the retained header, so the diff is
        pure ref math — ZERO segment files opened."""
        import ddf_flink_spark.functions.manifest as mf

        base = _mkbase(tmp_path, "m85")
        snapshot_create(_frame(spark, 0, 40), base, part_col="cell")
        for lo in (40, 80, 120):
            snapshot_append(_frame(spark, lo, lo + 40), base)
        opened: list[str] = []
        real = mf._seg_entries

        def spy(b, ref):
            opened.append(ref["seg"])
            return real(b, ref)

        monkeypatch.setattr(mf, "_seg_entries", spy)
        res = snapshot_vacuum(base, retain_last=1, orphan_grace_seconds=None)
        monkeypatch.undo()
        assert opened == [], opened
        assert res["manifests_deleted"] == 3 and res["files_deleted"] == 0
        assert snapshot_read(spark, base).count() == 160

    def test_optimize_drop_opens_only_dropped_segments(
        self, spark, tmp_path, monkeypatch
    ):
        """A maintenance drop opens the dropped-side segments whose
        partitions are gone; retained segments with disjoint commit
        sets are never opened."""
        import ddf_flink_spark.functions.manifest as mf
        from ddf_flink_spark.functions.manifest import snapshot_optimize

        base = _mkbase(tmp_path, "m86")
        snapshot_create(_frame(spark, 0, 40), base, part_col="cell")
        for lo in (40, 80):
            snapshot_append(_frame(spark, lo, lo + 40), base)
        snapshot_optimize(spark, base, min_files=2)
        retained_segs = {
            r["seg"] for r in mf._load_header(base)["file_segs"]
        }
        opened: list[str] = []
        real = mf._seg_entries

        def spy(b, ref):
            opened.append(ref["seg"])
            return real(b, ref)

        monkeypatch.setattr(mf, "_seg_entries", spy)
        res = snapshot_vacuum(base, retain_last=1, orphan_grace_seconds=None)
        monkeypatch.undo()
        assert opened and not (set(opened) & retained_segs), (
            opened,
            retained_segs,
        )
        assert res["files_deleted"] > 0
        assert snapshot_read(spark, base).count() == 120

    def test_restore_after_rewrite_keeps_resurrected_commit_files(
        self, spark, tmp_path
    ):
        """The adversarial overlap case: a dropped rewrite segment
        re-states files whose commit-born segment a restore brought
        back into the retained head — the commit-set intersection must
        keep those files on disk."""
        from ddf_flink_spark.functions.manifest import (
            snapshot_rewrite_manifests,
        )

        base = _mkbase(tmp_path, "m87")
        snapshot_create(_frame(spark, 0, 40), base, part_col="cell")
        for lo in (40, 80):
            snapshot_append(_frame(spark, lo, lo + 40), base)
        snapshot_rewrite_manifests(base)  # v4: seg R re-states c1..c3
        snapshot_restore(base, 1)  # v5: back to v1's commit-born seg
        res = snapshot_vacuum(base, retain_last=1, orphan_grace_seconds=None)
        assert res["manifests_deleted"] == 4
        # v1's files survived the drop of R (which also listed them)
        got = snapshot_read(spark, base)
        assert got.count() == 40
        assert sorted(r["id"] for r in got.collect()) == list(range(40))

    def test_orphan_sweep_skips_live_commit_dirs(self, spark, tmp_path):
        """The sweep must never walk into a commit dir any retained
        ref references — even for unreferenced stragglers inside it
        (they are the manifest diff's business, not the walk's)."""
        import time as _time

        base = _mkbase(tmp_path, "m88")
        snapshot_create(_frame(spark, 0, 40), base, part_col="cell")
        m = _load_manifest(base)
        live_dir = f"{base}/data/{m['files'][0]['commit']}"
        straggler = f"{live_dir}/straggler.parquet.tmp"
        with open(straggler, "w") as fh:
            fh.write("x")
        old = _time.time() - 10_000
        os.utime(straggler, (old, old))
        res = snapshot_vacuum(base, retain_last=1, orphan_grace_seconds=3600)
        assert os.path.exists(straggler)
        assert res["files_deleted"] == 0
        # a DEAD commit dir with the same age is reclaimed
        dead = f"{base}/data/c000099_dead"
        os.makedirs(dead)
        deadfile = f"{dead}/part-0.parquet"
        with open(deadfile, "w") as fh:
            fh.write("x")
        os.utime(deadfile, (old, old))
        res = snapshot_vacuum(base, retain_last=1, orphan_grace_seconds=3600)
        assert res["files_deleted"] == 1
        assert not os.path.isdir(dead)

    def test_upsert_live_commit_protected_from_sweep(self, spark, tmp_path):
        """Upsert commits record 'cN/rows' + 'cN/tomb' — the two-level
        commit match must protect both from the aged sweep."""
        import time as _time

        from ddf_flink_spark.functions.manifest import snapshot_upsert

        base = _mkbase(tmp_path, "m89")
        snapshot_create(_frame(spark, 0, 40), base, part_col="cell")
        snapshot_upsert(
            _frame(spark, 20, 50).withColumn("val", F.lit(-1).cast("long")),
            base,
        )
        # age EVERYTHING under data/, then sweep: live commits survive
        old = _time.time() - 10_000
        for root, _d, files in os.walk(f"{base}/data"):
            for f in files:
                os.utime(os.path.join(root, f), (old, old))
        res = snapshot_vacuum(base, retain_last=10, orphan_grace_seconds=3600)
        assert res["files_deleted"] == 0
        got = snapshot_read(spark, base)
        assert got.count() == 50
        assert got.filter(F.col("val") == -1).count() == 30


class TestSnapshotChangeStream:
    """streaming/cdf.py: the change feed as a streaming source with a
    durable version cursor (round-11 directive #1)."""

    def _consumer(self, spark, tmp_path, base, name, **kw):
        from ddf_flink_spark.streaming.cdf import SnapshotChangeStream

        return SnapshotChangeStream(
            spark, base, str(tmp_path / name), **kw
        )

    def test_one_batch_per_version_in_order(self, spark, tmp_path):
        base = _mkbase(tmp_path, "m90")
        snapshot_create(_frame(spark, 0, 20), base, part_col="cell")
        cs = self._consumer(spark, tmp_path, base, "c90", start_version=1)
        snapshot_append(_frame(spark, 20, 40), base)
        snapshot_delete(spark.range(0, 5), base)
        seen: list[tuple[int, int, int]] = []

        def fn(delta, v):
            rows = delta.collect()
            ins = sum(1 for r in rows if r["_change"] == "insert")
            dele = sum(1 for r in rows if r["_change"] == "delete")
            seen.append((v, ins, dele))

        assert cs.process_available(fn) == 2
        assert seen == [(2, 20, 0), (3, 0, 5)]
        assert cs.cursor() == 3
        # caught up: nothing redelivered
        assert cs.process_available(fn) == 0 and len(seen) == 2

    def test_metadata_only_commits_deliver_empty(self, spark, tmp_path):
        from ddf_flink_spark.functions.manifest import (
            snapshot_optimize,
            snapshot_rewrite_manifests,
        )

        base = _mkbase(tmp_path, "m91")
        snapshot_create(_frame(spark, 0, 40), base, part_col="cell")
        for lo in (40, 80):
            snapshot_append(_frame(spark, lo, lo + 40), base)
        cs = self._consumer(spark, tmp_path, base, "c91")  # latest = v3
        snapshot_optimize(spark, base, min_files=2)
        snapshot_rewrite_manifests(base)
        counts: list[int] = []
        cs.process_available(lambda d, v: counts.append(d.count()))
        assert counts and all(c == 0 for c in counts)

    def test_crash_replay_is_exactly_once_with_txn(self, spark, tmp_path):
        """The exactly-once discipline: the handler lands each delta in
        a downstream snapshot store with txn=("ivm", version). Simulate
        a crash AFTER the handler but BEFORE the cursor advance by
        rewinding the cursor; redelivery is absorbed by the txn replay
        guard and the downstream state stays correct."""
        from ddf_flink_spark.functions.manifest import snapshot_upsert

        base = _mkbase(tmp_path, "m92")
        down = _mkbase(tmp_path, "m92_down")
        snapshot_create(_frame(spark, 0, 20), base, part_col="cell")
        snapshot_create(_frame(spark, 0, 20), down, part_col="cell")
        cs = self._consumer(spark, tmp_path, base, "c92", start_version=1)
        snapshot_append(
            _frame(spark, 20, 40).withColumn("val", F.lit(-7).cast("long")),
            base,
        )

        def apply(delta, v):
            ins = delta.filter(F.col("_change") == "insert").drop("_change")
            snapshot_upsert(ins, down, txn=("ivm", v))

        assert cs.process_available(apply) == 1
        # crash window: handler ran, cursor write lost
        cs._write_cursor(1)
        assert cs.process_available(apply) == 1  # redelivered...
        got = snapshot_read(spark, down)
        assert got.count() == 40  # ...but applied exactly once
        assert got.filter(F.col("val") == -7).count() == 20
        assert cs.cursor() == 2

    def test_cursor_survives_reattach(self, spark, tmp_path):
        base = _mkbase(tmp_path, "m93")
        snapshot_create(_frame(spark, 0, 20), base)
        cs = self._consumer(spark, tmp_path, base, "c93", start_version=1)
        snapshot_append(_frame(spark, 20, 30), base)
        cs.process_available(lambda d, v: None)
        # a new instance over the SAME consumer dir resumes; the
        # start_version hint is ignored once a cursor exists
        cs2 = self._consumer(spark, tmp_path, base, "c93", start_version=1)
        assert cs2.cursor() == 2
        assert cs2.process_available(lambda d, v: None) == 0

    def test_read_pending_coalesces_and_commit_advances(self, spark, tmp_path):
        base = _mkbase(tmp_path, "m94")
        snapshot_create(_frame(spark, 0, 20), base, part_col="cell")
        cs = self._consumer(spark, tmp_path, base, "c94", start_version=1)
        snapshot_append(_frame(spark, 20, 40), base)
        snapshot_delete(spark.range(20, 25), base)  # cancels 5 of the 20
        pend = cs.read_pending()
        rows = pend.collect()
        assert {r["_commit_version"] for r in rows} == {3}
        ins = [r for r in rows if r["_change"] == "insert"]
        assert len(ins) == 15  # cross-version insert/delete pairs cancel
        assert not [r for r in rows if r["_change"] == "delete"]
        assert cs.cursor() == 1  # read does not advance
        cs.commit(3)
        assert cs.cursor() == 3
        assert cs.read_pending() is None
        with pytest.raises(ValueError):
            cs.commit(2)

    def test_attach_defaults_to_latest(self, spark, tmp_path):
        base = _mkbase(tmp_path, "m95")
        snapshot_create(_frame(spark, 0, 20), base)
        snapshot_append(_frame(spark, 20, 30), base)
        cs = self._consumer(spark, tmp_path, base, "c95")
        assert cs.cursor() == 2 and cs.pending() == []


class TestClusteredOptimize:
    def test_cluster_by_tightens_zone_maps(self, spark, tmp_path):
        """Round-11 stretch: streaming-interleaved arrival order makes
        every file's val range span the domain (zone map admits all);
        OPTIMIZE(cluster_by=['val'], max_records_per_file=...) rewrites
        each partition as range-disjoint files, so a between probe
        admits a strict subset — and the result stays row-exact."""
        import ddf_flink_spark.functions.manifest as mf
        from ddf_flink_spark.functions.manifest import snapshot_optimize

        base = _mkbase(tmp_path, "m96")
        # four interleaved commits: each covers the FULL val domain
        df0 = (
            spark.range(0, 400)
            .withColumn("cell", (F.col("id") % 2).cast("int"))
            .withColumn("val", (F.col("id") * 7919 % 1000).cast("long"))
        )
        snapshot_create(
            df0.filter(F.col("id") % 4 == 0).repartition(2), base,
            part_col="cell", stats_cols=["val"],
        )
        for r in (1, 2, 3):
            snapshot_append(
                df0.filter(F.col("id") % 4 == r).repartition(2), base
            )

        def admitted(lo, hi):
            m = mf._load_manifest(base)
            return sum(
                1
                for e in m["files"]
                if e.get("stats", {}).get("val") is None
                or mf._stats_admits(e["stats"]["val"], lo, hi)
            ), len(m["files"])

        adm_pre, total_pre = admitted(100, 150)
        assert adm_pre == total_pre  # interleaved: every file admits
        v = snapshot_optimize(
            spark, base, min_files=2,
            max_records_per_file=50, cluster_by=["val"],
        )
        adm_post, total_post = admitted(100, 150)
        assert total_post >= 4  # split into several files per partition
        assert adm_post < total_post, (adm_post, total_post)
        assert adm_post <= 2 * 2  # ~1 range-file per partition (+ties)
        # row-exactness unchanged
        got = snapshot_read(spark, base, between=("val", 100, 150))
        exact = df0.filter((F.col("val") >= 100) & (F.col("val") <= 150))
        assert got.count() == exact.count()
        assert {r["id"] for r in got.collect()} == {
            r["id"] for r in exact.collect()
        }
        # still an ordinary commit: empty change feed across it
        from ddf_flink_spark.functions.manifest import snapshot_changes

        assert snapshot_changes(spark, base, v - 1, v).count() == 0


class TestStrictIsolation:
    """isolation='strict': Delta-WriteSerializable-shaped conflict
    detection on delete/upsert rebase, metadata-bounded (per-file
    stats/Bloom admission against the write's own id set)."""

    def _steal(self, mf, base, df_steal, op="append"):
        parent = mf._load_header(base)
        commit_dir = mf._next_commit_dir(base, parent["version"] + 1)
        w = df_steal.write.mode("overwrite")
        if parent["part_col"]:
            w = w.partitionBy(parent["part_col"])
        w.parquet(commit_dir)
        entries, rows = mf._scan_files(
            commit_dir, parent["part_col"], parent["stats_cols"]
        )
        ref = mf._seg_write(base, entries)
        m = mf._child(parent, op)
        m["file_segs"].append(ref)
        m["rows_added"] = rows
        mf._publish(base, m)

    def _racing_delete(self, spark, tmp_path, name, steal_lo, steal_hi, **kw):
        """snapshot_delete(ids 0..5) racing a concurrent append of
        [steal_lo, steal_hi) injected at first publish."""
        import ddf_flink_spark.functions.manifest as mf

        base = _mkbase(tmp_path, name)
        snapshot_create(
            _frame(spark, 0, 40), base, part_col="cell", stats_cols=["id"]
        )
        real_publish = mf._publish
        state = {"fired": False}

        def racing_publish(b, header):
            if not state["fired"] and header["op"] == "delete":
                state["fired"] = True
                self._steal(mf, b, _frame(spark, steal_lo, steal_hi))
            return real_publish(b, header)

        import unittest.mock as mock

        with mock.patch.object(mf, "_publish", racing_publish):
            v = mf.snapshot_delete(spark.range(0, 5), base, **kw)
        assert state["fired"]
        return base, v

    def test_strict_rebase_clears_disjoint_concurrent_append(
        self, spark, tmp_path
    ):
        """Concurrent append whose id range is DISJOINT from the
        delete's ids: stats admission clears it — the rebase proceeds
        and both commits land."""
        base, v = self._racing_delete(
            spark, tmp_path, "m97", 100, 120, retries=3, isolation="strict"
        )
        assert v == 3
        got = snapshot_read(spark, base)
        assert got.count() == 40 - 5 + 20
        assert got.filter(F.col("id") < 5).count() == 0

    def test_strict_rebase_aborts_on_overlapping_concurrent_append(
        self, spark, tmp_path
    ):
        """Concurrent append WITH an overlapping id: strict mode aborts
        instead of silently deleting the row it never saw (which is
        exactly what lww does, by contract)."""
        with pytest.raises(SnapshotConflict, match="strict isolation"):
            self._racing_delete(
                spark, tmp_path, "m98", 3, 10, retries=3, isolation="strict"
            )

    def test_lww_rebase_covers_overlap_by_contract(self, spark, tmp_path):
        base, v = self._racing_delete(
            spark, tmp_path, "m99", 3, 10, retries=3, isolation="lww"
        )
        got = snapshot_read(spark, base)
        # lww: the concurrent 3..9 rows with ids < 5 are deleted too
        assert got.filter(F.col("id") < 5).count() == 0

    def test_strict_aborts_on_concurrent_delete(self, spark, tmp_path):
        import unittest.mock as mock

        import ddf_flink_spark.functions.manifest as mf

        base = _mkbase(tmp_path, "m100")
        snapshot_create(
            _frame(spark, 0, 40), base, part_col="cell", stats_cols=["id"]
        )
        real_publish = mf._publish
        real_delete = mf.snapshot_delete
        state = {"fired": False}

        def racing_publish(b, header):
            if not state["fired"] and header["op"] == "upsert":
                state["fired"] = True
                real_delete(spark.range(30, 35), b)
            return real_publish(b, header)

        batch = (
            spark.range(10, 15)
            .withColumn("cell", (F.col("id") % 4).cast("int"))
            .withColumn("val", F.lit(-9).cast("long"))
        )
        with mock.patch.object(mf, "_publish", racing_publish):
            with pytest.raises(SnapshotConflict, match="strict isolation"):
                mf.snapshot_upsert(batch, base, retries=3, isolation="strict")
        assert state["fired"]

    def test_strict_clears_concurrent_optimize(self, spark, tmp_path):
        """Physical/metadata-only maintenance never conflicts: a
        concurrent OPTIMIZE is cleared by op type alone."""
        import unittest.mock as mock

        import ddf_flink_spark.functions.manifest as mf

        base = _mkbase(tmp_path, "m101")
        snapshot_create(
            _frame(spark, 0, 40), base, part_col="cell", stats_cols=["id"]
        )
        snapshot_append(_frame(spark, 40, 80), base)
        real_publish = mf._publish
        state = {"fired": False}

        def racing_publish(b, header):
            if not state["fired"] and header["op"] == "delete":
                state["fired"] = True
                mf.snapshot_optimize(spark, b, min_files=2)
            return real_publish(b, header)

        with mock.patch.object(mf, "_publish", racing_publish):
            v = mf.snapshot_delete(
                spark.range(0, 5), base, retries=3, isolation="strict"
            )
        assert state["fired"] and v == 4
        got = snapshot_read(spark, base)
        assert got.count() == 75

    def test_bad_isolation_value_rejected(self, spark, tmp_path):
        base = _mkbase(tmp_path, "m102")
        snapshot_create(_frame(spark, 0, 10), base)
        with pytest.raises(ValueError, match="isolation"):
            from ddf_flink_spark.functions.manifest import snapshot_delete

            snapshot_delete(spark.range(0, 2), base, isolation="serializable")


class TestUpsertSchemaDiscipline:
    """Round-11 hardening: upsert used to accept schema drift — a new
    column silently vanished on read (recorded-schema scan), and a
    type change broke the store at some FUTURE read inside a Spark
    task. Upsert now validates like append."""

    def test_new_column_requires_merge_schema(self, spark, tmp_path):
        from ddf_flink_spark.functions.manifest import snapshot_upsert

        base = _mkbase(tmp_path, "m103")
        snapshot_create(_frame(spark, 0, 20), base, part_col="cell")
        up = _frame(spark, 5, 10).withColumn("extra", F.lit("x"))
        with pytest.raises(ValueError, match="merge_schema"):
            snapshot_upsert(up, base)
        v = snapshot_upsert(up, base, merge_schema=True)
        got = snapshot_read(spark, base, version=v)
        assert "extra" in got.columns
        rows = {r["id"]: r["extra"] for r in got.collect()}
        assert rows[5] == "x" and rows[0] is None  # old rows NULL-fill
        assert len(rows) == 20

    def test_type_change_rejected_up_front(self, spark, tmp_path):
        from ddf_flink_spark.functions.manifest import snapshot_upsert

        base = _mkbase(tmp_path, "m104")
        snapshot_create(_frame(spark, 0, 20), base, part_col="cell")
        bad = (
            spark.range(0, 3)
            .withColumn("cell", (F.col("id") % 4).cast("int"))
            .withColumn("val", F.lit("not-a-long"))
        )
        with pytest.raises(ValueError, match="type changes are a rewrite"):
            snapshot_upsert(bad, base)
        # store unharmed: still fully readable
        assert snapshot_read(spark, base).count() == 20


class TestSizeAwareOptimize:
    def test_refs_carry_part_bytes(self, spark, tmp_path):
        import ddf_flink_spark.functions.manifest as mf

        base = _mkbase(tmp_path, "m105")
        snapshot_create(_frame(spark, 0, 40), base, part_col="cell")
        h = mf._load_header(base)
        ref = h["file_segs"][0]
        assert "part_bytes" in ref
        m = mf._load_manifest(base)
        by_part: dict = {}
        for e in m["files"]:
            assert e["bytes"] > 0
            k = mf._part_key(e["part"])
            by_part[k] = by_part.get(k, 0) + e["bytes"]
        assert ref["part_bytes"] == by_part

    def test_small_file_bytes_skips_right_sized_partitions(
        self, spark, tmp_path
    ):
        from ddf_flink_spark.functions.manifest import snapshot_optimize

        base = _mkbase(tmp_path, "m106")
        snapshot_create(_frame(spark, 0, 40), base, part_col="cell")
        snapshot_append(_frame(spark, 40, 80), base)
        v = snapshot_versions(base)[-1]
        # threshold below every real file size: nothing qualifies
        assert (
            snapshot_optimize(spark, base, min_files=2, small_file_bytes=1)
            == v
        )
        # generous threshold: the small files fold as usual
        v2 = snapshot_optimize(
            spark, base, min_files=2, small_file_bytes=10**9
        )
        assert v2 == v + 1
        assert snapshot_read(spark, base).count() == 80

    def test_ref_exclude_shrinks_part_bytes(self, spark, tmp_path):
        import ddf_flink_spark.functions.manifest as mf

        base = _mkbase(tmp_path, "m107")
        snapshot_create(_frame(spark, 0, 40), base, part_col="cell")
        ref = mf._load_header(base)["file_segs"][0]
        out = mf._ref_exclude(ref, {"0", "1"})
        assert set(out["part_stats"]) == {"2", "3"}
        assert set(out["part_bytes"]) == {"2", "3"}


class TestConditionalMerge:
    """snapshot_merge — conditional MERGE (round-11 verdict #2):
    WHEN MATCHED UPDATE (all | subset) / WHEN MATCHED DELETE /
    WHEN NOT MATCHED INSERT, one atomic commit."""

    def _seed(self, spark, tmp_path, name, **kw):
        from ddf_flink_spark.functions.manifest import snapshot_create

        base = _mkbase(tmp_path, name)
        df = (
            spark.range(0, 100)
            .withColumn("val", (F.col("id") * 3).cast("long"))
            .withColumn("tag", F.concat(F.lit("t"), F.col("id")))
        )
        snapshot_create(
            df, base, id_col="id",
            stats_cols=["id"], bloom_cols=["id"], **kw,
        )
        return base, df

    def _src(self, spark):
        """Op-coded batch: delete 0-9, update val of 10-19, insert 200-204."""
        return (
            spark.range(0, 10)
            .withColumn("op", F.lit("d"))
            .withColumn("val", F.lit(None).cast("long"))
            .unionByName(
                spark.range(10, 20)
                .withColumn("op", F.lit("u"))
                .withColumn("val", F.lit(-1).cast("long"))
            )
            .unionByName(
                spark.range(200, 205)
                .withColumn("op", F.lit("i"))
                .withColumn("val", F.lit(7).cast("long"))
            )
        )

    def test_mixed_iud_is_one_atomic_commit(self, spark, tmp_path):
        from ddf_flink_spark.functions.manifest import snapshot_merge

        base, _ = self._seed(spark, tmp_path, "mg1")
        v = snapshot_merge(
            self._src(spark), base,
            when_matched_update=["val"],
            when_matched_delete="op = 'd'",
        )
        # atomicity: ONE commit carries all three effects — a reader
        # can never see the deletes without the inserts
        assert snapshot_versions(base) == [1, 2] and v == 2
        got = snapshot_read(spark, base)
        assert got.count() == 100 - 10 + 5
        assert got.filter(F.col("id") < 10).count() == 0
        upd = got.filter(F.col("id") == 15).collect()[0]
        assert upd["val"] == -1 and upd["tag"] == "t15"  # untouched col kept
        ins = got.filter(F.col("id") == 203).collect()[0]
        assert ins["val"] == 7 and ins["tag"] is None  # NULL-filled
        # the pre-merge version still serves the old rows (no torn state)
        old = snapshot_read(spark, base, version=1)
        assert old.count() == 100
        assert old.filter(F.col("id") == 15).collect()[0]["val"] == 45

    def test_txn_replay_is_noop(self, spark, tmp_path):
        from ddf_flink_spark.functions.manifest import snapshot_merge

        base, _ = self._seed(spark, tmp_path, "mg2")
        kw = dict(
            when_matched_update=["val"], when_matched_delete="op = 'd'",
            txn=("apply", 7),
        )
        v1 = snapshot_merge(self._src(spark), base, **kw)
        v2 = snapshot_merge(self._src(spark), base, **kw)
        assert v1 == v2 and snapshot_versions(base) == [1, 2]

    def test_update_all_replaces_whole_row(self, spark, tmp_path):
        from ddf_flink_spark.functions.manifest import snapshot_merge

        base, _ = self._seed(spark, tmp_path, "mg3")
        src = (
            spark.range(10, 12)
            .withColumn("val", F.lit(-5).cast("long"))
            .withColumn("tag", F.lit("new"))
        )
        snapshot_merge(src, base)  # defaults: update all, insert
        got = snapshot_read(spark, base)
        assert got.count() == 100
        row = got.filter(F.col("id") == 10).collect()[0]
        assert row["val"] == -5 and row["tag"] == "new"

    def test_no_insert_drops_unmatched(self, spark, tmp_path):
        from ddf_flink_spark.functions.manifest import snapshot_merge

        base, _ = self._seed(spark, tmp_path, "mg4")
        src = (
            spark.range(98, 103)
            .withColumn("val", F.lit(-5).cast("long"))
            .withColumn("tag", F.lit("new"))
        )
        snapshot_merge(src, base, when_not_matched_insert=False)
        got = snapshot_read(spark, base)
        assert got.count() == 100  # 98, 99 updated; 100-102 dropped
        assert got.filter(F.col("id") >= 100).count() == 0
        assert got.filter(F.col("id") == 99).collect()[0]["val"] == -5

    def test_insert_only_merge_leaves_matched_untouched(self, spark, tmp_path):
        from ddf_flink_spark.functions.manifest import snapshot_merge

        base, _ = self._seed(spark, tmp_path, "mg5")
        src = (
            spark.range(95, 105)
            .withColumn("val", F.lit(-5).cast("long"))
            .withColumn("tag", F.lit("new"))
        )
        snapshot_merge(src, base, when_matched_update=None)
        got = snapshot_read(spark, base)
        assert got.count() == 105
        assert got.filter(F.col("id") == 99).collect()[0]["val"] == 99 * 3
        assert got.filter(F.col("id") == 101).collect()[0]["val"] == -5

    def test_source_only_columns_dropped_without_merge_schema(
        self, spark, tmp_path
    ):
        from ddf_flink_spark.functions.manifest import snapshot_merge

        base, _ = self._seed(spark, tmp_path, "mg6")
        v = snapshot_merge(
            self._src(spark), base,
            when_matched_update="all", when_matched_delete="op = 'd'",
        )
        got = snapshot_read(spark, base)
        assert "op" not in got.columns
        # and WITH merge_schema the op column evolves in (documented)
        snapshot_merge(
            self._src(spark).withColumnRenamed("op", "opcode"), base,
            when_matched_update="all", when_matched_delete="opcode = 'd'",
            merge_schema=True,
        )
        got2 = snapshot_read(spark, base)
        assert "opcode" in got2.columns

    def test_update_cols_validated(self, spark, tmp_path):
        from ddf_flink_spark.functions.manifest import snapshot_merge

        base, _ = self._seed(spark, tmp_path, "mg7")
        src = spark.range(0, 5).withColumn("val", F.lit(1).cast("long"))
        with pytest.raises(ValueError, match="merge key"):
            snapshot_merge(src, base, when_matched_update=["id"])
        with pytest.raises(ValueError, match="absent from the source"):
            snapshot_merge(src, base, when_matched_update=["nope"])
        with pytest.raises(ValueError, match="'all'"):
            snapshot_merge(src, base, when_matched_update="some")

    def test_matched_read_bounded_by_admission(
        self, spark, tmp_path, monkeypatch
    ):
        """The partial-update target read is file-pruned by stats/Bloom
        admission of the source ids — a 2-id trickle merge against a
        multi-file table reads ~1 admitting file, not the table."""
        import ddf_flink_spark.functions.manifest as mf
        from ddf_flink_spark.functions.manifest import (
            snapshot_create, snapshot_merge,
        )

        base = _mkbase(tmp_path, "mg8")
        df = (
            spark.range(0, 400)
            .withColumn("val", (F.col("id") * 3).cast("long"))
            .repartitionByRange(4, "id")
            .sortWithinPartitions("id")
        )
        snapshot_create(df, base, id_col="id", stats_cols=["id"])
        assert len(_load_manifest(base)["files"]) == 4
        seen: list[int] = []
        real = mf._read_entries

        def spy(spark_, base_, entries, *a, **kw):
            seen.append(len(entries))
            return real(spark_, base_, entries, *a, **kw)

        monkeypatch.setattr(mf, "_read_entries", spy)
        src = spark.range(250, 252).withColumn("val", F.lit(-1).cast("long"))
        snapshot_merge(src, base, when_matched_update=["val"])
        assert seen and seen[0] == 1, seen  # only the admitting file
        got = snapshot_read(spark, base)
        assert got.filter(F.col("id") == 250).collect()[0]["val"] == -1
        assert got.count() == 400

    def test_strict_merge_aborts_on_raced_overlap(self, spark, tmp_path):
        """strict isolation covers the prepare→publish window: a
        commit racing between the header load and the publish that
        touches the batch's ids aborts the merge."""
        import ddf_flink_spark.functions.manifest as mf
        from ddf_flink_spark.functions.manifest import (
            SnapshotConflict, snapshot_merge,
        )

        base, _ = self._seed(spark, tmp_path, "mg9")
        src = spark.range(10, 12).withColumn("val", F.lit(-1).cast("long"))
        real_load = mf._load_header
        raced = {"done": False}
        orig_publish = mf._publish

        def racing_publish(base_, m):
            if not raced["done"]:
                raced["done"] = True
                # a concurrent delete of id 10 lands first
                snapshot_delete(spark.range(10, 11), base_)
            return orig_publish(base_, m)

        monkeypatch = pytest.MonkeyPatch()
        try:
            monkeypatch.setattr(mf, "_publish", racing_publish)
            with pytest.raises(SnapshotConflict):
                snapshot_merge(
                    src, base, isolation="strict", retries=3,
                )
        finally:
            monkeypatch.undo()


class TestDeleteWhere:
    def test_predicate_delete_and_noop_tick(self, spark, tmp_path):
        from ddf_flink_spark.functions.manifest import snapshot_delete_where

        base = _mkbase(tmp_path, "dw1")
        snapshot_create(_frame(spark, 0, 300), base, part_col="cell")
        v = snapshot_delete_where(
            spark, base, where="val > 600"
        )  # val = id*3+1 > 600 → id >= 200
        assert v == 2
        got = snapshot_read(spark, base)
        assert got.count() == 200
        assert got.filter(F.col("id") >= 200).count() == 0
        # re-fire: nothing matches → current version, NO new commit
        assert snapshot_delete_where(spark, base, where="val > 600") == 2
        assert snapshot_versions(base) == [1, 2]

    def test_delete_where_scans_only_admitting_files(
        self, spark, tmp_path, monkeypatch
    ):
        """The resolving scan rides snapshot_read's zone-map admission:
        an id-range predicate on an id-clustered table opens only the
        files overlapping the range (q302's retention shape)."""
        import ddf_flink_spark.functions.manifest as mf
        from ddf_flink_spark.functions.manifest import snapshot_delete_where

        base = _mkbase(tmp_path, "dw2")
        df = (
            spark.range(0, 400)
            .withColumn("val", (F.col("id") * 3).cast("long"))
            .repartitionByRange(4, "id")
            .sortWithinPartitions("id")
        )
        snapshot_create(df, base, id_col="id", stats_cols=["id"])
        assert len(_load_manifest(base)["files"]) == 4
        seen: list[int] = []
        real = mf._read_entries

        def spy(spark_, base_, entries, *a, **kw):
            seen.append(len(entries))
            return real(spark_, base_, entries, *a, **kw)

        monkeypatch.setattr(mf, "_read_entries", spy)
        v = snapshot_delete_where(spark, base, between=("id", 350, 399))
        assert seen and seen[0] == 1, seen  # one admitting file of 4
        assert v == 2
        assert snapshot_read(spark, base).count() == 350

    def test_batch_tag_makes_retention_tick_idempotent(self, spark, tmp_path):
        from ddf_flink_spark.functions.manifest import snapshot_delete_where

        base = _mkbase(tmp_path, "dw3")
        snapshot_create(_frame(spark, 0, 100), base)
        v1 = snapshot_delete_where(
            spark, base, between=("id", 0, 9), batch_tag="tick-1"
        )
        v2 = snapshot_delete_where(
            spark, base, between=("id", 0, 9), batch_tag="tick-1"
        )
        assert v1 == v2 == 2 and snapshot_versions(base) == [1, 2]


class TestDeleteTxnReplay:
    def test_delete_txn_replay_is_noop(self, spark, tmp_path):
        base = _mkbase(tmp_path, "dt1")
        snapshot_create(_frame(spark, 0, 100), base)
        v1 = snapshot_delete(spark.range(0, 5), base, txn=("gc", 3))
        v2 = snapshot_delete(spark.range(0, 5), base, txn=("gc", 3))
        assert v1 == v2 and snapshot_versions(base) == [1, 2]
        # a LATER txn version commits
        v3 = snapshot_delete(spark.range(5, 8), base, txn=("gc", 4))
        assert v3 == 3
        assert snapshot_read(spark, base).count() == 92

    def test_cdf_delete_cascade_crash_replay(self, spark, tmp_path):
        """q300's shape, crash-replayed: the consumer delivers version
        v, the handler cascades txn-guarded delete+upsert downstream,
        the cursor write is 'lost' (simulated crash), and v is
        REDELIVERED — the downstream version count must not change."""
        from ddf_flink_spark.functions.manifest import (
            snapshot_delete as sdel,
            snapshot_upsert as sups,
        )
        from ddf_flink_spark.streaming.cdf import SnapshotChangeStream

        up = _mkbase(tmp_path, "dt2_up")
        down = _mkbase(tmp_path, "dt2_down")
        cons = str(tmp_path / "dt2_cursor")
        snapshot_create(_frame(spark, 0, 50), up)
        snapshot_create(_frame(spark, 0, 50).select("id", "val"), down)
        cs = SnapshotChangeStream(spark, up, cons, start_version=1)
        snapshot_append(_frame(spark, 50, 60), up)     # v2: inserts
        snapshot_delete(spark.range(0, 5), up)          # v3: deletes

        def apply(delta, v):
            dels = delta.filter(F.col("_change") == "delete").select("id")
            if not dels.isEmpty():
                sdel(dels, down, txn=("idx_del", v))
            ins = delta.filter(F.col("_change") == "insert").select("id", "val")
            if not ins.isEmpty():
                sups(ins, down, txn=("idx", v))

        assert cs.process_available(apply) == 2
        versions_after = snapshot_versions(down)
        # simulated crash: rewind the cursor and redeliver both versions
        cs._write_cursor(1)
        assert cs.process_available(apply) == 2
        assert snapshot_versions(down) == versions_after  # no burn
        assert snapshot_read(spark, down).count() == 55

    def test_cdf_commit_rejects_beyond_latest(self, spark, tmp_path):
        from ddf_flink_spark.streaming.cdf import SnapshotChangeStream

        up = _mkbase(tmp_path, "dt3_up")
        snapshot_create(_frame(spark, 0, 10), up)
        cs = SnapshotChangeStream(
            spark, up, str(tmp_path / "dt3_cursor"), start_version=1
        )
        snapshot_append(_frame(spark, 10, 20), up)
        with pytest.raises(ValueError, match="latest commit"):
            cs.commit(12)  # typo'd version: latest is 2
        cs.commit(2)
        assert cs.cursor() == 2


class TestZOrderCluster:
    def test_two_col_cluster_prunes_both_columns(self, spark, tmp_path):
        """cluster_by=['a','b'] Z-orders: after OPTIMIZE a box probe on
        EITHER column admits a strict subset of files (lexical order
        would leave b's per-file range domain-wide), and the rewrite
        stays row-exact."""
        import ddf_flink_spark.functions.manifest as mf
        from ddf_flink_spark.functions.manifest import snapshot_optimize

        base = _mkbase(tmp_path, "zo1")
        df0 = (
            spark.range(0, 2000)
            .withColumn("cell", (F.col("id") % 2).cast("int"))
            .withColumn("a", (F.col("id") * 7919 % 1000).cast("long"))
            .withColumn("b", (F.col("id") * 104729 % 1000).cast("long"))
        )
        snapshot_create(
            df0.filter(F.col("id") % 4 == 0).repartition(2), base,
            part_col="cell", stats_cols=["a", "b"],
        )
        for r in (1, 2, 3):
            snapshot_append(
                df0.filter(F.col("id") % 4 == r).repartition(2), base
            )

        def admitted(col, lo, hi):
            m = mf._load_manifest(base)
            return sum(
                1
                for e in m["files"]
                if e.get("stats", {}).get(col) is None
                or mf._stats_admits(e["stats"][col], lo, hi)
            ), len(m["files"])

        for c in ("a", "b"):
            adm, total = admitted(c, 100, 150)
            assert adm == total  # interleaved arrival: no pruning yet
        snapshot_optimize(
            spark, base, min_files=2, max_records_per_file=100,
            cluster_by=["a", "b"],
        )
        for c in ("a", "b"):
            adm, total = admitted(c, 100, 150)
            assert adm < total, (c, adm, total)
        for c in ("a", "b"):
            got = snapshot_read(spark, base, between=(c, 100, 150))
            exact = df0.filter((F.col(c) >= 100) & (F.col(c) <= 150))
            assert got.count() == exact.count()
            assert {r["id"] for r in got.collect()} == {
                r["id"] for r in exact.collect()
            }
        assert snapshot_read(spark, base).count() == 2000

    def test_string_cluster_col_falls_back_to_lexical(self, spark, tmp_path):
        """A string cluster column has no numeric bucket order: the
        rewrite falls back to the lexical sort (still row-exact)."""
        from ddf_flink_spark.functions.manifest import snapshot_optimize

        base = _mkbase(tmp_path, "zo2")
        df0 = (
            spark.range(0, 400)
            .withColumn("cell", (F.col("id") % 2).cast("int"))
            .withColumn("a", (F.col("id") * 7 % 100).cast("long"))
            .withColumn("s", F.concat(F.lit("k"), F.col("id") % 10))
        )
        snapshot_create(df0.repartition(4), base, part_col="cell",
                        stats_cols=["a"])
        snapshot_append(df0.repartition(4), base)
        snapshot_optimize(
            spark, base, min_files=2, max_records_per_file=100,
            cluster_by=["a", "s"],
        )
        assert snapshot_read(spark, base).count() == 800

    def test_zorder_key_n_validation(self):
        from ddf_flink_spark.functions.layout import zorder_key_n

        with pytest.raises(ValueError, match="2 columns"):
            zorder_key_n([F.lit(1)])
        with pytest.raises(ValueError, match="signed-long"):
            zorder_key_n([F.lit(1)] * 8, bits=9)

    def test_zorder_key_n_interleave_matches_python(self, spark):
        """Bit-exact contract: column j's bit i lands at position
        i·k + j — checked against a pure-python interleave over a
        3-column probe grid."""
        from ddf_flink_spark.functions.layout import zorder_key_n

        rows = [(x, y, z) for x in (0, 1, 5) for y in (0, 3, 7)
                for z in (0, 2, 6)]
        df = spark.createDataFrame(rows, "x long, y long, z long")
        got = {
            (r["x"], r["y"], r["z"]): r["k"]
            for r in df.withColumn(
                "k", zorder_key_n([F.col("x"), F.col("y"), F.col("z")],
                                  bits=4)
            ).collect()
        }

        def py_key(vals, bits=4, k=3):
            out = 0
            for i in range(bits):
                for j, v in enumerate(vals):
                    out |= ((v >> i) & 1) << (i * k + j)
            return out

        for key, kv in got.items():
            assert kv == py_key(list(key)), key


class TestCompactProbeBound:
    def test_probe_prune_skipped_above_check_budget(
        self, spark, tmp_path, monkeypatch
    ):
        """ADVICE round-11: the entries×ids admission prune is capped —
        above the budget compact skips straight to the full probe and
        stays correct."""
        import ddf_flink_spark.functions.manifest as mf

        base = _mkbase(tmp_path, "cb1")
        df = (
            spark.range(0, 400)
            .withColumn("cell", (F.col("id") / 100).cast("int"))
            .withColumn("val", (F.col("id") * 3).cast("long"))
            .repartition(1)
        )
        snapshot_create(df, base, part_col="cell", stats_cols=["id"])
        snapshot_delete(spark.range(250, 251), base)
        monkeypatch.setattr(mf, "_PROBE_ADMISSION_MAX_CHECKS", 0)
        tagged_sizes: list[int] = []
        real = mf._read_entries

        def spy(spark_, base_, entries, *a, **kw):
            if kw.get("tag_commit_version"):
                tagged_sizes.append(len(entries))
            return real(spark_, base_, entries, *a, **kw)

        monkeypatch.setattr(mf, "_read_entries", spy)
        mf.snapshot_compact(spark, base)
        assert tagged_sizes[0] == 4, tagged_sizes  # full probe, no prune
        got = snapshot_read(spark, base)
        assert got.count() == 399
        assert got.filter(F.col("id") == 250).count() == 0


class TestNWriterConvergence:
    """Round-11 verdict #6: N concurrent writers × mixed ops against
    ONE store, barrier start, model-checked final state. Real
    snapshot_append/upsert/delete calls race on threads (a pyspark
    driver cannot fork mid-session; the commit protocol's atomicity is
    os.link, which threads contend for exactly like processes — the
    2-process fork test above pins the cross-process case). Model:
    lww writers all converge, the batch-tagged replay commits once,
    and a strict writer either commits or aborts CLEANLY with
    SnapshotConflict — never a torn or lost state."""

    def test_four_writers_mixed_ops_converge(self, spark, tmp_path):
        import threading

        import ddf_flink_spark.functions.manifest as mf

        base = _mkbase(tmp_path, "nw1")
        df0 = (
            spark.range(0, 100)
            .withColumn("val", (F.col("id") * 3).cast("long"))
        )
        snapshot_create(df0, base, id_col="id", stats_cols=["id"])

        def mk(lo, hi, val=None):
            out = spark.range(lo, hi).withColumn(
                "val",
                (F.col("id") * 3).cast("long")
                if val is None
                else F.lit(val).cast("long"),
            )
            return out

        barrier = threading.Barrier(5)
        results: dict = {}

        def run(tag, fn):
            barrier.wait()
            try:
                results[tag] = fn()
            except Exception as exc:  # noqa: BLE001
                results[tag] = exc

        workers = [
            ("append", lambda: snapshot_append(mk(1000, 1100), base,
                                               retries=10)),
            ("upsert", lambda: mf.snapshot_upsert(mk(50, 61, val=-1), base,
                                                  retries=10)),
            ("delete", lambda: snapshot_delete(spark.range(0, 11), base,
                                               retries=10)),
            ("tagged", lambda: [
                snapshot_append(mk(2000, 2100), base, retries=10,
                                batch_tag="replayed"),
                snapshot_append(mk(2000, 2100), base, retries=10,
                                batch_tag="replayed"),
            ]),
            ("strict", lambda: mf.snapshot_upsert(mk(70, 81, val=-2), base,
                                                  retries=10,
                                                  isolation="strict")),
        ]
        threads = [
            threading.Thread(target=run, args=(t, fn)) for t, fn in workers
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join(300)
        # every lww writer converged (no exception)
        for tag in ("append", "upsert", "delete", "tagged"):
            assert not isinstance(results[tag], Exception), (
                tag, results[tag],
            )
        strict_ok = not isinstance(results["strict"], Exception)
        if not strict_ok:
            # the ONLY acceptable failure: a clean strict abort
            assert isinstance(results["strict"], SnapshotConflict), results
        got = {r["id"]: r["val"] for r in snapshot_read(spark, base).collect()}
        # model: base 0..99 minus deleted 0..10, upsert 50..60 → -1,
        # appends exactly once each, strict 70..80 → -2 iff committed
        expect = {i: i * 3 for i in range(11, 100)}
        expect.update({i: -1 for i in range(50, 61)})
        expect.update({i: i * 3 for i in range(1000, 1100)})
        expect.update({i: i * 3 for i in range(2000, 2100)})
        if strict_ok:
            expect.update({i: -2 for i in range(70, 81)})
        assert got == expect, {
            k: (got.get(k), expect.get(k))
            for k in set(got) ^ set(expect)
            | {k for k in set(got) & set(expect) if got[k] != expect[k]}
        }
        # version accounting: 1 create + one commit per successful
        # writer; the tagged replay burned exactly ONE version
        n_commits = 4 + (1 if strict_ok else 0)
        assert snapshot_versions(base) == list(range(1, n_commits + 2))
        # and the replayed tag appears once in the lineage
        assert mf._load_header(base)["batch_tags"].count("replayed") == 1


class TestColumnMapping:
    """Header-only RENAME / DROP COLUMN (round-11 verdict missing #2):
    no data file touched; readers reverse-map physical names per
    commit; resurrection rejected with a clear story."""

    def _seed(self, spark, tmp_path, name):
        from ddf_flink_spark.functions.manifest import snapshot_create

        base = _mkbase(tmp_path, name)
        df = (
            spark.range(0, 100)
            .withColumn("cell", (F.col("id") % 2).cast("int"))
            .withColumn("val", (F.col("id") * 3).cast("long"))
            .withColumn("junk", F.concat(F.lit("j"), F.col("id")))
        )
        snapshot_create(
            df.repartitionByRange(2, "id").sortWithinPartitions("id"),
            base, part_col="cell", id_col="id", stats_cols=["val"],
        )
        return base, df

    def test_rename_is_header_only_and_reads_map(self, spark, tmp_path):
        import ddf_flink_spark.functions.manifest as mf

        base, df = self._seed(spark, tmp_path, "cm1")
        files_before = _paths(_load_manifest(base))
        v = mf.snapshot_rename_column(base, "val", "value")
        assert v == 2
        assert _paths(_load_manifest(base)) == files_before  # no rewrite
        got = snapshot_read(spark, base)
        assert got.columns == ["id", "cell", "value"][:2] + ["value", "junk"][
            :2
        ] or got.columns == ["id", "cell", "value", "junk"]
        assert got.filter(F.col("id") == 10).collect()[0]["value"] == 30
        # post-rename appends write the NEW physical name; both eras
        # union under the logical name
        snapshot_append(
            spark.range(100, 150)
            .withColumn("cell", (F.col("id") % 2).cast("int"))
            .withColumn("value", (F.col("id") * 3).cast("long"))
            .withColumn("junk", F.lit("x")),
            base,
        )
        got = snapshot_read(spark, base)
        assert got.count() == 150
        assert got.filter(F.col("id") == 120).collect()[0]["value"] == 360
        # time travel: the pre-rename snapshot serves its OLD name
        assert "val" in snapshot_read(spark, base, version=1).columns

    def test_zone_map_prunes_across_rename(self, spark, tmp_path):
        """Old files recorded stats under the old physical name; a
        between probe on the NEW logical name still prunes them."""
        import ddf_flink_spark.functions.manifest as mf

        base, df = self._seed(spark, tmp_path, "cm2")
        mf.snapshot_rename_column(base, "val", "value")
        got = snapshot_read(spark, base, between=("value", 30, 60))
        assert got.count() == 11
        full = snapshot_read(spark, base)
        assert len(got.inputFiles()) < len(full.inputFiles())

    def test_drop_and_resurrection_guard(self, spark, tmp_path):
        import ddf_flink_spark.functions.manifest as mf

        base, df = self._seed(spark, tmp_path, "cm3")
        files_before = _paths(_load_manifest(base))
        mf.snapshot_drop_column(base, "junk")
        assert _paths(_load_manifest(base)) == files_before  # header-only
        got = snapshot_read(spark, base)
        assert "junk" not in got.columns and got.count() == 100
        # time travel still serves the dropped column
        assert "junk" in snapshot_read(spark, base, version=1).columns
        # re-adding the dropped name is rejected (stale resurrection)
        with pytest.raises(ValueError, match="resurrect"):
            snapshot_append(
                spark.range(200, 210)
                .withColumn("cell", F.lit(0).cast("int"))
                .withColumn("val", F.lit(0).cast("long"))
                .withColumn("junk", F.lit("z")),
                base, merge_schema=True,
            )
        # ... and so is re-adding a renamed-away name
        mf.snapshot_rename_column(base, "val", "value")
        with pytest.raises(ValueError, match="resurrect"):
            snapshot_append(
                spark.range(200, 210)
                .withColumn("cell", F.lit(0).cast("int"))
                .withColumn("value", F.lit(0).cast("long"))
                .withColumn("val", F.lit(1).cast("long")),
                base, merge_schema=True,
            )
        # renaming ONTO a banned name is rejected too
        with pytest.raises(ValueError, match="resurrect|renamed away"):
            mf.snapshot_rename_column(base, "value", "junk")

    def test_id_and_partition_columns_rejected(self, spark, tmp_path):
        import ddf_flink_spark.functions.manifest as mf

        base, _ = self._seed(spark, tmp_path, "cm4")
        for fn in (
            lambda: mf.snapshot_rename_column(base, "id", "key"),
            lambda: mf.snapshot_drop_column(base, "id"),
        ):
            with pytest.raises(ValueError, match="id column"):
                fn()
        for fn in (
            lambda: mf.snapshot_rename_column(base, "cell", "bucket"),
            lambda: mf.snapshot_drop_column(base, "cell"),
        ):
            with pytest.raises(ValueError, match="partition column"):
                fn()

    def test_chained_renames_resolve_transitively(self, spark, tmp_path):
        import ddf_flink_spark.functions.manifest as mf

        base, df = self._seed(spark, tmp_path, "cm5")
        mf.snapshot_rename_column(base, "val", "v2")
        snapshot_append(
            spark.range(100, 120)
            .withColumn("cell", (F.col("id") % 2).cast("int"))
            .withColumn("v2", (F.col("id") * 3).cast("long"))
            .withColumn("junk", F.lit("x")),
            base,
        )
        mf.snapshot_rename_column(base, "v2", "v3")
        got = snapshot_read(spark, base)
        # era 1 files (physical 'val'), era 2 ('v2'), all read as v3
        assert got.filter(F.col("id") == 10).collect()[0]["v3"] == 30
        assert got.filter(F.col("id") == 110).collect()[0]["v3"] == 330
        assert got.count() == 120

    def test_maintenance_works_across_rename(self, spark, tmp_path):
        """delete → compact and the change feed keep working after a
        rename (the survivor rewrite reads era-mapped, writes the new
        physical name)."""
        import ddf_flink_spark.functions.manifest as mf

        base, df = self._seed(spark, tmp_path, "cm6")
        mf.snapshot_rename_column(base, "val", "value")
        snapshot_delete(spark.range(0, 5), base)
        mf.snapshot_compact(spark, base)
        got = snapshot_read(spark, base)
        assert got.count() == 95
        assert got.filter(F.col("id") == 10).collect()[0]["value"] == 30
        ch = mf.snapshot_changes(
            spark, base, 1, snapshot_versions(base)[-1]
        )
        assert "value" in ch.columns
        assert ch.filter(F.col("_change") == "delete").count() == 5
