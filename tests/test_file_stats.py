"""Manifest file-statistics + data skipping (Iceberg lower/upper bounds).

End-to-end correctness of the judged form is oracle-gated
(tests/test_oracle_parity.py::stats_pruned_scan); these tests pin the
planner semantics the oracle can't see — conservative keeps for missing
bounds, NULL handling, type normalization, and the refusal paths.
"""

from __future__ import annotations

import datetime
import json
import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from conftest import SF_SMOKE
from local_llm_iceberg_cdw_spark.catalog import load_table
from local_llm_iceberg_cdw_spark.formats.snapshot_parquet import SnapshotParquetTable, TableMetadata


def _mk(spark, tmp_path, rows, name="t"):
    t = SnapshotParquetTable(spark, str(tmp_path / name))
    t.create(spark.createDataFrame(rows).coalesce(1))
    return t


def test_append_records_bounds(spark, tmp_path):
    rows = [
        Row(k=1, s="apple", ts=datetime.datetime(1997, 1, 2, 3, 4, 5), x=2.5),
        Row(k=9, s="zebra", ts=datetime.datetime(1999, 12, 31), x=-1.0),
    ]
    t = _mk(spark, tmp_path, rows)
    snap = t._load()[-1]
    assert snap.file_stats is not None
    (entries,) = snap.file_stats.values()
    merged = {}
    for e in entries:
        for c, b in e["bounds"].items():
            lo, hi = merged.get(c, b)
            merged[c] = [min(lo, b[0]), max(hi, b[1])]
    assert merged["k"] == [1, 9]
    assert merged["s"] == ["apple", "zebra"]
    assert merged["x"] == [-1.0, 2.5]
    # timestamps normalize to sortable ISO strings
    assert merged["ts"] == ["1997-01-02T03:04:05", "1999-12-31T00:00:00"]
    # stats survive the JSON round-trip (manifest re-load)
    reloaded = SnapshotParquetTable(spark, t.path)._load()[-1]
    assert reloaded.file_stats == snap.file_stats


def test_all_null_column_has_no_bounds_and_is_kept(spark, tmp_path):
    from pyspark.sql.types import IntegerType, StructField, StructType

    schema = StructType(
        [StructField("k", IntegerType()), StructField("v", IntegerType())]
    )
    t = SnapshotParquetTable(spark, str(tmp_path / "nulls"))
    t.create(spark.createDataFrame([(1, None), (2, None)], schema).coalesce(1))
    snap = t._load()[-1]
    (entries,) = snap.file_stats.values()
    assert all("v" not in e["bounds"] for e in entries)
    # no bounds → cannot disprove → file kept
    kept, total = t.plan_files([("v", "=", 42)])
    assert kept == total and len(total) >= 1


def test_plan_files_skips_disjoint_ranges(spark, tmp_path):
    t = SnapshotParquetTable(spark, str(tmp_path / "b"))
    t.create(spark.createDataFrame([(i,) for i in range(0, 10)], "k int").coalesce(1))
    t.append(spark.createDataFrame([(i,) for i in range(100, 110)], "k int").coalesce(1))
    kept, total = t.plan_files([("k", ">=", 100)])
    assert len(total) == 2 and len(kept) == 1
    # boundary inclusivity: = on each file's exact max keeps only that file
    kept9, _ = t.plan_files([("k", "=", 9)])
    kept109, _ = t.plan_files([("k", "=", 109)])
    assert len(kept9) == 1 and len(kept109) == 1 and kept9 != kept109
    # nothing matches between the ranges
    kept_none, _ = t.plan_files([("k", ">", 9), ("k", "<", 100)])
    assert kept_none == []


def test_plan_files_keeps_files_without_recorded_stats(spark, tmp_path):
    t = SnapshotParquetTable(spark, str(tmp_path / "nostats"))
    t.create(spark.createDataFrame([(i,) for i in range(5)], "k int"))
    # simulate a pre-feature snapshot: strip the stats and re-publish
    meta = t._meta()
    meta.snapshots[-1].file_stats = None
    meta.publish(meta.snapshots, meta.refs)
    kept, total = t.plan_files([("k", ">", 10**9)])
    assert kept == total and len(total) >= 1


def test_plan_files_type_mismatch_is_conservative(spark, tmp_path):
    t = _mk(spark, tmp_path, [Row(k=1), Row(k=2)], "tm")
    kept, total = t.plan_files([("k", "=", "not-a-number")])
    assert kept == total  # incomparable literal can never disprove


def test_plan_files_rejects_unsupported_op(spark, tmp_path):
    t = _mk(spark, tmp_path, [Row(k=1)], "badop")
    with pytest.raises(ValueError, match="unsupported prune ops"):
        t.plan_files([("k", "!=", 1)])


def test_read_pruned_equals_filtered_full_read(spark, tmp_path):
    li = load_table(spark, SF_SMOKE, "lineitem").select(
        "l_shipdate", "l_orderkey", "l_quantity"
    )
    t = SnapshotParquetTable(spark, str(tmp_path / "li"))
    cut = "1998-01-01T00:00:00"
    t.create(li.filter(F.col("l_shipdate") < cut).coalesce(1))
    t.append(li.filter(F.col("l_shipdate") >= cut).coalesce(1))
    preds = [("l_shipdate", ">=", "1998-06-01T00:00:00")]
    df, n_read, n_total = t.read_pruned(preds)
    assert (n_read, n_total) == (1, 2)
    expect = t.read().filter(F.col("l_shipdate") >= "1998-06-01T00:00:00")
    assert df.count() == expect.count() > 0
    assert df.agg(F.sum("l_orderkey")).collect() == expect.agg(F.sum("l_orderkey")).collect()


def test_read_pruned_empty_keep_set_is_empty_frame(spark, tmp_path):
    t = _mk(spark, tmp_path, [Row(k=1), Row(k=2)], "empty")
    df, n_read, n_total = t.read_pruned([("k", ">", 100)])
    assert n_read == 0 and n_total >= 1
    assert df.count() == 0 and df.columns == ["k"]


def test_read_pruned_refuses_deletes_supports_identity_partitions(spark, tmp_path):
    t = SnapshotParquetTable(spark, str(tmp_path / "mor"))
    t.create(spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"))
    t.delete_where_mor("k = 1", key_cols=["k"])
    with pytest.raises(ValueError, match="equality deletes"):
        t.read_pruned([("k", "=", 2)])
    # identity-partitioned layouts read kept files per dir with a
    # basePath anchor (r16): the partition column materializes from the
    # dir names, and BOTH levers apply — partition-value path pruning
    # and manifest bounds on the non-partition columns
    p = SnapshotParquetTable(spark, str(tmp_path / "part"))
    p.create(
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "b")], "k int, v string"
        ).repartition("v"),
        partition_by=["v"],
    )
    df, n_read, n_total = p.read_pruned([("v", "=", "b")])
    assert df.columns == ["k", "v"]  # partition column present and typed
    assert sorted((r.k, r.v) for r in df.collect()) == [(2, "b"), (3, "b")]
    assert n_read < n_total  # the v=a dir was never opened
    df2, n2, _ = p.read_pruned([("v", "=", "b"), ("k", ">=", 3)])
    assert [(r.k, r.v) for r in df2.collect()] == [(3, "b")]


def test_rewriting_verbs_collect_stats(spark, tmp_path):
    """compact / COW delete / MERGE all record bounds for the dirs they
    write; MOR delete carries the parent's (still-valid superset) bounds."""
    t = SnapshotParquetTable(spark, str(tmp_path / "verbs"))
    t.create(spark.createDataFrame([(i, "x") for i in range(10)], "k int, v string").coalesce(1))
    t.append(spark.createDataFrame([(i, "y") for i in range(100, 110)], "k int, v string").coalesce(1))

    t.compact(target_file_count=1)
    snap = t._load()[-1]
    assert set(snap.file_stats) == set(snap.data_dirs)
    kept, total = t.plan_files([("k", ">=", 200)])
    assert kept == [] and len(total) == 1  # compacted bounds cover 0..109

    t.delete_where("k >= 100")
    snap = t._load()[-1]
    assert set(snap.file_stats) == set(snap.data_dirs)
    kept, _ = t.plan_files([("k", ">=", 100)])
    assert kept == []  # surviving file's bounds are 0..9

    t.merge(spark.createDataFrame([(5, "z"), (500, "w")], "k int, v string"), ["k"])
    snap = t._load()[-1]
    assert set(snap.file_stats) == set(snap.data_dirs)
    kept, _ = t.plan_files([("k", "=", 500)])
    assert len(kept) >= 1

    parent_stats = snap.file_stats
    t.delete_where_mor("k = 5", key_cols=["k"])
    assert t._load()[-1].file_stats == parent_stats


def test_sorted_compaction_enables_skipping(spark, tmp_path):
    """The rewrite_data_files SORT strategy: interleaved (unclustered)
    appends defeat bounds pruning; compact(sort=True) range-clusters the
    table by its WRITE ORDERED BY columns, after which a selective
    predicate provably skips files."""
    t = SnapshotParquetTable(spark, str(tmp_path / "sorted"))
    # two appends, each spanning the FULL key range → every file's bounds
    # cover everything → no skipping possible
    t.create(
        spark.createDataFrame([(i,) for i in range(0, 1000, 2)], "k int").coalesce(1),
        sort_order=["k"],
    )
    t.append(spark.createDataFrame([(i,) for i in range(1, 1000, 2)], "k int").coalesce(1))
    assert t._load()[-1].sort_order == ["k"]  # inherited
    kept, total = t.plan_files([("k", ">=", 990)])
    assert kept == total and len(total) == 2  # unclustered: nothing skips

    t.compact(target_file_count=4, sort=True)
    kept, total = t.plan_files([("k", ">=", 990)])
    assert len(total) == 4 and len(kept) < len(total)
    df, n_read, n_total = t.read_pruned([("k", ">=", 990)])
    assert n_read < n_total
    assert sorted(r.k for r in df.collect()) == list(range(990, 1000))


def test_sorted_compact_requires_sort_order(spark, tmp_path):
    t = _mk(spark, tmp_path, [Row(k=1), Row(k=2)], "nosort")
    with pytest.raises(ValueError, match="requires a table sort order"):
        t.compact(sort=True)


def test_sort_order_survives_verbs_and_manifest_roundtrip(spark, tmp_path):
    t = SnapshotParquetTable(spark, str(tmp_path / "so"))
    t.create(spark.createDataFrame([(i, i) for i in range(20)], "k int, v int"), sort_order=["k"])
    t.delete_where("k >= 15")
    t.merge(spark.createDataFrame([(1, 99)], "k int, v int"), ["k"])
    t.delete_where_mor("k = 2", key_cols=["k"])
    t.compact()
    assert SnapshotParquetTable(spark, t.path)._load()[-1].sort_order == ["k"]
    # sort order evolves freely (unlike the partition spec)
    t2 = SnapshotParquetTable(spark, t.path)
    # compact() cleared pending MOR deletes, so append continues cleanly
    t2.append(spark.createDataFrame([(100, 0)], "k int, v int"), sort_order=["v"])
    assert t2._load()[-1].sort_order == ["v"]


def test_partitions_metadata_table(spark, tmp_path):
    """Iceberg t.partitions shape: per-partition record/file counts from
    footers + hive dir names; unpartitioned tables report one '' row."""
    t = SnapshotParquetTable(spark, str(tmp_path / "pmeta"))
    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b")], "k int, src string"
    )
    t.create(df.repartition(1), partition_by=["src"])
    rows = {r.partition: (r.record_count, r.file_count) for r in t.partitions().collect()}
    assert rows["src=a"][0] == 2 and rows["src=b"][0] == 3 - 2
    # append into one partition: counts move, time travel sees the old state
    t.append(spark.createDataFrame([(4, "b")], "k int, src string").repartition(1))
    after = {r.partition: r.record_count for r in t.partitions().collect()}
    assert after == {"src=a": 2, "src=b": 2}
    v1 = t._load()[0].snapshot_id
    before = {r.partition: r.record_count for r in t.partitions(version=v1).collect()}
    assert before == {"src=a": 2, "src=b": 1}

    u = SnapshotParquetTable(spark, str(tmp_path / "unpart"))
    u.create(spark.createDataFrame([(i,) for i in range(7)], "k int").coalesce(1))
    (row,) = u.partitions().collect()
    assert (row.partition, row.record_count, row.file_count) == ("", 7, 1)


def test_read_changes_semantics(spark, tmp_path):
    """Changelog invariants the judged aggregate can't isolate: a
    compaction emits NO logical changes, a COW delete emits deletes via
    the generic diff, the fast append path equals the generic diff, and
    non-ancestor ranges raise."""
    t = SnapshotParquetTable(spark, str(tmp_path / "cdc"))
    t.create(spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"))  # v1
    t.append(spark.createDataFrame([(3, "c")], "k int, v string"))  # v2
    t.compact()  # v3: physical only
    t.delete_where("k = 1")  # v4: COW delete
    ch = t.read_changes(1, 4)
    got = sorted((r._commit_version, r._change_type, r.k) for r in ch.collect())
    assert got == [(2, "insert", 3), (4, "delete", 1)]
    # fast path (append) == generic diff of the same commit
    generic = t.read(version=2).exceptAll(t.read(version=1))
    fast = t.read_changes(1, 2).drop("_change_type", "_commit_version")
    assert sorted(map(tuple, fast.collect())) == sorted(map(tuple, generic.collect()))
    with pytest.raises(ValueError, match="empty changelog"):
        t.read_changes(2, 2)
    with pytest.raises(ValueError, match="unknown snapshot"):
        t.read_changes(1, 99)


def test_append_carries_parent_stats_forward(spark, tmp_path):
    t = SnapshotParquetTable(spark, str(tmp_path / "carry"))
    t.create(spark.createDataFrame([(1,)], "k int"))
    t.append(spark.createDataFrame([(2,)], "k int"))
    snap = t._load()[-1]
    assert set(snap.file_stats) == set(snap.data_dirs)
    # the published metadata file stays valid JSON with the new field
    meta = t._meta()
    with open(TableMetadata.file(t.path, meta.version)) as fh:
        assert "file_stats" in json.load(fh)["snapshots"][-1]
