"""Round-16 invariants: hidden-partition transforms (parse, projection,
NULL dirs, bucket/range semantics, read_pruned gating), the
pdelete-orphan reclaim (ADVICE r15 medium), plan_files' rename-aware
bounds miss (ADVICE r15 low), the backslash-escape literal scanner
(ADVICE r15 low), the fail-fast unscoped-sink guard (ADVICE r15 low /
VERDICT r15 #6), the JVM-side micro-unit snap equivalence (VERDICT r15
#5), and the table-as-a-stream subscription's crash/replay semantics
(VERDICT r15 #4).
"""

from __future__ import annotations

import datetime as dt
import json
import os
import time

import pytest
from pyspark.sql import functions as F

from local_llm_iceberg_cdw_spark.formats.snapshot_parquet import (
    SnapshotParquetTable,
    parse_partition_field,
)


# --- transform spec parsing -------------------------------------------------


def test_parse_partition_field_shapes():
    assert parse_partition_field("days(ts)") == {
        "transform": "days",
        "source": "ts",
        "param": None,
        "name": "ts_day",
    }
    # param-encoded names (ADVICE r16 medium): bucket(16) and bucket(32)
    # must derive DISTINCT hive keys or a param-only spec evolution makes
    # the planner prune old-layout dirs through the new param
    assert parse_partition_field("bucket(16, user_id)")["name"] == "user_id_bucket_16"
    assert parse_partition_field("truncate(4, s)") == {
        "transform": "truncate",
        "source": "s",
        "param": 4,
        "name": "s_trunc_4",
    }
    assert parse_partition_field("hours(ts)")["name"] == "ts_hour"
    assert parse_partition_field("years(ts)")["name"] == "ts_year"
    assert parse_partition_field("  plain_col ")["transform"] == "identity"
    with pytest.raises(ValueError, match="unknown partition transform"):
        parse_partition_field("dayz(ts)")  # typo must not become identity
    with pytest.raises(ValueError, match="positive"):
        parse_partition_field("bucket(0, x)")


def test_spec_validation_rejects_bad_source_and_collision(spark, tmp_path):
    df = spark.createDataFrame([(1, "a")], "id long, ts_day string")
    t = SnapshotParquetTable(spark, str(tmp_path / "t"))
    with pytest.raises(ValueError, match="unknown source column"):
        t.create(df, partition_by=["days(nope)"])
    t2 = SnapshotParquetTable(spark, str(tmp_path / "t2"))
    ts_df = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1), "x")], "id long, ts timestamp, ts_day string"
    )
    with pytest.raises(ValueError, match="already exists"):
        t2.create(ts_df, partition_by=["days(ts)"])  # derived-name collision


# --- hidden layout + pruning semantics ---------------------------------------


def _mk_days_table(spark, path, rows):
    df = spark.createDataFrame(rows, "id long, ts timestamp, v double")
    t = SnapshotParquetTable(spark, path)
    t.create(df, partition_by=["days(ts)"])
    return t, df


def test_hidden_column_never_in_schema_and_null_dir_pruned(spark, tmp_path):
    rows = [
        (1, dt.datetime(2024, 1, 1, 5), 1.0),
        (2, dt.datetime(2024, 1, 2, 5), 2.0),
        (3, None, 3.0),  # lands in __HIVE_DEFAULT_PARTITION__
    ]
    t, df = _mk_days_table(spark, str(tmp_path / "t"), rows)
    assert t.read().columns == ["id", "ts", "v"]  # ts_day hidden
    assert t.read().count() == 3  # NULL row still visible in full reads
    # any comparison predicate disproves the NULL dir outright
    kept, total = t.plan_files([("ts", ">=", dt.datetime(2024, 1, 1))])
    assert len(kept) == 2 and len(total) == 3
    assert not any("__HIVE_DEFAULT_PARTITION__" in f for f in kept)
    # equality on a specific day keeps exactly that day's file
    kept, _ = t.plan_files([("ts", "=", dt.datetime(2024, 1, 2, 5))])
    assert len(kept) == 1 and "ts_day=2024-01-02" in kept[0]


def test_bucket_prunes_only_on_equality(spark, tmp_path):
    df = spark.createDataFrame([(i, float(i)) for i in range(50)], "id long, v double")
    t = SnapshotParquetTable(spark, str(tmp_path / "t"))
    t.create(df, partition_by=["bucket(8, id)"])
    kept_eq, total = t.plan_files([("id", "=", 7)])
    buckets = {seg for f in kept_eq for seg in f.split(os.sep) if "id_bucket_8=" in seg}
    assert len(buckets) == 1
    # hashing destroys order: a range predicate must keep every bucket
    # (bounds may still prune individual files, but not via the bucket)
    kept_rng, _ = t.plan_files([("id", ">=", 0)])
    assert len(kept_rng) == len(total)
    # and the pruned read returns exactly the matching rows
    got, _, _ = t.read_pruned([("id", "=", 7)])
    assert [r.id for r in got.collect()] == [7]


def test_read_pruned_identity_and_hidden_layouts(spark, tmp_path):
    df = spark.createDataFrame([(1, "a", 1.0), (2, "b", 2.0)], "id long, k string, v double")
    # identity spec: kept files anchor to their dir's basePath, so the
    # partition column materializes from the path
    ti = SnapshotParquetTable(spark, str(tmp_path / "ident"))
    ti.create(df, partition_by=["k"])
    got_i, ni, ti_total = ti.read_pruned([("k", "=", "b")])
    assert got_i.columns == ["id", "k", "v"]
    assert [(r.id, r.k) for r in got_i.collect()] == [(2, "b")]
    assert ni < ti_total
    th = SnapshotParquetTable(spark, str(tmp_path / "hidden"))
    th.create(df, partition_by=["truncate(1, k)"])
    got, _, _ = th.read_pruned([("k", "=", "b")])
    assert got.columns == ["id", "k", "v"]  # k survives: it lives in the files
    assert [r.id for r in got.collect()] == [2]


def test_time_transform_projection_is_conservative_at_boundaries(spark, tmp_path):
    rows = [(i, dt.datetime(2024, 1, 1 + i), float(i)) for i in range(5)]
    t, _ = _mk_days_table(spark, str(tmp_path / "t"), rows)
    # ts < midnight of Jan 3: the PROJECTION keeps Jan 3's dir
    # (inclusive projection is conservative at granule boundaries) …
    field = parse_partition_field("days(ts)")
    assert t._partition_values_may_match(
        [field], {"ts_day": "2024-01-03"}, [("ts", "<", dt.datetime(2024, 1, 3))], t._snapshot_for(None, None)
    )
    # … and the FILE-BOUNDS lever then disproves it exactly (the Jan 3
    # file's min ts is not < midnight), so the plan reads two files;
    # the residual filter guarantees correctness either way
    kept, total = t.plan_files([("ts", "<", dt.datetime(2024, 1, 3))])
    assert {f.split("ts_day=")[1][:10] for f in kept} == {
        "2024-01-01",
        "2024-01-02",
    }
    got, _, _ = t.read_pruned([("ts", "<", dt.datetime(2024, 1, 3))])
    assert sorted(r.id for r in got.collect()) == [0, 1]


def test_rename_blocked_on_transform_source(spark, tmp_path):
    rows = [(1, dt.datetime(2024, 1, 1), 1.0)]
    t, _ = _mk_days_table(spark, str(tmp_path / "t"), rows)
    with pytest.raises(ValueError, match="transform source"):
        t.rename_column("ts", "event_ts")
    t.rename_column("v", "val")  # non-partition columns still rename


def test_sorted_compact_composes_dir_and_bounds_pruning(spark, tmp_path):
    """VERDICT r15 #7: compact(sort=True) on a transform-partitioned
    table range-clusters by (partition value, sort order), so a hot
    ``ts_day=`` dir splits into files with tight DISJOINT sort-column
    bounds — the planner then prunes TWICE: source-column predicates
    drop whole day dirs (inclusive projection), and sort-column
    predicates drop files inside the kept dirs (manifest bounds)."""
    rows = [
        (d * 10_000 + u, dt.datetime(2024, 1, 1 + d, u % 24), float(u))
        for d in range(4)
        for u in range(1500)
    ]
    df = spark.createDataFrame(rows, "id long, ts timestamp, uid double")
    t = SnapshotParquetTable(spark, str(tmp_path / "t"))
    # three unclustered appends (uid arrives shuffled within each day)
    t.create(df.filter("id % 3 = 0"), partition_by=["days(ts)"], sort_order=["uid"])
    t.append(df.filter("id % 3 = 1"))
    t.append(df.filter("id % 3 = 2"))
    t.compact(target_file_count=12, sort=True)
    preds = [
        ("ts", ">=", dt.datetime(2024, 1, 2)),
        ("ts", "<", dt.datetime(2024, 1, 3)),
        ("uid", "<", 100.0),
    ]
    kept, total = t.plan_files(preds)
    day2 = [f for f in total if "ts_day=2024-01-02" in f]
    # lever 1: only the probed day's dir survives the projection
    assert all("ts_day=2024-01-02" in f for f in kept)
    # lever 2: the sorted rewrite split the day into multiple files and
    # the uid bounds dropped at least one of them
    assert len(day2) > 1 and len(kept) < len(day2)
    got, n_kept, n_total = t.read_pruned(preds)
    assert n_kept == len(kept) and n_total == len(total)
    assert sorted(r.id for r in got.collect()) == sorted(
        r.id
        for r in df.filter(
            (F.col("ts") >= F.lit(dt.datetime(2024, 1, 2)))
            & (F.col("ts") < F.lit(dt.datetime(2024, 1, 3)))
            & (F.col("uid") < 100.0)
        ).collect()
    )


def test_read_pruned_mixed_layout_union(spark, tmp_path):
    """Spec evolution leaves dirs with DIFFERENT layouts; read_pruned
    unions per-dir basePath reads, so pruning works across the mix and
    the result equals the read()-based filter."""
    df = spark.createDataFrame(
        [(i, "ab"[i % 2], float(i)) for i in range(8)], "id long, k string, v double"
    )
    t = SnapshotParquetTable(spark, str(tmp_path / "t"))
    t.create(df.filter("id < 4").coalesce(1))  # unpartitioned era
    t.append(
        df.filter("id >= 4").repartition("k"),
        partition_by=["k"],
        evolve_partition_spec=True,
    )
    got, n_read, n_total = t.read_pruned([("k", "=", "b"), ("id", ">=", 2)])
    expect = sorted(
        (r.id, r.k) for r in t.read().filter("k = 'b' and id >= 2").collect()
    )
    assert sorted((r.id, r.k) for r in got.collect()) == expect
    # the old dir can't path-prune on k (no k= segment) but the new
    # era's k=a dir is never opened
    assert n_read < n_total


# --- plan_files: rename-aware bounds miss (ADVICE r15 low) -------------------


def test_plan_files_never_prunes_through_stale_rename_bounds(spark, tmp_path):
    """Name-reusing rename chain b→c then a→b: file_stats stay keyed by
    physical names, so a bounds lookup of logical 'b' would hit the OLD
    physical-b (now c) bounds and could wrongly prune — plan_files must
    keep everything until compact() materializes the names."""
    t = SnapshotParquetTable(spark, str(tmp_path / "t"))
    # physical a in [1,1], physical b in [100,100] — one data file
    t.create(spark.createDataFrame([(1, 100)], "a long, b long").coalesce(1))
    t.rename_column("b", "c")
    t.rename_column("a", "b")  # logical b IS physical a
    kept, total = t.plan_files([("b", "=", 1)])  # stale physical-b bounds say [100,100]
    assert kept == total == [total[0]]  # conservative: no bounds pruning under renames
    with pytest.raises(ValueError, match="unmaterialized"):
        t.read_pruned([("b", "=", 1)])
    t.compact()
    got, _, _ = t.read_pruned([("b", "=", 1)])
    assert [(r.b, r.c) for r in got.collect()] == [(1, 100)]


# --- remove_orphan_files reclaims pdelete dirs (ADVICE r15 medium) -----------


def test_orphan_cleanup_reclaims_leaked_pdelete_dir(spark, tmp_path):
    t = SnapshotParquetTable(spark, str(tmp_path / "t"))
    t.create(spark.createDataFrame([(i, float(i)) for i in range(6)], "id long, v double"))
    # a positional delete that crashed between the pdelete write and the
    # manifest commit leaves pdelete-snap-{next sid} wreckage
    sid = t._load()[-1].snapshot_id + 1
    leaked = os.path.join(t.path, f"pdelete-snap-{sid:06d}")
    spark.createDataFrame([("x", 0)], "file_path string, pos long").write.parquet(leaked)
    # the wreckage BLOCKS the next positional-delete commit at that sid
    with pytest.raises(Exception, match="already exists|ErrorIfExists|path.*exist"):
        t.delete_where_positions("id = 3")
    removed = t.remove_orphan_files(older_than_ms=int(time.time() * 1000) + 60_000)
    assert removed == 1 and not os.path.isdir(leaked)
    t.delete_where_positions("id = 3")  # recovery: the verb commits cleanly
    assert sorted(r.id for r in t.read().collect()) == [0, 1, 2, 4, 5]


# --- SQL literal scanner: backslash escapes (ADVICE r15 low) ------------------


def test_string_literal_spans_handle_backslash_escapes():
    from local_llm_iceberg_cdw_spark.plans.sql import _AS_OF, _string_literal_spans

    sql = r"SELECT 'it\'s fine' AS x, orders TIMESTAMP AS OF '2024-01-01' "
    spans = _string_literal_spans(sql)
    # the first literal closes at "fine'", NOT at the escaped quote
    assert sql[spans[0][0] : spans[0][1]] == r"'it\'s fine'"
    m = _AS_OF.search(sql)
    assert m is not None
    inside = any(s <= m.start() < e for s, e in spans)
    assert not inside  # the genuine clause is visible to the binder
    # clause-like text INSIDE a backslash-escaped literal stays data
    sql2 = r"SELECT 'orders TIMESTAMP AS OF \'2024\'' AS y"
    spans2 = _string_literal_spans(sql2)
    m2 = _AS_OF.search(sql2)
    assert m2 is None or any(s <= m2.start() < e for s, e in spans2)


def test_version_as_of_ref_name_binds(spark, tmp_path):
    """Iceberg's `VERSION AS OF 'tag_or_branch'` ref form: a quoted
    version literal resolves through the refs table instead of crashing
    int() — the prompt-contract dialect covers all three travel forms
    (timestamp, snapshot id, named ref)."""
    from local_llm_iceberg_cdw_spark.plans.sql import bind_time_travel

    t = SnapshotParquetTable(spark, str(tmp_path / "t"))
    t.create(spark.createDataFrame([(1,)], "k long"))
    t.create_tag("v1")
    t.append(spark.createDataFrame([(2,)], "k long"))
    bound = bind_time_travel(
        spark, "SELECT count(*) AS n FROM t VERSION AS OF 'v1'", {"t": t}
    )
    assert "VERSION AS OF" not in bound
    assert spark.sql(bound).first()["n"] == 1
    bound2 = bind_time_travel(
        spark, "SELECT count(*) AS n FROM t VERSION AS OF 2", {"t": t}
    )
    assert spark.sql(bound2).first()["n"] == 2


# --- fail-fast unscoped sink (ADVICE r15 low / VERDICT r15 #6) ----------------


def test_sink_refuses_to_commit_unscoped_first_batch(spark, tmp_path):
    from local_llm_iceberg_cdw_spark.streaming.jobs import (
        make_idempotent_snapshot_sink,
    )

    table = SnapshotParquetTable(spark, str(tmp_path / "t"))
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(ckpt)  # checkpoint dir exists but Spark's metadata doesn't
    sink = make_idempotent_snapshot_sink(table, "q16", checkpoint_dir=ckpt)
    batch = spark.createDataFrame([(1,)], "id long")
    with pytest.raises(RuntimeError, match="no readable metadata"):
        sink(batch, 0)
    assert not table.exists()  # refused BEFORE any table write
    # once the metadata appears (as Spark writes it at query start),
    # the same sink commits, scoped to that run id
    with open(os.path.join(ckpt, "metadata"), "w") as f:
        json.dump({"id": "run-abc"}, f)
    sink(batch, 0)
    props = table._load()[-1].commit_props
    assert props["streaming_run_id"] == "run-abc" and props["batch_id"] == 0


# --- JVM-side micro snap equivalence (VERDICT r15 #5) -------------------------


def test_micro_snap_column_matches_decimal_repr_halfup(spark):
    """The r16 JVM column snap (CAST AS DECIMAL(18,6) * 1e6 → BIGINT)
    must agree with the retired per-row Decimal(repr(v)) HALF_UP snap on
    tie-adjacent doubles — the exact semantics the judged drain's oracle
    pins."""
    from decimal import ROUND_HALF_UP, Decimal

    probes = [0.0000005, 0.0000015, 1.0000005, 123.4567895, 0.1 + 0.2, 2.675]
    micro_q = Decimal("0.000001")
    expected = [
        int(Decimal(repr(v)).quantize(micro_q, rounding=ROUND_HALF_UP).scaleb(6))
        for v in probes
    ]
    got = [
        r.m
        for r in spark.createDataFrame([(v,) for v in probes], "value double")
        .select(
            (F.col("value").cast("decimal(18,6)") * F.lit(1_000_000))
            .cast("long")
            .alias("m")
        )
        .collect()
    ]
    assert got == expected


def test_plan_files_in_list_predicates(spark, tmp_path):
    """IN-membership pruning (the partition-probe shape): each member
    projects like an equality — a dir survives iff SOME member could
    match; file bounds disprove when no member falls in [lo, hi]."""
    rows = [(i, dt.datetime(2024, 1, 1 + i), float(i)) for i in range(6)]
    t, df = _mk_days_table(spark, str(tmp_path / "t"), rows)
    kept, total = t.plan_files(
        [("ts", "in", [dt.datetime(2024, 1, 2), dt.datetime(2024, 1, 5)])]
    )
    assert {f.split("ts_day=")[1][:10] for f in kept} == {"2024-01-02", "2024-01-05"}
    got, n_read, n_total = t.read_pruned(
        [("ts", "in", [dt.datetime(2024, 1, 2), dt.datetime(2024, 1, 5)])]
    )
    assert sorted(r.id for r in got.collect()) == [1, 4]
    assert n_read == 2 and n_total == 6
    # bucket spec: membership prunes to the union of the members' buckets
    dfb = spark.createDataFrame([(i, float(i)) for i in range(64)], "id long, v double")
    tb = SnapshotParquetTable(spark, str(tmp_path / "b"))
    tb.create(dfb, partition_by=["bucket(8, id)"])
    gotb, nb, tb_total = tb.read_pruned([("id", "in", [3, 17])])
    assert sorted(r.id for r in gotb.collect()) == [3, 17]
    assert nb <= 2 < tb_total
    # unpartitioned bounds: IN entirely outside a file's range prunes it
    tu = SnapshotParquetTable(spark, str(tmp_path / "u"))
    tu.create(spark.createDataFrame([(1,), (2,)], "k long").coalesce(1))
    tu.append(spark.createDataFrame([(100,), (101,)], "k long").coalesce(1))
    kept, total = tu.plan_files([("k", "in", [100, 101])])
    assert len(kept) == 1 and len(total) == 2
    with pytest.raises(ValueError, match="unsupported prune ops"):
        tu.plan_files([("k", "in", 100)])  # scalar operand rejected


# --- table-as-a-stream subscription (VERDICT r15 #4) --------------------------


def _mk_source(spark, path, n_appends=3):
    t = SnapshotParquetTable(spark, path)
    t.create(spark.createDataFrame([(0, 0)], "batch long, id long"))
    for b in range(1, n_appends + 1):
        t.append(spark.createDataFrame([(b, b)], "batch long, id long"))
    return t


def test_stream_table_changes_drains_and_resumes(spark, tmp_path):
    from local_llm_iceberg_cdw_spark.streaming.jobs import stream_table_changes

    src = _mk_source(spark, str(tmp_path / "src"))
    seen: list[tuple[int, int]] = []  # (batch_id, n_rows)

    def sink(df, bid):
        seen.append((bid, df.count()))

    ckpt = str(tmp_path / "ckpt")
    assert stream_table_changes(src, sink, ckpt) == [1, 2, 3, 4]
    assert seen == [(1, 1), (2, 1), (3, 1), (4, 1)]
    assert stream_table_changes(src, sink, ckpt) == []  # offsets hold
    src.append(spark.createDataFrame([(9, 9)], "batch long, id long"))
    assert stream_table_changes(src, sink, ckpt) == [5]
    # batch grouping: a fresh checkpoint with batch_snapshots=2 pairs
    # appends and uses the END snapshot id as the batch id
    seen.clear()
    assert stream_table_changes(
        src, sink, str(tmp_path / "ckpt2"), batch_snapshots=2
    ) == [2, 4, 5]
    assert seen == [(2, 2), (4, 2), (5, 1)]


def test_stream_table_changes_crash_replay_is_idempotent(spark, tmp_path):
    from local_llm_iceberg_cdw_spark.streaming.jobs import (
        make_idempotent_snapshot_sink,
        stream_table_changes,
    )

    src = _mk_source(spark, str(tmp_path / "src"))
    tgt = SnapshotParquetTable(spark, str(tmp_path / "tgt"))
    ckpt = str(tmp_path / "ckpt")
    stream_table_changes(src, make_idempotent_snapshot_sink(tgt, "sub", ckpt), ckpt)
    n_rows, n_snaps = tgt.read().count(), len(tgt._load())
    # crash window: sink committed batch 4 but the offset write was lost —
    # rewind the offset and re-drain; the ledger must no-op the replay
    with open(os.path.join(ckpt, "offsets"), "w") as f:
        json.dump({"last_snapshot_id": 3}, f)
    replayed = stream_table_changes(
        src, make_idempotent_snapshot_sink(tgt, "sub", ckpt), ckpt
    )
    assert replayed == [4]
    assert tgt.read().count() == n_rows and len(tgt._load()) == n_snaps


def test_stream_table_changes_non_append_semantics(spark, tmp_path):
    from local_llm_iceberg_cdw_spark.streaming.jobs import stream_table_changes

    src = _mk_source(spark, str(tmp_path / "src"), n_appends=1)
    src.compact()  # replace commit in the unprocessed range
    err_calls: list[int] = []
    with pytest.raises(ValueError, match="not append"):
        # the leading appends flow, THEN the replace refuses (offsets
        # already committed through the processed prefix)
        stream_table_changes(
            src, lambda df, bid: err_calls.append(bid), str(tmp_path / "ck_err")
        )
    assert err_calls == [1, 2]
    src.append(spark.createDataFrame([(5, 5)], "batch long, id long"))
    # skip mode: appends flow, the content-neutral rewrite is stepped over
    skip_calls: list[int] = []
    got = stream_table_changes(
        src,
        lambda df, bid: skip_calls.append(bid),
        str(tmp_path / "ck_skip"),
        on_non_append="skip",
    )
    assert got == [1, 2, 4] and skip_calls == [1, 2, 4]
    with pytest.raises(ValueError, match="on_non_append"):
        stream_table_changes(
            src, lambda df, bid: None, str(tmp_path / "ck_bad"), on_non_append="maybe"
        )
