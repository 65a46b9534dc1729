"""Round-19 invariants: the SCD2 refresh writes O(delta), never the
history (VERDICT r18 #1 — the r18 sink collected and ``replace``d the
FULL history per refresh, the driver-collect scale-killer class); the
CDC subscription's ``starting_version`` bounds a fresh checkpoint's
catch-up (VERDICT r18 #3); the sessionless commit's concurrency recheck
also catches a concurrent ``rollback_to`` (refs moved with no manifest
tail change — VERDICT r18 What's-wrong #2); and ``remove_orphan_files``
reclaims crash-leaked sink files under the r18 ``stream-staging/task-*/``
layout (ADVICE r18 medium).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from local_llm_iceberg_cdw_spark.formats.snapshot_parquet import SnapshotParquetTable

from conftest import SF_SMOKE


def _register(spark):
    from local_llm_iceberg_cdw_spark.streaming.table_source import (
        SnapshotTableDataSource,
    )

    spark.dataSource.register(SnapshotTableDataSource)


def _pipe(spark, src_path, tgt_path, ckpt, qname, **opts):
    writer = (
        spark.readStream.format("snapshot_table")
        .option("path", src_path)
        .load()
        .writeStream.format("snapshot_table")
        .option("path", tgt_path)
        .option("queryName", qname)
        .option("checkpointLocation", ckpt)
    )
    for k, v in opts.items():
        writer = writer.option(k, v)
    q = writer.trigger(availableNow=True).start()
    q.awaitTermination()


def _mk_src(spark, path, n=40):
    """A small versioned source: v1 = even ids, v2 = COW merge (update
    ids %4==0, insert odd ids), v3 = MOR delete of val < 0."""
    df = spark.range(n).select(
        F.col("id").alias("k"),
        (F.col("id") * 10 - 100).cast("double").alias("val"),
    )
    src = SnapshotParquetTable(spark, path)
    src.create(df.filter(F.col("k") % 2 == 0))
    src.merge(
        df.filter(F.col("k") % 4 == 0)
        .withColumn("val", F.col("val") - 1000.0)
        .unionByName(df.filter(F.col("k") % 2 == 1)),
        key_cols=["k"],
    )
    src.delete_where_mor("val < 0", key_cols=["k"])
    return src


class TestScd2DeltaWrites:
    """The SCD2 fold's per-refresh write is O(delta): one merge_mor
    snapshot whose single new data dir holds exactly |closed ∪ opened|
    rows, with every parent data file retained untouched."""

    def test_refresh_writes_delta_not_history(self, spark, tmp_path):
        from local_llm_iceberg_cdw_spark.operators.snapshots_op import (
            scd2_apply_changes,
        )
        from local_llm_iceberg_cdw_spark.streaming.jobs import stream_table_cdc

        src = _mk_src(spark, str(tmp_path / "src"))
        hist = SnapshotParquetTable(spark, str(tmp_path / "hist"))
        hist.create(
            spark.createDataFrame(
                [], "k long, val double, valid_from long, valid_to long"
            )
        )

        deltas = {}  # version -> expected |closed ∪ opened|

        def sink(batch_df, version):
            b = batch_df.localCheckpoint(eager=True)
            n_close = (
                hist.read()
                .filter(F.col("valid_to").isNull())
                .join(
                    b.filter(F.col("_change_type") == "delete").select("k").distinct(),
                    "k",
                    "left_semi",
                )
                .count()
            )
            n_open = b.filter(F.col("_change_type") == "insert").count()
            committed = scd2_apply_changes(
                hist, b, version, key_col="k", attr_cols=["val"], query_id="q19"
            )
            if committed:
                deltas[version] = n_close + n_open

        stream_table_cdc(src, sink, str(tmp_path / "ckpt"))
        snaps = hist._load()
        # create + one snapshot per folded version, each an O(delta) merge_mor
        folded = [s for s in snaps if (s.commit_props or {}).get("batch_id")]
        assert len(folded) == len(deltas) == 3
        hist_rows = hist.read().count()
        for s in folded:
            v = s.commit_props["batch_id"]
            new_dirs = set(s.data_dirs) - set(
                snaps[snaps.index(s) - 1].data_dirs
            )
            assert len(new_dirs) == 1, "merge_mor adds exactly one data dir"
            (new_dir,) = new_dirs
            written = sum(e["rows"] for e in s.file_stats[new_dir])
            assert written == deltas[v], (
                f"refresh v{v} wrote {written} rows, expected delta {deltas[v]}"
            )
            assert written < hist_rows, "a refresh must not rewrite the history"
            # parent files retained, not rewritten (MOR, not replace)
            assert set(snaps[snaps.index(s) - 1].data_dirs) <= set(s.data_dirs)
        # maintenance verb is merge_mor (equality-delete close), not replace
        assert all(s.operation == "overwrite" for s in folded)
        assert all(s.delete_files for s in folded)

    def test_history_reconstruction_equals_time_travel(self, spark, tmp_path):
        from local_llm_iceberg_cdw_spark.operators.snapshots_op import (
            scd2_apply_changes,
        )
        from local_llm_iceberg_cdw_spark.streaming.jobs import stream_table_cdc

        src = _mk_src(spark, str(tmp_path / "src"))
        hist = SnapshotParquetTable(spark, str(tmp_path / "hist"))
        hist.create(
            spark.createDataFrame(
                [], "k long, val double, valid_from long, valid_to long"
            )
        )
        stream_table_cdc(
            src,
            lambda b, v: scd2_apply_changes(
                hist, b, v, key_col="k", attr_cols=["val"], query_id="q19b"
            ),
            str(tmp_path / "ckpt"),
        )
        h = hist.read().localCheckpoint(eager=True)
        for v in (1, 2, 3):
            at_v = h.filter(
                (F.col("valid_from") <= v)
                & (F.col("valid_to").isNull() | (F.col("valid_to") > v))
            ).select("k", "val")
            state_v = src.read(version=v).select("k", "val")
            assert at_v.exceptAll(state_v).count() == 0
            assert state_v.exceptAll(at_v).count() == 0

    def test_replay_is_noop(self, spark, tmp_path):
        from local_llm_iceberg_cdw_spark.operators.snapshots_op import (
            scd2_apply_changes,
        )
        from local_llm_iceberg_cdw_spark.streaming.jobs import stream_table_cdc

        src = _mk_src(spark, str(tmp_path / "src"))
        hist = SnapshotParquetTable(spark, str(tmp_path / "hist"))
        hist.create(
            spark.createDataFrame(
                [], "k long, val double, valid_from long, valid_to long"
            )
        )
        stream_table_cdc(
            src,
            lambda b, v: scd2_apply_changes(
                hist, b, v, key_col="k", attr_cols=["val"], query_id="q19c"
            ),
            str(tmp_path / "ckpt"),
        )
        n = len(hist._load())
        assert (
            scd2_apply_changes(
                hist,
                src.read_changes(2, 3),
                3,
                key_col="k",
                attr_cols=["val"],
                query_id="q19c",
            )
            is False
        )
        assert len(hist._load()) == n


class TestCdcStartingVersion:
    def test_starting_version_bounds_fresh_catchup(self, spark, tmp_path):
        """VERDICT r18 #3: starting_version='latest' on a FRESH
        checkpoint delivers zero batches, then exactly the new commits;
        a numeric N starts the changelog strictly after N (exclusive,
        no initial-snapshot batch)."""
        from local_llm_iceberg_cdw_spark.streaming.jobs import stream_table_cdc

        src = _mk_src(spark, str(tmp_path / "src"))  # head = v3
        seen = []

        def sink(b, v):
            seen.append((v, b.count()))

        ckpt = str(tmp_path / "ckpt_latest")
        assert stream_table_cdc(src, sink, ckpt, starting_version="latest") == []
        assert seen == []
        extra = spark.range(5).select(
            F.col("id").alias("k"), F.lit(1.0).alias("val")
        )
        src.append(extra)
        assert stream_table_cdc(src, sink, ckpt, starting_version="latest") == [4]
        assert seen == [(4, 5)]

        # numeric: strictly after v2 = the v3 delete + the v4 append,
        # per-commit, no initial snapshot
        seen2 = []
        ckpt2 = str(tmp_path / "ckpt_n")
        got = stream_table_cdc(
            src,
            lambda b, v: seen2.append(
                (v, sorted(r["_change_type"] for r in b.select("_change_type").distinct().collect()))
            ),
            ckpt2,
            starting_version=2,
        )
        assert got == [3, 4]
        assert seen2 == [(3, ["delete"]), (4, ["insert"])]

        # an EXISTING checkpoint ignores the option entirely
        seen3 = []
        got3 = stream_table_cdc(
            src, lambda b, v: seen3.append(v), ckpt2, starting_version="latest"
        )
        assert got3 == [] and seen3 == []

        with pytest.raises(ValueError, match="starting_version"):
            stream_table_cdc(src, sink, str(tmp_path / "x"), starting_version="nope")


# --- hidden-transform partitioned sink targets (VERDICT r18 #4) ---------------


class TestSinkTransformTargets:
    def test_arrow_derivation_matches_spark_dir_names(self, spark, tmp_path):
        """The parity pin that makes transform targets safe: for the SAME
        frame, the sink's pure-pyarrow derivation + hive fanout produces
        EXACTLY the dir names the format's Spark-side writer
        (partition_transform_expr → partitionBy) produces — per
        transform, including negative ints, multibyte/special-char
        strings, and NULL sources (the hive sentinel dir).  Dir names
        compare DECODED (each k=v segment unquoted): Spark's
        escapePathName leaves non-ASCII raw while pyarrow
        percent-encodes it — both readers decode the two spellings to
        the same value (the real contract, exercised end-to-end by the
        truncate roundtrip below), and for time/int transforms the
        values are ASCII-safe so decoded parity IS byte parity."""
        import datetime as dt

        import pyarrow.dataset as pds

        from local_llm_iceberg_cdw_spark.formats.snapshot_parquet import (
            parse_partition_field,
        )
        from local_llm_iceberg_cdw_spark.streaming.table_source import (
            _derive_sink_partition_batch,
        )

        rows = [
            (1, dt.datetime(2024, 1, 5, 13, 7), 7, "abcdef"),
            (2, dt.datetime(2024, 1, 6, 0, 0), -7, "a=b/c d"),
            (3, dt.datetime(1999, 12, 31, 23, 59), 100, "dédalo"),
            (4, None, -1, None),
        ]
        df = spark.createDataFrame(rows, "id long, ts timestamp, n long, s string")

        def spark_dirs(spec):
            t = SnapshotParquetTable(spark, str(tmp_path / f"sp_{spec[0][:4]}_{abs(hash(tuple(spec)))%1000}"))
            t.create(df, partition_by=spec)
            d = t._load()[-1].data_dirs[0]
            out = set()
            for root, _dirs, files in os.walk(d):
                for f in files:
                    if f.endswith(".parquet"):
                        out.add(_decoded(os.path.relpath(root, d)))
            return out

        def arrow_dirs(spec):
            import pyarrow as pa

            fields = [parse_partition_field(p) for p in spec]
            batch = df.toArrow().combine_chunks().to_batches()[0]
            derived = _derive_sink_partition_batch(batch, fields)
            layout = [
                f["source"] if f["transform"] == "identity" else f["name"]
                for f in fields
            ]
            part = pds.partitioning(
                pa.schema([derived.schema.field(c) for c in layout]), flavor="hive"
            )
            d = str(tmp_path / f"ar_{spec[0][:4]}_{abs(hash(tuple(spec)))%1000}")
            pds.write_dataset(
                pa.Table.from_batches([derived]), d, format="parquet",
                partitioning=part,
            )
            out = set()
            for root, _dirs, files in os.walk(d):
                for f in files:
                    if f.endswith(".parquet"):
                        out.add(_decoded(os.path.relpath(root, d)))
            return out

        from urllib.parse import unquote

        def _decoded(rel):
            return tuple(
                tuple(unquote(part) for part in seg.split("=", 1))
                for seg in rel.split(os.sep)
            )

        for spec in (
            ["days(ts)"],
            ["months(ts)"],
            ["years(ts)"],
            ["hours(ts)"],
            ["truncate(4, n)"],
            ["truncate(3, s)"],
            ["years(ts)", "truncate(4, n)"],
        ):
            assert spark_dirs(spec) == arrow_dirs(spec), spec

    def test_pipe_into_days_target_prunes(self, spark, tmp_path):
        """End-to-end: readStream → writeStream into a days(ts) target —
        content matches the source, the spec is recorded, the hidden day
        column is NOT in the read schema, and a ts range predicate
        actually prunes files through the inclusive day projection."""
        import datetime as dt

        _register(spark)
        rows = [
            (i, dt.datetime(2024, 1, 1 + (i % 5), i % 24), float(i))
            for i in range(40)
        ]
        src = SnapshotParquetTable(spark, str(tmp_path / "src"))
        src.create(spark.createDataFrame(rows, "id long, ts timestamp, v double"))
        tgt = SnapshotParquetTable(spark, str(tmp_path / "tgt"))
        tgt.create(
            spark.createDataFrame([], "id long, ts timestamp, v double"),
            partition_by=["days(ts)"],
        )
        _pipe(spark, src.path, tgt.path, str(tmp_path / "ck"), "day19")

        got = tgt.read()
        assert sorted(got.columns) == ["id", "ts", "v"]  # hidden col dropped
        assert got.exceptAll(src.read()).count() == 0
        assert src.read().exceptAll(got).count() == 0
        assert tgt._load()[-1].partition_by == ["days(ts)"]

        cut = dt.datetime(2024, 1, 2, 0, 0)
        pruned, kept, total = tgt.read_pruned([("ts", "<", cut)])
        assert kept < total, "day projection must prune partitions"
        assert pruned.count() == src.read().filter(F.col("ts") < cut).count()

    def test_truncate_target_roundtrip_and_bucket_rejected(self, spark, tmp_path):
        _register(spark)
        vals = [(i, f"k{i%3}x{i}") for i in range(20)] + [(20, "dédalo=1/x")]
        src = SnapshotParquetTable(spark, str(tmp_path / "src"))
        src.create(spark.createDataFrame(vals, "id long, s string"))
        tgt = SnapshotParquetTable(spark, str(tmp_path / "tgt"))
        tgt.create(
            spark.createDataFrame([], "id long, s string"),
            partition_by=["truncate(2, s)"],
        )
        _pipe(spark, src.path, tgt.path, str(tmp_path / "ck"), "tr19")
        assert sorted((r.id, r.s) for r in tgt.read().collect()) == sorted(vals)

        btgt = SnapshotParquetTable(spark, str(tmp_path / "btgt"))
        btgt.create(
            spark.createDataFrame([], "id long, s string"),
            partition_by=["bucket(4, s)"],
        )
        with pytest.raises(Exception, match="bucket"):
            _pipe(spark, src.path, btgt.path, str(tmp_path / "ckb"), "bk19")

    def test_option_on_existing_unpartitioned_table_rejected(self, spark, tmp_path):
        """ADVICE r18: an existing table with spec None means
        UNPARTITIONED — partitionBy on it must fail in the ctor, not be
        adopted and then die at the first epoch commit."""
        from pyspark.sql.types import StructType

        from local_llm_iceberg_cdw_spark.streaming.table_source import (
            SnapshotTableStreamWriter,
        )

        t = SnapshotParquetTable(spark, str(tmp_path / "t"))
        t.create(spark.createDataFrame([(1, "a")], "id long, s string"))
        schema = t.read().schema
        with pytest.raises(ValueError, match="existing table's spec governs"):
            SnapshotTableStreamWriter(
                schema,
                {"path": t.path, "queryname": "q", "partitionby": "s"},
            )
        # absent table still adopts the option
        w = SnapshotTableStreamWriter(
            schema,
            {"path": str(tmp_path / "new"), "queryname": "q", "partitionby": "s"},
        )
        assert w.partition_by == ["s"]


# --- refs-aware concurrency recheck (VERDICT r18 What's-wrong #2) ------------


def test_commit_prewritten_append_detects_concurrent_rollback(
    spark, tmp_path, monkeypatch
):
    """A rollback_to landing between the sessionless append's staging and
    its publish moves refs['main'] WITHOUT appending a manifest entry —
    the tail compare alone misses it; the refs byte-compare must not."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from local_llm_iceberg_cdw_spark.formats import snapshot_parquet as sp

    t = SnapshotParquetTable(spark, str(tmp_path / "t"))
    t.create(spark.createDataFrame([(1,)], "id long"))
    t.append(spark.createDataFrame([(2,)], "id long"))  # v2 (to roll back over)
    schema_json = t._load()[-1].schema_json

    d = str(tmp_path / "t" / "data-snap-900001")
    os.makedirs(d)
    pq.write_table(pa.table({"id": pa.array([7], pa.int64())}), f"{d}/f.parquet")

    real_stats = SnapshotParquetTable._collect_file_stats
    raced = []

    def racing_stats(data_dir):
        if not raced:
            raced.append(True)
            t.rollback_to(1)  # refs move, manifest tail unchanged
        return real_stats(data_dir)

    monkeypatch.setattr(
        SnapshotParquetTable, "_collect_file_stats", staticmethod(racing_stats)
    )
    with pytest.raises(RuntimeError, match="concurrent ref update"):
        sp.commit_prewritten_append(t.path, d, schema_json)
    monkeypatch.undo()

    # the rollback survived intact and a clean retry commits on its head
    assert [r.id for r in t.read().collect()] == [1]
    sp.commit_prewritten_append(t.path, d, schema_json)
    assert sorted(r.id for r in t.read().collect()) == [1, 7]


# --- orphan cleanup under the task-staging layout (ADVICE r18 medium) --------


def test_orphan_cleanup_reclaims_task_staged_files(spark, tmp_path):
    """Crash-leaked sink files live under stream-staging/task-<uuid>/
    (with hive subdirs on partitioned targets) since r18 — the orphan
    sweep must recurse into them and prune the aged empty task trees,
    and abort() must remove its task dir, not just the files."""
    import glob
    import time

    from local_llm_iceberg_cdw_spark.streaming.table_source import (
        SnapshotTableStreamWriter,
    )

    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "a")], "id long, s string"
    )
    t = SnapshotParquetTable(spark, str(tmp_path / "t"))
    t.create(df.limit(0), partition_by=["s"])

    def stage():
        w = SnapshotTableStreamWriter(
            df.schema, {"path": t.path, "queryname": "q19"}
        )
        return w, w.write(iter(df.toArrow().combine_chunks().to_batches()))

    # leak via the REAL write() layout (task dir + hive fanout), no commit
    _w, msg = stage()
    staged = glob.glob(
        os.path.join(t.path, "stream-staging", "**", "*.parquet"), recursive=True
    )
    assert staged and all(os.sep + "task-" in f and "s=" in f for f in staged)
    future = int((time.time() + 3600) * 1000)
    removed = t.remove_orphan_files(older_than_ms=future)
    assert removed == len(staged)
    assert not glob.glob(
        os.path.join(t.path, "stream-staging", "**", "*.parquet"), recursive=True
    )
    assert not glob.glob(os.path.join(t.path, "stream-staging", "task-*"))

    # abort() drops files AND the task dir
    w2, msg2 = stage()
    w2.abort([msg2], 0)
    assert not glob.glob(os.path.join(t.path, "stream-staging", "task-*"))


def test_scd2_compact_cadence_preserves_history(spark, tmp_path):
    """The compact_every knob (the measured MOR-accretion fix: fold cost
    grows super-linearly in pending delete files without it —
    tools/probe_scd2_history.py) is content-neutral: the maintained
    history equals the uncompacted run's, and the compacted table
    carries no pending deletes."""
    from local_llm_iceberg_cdw_spark.operators.snapshots_op import scd2_apply_changes
    from local_llm_iceberg_cdw_spark.streaming.jobs import stream_table_cdc

    src = _mk_src(spark, str(tmp_path / "src"))
    plain = SnapshotParquetTable(spark, str(tmp_path / "plain"))
    compacted = SnapshotParquetTable(spark, str(tmp_path / "compacted"))
    for h in (plain, compacted):
        h.create(
            spark.createDataFrame(
                [], "k long, val double, valid_from long, valid_to long"
            )
        )
    stream_table_cdc(
        src,
        lambda b, v: scd2_apply_changes(
            plain, b, v, key_col="k", attr_cols=["val"], query_id="qp"
        ),
        str(tmp_path / "ck1"),
    )
    stream_table_cdc(
        src,
        lambda b, v: scd2_apply_changes(
            compacted, b, v, key_col="k", attr_cols=["val"],
            query_id="qc", compact_every=2,
        ),
        str(tmp_path / "ck2"),
    )
    a, b = plain.read(), compacted.read()
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    assert plain._load()[-1].delete_files  # uncompacted accretes
    # v2 triggered a compact; v3's fold added one pending file after it
    assert len(compacted._load()[-1].delete_files or []) == 1
    # replay after compaction still no-ops via the retained ledger
    assert (
        scd2_apply_changes(
            compacted, src.read_changes(2, 3), 3,
            key_col="k", attr_cols=["val"], query_id="qc",
        )
        is False
    )


def test_changelog_facade_composes_with_starting_snapshot_id(spark, tmp_path):
    """changelog mode + startingSnapshotId: a fresh checkpoint over a
    long-lived table skips the backlog (no initial snapshot, no replay)
    and then delivers exactly the new commits' tagged rows — the
    facade-side twin of stream_table_cdc's starting_version."""
    _register(spark)
    src = SnapshotParquetTable(spark, str(tmp_path / "src"))
    df = spark.range(30).select(F.col("id").alias("k"), (F.col("id") * 1.0).alias("v"))
    src.create(df.filter("k < 10"))
    src.append(df.filter("k >= 10 AND k < 20"))

    seen = []

    def sink(b, i):
        seen.extend((r.k, r._change_type, r._commit_version) for r in b.collect())

    def drain(ck):
        q = (
            spark.readStream.format("snapshot_table")
            .option("path", src.path)
            .option("changelog", "true")
            .option("startingSnapshotId", "latest")
            .load()
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", str(tmp_path / ck))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain("ck")
    assert seen == []  # backlog skipped entirely
    src.delete_where_mor("v >= 15", key_cols=["k"])
    src.append(df.filter("k >= 20 AND k < 25"))
    drain("ck")
    assert sorted(x for x in seen if x[1] == "delete_key") == [
        (15, "delete_key", 3), (16, "delete_key", 3), (17, "delete_key", 3),
        (18, "delete_key", 3), (19, "delete_key", 3),
    ]
    assert sorted(x for x in seen if x[1] == "insert") == [
        (20, "insert", 4), (21, "insert", 4), (22, "insert", 4),
        (23, "insert", 4), (24, "insert", 4),
    ]


# --- r19 OPTIMIZATION: semdecon tier-2 at sf0.1 scale -------------------------


def test_semdecon_sf01_scale_routes_to_fold_exact_vectorized_tier(spark, monkeypatch):
    """The semantic decontamination audit scores every corpus size up to
    SEMDECON_VECTORIZED_MAX_ROWS with the fold-exact mapInPandas scorer
    (bit-equal to the oracle; test_oracle_parity pins the rows).  Pin the
    routing via the row-count cache (no data or timing dependence): both
    the 2000-row sf0.1 count and the 500-row smoke count plan the Arrow
    scorer with no pair-expanding BroadcastNestedLoopJoin."""
    from local_llm_iceberg_cdw_spark.operators import similarity as sim

    for n_rows in (2000, 500):
        monkeypatch.setitem(sim._EMB_COUNT_CACHE, SF_SMOKE, n_rows)
        df = sim.q_semantic_decontamination(spark, SF_SMOKE)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "MapInPandas" in plan and "BroadcastNestedLoopJoin" not in plan, n_rows


def test_pair_scorers_route_to_fold_exact_twins_at_scale(spark, monkeypatch):
    """cosine_topk / hard_negative_mining / sq8_adc_topk and the
    dense_shortlist behind MMR, hybrid RRF and RAG packing score their
    pairs in the one fold-exact Arrow pass (bit-identical to the oracle;
    test_oracle_parity pins the rows) at every size below their IVF cut,
    never the BroadcastNestedLoopJoin + unrolled Catalyst fold per pair.
    Pin the plan at the 2000-row sf0.1 count and the 500-row smoke count
    via the row-count cache."""
    from local_llm_iceberg_cdw_spark.operators import quantization as qz
    from local_llm_iceberg_cdw_spark.operators import similarity as sim

    ops = {
        "cosine_topk": sim.q_cosine_topk,
        "hard_negative_mining": sim.q_hard_negative_mining,
        "sq8_adc_topk": qz.q_sq8_adc_topk,
        "dense_shortlist": lambda s, sf: sim.dense_shortlist(s, sf, sim.MMR_QUERY_VEC, 15),
    }
    for n_rows in (2000, 500):
        monkeypatch.setitem(sim._EMB_COUNT_CACHE, SF_SMOKE, n_rows)
        for name, fn in ops.items():
            plan = fn(spark, SF_SMOKE)._jdf.queryExecution().executedPlan().toString()
            assert "MapInPandas" in plan, (name, n_rows)
            assert "BroadcastNestedLoopJoin" not in plan, (name, n_rows)
