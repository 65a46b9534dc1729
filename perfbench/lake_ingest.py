"""lake_ingest: the reference's append job, repeated from an empty warehouse.

Each round appends one seeded batch to each telco table
(``SnapshotParquetTable.append``, one snapshot per batch).  Every
``ROUNDS_PER_CYCLE`` rounds the cycle ends with a time-travel read of an
earlier version plus one aggregate, and an availableNow drain of the new
``usage_records`` snapshots into a downstream table through the
``snapshot_table`` streaming facade (``readStream`` → ``writeStream``).

History grows inside the run, so later commits see longer manifests.
Checks, after the timed loop: each time-travel read equals the committed
prefix, each drain delivered exactly the rows appended since the previous
one, the final tables hold exactly the generated rows, and the downstream
copy equals its source.
"""

from __future__ import annotations

import json
import random
import time

import pandas as pd

from . import common, datagen

ROUNDS_PER_CYCLE = 2
# id and value columns summed into each table's checksum
CHECK_COLS = {
    "customers": ("customer_id",),
    "subscriptions": ("subscription_id", "plan_id"),
    "usage_records": ("usage_id", "customer_id", "voice_minutes_used", "sms_sent"),
    "recharges": ("recharge_id", "customer_id"),
}
BATCHES_AHEAD = 8  # batches generated per refill, outside the timed region
PHASES = ("latestOffset", "queryPlanning", "getBatch", "addBatch", "walCommit", "commitOffsets")


def checksum_pdf(name: str, pdf) -> tuple:
    return (len(pdf), *(int(pdf[c].sum()) for c in CHECK_COLS[name]))


def checksum_df(name: str, df) -> tuple:
    from pyspark.sql import functions as F

    row = df.agg(F.count(F.lit(1)), *(F.sum(c) for c in CHECK_COLS[name])).collect()[0]
    return tuple(int(v or 0) for v in row)


class LakeIngest:
    """The append-job part of a workload (see ``runner``): an empty
    warehouse per set-up, two append rounds, a time-travel read and a drain
    per cycle."""

    name = "lake_ingest"
    single_cycle = False

    def __init__(self, ctx: common.RunContext, batch_kw: dict | None = None):
        self.ctx = ctx
        self.batch_kw = batch_kw or {}
        self.rng = random.Random(ctx.seed)
        self.batch_seed = random.Random(ctx.seed ^ 0xBA7C).getrandbits(31)
        self.pending: list[dict] = []
        self.last_ids = dict.fromkeys(datagen.TELCO_APPEND_TABLES, 0)
        self.ops: list[float] = []  # commit latencies
        self.reads: list[dict] = []
        self.drains: list[dict] = []
        self.user_bytes = 0
        self.timed = 0.0
        self.usage_rows_since_drain = 0

    def make_inputs(self) -> None:
        pass  # batches are generated as the loop needs them, outside timing

    def prepare(self, spark) -> None:
        pass

    def next_batch(self) -> dict:
        if not self.pending:
            self.batch_seed += 1
            self.pending = datagen.telco_batches(self.batch_seed, BATCHES_AHEAD, self.last_ids,
                                                 **self.batch_kw)
            for b in self.pending:
                for name, pdf in b.items():
                    self.last_ids[name] = int(pdf.iloc[:, 0].max())
        return self.pending.pop(0)

    def setup(self, spark) -> None:
        """One set-up: facade registration and an empty warehouse holding
        only the static ``plans`` fixture table."""
        from local_llm_iceberg_cdw_spark.datagen import telco
        from local_llm_iceberg_cdw_spark.formats.snapshot_parquet import SnapshotParquetTable
        from local_llm_iceberg_cdw_spark.streaming.table_source import SnapshotTableDataSource

        self.spark = spark
        spark.dataSource.register(SnapshotTableDataSource)
        self.wh = self.ctx.fresh_dir("lake")
        with self.ctx.tracer.span("formats.create_fixture_tables"):
            SnapshotParquetTable(spark, f"{self.wh}/plans").create(
                spark.createDataFrame(telco.generate_plans(), schema=telco.TELCO_SCHEMAS["plans"]))
        self.tables = self.tables_in(self.wh)
        self.committed = {n: [] for n in self.tables}  # per table: batches in commit order

    def tables_in(self, wh: str) -> dict:
        from local_llm_iceberg_cdw_spark.formats.snapshot_parquet import SnapshotParquetTable

        return {n: SnapshotParquetTable(self.spark, f"{wh}/{n}") for n in datagen.TELCO_APPEND_TABLES}

    def append(self, table, df) -> float:
        t = time.perf_counter()
        with self.ctx.tracer.span("formats.append"):
            table.append(df)
        return time.perf_counter() - t

    def drain(self, source_path: str, target_path: str, ckpt: str) -> tuple[float, list]:
        t = time.perf_counter()
        with self.ctx.tracer.span("streaming.drain"):
            q = (self.spark.readStream.format("snapshot_table").option("path", source_path).load()
                 .writeStream.format("snapshot_table").option("path", target_path)
                 .option("queryName", "usage_downstream").option("checkpointLocation", ckpt)
                 .trigger(availableNow=True).start())
            q.awaitTermination()
        return time.perf_counter() - t, [json.loads(p.json) for p in q.recentProgress]

    def time_travel(self, table, version: int, name: str) -> tuple[float, float, tuple]:
        tr = self.ctx.tracer
        t0 = time.perf_counter()
        with tr.span("formats.read_open"):
            df = table.read(version=version)
        t1 = time.perf_counter()
        with tr.span("formats.read_exec"):
            got = checksum_df(name, df)
        return t1 - t0, time.perf_counter() - t1, got

    def warm_up(self) -> None:
        """Pay lazy start-up (first append, first read, first facade drain)
        on a throw-away warehouse."""
        from local_llm_iceberg_cdw_spark.datagen import telco

        wh = self.ctx.fresh_dir("lake_warmup")
        usage = self.tables_in(wh)["usage_records"]
        pdf = datagen.telco_batches(self.ctx.seed ^ 0x3A3A, 1, **self.batch_kw)[0]["usage_records"]
        self.append(usage, self.spark.createDataFrame(pdf, schema=telco.TELCO_SCHEMAS["usage_records"]))
        self.time_travel(usage, 1, "usage_records")
        self.drain(usage.path, f"{wh}/down", f"{wh}/_ckpt")

    def cycle(self, counter: common.ExecCounter) -> float:
        from local_llm_iceberg_cdw_spark.datagen import telco

        ctx, spark, tables = self.ctx, self.spark, self.tables
        total = 0.0
        for _ in range(ROUNDS_PER_CYCLE):
            for name, pdf in self.next_batch().items():
                df = spark.createDataFrame(pdf, schema=telco.TELCO_SCHEMAS[name])
                self.user_bytes += _arrow_bytes(pdf)
                op_id = f"c{len(self.ops)}"
                counter.begin(op_id)
                try:
                    dt = self.append(tables[name], df)
                except Exception as exc:  # noqa: BLE001 — a failed commit is counted
                    print(f"lake_ingest: append {name} failed: {exc}", flush=True)
                    dt = None
                counter.end(op_id)
                ctx.attempted += 1
                if dt is None:
                    ctx.failed += 1
                    continue
                self.ops.append(dt)
                total += dt
                self.committed[name].append(pdf)
                if name == "usage_records":
                    self.usage_rows_since_drain += len(pdf)
        # a time-travel read of an earlier version of one table
        name = self.rng.choice(sorted(tables))
        version = self.rng.randint(1, len(self.committed[name]))
        counter.begin(f"r{len(self.reads)}")
        open_s, exec_s, got = self.time_travel(tables[name], version, name)
        counter.end(f"r{len(self.reads)}")
        want = checksum_pdf(name, pd.concat(self.committed[name][:version]))
        self.reads.append({"open": open_s, "exec": exec_s, "ok": got == want})
        total += open_s + exec_s
        # drain the new usage snapshots downstream
        counter.begin(f"d{len(self.drains)}")
        drain_s, progress = self.drain(tables["usage_records"].path, f"{self.wh}/usage_downstream",
                                       f"{self.wh}/_ckpt")
        counter.end(f"d{len(self.drains)}")
        self.drains.append({"s": drain_s, "progress": progress, "appended": self.usage_rows_since_drain,
                            "rows": sum(p.get("numInputRows", 0) for p in progress)})
        self.usage_rows_since_drain = 0
        total += drain_s
        self.timed += total
        return total

    def close(self) -> None:
        pass

    def finish(self) -> None:
        """Check the tables, reads and drains; record per-layer metrics."""
        from local_llm_iceberg_cdw_spark.formats.snapshot_parquet import SnapshotParquetTable

        ctx, committed, reads, drains = self.ctx, self.committed, self.reads, self.drains
        with ctx.tracer.span("bench.check"):
            final_ok = {name: checksum_df(name, table.read())
                        == checksum_pdf(name, pd.concat(committed[name]))
                        for name, table in self.tables.items()}
            down = SnapshotParquetTable(self.spark, f"{self.wh}/usage_downstream").read()
            down_ok = (checksum_df("usage_records", down)
                       == checksum_pdf("usage_records", pd.concat(committed["usage_records"])))
        # a commit counts as failed when its table's final content is wrong
        for name, ok in final_ok.items():
            if not ok:
                ctx.failed += len(committed[name])
                ctx.wrong += len(committed[name])
        for r in reads:
            ctx.attempted += 1
            ctx.failed += not r["ok"]
            ctx.wrong += not r["ok"]
        for i, d in enumerate(drains):
            ok = d["rows"] == d["appended"] and (i < len(drains) - 1 or down_ok)
            ctx.attempted += 1
            ctx.failed += not ok
            ctx.wrong += not ok

        meta = data = files = 0
        for name in [*self.tables, "usage_downstream", "plans"]:
            m, d, f = common.dir_bytes(f"{self.wh}/{name}")
            meta, data, files = meta + m, data + d, files + f
        commits = self.ops
        tenth = max(1, len(commits) // 10)
        progress = [pr for d in drains for pr in d["progress"]]
        phase = {p: sum(pr.get("durationMs", {}).get(p, 0) for pr in progress) for p in PHASES}
        trigger_s = sum(pr.get("durationMs", {}).get("triggerExecution", 0) for pr in progress) / 1000
        drain_total = sum(d["s"] for d in drains)
        rows_committed = sum(len(p) for ps in committed.values() for p in ps)
        appended = sum(d["appended"] for d in drains)
        ctx.layer.update({
            "snapshot.append_s": common.median(commits),
            "snapshot.append_growth": (common.median(commits[-tenth:]) / common.median(commits[:tenth])
                                       if commits else 0.0),
            "snapshot.commits": len(commits),
            "snapshot.read_open_s": common.median([r["open"] for r in reads]),
            "snapshot.read_exec_s": common.median([r["exec"] for r in reads]),
            "snapshot.metadata_bytes": meta,
            "snapshot.data_bytes": data,
            "snapshot.data_files": files,
            "streaming.drain_s": drain_total,
            "streaming.trigger_s": trigger_s,
            "streaming.lifecycle_s": drain_total - trigger_s,
            **{f"streaming.phase_ms.{p}": v for p, v in phase.items()},
            "streaming.batches": len(progress),
            "streaming.rows": sum(d["rows"] for d in drains),
            "streaming.rows_ratio": sum(d["rows"] for d in drains) / appended if appended else 0.0,
            "ingest.commit_p50_s": common.median(commits),
            "ingest.commit_p90_s": common.percentile(commits, 90),
            "ingest.tt_read_p50_s": common.median([r["open"] + r["exec"] for r in reads]),
            "ingest.drain_p50_s": common.median([d["s"] for d in drains]),
            "ingest.rows_per_s": rows_committed / self.timed if self.timed else 0.0,
            "ingest.stored_bytes_per_user_byte": ((meta + data) / self.user_bytes
                                                  if self.user_bytes else 0.0),
        })


def _arrow_bytes(pdf) -> int:
    import pyarrow as pa

    return pa.Table.from_pandas(pdf, preserve_index=False).nbytes
