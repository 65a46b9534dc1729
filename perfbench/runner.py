"""Run one workload in this process and assemble its metrics.

``run_workload`` is what ``perfbench/run.py`` calls and what the
benchmark's tests call with tiny inputs.
"""

from __future__ import annotations

import os
import shutil
import time

from . import common
from .corpus_curation import OP_LIST

# name -> unit.  Every run reports each of these, so each is defined on
# every workload.  A median over one pass's or one cycle's operations is not
# among them: the operations differ widely in cost, so that median sits
# between two unlike operations and moved 15-20% between runs.
END_TO_END = {
    "setup_s": "s",
    "cycle_s": "s",
    "ok_frac": "ratio",
}

OPERATOR_METRICS = [f"operators.{op}.{size}_s" for op, size in OP_LIST]

PER_LAYER = {
    "session.build_s": "s",
    "catalog.register_views_s": "s",
    "catalog.table_info_s": "s",
    "setup.warmup_s": "s",
    "nl.llm_calls": "count",
    "nl.llm_s": "s",
    "nl.prompt_bytes": "bytes",
    "nl.generate_sql_s": "s",
    "nl.plot_s": "s",
    "nl.summary_s": "s",
    "plans.query_s": "s",
    "plans.rows_returned": "count",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "snapshot.append_s": "s",
    "snapshot.append_growth": "ratio",
    "snapshot.commits": "count",
    "snapshot.read_open_s": "s",
    "snapshot.read_exec_s": "s",
    "snapshot.metadata_bytes": "bytes",
    "snapshot.data_bytes": "bytes",
    "snapshot.data_files": "count",
    "streaming.drain_s": "s",
    "streaming.trigger_s": "s",
    "streaming.lifecycle_s": "s",
    **{f"streaming.phase_ms.{p}": "ms" for p in
       ("latestOffset", "queryPlanning", "getBatch", "addBatch", "walCommit", "commitOffsets")},
    "streaming.batches": "count",
    "streaming.rows": "count",
    "streaming.rows_ratio": "ratio",
    **{m: "s" for m in OPERATOR_METRICS},
    **{m[:-2] + "_jobs": "count" for m in OPERATOR_METRICS},
    "qa.questions": "count",
    "qa.p50_s": "s",
    "qa.p90_s": "s",
    "qa.tt_failed_frac": "ratio",
    "ingest.commit_p50_s": "s",
    "ingest.commit_p90_s": "s",
    "ingest.tt_read_p50_s": "s",
    "ingest.drain_p50_s": "s",
    "ingest.rows_per_s": "rows/s",
    "ingest.stored_bytes_per_user_byte": "ratio",
    "curation.pass_s": "s",
    "failed_frac": "ratio",
    "driver.peak_rss_mb": "MB",
    "jvm.peak_rss_mb": "MB",
    **{f"self_s.{layer}": "s" for layer in common.LAYERS},
    "op_p50_s": "s",
    "op_p90_s": "s",
    "op_count": "count",
    "trace.spans": "count",
    "trace.overhead_s": "s",
    "trace.cycle_s": "s",
}


def session_builder(ctx: common.RunContext):
    """The engine's session factory at local[CPUS], with every working path
    kept inside the run's directory; each call is one traced, timed build."""
    from local_llm_iceberg_cdw_spark.session import build_session

    tmp = ctx.dir("tmp")
    conf = {
        "spark.local.dir": ctx.dir("spark-local"),
        # no hsperfdata file under the system /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.driver.memory": "3g",
        "spark.ui.showConsoleProgress": "false",
    }
    builds: list[float] = []

    def build():
        t = time.perf_counter()
        with ctx.tracer.span("session.build"):
            spark = build_session(master=f"local[{common.CPUS}]",
                                  shuffle_partitions=common.CPUS,
                                  warehouse_dir=ctx.dir("warehouse"), extra_conf=conf)
        builds.append(time.perf_counter() - t)
        return spark

    build.times = builds
    return build


def timed_setups(ctx: common.RunContext, setup_once, stop_session) -> float:
    """Run the set-up SETUP_REPS times, each after stopping the session so
    it builds it again, and return the median wall time."""
    times = []
    for _ in range(common.SETUP_REPS):
        stop_session()
        t = time.perf_counter()
        with ctx.tracer.span("bench.setup"):
            setup_once()
        times.append(time.perf_counter() - t)
    return common.median(times)


def _span_total(tracer: common.Tracer, name: str) -> float:
    return sum(s["end"] - s["start"] for s in tracer.spans if s["name"] == name and s["end"])


def make_parts(name: str, ctx: common.RunContext, **kw) -> list:
    """A workload is a list of parts run in one process and one session:
    each cycle runs one cycle of every part, in order."""
    from .analyst_qa import AnalystQA
    from .corpus_curation import CorpusCuration
    from .lake_ingest import LakeIngest

    return {
        "analyst_qa": lambda: [AnalystQA(ctx, **kw)],
        "lake_ingest": lambda: [LakeIngest(ctx, **kw)],
        "lakehouse": lambda: [AnalystQA(ctx, **kw.get("qa", {})),
                              LakeIngest(ctx, **kw.get("ingest", {}))],
        "corpus_curation": lambda: [CorpusCuration(ctx, **kw)],
    }[name]()


def run_workload(name: str, ctx: common.RunContext, **kw) -> dict:
    """Run ``name`` and return the result object (without printing it):
    inputs, SETUP_REPS timed set-ups, untimed warm-up, whole cycles until
    ``ctx.seconds`` have passed, then the output checks."""
    parts = make_parts(name, ctx, **kw)
    tr = ctx.tracer
    build = session_builder(ctx)
    state = {"spark": None}

    def stop_session():
        if state["spark"] is not None:
            state["spark"].stop()

    def setup_once():
        state["spark"] = build()
        for p in parts:
            p.setup(state["spark"])

    try:
        with tr.span("bench.inputs"):
            for p in parts:
                p.make_inputs()
            state["spark"] = build()
            for p in parts:
                p.prepare(state["spark"])
        setup_s = timed_setups(ctx, setup_once, stop_session)
        spark = state["spark"]
        counter = common.ExecCounter(spark, tr)
        t = time.perf_counter()
        with tr.span("bench.warmup"):
            for p in parts:
                p.warm_up()
        ctx.layer["setup.warmup_s"] = time.perf_counter() - t
        cycles: list[float] = []
        first_span = tr.mark()
        t_loop = time.perf_counter()
        while not cycles or (time.perf_counter() - t_loop < ctx.seconds
                             and not any(p.single_cycle for p in parts)):
            cycles.append(sum(p.cycle(counter) for p in parts))
        window = (first_span, tr.mark())
    finally:
        for p in parts:
            p.close()
    for p in parts:
        p.finish()

    lat = parts[0].ops
    failed_frac = ctx.failed / ctx.attempted if ctx.attempted else 1.0
    e2e = {
        "setup_s": setup_s,
        "cycle_s": common.median(cycles),
        "ok_frac": 1.0 - failed_frac,
    }
    layer = {m: 0.0 for m in PER_LAYER}
    layer.update(ctx.layer)
    layer.update({
        "session.build_s": common.median(build.times),
        "catalog.register_views_s": _span_total(tr, "catalog.register_views") / common.SETUP_REPS,
        "catalog.table_info_s": _span_total(tr, "catalog.table_info") / common.SETUP_REPS,
        "exec.jobs": counter.jobs, "exec.stages": counter.stages, "exec.tasks": counter.tasks,
        "failed_frac": failed_frac,
        "driver.peak_rss_mb": common.driver_peak_rss_mb(),
        "jvm.peak_rss_mb": common.jvm_peak_rss_mb(spark),
        "op_p50_s": common.median(lat),
        "op_p90_s": common.percentile(lat, 90),
        "op_count": len(lat),
        "trace.spans": len(tr.spans),
        "trace.overhead_s": tr.overhead_s,
        "trace.cycle_s": e2e["cycle_s"],
    })
    for layer_name, s in tr.self_times(*window).items():
        layer[f"self_s.{layer_name}"] = s
    metrics, units = (layer, PER_LAYER) if tr.enabled else (e2e, END_TO_END)
    return {
        "correct": ctx.wrong == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
        "_all": {**e2e, **layer},
        "_spark": spark,
    }


def stop_spark(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 — last resort: never leave it running
                proc.kill()
                proc.wait(timeout=10)
        SparkContext._gateway = None
        SparkContext._jvm = None


def cleanup(ctx: common.RunContext) -> None:
    shutil.rmtree(ctx.workdir, ignore_errors=True)
    parent = os.path.dirname(ctx.workdir)
    if os.path.isdir(parent) and not os.listdir(parent):
        os.rmdir(parent)
