"""analyst_qa: one simulated analyst asks seeded questions, each answered by
``nl.chain.AnswerPipeline`` (question → SQL → Spark → plot → summary).

The model behind the pipeline is scripted and keyed by question text.  It
is served by ``nl.serving.ChatCompletionServer`` and reached with
``nl.openai_client.OpenAICompatClient``, so the HTTP wire path and the
prompt building stay in the loop.

Tables: the fixture views (TPC-H-style star plus ``events``) and the
reference's telco tables as snapshot tables (``formats.snapshot_parquet``)
with three committed versions, so time-travel questions have history.

Each cycle asks every template once (ten questions: three registry
reports, three light fixture questions, two telco questions and two
time-travel questions), in a seeded order, with seeded parameters.  Answers are checked after the timed loop: rows must equal
DuckDB's on the template's reference SQL, and time-travel answers must
equal what the benchmark committed up to that snapshot.
"""

from __future__ import annotations

import json
import random
import re
import time

import pandas as pd

from . import common, datagen

SIZE = "sf0.01"
VIEWS = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events")
TELCO = ("customers", "plans", "subscriptions", "usage_records", "recharges")
# commit day of each telco version (days after 2025-01-01)
VERSION_DAYS = (0, 31, 59)
TIME_TRAVEL_TABLES = ("usage_records", "recharges")
# question sets asked before timing
WARMUP_SETS = 1
# registry ops whose oracle SQL is asked as a question verbatim
REGISTRY_REPORTS = (
    "star_join_revenue_by_nation",
    "pricing_summary",
    "shipping_priority",
)


# -- question templates ------------------------------------------------------
# each returns (question, reference SQL); a time-travel template returns the
# as-of date as a third element


def _registry(name):
    def make(rng):
        from local_llm_iceberg_cdw_spark.operators import relational

        return f"Run the {name.replace('_', ' ')} report.", relational.QUERIES[name].oracle
    make.__name__ = name
    return make


def orders_in_year(rng):
    y = rng.randint(1995, 2001)
    return (f"How many orders were placed in {y}?",
            f"SELECT count(*) AS n_orders FROM orders WHERE year(o_orderdate) = {y}")


def top_parts_by_size(rng):
    s = rng.randint(1, 50)
    return (f"Which five parts of size {s} have the highest retail price?",
            "SELECT p_partkey, p_name, p_retailprice FROM part "
            f"WHERE p_size = {s} ORDER BY p_retailprice DESC, p_partkey LIMIT 5")


def events_per_day(rng):
    t = rng.choice(datagen.EVENT_TYPES)
    d = rng.randint(2, 28)
    return (f"How many {t} events happened on each day before January {d}, 2024?",
            "SELECT CAST(ts AS DATE) AS day, count(*) AS n FROM events "
            f"WHERE event_type = '{t}' AND ts < TIMESTAMP '2024-01-{d:02d} 00:00:00' "
            "GROUP BY CAST(ts AS DATE)")


def postpaid_count(rng):
    status = rng.choice(["Active", "Inactive", "Suspended"])
    return (f"How many {status.lower()} customers have a postpaid plan?",
            "SELECT count(*) AS n FROM customers c JOIN subscriptions s "
            f"ON c.customer_id = s.customer_id WHERE s.status = '{status}' AND s.plan_id IN "
            "(SELECT plan_id FROM plans WHERE plan_type = 'Postpaid')")


def revenue_by_plan_type(rng):
    from local_llm_iceberg_cdw_spark.datagen.telco import PAYMENT_METHODS

    m = rng.choice(PAYMENT_METHODS)
    return (f"Compare recharge revenue paid by {m} across prepaid and postpaid plans.",
            "SELECT p.plan_type, round(sum(r.amount), 2) AS revenue FROM recharges r "
            "JOIN subscriptions s ON r.customer_id = s.customer_id "
            "JOIN plans p ON s.plan_id = p.plan_id "
            f"WHERE r.payment_method = '{m}' GROUP BY p.plan_type")


def usage_as_of(rng):
    day = rng.randint(VERSION_DAYS[0] + 1, VERSION_DAYS[-1] + 20)
    ts = datagen.telco_date(day)
    return (f"How many usage records were there as of {ts:%Y-%m-%d}?",
            f"SELECT count(*) AS n FROM usage_records FOR SYSTEM_TIME AS OF '{ts:%Y-%m-%d %H:%M:%S}'",
            day)


def recharge_total_as_of(rng):
    day = rng.randint(VERSION_DAYS[0] + 1, VERSION_DAYS[-1] + 20)
    ts = datagen.telco_date(day)
    return (f"What was the total recharge amount as of {ts:%Y-%m-%d}?",
            "SELECT round(sum(amount), 2) AS total FROM recharges "
            f"FOR SYSTEM_TIME AS OF '{ts:%Y-%m-%d %H:%M:%S}'",
            day)


TEMPLATES = (
    *(_registry(n) for n in REGISTRY_REPORTS),
    orders_in_year, top_parts_by_size, events_per_day,
    postpaid_count, revenue_by_plan_type,
    usage_as_of, recharge_total_as_of,
)
TIME_TRAVEL = {usage_as_of, recharge_total_as_of}


def make_cycle(rng: random.Random) -> list[dict]:
    """One cycle: every template once, seeded order and parameters."""
    out = []
    for tpl in TEMPLATES:
        q = tpl(rng)
        out.append({"template": tpl.__name__, "question": q[0], "sql": q[1],
                    "as_of_day": q[2] if tpl in TIME_TRAVEL else None})
    rng.shuffle(out)
    return out


# -- scripted model, keyed by question text ---------------------------------

_QUESTION = re.compile(r"^Question: (.*)$", re.MULTILINE)


class KeyedModel:
    """``ChatModel`` returning the scripted SQL for the question in an SQL
    prompt, a plot decision for a plot prompt and a one-line summary for a
    summary prompt.  An unknown question raises (HTTP 500)."""

    def __init__(self):
        self.sql_by_question: dict[str, str] = {}

    def __call__(self, messages, max_tokens, temperature):
        content = messages[-1]["content"]
        m = _QUESTION.search(content)
        if m is None:
            raise ValueError("prompt carries no question")
        question = m.group(1)
        if content.startswith("You are an expert SQL generator"):
            return "```sql\n" + self.sql_by_question[question] + "\n```"
        if content.startswith("Decide if this result can be charted"):
            many = content.count("), (") > 0
            return json.dumps({"plottable": many, "chart_type": "bar" if many else "",
                               "title": question[:60], "x_label": "x", "y_label": "y"})
        result = content.split("SQL result: ", 1)[-1]
        return f"The answer to '{question}' is {result[:120]}"


class CountingLLM:
    """The pipeline's LLM callable: the OpenAI-compatible client, with each
    call counted, sized and traced."""

    def __init__(self, client, tracer: common.Tracer, on_call=None):
        self.client = client
        self.tracer = tracer
        self.on_call = on_call
        self.calls = 0
        self.seconds = 0.0
        self.prompt_bytes = 0

    def __call__(self, messages):
        if self.on_call is not None:
            self.on_call()
        self.calls += 1
        self.prompt_bytes += sum(len(m["content"].encode()) for m in messages)
        t = time.perf_counter()
        with self.tracer.span("nl.llm"):
            out = self.client(messages)
        self.seconds += time.perf_counter() - t
        return out


class PhaseTimer:
    """Turns ``run_iter`` state transitions (and the LLM call that follows
    a query) into phase spans: generate_sql, query, plot, summary."""

    PHASE_OF_STATE = {"thinking": "nl.generate_sql", "running_query": "plans.query",
                      "summarizing": "nl.summary"}

    def __init__(self, tracer: common.Tracer):
        self.tracer = tracer
        self.current: tuple[str, int, float] | None = None
        self.totals: dict[str, float] = {}

    def switch(self, phase: str | None) -> None:
        now = time.perf_counter()
        if self.current is not None:
            name, idx, start = self.current
            self.tracer.close(idx)
            self.totals[name] = self.totals.get(name, 0.0) + now - start
            self.current = None
        if phase is not None:
            self.current = (phase, self.tracer.open(phase), now)

    def on_state(self, state: str) -> None:
        self.switch(self.PHASE_OF_STATE.get(state))

    def on_llm_call(self) -> None:
        # the plot prompt is the only LLM call made after a query returns
        if self.current is not None and self.current[0] == "plans.query":
            self.switch("nl.plot")


# -- workload ----------------------------------------------------------------


class AnalystQA:
    """The analyst part of a workload (see ``runner``): telco tables made
    once, views and table_info per set-up, one question set per cycle."""

    name = "analyst_qa"
    single_cycle = False

    def __init__(self, ctx: common.RunContext, model: KeyedModel | None = None, size: str = SIZE):
        self.ctx = ctx
        self.model = model or KeyedModel()
        self.size = size
        self.rng = random.Random(ctx.seed)
        self.results: list[dict] = []
        self.ops: list[float] = []
        self.server = None

    def make_inputs(self) -> None:
        self.fixture_dir = datagen.write_fixtures(self.ctx.dir("fixtures"), self.ctx.seed,
                                                  self.size, only=VIEWS)
        self.batches = datagen.telco_batches(self.ctx.seed, len(VERSION_DAYS))

    def prepare(self, spark) -> None:
        """The telco snapshot tables the questions read, with history for
        time travel; made once per run, before the timed set-ups."""
        from local_llm_iceberg_cdw_spark.datagen import telco
        from local_llm_iceberg_cdw_spark.formats.snapshot_parquet import SnapshotParquetTable

        wh = self.ctx.fresh_dir("telco")
        self.table_paths = {name: f"{wh}/{name}" for name in TELCO}
        tables = {name: SnapshotParquetTable(spark, path) for name, path in self.table_paths.items()}
        tables["plans"].create(spark.createDataFrame(
            telco.generate_plans(), schema=telco.TELCO_SCHEMAS["plans"]))
        for name in TIME_TRAVEL_TABLES:  # one snapshot per batch, at its commit day
            for day, batch in zip(VERSION_DAYS, self.batches):
                ts_ms = int(datagen.telco_date(day).timestamp() * 1000)
                tables[name].append(spark.createDataFrame(
                    batch[name], schema=telco.TELCO_SCHEMAS[name]), timestamp_ms=ts_ms)
        for name in ("customers", "subscriptions"):  # one snapshot of every batch
            pdf = pd.concat([b[name] for b in self.batches], ignore_index=True)
            tables[name].create(spark.createDataFrame(pdf, schema=telco.TELCO_SCHEMAS[name]))

    def setup(self, spark) -> None:
        """One set-up: fixture and telco views, table_info."""
        from local_llm_iceberg_cdw_spark import catalog
        from local_llm_iceberg_cdw_spark.formats.snapshot_parquet import SnapshotParquetTable

        tr = self.ctx.tracer
        self.spark = spark
        with tr.span("catalog.register_views"):
            catalog.register_views(spark, self.fixture_dir, tables=VIEWS, strict=True)
            for name, path in self.table_paths.items():
                SnapshotParquetTable(spark, path).read().createOrReplaceTempView(name)
        with tr.span("catalog.table_info"):
            self.table_info = catalog.table_info(spark, VIEWS + TELCO)

    def warm_up(self) -> None:
        """Serve the model and ask WARMUP_SETS untimed, unchecked question sets."""
        from local_llm_iceberg_cdw_spark.nl.chain import AnswerPipeline
        from local_llm_iceberg_cdw_spark.nl.openai_client import OpenAICompatClient
        from local_llm_iceberg_cdw_spark.nl.serving import ChatCompletionServer

        self.phases = PhaseTimer(self.ctx.tracer)
        self.server = ChatCompletionServer(self.model).start()
        self.llm = CountingLLM(OpenAICompatClient(self.server.base_url), self.ctx.tracer,
                               self.phases.on_llm_call)
        self.pipeline = AnswerPipeline(self.spark, self.llm, self.table_info)
        warm_rng = random.Random(self.ctx.seed ^ 0x5EED)
        for _ in range(WARMUP_SETS):
            for item in make_cycle(warm_rng):
                self.ask(item, PhaseTimer(common.Tracer(False)))
        self.llm_base = (self.llm.calls, self.llm.seconds, self.llm.prompt_bytes)

    def ask(self, item: dict, phases: PhaseTimer) -> tuple[float, object, str]:
        self.model.sql_by_question.setdefault(item["question"], item["sql"])
        tr = self.ctx.tracer
        t0 = time.perf_counter()
        root = tr.open("nl.run_iter")
        state, ans = "", None
        for state, ans in self.pipeline.run_iter(item["question"]):
            phases.on_state(state)
        phases.switch(None)
        tr.close(root)
        return time.perf_counter() - t0, ans, state

    def cycle(self, counter: common.ExecCounter) -> float:
        total = 0.0
        for item in make_cycle(self.rng):
            op_id = f"q{len(self.results)}:{item['template']}"
            counter.begin(op_id)
            latency, ans, state = self.ask(item, self.phases)
            counter.end(op_id)
            self.results.append({"item": item, "answer": ans, "state": state})
            self.ops.append(latency)
            total += latency
        return total

    def close(self) -> None:
        if self.server is not None:
            self.server.stop()
            self.server = None

    def finish(self) -> None:
        """Check every answer and record the part's per-layer metrics."""
        ctx, results = self.ctx, self.results
        with ctx.tracer.span("bench.check"):
            ok = check_answers(results, self.fixture_dir, self.batches)
        ctx.attempted += len(results)
        ctx.failed += ok.count(False)
        ctx.wrong += sum(1 for r, good in zip(results, ok)
                         if not good and r["state"] == "answer" and not r["answer"].error)
        tt = [good for r, good in zip(results, ok) if r["item"]["as_of_day"] is not None]
        totals = self.phases.totals
        ctx.layer.update({
            "qa.questions": len(results),
            "qa.p50_s": common.median(self.ops),
            "qa.p90_s": common.percentile(self.ops, 90),
            "qa.tt_failed_frac": tt.count(False) / len(tt) if tt else 0.0,
            "nl.llm_calls": self.llm.calls - self.llm_base[0],
            "nl.llm_s": self.llm.seconds - self.llm_base[1],
            "nl.prompt_bytes": self.llm.prompt_bytes - self.llm_base[2],
            "nl.generate_sql_s": totals.get("nl.generate_sql", 0.0),
            "nl.plot_s": totals.get("nl.plot", 0.0),
            "nl.summary_s": totals.get("nl.summary", 0.0),
            "plans.query_s": totals.get("plans.query", 0.0),
            "plans.rows_returned": sum(len(r["answer"].rows) for r in results if r["answer"]),
        })


def expected_time_travel(item: dict, batches) -> tuple[list, list]:
    """The answer a time-travel question must give: the rows committed at
    or before its as-of day."""
    live = [b for day, b in zip(VERSION_DAYS, batches) if day <= item["as_of_day"]]
    if item["template"] == "usage_as_of":
        return [(sum(len(b["usage_records"]) for b in live),)], ["n"]
    total = pd.concat([b["recharges"] for b in live])["amount"].sum()
    return [(round(float(total), 2),)], ["total"]


def duck_connection(fixture_dir: str, batches):
    import duckdb
    import pyarrow as pa
    from local_llm_iceberg_cdw_spark.datagen import telco

    con = duckdb.connect()
    con.execute("SET threads TO 1")
    for t in VIEWS:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{fixture_dir}/{t}.parquet'")
    frames = {"plans": pa.Table.from_pandas(telco.generate_plans(), preserve_index=False)}
    for name in datagen.TELCO_APPEND_TABLES:
        frames[name] = pa.Table.from_pandas(
            pd.concat([b[name] for b in batches], ignore_index=True), preserve_index=False)
    for name, tbl in frames.items():
        con.register(name, tbl)
    return con


def check_answers(results: list[dict], fixture_dir: str, batches) -> list[bool]:
    """True per question when its answer is right; computed after timing."""
    con = duck_connection(fixture_dir, batches)
    cache: dict[str, tuple] = {}
    ok = []
    for r in results:
        ans, item = r["answer"], r["item"]
        if r["state"] != "answer" or ans is None or ans.error:
            ok.append(False)
            continue
        if item["as_of_day"] is not None:
            exp_rows, exp_cols = expected_time_travel(item, batches)
        else:
            if item["sql"] not in cache:
                rel = con.sql(item["sql"])
                cache[item["sql"]] = ([tuple(x) for x in rel.fetchall()], list(rel.columns))
            exp_rows, exp_cols = cache[item["sql"]]
        ok.append(common.rows_match(ans.rows, ans.columns, exp_rows, exp_cols))
    con.close()
    return ok
