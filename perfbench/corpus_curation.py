"""corpus_curation: one pass over a fixed list of the registry's LLM-data
curation operators, the way a curation job runs them: each operator once,
in a fresh Spark application, so the pass includes the engine's first-use
costs (code generation, JIT, Python worker start-up).  The order is fixed:
in a single cold pass, a seeded order would move those costs from one
operator to another with the seed.  Each result is collected so it can be
checked.

The embedding operators with a 500-row brute-force/Arrow tier switch
(``PAIR_BRUTE_MAX_ROWS``, ``SQ8_BRUTE_MAX_ROWS``) run on both a 500-row and
a 2,000-row embedding table, so both sides of the switch are timed.

Check, after the pass: each result equals, order-insensitively, what DuckDB
returns for the operator's ``QuerySpec.oracle`` SQL on the same files.
"""

from __future__ import annotations

import os
import time

from . import common, datagen

TEXT_OPS = ("exact_dedup_docs", "text_quality", "pii_redaction", "doc_chunking",
            "pandas_udf_token_count")
TIERED_OPS = ("cosine_topk", "sq8_adc_topk")
LARGE, SMALL = "sf0.1", "sf0.01"
OP_LIST = [(op, SMALL) for op in TEXT_OPS + TIERED_OPS] + [(op, LARGE) for op in TIERED_OPS]


def duck_connection(fixture_dir: str):
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET threads TO {common.CPUS}")
    for t in ("documents", "embeddings"):
        if os.path.exists(f"{fixture_dir}/{t}.parquet"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{fixture_dir}/{t}.parquet'")
    return con


class CorpusCuration:
    """The curation part of a workload (see ``runner``): its one cycle is
    the pass."""

    name = "corpus_curation"
    single_cycle = True

    def __init__(self, ctx: common.RunContext, sizes: dict | None = None):
        self.ctx = ctx
        self.sizes = sizes or {LARGE: LARGE, SMALL: SMALL}  # label -> datagen size
        self.dirs: dict[str, str] = {}
        self.results: dict[tuple, tuple] = {}
        self.ops: list[float] = []

    def make_inputs(self) -> None:
        for label, size in self.sizes.items():
            only = ("documents", "embeddings") if label == SMALL else ("embeddings",)
            self.dirs[label] = datagen.write_fixtures(self.ctx.dir("fixtures", label),
                                                      self.ctx.seed, size, only=only)

    def prepare(self, spark) -> None:
        pass

    def setup(self, spark) -> None:
        """One set-up: views over the corpus tables and their table_info."""
        from local_llm_iceberg_cdw_spark import catalog
        from local_llm_iceberg_cdw_spark.operators import all_queries

        self.spark = spark
        tr = self.ctx.tracer
        with tr.span("catalog.register_views"):
            catalog.register_views(spark, self.dirs[SMALL], tables=("documents", "embeddings"),
                                   strict=True)
        with tr.span("catalog.table_info"):
            catalog.table_info(spark, ("documents", "embeddings"))
        self.specs = all_queries()

    def warm_up(self) -> None:
        pass  # the pass is measured as a fresh job runs it

    def cycle(self, counter: common.ExecCounter) -> float:
        total = 0.0
        for op, label in OP_LIST:
            op_id = f"{op}@{label}"
            counter.begin(op_id)
            t = time.perf_counter()
            try:
                with self.ctx.tracer.span(f"operators.{op}"):
                    df = self.specs[op].builder(self.spark, self.dirs[label])
                    rows = df.collect()
            except Exception as exc:  # noqa: BLE001 — counted as failed in finish()
                print(f"corpus_curation: {op_id} raised: {exc}", flush=True)
            else:
                dt = time.perf_counter() - t
                self.results[(op, label)] = ([tuple(r) for r in rows], df.columns)
                self.ctx.layer[f"operators.{op}.{label}_s"] = dt
                self.ops.append(dt)
                total += dt
            self.ctx.layer[f"operators.{op}.{label}_jobs"] = counter.end(op_id)[0]
        self.ctx.layer["curation.pass_s"] = total
        return total

    def close(self) -> None:
        pass

    def finish(self) -> None:
        """Check every result against its DuckDB oracle."""
        ctx = self.ctx
        wrong = 0
        with ctx.tracer.span("bench.check"):
            cons = {label: duck_connection(d) for label, d in self.dirs.items()}
            for (op, label), (rows, cols) in self.results.items():
                rel = cons[label].sql(self.specs[op].oracle)
                if not common.rows_match(rows, cols, [tuple(r) for r in rel.fetchall()],
                                         list(rel.columns)):
                    print(f"corpus_curation: {op}@{label} differs from its oracle", flush=True)
                    wrong += 1
            for con in cons.values():
                con.close()
        ctx.attempted += len(OP_LIST)
        ctx.failed += len(OP_LIST) - len(self.results) + wrong
        ctx.wrong += wrong
