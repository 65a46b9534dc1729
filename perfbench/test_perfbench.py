"""The benchmark's own tests: tiny-input runs of each workload print every
metric with its unit, and a wrong answer is caught by the output checks.

    python -m pytest perfbench -q
"""

from __future__ import annotations

import io
import json
import os

import pytest

from perfbench import common, run, runner
from perfbench.analyst_qa import KeyedModel
from perfbench.corpus_curation import LARGE, SMALL

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TINY = {"lakehouse": {"qa": {"size": "tiny"}, "ingest": {"batch_kw": {"n_usage": 100}}},
        "corpus_curation": {"sizes": {SMALL: "tiny", LARGE: "tiny"}},
        "analyst_qa": {"size": "tiny"}}


def tiny_run(tmp_path, workload: str, trace: bool, **kw) -> tuple[dict, str]:
    workdir = str(tmp_path / workload)
    run.prepare_env(ROOT, workdir)
    ctx = common.RunContext(seed=7, seconds=0, tracer=common.Tracer(trace), workdir=workdir)
    result = runner.run_workload(workload, ctx, **(kw or TINY[workload]))
    result.pop("_spark")
    every = result.pop("_all")
    out = io.StringIO()
    run.report(workload, result, every, {**runner.END_TO_END, **runner.PER_LAYER}, out)
    return result, out.getvalue()


def assert_prints_every_metric(printed: str) -> None:
    lines = printed.splitlines()
    table = {line.split()[1]: line.split()[-1] for line in lines[:-1]}
    for name, unit in {**runner.END_TO_END, **runner.PER_LAYER}.items():
        assert table.get(name) == unit, name
    json.loads(lines[-1])


@pytest.fixture(scope="module", autouse=True)
def stop_spark_after():
    yield
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()


def test_lakehouse_tiny_run_prints_every_metric(tmp_path):
    result, printed = tiny_run(tmp_path, "lakehouse", trace=False)
    assert_prints_every_metric(printed)
    assert set(result["metrics"]) == set(runner.END_TO_END)
    assert all(m["unit"] == runner.END_TO_END[k] for k, m in result["metrics"].items())
    assert result["correct"] and result["attempted"] > 0
    # the time-travel questions fail until execute_sql gets the snapshot tables
    assert 0 < result["failed"] < result["attempted"]


def test_corpus_tiny_traced_run_prints_every_metric(tmp_path):
    result, printed = tiny_run(tmp_path, "corpus_curation", trace=True)
    assert_prints_every_metric(printed)
    assert set(result["metrics"]) == set(runner.PER_LAYER)
    assert result["correct"] and result["failed"] == 0
    assert result["metrics"]["self_s.operators"]["value"] > 0


class WrongSQLModel(KeyedModel):
    """Answers every year question with the following year's count."""

    def __call__(self, messages, max_tokens, temperature):
        out = super().__call__(messages, max_tokens, temperature)
        if "year(o_orderdate) = " in out:
            year = int(out.split("year(o_orderdate) = ")[1][:4])
            out = out.replace(f"= {year}", f"= {year + 1}")
        return out


def test_wrong_scripted_sql_raises_failed_frac(tmp_path):
    right, _ = tiny_run(tmp_path, "analyst_qa", trace=False)
    wrong, _ = tiny_run(tmp_path, "analyst_qa", trace=False,
                        model=WrongSQLModel(), size="tiny")
    assert right["correct"] and not wrong["correct"]
    assert wrong["failed"] > right["failed"]
    assert wrong["metrics"]["ok_frac"]["value"] < right["metrics"]["ok_frac"]["value"]
