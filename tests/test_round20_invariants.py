"""Round-20 invariants for the embedding pair stages, which score every
table below the IVF cut in one fold-exact Arrow pass (``mapInPandas``).

The registry ops (cosine_topk, hard_negative_mining, sq8_adc_topk,
semantic_decontamination, mmr, hybrid_rrf, rag_context_pack) are
compared bit-exactly with their DuckDB oracle by
``tests/test_oracle_parity.py``.  The production helpers below are not
registry entries, so their exact rows are built here in DuckDB: scores
and ranks from the oracle's own scored-pair SQL, IVF cell membership
from ``_numpy_probe_cells``."""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
import pytest

from local_llm_iceberg_cdw_spark.operators import quantization as qz
from local_llm_iceberg_cdw_spark.operators import similarity as sim
from tests.conftest import SF_SMOKE


def _rows(df_or_rows):
    """Rows as a sorted list of tuples; array cells tupled so exact
    equality is well-defined."""
    rows = df_or_rows.collect() if hasattr(df_or_rows, "collect") else df_or_rows
    out = []
    for r in rows:
        out.append(tuple(tuple(v) if isinstance(v, list) else v for v in r))
    return sorted(out, key=repr)


def _duck(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{sf_dir}/embeddings.parquet'"
    )
    return con


def _register_probed_pairs(con) -> None:
    """Register ``probed(query_id, neighbor_id)``: the corpus rows whose
    top-1 seed cell is one of the query's IVF_NPROBE nearest cells."""
    rows = con.execute("SELECT vec_id, embedding FROM embeddings ORDER BY vec_id").fetchall()
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    mat = np.array([r[1] for r in rows], dtype=np.float64)
    cents = [
        (int(i), list(v)) for i, v in zip(ids, mat) if i < sim.IVF_N_CENTROIDS
    ]
    cell = sim._numpy_probe_cells(mat, cents, 1)[:, 0]
    is_q = ids < sim.N_QUERIES
    probes = sim._numpy_probe_cells(mat[is_q], cents, sim.IVF_NPROBE)
    pairs = [
        (int(q), int(n))
        for q, cells in zip(ids[is_q], probes)
        for n in ids[np.isin(cell, cells)]
    ]
    con.register("probed", pd.DataFrame(pairs, columns=["query_id", "neighbor_id"]))


def _with_probed_join(sql: str, join: str, query_col: str) -> str:
    restricted = sql.replace(
        join,
        f"{join} JOIN probed p ON p.query_id = {query_col}"
        " AND p.neighbor_id = c.neighbor_id",
    )
    assert restricted != sql, "oracle SQL no longer has the expected join"
    return restricted


def test_dense_shortlist_arrow_tier_matches_brute_exactly(spark):
    """The shortlist rows (vec_id, cosine, cv, cn) equal the `short` CTE
    of the MMR oracle — the brute-force DuckDB scorer — bit for bit."""
    sql = sim._mmr_sql()
    sql = sql[: sql.index("), pairs AS")] + ")\nSELECT vec_id, rel, cv, cn FROM short"
    expected = _duck(SF_SMOKE).execute(sql).fetchall()
    got = _rows(sim.dense_shortlist(spark, SF_SMOKE, sim.MMR_QUERY_VEC, sim.MMR_SHORTLIST))
    assert got == _rows(expected) and len(got) == sim.MMR_SHORTLIST


def test_dense_shortlist_arrow_tier_absent_query_returns_empty(spark):
    """ADVICE r19: an absent query vector degrades to an empty shortlist
    (the oracle's crossJoin against an empty query), not IndexError."""
    got = sim.dense_shortlist(spark, SF_SMOKE, 10**9, 15)
    assert got.count() == 0
    assert got.columns == ["vec_id", "cosine", "cv", "cn"]


def test_mmr_greedy_degrades_when_shortlist_smaller_than_k(spark, monkeypatch):
    """ADVICE r19: with fewer shortlist rows than MMR_K the greedy must
    stop (fewer picks), not crash on best=None."""
    monkeypatch.setattr(sim, "MMR_SHORTLIST", 2)
    got = sim.q_mmr_diversified_topk(spark, SF_SMOKE).collect()
    assert [r.step for r in got] == [1, 2]


def test_ivf_topk_results_fold_twin_matches_brute_exactly(spark):
    """The IVF probed-pair Arrow pass equals the cosine_topk oracle SQL —
    brute force in DuckDB — restricted to the probed pairs: same pair
    set, bitwise-same cosines, same ranks."""
    con = _duck(SF_SMOKE)
    _register_probed_pairs(con)
    sql = _with_probed_join(
        sim._COSINE_TOPK_SQL, "FROM q JOIN c ON c.neighbor_id <> q.query_id", "q.query_id"
    )
    expected = con.execute(sql).fetchall()
    got = _rows(
        sim.ivf_topk_results(spark, SF_SMOKE).select(
            "query_id", "neighbor_id", "cosine", "rank"
        )
    )
    assert got == _rows(expected) and len(got) > 0


def test_ivfsq8_results_fold_twin_matches_brute_exactly(spark):
    """ivfsq8_results equals the sq8_adc_topk oracle's scored pairs —
    brute force in DuckDB — restricted to the probed pairs, cut to the
    PQ_RERANK best SQ8 scores, then re-ranked by exact dot."""
    con = _duck(SF_SMOKE)
    _register_probed_pairs(con)
    sql = _with_probed_join(
        qz._sq8_sql(),
        f"JOIN corpus c ON q.vec_id < {sim.N_QUERIES} AND c.neighbor_id <> q.vec_id",
        "q.vec_id",
    )
    sql = sql[: sql.index("), ranked AS")] + f"""
), short AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY sq8_score DESC, neighbor_id ASC) AS srank
  FROM scored
), reranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY exact_dot DESC, neighbor_id ASC) AS rank
  FROM short WHERE srank <= {qz.PQ_RERANK}
)
SELECT query_id, neighbor_id FROM reranked WHERE rank <= {sim.TOP_K}
"""
    expected = con.execute(sql).fetchall()
    got = _rows(qz.ivfsq8_results(spark, SF_SMOKE))
    assert got == _rows(expected) and len(got) > 0


def test_ivf_pair_ops_route_to_fold_exact_twins_at_scale(spark, monkeypatch):
    """Routing pin: at the 2000-row sf0.1 count and the 500-row smoke
    count the IVF pair stages plan the MapInPandas scorer with no cell
    join — neither the _probe_cells_udf pandas UDF (ArrowEvalPython) nor
    a BroadcastNestedLoopJoin is left in the plan."""
    for n_rows in (2000, 500):
        monkeypatch.setitem(sim._EMB_COUNT_CACHE, SF_SMOKE, n_rows)
        for fn in (sim.ivf_topk_results, qz.ivfsq8_results):
            plan = fn(spark, SF_SMOKE)._jdf.queryExecution().executedPlan().toString()
            assert "MapInPandas" in plan, (fn, n_rows)
            assert "ArrowEvalPython" not in plan, (fn, n_rows)
            assert "BroadcastNestedLoopJoin" not in plan, (fn, n_rows)


# the rows each op keeps when its query side (the holdout, for the
# decontamination audit) is empty
_NO_QUERY_ROWS = {
    "cosine_topk": f"vec_id >= {sim.N_QUERIES}",
    "hard_negative_mining": f"vec_id >= {sim.N_QUERIES}",
    "sq8_adc_topk": f"vec_id >= {sim.N_QUERIES}",
    "semantic_decontamination": (
        f"vec_id % {sim.SEMDECON_TEST_MOD} != {sim.SEMDECON_TEST_RESIDUE}"
    ),
}


@pytest.mark.parametrize("name", sorted(_NO_QUERY_ROWS))
def test_empty_query_set_yields_no_rows(spark, tmp_path, name):
    """A table with no query vectors scores no pairs: the result is
    empty and equals the oracle, not an IndexError."""
    from local_llm_iceberg_cdw_spark.operators import all_queries

    duckdb.execute(
        f"COPY (SELECT * FROM '{SF_SMOKE}/embeddings.parquet' "
        f"WHERE {_NO_QUERY_ROWS[name]}) "
        f"TO '{tmp_path}/embeddings.parquet' (FORMAT PARQUET)"
    )
    spec = all_queries()[name]
    got = spec.builder(spark, str(tmp_path)).collect()
    expected = _duck(str(tmp_path)).execute(spec.oracle).fetchall()
    assert got == [] and expected == []


def test_multiset_equal_rejects_w_collision(spark):
    from local_llm_iceberg_cdw_spark.operators.snapshots_op import _multiset_equal

    df = spark.createDataFrame([(1, 1)], "k long, __w long")
    with pytest.raises(AssertionError, match="__w"):
        _multiset_equal(df, df)
