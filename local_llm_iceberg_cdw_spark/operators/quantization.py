"""Product quantization (PQ) — compressed-domain ANN over `embeddings`.

The missing half of the FAISS-style 100 TB ANN stack next to IVF
(`similarity.py`): instead of pruning *which* vectors to scan (inverted
file), PQ shrinks *each* vector — DIM float32 (256 B here) down to
``PQ_M`` small codes (8 codes × 4 bits = 4 B packed, a 64× compression) — so the
scan itself runs over codes and a tiny per-query lookup table instead of
raw floats.  Reference parity: the reference ships no ANN at all (its
vector path is the LLM serving stack, `fastapi-llm.py`); this extends the
engine's training-data toolkit per SURVEY §2.10/BASELINE.json
(north-star: ANN over an embedding column).

Two judged operators:

- ``pq_encode`` — per-vector code assignment + reconstruction error.  The
  codebook is a deterministic sample of the data (``vec_id < PQ_K`` rows,
  sliced per subspace); at 100 TB the codebook comes from an offline
  k-means fit exactly like the IVF centroids (`collect_centroids`), and
  either way it enters the plan as driver-side model state, k·dim floats.
  Assignment is one Arrow-batched `mapInPandas` pass — narrow, no join,
  no shuffle, the same fold-exact machinery as the k-means E-step.

- ``pq_adc_topk`` — asymmetric distance computation: each query
  precomputes a (PQ_M × PQ_K) table of exact subspace distances to the
  codebook, then every corpus vector is scored by PQ_M table lookups on
  its CODES — no float vector is read in the scan, which is the entire
  point at scale.  The lookup fold runs JVM-side (`F.aggregate` over the
  broadcast table), whole-stage-codegen friendly; the only exchange is
  the per-query top-k window.  The composed IVF+PQ form (probe cells,
  then ADC within them) is the production layout; kept separate here so
  each tier stays independently oracle-checkable.

Floating-point parity: every distance is a LEFT-FOLDED sum of
``(x - c)²`` terms in double, bit-identical between the numpy
accumulation loop and the generated DuckDB expression (same convention as
`similarity._dot`); ties in the argmin break to the lowest code on both
engines, so codes — and everything downstream — hash-match exactly.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load_table
from . import QuerySpec
from .similarity import DIM, N_QUERIES, TOP_K

PQ_M = 8                 # subspaces
PQ_SUB = DIM // PQ_M     # dims per subspace (8)
PQ_K = 16                # codes per subspace (4 bits); codebook = first PQ_K vectors
PQ_RERANK = 100          # ADC shortlist size for the exact re-rank stage
# (50 → 100 in round 8: the re-rank fetch is R·q rows — corpus-size-
# independent — and the measured IVF+PQ recall at R=100 is 0.86/0.80/0.82
# at sf0.001/0.01/0.1 vs 0.82/0.74/0.72 at R=50; the shortlist cut is a
# filter on the same ADC window either way, so the extra cost is ~zero)

_CODES_SCHEMA = "vec_id long, codes array<int>, recon double"


def collect_codebook(spark: SparkSession, sf_dir: str) -> list[list[list[float]]]:
    """``cb[s][c]`` = the PQ_SUB-dim sub-vector of codebook row ``c`` in
    subspace ``s``.  Driver-side model state (PQ_M·PQ_K·PQ_SUB = 1024
    floats), same pattern as `similarity.collect_centroids`."""
    emb = load_table(spark, sf_dir, "embeddings")
    rows = sorted(
        (
            (int(r.vec_id), [float(x) for x in r.embedding])
            for r in emb.filter(F.col("vec_id") < PQ_K).select("vec_id", "embedding").collect()
        ),
        key=lambda t: t[0],
    )
    return [
        [vec[s * PQ_SUB : (s + 1) * PQ_SUB] for _, vec in rows] for s in range(PQ_M)
    ]


PQ_TRAIN_SAMPLE = 512  # codebook training sample: the first N vectors
PQ_TRAIN_ITERS = 10    # Lloyd iterations per subspace (deterministic)

# One fitted codebook per embeddings file (same invalidation rule as
# similarity._KMEANS_MODEL_CACHE): plain Python model state only.
_CODEBOOK_CACHE: dict = {}


def fitted_codebook(spark: SparkSession, sf_dir: str) -> list[list[list[float]]]:
    """Lloyd-fitted per-subspace codebook — the FAISS training pattern:
    PQ trains on a bounded corpus sample (here the first
    ``PQ_TRAIN_SAMPLE`` vectors — one tiny collect), the fit runs
    driver-side over sample×PQ_SUB floats, and the resulting model enters
    every encode/ADC plan as driver state exactly like the sample
    codebook.  Deterministic: fixed sample, fixed init (the first PQ_K
    sample sub-vectors — ``collect_codebook``'s rows), fixed iteration
    count, numpy argmin ties to the lowest code.

    MEASURED on this fixture the fit cuts mean reconstruction error (its
    actual guarantee, asserted in tests) but WORSENS end-to-end ADC
    ranking — ivfpq recall at sf0.1 np2/R50: 0.72 (seed cb) vs 0.62
    (fitted cb) — because fitted codewords shrink toward the subspace
    mean (unit-norm isotropic data), distorting ADC norms relative to
    the actual-data-subvector seed codewords.  So production defaults to
    the seed codebook and ``fitted=True`` selects this one; on a real
    clustered corpus the trained codebook is the standard choice.  The
    standalone ``pq_*`` judged ops always use the SAMPLE codebook so
    their DuckDB oracles remain exactly replicable in SQL."""
    import os

    import numpy as np

    src = os.path.join(sf_dir, "embeddings.parquet")
    try:
        st = os.stat(src)
        cache_key = (os.path.abspath(src), st.st_mtime_ns, st.st_size)
    except OSError:
        cache_key = None
    if cache_key is not None and cache_key in _CODEBOOK_CACHE:
        return _CODEBOOK_CACHE[cache_key]

    emb = load_table(spark, sf_dir, "embeddings")
    rows = sorted(
        (
            (int(r.vec_id), [float(x) for x in r.embedding])
            for r in emb.filter(F.col("vec_id") < PQ_TRAIN_SAMPLE)
            .select("vec_id", "embedding")
            .collect()
        ),
        key=lambda t: t[0],
    )
    X = np.array([v for _, v in rows], dtype=np.float64)
    cb: list[list[list[float]]] = []
    for s in range(PQ_M):
        sub = X[:, s * PQ_SUB : (s + 1) * PQ_SUB]
        C = sub[:PQ_K].copy()
        for _ in range(PQ_TRAIN_ITERS):
            d = ((sub[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            a = np.argmin(d, axis=1)  # ties -> lowest code
            new_c = C.copy()
            for c in range(PQ_K):
                members = a == c
                if members.any():
                    new_c[c] = sub[members].mean(axis=0)
            if np.array_equal(new_c, C):
                break
            C = new_c
        cb.append([[float(x) for x in C[c]] for c in range(PQ_K)])
    if cache_key is not None:
        _CODEBOOK_CACHE[cache_key] = cb
    return cb


def _subspace_dists(m, cb_sub, s: int):
    """(PQ_K × batch) matrix of left-folded Σ (x-c)² over subspace ``s``.

    The j-loop accumulates SEQUENTIALLY — ((t₁+t₂)+t₃)… — matching the
    oracle's generated fold; a numpy ``einsum``/norm shortcut would sum in
    a different order and drift the low bits under argmin near-ties."""
    import numpy as np

    out = np.empty((len(cb_sub), m.shape[0]))
    base = s * PQ_SUB
    for c, cv in enumerate(cb_sub):
        diff = m[:, base] - cv[0]
        acc = diff * diff
        for j in range(1, PQ_SUB):
            diff = m[:, base + j] - cv[j]
            acc = acc + diff * diff
        out[c] = acc
    return out


def _pq_assign_udf(cb: list[list[list[float]]]):
    """mapInPandas encoder: embedding → (codes[PQ_M], recon error).

    argmin ties break to the LOWEST code (numpy argmin returns the first
    minimum; the oracle orders by ``d ASC, code ASC``).  recon is the
    left-folded sum of the selected subspace distances, s ascending."""
    import numpy as np

    def assign(pdfs):
        for pdf in pdfs:
            if not len(pdf):
                continue
            m = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            codes = np.empty((len(pdf), PQ_M), dtype=np.int32)
            recon = None
            for s in range(PQ_M):
                d = _subspace_dists(m, cb[s], s)  # PQ_K × b
                best = np.argmin(d, axis=0)
                codes[:, s] = best
                dsel = d[best, np.arange(len(pdf))]
                recon = dsel if recon is None else recon + dsel
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "codes": list(codes),
                    "recon": recon,
                }
            )

    return assign


def pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """vec_id → (codes array<int>, recon double): one narrow Arrow pass."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cb = collect_codebook(spark, sf_dir)
    return emb.mapInPandas(_pq_assign_udf(cb), _CODES_SCHEMA)


def q_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Judged form: codes flattened to a dash-joined string (hash-stable
    across engines) plus the rounded reconstruction error."""
    return pq_codes(spark, sf_dir).select(
        "vec_id",
        F.array_join(F.col("codes"), "-").alias("codes"),
        F.round(F.col("recon"), 6).alias("recon_err"),
    )


def _adc_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, neighbor_id, adc_dist): every corpus vector scored
    against each query using only its CODES and the query's precomputed
    subspace-distance table.

    The q·PQ_M·PQ_K lookup tables are exact subspace distances computed
    driver-side from the (collected, tiny) query vectors — model-state
    like the codebook itself — and broadcast; the corpus side reads codes
    only.  Scoring is a JVM `F.aggregate` fold of PQ_M element_at lookups
    (stays in whole-stage codegen)."""
    import numpy as np

    cb = collect_codebook(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    qrows = sorted(
        (
            (int(r.vec_id), [float(x) for x in r.embedding])
            for r in emb.filter(F.col("vec_id") < N_QUERIES)
            .select("vec_id", "embedding")
            .collect()
        ),
        key=lambda t: t[0],
    )
    qmat = np.array([v for _, v in qrows], dtype=np.float64)
    dtables = [
        (
            qid,
            [
                [float(x) for x in _subspace_dists(qmat[i : i + 1], cb[s], s)[:, 0]]
                for s in range(PQ_M)
            ],
        )
        for i, (qid, _) in enumerate(qrows)
    ]
    qdf = spark.createDataFrame(dtables, "query_id long, dt array<array<double>>")

    codes = pq_codes(spark, sf_dir).select("vec_id", "codes")
    return (
        codes.crossJoin(F.broadcast(qdf))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            F.col("query_id"),
            F.col("vec_id").alias("neighbor_id"),
            F.round(
                F.aggregate(
                    F.sequence(F.lit(0), F.lit(PQ_M - 1)),
                    F.lit(0.0).cast("double"),
                    lambda acc, s: acc
                    + F.element_at(
                        F.element_at(F.col("dt"), (s + F.lit(1)).cast("int")),
                        (
                            F.element_at(F.col("codes"), (s + F.lit(1)).cast("int"))
                            + F.lit(1)
                        ).cast("int"),
                    ),
                ),
                6,
            ).alias("adc_dist"),
        )
    )


def q_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC top-k over the compressed corpus.  The sole wide exchange is
    the per-query top-k window over q·n candidate rows; at scale the
    candidate set is first cut by the IVF tier (probe nprobe cells, ADC
    within), which bounds the window input to q·(n·nprobe/ncells)."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("neighbor_id").asc()
    )
    return (
        _adc_scored(spark, sf_dir)
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= TOP_K)
    )


def _l2(a, b):
    """Flat left-folded Σ (a[i]-b[i])² over all DIM dims in double —
    bit-identical to `_sql_l2` (NOT the subspace-fold sum: the re-rank
    distance is its own expression with its own fold order)."""
    import functools

    def term(i: int):
        d = F.element_at(a, i + 1).cast("double") - F.element_at(b, i + 1).cast("double")
        return d * d

    return functools.reduce(lambda x, y: x + y, (term(i) for i in range(DIM)))


def q_pq_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval — the production PQ pattern: ADC over codes
    selects a PQ_RERANK shortlist per query, then ONLY those PQ_RERANK·q
    raw vectors are fetched and re-ranked by exact L2.

    This is how compressed ANN recovers recall on hard (isotropic) data:
    ADC alone recalls ~0.2 of the exact top-k on this fixture (the 64×
    quantization noise swamps neighbor gaps — measured, and a trained
    codebook only buys ~+0.1), while the R=PQ_RERANK re-rank lifts it to
    0.8+.  At 100 TB the exact stage touches R·q vectors instead of
    n — the shortlist join is keyed on vec_id against the (pruned) vector
    store, and the re-rank window input is R·q rows, both independent of
    corpus size."""
    w_short = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("neighbor_id").asc()
    )
    shortlist = (
        _adc_scored(spark, sf_dir)
        .withColumn("srank", F.row_number().over(w_short))
        .filter(F.col("srank") <= PQ_RERANK)
        .select("query_id", "neighbor_id")
    )
    emb = load_table(spark, sf_dir, "embeddings")
    qv = F.broadcast(
        emb.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
        )
    )
    cv = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv"))
    exact = (
        shortlist.join(cv, "neighbor_id")
        .join(qv, "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(_l2(F.col("qv"), F.col("cv")), 6).alias("l2_dist"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("l2_dist").asc(), F.col("neighbor_id").asc()
    )
    return exact.withColumn("rank", F.row_number().over(w).cast("long")).filter(
        F.col("rank") <= TOP_K
    )


# ---------------------------------------------------------------- oracles


def _ivfpq_encode_udf(cents: list[tuple[int, list[float]]], cb: list[list[list[float]]]):
    """One corpus pass producing BOTH index tiers: the vector's IVF cell
    (top-1 cosine centroid, the `similarity._probe_cells_udf` rule) and
    its PQ codes — at 100 TB this is the single index-build scan."""
    import numpy as np

    cent_ids = np.array([cid for cid, _ in cents], dtype=np.int64)
    cent_mat = np.array([cv for _, cv in cents], dtype=np.float64)
    cent_norm = np.linalg.norm(cent_mat, axis=1)

    def encode(pdfs):
        for pdf in pdfs:
            if not len(pdf):
                continue
            m = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            sims = (m @ cent_mat.T) / (
                np.linalg.norm(m, axis=1, keepdims=True) * cent_norm[None, :]
            )
            cell = cent_ids[np.argsort(-sims, axis=1, kind="stable")[:, 0]]
            codes = np.empty((len(pdf), PQ_M), dtype=np.int32)
            for s in range(PQ_M):
                codes[:, s] = np.argmin(_subspace_dists(m, cb[s], s), axis=0)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "cell": cell,
                    "codes": list(codes),
                }
            )

    return encode


IVFPQ_RECALL_MIN = 0.7  # vs EXACT global top-k; measured 0.86 (sf0.001),
# 0.80 (sf0.01), 0.82 (sf0.1) with the seed quantizer + R=100 re-rank.
# The nprobe=2/8 probe ceiling (0.90 at sf0.1) now dominates; the R=100
# exact re-rank recovers nearly all PQ quantization loss in-cell.
# Deterministic per fixture, so 0.7 asserts with margin.


def ivfpq_results(
    spark: SparkSession, sf_dir: str, *, fitted: bool = False
) -> DataFrame:
    """PRODUCTION IVF+PQ path — (query_id, neighbor_id) after IVF probe →
    ADC over codes → exact-L2 re-rank of the R-row shortlist.  Benched as
    its own line (the judged `q_ivfpq_topk` wraps this in a brute-force
    recall harness whose cost is oracle machinery, not the operator —
    the `ivf_topk`/`ivf_topk_results` split).

    Scale shape: one index-build scan (`_ivfpq_encode_udf`, narrow),
    q·nprobe broadcast probe rows carrying the ADC tables, a cell-keyed
    broadcast join (shuffle ∝ probed candidates only), the top-R window,
    and an R·q-row exact re-rank — corpus vectors are read only by the
    index build and the final R·q fetch."""
    import numpy as np

    from .similarity import IVF_NPROBE, collect_centroids, fitted_centroids

    # Both model tiers are selectable; the default is the measured-best
    # config on this fixture (seed quantizer + seed codebook — see the
    # fitted_codebook docstring for the sweep).  fitted=True selects the
    # trained coarse quantizer + trained codebook, the expected winner on
    # clustered real-world corpora.
    cents = (
        fitted_centroids(spark, sf_dir) if fitted else collect_centroids(spark, sf_dir)
    )
    cb = fitted_codebook(spark, sf_dir) if fitted else collect_codebook(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")

    # corpus index: (vec_id, cell, codes) in one Arrow pass
    indexed = emb.select("vec_id", "embedding").mapInPandas(
        _ivfpq_encode_udf(cents, cb), "vec_id long, cell long, codes array<int>"
    )

    # query-side model state: probed cells + ADC tables, both driver-side
    qrows = sorted(
        (
            (int(r.vec_id), [float(x) for x in r.embedding])
            for r in emb.filter(F.col("vec_id") < N_QUERIES)
            .select("vec_id", "embedding")
            .collect()
        ),
        key=lambda t: t[0],
    )
    qmat = np.array([v for _, v in qrows], dtype=np.float64)
    cent_ids = np.array([cid for cid, _ in cents], dtype=np.int64)
    cent_mat = np.array([cv for _, cv in cents], dtype=np.float64)
    sims = (qmat @ cent_mat.T) / (
        np.linalg.norm(qmat, axis=1, keepdims=True)
        * np.linalg.norm(cent_mat, axis=1)[None, :]
    )
    probe_cells = cent_ids[np.argsort(-sims, axis=1, kind="stable")[:, :IVF_NPROBE]]
    probes = [
        (
            qid,
            int(cell),
            [
                [float(x) for x in _subspace_dists(qmat[i : i + 1], cb[s], s)[:, 0]]
                for s in range(PQ_M)
            ],
        )
        for i, (qid, _) in enumerate(qrows)
        for cell in probe_cells[i]
    ]
    qdf = spark.createDataFrame(
        probes, "query_id long, cell long, dt array<array<double>>"
    )

    adc = F.aggregate(
        F.sequence(F.lit(0), F.lit(PQ_M - 1)),
        F.lit(0.0).cast("double"),
        lambda acc, s: acc
        + F.element_at(
            F.element_at(F.col("dt"), (s + F.lit(1)).cast("int")),
            (F.element_at(F.col("codes"), (s + F.lit(1)).cast("int")) + F.lit(1)).cast(
                "int"
            ),
        ),
    )
    w_short = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("neighbor_id").asc()
    )
    shortlist = (
        indexed.join(F.broadcast(qdf), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id", F.col("vec_id").alias("neighbor_id"), adc.alias("adc_dist")
        )
        .withColumn("srank", F.row_number().over(w_short))
        .filter(F.col("srank") <= PQ_RERANK)
        .select("query_id", "neighbor_id")
    )
    qv = F.broadcast(
        emb.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
        )
    )
    cv = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv"))
    w_final = Window.partitionBy("query_id").orderBy(
        F.col("l2_dist").asc(), F.col("neighbor_id").asc()
    )
    return (
        shortlist.join(cv, "neighbor_id")
        .join(qv, "query_id")
        .select("query_id", "neighbor_id", _l2(F.col("qv"), F.col("cv")).alias("l2_dist"))
        .withColumn("rank", F.row_number().over(w_final))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id")
    )


def q_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Judged form: `ivfpq_results` validated in-query against the EXACT
    global top-k (oracle: literal counts + true, the `ivf_topk` pattern,
    since the composition is approximate by construction)."""
    emb = load_table(spark, sf_dir, "embeddings")
    approx = ivfpq_results(spark, sf_dir)
    qv = F.broadcast(
        emb.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
        )
    )
    cv = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv"))

    # in-query validation vs the EXACT global top-k (brute force)
    w_exact = Window.partitionBy("query_id").orderBy(
        F.col("l2_dist").asc(), F.col("neighbor_id").asc()
    )
    exact = (
        cv.crossJoin(qv)
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", _l2(F.col("qv"), F.col("cv")).alias("l2_dist"))
        .withColumn("rank", F.row_number().over(w_exact))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id")
        .localCheckpoint(eager=True)
    )
    n_queries = emb.filter(F.col("vec_id") < N_QUERIES).agg(
        F.count("*").alias("n_queries")
    )
    n_exact = exact.agg(F.count("*").alias("n_exact_results"))
    n_hits = approx.join(exact, ["query_id", "neighbor_id"], "left_semi").agg(
        F.count("*").alias("_hits")
    )
    return (
        n_queries.crossJoin(n_exact)
        .crossJoin(n_hits)
        .select(
            "n_queries",
            "n_exact_results",
            (F.col("_hits") / F.col("n_exact_results") >= IVFPQ_RECALL_MIN).alias(
                "recall_ok"
            ),
        )
    )


def _sql_sub_dist(vec: str, cvec: str, s: int) -> str:
    """Left-folded Σ_{j} (vec[s·PQ_SUB+j] - cvec[s·PQ_SUB+j])² — identical
    IEEE order to `_subspace_dists` (diff*diff, sequential adds)."""

    def term(j: int) -> str:
        i = s * PQ_SUB + j + 1  # 1-indexed
        d = f"(CAST({vec}[{i}] AS DOUBLE) - CAST({cvec}[{i}] AS DOUBLE))"
        return f"({d} * {d})"

    expr = term(0)
    for j in range(1, PQ_SUB):
        expr = f"({expr} + {term(j)})"
    return expr


def _sql_fold(parts: list[str]) -> str:
    expr = parts[0]
    for p in parts[1:]:
        expr = f"({expr} + {p})"
    return expr


def _dists_cte() -> str:
    """(vec_id, s, code, d): exact subspace distance of every vector to
    every codebook entry — the shared base for assignment AND the ADC
    lookup tables."""
    branches = "\n      UNION ALL ".join(
        f"SELECT e.vec_id, {s} AS s, cb.code, {_sql_sub_dist('e.embedding', 'cb.cv', s)} AS d\n"
        f"        FROM embeddings e CROSS JOIN cb"
        for s in range(PQ_M)
    )
    return f"""
cb AS (SELECT vec_id AS code, embedding AS cv FROM embeddings WHERE vec_id < {PQ_K}),
dists AS (
      {branches}
),
assign AS (
  SELECT vec_id, s, code, d
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id, s
                                     ORDER BY d ASC, code ASC) AS rn
        FROM dists)
  WHERE rn = 1
)"""


def _pivot(cols_src: str) -> str:
    return ",\n         ".join(
        f"max(CASE WHEN s = {s} THEN {cols_src} END) AS d{s}" for s in range(PQ_M)
    )


_PQ_ENCODE_SQL = f"""
WITH {_dists_cte()},
pv AS (
  SELECT vec_id,
         string_agg(CAST(code AS VARCHAR), '-' ORDER BY s) AS codes,
         {_pivot('d')}
  FROM assign GROUP BY vec_id
)
SELECT vec_id, codes,
       round({_sql_fold([f'd{s}' for s in range(PQ_M)])}, 6) AS recon_err
FROM pv
"""

_PQ_ADC_SQL = f"""
WITH {_dists_cte()},
pair AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, c.s, q.d
  FROM assign c
  JOIN dists q ON q.s = c.s AND q.code = c.code
  WHERE q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id
),
pv AS (
  SELECT query_id, neighbor_id,
         {_pivot('d')}
  FROM pair GROUP BY query_id, neighbor_id
),
scored AS (
  SELECT query_id, neighbor_id,
         round({_sql_fold([f'd{s}' for s in range(PQ_M)])}, 6) AS adc_dist
  FROM pv
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY adc_dist ASC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, adc_dist, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {TOP_K}
"""


def _sql_l2(a: str, b: str) -> str:
    """Flat left-folded Σ (a[i]-b[i])² over all DIM dims — matches `_l2`."""

    def term(i: int) -> str:
        d = f"(CAST({a}[{i}] AS DOUBLE) - CAST({b}[{i}] AS DOUBLE))"
        return f"({d} * {d})"

    expr = term(1)
    for i in range(2, DIM + 1):
        expr = f"({expr} + {term(i)})"
    return expr


_PQ_RERANK_SQL = f"""
WITH {_dists_cte()},
pair AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, c.s, q.d
  FROM assign c
  JOIN dists q ON q.s = c.s AND q.code = c.code
  WHERE q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id
),
pv AS (
  SELECT query_id, neighbor_id,
         {_pivot('d')}
  FROM pair GROUP BY query_id, neighbor_id
),
scored AS (
  SELECT query_id, neighbor_id,
         round({_sql_fold([f'd{s}' for s in range(PQ_M)])}, 6) AS adc_dist
  FROM pv
),
shortlist AS (
  SELECT query_id, neighbor_id
  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY adc_dist ASC, neighbor_id ASC) AS srank
        FROM scored)
  WHERE srank <= {PQ_RERANK}
),
exact AS (
  SELECT s.query_id, s.neighbor_id,
         round({_sql_l2('qe.embedding', 'ce.embedding')}, 6) AS l2_dist
  FROM shortlist s
  JOIN embeddings ce ON ce.vec_id = s.neighbor_id
  JOIN embeddings qe ON qe.vec_id = s.query_id
),
reranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY l2_dist ASC, neighbor_id ASC) AS rank
  FROM exact
)
SELECT query_id, neighbor_id, l2_dist, CAST(rank AS BIGINT) AS rank
FROM reranked WHERE rank <= {TOP_K}
"""


# --- Johnson-Lindenstrauss random projection (4× compression tier) ----------

JL_K = 16  # 64 -> 16 dims; 1/sqrt(16) = 0.25 is exactly representable
JL_SCALE = 0.25
JL_AUDIT_N = 16  # pairwise distortion audit over the first 16 vectors
JL_RATIO_LO, JL_RATIO_HI = 0.4, 2.0  # loose JL envelope at k=16


def _jl_sign(i: int, j: int) -> float:
    """Deterministic Rademacher ±1 from md5 — RNG-free, so the projection
    matrix is identical across engines, runs, and retried tasks (the
    `weighted_sample_es` md5-uniform rule applied to matrix entries)."""
    import hashlib

    return 1.0 if hashlib.md5(f"jl:{i}:{j}".encode()).digest()[0] & 1 == 0 else -1.0


_JL_SIGNS = [[_jl_sign(i, j) for j in range(DIM)] for i in range(JL_K)]


def q_jl_projection_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random projection 64 → 16 dims with an
    in-query distortion audit — the cheap compression tier BELOW the PQ
    family (JL is a linear map: 4× fewer floats, distances preserved in
    expectation, and downstream cosine/IVF code runs unchanged on the
    projected vectors; PQ's 64× needs the ADC machinery).

    Projection: ``y_i = 0.25 · Σ_j s_ij · x_j`` with deterministic
    md5-derived Rademacher signs — a pure narrow projection (16
    explicit left-folded dot products per row, no shuffle, no Python,
    no model state beyond plan literals).  Audit: pairwise squared
    distances among the first 16 vectors, original vs projected —
    per-pair ratio plus a JL-envelope boolean, so the oracle
    hash-checks both the projection arithmetic AND the distortion
    claim.  Both engines fold in the identical IEEE order (the
    `_dot`/`dot_prefix` rule from the cosine family).

    Scale shape: the projection is what runs at 100 TB (shuffle-free,
    whole-stage codegen); the audit joins a broadcast 16-row sample
    against itself — bounded regardless of corpus size."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    def proj_col(i: int) -> F.Column:
        # aggregate(zip_with(...)) — a codegen LOOP, not 64 inlined adds
        # (the 16×64-term unrolled form compiled for ~8 s in janino; the
        # loop form is pennies).  Left fold from 0.0 matches the oracle's
        # unrolled prefix order exactly: 0.0 + t1 == t1 in IEEE.
        signs = F.array(*[F.lit(_JL_SIGNS[i][j]) for j in range(DIM)])
        dot = F.aggregate(
            F.zip_with(F.col("embedding"), signs, lambda x, s: x.cast("double") * s),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        return (dot * F.lit(JL_SCALE)).alias(f"y{i}")

    audit = emb.filter(F.col("vec_id") < JL_AUDIT_N)
    # eager checkpoint: without it Catalyst collapses the projection into
    # the self-join and INLINES each 64-term y_i expression into both
    # join sides and every pairwise-distance term (measured 10.7 -> ~2 s
    # at sf0.1: the cost was codegen compilation, not the 16 rows)
    proj = audit.select(
        "vec_id", "embedding", *[proj_col(i) for i in range(JL_K)]
    ).localCheckpoint(eager=True)
    a = proj.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("ea"),
        *[F.col(f"y{i}").alias(f"a{i}") for i in range(JL_K)],
    )
    b = proj.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("eb"),
        *[F.col(f"y{i}").alias(f"b{i}") for i in range(JL_K)],
    )
    import functools

    d2_orig = F.aggregate(
        F.zip_with(
            F.col("ea"),
            F.col("eb"),
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    d2_proj = functools.reduce(
        lambda x, y: x + y,
        [
            (F.col(f"a{i}") - F.col(f"b{i}")) * (F.col(f"a{i}") - F.col(f"b{i}"))
            for i in range(JL_K)
        ],
    )
    pairs = a.join(F.broadcast(b), F.col("vec_a") < F.col("vec_b")).select(
        "vec_a",
        "vec_b",
        F.round(d2_orig, 6).alias("d2_orig"),
        F.round(d2_proj, 6).alias("d2_proj"),
    )
    ratio = F.round(F.col("d2_proj") / F.col("d2_orig"), 6)
    return (
        pairs.filter(F.col("d2_orig") > 0)
        .select(
            "vec_a",
            "vec_b",
            "d2_orig",
            "d2_proj",
            ratio.alias("ratio"),
            ((ratio >= JL_RATIO_LO) & (ratio <= JL_RATIO_HI))
            .cast("int")
            .alias("within_jl_envelope"),
        )
        .orderBy("vec_a", "vec_b")
    )


def _jl_sql() -> str:
    def proj_expr(tbl: str, i: int) -> str:
        expr = f"(CAST({tbl}.embedding[1] AS DOUBLE) * {_JL_SIGNS[i][0]})"
        for j in range(1, DIM):
            expr = f"({expr} + (CAST({tbl}.embedding[{j + 1}] AS DOUBLE) * {_JL_SIGNS[i][j]}))"
        return f"({expr} * {JL_SCALE})"

    proj_cols = ", ".join(f"{proj_expr('e', i)} AS y{i}" for i in range(JL_K))

    def d2_orig_expr() -> str:
        def t(j):
            d = f"(CAST(a.embedding[{j + 1}] AS DOUBLE) - CAST(b.embedding[{j + 1}] AS DOUBLE))"
            return f"({d} * {d})"

        expr = t(0)
        for j in range(1, DIM):
            expr = f"({expr} + {t(j)})"
        return expr

    def d2_proj_expr() -> str:
        def t(i):
            return f"((a.y{i} - b.y{i}) * (a.y{i} - b.y{i}))"

        expr = t(0)
        for i in range(1, JL_K):
            expr = f"({expr} + {t(i)})"
        return expr

    return f"""
WITH p AS (
  SELECT e.vec_id, e.embedding, {proj_cols}
  FROM embeddings e WHERE e.vec_id < {JL_AUDIT_N}
), pairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         round({d2_orig_expr()}, 6) AS d2_orig,
         round({d2_proj_expr()}, 6) AS d2_proj
  FROM p a JOIN p b ON a.vec_id < b.vec_id
)
SELECT vec_a, vec_b, d2_orig, d2_proj,
       round(d2_proj / d2_orig, 6) AS ratio,
       CAST(round(d2_proj / d2_orig, 6) BETWEEN {JL_RATIO_LO} AND {JL_RATIO_HI}
            AS INT) AS within_jl_envelope
FROM pairs WHERE d2_orig > 0
ORDER BY vec_a, vec_b
"""


# ---------------------------------------------------------------- SQ8 tier

SQ8_RECALL_MIN = 0.5  # vs exact dot top-k; measured per-fixture below


def _sq8_max_abs(a):
    """Per-vector max |x_i| (the SQ8 scale numerator) — greatest() is
    fold-order-free, so no ladder is needed."""
    return F.greatest(
        *[F.abs(F.element_at(a, i + 1).cast("double")) for i in range(DIM)]
    )


def q_sq8_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantization (SQ8) ANN tier — the third compression point
    next to PQ (64×) and raw floats: each vector is encoded as 64 int8
    codes plus one scale (max|x|/127), a 4× memory-bandwidth cut with
    far less quantization noise than PQ (8 bits/dim vs 8 bits/8 dims).
    ADC scores are scale·Σ q_i·code_i; the result carries each query's
    recall against the exact-dot top-k and the floor assertion, so the
    accuracy claim is hashed, not asserted in prose.

    Measured recall vs exact: per-query min 0.8 / mean 0.98 at every
    fixture scale (sf0.001/0.01/0.1) — 8 bits per DIMENSION barely
    perturbs neighbor order even on isotropic data, vs PQ's ~0.2
    ADC-only recall at 8 bits per 8-dim subspace;
    SQ8_RECALL_MIN=0.5 asserts with margin.  At 100 TB SQ8 composes
    with the IVF tier exactly like PQ (probe cells, ADC within) — this
    judged form is the brute variant so the oracle can replay it
    bit-for-bit.

    Determinism: codes come from floor(x·127/m + 0.5) — floor on
    identical doubles has no rounding semantics to diverge (unlike
    round's half-ties); both scores are left folds in the oracle's op
    order, computed in one Arrow pass (``_sq8_pairs_fold_exact``); ties
    break on neighbor_id."""
    emb = load_table(spark, sf_dir, "embeddings")
    scored = _sq8_pairs_fold_exact(spark, emb)
    w_sq8 = Window.partitionBy("query_id").orderBy(
        F.col("sq8_score").desc(), F.col("neighbor_id").asc()
    )
    w_exact = Window.partitionBy("query_id").orderBy(
        F.col("exact_dot").desc(), F.col("neighbor_id").asc()
    )
    ranked = scored.select(
        "query_id",
        "neighbor_id",
        "sq8_score",
        F.row_number().over(w_sq8).cast("long").alias("rank"),
        F.row_number().over(w_exact).alias("exact_rank"),
    )
    hits = ranked.groupBy("query_id").agg(
        (
            F.sum(
                F.when((F.col("rank") <= TOP_K) & (F.col("exact_rank") <= TOP_K), 1).otherwise(0)
            )
            / F.lit(float(TOP_K))
        ).alias("recall_q")
    )
    return (
        ranked.filter(F.col("rank") <= TOP_K)
        .join(hits, "query_id")
        .select(
            "query_id",
            "neighbor_id",
            "sq8_score",
            "rank",
            F.round("recall_q", 6).alias("recall_q"),
            (F.col("recall_q") >= SQ8_RECALL_MIN).alias("_recall_ok"),
        )
        .orderBy("query_id", "rank")
    )


def _dot_flat(a, b):
    """Flat unrolled left-fold dot (same as similarity._dot; local copy
    keeps this module's folds self-contained and order-pinned)."""
    import functools as _ft

    terms = [
        F.element_at(a, i + 1).cast("double") * F.element_at(b, i + 1).cast("double")
        for i in range(DIM)
    ]
    return _ft.reduce(lambda x, y: x + y, terms)


def _sq8_pairs_fold_exact(spark: SparkSession, emb: DataFrame) -> DataFrame:
    """(queries × corpus) SQ8-ADC + exact-dot pair stage as one narrow
    Arrow pass: per pair,
    sq8_score = round6((m/127)·Σ q_i·floor(c_i·127/m + 0.5)) and
    exact_dot = round6(Σ q_i·c_i), every multiply/divide/add/floor the
    oracle's IEEE-754 f64 op sequence (numpy ufuncs — no FMA, no
    re-association), pairs with query_id == neighbor_id dropped like
    the oracle's join condition."""
    import numpy as np

    from .similarity import (
        _collect_query_vectors,
        _fold_dots_np,
        _round6_np,
        _sq8_scores_np,
    )

    q_ids, qmat = _collect_query_vectors(emb)
    bc = spark.sparkContext.broadcast((q_ids, qmat))

    def score(batches):
        import pandas as pd

        q_ids, qmat = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            cv = np.stack(pdf["cv"].to_numpy()).astype(np.float64)  # b×dim
            n_ids = pdf["neighbor_id"].to_numpy()
            sq8 = _sq8_scores_np(cv, qmat)
            exact = _round6_np(_fold_dots_np(cv, qmat))
            keep = n_ids[:, None] != q_ids[None, :]
            bi, qi = np.nonzero(keep)
            yield pd.DataFrame(
                {
                    "query_id": q_ids[qi],
                    "neighbor_id": n_ids[bi],
                    "sq8_score": sq8[bi, qi],
                    "exact_dot": exact[bi, qi],
                }
            )

    return emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv")
    ).mapInPandas(
        score, "query_id long, neighbor_id long, sq8_score double, exact_dot double"
    )


def _sq8_sql() -> str:
    def fold(expr_fn, start=1):
        e = expr_fn(start)
        for i in range(start + 1, DIM + 1):
            e = f"({e} + {expr_fn(i)})"
        return e

    max_abs = "greatest(" + ", ".join(
        f"abs(CAST(embedding[{i}] AS DOUBLE))" for i in range(1, DIM + 1)
    ) + ")"
    exact_term = (
        lambda i: f"(CAST(q.embedding[{i}] AS DOUBLE) * CAST(c.embedding[{i}] AS DOUBLE))"
    )
    return f"""
WITH corpus AS (
  SELECT vec_id AS neighbor_id, embedding, {max_abs} AS m
  FROM embeddings
), scored AS (
  SELECT q.vec_id AS query_id, c.neighbor_id,
         round((c.m / 127.0) * {fold(lambda i: f"(CAST(q.embedding[{i}] AS DOUBLE) * floor(CAST(c.embedding[{i}] AS DOUBLE) * 127.0 / c.m + 0.5))")}, 6) AS sq8_score,
         round({fold(exact_term)}, 6) AS exact_dot
  FROM embeddings q JOIN corpus c ON q.vec_id < {N_QUERIES} AND c.neighbor_id <> q.vec_id
), ranked AS (
  SELECT query_id, neighbor_id, sq8_score,
         row_number() OVER (PARTITION BY query_id ORDER BY sq8_score DESC, neighbor_id ASC) AS rank,
         row_number() OVER (PARTITION BY query_id ORDER BY exact_dot DESC, neighbor_id ASC) AS exact_rank
  FROM scored
), hits AS (
  SELECT query_id,
         sum(CASE WHEN rank <= {TOP_K} AND exact_rank <= {TOP_K} THEN 1 ELSE 0 END)
           / CAST({TOP_K} AS DOUBLE) AS recall_q
  FROM ranked GROUP BY query_id
)
SELECT r.query_id, r.neighbor_id, r.sq8_score, CAST(r.rank AS BIGINT) AS rank,
       round(h.recall_q, 6) AS recall_q,
       h.recall_q >= {SQ8_RECALL_MIN} AS _recall_ok
FROM ranked r JOIN hits h ON r.query_id = h.query_id
WHERE r.rank <= {TOP_K}
ORDER BY r.query_id, r.rank
"""


# ------------------------------------------------------------ IVF×SQ8 tier

# vs EXACT global dot top-k; measured 0.86 (sf0.001), 0.80 (sf0.01), 0.90
# (sf0.1) — at every fixture scale ≥ the IVFPQ tier's measured recall against
# the same dot-exact baseline at the same probe budget (0.86/0.80/0.82),
# because SQ8's 8 bits/dim ADC barely perturbs in-cell order where PQ's
# 8 bits/8-dims does (the brute-tier gap: 0.98 vs ~0.2 mean ADC recall).
# The nprobe=2/8 probe ceiling dominates both compositions at the small
# fixtures; at sf0.1 the re-rank budget exposes the quantizer gap
# (0.90 vs 0.82).  tests/test_round13_invariants.py pins ivfsq8-hits ≥
# ivfpq-hits on the fixture.  Deterministic, so 0.75 (> IVFPQ_RECALL_MIN's
# 0.7) asserts with margin.
IVFSQ8_RECALL_MIN = 0.75


def ivfsq8_results(
    spark: SparkSession, sf_dir: str, *, fitted: bool = False
) -> DataFrame:
    """PRODUCTION IVF+SQ8 path — (query_id, neighbor_id) after IVF probe →
    SQ8-ADC over the probed cells → exact-dot re-rank of the R-row
    shortlist.  Mirrors ``ivfpq_results``'s composition with the scalar
    quantizer swapped in: 4× compression instead of 64×, but near-exact
    in-cell ordering (brute-tier ADC recall 0.98 vs PQ's ~0.2), so the
    probe ceiling is the only recall loss left.

    Scale shape: cell assignment and SQ8-ADC scoring are one narrow
    Arrow pass (``similarity._ivf_probed_pairs_fold_exact``); the only
    exchanges are the top-R window over probed candidates
    (vectors dropped first — only ids and scores shuffle), and the R·q-row
    exact re-rank refetch.  SQ8 codes are decoded inline from the stored
    vectors here (floor(x·127/m + 0.5), exact on identical doubles); the
    persisted-codes variant of this index — built once into the snapshot
    table format and CDC-maintained — is the ``ann_index_maintenance``
    operator (snapshots_op)."""
    from .similarity import (
        IVF_NPROBE,
        _ivf_probed_pairs_fold_exact,
        collect_centroids,
        fitted_centroids,
    )

    cents = (
        fitted_centroids(spark, sf_dir) if fitted else collect_centroids(spark, sf_dir)
    )
    emb = load_table(spark, sf_dir, "embeddings")
    pair_scores = _ivf_probed_pairs_fold_exact(spark, emb, cents, IVF_NPROBE, "sq8")
    w_short = Window.partitionBy("query_id").orderBy(
        F.col("sq8_score").desc(), F.col("neighbor_id").asc()
    )
    shortlist = (
        pair_scores.withColumn("srank", F.row_number().over(w_short))
        .filter(F.col("srank") <= PQ_RERANK)
        .select("query_id", "neighbor_id")
    )
    qv = F.broadcast(
        emb.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
        )
    )
    cv = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv"))
    w_final = Window.partitionBy("query_id").orderBy(
        F.col("exact_dot").desc(), F.col("neighbor_id").asc()
    )
    return (
        shortlist.join(cv, "neighbor_id")
        .join(qv, "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(_dot_flat(F.col("qv"), F.col("cv")), 6).alias("exact_dot"),
        )
        .withColumn("rank", F.row_number().over(w_final))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id")
    )


def q_ivfsq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Judged form: ``ivfsq8_results`` validated in-query against the EXACT
    global dot top-k (oracle: literal counts + true — the ``ivfpq_topk``
    pattern, since the composition is approximate by construction).  The
    recall floor is strictly above the PQ tier's (VERDICT r12 #5)."""
    emb = load_table(spark, sf_dir, "embeddings")
    approx = ivfsq8_results(spark, sf_dir)
    queries = F.broadcast(
        emb.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
        )
    )
    corpus = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv")
    )
    w_exact = Window.partitionBy("query_id").orderBy(
        F.col("exact_dot").desc(), F.col("neighbor_id").asc()
    )
    exact = (
        corpus.join(queries, F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(_dot_flat(F.col("qv"), F.col("cv")), 6).alias("exact_dot"),
        )
        .withColumn("rank", F.row_number().over(w_exact))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id")
        .localCheckpoint(eager=True)
    )
    n_queries = emb.filter(F.col("vec_id") < N_QUERIES).agg(
        F.count("*").alias("n_queries")
    )
    n_exact = exact.agg(F.count("*").alias("n_exact_results"))
    n_hits = approx.join(exact, ["query_id", "neighbor_id"], "left_semi").agg(
        F.count("*").alias("_hits")
    )
    return (
        n_queries.crossJoin(n_exact)
        .crossJoin(n_hits)
        .select(
            "n_queries",
            "n_exact_results",
            (F.col("_hits") / F.col("n_exact_results") >= IVFSQ8_RECALL_MIN).alias(
                "recall_ok"
            ),
        )
    )


QUERIES: dict[str, QuerySpec] = {
    "sq8_adc_topk": QuerySpec(
        q_sq8_adc_topk,
        _sq8_sql(),
        "int8 scalar-quantization ADC top-k (4x compression tier next to "
        "PQ), per-query recall vs exact dot hashed with the floor flag",
    ),
    "jl_projection_audit": QuerySpec(
        q_jl_projection_audit,
        _jl_sql(),
        "Johnson-Lindenstrauss 64->16 random projection (deterministic "
        "Rademacher signs) with pairwise distance-distortion audit",
    ),
    "pq_encode": QuerySpec(
        q_pq_encode,
        _PQ_ENCODE_SQL,
        "product-quantization encoding: 64x embedding compression + recon error",
    ),
    "pq_adc_topk": QuerySpec(
        q_pq_adc_topk,
        _PQ_ADC_SQL,
        "PQ asymmetric-distance top-k: ANN scan over codes, not floats",
    ),
    "pq_rerank_topk": QuerySpec(
        q_pq_rerank_topk,
        _PQ_RERANK_SQL,
        "two-stage PQ retrieval: ADC shortlist + exact L2 re-rank (recall recovery)",
    ),
    "ivfpq_topk": QuerySpec(
        q_ivfpq_topk,
        f"""
        SELECT (SELECT count(*) FROM embeddings WHERE vec_id < {N_QUERIES}) AS n_queries,
               (SELECT count(*) FROM embeddings WHERE vec_id < {N_QUERIES}) * {TOP_K} AS n_exact_results,
               true AS recall_ok
        """,
        "IVF probe → PQ-ADC scan → exact re-rank: the composed production ANN path, "
        "self-validated vs the exact top-k",
    ),
    "ivfsq8_topk": QuerySpec(
        q_ivfsq8_topk,
        f"""
        SELECT (SELECT count(*) FROM embeddings WHERE vec_id < {N_QUERIES}) AS n_queries,
               (SELECT count(*) FROM embeddings WHERE vec_id < {N_QUERIES}) * {TOP_K} AS n_exact_results,
               true AS recall_ok
        """,
        "IVF probe → SQ8-ADC scan → exact re-rank: the 4x-compression composed "
        "ANN path, recall floor strictly above the PQ tier's",
    ),
}
