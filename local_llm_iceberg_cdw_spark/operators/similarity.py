"""Similarity search over the `embeddings` table (array<float>, dim=64).

North-star component (BASELINE.json): approximate-nearest-neighbor over an
embedding column.

- **Brute-force cosine top-k** — the exact baseline: broadcast the (small)
  query set against the corpus, one pass, no shuffle until the per-query
  top-k (window over query_id).  At 100 TB the corpus side stays
  partitioned; cost is a single scan × |queries|.
- **IVF top-k** — the scale path: corpus is bucketed to its nearest
  centroid (inverted file); queries probe only the closest cells, cutting
  the scanned fraction to nprobe/ncells.  Centroids here are a
  deterministic subset of the data (k-means would be an offline job at
  scale); the structure — assign / probe / local top-k — is the real one.
- **Embedding near-dup pairs** — cosine ≥ τ all-pairs (the embedding tier
  of the dedup stack); fixture corpus is fixed at 500 rows so the oracle
  can brute-force it.

Dot products are built as an explicit left-folded sum over
`element_at(...)` terms — bit-identical IEEE order to the generated
DuckDB oracle expression, so value hashes match exactly.  The
query × corpus pair stages (cosine/hard-negative/SQ8 top-k, the IVF
probed pairs, the dense shortlist, semantic decontamination) score in
one ``mapInPandas`` pass instead: a numpy LEFT FOLD in the oracle's op
order (``_fold_dots_np``/``_fold_norms_np``/``_round6_np``), so those
values match bitwise too.
"""

from __future__ import annotations

import functools

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from ..catalog import load_table
from ..functions import spread_small_input
from . import QuerySpec

DIM = 64
N_QUERIES = 10       # vec_id < 10 are the query vectors
TOP_K = 5
NEAR_DUP_COSINE = 0.5
IVF_N_CENTROIDS = 8  # deterministic: the first 8 vectors
IVF_NPROBE = 2


def _dot(a: Column, b: Column) -> Column:
    """Left-folded Σ a[i]·b[i] in double — matches the oracle's fold order."""
    terms = [
        F.element_at(a, i + 1).cast("double") * F.element_at(b, i + 1).cast("double")
        for i in range(DIM)
    ]
    return functools.reduce(lambda x, y: x + y, terms)


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


# --- fold-exact numpy kernels for the pair stages ----------------------------
# Each replays the oracle expression's IEEE-754 op sequence term for term
# (one f64 multiply + one f64 add per dim, numpy ufuncs — no FMA, no
# pairwise/BLAS re-association), so results are BIT-identical to `_dot`/
# `_norm` and `_sql_dot`, not merely close.  The pair stages use them
# because evaluating the 64-term unrolled expression per pair in
# Catalyst walks a ~130-node tree 64× per row — ~3 orders of magnitude
# more expensive per pair than one vectorized fold step over an Arrow
# batch.


def _fold_norms_np(mat):
    """Per-row ‖x‖ via sqrt of the LEFT-FOLDED self-dot (`_norm` twin);
    mat: n×dim float64.  np.sqrt is IEEE-correctly-rounded, matching
    java.lang.Math.sqrt."""
    import numpy as np

    acc = mat[:, 0] * mat[:, 0]
    for d in range(1, mat.shape[1]):
        acc = acc + mat[:, d] * mat[:, d]
    return np.sqrt(acc)


def _fold_dots_np(m, q):
    """b×nq pairwise LEFT-FOLDED dots (`_dot` twin), vectorized over the
    pair plane; m: b×dim, q: nq×dim, both float64."""
    acc = m[:, 0, None] * q[None, :, 0]
    for d in range(1, m.shape[1]):
        acc = acc + m[:, d, None] * q[None, :, d]
    return acc


def _sq8_scores_np(c, q):
    """b×nq SQ8-ADC scores round6((m/127)·Σ q_d·floor(c_d·127/m + 0.5)),
    m = max|c_d| (order-free); c: b×dim corpus, q: nq×dim queries.  The
    code derivation is elementwise (·127 → /m → +0.5 → floor), one IEEE
    rounding per step, and the ADC sum is a LEFT FOLD — the oracle's op
    sequence."""
    import numpy as np

    m = np.max(np.abs(c), axis=1)
    acc = np.floor(c[:, 0] * 127.0 / m + 0.5)[:, None] * q[None, :, 0]
    for d in range(1, c.shape[1]):
        acc = acc + np.floor(c[:, d] * 127.0 / m + 0.5)[:, None] * q[None, :, d]
    return _round6_np((m / 127.0)[:, None] * acc)


def _round6_np(a):
    """``F.round(x, 6)`` over an ndarray — the `_round6_halfup`
    BigDecimal-HALF_UP-on-shortest-repr semantics per element (np.round
    is binary half-to-even and can flip half-tie values)."""
    import numpy as np

    flat = a.ravel()
    out = np.fromiter(
        (_round6_halfup(v) for v in flat), dtype=np.float64, count=flat.size
    )
    return out.reshape(a.shape)


def _collect_query_vectors(emb: DataFrame, with_labels: bool = False):
    """The N_QUERIES query vectors as driver-side model state (ids
    ascending): (ids int64[nq], qmat float64[nq×dim][, labels int64[nq]]).
    Collecting to the driver is fine while N_QUERIES is a constant.  No
    query rows gives a (0, DIM) matrix, so the scorers yield no pairs."""
    import numpy as np

    cols = ["vec_id", "embedding"] + (["label"] if with_labels else [])
    rows = sorted(
        emb.filter(F.col("vec_id") < N_QUERIES).select(*cols).collect(),
        key=lambda r: r.vec_id,
    )
    ids = np.array([r.vec_id for r in rows], dtype=np.int64)
    qmat = np.array([r.embedding for r in rows], dtype=np.float64).reshape(-1, DIM)
    if not with_labels:
        return ids, qmat
    labels = np.array([r.label for r in rows], dtype=np.int64)
    return ids, qmat, labels


def _cosine_pairs_fold_exact(
    spark: SparkSession, emb: DataFrame, with_labels: bool = False
) -> DataFrame:
    """The (queries × corpus) cosine pair stage as ONE narrow Arrow pass:
    the oracle's pair set (neighbor ≠ query, and label ≠ query label
    when ``with_labels``) and its `round(dot/(qn*cn), 6)` values
    bitwise.  The plan is scan → MapInPandas, no join, no row expansion
    before the window — a broadcast join would walk the 64-term
    Catalyst expression once per pair."""
    import numpy as np

    if with_labels:
        q_ids, qmat, q_labels = _collect_query_vectors(emb, with_labels=True)
    else:
        q_ids, qmat = _collect_query_vectors(emb)
        q_labels = None
    qn = _fold_norms_np(qmat)
    bc = spark.sparkContext.broadcast((q_ids, qmat, qn, q_labels))

    schema = (
        "query_id long, query_label int, neighbor_id long, neg_label int, cosine double"
        if with_labels
        else "query_id long, neighbor_id long, cosine double"
    )

    def score(batches):
        import pandas as pd

        q_ids, qmat, qn, q_labels = bc.value
        nq = len(q_ids)
        for pdf in batches:
            if pdf.empty:
                continue
            m = np.stack(pdf["cv"].to_numpy()).astype(np.float64)
            n_ids = pdf["neighbor_id"].to_numpy()
            cn = _fold_norms_np(m)
            # dot / (qn * cn): multiply the norms first, then divide —
            # the judged expression's op order (multiply is commutative)
            cos = _round6_np(_fold_dots_np(m, qmat) / (cn[:, None] * qn[None, :]))
            keep = n_ids[:, None] != q_ids[None, :]
            if q_labels is not None:
                n_labels = pdf["neg_label"].to_numpy()
                keep &= n_labels[:, None] != q_labels[None, :]
            bi, qi = np.nonzero(keep)
            if q_labels is not None:  # dict order == schema order
                out = {
                    "query_id": q_ids[qi],
                    "query_label": q_labels[qi].astype("int32"),
                    "neighbor_id": n_ids[bi],
                    "neg_label": n_labels[bi],
                    "cosine": cos[bi, qi],
                }
            else:
                out = {
                    "query_id": q_ids[qi],
                    "neighbor_id": n_ids[bi],
                    "cosine": cos[bi, qi],
                }
            yield pd.DataFrame(out)

    src = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("cv"),
        *([F.col("label").alias("neg_label")] if with_labels else []),
    )
    return src.mapInPandas(score, schema)


def _numpy_probe_cells(mat, cents, nprobe: int):
    """The `_probe_cells_udf` assignment rule replayed on a float64
    matrix: per row, the ``nprobe`` nearest centroid ids by cosine, ties
    → lowest id via stable argsort.  IDENTICAL numpy op sequence to the
    in-plan pandas UDF (same matmul, same np.linalg.norm, same stable
    argsort), so cells computed driver-side equal the cells the UDF
    assigns executor-side."""
    import numpy as np

    cent_ids = np.array([cid for cid, _ in cents], dtype=np.int64)
    cent_mat = np.array([cv for _, cv in cents], dtype=np.float64)
    cent_norm = np.linalg.norm(cent_mat, axis=1)
    sims = (mat @ cent_mat.T) / (
        np.linalg.norm(mat, axis=1, keepdims=True) * cent_norm[None, :]
    )
    return cent_ids[np.argsort(-sims, axis=1, kind="stable")[:, :nprobe]]


def _ivf_probed_pairs_fold_exact(
    spark: SparkSession, emb: DataFrame, cents, nprobe: int, score: str
) -> DataFrame:
    """The IVF probed-pair stage of ``ivf_topk_results`` (score='cosine')
    and ``quantization.ivfsq8_results`` (score='sq8') as ONE narrow
    Arrow pass: pairs are corpus rows whose top-1 cell is probed by the
    query (neighbor ≠ query), with the cell join carried through the
    Arrow stage instead of a per-pair 64-term Catalyst expression walk.

    Query probe cells are computed driver-side by replaying the
    `_probe_cells_udf` numpy rule on the collected query matrix (model
    state, the `collect_centroids` pattern); corpus cell assignment
    replays the identical rule per Arrow batch.  Scores replay the
    oracle's IEEE op sequences: round6(fold_dot / (qn·cn)) for cosine,
    ``_sq8_scores_np`` for sq8."""
    import numpy as np

    q_ids, qmat = _collect_query_vectors(emb)
    probe_cells = _numpy_probe_cells(qmat, cents, nprobe)  # nq × nprobe
    qn = _fold_norms_np(qmat) if score == "cosine" else None
    bc = spark.sparkContext.broadcast((q_ids, qmat, qn, probe_cells, cents))
    out_col = "cosine" if score == "cosine" else "sq8_score"

    def pairs(batches):
        import pandas as pd

        q_ids, qmat, qn, probe_cells, cents = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            m = np.stack(pdf["cv"].to_numpy()).astype(np.float64)  # b×dim
            n_ids = pdf["neighbor_id"].to_numpy()
            cell = _numpy_probe_cells(m, cents, 1)[:, 0]  # top-1 per row
            # pair mask: corpus row's cell probed by the query, self off
            keep = (cell[:, None, None] == probe_cells[None, :, :]).any(axis=2)
            keep &= n_ids[:, None] != q_ids[None, :]
            if score == "cosine":
                cn = _fold_norms_np(m)
                scores = _round6_np(
                    _fold_dots_np(m, qmat) / (qn[None, :] * cn[:, None])
                )
            else:
                scores = _sq8_scores_np(m, qmat)
            bi, qi = np.nonzero(keep)
            yield pd.DataFrame(
                {
                    "query_id": q_ids[qi],
                    "neighbor_id": n_ids[bi],
                    out_col: scores[bi, qi],
                }
            )

    return emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv")
    ).mapInPandas(pairs, f"query_id long, neighbor_id long, {out_col} double")


def _materialized(df: DataFrame, n_partitions: int = 32) -> DataFrame:
    """Spread a small input across the cluster before a pair-heavy stage.

    Local fixtures arrive as one parquet split = one task, which would
    serialize the signature/verify stages; at 100 TB the scan already has
    thousands of splits and this is a no-op — the op stays shuffle-free.
    (An unconditional repartition barrier was measured slower at every SF
    now that norms/signatures are projected once before the joins.)
    """
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        return df.repartition(par)
    return df


def _sql_dot(a: str, b: str) -> str:
    """DuckDB expression with the identical left-fold order."""
    expr = f"(CAST({a}[1] AS DOUBLE) * CAST({b}[1] AS DOUBLE))"
    for i in range(2, DIM + 1):
        expr = f"({expr} + (CAST({a}[{i}] AS DOUBLE) * CAST({b}[{i}] AS DOUBLE)))"
    return expr


def q_embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        F.round(_norm(F.col("embedding")), 6).alias("l2_norm"),
        "label",
    )


def q_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped vector aggregation: per-label centroid (mean vector) norm and
    mean per-vector norm — the E-step statistics of a distributed k-means.

    Per-dimension avg is a plain hash aggregate (64 partial sums per
    group, map-side combined) — no collect, no UDF; at 100 TB this is one
    shuffle keyed by label with constant-size state per group."""
    emb = load_table(spark, sf_dir, "embeddings")
    dim_avgs = [
        F.avg(F.element_at(F.col("embedding"), i + 1).cast("double")).alias(f"c{i}")
        for i in range(DIM)
    ]
    per = emb.groupBy("label").agg(
        F.count("*").alias("n_vectors"),
        F.avg(_norm(F.col("embedding"))).alias("avg_n"),
        *dim_avgs,
    )
    centroid_norm = F.sqrt(
        functools.reduce(
            lambda x, y: x + y, [F.col(f"c{i}") * F.col(f"c{i}") for i in range(DIM)]
        )
    )
    return per.select(
        "label",
        "n_vectors",
        F.round(centroid_norm, 6).alias("centroid_norm"),
        F.round(F.col("avg_n"), 6).alias("avg_vector_norm"),
    ).orderBy("label")


def _sql_centroid_norm() -> str:
    expr = "(c0 * c0)"
    for i in range(1, DIM):
        expr = f"({expr} + (c{i} * c{i}))"
    return f"sqrt({expr})"


_LABEL_CENTROIDS_SQL = f"""
WITH per AS (
  SELECT label, count(*) AS n_vectors,
         avg(sqrt({_sql_dot('embedding', 'embedding')})) AS avg_n,
         {', '.join(f'avg(CAST(embedding[{i + 1}] AS DOUBLE)) AS c{i}' for i in range(DIM))}
  FROM embeddings GROUP BY label
)
SELECT label, n_vectors, round({_sql_centroid_norm()}, 6) AS centroid_norm,
       round(avg_n, 6) AS avg_vector_norm
FROM per ORDER BY label
"""


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force top-k: queries (vec_id < N_QUERIES) × corpus,
    scored in one Arrow pass (``_cosine_pairs_fold_exact``) and ranked by
    a per-query window."""
    emb = load_table(spark, sf_dir, "embeddings")
    scored = _cosine_pairs_fold_exact(spark, emb)
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    return scored.withColumn("rank", F.row_number().over(w).cast("long")).filter(
        F.col("rank") <= TOP_K
    )


def q_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-training data op: for each query vector, the TOP_K
    most-similar corpus vectors with a DIFFERENT label — the "hard
    negatives" an embedding model trains against (easy negatives are
    random; hard ones are the near-misses that actually move the loss).

    Same plan as the exact top-k (one Arrow pass over the corpus, then
    the per-query window) with the label inequality applied inside the
    pair stage, so mismatched pairs are dropped before the window shuffle.
    At 100 TB the candidate stage swaps to the IVF/PQ tier exactly like
    retrieval does; mining is retrieval with a label filter."""
    emb = load_table(spark, sf_dir, "embeddings")
    scored = _cosine_pairs_fold_exact(spark, emb, with_labels=True)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w).cast("long")).filter(
        F.col("rank") <= TOP_K
    )


_HARD_NEGATIVE_SQL = f"""
WITH q AS (SELECT vec_id AS query_id, label AS query_label, embedding AS qv,
                  sqrt({_sql_dot('embedding', 'embedding')}) AS qn
           FROM embeddings WHERE vec_id < {N_QUERIES}),
c AS (SELECT vec_id AS neighbor_id, label AS neg_label, embedding AS cv,
             sqrt({_sql_dot('embedding', 'embedding')}) AS cn
      FROM embeddings),
scored AS (
  SELECT q.query_id, q.query_label, c.neighbor_id, c.neg_label,
         round({_sql_dot('q.qv', 'c.cv')} / (q.qn * c.cn), 6) AS cosine
  FROM q JOIN c ON c.neighbor_id <> q.query_id AND c.neg_label <> q.query_label
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, query_label, neighbor_id, neg_label, cosine,
       CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {TOP_K}
"""


_COSINE_TOPK_SQL = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv,
                  sqrt({_sql_dot('embedding', 'embedding')}) AS qn
           FROM embeddings WHERE vec_id < {N_QUERIES}),
c AS (SELECT vec_id AS neighbor_id, embedding AS cv,
             sqrt({_sql_dot('embedding', 'embedding')}) AS cn
      FROM embeddings),
scored AS (
  SELECT q.query_id, c.neighbor_id,
         round({_sql_dot('q.qv', 'c.cv')} / (q.qn * c.cn), 6) AS cosine
  FROM q JOIN c ON c.neighbor_id <> q.query_id
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {TOP_K}
"""


def collect_centroids(spark: SparkSession, sf_dir: str) -> list[tuple[int, list[float]]]:
    """The IVF/k-means centroid table as driver-side model state: k rows
    of 64 doubles.  Collecting it is the standard scale pattern (at
    100 TB centroids come from an offline fit, not the scan) — the k×dim
    floats then enter every assignment plan as LITERALS, so assignment
    is a pure projection: no join, no row expansion, no shuffle."""
    emb = load_table(spark, sf_dir, "embeddings")
    rows = (
        emb.filter(F.col("vec_id") < IVF_N_CENTROIDS)
        .select("vec_id", "embedding")
        .collect()
    )
    return sorted(
        ((int(r.vec_id), [float(x) for x in r.embedding]) for r in rows),
        key=lambda t: t[0],
    )


def fitted_centroids(spark: SparkSession, sf_dir: str) -> list[tuple[int, list[float]]]:
    """FITTED coarse quantizer option for the IVF tiers: the
    ``kmeans_converged`` model (one cached E+M fit per dataset,
    ``_kmeans_fit``).  Same shape as ``collect_centroids`` — k rows of DIM
    doubles entering the plan as driver-side model state.

    MEASURED on this fixture (unit-norm isotropic embeddings, queries =
    the first N_QUERIES vectors = the seed centroids), the fitted model
    LOWERS the nprobe=2/8 probe ceiling at sf0.1 — 0.90 (seed) vs 0.80
    (spherical fit) vs 0.76 (L2 fit) — because converged k-means balances
    the cells (sizes 292..198 → 275..217), which maximizes the boundary
    surface near any query, and the seed cells coincide with query
    vectors.  On a real clustered corpus the fit is the standard FAISS
    choice, so both models are first-class: production defaults to the
    measured-best seed quantizer, ``fitted=True`` selects this one."""
    cents, _, _, _ = _kmeans_fit(spark, sf_dir)
    return cents


def _probe_cells_udf(cents: list[tuple[int, list[float]]], nprobe: int):
    """Arrow-vectorized cell probe: for each embedding, the ``nprobe``
    nearest centroid ids by cosine (ties → lowest id via stable argsort).

    This is the honest 100 TB shape for IVF assignment: one dense
    float64 matmul per Arrow batch against the k×dim centroid matrix
    (the FAISS coarse-quantizer step) — it scales in k where an unrolled
    per-centroid expression cannot (k literal 64-term folds in one
    projection blew past janino's method limits and fell back to
    interpreted evaluation, measured 78 s vs ~1 s at sf0.1)."""
    import numpy as np

    cent_ids = np.array([cid for cid, _ in cents], dtype=np.int64)
    cent_mat = np.array([cv for _, cv in cents], dtype=np.float64)  # k×dim
    cent_norm = np.linalg.norm(cent_mat, axis=1)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def probe(embs: pd.Series) -> pd.Series:
        m = np.stack(embs.to_numpy()).astype(np.float64)  # b×dim
        sims = (m @ cent_mat.T) / (
            np.linalg.norm(m, axis=1, keepdims=True) * cent_norm[None, :]
        )
        order = np.argsort(-sims, axis=1, kind="stable")[:, :nprobe]
        return pd.Series(list(cent_ids[order]))

    return probe


def ivf_topk_results(
    spark: SparkSession, sf_dir: str, *, fitted: bool = False
) -> DataFrame:
    """IVF-style ANN: bucket corpus by nearest centroid, probe IVF_NPROBE
    cells per query, rank within the probed subset.  Approximate by
    construction; the judged form (``q_ivf_topk``) validates recall
    against the brute-force baseline in-query.

    ``fitted=True`` swaps in the k-means coarse quantizer
    (``fitted_centroids``); the default is the seed quantizer, which
    measures better on this fixture — recall 0.80 (seed) vs 0.78
    (fitted) at sf0.1 — see ``fitted_centroids`` for the why.

    Cell assignment and pair scoring are one narrow Arrow pass against
    the collected centroid matrix (``_ivf_probed_pairs_fold_exact``) —
    no join and no row expansion; the only exchange in the whole plan is
    the final per-query top-k window over the probed candidates.  Every
    corpus vector sits in exactly ONE cell (its top-1), so a (query,
    neighbor) pair occurs at most once even with nprobe > 1."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = (
        fitted_centroids(spark, sf_dir) if fitted else collect_centroids(spark, sf_dir)
    )
    scored = _ivf_probed_pairs_fold_exact(spark, emb, cents, IVF_NPROBE, "cosine")
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    return scored.withColumn("rank", F.row_number().over(w).cast("long")).filter(
        F.col("rank") <= TOP_K
    )


# IVF self-validation: probing 2 of 8 cells recovers a deterministic
# fraction of the exact top-k (seeded fixture + seeded centroids); measured
# recall is 0.86 (sf0.001) / 0.80 (sf0.01), so 0.5 holds with margin while
# still asserting the inverted file actually finds near neighbors.
IVF_RECALL_MIN = 0.5

# Corpus size above which single-query dense shortlists (hybrid RRF's
# dense side, MMR's relevance pool) restrict the exact scorer's
# candidates to the IVF cell probe.  2M 64-dim float64 vectors ≈ 1 GiB
# of scan per query — past that an O(corpus) pass per query is the wrong plan, and
# the threshold makes it physically unreachable rather than a docstring
# promise (the PageRank broadcast-threshold pattern, analytics.py).
DENSE_SHORTLIST_BRUTE_MAX_ROWS = 2_000_000

# corpus row count per fixture dir — parquet metadata is immutable for a
# given sf_dir, so one count job serves every dense_shortlist call in the
# session (hybrid RRF + MMR each call per query otherwise)
_EMB_COUNT_CACHE: dict[str, int] = {}


def _emb_count(emb: DataFrame, sf_dir: str) -> int:
    c = _EMB_COUNT_CACHE.get(sf_dir)
    if c is None:
        c = emb.count()
        _EMB_COUNT_CACHE[sf_dir] = c
    return c


def dense_shortlist(
    spark: SparkSession, sf_dir: str, query_vec_id: int, k: int
) -> DataFrame:
    """Top-k corpus vectors by cosine to one query embedding —
    ``(vec_id, cosine, cv, cn)``, ordered (cosine desc, vec_id).

    The query vector is collected to the driver and every candidate is
    scored in one MapInPandas pass with the oracle's left-folded cosine
    (bit-identical); the top-k order/limit stays in Spark.  Below
    ``DENSE_SHORTLIST_BRUTE_MAX_ROWS`` corpus rows every other vector is
    a candidate, so the shortlist is EXACT.  Beyond it the candidates
    are first restricted to the query's ``IVF_NPROBE`` nearest
    inverted-file cells (the same seed quantizer as
    ``ivf_topk_results``): the per-query scoring cost drops from
    O(corpus) to O(corpus/cells·nprobe) and the corpus-wide assignment
    is one narrow Arrow matmul stage, amortizable across queries.  The
    row count is parquet metadata (no data scan) and is memoized per
    fixture dir, so repeat callers pay zero jobs for the threshold
    decision.  An absent query vector gives an empty shortlist, as the
    oracle's crossJoin against an empty query does."""
    import numpy as np

    schema = "vec_id long, cosine double, cv array<float>, cn double"
    emb = load_table(spark, sf_dir, "embeddings")
    qrow = emb.filter(F.col("vec_id") == query_vec_id).select("embedding").collect()
    if not qrow:
        return spark.createDataFrame([], schema)
    qv = np.array(qrow[0][0], dtype=np.float64)[None, :]
    qn = float(_fold_norms_np(qv)[0])
    cand = emb.filter(F.col("vec_id") != query_vec_id).select(
        "vec_id", F.col("embedding").alias("cv")
    )
    if _emb_count(emb, sf_dir) > DENSE_SHORTLIST_BRUTE_MAX_ROWS:
        cents = collect_centroids(spark, sf_dir)
        probed = [int(c) for c in _numpy_probe_cells(qv, cents, IVF_NPROBE)[0]]
        top1 = _probe_cells_udf(cents, 1)
        cand = (
            cand.withColumn("cell", F.element_at(top1(F.col("cv")), 1))
            .filter(F.col("cell").isin(probed))
            .drop("cell")
        )
    bc = spark.sparkContext.broadcast((qv, qn))

    def score(batches):
        import pandas as pd

        qv, qn = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            m = np.stack(pdf["cv"].to_numpy()).astype(np.float64)
            cn = _fold_norms_np(m)
            cos = _round6_np(_fold_dots_np(m, qv)[:, 0] / (qn * cn))
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"].to_numpy(), "cosine": cos, "cv": pdf["cv"], "cn": cn}
            )

    return (
        cand.mapInPandas(score, schema)
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(k)
    )


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Judged form: IVF ANN validated in-query against the exact top-k —
    emits deterministic counts plus a recall boolean (oracle: literal
    true).  The production operator is ``ivf_topk_results``."""
    emb = load_table(spark, sf_dir, "embeddings")
    # localCheckpoint: the exact top-k list feeds both the count and the
    # hit semi-join; without it the brute-force scoring pipeline runs 2×.
    exact = (
        q_cosine_topk(spark, sf_dir)
        .select("query_id", "neighbor_id")
        .localCheckpoint(eager=True)
    )
    approx = ivf_topk_results(spark, sf_dir).select("query_id", "neighbor_id")
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
            (F.col("_hits") / F.col("n_exact_results") >= IVF_RECALL_MIN).alias("recall_ok"),
        )
    )


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs cosine ≥ τ (embedding near-dup tier of the dedup stack).
    Norms precomputed per vector; one dot product per pair."""
    emb = load_table(spark, sf_dir, "embeddings")
    normed = _materialized(
        emb.select("vec_id", "embedding", _norm(F.col("embedding")).alias("nrm"))
    )
    a = normed.select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"), F.col("nrm").alias("na")
    )
    b = normed.select(
        F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"), F.col("nrm").alias("nb")
    )
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(_dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= NEAR_DUP_COSINE)
    )


_NEAR_DUP_SQL = f"""
WITH n AS (SELECT vec_id, embedding,
                  sqrt({_sql_dot('embedding', 'embedding')}) AS nrm
           FROM embeddings),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         round({_sql_dot('a.embedding', 'b.embedding')} / (a.nrm * b.nrm), 6) AS cosine
  FROM n a JOIN n b ON a.vec_id < b.vec_id
)
SELECT id_a, id_b, cosine FROM pairs WHERE cosine >= {NEAR_DUP_COSINE}
"""


# --- random-hyperplane LSH (SimHash for vectors) — the embedding near-dup
# scale path: O(n) signatures + bucketed candidate join instead of O(n²).
N_HYPERPLANES = 16
LSH_BAND_BITS = 4  # 4 bands of 4 bits


def _hyperplanes() -> list[list[float]]:
    """Deterministic seeded hyperplanes (fixed across runs/engines)."""
    import numpy as np

    rng = np.random.RandomState(42)
    return rng.standard_normal((N_HYPERPLANES, DIM)).tolist()


def _sign_bits(vec: Column) -> Column:
    """16-bit signature: bit i = [dot(v, h_i) > 0], packed into an int.

    Arrow-vectorized numpy matmul — the folded-expression form would be a
    ~3000-node tree whose codegen *compilation* costs seconds; a (n,64)@
    (64,16) matmul per Arrow batch is the honest fast path, and the
    signature only consumes the sign so fp summation order is immaterial.
    """
    import numpy as np

    planes = _hyperplanes()

    @F.pandas_udf(T.IntegerType())
    def sign_bits_udf(vecs: pd.Series) -> pd.Series:
        H = np.asarray(planes, dtype=np.float64)  # (16, DIM)
        M = np.stack(vecs.to_numpy()).astype(np.float64)  # (n, DIM)
        bits = (M @ H.T > 0).astype(np.int64)  # (n, 16)
        packed = (bits << np.arange(N_HYPERPLANES, dtype=np.int64)).sum(axis=1)
        return pd.Series(packed.astype("int32"))

    return sign_bits_udf(vec)


@F.pandas_udf(T.DoubleType())
def _pair_cosine_udf(va: pd.Series, vb: pd.Series, na: pd.Series, nb: pd.Series) -> pd.Series:
    """Vectorized pair cosine for the LSH verify stage: one einsum per
    Arrow batch instead of a 190-node folded expression per row (which
    measures ~10× slower on the candidate volume)."""
    import numpy as np

    A = np.stack(va.to_numpy()).astype(np.float64)
    B = np.stack(vb.to_numpy()).astype(np.float64)
    dots = np.einsum("ij,ij->i", A, B)
    return pd.Series(np.round(dots / (na.to_numpy() * nb.to_numpy()), 6))


def lsh_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH near-dup: candidates share a 4-bit signature chunk;
    survivors verified with exact cosine ≥ NEAR_DUP_COSINE.

    Output ⊆ the brute-force ``embedding_near_dup`` (verification is
    exact), with O(n·bands) candidate generation instead of O(n²); the
    judged form (``q_embedding_lsh_near_dup``) asserts subset + coverage
    in-query.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    signed = _materialized(
        emb.select("vec_id", _sign_bits(F.col("embedding")).alias("sig"))
    )
    chunk_cols = [
        F.shiftright(F.col("sig"), LSH_BAND_BITS * i)
        .bitwiseAND(F.lit((1 << LSH_BAND_BITS) - 1))
        .alias("chunk")
        for i in range(N_HYPERPLANES // LSH_BAND_BITS)
    ]
    # Candidate generation is id-only: the banded self-join shuffles
    # (vec_id, band, chunk) rows — ~20 bytes — never the 64-float vectors
    # (which would multiply the shuffle by bands × vector width).  Pairs
    # colliding in several bands are distinct-reduced BEFORE verification,
    # so exact cosine runs once per candidate pair, not once per shared
    # band.
    buckets = signed.select(
        "vec_id", F.posexplode(F.array(*chunk_cols)).alias("ci", "chunk")
    )
    x, y = buckets.alias("x"), buckets.alias("y")
    cand = (
        x.join(
            y.hint("shuffle_hash"),
            (F.col("x.ci") == F.col("y.ci"))
            & (F.col("x.chunk") == F.col("y.chunk"))
            & (F.col("x.vec_id") < F.col("y.vec_id")),
        )
        .select(F.col("x.vec_id").alias("id_a"), F.col("y.vec_id").alias("id_b"))
        .distinct()
    )
    # Verification joins pull vectors only for surviving candidates.
    vecs = emb.select("vec_id", "embedding", _norm(F.col("embedding")).alias("nrm"))
    return (
        cand.join(vecs.alias("ea"), F.col("id_a") == F.col("ea.vec_id"))
        .join(vecs.alias("eb"), F.col("id_b") == F.col("eb.vec_id"))
        .select(
            "id_a",
            "id_b",
            _pair_cosine_udf(
                F.col("ea.embedding"), F.col("eb.embedding"), F.col("ea.nrm"), F.col("eb.nrm")
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= NEAR_DUP_COSINE)
    )


def q_embedding_lsh_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Judged form: LSH near-dup validated in-query against the exact
    all-pairs baseline — subset (exact verification ⇒ no false pairs) and
    coverage (every brute-force pair surfaced as an LSH candidate;
    deterministic under the seeded hyperplanes, measured true at the
    judged scales).  Oracle: deterministic counts + literal true."""
    emb = load_table(spark, sf_dir, "embeddings")
    # localCheckpoint both pair lists: brute feeds three verdict branches
    # (count + two anti-joins) and lsh feeds two — without checkpoints the
    # O(n²) baseline executes 3× and the LSH pipeline 2×.
    brute = (
        q_embedding_near_dup(spark, sf_dir)
        .select("id_a", "id_b")
        .localCheckpoint(eager=True)
    )
    lsh = (
        lsh_near_dup_pairs(spark, sf_dir)
        .select("id_a", "id_b")
        .localCheckpoint(eager=True)
    )
    n_vecs = emb.agg(F.count("*").alias("n_vecs"))
    n_exact = brute.agg(F.count("*").alias("n_exact_pairs"))
    all_found = brute.join(lsh, ["id_a", "id_b"], "left_anti").agg(
        (F.count("*") == 0).alias("all_pairs_found")
    )
    subset_ok = lsh.join(brute, ["id_a", "id_b"], "left_anti").agg(
        (F.count("*") == 0).alias("subset_ok")
    )
    return n_vecs.crossJoin(n_exact).crossJoin(all_found).crossJoin(subset_ok)


OUTLIER_TOP_K = 3  # farthest-from-centroid vectors surfaced per label


def q_label_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-noise detection: the ``OUTLIER_TOP_K`` vectors farthest (lowest
    cosine) from their own label's centroid — the standard screen for
    mislabeled examples before training on weak labels.

    Shape at scale: the per-label centroid aggregate is one shuffle with
    constant state per group (64 partial sums); the centroid table
    (n_labels × 64 doubles) broadcasts back against the corpus, so the
    scoring pass is shuffle-free; the final top-k is a per-label window
    over k·n_labels candidate rows."""
    emb = load_table(spark, sf_dir, "embeddings")
    dim_avgs = [
        F.avg(F.element_at(F.col("embedding"), i + 1).cast("double")).alias(f"c{i}")
        for i in range(DIM)
    ]
    cents = emb.groupBy("label").agg(*dim_avgs)
    joined = _materialized(emb).join(F.broadcast(cents), "label")
    dot_ec = functools.reduce(
        lambda x, y: x + y,
        [
            F.element_at(F.col("embedding"), i + 1).cast("double") * F.col(f"c{i}")
            for i in range(DIM)
        ],
    )
    cnorm = F.sqrt(
        functools.reduce(
            lambda x, y: x + y, [F.col(f"c{i}") * F.col(f"c{i}") for i in range(DIM)]
        )
    )
    cos = dot_ec / (_norm(F.col("embedding")) * cnorm)
    w = Window.partitionBy("label").orderBy(F.asc("cos_raw"), F.asc("vec_id"))
    return (
        joined.select("label", "vec_id", cos.alias("cos_raw"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= OUTLIER_TOP_K)
        .select("label", "vec_id", F.round(F.col("cos_raw"), 6).alias("centroid_cosine"))
        .orderBy("label", "centroid_cosine", "vec_id")
    )


def _sql_dot_centroid(a: str) -> str:
    """Left-folded Σ a[i]·c{i-1} against the unpacked centroid columns —
    same fold order as the Spark expression."""
    expr = f"(CAST({a}[1] AS DOUBLE) * c0)"
    for i in range(2, DIM + 1):
        expr = f"({expr} + (CAST({a}[{i}] AS DOUBLE) * c{i - 1}))"
    return expr


_LABEL_OUTLIERS_SQL = f"""
WITH per AS (
  SELECT label,
         {', '.join(f'avg(CAST(embedding[{i + 1}] AS DOUBLE)) AS c{i}' for i in range(DIM))}
  FROM embeddings GROUP BY label
), scored AS (
  SELECT e.label, e.vec_id,
         ({_sql_dot_centroid('embedding')})
           / (sqrt({_sql_dot('embedding', 'embedding')}) * {_sql_centroid_norm()}) AS cos_raw
  FROM embeddings e JOIN per USING (label)
), ranked AS (
  SELECT label, vec_id, cos_raw,
         row_number() OVER (PARTITION BY label ORDER BY cos_raw ASC, vec_id ASC) AS rn
  FROM scored
)
SELECT label, vec_id, round(cos_raw, 6) AS centroid_cosine
FROM ranked WHERE rn <= {OUTLIER_TOP_K}
ORDER BY label, centroid_cosine, vec_id
"""


def q_kmeans_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One deterministic E+M iteration of spherical k-means over the
    embeddings (k = IVF_N_CENTROIDS seed vectors; cosine affinity): the
    offline clustering step that fits the IVF index's cells.

    E-step: assign each vector to its max-cosine centroid (tie → lowest
    centroid_id) via the fold-exact Arrow assignment shared with
    ``q_kmeans_converged`` — a narrow stage, no join, no row expansion.
    M-step: per-cluster mean vectors as one keyed (cluster, dim) hash
    aggregate (map-side combined; shuffle ∝ corpus rows × dims).  Emits
    per-cluster size, updated centroid norm, and mean best-cosine
    (dispersion); the full iterated form is ``kmeans_converged``.
    Exactly oracle-checked: the assignment argmax uses the
    fold-order-identical cosine, so both engines pick identical clusters.
    """
    # One pass of the shared machinery (see q_kmeans_converged): a
    # fold-exact Arrow assignment against the collected seed centroids,
    # then the keyed (cluster, dim) mean aggregate and a tiny per-cluster
    # rollup — same outputs as the former crossJoin + 64-wide-agg plan
    # (round-6-stable: the unordered Σ(c_p²) differs from the oracle's
    # left fold by ≲1e-15 relative, far inside the rounding), at a
    # fraction of its Catalyst-analysis and exchange cost.
    emb = load_table(spark, sf_dir, "embeddings").select(
        "embedding", _norm(F.col("embedding")).alias("nrm")
    )
    cents = collect_centroids(spark, sf_dir)
    assigned = emb.mapInPandas(_kmeans_assign_udf(cents), _KMEANS_ASSIGN_SCHEMA)
    per = (
        assigned.select("cluster_id", "c", F.posexplode("embedding"))
        .groupBy("cluster_id", "pos")
        .agg(
            F.avg(F.col("col").cast("double")).alias("cdim"),
            F.count(F.lit(1)).alias("n"),
            F.sum("c").alias("sc"),
        )
    )
    return (
        per.groupBy("cluster_id")
        .agg(
            F.first("n").alias("n_members"),  # identical across dims
            F.first("sc").alias("sc"),
            F.sum(F.col("cdim") * F.col("cdim")).alias("sumsq"),
        )
        .select(
            F.col("cluster_id").cast("long").alias("cluster_id"),
            F.col("n_members").cast("long").alias("n_members"),
            F.round(F.sqrt(F.col("sumsq")), 6).alias("new_centroid_norm"),
            F.round(F.col("sc") / F.col("n_members"), 6).alias("avg_best_cosine"),
        )
        .orderBy("cluster_id")
    )


_KMEANS_STEP_SQL = f"""
WITH cent AS (
  SELECT vec_id AS centroid_id, embedding AS cv,
         sqrt({_sql_dot('embedding', 'embedding')}) AS cn
  FROM embeddings WHERE vec_id < {IVF_N_CENTROIDS}
), e AS (
  SELECT vec_id, embedding, sqrt({_sql_dot('embedding', 'embedding')}) AS nrm
  FROM embeddings
), scored AS (
  SELECT e.vec_id, e.embedding,
         ({_sql_dot('e.embedding', 'cent.cv')}) / (e.nrm * cent.cn) AS cos,
         cent.centroid_id
  FROM e CROSS JOIN cent
), ranked AS (
  SELECT vec_id, centroid_id AS cluster_id, cos AS best_cos, embedding,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY cos DESC, centroid_id ASC) AS rn
  FROM scored
), assigned AS (
  SELECT vec_id, cluster_id, best_cos, embedding FROM ranked WHERE rn = 1
), per AS (
  SELECT cluster_id, count(*) AS n_members, avg(best_cos) AS avg_c,
         {', '.join(f'avg(CAST(embedding[{i + 1}] AS DOUBLE)) AS c{i}' for i in range(DIM))}
  FROM assigned GROUP BY cluster_id
)
SELECT CAST(cluster_id AS BIGINT) AS cluster_id,
       CAST(n_members AS BIGINT) AS n_members,
       round({_sql_centroid_norm()}, 6) AS new_centroid_norm,
       round(avg_c, 6) AS avg_best_cosine
FROM per ORDER BY cluster_id
"""


# --- iterated spherical k-means --------------------------------------------

KMEANS_ITERS = 3        # fixed E+M iterations (the oracle unrolls exactly these)
KMEANS_SHIFT_EPS = 1e-9  # early-stop threshold; fixture shifts are ≫ this


def _py_norm(v: list[float]) -> float:
    """Left-folded L2 norm in IEEE doubles — bit-identical to ``_norm``
    and the oracle's ``sqrt((c0*c0) + ...)`` (Python floats and JVM/DuckDB
    doubles share rounding and fold order)."""
    import math

    acc = v[0] * v[0]
    for x in v[1:]:
        acc = acc + x * x
    return math.sqrt(acc)


def _kmeans_assign_udf(cents: list[tuple[int, list[float]]]):
    """Fold-exact vectorized E-step for ``mapInPandas``: per row, the
    argmax-cosine centroid (tie → lowest id via first-max argmax).

    The dot product is accumulated dimension-by-dimension
    (``acc = acc + m[:, j] * cv[j]``) — the SAME left fold in IEEE
    doubles as the JVM/_sql_dot expression, just vectorized across the
    batch — so the cosines (and therefore the assignments the oracle
    hash-checks) are bit-identical to the unrolled SQL.  Unlike a
    broadcast crossJoin + max aggregate, this is a narrow stage with no
    exchange and it scales in k."""
    import numpy as np

    cent_ids = np.array([cid for cid, _ in cents], dtype="int64")
    cent_vecs = [np.asarray(cv, dtype=np.float64) for _, cv in cents]
    cent_norms = [_py_norm(cv) for _, cv in cents]

    def assign(pdfs):
        for pdf in pdfs:
            if not len(pdf):
                continue
            m = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            nrm = pdf["nrm"].to_numpy()
            cos = np.empty((len(cent_ids), len(pdf)))
            for k, cv in enumerate(cent_vecs):
                acc = m[:, 0] * cv[0]
                for j in range(1, DIM):
                    acc = acc + m[:, j] * cv[j]
                cos[k] = acc / (nrm * cent_norms[k])
            best = np.argmax(cos, axis=0)  # first max → lowest centroid id
            yield pd.DataFrame(
                {
                    "cluster_id": cent_ids[best],
                    "c": cos[best, np.arange(len(pdf))],
                    "embedding": pdf["embedding"],
                }
            )

    return assign


_KMEANS_ASSIGN_SCHEMA = "cluster_id long, c double, embedding array<float>"


def q_kmeans_converged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spherical k-means run to convergence: KMEANS_ITERS deterministic
    E+M iterations (or earlier if every centroid moves < KMEANS_SHIFT_EPS
    — never at fixture scale, so the unrolled oracle stays exact).  This
    is the offline clustering job that fits the IVF index's cells;
    ``q_kmeans_step`` is its single-iteration, fully-inline form.

    The scale pattern: centroids are DRIVER-SIDE MODEL STATE (k×dim
    doubles), shipped into each E-step as a UDF closure — each iteration
    is a fresh scan + one narrow Arrow-batched assignment
    (``_kmeans_assign_udf``) + one keyed decimal aggregate (the only
    exchange; shuffle ∝ corpus rows × dims after map-side combine) —
    never a growing lineage; the corpus projection is localCheckpointed
    once and reused by every iteration.  Convergence is decided from the
    per-iteration collected M-step (k×dim rows — the batched
    convergence-check pattern from dedup_clusters).

    Cross-engine exactness: the E-step cosine fold is bit-identical to
    the oracle (see ``_kmeans_assign_udf``), and the M-step mean is an
    order-independent DECIMAL(30,10) sum divided by the member count, so
    Spark's collected centroids equal the oracle CTE chain's exactly."""
    _, final, n_iters_run, _ = _kmeans_fit(spark, sf_dir)

    # Final stats frame (k rows): norm folded over the array column with
    # F.aggregate — left fold from 0.0 (0.0 + x ≡ x in IEEE), identical
    # to the oracle's (c0*c0) + (c1*c1) + ... chain; rounding stays in
    # Spark so HALF_UP matches the SQL round().
    final_df = spark.createDataFrame(
        [(cid, n, sc, cv) for cid, (n, sc, cv) in sorted(final.items())],
        schema="cluster_id long, n_members long, sc double, cvec array<double>",
    )
    norm = F.sqrt(F.aggregate("cvec", F.lit(0.0), lambda a, x: a + x * x))
    return final_df.select(
        "cluster_id",
        "n_members",
        F.round(norm, 6).alias("new_centroid_norm"),
        F.round(F.col("sc") / F.col("n_members"), 6).alias("avg_best_cosine"),
        F.lit(n_iters_run).cast("long").alias("n_iterations"),
    ).orderBy("cluster_id")


# Fitted-model cache: the converged centroids are a pure function of the
# embeddings file (deterministic seed, fixed iterations), so four judged
# queries (kmeans_converged/assignments, semantic_dedup,
# semantic_mixture_weights) can share one fit per dataset instead of each
# re-running the 3-iteration loop — exactly how a pipeline treats a fitted
# model artifact.  Keyed by the file's (path, mtime_ns, size): any rewrite
# invalidates.  Only plain Python state is cached (centroids + M-step
# stats), never DataFrames — safe across Spark sessions.
_KMEANS_MODEL_CACHE: dict = {}


def _kmeans_fit(spark: SparkSession, sf_dir: str):
    """Run (or reuse) the E+M loop; returns ``(cents, final, n_iters_run,
    emb)`` where ``cents`` is the FITTED centroid list, ``final`` maps
    cluster_id → (n_members, Σcos, centroid vector), and ``emb`` is the
    localCheckpointed corpus projection (reusable for a final assignment
    pass without re-scanning)."""
    import os

    # No repartition spread: the fixture corpus is small enough that the
    # per-iteration cost is job scheduling, not compute — fewer tasks per
    # stage wins; at scale the scan's own splits provide the parallelism.
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", _norm(F.col("embedding")).alias("nrm")
    ).localCheckpoint(eager=True)

    src = os.path.join(sf_dir, "embeddings.parquet")
    try:
        st = os.stat(src)
        cache_key = (os.path.abspath(src), st.st_mtime_ns, st.st_size)
    except OSError:
        cache_key = None
    if cache_key is not None and cache_key in _KMEANS_MODEL_CACHE:
        cents, final, n_iters_run = _KMEANS_MODEL_CACHE[cache_key]
        return cents, final, n_iters_run, emb

    cents = collect_centroids(spark, sf_dir)

    n_iters_run = 0
    final = None  # {cluster_id: (n_members, sum_c, [per-dim decimal-exact sums])}
    for _ in range(KMEANS_ITERS):
        assigned = emb.select("embedding", "nrm").mapInPandas(
            _kmeans_assign_udf(cents), _KMEANS_ASSIGN_SCHEMA
        )
        # M-step as ONE keyed decimal aggregate over (cluster, dim) —
        # posexplode trades 64 wide agg expressions (whose Catalyst
        # analysis alone cost ~2 s/iteration) for 64× tiny rows through a
        # map-side-combined sum; count and Σcos ride along (identical per
        # dim, read back from any one dim).  Output is k×dim rows.
        per = (
            assigned.select("cluster_id", "c", F.posexplode("embedding"))
            .groupBy("cluster_id", "pos")
            .agg(
                F.sum(F.col("col").cast("double").cast("decimal(30,10)"))
                .cast("double")
                .alias("s"),
                F.count(F.lit(1)).alias("n"),
                F.sum("c").alias("sc"),
            )
        )
        by_cluster: dict[int, dict[int, tuple]] = {}
        for r in per.collect():
            by_cluster.setdefault(int(r.cluster_id), {})[int(r.pos)] = r
        new_final = {}
        new_cents = []
        for cid in sorted(by_cluster):
            dims = by_cluster[cid]
            n = int(dims[0].n)
            cv = [dims[p].s / n for p in range(DIM)]
            new_final[cid] = (n, float(dims[0].sc), cv)
            new_cents.append((cid, cv))
        n_iters_run += 1
        old = dict(cents)
        shift = max(
            _py_norm([a - b for a, b in zip(old[cid], cv)])
            if cid in old
            else float("inf")
            for cid, cv in new_cents
        )
        final = new_final
        cents = new_cents
        if shift < KMEANS_SHIFT_EPS:
            break
    if cache_key is not None:
        _KMEANS_MODEL_CACHE[cache_key] = (cents, final, n_iters_run)
    return cents, final, n_iters_run, emb


def _kmeans_assignments_udf(cents: list[tuple[int, list[float]]]):
    """Final assignment pass with ``vec_id`` passthrough — same fold-exact
    cosine as ``_kmeans_assign_udf``."""
    import numpy as np

    cent_ids = np.array([cid for cid, _ in cents], dtype="int64")
    cent_vecs = [np.asarray(cv, dtype=np.float64) for _, cv in cents]
    cent_norms = [_py_norm(cv) for _, cv in cents]

    def assign(pdfs):
        for pdf in pdfs:
            if not len(pdf):
                continue
            m = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            nrm = pdf["nrm"].to_numpy()
            cos = np.empty((len(cent_ids), len(pdf)))
            for k, cv in enumerate(cent_vecs):
                acc = m[:, 0] * cv[0]
                for j in range(1, DIM):
                    acc = acc + m[:, j] * cv[j]
                cos[k] = acc / (nrm * cent_norms[k])
            best = np.argmax(cos, axis=0)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "cluster_id": cent_ids[best],
                    "c": cos[best, np.arange(len(pdf))],
                }
            )

    return assign


def q_kmeans_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Use the fitted model: per-vector cluster assignment under the
    CONVERGED centroids (``_kmeans_fit``) — the table a pipeline joins
    against documents to stratify, balance, or diagnose a corpus by
    semantic cluster.  One extra narrow Arrow-batched pass over the
    already-checkpointed corpus; rounding happens in Spark so the emitted
    cosine matches the oracle's round() on the bit-identical double."""
    cents, _, _, emb = _kmeans_fit(spark, sf_dir)
    out = emb.select("vec_id", "embedding", "nrm").mapInPandas(
        _kmeans_assignments_udf(cents), "vec_id long, cluster_id long, c double"
    )
    return out.select(
        "vec_id", "cluster_id", F.round("c", 6).alias("centroid_cosine")
    ).orderBy("vec_id")


SEMDEDUP_COSINE = 0.35  # looser than the global near-dup bar (0.5): SemDeDup
# removes semantically-redundant (not just near-identical) docs; on the
# isotropic fixture this yields 89/119 pairs at sf0.001/0.01 vs 0/1 at 0.5


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication: near-duplicate embedding
    pairs are searched WITHIN k-means clusters only — cluster first, then
    compare pairs inside each cluster.  The all-pairs O(n²) cosine join
    becomes Σ_c |cluster_c|², and the pair stage's shuffle is keyed by
    cluster_id (a mega-cluster is an AQE skew-split case; production
    also caps cluster width like the LSH bucket guard).

    Exactly oracle-checked end to end: the fold-exact converged
    assignments (same machinery as ``kmeans_assignments``) and the
    fold-exact pair cosine mean the emitted pair set hash-matches the
    unrolled-SQL oracle — no recall bound needed, unlike LSH tiers."""
    cents, _, _, emb = _kmeans_fit(spark, sf_dir)
    side = emb.select("vec_id", "embedding", "nrm").mapInPandas(
        _asg_passthrough_udf(cents),
        "cluster_id long, vec_id long, embedding array<float>, nrm double",
    )
    # per-cluster pairwise via one Arrow batch per cluster: the j-loop in
    # `_cluster_pairs_udf` is the SAME left fold as the SQL dot, vectorized
    # across the pair axis (replaces a 64-term codegen fold over a
    # self-join that shuffled both vector copies — measured 6.8 s → the
    # grouped Arrow form at sf0.1; see bench).  Rounding and the final
    # threshold stay SPARK-side so HALF_UP matches the oracle's round();
    # the UDF prefilters with a 1e-6 slack margin (> the max distance
    # rounding can move a value), so no boundary pair is lost.
    raw = side.groupBy("cluster_id").applyInPandas(
        _cluster_pairs_udf(SEMDEDUP_COSINE),
        "cluster_id long, id_a long, id_b long, cosine double",
    )
    return raw.select(
        "cluster_id", "id_a", "id_b", F.round("cosine", 6).alias("cosine")
    ).filter(F.col("cosine") >= SEMDEDUP_COSINE)


def _asg_passthrough_udf(cents: list[tuple[int, list[float]]]):
    """Fold-exact assignment with embedding/nrm passthrough — feeds the
    grouped pairwise stage without a join back to the corpus."""
    import numpy as np

    cent_ids = np.array([cid for cid, _ in cents], dtype="int64")
    cent_vecs = [np.asarray(cv, dtype=np.float64) for _, cv in cents]
    cent_norms = [_py_norm(cv) for _, cv in cents]

    def assign(pdfs):
        for pdf in pdfs:
            if not len(pdf):
                continue
            m = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            nrm = pdf["nrm"].to_numpy()
            cos = np.empty((len(cent_ids), len(pdf)))
            for k, cv in enumerate(cent_vecs):
                acc = m[:, 0] * cv[0]
                for j in range(1, DIM):
                    acc = acc + m[:, j] * cv[j]
                cos[k] = acc / (nrm * cent_norms[k])
            best = np.argmax(cos, axis=0)
            yield pd.DataFrame(
                {
                    "cluster_id": cent_ids[best],
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "embedding": pdf["embedding"],
                    "nrm": nrm,
                }
            )

    return assign


def _cluster_pairs_udf(threshold: float):
    """All-pairs cosine within one cluster as a single vectorized fold:
    ``acc = acc + m[lo, j] * m[hi, j]`` (j ascending) is bit-identical to
    the SQL left fold; products commute exactly in IEEE, so ordering the
    pair as (lower id, higher id) matches ``a.vec_id < b.vec_id``."""
    import numpy as np

    def pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        empty = pd.DataFrame(
            {"cluster_id": pd.Series(dtype="int64"), "id_a": pd.Series(dtype="int64"),
             "id_b": pd.Series(dtype="int64"), "cosine": pd.Series(dtype="float64")}
        )
        if n < 2:
            return empty
        ids = pdf["vec_id"].to_numpy()
        m = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        nrm = pdf["nrm"].to_numpy()
        ia, ib = np.triu_indices(n, k=1)
        lo = np.where(ids[ia] < ids[ib], ia, ib)
        hi = np.where(ids[ia] < ids[ib], ib, ia)
        acc = m[lo, 0] * m[hi, 0]
        for j in range(1, DIM):
            acc = acc + m[lo, j] * m[hi, j]
        cos = acc / (nrm[lo] * nrm[hi])
        keep = cos >= (threshold - 1e-6)  # slack; exact filter on rounded in Spark
        if not keep.any():
            return empty
        return pd.DataFrame(
            {
                "cluster_id": pdf["cluster_id"].to_numpy()[lo[keep]],
                "id_a": ids[lo[keep]],
                "id_b": ids[hi[keep]],
                "cosine": cos[keep],
            }
        )

    return pairs


def _semantic_dedup_sql() -> str:
    return f"""
WITH asg AS (
  SELECT vec_id, cluster_id
  FROM ({_kmeans_converged_sql(assignments=True)})
), e AS (
  SELECT vec_id, embedding, sqrt({_sql_dot('embedding', 'embedding')}) AS nrm
  FROM embeddings
), s AS (
  SELECT asg.cluster_id, asg.vec_id, e.embedding, e.nrm
  FROM asg JOIN e ON e.vec_id = asg.vec_id
)
SELECT a.cluster_id, a.vec_id AS id_a, b.vec_id AS id_b,
       round({_sql_dot('a.embedding', 'b.embedding')} / (a.nrm * b.nrm), 6) AS cosine
FROM s a JOIN s b ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
WHERE round({_sql_dot('a.embedding', 'b.embedding')} / (a.nrm * b.nrm), 6) >= {SEMDEDUP_COSINE}
"""


SNIPPET_CHARS = 48


def q_semantic_search_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG retrieval end to end: ANN top-k over the embedding column,
    then the hit list joined back to `documents` (vec_id ≡ doc_id in the
    fixture) to fetch the text snippets a generator would be prompted
    with — the retrieve-then-fetch composition every RAG serving path
    runs.  The vector index never stores text; the fetch is a doc_id-keyed
    join against the document store, reading only the hit rows.

    Uses the exact top-k here so the whole pipeline stays hash-checkable;
    at scale the candidate stage swaps to IVF/PQ exactly like
    `ivfpq_topk` and the fetch is unchanged."""
    hits = q_cosine_topk(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("neighbor_id"),
        F.substring(F.col("text"), 1, SNIPPET_CHARS).alias("snippet"),
        F.col("source"),
    )
    return hits.join(docs, "neighbor_id").select(
        "query_id", "neighbor_id", "cosine", "rank", "snippet", "source"
    )


_SEMANTIC_SEARCH_SQL = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv,
                  sqrt({_sql_dot('embedding', 'embedding')}) AS qn
           FROM embeddings WHERE vec_id < {N_QUERIES}),
c AS (SELECT vec_id AS neighbor_id, embedding AS cv,
             sqrt({_sql_dot('embedding', 'embedding')}) AS cn
      FROM embeddings),
scored AS (
  SELECT q.query_id, c.neighbor_id,
         round({_sql_dot('q.qv', 'c.cv')} / (q.qn * c.cn), 6) AS cosine
  FROM q JOIN c ON c.neighbor_id <> q.query_id
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT r.query_id, r.neighbor_id, r.cosine, CAST(r.rank AS BIGINT) AS rank,
       substr(d.text, 1, {SNIPPET_CHARS}) AS snippet, d.source
FROM ranked r JOIN documents d ON d.doc_id = r.neighbor_id
WHERE r.rank <= {TOP_K}
"""


def q_semantic_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced sampling plan — the rebalance half of the
    semantic-curation loop (SemDeDup prunes redundancy, this reweights
    what remains): per-cluster natural share p_c under the converged
    assignments, temperature-scaled weight w_c ∝ p_c^α, and the
    up/down-sampling factor — `mixture_weights`' formula with semantic
    clusters instead of provenance buckets.

    Scale shape: one assignment pass (narrow Arrow stage, model-state
    centroids) → a k-row aggregate → two broadcast 1-row normalizers;
    nothing driver-side but the centroids."""
    from .packing import MIXTURE_ALPHA

    cents, _, _, emb = _kmeans_fit(spark, sf_dir)
    asg = emb.select("vec_id", "embedding", "nrm").mapInPandas(
        _kmeans_assignments_udf(cents), "vec_id long, cluster_id long, c double"
    )
    counts = (
        asg.groupBy("cluster_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_vectors"))
        .localCheckpoint(eager=True)
    )
    total = counts.agg(F.sum("n_vectors").cast("double").alias("total"))
    shared = (
        counts.crossJoin(F.broadcast(total))
        .withColumn("p", F.col("n_vectors") / F.col("total"))
        .withColumn("pa", F.pow("p", F.lit(MIXTURE_ALPHA)))
    )
    z = shared.agg(F.sum("pa").alias("z"))
    return (
        shared.crossJoin(F.broadcast(z))
        .select(
            "cluster_id",
            "n_vectors",
            F.round("p", 6).alias("natural_share"),
            F.round(F.col("pa") / F.col("z"), 6).alias("weight"),
            F.round(F.col("pa") / F.col("z") / F.col("p"), 6).alias("upsample_factor"),
        )
        .orderBy("cluster_id")
    )


def _semantic_mixture_sql() -> str:
    from .packing import MIXTURE_ALPHA

    return f"""
WITH asg AS (
  SELECT vec_id, cluster_id
  FROM ({_kmeans_converged_sql(assignments=True)})
), c AS (
  SELECT cluster_id, count(*) AS n_vectors FROM asg GROUP BY cluster_id
), shared AS (
  SELECT cluster_id, n_vectors,
         CAST(n_vectors AS DOUBLE) / (SELECT sum(n_vectors) FROM c) AS p,
         power(CAST(n_vectors AS DOUBLE) / (SELECT sum(n_vectors) FROM c),
               {MIXTURE_ALPHA}) AS pa
  FROM c
)
SELECT cluster_id, n_vectors,
       round(p, 6) AS natural_share,
       round(pa / (SELECT sum(pa) FROM shared), 6) AS weight,
       round(pa / (SELECT sum(pa) FROM shared) / p, 6) AS upsample_factor
FROM shared ORDER BY cluster_id
"""


def _kmeans_converged_sql(iters: int = KMEANS_ITERS, assignments: bool = False) -> str:
    """Unrolled CTE chain: cent0 = seed vectors; each iteration assigns
    (argmax cosine, tie → lowest cluster_id) and re-estimates centroids
    with the same DECIMAL(30,10)-exact mean as the Spark M-step.  With
    ``assignments=True``, emits the per-vector assignment under the
    fitted centroids instead of the per-cluster stats."""

    def dot_prefix(vec: str, p: str) -> str:
        expr = f"(CAST({vec}[1] AS DOUBLE) * {p}.c0)"
        for j in range(2, DIM + 1):
            expr = f"({expr} + (CAST({vec}[{j}] AS DOUBLE) * {p}.c{j - 1}))"
        return expr

    def norm_prefix(p: str) -> str:
        expr = f"({p}.c0 * {p}.c0)"
        for j in range(1, DIM):
            expr = f"({expr} + ({p}.c{j} * {p}.c{j}))"
        return f"sqrt({expr})"

    mean_cols = ", ".join(
        f"CAST(sum(CAST(CAST(embedding[{j + 1}] AS DOUBLE) AS DECIMAL(30,10))) AS DOUBLE)"
        f" / count(*) AS c{j}"
        for j in range(DIM)
    )
    parts = [
        f"""WITH e AS (
  SELECT vec_id, embedding, sqrt({_sql_dot('embedding', 'embedding')}) AS nrm
  FROM embeddings
), cent0 AS (
  SELECT vec_id AS cluster_id,
         {', '.join(f'CAST(embedding[{j + 1}] AS DOUBLE) AS c{j}' for j in range(DIM))}
  FROM embeddings WHERE vec_id < {IVF_N_CENTROIDS}
)"""
    ]
    for i in range(1, iters + 1):
        prev = f"cent{i - 1}"
        parts.append(
            f""", scored{i} AS (
  SELECT e.vec_id, e.embedding, p.cluster_id,
         ({dot_prefix('e.embedding', 'p')}) / (e.nrm * {norm_prefix('p')}) AS cos
  FROM e CROSS JOIN {prev} p
), asg{i} AS (
  SELECT vec_id, cluster_id, cos, embedding FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY cos DESC, cluster_id ASC) AS rn
    FROM scored{i})
  WHERE rn = 1
), cent{i} AS (
  SELECT cluster_id, count(*) AS n_members, avg(cos) AS avg_c, {mean_cols}
  FROM asg{i} GROUP BY cluster_id
)"""
        )
    last = f"cent{iters}"
    if assignments:
        # one more assignment pass under the FITTED centroids
        parts.append(
            f""", scoredF AS (
  SELECT e.vec_id, p.cluster_id,
         ({dot_prefix('e.embedding', 'p')}) / (e.nrm * {norm_prefix('p')}) AS cos
  FROM e CROSS JOIN {last} p
)
SELECT vec_id, CAST(cluster_id AS BIGINT) AS cluster_id,
       round(cos, 6) AS centroid_cosine
FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                   ORDER BY cos DESC, cluster_id ASC) AS rn
      FROM scoredF)
WHERE rn = 1 ORDER BY vec_id"""
        )
        return "".join(parts)
    final_norm = norm_prefix("f")
    parts.append(
        f"""
SELECT CAST(f.cluster_id AS BIGINT) AS cluster_id,
       CAST(f.n_members AS BIGINT) AS n_members,
       round({final_norm}, 6) AS new_centroid_norm,
       round(f.avg_c, 6) AS avg_best_cosine,
       CAST({iters} AS BIGINT) AS n_iterations
FROM {last} f ORDER BY cluster_id"""
    )
    return "".join(parts)


# --- MMR diversified retrieval ----------------------------------------------

MMR_LAMBDA = 0.7        # relevance weight; spelled as ONE literal both engines
MMR_ONE_MINUS_LAMBDA = 0.3
MMR_K = 5               # diversified picks
MMR_SHORTLIST = 15      # relevance shortlist fed to the greedy loop
MMR_QUERY_VEC = 0       # the query vector


def q_mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance re-ranking (Carbonell & Goldstein 1998)
    of a dense-retrieval shortlist — the serving-path diversifier that
    keeps a RAG context window from filling with five near-copies of the
    same passage: greedily pick ``argmax λ·rel − (1−λ)·max_sim(selected)``
    K times over the bounded shortlist.

    Determinism: rel and pairwise sims are left-fold cosines rounded to
    6 (the `cosine_topk` rule); the MMR score is arithmetic over those
    rounded doubles with λ spelled as one literal in both engines; every
    argmax tiebreaks on vec_id.

    Scale shape: ONE corpus-scale stage — the relevance shortlist via
    `dense_shortlist` (exact below DENSE_SHORTLIST_BRUTE_MAX_ROWS corpus
    rows, IVF cell probe beyond, so the O(corpus) scan physically
    cannot run at scale).  Everything after is bounded by the
    shortlist: the pairwise sim table is |shortlist|² rows computed once
    by the same Spark expressions, and the K-step greedy argmax runs
    DRIVER-SIDE over those ≤ 15 collected rows (bounded model state,
    the `collect_centroids` pattern — r19 optimization: the previous
    in-plan unrolled loop spent ~3 Spark jobs per step shuffling ≤ 15
    rows; the arithmetic below replays the plan's IEEE op sequence —
    λ·rel − (1−λ)·max_sim in f64, argmax on the UNROUNDED score, round
    6 on output — so the result is bit-identical)."""
    short = (
        dense_shortlist(spark, sf_dir, MMR_QUERY_VEC, MMR_SHORTLIST)
        .select("vec_id", "cv", "cn", F.col("cosine").alias("rel"))
        .localCheckpoint(eager=True)  # <= 15 rows; feeds pairs + the collect
    )
    b = short.select(
        F.col("vec_id").alias("ib"), F.col("cv").alias("bv"), F.col("cn").alias("bn")
    )
    pairs = short.join(b, F.col("vec_id") != F.col("ib")).select(
        F.col("vec_id").alias("ia"),
        "ib",
        F.round(
            _dot(F.col("cv"), F.col("bv")) / (F.col("cn") * F.col("bn")), 6
        ).alias("sim"),
    )
    rel = {int(r.vec_id): float(r.rel) for r in short.select("vec_id", "rel").collect()}
    sim = {(int(r.ia), int(r.ib)): float(r.sim) for r in pairs.collect()}
    lam, oml = MMR_LAMBDA, MMR_ONE_MINUS_LAMBDA
    first_id = min(rel, key=lambda v: (-rel[v], v))
    picks = [(1, first_id, rel[first_id], 0.0, _round6_halfup(lam * rel[first_id]))]
    selected = [first_id]
    for step in range(2, MMR_K + 1):
        best = None  # argmax on (UNROUNDED _mmr desc, vec_id asc) — the plan's order
        for v in sorted(rel):
            if v in selected:
                continue
            max_sim = max(sim[(v, s)] for s in selected)
            _mmr = lam * rel[v] - oml * max_sim
            if best is None or (-_mmr, v) < (-best[4], best[1]):
                best = (step, v, rel[v], max_sim, _mmr)
        if best is None:  # shortlist exhausted before MMR_K picks
            break  # degrade to fewer picks, like the old in-plan loop (ADVICE r19)
        picks.append((step, best[1], best[2], best[3], _round6_halfup(best[4])))
        selected.append(best[1])
    return spark.createDataFrame(
        picks,
        "step long, vec_id long, rel double, max_sim double, mmr_score double",
    ).orderBy("step")


def _mmr_sql() -> str:
    stages = [
        f"""q AS (
  SELECT embedding AS qv, sqrt({_sql_dot('embedding', 'embedding')}) AS qn
  FROM embeddings WHERE vec_id = {MMR_QUERY_VEC}
), cand AS (
  SELECT vec_id, embedding AS cv,
         sqrt({_sql_dot('embedding', 'embedding')}) AS cn
  FROM embeddings WHERE vec_id != {MMR_QUERY_VEC}
), short AS (
  SELECT vec_id, cv, cn,
         round({_sql_dot('qv', 'cv')} / (qn * cn), 6) AS rel
  FROM cand CROSS JOIN q
  ORDER BY rel DESC, vec_id ASC LIMIT {MMR_SHORTLIST}
), pairs AS (
  SELECT a.vec_id AS ia, b.vec_id AS ib,
         round({_sql_dot('a.cv', 'b.cv')} / (a.cn * b.cn), 6) AS sim
  FROM short a JOIN short b ON a.vec_id != b.vec_id
), s1 AS (
  SELECT CAST(1 AS BIGINT) AS step, vec_id, rel,
         CAST(0.0 AS DOUBLE) AS max_sim,
         round({MMR_LAMBDA} * rel, 6) AS mmr_score
  FROM short ORDER BY rel DESC, vec_id ASC LIMIT 1
), sel1 AS (SELECT vec_id FROM s1)"""
    ]
    for i in range(2, MMR_K + 1):
        stages.append(
            f"""s{i} AS (
  SELECT CAST({i} AS BIGINT) AS step, r.vec_id, r.rel, ms.max_sim,
         round({MMR_LAMBDA} * r.rel - {MMR_ONE_MINUS_LAMBDA} * ms.max_sim, 6)
           AS mmr_score
  FROM short r
  JOIN (SELECT ia AS vec_id, max(sim) AS max_sim FROM pairs
        WHERE ib IN (SELECT vec_id FROM sel{i - 1}) GROUP BY ia) ms
    USING (vec_id)
  WHERE r.vec_id NOT IN (SELECT vec_id FROM sel{i - 1})
  ORDER BY {MMR_LAMBDA} * r.rel - {MMR_ONE_MINUS_LAMBDA} * ms.max_sim DESC,
           r.vec_id ASC
  LIMIT 1
), sel{i} AS (SELECT vec_id FROM sel{i - 1} UNION ALL SELECT vec_id FROM s{i})"""
        )
    selects = "\nUNION ALL\n".join(
        f"SELECT * FROM s{i}" for i in range(1, MMR_K + 1)
    )
    return "WITH " + ",\n".join(stages) + "\n" + selects + "\nORDER BY step"


# --- Semantic (embedding-space) decontamination ------------------------------

SEMDECON_TEST_MOD = 10      # holdout = vec_id % 10 == SEMDECON_TEST_RESIDUE
SEMDECON_TEST_RESIDUE = 3   # avoids the query ids (vec_id < N_QUERIES)
# audit threshold tuned to the synthetic fixture's similarity range (max
# cross-split cosine ≈ 0.45 at sf0.001) so the flag genuinely fires; a
# production embedding space with true near-copies would run ~0.95
SEMDECON_COSINE = 0.4

# Corpus size up to which the decontamination sweep stays EXACT: a
# vectorized per-dim LEFT FOLD over each train Arrow batch against the
# collected holdout matrix (the eval suite is bounded model state, like
# the IVF centroids) — the oracle's IEEE op sequence, so bit-identical.
# The scale variable is the PAIR count, not the row count: with the
# 10/90 split the sweep evaluates ~0.09·n² dot products.  Beyond it
# (holdout no longer sensibly broadcastable / flop budget real), the
# IVF cell restriction prices each train row at a holdout subset
# instead.
SEMDECON_VECTORIZED_MAX_ROWS = 2_000_000

# The audit probes HALF the cells per holdout vector (vs IVF_NPROBE=2 of
# 8 for search): a decontamination sweep's cost of a missed flag is a
# leaked eval item, so it errs toward recall.  MEASURED at sf0.001
# (threshold-forced): flag recall vs brute 0.38 @ nprobe 2 → 0.69 @ 3 →
# 0.85 @ 4 on this isotropic fixture, whose "contaminated" pairs sit at
# cosine ≈ 0.4 — true near-copies (≈0.95) bucket together far more often.
SEMDECON_NPROBE = 4


def _round6_halfup(x: float) -> float:
    """Python twin of Spark's ``round(double, 6)``: BigDecimal-HALF_UP on
    the double's SHORTEST decimal repr (``BigDecimal.valueOf`` ==
    ``Double.toString``) — NOT ``np.round``, whose binary half-to-even
    flips half-tie values like 0.1234565 (ADVICE r16)."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(
        Decimal(repr(float(x))).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)
    )


def _semdecon_vectorized_exact(
    spark: SparkSession, train: DataFrame, test: DataFrame
) -> DataFrame:
    """The exact decontamination scorer: BIT-EXACT max-cosine over the
    full holdout, computed as a vectorized per-dim LEFT FOLD per train
    Arrow batch against the collected holdout matrix (``_fold_dots_np``
    replays the oracle's op sequence term for term; a BLAS matmul would
    drift by a summation ulp).  No
    join, no row expansion, no shuffle — the plan is a narrow scan of
    train through one ``mapInPandas`` stage; the holdout (an eval
    suite: 10⁴–10⁵ × dim floats, up to ~50 MB) ships once per executor
    via an explicit ``sparkContext.broadcast`` instead of riding in
    every task binary.

    The argmax reproduces the judged total order EXACTLY, including the
    oracle's rounding semantics: Spark's ``F.round(x, 6)`` is
    BigDecimal-HALF-UP on the double's shortest decimal repr, which
    ``np.round`` (binary half-to-even) can flip on half-tie values — so
    the row max is snapped with the same ``Decimal(repr(x))`` HALF_UP
    quantize, and the argmax scans the (few) within-1-ulp-of-6dp
    candidates exactly, ties to the smallest test_id.  Rounding is
    monotone, so the unrounded row max attains the rounded max — only
    candidates within one 6-dp step of it can tie."""
    import numpy as np

    hold = sorted(test.collect(), key=lambda r: r.test_id)  # bounded eval suite
    out_schema = T.StructType(
        [
            T.StructField("train_id", T.LongType()),
            T.StructField("nearest_test_id", T.LongType()),
            T.StructField("max_cosine", T.DoubleType()),
            T.StructField("is_contaminated", T.IntegerType()),
        ]
    )
    if not hold:
        # empty holdout: no (train, test) pair, so no rows (as the oracle)
        return spark.createDataFrame([], out_schema)
    bc = spark.sparkContext.broadcast(
        (
            np.array([r.test_id for r in hold], dtype=np.int64),
            np.array([r.tv for r in hold], dtype=np.float64),  # h×dim
        )
    )

    def score(batches):
        import pandas as pd  # noqa: F811 — executor-side import

        r6 = _round6_halfup
        test_ids, tmat = bc.value
        tnorm = _fold_norms_np(tmat)
        for pdf in batches:
            if pdf.empty:
                continue
            m = np.stack(pdf["cv"].to_numpy()).astype(np.float64)  # b×dim
            sims = _fold_dots_np(m, tmat) / (_fold_norms_np(m)[:, None] * tnorm[None, :])
            # exact-HALF_UP argmax: snap each row's max, then resolve the
            # smallest test_id among the few candidates whose rounded value
            # can tie it (anything below max - 1e-6 provably rounds lower)
            row_max = sims.max(axis=1)
            mc = np.fromiter((r6(v) for v in row_max), dtype=np.float64, count=len(m))
            best = np.empty(len(m), dtype=np.int64)
            for i in range(len(m)):
                cand = np.nonzero(sims[i] >= row_max[i] - 1e-6)[0]
                ties = [j for j in cand if r6(sims[i, j]) == mc[i]]
                best[i] = min(ties)  # test_ids sorted → smallest index = smallest id
            yield pd.DataFrame(
                {
                    "train_id": pdf["train_id"].to_numpy(),
                    "nearest_test_id": test_ids[best],
                    "max_cosine": mc,
                    "is_contaminated": (mc >= SEMDECON_COSINE).astype("int32"),
                }
            )

    return (
        train.select("train_id", "cv")
        .mapInPandas(score, out_schema)
        .orderBy("train_id")
    )


def q_semantic_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space train/test decontamination audit — the semantic
    counterpart to the n-gram `decontamination_check` / Bloom
    decontamination pair: for every TRAIN vector, the maximum cosine to
    any TEST-holdout vector plus the argmax test id, with a
    contamination flag at the audit threshold.  N-gram methods miss
    paraphrase-level leakage; this is the standard embedding-side sweep
    (SemDeDup-style, but across the split boundary instead of within
    the corpus).

    Determinism: cosines round to 6 (the `cosine_topk` rule); the
    per-train argmax is a total order (max cosine, then smallest
    test_id); the flag compares the ROUNDED cosine so both engines
    threshold the same value.  The split is arithmetic on the id
    (vec_id mod 10) — RNG-free.

    Scale shape: the test holdout is bounded (an eval suite, not a
    corpus) and broadcasts; the score pass is one narrow scan of train
    with no exchange before the final order.  Scale paths (WIRED, not
    prose — a Catalyst fold-order crossJoin measured quadratic in
    PAIRS at sf1: 13.7 s at 2k rows → ~1,030 s at 20k):

    - ≤ ``SEMDECON_VECTORIZED_MAX_ROWS``: EXACT — the bounded holdout
      collects to a h×dim float64 matrix (driver model state, the
      `collect_centroids` pattern) and one ``mapInPandas`` pass scores
      each train Arrow batch with a vectorized per-dim LEFT FOLD in the
      oracle's IEEE op order, so the answer is equal bitwise; per-row
      argmax keeps the judged total order (round 6, then max cosine,
      then smallest test_id) (``_semdecon_vectorized_exact``);
    - above it, the IVF cell restriction (`_probe_cells_udf`, the
      `dense_shortlist` swap pattern) — each train row scores against
      test vectors probing its cell (~holdout·nprobe/cells), and the
      per-train argmax is a GROUPED MAX of ``struct(cosine, -test_id)``
      (map-side combined to |train| rows before any exchange).  The left
      join keeps every train row in the audit; a row whose cell no test
      vector probes reports NULL max_cosine and flag 0.  The approx max
      is over a candidate SUBSET, so flags can only be missed, never
      invented — recall vs exact pinned by
      ``tests/test_round12_invariants.py``."""
    emb = load_table(spark, sf_dir, "embeddings")
    is_test = (F.col("vec_id") % SEMDECON_TEST_MOD) == SEMDECON_TEST_RESIDUE
    test = emb.filter(is_test).select(
        F.col("vec_id").alias("test_id"), F.col("embedding").alias("tv")
    )
    train = emb.filter(~is_test).select(
        F.col("vec_id").alias("train_id"), F.col("embedding").alias("cv")
    )
    if _emb_count(emb, sf_dir) <= SEMDECON_VECTORIZED_MAX_ROWS:
        return _semdecon_vectorized_exact(spark, train, test)
    cents = collect_centroids(spark, sf_dir)
    top1 = _probe_cells_udf(cents, 1)
    topn = _probe_cells_udf(cents, SEMDECON_NPROBE)
    # the bounded holdout probes its SEMDECON_NPROBE nearest cells and
    # still broadcasts (holdout × nprobe rows); each train row carries
    # its single top-1 cell, so a (train, test) pair occurs at most once
    # and fan-out is ~holdout/cells·nprobe per row
    test_cells = test.withColumn("tn", _norm(F.col("tv"))).withColumn(
        "cell", F.explode(topn(F.col("tv")))
    )
    train_cells = train.withColumn("cn", _norm(F.col("cv"))).withColumn(
        "cell", F.element_at(top1(F.col("cv")), 1)
    )
    cosine = F.round(
        _dot(F.col("cv"), F.col("tv")) / (F.col("cn") * F.col("tn")), 6
    ).alias("cosine")
    scored = train_cells.join(F.broadcast(test_cells), "cell", "left").select(
        "train_id", "test_id", cosine
    )
    best = scored.groupBy("train_id").agg(
        F.max(
            F.struct(F.col("cosine"), (-F.col("test_id")).alias("neg_id"))
        ).alias("m")
    )
    return (
        best.select(
            "train_id",
            (-F.col("m.neg_id")).alias("nearest_test_id"),
            F.col("m.cosine").alias("max_cosine"),
            F.coalesce(
                (F.col("m.cosine") >= F.lit(SEMDECON_COSINE)).cast("int"),
                F.lit(0),
            ).alias("is_contaminated"),
        )
        .orderBy("train_id")
    )


def _semdecon_sql() -> str:
    return f"""
WITH test AS (
  SELECT vec_id AS test_id, embedding,
         sqrt({_sql_dot('embedding', 'embedding')}) AS tn
  FROM embeddings WHERE vec_id % {SEMDECON_TEST_MOD} = {SEMDECON_TEST_RESIDUE}
), train AS (
  SELECT vec_id AS train_id, embedding,
         sqrt({_sql_dot('embedding', 'embedding')}) AS cn
  FROM embeddings WHERE vec_id % {SEMDECON_TEST_MOD} != {SEMDECON_TEST_RESIDUE}
), scored AS (
  SELECT train_id, test_id,
         round({_sql_dot('train.embedding', 'test.embedding')} / (cn * tn), 6)
           AS cosine
  FROM train, test
), ranked AS (
  SELECT train_id, test_id, cosine,
         row_number() OVER (PARTITION BY train_id
                            ORDER BY cosine DESC, test_id ASC) AS rn
  FROM scored
)
SELECT train_id,
       test_id AS nearest_test_id,
       cosine AS max_cosine,
       CAST(cosine >= {SEMDECON_COSINE} AS INT) AS is_contaminated
FROM ranked WHERE rn = 1
ORDER BY train_id
"""


QUERIES: dict[str, QuerySpec] = {
    "semantic_decontamination": QuerySpec(
        q_semantic_decontamination,
        _semdecon_sql(),
        "embedding-space train/test leakage audit: per-train max cosine "
        "to the holdout + argmax attribution + threshold flag",
    ),
    "mmr_diversified_topk": QuerySpec(
        q_mmr_diversified_topk,
        _mmr_sql(),
        "maximal-marginal-relevance diversified top-k re-ranking of the "
        "dense shortlist (greedy loop unrolled in-plan, no driver state)",
    ),
    "embedding_norms": QuerySpec(
        q_embedding_norms,
        f"""
        SELECT vec_id, round(sqrt({_sql_dot('embedding', 'embedding')}), 6) AS l2_norm, label
        FROM embeddings
        """,
        "L2 norms via folded array arithmetic",
    ),
    "label_centroids": QuerySpec(
        q_label_centroids,
        _LABEL_CENTROIDS_SQL,
        "per-label centroid statistics (distributed k-means E-step shape)",
    ),
    "label_outliers": QuerySpec(
        q_label_outliers,
        _LABEL_OUTLIERS_SQL,
        "top-k farthest-from-centroid vectors per label (label-noise screen)",
    ),
    "kmeans_step": QuerySpec(
        q_kmeans_step,
        _KMEANS_STEP_SQL,
        "one deterministic spherical k-means E+M iteration (IVF cell fitting step)",
    ),
    "kmeans_converged": QuerySpec(
        q_kmeans_converged,
        _kmeans_converged_sql(),
        "spherical k-means run to convergence (driver-state loop, decimal-exact M-step)",
    ),
    "kmeans_assignments": QuerySpec(
        q_kmeans_assignments,
        _kmeans_converged_sql(assignments=True),
        "per-vector cluster assignment under the converged centroids (model-apply pass)",
    ),
    "cosine_topk": QuerySpec(q_cosine_topk, _COSINE_TOPK_SQL, "brute-force cosine top-k"),
    "hard_negative_mining": QuerySpec(
        q_hard_negative_mining,
        _HARD_NEGATIVE_SQL,
        "contrastive hard negatives: most-similar different-label vectors per query",
    ),
    "semantic_dedup": QuerySpec(
        q_semantic_dedup,
        _semantic_dedup_sql(),
        "SemDeDup: near-dup pairs within k-means clusters (Σ|c|² not n² pair space)",
    ),
    "semantic_search_docs": QuerySpec(
        q_semantic_search_docs,
        _SEMANTIC_SEARCH_SQL,
        "RAG retrieve-then-fetch: ANN top-k joined back to document snippets",
    ),
    "semantic_mixture_weights": QuerySpec(
        q_semantic_mixture_weights,
        _semantic_mixture_sql(),
        "cluster-balanced sampling weights (w ∝ p^α over k-means clusters)",
    ),
    "ivf_topk": QuerySpec(
        q_ivf_topk,
        f"""
        SELECT (SELECT count(*) FROM embeddings WHERE vec_id < {N_QUERIES}) AS n_queries,
               (SELECT count(*) FROM embeddings WHERE vec_id < {N_QUERIES}) * {TOP_K} AS n_exact_results,
               true AS recall_ok
        """,
        "IVF-bucketed ANN top-k, self-validated recall vs exact",
    ),
    "embedding_near_dup": QuerySpec(
        q_embedding_near_dup, _NEAR_DUP_SQL, "all-pairs cosine near-dup"
    ),
    "embedding_lsh_near_dup": QuerySpec(
        q_embedding_lsh_near_dup,
        f"""
        SELECT (SELECT count(*) FROM embeddings) AS n_vecs,
               (SELECT count(*) FROM ({_NEAR_DUP_SQL})) AS n_exact_pairs,
               true AS all_pairs_found,
               true AS subset_ok
        """,
        "hyperplane-LSH near-dup, self-validated subset + coverage vs exact",
    ),
}
