"""Declared queries: similarity-search family (SURVEY.md §2.11 —
vector-space generalization of ``simple_rag``, reference
``utils.py:326-330``).

The DuckDB oracles replay the exact same math: sequential-fold dot
products (``list_reduce`` ≡ Spark ``aggregate``), the same md5-derived
±1 hyperplanes inlined as literals on both sides, and integer-quantized
centroid sums — every float in the output is bit-exact by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pulsar_project_spark.operators.similarity import (
    HYPERPLANES,
    QUANT_SCALE,
    SRP_BITS,
    SRP_DIM,
    SRP_TABLES,
    knn_cosine,
    label_centroid_qsums,
    srp_buckets,
    srp_near_pairs,
)
from pulsar_project_spark.registry import declare
from pulsar_project_spark.sources.tables import load_table

_KNN_QUERIES = 10
_KNN_K = 5
_NEAR_THRESHOLD = 0.2

_DOT = (
    "list_reduce(list_transform(generate_series(1, {dim}), "
    "i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE), (x, y) -> x + y)"
)


def _dot_sql(a: str, b: str) -> str:
    return _DOT.format(dim=SRP_DIM, a=a, b=b)


def _norm_base_sql() -> str:
    return (
        "base AS (SELECT vec_id, embedding, "
        f"sqrt({_dot_sql('embedding', 'embedding')}) AS nrm FROM embeddings "
        "WHERE embedding IS NOT NULL)"
    )


def _bucket_expr(t: int) -> str:
    # Quantized-integer sign dots (floor(v·1e6) BIGINT): exact and
    # order-independent, so DuckDB's fold == numpy's matmul bit-for-bit.
    terms = []
    for j in range(SRP_BITS):
        lits = ", ".join(str(s) for s in HYPERPLANES[t][j])
        d = (
            f"list_reduce(list_transform(generate_series(1, {SRP_DIM}), "
            f"i -> CAST(floor(embedding[i]::DOUBLE * 1000000.0) AS BIGINT)"
            f" * ([{lits}])[i]), (x, y) -> x + y)"
        )
        terms.append(f"(CASE WHEN {d} > 0 THEN {1 << j} ELSE 0 END)")
    return " + ".join(terms)


def _buckets_sql() -> str:
    parts = [
        f"SELECT vec_id, {t} AS table_id, {_bucket_expr(t)} AS bucket "
        f"FROM embeddings WHERE embedding IS NOT NULL"
        for t in range(SRP_TABLES)
    ]
    return "buckets AS (" + " UNION ALL ".join(parts) + ")"


@declare(
    "knn_cosine_topk",
    oracle=f"""
WITH {_norm_base_sql()},
q AS (SELECT vec_id AS query_id, embedding AS qe, nrm AS qn
      FROM base WHERE vec_id < {_KNN_QUERIES}),
scored AS (
  SELECT q.query_id, b.vec_id,
         CASE WHEN q.qn * b.nrm = 0 THEN 0.0
              ELSE {_dot_sql('q.qe', 'b.embedding')} / (q.qn * b.nrm)
         END AS cosine
  FROM base b, q WHERE b.vec_id <> q.query_id
)
SELECT query_id, vec_id, cosine, rnk FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, vec_id) AS rnk
  FROM scored
) WHERE rnk <= {_KNN_K}
""",
)
def q_knn_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: broadcast query set × one table scan →
    per-query window top-k. The exact-ANN baseline."""
    emb = load_table(spark, sf_dir, "embeddings")
    return knn_cosine(emb, n_queries=_KNN_QUERIES, k=_KNN_K)


@declare(
    "srp_lsh_buckets",
    oracle=f"WITH {_buckets_sql()}\nSELECT vec_id, table_id, bucket FROM buckets",
)
def q_srp_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRP-LSH bucket relation: 4 tables × 8 md5-derived hyperplane sign
    bits. Pure projection — the scale path's index structure."""
    emb = load_table(spark, sf_dir, "embeddings")
    return srp_buckets(emb)


@declare(
    "srp_near_pairs",
    oracle=f"""
WITH {_buckets_sql()},
bqual AS (
  SELECT table_id, bucket FROM buckets
  GROUP BY table_id, bucket HAVING count(*) <= 10000
),
cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM buckets a JOIN buckets b
    ON a.table_id = b.table_id AND a.bucket = b.bucket AND a.vec_id < b.vec_id
  JOIN bqual q ON a.table_id = q.table_id AND a.bucket = q.bucket
),
{_norm_base_sql()}
SELECT c.vec_a, c.vec_b,
       CASE WHEN a.nrm * b.nrm = 0 THEN 0.0
            ELSE {_dot_sql('a.embedding', 'b.embedding')} / (a.nrm * b.nrm)
       END AS cosine
FROM cand c JOIN base a ON c.vec_a = a.vec_id JOIN base b ON c.vec_b = b.vec_id
WHERE CASE WHEN a.nrm * b.nrm = 0 THEN 0.0
           ELSE {_dot_sql('a.embedding', 'b.embedding')} / (a.nrm * b.nrm)
      END >= {_NEAR_THRESHOLD}
""",
)
def q_srp_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup: LSH-bucketed candidates + exact cosine
    confirm — the embedding analog of minhash_candidate_pairs."""
    emb = load_table(spark, sf_dir, "embeddings")
    return srp_near_pairs(emb, threshold=_NEAR_THRESHOLD)


@declare("ivf_cosine_topk")
def q_ivf_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-Flat ANN (operators/ivf.py): k-means coarse quantizer +
    nprobe-cell exact cosine. Iterative fit → rows-only declared query;
    tests/test_ivf.py pins recall vs the exact knn_cosine_topk twin."""
    from pulsar_project_spark.operators.ivf import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_topk(emb, n_queries=_KNN_QUERIES, k=_KNN_K,
                    k_clusters=8, iters=2, nprobe=3)


_IVF_CELL_SQL = """
WITH q AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(floor(x::DOUBLE * 1000000.0) AS BIGINT)) AS qv
  FROM embeddings WHERE embedding IS NOT NULL
),
cent AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS label, qv AS qc
  FROM (SELECT * FROM q ORDER BY vec_id LIMIT 8)
),
scored AS (
  SELECT q.vec_id, cent.label,
         list_reduce(list_transform(generate_series(1, 64),
           i -> (q.qv[i] - cent.qc[i]) * (q.qv[i] - cent.qc[i])), (x, y) -> x + y) AS sq_dist
  FROM q, cent
)
SELECT vec_id, label, sq_dist FROM (
  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY sq_dist ASC, label ASC) AS rn
  FROM scored
) WHERE rn = 1
"""


@declare("ivf_cell_assignment", oracle=_IVF_CELL_SQL)
def q_ivf_cell_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse-quantizer cell assignment with DETERMINISTIC fixed
    centroids (the k=8 lowest-vec_id vectors — kmeans' init, zero Lloyd
    rounds): every vector → its nearest centroid by integer-quantized
    sq-distance, ties to the lower label. This is the SQL-expressible
    core of ``ivf_cosine_topk`` (the cell relation IS the partition-
    pruning axis at 100 TB), split out so the IVF family gets a
    hash-level oracle verdict, not just recall tests.

    Scale shape: one 8-row centroid broadcast, one narrow scan, one
    per-vector window argmin — no shuffle of the big side beyond the
    window's hash partitioning on vec_id."""
    from pulsar_project_spark.operators.kmeans import kmeans_fit

    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    # require_k=False: a tiny corpus yields min(8, n) centroids, exactly
    # like the oracle's LIMIT 8
    assign, _ = kmeans_fit(emb, k=8, iters=1, require_k=False)
    return assign


@declare("kmeans_clusters")
def q_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantized Lloyd's k-means (operators/kmeans.py): iterative, so no
    SQL oracle — rows-only here; tests/test_kmeans.py asserts EXACT
    equality with a driver-side numpy replica (integer math throughout)."""
    from pulsar_project_spark.operators.kmeans import kmeans_assign

    emb = load_table(spark, sf_dir, "embeddings")
    return kmeans_assign(emb, k=8, iters=3)


@declare(
    "label_centroid_qsums",
    oracle=f"""
SELECT label, i AS pos,
       CAST(sum(CAST(floor(embedding[i]::DOUBLE * {QUANT_SCALE}) AS BIGINT)) AS BIGINT) AS qsum,
       count(*) AS n_vecs
FROM embeddings, generate_series(1, {SRP_DIM}) AS t(i)
WHERE embedding IS NOT NULL
GROUP BY label, i
""",
)
def q_label_centroid_qsums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid sums, integer-quantized so the cross-row sum
    is order-independent (safe under partial aggregation) — the k-means
    update step primitive."""
    emb = load_table(spark, sf_dir, "embeddings")
    return label_centroid_qsums(emb)


# --- int8 vector quantization -------------------------------------------------
#
# Per-vector absmax quantization: scale = 127 / max|v_i|, q_i =
# round(v_i * scale). The storage/bandwidth lever for embedding tables
# at 100 TB (4 bytes -> 1 byte per dim); elementwise float mult and
# round are single correctly-rounded IEEE ops, so the int8 codes are
# engine-exact.

_QUANT_SQL = f"""
WITH absmax AS (
  SELECT vec_id, label, embedding,
         list_reduce(list_transform(embedding, x -> abs(x::DOUBLE)),
                     (a, b) -> greatest(a, b)) AS m
  FROM embeddings
  WHERE embedding IS NOT NULL
)
SELECT vec_id, label,
       m AS absmax,
       CASE WHEN m > 0 THEN 127.0 / m ELSE 1.0 END AS scale,
       md5(array_to_string(q8, ',')) AS q8_digest,
       CAST(list_reduce(list_transform(q8, x -> CAST(abs(x) AS BIGINT)),
                        (a, b) -> a + b) AS BIGINT) AS q8_l1
FROM (
  SELECT vec_id, label, m,
         list_transform(embedding,
                        x -> CAST(round(x::DOUBLE *
                             (CASE WHEN m > 0 THEN 127.0 / m ELSE 1.0 END))
                             AS INTEGER)) AS q8
  FROM absmax
)
"""


@declare("embedding_int8_quantize", oracle=_QUANT_SQL)
def q_embedding_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Absmax int8 quantization of every embedding: per-vector scale
    127/max|v|, an md5 digest of the int codes, and their L1 mass
    (arrays are digested because the hash gate compares scalars). A
    100 TB embedding corpus stores/ships 4× less for ANN candidate
    generation (exact rerank reads the float originals for the
    shortlist only).

    The max fold is order-safe (max is associative/commutative over
    actual element values) and every emitted float is one
    correctly-rounded op from exact inputs — bit-equal across engines.
    NULL vectors are dropped (nothing to quantize; mirrored in the
    oracle).

    Scale shape: pure map-side projection, zero shuffles."""
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    m = F.aggregate(
        F.transform(F.col("embedding"), lambda x: F.abs(x.cast("double"))),
        F.lit(0.0),
        lambda acc, v: F.greatest(acc, v),
    )
    scale = F.when(F.col("absmax") > 0, F.lit(127.0) / F.col("absmax")).otherwise(
        F.lit(1.0)
    )
    return (
        emb.withColumn("absmax", m)
        .withColumn("scale", scale)
        .withColumn(
            "q8",
            F.transform(
                F.col("embedding"),
                lambda x: F.round(x.cast("double") * F.col("scale")).cast("int"),
            ),
        )
        .select(
            "vec_id", "label", "absmax", "scale",
            F.md5(
                F.concat_ws(",", F.transform(F.col("q8"), lambda x: x.cast("string")))
            ).alias("q8_digest"),
            F.aggregate(
                F.transform(F.col("q8"), lambda x: F.abs(x).cast("bigint")),
                F.lit(0).cast("bigint"),
                lambda acc, v: acc + v,
            ).alias("q8_l1"),
        )
    )


def _pq_term(m: int, c: int) -> str:
    from pulsar_project_spark.operators.pq import PQ_SCALE, PQ_SUB, pq_codebook
    parts = []
    for j in range(PQ_SUB):
        x = (f"CAST(floor(embedding[{m * PQ_SUB + j + 1}]::DOUBLE "
             f"* {PQ_SCALE}) AS BIGINT)")
        cb = pq_codebook(m, c, j)
        parts.append(f"(({x}) - ({cb})) * (({x}) - ({cb}))")
    return "(" + " + ".join(parts) + ")"


def _pq_branches_sql(from_rel: str = "q") -> str:
    """The per-subspace code-argmin UNION ALL over ``from_rel`` (a
    relation with vec_id + embedding) — shared by the standalone code
    assignment and the ANN-index-maintenance capstone (which encodes
    only the live membership)."""
    from pulsar_project_spark.operators.pq import PQ_K, PQ_M
    branches = []
    for m in range(PQ_M):
        dists = [_pq_term(m, c) for c in range(PQ_K)]
        best = "least(" + ", ".join(dists) + ")"
        code = ("CASE "
                + " ".join(f"WHEN {dists[c]} = {best} THEN {c}"
                           for c in range(PQ_K))
                + " END")
        branches.append(
            f"SELECT vec_id, {m} AS subspace, "
            f"CAST({code} AS INTEGER) AS code FROM {from_rel}"
        )
    return "\nUNION ALL\n".join(branches)


def _pq_assign_sql() -> str:
    return ("WITH q AS (SELECT vec_id, embedding FROM embeddings "
            "WHERE embedding IS NOT NULL AND vec_id IS NOT NULL)\n"
            + _pq_branches_sql("q"))


@declare("pq_code_assignment", oracle=_pq_assign_sql())
def q_pq_code_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encode (Jégou et al. 2011) with FIXED
    integer codebooks — the ANN family's memory-compression path: each
    64-dim vector becomes 8 centroid codes (a ~32× smaller store).
    Exact integer argmin per subspace, lowest-code tiebreak; one
    codegen projection + explode, no shuffle, no UDF — the map-only
    pass that would re-encode 100 TB of embeddings. The oracle
    regenerates every distance term from the same codebook formula
    (the ``ivf_cell_assignment`` certification pattern; the trained-
    codebook variant rides the same plan with kmeans output broadcast
    in)."""
    from pulsar_project_spark.operators.pq import pq_encode
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull() & F.col("vec_id").isNotNull()
    )
    return pq_encode(emb)


def _pq_adc_sql(k: int = 10) -> str:
    from pulsar_project_spark.operators.pq import pq_query_lut
    from pulsar_project_spark.operators.pq import PQ_DIM, PQ_SCALE
    query_q = [(((i * 5) % 7) - 3) * PQ_SCALE for i in range(PQ_DIM)]
    lut_rows = ", ".join(f"({m}, {c}, {d})" for m, c, d in pq_query_lut(query_q))
    return f"""
WITH codes AS ({_pq_assign_sql()}),
lut(subspace, code, sq_dist) AS (VALUES {lut_rows}),
scored AS (
  SELECT c.vec_id, CAST(sum(l.sq_dist) AS BIGINT) AS adc_dist
  FROM codes c JOIN lut l
    ON c.subspace = l.subspace AND c.code = l.code
  GROUP BY c.vec_id
)
SELECT vec_id, adc_dist FROM scored
ORDER BY adc_dist ASC, vec_id ASC LIMIT {k}
"""


@declare("pq_adc_topk", oracle=_pq_adc_sql())
def q_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ asymmetric-distance search: top-10 vectors for a fixed
    query, computed ENTIRELY over the code relation — a 32-row
    per-query lookup table broadcast onto 8 codes per stored vector;
    the float vectors are never read at query time, which is the whole
    point of PQ at 100 TB. Exact integer distances with vec_id
    tiebreak; the oracle rebuilds the LUT from the same closed form."""
    from pulsar_project_spark.operators.pq import (
        PQ_DIM,
        PQ_SCALE,
        pq_adc_topk,
        pq_encode,
    )
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull() & F.col("vec_id").isNotNull()
    )
    query_q = [(((i * 5) % 7) - 3) * PQ_SCALE for i in range(PQ_DIM)]
    return pq_adc_topk(pq_encode(emb), query_q, k=10)


def _pq_trained_cte() -> str:
    """Shared CTE chain replaying pq_train(rounds=1) +
    pq_encode_trained end-to-end in SQL: quantized subvectors, the
    deterministic init (subvectors of the PQ_K lowest vec_ids), one
    full Lloyd round (integer argmin assignment, floor-mean update),
    and the final assignment against the updated codebook. Every
    intermediate is exact integer (or floor of an exact double), so
    the chain is hash-stable."""
    from pulsar_project_spark.operators.pq import (
        PQ_DIM, PQ_K, PQ_SCALE, PQ_SUB,
    )
    return f"""
q AS (
  SELECT vec_id, embedding FROM embeddings
  WHERE embedding IS NOT NULL AND vec_id IS NOT NULL
),
sub AS (
  SELECT vec_id,
         CAST((i - 1) // {PQ_SUB} AS INTEGER) AS m,
         CAST((i - 1) % {PQ_SUB} AS INTEGER) AS j,
         CAST(floor(embedding[i]::DOUBLE * {PQ_SCALE}) AS BIGINT) AS x
  FROM q, generate_series(1, {PQ_DIM}) AS t(i)
),
init AS (
  SELECT vec_id AS cvid,
         CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS c
  FROM (SELECT DISTINCT vec_id FROM q ORDER BY vec_id LIMIT {PQ_K})
),
cent0 AS (
  SELECT s.m, i.c, s.j, s.x AS qc
  FROM sub s JOIN init i ON s.vec_id = i.cvid
),
d1 AS (
  SELECT s.vec_id, s.m, c0.c,
         sum((s.x - c0.qc) * (s.x - c0.qc)) AS d
  FROM sub s JOIN cent0 c0 ON s.m = c0.m AND s.j = c0.j
  GROUP BY s.vec_id, s.m, c0.c
),
a1 AS (
  SELECT vec_id, m, c AS label FROM (
    SELECT *, row_number() OVER (
      PARTITION BY vec_id, m ORDER BY d ASC, c ASC) AS rn
    FROM d1
  ) WHERE rn = 1
),
cent1 AS (
  SELECT s.m, a.label AS c, s.j,
         CAST(floor(sum(s.x)::DOUBLE / count(*)) AS BIGINT) AS qc
  FROM sub s JOIN a1 a ON s.vec_id = a.vec_id AND s.m = a.m
  GROUP BY s.m, a.label, s.j
),
d2 AS (
  SELECT s.vec_id, s.m, c1.c,
         sum((s.x - c1.qc) * (s.x - c1.qc)) AS d
  FROM sub s JOIN cent1 c1 ON s.m = c1.m AND s.j = c1.j
  GROUP BY s.vec_id, s.m, c1.c
),
a2 AS (
  SELECT vec_id, m, c FROM (
    SELECT *, row_number() OVER (
      PARTITION BY vec_id, m ORDER BY d ASC, c ASC) AS rn
    FROM d2
  ) WHERE rn = 1
)"""


def _pq_trained_assign_sql() -> str:
    return (f"WITH {_pq_trained_cte()}\n"
            "SELECT vec_id, m AS subspace, CAST(c AS INTEGER) AS code "
            "FROM a2")


def _pq_trained_adc_sql(k: int = 10) -> str:
    from pulsar_project_spark.operators.pq import PQ_DIM, PQ_SCALE, PQ_SUB
    return f"""
WITH {_pq_trained_cte()},
qv AS (
  SELECT CAST((i - 1) // {PQ_SUB} AS INTEGER) AS m,
         CAST((i - 1) % {PQ_SUB} AS INTEGER) AS j,
         ((((i - 1) * 5) % 7) - 3) * {PQ_SCALE} AS qx
  FROM generate_series(1, {PQ_DIM}) AS t(i)
),
lut AS (
  SELECT c1.m, c1.c, sum((qv.qx - c1.qc) * (qv.qx - c1.qc)) AS sq_dist
  FROM cent1 c1 JOIN qv ON c1.m = qv.m AND c1.j = qv.j
  GROUP BY c1.m, c1.c
),
scored AS (
  SELECT a.vec_id, CAST(sum(l.sq_dist) AS BIGINT) AS adc_dist
  FROM a2 a JOIN lut l ON a.m = l.m AND a.c = l.c
  GROUP BY a.vec_id
)
SELECT vec_id, adc_dist FROM scored
ORDER BY adc_dist ASC, vec_id ASC LIMIT {k}
"""


@declare("pq_trained_code_assignment", oracle=_pq_trained_assign_sql())
def q_pq_trained_code_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ encode against a TRAINED codebook (round 6 — makes the
    round-5 docstring promise real): per-subspace Lloyd's k-means in
    the quantized integer domain (deterministic init = the PQ_K
    lowest vec_ids' subvectors, one full assignment/floor-mean-update
    round), then nearest-trained-centroid assignment. Training, like
    encode, never shuffles the store wide: per round it broadcasts an
    M*K-row codebook, runs a window argmin per (vector, subspace), and
    aggregates M*K*8 floor-means. The oracle replays the ENTIRE
    train-then-encode chain in SQL — init, both assignments, the mean
    update — so a tiebreak, floor, or join-key slip anywhere in Lloyd's
    breaks the hash (the ivf_cell_assignment certification pattern,
    extended through a full training round)."""
    from pulsar_project_spark.operators.pq import pq_encode_trained, pq_train
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull() & F.col("vec_id").isNotNull()
    )
    return pq_encode_trained(emb, pq_train(emb, rounds=1))


@declare("pq_trained_adc_topk", oracle=_pq_trained_adc_sql())
def q_pq_trained_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC top-10 against the trained codebook: the query's lookup
    table is itself a relation (query subvectors joined to the trained
    codebook — M*K rows, broadcast), so the search path is identical
    to the fixed-codebook ``pq_adc_topk`` and the float vectors are
    still never read at query time. Oracle replays training, encode,
    LUT, and the tiebroken top-k in one SQL chain."""
    from pulsar_project_spark.operators.pq import (
        PQ_DIM,
        PQ_SCALE,
        pq_adc_topk_trained,
        pq_encode_trained,
        pq_train,
    )
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull() & F.col("vec_id").isNotNull()
    )
    cb = pq_train(emb, rounds=1)
    codes = pq_encode_trained(emb, cb)
    query_q = [(((i * 5) % 7) - 3) * PQ_SCALE for i in range(PQ_DIM)]
    return pq_adc_topk_trained(codes, cb, query_q, k=10)


def _bq_pack_sql(accessor) -> tuple[str, str]:
    """(lo, hi) sign-bit pack expressions — dims 1-32 and 33-64 into
    two BIGINT words (bit 63 of a single word would overflow signed
    BIGINT differently per engine; two 32-bit words sidestep it).
    ``accessor(i)`` renders the 1-based element access for the engine
    (Spark ``element_at``, DuckDB ``[]``), everything else is shared."""
    def word(lo_dim: int) -> str:
        return " + ".join(
            f"(CASE WHEN {accessor(i)} > 0 THEN {1 << (i - lo_dim)} "
            f"ELSE 0 END)"
            for i in range(lo_dim, lo_dim + 32)
        )
    return word(1), word(33)


def _bq_query_words() -> tuple[int, int]:
    """Sign bits of the family's fixed query vector (the pq_adc one)."""
    from pulsar_project_spark.operators.pq import PQ_DIM, PQ_SCALE
    q = [(((i * 5) % 7) - 3) * PQ_SCALE for i in range(PQ_DIM)]
    lo = sum(1 << i for i in range(32) if q[i] > 0)
    hi = sum(1 << (i - 32) for i in range(32, 64) if q[i] > 0)
    return lo, hi


def _bq_sql(k: int = 10) -> str:
    lo_e, hi_e = _bq_pack_sql(lambda i: f"embedding[{i}]")
    qlo, qhi = _bq_query_words()
    return f"""
WITH packed AS (
  SELECT vec_id,
         CAST({lo_e} AS BIGINT) AS lo,
         CAST({hi_e} AS BIGINT) AS hi
  FROM embeddings WHERE embedding IS NOT NULL AND vec_id IS NOT NULL
)
SELECT vec_id,
       CAST(bit_count(xor(lo, {qlo})) + bit_count(xor(hi, {qhi}))
            AS INTEGER) AS hamming
FROM packed
ORDER BY hamming ASC, vec_id ASC LIMIT {k}
"""


@declare("binary_quantize_hamming_topk", oracle=_bq_sql())
def q_binary_quantize_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-bit vector quantization + Hamming search — the most extreme
    point on the ANN memory/recall curve (64 floats → 8 bytes, a 32×
    shrink beyond PQ's): each dimension's SIGN packs into two 32-bit
    words, and search is xor + popcount per stored vector — pure
    codegen integer ops, no shuffle before the top-k. This is the
    modern vector-store fast-scan trick (binary quantization with
    exact re-rank downstream); the oracle shares the pack expression
    verbatim (modulo the engines' array-index syntax) and the fixed
    query is the similarity family's standard vector."""
    from pyspark.sql import functions as F

    lo_e, hi_e = _bq_pack_sql(lambda i: f"element_at(embedding, {i})")
    qlo, qhi = _bq_query_words()
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull() & F.col("vec_id").isNotNull()
    )
    packed = emb.select(
        "vec_id",
        F.expr(lo_e).cast("bigint").alias("lo"),
        F.expr(hi_e).cast("bigint").alias("hi"),
    )
    return (
        packed.select(
            "vec_id",
            (F.bit_count(F.expr(f"lo ^ {qlo}"))
             + F.bit_count(F.expr(f"hi ^ {qhi}")))
            .cast("int").alias("hamming"),
        )
        .orderBy(F.asc("hamming"), F.asc("vec_id"))
        .limit(10)
    )


_IVFPQ_NPROBE = 3


def _ivfpq_sql(k: int = 10) -> str:
    """IVF-PQ composed end-to-end in SQL: the deterministic coarse
    cells (the ivf_cell_assignment CTE), the fixed query's nprobe
    nearest cells, the PQ code relation, and the ADC scan restricted
    to the probed cells — one oracle certifying the full two-stage ANN
    pipeline at hash level."""
    from pulsar_project_spark.operators.pq import (
        PQ_DIM,
        PQ_SCALE,
        pq_query_lut,
    )

    query_q = [(((i * 5) % 7) - 3) * PQ_SCALE for i in range(PQ_DIM)]
    lut_rows = ", ".join(
        f"({m}, {c}, {d})" for m, c, d in pq_query_lut(query_q))
    # the same underlying query vector in the coarse 1e6 domain
    qq = ", ".join(str((((i * 5) % 7) - 3) * 1_000_000)
                   for i in range(PQ_DIM))
    return f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(floor(x::DOUBLE * 1000000.0) AS BIGINT)) AS qv
  FROM embeddings WHERE embedding IS NOT NULL AND vec_id IS NOT NULL
),
cent AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS label, qv AS qc
  FROM (SELECT * FROM q ORDER BY vec_id LIMIT 8)
),
cells AS (
  SELECT vec_id, label FROM (
    SELECT q.vec_id, cent.label,
           row_number() OVER (PARTITION BY q.vec_id ORDER BY
             list_reduce(list_transform(generate_series(1, {PQ_DIM}),
               i -> (q.qv[i] - cent.qc[i]) * (q.qv[i] - cent.qc[i])),
               (x, y) -> x + y) ASC, cent.label ASC) AS rn
    FROM q, cent
  ) WHERE rn = 1
),
qq(i, v) AS (SELECT unnest(generate_series(1, {PQ_DIM})),
                    unnest([{qq}])),
probes AS (
  SELECT label FROM (
    SELECT cent.label,
           sum((cent.qc[qq.i] - qq.v) * (cent.qc[qq.i] - qq.v)) AS d
    FROM cent, qq GROUP BY cent.label
  ) ORDER BY d ASC, label ASC LIMIT {_IVFPQ_NPROBE}
),
codes AS ({_pq_assign_sql()}),
lut(subspace, code, sq_dist) AS (VALUES {lut_rows}),
scored AS (
  SELECT c.vec_id, CAST(sum(l.sq_dist) AS BIGINT) AS adc_dist
  FROM codes c
  JOIN lut l ON c.subspace = l.subspace AND c.code = l.code
  WHERE c.vec_id IN (SELECT ce.vec_id FROM cells ce
                     WHERE ce.label IN (SELECT label FROM probes))
  GROUP BY c.vec_id
)
SELECT vec_id, adc_dist FROM scored
ORDER BY adc_dist ASC, vec_id ASC LIMIT {k}
"""


@declare("ivfpq_adc_topk", oracle=_ivfpq_sql())
def q_ivfpq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ — the production ANN architecture (coarse inverted file
    to prune the corpus, product-quantized codes to scan what's left)
    COMPOSED from the family's two certified halves and oracle-checked
    end to end at hash level: deterministic coarse cells (the
    ivf_cell_assignment quantizer), the fixed query's nprobe=3 nearest
    cells by exact integer distance in the same 1e6 domain, then the
    asymmetric-distance top-10 over the code relation restricted to
    probed cells via LEFT SEMI join. One query vector, two
    quantizations — coarse (×10^6) for routing, PQ (×64) for the LUT —
    exactly the two-stage economics that searches 100 TB by touching
    nprobe/k of the cells and 8 bytes per surviving vector.

    Scale shape: cells and codes are both precomputed relations at
    scale; the query-time work is an 8-row probe sort, one semi join
    on the cell label (the partition-pruning axis), and a 32-row LUT
    broadcast onto the surviving codes."""
    from pulsar_project_spark.operators.kmeans import kmeans_fit, _sq_dist
    from pulsar_project_spark.operators.pq import (
        PQ_DIM,
        PQ_SCALE,
        pq_adc_topk,
        pq_encode,
    )

    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull() & F.col("vec_id").isNotNull()
    )
    cells, cent = kmeans_fit(emb, k=8, iters=1, require_k=False)
    qq = F.array(*[
        F.lit((((i * 5) % 7) - 3) * 1_000_000).cast("bigint")
        for i in range(PQ_DIM)
    ])
    probes = (
        cent.select("label", _sq_dist(qq, F.col("qc")).alias("d"))
        .orderBy(F.asc("d"), F.asc("label"))
        .limit(_IVFPQ_NPROBE)
        .select("label")
    )
    cand = cells.join(F.broadcast(probes), "label").select("vec_id")
    query_q = [(((i * 5) % 7) - 3) * PQ_SCALE for i in range(PQ_DIM)]
    codes = pq_encode(emb).join(cand, "vec_id", "left_semi")
    return pq_adc_topk(codes, query_q, k=10)


_IVFPQ_SHORTLIST = 100


def _ivfpq_rerank_sql(k: int = 10) -> str:
    """The two-stage production ANN in SQL: the full IVF-PQ pipeline's
    ADC scores shortlist the top-100 candidates, then an EXACT integer
    distance in the coarse 1e6 domain reranks the shortlist and keeps
    the top-10 — both stages replayed verbatim by the oracle."""
    from pulsar_project_spark.operators.pq import PQ_DIM

    base = _ivfpq_sql(k=_IVFPQ_SHORTLIST)
    qq = ", ".join(str((((i * 5) % 7) - 3) * 1_000_000)
                   for i in range(PQ_DIM))
    return f"""
WITH shortlist AS ({base}),
qv AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(floor(x::DOUBLE * 1000000.0) AS BIGINT)) AS v
  FROM embeddings WHERE embedding IS NOT NULL AND vec_id IS NOT NULL
),
qqr(i, q) AS (SELECT unnest(generate_series(1, {PQ_DIM})),
                     unnest([{qq}])),
exact AS (
  SELECT qv.vec_id,
         CAST(sum((qv.v[qqr.i] - qqr.q) * (qv.v[qqr.i] - qqr.q)) AS BIGINT)
           AS exact_dist
  FROM qv JOIN shortlist USING (vec_id), qqr
  GROUP BY qv.vec_id
)
SELECT vec_id, exact_dist FROM exact
ORDER BY exact_dist ASC, vec_id ASC LIMIT {k}
"""


@declare("ivfpq_rerank_topk", oracle=_ivfpq_rerank_sql())
def q_ivfpq_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO-STAGE ANN exactly as production runs it (VERDICT r7 #4):
    the certified IVF-PQ pipeline (coarse nprobe=3 routing + ADC scan
    over probed cells) produces a top-100 SHORTLIST by compressed
    distance, then the shortlist — and only the shortlist — pays for
    its float vectors, quantized to the coarse 1e6 integer domain for
    an EXACT distance rerank that keeps the top-10. The oracle replays
    both stages verbatim (the composed `_ivfpq_sql` as a CTE, then the
    exact-distance rerank), so a shortlist that dropped a candidate,
    an ADC tie broken differently, or a rerank distance off by one
    breaks the hash. Recall of the reranked top-10 against the
    global exact top-10 is pinned in tests/test_pq.py.

    Scale shape: stage 1 touches nprobe/k of the cells at 8 bytes per
    vector; stage 2 reads exactly ``_IVFPQ_SHORTLIST`` full vectors
    via a broadcast semi-join on the shortlist ids — at 100 TB the
    expensive exactness is paid on 100 rows, not the corpus. That
    shortlist-then-rerank economics is the entire reason ANN systems
    carry two representations of the same data."""
    from pulsar_project_spark.operators.kmeans import kmeans_fit, _sq_dist
    from pulsar_project_spark.operators.pq import (
        PQ_DIM,
        PQ_SCALE,
        pq_adc_topk,
        pq_encode,
    )

    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull() & F.col("vec_id").isNotNull()
    )
    cells, cent = kmeans_fit(emb, k=8, iters=1, require_k=False)
    qq = F.array(*[
        F.lit((((i * 5) % 7) - 3) * 1_000_000).cast("bigint")
        for i in range(PQ_DIM)
    ])
    probes = (
        cent.select("label", _sq_dist(qq, F.col("qc")).alias("d"))
        .orderBy(F.asc("d"), F.asc("label"))
        .limit(_IVFPQ_NPROBE)
        .select("label")
    )
    cand = cells.join(F.broadcast(probes), "label").select("vec_id")
    query_q = [(((i * 5) % 7) - 3) * PQ_SCALE for i in range(PQ_DIM)]
    codes = pq_encode(emb).join(cand, "vec_id", "left_semi")
    shortlist = pq_adc_topk(codes, query_q, k=_IVFPQ_SHORTLIST) \
        .select("vec_id")
    reranked = (
        emb.join(F.broadcast(shortlist), "vec_id", "left_semi")
        .select(
            "vec_id",
            F.expr(
                "transform(embedding, x -> cast(floor(cast(x as double) "
                "* 1000000.0) as bigint))"
            ).alias("__v"),
        )
        .select(
            "vec_id",
            F.aggregate(
                F.zip_with(F.col("__v"), qq, lambda x, y: (x - y) * (x - y)),
                F.lit(0).cast("bigint"), lambda acc, v: acc + v,
            ).alias("exact_dist"),
        )
    )
    return reranked.orderBy(F.asc("exact_dist"), F.asc("vec_id")).limit(10)


_SEMDEDUP_PER_CLUSTER = 625
_SEMDEDUP_TAU = 0.3
_SEMDEDUP_MAX_CLUSTER = 20_000  # worst-case pair-generation guard,
# declared in BOTH engines (operators.similarity.SEMDEDUP_MAX_CLUSTER)


@declare(
    "semdedup_embedding_prune",
    oracle=f"""
WITH {_norm_base_sql()},
cent AS (
  SELECT vec_id AS cid, embedding AS c_vec, nrm AS c_nrm
  FROM base ORDER BY vec_id
  LIMIT greatest(8, (SELECT count(*) FROM base) // {_SEMDEDUP_PER_CLUSTER})
),
scored AS (
  SELECT b.vec_id, c.cid,
         CASE WHEN b.nrm * c.c_nrm = 0 THEN 0.0
              ELSE {_dot_sql('b.embedding', 'c.c_vec')} / (b.nrm * c.c_nrm)
         END AS ccos
  FROM base b CROSS JOIN cent c
),
assigned AS (
  SELECT vec_id, cid FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY ccos DESC, cid) AS rnk
    FROM scored
  ) WHERE rnk = 1
),
csz AS (
  SELECT cid FROM assigned GROUP BY cid
  HAVING count(*) <= {_SEMDEDUP_MAX_CLUSTER}
),
pruned AS (
  SELECT DISTINCT bb.vec_id
  FROM assigned aa JOIN csz ON csz.cid = aa.cid
  JOIN assigned bb
    ON aa.cid = bb.cid AND aa.vec_id < bb.vec_id
  JOIN base x ON x.vec_id = aa.vec_id
  JOIN base y ON y.vec_id = bb.vec_id
  WHERE CASE WHEN x.nrm * y.nrm = 0 THEN 0.0
             ELSE {_dot_sql('x.embedding', 'y.embedding')} / (x.nrm * y.nrm)
        END >= {_SEMDEDUP_TAU}
)
SELECT a.vec_id, a.cid AS cluster_id,
       CAST(CASE WHEN p.vec_id IS NULL THEN 0 ELSE 1 END AS INTEGER)
         AS pruned
FROM assigned a LEFT JOIN pruned p ON a.vec_id = p.vec_id
""",
)
def q_semdedup_embedding_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC DEDUP (SemDeDup): the embedding-space member of the
    dedup family — cluster (k lowest-id centroids, argmax-cosine
    assignment, ties to the lowest centroid id), then prune any point
    with a lower-id cluster-mate within cosine ≥ τ. The quadratic
    check runs per cluster, never across the corpus — the property
    that makes semantic dedup tractable at 100 TB (k scales with n,
    cluster size stays constant). Emits the FULL per-vector relation
    (id, cluster, pruned 0/1), so the oracle hash certifies the
    assignment AND the prune decision for every point; every cosine is
    a sequential-fold double on both engines (bit-exact, so argmax
    tie-breaks and the τ boundary agree). Completes the dedup roster:
    exact / chunk / MinHash / SimHash / n-gram / PPJoin / Levenshtein /
    SemDeDup."""
    from pulsar_project_spark.operators.similarity import semdedup_prune

    emb = load_table(spark, sf_dir, "embeddings")
    return semdedup_prune(emb, per_cluster=_SEMDEDUP_PER_CLUSTER,
                          threshold=_SEMDEDUP_TAU)


# --- ANN index as a transactional table (VERDICT r10 order #8) ---------------
#
# The production shape for an embedding store at 100 TB: the vector
# corpus lives in the tx table log, the IVF-PQ index structures
# (frozen coarse quantizer + cell assignment + PQ codes) live in tx
# tables of their own, and index maintenance is INCREMENTAL off the
# change data feed — assign+encode only the inserted vectors, keyed-
# delete only the removed ones. The census proves
# index-after-incremental-update == index-rebuilt-from-scratch.
_ANN_DEL_LO, _ANN_DEL_HI = 100, 250   # the COW delete window on vec_id
_ANN_K = 8


def _ann_census_sql(cent_where: str, live_where: str) -> str:
    """The per-(label, subspace) IVF-PQ index census in closed form,
    parameterized by the frozen-quantizer training membership and the
    final live membership — shared by the change-feed maintenance
    capstone and the streaming ingestion capstone."""
    from pulsar_project_spark.operators.kmeans import QUANT

    dist = ("list_reduce(list_transform(generate_series(1, 64), "
            "i -> (live.qv[i] - cent.qc[i]) * (live.qv[i] - cent.qc[i])), "
            "(x, y) -> x + y)")
    return f"""
WITH vecs AS (
  SELECT vec_id, embedding,
         list_transform(embedding,
           x -> CAST(floor(x::DOUBLE * {QUANT}.0) AS BIGINT)) AS qv
  FROM embeddings WHERE embedding IS NOT NULL AND vec_id IS NOT NULL
),
cent AS (
  -- the FROZEN coarse quantizer: k lowest ids of the training set
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS label,
         qv AS qc
  FROM (SELECT vec_id, qv FROM vecs
        WHERE {cent_where}
        ORDER BY vec_id LIMIT {_ANN_K})
),
live AS (
  -- final indexed membership — a pure function of the data
  SELECT vec_id, embedding, qv FROM vecs
  WHERE {live_where}
),
scored AS (
  SELECT live.vec_id, cent.label, {dist} AS sq_dist FROM live, cent
),
assign AS (
  SELECT vec_id, label FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY sq_dist ASC, label ASC) AS rn
    FROM scored) WHERE rn = 1
),
codes AS (
{_pq_branches_sql("live")}
)
SELECT a.label, c.subspace,
       count(*) AS n_vecs,
       CAST(sum(c.code) AS BIGINT) AS sum_code,
       CAST(sum(c.vec_id) AS BIGINT) AS sum_vec_id
FROM assign a JOIN codes c USING (vec_id)
GROUP BY 1, 2
"""


def _ann_index_sql() -> str:
    # maintenance capstone: quantizer trained on the two pre-index
    # appends (pmod 3 != 2); live = all appends minus the COW delete
    return _ann_census_sql(
        cent_where="((vec_id % 3 + 3) % 3) <> 2",
        live_where=f"NOT (vec_id BETWEEN {_ANN_DEL_LO} AND {_ANN_DEL_HI})")


def run_ann_index_maintenance(spark: SparkSession, sf_dir: str
                              ) -> DataFrame:
    """ANN INDEX AS A TRANSACTIONAL TABLE, MAINTAINED OFF THE CHANGE
    FEED (VERDICT r10 order #8) — the composition of the two flagship
    families, and the production shape for an embedding store at
    100 TB:

    1. the vector corpus lands in a tx table in two commits (vec_id
       pmod 3 in {0, 1});
    2. the IVF-PQ index is built over that snapshot — frozen coarse
       quantizer (k lowest-id centroids, ``kmeans_fit`` iters=1),
       per-vector cell assignment, and PQ codes — and PERSISTED as tx
       tables (centroids + one (vec_id, label, subspace, code)
       relation);
    3. the base table then changes: a third append (pmod 3 == 2) and a
       COW range delete;
    4. maintenance reads ``tx_table_changes`` since the build version,
       nets the weighted feed per vec_id, assigns+encodes ONLY the net
       inserts against the frozen quantizer (``kmeans_assign_to`` —
       no retraining), tx-appends them, and keyed-deletes the net
       removals via ``tx_merge(delete_matched=True)``;
    5. it returns the per-(label, subspace) census of the MAINTAINED
       index table, which the oracle recomputes from the raw parquet
       in closed form — so a stale code, a lost insert, a surviving
       deleted vector, or a drifted centroid breaks the hash.

    The tables stay under ``<tmp>/spark_graft_rt_<pid>/ann_index/``
    (``vectors``, ``index``, ``centroids``) until the next call, so
    tests/test_ivf.py's rebuild-equivalence test can rebuild the index
    from the final snapshot with the same frozen centroids and assert
    incremental == rebuilt exactly.

    Scale shape: the feed costs what the changes cost (manifest diff,
    touched files only); assign+encode run on the insert delta only
    (8-row centroid broadcast, map-side encode); the keyed delete
    rewrites only manifest-bounds-affected index files. Rebuild —
    the thing this pattern lets you STOP doing per update — appears
    only in that test."""
    import os
    import shutil
    import tempfile

    from pulsar_project_spark.operators.kmeans import (
        kmeans_assign_to,
        kmeans_fit,
    )
    from pulsar_project_spark.operators.pq import pq_encode
    from pulsar_project_spark.sources.txlog import (
        tx_append,
        tx_delete_range,
        tx_init,
        tx_latest_version,
        tx_merge,
        tx_read,
        tx_table_changes,
    )

    base = os.path.join(tempfile.gettempdir(),
                        f"spark_graft_rt_{os.getpid()}", "ann_index")
    if os.path.exists(base):
        shutil.rmtree(base)
    vec_tbl = os.path.join(base, "vectors")
    idx_tbl = os.path.join(base, "index")
    cent_tbl = os.path.join(base, "centroids")
    for t in (vec_tbl, idx_tbl, cent_tbl):
        tx_init(t)

    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull() & F.col("vec_id").isNotNull()
    ).select("vec_id", "embedding")
    r3 = F.pmod(F.col("vec_id"), F.lit(3))

    # 1. initial corpus: two commits (n_files=4: the staging write
    # otherwise inherits the scan's partitioning — dozens of tiny
    # files per commit that every later read/merge re-lists)
    tx_append(emb.filter(r3 == 0), vec_tbl, n_files=4)
    tx_append(emb.filter(r3 == 1), vec_tbl, n_files=4)
    v_built = tx_latest_version(vec_tbl)

    # 2. build + persist the index (frozen quantizer). iters=1 means
    # kmeans_fit's assignment IS assignment against the returned
    # centroids, so the build reuses the maintenance primitive in ONE
    # map-side pass: broadcast argmin carrying the embedding through,
    # pq_encode riding the same projection carrying the label — the
    # old assign⋈encode join shuffled the whole snapshot (round 12,
    # same shape as the streaming ANN ingest landing).
    snap0 = tx_read(spark, vec_tbl)
    _, cent = kmeans_fit(snap0, k=_ANN_K, iters=1, require_k=False)
    tx_append(cent, cent_tbl, n_files=1)
    index0 = pq_encode(
        kmeans_assign_to(snap0, cent, keep=("embedding",))
        .select("vec_id", "embedding", "label"),
        carry=("label",))
    tx_append(index0.select("vec_id", "label", "subspace", "code"),
              idx_tbl, n_files=4)

    # 3. the base table moves on
    tx_append(emb.filter(r3 == 2), vec_tbl, n_files=4)
    tx_delete_range(spark, vec_tbl, "vec_id", _ANN_DEL_LO, _ANN_DEL_HI)

    # 4. incremental maintenance off the change feed
    feed = tx_table_changes(spark, vec_tbl, v_from=v_built)
    w = F.when(F.col("_change_type") == "insert",
               F.col("_n")).otherwise(-F.col("_n"))
    net = (feed.select("vec_id", "embedding", w.alias("w"))
           .groupBy("vec_id", "embedding")
           .agg(F.sum("w").alias("w"))
           .filter(F.col("w") != 0)
           .localCheckpoint(eager=True))
    frozen = tx_read(spark, cent_tbl)
    ins = net.filter(F.col("w") > 0).select("vec_id", "embedding")
    dele = net.filter(F.col("w") < 0).select("vec_id").distinct()
    if dele.count() > 0:
        tx_merge(spark, idx_tbl, dele, "vec_id",
                 delete_matched=True, insert_not_matched=False)
    if not ins.isEmpty():
        inc = pq_encode(
            kmeans_assign_to(ins, frozen, keep=("embedding",))
            .select("vec_id", "embedding", "label"),
            carry=("label",))
        tx_append(inc.select("vec_id", "label", "subspace", "code"),
                  idx_tbl, n_files=4)

    maintained = tx_read(spark, idx_tbl).select(
        "vec_id", "label", "subspace", "code")
    return (maintained.groupBy("label", "subspace")
            .agg(F.count(F.lit(1)).alias("n_vecs"),
                 F.sum("code").cast("bigint").alias("sum_code"),
                 F.sum("vec_id").cast("bigint").alias("sum_vec_id")))


@declare("tx_ann_index_maintenance_census", oracle=_ann_index_sql())
def q_tx_ann_index_maintenance_census(spark: SparkSession,
                                      sf_dir: str) -> DataFrame:
    """Declared-query face of ``run_ann_index_maintenance`` (docstring
    there): full lifecycle — land corpus in tx commits, build+persist
    the IVF-PQ index, mutate the base table, maintain the index off
    the change feed — returning the maintained-index census the oracle
    recomputes in closed form. The rebuild-equivalence check runs in
    tests/test_ivf.py, not per execution."""
    return run_ann_index_maintenance(spark, sf_dir)
