"""Correctness gates for ANN search, lexical retrieval, clustering and
ranking. Each `@query` pairs a Spark query over the driver test tables
with the DuckDB SQL that re-derives its result; `queries` collects them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from logstash_spark.operators import cluster as C
from logstash_spark.operators import dataprep as D
from logstash_spark.operators import retrieval as R
from logstash_spark.queries_common import _H32U, _bucket_sql, _cos_sql, _t, query


@query(
    "ann_cosine_topk",
    f"""
    WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings WHERE vec_id < 5),
    c AS (SELECT vec_id AS c_id, embedding AS c_vec FROM embeddings),
    s AS (
      SELECT q_id, c_id, round({_cos_sql('q_vec', 'c_vec')}, 6) AS cos
      FROM q, c WHERE q_id != c_id
    )
    SELECT q_id, c_id, cos, CAST(rank AS INTEGER) AS rank
    FROM (SELECT q_id, c_id, cos,
                 row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rank
          FROM s)
    WHERE rank <= 5
    """,
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for queries vec_id<5: broadcast query set,
    corpus never shuffles; deterministic tie-break on candidate id."""
    em = _t(spark, sf_dir, "embeddings")
    return D.ann_topk_bruteforce(em, em.where(F.col("vec_id") < 5), k=5)


@query(
    "ann_lsh_bucketed",
    f"""
    WITH cb AS (
      SELECT vec_id AS c_id, embedding AS c_vec,
             {_bucket_sql('embedding')} AS bucket
      FROM embeddings
    ),
    qb AS (SELECT c_id AS q_id, c_vec AS q_vec, bucket FROM cb WHERE c_id < 8),
    s AS (
      SELECT q_id, qb.bucket AS bucket, c_id,
             round({_cos_sql('q_vec', 'c_vec')}, 6) AS cos
      FROM qb JOIN cb USING (bucket) WHERE q_id != c_id
    )
    SELECT q_id, bucket, c_id, cos, CAST(rank AS INTEGER) AS rank
    FROM (SELECT q_id, bucket, c_id, cos,
                 row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rank
          FROM s)
    WHERE rank <= 5
    """,
)
def ann_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN: deterministic random-hyperplane sign buckets;
    candidates limited to the query's bucket (single equi-join shuffle)."""
    em = _t(spark, sf_dir, "embeddings")
    return D.ann_lsh_bucketed(em, em.where(F.col("vec_id") < 8), k=5, n_planes=6)


@query(
    "ann_ivf",
    f"""
    WITH cent AS (SELECT vec_id AS cent_id, embedding AS cent_vec
                  FROM embeddings WHERE vec_id < 8),
    a AS (
      SELECT e.vec_id, e.embedding, c.cent_id,
             round({_cos_sql('e.embedding', 'c.cent_vec')}, 6) AS ccos
      FROM embeddings e, cent c
    ),
    cb AS (
      SELECT vec_id AS c_id, embedding AS c_vec, cent_id AS bucket
      FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                         ORDER BY ccos DESC, cent_id) AS pr FROM a)
      WHERE pr = 1
    ),
    qb AS (
      SELECT vec_id AS q_id, embedding AS q_vec, cent_id AS bucket
      FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                         ORDER BY ccos DESC, cent_id) AS pr
            FROM a WHERE vec_id < 6)
      WHERE pr <= 2
    ),
    s AS (
      SELECT q_id, c_id, round({_cos_sql('q_vec', 'c_vec')}, 6) AS cos
      FROM qb JOIN cb USING (bucket) WHERE q_id != c_id
    )
    SELECT q_id, c_id, cos, CAST(rank AS INTEGER) AS rank
    FROM (SELECT q_id, c_id, cos,
                 row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rank
          FROM s)
    WHERE rank <= 5
    """,
)
def ann_ivf_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: deterministic centroid set (vec_id<8), corpus in nearest-
    centroid lists, queries (vec_id<6) probe their 2 nearest lists —
    the trained-quantizer topology for 10^12-vector search."""
    em = _t(spark, sf_dir, "embeddings")
    return D.ann_ivf(
        em,
        em.where(F.col("vec_id") < 6),
        em.where(F.col("vec_id") < 8),
        k=5,
        nprobe=2,
    )


@query(
    "ann_ivf_selfjoin",
    f"""
    WITH cent AS (SELECT vec_id AS cent_id, embedding AS cent_vec
                  FROM embeddings WHERE vec_id < 8),
    a AS (
      SELECT e.vec_id, e.embedding, c.cent_id,
             round({_cos_sql('e.embedding', 'c.cent_vec')}, 6) AS ccos
      FROM embeddings e, cent c
    ),
    cb AS (
      SELECT vec_id AS c_id, embedding AS c_vec, cent_id AS bucket
      FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                         ORDER BY ccos DESC, cent_id) AS pr FROM a)
      WHERE pr = 1
    ),
    s AS (
      SELECT q.c_id AS q_id, c.c_id AS c_id,
             round({_cos_sql('q.c_vec', 'c.c_vec')}, 6) AS cos
      FROM cb q JOIN cb c USING (bucket) WHERE q.c_id != c.c_id
    )
    SELECT q_id, c_id, cos, CAST(rank AS INTEGER) AS rank
    FROM (SELECT q_id, c_id, cos,
                 row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rank
          FROM s)
    WHERE rank <= 3
    """,
)
def ann_ivf_selfjoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-scale self-dedup: queries == corpus, nprobe=1 (every vector
    searches its own list). NO query-side broadcast — the bucket
    equi-join shuffles both sides, the only topology that survives when
    |Q| = |C| = 10^12."""
    em = _t(spark, sf_dir, "embeddings")
    return D.ann_ivf(
        em, em, em.where(F.col("vec_id") < 8), k=3, nprobe=1,
        broadcast_queries=False,
    )


_PQ_DIM, _PQ_M, _PQ_K, _PQ_SUB = 64, 4, 16, 16
_CB = D.pq_codebook(_PQ_M, _PQ_K, _PQ_SUB)

_FOLD = (
    "list_reduce(list_prepend(0.0, list_transform(list_zip({a}, {b}), "
    "z -> {term})), (p, q) -> p + q)"
)


def _sql_list(vals: list[float]) -> str:
    return "[" + ", ".join(repr(v) for v in vals) + "]"


def _pq_dist_sql(vec: str, m: int, j: int) -> str:
    sub = f"{vec}[{m * _PQ_SUB + 1}:{(m + 1) * _PQ_SUB}]"
    body = _FOLD.format(
        a=sub,
        b=_sql_list(_CB[m][j]),
        term="(CAST(z[1] AS DOUBLE) - z[2]) * (CAST(z[1] AS DOUBLE) - z[2])",
    )
    return f"round({body}, 6)"


def _pq_code_sql(vec: str, m: int) -> str:
    dists = "[" + ", ".join(_pq_dist_sql(vec, m, j) for j in range(_PQ_K)) + "]"
    return f"CAST(list_position({dists}, list_min({dists})) - 1 AS INT)"


def _pq_adc_sql(qvec: str, m: int) -> str:
    """ADC term m: dot(query slice m, codebook[m][codes[m]])."""
    sub = f"{qvec}[{m * _PQ_SUB + 1}:{(m + 1) * _PQ_SUB}]"
    cbm = "[" + ", ".join(_sql_list(_CB[m][j]) for j in range(_PQ_K)) + "]"
    body = _FOLD.format(
        a=sub,
        b=f"({cbm})[codes[{m + 1}] + 1]",
        term="CAST(z[1] AS DOUBLE) * z[2]",
    )
    return f"round({body}, 6)"


_PQ_SCORE = "round(" + " + ".join(_pq_adc_sql("q_vec", m) for m in range(_PQ_M)) + ", 6)"
_PQ_CODES = "[" + ", ".join(_pq_code_sql("embedding", m) for m in range(_PQ_M)) + "]"


@query(
    "ann_ivf_pq",
    f"""
    WITH cent AS (SELECT vec_id AS cent_id, embedding AS cent_vec
                  FROM embeddings WHERE vec_id < 8),
    a AS (
      SELECT e.vec_id, e.embedding, c.cent_id,
             round({_cos_sql('e.embedding', 'c.cent_vec')}, 6) AS ccos
      FROM embeddings e, cent c
    ),
    cb AS (
      SELECT vec_id AS c_id, cent_id AS bucket
      FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                         ORDER BY ccos DESC, cent_id) AS pr FROM a)
      WHERE pr = 1
    ),
    codes AS (SELECT vec_id AS c_id, {_PQ_CODES} AS codes FROM embeddings),
    cside AS (SELECT cb.c_id, bucket, codes FROM cb JOIN codes USING (c_id)),
    qb AS (
      SELECT vec_id AS q_id, embedding AS q_vec, cent_id AS bucket
      FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                         ORDER BY ccos DESC, cent_id) AS pr
            FROM a WHERE vec_id < 6)
      WHERE pr <= 2
    ),
    s AS (
      SELECT q_id, c_id, {_PQ_SCORE} AS score_pq
      FROM qb JOIN cside USING (bucket) WHERE q_id != c_id
    )
    SELECT q_id, c_id, score_pq, CAST(rank AS INTEGER) AS rank
    FROM (SELECT q_id, c_id, score_pq,
                 row_number() OVER (PARTITION BY q_id
                                    ORDER BY score_pq DESC, c_id) AS rank
          FROM s)
    WHERE rank <= 5
    """,
)
def ann_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN (`dataprep.ann_ivf_pq`, Jégou et al. TPAMI 2011):
    8-centroid IVF lists bound candidates, 4x16 product-quantization
    codes replace corpus vectors in the scoring join (64x fewer shuffle
    bytes), asymmetric-distance top-5 per query (vec_id < 6, nprobe 2).
    Codebooks are a deterministic dyadic-rational lattice so both
    engines agree bit-for-bit."""
    em = _t(spark, sf_dir, "embeddings")
    return D.ann_ivf_pq(
        em,
        em.where(F.col("vec_id") < 6),
        em.where(F.col("vec_id") < 8),
        dim=_PQ_DIM,
        m_sub=_PQ_M,
        k_codes=_PQ_K,
        k=5,
        nprobe=2,
    )


_BM25_QUERIES = [
    (1, ["kw7", "scan"]),
    (2, ["kw40", "xkw3"]),
    (3, ["merge", "window", "kw13"]),
]

_BM25_Q_SQL = " UNION ALL ".join(
    f"SELECT {qid} AS query_id, '{t}' AS term"
    for qid, terms in _BM25_QUERIES
    for t in terms
)

_BM25_DOCS_SQL = """
  SELECT doc_id,
         text || ' kw' || CAST(doc_id % 41 AS VARCHAR)
              || ' xkw' || CAST(doc_id % 7 AS VARCHAR) AS text
  FROM documents
"""


@query(
    "bm25_topk",
    R.bm25_oracle_sql(_BM25_DOCS_SQL, _BM25_Q_SQL, k=10),
)
def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 per query over the documents corpus decorated with
    deterministic rare terms. Index = ONE explode+groupBy; scoring
    joins only the query terms' postings (query side broadcast); ranks
    are integer-exact (see retrieval.py scoring notes), ties break on
    doc id."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" kw"), (F.col("doc_id") % 41).cast("string"),
            F.lit(" xkw"), (F.col("doc_id") % 7).cast("string"),
        ).alias("text"),
    )
    postings = R.build_postings(docs)
    queries = spark.createDataFrame(
        [(qid, terms) for qid, terms in _BM25_QUERIES],
        "query_id int, terms array<string>",
    )
    return R.bm25_topk(postings, queries, k=10)


@query(
    "tfidf_topk_terms",
    R.tfidf_oracle_sql(_BM25_DOCS_SQL, k=3),
)
def tfidf_topk_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per doc by integer-exact TF-IDF over
    the same decorated corpus/index as `bm25_topk` — keyword extraction
    derived entirely from the postings table (no corpus rescan)."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" kw"), (F.col("doc_id") % 41).cast("string"),
            F.lit(" xkw"), (F.col("doc_id") % 7).cast("string"),
        ).alias("text"),
    )
    return R.tfidf_topk_terms(R.build_postings(docs), k=3)


_KM_K = 4
_KM_DIM = 64
_KM_ITERS = 2


@query(
    "kmeans_lloyd",
    C.kmeans_oracle_sql(
        "SELECT vec_id, embedding FROM embeddings",
        _KM_K, _KM_DIM, iters=_KM_ITERS,
    ),
)
def kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two Lloyd rounds of k=4 k-means over the embeddings table
    (operators/cluster.py): centroids literal at assign time (zero
    shuffle), ONE groupBy per update round, integer-exact quantized
    arithmetic so the final (vec_id, cluster, dist) assignment is
    bit-identical to the oracle's unrolled SQL replay. The trainer the
    IVF/SemDeDup family documents as out-of-band."""
    from logstash_spark.operators.cluster import kmeans_lloyd as _km

    emb = _t(spark, sf_dir, "embeddings")
    return _km(emb, _KM_K, _KM_DIM, iters=_KM_ITERS)


@query(
    "hard_negative_mining",
    """
    WITH c AS (
      SELECT doc_id % 47 AS query_id, doc_id,
             CAST((doc_id * 104729) % 100000 AS INT) AS score
      FROM documents
    ),
    g AS (SELECT query_id, doc_id FROM c WHERE doc_id % 17 = 0),
    n AS (
      SELECT c.* FROM c
      WHERE NOT EXISTS (
        SELECT 1 FROM g
        WHERE g.query_id = c.query_id AND g.doc_id = c.doc_id)
    ),
    r AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY score DESC, doc_id) AS neg_rank
      FROM n
    )
    SELECT query_id, doc_id, score, CAST(neg_rank AS INT) AS neg_rank
    FROM r WHERE neg_rank <= 3
    """,
)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining gate (`dataprep.hard_negatives`, DPR §3.2):
    candidates = every doc scored per query (doc_id % 47), gold pairs =
    docs with doc_id % 17 == 0; top-3 non-gold per query by (score
    desc, id). ONE anti-join + ONE bounded window."""
    from pyspark.sql import functions as FN

    from logstash_spark.operators import dataprep as D

    docs = _t(spark, sf_dir, "documents")
    cand = docs.select(
        (FN.col("doc_id") % 47).alias("query_id"),
        "doc_id",
        ((FN.col("doc_id") * 104729) % 100000).cast("int").alias("score"),
    )
    gold = cand.where(FN.col("doc_id") % 17 == 0).select("query_id", "doc_id")
    return D.hard_negatives(cand, gold, k=3)


@query(
    "embedding_int8_quant",
    """
    WITH m AS (
      SELECT vec_id, embedding,
             list_max(list_transform(embedding, x -> abs(x))) AS scale
      FROM embeddings
    ),
    q AS (
      SELECT vec_id, scale,
             CASE WHEN scale > 0
                  THEN list_transform(embedding,
                         x -> CAST(floor(x * 127.0 / scale + 0.5) AS INT))
                  ELSE list_transform(embedding, x -> 0) END AS q
      FROM m
    )
    SELECT vec_id,
           md5(array_to_string(q, ',')) AS q_md5,
           CAST(list_min(q) AS BIGINT) AS q_min,
           CAST(list_max(q) AS BIGINT) AS q_max,
           round(scale, 6) AS scale_r6,
           CAST(len(q) AS BIGINT) AS n_dim
    FROM q
    """,
)
def embedding_int8_quant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8-quantization gate (`dataprep.quantize_embedding_int8`) over
    the REAL embeddings table: per-vector symmetric scale, q in
    [-127, 127], md5 of the full quantized array plus min/max probes.
    Zero shuffle — scan + map."""
    from logstash_spark.operators import dataprep as D  # noqa: PLC0415

    em = _t(spark, sf_dir, "embeddings")
    feats = D.quantize_embedding_int8(F.col("embedding"))
    q = feats["q"]
    return em.select(
        "vec_id",
        F.md5(F.concat_ws(",", F.transform(q, lambda x: x.cast("string")))).alias(
            "q_md5"
        ),
        F.array_min(q).cast("long").alias("q_min"),
        F.array_max(q).cast("long").alias("q_max"),
        F.round(feats["scale"], 6).alias("scale_r6"),
        feats["n_dim"].alias("n_dim"),
    )


_QZ = (
    "CASE WHEN list_max(list_transform({v}, x -> abs(x))) > 0 "
    "THEN list_transform({v}, x -> CAST(floor(x * 127.0 "
    "/ list_max(list_transform({v}, y -> abs(y))) + 0.5) AS BIGINT)) "
    "ELSE list_transform({v}, x -> CAST(0 AS BIGINT)) END"
)


@query(
    "ann_cosine_topk_int8",
    f"""
    WITH z AS (
      SELECT vec_id, {_QZ.format(v="embedding")} AS q FROM embeddings
    ),
    n AS (
      SELECT vec_id, q,
             list_sum(list_transform(q, x -> x * x)) AS n2
      FROM z
    ),
    nn AS (SELECT * FROM n WHERE n2 > 0),
    qs AS (SELECT vec_id AS q_id, q AS qq, n2 AS qn2 FROM nn WHERE vec_id < 5),
    s AS (
      SELECT q_id, c.vec_id AS c_id,
             round(list_sum(list_transform(list_zip(qq, c.q),
                     p -> CAST(p[1] AS BIGINT) * CAST(p[2] AS BIGINT)))
                   / sqrt(CAST(qn2 * c.n2 AS DOUBLE)), 6) AS cos_q6
      FROM qs, nn c WHERE q_id != c.vec_id
    )
    SELECT q_id, c_id, cos_q6, CAST(rank AS INTEGER) AS rank
    FROM (SELECT q_id, c_id, cos_q6,
                 row_number() OVER (PARTITION BY q_id
                                    ORDER BY cos_q6 DESC, c_id) AS rank
          FROM s)
    WHERE rank <= 5
    """,
)
def ann_cosine_topk_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantized-ANN gate (`dataprep.ann_topk_int8`): brute-force top-5
    over the REAL embeddings table with both sides int8-quantized — the
    per-vector scales cancel in the cosine, so the score is a pure
    function of int64 terms (one double sqrt at the end, ranked at 6
    dp). Proves the 4x-compressed search path end to end."""
    from logstash_spark.operators import dataprep as D  # noqa: PLC0415

    em = _t(spark, sf_dir, "embeddings")
    return D.ann_topk_int8(em, em.where(F.col("vec_id") < 5), k=5)


_DOT = (
    "list_sum(list_transform(list_zip({a}, {b}), "
    "p -> CAST(p[1] AS BIGINT) * CAST(p[2] AS BIGINT)))"
)

_LAM = 300_000
_SHORT = 8


@query(
    "mmr_diverse_topk",
    f"""
    WITH z AS (
      SELECT vec_id, {_QZ.format(v="embedding")} AS q FROM embeddings
    ),
    n AS (
      SELECT vec_id, q, list_sum(list_transform(q, x -> x * x)) AS n2
      FROM z
    ),
    nn AS (SELECT * FROM n WHERE n2 > 0),
    qs AS (SELECT vec_id AS q_id, q AS qq, n2 AS qn2 FROM nn
           WHERE vec_id < 3),
    rel AS (
      SELECT q_id, c.vec_id AS c_id, c.q AS cq, c.n2 AS cn2,
             CAST(floor({_DOT.format(a="qq", b="c.q")}
                  / sqrt(CAST(qn2 * c.n2 AS DOUBLE)) * 1000000.0)
                  AS BIGINT) AS rel_u
      FROM qs, nn c WHERE q_id != c.vec_id
    ),
    cand AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY q_id
                     ORDER BY rel_u DESC, c_id) AS rnk
        FROM rel) WHERE rnk <= {_SHORT}
    ),
    sim AS (
      SELECT a.q_id, a.c_id AS ia, b.c_id AS ib,
             CAST(floor({_DOT.format(a="a.cq", b="b.cq")}
                  / sqrt(CAST(a.cn2 * b.cn2 AS DOUBLE)) * 1000000.0)
                  AS BIGINT) AS s
      FROM cand a JOIN cand b
        ON a.q_id = b.q_id AND a.c_id != b.c_id
    ),
    s1 AS (SELECT q_id, c_id, rel_u FROM cand WHERE rnk = 1),
    sc2 AS (
      SELECT c.q_id, c.c_id, c.rel_u,
             {_LAM} * c.rel_u - {1_000_000 - _LAM} * sim.s AS score
      FROM cand c
      JOIN s1 ON c.q_id = s1.q_id AND c.c_id != s1.c_id
      JOIN sim ON sim.q_id = c.q_id AND sim.ia = c.c_id
              AND sim.ib = s1.c_id
    ),
    s2 AS (
      SELECT q_id, c_id, rel_u FROM (
        SELECT *, row_number() OVER (PARTITION BY q_id
                     ORDER BY score DESC, rel_u DESC, c_id) AS rr
        FROM sc2) WHERE rr = 1
    ),
    sc3 AS (
      SELECT c.q_id, c.c_id, c.rel_u,
             {_LAM} * c.rel_u
               - {1_000_000 - _LAM} * greatest(x1.s, x2.s) AS score
      FROM cand c
      JOIN s1 ON c.q_id = s1.q_id
      JOIN s2 ON c.q_id = s2.q_id
      JOIN sim x1 ON x1.q_id = c.q_id AND x1.ia = c.c_id
                 AND x1.ib = s1.c_id
      JOIN sim x2 ON x2.q_id = c.q_id AND x2.ia = c.c_id
                 AND x2.ib = s2.c_id
      WHERE c.c_id != s1.c_id AND c.c_id != s2.c_id
    ),
    s3 AS (
      SELECT q_id, c_id, rel_u FROM (
        SELECT *, row_number() OVER (PARTITION BY q_id
                     ORDER BY score DESC, rel_u DESC, c_id) AS rr
        FROM sc3) WHERE rr = 1
    )
    SELECT q_id, CAST(1 AS INTEGER) AS rank, c_id, rel_u FROM s1
    UNION ALL SELECT q_id, 2, c_id, rel_u FROM s2
    UNION ALL SELECT q_id, 3, c_id, rel_u FROM s3
    """,
)
def mmr_diverse_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR gate (`dataprep.mmr_topk`): diversified top-3 for three
    queries over the real embeddings table, λ=0.3, 8-candidate
    shortlist. The operator evaluates the greedy recurrence as one
    array-local aggregate over the grouped shortlist; the oracle
    unrolls the same recurrence as three relational argmax stages over
    an explicit pairwise-similarity join — any drift in the scoring,
    tie-breaks, or max-sim bookkeeping breaks the hash match."""
    from logstash_spark.operators import dataprep as D  # noqa: PLC0415

    em = _t(spark, sf_dir, "embeddings")
    return D.mmr_topk(
        em,
        em.where(F.col("vec_id") < 3),
        k=3,
        lambda_ppm=_LAM,
        shortlist=_SHORT,
    )


@query(
    "retrieval_ranking_metrics",
    f"""
    WITH base AS (
      SELECT doc_id, doc_id // 50 AS q_id,
             CAST(doc_id % 50 + 1 AS INT) AS rank,
             CASE {_H32U.format(s="doc_id || ':rel'")} % 7
               WHEN 0 THEN 2 WHEN 1 THEN 1 ELSE 0 END AS rel
      FROM documents
    ),
    topk AS (
      SELECT q_id,
             list_sort(list_zip(
               list(rank ORDER BY rank), list(rel ORDER BY rank)))
               AS l
      FROM base WHERE rank <= 10 GROUP BY q_id
    ),
    perq AS (
      SELECT q_id,
             coalesce(list_min(list_transform(
               list_filter(l, x -> x[2] > 0), x -> CAST(x[1] AS BIGINT))),
               0) AS first_rank,
             CAST(len(list_filter(l, x -> x[2] > 0)) AS BIGINT) AS hits,
             list_sum(list_transform(l,
               x -> (pow(2.0, CAST(x[2] AS DOUBLE)) - 1.0)
                    / log2(CAST(x[1] AS DOUBLE) + 1.0))) AS dcg
      FROM topk
    ),
    ideal AS (
      SELECT q_id, CAST(count(*) AS BIGINT) AS n_rel,
             list_sum(list_transform(
               list_zip(
                 (list_sort(list(rel), 'DESC'))[1:10],
                 range(1, least(CAST(count(*) AS BIGINT), 10) + 1)),
               x -> (pow(2.0, CAST(x[1] AS DOUBLE)) - 1.0)
                    / log2(CAST(x[2] AS DOUBLE) + 1.0))) AS idcg
      FROM base WHERE rel > 0 GROUP BY q_id
    )
    SELECT p.q_id,
           CAST(CASE WHEN first_rank > 0 THEN floor(1000000.0 / first_rank)
                     ELSE 0 END AS BIGINT) AS mrr_ppm,
           CAST(CASE WHEN coalesce(n_rel, 0) > 0
                     THEN (hits * 1000000) // n_rel ELSE 0 END AS BIGINT)
             AS recall_k_ppm,
           CAST(CASE WHEN coalesce(idcg, 0) > 0
                     THEN floor(dcg / idcg * 1000000.0) ELSE 0 END AS BIGINT)
             AS ndcg_k_ppm,
           CAST(coalesce(n_rel, 0) AS BIGINT) AS n_rel
    FROM perq p LEFT JOIN ideal i ON p.q_id = i.q_id
    """,
)
def retrieval_ranking_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-metrics gate (`dataprep.ranking_metrics`): 50-candidate
    ranked runs per query with hash-graded relevance (rel 2/1/0),
    judged at k=10 — relevant docs beyond rank 10 exist, so recall@10
    is meaningfully below 1. MRR and recall are exact integers; the
    NDCG folds are order-pinned doubles floored once at the end."""
    from logstash_spark.operators import dataprep as D  # noqa: PLC0415

    docs = _t(spark, sf_dir, "documents")
    i = F.col("doc_id")
    base = docs.select(
        "doc_id",
        F.expr("doc_id DIV 50").alias("q_id"),
        (i % 50 + 1).cast("int").alias("rank"),
        F.when(
            D.portable_hash32(F.concat(i.cast("string"), F.lit(":rel"))) % 7
            == 0,
            F.lit(2),
        )
        .when(
            D.portable_hash32(F.concat(i.cast("string"), F.lit(":rel"))) % 7
            == 1,
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("rel"),
    )
    run = base.select("q_id", "doc_id", "rank")
    qrels = base.where(F.col("rel") > 0).select("q_id", "doc_id", "rel")
    return D.ranking_metrics(run, qrels, k=10)


_KC_Q = """
    q AS (
      SELECT vec_id AS id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS qv
      FROM embeddings WHERE vec_id < 40
    ),
    d AS (
      SELECT a.id AS ia, b.id AS ib,
             CAST(list_sum(list_transform(range(1, 65),
                  i -> (a.qv[i] - b.qv[i]) * (a.qv[i] - b.qv[i])))
                  AS BIGINT) AS d2
      FROM q a CROSS JOIN q b
    )
"""


@query(
    "kcenter_coreset",
    f"""
    WITH {_KC_Q},
    s0 AS (SELECT min(id) AS id FROM q),
    m0 AS (SELECT d.ia AS id, d.d2 AS mind
           FROM d JOIN s0 ON d.ib = s0.id WHERE d.ia <> s0.id),
    s1 AS (SELECT id, mind FROM m0 ORDER BY mind DESC, id ASC LIMIT 1),
    m1 AS (SELECT m0.id, least(m0.mind, d.d2) AS mind
           FROM m0 JOIN s1 ON m0.id <> s1.id
           JOIN d ON d.ia = m0.id AND d.ib = s1.id),
    s2 AS (SELECT id, mind FROM m1 ORDER BY mind DESC, id ASC LIMIT 1),
    m2 AS (SELECT m1.id, least(m1.mind, d.d2) AS mind
           FROM m1 JOIN s2 ON m1.id <> s2.id
           JOIN d ON d.ia = m1.id AND d.ib = s2.id),
    s3 AS (SELECT id, mind FROM m2 ORDER BY mind DESC, id ASC LIMIT 1),
    m3 AS (SELECT m2.id, least(m2.mind, d.d2) AS mind
           FROM m2 JOIN s3 ON m2.id <> s3.id
           JOIN d ON d.ia = m2.id AND d.ib = s3.id),
    s4 AS (SELECT id, mind FROM m3 ORDER BY mind DESC, id ASC LIMIT 1)
    SELECT id, CAST(0 AS BIGINT) AS sel_order,
           CAST(NULL AS BIGINT) AS dist_sq FROM s0
    UNION ALL SELECT id, 1, mind FROM s1
    UNION ALL SELECT id, 2, mind FROM s2
    UNION ALL SELECT id, 3, mind FROM s3
    UNION ALL SELECT id, 4, mind FROM s4
    """,
)
def kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-center coreset gate (`dataprep.kcenter_select`): greedy
    farthest-point traversal (k=5) over 40 quantized embedding
    candidates. The oracle UNROLLS the greedy recurrence as relational
    argmax stages (the `mmr_diverse_topk` discipline) — a fully
    independent derivation of every pick and its max-min distance."""
    from logstash_spark.operators.dataprep import kcenter_select  # noqa: PLC0415

    emb = _t(spark, sf_dir, "embeddings").where(
        F.col("vec_id") < 40
    )
    return kcenter_select(emb, 5).select(
        F.col("vec_id").alias("id"), "sel_order", "dist_sq"
    )
