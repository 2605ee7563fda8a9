"""Correctness-gate queries for the training-data prep operators
(dedup / similarity search / text analysis / multimodal plumbing).

Every query has a DuckDB oracle that reproduces the SAME algorithm —
hashes are md5-derived (`portable_hash32`) specifically so both engines
agree bit-for-bit. Near-dup queries inject deterministic duplicates
(doc_id+100000 = first 2/3 of the original's words; vec_id+100000 =
identical vector) so the result sets are non-trivially non-empty.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from logstash_spark.operators import dataprep as D
from logstash_spark.queries import query


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _embs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _dup_corpus(docs: DataFrame) -> DataFrame:
    """documents ∪ near-duplicate variants (first 2/3 of words, id+100000)."""
    w = F.split(F.col("text"), " ")
    cut = F.greatest(F.floor(F.size(w) * 2 / 3).cast("int"), F.lit(1))
    variants = docs.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat_ws(" ", F.slice(w, 1, cut)).alias("text"),
        "lang",
        "source",
    )
    return docs.select("doc_id", "text", "lang", "source").unionByName(variants)


_DUP_CORPUS_SQL = """
  SELECT doc_id, text, lang, source FROM documents
  UNION ALL
  SELECT doc_id + 100000,
         array_to_string(w[1:greatest(2*len(w)//3, 1)], ' ') AS text,
         lang, source
  FROM (SELECT doc_id, string_split(text, ' ') AS w, lang, source FROM documents)
"""

# md5-derived 32-bit hash, identical on both engines
_H32 = "CAST('0x' || substr(md5({x}), 1, 8) AS BIGINT)"

_SHINGLES_SQL = f"""
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(w) - 1, 1)),
           i -> {_H32.format(x="w[i] || ' ' || w[i+1] || ' ' || w[i+2]")}
         )) AS sh
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM corpus)
  WHERE len(w) >= 3
"""

# shingles with the whole-text single-shingle fallback for docs < 3 words
# (shingle_sig_table short_doc='whole_text')
_SHINGLES_FALLBACK_SQL = f"""
  SELECT doc_id,
         CASE WHEN len(w) >= 3
              THEN list_distinct(list_transform(
                     range(1, len(w) - 1),
                     i -> {_H32.format(x="w[i] || ' ' || w[i+1] || ' ' || w[i+2]")}))
              ELSE [{_H32.format(x="text")}] END AS sh
  FROM (SELECT doc_id, text, string_split(text, ' ') AS w FROM corpus)
"""

_MINHASH_FNS = [(2, 1), (3, 3), (5, 7), (7, 13), (11, 19), (13, 29), (17, 37), (19, 43)]
_SIG_SQL = ", ".join(
    f"list_min(list_transform(sh, h -> ({a}*h + {b}) % 4294967311))" for a, b in _MINHASH_FNS
)


@query(
    "dedupe_minhash_lsh",
    f"""
    WITH corpus AS ({_DUP_CORPUS_SQL}),
    sh AS ({_SHINGLES_FALLBACK_SQL}),
    sig AS (SELECT doc_id, sh, [{_SIG_SQL}] AS sig FROM sh),
    banded AS (
      SELECT doc_id, sh, b.band,
             md5(CAST(sig[b.band*2 + 1] AS VARCHAR) || '_' ||
                 CAST(sig[b.band*2 + 2] AS VARCHAR)) AS key
      FROM sig, (SELECT unnest([0, 1, 2, 3]) AS band) b
    ),
    cand AS (
      SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b, l.sh AS sha, r.sh AS shb
      FROM banded l
      JOIN banded r ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id
    ),
    scored AS (
      SELECT doc_a, doc_b,
             round(CAST(len(list_filter(sha, x -> list_contains(shb, x))) AS DOUBLE)
                   / (len(sha) + len(shb)
                      - len(list_filter(sha, x -> list_contains(shb, x)))), 4) AS jaccard
      FROM cand
    )
    SELECT doc_a, doc_b, jaccard FROM scored WHERE jaccard >= 0.5
    """,
)
def dedupe_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(k=8) + LSH(4 bands x 2 rows) near-dup pairs, exact-Jaccard
    verified at >= 0.5, over documents + injected 2/3-prefix variants.
    Short docs (<3 words) fall back to a whole-text single shingle so
    exact short-doc duplicates are still caught."""
    corpus = _dup_corpus(_docs(spark, sf_dir))
    # max_bucket effectively disabled HERE: the oracle models the exact
    # all-pairs band join; the star guard's behavior is pinned by unit
    # tests + the degenerate bench, keeping this gate scale-robust.
    return D.minhash_lsh_pairs(
        corpus, "doc_id", "text", n=3, k=8, bands=4, threshold=0.5,
        short_doc="whole_text", max_bucket=10**9,
    )


@query(
    "simhash_bands",
    """
    WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
    h AS (SELECT doc_id, CAST('0x' || substr(md5(word), 1, 8) AS BIGINT) AS hv FROM w),
    n AS (SELECT doc_id, count(*) AS n FROM h GROUP BY doc_id),
    bits AS (
      SELECT doc_id, js.j,
             sum((hv // CAST(power(2, js.j) AS BIGINT)) % 2) AS cnt
      FROM h, (SELECT unnest(range(0, 32)) AS j) js
      GROUP BY doc_id, js.j
    ),
    fp AS (
      SELECT b.doc_id,
             CAST(sum(CASE WHEN 2*b.cnt > n.n
                           THEN CAST(power(2, b.j) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
      FROM bits b JOIN n ON b.doc_id = n.doc_id
      GROUP BY b.doc_id
    )
    SELECT doc_id, simhash,
           simhash % 256 AS band0,
           (simhash // 256) % 256 AS band1
    FROM fp
    """,
)
def simhash_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash fingerprint per document + two 8-bit LSH bands
    (equal-band join is the near-dup candidate generator at scale).
    Relational form: one codegen'd groupBy, ~12x the array-HOF path."""
    docs = _docs(spark, sf_dir)
    out = D.simhash_table(docs, "doc_id", "text")
    return out.select(
        "doc_id",
        "simhash",
        D.simhash_band(F.col("simhash"), 0).alias("band0"),
        D.simhash_band(F.col("simhash"), 1).alias("band1"),
    )


@query(
    "simhash_pairs",
    f"""
    WITH corpus AS ({_DUP_CORPUS_SQL}),
    w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM corpus),
    h AS (SELECT doc_id, CAST('0x' || substr(md5(word), 1, 8) AS BIGINT) AS hv FROM w),
    n AS (SELECT doc_id, count(*) AS n FROM h GROUP BY doc_id),
    bits AS (
      SELECT doc_id, js.j,
             sum((hv // CAST(power(2, js.j) AS BIGINT)) % 2) AS cnt
      FROM h, (SELECT unnest(range(0, 32)) AS j) js
      GROUP BY doc_id, js.j
    ),
    fp AS (
      SELECT b.doc_id,
             CAST(sum(CASE WHEN 2*b.cnt > n.n
                           THEN CAST(power(2, b.j) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
      FROM bits b JOIN n ON b.doc_id = n.doc_id
      GROUP BY b.doc_id
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
    FROM fp a JOIN fp b
      ON a.doc_id < b.doc_id
     AND (  (a.simhash % 256) = (b.simhash % 256)
         OR ((a.simhash // 256) % 256) = ((b.simhash // 256) % 256)
         OR ((a.simhash // 65536) % 256) = ((b.simhash // 65536) % 256)
         OR ((a.simhash // 16777216) % 256) = ((b.simhash // 16777216) % 256))
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
)
def simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup PAIRS: banded candidate join + exact Hamming
    verify (bit_count(xor) ≤ 3). The gate disables the hot-bucket star
    guard (max_bucket > corpus size) so the all-pairs DuckDB oracle stays
    valid — the guard itself is pinned by unit tests and the degenerate
    bench, exactly like the minhash gate."""
    corpus = _dup_corpus(_docs(spark, sf_dir))
    return D.simhash_pairs(
        corpus, "doc_id", "text", bands=4, max_hamming=3, max_bucket=10_000_000
    )


@query(
    "embed_dup_quantized",
    """
    WITH corpus AS (
      SELECT vec_id, embedding FROM embeddings
      UNION ALL
      SELECT vec_id + 100000, embedding FROM embeddings
    ),
    keyed AS (
      SELECT vec_id,
             md5(array_to_string(list_transform(
               embedding, x -> CAST(round(CAST(x AS DOUBLE) * 100, 0) AS BIGINT)), '_')) AS qkey
      FROM corpus
    )
    SELECT qkey, CAST(min(vec_id) AS BIGINT) AS keep_id, CAST(count(*) AS BIGINT) AS copies
    FROM keyed GROUP BY qkey HAVING count(*) > 1
    """,
)
def embed_dup_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup via quantized-vector hashing: round each
    component to 2 decimals, hash, group. One shuffle on the hash key —
    the O(N) dedup path for exact/near-exact embedding copies."""
    em = _embs(spark, sf_dir)
    corpus = em.select("vec_id", "embedding").unionByName(
        em.select((F.col("vec_id") + 100000).alias("vec_id"), "embedding")
    )
    qkey = F.md5(
        F.concat_ws(
            "_",
            F.transform(
                F.col("embedding"),
                lambda x: F.round(x.cast("double") * 100, 0).cast("long"),
            ),
        )
    )
    return (
        corpus.select("vec_id", qkey.alias("qkey"))
        .groupBy("qkey")
        .agg(F.min("vec_id").alias("keep_id"), F.count("*").alias("copies"))
        .where(F.col("copies") > 1)
    )


_DOT_SQL = (
    "list_reduce(list_prepend(0.0, list_transform(list_zip({a}, {b}), "
    "z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE))), (p, q) -> p + q)"
)


def _cos_sql(a: str, b: str) -> str:
    return (
        f"{_DOT_SQL.format(a=a, b=b)} / "
        f"(sqrt({_DOT_SQL.format(a=a, b=a)}) * sqrt({_DOT_SQL.format(a=b, b=b)}))"
    )


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
    em = _embs(spark, sf_dir)
    return D.ann_topk_bruteforce(em, em.where(F.col("vec_id") < 5), k=5)


_PLANE_TERMS = (
    "list_reduce(list_prepend(0.0, list_transform(list_zip({v}, range(1, len({v}) + 1)), "
    "z -> CAST(z[1] AS DOUBLE) * ((({p}*31 + z[2]*17) % 7) - 3))), (p, q) -> p + q)"
)


def _bucket_sql(v: str, n_planes: int = 6, offset: int = 0) -> str:
    bits = " + ".join(
        f"(CASE WHEN {_PLANE_TERMS.format(v=v, p=p + offset)} > 0 THEN {1 << p} ELSE 0 END)"
        for p in range(n_planes)
    )
    return f"({bits})"


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
    em = _embs(spark, sf_dir)
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
    em = _embs(spark, sf_dir)
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
    em = _embs(spark, sf_dir)
    return D.ann_ivf(
        em, em, em.where(F.col("vec_id") < 8), k=3, nprobe=1,
        broadcast_queries=False,
    )


_STOPS_SQL = "['the', 'a', 'and', 'of', 'to', 'in', 'is', 'it']"


@query(
    "text_quality",
    f"""
    WITH base AS (
      SELECT doc_id, text, string_split(text, ' ') AS w, length(text) AS n_chars
      FROM documents
    ),
    feat AS (
      SELECT doc_id,
             len(w) AS n_words0,
             round(CAST(n_chars - (len(w) - 1) AS DOUBLE) / len(w), 4) AS avg_word_len,
             round(CAST(len(list_filter(w, x -> list_contains({_STOPS_SQL}, x))) AS DOUBLE)
                   / len(w), 4) AS stop_ratio,
             round(CAST(length(regexp_replace(text, '[\\w\\s]', '', 'g')) AS DOUBLE)
                   / n_chars, 4) AS punct_ratio
      FROM base
    )
    SELECT doc_id,
           CAST(n_words0 AS INTEGER) AS n_words,
           avg_word_len, stop_ratio, punct_ratio,
           round(least(1.0, CAST(n_words0 AS DOUBLE) / 64) * (1 - punct_ratio)
                 * (CASE WHEN stop_ratio BETWEEN 0.01 AND 0.6 THEN 1.0 ELSE 0.5 END),
                 4) AS quality
    FROM feat
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality features: length/stopword/punctuation ratios +
    composite score. Pure column expressions — no shuffle at all."""
    docs = _docs(spark, sf_dir)
    feats = D.quality_features(F.col("text"))
    return docs.select("doc_id", *[c.alias(n) for n, c in feats.items()])


@query(
    "text_langid_fingerprint",
    f"""
    WITH base AS (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents),
    scores AS (
      SELECT doc_id, text, w,
        len(list_filter(list_distinct(w), x -> list_contains(['the','a','and','of'], x))) AS s_en,
        len(list_filter(list_distinct(w), x -> list_contains(['table','row','column','query'], x))) AS s_db,
        len(list_filter(list_distinct(w), x -> list_contains(['batch','stream','merge','scan'], x))) AS s_ops
      FROM base
    )
    SELECT doc_id,
      CASE WHEN greatest(s_en, s_db, s_ops) = 0
                OR (CAST(s_en = greatest(s_en, s_db, s_ops) AS INTEGER)
                    + CAST(s_db = greatest(s_en, s_db, s_ops) AS INTEGER)
                    + CAST(s_ops = greatest(s_en, s_db, s_ops) AS INTEGER)) != 1
           THEN 'und'
           WHEN s_en = greatest(s_en, s_db, s_ops) THEN 'en'
           WHEN s_db = greatest(s_en, s_db, s_ops) THEN 'db'
           ELSE 'ops' END AS lang_pred,
      CAST(len(w) AS INTEGER) AS ws_tokens,
      CAST(len(regexp_extract_all(text, '\\w+|[^\\w\\s]')) AS INTEGER) AS re_tokens,
      list_reduce(
        list_prepend(CAST(0 AS BIGINT),
                     list_transform(w, x -> {_H32.format(x='x')})),
        (acc, h) -> (acc * 31 + h) % 1000000007) AS fingerprint
    FROM scores
    """,
)
def text_langid_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language id + token counts + order-sensitive rolling
    document fingerprint (polynomial hash mod P)."""
    docs = _docs(spark, sf_dir)
    toks = D.token_counts(F.col("text"))
    return docs.select(
        "doc_id",
        D.lang_id(F.col("text")).alias("lang_pred"),
        toks["ws_tokens"].alias("ws_tokens"),
        toks["re_tokens"].cast("int").alias("re_tokens"),
        D.rolling_fingerprint(F.col("text")).alias("fingerprint"),
    )


@query(
    "multimodal_meta",
    """
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
           CAST(octet_length(encode(text)) % 640 AS INTEGER) AS width,
           CAST((octet_length(encode(text)) * 7) % 480 AS INTEGER) AS height,
           CAST(octet_length(encode(text)) % 16 AS INTEGER) AS n_frames
    FROM documents
    """,
)
def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload plumbing: text → binary column → Arrow-batched
    mapInPandas 'decode' (stubbed deterministic fake; real impl would call
    PIL/ffmpeg per batch). Exercises binary schema + batch iteration."""
    docs = _docs(spark, sf_dir).withColumn("payload", F.encode(F.col("text"), "utf-8"))
    return D.binary_meta_decode(docs, "payload")


# ---------------------------------------------------------------------------
# Training-sequence assembly (tokens synthesized deterministically from
# doc_id so DuckDB derives the identical arrays)
# ---------------------------------------------------------------------------

_TOK_N = "(doc_id % 37) + 3"
_TOK_SQL = (
    f"list_transform(range(0, {_TOK_N}), "
    "i -> CAST((doc_id * 7 + i * 13) % 50000 AS INTEGER))"
)


def _tok_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    n = (F.col("doc_id") % 37 + 3).cast("int")
    toks = F.transform(
        F.sequence(F.lit(0), n - 1),
        lambda i: ((F.col("doc_id") * 7 + i * 13) % 50000).cast("int"),
    )
    return d.select("doc_id", "source", n.alias("n_tok"), toks.alias("tokens"))


@query(
    "token_chunking",
    f"""
    WITH docs AS (
      SELECT doc_id, {_TOK_N} AS n, {_TOK_SQL} AS t FROM documents
    ),
    chunks AS (
      SELECT doc_id, CAST(c.c AS INTEGER) AS chunk_id,
             t[CAST(c.c * 8 + 1 AS BIGINT) : CAST(least(c.c * 8 + 16, n) AS BIGINT)] AS tokens
      FROM docs, LATERAL (SELECT unnest(range(0, (n - 1) // 8 + 1)) AS c) c
    )
    SELECT doc_id, chunk_id,
           md5(array_to_string(tokens, ',')) AS tokens_md5,
           tokens[1] AS tok_first,
           tokens[len(tokens)] AS tok_last,
           CAST(len(tokens) AS INTEGER) AS n_tok
    FROM chunks WHERE len(tokens) > 0
    """,
)
def token_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc sliding-window token chunking (seq_len=16, stride=8) —
    zero-shuffle sequence+slice, 1->N via one explode.

    The driver's canonicalizer cannot sort raw array columns (pandas
    sort_values on lists throws), so the gate emits md5-canonicalized
    token payloads plus first/last probes; the operator itself still
    returns the raw arrays (covered by the local parity test)."""
    out = D.chunk_tokens(_tok_docs(spark, sf_dir), seq_len=16, stride=8)
    return out.select(
        "doc_id",
        "chunk_id",
        F.md5(F.concat_ws(",", F.col("tokens").cast("array<string>"))).alias("tokens_md5"),
        F.element_at("tokens", 1).alias("tok_first"),
        F.element_at("tokens", -1).alias("tok_last"),
        "n_tok",
    )


@query(
    "sequence_packing",
    f"""
    WITH docs AS (
      SELECT doc_id, source, {_TOK_N} AS n, {_TOK_SQL} AS t FROM documents
    ),
    offs AS (
      SELECT *, CAST(sum(n) OVER (PARTITION BY source ORDER BY doc_id) - n AS BIGINT) AS off
      FROM docs
    ),
    pieces AS (
      SELECT source, cs.seq_id, off,
             t[CAST(greatest(cs.seq_id * 64 - off, 0) + 1 AS BIGINT) :
               CAST(least((cs.seq_id + 1) * 64, off + n) - off AS BIGINT)] AS piece
      FROM offs,
           LATERAL (SELECT unnest(range(off // 64, (off + n - 1) // 64 + 1)) AS seq_id) cs
    )
    SELECT source, seq_id,
           md5(array_to_string(flatten(list(piece ORDER BY off)), ',')) AS tokens_md5,
           flatten(list(piece ORDER BY off))[1] AS tok_first,
           CAST(len(flatten(list(piece ORDER BY off))) AS INTEGER) AS n_tok
    FROM pieces GROUP BY source, seq_id
    """,
)
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk LLM sequence packing: per-source token streams in
    doc_id order cut every 64 tokens, docs straddling boundaries. No
    per-token rows — docs explode only to the chunks they overlap.

    Gate emits md5-canonicalized token payloads (driver canonicalizer
    can't sort raw arrays); the operator returns raw arrays and the local
    parity test covers them element-exact."""
    out = D.pack_concat_chunks(
        _tok_docs(spark, sf_dir), group_col="source", seq_len=64
    )
    return out.select(
        "source",
        "seq_id",
        F.md5(F.concat_ws(",", F.col("tokens").cast("array<string>"))).alias("tokens_md5"),
        F.element_at("tokens", 1).alias("tok_first"),
        "n_tok",
    )


@query(
    "embed_dup_cosine",
    f"""
    WITH corpus AS (
      SELECT vec_id, embedding FROM embeddings
      UNION ALL
      SELECT vec_id + 100000, embedding FROM embeddings
    ),
    banded AS (
      SELECT vec_id, embedding, 0 AS tbl,
             {_bucket_sql('embedding', 6, 0)} AS key FROM corpus
      UNION ALL
      SELECT vec_id, embedding, 1 AS tbl,
             {_bucket_sql('embedding', 6, 6)} AS key FROM corpus
    ),
    cand AS (
      SELECT DISTINCT l.vec_id AS doc_a, r.vec_id AS doc_b,
             l.embedding AS va, r.embedding AS vb
      FROM banded l
      JOIN banded r ON l.tbl = r.tbl AND l.key = r.key AND l.vec_id < r.vec_id
    ),
    scored AS (
      SELECT doc_a, doc_b, round({_cos_sql('va', 'vb')}, 6) AS cos FROM cand
    )
    SELECT doc_a, doc_b, cos FROM scored WHERE cos >= 0.9
    """,
)
def embed_dup_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs: 2 hyperplane-LSH hash tables
    (6 sign bits each, deterministic planes) generate candidates, exact
    cosine >= 0.9 verifies, over embeddings + injected identical-vector
    copies (vec_id+100000). Star guard disabled HERE so the all-pairs
    band-join oracle stays valid; the guard itself is pinned by unit
    tests (same pattern as the minhash/simhash gates)."""
    em = _embs(spark, sf_dir)
    corpus = em.select("vec_id", "embedding").unionByName(
        em.select((F.col("vec_id") + 100000).alias("vec_id"), "embedding")
    )
    return D.embedding_dup_pairs(
        corpus, n_planes=6, tables=2, threshold=0.9, max_bucket=10**9
    )


_TOKEN_BUDGET = 1000


@query(
    "token_budget_mix",
    f"""
    WITH base AS (
      SELECT source, doc_id, text, string_split(text, ' ') AS w,
             length(text) AS n_chars
      FROM documents
    ),
    feat AS (
      SELECT source, doc_id,
             round(least(1.0, CAST(len(w) AS DOUBLE) / 64)
               * (1 - round(CAST(length(regexp_replace(text, '[\\w\\s]', '', 'g'))
                                 AS DOUBLE) / n_chars, 4))
               * (CASE WHEN round(CAST(len(list_filter(w, x ->
                            list_contains({_STOPS_SQL}, x))) AS DOUBLE) / len(w), 4)
                            BETWEEN 0.01 AND 0.6 THEN 1.0 ELSE 0.5 END),
               4) AS quality,
             CAST(len(regexp_extract_all(text, '\\w+|[^\\w\\s]')) AS INTEGER) AS n_tok
      FROM base
    ),
    cum AS (
      SELECT source AS "group", doc_id, quality, n_tok,
             CAST(sum(n_tok) OVER (PARTITION BY source
                                   ORDER BY quality DESC, doc_id
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tok
      FROM feat
    )
    SELECT "group", doc_id, quality, n_tok, cum_tok
    FROM cum WHERE cum_tok <= {_TOKEN_BUDGET}
    """,
)
def token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data mix: per-source token-budgeted quality sampling —
    keep the highest-quality docs per source until the stratum's token
    budget is spent (deterministic quality-desc/doc_id order, window
    cumsum). The two-pass histogram-prefilter plan for giant strata is
    pinned equivalent by a unit test."""
    return D.token_budget_mix(
        _docs(spark, sf_dir), budget=_TOKEN_BUDGET, group_col="source"
    )


@query(
    "ngram_jaccard_inverted",
    f"""
    WITH corpus AS ({_DUP_CORPUS_SQL}),
    sh AS ({_SHINGLES_SQL}),
    post AS (SELECT doc_id, len(sh) AS sz, unnest(sh) AS g FROM sh),
    dfreq AS (SELECT g, count(*) AS dfc FROM post GROUP BY g),
    common AS (
      SELECT p.doc_id, p.sz, p.g FROM post p JOIN dfreq USING (g)
      WHERE dfc <= 8
    ),
    cand AS (
      SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
      FROM common l JOIN common r ON l.g = r.g AND l.doc_id < r.doc_id
      WHERE CAST(least(l.sz, r.sz) AS DOUBLE) / greatest(l.sz, r.sz) >= 0.5
    ),
    scored AS (
      SELECT doc_a, doc_b,
             round(CAST(len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS DOUBLE)
                   / (len(a.sh) + len(b.sh)
                      - len(list_filter(a.sh, x -> list_contains(b.sh, x)))), 4)
               AS jaccard
      FROM cand JOIN sh a ON cand.doc_a = a.doc_id
                JOIN sh b ON cand.doc_b = b.doc_id
    )
    SELECT doc_a, doc_b, jaccard FROM scored WHERE jaccard >= 0.5
    """,
)
def ngram_jaccard_inverted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard pairs via the inverted-index path
    (`dataprep.ngram_jaccard_pairs`): postings self-join on the gram
    key with a df ≤ 8 hot-gram cut and a size-ratio prune, exact
    Jaccard ≥ 0.5 verify — the sub-quadratic replacement for the
    per-block all-pairs fallback. The df-cut threshold is LOW here on
    purpose so the gate exercises the cut (both engines mirror it)."""
    corpus = _dup_corpus(_docs(spark, sf_dir))
    corpus = corpus.where(F.size(F.split(F.col("text"), " ")) >= 3)
    return D.ngram_jaccard_pairs(
        corpus, "doc_id", "text", n=3, threshold=0.5, max_df=8
    )


_GRAM5_SQL = f"""
  SELECT doc_id,
         CASE WHEN len(w) >= 5
              THEN list_distinct(list_transform(
                     range(1, len(w) - 3),
                     i -> {_H32.format(x="w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]")}))
              ELSE [] END AS sh
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM {{src}})
"""


@query(
    "decontaminate_flags",
    f"""
    WITH corpus AS ({_DUP_CORPUS_SQL}),
    bench AS (SELECT doc_id, text FROM documents WHERE doc_id % 97 = 0),
    bg AS (
      SELECT list(DISTINCT g) AS gl
      FROM (SELECT unnest(sh) AS g FROM ({_GRAM5_SQL.format(src='bench')}))
    ),
    doc_sh AS ({_GRAM5_SQL.format(src='corpus')})
    SELECT d.doc_id,
           CAST(len(list_filter(d.sh, x -> list_contains(bg.gl, x))) AS INT)
             AS n_hits,
           len(list_filter(d.sh, x -> list_contains(bg.gl, x))) > 0
             AS contaminated
    FROM doc_sh d, bg
    """,
)
def decontaminate_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (`dataprep.decontaminate`): every doc
    in the
    dup corpus sharing any word 5-gram with the benchmark slice
    (doc_id % 97 = 0, a stand-in eval set) is flagged — the injected
    2/3-prefix variants of benchmark docs are caught as non-identical
    contamination, with its distinct contaminating-gram
    count. Benchmark grams broadcast; the corpus never shuffles."""
    docs = _docs(spark, sf_dir)
    corpus = _dup_corpus(docs)
    bench = docs.where(F.col("doc_id") % 97 == 0)
    out = D.decontaminate(corpus, bench, n=5, mode="flag")
    return out.select(
        "doc_id", F.col("n_hits").cast("int").alias("n_hits"), "contaminated"
    )


def _variant23(df: DataFrame, delta: int = 100000) -> DataFrame:
    """doc_id+delta with the first 2/3 of the words (min 1)."""
    w = F.split(F.col("text"), " ")
    cut = F.greatest(F.floor(F.size(w) * 2 / 3).cast("int"), F.lit(1))
    return df.select(
        (F.col("doc_id") + delta).alias("doc_id"),
        F.concat_ws(" ", F.slice(w, 1, cut)).alias("text"),
    )


# v0 = originals, v1 = 2/3 prefix, v2 = 2/3 of v1 — a near-dup CHAIN:
# J(v0,v1) ≈ J(v1,v2) ≈ 2/3 ≥ 0.5 but J(v0,v2) ≈ 4/9 < 0.5, so the
# component {v0, v1, v2} only assembles transitively.
_CHAIN_SQL_PARTS = """
    v0 AS (SELECT doc_id, text FROM documents),
    v1 AS (SELECT doc_id + 100000 AS doc_id,
                  array_to_string(w[1:greatest(2*len(w)//3, 1)], ' ') AS text
           FROM (SELECT doc_id, string_split(text, ' ') AS w FROM v0)),
    v2 AS (SELECT doc_id + 100000 AS doc_id,
                  array_to_string(w[1:greatest(2*len(w)//3, 1)], ' ') AS text
           FROM (SELECT doc_id, string_split(text, ' ') AS w FROM v1)),
    corpus AS (SELECT * FROM v0 UNION ALL SELECT * FROM v1
               UNION ALL SELECT * FROM v2)
"""


@query(
    "dedupe_cluster_canonical",
    f"""
    WITH RECURSIVE
    {_CHAIN_SQL_PARTS},
    sh AS ({_SHINGLES_SQL}),
    post AS (SELECT doc_id, len(sh) AS sz, unnest(sh) AS g FROM sh),
    dfreq AS (SELECT g, count(*) AS dfc FROM post GROUP BY g),
    common AS (
      SELECT p.doc_id, p.sz, p.g FROM post p JOIN dfreq USING (g)
      WHERE dfc <= 8
    ),
    cand AS (
      SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
      FROM common l JOIN common r ON l.g = r.g AND l.doc_id < r.doc_id
      WHERE CAST(least(l.sz, r.sz) AS DOUBLE) / greatest(l.sz, r.sz) >= 0.5
    ),
    pairs AS (
      SELECT doc_a, doc_b FROM (
        SELECT doc_a, doc_b,
               round(CAST(len(list_filter(a.sh, x -> list_contains(b.sh, x)))
                          AS DOUBLE)
                     / (len(a.sh) + len(b.sh)
                        - len(list_filter(a.sh, x -> list_contains(b.sh, x)))),
                     4) AS j
        FROM cand JOIN sh a ON cand.doc_a = a.doc_id
                  JOIN sh b ON cand.doc_b = b.doc_id
      ) WHERE j >= 0.5
    ),
    sym AS (SELECT doc_a AS u, doc_b AS v FROM pairs
            UNION SELECT doc_b, doc_a FROM pairs),
    reach(u, v) AS (
      SELECT u, v FROM sym
      UNION
      SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u WHERE s.v <> r.u
    ),
    comp AS (SELECT u, least(u, min(v)) AS component FROM reach GROUP BY u)
    SELECT c.doc_id,
           coalesce(comp.component, c.doc_id) AS cluster_id,
           coalesce(comp.component, c.doc_id) = c.doc_id AS is_canonical
    FROM corpus c LEFT JOIN comp ON c.doc_id = comp.u
    """,
)
def dedupe_cluster_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs → clusters → one survivor: exact-Jaccard near-dup pairs over
    a three-level prefix CHAIN (v0~v1, v1~v2, but NOT v0~v2) are merged
    by `dataprep.connected_components` (alternating large-star /
    small-star, Kiveris et al. SoCC 2014) and
    `dataprep.dedupe_cluster_canonical` keeps the min-id doc per
    cluster — the transitive-collapse step pair-emitting dedup gates
    can't test. Oracle: DuckDB recursive-CTE transitive closure."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    v1 = _variant23(docs)
    corpus = docs.unionByName(v1).unionByName(_variant23(v1))
    eligible = corpus.where(F.size(F.split(F.col("text"), " ")) >= 3)
    pairs = D.ngram_jaccard_pairs(
        eligible, "doc_id", "text", n=3, threshold=0.5, max_df=8
    )
    out = D.dedupe_cluster_canonical(corpus, pairs)
    return out.select("doc_id", "cluster_id", "is_canonical")


# Inject deterministic PII per doc (both engines build the identical text),
# then mirror redact_pii's sequential count-then-replace order.
_PII_TEXT_SQL = """
      SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@example.com or 10.' || CAST(doc_id % 256 AS VARCHAR)
                  || '.0.' || CAST(doc_id % 100 AS VARCHAR)
                  || ' ssn 123-45-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                  || ' card 4111 1111 1111 1111 tel +1 555 010 '
                  || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t
      FROM documents
"""

_PII_STEPS = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("cc", r"\b\d{4}[- ]\d{4}[- ]\d{4}[- ]\d{4}\b", "<CC>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone", r"\+\d{1,2}[ -]\d{3}[ -]\d{3}[ -]\d{4}\b", "<PHONE>"),
]


def _pii_oracle_sql() -> str:
    steps, prev = [], "t"
    for i, (k, pat, rep) in enumerate(_PII_STEPS):
        src = "base" if i == 0 else f"s{i - 1}"
        # DuckDB single-quoted literals keep backslashes verbatim — the
        # regex crosses as-is (only quotes would need doubling)
        pat_sql = pat.replace("'", "''")
        steps.append(
            f"s{i} AS (SELECT doc_id, "
            f"CAST(len(regexp_extract_all({prev}, '{pat_sql}')) AS INT) AS n_{k}, "
            f"regexp_replace({prev}, '{pat_sql}', '{rep}', 'g') AS r{i}"
            + (
                ""
                if i == 0
                else ", " + ", ".join(f"n_{kk}" for kk, _, _ in _PII_STEPS[:i])
            )
            + f" FROM {src})"
        )
        prev = f"r{i}"
    cols = ", ".join(f"n_{k}" for k, _, _ in _PII_STEPS)
    last = f"s{len(_PII_STEPS) - 1}"
    return (
        f"WITH base AS ({_PII_TEXT_SQL}),\n"
        + ",\n".join(steps)
        + f"\nSELECT doc_id, {cols}, md5({prev}) AS redacted_md5 FROM {last}"
    )


@query("pii_redaction", _pii_oracle_sql())
def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing gate (`dataprep.redact_pii`): deterministic emails /
    credit cards / SSNs / IPv4s / phone numbers are appended to every
    document, then redacted to typed placeholders in the op's fixed
    sequential order; per-kind pre-replacement counts and the md5 of
    the fully-redacted text must match DuckDB replaying the identical
    Java∩RE2 patterns."""
    docs = _docs(spark, sf_dir)
    t = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or 10."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".0."),
        (F.col("doc_id") % 100).cast("string"),
        F.lit(" ssn 123-45-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" card 4111 1111 1111 1111 tel +1 555 010 "),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    r = D.redact_pii(t)
    return docs.select(
        "doc_id",
        *[v.cast("int").alias(k) for k, v in r.items() if k != "redacted"],
        F.md5(r["redacted"]).alias("redacted_md5"),
    )


@query(
    "paragraph_dedup",
    """
    WITH pdoc AS (
      SELECT doc_id,
             CASE WHEN h2 = '' THEN h1 || ' |  | ' || h1
                  ELSE h1 || ' | ' || h2 || ' | ' || h1 END AS t
      FROM (
        SELECT doc_id,
               array_to_string(w[1:(len(w)+1)//2], ' ') AS h1,
               array_to_string(w[(len(w)+1)//2+1:len(w)], ' ') AS h2
        FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
      )
    ),
    split_p AS (SELECT doc_id, t, string_split(t, ' | ') AS paras FROM pdoc),
    dedup AS (
      SELECT doc_id,
             CAST(len(paras) AS INT) AS n_before,
             list_filter(paras, (x, i) -> list_position(paras, x) = i) AS kept
      FROM split_p
    )
    SELECT doc_id, n_before, CAST(len(kept) AS INT) AS n_after,
           md5(array_to_string(kept, ' | ')) AS dedup_md5
    FROM dedup
    """,
)
def paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-doc paragraph dedup gate (`dataprep.dedup_paragraphs`):
    each document is rebuilt as [first-half | second-half | first-half]
    so every doc carries one repeated paragraph; the op must drop the
    repeat while preserving order (first-occurrence index filter, zero
    shuffle). Counts + md5 of the rejoined text must match DuckDB's
    list_position replay."""
    docs = _docs(spark, sf_dir)
    w = F.split(F.col("text"), " ")
    cut = F.floor((F.size(w) + 1) / 2).cast("int")
    h1 = F.concat_ws(" ", F.slice(w, 1, cut))
    h2 = F.when(
        F.size(w) > cut, F.concat_ws(" ", F.slice(w, cut + 1, F.size(w) - cut))
    ).otherwise(F.lit(""))
    pdoc = F.concat_ws(" | ", h1, h2, h1)
    paras = F.split(pdoc, r" \| ")
    dedup = D.dedup_paragraphs(pdoc, sep=" | ")
    return docs.select(
        "doc_id",
        F.size(paras).cast("int").alias("n_before"),
        F.size(F.split(dedup, r" \| ")).cast("int").alias("n_after"),
        F.md5(dedup).alias("dedup_md5"),
    )


@query(
    "repetition_quality",
    """
    WITH w AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS g FROM documents
    ),
    b AS (
      SELECT doc_id, w[i] || ' ' || w[i+1] AS g
      FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
           unnest(range(1, greatest(len(w), 1))) AS t(i)
    ),
    wc AS (SELECT doc_id, g, count(*) c FROM w GROUP BY 1, 2),
    bc AS (SELECT doc_id, g, count(*) c FROM b GROUP BY 1, 2),
    wk AS (
      SELECT doc_id, CAST(sum(c) AS INT) AS n_words,
             round(1 - CAST(count(*) AS DOUBLE) / sum(c), 4) AS word_rep_ratio,
             round(CAST(max(c) AS DOUBLE) / sum(c), 4) AS top_word_frac
      FROM wc GROUP BY doc_id
    ),
    bk AS (
      SELECT doc_id, round(CAST(max(c) AS DOUBLE) / sum(c), 4) AS top_bigram_frac
      FROM bc GROUP BY doc_id
    )
    SELECT wk.doc_id, n_words, word_rep_ratio, top_word_frac, top_bigram_frac
    FROM wk LEFT JOIN bk ON wk.doc_id = bk.doc_id
    """,
)
def repetition_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style intra-doc repetition metrics
    (`dataprep.repetition_metrics`): duplicate-word fraction, top-word
    share, top-bigram share per document — ONE keyed shuffle with
    map-side partial aggregation, no per-doc quadratic HOFs."""
    return D.repetition_metrics(_docs(spark, sf_dir))


# ---------------------------------------------------------------------------
# Token-level dedup / decontamination / vocab (tokens payload, round 3)
#
# Shared synthesis `_tok_docs2`: md5-mixed token ids (so windows are
# unique by default) with a PLANTED 10-token motif at positions [2, 12)
# of every doc_id % 5 == 0 doc — the cross-doc duplicated span the
# window dedup must find. Deterministic and reproduced exactly in the
# DuckDB oracles below.
# ---------------------------------------------------------------------------

_H32T = "CAST('0x' || substr(md5({x}), 1, 8) AS BIGINT)"
_TOK2_N = "(doc_id % 29) + 6"
_TOK2_SQL = (
    f"list_transform(range(0, {_TOK2_N}), i -> CAST("
    "CASE WHEN doc_id % 5 = 0 AND i >= 2 AND i < 12 THEN "
    + _H32T.format(x="CAST(777000 + i AS VARCHAR)")
    + " % 50000 ELSE "
    + _H32T.format(x="CAST(doc_id * 1000003 + i AS VARCHAR)")
    + " % 50000 END AS INTEGER))"
)
# Window-hash of the 8-token window of t starting at 0-based position {s}:
# identical arithmetic to dataprep.portable_hash32(concat_ws(',', slice)).
_WIN8_SQL = _H32T.format(x="array_to_string(t[CAST({s} + 1 AS BIGINT) : CAST({s} + 8 AS BIGINT)], ',')")

_TOK2_WIN_CTE = f"""
    docs AS (
      SELECT doc_id, CAST({_TOK2_N} AS INTEGER) AS n, {_TOK2_SQL} AS t
      FROM documents
    ),
    win AS (
      SELECT doc_id, CAST(s.s AS INTEGER) AS start,
             {_WIN8_SQL.format(s='s.s')} AS whash
      FROM docs, LATERAL (
        SELECT unnest(range(0, greatest(n - 8 + 1, 0))) AS s
      ) s
    )
"""


def _tok_docs2(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    n = (F.col("doc_id") % 29 + 6).cast("int")
    motif = (F.col("doc_id") % 5 == 0)

    def tokval(i):
        base = D.portable_hash32(F.col("doc_id") * 1000003 + i.cast("long")) % 50000
        mot = D.portable_hash32(F.lit(777000) + i.cast("long")) % 50000
        return F.when(motif & (i >= 2) & (i < 12), mot).otherwise(base).cast("int")

    toks = F.transform(F.sequence(F.lit(0), n - 1), tokval)
    return d.select("doc_id", "source", n.alias("n_tok"), toks.alias("tokens"))


@query(
    "token_window_dedup",
    f"""
    WITH {_TOK2_WIN_CTE},
    cnt AS (
      SELECT whash FROM win GROUP BY whash HAVING count(*) >= 2
    ),
    starts AS (
      SELECT w.doc_id, list(start ORDER BY start) AS ds
      FROM win w JOIN cnt USING (whash) GROUP BY w.doc_id
    ),
    scrub AS (
      SELECT d.doc_id, d.n, coalesce(s.ds, []) AS ds,
             list_transform(
               list_filter(range(0, CAST(d.n AS BIGINT)),
                           p -> len(list_filter(coalesce(s.ds, []),
                                                x -> x <= p AND p < x + 8)) = 0),
               p -> d.t[p + 1]) AS clean
      FROM docs d LEFT JOIN starts s USING (doc_id)
    )
    SELECT doc_id, CAST(n AS INTEGER) AS n_tok,
           CAST(len(ds) AS INTEGER) AS n_dup_windows,
           CAST(len(clean) AS INTEGER) AS n_tok_clean,
           md5(array_to_string(clean, ',')) AS tokens_clean_md5
    FROM scrub
    """,
)
def token_window_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr-style sub-document dedup (Lee et al. 2022 re-expressed
    relationally, `dataprep.scrub_duplicate_spans`): hash every 8-token
    window, ONE groupBy finds windows occurring twice corpus-wide, and
    every covered token is scrubbed. The planted cross-doc motif spans
    are removed; unique docs pass through untouched.

    Gate emits md5-canonicalized cleaned arrays (driver canonicalizer
    can't sort raw list columns)."""
    out = D.scrub_duplicate_spans(_tok_docs2(spark, sf_dir), window=8)
    return out.select(
        "doc_id",
        "n_tok",
        "n_dup_windows",
        "n_tok_clean",
        F.md5(
            F.concat_ws(",", F.col("tokens_clean").cast("array<string>"))
        ).alias("tokens_clean_md5"),
    )


@query(
    "token_decontam",
    f"""
    WITH {_TOK2_WIN_CTE},
    ehash AS (
      SELECT DISTINCT whash FROM win WHERE doc_id % 97 = 3
    ),
    hits AS (
      SELECT w.doc_id, count(*) AS c, min(start) AS fs
      FROM win w JOIN ehash USING (whash) GROUP BY w.doc_id
    )
    SELECT d.doc_id, coalesce(h.c, 0) > 0 AS contaminated,
           CAST(coalesce(h.c, 0) AS BIGINT) AS n_eval_hits,
           CAST(h.fs AS INTEGER) AS first_hit_start
    FROM docs d LEFT JOIN hits h USING (doc_id)
    """,
)
def token_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-level benchmark decontamination
    (`dataprep.token_decontaminate`): docs with doc_id % 97 == 3 act as
    the held-out eval set; any corpus doc sharing an 8-token window with
    them is flagged. Eval window hashes are distinct'd and BROADCAST —
    the corpus side never shuffles. Motif docs are contaminated through
    eval doc 100; eval docs flag themselves; everything else is clean."""
    docs = _tok_docs2(spark, sf_dir)
    out = D.token_decontaminate(docs, docs.where(F.col("doc_id") % 97 == 3), window=8)
    return out.select("doc_id", "contaminated", "n_eval_hits", "first_hit_start")


@query(
    "vocab_stats",
    f"""
    WITH docs AS (
      SELECT doc_id, CAST({_TOK2_N} AS INTEGER) AS n, {_TOK2_SQL} AS t
      FROM documents
    ),
    tok AS (SELECT doc_id, unnest(t) AS token FROM docs),
    agg AS (
      SELECT token, count(*) AS cnt, count(DISTINCT doc_id) AS n_docs
      FROM tok GROUP BY token
    ),
    tot AS (SELECT sum(n) AS total FROM docs),
    r AS (
      SELECT token, cnt, n_docs,
             row_number() OVER (ORDER BY cnt DESC, token ASC) AS rank
      FROM agg
    )
    SELECT token, cnt, n_docs, CAST(rank AS INTEGER) AS rank,
           CAST(sum(cnt) OVER (ORDER BY rank) * 1000000 // total AS BIGINT)
             AS cum_share_ppm
    FROM r, tot WHERE rank <= 40
    """,
)
def vocab_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary audit (`dataprep.vocab_stats`): top-40 token ids
    by count with document frequency and exact-integer cumulative
    coverage (ppm — integer `div` on both engines, no float rounding
    hazard). The motif tokens dominate the head (100 planted docs each);
    the md5-mixed tail is near-uniform."""
    return D.vocab_stats(_tok_docs2(spark, sf_dir), top_k=40)


# ---------------------------------------------------------------------------
# URL canonicalization + host-level hygiene (round-3 batch 2)
# ---------------------------------------------------------------------------

# Both engines rebuild the canonical URL; the oracle derives it from the
# synthesis recipe rather than re-running the parser regex, so the two
# derivations are independent.
_URL_SYN_SQL = """
    SELECT doc_id,
           CASE WHEN doc_id % 2 = 0 THEN 'HTTP' ELSE 'https' END
             || '://WWW.Shop' || CAST(doc_id % 40 AS VARCHAR)
             || CASE WHEN doc_id % 5 = 0 THEN '.Example.CO.UK' ELSE '.example.com' END
             || CASE WHEN doc_id % 4 = 0 THEN ':80'
                     WHEN doc_id % 4 = 1 THEN ':8080' ELSE '' END
             || CASE WHEN doc_id % 3 = 0 THEN '' ELSE '/p/' || CAST(doc_id AS VARCHAR) END
             || CASE WHEN doc_id % 2 = 0
                     THEN '?utm_source=feed&b=' || CAST(doc_id % 9 AS VARCHAR) || '&a=1'
                     ELSE '?fbclid=xyz' END
             || '#sec' || CAST(doc_id % 7 AS VARCHAR) AS url
    FROM documents
"""


def _url_corpus(docs: DataFrame) -> DataFrame:
    did = F.col("doc_id")
    url = F.concat(
        F.when(did % 2 == 0, F.lit("HTTP")).otherwise(F.lit("https")),
        F.lit("://WWW.Shop"), (did % 40).cast("string"),
        F.when(did % 5 == 0, F.lit(".Example.CO.UK")).otherwise(F.lit(".example.com")),
        F.when(did % 4 == 0, F.lit(":80"))
         .when(did % 4 == 1, F.lit(":8080")).otherwise(F.lit("")),
        F.when(did % 3 == 0, F.lit("")).otherwise(
            F.concat(F.lit("/p/"), did.cast("string"))
        ),
        F.when(did % 2 == 0, F.concat(
            F.lit("?utm_source=feed&b="), (did % 9).cast("string"), F.lit("&a=1"))
        ).otherwise(F.lit("?fbclid=xyz")),
        F.lit("#sec"), (did % 7).cast("string"),
    )
    return docs.select("doc_id", url.alias("url"))


@query(
    "url_normalize_canon",
    f"""
    WITH u AS ({_URL_SYN_SQL})
    SELECT doc_id, url,
           lower(CASE WHEN doc_id % 2 = 0 THEN 'HTTP' ELSE 'https' END)
             || '://www.shop' || CAST(doc_id % 40 AS VARCHAR)
             || CASE WHEN doc_id % 5 = 0 THEN '.example.co.uk' ELSE '.example.com' END
             -- :80 is stripped only because those rows are http; :8080 survives
             || CASE WHEN doc_id % 4 = 1 THEN ':8080' ELSE '' END
             || CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '/p/' || CAST(doc_id AS VARCHAR) END
             || CASE WHEN doc_id % 2 = 0
                     THEN '?a=1&b=' || CAST(doc_id % 9 AS VARCHAR) ELSE '' END AS url_norm
    FROM u
    """,
)
def url_normalize_canon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization (RefinedWeb/CCNet URL-filtering stage):
    lowercase scheme+host, strip default ports and fragments, drop
    utm_*/click-id params, sort survivors, empty path → '/'. Zero
    shuffle — one regexp + lambda chain per row."""
    u = _url_corpus(_docs(spark, sf_dir))
    return u.select(
        "doc_id", "url", D.url_normalize(F.col("url")).alias("url_norm")
    )


@query(
    "host_domain_stats",
    f"""
    WITH u AS ({_URL_SYN_SQL}),
    h AS (
        SELECT doc_id,
               'www.shop' || CAST(doc_id % 40 AS VARCHAR)
                 || CASE WHEN doc_id % 5 = 0 THEN '.example.co.uk'
                         ELSE '.example.com' END AS host,
               CASE WHEN doc_id % 5 = 0 THEN 'example.co.uk'
                    ELSE 'example.com' END AS domain
        FROM u
    )
    SELECT domain,
           COUNT(*) AS n_docs,
           COUNT(DISTINCT host) AS n_hosts
    FROM h
    WHERE domain <> 'example.co.uk'
    GROUP BY domain
    """,
)
def host_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host hygiene pass: blocklist anti-join (broadcast — the corpus
    never shuffles) then registered-domain census (ONE groupBy with
    map-side partials). The oracle computes domains from the synthesis
    recipe; Spark runs the generic public-suffix decomposition."""
    u = _url_corpus(_docs(spark, sf_dir))
    block = u.sparkSession.createDataFrame(
        [("example.co.uk",), ("spam.example.org",)], "domain string"
    )
    kept = D.host_blocklist_filter(u, block, url_col="url")
    return D.host_stats(kept, url_col="url")


@query(
    "bitext_mining",
    f"""
    WITH s AS (SELECT vec_id AS s_id, embedding AS s_vec
               FROM embeddings WHERE vec_id < 25),
    t AS (SELECT vec_id AS t_id, embedding AS t_vec
          FROM embeddings WHERE vec_id >= 25 AND vec_id < 325),
    sc AS (
      SELECT s_id, t_id,
             CAST(round((1 + {_cos_sql('s_vec', 't_vec')}) * 1000000, 0)
                  AS BIGINT) AS sim_u
      FROM s, t
    ),
    r AS (
      SELECT *,
        row_number() OVER (PARTITION BY s_id ORDER BY sim_u DESC, t_id) AS rf,
        row_number() OVER (PARTITION BY t_id ORDER BY sim_u DESC, s_id) AS rb
      FROM sc
    ),
    kk AS (
      SELECT *,
        CAST(SUM(CASE WHEN rf <= 4 THEN sim_u ELSE 0 END)
             OVER (PARTITION BY s_id) AS BIGINT) AS sk_s,
        CAST(SUM(CASE WHEN rf <= 4 THEN 1 ELSE 0 END)
             OVER (PARTITION BY s_id) AS BIGINT) AS k_s,
        CAST(SUM(CASE WHEN rb <= 4 THEN sim_u ELSE 0 END)
             OVER (PARTITION BY t_id) AS BIGINT) AS sk_t,
        CAST(SUM(CASE WHEN rb <= 4 THEN 1 ELSE 0 END)
             OVER (PARTITION BY t_id) AS BIGINT) AS k_t
      FROM r
    ),
    m AS (
      SELECT s_id, t_id, sim_u,
        CAST(CASE WHEN sk_s * k_t + sk_t * k_s > 0
             THEN sim_u * 2 * k_s * k_t * 1000000
                  // (sk_s * k_t + sk_t * k_s)
             ELSE 0 END AS BIGINT) AS margin_ppm
      FROM kk
    ),
    b AS (
      SELECT *,
        row_number() OVER (PARTITION BY s_id
                           ORDER BY margin_ppm DESC, t_id) AS mf,
        row_number() OVER (PARTITION BY t_id
                           ORDER BY margin_ppm DESC, s_id) AS mb
      FROM m
    )
    SELECT s_id, t_id, sim_u, margin_ppm,
           CAST(CASE WHEN mb = 1 THEN 1 ELSE 0 END AS INTEGER) AS mutual
    FROM b WHERE mf = 1 AND margin_ppm >= 1050000
    """,
)
def bitext_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-based bitext mining (Artetxe & Schwenk 2019 ratio margin,
    the LASER/CCMatrix recipe): probe set vec_id<25 mined against the
    25..325 corpus slice as the other "language"; forward-best pairs
    above margin 1.05 with the mutual (intersection-strategy) flag.
    Integer-grid similarities make every margin an exact int64 division
    replayed bit-for-bit by the oracle."""
    em = _embs(spark, sf_dir)
    src = em.where(F.col("vec_id") < 25)
    tgt = em.where((F.col("vec_id") >= 25) & (F.col("vec_id") < 325))
    return D.bitext_mine(
        src, tgt, k=4, margin_threshold_ppm=1_050_000, mutual=False
    )
