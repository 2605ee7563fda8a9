"""Correctness gates for exact and near-duplicate detection and benchmark
decontamination. Each `@query` pairs a Spark query over the driver test
tables with the DuckDB SQL that re-derives its result; `queries`
collects them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from logstash_spark.operators import dataprep as D
from logstash_spark.queries_common import (
    _DOT_SQL,
    _H32,
    _TOK2_N,
    _TOK2_SQL,
    _bucket_sql,
    _cos_sql,
    _t,
    _tok_docs2,
    query,
)


@query(
    "dedupe_exact",
    """
    SELECT CAST(min(doc_id) AS BIGINT) AS doc_id, CAST(count(*) AS BIGINT) AS copies
    FROM documents GROUP BY text
    """,
)
def dedupe_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: keep lowest doc_id per identical text."""
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy("text").agg(
        F.min("doc_id").alias("doc_id"), F.count("*").alias("copies")
    ).drop("text")


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
    corpus = _dup_corpus(_t(spark, sf_dir, "documents"))
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
    docs = _t(spark, sf_dir, "documents")
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
    corpus = _dup_corpus(_t(spark, sf_dir, "documents"))
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
    em = _t(spark, sf_dir, "embeddings")
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
    em = _t(spark, sf_dir, "embeddings")
    corpus = em.select("vec_id", "embedding").unionByName(
        em.select((F.col("vec_id") + 100000).alias("vec_id"), "embedding")
    )
    return D.embedding_dup_pairs(
        corpus, n_planes=6, tables=2, threshold=0.9, max_bucket=10**9
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
    corpus = _dup_corpus(_t(spark, sf_dir, "documents"))
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
    docs = _t(spark, sf_dir, "documents")
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
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    v1 = _variant23(docs)
    corpus = docs.unionByName(v1).unionByName(_variant23(v1))
    eligible = corpus.where(F.size(F.split(F.col("text"), " ")) >= 3)
    pairs = D.ngram_jaccard_pairs(
        eligible, "doc_id", "text", n=3, threshold=0.5, max_df=8
    )
    out = D.dedupe_cluster_canonical(corpus, pairs)
    return out.select("doc_id", "cluster_id", "is_canonical")


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
    docs = _t(spark, sf_dir, "documents")
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


# Window-hash of the 8-token window of t starting at 0-based position {s}:
# identical arithmetic to dataprep.portable_hash32(concat_ws(',', slice)).
_WIN8_SQL = _H32.format(x="array_to_string(t[CAST({s} + 1 AS BIGINT) : CAST({s} + 8 AS BIGINT)], ',')")

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


_SEM_THRESHOLD = 0.92


@query(
    "semantic_dedup_flags",
    f"""
    WITH corpus AS (
      SELECT vec_id, embedding FROM embeddings
      UNION ALL
      SELECT vec_id + 100000, embedding FROM embeddings
    ),
    cent AS (SELECT vec_id AS cent_id, embedding AS cent_vec
             FROM embeddings WHERE vec_id < 4),
    a AS (
      SELECT c.vec_id, c.embedding, t.cent_id,
             round({_cos_sql('c.embedding', 't.cent_vec')}, 6) AS ccos
      FROM corpus c, cent t
    ),
    asg AS (
      SELECT vec_id, embedding, cent_id AS cluster
      FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                         ORDER BY ccos DESC, cent_id) AS pr
            FROM a)
      WHERE pr = 1
    ),
    dup AS (
      SELECT DISTINCT r.vec_id
      FROM asg l JOIN asg r ON l.cluster = r.cluster AND l.vec_id < r.vec_id
      WHERE round({_cos_sql('l.embedding', 'r.embedding')}, 6) >= {_SEM_THRESHOLD}
    )
    SELECT g.vec_id, g.cluster, (d.vec_id IS NOT NULL) AS semantic_dup
    FROM asg g LEFT JOIN dup d USING (vec_id)
    """,
)
def semantic_dedup_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (`dataprep.semantic_dedup`, arXiv:2303.09540): coarse
    4-centroid clustering, within-cluster cosine >= 0.92 marks the
    larger id a semantic duplicate, over embeddings + injected
    identical-vector copies (vec_id+100000). Star guard disabled HERE
    (max_bucket=10^9) so the exact pairwise oracle stays valid; the
    guard is pinned by unit tests like the minhash/simhash gates."""
    em = _t(spark, sf_dir, "embeddings")
    corpus = em.select("vec_id", "embedding").unionByName(
        em.select((F.col("vec_id") + 100000).alias("vec_id"), "embedding")
    )
    cent = em.select("vec_id", "embedding").where(F.col("vec_id") < 4)
    out = D.semantic_dedup(
        corpus, cent, threshold=_SEM_THRESHOLD, max_bucket=10**9, mode="flag"
    )
    return out.select("vec_id", "cluster", "semantic_dup")


_BLOOM_M = 65536
_BLOOM_N_BENCH = 25

_POS3 = f"[(3*h + 7) % {_BLOOM_M}, (5*h + 11) % {_BLOOM_M}, (7*h + 17) % {_BLOOM_M}]"


@query(
    "bloom_decontam",
    f"""
    WITH bench AS (SELECT doc_id, text FROM documents
                   WHERE doc_id < {_BLOOM_N_BENCH}),
    bg AS (SELECT DISTINCT unnest(sh) AS h FROM ({_GRAM5_SQL.format(src='bench')})),
    pos AS (SELECT DISTINCT unnest({_POS3}) AS p FROM bg),
    bm AS (SELECT p // 32 AS wi, bit_or(1::BIGINT << (p % 32)) AS wv
           FROM pos GROUP BY 1),
    dg AS (SELECT doc_id, unnest(sh) AS h FROM ({_GRAM5_SQL.format(src='documents')})),
    gp AS (SELECT doc_id, h, unnest({_POS3}) AS p FROM dg),
    hitbits AS (
      SELECT doc_id, h, count(*) AS nb
      FROM gp JOIN bm ON bm.wi = p // 32
                     AND (bm.wv & (1::BIGINT << (p % 32))) != 0
      GROUP BY doc_id, h
    ),
    hits AS (SELECT doc_id, count(*) AS n FROM hitbits WHERE nb = 3
             GROUP BY doc_id)
    SELECT d.doc_id,
           coalesce(h.n, 0) > 0 AS might_contaminated,
           CAST(coalesce(h.n, 0) AS INT) AS n_bloom_hits
    FROM documents d LEFT JOIN hits h USING (doc_id)
    """,
)
def bloom_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter decontamination (`dataprep.build_gram_bloom` +
    `bloom_decontaminate`): the eval slice's 5-gram hashes are folded
    into a fixed 64 Kbit bitmap (k=3 deterministic double hashing);
    every corpus doc with a gram whose 3 bits are all set is flagged.
    Deterministic false positives, zero false negatives — the broadcast
    stays fixed-size no matter how the eval set grows (the scale
    rationale vs `decontaminate`'s exact broadcast set)."""
    docs = _t(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") < _BLOOM_N_BENCH)
    words = D.build_gram_bloom(bench, n=5, m_bits=_BLOOM_M, k=3)
    out = D.bloom_decontaminate(docs, words, n=5, m_bits=_BLOOM_M, k=3)
    return out.select("doc_id", "might_contaminated", "n_bloom_hits")


# corpus = the documents table as-is; new shard = 2/3-prefix variants
# (ids offset by +100000) simulating a freshly landed crawl shard that
# near-duplicates existing corpus docs.
_CROSS_CORPUS_SQL = """
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000,
         array_to_string(w[1:greatest(2*len(w)//3, 1)], ' ') AS text
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
"""


@query(
    "dedupe_minhash_cross",
    f"""
    WITH corpus AS ({_CROSS_CORPUS_SQL}),
    sh AS ({_SHINGLES_FALLBACK_SQL}),
    sig AS (SELECT doc_id, sh, [{_SIG_SQL}] AS sig FROM sh),
    banded AS (
      SELECT doc_id, sh, b.band,
             md5(CAST(sig[b.band*2 + 1] AS VARCHAR) || '_' ||
                 CAST(sig[b.band*2 + 2] AS VARCHAR)) AS key
      FROM sig, (SELECT unnest([0, 1, 2, 3]) AS band) b
    ),
    cand AS (
      SELECT DISTINCT l.doc_id AS new_id, r.doc_id AS corpus_id,
                      l.sh AS sha, r.sh AS shb
      FROM banded l
      JOIN banded r ON l.band = r.band AND l.key = r.key
      WHERE l.doc_id >= 100000 AND r.doc_id < 100000
    ),
    scored AS (
      SELECT new_id, corpus_id,
             round(CAST(len(list_filter(sha, x -> list_contains(shb, x))) AS DOUBLE)
                   / (len(sha) + len(shb)
                      - len(list_filter(sha, x -> list_contains(shb, x)))), 4) AS jaccard
      FROM cand
    )
    SELECT new_id, corpus_id, jaccard FROM scored WHERE jaccard >= 0.5
    """,
)
def dedupe_minhash_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental cross-corpus MinHash-LSH dedup: a new shard (2/3-prefix
    variants of existing docs, ids +100000) matched against the EXISTING
    corpus's persisted signature table — no corpus self-join, corpus
    never re-shingled. The gate disables the hot-bucket representative
    guard (max_bucket > corpus size) so the all-pairs band-join DuckDB
    oracle stays valid; the guard is pinned by unit tests."""
    from logstash_spark.operators.dataprep import (
        minhash_lsh_pairs_cross,
        shingle_sig_table,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    w = F.split(F.col("text"), " ")
    cut = F.greatest(F.floor(F.size(w) * 2 / 3).cast("int"), F.lit(1))
    shard = docs.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat_ws(" ", F.slice(w, 1, cut)).alias("text"),
    )
    corpus_sig = shingle_sig_table(docs, "doc_id", "text", n=3, k=8, short_doc="whole_text")
    return minhash_lsh_pairs_cross(
        shard, corpus_sig, "doc_id", "text",
        n=3, k=8, bands=4, threshold=0.5,
        max_bucket=10**9, short_doc="whole_text",
    )


_DECON_THR = 0.99

_EUNIT_SQL = (
    "list_transform(e_vec, x -> CAST(x AS DOUBLE) / "
    f"sqrt({_DOT_SQL.format(a='e_vec', b='e_vec')}))"
)
_CORP_DOT_UNIT = (
    "list_reduce(list_prepend(0.0, list_transform(list_zip(embedding, e_unit), "
    "z -> CAST(z[1] AS DOUBLE) * z[2])), (p, q) -> p + q)"
)


@query(
    "embed_decontam_flags",
    f"""
    WITH evn AS (
      SELECT vec_id AS e_id, {_EUNIT_SQL} AS e_unit
      FROM (SELECT vec_id, embedding AS e_vec FROM embeddings WHERE vec_id < 20)
    ),
    c AS (
      SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 20
      UNION ALL
      SELECT vec_id + 200000, embedding FROM embeddings WHERE vec_id < 10
    ),
    s AS (
      SELECT c.vec_id,
             {_CORP_DOT_UNIT} /
             sqrt({_DOT_SQL.format(a='embedding', b='embedding')}) AS cos
      FROM c, evn
    )
    SELECT vec_id,
           round(max(cos), 6) AS max_eval_cos,
           CAST(count(*) FILTER (WHERE cos >= {_DECON_THR}) AS INTEGER) AS n_contam_hits,
           max(cos) >= {_DECON_THR} AS contaminated
    FROM s GROUP BY vec_id
    """,
)
def embed_decontam_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space benchmark decontamination: eval = vec_id < 20
    (collapsed to literal unit directions — zero shuffle, no join),
    corpus = the rest plus planted copies of the first 10 eval vectors
    at vec_id+200000 (cos == 1 → contaminated). Rounded to 6 dp; the
    hit count and flag compare the UN-rounded cosine on both engines,
    which are bit-identical by IEEE-fold construction."""
    em = _t(spark, sf_dir, "embeddings")
    eval_df = em.filter(F.col("vec_id") < 20)
    corpus = em.filter(F.col("vec_id") >= 20).select("vec_id", "embedding").unionByName(
        em.filter(F.col("vec_id") < 10).select(
            (F.col("vec_id") + 200000).alias("vec_id"), "embedding"
        )
    )
    return D.embed_decontam(corpus, eval_df, threshold=_DECON_THR).select(
        "vec_id", "max_eval_cos", "n_contam_hits", "contaminated"
    )


_P0 = "'para ' || substr(md5('pp' || (doc_id % 17)), 1, 16)"
_P1 = "'para ' || substr(md5('pp' || ((doc_id * 7 + 3) % 17)), 1, 16)"
_P2 = "'unique ' || doc_id"


@query(
    "paragraph_dedup_global",
    f"""
    WITH d AS (
      SELECT doc_id, {_P0} AS p0, {_P1} AS p1, {_P2} AS p2 FROM documents
    ),
    x AS (
      SELECT doc_id, 0 AS ix, p0 AS p FROM d
      UNION ALL SELECT doc_id, 1, p1 FROM d
      UNION ALL SELECT doc_id, 2, p2 FROM d
    ),
    k AS (
      SELECT *, row_number() OVER (
               PARTITION BY p ORDER BY doc_id, ix
             ) AS rn
      FROM x
    ),
    agg AS (
      SELECT doc_id,
             string_agg(p, chr(10) || chr(10) ORDER BY ix) AS text,
             count(*) AS n_kept
      FROM k WHERE rn = 1 GROUP BY doc_id
    )
    SELECT doc_id, md5(text) AS text_md5,
           CAST(3 AS BIGINT) AS n_paras,
           CAST(n_kept AS BIGINT) AS n_kept
    FROM agg
    """,
)
def paragraph_dedup_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide paragraph-dedup gate (`dataprep.
    dedup_paragraphs_global`): every document carries two paragraphs
    drawn from a 17-slot pool (heavily repeated across docs, sometimes
    within one doc) plus one unique paragraph. First global occurrence
    by (doc_id, index) survives; documents are reassembled in paragraph
    order. The oracle is an INDEPENDENT window keep-first derivation
    keyed on the paragraph text itself, so it also proves the op's
    32-bit paragraph hashing is collision-clean on this corpus."""
    from logstash_spark.operators import dataprep as D  # noqa: PLC0415

    docs = _t(spark, sf_dir, "documents")
    i = F.col("doc_id")
    p0 = F.concat(
        F.lit("para "), F.substring(F.md5(F.concat(F.lit("pp"), (i % 17).cast("string"))), 1, 16)
    )
    p1 = F.concat(
        F.lit("para "),
        F.substring(F.md5(F.concat(F.lit("pp"), ((i * 7 + 3) % 17).cast("string"))), 1, 16),
    )
    p2 = F.concat(F.lit("unique "), i.cast("string"))
    built = docs.select(
        "doc_id",
        F.concat_ws("\n\n", p0, p1, p2).alias("text"),
    )
    out = D.dedup_paragraphs_global(built)
    return out.select(
        "doc_id",
        F.md5("text").alias("text_md5"),
        "n_paras",
        "n_kept",
    )


@query(
    "edit_distance_join",
    """
    WITH strings AS (
      SELECT doc_id,
             CASE WHEN doc_id % 2 = 0 THEN b
                  WHEN (doc_id // 2) % 4 = 0 THEN b
                  WHEN (doc_id // 2) % 4 = 1
                    THEN substr(b,1,4) || 'z' || substr(b,6,7)
                  WHEN (doc_id // 2) % 4 = 2
                    THEN substr(b,1,2) || 'z' || substr(b,4,5) || 'z'
                         || substr(b,10,3)
                  ELSE substr(b,1,1) || 'z' || substr(b,3,3) || 'z'
                       || substr(b,7,3) || 'z' || substr(b,11,2) END AS s
      FROM (SELECT doc_id,
                   substr(md5(CAST(doc_id // 2 AS VARCHAR) || ':ed'), 1, 12)
                     AS b
            FROM documents)
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(levenshtein(a.s, b.s) AS BIGINT) AS dist
    FROM strings a JOIN strings b ON a.doc_id < b.doc_id
    WHERE levenshtein(a.s, b.s) <= 2
    """,
)
def edit_distance_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy-join gate (`dataprep.edit_distance_join`): 12-char hash
    strings in planted pairs — identical, 1-sub, 2-sub (all ≤ k=2,
    must match) and 3-sub (must NOT match). Spark runs the REAL q-gram
    count-filtered plan; the oracle brute-forces every pair with
    DuckDB's levenshtein, so any filter false-negative shows up as a
    missing row."""
    from logstash_spark.operators import dataprep as D  # noqa: PLC0415

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    b = F.substring(
        F.md5(F.concat(F.expr("CAST(doc_id DIV 2 AS STRING)"), F.lit(":ed"))),
        1, 12,
    )
    m = F.expr("(doc_id DIV 2) % 4")
    s = (
        F.when((d % 2 == 0) | (m == 0), b)
        .when(m == 1, F.concat(F.substring(b, 1, 4), F.lit("z"), F.substring(b, 6, 7)))
        .when(
            m == 2,
            F.concat(
                F.substring(b, 1, 2), F.lit("z"), F.substring(b, 4, 5),
                F.lit("z"), F.substring(b, 10, 3),
            ),
        )
        .otherwise(
            F.concat(
                F.substring(b, 1, 1), F.lit("z"), F.substring(b, 3, 3),
                F.lit("z"), F.substring(b, 7, 3), F.lit("z"),
                F.substring(b, 11, 2),
            )
        )
    )
    strings = docs.select("doc_id", s.alias("s"))
    return D.edit_distance_join(strings, text_col="s", k=2, q=2)


# DuckDB mirror of dataprep.dedup_key_text (lower -> strip non-alnum ->
# collapse whitespace -> trim); 'g' flag because DuckDB's regexp_replace
# is first-match-only by default, unlike Spark's.
_DEDUP_KEY = (
    "trim(regexp_replace(regexp_replace(lower(coalesce({t}, '')),"
    " '[^a-z0-9 \t\n]', '', 'g'), '[ \t\n]+', ' ', 'g'))"
)


@query(
    "dedup_audit_histogram",
    f"""
    WITH variants AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000,
             upper(text) || '  !!'
      FROM documents WHERE doc_id % 5 = 0
      UNION ALL
      SELECT doc_id + 2000000,
             '  ' || replace(text, ' ', ',  ') || '.'
      FROM documents WHERE doc_id % 10 = 0
    ),
    keyed AS (
      SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
             {_DEDUP_KEY.format(t="text")} AS k
      FROM variants
    ),
    clusters AS (
      SELECT k, CAST(count(*) AS BIGINT) AS sz,
             CAST(sum(n_chars) AS BIGINT) AS chars,
             CAST(arg_min(n_chars, doc_id) AS BIGINT) AS kept
      FROM keyed GROUP BY k
    )
    SELECT sz AS cluster_size,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(sum(sz) AS BIGINT) AS n_docs,
           CAST(sum(sz) - count(*) AS BIGINT) AS n_dup_docs,
           CAST(sum(chars - kept) AS BIGINT) AS chars_dup
    FROM clusters GROUP BY sz
    """,
)
def dedup_audit_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-audit gate (`dataprep.dedup_audit`): the corpus plus two
    decorated re-renderings (SHOUTING + punctuation noise for doc_id%5,
    a comma-riddled variant for doc_id%10) must collapse through
    `dedup_key_text` into the expected cluster-size histogram with
    exact keep-min-survivor byte accounting. Both engines re-derive the
    key from text, so the gate also proves the two regex dialects
    agree."""
    from logstash_spark.operators.dataprep import dedup_audit  # noqa: PLC0415

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    v1 = docs.where(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.upper("text"), F.lit("  !!")).alias("text"),
    )
    v2 = docs.where(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.concat(
            F.lit("  "), F.regexp_replace("text", " ", ",  "), F.lit(".")
        ).alias("text"),
    )
    allv = docs.unionByName(v1).unionByName(v2).withColumn(
        "n_chars", F.length("text").cast("long")
    )
    return dedup_audit(allv)
