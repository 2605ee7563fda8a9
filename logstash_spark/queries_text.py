"""Correctness gates for web-text extraction, cleaning, quality filters and
corpus reports. Each `@query` pairs a Spark query over the driver test
tables with the DuckDB SQL that re-derives its result; `queries`
collects them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from logstash_spark.operators import dataprep as D
from logstash_spark.operators import webtext as W
from logstash_spark.operators.dataprep import sentence_split_sql
from logstash_spark.queries_common import _H32, _H32U, _STOPS_SQL, _cos_sql, _t, query


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
    docs = _t(spark, sf_dir, "documents")
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
    docs = _t(spark, sf_dir, "documents")
    toks = D.token_counts(F.col("text"))
    return docs.select(
        "doc_id",
        D.lang_id(F.col("text")).alias("lang_pred"),
        toks["ws_tokens"].alias("ws_tokens"),
        toks["re_tokens"].cast("int").alias("re_tokens"),
        D.rolling_fingerprint(F.col("text")).alias("fingerprint"),
    )


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
    docs = _t(spark, sf_dir, "documents")
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
    return D.repetition_metrics(_t(spark, sf_dir, "documents"))


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
    u = _url_corpus(_t(spark, sf_dir, "documents"))
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
    u = _url_corpus(_t(spark, sf_dir, "documents"))
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
    em = _t(spark, sf_dir, "embeddings")
    src = em.where(F.col("vec_id") < 25)
    tgt = em.where((F.col("vec_id") >= 25) & (F.col("vec_id") < 325))
    return D.bitext_mine(
        src, tgt, k=4, margin_threshold_ppm=1_050_000, mutual=False
    )


_VOCAB_SIZE = 64
_OOV_LOGP2 = -30


@query(
    "unigram_lm_quality",
    f"""
    WITH w AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
    ),
    nz AS (SELECT doc_id, word FROM w WHERE word != ''),
    counts AS (SELECT word, count(*) AS cnt FROM nz GROUP BY word),
    tot AS (SELECT sum(cnt) AS total FROM counts),
    vocab AS (
      SELECT word,
             CAST(floor(log2(cnt)) - floor(log2(total)) AS INT) AS logp2
      FROM counts, tot
      ORDER BY cnt DESC, word LIMIT {_VOCAB_SIZE}
    ),
    s AS (
      SELECT doc_id, count(*) AS n_words,
             sum(coalesce(v.logp2, {_OOV_LOGP2})) AS logp2_sum
      FROM nz LEFT JOIN vocab v USING (word)
      GROUP BY doc_id
    )
    SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
           CAST(logp2_sum AS BIGINT) AS logp2_sum,
           round(CAST(logp2_sum AS DOUBLE) / n_words, 4) AS avg_logp2
    FROM s
    """,
)
def unigram_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style unigram LM filter (`dataprep.unigram_vocab_logp` +
    `unigram_logprob_score`): top-64 corpus vocabulary with integer
    log2-quantized probabilities, then per-doc average log-likelihood
    (OOV floor -30). All arithmetic before the final division is exact
    integers — bit-for-bit reproducible across engines."""
    docs = _t(spark, sf_dir, "documents")
    vocab = D.unigram_vocab_logp(docs, vocab_size=_VOCAB_SIZE)
    return D.unigram_logprob_score(docs, vocab, oov_logp2=_OOV_LOGP2)


@query(
    "quality_classifier_keep",
    f"""
    WITH base AS (
      SELECT doc_id, text, string_split(text, ' ') AS w, length(text) AS n_chars
      FROM documents
    ),
    feat AS (
      SELECT doc_id,
             least(1.0, CAST(len(w) AS DOUBLE) / 64) AS len_norm,
             round(CAST(len(list_filter(w, x -> list_contains({_STOPS_SQL}, x))) AS DOUBLE)
                   / len(w), 4) AS stop_ratio,
             round(CAST(length(regexp_replace(text, '[\\w\\s]', '', 'g')) AS DOUBLE)
                   / n_chars, 4) AS punct_ratio
      FROM base
    ),
    q AS (
      -- integer quantization mirrors the Spark op exactly: features to
      -- 1e-4 units (they ARE 4dp decimals / dyadics — no float fuzz),
      -- weights ×10, bias/threshold in 1e-5 units
      SELECT doc_id,
             CAST(round(len_norm * 10000) AS BIGINT) AS lq,
             CAST(round(punct_ratio * 10000) AS BIGINT) AS pq,
             CAST(round(round(len_norm * (1 - punct_ratio)
                              * (CASE WHEN stop_ratio BETWEEN 0.01 AND 0.6
                                      THEN 1.0 ELSE 0.5 END), 4)
                        * 10000) AS BIGINT) AS qq,
             CAST(round(stop_ratio * 10000) AS BIGINT) AS sq
      FROM feat
    ),
    scored AS (
      SELECT doc_id,
             -125000 + lq * 20 + pq * -40 + qq * 10 + sq * 15 AS clf_logit_q
      FROM q
    )
    SELECT doc_id, clf_logit_q,
           CAST(clf_logit_q AS DOUBLE) / 100000 AS clf_logit,
           clf_logit_q > 0 AS clf_keep
    FROM scored
    """,
)
def quality_classifier_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear quality classifier (`dataprep.quality_classifier`, the
    fasttext/DCLM keep-vs-drop analog as broadcast literal weights):
    logit = -1.25 + 2·len_norm − 4·punct_ratio + 1·quality +
    1.5·stop_ratio over `quality_features`, keep = logit > 0. Scoring is
    exact BIGINT arithmetic (features quantized to 1e-4 units, weights
    ×10 → logit in 1e-5 units): a float sum of 4dp-rounded features
    lands ON decimal rounding ties, so integer quantization is the only
    bit-reproducible form. NOTE the composite `quality` feature equals
    round(len_norm·(1−punct_ratio)·stop_gate, 4) because
    least(1, n/64) is the same dyadic value."""
    docs = _t(spark, sf_dir, "documents")
    out = D.quality_classifier(docs)
    return out.select("doc_id", "clf_logit_q", "clf_logit", "clf_keep")


_BG_VOCAB = 64
_UNI_VOCAB = 64
_BACKOFF = -4
_OOV = -30


@query(
    "bigram_lm_quality",
    f"""
    WITH w AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word,
             unnest(generate_series(1, len(string_split(text, ' ')))) AS pos
      FROM documents
    ),
    nz AS (
      SELECT doc_id, word,
             row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS p
      FROM w WHERE word != ''
    ),
    big AS (
      SELECT doc_id, w1, w2 FROM (
        SELECT doc_id, lag(word) OVER (PARTITION BY doc_id ORDER BY p) AS w1,
               word AS w2
        FROM nz
      ) WHERE w1 IS NOT NULL
    ),
    bcounts AS (SELECT w1, w2, count(*) AS cnt FROM big GROUP BY w1, w2),
    pref AS (SELECT w1, sum(cnt) AS pcnt FROM bcounts GROUP BY w1),
    bvocab AS (
      SELECT w1, w2,
             CAST(floor(log2(cnt)) - floor(log2(pcnt)) AS INT) AS blp
      FROM bcounts JOIN pref USING (w1)
      ORDER BY cnt DESC, w1, w2 LIMIT {_BG_VOCAB}
    ),
    ucounts AS (SELECT word, count(*) AS cnt FROM nz GROUP BY word),
    utot AS (SELECT sum(cnt) AS total FROM ucounts),
    uvocab AS (
      SELECT word AS w2,
             CAST(floor(log2(cnt)) - floor(log2(total)) AS INT) AS ulp
      FROM ucounts, utot
      ORDER BY cnt DESC, word LIMIT {_UNI_VOCAB}
    ),
    s AS (
      SELECT doc_id, count(*) AS n_bigrams,
             sum(coalesce(bv.blp, uv.ulp + {_BACKOFF}, {_OOV})) AS logp2_sum
      FROM big
      LEFT JOIN bvocab bv USING (w1, w2)
      LEFT JOIN uvocab uv USING (w2)
      GROUP BY doc_id
    )
    SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams,
           CAST(logp2_sum AS BIGINT) AS logp2_sum,
           round(CAST(logp2_sum AS DOUBLE) / n_bigrams, 4) AS avg_logp2
    FROM s
    """,
)
def bigram_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional bigram LM quality with stupid-backoff
    (`dataprep.bigram_vocab_logp` + `bigram_logprob_score`; Brants et
    al. 2007): top-64 bigram table with integer log2-quantized
    P(w2|w1), backoff to the top-64 unigram table at 2^-4, OOV floor
    -30. All arithmetic before the final division is exact integers —
    bit-for-bit reproducible across engines. Catches shuffled/keyword-
    stuffed text that unigram frequency alone scores as fluent."""
    docs = _t(spark, sf_dir, "documents")
    bv = D.bigram_vocab_logp(docs, vocab_size=_BG_VOCAB)
    uv = D.unigram_vocab_logp(docs, vocab_size=_UNI_VOCAB)
    out = D.bigram_logprob_score(
        docs, bv, uv, backoff_logp2=_BACKOFF, oov_logp2=_OOV
    )
    return out.select("doc_id", "n_bigrams", "logp2_sum", "avg_logp2")


_CUR_RATES = {"src0": 1.0, "src1": 0.5, "src2": 0.5}
_CUR_DEFAULT = 0.25
_CUR_SEED = "cure"


@query(
    "corpus_curation_e2e",
    f"""
    WITH base AS (
      SELECT doc_id, source, text, string_split(text, ' ') AS w,
             length(text) AS n_chars
      FROM documents
    ),
    feat AS (
      SELECT doc_id, source, text, len(w) AS nw,
             round(CAST(len(list_filter(w, x -> list_contains({_STOPS_SQL}, x))) AS DOUBLE)
                   / len(w), 4) AS stop_ratio,
             round(CAST(length(regexp_replace(text, '[\\w\\s]', '', 'g')) AS DOUBLE)
                   / n_chars, 4) AS punct_ratio,
             len(list_filter(list_distinct(w), x -> list_contains(['the','a','and','of'], x))) AS s_en,
             len(list_filter(list_distinct(w), x -> list_contains(['table','row','column','query'], x))) AS s_db,
             len(list_filter(list_distinct(w), x -> list_contains(['batch','stream','merge','scan'], x))) AS s_ops
      FROM base
    ),
    scored AS (
      SELECT doc_id, source, text, nw,
             round(least(1.0, CAST(nw AS DOUBLE) / 64) * (1 - punct_ratio)
                   * (CASE WHEN stop_ratio BETWEEN 0.01 AND 0.6 THEN 1.0 ELSE 0.5 END),
                   4) AS quality,
             CASE WHEN greatest(s_en, s_db, s_ops) = 0
                       OR (CAST(s_en = greatest(s_en, s_db, s_ops) AS INTEGER)
                           + CAST(s_db = greatest(s_en, s_db, s_ops) AS INTEGER)
                           + CAST(s_ops = greatest(s_en, s_db, s_ops) AS INTEGER)) != 1
                  THEN 'und'
                  WHEN s_en = greatest(s_en, s_db, s_ops) THEN 'en'
                  WHEN s_db = greatest(s_en, s_db, s_ops) THEN 'db'
                  ELSE 'ops' END AS lang_pred
      FROM feat
    ),
    filt AS (
      SELECT * FROM scored
      WHERE nw >= 5 AND quality >= 0.05 AND lang_pred != 'und'
    ),
    dedup AS (
      SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
      FROM filt
    ),
    surv AS (SELECT * FROM dedup WHERE rn = 1),
    samp AS (
      SELECT * FROM surv
      WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':{_CUR_SEED}'), 1, 8) AS BIGINT)
            % 1000000
            < CASE source WHEN 'src0' THEN 1000000
                          WHEN 'src1' THEN 500000
                          WHEN 'src2' THEN 500000
                          ELSE 250000 END
    )
    SELECT doc_id, source, lang_pred, CAST(nw AS INTEGER) AS n_words, quality
    FROM samp
    """,
)
def corpus_curation_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-corpus curation over the documents table —
    the dataprep-side flagship, composing the operators a 100 TB crawl
    pipeline chains: language-ID (marker voting) → quality scoring
    (length/punct/stopword composite) → rule filter → exact dedup
    (min-id survivor per md5(text), ONE window shuffle) → deterministic
    per-source stratified downsampling (plan-time CASE, zero shuffle,
    reproducible under the md5 hash). Everything before the dedup
    window is map-only, so the chain costs exactly one exchange."""
    from pyspark.sql import Window

    from logstash_spark.operators import dataprep as D

    docs = _t(spark, sf_dir, "documents")
    feats = D.quality_features(F.col("text"))
    scored = docs.select(
        "doc_id",
        "source",
        "text",
        D.lang_id(F.col("text")).alias("lang_pred"),
        feats["n_words"].alias("n_words"),
        feats["quality"].alias("quality"),
    )
    filt = scored.where(
        (F.col("n_words") >= 5)
        & (F.col("quality") >= 0.05)
        & (F.col("lang_pred") != "und")
    )
    surv = (
        filt.withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy(F.md5("text")).orderBy("doc_id")
            ),
        )
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
    samp = D.stratified_sample(
        surv,
        _CUR_RATES,
        key_col="doc_id",
        stratum_col="source",
        default_rate=_CUR_DEFAULT,
        seed=_CUR_SEED,
    )
    return samp.select(
        "doc_id",
        "source",
        "lang_pred",
        F.col("n_words").cast("int").alias("n_words"),
        "quality",
    )


_BLOCK_WORDS = ["merge", "drop", "error"]


@query(
    "keyword_blocklist_flags",
    """
    WITH base AS (
      SELECT doc_id,
             list_distinct(list_transform(
               regexp_split_to_array(coalesce(text, ''), '\\s+'), x -> lower(x))) AS dw
      FROM documents
    )
    SELECT doc_id,
           CAST(len(list_filter(dw, x -> list_contains(['drop','error','merge'], x)))
                AS INTEGER) AS n_blocked,
           len(list_filter(dw, x -> list_contains(['drop','error','merge'], x))) > 0
             AS blocked
    FROM base
    """,
)
def keyword_blocklist_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 §2.2 bad-words rule over the documents table: count distinct
    blocklisted words (case-folded whole-word matches) and flag the
    document. One literal array_intersect — zero shuffle."""
    from logstash_spark.operators import dataprep as D

    docs = _t(spark, sf_dir, "documents")
    out = D.keyword_blocklist(docs, _BLOCK_WORDS)
    return out.select(
        "doc_id", F.col("n_blocked").cast("int").alias("n_blocked"), "blocked"
    )


_BL_THRESHOLD = 30


@query(
    "boilerplate_line_removal",
    f"""
    WITH corpus AS (
      SELECT doc_id,
             CASE WHEN doc_id % 3 = 0 THEN text || '|SUBSCRIBE NOW'
                  WHEN doc_id % 3 = 1 THEN 'COOKIE NOTICE|' || text
                  ELSE text END AS t
      FROM documents
    ),
    lx AS (
      SELECT doc_id,
             list_filter(list_transform(string_split(coalesce(t, ''), '|'),
                                        x -> trim(x)), x -> x != '') AS ls
      FROM corpus
    ),
    freq AS (
      SELECT line, count(*) AS dfc
      FROM (SELECT doc_id, unnest(list_distinct(ls)) AS line FROM lx)
      GROUP BY line
    ),
    b AS (SELECT coalesce(list(line), []) AS bl FROM freq WHERE dfc >= {_BL_THRESHOLD}),
    clean AS (
      SELECT doc_id, ls, list_filter(ls, x -> NOT list_contains(bl, x)) AS kept
      FROM lx, b
    )
    SELECT doc_id,
           array_to_string(kept, '|') AS text_clean,
           CAST(len(ls) - len(kept) AS INTEGER) AS n_removed
    FROM clean
    """,
)
def boilerplate_line_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet/RefinedWeb-style template-line removal: inject two
    boilerplate lines (SUBSCRIBE NOW / COOKIE NOTICE) into 2/3 of the
    documents, compute per-line document frequency (dup lines within a
    doc count once), and strip lines with df ≥ {threshold}. The
    boilerplate set broadcasts (template lines are few by definition);
    the corpus text never shuffles — membership is an array-local
    filter, preserving original line order."""
    from logstash_spark.operators import dataprep as D

    docs = _t(spark, sf_dir, "documents")
    t = (
        F.when(F.col("doc_id") % 3 == 0, F.concat("text", F.lit("|SUBSCRIBE NOW")))
        .when(F.col("doc_id") % 3 == 1, F.concat(F.lit("COOKIE NOTICE|"), "text"))
        .otherwise(F.col("text"))
    )
    corpus = docs.select("doc_id", t.alias("text"))
    freq = D.line_doc_freq(corpus, line_sep="|")
    out = D.remove_boilerplate_lines(
        corpus, freq, threshold=_BL_THRESHOLD, line_sep="|"
    )
    return out.select(
        "doc_id",
        "text_clean",
        F.col("n_removed").cast("int").alias("n_removed"),
    )


_LINES_SQL = """
  SELECT doc_id,
         array_to_string(list_transform(range(0, (len(w) + 5) // 6), i ->
           CASE WHEN i % 3 = 0
                  THEN array_to_string(w[i*6+1 : i*6+6], ' ') || '.'
                WHEN i % 3 = 1
                  THEN '- ' || array_to_string(w[i*6+1 : i*6+6], ' ')
                ELSE array_to_string(w[i*6+1 : i*6+6], ' ') END), '|')
         || CASE WHEN doc_id % 17 = 0 THEN '|lorem ipsum dolor sit amet filler.' ELSE '' END
         || CASE WHEN doc_id % 19 = 0 THEN '|code { brace block here today.' ELSE '' END
         AS text
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
"""


@query(
    "c4_fineweb_line_rules",
    f"""
    WITH doc2 AS ({_LINES_SQL}),
    lx AS (
      SELECT doc_id, text,
             list_filter(list_transform(string_split(text, '|'), x -> trim(x)),
                         x -> x != '') AS ls
      FROM doc2
    ),
    m AS (
      SELECT doc_id, text, ls, len(ls) AS n_lines,
             len(list_filter(ls, x ->
               list_contains(['.', '!', '?', '"'], substr(x, -1, 1)))) AS term,
             len(list_filter(ls, x ->
               list_contains(['- ', '* ', '• '], substr(x, 1, 2)))) AS bullet,
             len(list_filter(ls, x -> len(string_split(x, ' ')) < 3)) AS short,
             list_reduce(list_prepend(0,
               list_transform(ls, x -> len(string_split(x, ' ')))),
               (a, b) -> a + b) AS n_words,
             list_filter(ls, x ->
               list_contains(['.', '!', '?', '"'], substr(x, -1, 1))
               AND len(string_split(x, ' ')) >= 5) AS kept
      FROM lx
    )
    SELECT doc_id,
           CAST(n_lines AS INTEGER) AS n_lines,
           CAST(n_words AS INTEGER) AS n_words,
           round(CAST(term AS DOUBLE) / greatest(n_lines, 1), 4) AS frac_term_punct,
           round(CAST(bullet AS DOUBLE) / greatest(n_lines, 1), 4) AS frac_bullet,
           round(CAST(short AS DOUBLE) / greatest(n_lines, 1), 4) AS frac_short,
           contains(lower(text), 'lorem ipsum') AS has_lorem,
           contains(text, '{{') AS has_curly,
           md5(array_to_string(kept, '|')) AS text_clean_md5,
           CAST(len(kept) AS INTEGER) AS n_kept,
           (len(kept) >= 3 AND NOT contains(lower(text), 'lorem ipsum')
            AND NOT contains(text, '{{')) AS doc_keep
    FROM m
    """,
)
def c4_fineweb_line_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 §2.2 line filter + FineWeb line-ratio metrics. Lines are
    synthesized deterministically from the documents table (6-word
    chunks; every 3rd ends in '.', every 3rd+1 is a '- ' bullet) with
    lorem/curly kill-rows injected at doc_id % 17 / % 19. Everything is
    array-local column algebra — the corpus never shuffles."""
    docs = _t(spark, sf_dir, "documents")
    w = F.split(F.col("text"), " ")
    nch = F.ceil(F.size(w) / F.lit(6)).cast("int")

    def _line(i):
        chunk = F.concat_ws(" ", F.slice(w, i * 6 + 1, 6))
        return (
            F.when(i % 3 == 0, F.concat(chunk, F.lit(".")))
            .when(i % 3 == 1, F.concat(F.lit("- "), chunk))
            .otherwise(chunk)
        )

    text2 = F.concat(
        F.concat_ws("|", F.transform(F.sequence(F.lit(0), nch - 1), _line)),
        F.when(
            F.col("doc_id") % 17 == 0,
            F.lit("|lorem ipsum dolor sit amet filler."),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 19 == 0,
            F.lit("|code { brace block here today."),
        ).otherwise(F.lit("")),
    )
    doc2 = docs.select("doc_id", text2.alias("text"))
    out = D.line_quality_rules(doc2, "text", line_sep="|")
    out = D.c4_line_filter(out, "text", target="text_clean", line_sep="|")
    return out.select(
        "doc_id", "n_lines", "n_words", "frac_term_punct", "frac_bullet",
        "frac_short", "has_lorem", "has_curly",
        F.md5(F.col("text_clean")).alias("text_clean_md5"),
        "n_kept", "doc_keep",
    )


# Deterministic page build: title (with an entity), invisible
# style/script (script body contains tag-lookalikes), a comment, block
# structure, entities in text, single- and double-quoted anchors (only
# double-quoted ones count as links), and a third link on every 3rd doc.
_H1 = (
    '<!DOCTYPE html><html><head><title>Doc '
)
_H2 = (
    " &amp; co</title><style>p{color:red}</style>"
    '<script type="text/javascript">var a = "<p>not text</p>";</script>'
    "</head><body><!-- hidden --><h1>"
)
_H3 = "</h1><p>"
_H4 = (
    ' &lt;tag&gt;&nbsp;tail</p><div><a href="https://ex.com/'
)
_H5 = '">one</a> <a href=\'skip.html\'>s</a> <a href="/p/'
_H6 = '.html">two</a></div><ul><li>item '
_H7 = "</li><li>other</li></ul><table><tr><td>cell</td></tr></table>"
_H8 = '<a href="extra.htm">three</a>'
_H9 = "<br><br><br>fin</body></html>"


def _html_spark(doc_id, lang, text) -> F.Column:
    return F.concat(
        F.lit(_H1), doc_id.cast("string"), F.lit(_H2), F.upper(lang),
        F.lit(_H3), F.substring(text, 1, 120), F.lit(_H4),
        doc_id.cast("string"), F.lit(_H5), (doc_id % 7).cast("string"),
        F.lit(_H6), (doc_id % 5).cast("string"), F.lit(_H7),
        F.when(doc_id % 3 == 0, F.lit(_H8)).otherwise(F.lit("")),
        F.lit(_H9),
    )


_HTML_SQL = (
    "SELECT doc_id, "
    f"'{W._sq(_H1)}' || CAST(doc_id AS VARCHAR) || '{W._sq(_H2)}' || upper(lang) || "
    f"'{W._sq(_H3)}' || substr(text, 1, 120) || '{W._sq(_H4)}' || "
    f"CAST(doc_id AS VARCHAR) || '{W._sq(_H5)}' || CAST(doc_id % 7 AS VARCHAR) || "
    f"'{W._sq(_H6)}' || CAST(doc_id % 5 AS VARCHAR) || '{W._sq(_H7)}' || "
    f"CASE WHEN doc_id % 3 = 0 THEN '{W._sq(_H8)}' ELSE '' END || "
    f"'{W._sq(_H9)}' AS html "
    "FROM documents"
)

_LINKS_RX_SQL = W._sq(r'(?i)<a\b[^>]*\bhref="([^"]*)"')


@query(
    "html_text_extract",
    f"""
    WITH pages AS ({_HTML_SQL})
    SELECT doc_id,
           {W.extract_title_sql('html')} AS title,
           CAST(len(regexp_extract_all(html, '{_LINKS_RX_SQL}', 1)) AS INT)
             AS n_links,
           (length(html) - length({W.html_to_text_sql('html')})) * 10000
             // greatest(length(html), 1) AS markup_bp,
           CAST(len(string_split({W.html_to_text_sql('html')}, chr(10)))
             AS INT) AS n_lines,
           md5({W.html_to_text_sql('html')}) AS text_md5
    FROM pages
    """,
)
def html_text_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw-crawl HTML → visible text (`webtext.html_extract`): pages are
    synthesized per document (markup, entities, invisible script/style,
    quoted-tag traps, varying link counts), then extracted. Title, link
    count, integer markup ratio, line count and the md5 of the full
    extracted text must replay bit-for-bit in DuckDB. Zero shuffle —
    the whole chain is codegen'd column algebra over the scan."""
    docs = _t(spark, sf_dir, "documents")
    pages = docs.select(
        "doc_id",
        _html_spark(F.col("doc_id"), F.col("lang"), F.col("text")).alias("html"),
    )
    out = W.html_extract(pages, "html")
    return out.select(
        "doc_id",
        "title",
        F.size("links").cast("int").alias("n_links"),
        F.col("markup_bp"),
        F.size(F.split("text", "\n", -1)).cast("int").alias("n_lines"),
        F.md5("text").alias("text_md5"),
    )


# Clean fragments and their UTF-8-read-as-cp1252 corruptions. The
# corrupt form is computed ONCE here with a single-pass regex (sequential
# replacement would cascade: corrupting ’ yields â€™ whose € would then
# corrupt again), and both engines splice the corrupt LITERAL into the
# row text — no replacement happens at query time.
_CLEAN_FRAGS = (
    "It’s fine",
    "a “café” story",
    "naïve — reading…",
    "«über» façade",
    "€50 bid ™ mark",
    "señora’s piñata",
)


def _corrupt(s: str) -> str:
    import re

    table = dict(W.MOJIBAKE_PAIRS)
    inv = {ch: bad for bad, ch in W.MOJIBAKE_PAIRS}
    for ch in "«»":  # Â-family examples (C2 A0..BF)
        inv[ch] = "Â" + ch
    rx = re.compile("|".join(re.escape(c) for c in sorted(inv, key=len, reverse=True)))
    out = rx.sub(lambda m: inv[m.group(0)], s)
    assert all(bad not in s for bad in table), "clean frag already dirty"
    return out


_DIRTY_FRAGS = tuple(_corrupt(s) for s in _CLEAN_FRAGS)
_NF = len(_CLEAN_FRAGS)


def _frag_array_sql(frags) -> str:
    return "[" + ", ".join(f"'{W._sq(s)}'" for s in frags) + "]"


@query(
    "mojibake_fix",
    f"""
    WITH corrupted AS (
      SELECT doc_id,
             substr(text, 1, 60) || ' '
               || ({_frag_array_sql(_DIRTY_FRAGS)})[CAST(doc_id % {_NF} AS INT) + 1]
               || ' end' AS t,
             substr(text, 1, 60) || ' '
               || ({_frag_array_sql(_CLEAN_FRAGS)})[CAST(doc_id % {_NF} AS INT) + 1]
               || ' end' AS clean
      FROM documents
    )
    SELECT doc_id,
           {W.mojibake_count_sql('t')} AS n_suspects,
           md5({W.fix_mojibake_sql('t')}) AS fixed_md5,
           CASE WHEN md5({W.fix_mojibake_sql('t')}) = md5(clean)
                THEN 1 ELSE 0 END AS repaired_ok
    FROM corrupted
    """,
)
def mojibake_fix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mojibake repair gate (`webtext.fix_mojibake`): every document gets
    a deterministically chosen corrupted fragment spliced in (UTF-8 read
    as cp1252 — the single most common crawl encoding defect); the op
    must detect (`mojibake_count`) and repair it such that the fixed
    text md5-matches the never-corrupted ground truth the oracle builds
    independently. `repaired_ok` is asserted to be 1 for every row by
    construction on BOTH engines. Zero shuffle, pure column algebra."""
    docs = _t(spark, sf_dir, "documents")
    idx = (F.col("doc_id") % _NF).cast("int") + 1
    dirty = F.element_at(F.array(*[F.lit(s) for s in _DIRTY_FRAGS]), idx)
    clean = F.element_at(F.array(*[F.lit(s) for s in _CLEAN_FRAGS]), idx)
    base = F.concat(F.substring("text", 1, 60), F.lit(" "))
    rows = docs.select(
        "doc_id",
        F.concat(base, dirty, F.lit(" end")).alias("t"),
        F.concat(base, clean, F.lit(" end")).alias("clean"),
    )
    fixed = W.fix_mojibake("t")
    return rows.select(
        "doc_id",
        W.mojibake_count("t").alias("n_suspects"),
        F.md5(fixed).alias("fixed_md5"),
        F.when(F.md5(fixed) == F.md5("clean"), F.lit(1))
        .otherwise(F.lit(0))
        .cast("int")
        .alias("repaired_ok"),
    )


# One synthetic WARC file per document: warcinfo + request + response
# (HTTP payload whose body is a text slice; every 5th doc is a 404).
# The blob is a shared segment template rendered into BOTH engines, so
# the input bytes are identical by construction.
_WARC_DATE = "2026-01-17T12:34:56Z"
_WARC_SEGS = (
    ("lit",
     "WARC/1.0\r\nWARC-Type: warcinfo\r\nWARC-Date: " + _WARC_DATE
     + "\r\nContent-Type: application/warc-fields\r\nContent-Length: 18"
     + "\r\n\r\nsoftware: graft/1\n\r\n\r\n"
     + "WARC/1.0\r\nWARC-Type: request\r\nWARC-Target-URI: https://ex.com/doc/"),
    ("id",),
    ("lit",
     "\r\nWARC-Date: " + _WARC_DATE
     + "\r\nContent-Type: application/http;msgtype=request"
     + "\r\n\r\nGET /doc HTTP/1.1\r\nHost: ex.com\r\n\r\n\r\n\r\n"
     + "WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: https://ex.com/doc/"),
    ("id",),
    ("lit", "\r\nWARC-Date: " + _WARC_DATE + "\r\nWARC-Record-ID: <urn:uuid:"),
    ("id",),
    ("lit",
     ">\r\nContent-Type: application/http;msgtype=response"
     + "\r\nContent-Length: "),
    ("len",),
    ("lit", "\r\n\r\nHTTP/1.1 "),
    ("status",),
    ("lit", "\r\nContent-Type: text/plain\r\n\r\n"),
    ("body",),
    ("lit", "\r\n\r\n"),
)


def _warc_blob_spark(doc_id, body) -> F.Column:
    parts = []
    status = F.when(doc_id % 5 == 0, F.lit("404 Not Found")).otherwise(
        F.lit("200 OK")
    )
    for seg in _WARC_SEGS:
        if seg[0] == "lit":
            parts.append(F.lit(seg[1]))
        elif seg[0] == "id":
            parts.append(doc_id.cast("string"))
        elif seg[0] == "len":
            parts.append(F.length(body).cast("string"))
        elif seg[0] == "status":
            parts.append(status)
        elif seg[0] == "body":
            parts.append(body)
    return F.concat(*parts)


def _warc_blob_sql() -> str:
    status = "CASE WHEN doc_id % 5 = 0 THEN '404 Not Found' ELSE '200 OK' END"
    body = "substr(text, 1, 50)"
    parts = []
    for seg in _WARC_SEGS:
        if seg[0] == "lit":
            parts.append(f"'{W._sq(seg[1])}'")
        elif seg[0] == "id":
            parts.append("CAST(doc_id AS VARCHAR)")
        elif seg[0] == "len":
            parts.append(f"CAST(length({body}) AS VARCHAR)")
        elif seg[0] == "status":
            parts.append(status)
        elif seg[0] == "body":
            parts.append(body)
    return " || ".join(parts)


_WARC_BOUNDARY_SQL = W._sq(r"(?m)^WARC/1\.[01]\r?\n")
_WARC_HDR_STRIP_SQL = W._sq(r"(?s)^(.*?)\r?\n\r?\n")
_WARC_TAIL_SQL = W._sq(r"(\r?\n)+$")


def _warc_hdr_sql(name: str) -> str:
    return f"regexp_extract(piece, '(?im)^{name}:[ \\t]*([^\\r\\n]*)', 1)"


@query(
    "warc_ingest",
    f"""
    WITH files AS (
      SELECT doc_id, {_warc_blob_sql()} AS blob FROM documents
    ),
    parts AS (
      SELECT doc_id, string_split_regex(blob, '{_WARC_BOUNDARY_SQL}') AS ps
      FROM files
    ),
    recs AS (
      -- every synthesized file holds exactly 3 records (pieces 2..4;
      -- piece 1 is the empty prefix before the first boundary)
      SELECT doc_id, CAST(gs.i - 1 AS INT) AS record_no, ps[gs.i] AS piece
      FROM parts, generate_series(2, 4) gs(i)
    ),
    parsed AS (
      SELECT doc_id, record_no,
             {_warc_hdr_sql("WARC-Type")} AS warc_type,
             {_warc_hdr_sql("WARC-Target-URI")} AS target_uri,
             {_warc_hdr_sql("WARC-Date")} AS warc_date,
             CAST(NULLIF({_warc_hdr_sql("Content-Length")}, '') AS BIGINT)
               AS content_length,
             regexp_replace(regexp_replace(piece, '{_WARC_HDR_STRIP_SQL}', ''),
                            '{_WARC_TAIL_SQL}', '') AS content
      FROM recs
    )
    SELECT doc_id, record_no, warc_type, target_uri, warc_date,
           content_length,
           CAST(NULLIF(regexp_extract(content, '^HTTP/1\\.[01] (\\d{{3}})', 1),
                       '') AS INT) AS http_status,
           md5(CASE WHEN regexp_matches(content, '^HTTP/1\\.[01] \\d{{3}}')
                    THEN regexp_replace(content, '{_WARC_HDR_STRIP_SQL}', '')
                    ELSE content END) AS payload_md5
    FROM parsed
    """,
)
def warc_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CommonCrawl-style WARC ingestion gate (`codec.warc_decode`): each
    document becomes a 3-record WARC file (warcinfo, request, response
    with an HTTP payload; every 5th response is a 404). Record
    boundaries, header extraction, declared Content-Length, HTTP status
    and the md5 of each record payload must replay bit-for-bit in
    DuckDB. ONE posexplode per file, zero shuffle."""
    from logstash_spark.operators.codec import warc_decode

    docs = _t(spark, sf_dir, "documents")
    files = docs.select(
        "doc_id",
        _warc_blob_spark(F.col("doc_id"), F.substring("text", 1, 50)).alias(
            "blob"
        ),
    )
    out = warc_decode(files, "blob")
    return out.select(
        "doc_id",
        F.col("record_no").cast("int"),
        "warc_type",
        "target_uri",
        "warc_date",
        "content_length",
        "http_status",
        F.md5("payload").alias("payload_md5"),
    )


# head synthesis: robots meta present on every 2nd doc (noindex on every
# 4th), with ATTRIBUTE ORDER flipped on odd docs; canonical link on docs
# not ≡1 (mod 3), order also flipped; lang attr from the lang column.
_M1 = '<html lang="'
_M2 = '"><head><title>t</title>'
_M_ROBOTS_A = '<meta name="robots" content="'
_M_ROBOTS_B = '<meta content="'
_M_ROBOTS_B2 = '" name="robots">'
_M_CANON_A = '<link rel="canonical" href="https://ex.com/c/'
_M_CANON_B = '<link href="https://ex.com/c/'
_M_CANON_B2 = '" rel="canonical">'
_M_TAIL = '</head><body><p>x</p></body></html>'


def _meta_page_spark(doc_id, lang) -> F.Column:
    robots_val = F.when(doc_id % 4 == 0, F.lit("noindex, nofollow")).otherwise(
        F.lit("index, follow")
    )
    robots = F.when(
        doc_id % 2 == 0, F.concat(F.lit(_M_ROBOTS_A), robots_val, F.lit('">'))
    ).otherwise(F.concat(F.lit(_M_ROBOTS_B), robots_val, F.lit(_M_ROBOTS_B2)))
    canon = (
        F.when(doc_id % 3 == 1, F.lit(""))
        .when(
            doc_id % 2 == 0,
            F.concat(F.lit(_M_CANON_A), doc_id.cast("string"), F.lit('">')),
        )
        .otherwise(
            F.concat(
                F.lit(_M_CANON_B), doc_id.cast("string"), F.lit(_M_CANON_B2)
            )
        )
    )
    return F.concat(
        F.lit(_M1), F.upper(lang), F.lit(_M2), robots, canon, F.lit(_M_TAIL)
    )


_META_PAGE_SQL = f"""
      SELECT doc_id,
             '{W._sq(_M1)}' || upper(lang) || '{W._sq(_M2)}'
             || CASE WHEN doc_id % 2 = 0
                     THEN '{W._sq(_M_ROBOTS_A)}' ||
                          CASE WHEN doc_id % 4 = 0 THEN 'noindex, nofollow'
                               ELSE 'index, follow' END || '">'
                     ELSE '{W._sq(_M_ROBOTS_B)}' ||
                          CASE WHEN doc_id % 4 = 0 THEN 'noindex, nofollow'
                               ELSE 'index, follow' END || '{W._sq(_M_ROBOTS_B2)}'
                END
             || CASE WHEN doc_id % 3 = 1 THEN ''
                     WHEN doc_id % 2 = 0
                     THEN '{W._sq(_M_CANON_A)}' || CAST(doc_id AS VARCHAR) || '">'
                     ELSE '{W._sq(_M_CANON_B)}' || CAST(doc_id AS VARCHAR)
                          || '{W._sq(_M_CANON_B2)}'
                END
             || '{W._sq(_M_TAIL)}' AS html
      FROM documents
"""


@query(
    "html_meta_policy",
    f"""
    WITH pages AS ({_META_PAGE_SQL})
    SELECT doc_id,
           {W.meta_robots_sql('html')} AS meta_robots,
           CASE WHEN {W.meta_robots_sql('html')} LIKE '%noindex%'
                THEN 1 ELSE 0 END AS noindex,
           {W.canonical_url_sql('html')} AS canonical_url,
           {W.declared_lang_sql('html')} AS declared_lang
    FROM pages
    """,
)
def html_meta_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-policy gate (`webtext.html_meta`): robots directives (both
    attribute orders), canonical URL (the site-declared dedup key) and
    the declared lang attr must extract identically in DuckDB. The
    noindex flag is the opt-out filter a compliant corpus applies before
    spending any further compute. Zero shuffle."""
    docs = _t(spark, sf_dir, "documents")
    pages = docs.select(
        "doc_id",
        _meta_page_spark(F.col("doc_id"), F.col("lang")).alias("html"),
    )
    out = W.html_meta(pages, "html")
    return out.select(
        "doc_id",
        "meta_robots",
        F.col("noindex").cast("int").alias("noindex"),
        "canonical_url",
        "declared_lang",
    )


# 20 synthetic hosts; every 2nd gets a wildcard rule, every 3rd a
# dedicated graftbot group (which must then WIN outright over *), all
# get a $-anchored rule and a stacked two-agent group that must never
# apply to graftbot.
_RB1 = (
    "# policy\nUser-agent: *\nDisallow: /private/\nAllow: /private/ok/\n"
    "Disallow: /exact$\n"
)
_RB2 = "Disallow: /tmp*\n"
_RB3 = "\n"
_RB4 = "User-agent: graftbot\nDisallow: /bot-only/\nAllow: /\n\n"
_RB5 = "User-agent: legacybot\nUser-agent: oldbot\nDisallow: /\n"

_RPATHS = ("/private/p", "/private/ok/p", "/tmp", "/bot-only/p", "/public/p",
           "/exact")


def _robots_blob_spark(hid) -> F.Column:
    return F.concat(
        F.lit(_RB1),
        F.when(hid % 2 == 0, F.lit(_RB2)).otherwise(F.lit("")),
        F.lit(_RB3),
        F.when(hid % 3 == 0, F.lit(_RB4)).otherwise(F.lit("")),
        F.lit(_RB5),
    )


_ROBOTS_BLOB_SQL = (
    f"'{W._sq(_RB1)}'"
    f" || CASE WHEN hid % 2 = 0 THEN '{W._sq(_RB2)}' ELSE '' END"
    f" || '{W._sq(_RB3)}'"
    f" || CASE WHEN hid % 3 = 0 THEN '{W._sq(_RB4)}' ELSE '' END"
    f" || '{W._sq(_RB5)}'"
)

_RPATH_ARR_SQL = "[" + ", ".join(f"'{p}'" for p in _RPATHS) + "]"

_ROBOTS_ORACLE = f"""
    WITH hosts AS (SELECT DISTINCT doc_id % 20 AS hid FROM documents),
    blobs AS (
      SELECT 'h' || CAST(hid AS VARCHAR) AS host,
             string_split({_ROBOTS_BLOB_SQL}, chr(10)) AS ls
      FROM hosts
    ),
    lines AS (
      SELECT host, CAST(gs.i AS INT) AS line_no, ls[gs.i] AS l
      FROM blobs, generate_series(1, 16) gs(i)
      WHERE ls[gs.i] IS NOT NULL
    ),
    keyed AS (
      SELECT host, line_no,
             lower(regexp_extract(trim(regexp_replace(l, '#.*$', '')),
                                  '^([A-Za-z][A-Za-z-]*)\\s*:', 1)) AS k,
             trim(regexp_extract(trim(regexp_replace(l, '#.*$', '')),
                                 '^[A-Za-z][A-Za-z-]*\\s*:\\s*(.*)$', 1)) AS v
      FROM lines
    ),
    keyed2 AS (SELECT * FROM keyed WHERE k != ''),
    flagged AS (
      SELECT *, CASE WHEN k = 'user-agent' AND NOT
                  coalesce(lag(k = 'user-agent') OVER
                           (PARTITION BY host ORDER BY line_no), FALSE)
                THEN 1 ELSE 0 END AS ng
      FROM keyed2
    ),
    grouped AS (
      SELECT *, sum(ng) OVER (PARTITION BY host ORDER BY line_no) AS group_id
      FROM flagged
    ),
    agents AS (
      SELECT host, group_id, lower(v) AS agent FROM grouped
      WHERE k = 'user-agent'
    ),
    rules AS (
      SELECT host, group_id, k AS rule, v AS rpath, line_no FROM grouped
      WHERE k IN ('allow', 'disallow') AND v != ''
    ),
    joined AS (
      SELECT r.host, r.rule, r.rpath, r.line_no, a.agent
      FROM rules r JOIN agents a USING (host, group_id)
    ),
    scoped AS (
      SELECT host, rule, rpath, line_no,
             CASE WHEN agent = 'graftbot' THEN 1 ELSE 0 END AS spec
      FROM joined WHERE agent IN ('graftbot', '*')
    ),
    scoped2 AS (
      SELECT * FROM (
        SELECT *, max(spec) OVER (PARTITION BY host) AS best FROM scoped
      ) WHERE spec = best
    ),
    pats AS (
      SELECT host, rule, rpath, line_no,
             CAST(length(rpath) AS BIGINT) AS plen,
             CASE WHEN right(rpath, 1) = '$'
                  THEN substr(e, 1, length(e) - 1) ELSE e || '%' END AS pat
      FROM (
        SELECT *, replace(replace(replace(replace(rpath,
                 '\\', '\\\\'), '%', '\\%'), '_', '\\_'), '*', '%') AS e
        FROM scoped2
      )
    ),
    urls AS (
      SELECT doc_id, 'h' || CAST(doc_id % 20 AS VARCHAR) AS host,
             ({_RPATH_ARR_SQL})[CAST(doc_id % 6 AS INT) + 1]
               || CASE WHEN doc_id % 6 = 5 THEN ''
                       ELSE CAST(doc_id AS VARCHAR) END AS path
      FROM documents
    ),
    matched AS (
      SELECT u.doc_id, u.host, u.path, p.rule, p.rpath, p.plen, p.line_no
      FROM urls u LEFT JOIN pats p
        ON u.host = p.host AND u.path LIKE p.pat ESCAPE '\\'
    ),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY doc_id
        ORDER BY plen DESC,
                 CASE WHEN rule = 'allow' THEN 0 ELSE 1 END ASC,
                 line_no ASC) AS rn
      FROM matched
    )
    SELECT doc_id, host, path,
           CASE WHEN rule IS NULL OR rule = 'allow' THEN 1 ELSE 0 END
             AS allowed,
           rule AS matched_rule, rpath AS matched_path
    FROM ranked WHERE rn = 1
"""


@query("robots_compliance", _ROBOTS_ORACLE)
def robots_compliance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt compliance gate (`operators/robots.py`): 20 synthetic
    hosts with layered policies (wildcard rules, $-anchored rules, a
    dedicated graftbot group on every 3rd host that must win outright
    over *, a stacked two-agent group that must never apply) against a
    URL per document. The full RFC 9309 pipeline — group sessionization,
    agent scoping, LIKE-translated longest-match with Allow tie-break —
    must replay bit-for-bit in DuckDB."""
    from logstash_spark.operators.robots import parse_robots, robots_filter

    docs = _t(spark, sf_dir, "documents")
    hosts = (
        docs.select((F.col("doc_id") % 20).alias("hid"))
        .distinct()
        .select(
            F.concat(F.lit("h"), F.col("hid").cast("string")).alias("host"),
            _robots_blob_spark(F.col("hid")).alias("robots_txt"),
        )
    )
    rules = parse_robots(hosts)
    idx = (F.col("doc_id") % 6).cast("int") + 1
    urls = docs.select(
        "doc_id",
        F.concat(F.lit("h"), (F.col("doc_id") % 20).cast("string")).alias(
            "host"
        ),
        F.concat(
            F.element_at(F.array(*[F.lit(p) for p in _RPATHS]), idx),
            F.when(F.col("doc_id") % 6 == 5, F.lit("")).otherwise(
                F.col("doc_id").cast("string")
            ),
        ).alias("path"),
    )
    out = robots_filter(urls, rules, "graftbot")
    return out.select(
        "doc_id",
        "host",
        "path",
        F.col("allowed").cast("int").alias("allowed"),
        "matched_rule",
        "matched_path",
    )


_PR_EDGES_SQL = """
      SELECT 'h' || CAST(doc_id % 50 AS VARCHAR) AS src,
             'h' || CAST((doc_id * 7 + 3) % 50 AS VARCHAR) AS dst
      FROM documents
      UNION ALL
      SELECT 'h' || CAST(doc_id % 50 AS VARCHAR) AS src,
             'h' || CAST((doc_id * 13 + 1) % 23 AS VARCHAR) AS dst
      FROM documents
"""


def _pr_edges_spark(docs: DataFrame) -> DataFrame:
    i = F.col("doc_id")
    a = docs.select(
        F.concat(F.lit("h"), (i % 50).cast("string")).alias("src"),
        F.concat(F.lit("h"), ((i * 7 + 3) % 50).cast("string")).alias("dst"),
    )
    b = docs.select(
        F.concat(F.lit("h"), (i % 50).cast("string")).alias("src"),
        F.concat(F.lit("h"), ((i * 13 + 1) % 23).cast("string")).alias("dst"),
    )
    return a.unionByName(b)


def _pagerank_oracle() -> str:
    from logstash_spark.operators.graph import pagerank_oracle_sql

    return pagerank_oracle_sql(_PR_EDGES_SQL, iters=2)


@query("host_pagerank", _pagerank_oracle())
def host_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-authority gate (`graph.pagerank`): a 50-host link graph is
    derived from the documents table (a second edge family lands on a
    23-host subset, so in-degrees — and therefore ranks — genuinely
    differ), then two damped PageRank rounds run in scaled-int64 space.
    The unrolled DuckDB replay must agree bit-for-bit — every share and
    update is non-negative integer div. The rank is the document
    quality PRIOR a curation pipeline joins back on host (Common Crawl
    publishes host-level webgraph ranks for exactly this use)."""
    from logstash_spark.operators.graph import pagerank

    docs = _t(spark, sf_dir, "documents")
    return pagerank(_pr_edges_spark(docs), iters=2)


_SM_URLSET_A = (
    '<?xml version="1.0"?>'
    '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
    "<url><loc>https://ex.com/a/"
)
_SM_URLSET_B = (
    "</loc><lastmod>2026-01-15</lastmod><changefreq>daily</changefreq>"
    "<priority>0.8</priority></url>"
    "<url> <loc> https://ex.com/b/"
)
_SM_URLSET_C = " </loc><lastmod>2026-01-17T12:00:00Z</lastmod></url></urlset>"
_SM_INDEX_A = (
    '<?xml version="1.0"?><sitemapindex><sitemap><loc>https://ex.com/sm1-'
)
_SM_INDEX_B = ".xml</loc><lastmod>2026-01-17</lastmod></sitemap><sitemap><loc>https://ex.com/sm2-"
_SM_INDEX_C = ".xml</loc></sitemap></sitemapindex>"


def _sitemap_spark(doc_id) -> F.Column:
    i = doc_id.cast("string")
    urlset = F.concat(
        F.lit(_SM_URLSET_A), i, F.lit(_SM_URLSET_B), i, F.lit(_SM_URLSET_C)
    )
    index = F.concat(
        F.lit(_SM_INDEX_A), i, F.lit(_SM_INDEX_B), i, F.lit(_SM_INDEX_C)
    )
    return F.when(doc_id % 4 == 0, index).otherwise(urlset)


_SITEMAP_SQL = f"""
      SELECT doc_id,
             CASE WHEN doc_id % 4 = 0
                  THEN '{W._sq(_SM_INDEX_A)}' || CAST(doc_id AS VARCHAR)
                       || '{W._sq(_SM_INDEX_B)}' || CAST(doc_id AS VARCHAR)
                       || '{W._sq(_SM_INDEX_C)}'
                  ELSE '{W._sq(_SM_URLSET_A)}' || CAST(doc_id AS VARCHAR)
                       || '{W._sq(_SM_URLSET_B)}' || CAST(doc_id AS VARCHAR)
                       || '{W._sq(_SM_URLSET_C)}'
             END AS xml
      FROM documents
"""


def _sm_field_sql(tag: str) -> str:
    return f"trim(regexp_extract(b, '(?is)<{tag}[^>]*>(.*?)</{tag}\\s*>', 1))"


@query(
    "sitemap_discovery",
    f"""
    WITH files AS ({_SITEMAP_SQL}),
    parts AS (
      SELECT doc_id,
             CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END AS is_index,
             CASE WHEN doc_id % 4 = 0
                  THEN regexp_extract_all(xml,
                         '(?is)<sitemap\\s*>(.*?)</sitemap\\s*>', 1)
                  ELSE regexp_extract_all(xml,
                         '(?is)<url\\s*>(.*?)</url\\s*>', 1)
             END AS bs
      FROM files
    ),
    recs AS (
      -- both file kinds carry exactly 2 entries by construction
      SELECT doc_id, is_index, CAST(gs.i - 1 AS INT) AS entry_no,
             bs[gs.i] AS b
      FROM parts, generate_series(1, 2) gs(i)
    )
    SELECT doc_id, is_index, entry_no,
           {_sm_field_sql("loc")} AS loc,
           {_sm_field_sql("lastmod")} AS lastmod,
           {_sm_field_sql("changefreq")} AS changefreq,
           CAST(TRY_CAST({_sm_field_sql("priority")} AS DOUBLE) * 10 AS INT)
             AS priority_x10
    FROM recs
    """,
)
def sitemap_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap parsing gate (`robots.sitemap_urls`): per document a
    urlset file (two entries — full and sparse fields, whitespace-padded
    tags) or, on every 4th doc, a sitemapindex with two children. Entry
    splitting, loc/lastmod/changefreq extraction and priority parsing
    must replay bit-for-bit in DuckDB (priority ×10 as int — the gate
    values are exact in binary so both engines agree)."""
    from logstash_spark.operators.robots import sitemap_urls

    docs = _t(spark, sf_dir, "documents")
    files = docs.select(
        "doc_id", _sitemap_spark(F.col("doc_id")).alias("sitemap_xml")
    )
    out = sitemap_urls(files, "sitemap_xml")
    return out.select(
        "doc_id",
        F.col("is_index").cast("int").alias("is_index"),
        F.col("entry_no").cast("int").alias("entry_no"),
        "loc",
        "lastmod",
        "changefreq",
        (F.col("priority") * 10).cast("int").alias("priority_x10"),
    )


# 3 anchors per document onto 101 shared targets; anchor text comes from
# a 5-word vocabulary keyed by target (so each target has a dominant
# description) with a minority variant every 11th (doc+slot); even docs
# wrap the text in <b> and pad whitespace — extraction must strip both.
_AN_VOCAB = ("click here", "read more", "project docs", "home page",
             "next post")
_AN_VOCAB_SQL = "[" + ", ".join(f"'{t}'" for t in _AN_VOCAB) + "]"


def _anchor_page_spark(doc_id) -> F.Column:
    segs = []
    for j in range(3):
        n = (doc_id * 3 + F.lit(j)) % 101
        base = F.element_at(
            F.array(*[F.lit(t) for t in _AN_VOCAB]), (n % 5).cast("int") + 1
        )
        text = F.when((doc_id + j) % 11 == 0, F.lit("rare link")).otherwise(
            base
        )
        shown = F.when(
            doc_id % 2 == 0, F.concat(F.lit(" <b>"), text, F.lit("</b> "))
        ).otherwise(text)
        segs += [
            F.lit('<a href="/t/'),
            n.cast("string"),
            F.lit('">'),
            shown,
            F.lit("</a> and "),
        ]
    return F.concat(F.lit("<html><body>"), *segs, F.lit("</body></html>"))


@query(
    "anchor_text_stats",
    f"""
    WITH anchors AS (
      SELECT '/t/' || CAST((doc_id * 3 + gs.j) % 101 AS VARCHAR) AS href,
             CASE WHEN (doc_id + gs.j) % 11 = 0 THEN 'rare link'
                  ELSE ({_AN_VOCAB_SQL})
                       [CAST((doc_id * 3 + gs.j) % 101 % 5 AS INT) + 1]
             END AS text
      FROM documents, generate_series(0, 2) gs(j)
    ),
    counted AS (
      SELECT href, text, CAST(count(*) AS BIGINT) AS cnt
      FROM anchors GROUP BY href, text
    ),
    ranked AS (
      SELECT href, text, cnt,
             sum(cnt) OVER (PARTITION BY href) AS n_refs,
             row_number() OVER (PARTITION BY href
                                ORDER BY cnt DESC, text ASC) AS rn
      FROM counted
    )
    SELECT href, CAST(n_refs AS BIGINT) AS n_refs, text AS top_text
    FROM ranked WHERE rn = 1
    """,
)
def anchor_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor-text census gate (`webtext.anchor_stats`): pages with 3
    anchors onto 101 shared targets are synthesized per document (bold
    markup + whitespace padding on even docs); the Spark side EXTRACTS
    from the markup while the oracle computes the ground-truth pairs
    directly — per-target reference counts and the dominant anchor text
    (count-desc, text-asc tie-break) must agree exactly. One real
    shuffle: (href, text) partials; the href window reuses the same
    exchange prefix."""
    docs = _t(spark, sf_dir, "documents")
    pages = docs.select(
        _anchor_page_spark(F.col("doc_id")).alias("html")
    )
    return W.anchor_stats(pages, "html")


_MINC = 3
_DELTA = 1
_TOPK = 200


@query(
    "pmi_phrases",
    f"""
    WITH w AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word,
             unnest(generate_series(1, len(string_split(text, ' ')))) AS pos
      FROM documents
    ),
    nz AS (
      SELECT doc_id, word,
             row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS p
      FROM w WHERE word != ''
    ),
    big AS (
      SELECT w1, w2 FROM (
        SELECT lag(word) OVER (PARTITION BY doc_id ORDER BY p) AS w1,
               word AS w2
        FROM nz
      ) WHERE w1 IS NOT NULL
    ),
    bcounts AS (
      SELECT w1, w2, count(*) AS cnt_ab FROM big GROUP BY w1, w2
      HAVING count(*) >= {_MINC} AND count(*) > {_DELTA}
    ),
    uni AS (SELECT word, count(*) AS cnt FROM nz GROUP BY word),
    tot AS (
      SELECT CAST(sum(cnt) AS BIGINT) AS n,
             CAST(floor(log2(CAST(sum(cnt) AS DOUBLE))) AS BIGINT) AS log_n
      FROM uni
    )
    SELECT w1, w2,
           CAST(cnt_ab AS BIGINT) AS cnt_ab,
           CAST(a.cnt AS BIGINT) AS cnt_a,
           CAST(b.cnt AS BIGINT) AS cnt_b,
           CAST(floor(log2(CAST(cnt_ab - {_DELTA} AS DOUBLE))) + log_n
                - floor(log2(CAST(a.cnt AS DOUBLE)))
                - floor(log2(CAST(b.cnt AS DOUBLE))) AS INT) AS pmi_q,
           round(CAST(cnt_ab - {_DELTA} AS DOUBLE) * CAST(n AS DOUBLE)
                 / (CAST(a.cnt AS DOUBLE) * CAST(b.cnt AS DOUBLE)), 4)
             AS score
    FROM bcounts
    JOIN uni a ON bcounts.w1 = a.word
    JOIN uni b ON bcounts.w2 = b.word, tot
    ORDER BY pmi_q DESC, cnt_ab DESC, w1, w2
    LIMIT {_TOPK}
    """,
)
def pmi_phrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """word2phrase PMI collocation mining (`dataprep.pmi_phrases`;
    Mikolov et al. 2013 §4): score(a,b) = (cnt(ab)−δ)·N / (cnt(a)·cnt(b))
    over corpus bigram/unigram counts, integer bit-length-quantized log2
    PMI (`pmi_q`) as the cross-engine-exact ranking key, float score for
    human reading. Deterministic total order (pmi_q DESC, cnt_ab DESC,
    w1, w2). Topology: ONE pairing explode + groupBy(w1,w2) with
    map-side partials, df-cut before the vocabulary joins, top-K
    TakeOrdered — never a full sort."""
    from logstash_spark.operators import dataprep as D

    docs = _t(spark, sf_dir, "documents")
    return D.pmi_phrases(
        docs, min_count=_MINC, delta=_DELTA, top_k=_TOPK
    )


@query(
    "perplexity_terciles",
    """
    WITH scored AS (
      SELECT doc_id, lang,
             CAST(n_chars * 100 + doc_id % 7 AS BIGINT) AS score
      FROM documents
    ),
    ranked AS (
      SELECT doc_id, lang, score,
             row_number() OVER (PARTITION BY lang
                                ORDER BY score DESC, doc_id) AS rn,
             count(*) OVER (PARTITION BY lang) AS cnt
      FROM scored
    )
    SELECT doc_id, lang, score,
           CAST(floor((rn - 1) * 3 / cnt) AS INT) AS bucket_idx,
           ['head', 'middle', 'tail'][CAST(floor((rn - 1) * 3 / cnt) AS INT) + 1]
             AS bucket
    FROM ranked
    """,
)
def perplexity_terciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail bucketing gate
    (`dataprep.perplexity_buckets`; Wenzek et al. 2020 §3): exact-rank
    terciles per language ordered by a deterministic quality score
    (production feeds `unigram_logprob_score`/`bigram_logprob_score`
    output — the gate's synthetic score isolates the ranking
    mechanics). Ties broken by doc_id so the assignment is total and
    engine-independent. The zero-shuffle literal-cutoff variant
    (`perplexity_bucket_by_cutoffs`) is unit-tested."""
    from pyspark.sql import functions as FN

    from logstash_spark.operators import dataprep as D

    docs = _t(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        "lang",
        (FN.col("n_chars") * 100 + FN.col("doc_id") % 7)
        .cast("bigint")
        .alias("score"),
    )
    out = D.perplexity_buckets(
        scored, score_col="score", group_cols=("lang",), id_col="doc_id"
    )
    return out.select("doc_id", "lang", "score", "bucket_idx", "bucket")


def _dq(s: str) -> str:
    """Render a Python string as a DuckDB expression: printable chunks
    as standard quoted literals (UTF-8 passes through), control chars
    via chr(n) so the oracle SQL text stays free of raw control bytes."""
    if s == "":
        return "''"
    parts: list[str] = []
    buf: list[str] = []

    def flush() -> None:
        if buf:
            parts.append("'" + "".join(buf).replace("'", "''") + "'")
            buf.clear()

    for ch in s:
        if ord(ch) < 0x20:
            flush()
            parts.append(f"chr({ord(ch)})")
        else:
            buf.append(ch)
    flush()
    return " || ".join(parts) if len(parts) > 1 else parts[0]


#: deterministic junk injected per doc_id % 4: smart quotes + NBSP +
#: dashes + ellipsis + CRLF; zero-width family + ideographic space + VT;
#: run-on spaces/tabs + excess breaks + guillemets + soft hyphen; clean.
_JUNK = (
    " ‘q’ – x…\r\n",
    "​z‌ “w”　t",
    "  a\tb \n\n\n\n«g»­",
    "",
)


def _junk_case_sql(col: str) -> str:
    arms = " ".join(
        f"WHEN {k} THEN {_dq(j)}" for k, j in enumerate(_JUNK)
    )
    return f"(CASE {col} % 4 {arms} END)"


def _messy_sql() -> str:
    return (
        f"('P ' || {_junk_case_sql('doc_id')} || substr(text, 1, 50) || ' ' "
        f"|| {_junk_case_sql('(doc_id + 1)')} || ' Q')"
    )


@query(
    "text_clean_normalize",
    f"""
    SELECT doc_id,
           md5({W.clean_text_sql(_messy_sql())}) AS clean_md5,
           CAST(length({W.clean_text_sql(_messy_sql())}) AS BIGINT)
             AS clean_len
    FROM documents
    """,
)
def text_clean_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode cleanup gate (`webtext.clean_text`): every document is
    wrapped in deterministic typographic junk — smart quotes, NBSP and
    the zero-width family, CRLF/VT line separators, run-on whitespace,
    guillemets, soft hyphens — and the cleaned text must md5-match the
    oracle's replay of the same fixed replace/regexp chain. Zero
    shuffle: the whole query is scan + map."""

    def junk_case(col) -> F.Column:
        expr = F.lit(_JUNK[3])
        for k in (2, 1, 0):
            expr = F.when(col % 4 == k, F.lit(_JUNK[k])).otherwise(expr)
        return expr

    docs = _t(spark, sf_dir, "documents")
    messy = F.concat(
        F.lit("P "),
        junk_case(F.col("doc_id")),
        F.substring("text", 1, 50),
        F.lit(" "),
        junk_case(F.col("doc_id") + 1),
        F.lit(" Q"),
    )
    clean = W.clean_text(messy)
    return docs.select(
        "doc_id",
        F.md5(clean).alias("clean_md5"),
        F.length(clean).cast("long").alias("clean_len"),
    )


_ENT_N = 160


@query(
    "char_entropy_quality",
    f"""
    WITH s AS (
      SELECT doc_id, substr(text, 1, {_ENT_N}) AS s FROM documents
    ),
    c AS (
      SELECT doc_id, length(s) AS n,
             list_transform(range(1, length(s) + 1),
                            i -> substr(s, CAST(i AS INT), 1)) AS chars
      FROM s
    ),
    u AS (SELECT *, list_distinct(chars) AS uniq FROM c),
    k AS (
      SELECT doc_id, n, uniq,
             list_transform(uniq,
               d -> len(list_filter(chars, ch -> ch = d))) AS counts
      FROM u
    ),
    e AS (
      SELECT doc_id, n, uniq,
             CASE WHEN n = 0 THEN 0
                  ELSE list_sum(list_transform(counts,
                         c -> c * (length(bin(n // c)) - 1))) END AS ent
      FROM k
    )
    SELECT doc_id,
           CAST(n AS BIGINT) AS n_sampled,
           CAST(CASE WHEN n = 0 THEN 0 ELSE len(uniq) END AS BIGINT)
             AS n_distinct_chars,
           CAST(ent AS BIGINT) AS entropy_q,
           CAST(CASE WHEN n = 0 THEN 0 ELSE (ent * 100) // n END AS BIGINT)
             AS entropy_cb
    FROM e
    """,
)
def char_entropy_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-entropy gate (`dataprep.char_entropy_features`): quantized
    Shannon entropy of each document's character distribution over a
    bounded prefix — integer bit-length arithmetic end to end, replayed
    with DuckDB list functions. Zero shuffle (scan + map)."""
    from logstash_spark.operators import dataprep as D  # noqa: PLC0415

    docs = _t(spark, sf_dir, "documents")
    feats = D.char_entropy_features(F.col("text"), max_chars=_ENT_N)
    return docs.select(
        "doc_id", *[v.alias(k) for k, v in feats.items()]
    )


def _grams_sql(w: str, n: int = 2) -> str:
    """DuckDB expression: distinct word n-grams of word-list `w`."""
    return (
        f"CASE WHEN len({w}) >= {n} THEN list_distinct(list_transform("
        f"range(1, len({w}) - {n - 1} + 1), "
        f"i -> array_to_string({w}[CAST(i AS INT):CAST(i + {n - 1} AS INT)],"
        f" ' '))) ELSE [] END"
    )


_B_SQL = (
    "(array_to_string(string_split(text, ' ')[1:25], ' ') "
    "|| ' q' || (doc_id % 7) || ' q' || ((doc_id + 1) % 7))"
)


@query(
    "ngram_overlap_score",
    f"""
    WITH g AS (
      SELECT doc_id,
             {_grams_sql("string_split(text, ' ')")} AS ga,
             {_grams_sql(f"string_split({_B_SQL}, ' ')")} AS gb
      FROM documents
    ),
    m AS (
      SELECT doc_id, len(ga) AS na, len(gb) AS nb,
             len(list_filter(ga, x -> list_contains(gb, x))) AS inter
      FROM g
    ),
    bp AS (
      SELECT doc_id,
             CAST(na AS BIGINT) AS n_grams_a,
             CAST(nb AS BIGINT) AS n_grams_b,
             CAST(inter AS BIGINT) AS n_overlap,
             CAST(CASE WHEN na > 0 THEN (inter * 10000) // na ELSE 0 END
                  AS BIGINT) AS precision_bp,
             CAST(CASE WHEN nb > 0 THEN (inter * 10000) // nb ELSE 0 END
                  AS BIGINT) AS recall_bp
      FROM m
    )
    SELECT *, CAST(CASE WHEN precision_bp + recall_bp > 0
                        THEN (2 * precision_bp * recall_bp)
                             // (precision_bp + recall_bp)
                        ELSE 0 END AS BIGINT) AS f1_bp
    FROM bp
    """,
)
def ngram_overlap_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram overlap gate (`dataprep.ngram_overlap_features`): each
    document scored against a deterministic mutation of itself (25-word
    prefix + junk suffix) — the distillation regurgitation/drift filter.
    Bigram set precision/recall/F1 in integer basis points; DuckDB
    replays with its own list machinery. Zero shuffle."""
    from logstash_spark.operators import dataprep as D  # noqa: PLC0415

    docs = _t(spark, sf_dir, "documents")
    b = F.concat(
        F.array_join(F.slice(F.split(F.col("text"), " "), 1, 25), " "),
        F.lit(" q"),
        (F.col("doc_id") % 7).cast("string"),
        F.lit(" q"),
        ((F.col("doc_id") + 1) % 7).cast("string"),
    )
    feats = D.ngram_overlap_features(F.col("text"), b, n=2)
    return docs.select("doc_id", *[v.alias(k) for k, v in feats.items()])


_J_SQL = (
    "('{' || '\"id\":' || doc_id"
    " || CASE WHEN doc_id % 2 = 0 THEN ',\"lang\":\"' || lang || '\"'"
    "         ELSE '' END"
    " || CASE WHEN doc_id % 3 = 0 THEN ',\"src\":\"' || source || '\"'"
    "         ELSE '' END"
    " || CASE WHEN doc_id % 7 = 0 THEN ',\"extra\":1' ELSE '' END"
    " || '}')"
)


@query(
    "json_key_census",
    f"""
    WITH j AS (
      SELECT doc_id,
             CASE WHEN doc_id % 11 = 0 THEN 'not json'
                  ELSE {_J_SQL} END AS msg
      FROM documents
    ),
    k AS (
      SELECT unnest(json_keys(msg)) AS key FROM j
      WHERE doc_id % 11 != 0
    ),
    c AS (SELECT key, CAST(count(*) AS BIGINT) AS n_docs_with_key
          FROM k GROUP BY 1),
    t AS (SELECT CAST(count(*) AS BIGINT) AS total FROM j)
    SELECT key, n_docs_with_key,
           CAST((n_docs_with_key * 1000000) // total AS BIGINT)
             AS coverage_ppm
    FROM c, t
    """,
)
def json_key_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-on-read gate (`dataprep.json_key_census`): a synthesized
    JSON feed with parity-dependent optional keys plus a corrupt-row
    channel (every 11th row is not JSON — it must count in the coverage
    denominator but contribute no keys). The oracle uses DuckDB's
    native json_keys, fully independent of Spark's from_json parse."""
    from logstash_spark.operators import dataprep as D  # noqa: PLC0415

    docs = _t(spark, sf_dir, "documents")
    i = F.col("doc_id")
    j = F.concat(
        F.lit('{"id":'),
        i.cast("string"),
        F.when(
            i % 2 == 0, F.concat(F.lit(',"lang":"'), F.col("lang"), F.lit('"'))
        ).otherwise(F.lit("")),
        F.when(
            i % 3 == 0, F.concat(F.lit(',"src":"'), F.col("source"), F.lit('"'))
        ).otherwise(F.lit("")),
        F.when(i % 7 == 0, F.lit(',"extra":1')).otherwise(F.lit("")),
        F.lit("}"),
    )
    built = docs.select(
        F.when(i % 11 == 0, F.lit("not json")).otherwise(j).alias("message")
    )
    return D.json_key_census(built, "message")


_TXR = (
    "('Intro one. ' || substr(text, 1, 60) || '. Closing words here count 42.')"
)


@query(
    "readability_metrics",
    f"""
    WITH t AS (SELECT doc_id, {_TXR} AS t FROM documents),
    m AS (
      SELECT doc_id,
             CAST(len(string_split_regex(t, '\\s+')) AS BIGINT) AS n_words,
             CAST(greatest(len({sentence_split_sql("t")}), 1) AS BIGINT)
               AS n_sentences,
             CAST(len(regexp_extract_all(lower(t), '[aeiouy]+')) AS BIGINT)
               AS n_syllables,
             CAST(len(regexp_extract_all(t, '[0-9]')) AS BIGINT) AS digits,
             CAST(greatest(length(t), 1) AS BIGINT) AS chars
      FROM t
    )
    SELECT doc_id, n_words, n_sentences, n_syllables,
           CAST((39 * greatest(n_words, 1)) // n_sentences
                + (1180 * n_syllables) // greatest(n_words, 1)
                - 1559 AS BIGINT) AS fk_grade_cb,
           CAST((digits * 10000) // chars AS BIGINT) AS digit_ratio_bp
    FROM m
    """,
)
def readability_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Readability gate (`dataprep.readability_features`): each document
    wrapped into a multi-sentence text with digits, then word/sentence/
    syllable counts and the Flesch-Kincaid grade in exact centi-grades
    plus the digit-ratio data-dump detector. Zero shuffle; oracle
    re-counts with DuckDB regexp_extract_all."""
    from logstash_spark.operators import dataprep as D  # noqa: PLC0415

    docs = _t(spark, sf_dir, "documents")
    tx = F.concat(
        F.lit("Intro one. "),
        F.substring("text", 1, 60),
        F.lit(". Closing words here count 42."),
    )
    feats = D.readability_features(tx)
    return docs.select("doc_id", *[v.alias(k) for k, v in feats.items()])


_TAXONOMY = {
    "commerce": ["order", "price", "supplier", "account"],
    "geo": ["region", "nation", "east", "asia"],
    "tech": ["data", "system", "packet", "engine"],
}


def _tax_cnt_sql(cat: str) -> str:
    words = sorted({w.lower() for w in _TAXONOMY[cat]})
    lits = ", ".join(f"'{w}'" for w in words)
    return (
        "CAST(len(list_intersect(list_distinct(list_transform("
        "string_split_regex(text, '\\s+'), x -> lower(x))), "
        f"[{lits}])) AS BIGINT)"
    )


@query(
    "taxonomy_tagging",
    f"""
    WITH c AS (
      SELECT doc_id,
             {_tax_cnt_sql("commerce")} AS tax_commerce,
             {_tax_cnt_sql("geo")} AS tax_geo,
             {_tax_cnt_sql("tech")} AS tax_tech
      FROM documents
    ),
    g AS (
      SELECT *, greatest(tax_commerce, tax_geo, tax_tech) AS mx,
             tax_commerce + tax_geo + tax_tech AS tot
      FROM c
    )
    SELECT doc_id, tax_commerce, tax_geo, tax_tech,
           CASE WHEN tot = 0 THEN ''
                WHEN tax_commerce = mx THEN 'commerce'
                WHEN tax_geo = mx THEN 'geo'
                ELSE 'tech' END AS tax_dominant,
           CAST(tot AS BIGINT) AS tax_total
    FROM g
    """,
)
def taxonomy_tagging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Taxonomy gate (`dataprep.taxonomy_tags`): a 3-category keyword
    taxonomy over document text — per-category distinct-hit counts,
    dominant category (ties → name ASC), total. The oracle derives the
    argmax with a greatest/CASE chain in category-name order —
    equivalent to the operator's min(struct(−count, name)) pick."""
    from logstash_spark.operators import dataprep as D  # noqa: PLC0415

    docs = _t(spark, sf_dir, "documents")
    out = D.taxonomy_tags(docs, _TAXONOMY)
    return out.select(
        "doc_id", "tax_commerce", "tax_geo", "tax_tech",
        "tax_dominant", "tax_total",
    )


_INJ = ("<|im_end|>", "</s>", "<|endoftext|>", "")


@query(
    "special_token_guard",
    """
    WITH t AS (
      SELECT doc_id,
             substr(text, 1, 40)
             || CASE doc_id % 4
                  WHEN 0 THEN '<|im_end|>'
                  WHEN 1 THEN '</s>'
                  WHEN 2 THEN '<|endoftext|>x<|endoftext|>'
                  ELSE '' END
             || ' tail' AS raw
      FROM documents
    ),
    n AS (
      SELECT doc_id, raw,
             CAST((length(raw) - length(replace(raw, '<|im_start|>', '')))
                  // 12
                + (length(raw) - length(replace(raw, '<|im_end|>', ''))) // 10
                + (length(raw) - length(replace(raw, '<|endoftext|>', '')))
                  // 13
                + (length(raw) - length(replace(raw, '<s>', ''))) // 3
                + (length(raw) - length(replace(raw, '</s>', ''))) // 4
                + (length(raw) - length(replace(raw, '[INST]', ''))) // 6
                + (length(raw) - length(replace(raw, '[/INST]', ''))) // 7
                + (length(raw) - length(replace(raw, '<|assistant|>', '')))
                  // 13
                + (length(raw) - length(replace(raw, '<|user|>', ''))) // 8
              AS BIGINT) AS n_special
      FROM t
    )
    SELECT doc_id,
           md5(replace(replace(replace(replace(replace(replace(replace(
               replace(replace(raw,
               '<|im_start|>', ''), '<|im_end|>', ''), '<|endoftext|>', ''),
               '<s>', ''), '</s>', ''), '[INST]', ''), '[/INST]', ''),
               '<|assistant|>', ''), '<|user|>', '')) AS scrubbed_md5,
           n_special
    FROM n
    """,
)
def special_token_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-injection gate (`dataprep.special_token_scrub`):
    documents carry injected chat control sequences (including a
    doubled one); the scrub must remove every occurrence and count them
    exactly via the length algebra. The oracle replays the replace
    chain and counts independently per token."""
    from logstash_spark.operators import dataprep as D  # noqa: PLC0415

    docs = _t(spark, sf_dir, "documents")
    i = F.col("doc_id")
    inj = (
        F.when(i % 4 == 0, F.lit(_INJ[0]))
        .when(i % 4 == 1, F.lit(_INJ[1]))
        .when(i % 4 == 2, F.lit("<|endoftext|>x<|endoftext|>"))
        .otherwise(F.lit(""))
    )
    raw = F.concat(F.substring("text", 1, 40), inj, F.lit(" tail"))
    feats = D.special_token_scrub(raw, mode="strip")
    return docs.select(
        "doc_id",
        F.md5(feats["scrubbed"]).alias("scrubbed_md5"),
        feats["n_special"].alias("n_special"),
    )


@query(
    "dedup_key_canonical",
    """
    SELECT doc_id,
           md5('sample text number ' || (doc_id % 40)) AS key_md5,
           CAST(doc_id % 40 AS BIGINT) AS base_id
    FROM documents
    """,
)
def dedup_key_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-dedup-key gate (`dataprep.dedup_key_text`): four
    decorated re-renderings of the same base sentence — title case +
    '!', run-on whitespace, SHOUTING + '???', comma/semicolon noise —
    must ALL collapse to the identical key. The oracle states the
    expected key in closed form from the base alone: any normalization
    defect (missed punctuation class, bad collapse order, case slip)
    breaks the md5."""
    from logstash_spark.operators import dataprep as D  # noqa: PLC0415

    docs = _t(spark, sf_dir, "documents")
    i = F.col("doc_id")
    n = (i % 40).cast("string")
    variant = (
        F.when(i % 4 == 0, F.concat(F.lit("Sample Text Number "), n, F.lit("!")))
        .when(
            i % 4 == 1,
            F.concat(F.lit("  sample   text\tnumber "), n, F.lit("  ")),
        )
        .when(
            i % 4 == 2,
            F.concat(F.lit("SAMPLE TEXT NUMBER "), n, F.lit("???")),
        )
        .otherwise(
            F.concat(F.lit("sample, text; number: "), n, F.lit("."))
        )
    )
    return docs.select(
        "doc_id",
        F.md5(D.dedup_key_text(variant)).alias("key_md5"),
        (i % 40).cast("long").alias("base_id"),
    )


@query(
    "corpus_data_card",
    """
    WITH k AS (
      SELECT doc_id, lang, source, n_chars,
             len(string_split_regex(text, '\\s+')) AS n_words,
             md5(trim(regexp_replace(regexp_replace(lower(text),
                 '[^a-z0-9 \\t\\n]', '', 'g'), '[ \\t\\n]+', ' ', 'g')))
               AS key
      FROM documents
    ),
    lang_top AS (
      SELECT lang FROM k GROUP BY lang
      ORDER BY count(*) DESC, lang ASC LIMIT 1
    )
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT key) AS BIGINT) AS n_unique_docs,
           CAST(count(*) - count(DISTINCT key) AS BIGINT) AS n_dups,
           CAST(sum(n_words) AS BIGINT) AS total_words,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
           (SELECT lang FROM lang_top) AS top_lang,
           CAST(count(DISTINCT source) AS BIGINT) AS n_sources
    FROM k
    """,
)
def corpus_data_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one-row corpus data card — the summary a curation run
    publishes next to its output shard: doc/unique/dup counts (dups by
    the canonical `dedup_key_text`), word and char totals, language
    spread with the plurality language, source count. ONE aggregation
    pass (count-distincts expand to partial aggregates under AQE);
    oracle is an independent full-table SQL aggregation."""
    from logstash_spark.operators import dataprep as D  # noqa: PLC0415

    docs = _t(spark, sf_dir, "documents")
    k = docs.select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        F.size(F.split(F.col("text"), r"\s+")).cast("long").alias("n_words"),
        F.md5(D.dedup_key_text(F.col("text"))).alias("key"),
    )
    top_lang = (
        k.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("_c"))
        .orderBy(F.col("_c").desc(), F.col("lang").asc())
        .limit(1)
        .select("lang")
    )
    card = k.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct("key").cast("long").alias("n_unique_docs"),
        (F.count(F.lit(1)) - F.countDistinct("key"))
        .cast("long")
        .alias("n_dups"),
        F.sum("n_words").cast("long").alias("total_words"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
        F.countDistinct("source").cast("long").alias("n_sources"),
    )
    return card.crossJoin(
        F.broadcast(top_lang.select(F.col("lang").alias("top_lang")))
    ).select(
        "n_docs",
        "n_unique_docs",
        "n_dups",
        "total_words",
        "total_chars",
        "n_langs",
        "top_lang",
        "n_sources",
    )


@query(
    "canary_extraction",
    f"""
    WITH planted AS (
      SELECT doc_id,
             'CANARY-' || substr(md5(doc_id || ':mem:c'), 1, 12) AS canary
      FROM documents
      WHERE {_H32U.format(s="doc_id || ':mem'")} % 1000000 < 200000
    )
    SELECT canary,
           CAST(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS BIGINT)
             AS n_hits,
           (doc_id % 3 = 0) AS extracted
    FROM planted
    """,
)
def canary_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canary gate (`dataprep.inject_canaries` + `detect_canaries`):
    canaries planted into 20% of documents, a simulated leaky model
    emits every third planted doc's canary inside generated text, and
    detection must recover exactly those — per-canary hit counts and
    extraction verdicts. The oracle states the expected outcome in
    closed form from doc_id without running the regex: any drift in
    selection hashing, canary derivation, extraction, or the join
    breaks the hash match."""
    from logstash_spark.operators import dataprep as D  # noqa: PLC0415

    docs = _t(spark, sf_dir, "documents")
    planted = D.inject_canaries(docs, rate_ppm=200_000, seed="mem")
    registry = planted.where(F.col("canary").isNotNull()).select(
        "doc_id", "canary"
    )
    # a "model" that regurgitates every third planted canary inside
    # otherwise-novel generations
    generated = registry.where(F.col("doc_id") % 3 == 0).select(
        F.concat(
            F.lit("model output mentions "),
            F.col("canary"),
            F.lit(" verbatim"),
        ).alias("text")
    )
    return D.detect_canaries(generated, registry)


# floor(1e6 · ln(k)) — the quantized log term; k is always an exact integer
_LQ = "CAST(floor(ln({k}) * 1000000) AS BIGINT)"

_TOKS = "list_filter(string_split(text, ' '), x -> x <> '')"


@query(
    "nb_classifier_train",
    f"""
    WITH lab AS (
      SELECT doc_id, text,
             CASE WHEN {_H32U.format(s="source || ':nb'")} % 2 = 0
                  THEN 'pos' ELSE 'neg' END AS label,
             doc_id % 5 = 4 AS is_test
      FROM documents
    ),
    tr AS (SELECT * FROM lab WHERE NOT is_test),
    trtok AS (
      SELECT label, unnest({_TOKS}) AS token FROM tr
    ),
    tc AS (
      SELECT label, token, CAST(count(*) AS BIGINT) AS cnt
      FROM trtok GROUP BY 1, 2
    ),
    cs AS (SELECT label, CAST(count(*) AS BIGINT) AS n_docs FROM tr GROUP BY 1),
    ct AS (SELECT label, CAST(count(*) AS BIGINT) AS n_tokens FROM trtok GROUP BY 1),
    v AS (SELECT CAST(count(DISTINCT token) AS BIGINT) AS vs FROM trtok),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM tr),
    te AS (
      SELECT doc_id, {_TOKS} AS toks FROM lab WHERE is_test
    ),
    ex AS (SELECT doc_id, unnest(toks) AS token FROM te),
    ms AS (
      SELECT e.doc_id,
        CAST(coalesce(sum(CASE WHEN t.label = 'pos'
          THEN {_LQ.format(k="t.cnt + 1")} END), 0) AS BIGINT) AS ms_pos,
        CAST(coalesce(sum(CASE WHEN t.label = 'neg'
          THEN {_LQ.format(k="t.cnt + 1")} END), 0) AS BIGINT) AS ms_neg
      FROM ex e LEFT JOIN tc t USING (token) GROUP BY 1
    ),
    scored AS (
      SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tok,
        {_LQ.format(k="(SELECT n_docs FROM cs WHERE label = 'pos')")}
          - {_LQ.format(k="(SELECT nd FROM nn)")}
          + coalesce(m.ms_pos, 0)
          - CAST(len(t.toks) AS BIGINT)
            * {_LQ.format(k="(SELECT n_tokens FROM ct WHERE label = 'pos') + (SELECT vs FROM v)")}
          AS nb_score_pos_q,
        {_LQ.format(k="(SELECT n_docs FROM cs WHERE label = 'neg')")}
          - {_LQ.format(k="(SELECT nd FROM nn)")}
          + coalesce(m.ms_neg, 0)
          - CAST(len(t.toks) AS BIGINT)
            * {_LQ.format(k="(SELECT n_tokens FROM ct WHERE label = 'neg') + (SELECT vs FROM v)")}
          AS nb_score_neg_q
      FROM te t LEFT JOIN ms m USING (doc_id)
    )
    SELECT doc_id, n_tok, nb_score_pos_q, nb_score_neg_q,
           CASE WHEN nb_score_pos_q > nb_score_neg_q THEN 'pos'
                ELSE 'neg' END AS nb_label
    FROM scored
    """,
)
def nb_classifier_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train→apply gate for `dataprep.nb_train`/`nb_classify`: an 80%
    doc_id-split training slice labeled by a source-hash rule, the
    multinomial model counted in-cluster, the held-out 20% scored in
    quantized log space (every term floor(10⁶·ln k) of an exact
    integer) with the lexicographic tie rule. The oracle retrains and
    rescores everything independently in DuckDB."""
    from logstash_spark.operators import dataprep as D  # noqa: PLC0415

    docs = _t(spark, sf_dir, "documents")
    lab = docs.select(
        "doc_id",
        "text",
        F.when(
            D.portable_hash32(F.concat(F.col("source"), F.lit(":nb"))) % 2 == 0,
            F.lit("pos"),
        ).otherwise(F.lit("neg")).alias("label"),
        (F.col("doc_id") % 5 == 4).alias("is_test"),
    )
    token_counts, class_stats, vocab = D.nb_train(lab.filter(~F.col("is_test")))
    test = lab.filter(F.col("is_test")).select("doc_id", "text")
    return D.nb_classify(
        test, token_counts, class_stats, vocab, ["neg", "pos"]
    ).select("doc_id", "n_tok", "nb_score_pos_q", "nb_score_neg_q", "nb_label")


@query(
    "mad_outlier_flags",
    """
    WITH med AS (
      SELECT source, CAST(quantile_disc(n_chars, 0.5) AS BIGINT) AS med
      FROM documents GROUP BY source
    ),
    dev AS (
      SELECT d.doc_id, d.source, d.n_chars, m.med,
             abs(d.n_chars - m.med) AS abs_dev
      FROM documents d JOIN med m USING (source)
    ),
    mad AS (
      SELECT source, CAST(quantile_disc(abs_dev, 0.5) AS BIGINT) AS mad
      FROM dev GROUP BY source
    )
    SELECT dev.doc_id, dev.source, dev.n_chars, dev.med,
           CAST(dev.abs_dev AS BIGINT) AS abs_dev, mad.mad,
           dev.abs_dev > 3 * mad.mad AS is_outlier
    FROM dev JOIN mad USING (source)
    """,
)
def mad_outlier_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust-outlier gate (`dataprep.mad_outliers`): per-source lower
    median and MAD of document length, k=3 flags. The oracle uses
    DuckDB's NATIVE quantile_disc aggregate — an independent order-
    statistic implementation that must agree with the grid-window
    derivation exactly."""
    from logstash_spark.operators import dataprep as D  # noqa: PLC0415

    docs = _t(spark, sf_dir, "documents")
    return D.mad_outliers(
        docs.select("doc_id", "source", "n_chars"),
        value_col="n_chars",
        group_col="source",
        k=3,
    ).select("doc_id", "source", "n_chars", "med", "abs_dev", "mad", "is_outlier")


@query(
    "gale_church_align",
    """
    WITH base AS (
      SELECT doc_id, 6 + doc_id % 5 AS n, doc_id % 4 AS mode
      FROM documents
    ),
    ops AS (
      SELECT doc_id, n, mode, unnest(generate_series(0, n - 1)) AS si
      FROM base
    ),
    kept AS (
      SELECT doc_id, n, mode, si
      FROM ops
      WHERE NOT (mode = 1 AND si = 2)
        AND NOT (mode = 2 AND si IN (2, 4))
    )
    SELECT doc_id,
           CASE WHEN mode IN (1, 2) AND si IN (1, 3)
                     AND NOT (mode = 1 AND si = 3) THEN '21'
                WHEN mode = 3 AND si = 1 THEN '12'
                ELSE '11' END AS op,
           CAST(si AS INT) AS si,
           CAST(CASE
             WHEN mode = 0 THEN si
             WHEN mode = 1 THEN CASE WHEN si <= 1 THEN si ELSE si - 1 END
             WHEN mode = 2 THEN CASE WHEN si <= 1 THEN si
                                     WHEN si <= 3 THEN si - 1
                                     ELSE si - 2 END
             ELSE CASE WHEN si <= 1 THEN si ELSE si + 1 END
           END AS INT) AS ti,
           CAST(CASE mode WHEN 0 THEN 0 WHEN 1 THEN 5 WHEN 2 THEN 10
                          ELSE 5 END AS BIGINT) AS align_cost,
           CAST(n AS BIGINT) AS n_src,
           CAST(n + CASE mode WHEN 0 THEN 0 WHEN 1 THEN -1 WHEN 2 THEN -2
                              ELSE 1 END AS BIGINT) AS n_tgt
    FROM kept
    """,
)
def gale_church_align(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence-alignment gate (`dataprep.gale_church_align`): source
    docs get n = 6+doc_id%5 sentences with lengths 20+((7·doc_id+13·i)
    mod 40); targets are built by mode — identical (all 1-1, cost 0),
    one merge of sentences 1-2 (a 2-1, cost = merge penalty), two
    merges at 1-2 and 3-4 (two 2-1s), or a split of sentence 1 (a
    1-2). Each construction's optimal alignment is unique by a ≥8-cost
    margin (every alternative op chain pays ≥ one |13|-length mismatch
    or a 20+-length gap), so the oracle can state the FULL alignment —
    every op row and the total cost — in closed form without running
    the DP."""
    from logstash_spark.operators import dataprep as D  # noqa: PLC0415

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    n = (F.lit(6) + d % 5).cast("int")
    mode = d % 4
    lens = F.transform(
        F.sequence(F.lit(0), n - 1),
        lambda i: (F.lit(20) + F.pmod(d * 7 + i.cast("long") * 13, F.lit(40)))
        .cast("long"),
    )
    a = lambda k0: F.element_at(F.col("src_lens"), k0 + 1)  # noqa: E731
    base = docs.select("doc_id", lens.alias("src_lens"), n.alias("n"), mode.alias("mode"))
    tgt = (
        F.when(F.col("mode") == 0, F.col("src_lens"))
        .when(
            F.col("mode") == 1,
            F.concat(
                F.slice(F.col("src_lens"), 1, 1),
                F.array(a(1) + a(2)),
                F.slice(F.col("src_lens"), 4, F.col("n") - 3),
            ),
        )
        .when(
            F.col("mode") == 2,
            F.concat(
                F.slice(F.col("src_lens"), 1, 1),
                F.array(a(1) + a(2)),
                F.array(a(3) + a(4)),
                F.slice(F.col("src_lens"), 6, F.col("n") - 5),
            ),
        )
        .otherwise(
            F.concat(
                F.slice(F.col("src_lens"), 1, 1),
                F.array(F.expr("src_lens[1] div 2")),
                F.array(a(1) - F.expr("src_lens[1] div 2")),
                F.slice(F.col("src_lens"), 3, F.col("n") - 2),
            )
        )
    )
    paired = base.withColumn("tgt_lens", tgt)
    aligned = D.gale_church_align(
        paired, gap_penalty=50, merge_penalty=5
    )
    return aligned.select(
        "doc_id",
        F.explode("alignment").alias("_a"),
        "align_cost",
        F.size("src_lens").cast("long").alias("n_src"),
        F.size("tgt_lens").cast("long").alias("n_tgt"),
    ).select(
        "doc_id",
        F.col("_a.op").alias("op"),
        F.col("_a.si").alias("si"),
        F.col("_a.ti").alias("ti"),
        "align_cost",
        "n_src",
        "n_tgt",
    )


@query(
    "vocab_drift_js",
    """
    WITH ta AS (
      SELECT t AS tok, CAST(count(*) AS BIGINT) AS a
      FROM (SELECT unnest(string_split(text, ' ')) AS t
            FROM documents WHERE doc_id % 2 = 0)
      WHERE t <> '' GROUP BY 1
    ),
    tb AS (
      SELECT t AS tok, CAST(count(*) AS BIGINT) AS b
      FROM (SELECT unnest(string_split(text, ' ')) AS t
            FROM documents WHERE doc_id % 3 <> 0)
      WHERE t <> '' GROUP BY 1
    ),
    j AS (
      SELECT coalesce(ta.a, 0) AS a, coalesce(tb.b, 0) AS b
      FROM ta FULL OUTER JOIN tb ON ta.tok = tb.tok
    ),
    tot AS (
      SELECT CAST(sum(a) AS BIGINT) AS ta_n, CAST(sum(b) AS BIGINT) AS tb_n
      FROM j
    ),
    x AS (
      SELECT a, b, ta_n, tb_n,
             CAST(floor(ln(CAST(a*tb_n + b*ta_n AS DOUBLE)) * 1000000.0)
                  AS BIGINT) AS den
      FROM j CROSS JOIN tot
    ),
    s AS (
      SELECT
        CAST(sum(CASE WHEN a > 0 THEN 1 ELSE 0 END) AS BIGINT) AS types_a,
        CAST(sum(CASE WHEN b > 0 THEN 1 ELSE 0 END) AS BIGINT) AS types_b,
        CAST(sum(CASE WHEN a > 0 AND b > 0 THEN 1 ELSE 0 END) AS BIGINT)
          AS types_common,
        CAST(sum(CASE WHEN b > 0 AND a = 0 THEN 1 ELSE 0 END) AS BIGINT)
          AS types_new,
        CAST(sum(CASE WHEN a > 0 AND b = 0 THEN 1 ELSE 0 END) AS BIGINT)
          AS types_lost,
        max(ta_n) AS tokens_a, max(tb_n) AS tokens_b,
        CAST(sum(CASE WHEN a > 0 THEN a * (
          CAST(floor(ln(CAST(2*a*tb_n AS DOUBLE)) * 1000000.0) AS BIGINT)
          - den) ELSE 0 END) AS BIGINT) AS sp,
        CAST(sum(CASE WHEN b > 0 THEN b * (
          CAST(floor(ln(CAST(2*b*ta_n AS DOUBLE)) * 1000000.0) AS BIGINT)
          - den) ELSE 0 END) AS BIGINT) AS sq,
        CAST(sum(abs(a*tb_n - b*ta_n)) AS BIGINT) AS stv
      FROM x
    )
    SELECT types_a, types_b, types_common, types_new, types_lost,
           tokens_a, tokens_b,
           CAST(floor((CAST(sp AS DOUBLE) / tokens_a
                       + CAST(sq AS DOUBLE) / tokens_b) / 2.0) AS BIGINT)
             AS js_micro,
           CAST((stv * 500000) // (tokens_a * tokens_b) AS BIGINT) AS tv_ppm
    FROM s
    """,
)
def vocab_drift_js(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-version drift gate (`dataprep.vocab_drift`): two
    overlapping deterministic slices of documents stand in for release
    v(n) / v(n+1); the gate pins type churn (new/lost/common), total
    token counts, quantized-micro-nat Jensen-Shannon divergence, and
    exact-ppm total variation. The oracle re-derives every L(k) from
    the same exact integers, so a drift in either engine's tokenize,
    join, or quantization breaks the hash."""
    from logstash_spark.operators.dataprep import vocab_drift  # noqa: PLC0415

    docs = _t(spark, sf_dir, "documents")
    va = docs.where(F.col("doc_id") % 2 == 0)
    vb = docs.where(F.col("doc_id") % 3 != 0)
    return vocab_drift(va, vb)
