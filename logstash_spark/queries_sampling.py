"""Correctness gates for sampling, mixing, sharding and split policies.
Each `@query` pairs a Spark query over the driver test tables with the
DuckDB SQL that re-derives its result; `queries` collects them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from logstash_spark.operators import dataprep as D
from logstash_spark.queries_common import _H32, _H32U, _STOPS_SQL, _t, query


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
        _t(spark, sf_dir, "documents"), budget=_TOKEN_BUDGET, group_col="source"
    )


_RATES = {"en": 0.5, "de": 0.25}
_DEFAULT_RATE = 0.1
_SCALE = 1_000_000


@query(
    "stratified_sample_det",
    f"""
    SELECT doc_id, lang, source
    FROM documents
    WHERE {_H32.format(x="CAST(doc_id AS VARCHAR) || ':strat'")} % {_SCALE}
          < CASE lang WHEN 'de' THEN 250000 WHEN 'en' THEN 500000
                      ELSE 100000 END
    """,
)
def stratified_sample_det(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-stratum downsampling (`dataprep.stratified_sample`):
    keep en at 50%, de at 25%, everything else at 10%, decided by
    `portable_hash32(doc_id ':strat') % 10^6` against literal thresholds.
    ONE pushdown-able filter — zero shuffle; the identical md5 hash on
    both engines makes the sample membership bit-for-bit reproducible."""
    docs = _t(spark, sf_dir, "documents")
    out = D.stratified_sample(
        docs, _RATES, default_rate=_DEFAULT_RATE, seed="strat", scale=_SCALE
    )
    return out.select("doc_id", "lang", "source")


_N_SHARDS = 8


@query(
    "shard_assign_det",
    f"""
    WITH h AS (
      SELECT doc_id,
             CAST({_H32.format(x="CAST(doc_id AS VARCHAR) || ':shard'")}
                  % {_N_SHARDS} AS INTEGER) AS shard,
             {_H32.format(x="CAST(doc_id AS VARCHAR) || ':shard:ord'")} AS shard_ord
      FROM documents
    )
    SELECT doc_id, shard, shard_ord,
           CAST(row_number() OVER (PARTITION BY shard
                                   ORDER BY shard_ord, doc_id) AS INTEGER)
             AS shard_pos
    FROM h
    """,
)
def shard_assign_det(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-shard assignment (`dataprep.shard_assign`):
    shard = hash(doc_id ':shard') % 8, within-shard order by an
    independent second hash — a reproducible global shuffle for epoch-
    stable training export. The gate uses the row_number form (ONE
    shuffle on shard); the production path for n_shards << cores is
    repartition + sortWithinPartitions (same order, no window)."""
    docs = _t(spark, sf_dir, "documents")
    out = D.shard_assign(docs, _N_SHARDS, seed="shard")
    return out.select("doc_id", "shard", "shard_ord", "shard_pos")


_B = 256  # hashed-feature buckets
_T = -21  # resample threshold: ~median logw2 on the documents table
_SEED = 7


@query(
    "dsir_importance_resample",
    f"""
    WITH wd AS (
      SELECT doc_id, source, list_filter(string_split(text, ' '), x -> x != '') AS w
      FROM documents
    ),
    gr AS (
      SELECT doc_id, source,
             list_concat(w, CASE WHEN len(w) >= 2
               THEN list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])
               ELSE CAST([] AS VARCHAR[]) END) AS grams
      FROM wd
    ),
    gb AS (
      SELECT doc_id, source,
             CAST(CAST('0x' || substr(md5(g), 1, 8) AS BIGINT) % {_B} AS INT) AS bucket
      FROM (SELECT doc_id, source, unnest(grams) AS g FROM gr)
    ),
    tcnt AS (SELECT bucket, count(*) AS t_cnt FROM gb WHERE source = 'src0' GROUP BY bucket),
    rcnt AS (SELECT bucket, count(*) AS r_cnt FROM gb GROUP BY bucket),
    dense AS (SELECT CAST(r AS INT) AS bucket FROM range(0, {_B}) t(r)),
    model AS (
      SELECT bucket, coalesce(t_cnt, 0) AS t_cnt, coalesce(r_cnt, 0) AS r_cnt
      FROM dense LEFT JOIN tcnt USING (bucket) LEFT JOIN rcnt USING (bucket)
    ),
    tot AS (SELECT sum(t_cnt) AS tt, sum(r_cnt) AS rt FROM model),
    ratio AS (
      SELECT bucket,
             CAST((floor(log2(t_cnt + 1)) - floor(log2(tt + {_B})))
                - (floor(log2(r_cnt + 1)) - floor(log2(rt + {_B}))) AS INT) AS logr2
      FROM model, tot
    ),
    per AS (
      SELECT gb.doc_id, count(*) AS n_grams, sum(ratio.logr2) AS logw2
      FROM gb JOIN ratio USING (bucket) GROUP BY gb.doc_id
    ),
    scored AS (
      SELECT d.doc_id,
             CAST(coalesce(per.n_grams, 0) AS INT) AS n_grams,
             CAST(coalesce(per.logw2, 0) AS BIGINT) AS logw2
      FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
    )
    SELECT doc_id, n_grams, logw2,
           CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':{_SEED}'), 1, 8) AS BIGINT) AS u32,
           (({_T} - logw2) <= 0
            OR (({_T} - logw2) < 32
                AND CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':{_SEED}'), 1, 8) AS BIGINT)
                    < (CAST(1 AS BIGINT)
                       << CAST(least(greatest(32 - ({_T} - logw2), 0), 32) AS INT)))) AS keep
    FROM scored
    """,
)
def dsir_importance_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR over the documents table: target = source 'src0', raw = the
    whole corpus. Fit hashed unigram+bigram bag-of-words log-ratios
    (dense 256-bucket model), score every doc map-only via the literal
    ratio table (zero shuffle), Bernoulli-resample at the median weight.
    Threshold -21 ≈ the corpus median, so the gate exercises all three
    branches: deterministic keep (logw2 ≥ T), probabilistic keep
    (0 < deficit < 32), deterministic drop (deficit ≥ 32)."""
    from logstash_spark.operators import dsir as DS

    docs = _t(spark, sf_dir, "documents")
    target = docs.where(F.col("source") == "src0")
    model = DS.dsir_fit(target, docs, text_col="text", buckets=_B)
    scored = DS.dsir_score(docs, model, id_col="doc_id", text_col="text", buckets=_B)
    out = DS.dsir_resample(
        scored, id_col="doc_id", logw2_col="logw2", threshold=_T, seed=_SEED
    )
    return out.select(
        "doc_id",
        F.col("n_grams").cast("int").alias("n_grams"),
        F.col("logw2").cast("long").alias("logw2"),
        "u32",
        "keep",
    )


_RES_K = 7
_RES_SEED = "res"


@query(
    "reservoir_sample_k",
    f"""
    SELECT doc_id, lang, CAST(sample_rank AS INTEGER) AS sample_rank
    FROM (
      SELECT doc_id, lang,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                                                || ':{_RES_SEED}'), 1, 8) AS BIGINT) ASC,
                        doc_id ASC) AS sample_rank
      FROM documents
    ) WHERE sample_rank <= {_RES_K}
    """,
)
def reservoir_sample_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-{_RES_K}-per-language uniform sample (`dataprep.
    reservoir_sample_k`): hash-ranked without-replacement selection,
    bit-identical across engines and re-runs — the eval-split /
    review-batch primitive that `stratified_sample` (rate-based)
    cannot guarantee an exact count for."""
    from logstash_spark.operators import dataprep as D

    docs = _t(spark, sf_dir, "documents")
    out = D.reservoir_sample_k(
        docs, _RES_K, groups=("lang",), key_col="doc_id", seed=_RES_SEED
    )
    return out.select("doc_id", "lang", "sample_rank")


_TM_TOTAL = 200


@query(
    "temperature_mix",
    f"""
    WITH c AS (
      SELECT source, count(*) AS src_count FROM documents GROUP BY source
    ),
    w AS (
      SELECT source, src_count,
             CAST(floor(sqrt(CAST(src_count AS DOUBLE))) AS BIGINT) AS w
      FROM c
    ),
    q AS (
      SELECT source, src_count,
             least(src_count,
                   CAST(floor({_TM_TOTAL} * w / (SELECT sum(w) FROM w))
                        AS BIGINT)) AS src_quota
      FROM w
    )
    SELECT d.doc_id, d.source, q.src_count, q.src_quota,
           ({_H32.format(x="CAST(d.doc_id AS VARCHAR) || ':tmix'")}
            % q.src_count) < q.src_quota AS mix_keep
    FROM documents d JOIN q USING (source)
    """,
)
def temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted source-mixing gate
    (`dataprep.temperature_mix`; Arivazhagan et al. 2019 §4): per-source
    quota ∝ √n_s (τ=1/2 as one integer square root — floor(sqrt(double))
    is correctly rounded IEEE in every engine), doc keep = md5-uniform
    mod n_s < quota. The corpus never shuffles: ONE tiny groupBy(source)
    plus a broadcast join back."""
    from logstash_spark.operators import dataprep as D

    docs = _t(spark, sf_dir, "documents")
    out = D.temperature_mix(
        docs.select("doc_id", "source"), target_total=_TM_TOTAL
    )
    return out.select("doc_id", "source", "src_count", "src_quota", "mix_keep")


@query(
    "epoch_replication",
    f"""
    WITH e AS (
      SELECT doc_id, source,
             CASE WHEN source = 'src0' THEN 24500
                  WHEN source = 'src1' THEN 8000
                  ELSE 10000 END AS bp,
             {_H32.format(x="CAST(doc_id AS VARCHAR) || ':epoch'")} AS h
      FROM documents
    ),
    c AS (
      SELECT doc_id, source,
             CAST(bp // 10000
                  + CASE WHEN h % 10000 < bp % 10000 THEN 1 ELSE 0 END
               AS INT) AS copies
      FROM e
    )
    SELECT doc_id, source, CAST(unnest(range(0, copies)) AS INT) AS epoch_idx
    FROM c WHERE copies > 0
    """,
)
def epoch_replication(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch-replication gate (`dataprep.epoch_replicate`; the LLaMA
    data-recipe 'epochs' column): src0 at 2.45 epochs (every doc twice,
    an md5-selected 45% a third time), src1 downsampled to 0.8 epochs,
    everything else exactly once. Map-side posexplode, zero shuffle;
    expected row count per source = n_s·e_s."""
    from logstash_spark.operators import dataprep as D

    docs = _t(spark, sf_dir, "documents")
    out = D.epoch_replicate(
        docs.select("doc_id", "source"),
        epochs_bp={"src0": 24500, "src1": 8000},
    )
    return out.select("doc_id", "source", "epoch_idx")


@query(
    "url_lang_pairing",
    f"""
    WITH d AS (
      SELECT doc_id,
             CASE doc_id % 4 WHEN 0 THEN 'en' WHEN 1 THEN 'fr'
                             WHEN 2 THEN 'de' ELSE '' END AS lang,
             'https://s' || (doc_id % 60) || '.example'
               || CASE WHEN doc_id % 9 = 0 THEN ''
                       ELSE '/p' || (doc_id % 7) END AS canon
      FROM documents
    ),
    c AS (SELECT * FROM d WHERE lang != '')
    SELECT a.canon, a.lang AS lang_a, a.doc_id AS doc_a,
           b.lang AS lang_b, b.doc_id AS doc_b
    FROM c a JOIN c b
      ON a.canon = b.canon AND a.lang < b.lang
    """,
)
def url_lang_pairing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitext-seed gate (`dataprep.url_lang_variants` +
    `url_lang_pairs`): synthesized multilingual-site URLs — /en/ /fr/
    /de/ variants of shared pages, a no-lang control arm, and a
    no-trailing-path arm (exercising the optional regex group in both
    engines). The oracle derives lang and canonical URL in closed form
    from doc_id, never touching the extraction regex — an extractor
    defect cannot cancel out."""
    from logstash_spark.operators import dataprep as D  # noqa: PLC0415

    docs = _t(spark, sf_dir, "documents")
    i = F.col("doc_id")
    url = F.concat(
        F.lit("https://s"),
        (i % 60).cast("string"),
        F.lit(".example"),
        F.when(i % 4 == 0, F.lit("/en"))
        .when(i % 4 == 1, F.lit("/fr"))
        .when(i % 4 == 2, F.lit("/de"))
        .otherwise(F.lit("")),
        F.when(i % 9 == 0, F.lit("")).otherwise(
            F.concat(F.lit("/p"), (i % 7).cast("string"))
        ),
    )
    built = docs.select("doc_id", url.alias("url"))
    return D.url_lang_pairs(built)


_REF = "2024-02-15 00:00:00"


@query(
    "recency_sampling",
    f"""
    WITH a AS (
      SELECT event_id,
             CAST((CAST(epoch(TIMESTAMP '{_REF}') AS BIGINT)
                   - CAST(floor(epoch(ts)) AS BIGINT)) // 86400 AS BIGINT)
               AS age_days
      FROM events
    ),
    h AS (
      SELECT event_id,
             least(greatest(age_days, 0) // 7, 20) AS halvings
      FROM a
    )
    SELECT event_id,
           CAST(halvings AS BIGINT) AS _halvings,
           ({_H32U.format(s="event_id || ':recency'")} % 1048576)
             < (1 << (20 - halvings)) AS _keep
    FROM h
    """,
)
def recency_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-sampling gate (`dataprep.recency_weighted_sample`): the
    events table against a fixed reference instant — keep-probability
    halves every 7 days of age, ages spanning 16-45 days so several
    halving buckets occur. Pure integer shifts against the md5 uniform;
    oracle replays the arithmetic independently. Zero shuffle."""
    from logstash_spark.operators import dataprep as D  # noqa: PLC0415

    events = _t(spark, sf_dir, "events")
    out = D.recency_weighted_sample(
        events, reference_ts=_REF, half_life_days=7
    )
    return out.select("event_id", "_halvings", "_keep")


@query(
    "field_coverage",
    """
    WITH v AS (
      SELECT doc_id,
             CASE WHEN doc_id % 7 = 0 THEN NULL ELSE lang END AS lang,
             CASE WHEN doc_id % 5 = 0 THEN '  ' ELSE source END AS source,
             CAST(n_chars AS VARCHAR) AS n_chars_s
      FROM documents
    ),
    u AS (
      SELECT 'lang' AS col, lang AS val FROM v
      UNION ALL SELECT 'source', source FROM v
      UNION ALL SELECT 'n_chars_s', n_chars_s FROM v
    )
    SELECT col,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN val IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_null,
           CAST(sum(CASE WHEN val IS NOT NULL AND trim(val) = ''
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_blank,
           CAST(count(DISTINCT val) AS BIGINT) AS n_distinct,
           CAST(((count(*) - sum(CASE WHEN val IS NULL THEN 1 ELSE 0 END))
                 * 1000000) // count(*) AS BIGINT) AS coverage_ppm
    FROM u GROUP BY col
    """,
)
def field_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Field-profile gate (`dataprep.field_coverage_profile`): documents
    with injected nulls (every 7th lang) and blanks (every 5th source)
    profiled in one explode+groupBy pass. Oracle is an independent
    UNION-ALL per-column aggregation."""
    from logstash_spark.operators import dataprep as D  # noqa: PLC0415

    docs = _t(spark, sf_dir, "documents")
    i = F.col("doc_id")
    v = docs.select(
        F.when(i % 7 == 0, F.lit(None)).otherwise(F.col("lang")).alias("lang"),
        F.when(i % 5 == 0, F.lit("  ")).otherwise(F.col("source")).alias(
            "source"
        ),
        F.col("n_chars").cast("string").alias("n_chars_s"),
    )
    return D.field_coverage_profile(v, ["lang", "source", "n_chars_s"])


@query(
    "leakage_safe_split",
    f"""
    WITH d AS (
      SELECT doc_id, doc_id % 120 AS cluster,
             {_H32U.format(s="(doc_id % 120) || ':split'")} % 1000000 AS u
      FROM documents
    ),
    s AS (
      SELECT doc_id, cluster,
             CASE WHEN u < 900000 THEN 'train'
                  WHEN u < 950000 THEN 'val'
                  ELSE 'test' END AS split
      FROM d
    ),
    g AS (
      SELECT cluster, split,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(count(DISTINCT split)
                    OVER (PARTITION BY cluster) AS BIGINT)
               AS splits_in_cluster
      FROM s GROUP BY cluster, split
    )
    SELECT cluster, split, n_docs, splits_in_cluster FROM g
    """,
)
def leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe-split gate (`dataprep.grouped_split`): documents
    carry a synthetic dedup-cluster id; splits are assigned by hashing
    the CLUSTER, and the gated output includes each cluster's distinct-
    split count — which the oracle states must equal 1 per cluster by
    construction, so any row-level (leaky) assignment breaks the hash
    match, not just a unit test."""
    from logstash_spark.operators import dataprep as D  # noqa: PLC0415

    docs = _t(spark, sf_dir, "documents")
    clustered = docs.select(
        "doc_id", (F.col("doc_id") % 120).alias("cluster")
    )
    split = D.grouped_split(clustered, group_col="cluster")
    g = split.groupBy("cluster", "split").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    from pyspark.sql.window import Window  # noqa: PLC0415

    w = Window.partitionBy("cluster")
    return g.withColumn(
        "splits_in_cluster",
        F.size(F.collect_set("split").over(w)).cast("long"),
    )


@query(
    "weighted_sample_k",
    f"""
    WITH scored AS (
      SELECT doc_id, source, n_chars,
             CAST(floor(
               CAST(CAST(floor(ln({_H32U.format(s="doc_id || ':wres'")}
                                  % 1000000 + 1) * 1000000) AS BIGINT)
                    - 13815510 AS DOUBLE)
               / greatest(n_chars, 1)
             ) AS BIGINT) AS wres_key_q
      FROM documents
    ),
    ranked AS (
      SELECT *, CAST(row_number() OVER (
               PARTITION BY source
               ORDER BY wres_key_q DESC, doc_id ASC) AS INT) AS sample_rank
      FROM scored
    )
    SELECT doc_id, source, n_chars, wres_key_q, sample_rank
    FROM ranked WHERE sample_rank <= 10
    """,
)
def weighted_sample_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted-sampling gate (`dataprep.weighted_sample_k`): 10 docs
    per source with inclusion odds ∝ n_chars (the A-Res key with a
    hash uniform). The oracle replays the quantized key formula —
    L(10⁶) = 13815510 stated as the literal both engines must agree
    on — and the full rank."""
    from logstash_spark.operators import dataprep as D  # noqa: PLC0415

    docs = _t(spark, sf_dir, "documents")
    return D.weighted_sample_k(
        docs.select("doc_id", "source", "n_chars"),
        10,
        weight_col="n_chars",
        groups=("source",),
    ).select("doc_id", "source", "n_chars", "wres_key_q", "sample_rank")


_BUDGET = 300


@query(
    "waterfill_budget",
    f"""
    WITH counts AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n
      FROM documents GROUP BY 1
    ),
    idx AS (
      SELECT *,
             row_number() OVER (ORDER BY n, source) AS i,
             sum(n) OVER (ORDER BY n, source) - n AS pfx,
             count(*) OVER () AS s,
             sum(n) OVER () AS tot,
             lag(n, 1, 0) OVER (ORDER BY n, source) AS prev_n
      FROM counts
    ),
    lvl AS (
      SELECT CAST(({_BUDGET} - pfx) // (s - i + 1) AS BIGINT) AS level,
             CAST({_BUDGET} - pfx
                  - (({_BUDGET} - pfx) // (s - i + 1)) * (s - i + 1)
               AS BIGINT) AS rem
      FROM idx
      WHERE tot > {_BUDGET}
        AND ({_BUDGET} - pfx) // (s - i + 1) >= prev_n
        AND ({_BUDGET} - pfx) // (s - i + 1) < n
      UNION ALL
      SELECT CAST(max(n) AS BIGINT), CAST(0 AS BIGINT)
      FROM idx HAVING sum(n) <= {_BUDGET}
    ),
    out AS (
      SELECT c.source, c.n, lvl.level, lvl.rem,
             CASE WHEN c.n > lvl.level THEN 1 ELSE 0 END AS capped,
             sum(CASE WHEN c.n > lvl.level THEN 1 ELSE 0 END)
               OVER (ORDER BY c.source) AS capped_rank
      FROM counts c CROSS JOIN lvl
    )
    SELECT source, n AS n_avail,
           CAST(least(n, level)
                + CASE WHEN capped = 1 AND capped_rank <= rem
                       THEN 1 ELSE 0 END AS BIGINT) AS alloc,
           CAST(level AS BIGINT) AS water_level
    FROM out
    """,
)
def waterfill_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Water-filling gate (`dataprep.waterfill_budget`): a global
    300-doc budget split across the per-source doc counts — binding at
    every sf (20 sources × 25+ docs). The oracle replays the sorted-
    prefix level search and the deterministic remainder distribution;
    Σ alloc == min(budget, total) exactly."""
    from logstash_spark.operators import dataprep as D  # noqa: PLC0415

    docs = _t(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(
        F.count("*").cast("long").alias("n_avail")
    )
    return D.waterfill_budget(counts, _BUDGET)


@query(
    "mix_divergence",
    """
    WITH counts AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY 1
    ),
    base AS (
      SELECT source, n,
             CAST((CAST(substr(source, 4) AS INT) % 5) + 1 AS BIGINT) AS w,
             CAST(sum(n) OVER () AS BIGINT) AS nn
      FROM counts
    ),
    scored AS (
      SELECT source, n, TRUE AS in_target,
             n * (CAST(floor(ln(n) * 1000000) AS BIGINT)
                  - CAST(floor(ln(nn) * 1000000) AS BIGINT)
                  - CAST(floor(ln(w) * 1000000) AS BIGINT)
                  + CAST(floor(ln(120) * 1000000) AS BIGINT))
               AS kl_contrib_micro,
             nn
      FROM base
    )
    SELECT source, n, in_target, kl_contrib_micro,
           CAST((SELECT sum(kl_contrib_micro) FROM scored)
                // (SELECT any_value(nn) FROM scored) AS BIGINT)
             AS kl_micro_total
    FROM scored
    """,
)
def mix_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mix-drift gate (`dataprep.mix_divergence`): realized per-source
    doc counts vs a formula target mix (w(src_k) = k%5+1 over the
    src0..src39 superset, W = 120). Every KL term is exact int64 via
    the shared L(k) = floor(10⁶·ln k) quantization; the oracle replays
    the arithmetic from the same weight formula."""
    from logstash_spark.operators import dataprep as D  # noqa: PLC0415

    docs = _t(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(F.count("*").cast("long").alias("n"))
    weights = {f"src{k}": (k % 5) + 1 for k in range(40)}
    return D.mix_divergence(counts, weights)


@query(
    "mix_pipeline_e2e",
    """
    WITH ranked AS (
      SELECT doc_id, source, n_chars,
             row_number() OVER (PARTITION BY source
                                ORDER BY n_chars, doc_id) AS r,
             count(*) OVER (PARTITION BY source) AS ng
      FROM documents
    ),
    q AS (
      SELECT doc_id, source,
             CAST(CASE WHEN ng > 1 THEN (r - 1) * 1000000 // (ng - 1)
                       ELSE 500000 END AS BIGINT) AS q_ppm
      FROM ranked
    ),
    eligible AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n
      FROM q WHERE q_ppm >= 500000 GROUP BY 1
    ),
    idx AS (
      SELECT *,
             row_number() OVER (ORDER BY n, source) AS i,
             sum(n) OVER (ORDER BY n, source) - n AS pfx,
             count(*) OVER () AS s,
             sum(n) OVER () AS tot,
             lag(n, 1, 0) OVER (ORDER BY n, source) AS prev_n
      FROM eligible
    ),
    lvl AS (
      SELECT CAST((100 - pfx) // (s - i + 1) AS BIGINT) AS level,
             CAST(100 - pfx
                  - ((100 - pfx) // (s - i + 1)) * (s - i + 1)
               AS BIGINT) AS rem
      FROM idx
      WHERE tot > 100
        AND (100 - pfx) // (s - i + 1) >= prev_n
        AND (100 - pfx) // (s - i + 1) < n
      UNION ALL
      SELECT CAST(max(n) AS BIGINT), CAST(0 AS BIGINT)
      FROM idx HAVING sum(n) <= 100
    ),
    out AS (
      SELECT c.source, c.n, lvl.level, lvl.rem,
             CASE WHEN c.n > lvl.level THEN 1 ELSE 0 END AS capped,
             sum(CASE WHEN c.n > lvl.level THEN 1 ELSE 0 END)
               OVER (ORDER BY c.source) AS capped_rank
      FROM eligible c CROSS JOIN lvl
    )
    SELECT source, n AS n_avail,
           CAST(least(n, level)
                + CASE WHEN capped = 1 AND capped_rank <= rem
                       THEN 1 ELSE 0 END AS BIGINT) AS alloc,
           CAST(level AS BIGINT) AS water_level
    FROM out
    """,
)
def mix_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed mix-pipeline gate: quantile-normalize per-source length
    ranks (`quantile_normalize`), keep each source's upper half (a
    NORMALIZED threshold means the same thing in every source), count
    eligibles, then water-fill a global 100-doc budget across the
    eligible pools (`waterfill_budget`). The oracle replays the whole
    chain — proves the two operators compose on real ranks, not just in
    isolation."""
    from logstash_spark.operators import dataprep as D  # noqa: PLC0415

    docs = _t(spark, sf_dir, "documents")
    normed = D.quantile_normalize(docs.select("doc_id", "source", "n_chars"))
    eligible = (
        normed.where(F.col("q_ppm") >= 500_000)
        .groupBy("source")
        .agg(F.count("*").cast("long").alias("n_avail"))
    )
    return D.waterfill_budget(eligible, 100)


@query(
    "rendezvous_sharding",
    f"""
    WITH shards AS (
      SELECT unnest(['s0','s1','s2','s3','s4','s5','s6','s7']) AS shard
    ),
    scored AS (
      SELECT d.doc_id, s.shard,
             {_H32U.format(s="CAST(d.doc_id AS VARCHAR) || ':hrw:' || s.shard")}
               AS h
      FROM documents d CROSS JOIN shards s
    ),
    ranked AS (
      SELECT doc_id, shard,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY h DESC, shard ASC) AS rn
      FROM scored
    )
    SELECT doc_id, shard FROM ranked WHERE rn = 1
    """,
)
def rendezvous_sharding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HRW-sharding gate (`dataprep.rendezvous_shard`): 8 named shards
    over the documents table. The operator evaluates the argmax
    ARRAY-LOCALLY (zero shuffle); the oracle re-derives it RELATIONALLY
    (cross join + window argmax) — different topologies, identical
    assignment."""
    from logstash_spark.operators import dataprep as D  # noqa: PLC0415

    docs = _t(spark, sf_dir, "documents")
    return D.rendezvous_shard(
        docs.select("doc_id"), [f"s{i}" for i in range(8)]
    ).select("doc_id", "shard")
