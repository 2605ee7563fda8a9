"""Correctness gates for SFT, preference and span-corruption training-
example builders. Each `@query` pairs a Spark query over the driver test
tables with the DuckDB SQL that re-derives its result; `queries`
collects them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from logstash_spark.queries_common import _H32, _H32U, _TOK_N, _TOK_SQL, _t, query


_FIM_RATE = 50


@query(
    "fim_transform",
    f"""
    WITH docs AS (
      SELECT doc_id, CAST({_TOK_N} AS INT) AS n, {_TOK_SQL} AS t
      FROM documents
    ),
    h AS (
      SELECT doc_id, n, t,
             {_H32.format(x="CAST(doc_id AS VARCHAR) || ':fim:a'")} AS h1,
             {_H32.format(x="CAST(doc_id AS VARCHAR) || ':fim:b'")} AS h2,
             {_H32.format(x="CAST(doc_id AS VARCHAR) || ':fim:sel'")} AS hsel
      FROM docs
    ),
    c AS (
      SELECT doc_id, n, t,
             (hsel % 100 < {_FIM_RATE} AND n >= 4) AS selected,
             least(CAST(h1 % greatest(n - 1, 1) + 1 AS INT),
                   CAST(h2 % greatest(n - 1, 1) + 1 AS INT)) AS lo,
             greatest(CAST(h1 % greatest(n - 1, 1) + 1 AS INT),
                      CAST(h2 % greatest(n - 1, 1) + 1 AS INT)) AS hi
      FROM h
    ),
    f AS (
      SELECT doc_id, selected,
             CASE WHEN selected THEN
               [CAST(50281 AS INT)] || t[1:lo]
               || [CAST(50283 AS INT)] || t[hi+1:n]
               || [CAST(50282 AS INT)] || t[lo+1:hi]
             ELSE t END AS toks
      FROM c
    )
    SELECT doc_id,
           md5(array_to_string(toks, ',')) AS tokens_md5,
           CAST(len(toks) AS INT) AS n_tok,
           selected AS fim_applied
    FROM f
    """,
)
def fim_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill-in-the-middle transform gate (`dataprep.fim_transform`;
    Bavarian et al. 2022): hash-selected 50% of docs reorder to
    ``[PRE] prefix [SUF] suffix [MID] middle`` with cut points derived
    from md5 — zero RNG state, zero shuffle, pure slice/concat algebra.
    The driver canonicalizer can't sort raw arrays, so the gate emits
    md5-canonicalized token payloads (same convention as
    token_chunking); the raw arrays are covered by unit tests."""
    from pyspark.sql import functions as FN

    from logstash_spark.operators import dataprep as D

    docs = _t(spark, sf_dir, "documents")
    n = (FN.col("doc_id") % 37 + 3).cast("int")
    toks = FN.transform(
        FN.sequence(FN.lit(0), n - 1),
        lambda i: ((FN.col("doc_id") * 7 + i * 13) % 50000).cast("int"),
    )
    src = docs.select("doc_id", toks.alias("tokens"))
    out = D.fim_transform(src, rate_pct=_FIM_RATE)
    return out.select(
        "doc_id",
        FN.md5(
            FN.concat_ws(",", FN.col("tokens").cast("array<string>"))
        ).alias("tokens_md5"),
        "n_tok",
        "fim_applied",
    )


# longer synthetic sequences than the FIM gate so k spans multiple
# segments (n ∈ [3, 151] → k up to 7 at rate 15 / span 3)
_SC_N = "(doc_id % 149) + 3"
_SC_TOK = (
    f"list_transform(range(0, {_SC_N}), "
    "i -> CAST((doc_id * 7 + i * 13) % 50000 AS INTEGER))"
)


@query(
    "span_corruption",
    f"""
    WITH docs AS (
      SELECT doc_id, CAST({_SC_N} AS INT) AS n, {_SC_TOK} AS t
      FROM documents
    ),
    k AS (
      SELECT doc_id, n, t,
             n >= 8 AS eligible,
             greatest(1, least(n * 15 // 300, n // 3, 100)) AS k
      FROM docs
    ),
    s AS (SELECT doc_id, n, t, eligible, k, n // k AS seg FROM k),
    built AS (
      SELECT doc_id, eligible,
        CASE WHEN eligible THEN
          flatten(list_transform(range(0, k), i ->
            t[i*seg+1 : i*seg +
              ({_H32.format(x="CAST(doc_id AS VARCHAR) || ':spanc:' || CAST(i AS VARCHAR)")}
               % greatest(seg - 2, 1))]
            || [CAST(32099 - i AS INTEGER)]
            || t[i*seg +
                 ({_H32.format(x="CAST(doc_id AS VARCHAR) || ':spanc:' || CAST(i AS VARCHAR)")}
                  % greatest(seg - 2, 1)) + 4
               : CASE WHEN i = k - 1 THEN n ELSE (i+1)*seg END]))
        ELSE t END AS inputs,
        CASE WHEN eligible THEN
          flatten(list_transform(range(0, k), i ->
            [CAST(32099 - i AS INTEGER)]
            || t[i*seg +
                 ({_H32.format(x="CAST(doc_id AS VARCHAR) || ':spanc:' || CAST(i AS VARCHAR)")}
                  % greatest(seg - 2, 1)) + 1
               : i*seg +
                 ({_H32.format(x="CAST(doc_id AS VARCHAR) || ':spanc:' || CAST(i AS VARCHAR)")}
                  % greatest(seg - 2, 1)) + 3]))
          || [CAST(32099 - k AS INTEGER)]
        ELSE CAST([] AS INTEGER[]) END AS targets
      FROM s
    )
    SELECT doc_id,
           md5(array_to_string(inputs, ',')) AS inputs_md5,
           md5(coalesce(array_to_string(targets, ','), '')) AS targets_md5,
           CAST(len(inputs) AS INT) AS n_input,
           CAST(len(targets) AS INT) AS n_target,
           eligible AS corrupted
    FROM built
    """,
)
def span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5 span-corruption gate (`dataprep.span_corrupt`; Raffel et al.
    2020 §3.1.4): 15% of tokens in hash-placed fixed-length-3 spans per
    equal segment, inputs collapse each span to a descending sentinel,
    targets replay sentinel+span closed by a final sentinel. The driver
    canonicalizer can't sort raw arrays → md5-canonicalized payloads
    (token_chunking convention); raw arrays pinned by unit tests."""
    from pyspark.sql import functions as FN

    from logstash_spark.operators import dataprep as D

    docs = _t(spark, sf_dir, "documents")
    n = (FN.col("doc_id") % 149 + 3).cast("int")
    toks = FN.transform(
        FN.sequence(FN.lit(0), n - 1),
        lambda i: ((FN.col("doc_id") * 7 + i * 13) % 50000).cast("int"),
    )
    src = docs.select("doc_id", toks.alias("tokens"))
    out = D.span_corrupt(src, rate_pct=15, span_len=3, min_len=8)
    return out.select(
        "doc_id",
        FN.md5(
            FN.concat_ws(",", FN.col("inputs").cast("array<string>"))
        ).alias("inputs_md5"),
        FN.md5(
            FN.concat_ws(",", FN.col("targets").cast("array<string>"))
        ).alias("targets_md5"),
        "n_input",
        "n_target",
        "corrupted",
    )


@query(
    "sft_loss_mask",
    f"""
    WITH d AS (
      SELECT doc_id, CAST({_TOK_N} AS INT) AS n, {_TOK_SQL} AS t,
             CAST(doc_id % 45 AS INT) AS prompt_len
      FROM documents
    ),
    m AS (
      SELECT doc_id, prompt_len,
             list_transform(range(1, n + 1),
               i -> CASE WHEN i <= prompt_len THEN -100 ELSE t[i] END)
               AS labels,
             least(greatest(prompt_len, 0), n) AS n_masked,
             n - least(greatest(prompt_len, 0), n) AS n_trainable
      FROM d
    )
    SELECT doc_id, prompt_len,
           md5(coalesce(array_to_string(labels, ','), '')) AS labels_md5,
           CAST(n_masked AS INT) AS n_masked,
           CAST(n_trainable AS INT) AS n_trainable
    FROM m
    """,
)
def sft_loss_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SFT prompt-masking gate (`dataprep.sft_loss_mask`): labels copy
    the token array with the first prompt_len positions replaced by
    -100 (cross-entropy ignore_index). prompt_len here deliberately
    overruns n for some docs (doc_id % 45 vs n ≤ 39) to pin the
    mask-everything edge. md5-canonicalized label arrays (driver
    convention); raw arrays in unit tests."""
    from pyspark.sql import functions as FN

    from logstash_spark.operators import dataprep as D

    docs = _t(spark, sf_dir, "documents")
    n = (FN.col("doc_id") % 37 + 3).cast("int")
    toks = FN.transform(
        FN.sequence(FN.lit(0), n - 1),
        lambda i: ((FN.col("doc_id") * 7 + i * 13) % 50000).cast("int"),
    )
    src = docs.select(
        "doc_id",
        toks.alias("tokens"),
        (FN.col("doc_id") % 45).cast("int").alias("prompt_len"),
    )
    out = D.sft_loss_mask(src)
    return out.select(
        "doc_id",
        "prompt_len",
        FN.md5(
            FN.concat_ws(",", FN.col("labels").cast("array<string>"))
        ).alias("labels_md5"),
        "n_masked",
        "n_trainable",
    )


@query(
    "best_of_n_select",
    """
    WITH c AS (
      SELECT doc_id,
             CAST(doc_id % 50 AS BIGINT) AS prompt_id,
             CAST(n_chars * 10 + doc_id % 13 AS BIGINT) AS score
      FROM documents
    )
    SELECT doc_id, prompt_id, score,
           CAST(row_number() OVER (PARTITION BY prompt_id
                                   ORDER BY score DESC, doc_id) AS INT)
             AS candidate_rank,
           row_number() OVER (PARTITION BY prompt_id
                              ORDER BY score DESC, doc_id) <= 2 AS bon_keep
    FROM c
    """,
)
def best_of_n_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best-of-N gate (`dataprep.best_of_n`; Llama 2 §3.2.2 rejection
    sampling): top-2 candidates per prompt group by score, id
    tie-breaks. ONE bounded per-group window."""
    from pyspark.sql import functions as FN

    from logstash_spark.operators import dataprep as D

    docs = _t(spark, sf_dir, "documents")
    cand = docs.select(
        "doc_id",
        (FN.col("doc_id") % 50).cast("bigint").alias("prompt_id"),
        (FN.col("n_chars") * 10 + FN.col("doc_id") % 13)
        .cast("bigint")
        .alias("score"),
    )
    out = D.best_of_n(cand, keep_n=2)
    return out.select(
        "doc_id", "prompt_id", "score", "candidate_rank", "bon_keep"
    )


@query(
    "dpo_pairs",
    f"""
    WITH c AS (
      SELECT doc_id % 61 AS prompt_id, doc_id,
             CAST((doc_id * 7919) % 1000 AS INT) AS score,
             {_TOK_SQL} AS t
      FROM documents
    ),
    r AS (
      SELECT *,
             row_number() OVER (PARTITION BY prompt_id
                                ORDER BY score DESC, doc_id ASC) AS rh,
             row_number() OVER (PARTITION BY prompt_id
                                ORDER BY score ASC, doc_id DESC) AS rl,
             count(*) OVER (PARTITION BY prompt_id) AS n
      FROM c
    ),
    p AS (
      SELECT prompt_id,
             max(CASE WHEN rh = 1 THEN doc_id END) AS chosen_id,
             max(CASE WHEN rl = 1 THEN doc_id END) AS rejected_id,
             CAST(max(CASE WHEN rh = 1 THEN score END)
                  - max(CASE WHEN rl = 1 THEN score END) AS INT) AS margin,
             max(CASE WHEN rh = 1
                      THEN md5(array_to_string(t, ',')) END) AS chosen_md5,
             max(CASE WHEN rl = 1
                      THEN md5(array_to_string(t, ',')) END) AS rejected_md5,
             CAST(max(n) AS BIGINT) AS n_candidates
      FROM r GROUP BY prompt_id
    )
    SELECT * FROM p WHERE n_candidates >= 2 AND margin >= 2
    """,
)
def dpo_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DPO preference-pair gate (`dataprep.dpo_pairs`, Rafailov et al.
    2023): per prompt (doc_id % 61 → ~8 candidates at sf0.01), chosen =
    highest deterministic score, rejected = lowest, margin >= 2; ties
    broken by id on both ends. md5-canonicalized token payloads (driver
    convention). One shuffle: two same-key windows + the groupBy."""
    from pyspark.sql import functions as FN

    from logstash_spark.operators import dataprep as D

    docs = _t(spark, sf_dir, "documents")
    n = (FN.col("doc_id") % 37 + 3).cast("int")
    toks = FN.transform(
        FN.sequence(FN.lit(0), n - 1),
        lambda i: ((FN.col("doc_id") * 7 + i * 13) % 50000).cast("int"),
    )
    src = docs.select(
        (FN.col("doc_id") % 61).alias("prompt_id"),
        "doc_id",
        ((FN.col("doc_id") * 7919) % 1000).cast("int").alias("score"),
        toks.alias("tokens"),
    )
    out = D.dpo_pairs(src, min_margin=2)
    md5 = lambda c: FN.md5(  # noqa: E731
        FN.concat_ws(",", FN.col(c).cast("array<string>"))
    )
    return out.select(
        "prompt_id",
        "chosen_id",
        "rejected_id",
        FN.col("margin").cast("int").alias("margin"),
        md5("chosen_tokens").alias("chosen_md5"),
        md5("rejected_tokens").alias("rejected_md5"),
        "n_candidates",
    )


@query(
    "chat_loss_mask",
    f"""
    WITH d AS (
      SELECT doc_id, CAST({_TOK_N} AS INT) AS n, {_TOK_SQL} AS t,
             CAST(doc_id % 5 AS INT) AS s1,
             CAST(20 + doc_id % 9 AS INT) AS s2
      FROM documents
    ),
    m AS (
      SELECT doc_id, s1, s2,
             list_transform(range(1, n + 1), i ->
               CASE WHEN ((i - 1) >= s1 AND (i - 1) < s1 + 7)
                      OR ((i - 1) >= s2 AND (i - 1) < s2 + 4)
                    THEN t[i] ELSE -100 END) AS labels
      FROM d
    )
    SELECT doc_id, s1, s2,
           md5(coalesce(array_to_string(labels, ','), '')) AS labels_md5,
           CAST(len(list_filter(labels, x -> x <> -100)) AS INT)
             AS n_trainable
    FROM m
    """,
)
def chat_loss_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-turn chat masking gate (`dataprep.chat_loss_mask`): two
    assistant spans per doc ([s1, s1+7) and [20+k, 20+k+4)), the second
    deliberately beyond many docs' length to pin the clip behavior.
    md5-canonicalized labels (driver convention)."""
    from pyspark.sql import functions as FN

    from logstash_spark.operators import dataprep as D

    docs = _t(spark, sf_dir, "documents")
    n = (FN.col("doc_id") % 37 + 3).cast("int")
    toks = FN.transform(
        FN.sequence(FN.lit(0), n - 1),
        lambda i: ((FN.col("doc_id") * 7 + i * 13) % 50000).cast("int"),
    )
    s1 = (FN.col("doc_id") % 5).cast("int")
    s2 = (FN.col("doc_id") % 9 + 20).cast("int")
    spans = FN.array(
        FN.struct(s1.alias("s"), (s1 + 7).alias("e")),
        FN.struct(s2.alias("s"), (s2 + 4).alias("e")),
    )
    src = docs.select(
        "doc_id",
        toks.alias("tokens"),
        spans.alias("train_spans"),
        s1.alias("s1"),
        s2.alias("s2"),
    )
    out = D.chat_loss_mask(src)
    return out.select(
        "doc_id",
        "s1",
        "s2",
        FN.md5(
            FN.concat_ws(",", FN.col("labels").cast("array<string>"))
        ).alias("labels_md5"),
        "n_trainable",
    )


@query(
    "kwise_pref_pairs",
    f"""
    WITH c AS (
      SELECT doc_id // 8 AS prompt_id, doc_id,
             {_H32U.format(s="doc_id || ':kw'")} % 100 AS score
      FROM documents
    ),
    n AS (SELECT prompt_id, count(*) AS n_candidates FROM c GROUP BY 1),
    p AS (
      SELECT a.prompt_id,
             a.doc_id AS chosen_id, b.doc_id AS rejected_id,
             a.score AS chosen_score, b.score AS rejected_score,
             a.score - b.score AS margin
      FROM c a JOIN c b ON a.prompt_id = b.prompt_id
        AND (a.score > b.score
             OR (a.score = b.score AND a.doc_id > b.doc_id))
        AND a.score - b.score >= 7
    ),
    r AS (
      SELECT *, row_number() OVER (
               PARTITION BY prompt_id
               ORDER BY chosen_score DESC, chosen_id DESC,
                        rejected_score DESC, rejected_id DESC
             ) AS pair_rank
      FROM p
    )
    SELECT r.prompt_id, chosen_id, rejected_id, chosen_score,
           rejected_score, margin, CAST(pair_rank AS BIGINT) AS pair_rank,
           CAST(n.n_candidates AS BIGINT) AS n_candidates
    FROM r JOIN n ON r.prompt_id = n.prompt_id
    WHERE pair_rank <= 5
    """,
)
def kwise_pref_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-wise preference expansion gate (`dataprep.kwise_pairs`):
    synthetic reward scores over 8-candidate prompt groups, all pairs
    with margin >= 7, capped at 5 pairs per prompt best-first. The
    oracle derives the pair set INDEPENDENTLY via a self-join +
    row_number replay of the (score DESC, id DESC) total order — the
    array-local expansion must agree with the relational definition."""
    from logstash_spark.operators import dataprep as D  # noqa: PLC0415

    docs = _t(spark, sf_dir, "documents")
    cands = docs.select(
        F.expr("doc_id DIV 8").alias("prompt_id"),
        "doc_id",
        (
            D.portable_hash32(
                F.concat(F.col("doc_id").cast("string"), F.lit(":kw"))
            )
            % 100
        ).alias("score"),
    )
    out = D.kwise_pairs(
        cands, min_margin=7, max_pairs_per_group=5
    )
    return out.select(
        "prompt_id",
        "chosen_id",
        "rejected_id",
        "chosen_score",
        "rejected_score",
        "margin",
        F.col("pair_rank").cast("long").alias("pair_rank"),
        F.col("n_candidates").cast("long").alias("n_candidates"),
    )


@query(
    "chat_template_render",
    """
    SELECT doc_id,
           md5('<|im_start|>system' || chr(10) || 'sys ' || source
            || '<|im_end|>' || chr(10)
            || '<|im_start|>user' || chr(10) || substr(text, 1, 40)
            || '<|im_end|>' || chr(10)
            || '<|im_start|>assistant' || chr(10) || 'resp ' || doc_id
            || '<|im_end|>' || chr(10)) AS chatml_md5,
           CAST(length('<|im_start|>system' || chr(10) || 'sys ' || source
            || '<|im_end|>' || chr(10)
            || '<|im_start|>user' || chr(10) || substr(text, 1, 40)
            || '<|im_end|>' || chr(10)
            || '<|im_start|>assistant' || chr(10) || 'resp ' || doc_id
            || '<|im_end|>' || chr(10)) AS BIGINT) AS chatml_len,
           md5('system: sys ' || source || chr(10)
            || 'user: ' || substr(text, 1, 40) || chr(10)
            || 'assistant: resp ' || doc_id || chr(10)
            || 'assistant: ') AS colon_gen_md5
    FROM documents
    """,
)
def chat_template_render(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chat-template gate (`dataprep.chat_render`): a 3-turn
    conversation synthesized per document, rendered as ChatML and as
    the colon format with a generation prompt. The oracle writes both
    rendered strings out LONGHAND — plain concatenation, no list
    machinery — so any template/ordering/separator defect in the
    array-based operator breaks the md5. Zero shuffle."""
    from logstash_spark.operators import dataprep as D  # noqa: PLC0415

    docs = _t(spark, sf_dir, "documents")
    msgs = F.array(
        F.struct(
            F.lit("system").alias("role"),
            F.concat(F.lit("sys "), F.col("source")).alias("content"),
        ),
        F.struct(
            F.lit("user").alias("role"),
            F.substring("text", 1, 40).alias("content"),
        ),
        F.struct(
            F.lit("assistant").alias("role"),
            F.concat(F.lit("resp "), F.col("doc_id").cast("string")).alias(
                "content"
            ),
        ),
    )
    chatml = D.chat_render(msgs, template="chatml")
    colon = D.chat_render(msgs, template="colon", add_generation_prompt=True)
    return docs.select(
        "doc_id",
        F.md5(chatml).alias("chatml_md5"),
        F.length(chatml).cast("long").alias("chatml_len"),
        F.md5(colon).alias("colon_gen_md5"),
    )


@query(
    "sft_pipeline_e2e",
    r"""
    WITH u AS (
      SELECT doc_id,
             replace(replace(substr(text, 1, 40) ||
               CASE WHEN doc_id % 3 = 0 THEN '<|im_end|>zzz' ELSE '' END,
               '<|im_end|>', ''), '<|endoftext|>', '') AS user_clean
      FROM documents
    ),
    r AS (
      SELECT doc_id,
             '<|im_start|>user' || chr(10) || user_clean || '<|im_end|>'
             || chr(10) || '<|im_start|>assistant' || chr(10) || 'resp '
             || doc_id || '<|im_end|>' || chr(10) AS rendered
      FROM u
    )
    SELECT doc_id, md5(rendered) AS rendered_md5,
           CAST(len(regexp_extract_all(rendered, '\w+|[^\w\s]')) AS BIGINT)
             AS re_tokens
    FROM r
    """,
)
def sft_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SFT assembly E2E gate: raw user text (with injected control
    sequences on every third doc) -> `special_token_scrub` -> ChatML
    `chat_render` -> BPE-ish token count — the scrub must fire BEFORE
    the render so injected '<|im_end|>' never forges a turn boundary.
    The oracle renders longhand with the scrub replayed as replaces."""
    from logstash_spark.operators import dataprep as D  # noqa: PLC0415

    docs = _t(spark, sf_dir, "documents")
    i = F.col("doc_id")
    raw_user = F.concat(
        F.substring("text", 1, 40),
        F.when(i % 3 == 0, F.lit("<|im_end|>zzz")).otherwise(F.lit("")),
    )
    clean_user = D.special_token_scrub(
        raw_user, tokens=("<|im_end|>", "<|endoftext|>"), mode="strip"
    )["scrubbed"]
    msgs = F.array(
        F.struct(F.lit("user").alias("role"), clean_user.alias("content")),
        F.struct(
            F.lit("assistant").alias("role"),
            F.concat(F.lit("resp "), i.cast("string")).alias("content"),
        ),
    )
    rendered = D.chat_render(msgs, template="chatml")
    counts = D.token_counts(rendered)
    return docs.select(
        "doc_id",
        F.md5(rendered).alias("rendered_md5"),
        counts["re_tokens"].cast("long").alias("re_tokens"),
    )


@query(
    "negative_sampling",
    f"""
    WITH vocab AS (
      SELECT 'w' || i AS word, CAST((i + 1) * (i + 1) AS BIGINT) AS cnt
      FROM (SELECT unnest(range(0, 20)) AS i)
    ),
    wt AS (
      SELECT word, cnt,
             CAST(floor(sqrt(floor(sqrt(CAST(cnt AS DOUBLE)
                  * cnt * cnt)))) AS BIGINT) AS w
      FROM vocab
    ),
    t AS (
      SELECT word, cnt, w,
             CAST(coalesce(sum(w) OVER (ORDER BY cnt DESC, word ASC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS lo
      FROM wt WHERE w > 0
    ),
    tt AS (SELECT *, lo + w AS hi FROM t),
    tot AS (SELECT CAST(sum(w) AS BIGINT) AS tw FROM tt),
    slots AS (
      SELECT doc_id AS pair_id, CAST(js.j AS INT) AS slot,
             {_H32U.format(s="doc_id || ':' || js.j || ':neg'")}
               % (SELECT tw FROM tot) AS u
      FROM documents, (SELECT unnest(range(0, 3)) AS j) js
      WHERE doc_id < 200
    )
    SELECT pair_id, slot, word AS negative
    FROM slots JOIN tt ON u >= lo AND u < hi
    """,
)
def negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Negative-sampling gate (`dataprep.negative_sampling_table` +
    `sample_negatives`): a 20-word quadratic-count vocab, weights =
    exact integer count^(3/4) via two floor-sqrts, 3 negatives per
    positive pair drawn deterministically through the range join. The
    oracle rebuilds table + draws in SQL."""
    from logstash_spark.operators import dataprep as D  # noqa: PLC0415

    docs = _t(spark, sf_dir, "documents")
    vocab = spark.range(0, 20).select(
        F.concat(F.lit("w"), F.col("id").cast("string")).alias("word"),
        ((F.col("id") + 1) * (F.col("id") + 1)).cast("long").alias("cnt"),
    )
    table = D.negative_sampling_table(vocab)
    pairs = docs.where(F.col("doc_id") < 200).select(
        F.col("doc_id").alias("pair_id")
    )
    return D.sample_negatives(pairs, table, k=3)


# depth of node idx (0-based) in the binary tree parent=(idx-1)//2
_DEPTH_SQL = (
    "CASE WHEN {i} = 0 THEN 0 WHEN {i} <= 2 THEN 1 "
    "WHEN {i} <= 6 THEN 2 ELSE 3 END"
)


@query(
    "conversation_tree_sft",
    f"""
    WITH RECURSIVE base AS (
      SELECT doc_id AS msg_id, doc_id // 16 AS conv_id,
             CASE WHEN doc_id % 16 = 0 THEN NULL
                  ELSE (doc_id // 16) * 16 + (doc_id % 16 - 1) // 2
             END AS parent_id,
             CASE WHEN ({_DEPTH_SQL.format(i="doc_id % 16")}) % 2 = 0
                  THEN 'prompter' ELSE 'assistant' END AS role,
             substr(text, 1, 24) AS text
      FROM documents
    ),
    walk AS (
      SELECT msg_id, conv_id, role, parent_id AS cur,
             role || ': ' || text AS ctx, 1 AS d
      FROM base
      UNION ALL
      SELECT w.msg_id, w.conv_id, w.role, b.parent_id,
             b.role || ': ' || b.text || chr(10) || w.ctx, w.d + 1
      FROM walk w JOIN base b ON w.cur = b.msg_id
    )
    SELECT conv_id, msg_id, CAST(d AS INT) AS depth,
           false AS truncated, ctx AS context
    FROM walk WHERE cur IS NULL AND role = 'assistant'
    """,
)
def conversation_tree_sft(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chat-tree gate (`dataprep.conversation_paths`): each run of 16
    doc ids forms one OpenAssistant-style binary conversation tree
    (parent = (idx−1)//2, roles alternating by tree depth). The
    operator assembles root→message transcripts by pointer DOUBLING
    (4 rounds ⇒ depth ≤ 16); the oracle walks the same tree with a
    recursive CTE — two independent derivations of every transcript."""
    from logstash_spark.operators import dataprep as D  # noqa: PLC0415

    docs = _t(spark, sf_dir, "documents")
    idx = F.col("doc_id") % 16
    depth = (
        F.when(idx == 0, F.lit(0))
        .when(idx <= 2, F.lit(1))
        .when(idx <= 6, F.lit(2))
        .otherwise(F.lit(3))
    )
    msgs = docs.select(
        F.col("doc_id").alias("msg_id"),
        F.expr("doc_id DIV 16").alias("conv_id"),
        F.when(
            idx == 0, F.lit(None).cast("long")
        ).otherwise(F.expr("(doc_id DIV 16) * 16 + (doc_id % 16 - 1) DIV 2"))
        .alias("parent_id"),
        F.when(depth % 2 == 0, F.lit("prompter"))
        .otherwise(F.lit("assistant"))
        .alias("role"),
        F.substring("text", 1, 24).alias("text"),
    )
    out = D.conversation_paths(msgs, rounds=4)
    return out.where(F.col("role") == "assistant").select(
        "conv_id", "msg_id", F.col("depth").cast("int"), "truncated", "context"
    )
