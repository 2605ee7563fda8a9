"""Correctness gates for model-evaluation metrics, calibration and rank
agreement. Each `@query` pairs a Spark query over the driver test tables
with the DuckDB SQL that re-derives its result; `queries` collects them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from logstash_spark.queries_common import _H32U, _t, query


def _h32(c: F.Column) -> F.Column:
    from logstash_spark.operators.dataprep import portable_hash32  # noqa: PLC0415

    return portable_hash32(c)


@query(
    "pass_at_k_estimator",
    f"""
    WITH s AS (
      SELECT doc_id // 8 AS problem_id,
             CASE WHEN {_H32U.format(s="doc_id || ':pk'")} % 3 = 0
                  THEN 1 ELSE 0 END AS correct
      FROM documents
    ),
    g AS (
      SELECT problem_id, CAST(count(*) AS BIGINT) AS n_samples,
             CAST(sum(correct) AS BIGINT) AS n_correct
      FROM s GROUP BY 1
    ),
    e AS (
      SELECT g.*, CAST(ks.k AS BIGINT) AS k,
             least(CAST(ks.k AS BIGINT), n_samples) AS kk
      FROM g, (SELECT unnest([1, 2, 4, 8]) AS k) ks
    )
    SELECT problem_id, n_samples, n_correct, k,
           CAST(1000000 - (1000000 * list_reduce(
                  list_transform(range(0, kk),
                    i -> n_samples - n_correct - i),
                  (a, x) -> a * x))
                // list_reduce(
                  list_transform(range(0, kk), i -> n_samples - i),
                  (a, x) -> a * x) AS BIGINT) AS pass_ppm
    FROM e
    """,
)
def pass_at_k_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pass@k gate (`dataprep.pass_at_k`): 8-sample problems with
    hash-derived correctness, estimated at k in {1,2,4,8} — the
    HumanEval unbiased estimator in exact integer ppm. The oracle
    derives the combinatorial products independently with DuckDB
    list_reduce (BIGINT end to end, no float)."""
    from logstash_spark.operators import dataprep as D  # noqa: PLC0415

    docs = _t(spark, sf_dir, "documents")
    samples = docs.select(
        F.expr("doc_id DIV 8").alias("problem_id"),
        (
            _h32(F.concat(F.col("doc_id").cast("string"), F.lit(":pk"))) % 3
            == 0
        ).alias("correct"),
    )
    return D.pass_at_k(samples, ks=(1, 2, 4, 8))


@query(
    "majority_vote_answers",
    f"""
    WITH s AS (
      SELECT doc_id // 8 AS prompt_id,
             'ans' || ({_H32U.format(s="doc_id || ':mv'")} % 5) AS answer
      FROM documents
    ),
    c AS (
      SELECT prompt_id, answer, CAST(count(*) AS BIGINT) AS v
      FROM s GROUP BY 1, 2
    ),
    r AS (
      SELECT *, row_number() OVER (
               PARTITION BY prompt_id ORDER BY v DESC, answer ASC
             ) AS rn,
             CAST(sum(v) OVER (PARTITION BY prompt_id) AS BIGINT)
               AS n_votes,
             CAST(count(*) OVER (PARTITION BY prompt_id) AS BIGINT)
               AS n_distinct_answers
      FROM c
    )
    SELECT prompt_id, answer AS majority_answer, v AS majority_votes,
           n_votes, n_distinct_answers,
           CAST((v * 1000000) // n_votes AS BIGINT) AS share_ppm
    FROM r WHERE rn = 1
    """,
)
def majority_vote_answers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-consistency gate (`dataprep.majority_vote`): 8 sampled
    answers per prompt drawn from 5 hash-derived candidates, plurality
    winner with answer-ASC tie-break and exact ppm share. The oracle
    uses a window row_number derivation — the operator's min(struct)
    pick must agree with the relational definition."""
    from logstash_spark.operators import dataprep as D  # noqa: PLC0415

    docs = _t(spark, sf_dir, "documents")
    samples = docs.select(
        F.expr("doc_id DIV 8").alias("prompt_id"),
        F.concat(
            F.lit("ans"),
            (
                _h32(F.concat(F.col("doc_id").cast("string"), F.lit(":mv")))
                % 5
            ).cast("string"),
        ).alias("answer"),
    )
    return D.majority_vote(samples)


@query(
    "pairwise_win_rates",
    f"""
    WITH s AS (
      SELECT 'm' || (doc_id % 5) AS model_a,
             'm' || ((doc_id * 3 + 1) % 5) AS model_b,
             CASE {_H32U.format(s="doc_id || ':wr'")} % 4
               WHEN 0 THEN 'a' WHEN 1 THEN 'b'
               WHEN 2 THEN 'a' ELSE 'tie' END AS winner
      FROM documents
      WHERE (doc_id % 5) != ((doc_id * 3 + 1) % 5)
    ),
    c AS (
      SELECT least(model_a, model_b) AS model_lo,
             greatest(model_a, model_b) AS model_hi,
             CASE WHEN (winner = 'a' AND model_a <= model_b)
                    OR (winner = 'b' AND model_b < model_a)
                  THEN 1 ELSE 0 END AS lo_w,
             CASE WHEN (winner = 'a' AND model_a > model_b)
                    OR (winner = 'b' AND model_b >= model_a)
                  THEN 1 ELSE 0 END AS hi_w,
             CASE WHEN winner = 'tie' THEN 1 ELSE 0 END AS t
      FROM s
    )
    SELECT model_lo, model_hi,
           CAST(sum(lo_w) AS BIGINT) AS wins_lo,
           CAST(sum(hi_w) AS BIGINT) AS wins_hi,
           CAST(sum(t) AS BIGINT) AS ties,
           CAST(count(*) AS BIGINT) AS games,
           CAST(((2 * sum(lo_w) + sum(t)) * 1000000)
                // (2 * count(*)) AS BIGINT) AS lo_win_ppm
    FROM c GROUP BY 1, 2
    """,
)
def pairwise_win_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Win-rate-matrix gate (`dataprep.win_rate_matrix`): hash-derived
    head-to-head outcomes over 5 models (winner 'a' twice as likely as
    'b', plus ties), canonicalized to unordered pairs with half-win tie
    accounting in exact ppm. Independent conditional-aggregation
    oracle."""
    from logstash_spark.operators import dataprep as D  # noqa: PLC0415

    docs = _t(spark, sf_dir, "documents")
    comps = docs.select(
        F.concat(F.lit("m"), (F.col("doc_id") % 5).cast("string")).alias(
            "model_a"
        ),
        F.concat(
            F.lit("m"), ((F.col("doc_id") * 3 + 1) % 5).cast("string")
        ).alias("model_b"),
        F.when(
            _h32(F.concat(F.col("doc_id").cast("string"), F.lit(":wr"))) % 4
            == 3,
            F.lit("tie"),
        )
        .when(
            _h32(F.concat(F.col("doc_id").cast("string"), F.lit(":wr"))) % 4
            == 1,
            F.lit("b"),
        )
        .otherwise(F.lit("a"))
        .alias("winner"),
    ).where(F.col("model_a") != F.col("model_b"))
    return D.win_rate_matrix(comps)


@query(
    "auc_exact",
    f"""
    WITH s AS (
      SELECT doc_id,
             ({_H32U.format(s="doc_id || ':sc'")} % 50)
               + CASE WHEN {_H32U.format(s="doc_id || ':lb'")} % 3 = 0
                      THEN 20 ELSE 0 END AS score,
             ({_H32U.format(s="doc_id || ':lb'")} % 3 = 0) AS label
      FROM documents
    ),
    p AS (SELECT score FROM s WHERE label),
    n AS (SELECT score FROM s WHERE NOT label),
    pairs AS (
      SELECT CAST(sum(CASE WHEN p.score > n.score THEN 2
                           WHEN p.score = n.score THEN 1
                           ELSE 0 END) AS BIGINT) AS two_gt
      FROM p, n
    )
    SELECT CAST((SELECT count(*) FROM p) AS BIGINT) AS n_pos,
           CAST((SELECT count(*) FROM n) AS BIGINT) AS n_neg,
           CAST((two_gt * 1000000)
                // (2 * (SELECT count(*) FROM p)
                      * (SELECT count(*) FROM n)) AS BIGINT) AS auc_ppm
    FROM pairs
    """,
)
def auc_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUC gate (`dataprep.auc_binary`): hash-derived scores where
    positives get a +20 shift (so AUC is meaningfully above chance with
    real ties). The operator computes the Mann-Whitney rank formula in
    one small groupBy(score)+window; the oracle counts the 60k
    positive×negative pairs DIRECTLY — an independent derivation of the
    same statistic, exact to the ppm."""
    from logstash_spark.operators import dataprep as D  # noqa: PLC0415

    docs = _t(spark, sf_dir, "documents")
    h = lambda tag: D.portable_hash32(  # noqa: E731
        F.concat(F.col("doc_id").cast("string"), F.lit(tag))
    )
    scored = docs.select(
        (
            (h(":sc") % 50)
            + F.when(h(":lb") % 3 == 0, F.lit(20)).otherwise(F.lit(0))
        ).alias("score"),
        (h(":lb") % 3 == 0).alias("label"),
    )
    return D.auc_binary(scored)


@query(
    "pr_threshold_sweep",
    f"""
    WITH s AS (
      SELECT doc_id,
             ({_H32U.format(s="doc_id || ':sc'")} % 50)
               + CASE WHEN {_H32U.format(s="doc_id || ':lb'")} % 3 = 0
                      THEN 20 ELSE 0 END AS score,
             ({_H32U.format(s="doc_id || ':lb'")} % 3 = 0) AS label
      FROM documents
    ),
    th AS (SELECT DISTINCT score AS threshold FROM s),
    m AS (
      SELECT th.threshold,
             CAST(sum(CASE WHEN s.score >= th.threshold AND s.label
                           THEN 1 ELSE 0 END) AS BIGINT) AS tp,
             CAST(sum(CASE WHEN s.score >= th.threshold AND NOT s.label
                           THEN 1 ELSE 0 END) AS BIGINT) AS fp,
             CAST(sum(CASE WHEN s.score < th.threshold AND s.label
                           THEN 1 ELSE 0 END) AS BIGINT) AS fn,
             CAST(sum(CASE WHEN s.label THEN 1 ELSE 0 END) AS BIGINT)
               AS n_pos
      FROM th, s GROUP BY th.threshold
    )
    SELECT threshold, tp, fp, fn,
           CAST((tp * 1000000) // (tp + fp) AS BIGINT) AS precision_ppm,
           CAST(CASE WHEN n_pos > 0 THEN (tp * 1000000) // n_pos
                     ELSE 0 END AS BIGINT) AS recall_ppm,
           CAST(CASE WHEN n_pos + tp + fp > 0
                     THEN (2 * tp * 1000000) // (n_pos + tp + fp)
                     ELSE 0 END AS BIGINT) AS f1_ppm
    FROM m
    """,
)
def pr_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PR-sweep gate (`dataprep.pr_curve`): the same scored corpus as
    `auc_exact`, one operating point per distinct score. The operator
    derives tp/fp via suffix windows over the score grid; the oracle
    recounts each threshold DIRECTLY with conditional sums over the raw
    rows — independent derivations, exact ppm."""
    from logstash_spark.operators import dataprep as D  # noqa: PLC0415

    docs = _t(spark, sf_dir, "documents")
    h = lambda tag: D.portable_hash32(  # noqa: E731
        F.concat(F.col("doc_id").cast("string"), F.lit(tag))
    )
    scored = docs.select(
        (
            (h(":sc") % 50)
            + F.when(h(":lb") % 3 == 0, F.lit(20)).otherwise(F.lit(0))
        ).alias("score"),
        (h(":lb") % 3 == 0).alias("label"),
    )
    return D.pr_curve(scored)


@query(
    "annotator_kappa",
    f"""
    WITH r AS (
      SELECT doc_id,
             'l' || ({_H32U.format(s="doc_id || ':ra'")} % 3) AS rater_a,
             CASE WHEN {_H32U.format(s="doc_id || ':noise'")} % 4 = 0
                  THEN 'l' || ({_H32U.format(s="doc_id || ':rb'")} % 3)
                  ELSE 'l' || ({_H32U.format(s="doc_id || ':ra'")} % 3)
             END AS rater_b
      FROM documents
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n_items FROM r),
    agree AS (
      SELECT CAST(sum(CASE WHEN rater_a = rater_b THEN 1 ELSE 0 END)
                  AS BIGINT) AS agree FROM r
    ),
    pe AS (
      SELECT CAST(sum(am.c * bm.c) AS BIGINT) AS pe
      FROM (SELECT rater_a AS l, count(*) AS c FROM r GROUP BY 1) am
      JOIN (SELECT rater_b AS l, count(*) AS c FROM r GROUP BY 1) bm
        ON am.l = bm.l
    )
    SELECT n_items,
           CAST((agree * 1000000) // n_items AS BIGINT) AS agree_ppm,
           CAST(((n_items * agree - pe) * 1000000)
                // (n_items * n_items - pe) AS BIGINT) AS kappa_ppm
    FROM n, agree, pe
    """,
)
def annotator_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kappa gate (`dataprep.cohens_kappa`): two simulated raters over
    3 labels — rater B copies A except on a 25% noise slice, so kappa
    sits well above chance but below 1. The oracle derives the
    expected-agreement term from the marginal product independently."""
    from logstash_spark.operators import dataprep as D  # noqa: PLC0415

    docs = _t(spark, sf_dir, "documents")
    h = lambda tag: D.portable_hash32(  # noqa: E731
        F.concat(F.col("doc_id").cast("string"), F.lit(tag))
    )
    la = F.concat(F.lit("l"), (h(":ra") % 3).cast("string"))
    lb = F.when(
        h(":noise") % 4 == 0,
        F.concat(F.lit("l"), (h(":rb") % 3).cast("string")),
    ).otherwise(la)
    rated = docs.select(la.alias("rater_a"), lb.alias("rater_b"))
    return D.cohens_kappa(rated)


_NORM = (
    "list_filter(string_split(regexp_replace(lower({s}), '[^a-z0-9]+', ' ', "
    "'g'), ' '), x -> x <> '' AND x NOT IN ('a','an','the'))"
)


@query(
    "grpo_group_advantage",
    f"""
    WITH base AS (
      SELECT doc_id, doc_id // 8 AS group_id,
             CAST({_H32U.format(s="doc_id || ':rw'")} % 21 - 10 AS BIGINT)
               AS reward
      FROM documents
    ),
    g AS (
      SELECT doc_id, group_id, reward,
             CAST(count(*) OVER w AS BIGINT) AS n,
             CAST(sum(reward) OVER w AS BIGINT) AS s,
             CAST(sum(reward * reward) OVER w AS BIGINT) AS q
      FROM base WINDOW w AS (PARTITION BY group_id)
    )
    SELECT doc_id, group_id, reward, n,
           CAST(floor((reward * n - s) * 1000000.0 / n) AS BIGINT)
             AS adv_mean_ppm,
           CAST(CASE WHEN n * q - s * s > 0
                     THEN floor((reward * n - s) * 1000000.0
                                / sqrt(CAST(n * q - s * s AS DOUBLE)))
                     ELSE 0 END AS BIGINT) AS adv_z_ppm
    FROM g
    """,
)
def grpo_group_advantage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Advantage gate (`dataprep.grpo_advantage`): 8-sample groups with
    hash-derived integer rewards in [-10, 10] — negative numerators
    exercise the floor-of-double (not integer-div) path on both
    engines. Group moments are exact int64; the only rounding is the
    single final floor."""
    from logstash_spark.operators import dataprep as D  # noqa: PLC0415

    docs = _t(spark, sf_dir, "documents")
    i = F.col("doc_id")
    base = docs.select(
        "doc_id",
        F.expr("doc_id DIV 8").alias("group_id"),
        (
            D.portable_hash32(F.concat(i.cast("string"), F.lit(":rw"))) % 21
            - 10
        ).cast("long").alias("reward"),
    )
    return D.grpo_advantage(base, group_col="group_id", reward_col="reward")


@query(
    "eval_em_f1",
    f"""
    WITH base AS (
      SELECT doc_id,
             substr(text, 1, 64) AS ref,
             CASE {_H32U.format(s="doc_id || ':ev'")} % 4
               WHEN 0 THEN substr(text, 1, 64)
               WHEN 1 THEN substr(text, 1, 48)
               WHEN 2 THEN substr(text, 9, 56)
               ELSE substr(text, 1, 40) || ' the extra answer' END AS pred
      FROM documents
    ),
    toks AS (
      SELECT doc_id,
             {_NORM.format(s="pred")} AS pt,
             {_NORM.format(s="ref")} AS rt
      FROM base
    ),
    m AS (
      SELECT doc_id,
             array_to_string(pt, ' ') AS ps,
             array_to_string(rt, ' ') AS rs,
             CAST(len(pt) AS BIGINT) AS np,
             CAST(len(rt) AS BIGINT) AS nr,
             CAST(coalesce(list_sum(list_transform(list_distinct(pt),
               x -> least(len(list_filter(pt, y -> y = x)),
                          len(list_filter(rt, y -> y = x))))), 0) AS BIGINT)
               AS ov
      FROM toks
    )
    SELECT doc_id,
           CAST(ps = rs AS INT) AS exact_match,
           CAST(CASE WHEN greatest(length(ps), length(rs)) > 0
                THEN ((greatest(length(ps), length(rs))
                       - levenshtein(ps, rs)) * 1000000)
                     // greatest(length(ps), length(rs))
                ELSE 1000000 END AS BIGINT) AS lev_sim_ppm,
           CAST(CASE WHEN np + nr > 0
                THEN (2 * ov * 1000000) // (np + nr)
                ELSE 1000000 END AS BIGINT) AS token_f1_ppm
    FROM m
    """,
)
def eval_em_f1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generation-eval gate (`dataprep.eval_text_match`): predictions
    synthesized from each document by hash-selected corruption (exact
    copy / truncation / shifted window / appended junk), judged against
    the 64-char reference prefix. Normalization, levenshtein, and the
    token-multiset overlap replay independently in DuckDB."""
    from logstash_spark.operators import dataprep as D  # noqa: PLC0415

    docs = _t(spark, sf_dir, "documents")
    h = D.portable_hash32(
        F.concat(F.col("doc_id").cast("string"), F.lit(":ev"))
    ) % 4
    base = docs.select(
        "doc_id",
        F.substring("text", 1, 64).alias("ref"),
        F.when(h == 0, F.substring("text", 1, 64))
        .when(h == 1, F.substring("text", 1, 48))
        .when(h == 2, F.substring("text", 9, 56))
        .otherwise(F.concat(F.substring("text", 1, 40), F.lit(" the extra answer")))
        .alias("pred"),
    )
    return D.eval_text_match(base).select(
        "doc_id", "exact_match", "lev_sim_ppm", "token_f1_ppm"
    )


def _bt_mm_round(prev: str, k: int) -> str:
    """One unrolled Bradley-Terry MM round as a pair of CTEs."""
    return f"""
    d{k} AS (
      SELECT pr.i AS m,
             list_sum(list_transform(
               list(struct_pack(j := pr.j,
                                t := CAST(pr.n AS DOUBLE) / (ri.p + rj.p))
                    ORDER BY pr.j),
               x -> x.t)) AS den
      FROM pairs pr
      JOIN {prev} ri ON pr.i = ri.m
      JOIN {prev} rj ON pr.j = rj.m
      GROUP BY pr.i
    ),
    r{k} AS (
      SELECT d{k}.m, CAST(w.W2 AS DOUBLE) / (2.0 * d{k}.den) AS p
      FROM d{k} JOIN wsum w ON d{k}.m = w.i
    )"""


@query(
    "bradley_terry_ratings",
    f"""
    WITH lab AS (
      SELECT doc_id % 20 AS a, (doc_id * 7 + 3) % 20 AS b,
             {_H32U.format(s="doc_id || ':bt'")} AS h
      FROM documents
      WHERE doc_id % 20 <> (doc_id * 7 + 3) % 20
    ),
    battles AS (
      SELECT a, b,
             CASE WHEN h % 20 = 19 THEN 'tie'
                  WHEN (h // 20) % (a + b + 2) < a + 1 THEN 'a'
                  ELSE 'b' END AS winner
      FROM lab
    ),
    directed AS (
      SELECT a AS i, b AS j,
             CASE winner WHEN 'a' THEN 2 WHEN 'tie' THEN 1 ELSE 0 END AS w2
      FROM battles
      UNION ALL
      SELECT b, a,
             CASE winner WHEN 'b' THEN 2 WHEN 'tie' THEN 1 ELSE 0 END
      FROM battles
    ),
    pairs AS (
      SELECT i, j, CAST(count(*) AS BIGINT) AS n, CAST(sum(w2) AS BIGINT) AS w2
      FROM directed GROUP BY i, j
    ),
    wsum AS (
      SELECT i, CAST(sum(w2) AS BIGINT) AS W2, CAST(sum(n) AS BIGINT) AS nb
      FROM pairs GROUP BY i
    ),
    r0 AS (SELECT i AS m, 1.0 AS p FROM wsum),
    {_bt_mm_round("r0", 1)},
    {_bt_mm_round("r1", 2)},
    {_bt_mm_round("r2", 3)}
    SELECT r3.m AS model,
           CAST(floor(r3.p
                      / (SELECT p FROM r3 WHERE m = (SELECT min(m) FROM r3))
                      * 1000000.0) AS BIGINT) AS rating_ppm,
           w.nb AS n_battles, w.W2 AS wins2
    FROM r3 JOIN wsum w ON r3.m = w.i
    """,
)
def bradley_terry_ratings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leaderboard gate (`dataprep.bradley_terry`): 20 models with true
    strength i+1 battle on hash-assigned matchups (5% ties); three MM
    rounds recover the strength ordering. Every double in both engines
    comes from the same j-sorted left-to-right fold; the single floor
    is the anchored ppm at the end."""
    from logstash_spark.operators import dataprep as D  # noqa: PLC0415

    docs = _t(spark, sf_dir, "documents")
    i = F.col("doc_id")
    h = D.portable_hash32(F.concat(i.cast("string"), F.lit(":bt")))
    battles = (
        docs.select(
            (i % 20).alias("model_a"),
            ((i * 7 + 3) % 20).alias("model_b"),
            h.alias("_h"),
        )
        .where(F.col("model_a") != F.col("model_b"))
        .select(
            "model_a",
            "model_b",
            F.when(F.col("_h") % 20 == 19, F.lit("tie"))
            .when(
                F.expr("(_h div 20) % (model_a + model_b + 2)")
                < F.col("model_a") + 1,
                F.lit("a"),
            )
            .otherwise(F.lit("b"))
            .alias("winner"),
        )
    )
    return D.bradley_terry(battles, iters=3)


@query(
    "calibration_report",
    f"""
    WITH base AS (
      SELECT {_H32U.format(s="doc_id || ':cf'")} % 1000001 AS conf_ppm,
             CASE WHEN {_H32U.format(s="doc_id || ':lb'")} % 1000000
                       < {_H32U.format(s="doc_id || ':cf'")} % 1000001
                  THEN 1 ELSE 0 END AS label
      FROM documents
    ),
    binned AS (
      SELECT least(9, (conf_ppm * 10) // 1000000) AS bin, conf_ppm, label,
             (conf_ppm - label * 1000000) AS d
      FROM base
    ),
    bins AS (
      SELECT bin, CAST(count(*) AS BIGINT) AS n,
             sum(conf_ppm) AS sc, sum(label) AS sl,
             sum(CAST(d AS HUGEINT) * d) AS sd2
      FROM binned GROUP BY 1
    ),
    tot AS (
      SELECT CAST(sum(n) AS BIGINT) AS nn,
             sum(abs(CAST(sl AS HUGEINT) * 1000000 - sc)) AS ece_num,
             sum(sd2) AS bri_num
      FROM bins
    )
    SELECT CAST(bin AS INT) AS bin, n,
           CAST(sl * 1000000 // n AS BIGINT) AS acc_ppm,
           CAST(sc // n AS BIGINT) AS avg_conf_ppm,
           CAST(abs(CAST(sl AS HUGEINT) * 1000000 - sc) // n AS BIGINT)
             AS gap_ppm,
           CAST(ece_num // nn AS BIGINT) AS ece_ppm,
           CAST(bri_num // (CAST(1000000 AS HUGEINT) * nn) AS BIGINT)
             AS brier_ppm
    FROM bins, tot
    """,
)
def calibration_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration gate (`dataprep.calibration_report`): hash-derived
    ppm confidences with labels drawn so P(label=1) = conf (a
    near-calibrated model — bins land close to the diagonal but the
    finite-sample gaps are nonzero and exact). ECE, Brier, and every
    per-bin statistic are integer arithmetic on both engines."""
    from logstash_spark.operators import dataprep as D  # noqa: PLC0415

    docs = _t(spark, sf_dir, "documents")
    i = F.col("doc_id").cast("string")
    conf = D.portable_hash32(F.concat(i, F.lit(":cf"))) % 1000001
    lab = (
        D.portable_hash32(F.concat(i, F.lit(":lb"))) % 1000000 < conf
    ).cast("long")
    base = docs.select(conf.alias("conf_ppm"), lab.alias("label"))
    return D.calibration_report(base, n_bins=10)


@query(
    "rouge_l_eval",
    f"""
    WITH base AS (
      SELECT doc_id,
             8 + doc_id % 9 AS n,
             doc_id % 4 AS mode
      FROM documents
    ),
    derived AS (
      SELECT doc_id, n, mode,
             CASE mode WHEN 2 THEN n - n // 4 ELSE n END AS np,
             CASE mode
               WHEN 0 THEN n
               WHEN 1 THEN n - n // 3
               WHEN 2 THEN n - n // 4
               ELSE n - n // 2 END AS lcs
      FROM base
    )
    SELECT doc_id, CAST(lcs AS BIGINT) AS lcs,
           CAST(np AS BIGINT) AS np, CAST(n AS BIGINT) AS nr,
           CAST(lcs * 1000000 // np AS BIGINT) AS rouge_l_p_ppm,
           CAST(lcs * 1000000 // n AS BIGINT) AS rouge_l_r_ppm,
           CAST(2 * lcs * 1000000 // (np + n) AS BIGINT) AS rouge_l_f_ppm
    FROM derived
    """,
)
def rouge_l_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUGE-L gate (`dataprep.rouge_l`): references are n distinct
    synthetic tokens (n = 8 + doc_id%9); predictions are hash-free
    deterministic corruptions whose LCS is known in CLOSED FORM —
    identical copy (lcs=n), every-3rd token replaced by unique junk
    (lcs=n−⌊n/3⌋), every-4th dropped (lcs=n−⌊n/4⌋), and a half
    rotation (lcs=n−⌊n/2⌋ — the case that separates true LCS from
    order-blind token overlap, which would score n). The oracle states
    the outcome arithmetically and never runs the DP, so the two
    derivations are fully independent."""
    from logstash_spark.operators import dataprep as D  # noqa: PLC0415

    docs = _t(spark, sf_dir, "documents")
    n = (F.lit(8) + F.col("doc_id") % 9).cast("int")
    mode = F.col("doc_id") % 4
    seq = F.sequence(F.lit(1), n)
    tok = lambda i: F.concat(  # noqa: E731
        F.lit("w"), F.col("doc_id").cast("string"), F.lit("_"), i.cast("string")
    )
    toks = F.transform(seq, tok)
    junked = F.transform(
        seq,
        lambda i: F.when(
            i % 3 == 0,
            F.concat(F.lit("j"), F.col("doc_id").cast("string"), F.lit("_"), i.cast("string")),
        ).otherwise(tok(i)),
    )
    dropped = F.filter(toks, lambda x, i: (i + 1) % 4 != 0)
    h = (n / 2).cast("int")
    rotated = F.concat(F.slice(toks, h + 1, n - h), F.slice(toks, F.lit(1), h))
    base = docs.select(
        "doc_id",
        toks.alias("ref_toks"),
        F.when(mode == 0, toks)
        .when(mode == 1, junked)
        .when(mode == 2, dropped)
        .otherwise(rotated)
        .alias("pred_toks"),
    )
    return D.rouge_l(base).select(
        "doc_id", "lcs", "np", "nr",
        "rouge_l_p_ppm", "rouge_l_r_ppm", "rouge_l_f_ppm",
    )


@query(
    "isotonic_calibration",
    f"""
    WITH base AS (
      SELECT {_H32U.format(s="doc_id || ':sc'")} % 50 AS score,
             CASE WHEN {_H32U.format(s="doc_id || ':lb'")} % 50
                       < {_H32U.format(s="doc_id || ':sc'")} % 50
                  THEN 1 ELSE 0 END AS label
      FROM documents
    ),
    grid AS (
      SELECT score, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(label) AS BIGINT) AS pos
      FROM base GROUP BY 1
    ),
    idx AS (
      SELECT *, row_number() OVER (ORDER BY score) AS i,
             sum(pos) OVER (ORDER BY score) AS ps,
             sum(n) OVER (ORDER BY score) AS pn
      FROM grid
    ),
    pairs AS (
      SELECT a.i AS ai, b.i AS bi,
             (b.ps - a.ps + a.pos) * 1000000
               // (b.pn - a.pn + a.n) AS q
      FROM idx a JOIN idx b ON b.i >= a.i
    ),
    mn AS (
      SELECT p.ai, g.i, min(p.q) AS mn_q
      FROM pairs p JOIN idx g ON p.bi >= g.i AND p.ai <= g.i
      GROUP BY 1, 2
    ),
    iso AS (SELECT i, CAST(max(mn_q) AS BIGINT) AS cal_ppm FROM mn GROUP BY i)
    SELECT g.score, g.n, g.pos, iso.cal_ppm
    FROM idx g JOIN iso ON g.i = iso.i
    """,
)
def isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic-fit gate (`dataprep.isotonic_calibrate`): a 50-point
    score grid with labels drawn at rate score/50 (monotone signal,
    finite-sample violations to pool). The oracle never runs PAV — it
    evaluates the max-min-average characterization of the unique
    isotonic L2 solution, entirely in BIGINT (floor commutes with
    min/max, so per-pair integer division IS the exact answer). Two
    independent algorithms, one exact table."""
    from logstash_spark.operators import dataprep as D  # noqa: PLC0415

    docs = _t(spark, sf_dir, "documents")
    i = F.col("doc_id").cast("string")
    score = D.portable_hash32(F.concat(i, F.lit(":sc"))) % 50
    lab = (
        D.portable_hash32(F.concat(i, F.lit(":lb"))) % 50 < score
    ).cast("long")
    base = docs.select(score.alias("score"), lab.alias("label"))
    return D.isotonic_calibrate(base)


@query(
    "quantile_normalize",
    """
    WITH ranked AS (
      SELECT doc_id, source, n_chars,
             row_number() OVER (PARTITION BY source
                                ORDER BY n_chars, doc_id) AS r,
             count(*) OVER (PARTITION BY source) AS ng
      FROM documents
    ),
    q AS (
      SELECT doc_id, source, n_chars,
             CAST(CASE WHEN ng > 1 THEN (r - 1) * 1000000 // (ng - 1)
                       ELSE 500000 END AS BIGINT) AS q_ppm
      FROM ranked
    ),
    grid AS (
      SELECT n_chars AS gv, CAST(count(*) AS BIGINT) AS c
      FROM documents GROUP BY 1
    ),
    g2 AS (
      SELECT gv, sum(c) OVER (ORDER BY gv) AS cum,
             sum(c) OVER (ORDER BY gv) - c AS cum_prev
      FROM grid
    ),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents)
    SELECT q.doc_id, q.source, q.n_chars, q.q_ppm, g2.gv AS norm_value
    FROM q CROSS JOIN nn
    JOIN g2 ON 1 + (q.q_ppm * (nn.n - 1) + 500000) // 1000000 > g2.cum_prev
           AND 1 + (q.q_ppm * (nn.n - 1) + 500000) // 1000000 <= g2.cum
    """,
)
def quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-normalization gate (`dataprep.quantile_normalize`):
    per-source n_chars ranks mapped to the global length distribution.
    Every step is an integer order statistic (the `mad_outliers` lower-
    rank rule), so both engines must agree on every normalized value."""
    from logstash_spark.operators import dataprep as D  # noqa: PLC0415

    docs = _t(spark, sf_dir, "documents")
    return D.quantile_normalize(
        docs.select("doc_id", "source", "n_chars")
    )


@query(
    "rank_correlation",
    f"""
    WITH base AS (
      SELECT doc_id // 10 AS qid, doc_id % 10 AS item,
             {_H32U.format(s="doc_id || ':sa'")} % 1000 AS score_a,
             {_H32U.format(s="doc_id || ':sa'")} % 1000
               + {_H32U.format(s="doc_id || ':sb'")} % 400 - 200 AS score_b
      FROM documents
    ),
    ranked AS (
      SELECT qid, item,
             row_number() OVER (PARTITION BY qid
                                ORDER BY score_a DESC, item ASC) AS ra,
             row_number() OVER (PARTITION BY qid
                                ORDER BY score_b DESC, item ASC) AS rb
      FROM base
    ),
    agg AS (
      SELECT qid, CAST(count(*) AS BIGINT) AS n,
             CAST(sum((ra - rb) * (ra - rb)) AS BIGINT) AS sum_d2
      FROM ranked GROUP BY 1
    ),
    disc AS (
      SELECT x.qid, CAST(count(*) AS BIGINT) AS d
      FROM ranked x JOIN ranked y
        ON x.qid = y.qid AND x.ra < y.ra AND x.rb > y.rb
      GROUP BY 1
    )
    SELECT a.qid, a.n, a.sum_d2,
           CASE WHEN a.n > 1 THEN CAST(floor(
             CAST(a.n * (a.n - 1) - 4 * coalesce(d.d, 0) AS DOUBLE)
             / (a.n * (a.n - 1)) * 1000000) AS BIGINT) END AS tau_ppm,
           CASE WHEN a.n > 1 THEN CAST(floor(
             CAST(a.n * (a.n * a.n - 1) - 6 * a.sum_d2 AS DOUBLE)
             / (a.n * (a.n * a.n - 1)) * 1000000) AS BIGINT) END AS rho_ppm
    FROM agg a LEFT JOIN disc d USING (qid)
    """,
)
def rank_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-correlation gate (`dataprep.rank_correlation`): 10-item
    query groups with a hash ranker and a noisy-correlated second
    ranker; Kendall tau-a and Spearman rho per group. The oracle counts
    discordant pairs RELATIONALLY (a rank self-join) while the operator
    counts array-local inversions — two different algorithms, one exact
    answer."""
    from logstash_spark.operators import dataprep as D  # noqa: PLC0415

    docs = _t(spark, sf_dir, "documents")
    i = F.col("doc_id").cast("string")
    sa = D.portable_hash32(F.concat(i, F.lit(":sa"))) % 1000
    sb = sa + D.portable_hash32(F.concat(i, F.lit(":sb"))) % 400 - 200
    base = docs.select(
        F.expr("doc_id DIV 10").alias("qid"),
        (F.col("doc_id") % 10).alias("item"),
        sa.alias("score_a"),
        sb.alias("score_b"),
    )
    return D.rank_correlation(base)


@query(
    "winsorize_clip",
    """
    WITH grid AS (
      SELECT source, n_chars AS v, CAST(count(*) AS BIGINT) AS c
      FROM documents GROUP BY 1, 2
    ),
    cum AS (
      SELECT source, v, c,
             sum(c) OVER (PARTITION BY source ORDER BY v) AS cum,
             sum(c) OVER (PARTITION BY source) AS n
      FROM grid
    ),
    lo AS (
      SELECT source, CAST(min(v) AS BIGINT) AS lo
      FROM cum WHERE cum >= 1 + ((n - 1) * 50000) // 1000000
      GROUP BY 1
    ),
    hi AS (
      SELECT source, CAST(min(v) AS BIGINT) AS hi
      FROM cum WHERE cum >= 1 + ((n - 1) * 950000) // 1000000
      GROUP BY 1
    )
    SELECT d.doc_id, d.source, d.n_chars, lo.lo, hi.hi,
           CAST(greatest(lo.lo, least(hi.hi, d.n_chars)) AS BIGINT)
             AS clipped,
           greatest(lo.lo, least(hi.hi, d.n_chars)) <> d.n_chars
             AS was_clipped
    FROM documents d JOIN lo USING (source) JOIN hi USING (source)
    """,
)
def winsorize_clip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization gate (`dataprep.winsorize`): per-source 5th/95th
    percentile clipping of document length. The oracle replays the
    integer rank rule over the same value grid — the ppm rank is the
    portable definition (engine-native 0.95 quantiles drift one rank
    whenever (n−1) is a multiple of 20)."""
    from logstash_spark.operators import dataprep as D  # noqa: PLC0415

    docs = _t(spark, sf_dir, "documents")
    return D.winsorize(docs.select("doc_id", "source", "n_chars")).select(
        "doc_id", "source", "n_chars", "lo", "hi", "clipped", "was_clipped"
    )


@query(
    "rbo_topk_overlap",
    f"""
    WITH base AS (
      SELECT doc_id, doc_id % 3 AS mode, unnest(generate_series(0, 9)) AS it
      FROM documents
    ),
    scored AS (
      SELECT doc_id, mode, it,
             {_H32U.format(s="doc_id || ':it' || CAST(it AS VARCHAR) || ':a'")} AS ha,
             {_H32U.format(s="doc_id || ':it' || CAST(it AS VARCHAR) || ':b'")} AS hb
      FROM base
    ),
    ranked AS (
      SELECT doc_id, mode, it,
             row_number() OVER (PARTITION BY doc_id ORDER BY ha, it) AS ra0,
             row_number() OVER (PARTITION BY doc_id ORDER BY hb, it) AS rb0
      FROM scored
    ),
    adj AS (
      SELECT doc_id, it, ra0 AS ra,
             CASE WHEN mode = 0 THEN ra0
                  WHEN mode = 1 THEN CASE ra0 WHEN 1 THEN 2 WHEN 2 THEN 1
                                              ELSE ra0 END
                  ELSE rb0 END AS rb
      FROM ranked
    ),
    x AS (
      SELECT doc_id,
             CAST(sum(CASE WHEN ra <= 1 AND rb <= 1 THEN 1 ELSE 0 END) AS DOUBLE) AS x1,
             CAST(sum(CASE WHEN ra <= 2 AND rb <= 2 THEN 1 ELSE 0 END) AS DOUBLE) AS x2,
             CAST(sum(CASE WHEN ra <= 3 AND rb <= 3 THEN 1 ELSE 0 END) AS DOUBLE) AS x3,
             CAST(sum(CASE WHEN ra <= 4 AND rb <= 4 THEN 1 ELSE 0 END) AS DOUBLE) AS x4,
             CAST(sum(CASE WHEN ra <= 5 AND rb <= 5 THEN 1 ELSE 0 END) AS DOUBLE) AS x5,
             CAST(sum(CASE WHEN ra <= 6 AND rb <= 6 THEN 1 ELSE 0 END) AS DOUBLE) AS x6,
             CAST(sum(CASE WHEN ra <= 7 AND rb <= 7 THEN 1 ELSE 0 END) AS DOUBLE) AS x7,
             CAST(sum(CASE WHEN ra <= 8 AND rb <= 8 THEN 1 ELSE 0 END) AS DOUBLE) AS x8,
             CAST(sum(CASE WHEN ra <= 9 AND rb <= 9 THEN 1 ELSE 0 END) AS DOUBLE) AS x9,
             CAST(sum(CASE WHEN ra <= 10 AND rb <= 10 THEN 1 ELSE 0 END) AS DOUBLE) AS x10
      FROM adj GROUP BY 1
    )
    SELECT doc_id,
           CAST(floor((x1 * 0.09999999999999998 + x2 * 0.04499999999999999 + x3 * 0.026999999999999996 + x4 * 0.018224999999999998 + x5 * 0.013121999999999998 + x6 * 0.0098415 + x7 * 0.007592014285714285 + x8 * 0.005978711249999999 + x9 * 0.004782969000000001 + x10 * 0.00387420489) * 1000000.0) AS BIGINT) AS rbo_ppm
    FROM x
    """,
)
def rbo_topk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RBO gate (`dataprep.rbo_overlap`): 10-item rankings per doc —
    identical lists (rbo = 1·truncation mass), a top-2 swap (the
    top-weighted penalty), and an independent second order. The oracle
    computes the prefix overlaps RELATIONALLY and evaluates the SAME
    left-to-right unrolled weight expression with the SAME double
    literals, so the single floor agrees bit-for-bit."""
    from logstash_spark.operators import dataprep as D  # noqa: PLC0415

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id").cast("string")
    items = F.sequence(F.lit(0), F.lit(9))

    def order_by(tag):
        return F.transform(
            F.sort_array(
                F.transform(
                    items,
                    lambda it: F.struct(
                        D.portable_hash32(
                            F.concat(d, F.lit(":it"), it.cast("string"),
                                     F.lit(":" + tag))
                        ).alias("h"),
                        it.alias("it"),
                    ),
                )
            ),
            lambda s: s["it"],
        )

    la = order_by("a")
    lb_ind = order_by("b")
    mode = F.col("doc_id") % 3
    swapped = F.concat(
        F.slice(la, 2, 1), F.slice(la, 1, 1), F.slice(la, 3, 8)
    )
    base = docs.select(
        "doc_id",
        la.alias("list_a"),
        F.when(mode == 0, la)
        .when(mode == 1, swapped)
        .otherwise(lb_ind)
        .alias("list_b"),
    )
    return D.rbo_overlap(base).select("doc_id", "rbo_ppm")
