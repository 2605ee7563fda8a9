#!/usr/bin/env python
"""Benchmark driver (driver contract): headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS], printing ONE JSON line:

  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

The headline number is the flagship parse→enrich→route→aggregate
pipeline over the BASELINE.json `input_hint` table (doc_id, tokens,
n_tok, source, raw) synthesized deterministically at SPARK_GRAFT_BENCH_N
rows (default 2M — sandbox stand-in for the 10^12-sequence target).
Every query is forced with a noop write (full computation, no
driver-side collect). Next to it, outside the suite total,
`flagship_run_pipeline` times the same rows through the real
`run_flagship` fan-out (sink writes, side tables, snapshot commits) and
`flagship_sink_bytes_per_row` reports what its five sinks wrote.
Throughput (sequences/sec) and the local[8] vs
local[32] scaling study live in BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
BENCH_N = int(os.environ.get("SPARK_GRAFT_BENCH_N", "2000000"))
# Timed repetitions per query (after one untimed warm-up). This VM has
# documented steal waves up to ~25%, so single-shot numbers are +-50%
# noise; warm-up + best-of-3 is the minimum honest protocol here.
BENCH_REPS = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))

# Representative registry queries (one per operator family) — the full
# registry runs under the driver's correctness gate; bench picks the
# heavy/headline ones.
BENCH_QUERIES = [
    "grok_parse",
    "dissect_parse",
    "kv_parse",
    "translate_enrich",
    "route_fanout",
    "metrics_window",
    "rollup_agg",
    "throttle_tag",
    "lineitem_pricing",
    "nation_revenue",
    "dedupe_minhash_lsh",
    "simhash_bands",
    "ann_cosine_topk",
    "text_quality",
]


# Calibration anchor (VERDICT r4 "What's wrong" #2): a fixed,
# deterministic microbench pair run FIRST in every suite so cross-round
# driver benches can be normalized mechanically against host epoch
# drift (this VM's turbo/steal epochs swing wall-clock up to ~1.8x with
# zero code change). Sizes are constants — never derived from BENCH_N —
# and the two numbers are emitted as top-level `calib_cpu_s` /
# `calib_shuffle_s` fields, EXCLUDED from the suite total. To compare
# BENCH_rA vs BENCH_rB, divide each round's query times by its calib
# numbers (cpu for map-heavy, shuffle for exchange-heavy queries).
CALIB_CPU_ROWS = 600_000_000
CALIB_SHUFFLE_ROWS = 8_000_000


def bench_calibration(spark) -> dict[str, float]:
    """Epoch anchor: (a) pure whole-stage-codegen CPU — xxhash64 fold
    over a fixed range, no shuffle, no Python; (b) one fixed 64Ki-key
    hash aggregation — a single small Exchange. Warm-up + best-of-N like
    every other entry."""
    from pyspark.sql import functions as F

    i = F.col("id")
    cpu = spark.range(0, CALIB_CPU_ROWS, 1, CPUS).select(
        F.sum(F.xxhash64(i * F.lit(2654435761))).alias("s")
    )
    sh = (
        spark.range(0, CALIB_SHUFFLE_ROWS, 1, CPUS)
        .groupBy(F.pmod(F.xxhash64(i), F.lit(65536)).alias("k"))
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.sum("c").alias("n"), F.count(F.lit(1)).alias("nk"))
    )
    return {
        "calib_cpu_s": round(_time_best(lambda: cpu, spark), 3),
        "calib_shuffle_s": round(_time_best(lambda: sh, spark), 3),
    }


def _force(df) -> int:
    """Force full computation without moving rows to the driver."""
    df.write.format("noop").mode("overwrite").save()
    return 0


def _time_best(make_df, spark, reps: int = 0, *, action=_force) -> float:
    """Warm-up + best-of-N wall time: the sandbox VM has noisy neighbors,
    so a single run can be 5-10x off; one untimed warm-up pays codegen /
    broadcast / page-cache costs, then min over reps approximates true
    plan cost. `make_df` builds the input untimed; only `action` on it
    (default: a noop-sink write) is timed."""
    reps = reps or BENCH_REPS
    action(make_df())  # warm-up, untimed
    best = float("inf")
    for _ in range(reps):
        df = make_df()
        t0 = time.perf_counter()
        action(df)
        best = min(best, time.perf_counter() - t0)
    return best


def bench_flagship(spark) -> tuple[float, float]:
    """E2E parse→enrich→route→aggregate over the input_hint table.

    Returns (wall_sec, rows_per_sec). Generation is fused into the same
    job (pure column synthesis over spark.range — negligible vs grok).
    """
    from pyspark.sql import functions as F

    from logstash_spark.plans.flagship import build_flagship
    from logstash_spark.sources.gen import input_sequences

    df = input_sequences(spark, BENCH_N, partitions=CPUS * 4)
    routed = build_flagship(df)
    # Per-sink aggregate stage (metrics-filter analog): counts + token sums.
    agg = (
        routed.select(F.explode("routes").alias("sink"), "source", "n_tok")
        .groupBy("sink", "source")
        .agg(F.count("*").alias("cnt"), F.sum("n_tok").alias("sum_n_tok"))
    )
    wall = _time_best(lambda: agg, spark)
    return wall, BENCH_N / wall


def bench_flagship_run_pipeline(spark) -> tuple[float, float]:
    """The flagship through the real `run_flagship` → `run_pipeline`
    fan-out: the five sinks carrying the `tokens` payload, the side
    tables and the snapshot commits, over the same BENCH_N input rows as
    the noop headline. Each repetition writes into a fresh sinks root
    (the previous one is removed untimed), so resume never skips a
    table.

    Returns (wall_sec, sink_bytes_per_row): the parquet bytes of the
    five sink tables of the last run per input row."""
    import shutil
    import tempfile

    from logstash_spark.plans.flagship import ROUTES, run_flagship
    from logstash_spark.sources.gen import input_sequences

    df = input_sequences(spark, BENCH_N, partitions=CPUS * 4)
    work = tempfile.mkdtemp(prefix="bench_run_pipeline_")
    root = os.path.join(work, "sinks")

    def fresh_root() -> str:
        shutil.rmtree(root, ignore_errors=True)
        return root

    try:
        wall = _time_best(
            fresh_root, spark, action=lambda r: run_flagship(spark, df, r)
        )
        sink_bytes = sum(
            os.path.getsize(os.path.join(d, f))
            for sink in ROUTES
            for d, _, files in os.walk(os.path.join(root, sink, "data"))
            for f in files
            if f.endswith(".parquet")
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return wall, sink_bytes / BENCH_N


DEDUP_DOCS = int(os.environ.get("SPARK_GRAFT_DEDUP_DOCS", "200000"))
ANN_VECS = int(os.environ.get("SPARK_GRAFT_ANN_VECS", "100000"))
NF_PACKETS = int(os.environ.get("SPARK_GRAFT_NF_PACKETS", "500000"))
WIRE_EVENTS = int(os.environ.get("SPARK_GRAFT_WIRE_EVENTS", "500000"))
PACK_DOCS = int(os.environ.get("SPARK_GRAFT_PACK_DOCS", "1000000"))


def synthetic_docs(spark, n: int):
    """Deterministic word-salad docs (~40-word texts over a 64-word vocab,
    10% near-duplicate tail) for dedup scale benching."""
    from pyspark.sql import functions as F

    i = F.col("id")
    # Word choice must be PROPERLY mixed (xxhash64), not a linear form:
    # arithmetic progressions mod the vocab size generate only a few
    # thousand distinct grams corpus-wide, which collapses every minhash
    # band into ~N/64-sized buckets (O(N^2) candidate pairs). Also no
    # element_at over a literal array — interpreted HOF lambdas rebuild
    # literal arrays per element.
    words = F.transform(
        F.sequence(F.lit(0), F.lit(24) + (i % 31).cast("int")),
        lambda j: F.format_string(
            "w%03d", F.pmod(F.xxhash64(i * F.lit(100003) + j.cast("long")), F.lit(512))
        ),
    )
    base = spark.range(0, n, 1, CPUS * 4).select(
        i.alias("doc_id"), F.concat_ws(" ", words).alias("text")
    )
    # 10% duplicates: re-emit docs 0..n/10 with a truncated text
    dup_src = base.where(F.col("doc_id") < n // 10)
    w = F.split(F.col("text"), " ")
    dups = dup_src.select(
        (F.col("doc_id") + n).alias("doc_id"),
        F.concat_ws(" ", F.slice(w, 1, F.greatest((F.size(w) * 4 / 5).cast("int"), F.lit(3)))).alias("text"),
    )
    return base.unionByName(dups)


def bench_dedupe_scale(spark) -> float:
    """MinHash-LSH near-dup detection over DEDUP_DOCS synthetic docs.

    Production shape: the signature table is computed ONCE and persisted
    (at 100 TB it would be written as a table), then banding and both
    verify joins read it — without this the shingle aggregation runs 3x
    (no ReusedExchange across the differently-partitioned subtrees)."""
    from logstash_spark.operators.dataprep import minhash_lsh_pairs, shingle_sig_table

    docs = synthetic_docs(spark, DEDUP_DOCS)

    def run(docs) -> None:
        sig = shingle_sig_table(docs, "doc_id", "text", n=3, k=8).persist()
        try:
            pairs = minhash_lsh_pairs(
                docs, "doc_id", "text", n=3, k=8, bands=4, threshold=0.5, sig_table=sig
            )
            _force(pairs)
        finally:
            sig.unpersist()

    return _time_best(lambda: docs, spark, action=run)


def degenerate_docs(spark, n: int):
    """Dup-heavy adversarial corpus: 70% `synthetic_docs` plus 30%
    IDENTICAL copies of 64 distinct texts, which collapse every band into
    ~64 giant buckets."""
    from pyspark.sql import functions as F

    base = synthetic_docs(spark, int(n * 0.7))
    i = F.col("id")
    words = F.transform(
        F.sequence(F.lit(0), F.lit(30)),
        lambda j: F.format_string(
            "d%03d", F.pmod(F.xxhash64((i % 64) * F.lit(7919) + j.cast("long")), F.lit(512))
        ),
    )
    clones = spark.range(0, int(n * 0.3), 1, CPUS * 4).select(
        (i + 10_000_000).alias("doc_id"), F.concat_ws(" ", words).alias("text")
    )
    return base.unionByName(clones)


def bench_dedupe_degenerate(spark) -> float:
    """Adversarial dup-heavy corpus: 30% of DEDUP_DOCS are IDENTICAL
    copies of ~64 distinct texts, so every band hashes those into ~64
    huge buckets. The max_bucket star guard keeps candidates O(B) per
    bucket instead of O(B^2) — without it this bench would generate
    ~(0.3*N/64)^2*64 pairs and never finish at scale."""
    from logstash_spark.operators.dataprep import minhash_lsh_pairs, shingle_sig_table

    docs = degenerate_docs(spark, DEDUP_DOCS)

    def run(docs) -> None:
        sig = shingle_sig_table(docs, "doc_id", "text", n=3, k=8).persist()
        try:
            pairs = minhash_lsh_pairs(
                docs, "doc_id", "text", n=3, k=8, bands=4, threshold=0.5,
                max_bucket=200, sig_table=sig,
            )
            _force(pairs)
        finally:
            sig.unpersist()

    return _time_best(lambda: docs, spark, action=run)


def bench_ann_scale(spark) -> float:
    """Brute-force cosine top-5 for 16 queries over ANN_VECS synthetic
    32-dim vectors (corpus never shuffles; broadcast query set)."""
    from pyspark.sql import functions as F

    from logstash_spark.operators.dataprep import ann_topk_bruteforce

    em = synthetic_vectors(spark, ANN_VECS)
    out = ann_topk_bruteforce(em, em.where(F.col("vec_id") < 16), k=5)
    return _time_best(lambda: out, spark)


SEM_VECS = int(os.environ.get("SPARK_GRAFT_SEM_VECS", "20000"))


def synthetic_vectors(spark, n: int, dim: int = 32, id_col: str = "vec_id"):
    """Deterministic pseudo-random dense vectors (pure column synthesis).

    Components MUST be properly mixed (xxhash64): the earlier linear
    form ((i*63 + j*40503) % 1000) was periodic in i mod 1000, so every
    corpus was ~99% exact duplicates and the ANN/dedup benches measured
    a degenerate workload."""
    from pyspark.sql import functions as F

    i = F.col("id")
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda j: (
            F.pmod(F.xxhash64(i * F.lit(1000003) + j.cast("long")), F.lit(2000))
            .cast("double") / 1000.0 - 1.0
        ),
    )
    return spark.range(0, n, 1, CPUS * 4).select(i.alias(id_col), vec.alias("embedding"))


def bench_semantic_dedup(spark) -> float:
    """SemDeDup over SEM_VECS synthetic 32-dim vectors (plus a 10%
    identical-copy tail): 128-centroid broadcast assignment, within-
    cluster ids-only pair join with the star guard active (production
    config, max_bucket=500), exact-cosine verify, drop mode."""
    from pyspark.sql import functions as F

    from logstash_spark.operators.dataprep import semantic_dedup

    base = synthetic_vectors(spark, SEM_VECS)
    dups = base.where(F.col("vec_id") < SEM_VECS // 10).select(
        (F.col("vec_id") + SEM_VECS).alias("vec_id"), "embedding"
    )
    corpus = base.unionByName(dups)
    cent = synthetic_vectors(spark, 128).select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"), "embedding"
    )
    out = semantic_dedup(corpus, cent, threshold=0.95, max_bucket=500, mode="drop")
    return _time_best(lambda: out, spark)


def bench_ann_pq_scale(spark) -> float:
    """IVF-PQ ANN over ANN_VECS synthetic 32-dim vectors: 64 coarse
    lists, 4x8 PQ codes, 64 queries at nprobe=2 — the codes-only
    scoring join that replaces vector shipping at production scale."""
    from pyspark.sql import functions as F

    from logstash_spark.operators.dataprep import ann_ivf_pq

    em = synthetic_vectors(spark, ANN_VECS)
    cent = synthetic_vectors(spark, 64).select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"), "embedding"
    )
    out = ann_ivf_pq(
        em, em.where(F.col("vec_id") < 64), cent,
        dim=32, m_sub=4, k_codes=8, k=5, nprobe=2,
    )
    return _time_best(lambda: out, spark)


def bench_bpe_scale(spark) -> float:
    """BPE encode over DEDUP_DOCS synthetic docs (~40 words each): the
    Arrow pandas-UDF slow path with the per-executor word memo — the
    Zipfian-realistic case where the merge loop runs per DISTINCT word
    while every token still crosses the Arrow boundary. Merges are
    trained once (untimed setup: training is a separate one-pass job in
    production, amortized across every encode run)."""
    from pyspark.sql import functions as F

    from logstash_spark.operators.tokenizer import bpe_encode, bpe_train

    docs = synthetic_docs(spark, DEDUP_DOCS)
    merges = bpe_train(docs.limit(20_000), "text", num_merges=100, top_words=10_000)
    out = bpe_encode(docs, "text", merges, word_sep="_").select(
        F.sum(F.size("bpe_tokens")).alias("n_tok")
    )
    return _time_best(lambda: out, spark)


def bench_bm25_scale(spark) -> float:
    """Inverted-index build + BM25 top-10 for 32 queries over DEDUP_DOCS
    synthetic docs: the retrieval witness. Uses the full `bm25_index`
    artifact path — postings PERSISTED, stats + vocabulary df table
    derived once from that materialization — so a query batch scans the
    postings exactly once (the Lucene segment-metadata pattern). Timed
    end-to-end including the build."""
    from pyspark.sql import functions as F

    from logstash_spark.operators.retrieval import bm25_index, bm25_topk

    docs = synthetic_docs(spark, DEDUP_DOCS)
    queries = spark.createDataFrame(
        [(q, [f"w{(q * 37 + j) % 512:03d}" for j in range(3)]) for q in range(32)],
        "query_id int, terms array<string>",
    )

    state: dict = {}

    def run():
        for cached in state.values():  # drop the previous rep's cache
            cached.unpersist()
        post, stats, dft = bm25_index(docs)
        state["post"] = post
        state["stats"] = stats = stats.persist()
        state["dft"] = dft = dft.persist()
        return bm25_topk(post, queries, k=10, stats=stats, df_table=dft).agg(
            F.sum("score_scaled").alias("s"), F.count("*").alias("c")
        )

    try:
        return _time_best(run, spark)
    finally:
        for cached in state.values():
            cached.unpersist()


def bench_simhash_degenerate(spark) -> float:
    """Adversarial corpus for the SimHash band join (VERDICT r2 §wrong-4
    closure witness): 30% identical clones collapse whole bands into a
    handful of giant buckets. simhash_pairs' star guard caps candidates
    at O(B) per hot bucket; unguarded the band equi-join would be
    O(B^2) ≈ 10^7+ pairs here and unbounded at scale."""
    from logstash_spark.operators.dataprep import simhash_pairs, simhash_table

    docs = degenerate_docs(spark, DEDUP_DOCS)

    def run(docs) -> None:
        fp = simhash_table(docs, "doc_id", "text").persist()
        try:
            pairs = simhash_pairs(
                docs, "doc_id", "text", max_bucket=200, fp_table=fp
            )
            _force(pairs)
        finally:
            fp.unpersist()

    return _time_best(lambda: docs, spark, action=run)


def bench_dsir_scale(spark) -> float:
    """DSIR importance scoring + Bernoulli resample over DEDUP_DOCS
    synthetic docs: the map-only zero-shuffle path (literal ratio-table
    fold, integer thinning). Model fit is untimed setup — in production
    the fit runs once on a SAMPLE and is reused across the whole corpus;
    the per-row scoring pass is what scales with data volume."""
    from pyspark.sql import functions as F

    from logstash_spark.operators import dsir as DS

    docs = synthetic_docs(spark, DEDUP_DOCS)
    target = docs.where(F.col("doc_id") % 10 == 0).limit(20_000)
    model = DS.dsir_fit(target, docs.limit(50_000), buckets=1024)
    scored = DS.dsir_resample(
        DS.dsir_score(docs, model, buckets=1024), threshold=-8
    )
    out = scored.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("keep").cast("int")).alias("kept"),
        F.sum("logw2").alias("w"),
    )
    return _time_best(lambda: out, spark)


def bench_nb_classify_scale(spark) -> float:
    """Naive-Bayes classifier APPLY pass over DEDUP_DOCS synthetic docs:
    explode + broadcast model join + one groupBy(id). Training runs on a
    10% slice and is untimed setup (the production shape: a small seed
    model reused across the corpus); the timed pass is the corpus-wide
    classify, the thing that scales with data volume."""
    from pyspark.sql import functions as F

    from logstash_spark.operators import dataprep as D

    docs = synthetic_docs(spark, DEDUP_DOCS)
    train = docs.where(F.col("doc_id") % 10 == 0).select(
        "doc_id",
        "text",
        F.when(F.xxhash64("doc_id") % 2 == 0, F.lit("pos"))
        .otherwise(F.lit("neg"))
        .alias("label"),
    )
    tc, cs, v = D.nb_train(train)
    tc, cs, v = tc.persist(), cs.persist(), v.persist()
    tc.count(), cs.count(), v.count()  # model build is untimed setup

    def make():
        return D.nb_classify(docs, tc, cs, v, ["neg", "pos"]).select(
            "doc_id", "nb_label", "nb_score_pos_q"
        )

    t = _time_best(make, spark)
    tc.unpersist(), cs.unpersist(), v.unpersist()
    return t


def bench_netflow_scale(spark) -> float:
    """NetFlow v5 binary decode over NF_PACKETS synthetic export packets
    (id%3+1 flows each, ~2 flows avg): the numpy-vectorized binary
    fan-out path — ONE np.frombuffer per Arrow batch, header fields
    replicated via np.repeat, zero shuffle. Packets are pre-materialized
    (persist + count, untimed) so the timing isolates the DECODE, not
    the hex-concat synthesizer."""
    from pyspark.sql import functions as F

    from logstash_spark.operators.wire import netflow_decode, netflow_encode

    e = F.col("id")
    pkts = netflow_encode(
        spark.range(0, NF_PACKETS, 1, CPUS * 2),
        count=(e % 3 + 1).cast("int"),
        header={
            "sys_uptime": F.lit(3_600_000),
            "unix_secs": F.lit(1_700_000_000) + e % 100000,
            "flow_sequence": e,
        },
        record={
            "srcaddr": lambda i: F.lit(167_772_160) + (e % 65536) * 256 + i,
            "dstaddr": F.lit(3_232_235_777),
            "dPkts": lambda i: e % 1000 + i + 1,
            "dOctets": lambda i: (e % 1000 + i + 1) * 64,
            "first": lambda i: F.lit(3_000_000) + i,
            "last": lambda i: F.lit(3_500_000) + i,
            "srcport": F.lit(1024) + e % 60000,
            "dstport": F.lit(443),
            "prot": F.lit(6),
        },
    ).select("id", "packet").persist()
    try:
        pkts.count()
        out = netflow_decode(pkts, "packet").agg(
            F.count(F.lit(1)).alias("flows"),
            F.sum("in_bytes").alias("bytes"),
        )
        return _time_best(lambda: out, spark)
    finally:
        pkts.unpersist()


def bench_packing_scale(spark) -> float:
    """Boundary-aware sequence packing over PACK_DOCS synthetic token
    docs (avg ~48 tokens → ~48M tokens through ONE Exchange at the
    default): the canonical tokens-table assembly for the north-rule
    input shape (doc_id, tokens, n_tok, source). Streams are sharded
    256-way (how a 100 TB pack run parallelizes: per-shard streams, not
    8 giant per-source ones), and the with_boundaries layout forces
    tokens + position_ids + cu_seqlens materialization."""
    from pyspark.sql import functions as F

    from logstash_spark.operators.dataprep import pack_concat_chunks

    i = F.col("id")
    n_tok = (F.lit(16) + F.pmod(F.xxhash64(i * F.lit(7919)), F.lit(64))).cast(
        "int"
    )
    toks = F.transform(
        F.sequence(F.lit(0), n_tok - 1),
        lambda j: F.pmod(
            F.xxhash64(i * F.lit(100003) + j.cast("long")), F.lit(50257)
        ).cast("int"),
    )
    docs = spark.range(0, PACK_DOCS, 1, CPUS * 4).select(
        i.alias("doc_id"),
        F.pmod(F.xxhash64(i), F.lit(256)).cast("string").alias("source"),
        n_tok.alias("n_tok"),
        toks.alias("tokens"),
    )
    out = pack_concat_chunks(
        docs, group_col="source", seq_len=2048, with_boundaries=True
    )
    agg = out.agg(
        F.sum("n_tok").alias("toks"),
        F.count(F.lit(1)).alias("chunks"),
        F.sum("n_segments").alias("segs"),
    )
    return _time_best(lambda: agg, spark)


def bench_pack_nfd_scale(spark) -> float:
    """Boundary-PRESERVING next-fit-decreasing packing over PACK_DOCS
    synthetic docs, 256 hash shards (the SFT/eval packing mode:
    `pack_next_fit` never splits a doc). Prices the streaming
    mapInPandas seam — repartition(shard) + sortWithinPartitions + one
    Arrow pass with per-shard counters — against the all-Catalyst
    concat-and-chunk path benched above."""
    from pyspark.sql import functions as F

    from logstash_spark.operators.dataprep import pack_next_fit

    i = F.col("id")
    docs = spark.range(0, PACK_DOCS, 1, CPUS * 4).select(
        i.alias("doc_id"),
        (F.lit(16) + F.pmod(F.xxhash64(i * F.lit(7919)), F.lit(64)))
        .cast("long")
        .alias("n_tok"),
    )
    packed = pack_next_fit(
        docs, capacity=2048, n_shards=256, partitions=CPUS * 4
    )
    agg = packed.groupBy("shard").agg(
        F.max("bin").alias("bins"), F.sum("n_tok").alias("toks")
    )
    return _time_best(lambda: agg, spark)


def bench_wire_varint(spark) -> dict[str, float]:
    """Decode throughput for the four varint-family wire codecs (avro
    datum, fluent/msgpack forward, collectd TLV, protobuf) at WIRE_EVENTS
    events each. These decode per-datum in Python inside Arrow batches —
    the documented honest slow path (wire.py module docstring): varint
    layouts have data-dependent field widths, so there is no numpy
    offset-table vectorization like NetFlow's fixed 48-byte records.
    This bench makes that price VISIBLE instead of unmeasured: inputs
    are pre-materialized (persist + count, untimed) so the timing
    isolates the decode; throughput = WIRE_EVENTS / t events/s, all
    embarrassingly parallel and shuffle-free."""
    from pyspark.sql import functions as F

    from logstash_spark.operators.wire import (
        avro_decode,
        avro_encode,
        collectd_decode,
        collectd_encode_single_derive,
        fluent_decode,
        fluent_encode,
        protobuf_decode,
        protobuf_encode,
    )

    e = F.col("id")
    base = spark.range(0, WIRE_EVENTS, 1, CPUS * 2).select(
        "id",
        (e * 131 - 500000).alias("rec_id"),
        F.concat(F.lit("name-"), (e % 997).cast("string")).alias("name"),
        (e % 2 == 0).alias("ok"),
        (e.cast("double") / 4.0).alias("score"),
        (e * 1_000_000 + 1).alias("big"),
        F.concat(F.lit("m-"), e.cast("string")).alias("msg"),
        (e * 3).alias("n"),
        (e.cast("double") / 8.0).alias("ratio"),
    )
    avro_schema = [
        ("rec_id", "long"), ("name", "string"), ("ok", "boolean"),
        ("score", "double"),
    ]
    pb_schema = [
        (1, "rec_id", "sint64"), (2, "name", "string"), (3, "ok", "bool"),
        (4, "score", "double"), (5, "big", "fixed64"),
    ]
    fl_schema = [("msg", "string"), ("n", "bigint"), ("ratio", "double")]

    out: dict[str, float] = {}
    enc = avro_encode(base, avro_schema).select("id", "avro_datum").persist()
    try:
        enc.count()
        dec = avro_decode(enc, "avro_datum", avro_schema).agg(
            F.count(F.lit(1)).alias("n"), F.sum("rec_id").alias("s")
        )
        out["avro_decode_scale"] = round(_time_best(lambda: dec, spark), 3)
    finally:
        enc.unpersist()

    enc = fluent_encode(
        base, ["msg", "n", "ratio"],
        tag=F.concat(F.lit("app."), (e % 7).cast("string")),
        time=F.lit(1_700_000_000) + e % 86400,
    ).select("id", "fluent_msg").persist()
    try:
        enc.count()
        dec = fluent_decode(enc, "fluent_msg", fl_schema).agg(
            F.count(F.lit(1)).alias("rows"), F.sum("n").alias("s")
        )
        out["fluent_decode_scale"] = round(_time_best(lambda: dec, spark), 3)
    finally:
        enc.unpersist()

    enc = collectd_encode_single_derive(
        base.select("id"),
        host=F.concat(F.lit("host-"), (e % 20).cast("string")),
        plugin=F.lit("cpu"),
        type_=F.lit("derive"),
        type_instance=F.lit("user"),
        time_s=F.lit(1_700_000_000) + e % 1000,
        interval_s=F.lit(60),
        value=(e * 13) % 100000 - 50000,
    ).select("id", "packet").persist()
    try:
        enc.count()
        dec = collectd_decode(enc, "packet").agg(
            F.count(F.lit(1)).alias("rows"), F.sum("value_counter").alias("s")
        )
        out["collectd_decode_scale"] = round(_time_best(lambda: dec, spark), 3)
    finally:
        enc.unpersist()

    enc = protobuf_encode(base, pb_schema, emit_defaults=True).select(
        "id", "pb_msg"
    ).persist()
    try:
        enc.count()
        dec = protobuf_decode(enc, "pb_msg", pb_schema).agg(
            F.count(F.lit(1)).alias("rows"), F.sum("rec_id").alias("s")
        )
        out["protobuf_decode_scale"] = round(_time_best(lambda: dec, spark), 3)
    finally:
        enc.unpersist()
    return out


def bench_normalize_scale(spark) -> float:
    """Unicode normalizer + readability over BENCH_N/4 synthetic messy
    strings — the newest map-only family under the perf record: the
    whole job is scan → regexp/replace chains → counts, zero shuffle,
    so it measures whole-stage-codegen throughput of the fixed-chain
    string ops."""
    from pyspark.sql import functions as F

    from logstash_spark.operators.dataprep import readability_features
    from logstash_spark.operators.webtext import clean_text

    n = max(BENCH_N // 4, 1000)
    i = F.col("id")
    messy = F.concat(
        F.lit("Intro one. “Quote” text no "),
        (i % 997).cast("string"),
        F.lit(" mid–dash\r\nLine two. Tail … ends "),
        (i % 31).cast("string"),
        F.lit("."),
    )
    df = spark.range(0, n, 1, CPUS * 4).select(clean_text(messy).alias("t"))
    feats = readability_features(F.col("t"))
    out = df.select(*[v.alias(k) for k, v in feats.items()]).groupBy().agg(
        F.sum("fk_grade_cb").alias("s_fk"),
        F.sum("n_syllables").alias("s_syl"),
        F.count(F.lit(1)).alias("n"),
    )
    return _time_best(lambda: out, spark)


def bench_streaming_flagship(spark) -> float:
    """The RESUMABLE shape of the flagship: the same
    parse→enrich→route→aggregate transform driven by Structured
    Streaming (file source → foreachBatch fan-out with exactly-once
    `_batch_id` dynamic-partition sinks) over BENCH_N/4 rows landed as
    8 parquet files, maxFilesPerTrigger=2 → 4 micro-batches. Timed
    end-to-end per drain with a FRESH checkpoint each rep (best-of-2;
    a warm drain would be a no-op). Measures what the batch flagship
    number cannot: per-micro-batch planning overhead, checkpoint I/O,
    and real parquet sink writes (one explode + one
    (sink,_batch_id)-partitioned write per batch)."""
    import shutil
    import tempfile

    from logstash_spark.plans.flagship import build_flagship
    from logstash_spark.sources.gen import input_sequences
    from logstash_spark.streaming.pipeline import (
        file_stream_source,
        run_streaming_fanout,
    )

    sinks = ["sink_errors", "sink_edge", "sink_service", "sink_rest", "dlq"]
    n = max(BENCH_N // 4, 10_000)
    root = tempfile.mkdtemp(prefix="bench_stream_")
    landing = f"{root}/landing"
    df = input_sequences(spark, n, partitions=8)
    df.write.parquet(landing)
    schema = spark.read.parquet(landing).schema

    best = float("inf")
    for rep in range(2):
        sinks_root = f"{root}/sinks_{rep}"
        ckpt = f"{root}/ckpt_{rep}"
        stream = file_stream_source(
            spark, landing, schema, max_files_per_trigger=2
        )
        t0 = time.perf_counter()
        q = run_streaming_fanout(
            stream,
            build_flagship,
            sinks,
            sinks_root,
            ckpt,
            drop_before_write=("raw",),
        )
        q.awaitTermination()
        best = min(best, time.perf_counter() - t0)
    shutil.rmtree(root, ignore_errors=True)
    return best


def main() -> None:
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(CPUS))
    from logstash_spark.session import get_spark

    spark = get_spark(master=f"local[{CPUS}]", app_name="bench")
    spark.sparkContext.setLogLevel("ERROR")

    from logstash_spark.queries import QUERIES

    timings: dict[str, float] = {}

    # Warm the JVM/codegen once so timings measure steady-state plans.
    spark.read.parquet(f"{SF_DIR}/events.parquet").count()

    # Epoch anchor FIRST (fixed size, excluded from the suite total).
    calib = bench_calibration(spark)

    wall, rps = bench_flagship(spark)
    timings["flagship_e2e"] = round(wall, 3)
    # the real fan-out, reported next to the noop headline and left out
    # of the suite total so the headline keeps its meaning
    run_wall, run_bytes = bench_flagship_run_pipeline(spark)
    timings["dedupe_minhash_scale"] = round(bench_dedupe_scale(spark), 3)
    timings["dedupe_minhash_degenerate"] = round(bench_dedupe_degenerate(spark), 3)
    timings["ann_bruteforce_scale"] = round(bench_ann_scale(spark), 3)
    timings["ann_ivf_pq_scale"] = round(bench_ann_pq_scale(spark), 3)
    timings["semantic_dedup_scale"] = round(bench_semantic_dedup(spark), 3)
    timings["bpe_encode_scale"] = round(bench_bpe_scale(spark), 3)
    timings["dsir_score_scale"] = round(bench_dsir_scale(spark), 3)
    timings["bm25_scale"] = round(bench_bm25_scale(spark), 3)
    timings["simhash_pairs_degenerate"] = round(bench_simhash_degenerate(spark), 3)
    timings["netflow_decode_scale"] = round(bench_netflow_scale(spark), 3)
    timings.update(bench_wire_varint(spark))
    timings["nb_classify_scale"] = round(bench_nb_classify_scale(spark), 3)
    timings["packing_scale"] = round(bench_packing_scale(spark), 3)
    timings["pack_nfd_scale"] = round(bench_pack_nfd_scale(spark), 3)
    timings["normalize_scale"] = round(bench_normalize_scale(spark), 3)
    timings["streaming_flagship_unified"] = round(bench_streaming_flagship(spark), 3)

    for name in BENCH_QUERIES:
        fn = QUERIES.get(name)
        if fn is None:
            continue
        timings[name] = round(_time_best(lambda: fn(spark, SF_DIR), spark), 3)

    total = round(sum(timings.values()), 3)
    sf = float(SF_DIR.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in SF_DIR else None
    print(
        json.dumps(
            {
                "metric": "headline_suite_sec",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "flagship_rows": BENCH_N,
                "flagship_rows_per_sec": round(rps),
                "flagship_run_pipeline": round(run_wall, 3),
                "flagship_sink_bytes_per_row": round(run_bytes, 1),
                "dedup_docs": DEDUP_DOCS,
                "ann_vectors": ANN_VECS,
                "cpus": CPUS,
                **calib,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
