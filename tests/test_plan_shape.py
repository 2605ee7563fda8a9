"""Physical-plan shape assertions: the plans we WANT at 100 TB, not just
plans that pass (predicate pushdown, column pruning, broadcast joins,
no Python in native paths, wide-payload pruning through the pipeline)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_of(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_filter_pushdown_and_column_pruning(spark):
    from logstash_spark.queries import QUERIES

    df = QUERIES["lineitem_pricing"](spark, SF)
    plan = plan_of(df)
    # predicate reaches the parquet scan
    assert "PushedFilters: [" in plan and "l_shipdate" in plan.split("PushedFilters:")[1][:200]
    # scan reads only the needed columns (5 of 16)
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_comment" not in read_schema and "l_partkey" not in read_schema
    assert "l_quantity" in read_schema


def test_dim_joins_broadcast_not_sortmerge(spark):
    from logstash_spark.queries import QUERIES

    plan = plan_of(QUERIES["nation_revenue"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_translate_is_broadcast_join(spark):
    from logstash_spark.operators.enrich import translate

    ev = spark.read.parquet(f"{SF}/events.parquet")
    out = translate(ev, "event_type", "cat", {"click": "c", "view": "v"}, fallback="o")
    assert "BroadcastHashJoin" in plan_of(out)


def test_translate_broadcast_false_shuffles_both_sides(spark):
    """A jdbc_static-scale side table must not be forced through a
    broadcast: with broadcast=False (and the auto-broadcast threshold
    off so the tiny test dim doesn't get re-promoted) the join is a
    keyed shuffle — sort-merge or shuffle-hash, never BroadcastHashJoin."""
    from logstash_spark.operators.enrich import translate

    ev = spark.read.parquet(f"{SF}/events.parquet")
    dim = ev.select(F.col("event_type"), F.lit("x").alias("cat")).distinct()
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = translate(ev, "event_type", "cat", dim, broadcast=False)
        plan = plan_of(out)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "BroadcastHashJoin" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan


def test_native_grok_has_no_python(spark):
    from logstash_spark.operators.parse import grok

    ev = spark.read.parquet(f"{SF}/events.parquet").withColumn(
        "m", F.concat(F.col("event_type"), F.lit(" x"))
    )
    g = grok(ev, "m", r"^%{WORD:verb} %{WORD:tail}$")
    plan = plan_of(g)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_flagship_agg_prunes_token_payload(spark):
    """The aggregate path never materializes the wide `tokens` arrays —
    Catalyst prunes them out of generation entirely."""
    from logstash_spark.plans.flagship import build_flagship
    from logstash_spark.sources.gen import input_sequences

    df = input_sequences(spark, 1000, partitions=4)
    routed = build_flagship(df)
    agg = (
        routed.select(F.explode("routes").alias("sink"), "source", "n_tok")
        .groupBy("sink", "source")
        .agg(F.count("*").alias("cnt"))
    )
    assert "tokens" not in optimized_of(agg)


def test_ann_bruteforce_corpus_not_shuffled(spark):
    from logstash_spark.operators.dataprep import ann_topk_bruteforce

    em = spark.read.parquet(f"{SF}/embeddings.parquet")
    out = ann_topk_bruteforce(em, em.where(F.col("vec_id") < 3), k=3)
    plan = plan_of(out)
    # query side broadcast; the only exchange is the final top-k window
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_ann_ivf_no_query_side_broadcast_hint(spark):
    """Self-dedup IVF (queries == corpus) must not FORCE a broadcast of
    the query side: the only broadcast hints in the logical plan are the
    two dictionary-sized centroid tables (one per ivf_assign). AQE may
    still pick a broadcast physically at toy scale — the assertion is
    about the plan we'd ship at 10^12 vectors."""
    from logstash_spark.operators.dataprep import ann_ivf

    em = spark.read.parquet(f"{SF}/embeddings.parquet")
    cent = em.where(F.col("vec_id") < 8)
    def hints(df) -> int:
        # hints live in the analyzed plan (EliminateResolvedHint strips
        # them during optimization)
        return df._jdf.queryExecution().analyzed().toString().count("ResolvedHint")

    self_dedup = ann_ivf(em, em, cent, k=3, nprobe=1, broadcast_queries=False)
    assert hints(self_dedup) == 2  # the two centroid-table broadcasts
    dictionary_q = ann_ivf(
        em, em.where(F.col("vec_id") < 3), cent, k=3, nprobe=1, broadcast_queries=True
    )
    assert hints(dictionary_q) == 3


def test_ivf_assign_nprobe1_mapside_combine(spark):
    """Corpus-side assignment (nprobe=1) must be min-struct aggregation,
    NOT a rank window: partial_min runs map-side, so the exchange
    carries one row per vector instead of all N x K joined rows."""
    from logstash_spark.operators.dataprep import ivf_assign

    em = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = plan_of(ivf_assign(em, em.where(F.col("vec_id") < 8), nprobe=1))
    assert "Window" not in plan
    assert "partial_min" in plan  # map-side combine before the shuffle
    # the query-side nprobe>1 path still ranks with a window
    plan2 = plan_of(ivf_assign(em, em.where(F.col("vec_id") < 8), nprobe=2))
    assert "Window" in plan2


def test_sequence_packing_two_exchanges_no_token_rows(spark):
    """pack_concat_chunks: exactly two exchanges (offset window on the
    group key + chunk groupBy) and no per-token row explosion — the only
    Generate explodes the ≤ n_tok/L+1 chunk ids a doc overlaps."""
    from logstash_spark.operators.dataprep import pack_concat_chunks

    docs = spark.createDataFrame(
        [("s", i, list(range(i % 7 + 1)), i % 7 + 1) for i in range(50)],
        ["source", "doc_id", "tokens", "n_tok"],
    )
    out = pack_concat_chunks(docs, seq_len=8)
    plan = optimized_of(out)
    assert plan.count("Generate explode") == 1  # chunk ids only
    phys = plan_of(out)
    # ONE shuffle total: the chunk groupBy's ClusteredDistribution on
    # (group, seq_id) is satisfied by the window's hash partitioning on
    # the group key, so Catalyst elides the second exchange.
    assert phys.count("Exchange hashpartitioning") == 1


def test_chunk_tokens_no_shuffle(spark):
    from logstash_spark.operators.dataprep import chunk_tokens

    docs = spark.createDataFrame(
        [(1, list(range(20)))], ["doc_id", "tokens"]
    )
    assert "Exchange" not in plan_of(chunk_tokens(docs, seq_len=8, stride=4))


def test_ngram_jaccard_inverted_exchange_reuse(spark):
    """ngram_jaccard_pairs: the postings shuffle on the gram key is
    computed ONCE — the df-window output feeds both sides of the
    candidate self-join via ReusedExchange — and the candidate dedup
    aggregate carries only bare ids (no shingle payload rides the
    candidate shuffle; arrays re-join only after dropDuplicates)."""
    import re

    from logstash_spark.operators.dataprep import ngram_jaccard_pairs

    docs = spark.createDataFrame(
        [(i, "the quick brown fox jumps over lazy dog number %d" % (i % 7))
         for i in range(60)],
        ["doc_id", "text"],
    )
    out = ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5, max_df=50)
    out.collect()  # finalize the AQE plan
    assert "ReusedExchange" in plan_of(out)
    m = re.search(r"Aggregate \[doc_a[^\n]*", optimized_of(out))
    assert m is not None and "_sh" not in m.group(0)


@pytest.mark.parametrize("qname", ["grok_parse", "route_fanout", "text_quality"])
def test_whole_stage_codegen_present(spark, qname):
    """Hot paths stay inside whole-stage codegen (no interpreted fallback)."""
    from logstash_spark.queries import QUERIES

    df = QUERIES[qname](spark, SF)
    # collect() finalizes THIS DataFrame's QueryExecution (a write action
    # would execute a separate one and leave this plan isFinalPlan=false)
    df.collect()
    plan = plan_of(df)
    # '*(N)' prefixes mark WholeStageCodegen stages in toString()
    assert "WholeStageCodegen" in plan or "*(1)" in plan


def test_semantic_dedup_candidates_carry_bare_ids(spark):
    """semantic_dedup: the within-cluster candidate dedup aggregates only
    (id, id) pairs — no vector payload rides the candidate shuffle — and
    the single ResolvedHint is the dictionary-sized centroid broadcast."""
    import re

    from logstash_spark.operators.dataprep import semantic_dedup

    em = spark.read.parquet(f"{SF}/embeddings.parquet")
    cent = em.where(F.col("vec_id") < 4)
    out = semantic_dedup(em, cent, threshold=0.9, mode="flag")
    # every ResolvedHint in the tree is the centroid broadcast (the
    # ivf_assign subtree appears 4x: l/r candidate aliases + output join)
    analyzed = out._jdf.queryExecution().analyzed().toString()
    assert analyzed.count("ResolvedHint") >= 1
    m = re.search(r"Aggregate \[_a[^\n]*", optimized_of(out))
    assert m is not None and "_v" not in m.group(0) and "embedding" not in m.group(0)


def test_pq_encode_zero_shuffle_no_python(spark):
    from logstash_spark.operators.dataprep import pq_encode

    em = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = plan_of(pq_encode(em, dim=64, m_sub=4, k_codes=16))
    assert "Exchange" not in plan
    assert "EvalPython" not in plan


def test_bloom_decontaminate_zero_shuffle(spark):
    from logstash_spark.operators.dataprep import bloom_decontaminate

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = bloom_decontaminate(docs, [0] * 32, n=5, m_bits=1024, k=3)
    plan = plan_of(out)
    assert "Exchange" not in plan and "EvalPython" not in plan


def test_unigram_vocab_topk_not_global_sort(spark):
    """The vocab cut must be TakeOrderedAndProject (map-side partial
    top-K), never a full Sort of the distinct-word table."""
    from logstash_spark.operators.dataprep import unigram_vocab_logp

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(unigram_vocab_logp(docs, vocab_size=64))
    assert "TakeOrderedAndProject" in plan
    assert "Sort [cnt" not in plan


def test_unigram_score_vocab_broadcast(spark):
    from logstash_spark.operators.dataprep import (
        unigram_logprob_score,
        unigram_vocab_logp,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    vocab = unigram_vocab_logp(docs, vocab_size=64)
    out = unigram_logprob_score(docs, vocab)
    assert "BroadcastHashJoin" in plan_of(out)


def test_output_encoders_zero_shuffle_no_python(spark):
    """csv/syslog/statsd encode must stay pure column expressions:
    no Exchange, no Python eval node — one codegen'd projection."""
    from logstash_spark.operators.codec import csv_encode, statsd_encode, syslog_encode

    ev = spark.read.parquet(f"{SF}/events.parquet").withColumn(
        "metric", F.lit("m")
    ).withColumn("value", F.col("event_id").cast("double"))
    out = csv_encode(ev, ["event_id", "event_type"], target="line")
    out = syslog_encode(out, host_col="event_type", message_col="line")
    out = statsd_encode(out)
    plan = plan_of(out)
    assert "Exchange" not in plan
    assert "Python" not in plan and "ArrowEval" not in plan
    # "*(1)" is executedPlan toString's whole-stage-codegen marker
    assert "*(1) Project" in plan


def test_bpe_encode_single_arrow_node(spark):
    """BPE encode is ONE Arrow pandas-UDF eval over the text column —
    no shuffle, no extra Python nodes, scan not widened."""
    from logstash_spark.operators.tokenizer import bpe_encode

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = bpe_encode(docs.select("doc_id", "text"), "text", [("t", "h")]).select(
        "doc_id", F.size("bpe_tokens").alias("n")
    )
    plan = plan_of(out)
    assert plan.count("ArrowEvalPython") == 1
    assert "Exchange" not in plan


def test_minhash_cross_band_join_carries_ids_only(spark):
    """The cross-dedup band join must move (id, band, key) rows only —
    shingle arrays (_sh) and signatures (_sig) never enter the join's
    exchanges; they re-join after candidate dedup."""
    from logstash_spark.operators.dataprep import (
        minhash_lsh_pairs_cross,
        shingle_sig_table,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    shard = docs.select((F.col("doc_id") + 100000).alias("doc_id"), "text")
    sig = shingle_sig_table(docs, "doc_id", "text", n=3, k=8)
    out = minhash_lsh_pairs_cross(shard, sig, "doc_id", "text", n=3, k=8)
    plan = plan_of(out)
    # every exchange feeding the band join is id/band/key-shaped: no
    # exchange row carries the shingle array column
    band_join_region = plan.split("SortMergeJoin")[0] if "SortMergeJoin" in plan else plan
    for seg in plan.split("Exchange hashpartitioning")[1:]:
        header = seg.splitlines()[0]
        if "_band" in header or "_key" in header:
            # the banded exchanges: their output schema should not have _sh
            assert "_sh#" not in header


def test_gzip_lines_single_arrow_node_no_shuffle(spark):
    from logstash_spark.queries import QUERIES

    import re

    plan = plan_of(QUERIES["gzip_lines_codec"](spark, SF))
    # the only Exchange allowed is the final orderBy's range partitioning
    exchanges = re.findall(r"Exchange (\w+)", plan)
    assert len(exchanges) <= 1
    assert all(e.startswith("rangepartitioning") for e in exchanges)
    # posexplode (Generate) sits BELOW that exchange in the printed tree,
    # i.e. it executes pre-shuffle, straight off the Arrow inflate
    assert "Generate" in plan.split("Exchange")[-1]


def test_punct_template_single_shuffle_partial_agg(spark):
    from logstash_spark.queries import QUERIES

    plan = plan_of(QUERIES["punct_template_mining"](spark, SF))
    # map-side partial aggregation before the one groupBy exchange
    assert plan.count("HashAggregate") >= 2
    hash_exchanges = [
        seg for seg in plan.split("Exchange")[1:] if seg.lstrip().startswith("hashpartitioning")
    ]
    assert len(hash_exchanges) == 1  # one keyed shuffle; orderBy adds a range one
    # skeleton is pure Catalyst — no Python anywhere
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_build_postings_single_exchange(spark):
    # The inverted-index build is the only corpus-wide shuffle of the
    # retrieval path: doc length is computed map-side BEFORE the explode
    # (a window over partitionBy(doc) after the (doc,term) groupBy would
    # cost a second Exchange).
    from logstash_spark.operators.retrieval import build_postings

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(build_postings(docs))
    assert plan.count("Exchange") == 1
    assert "Window" not in plan and "ArrowEvalPython" not in plan


def test_bm25_scoring_broadcasts_queries_not_corpus(spark):
    from logstash_spark.operators.retrieval import bm25_topk, build_postings

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    postings = build_postings(docs)
    q = spark.createDataFrame(
        [(1, ["alpha", "beta"])], "query_id int, terms array<string>"
    )
    plan = plan_of(bm25_topk(postings, q, k=5))
    # the qidf side (query terms × df × corpus stats) broadcasts into the
    # postings join — the corpus never broadcasts and never re-sorts
    assert "BroadcastHashJoin" in plan


def test_netflow_decode_zero_shuffle_one_arrow_node(spark):
    """The netflow packet->flows fan-out happens map-side: one
    MapInPandas node, no Exchange anywhere (encode is pure column
    algebra, decode explodes within the batch)."""
    from logstash_spark.operators.wire import netflow_decode, netflow_encode

    e = F.col("id")
    pkts = netflow_encode(
        spark.range(100),
        count=(e % 3 + 1).cast("int"),
        header={"unix_secs": F.lit(1_700_000_000)},
        record={"srcaddr": lambda i: e + i, "dPkts": F.lit(1)},
    )
    out = netflow_decode(pkts, "packet")
    plan = plan_of(out)
    assert "Exchange" not in plan
    assert plan.count("MapInPandas") == 1


def test_pmi_phrases_dfcut_before_vocab_joins(spark):
    """min_count prunes the bigram tail BEFORE the unigram joins: the
    optimized plan applies the cnt filter directly on the bigram
    aggregate (below the joins), so the singleton tail never shuffles
    twice."""
    from logstash_spark.operators.dataprep import pmi_phrases

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = pmi_phrases(docs, min_count=5, delta=1, top_k=10)
    opt = optimized_of(out)
    joins = [ln for ln in opt.splitlines() if "Join" in ln]
    filt = [ln for ln in opt.splitlines() if "cnt_ab" in ln and "Filter" in ln]
    assert joins and filt
    # the filter line sits deeper (more indented) than the last join
    depth = lambda s: len(s) - len(s.lstrip(" :+-"))
    assert min(depth(f) for f in filt) > max(depth(j) for j in joins)
    # top-k is TakeOrdered, never a global Sort+Limit
    assert "TakeOrderedAndProject" in plan_of(out)


def test_bucketed_join_zero_exchange(spark):
    """write_bucketed pays the shuffle once at write time: the
    sort-merge join of two tables bucketed on the join key has ZERO
    Exchange on either side, and both scans carry the bucketing spec."""
    from logstash_spark.queries import QUERIES

    df = QUERIES["bucketed_join_colocated"](spark, SF)
    plan = plan_of(df)
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan
    assert plan.count("Bucketed: true") == 2
    assert "SelectedBucketsCount: 8 out of 8" in plan


def test_bitext_mine_three_exchanges_broadcast_src(spark):
    """bitext_mine's scored table takes exactly three Exchanges
    (s_id -> t_id -> s_id): each window family (rank + conditional
    top-k sum, then best-by-margin) reuses its key's partitioning, and
    the probe-side src set is broadcast — the corpus side never
    shuffles before scoring."""
    from logstash_spark.operators.dataprep import bitext_mine

    em = spark.read.parquet(f"{SF}/embeddings.parquet")
    out = bitext_mine(
        em.where(F.col("vec_id") < 10),
        em.where(F.col("vec_id") >= 10),
        k=4,
        margin_threshold_ppm=0,
        mutual=False,
    )
    plan = plan_of(out)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges == 3, f"expected 3 key Exchanges, saw {n_exchanges}"
    assert "SortMergeJoin" not in plan


def test_conf_binary_codec_path_is_shuffle_free(spark, tmp_path):
    """`input { file { codec => netflow } }` compiled from conf text must
    stay the map-only topology the operator promises at 100 TB: one
    binaryFile scan → ONE MapInPandas (the numpy-vectorized decode) →
    column projection, zero Exchange before any sink write."""
    from pyspark.sql import functions as F

    from logstash_spark.operators.wire import netflow_encode
    from logstash_spark.plans.lscl import bind_input, parse_config

    p = F.col("id")
    pkts = netflow_encode(
        spark.range(0, 4, 1, 1),
        count=F.lit(2).cast("int"),
        header={"sys_uptime": F.lit(1000), "unix_secs": F.lit(1_700_000_000),
                "flow_sequence": p},
        record={"srcaddr": F.lit(167_772_161), "dPkts": lambda i: i + 1,
                "dOctets": lambda i: (i + 1) * 64},
    ).select("id", "packet").collect()
    d = tmp_path / "nf"
    d.mkdir()
    for r in pkts:
        (d / f"{r['id']}.nf").write_bytes(bytes(r["packet"]))
    conf = f'input {{ file {{ path => "{d}" codec => netflow }} }}'
    df = bind_input(spark, parse_config(conf))
    df.collect()
    plan = plan_of(df)
    assert "Exchange" not in plan, plan
    assert plan.count("MapInPandas") == 1, plan
