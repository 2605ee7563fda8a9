"""Standing sf0.1 oracle-parity pass for the newest gate families
(round-3-late + round-4 operators: mix layer, calibration/eval, wire
codecs, streaming gates, @metadata/codec config surface). Scale-
dependent bugs — integer overflow, skew-sensitive plans, quantile
drift — cannot hide at sf0.01; this subset re-runs the IDENTICAL
cross-engine check at 10x the rows.

Opt-in (10x data ≈ minutes, not seconds):

    SPARK_GRAFT_SF01=1 python -m pytest tests/test_oracle_parity_sf01.py

Latest green run is recorded in BENCH/BASELINE.md §"sf0.1 parity".
"""

from __future__ import annotations

import os

import duckdb
import pytest

from tests.test_oracle_parity import TABLES, _rows_to_set

SF01_DIR = "/root/testdata/sf0.1"

# The ~40 newest gates (the eval, mix, wire-codec and streaming gates
# now in queries_eval / queries_sampling / queries_codec /
# queries_streaming), plus the round-4 surface. gale_church_align was the sf0.1 pathfinder
# (verified bit-exact both scales in round 3) and stays as the canary.
# Round 5: the former individually-listed eval/mix/batch-34/35 gates now
# ride inside their queries_folds combined gates (each fold re-runs every
# sub-query verbatim, so listing the fold IS the 10x-scale check of all
# its subs), plus a ~55-gate rotation of the older registry per the r04
# verdict ("grow the sf0.1 parity list toward the whole registry").
SF01_GATES = [
    # all 34 round-5 folds (cover 78 former sub-gates at sf0.1)
    "image_pipeline", "av_frame_pipeline", "html_clean_pipeline",
    "crawl_policy_pipeline", "crawl_graph_pipeline",
    "classifier_eval_report", "sample_eval_report", "model_battle_report",
    "calibration_pipeline", "rank_agreement_report", "text_overlap_eval",
    "retrieval_quality_report", "preference_mining_pipeline",
    "sampling_policies", "mixture_design_pipeline",
    "robust_scaling_pipeline", "outlier_quality_report",
    "text_canonicalize_pipeline", "doc_profile_report",
    "chat_assembly_pipeline", "chunk_align_pipeline",
    "weak_label_pipeline", "shard_coverage_report",
    "lexical_retrieval_pipeline", "sketch_observability_report",
    "clustering_pipeline", "int8_ann_pipeline", "split_hygiene_report",
    "corpus_probe_report", "dedup_forensics_pipeline",
    "corpus_release_report", "vocab_scaling_laws",
    "packing_layout_report", "bitext_align_pipeline",
    # round-4 wire/streaming/LSCL gates (carried from the r04 list)
    "avro_codec", "cloudtrail_codec", "collectd_codec", "fluent_codec",
    "netflow_codec", "protobuf_codec", "streaming_dedupe_keys",
    "streaming_enrich_fanout", "streaming_interval_join",
    "streaming_sessions_gap", "lscl_codec_pipeline",
    "metadata_convention", "lscl_env_pipeline", "warc_ingest",
    # rotation: older scale-sensitive gates (parse hot paths, joins,
    # dedup/ANN shuffle topologies, aggregations, packing, decontam)
    "grok_parse", "dissect_parse", "kv_parse", "date_parse", "json_props",
    "mutate_ops", "translate_enrich", "route_fanout", "sessionize_gap",
    "cardinality_metrics", "metrics_window", "metrics_ewma",
    "metrics_timer_percentiles", "rollup_agg", "aggregate_salted_skew",
    "dedupe_exact", "dedupe_minhash_lsh", "dedupe_minhash_cross",
    "simhash_bands", "simhash_pairs", "ngram_jaccard_inverted",
    "embed_dup_quantized", "embed_dup_cosine", "ann_cosine_topk",
    "ann_lsh_bucketed", "ann_ivf", "ann_ivf_pq", "semantic_dedup_flags",
    "text_quality", "text_langid_fingerprint", "unigram_lm_quality",
    "bigram_lm_quality", "token_chunking", "sequence_packing",
    "token_budget_mix", "paragraph_dedup", "token_window_dedup",
    "bloom_decontam", "decontaminate_flags", "token_decontam",
    "embed_decontam_flags", "dsir_importance_resample",
    "corpus_curation_e2e", "hll_cardinality", "cms_frequency",
    "pmi_phrases", "bpe_tokenize", "stratified_sample_det",
    "pipeline_graph", "snapshot_cdc_diff", "bucketed_join_colocated",
    "dlq_replay", "xml_xpath", "grok_apache_combined",
    "lineitem_pricing", "nation_revenue",
]

_optin = pytest.mark.skipif(
    not os.environ.get("SPARK_GRAFT_SF01"),
    reason="sf0.1 parity is opt-in: set SPARK_GRAFT_SF01=1",
)


@pytest.fixture(scope="module")
def duck01():
    con = duckdb.connect()
    for t in TABLES:
        p = f"{SF01_DIR}/{t}.parquet"
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


@_optin
@pytest.mark.parametrize("name", SF01_GATES)
def test_query_matches_oracle_sf01(spark, duck01, name):
    from logstash_spark.queries import ORACLES, QUERIES

    sdf = QUERIES[name](spark, SF01_DIR)
    spark_rows = sdf.collect()
    spark_cols = sdf.columns

    res = duck01.sql(ORACLES[name])
    duck_cols = res.columns
    duck_rows = res.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column mismatch {spark_cols} vs {duck_cols}"
    )
    assert len(spark_rows) == len(duck_rows), f"{name}: row count"
    s = _rows_to_set(spark_cols, [tuple(r) for r in spark_rows])
    d = _rows_to_set(duck_cols, duck_rows)
    mism = [i for i, (a, b) in enumerate(zip(s, d)) if a != b][:3]
    assert s == d, f"{name}: value mismatch, first diffs at {mism}: " + str(
        [(s[i], d[i]) for i in mism]
    )


def test_all_sf01_gates_exist():
    """The curated list tracks the registry (rename-safe)."""
    from logstash_spark.queries import ORACLES, QUERIES

    missing = [n for n in SF01_GATES if n not in QUERIES or n not in ORACLES]
    assert not missing, missing
