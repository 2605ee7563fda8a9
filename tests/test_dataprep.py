"""Behavioral tests for training-data prep operators (dedup, similarity,
text analysis, multimodal plumbing) on tiny hand-built frames. Oracle
parity at sf0.01 is covered separately by test_oracle_parity."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from logstash_spark.operators import dataprep as D


@pytest.fixture(scope="module")
def tiny_docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog", "en", "web"),
        (2, "the quick brown fox jumps over the lazy cat", "en", "web"),  # near-dup of 1
        (3, "completely different words entirely unrelated text here now", "en", "web"),
        (4, "table row column query table row column query scan", "db", "app"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text", "lang", "source"])


def test_minhash_lsh_finds_near_dup(tiny_docs):
    pairs = D.minhash_lsh_pairs(
        tiny_docs, "doc_id", "text", n=2, k=8, bands=4, threshold=0.5
    ).collect()
    found = {(r.doc_a, r.doc_b) for r in pairs}
    assert (1, 2) in found
    assert all(p == (1, 2) for p in found)  # no false positives survive verify
    jac = next(r.jaccard for r in pairs if (r.doc_a, r.doc_b) == (1, 2))
    # 2-gram shingles: 8 each, 7 shared -> 7/9
    assert abs(jac - round(7 / 9, 4)) < 1e-9


def test_minhash_hot_bucket_star_guard(spark):
    """A dup-heavy corpus (many identical docs) must produce O(B) star
    candidates against the bucket representative, not O(B^2) all-pairs —
    and every identical doc must still be linked to the representative."""
    n_dup = 40
    rows = [(i, "alpha beta gamma delta epsilon zeta eta theta") for i in range(n_dup)]
    rows += [(100 + i, f"unique{i} filler{i} words{i} here{i} now{i}") for i in range(10)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = D.minhash_lsh_pairs(
        docs, "doc_id", "text", n=2, k=8, bands=4, threshold=0.5, max_bucket=10
    ).collect()
    found = {(r.doc_a, r.doc_b) for r in pairs}
    # star topology: all 39 dups link to representative doc 0, nothing else
    assert found == {(0, i) for i in range(1, n_dup)}
    assert all(r.jaccard == 1.0 for r in pairs)


def test_minhash_normal_bucket_exact_pairs(spark):
    """Below max_bucket the exact all-pairs join still runs (no recall
    loss for normal buckets)."""
    rows = [(i, "alpha beta gamma delta epsilon zeta") for i in range(4)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = D.minhash_lsh_pairs(
        docs, "doc_id", "text", n=2, k=8, bands=4, threshold=0.5, max_bucket=100
    ).collect()
    found = {(r.doc_a, r.doc_b) for r in pairs}
    assert found == {(a, b) for a in range(4) for b in range(4) if a < b}


def test_minhash_short_doc_fallback(spark):
    """short_doc='whole_text': exact duplicates of docs shorter than n
    words are still caught (single whole-text shingle); 'drop' excludes
    them silently."""
    rows = [
        (1, "tiny doc"),
        (2, "tiny doc"),
        (3, "other short"),
        (4, "a sufficiently long document with many distinct words inside"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = D.minhash_lsh_pairs(
        docs, "doc_id", "text", n=3, k=8, bands=4, threshold=0.5,
        short_doc="whole_text",
    ).collect()
    assert {(r.doc_a, r.doc_b, r.jaccard) for r in pairs} == {(1, 2, 1.0)}
    dropped = D.minhash_lsh_pairs(
        docs, "doc_id", "text", n=3, k=8, bands=4, threshold=0.5, short_doc="drop"
    ).collect()
    assert dropped == []


def test_jaccard_exact(spark):
    df = spark.range(1).select(
        D.jaccard(F.array(F.lit(1), F.lit(2), F.lit(3)), F.array(F.lit(2), F.lit(3), F.lit(4))).alias("j")
    )
    assert df.first().j == 0.5


def test_simhash_deterministic_and_locality(spark, tiny_docs):
    fps = {r.doc_id: r.simhash for r in D.simhash_table(tiny_docs, "doc_id", "text").collect()}
    assert set(fps) == {1, 2, 3, 4}
    assert all(0 <= v < 2**32 for v in fps.values())
    # identical text -> identical fingerprint
    again = D.simhash_table(tiny_docs, "doc_id", "text").collect()
    assert {r.doc_id: r.simhash for r in again} == fps

    def ham(a, b):
        return bin(a ^ b).count("1")

    # near-dup docs are closer in hamming space than unrelated docs
    assert ham(fps[1], fps[2]) < ham(fps[1], fps[3])


def test_ann_bruteforce_topk(spark):
    rows = [
        (0, [1.0, 0.0]),
        (1, [0.9, 0.1]),
        (2, [0.0, 1.0]),
        (3, [-1.0, 0.0]),
    ]
    em = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = D.ann_topk_bruteforce(em, em.where(F.col("vec_id") == 0), k=2).collect()
    ranked = sorted(out, key=lambda r: r.rank)
    assert [r.c_id for r in ranked] == [1, 2]  # closest first, orthogonal second


def test_ann_lsh_bucket_deterministic(spark):
    rows = [(0, [1.0, 2.0, 3.0]), (1, [1.0, 2.0, 3.0]), (2, [-5.0, 0.5, -2.0])]
    em = spark.createDataFrame(rows, ["vec_id", "embedding"])
    b = em.select("vec_id", D.hyperplane_sign_bucket(F.col("embedding"), 6).alias("b")).collect()
    buckets = {r.vec_id: r.b for r in b}
    assert buckets[0] == buckets[1]  # identical vectors share a bucket
    assert 0 <= buckets[0] < 64


def test_lang_id_and_quality(spark, tiny_docs):
    out = tiny_docs.select(
        "doc_id",
        D.lang_id(F.col("text")).alias("lang_pred"),
        *[c.alias(n) for n, c in D.quality_features(F.col("text")).items()],
    ).collect()
    by_id = {r.doc_id: r for r in out}
    assert by_id[1].lang_pred == "en"  # 'the' x2
    assert by_id[4].lang_pred == "db"  # table/row/column/query
    assert by_id[1].n_words == 9
    assert 0 <= by_id[1].quality <= 1.0
    assert by_id[1].stop_ratio == round(2 / 9, 4)


def test_token_counts_and_fingerprint(spark):
    df = spark.createDataFrame([(1, "hello, world! x")], ["doc_id", "text"])
    toks = D.token_counts(F.col("text"))
    r = df.select(
        toks["ws_tokens"].alias("ws"),
        toks["re_tokens"].alias("re"),
        D.rolling_fingerprint(F.col("text")).alias("fp"),
    ).first()
    assert r.ws == 3
    assert r.re == 5  # hello , world ! x
    assert 0 <= r.fp < D.FP_P
    # order sensitivity: permuted words -> different fingerprint
    r2 = spark.createDataFrame([(1, "world! hello, x")], ["doc_id", "text"]).select(
        D.rolling_fingerprint(F.col("text")).alias("fp")
    ).first()
    assert r2.fp != r.fp


def test_ann_ivf_recall_monotone(spark):
    rows = [(i, [float((i * 7 + j * 3) % 11) - 5.0 for j in range(8)]) for i in range(40)]
    em = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = em.where(F.col("vec_id") < 4)
    cent = em.where(F.col("vec_id") < 6)
    bf = {(r.q_id, r.c_id) for r in D.ann_topk_bruteforce(em, q, k=3).collect()}
    prev = -1
    for nprobe in (1, 3, 6):
        ivf = {(r.q_id, r.c_id) for r in D.ann_ivf(em, q, cent, k=3, nprobe=nprobe).collect()}
        rec = len(ivf & bf)
        assert rec >= prev
        prev = rec
    # probing every list reproduces brute force exactly
    assert ivf == bf


def test_binary_meta_decode_stub(spark):
    df = spark.createDataFrame([(1, "abcd"), (2, "a" * 700)], ["doc_id", "text"])
    df = df.withColumn("payload", F.encode(F.col("text"), "utf-8"))
    out = {r.doc_id: r for r in D.binary_meta_decode(df, "payload").collect()}
    assert out[1].n_bytes == 4 and out[1].width == 4 and out[1].height == 28
    assert out[2].n_bytes == 700 and out[2].width == 60 and out[2].n_frames == 700 % 16


def test_chunk_tokens_sliding(spark):
    df = spark.createDataFrame([(1, list(range(10)))], ["doc_id", "tokens"])
    out = sorted(
        (r["chunk_id"], r["tokens"], r["n_tok"])
        for r in D.chunk_tokens(df, seq_len=4, stride=3).collect()
    )
    assert out == [
        (0, [0, 1, 2, 3], 4),
        (1, [3, 4, 5, 6], 4),
        (2, [6, 7, 8, 9], 4),
        (3, [9], 1),
    ]
    full = D.chunk_tokens(df, seq_len=4, stride=3, drop_last_partial=True).collect()
    assert all(r["n_tok"] == 4 for r in full) and len(full) == 3


def test_pack_concat_chunks_straddles_boundaries(spark):
    """Docs concatenate in id order per group; chunk boundary cuts
    straight through doc 2; trailing partial kept unless dropped."""
    rows = [
        ("s", 1, [1, 2, 3], 3),
        ("s", 2, [4, 5, 6, 7], 4),
        ("s", 3, [8, 9], 2),
        ("t", 9, [100], 1),
    ]
    df = spark.createDataFrame(rows, ["source", "doc_id", "tokens", "n_tok"])
    out = {
        (r["source"], r["seq_id"]): r["tokens"]
        for r in D.pack_concat_chunks(df, seq_len=4).collect()
    }
    assert out == {
        ("s", 0): [1, 2, 3, 4],
        ("s", 1): [5, 6, 7, 8],
        ("s", 2): [9],
        ("t", 0): [100],
    }
    dropped = D.pack_concat_chunks(df, seq_len=4, drop_last_partial=True).collect()
    assert {(r["source"], r["seq_id"]) for r in dropped} == {("s", 0), ("s", 1)}


def test_minhash_rejects_bad_band_config(spark, tiny_docs):
    with pytest.raises(ValueError, match="bands must divide k"):
        D.minhash_lsh_pairs(tiny_docs, "doc_id", "text", k=8, bands=16)
    with pytest.raises(ValueError, match="bands must divide k"):
        D.minhash_lsh_pairs(tiny_docs, "doc_id", "text", k=8, bands=3)
    # the cross-corpus variant applies the same check, bands=0 included
    sig = D.shingle_sig_table(tiny_docs, "doc_id", "text")
    for bands in (0, 3, 16):
        with pytest.raises(ValueError, match="bands must divide k"):
            D.minhash_lsh_pairs_cross(tiny_docs, sig, "doc_id", "text", k=8, bands=bands)


def test_ann_exclude_self_flag(spark):
    """Distinct query/corpus tables with overlapping id spaces: the
    same-id candidate must be searchable with exclude_self=False."""
    corpus = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], ["vec_id", "embedding"]
    )
    queries = spark.createDataFrame([(0, [0.9, 0.1])], ["vec_id", "embedding"])
    with_self = D.ann_topk_bruteforce(
        corpus, queries, k=1, exclude_self=False
    ).collect()
    assert [(r.q_id, r.c_id) for r in with_self] == [(0, 0)]
    without = D.ann_topk_bruteforce(corpus, queries, k=1).collect()
    assert [(r.q_id, r.c_id) for r in without] == [(0, 1)]  # self dropped


def test_binary_meta_decode_null_payload(spark):
    from pyspark.sql import functions as F2

    df = spark.createDataFrame([(1, "abcd"), (2, None)], ["doc_id", "text"])
    df = df.withColumn("payload", F2.encode(F2.col("text"), "utf-8"))
    out = {r.doc_id: r for r in D.binary_meta_decode(df, "payload").collect()}
    assert out[1].n_bytes == 4
    assert out[2].n_bytes is None and out[2].width is None


def test_generator_tokens_valid_at_large_ids(spark):
    """Token synthesis must stay in [0, 50257) for ids past the old
    int64-overflow point (~3.47e9) — the 1e12-scale claim."""
    from logstash_spark.sources.gen import input_sequences
    from pyspark.sql import functions as F2

    # same expressions as input_sequences, over a large-offset range
    big = spark.range(4_000_000_000, 4_000_000_050)
    toks = input_sequences(spark, 1).select("tokens")  # schema probe
    del toks
    df = input_sequences(spark, 10)  # small sanity
    import pyspark.sql.functions as Fx
    bad_small = df.select(
        Fx.explode("tokens").alias("t")
    ).where("t < 0 OR t >= 50257").count()
    assert bad_small == 0
    # emulate the large-id path by reusing gen's formula through range
    from logstash_spark.sources import gen as G
    i = Fx.col("id")
    n_tok = (Fx.lit(16) + (i % 241)).cast("int")
    mult = 2654435761 % 50257
    tokens = Fx.transform(
        Fx.sequence(Fx.lit(0), n_tok - 1),
        lambda j: Fx.pmod(
            Fx.pmod(i, Fx.lit(50257)) * Fx.lit(mult) + j.cast("long") * Fx.lit(40503),
            Fx.lit(50257),
        ).cast("int"),
    )
    bad_big = big.select(Fx.explode(tokens).alias("t")).where(
        "t < 0 OR t >= 50257"
    ).count()
    assert bad_big == 0


def test_simhash_pairs_star_guard_and_verify(spark):
    """simhash_pairs mirrors the minhash star-guard contract: a dup-heavy
    corpus star-pairs against the bucket representative (O(B), hamming 0),
    normal buckets all-pairs join, and the exact Hamming verify kills
    band-collision false positives."""
    n_dup = 40
    rows = [(i, "alpha beta gamma delta epsilon zeta eta theta") for i in range(n_dup)]
    rows += [(100 + i, f"unique{i} filler{i} words{i} here{i} now{i}") for i in range(10)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = D.simhash_pairs(
        docs, "doc_id", "text", bands=4, max_hamming=0, max_bucket=10
    ).collect()
    found = {(r.doc_a, r.doc_b) for r in pairs if r.doc_a < n_dup and r.doc_b < n_dup}
    assert found == {(0, i) for i in range(1, n_dup)}
    assert all(r.hamming == 0 for r in pairs if (r.doc_a, r.doc_b) in found)
    # below the guard: exact all-pairs among identical docs
    small = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta") for i in range(4)],
        ["doc_id", "text"],
    )
    allp = D.simhash_pairs(
        small, "doc_id", "text", bands=4, max_hamming=0, max_bucket=100
    ).collect()
    assert {(r.doc_a, r.doc_b) for r in allp} == {
        (a, b) for a in range(4) for b in range(4) if a < b
    }


def test_simhash_pairs_rejects_bad_band_config(spark):
    docs = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
    for bands in (0, 5, 64):
        with pytest.raises(ValueError, match="bands must divide bits"):
            D.simhash_pairs(docs, "doc_id", "text", bands=bands)


def test_embedding_dup_pairs_star_guard_and_verify(spark):
    """embedding_dup_pairs mirrors the minhash star-guard contract: a
    shard of identical vectors star-pairs against the bucket
    representative (O(B), cos 1.0); normal buckets all-pairs join; the
    exact cosine verify kills bucket-collision false positives."""
    n_dup = 40
    vec = [0.5, -0.25, 0.75, 0.1, -0.6, 0.3, 0.2, -0.4]
    rows = [(i, vec) for i in range(n_dup)]
    # near-orthogonal singletons (deterministic sign flips)
    rows += [
        (100 + i, [((-1.0) ** (i + j)) * (0.1 + 0.05 * j) for j in range(8)])
        for i in range(6)
    ]
    em = spark.createDataFrame(rows, ["vec_id", "embedding"])
    pairs = D.embedding_dup_pairs(
        em, n_planes=4, tables=2, threshold=0.999, max_bucket=10
    ).collect()
    found = {(r.doc_a, r.doc_b) for r in pairs if r.doc_a < n_dup and r.doc_b < n_dup}
    assert found == {(0, i) for i in range(1, n_dup)}
    assert all(abs(r.cos - 1.0) < 1e-6 for r in pairs if (r.doc_a, r.doc_b) in found)
    # below the guard: exact all-pairs among identical vectors
    small = spark.createDataFrame([(i, vec) for i in range(4)], ["vec_id", "embedding"])
    allp = D.embedding_dup_pairs(
        small, n_planes=4, tables=2, threshold=0.999, max_bucket=100
    ).collect()
    assert {(r.doc_a, r.doc_b) for r in allp} == {
        (a, b) for a in range(4) for b in range(4) if a < b
    }


def test_token_budget_mix_prefilter_equivalence(spark):
    """The two-pass histogram-prefilter plan must reproduce the exact
    single-pass result (the prefilter is a provable superset; the final
    window re-selects identically)."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    exact = D.token_budget_mix(docs, budget=500, group_col="source")
    two_pass = D.token_budget_mix(
        docs, budget=500, group_col="source", prefilter_buckets=20
    )
    a = sorted(map(tuple, exact.collect()))
    b = sorted(map(tuple, two_pass.collect()))
    assert a == b
    assert len(a) > 0
    # budget is respected per group
    import collections

    max_cum = collections.defaultdict(int)
    for g, _, _, _, cum in a:
        max_cum[g] = max(max_cum[g], cum)
    assert all(v <= 500 for v in max_cum.values())


def test_ngram_jaccard_inverted_equals_allpairs(spark):
    """With the df-cut disabled, the inverted-index path must reproduce
    the exact all-pairs Jaccard result."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs = docs.where(F.size(F.split(F.col("text"), " ")) >= 3).limit(120)
    inv = D.ngram_jaccard_pairs(
        docs, "doc_id", "text", threshold=0.3, max_df=10**9
    )
    sh = D.shingle_sig_table(docs, "doc_id", "text", n=3, k=None)
    a, b = sh.alias("a"), sh.alias("b")
    allp = (
        a.join(b, F.col("a._id") < F.col("b._id"))
        .select(
            F.col("a._id").alias("doc_a"),
            F.col("b._id").alias("doc_b"),
            F.round(D.jaccard(F.col("a._sh"), F.col("b._sh")), 4).alias("jaccard"),
        )
        .where(F.col("jaccard") >= 0.3)
    )
    assert sorted(map(tuple, inv.collect())) == sorted(map(tuple, allp.collect()))


def test_ngram_jaccard_df_cut_drops_boilerplate_only_pairs(spark):
    """Two docs sharing ONLY a hot boilerplate gram are not candidates
    once that gram's df exceeds max_df; pairs sharing a rare gram
    survive with their EXACT Jaccard."""
    boiler = "all rights reserved worldwide"
    rows = [(i, f"doc number {i} unique text {boiler}") for i in range(10)]
    # a genuine near-dup pair sharing rare grams
    rows += [(100, "the quick brown fox jumps high"),
             (101, "the quick brown fox jumps far")]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = D.ngram_jaccard_pairs(
        docs, "doc_id", "text", threshold=0.3, max_df=5
    ).collect()
    ids = {(r.doc_a, r.doc_b) for r in pairs}
    assert (100, 101) in ids
    # boilerplate-only pairs (i, j) for i,j < 10 share only the hot grams
    assert not any(a < 10 and b < 10 for a, b in ids)
    # the surviving pair's value is the exact jaccard
    got = [r.jaccard for r in pairs if (r.doc_a, r.doc_b) == (100, 101)][0]
    sh = D.shingle_sig_table(
        docs.where("doc_id >= 100"), "doc_id", "text", n=3, k=None
    ).collect()
    s1, s2 = (set(r._sh) for r in sh)
    expect = round(len(s1 & s2) / len(s1 | s2), 4)
    assert got == expect


def test_decontaminate_flag_and_drop(spark):
    """Docs sharing a 5-gram with the benchmark are flagged with the
    distinct-hit count; drop mode removes exactly the flagged rows;
    sub-n-gram docs never contaminate."""
    bench = spark.createDataFrame(
        [(0, "the held out eval question about turtles")], ["doc_id", "text"]
    )
    docs = spark.createDataFrame(
        [
            (1, "intro text then the held out eval question about turtles end"),
            (2, "completely unrelated training document with other words"),
            (3, "held out eval"),  # < 5 words: no grams, never flagged
        ],
        ["doc_id", "text"],
    )
    flagged = {r.doc_id: (r.contaminated, r.n_hits)
               for r in D.decontaminate(docs, bench, n=5).collect()}
    assert flagged[1][0] and flagged[1][1] >= 3  # several overlapping 5-grams
    assert flagged[2] == (False, 0)
    assert flagged[3] == (False, 0)
    clean = D.decontaminate(docs, bench, n=5, mode="drop")
    assert sorted(r.doc_id for r in clean.collect()) == [2, 3]
    assert clean.columns == docs.columns  # drop mode preserves shape
    with pytest.raises(ValueError):
        D.decontaminate(docs, bench, mode="purge")


def test_repetition_metrics_golden(spark):
    """Hand-computed repetition fractions: 'a a a b' → 4 words, 2
    distinct (ratio .5), top word 3/4, top bigram 'a a' 2/3; a
    single-word doc has null bigram share."""
    docs = spark.createDataFrame(
        [(1, "a a a b"), (2, "solo")], ["doc_id", "text"]
    )
    rows = {r.doc_id: r for r in D.repetition_metrics(docs).collect()}
    r1 = rows[1]
    assert (r1.n_words, r1.word_rep_ratio, r1.top_word_frac, r1.top_bigram_frac) == (
        4, 0.5, 0.75, round(2 / 3, 4))
    r2 = rows[2]
    assert (r2.n_words, r2.word_rep_ratio, r2.top_word_frac, r2.top_bigram_frac) == (
        1, 0.0, 1.0, None)


def test_connected_components_path_and_forest(spark):
    """A 10-node path (worst case for plain min-propagation: forces the
    large-star/small-star rounds to actually merge transitively), one
    triangle, and that only edge-incident nodes appear."""
    path = [(i, i + 1) for i in range(1, 10)]          # 1-2-...-10
    tri = [(100, 101), (101, 102), (100, 102)]
    edges = spark.createDataFrame(path + tri, ["doc_a", "doc_b"])
    cc = {r.node: r.component for r in D.connected_components(edges).collect()}
    assert all(cc[i] == 1 for i in range(1, 11))
    assert all(cc[i] == 100 for i in (100, 101, 102))
    assert set(cc) == set(range(1, 11)) | {100, 101, 102}


def test_connected_components_empty_and_self_loops(spark):
    edges = spark.createDataFrame([(5, 5)], ["doc_a", "doc_b"])
    assert D.connected_components(edges).collect() == []


def test_dedupe_cluster_canonical_order_by_and_drop(spark):
    """Canonical = best quality (ties → min id); isolated docs survive as
    their own canonical; drop mode returns original columns only."""
    docs = spark.createDataFrame(
        [(1, "a", 0.2), (2, "b", 0.9), (3, "c", 0.9), (9, "z", 0.1)],
        ["doc_id", "text", "quality"],
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3)], ["doc_a", "doc_b"])
    out = D.dedupe_cluster_canonical(docs, pairs, order_by="quality")
    rows = {r.doc_id: r for r in out.collect()}
    assert [rows[i].cluster_id for i in (1, 2, 3)] == [1, 1, 1]
    assert [rows[i].is_canonical for i in (1, 2, 3)] == [False, True, False]
    assert rows[9].cluster_id == 9 and rows[9].is_canonical
    kept = D.dedupe_cluster_canonical(docs, pairs, order_by="quality", mode="drop")
    assert kept.columns == docs.columns
    assert sorted(r.doc_id for r in kept.collect()) == [2, 9]


def test_redact_pii_golden_and_kinds(spark):
    df = spark.createDataFrame(
        [(1, "mail a.b@x.io ip 10.0.0.1 ssn 123-45-6789 "
             "card 4111 1111 1111 1111 tel +1 555 010 9999")],
        ["doc_id", "text"],
    )
    r = D.redact_pii(F.col("text"))
    row = df.select(
        *[v.alias(k) for k, v in r.items()]
    ).first()
    assert (row.n_email, row.n_cc, row.n_ssn, row.n_ipv4, row.n_phone) == (
        1, 1, 1, 1, 1)
    assert row.redacted == (
        "mail <EMAIL> ip <IP> ssn <SSN> card <CC> tel <PHONE>")
    only_ip = D.redact_pii(F.col("text"), kinds=["ipv4"], count=False)
    red = df.select(only_ip["redacted"].alias("t")).first().t
    assert "<IP>" in red and "a.b@x.io" in red and "<EMAIL>" not in red


def test_dedup_paragraphs_order_and_min_len(spark):
    df = spark.createDataFrame(
        [(1, "intro\n\nbody text\n\nintro\n\nok\n\nbody text"),
         (2, "x\n\nlong paragraph here\n\nx\n\nlong paragraph here")],
        ["doc_id", "text"],
    )
    out = {
        r.doc_id: r.t
        for r in df.select(
            "doc_id", D.dedup_paragraphs(F.col("text")).alias("t")
        ).collect()
    }
    assert out[1] == "intro\n\nbody text\n\nok"      # first-occurrence order
    assert out[2] == "x\n\nlong paragraph here"
    keep_short = df.select(
        "doc_id", D.dedup_paragraphs(F.col("text"), min_len=2).alias("t")
    ).where("doc_id = 2").first().t
    assert keep_short == "x\n\nlong paragraph here\n\nx"  # 1-char repeat kept


# ---------------------------------------------------------------------------
# Token-level dedup / decontamination / vocab
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def tok_frame(spark):
    # docs 1 and 2 share the 10-token run [100..109] at different offsets;
    # doc 3 is unique; doc 4 is too short to hold any 8-token window.
    rows = [
        (1, [7, 100, 101, 102, 103, 104, 105, 106, 107, 108, 109, 55]),
        (2, [100, 101, 102, 103, 104, 105, 106, 107, 108, 109, 42, 43, 44]),
        (3, [900, 901, 902, 903, 904, 905, 906, 907, 908, 909]),
        (4, [1, 2, 3]),
    ]
    return spark.createDataFrame(rows, ["doc_id", "tokens"])


def test_token_window_dupes_finds_shared_run(tok_frame):
    dups = D.token_window_dupes(tok_frame, window=8).collect()
    by_doc = {}
    for r in dups:
        by_doc.setdefault(r.doc_id, set()).add(r.start)
    # the shared [100..109] run holds 3 window positions per doc:
    # doc 1 offsets 1..3, doc 2 offsets 0..2; docs 3/4 are clean.
    assert by_doc == {1: {1, 2, 3}, 2: {0, 1, 2}}
    assert all(r.n_occurrences == 2 and r.n_docs == 2 for r in dups)


def test_scrub_duplicate_spans_removes_covered_tokens(tok_frame):
    out = {r.doc_id: r for r in D.scrub_duplicate_spans(tok_frame, window=8).collect()}
    # doc 1: dup windows start 1..3, covering positions 1..10 -> [7, 55] survive
    assert out[1].tokens_clean == [7, 55]
    assert out[1].n_dup_windows == 3 and out[1].n_tok_clean == 2
    # doc 2: covered 0..9 -> tail survives
    assert out[2].tokens_clean == [42, 43, 44]
    # clean and too-short docs untouched
    assert out[3].tokens_clean == [900, 901, 902, 903, 904, 905, 906, 907, 908, 909]
    assert out[4].tokens_clean == [1, 2, 3] and out[4].n_dup_windows == 0


def test_token_decontaminate_flags_overlap_only(spark, tok_frame):
    evals = spark.createDataFrame(
        [(90, [101, 102, 103, 104, 105, 106, 107, 108])], ["doc_id", "tokens"]
    )
    out = {r.doc_id: r for r in D.token_decontaminate(tok_frame, evals, window=8).collect()}
    assert out[1].contaminated and out[2].contaminated
    assert not out[3].contaminated and not out[4].contaminated
    # doc 2 holds the eval window at start 1; doc 1 at start 2
    assert out[2].first_hit_start == 1 and out[1].first_hit_start == 2
    assert out[3].n_eval_hits == 0


def test_token_decontaminate_eval_side_broadcast(tok_frame, spark):
    evals = spark.createDataFrame([(9, [1, 2, 3, 4, 5, 6, 7, 8])], ["doc_id", "tokens"])
    plan = (
        D.token_decontaminate(tok_frame, evals, window=8)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan


def test_token_window_dupes_join_shape(tok_frame):
    """The join back on whash must be cheap in one of two good shapes:
    AQE broadcasts the df-cut duplicated-hash table (tiny by
    construction), or a sort-merge join reuses the groupBy(whash)
    exchange. Either way the window table is never shuffled twice."""
    out = D.token_window_dupes(tok_frame, window=8)
    out.collect()  # finalize the AQE plan
    plan = out._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]  # final AQE plan only
    assert "BroadcastHashJoin" in plan or "ReusedExchange" in plan
    # 3 keyed exchanges max: probe side on whash + the exact-distinct
    # expansion (partial on (whash, doc_id), merge on whash) — each with
    # map-side partial aggregation, never a second pass over raw windows.
    assert plan.count("Exchange hashpartitioning") <= 3
    assert "partial_count" in plan


def test_vocab_stats_head_and_coverage(spark):
    df = spark.createDataFrame(
        [(1, [5, 5, 5, 9, 9, 2]), (2, [5, 9, 7, 7])], ["doc_id", "tokens"]
    )
    rows = D.vocab_stats(df, top_k=3).collect()
    assert [(r.token, r.cnt, r.n_docs, r.rank) for r in rows] == [
        (5, 4, 2, 1),
        (9, 3, 2, 2),
        (7, 2, 1, 3),
    ]
    # exact integer ppm over 10 total tokens
    assert [r.cum_share_ppm for r in rows] == [400000, 700000, 900000]


def test_minhash_cross_basic_and_no_corpus_selfpairs(spark):
    """Cross form finds (new, corpus) near-dups only — corpus-corpus and
    new-new duplicates never appear in the output."""
    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "alpha beta gamma delta epsilon zeta eta theta"),  # corpus-internal dup
            (3, "wholly unrelated text about something else entirely"),
        ],
        ["doc_id", "text"],
    )
    shard = spark.createDataFrame(
        [
            (100, "alpha beta gamma delta epsilon zeta eta theta"),  # dups 1 and 2
            (101, "brand new content never seen before anywhere at all"),
        ],
        ["doc_id", "text"],
    )
    sig = D.shingle_sig_table(corpus, "doc_id", "text", n=2, k=8)
    pairs = D.minhash_lsh_pairs_cross(
        shard, sig, "doc_id", "text", n=2, k=8, bands=4, threshold=0.5
    ).collect()
    found = {(r.new_id, r.corpus_id) for r in pairs}
    assert found == {(100, 1), (100, 2)}
    assert all(r.jaccard == 1.0 for r in pairs)


def test_minhash_cross_hot_corpus_bucket_star_guard(spark):
    """A hot corpus bucket (> max_bucket members under one band key)
    collapses to its min-id representative BEFORE the join: each new doc
    gets exactly ONE candidate from that bucket, not O(bucket)."""
    n_dup = 40
    corpus = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta eta theta") for i in range(n_dup)],
        ["doc_id", "text"],
    )
    shard = spark.createDataFrame(
        [(500, "alpha beta gamma delta epsilon zeta eta theta")], ["doc_id", "text"]
    )
    sig = D.shingle_sig_table(corpus, "doc_id", "text", n=2, k=8)
    pairs = D.minhash_lsh_pairs_cross(
        shard, sig, "doc_id", "text", n=2, k=8, bands=4, threshold=0.5, max_bucket=10
    ).collect()
    # representative-only linking: the single new doc pairs with min-id 0
    assert {(r.new_id, r.corpus_id) for r in pairs} == {(500, 0)}
