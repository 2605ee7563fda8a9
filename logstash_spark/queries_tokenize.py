"""Correctness gates for token chunking, packing, BPE and vocabulary
statistics. Each `@query` pairs a Spark query over the driver test
tables with the DuckDB SQL that re-derives its result; `queries`
collects them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from logstash_spark.operators import dataprep as D
from logstash_spark.operators.dataprep import sentence_split_sql
from logstash_spark.queries_common import (
    _H32U,
    _TOK2_N,
    _TOK2_SQL,
    _TOK_N,
    _TOK_SQL,
    _t,
    _tok_docs2,
    query,
)


def _tok_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
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


_MERGES = [("t", "h"), ("e", "r"), ("i", "n"), ("o", "u"), ("a", "l"), ("c", "k")]


@query(
    "bpe_tokenize",
    """
    WITH c AS (
      SELECT doc_id,
             trim(regexp_replace(regexp_replace(lower(text), '[^a-z ]+', '', 'g'),
                                 ' +', ' ', 'g')) AS clean
      FROM documents
    ), p AS (
      SELECT doc_id, clean,
             replace(replace(replace(replace(replace(replace(replace(clean, ' ', '_'),
               'th','1'),'er','2'),'in','3'),'ou','4'),'al','5'),'ck','6') AS ph
      FROM c
    ), s AS (
      SELECT doc_id, clean, ph,
             trim(regexp_replace(ph, '(.)', '\\1 ', 'g')) AS spaced
      FROM p
    )
    SELECT s.doc_id,
           length(s.ph) AS n_tok,
           md5(replace(replace(replace(replace(replace(replace(s.spaced,
             '1','th'),'2','er'),'3','in'),'4','ou'),'5','al'),'6','ck'))
             AS tok_md5,
           length(s.clean) AS n_chars,
           md5(coalesce(array_to_string(
             list_filter(regexp_split_to_array(d.text, '\\s+'), x -> x != ''),
             ' '), '')) AS decoded_md5,
           TRUE AS roundtrip_ok
    FROM s JOIN documents d USING (doc_id)
    """,
)
def bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE encode + decode inversion in ONE gate (folded from the former
    separate `bpe_roundtrip` per the r03 verdict's gate-budget advice —
    both halves share the documents scan and doc_id key).

    Encode half: `bpe_encode` over cleaned text with a fixed six-merge
    table (th/er/in/ou/al/ck — the most frequent English bigrams);
    token count, md5 of the space-joined token sequence (word boundaries
    as `_` tokens), cleaned char count for the compression-ratio
    denominator. Roundtrip half: decode(encode(RAW text)) must equal the
    whitespace-normalized input for EVERY row — `bpe_decode` is pure
    column algebra (boundary token → space, concat), and the oracle is
    md5 of the normalized input itself, fully independent of the
    tokenizer; the boolean recomputes equality Spark-side as a second
    witness."""
    from logstash_spark.operators.tokenizer import bpe_decode, bpe_encode

    docs = _t(spark, sf_dir, "documents")
    clean = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z ]+", ""), " +", " "
        )
    )
    out = bpe_encode(docs.withColumn("clean", clean), "clean", _MERGES, word_sep="_")
    enc = bpe_encode(docs, "text", _MERGES)  # default '▁' boundary token
    dec = bpe_decode(enc, "bpe_tokens")
    # any-whitespace normalization, matching Python str.split() in encode
    norm = F.concat_ws(
        " ", F.filter(F.split(F.col("text"), "\\s+"), lambda x: x != "")
    )
    rt = dec.select(
        "doc_id",
        F.md5(F.col("text_decoded")).alias("decoded_md5"),
        (F.col("text_decoded") == norm).alias("roundtrip_ok"),
    )
    return out.select(
        "doc_id",
        F.size("bpe_tokens").alias("n_tok"),
        F.md5(F.concat_ws(" ", "bpe_tokens")).alias("tok_md5"),
        F.length("clean").alias("n_chars"),
    ).join(rt, "doc_id")


@query(
    "tokenizer_fertility",
    f"""
    WITH d AS (
      SELECT doc_id, text,
             CAST({_TOK_N} AS INT) AS n_tok,
             length(text) AS chars,
             octet_length(CAST(text AS BLOB)) AS bts,
             CASE WHEN trim(text) = '' THEN 0
                  ELSE len(regexp_split_to_array(trim(text), '\\s+')) END
               AS words
      FROM documents
    )
    SELECT doc_id,
           CAST(floor(chars * 10000 / greatest(n_tok, 1)) AS INT)
             AS chars_per_tok_bp,
           CAST(floor(bts * 10000 / greatest(n_tok, 1)) AS INT)
             AS bytes_per_tok_bp,
           CAST(floor(n_tok * 10000 / greatest(words, 1)) AS INT)
             AS toks_per_word_bp,
           n_tok > 0 AND words > 0
             AND floor(chars * 10000 / greatest(n_tok, 1)) >= 20000
             AND floor(n_tok * 10000 / greatest(words, 1)) <= 30000
             AS fertility_ok
    FROM d
    """,
)
def tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-compression quality gate
    (`dataprep.tokenizer_fertility`): chars/token, bytes/token and
    tokens/word in integer basis points over synthetic token counts —
    the bytes-per-token gibberish filter of FineWeb-style curation.
    Zero shuffle; thresholds chars/tok ≥ 2.0, tok/word ≤ 3.0."""
    from pyspark.sql import functions as FN

    from logstash_spark.operators import dataprep as D

    docs = _t(spark, sf_dir, "documents")
    n = (FN.col("doc_id") % 37 + 3).cast("int")
    src = docs.select(
        "doc_id",
        "text",
        FN.transform(
            FN.sequence(FN.lit(1), n), lambda i: i.cast("int")
        ).alias("tokens"),
    )
    out = D.tokenizer_fertility(src)
    return out.select(
        "doc_id",
        "chars_per_tok_bp",
        "bytes_per_tok_bp",
        "toks_per_word_bp",
        "fertility_ok",
    )


@query(
    "incontext_pack",
    """
    WITH d AS (
      SELECT doc_id % 13 AS cluster, doc_id,
             CAST((doc_id % 37) + 3 AS INT) AS n_tok
      FROM documents
    ),
    o AS (
      SELECT *,
             CAST(sum(n_tok) OVER (PARTITION BY cluster ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  - n_tok AS BIGINT) AS "offset",
             CAST(row_number() OVER (PARTITION BY cluster
                                     ORDER BY doc_id) AS INT) AS pack_order
      FROM d
    )
    SELECT cluster, doc_id, n_tok, pack_order, "offset",
           CAST("offset" // 64 AS BIGINT) AS window_id,
           (("offset" % 64) + n_tok) > 64 AS straddles
    FROM o
    """,
)
def incontext_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-context-pretraining packing gate (`dataprep.incontext_pack`,
    Shi et al. ICLR 2024): docs keyed by similarity cluster (doc_id %
    13 here), laid end-to-end per cluster in deterministic id order and
    cut into 64-token context windows; the gate pins the full layout
    (pack_order, offset, window_id, straddle set). ONE shuffle — the
    per-cluster running-sum window."""
    from pyspark.sql import functions as FN

    from logstash_spark.operators import dataprep as D

    docs = _t(spark, sf_dir, "documents")
    src = docs.select(
        (FN.col("doc_id") % 13).alias("cluster"),
        "doc_id",
        ((FN.col("doc_id") % 37) + 3).cast("int").alias("n_tok"),
    )
    out = D.incontext_pack(src, seq_len=64)
    return out.select(
        "cluster", "doc_id", "n_tok", "pack_order", "offset",
        "window_id", "straddles",
    )


@query(
    "packing_position_ids",
    f"""
    WITH docs AS (
      SELECT doc_id, source, {_TOK_N} AS n, {_TOK_SQL} AS t FROM documents
    ),
    offs AS (
      SELECT *, CAST(sum(n) OVER (PARTITION BY source ORDER BY doc_id)
                     - n AS BIGINT) AS off
      FROM docs
    ),
    pieces AS (
      SELECT source, cs.seq_id, off,
             greatest(cs.seq_id * 64 - off, 0) AS pstart,
             CASE WHEN off >= cs.seq_id * 64
                  THEN off - cs.seq_id * 64 END AS cstart,
             t[CAST(greatest(cs.seq_id * 64 - off, 0) + 1 AS BIGINT) :
               CAST(least((cs.seq_id + 1) * 64, off + n) - off AS BIGINT)]
               AS piece
      FROM offs,
           LATERAL (SELECT unnest(range(off // 64, (off + n - 1) // 64 + 1))
                    AS seq_id) cs
    )
    SELECT source, seq_id,
           md5(array_to_string(flatten(list(piece ORDER BY off)), ','))
             AS tokens_md5,
           md5(array_to_string(flatten(
               list(range(pstart, pstart + len(piece)) ORDER BY off)), ','))
             AS pos_md5,
           md5(coalesce(array_to_string(
               list(cstart ORDER BY off) FILTER (WHERE cstart IS NOT NULL),
               ','), '')) AS starts_md5,
           CAST(count(*) AS INT) AS n_segments,
           CAST(len(flatten(list(piece ORDER BY off))) AS INTEGER) AS n_tok
    FROM pieces GROUP BY source, seq_id
    """,
)
def packing_position_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boundary-aware packing gate (`dataprep.pack_concat_chunks`
    `with_boundaries=True`): per packed chunk, doc-relative
    position_ids (RoPE-faithful continuation across chunk boundaries),
    the within-chunk doc-start cut points (cu_seqlens), and segment
    counts — the flash-attn varlen training layout. Same ONE shuffle as
    plain packing; md5-canonicalized arrays (driver convention)."""
    from pyspark.sql import functions as FN

    from logstash_spark.operators import dataprep as D

    docs = _t(spark, sf_dir, "documents")
    n = (FN.col("doc_id") % 37 + 3).cast("int")
    toks = FN.transform(
        FN.sequence(FN.lit(0), n - 1),
        lambda i: ((FN.col("doc_id") * 7 + i * 13) % 50000).cast("int"),
    )
    src = docs.select(
        "doc_id", "source", n.alias("n_tok"), toks.alias("tokens")
    )
    out = D.pack_concat_chunks(
        src, group_col="source", seq_len=64, with_boundaries=True
    )
    md5 = lambda c: FN.md5(  # noqa: E731
        FN.concat_ws(",", FN.col(c).cast("array<string>"))
    )
    return out.select(
        "source",
        "seq_id",
        md5("tokens").alias("tokens_md5"),
        md5("position_ids").alias("pos_md5"),
        md5("doc_starts").alias("starts_md5"),
        "n_segments",
        "n_tok",
    )


@query(
    "length_bucket_batching",
    f"""
    WITH d AS (
      SELECT doc_id, n_chars AS n_tok,
             CASE WHEN n_chars <= 0 THEN 0
                  ELSE length(bin(n_chars)) END AS bucket,
             {_H32U.format(s="doc_id || ':lbshard'")} % 4 AS lb_shard
      FROM documents
    ),
    b AS (
      SELECT *,
             CAST((row_number() OVER (PARTITION BY bucket, lb_shard
                                      ORDER BY n_tok DESC, doc_id ASC) - 1)
                  // 8 AS BIGINT) AS batch_id
      FROM d
    )
    SELECT CAST(bucket AS INT) AS bucket, CAST(lb_shard AS INT) AS lb_shard,
           batch_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(max(n_tok) AS BIGINT) AS max_tok,
           CAST(sum(n_tok) AS BIGINT) AS sum_tok,
           CAST(count(*) * max(n_tok) - sum(n_tok) AS BIGINT) AS pad_waste
    FROM b GROUP BY 1, 2, 3
    """,
)
def length_bucket_batching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic-batching gate (`dataprep.length_bucket_batches` +
    `batch_pad_stats`): documents bucketed by bit-length of n_chars,
    sharded 4 ways by the portable hash, batches of 8 ordered longest-
    first, per-batch padding waste vs the batch max. ONE window shuffle
    + one same-key groupBy."""
    from pyspark.sql import functions as FN  # noqa: PLC0415

    from logstash_spark.operators.dataprep import (  # noqa: PLC0415
        batch_pad_stats,
        length_bucket_batches,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", FN.col("n_chars").alias("n_tok")
    )
    b = length_bucket_batches(docs, batch_size=8, n_shards=4)
    return batch_pad_stats(b).select(
        "bucket", "lb_shard", "batch_id", "n_docs", "max_tok", "sum_tok",
        "pad_waste",
    )


_CHUNK = 60
_TX_SQL = (
    "('Alpha ' || substr(text, 1, 40) || '. Beta ' || substr(text, 41, 40)"
    " || '! Gamma close here. Delta tail ends now.')"
)


@query(
    "sentence_chunking",
    f"""
    WITH s AS (
      SELECT doc_id, {sentence_split_sql(_TX_SQL)} AS sents FROM documents
    ),
    c AS (
      SELECT doc_id, sents,
             list_transform(range(1, len(sents) + 1),
               i -> CAST(coalesce(list_sum(list_transform(
                      sents[1:CAST(i - 1 AS INT)], x -> length(x))), 0)
                    // {_CHUNK} AS BIGINT)) AS cids
      FROM s
    ),
    e AS (
      SELECT doc_id, sents, cids, CAST(ks.k AS BIGINT) AS chunk_id
      FROM c, (SELECT unnest(range(0, 64)) AS k) ks
      WHERE ks.k <= cids[len(cids)]
    ),
    o AS (
      SELECT doc_id, chunk_id,
             list_filter(sents, (x, i) -> cids[CAST(i AS INT)] = chunk_id)
               AS own,
             list_filter(sents, (x, i) -> cids[CAST(i AS INT)] = chunk_id - 1)
               AS prev
      FROM e
    ),
    w AS (
      SELECT doc_id, chunk_id, own,
             CASE WHEN len(prev) >= 1
                  THEN prev[len(prev):len(prev)] ELSE [] END AS tail
      FROM o
    )
    SELECT doc_id, chunk_id,
           md5(array_to_string(list_concat(tail, own), ' ')) AS chunk_md5,
           CAST(len(own) AS BIGINT) AS n_sentences,
           CAST(coalesce(list_sum(list_transform(own, x -> length(x))), 0)
                AS BIGINT) AS n_chars
    FROM w
    """,
)
def sentence_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence-aware chunking gate (`dataprep.sentence_split` +
    `chunk_sentences`): each document is wrapped into a 4-sentence text,
    split on capital-start boundaries, and packed into ~60-char chunks
    with a 1-sentence overlap. The oracle re-derives the cumulative
    assignment and overlap with DuckDB list functions. Zero shuffle —
    map + map-side posexplode."""
    from logstash_spark.operators import dataprep as D  # noqa: PLC0415

    docs = _t(spark, sf_dir, "documents")
    tx = F.concat(
        F.lit("Alpha "),
        F.substring("text", 1, 40),
        F.lit(". Beta "),
        F.substring("text", 41, 40),
        F.lit("! Gamma close here. Delta tail ends now."),
    )
    built = docs.select("doc_id", tx.alias("text"))
    out = D.chunk_sentences(
        built, chunk_chars=_CHUNK, overlap_sentences=1
    )
    return out.select(
        "doc_id",
        "chunk_id",
        F.md5("chunk_text").alias("chunk_md5"),
        "n_sentences",
        "n_chars",
    )


@query(
    "span_token_alignment",
    f"""
    WITH t AS (
      SELECT doc_id, substr(text, 1, 80) AS t,
             {_H32U.format(s="doc_id || ':sa'")}
               % greatest(length(substr(text, 1, 80)), 1) AS s0
      FROM documents
    ),
    sp AS (
      SELECT doc_id, t, s0 AS s,
             least(s0 + 1 + ({_H32U.format(s="doc_id || ':sb'")} % 20),
                   CAST(length(t) AS BIGINT)) AS e
      FROM t
    ),
    w AS (
      SELECT doc_id, s, e, string_split(t, ' ') AS w FROM sp
    ),
    st AS (
      SELECT doc_id, s, e, w,
             list_transform(range(1, len(w) + 1),
               i -> CAST(coalesce(list_sum(list_transform(
                      w[1:CAST(i - 1 AS INT)], x -> length(x) + 1)), 0)
                    AS BIGINT)) AS starts
      FROM w
    ),
    ov AS (
      SELECT doc_id, s, e, len(w) AS n_tokens,
             list_filter(range(1, len(w) + 1),
               i -> starts[CAST(i AS INT)] < e
                AND starts[CAST(i AS INT)]
                    + length(w[CAST(i AS INT)]) > s) AS hits
      FROM st
    )
    SELECT doc_id,
           CAST(s AS BIGINT) AS span_start, CAST(e AS BIGINT) AS span_end,
           CAST(CASE WHEN len(hits) = 0 THEN 0 ELSE hits[1] - 1 END
                AS BIGINT) AS tok_start,
           CAST(CASE WHEN len(hits) = 0 THEN 0 ELSE hits[len(hits)] END
                AS BIGINT) AS tok_end,
           CAST(n_tokens AS BIGINT) AS n_tokens
    FROM ov
    """,
)
def span_token_alignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-alignment gate (`dataprep.char_span_to_token_span`):
    hash-derived char spans over each document's prefix mapped to the
    covering whitespace-token span — the PII/NER annotation bridge into
    `chat_loss_mask`. The oracle re-derives token start offsets with
    its own list prefix sums. Zero shuffle."""
    from logstash_spark.operators import dataprep as D  # noqa: PLC0415

    docs = _t(spark, sf_dir, "documents")
    t = F.substring("text", 1, 80)
    s0 = D.portable_hash32(
        F.concat(F.col("doc_id").cast("string"), F.lit(":sa"))
    ) % F.greatest(F.length(t), F.lit(1)).cast("long")
    e0 = F.least(
        s0
        + 1
        + D.portable_hash32(
            F.concat(F.col("doc_id").cast("string"), F.lit(":sb"))
        )
        % 20,
        F.length(t).cast("long"),
    )
    feats = D.char_span_to_token_span(t, s0, e0)
    return docs.select(
        "doc_id",
        s0.alias("span_start"),
        e0.alias("span_end"),
        feats["tok_start"].alias("tok_start"),
        feats["tok_end"].alias("tok_end"),
        feats["n_tokens"].alias("n_tokens"),
    )


@query(
    "pack_next_fit_bins",
    f"""
    WITH RECURSIVE items AS (
      SELECT doc_id, CAST(n_chars AS BIGINT) AS len,
             CAST({_H32U.format(s="doc_id || ':nfd'")} % 8 AS INT) AS shard
      FROM documents
    ),
    numbered AS (
      SELECT *, row_number() OVER (PARTITION BY shard
                                   ORDER BY len DESC, doc_id ASC) AS rn
      FROM items
    ),
    walk AS (
      SELECT shard, rn, doc_id, len, 0 AS bin, len AS load
      FROM numbered WHERE rn = 1
      UNION ALL
      SELECT n.shard, n.rn, n.doc_id, n.len,
             CASE WHEN w.load + n.len <= 1000 THEN w.bin ELSE w.bin + 1 END,
             CASE WHEN w.load + n.len <= 1000 THEN w.load + n.len
                  ELSE n.len END
      FROM walk w JOIN numbered n ON n.shard = w.shard AND n.rn = w.rn + 1
    )
    SELECT shard, CAST(bin AS BIGINT) AS bin,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len) AS BIGINT) AS sum_len,
           CAST(1000 - sum(len) AS BIGINT) AS slack
    FROM walk GROUP BY 1, 2
    """,
)
def pack_next_fit_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boundary-preserving packing gate (`dataprep.pack_next_fit`):
    documents sharded 8 ways, packed longest-first into capacity-1000
    bins without ever splitting a doc; the gate pins per-bin membership
    counts, loads, and slack. The oracle replays the sequential
    next-fit walk as a genuine recursive CTE (one doc per shard per
    step) — an independent implementation of the recurrence the Spark
    side streams through mapInPandas."""
    from logstash_spark.operators.dataprep import pack_next_fit  # noqa: PLC0415

    docs = _t(spark, sf_dir, "documents")
    packed = pack_next_fit(
        docs, capacity=1000, id_col="doc_id", len_col="n_chars", n_shards=8
    )
    return packed.groupBy("shard", "bin").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("sum_len"),
        (F.lit(1000) - F.sum("n_chars")).cast("long").alias("slack"),
    )


@query(
    "zipf_head_fit",
    """
    WITH v AS (
      SELECT t, CAST(count(*) AS BIGINT) AS c
      FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents)
      WHERE t <> '' GROUP BY t
    ),
    h AS (
      SELECT CAST(floor(ln(CAST(r AS DOUBLE)) * 1000000.0) AS BIGINT) AS x,
             CAST(floor(ln(CAST(c AS DOUBLE)) * 1000000.0) AS BIGINT) AS y
      FROM (SELECT c, row_number() OVER (ORDER BY c DESC, t ASC) AS r FROM v)
      WHERE r <= 100
    ),
    tails AS (
      SELECT CAST(count(*) AS BIGINT) AS n_types,
             CAST(sum(c) AS BIGINT) AS total_tokens
      FROM v
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx
      FROM h
    )
    SELECT n_types, total_tokens, n AS n_head,
           CASE WHEN n * sxx - sx * sx <> 0 THEN
             CAST(floor((CAST(n * sxy - sx * sy AS DOUBLE)
                         / CAST(n * sxx - sx * sx AS DOUBLE))
                        * 1000000.0) AS BIGINT) END AS slope_micro,
           CASE WHEN n * sxx - sx * sx <> 0 THEN
             CAST(floor((CAST(sy AS DOUBLE)
                         - (CAST(n * sxy - sx * sy AS DOUBLE)
                            / CAST(n * sxx - sx * sx AS DOUBLE))
                           * CAST(sx AS DOUBLE)) / n) AS BIGINT)
           END AS intercept_micro
    FROM s CROSS JOIN tails
    """,
)
def zipf_head_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law gate (`dataprep.zipf_fit`): OLS slope/intercept over the
    (L(rank), L(count)) head grid, every regression sum exact int64 and
    the two outputs single pinned-order double expressions — the oracle
    replays rank, quantization, sums, and both divisions."""
    from logstash_spark.operators.dataprep import zipf_fit  # noqa: PLC0415

    docs = _t(spark, sf_dir, "documents")
    return zipf_fit(docs, top_k=100)


@query(
    "heaps_vocab_growth",
    """
    WITH ranked AS (
      SELECT doc_id, text, row_number() OVER (ORDER BY doc_id) AS r
      FROM documents
    ),
    toks AS (
      SELECT r, t
      FROM (SELECT r, unnest(string_split(text, ' ')) AS t FROM ranked)
      WHERE t <> ''
    ),
    fst AS (SELECT t, min(r) AS fr FROM toks GROUP BY t),
    cnts AS (
      SELECT r,
             CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
                  AS BIGINT) AS n
      FROM ranked
    ),
    cp(c) AS (VALUES (64), (128), (256), (500))
    SELECT CAST(c AS BIGINT) AS checkpoint_docs,
           (SELECT CAST(coalesce(sum(CASE WHEN r <= c THEN n ELSE 0 END), 0)
                        AS BIGINT) FROM cnts) AS tokens_cum,
           (SELECT CAST(count(*) AS BIGINT) FROM fst WHERE fr <= c)
             AS types_cum,
           CASE WHEN (SELECT sum(CASE WHEN r <= c THEN n ELSE 0 END)
                      FROM cnts) > 0 THEN
             CAST((SELECT count(*) FROM fst WHERE fr <= c) * 1000000
                  // (SELECT sum(CASE WHEN r <= c THEN n ELSE 0 END)
                      FROM cnts) AS BIGINT)
           END AS types_ppm_of_tokens
    FROM cp
    """,
)
def heaps_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law gate (`dataprep.heaps_growth`): distinct-type counts
    within the first {64,128,256,500} documents of the id-ordered
    stream, with cumulative token totals and the exact types-per-token
    ppm. The oracle re-derives first-occurrence ranks and every
    checkpoint sum independently."""
    from logstash_spark.operators.dataprep import heaps_growth  # noqa: PLC0415

    docs = _t(spark, sf_dir, "documents")
    return heaps_growth(docs, [64, 128, 256, 500])
