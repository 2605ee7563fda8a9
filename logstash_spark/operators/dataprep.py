"""Training-data pipeline operators: deduplication (exact / MinHash-LSH /
SimHash / n-gram Jaccard / embedding-cosine), similarity search (brute
cosine top-k, LSH-bucketed ANN), and text analysis (lang-id, quality,
token counts, fingerprints).

These extend the Logstash operator surface (which has no dedup/similarity
primitives — SURVEY.md §2.7 "dedupe ... no first-class distinct") with the
operations a 100 TB training-data pipeline needs. All hot paths are pure
Catalyst column expressions over arrays; no Python crosses the row stream
except the explicitly-stubbed multimodal decode (mapInPandas, Arrow).

Scale design notes
------------------
* The MinHash, SimHash, embedding-cosine and SemDeDup detectors share one
  candidate design, the partitioned band-key set join of HERO (SIGMOD
  2024): ids explode into (id, band, key) rows, `_star_pairs` self-joins
  them on the key, and `_verify_join` re-joins each side's payload for
  the exact check. `_star_pairs` states the rules that keep it
  sub-quadratic at any duplicate rate.
* Brute-force ANN broadcasts the (small) query set — zero shuffle on the
  corpus side; the LSH-bucketed variant shuffles once on the bucket id.
  Every ANN variant ranks through `_top_k`.
* Every hash is derived from md5 (`portable_hash32`) so DuckDB oracles can
  reproduce results bit-for-bit; at production scale `xxhash64` would
  hash ~3x cheaper (same topology).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# Prime > 2^32 for minhash universal hashing; (a, b) pairs are fixed small
# constants so any engine can reproduce the signature.
MINHASH_P = 4294967311
MINHASH_AB = [(2, 1), (3, 3), (5, 7), (7, 13), (11, 19), (13, 29), (17, 37), (19, 43)]


def portable_hash32(c: Column) -> Column:
    """32-bit hash reproducible in any SQL engine: int(md5(s)[:8], 16)."""
    return F.conv(F.substring(F.md5(c.cast("string")), 1, 8), 16, 10).cast("long")


def words_of(c: Column) -> Column:
    return F.split(c, " ")


def shingle_hashes(text: Column, n: int = 3) -> Column:
    """Distinct hashed word n-gram shingles of `text` (array<long>)."""
    w = words_of(text)
    count = F.size(w) - (n - 1)
    # guard: sequence(1, 0) would be DESCENDING [1, 0] in Spark
    grams = F.when(
        count >= 1,
        F.transform(
            F.sequence(F.lit(1), F.greatest(count, F.lit(1))),
            lambda i: F.concat_ws(" ", *[F.element_at(w, i + j) for j in range(n)]),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.array_distinct(F.transform(grams, portable_hash32))


def lsh_band_keys(sig: Column, bands: int, rows: int) -> Column:
    """Split a signature into `bands` keys of `rows` values each.

    Returns array<struct<band:int, key:string>> — explode + equi-join on
    (band, key) yields candidate pairs with sub-quadratic shuffle.
    """
    entries = [
        F.struct(
            F.lit(bi).alias("band"),
            F.md5(F.concat_ws("_", *[sig.getItem(bi * rows + ri) for ri in range(rows)])).alias("key"),
        )
        for bi in range(bands)
    ]
    return F.array(*entries)


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard over two distinct-element arrays."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(a) + F.size(b) - inter
    return F.when(union > 0, inter.cast("double") / union.cast("double")).otherwise(F.lit(0.0))


def _band_width(width: int, bands: int, name: str) -> int:
    """Values per band. bands > width would leave empty bands (every doc
    collides in every band, O(N²)); width % bands != 0 would silently
    drop trailing values (hidden recall loss); bands=0 divides by zero."""
    if not (1 <= bands <= width) or width % bands != 0:
        raise ValueError(
            f"bands must divide {name} with 1 <= bands <= {name} "
            f"(got {name}={width}, bands={bands})"
        )
    return width // bands


def _band_rows(base: DataFrame, keys: Column) -> DataFrame:
    """One (_id, _band, _key) row per entry of an array<struct<band, key>>."""
    return base.select("_id", F.explode(keys).alias("_bk")).select(
        "_id", F.col("_bk.band").alias("_band"), F.col("_bk.key").alias("_key")
    )


def _bucket_stats(banded: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Add each row's bucket size `_bn` and min-id representative `_rep`."""
    w = Window.partitionBy(*keys)
    return banded.withColumn("_bn", F.count(F.lit(1)).over(w)).withColumn(
        "_rep", F.min("_id").over(w)
    )


def _star_pairs(
    banded: DataFrame, keys: Sequence[str], max_bucket: int
) -> tuple[DataFrame, DataFrame]:
    """Candidate (_a < _b) id pairs that share a bucket key.

    `banded` holds one `_id` row per bucket the id falls in. The rules
    that keep this sub-quadratic at any duplicate rate:
      * the self-join carries ids only — payloads re-join once per side
        AFTER the candidate dedup (`_verify_join`), so shuffle bytes
        scale with the candidate count, not candidates × payload;
      * buckets of at most `max_bucket` rows join all-pairs; bigger ones
        (a dup-heavy shard under one key) STAR-pair: every member pairs
        with the bucket's min-id representative only — O(B) candidates
        instead of O(B²), and identical docs still all link through it;
      * bucket sizes come from a window over `keys` — the same hash
        partitioning the self-join uses, so AQE reuses the exchange.

    Returns (`banded` with `_bn`/`_rep`, deduped candidates).
    """
    banded = _bucket_stats(banded, keys)
    normal = banded.where(F.col("_bn") <= max_bucket)
    left, right = normal.alias("l"), normal.alias("r")
    pairs_normal = left.join(
        right,
        [F.col(f"l.{k}") == F.col(f"r.{k}") for k in keys]
        + [F.col("l._id") < F.col("r._id")],
    ).select(F.col("l._id").alias("_a"), F.col("r._id").alias("_b"))
    pairs_hot = banded.where(
        (F.col("_bn") > max_bucket) & (F.col("_id") != F.col("_rep"))
    ).select(F.col("_rep").alias("_a"), F.col("_id").alias("_b"))
    cand = pairs_normal.unionByName(pairs_hot).dropDuplicates(["_a", "_b"])
    return banded, cand


def _verify_join(
    cand: DataFrame,
    a_side: DataFrame,
    b_side: DataFrame,
    a: str = "doc_a",
    b: str = "doc_b",
) -> DataFrame:
    """Join each side's `_id`-keyed payload onto the deduped (_a, _b)
    candidates. The ids come back named `a` / `b`, payload columns
    suffixed `a` / `b` (`_sh` → `_sha`, `_shb`)."""

    def side(payload: DataFrame, id_name: str, sfx: str) -> DataFrame:
        renames = {c: c + sfx for c in payload.columns if c != "_id"}
        return payload.withColumnsRenamed({"_id": id_name, **renames})

    cand = cand.withColumnsRenamed({"_a": a, "_b": b})
    return cand.join(side(a_side, a, "a"), a).join(side(b_side, b, "b"), b)


def shingle_sig_table(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    extra_cols: Sequence[str] = (),
    n: int = 3,
    k: int | None = 8,
    short_doc: str = "drop",
) -> DataFrame:
    """Relational shingle+signature computation: posexplode words → lead
    window builds n-grams → hash → ONE groupBy computes the distinct
    shingle set and (optionally) all k minhash mins in the same
    aggregation. ~10x faster than the array-HOF formulation (Catalyst
    higher-order functions run interpreted per element; this path is
    whole-stage-codegen'd) and the single keyed shuffle scales out.

    `short_doc` controls docs with fewer than n words:
      * 'drop' — no output row (such docs are excluded from dedup
        coverage entirely; callers must filter or accept the gap);
      * 'whole_text' — the whole text hashes to a single shingle, so
        EXACT duplicates of short documents still collide in every band.

    Output columns: _id, *extra_cols, _sh (array<long>, distinct),
    _sig (array<long>).
    """
    ex = df.select(
        F.col(id_col).alias("_id"),
        *[F.col(c) for c in extra_cols],
        F.posexplode(F.split(F.col(text_col), " ")).alias("_pos", "_w"),
    )
    win = Window.partitionBy("_id").orderBy("_pos")
    parts = [F.col("_w")] + [F.lead("_w", j).over(win) for j in range(1, n)]
    # materialize gram + tail flag in ONE select: a later select would
    # re-evaluate the window over the already-FILTERED rows (wrong grams)
    g = ex.select(
        "_id",
        *extra_cols,
        F.concat_ws(" ", *parts).alias("_g"),
        parts[-1].alias("_wlast"),
    ).where(F.col("_wlast").isNotNull())
    g = g.select("_id", *extra_cols, portable_hash32(F.col("_g")).alias("_h"))
    aggs = [F.collect_set("_h").alias("_sh")]
    if k:
        # min over the multiset == min over the distinct set
        aggs += [
            F.min((F.lit(a) * F.col("_h") + F.lit(b)) % F.lit(MINHASH_P)).alias(f"_m{i}")
            for i, (a, b) in enumerate(MINHASH_AB[:k])
        ]
    out = g.groupBy("_id", *extra_cols).agg(*aggs)
    if k:
        out = out.withColumn(
            "_sig", F.array(*[F.col(f"_m{i}") for i in range(k)])
        ).drop(*[f"_m{i}" for i in range(k)])
    if short_doc == "whole_text":
        # single-shingle fallback: exact short-doc dups still collide
        h = portable_hash32(F.col(text_col))
        short = df.where(F.size(words_of(F.col(text_col))) < n).select(
            F.col(id_col).alias("_id"),
            *[F.col(c) for c in extra_cols],
            F.array(h).alias("_sh"),
            *(
                [F.array(
                    *[(F.lit(a) * h + F.lit(b)) % F.lit(MINHASH_P)
                      for a, b in MINHASH_AB[:k]]
                ).alias("_sig")]
                if k else []
            ),
        )
        out = out.unionByName(short)
    return out


def simhash_table(df: DataFrame, id_col: str, text_col: str, bits: int = 32) -> DataFrame:
    """Charikar SimHash: explode words → hash → one bit-count aggregate per
    bit in one groupBy, then a majority vote per bit. Codegen'd, ~12x
    faster than folding the word hashes with array higher-order
    functions. Bit extraction is floor(h / 2^j) % 2 with j ≤ 31, exact in
    double precision and portable to any SQL engine. Returns
    (id_col, simhash)."""
    h = df.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("_w")
    ).select(F.col(id_col), portable_hash32(F.col("_w")).alias("_hv"))
    aggs = [
        F.sum((F.floor(F.col("_hv") / F.lit(float(1 << j))).cast("long") % 2)).alias(f"_c{j}")
        for j in range(bits)
    ]
    cnts = h.groupBy(id_col).agg(F.count("*").alias("_n"), *aggs)
    fp = F.lit(0)
    for j in range(bits):
        fp = fp + F.when(F.col(f"_c{j}") * 2 > F.col("_n"), F.lit(1 << j)).otherwise(F.lit(0))
    return cnts.select(F.col(id_col), fp.cast("long").alias("simhash"))


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    k: int = 8,
    bands: int = 4,
    threshold: float = 0.5,
    max_bucket: int = 1000,
    short_doc: str = "drop",
    sig_table: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate pairs via MinHash + banded LSH, verified with exact
    Jaccard ≥ threshold. Output: (doc_a, doc_b, jaccard).

    Candidates come from `_star_pairs` over (band, key) rows; shingle
    sets re-join per side after the candidate dedup, and buckets above
    `max_bucket` star-pair against their min-id representative.

    `sig_table` lets callers pass a persisted `shingle_sig_table` output
    (columns _id/_sh/_sig) so the signature aggregation is computed once,
    not re-derived for banding + both verify joins.
    """
    rows = _band_width(k, bands, "k")
    base = (
        sig_table
        if sig_table is not None
        else shingle_sig_table(df, id_col, text_col, n=n, k=k, short_doc=short_doc)
    )
    banded = _band_rows(base, lsh_band_keys(F.col("_sig"), bands, rows))
    _, cand = _star_pairs(banded, ("_band", "_key"), max_bucket)
    sh = base.select("_id", "_sh")
    scored = _verify_join(cand, sh, sh).withColumn(
        "jaccard", F.round(jaccard(F.col("_sha"), F.col("_shb")), 4)
    )
    return scored.where(F.col("jaccard") >= threshold).select(
        "doc_a", "doc_b", "jaccard"
    )


def minhash_lsh_pairs_cross(
    new_df: DataFrame,
    corpus_sig: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    k: int = 8,
    bands: int = 4,
    threshold: float = 0.5,
    max_bucket: int = 1000,
    short_doc: str = "drop",
    new_sig: DataFrame | None = None,
) -> DataFrame:
    """Incremental-ingest near-dup detection: match a NEW shard against
    an EXISTING corpus's persisted MinHash signatures without ever
    self-joining the corpus. Output: (new_id, corpus_id, jaccard) with
    exact Jaccard ≥ threshold.

    This is the 100 TB ingestion pattern the self-join form can't serve:
    the corpus signature table (`shingle_sig_table` output, _id/_sh/_sig)
    is computed ONCE when each shard lands and persisted; admitting a new
    shard costs O(|shard|) signature work plus a band equi-join — the
    existing corpus is only ever read, never re-shingled and never
    re-shuffled against itself.

    The band join carries ids only and shingle sets re-join per side
    after the candidate dedup, as in `_star_pairs`. Hot CORPUS buckets
    (> `max_bucket` members under one band key) are collapsed to their
    min-id representative BEFORE the join, so one boilerplate band key
    costs each new doc O(1) candidates, not O(bucket); new docs that
    collide with a hot bucket link through the representative. At
    production scale the banded+counted corpus table is ALSO a persisted
    artifact, amortized across every shard admission.
    """
    rows = _band_width(k, bands, "k")
    base_new = (
        new_sig
        if new_sig is not None
        else shingle_sig_table(new_df, id_col, text_col, n=n, k=k, short_doc=short_doc)
    )
    nb = _band_rows(base_new, lsh_band_keys(F.col("_sig"), bands, rows))
    cb = _bucket_stats(
        _band_rows(corpus_sig, lsh_band_keys(F.col("_sig"), bands, rows)),
        ("_band", "_key"),
    )
    # hot corpus buckets shrink to one representative row pre-join
    cb = cb.where((F.col("_bn") <= max_bucket) | (F.col("_id") == F.col("_rep")))

    cand = (
        nb.alias("l")
        .join(
            cb.alias("r"),
            (F.col("l._band") == F.col("r._band")) & (F.col("l._key") == F.col("r._key")),
        )
        .select(F.col("l._id").alias("_a"), F.col("r._id").alias("_b"))
        .dropDuplicates(["_a", "_b"])
    )
    scored = _verify_join(
        cand,
        base_new.select("_id", "_sh"),
        corpus_sig.select("_id", "_sh"),
        "new_id",
        "corpus_id",
    ).withColumn("jaccard", F.round(jaccard(F.col("_sha"), F.col("_shb")), 4))
    return scored.where(F.col("jaccard") >= threshold).select(
        "new_id", "corpus_id", "jaccard"
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    threshold: float = 0.5,
    max_df: int = 1000,
    short_doc: str = "drop",
    sig_table: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard pairs at scale via an inverted index, the
    one n-gram Jaccard implementation (gate:
    `queries_dedup.ngram_jaccard_inverted`). Output:
    (doc_a, doc_b, jaccard) with exact Jaccard ≥ threshold.

    Scale topology:
      * postings = explode the distinct shingle set → (id, gram); ONE
        shuffle on the gram key serves both the document-frequency
        window and the candidate self-join (AQE reuses the exchange);
      * grams with df > `max_df` are cut from candidate generation —
        boilerplate n-grams shared by thousands of docs contribute
        O(df²) candidates and ~zero IDF signal. Recall contract: a pair
        is found iff it shares ≥1 gram with df ≤ max_df (then its
        Jaccard is EXACT — the verify uses full shingle sets). A pair
        ALL of whose shared grams are hot is missed; at threshold t
        that requires t·|A∪B| boilerplate-only overlap, which is the
        textbook df-cut trade;
      * candidates carry ONLY ids + set sizes; the size-ratio prune
        (Jaccard ≥ t ⇒ min(|A|,|B|)/max(|A|,|B|) ≥ t) kills pairs
        before the shingle re-join;
      * exact verify re-joins the shingle arrays once per side AFTER
        `dropDuplicates`, so shuffle bytes scale with the surviving
        candidate count, not candidates × set size.

    `sig_table` accepts a persisted `shingle_sig_table` output (k=None
    is fine — only `_sh` is used) to share the shingle aggregation with
    other dedup passes over the same corpus.
    """
    base = (
        sig_table
        if sig_table is not None
        else shingle_sig_table(
            df, id_col, text_col, n=n, k=None, short_doc=short_doc
        )
    )
    postings = base.select(
        "_id", F.size("_sh").alias("_sz"), F.explode("_sh").alias("_g")
    )
    w = Window.partitionBy("_g")
    common = postings.withColumn("_df", F.count(F.lit(1)).over(w)).where(
        F.col("_df") <= max_df
    )
    l, r = common.alias("l"), common.alias("r")
    cand = (
        l.join(
            r,
            (F.col("l._g") == F.col("r._g"))
            & (F.col("l._id") < F.col("r._id")),
        )
        .where(
            F.least(F.col("l._sz"), F.col("r._sz")).cast("double")
            / F.greatest(F.col("l._sz"), F.col("r._sz"))
            >= F.lit(float(threshold))
        )
        .select(F.col("l._id").alias("doc_a"), F.col("r._id").alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )
    sh = base.select("_id", "_sh")
    scored = (
        cand.join(sh.withColumnsRenamed({"_id": "doc_a", "_sh": "_sha"}), "doc_a")
        .join(sh.withColumnsRenamed({"_id": "doc_b", "_sh": "_shb"}), "doc_b")
        .withColumn("jaccard", F.round(jaccard(F.col("_sha"), F.col("_shb")), 4))
    )
    return scored.where(F.col("jaccard") >= threshold).select(
        "doc_a", "doc_b", "jaccard"
    )


def connected_components(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    *,
    max_iter: int = 25,
) -> DataFrame:
    """(node, component) for every node appearing in `edges`, where
    component = the minimum node id reachable through the undirected
    graph — the cluster-assignment step that turns near-dup PAIRS into
    dedup CLUSTERS.

    Algorithm: alternating large-star / small-star (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC 2014) — the
    published MapReduce-native CC that converges in O(log² n) rounds on
    ANY graph shape (plain min-label propagation needs O(diameter)
    rounds, which an adversarial chain of crawl dups makes linear).

    Scale topology per half-round: symmetrize (map-only union), ONE
    groupBy-min on the node key, one join back on that same key (the
    groupBy's hash partitioning is reused — no extra exchange for the
    probe side), then a dropDuplicates on the emitted edges. Neighbor
    sets are NEVER collected into one task (no collect_list), so a
    celebrity node with 10^8 neighbors costs a bounded-memory aggregate,
    not an OOM. Lineage is truncated every round with an eager
    localCheckpoint — on a real cluster swap in
    `sparkContext.setCheckpointDir` + `.checkpoint()` for fault-tolerant
    truncation; the loop itself is the standard O(log² n)-round driver
    pattern, each round one distributed job.

    Convergence is detected by an order-insensitive edge-set signature
    (count + sum of xxhash64(u, v)) — one cheap aggregate per round
    instead of a full exceptAll anti-join.
    """
    cur = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .where(F.col("u") != F.col("v"))
        .dropDuplicates(["u", "v"])
    )
    nodes = (
        cur.select("u").union(cur.select("v")).distinct().withColumnRenamed("u", "node")
    )

    def _sym(e: DataFrame) -> DataFrame:
        return e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))

    def _half(e: DataFrame, large: bool) -> DataFrame:
        sym = _sym(e)
        mins = sym.groupBy("u").agg(F.min("v").alias("_mn")).select(
            "u", F.least("u", "_mn").alias("m")
        )
        j = sym.join(mins, "u")
        if large:
            # connect strictly-larger neighbors to min(N(u) ∪ {u})
            out = j.where(F.col("v") > F.col("u")).select(
                F.col("v").alias("u"), F.col("m").alias("v")
            )
        else:
            # connect u and all smaller neighbors to min(N(u) ∪ {u})
            out = (
                j.where(F.col("v") < F.col("u"))
                .select(F.col("v").alias("u"), F.col("m").alias("v"))
                .union(mins.select("u", F.col("m").alias("v")))
            )
        return out.where(F.col("u") != F.col("v")).dropDuplicates(["u", "v"])

    prev_sig = None
    for _ in range(max_iter):
        cur = _half(_half(cur, large=True), large=False).localCheckpoint()
        # pmod keeps each term < 2^31 so the long sum cannot overflow
        # (ANSI-safe) below ~4B edges per convergence check
        row = cur.agg(
            F.count(F.lit(1)).alias("c"),
            F.sum(F.pmod(F.xxhash64("u", "v"), F.lit(2**31))).alias("s"),
        ).first()
        sig = (row["c"], row["s"])
        if sig == prev_sig:
            break
        prev_sig = sig

    labels = cur.groupBy("u").agg(F.min("v").alias("component"))
    return (
        nodes.join(labels, nodes["node"] == labels["u"], "left")
        .select(
            "node",
            F.least(
                F.coalesce(F.col("component"), F.col("node")), F.col("node")
            ).alias("component"),
        )
    )


def dedupe_cluster_canonical(
    docs: DataFrame,
    pairs: DataFrame,
    *,
    id_col: str = "doc_id",
    src: str = "doc_a",
    dst: str = "doc_b",
    order_by: str | None = None,
    mode: str = "flag",
) -> DataFrame:
    """Near-dup pairs → connected components → ONE canonical document per
    cluster — the final step of every published dedup pipeline (pairs
    alone over-delete: A~B and B~C must collapse to one survivor even
    when A~C was never emitted as a pair).

    Canonical choice: highest `order_by` (e.g. a quality score), ties →
    min id; min id when `order_by` is None (deterministic on both
    engines). mode='flag' returns every doc + (cluster_id,
    is_canonical); mode='drop' returns only canonical rows with the
    original columns.

    Scale: CC cost is O(E log² n) rounds (see connected_components);
    the assignment join is keyed on the doc id and the canonical pick is
    one window over cluster_id — docs in no pair skip the window's
    shuffle entirely (they are their own canonical by construction and
    union back in).
    """
    cc = connected_components(pairs, src, dst)
    in_cluster = docs.join(
        cc, docs[id_col] == cc["node"], "inner"
    ).drop("node").withColumnRenamed("component", "cluster_id")
    order = (
        [F.col(order_by).desc(), F.col(id_col).asc()]
        if order_by
        else [F.col(id_col).asc()]
    )
    w = Window.partitionBy("cluster_id").orderBy(*order)
    flagged = in_cluster.withColumn(
        "is_canonical", F.row_number().over(w) == F.lit(1)
    )
    alone = docs.join(
        cc.select(F.col("node").alias(id_col)), id_col, "left_anti"
    ).select(
        "*",
        F.col(id_col).alias("cluster_id"),
        F.lit(True).alias("is_canonical"),
    )
    out = flagged.unionByName(alone)
    if mode == "drop":
        return out.where("is_canonical").select(*docs.columns)
    return out


def decontaminate(
    df: DataFrame,
    benchmark: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
    n: int = 5,
    mode: str = "flag",
) -> DataFrame:
    """Benchmark decontamination: flag (or drop) training documents that
    share any word `n`-gram with a benchmark/eval set — the overlap-
    removal step every published LLM data pipeline runs before training
    (n-gram collision against held-out sets).

    Scale topology: the benchmark side is distilled to its DISTINCT
    n-gram hashes and broadcast (eval sets are tiny next to a training
    corpus), so the corpus — the 100 TB side — is scanned ONCE with a
    map-side left-semi-style join and never shuffles. `n_hits` counts
    distinct contaminating grams per doc.

    mode='flag' returns every input row + (contaminated, n_hits);
    mode='drop' returns only clean rows with original columns.

    Docs shorter than `n` words produce no grams → never contaminated
    (mirror of the shingle short-doc semantics; benchmark rows shorter
    than `n` words contribute nothing).
    """
    if mode not in ("flag", "drop"):
        raise ValueError(f"mode must be 'flag' or 'drop', got {mode!r}")
    bench_grams = (
        benchmark.select(
            F.explode(shingle_hashes(F.col(bench_text_col), n=n)).alias("_g")
        )
        .distinct()
    )
    doc_grams = df.select(
        F.col(id_col).alias("_id"),
        F.explode(shingle_hashes(F.col(text_col), n=n)).alias("_g"),
    )
    hits = (
        doc_grams.join(F.broadcast(bench_grams), "_g")
        .groupBy("_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    # hits is corpus-sized in the worst case — a keyed shuffle join, not
    # a broadcast (AQE may still convert it when hits turns out tiny)
    out = df.join(hits, F.col(id_col) == F.col("_id"), "left").drop("_id")
    if mode == "drop":
        return out.where(F.col("n_hits").isNull()).drop("n_hits")
    return out.withColumn(
        "contaminated", F.col("n_hits").isNotNull()
    ).withColumn("n_hits", F.coalesce(F.col("n_hits"), F.lit(0)))


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

SIMHASH_BITS = 32


def simhash_band(fp: Column, band: int, band_bits: int = 8) -> Column:
    """band-th `band_bits`-bit slice of a simhash fingerprint (double-safe)."""
    return (F.floor(fp / F.pow(F.lit(2.0), F.lit(band * band_bits))).cast("long")) % (
        1 << band_bits
    )


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    bits: int = SIMHASH_BITS,
    bands: int = 4,
    max_hamming: int = 3,
    max_bucket: int = 1000,
    fp_table: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate pairs via SimHash banding, verified by exact Hamming
    distance (bit_count(xor) ≤ max_hamming). Output: (doc_a, doc_b, hamming).
    Candidates come from `_star_pairs` over (band, bit-slice) rows.

    `fp_table` lets callers pass a persisted `simhash_table` output
    (id_col, simhash) so the fingerprint aggregation runs once for
    banding + both verify joins.
    """
    band_bits = _band_width(bits, bands, "bits")
    base = (
        fp_table
        if fp_table is not None
        else simhash_table(df, id_col, text_col, bits=bits)
    ).select(F.col(id_col).alias("_id"), F.col("simhash").alias("_fp"))

    slices = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                simhash_band(F.col("_fp"), b, band_bits).alias("key"),
            )
            for b in range(bands)
        ]
    )
    _, cand = _star_pairs(_band_rows(base, slices), ("_band", "_key"), max_bucket)
    scored = _verify_join(cand, base, base).withColumn(
        "hamming", F.bit_count(F.col("_fpa").bitwiseXOR(F.col("_fpb"))).cast("int")
    )
    return scored.where(F.col("hamming") <= max_hamming).select(
        "doc_a", "doc_b", "hamming"
    )


# ---------------------------------------------------------------------------
# Embedding similarity
# ---------------------------------------------------------------------------


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double"))
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2norm(a) * l2norm(b))


# NOTE on the *_norm pre-computation used by every pairwise-cosine join
# below: cosine(a, b) folds THREE interpreted HOF aggregates per pair
# (dot + both norms). Each side's norm is a per-ROW quantity, so it is
# computed once into a column BEFORE the join and the per-PAIR work
# drops to the single dot fold (~3x fewer lambda evaluations; the join
# is where rows multiply). dot/(anorm*bnorm) is the identical IEEE
# expression tree, so oracle hashes are unchanged.


def _cos6(a: str, b: str, na: str, nb: str) -> Column:
    """Cosine of vector columns `a`, `b` from their precomputed norms,
    rounded to 6 dp (the rounding every cosine gate's oracle applies)."""
    return F.round(dot(F.col(a), F.col(b)) / (F.col(na) * F.col(nb)), 6)


def _cosine_verified(cand: DataFrame, vecs: DataFrame, threshold: float) -> DataFrame:
    """(doc_a, doc_b, cos) candidates whose exact cosine ≥ threshold;
    `vecs` is (_id, _v)."""
    nv = vecs.withColumn("_n", l2norm(F.col("_v")))
    scored = _verify_join(cand, nv, nv).withColumn(
        "cos", _cos6("_va", "_vb", "_na", "_nb")
    )
    return scored.where(F.col("cos") >= threshold).select("doc_a", "doc_b", "cos")


def _top_k(scored: DataFrame, score_col: str, k: int, *cols: str) -> DataFrame:
    """Each q_id's `k` best rows by `score_col` desc, ties broken by c_id
    asc. Output: (*cols, score_col, rank)."""
    w = Window.partitionBy("q_id").orderBy(F.col(score_col).desc(), F.col("c_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(*cols, score_col, "rank")
    )


def ann_topk_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    exclude_self: bool = True,
) -> DataFrame:
    """Exact cosine top-k: broadcast the query set against the corpus.

    The corpus is never shuffled — each partition scans locally against the
    broadcast queries; only the final per-query top-k aggregation moves
    O(|Q|·k) rows. Ranking ties break on candidate id (deterministic).

    `exclude_self` drops q_id == c_id matches — right when queries ARE
    corpus rows (self-search/dedup); pass False when the two tables are
    distinct but share an id space, or same-id candidates silently vanish.
    """
    q = queries.select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec")
    ).withColumn("_qn", l2norm(F.col("q_vec")))
    c = corpus.select(
        F.col(id_col).alias("c_id"), F.col(vec_col).alias("c_vec")
    ).withColumn("_cn", l2norm(F.col("c_vec")))
    join_cond = (
        F.col("q_id") != F.col("c_id") if exclude_self else F.lit(True)
    )
    scored = c.join(F.broadcast(q), join_cond).withColumn(
        "cos", _cos6("q_vec", "c_vec", "_qn", "_cn")
    )
    return _top_k(scored, "cos", k, "q_id", "c_id")


def hyperplane_sign_bucket(
    vec: Column, n_planes: int = 8, plane_offset: int = 0
) -> Column:
    """Random-hyperplane LSH bucket id from deterministic pseudo-random
    planes: plane p component j = ((p*31 + j*17) % 7) - 3. Reproducible in
    plain SQL; at scale, replace with broadcast Gaussian planes.

    `plane_offset` shifts the plane index (plane p → p + offset), giving
    independent hash tables from the same formula — table t uses
    offset t*n_planes (see `embedding_dup_pairs`).
    """
    idx = F.sequence(F.lit(1), F.size(vec))

    def terms_for(p: int):
        def term(x, j):
            return x.cast("double") * (((F.lit(p * 31) + j * 17) % 7) - 3).cast("double")

        return F.zip_with(vec, idx, term)
    bits = [
        F.when(
            F.aggregate(terms_for(p + plane_offset), F.lit(0.0), lambda a, x: a + x)
            > 0,
            F.lit(1 << p),
        ).otherwise(F.lit(0))
        for p in range(n_planes)
    ]
    out = F.lit(0)
    for b in bits:
        out = out + b
    return out


def ann_lsh_bucketed(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_planes: int = 6,
    broadcast_queries: bool = True,
    exclude_self: bool = True,
) -> DataFrame:
    """Approximate top-k: candidates share the query's hyperplane bucket.

    One shuffle (bucket equi-join). Recall < 1 by construction; the
    deterministic planes make results reproducible across engines.
    `broadcast_queries` fits the dictionary-sized-query case (default);
    pass False when queries ~ corpus (self-dedup) so BOTH sides shuffle
    on the bucket key instead of broadcasting a corpus-sized table.
    """
    cb = corpus.select(
        F.col(id_col).alias("c_id"),
        F.col(vec_col).alias("c_vec"),
        hyperplane_sign_bucket(F.col(vec_col), n_planes).alias("bucket"),
    ).withColumn("_cn", l2norm(F.col("c_vec")))
    qb = queries.select(
        F.col(id_col).alias("q_id"),
        F.col(vec_col).alias("q_vec"),
        hyperplane_sign_bucket(F.col(vec_col), n_planes).alias("bucket"),
    ).withColumn("_qn", l2norm(F.col("q_vec")))
    scored = cb.join(F.broadcast(qb) if broadcast_queries else qb, "bucket")
    if exclude_self:
        scored = scored.where(F.col("q_id") != F.col("c_id"))
    scored = scored.withColumn("cos", _cos6("q_vec", "c_vec", "_qn", "_cn"))
    return _top_k(scored, "cos", k, "q_id", "bucket", "c_id")



def _lit_l2sq_unrolled(vec_col: Column, values: list[float], offset: int = 0) -> Column:
    """Squared L2 distance to a literal vector, unrolled (see above)."""
    expr: Column = F.lit(0.0)
    for i, x in enumerate(values):
        d = F.element_at(vec_col, offset + i + 1).cast("double") - F.lit(x)
        expr = expr + d * d
    return expr



def ivf_assign(
    df: DataFrame,
    centroids: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 1,
    vec_norm: str | None = None,
) -> DataFrame:
    """IVF coarse quantization: assign each vector to its `nprobe` nearest
    centroids by cosine (broadcast centroid table; ties break on centroid
    id). Output: (id_col, vec_col, bucket, probe_rank).

    At 10^12 vectors the centroid table stays dictionary-sized (O(sqrt N)
    lists at most) — assignment is a broadcast nested-loop scan. For the
    corpus-side common case (nprobe=1) the nearest list is picked with
    groupBy(id).agg(min(struct(-cos, cent_id))): min is an algebraic
    aggregate, so MAP-SIDE COMBINE collapses the N x K joined rows back
    to N before the exchange — the shuffle carries one row per vector.
    (A Window.partitionBy(id) rank here would shuffle all N x K rows;
    a fully expression-compiled assignment was tried and rejected: 128
    unrolled cosines per projection blow the janino method limit and
    fall back to interpreted eval, 2-5x slower than the join.)
    nprobe>1 keeps the rank-window form — that path is for the QUERY
    side, which is small by construction.

    The `0.0 - cos` sort key normalizes -0.0 so a zero cosine cannot
    order differently across engines; ordering is (cosine desc,
    cent_id asc) either way, with NULL/NaN cosines (degenerate
    centroids) always last. Pass `vec_norm="col"` to also emit the
    already-computed ||v|| so downstream scoring joins don't refold it.
    """
    c = centroids.select(
        F.col(id_col).alias("_cent_id"), F.col(vec_col).alias("_cent_vec")
    ).withColumn("_cent_n", l2norm(F.col("_cent_vec")))
    scored = df.withColumn("_vnorm", l2norm(F.col(vec_col))).join(
        F.broadcast(c)
    ).withColumn("_ccos", _cos6(vec_col, "_cent_vec", "_vnorm", "_cent_n"))
    # sort key: (0.0 - cos) normalizes -0.0; coalesce sends a NULL
    # cosine (null embedding element) LAST like the original desc
    # ordering, and +-NaN (zero-norm vector) also sorts last under
    # ascending double order — a degenerate centroid can never win.
    nkey = F.coalesce(F.lit(0.0) - F.col("_ccos"), F.lit(float("inf")))
    norm_cols = [F.col("_vnorm").alias(vec_norm)] if vec_norm else []
    if nprobe == 1:
        key = F.struct(nkey.alias("_nc"), F.col("_cent_id").alias("cent_id"))
        return (
            scored.groupBy(id_col)
            .agg(
                F.min(key).alias("_best"),
                F.first(vec_col).alias(vec_col),
                F.first("_vnorm").alias("_vnorm_agg"),
            )
            .select(
                id_col,
                vec_col,
                F.col("_best.cent_id").alias("bucket"),
                F.lit(1).alias("probe_rank"),
                *([F.col("_vnorm_agg").alias(vec_norm)] if vec_norm else []),
            )
        )
    w = Window.partitionBy(id_col).orderBy(nkey.asc(), F.col("_cent_id").asc())
    return (
        scored.withColumn("probe_rank", F.row_number().over(w))
        .where(F.col("probe_rank") <= nprobe)
        .select(
            id_col, vec_col, F.col("_cent_id").alias("bucket"), "probe_rank",
            *norm_cols,
        )
    )


def ann_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nprobe: int = 2,
    broadcast_queries: bool = False,
    exclude_self: bool = True,
) -> DataFrame:
    """IVF ANN: corpus vectors live in their single nearest-centroid list;
    each query probes its `nprobe` nearest lists. One equi-join shuffle on
    `bucket`; recall grows with nprobe. The deterministic centroid set
    (caller-provided) makes results reproducible across engines — swap in
    k-means centroids at production scale (same topology).

    Default is a plain bucket equi-join (both sides shuffle) — correct
    for the self-dedup case where queries == corpus. Set
    `broadcast_queries=True` only when the query set is known
    dictionary-sized; a hard-coded broadcast here would be a scale-killer
    the day queries = corpus."""
    cb = ivf_assign(
        corpus, centroids, id_col=id_col, vec_col=vec_col, nprobe=1,
        vec_norm="_cn",
    ).select(F.col(id_col).alias("c_id"), F.col(vec_col).alias("c_vec"),
             "bucket", "_cn")
    qb = ivf_assign(
        queries, centroids, id_col=id_col, vec_col=vec_col, nprobe=nprobe,
        vec_norm="_qn",
    ).select(F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec"),
             "bucket", "_qn")
    scored = cb.join(F.broadcast(qb) if broadcast_queries else qb, "bucket")
    if exclude_self:
        scored = scored.where(F.col("q_id") != F.col("c_id"))
    scored = scored.withColumn("cos", _cos6("q_vec", "c_vec", "_qn", "_cn"))
    return _top_k(scored, "cos", k, "q_id", "c_id")


def embedding_dup_pairs(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 6,
    tables: int = 2,
    threshold: float = 0.9,
    max_bucket: int = 1000,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: multi-table hyperplane-LSH
    candidate generation verified by exact cosine ≥ threshold. Output:
    (doc_a, doc_b, cos). The embedding analog of `minhash_lsh_pairs`:
    each of `tables` independent hash tables buckets a vector by
    `n_planes` sign bits (table t reuses the deterministic plane formula
    at plane_offset t*n_planes), and a pair is a candidate if it
    collides in ANY table (recall grows with `tables`, bucket size
    shrinks with `n_planes`). Candidates come from `_star_pairs` over
    (table, key) rows, so an embedding-identical shard above
    `max_bucket` star-pairs against its min-id representative.

    Matches the reference's dedup intent (fingerprint + dropDuplicates,
    logstash-filter-fingerprint §filter) lifted to vector space.
    """
    base = df.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
    keys = F.array(
        *[
            F.struct(
                F.lit(t).alias("band"),
                hyperplane_sign_bucket(
                    F.col("_v"), n_planes, plane_offset=t * n_planes
                ).alias("key"),
            )
            for t in range(tables)
        ]
    )
    _, cand = _star_pairs(_band_rows(base, keys), ("_band", "_key"), max_bucket)
    return _cosine_verified(cand, base, threshold)


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------

LANG_MARKERS = {
    "en": ["the", "a", "and", "of"],
    "db": ["table", "row", "column", "query"],
    "ops": ["batch", "stream", "merge", "scan"],
}


def lang_id(text: Column) -> Column:
    """Marker-word voting language id (n-gram-heuristic family).

    Scores = count of marker words present; argmax wins, ties → 'und'.
    """
    w = words_of(text)
    scores = {
        lang: F.size(F.array_intersect(F.array_distinct(w), F.array(*[F.lit(m) for m in markers])))
        for lang, markers in LANG_MARKERS.items()
    }
    best = F.greatest(*scores.values())
    n_best = sum((s == best).cast("int") for s in scores.values())
    out = F.lit("und")
    for lang, s in scores.items():
        out = F.when((best > 0) & (n_best == 1) & (s == best), F.lit(lang)).otherwise(out)
    return out


STOPWORDS = ["the", "a", "and", "of", "to", "in", "is", "it"]


def quality_features(text: Column) -> dict[str, Column]:
    """Length / punctuation / stopword quality features + composite score."""
    w = words_of(text)
    n_words = F.size(w)
    n_chars = F.length(text)
    avg_word_len = F.round((n_chars - (n_words - 1)).cast("double") / n_words, 4)
    stop_hits = F.size(F.filter(w, lambda x: x.isin(*STOPWORDS)))
    stop_ratio = F.round(stop_hits.cast("double") / n_words, 4)
    punct = F.length(F.regexp_replace(text, r"[\w\s]", ""))
    punct_ratio = F.round(punct.cast("double") / n_chars, 4)
    score = F.round(
        F.least(F.lit(1.0), n_words.cast("double") / 64)
        * (1 - punct_ratio)
        * F.when(stop_ratio.between(0.01, 0.6), F.lit(1.0)).otherwise(F.lit(0.5)),
        4,
    )
    return {
        "n_words": n_words,
        "avg_word_len": avg_word_len,
        "stop_ratio": stop_ratio,
        "punct_ratio": punct_ratio,
        "quality": score,
    }


def token_counts(text: Column) -> dict[str, Column]:
    """Whitespace tokens + BPE-ish regex tokens (\\w+ | single punct)."""
    return {
        "ws_tokens": F.size(words_of(text)),
        "re_tokens": F.regexp_count(text, F.lit(r"\w+|[^\w\s]")),
    }


FP_P = 1_000_000_007


def repetition_metrics(
    df: DataFrame, *, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Intra-document repetition signals — the Gopher-rule style quality
    filters (duplicate-word fraction, most-frequent-word share,
    most-frequent-bigram share) used to drop low-quality repetitive
    pages from training corpora.

    Output per doc: (id, n_words, word_rep_ratio, top_word_frac,
    top_bigram_frac), each rounded to 4. `word_rep_ratio` = 1 −
    distinct/total words; `top_*_frac` = occurrences of the most common
    word / bigram over the respective total; `top_bigram_frac` is null
    for single-word docs (no bigrams).

    Scale topology: words and bigrams are tagged structs in ONE exploded
    frame, so the whole computation is a single keyed shuffle with
    map-side partial aggregation — no per-doc O(W²) higher-order
    functions, no second pass. Per-doc state never exceeds the doc's
    distinct-gram count.
    """
    w = words_of(F.col(text_col))
    bi = F.when(
        F.size(w) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(w) - 1),
            lambda i: F.concat_ws(" ", F.element_at(w, i), F.element_at(w, i + 1)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    tagged = F.concat(
        F.transform(w, lambda x: F.struct(F.lit("w").alias("kind"), x.alias("g"))),
        F.transform(bi, lambda x: F.struct(F.lit("b").alias("kind"), x.alias("g"))),
    )
    ex = df.select(
        F.col(id_col).alias("_id"), F.explode(tagged).alias("_t")
    ).select("_id", F.col("_t.kind").alias("_k"), F.col("_t.g").alias("_g"))
    per_gram = ex.groupBy("_id", "_k", "_g").agg(F.count(F.lit(1)).alias("_c"))
    per_kind = per_gram.groupBy("_id", "_k").agg(
        F.sum("_c").alias("_tot"),
        F.max("_c").alias("_top"),
        F.count(F.lit(1)).alias("_distinct"),
    )
    words = per_kind.where(F.col("_k") == "w").select(
        "_id",
        F.col("_tot").cast("int").alias("n_words"),
        F.round(1 - F.col("_distinct") / F.col("_tot"), 4).alias("word_rep_ratio"),
        F.round(F.col("_top") / F.col("_tot"), 4).alias("top_word_frac"),
    )
    bigrams = per_kind.where(F.col("_k") == "b").select(
        "_id", F.round(F.col("_top") / F.col("_tot"), 4).alias("top_bigram_frac")
    )
    return (
        words.join(bigrams, "_id", "left")
        .withColumnRenamed("_id", id_col)
    )


def rolling_fingerprint(text: Column) -> Column:
    """Order-sensitive polynomial rolling hash over word hashes mod P —
    the classic document fingerprint (content-defined, locality-free)."""
    hashed = F.transform(words_of(text), portable_hash32)
    return F.aggregate(
        hashed,
        F.lit(0).cast("long"),
        lambda acc, h: (acc * 31 + h) % F.lit(FP_P),
    )


# PII patterns in the common Java/RE2 regex dialect (both engines run them
# verbatim). ORDER MATTERS: longer/more-specific first so e.g. a credit card
# is not half-eaten by the phone pattern.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("cc", r"\b\d{4}[- ]\d{4}[- ]\d{4}[- ]\d{4}\b", "<CC>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone", r"\+\d{1,2}[ -]\d{3}[ -]\d{3}[ -]\d{4}\b", "<PHONE>"),
]


def redact_pii(
    text: Column, *, kinds: Sequence[str] | None = None, count: bool = True
) -> dict[str, Column]:
    """PII scrubbing — the redaction pass every public training-data
    pipeline runs (emails, credit cards, SSNs, IPs, phone numbers →
    typed placeholder tokens).

    Returns {'redacted': Column, 'n_<kind>': Column, ...} — counts are
    taken BEFORE replacement (size of regexp_extract_all). Pure
    regexp column expressions: zero shuffle, whole-stage codegen, scans
    the corpus once. Patterns are deliberately in the Java∩RE2 dialect
    so DuckDB oracles replay them verbatim; swap domain-specific
    patterns in via PII_PATTERNS at call sites.
    """
    selected = [
        (k, p, r) for k, p, r in PII_PATTERNS if kinds is None or k in kinds
    ]
    out: dict[str, Column] = {}
    red = text
    for k, pat, rep in selected:
        if count:
            out[f"n_{k}"] = F.size(F.regexp_extract_all(red, F.lit(pat), 0))
        red = F.regexp_replace(red, pat, rep)
    out["redacted"] = red
    return out


def dedup_paragraphs(
    text: Column, *, sep: str = "\n\n", min_len: int = 0
) -> Column:
    """Intra-document paragraph dedup: drop every repeat of an
    already-seen paragraph, preserving first-occurrence order — the
    within-page boilerplate collapse (nav bars, repeated footers) that
    document-level dedup can't touch.

    Zero shuffle: split + index-aware filter (keep element i iff its
    FIRST occurrence is at i). O(P²) comparisons per doc where P =
    paragraphs per doc (~10²) — bounded per row, never cross-row.
    Paragraphs shorter than `min_len` chars are always kept (short
    connectives repeat legitimately).
    """
    import re as _re

    # split() takes a REGEX — quote the literal separator (Java accepts
    # python re.escape's output for the ASCII metachars involved)
    paras = F.split(text, _re.escape(sep))
    kept = F.filter(
        paras,
        lambda x, i: (F.length(x) < min_len)
        | (F.array_position(paras, x) == i + 1),
    )
    return F.concat_ws(sep, kept)


def token_budget_mix(
    df: DataFrame,
    *,
    budget: int,
    group_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    prefilter_buckets: int | None = None,
) -> DataFrame:
    """Per-group token-budgeted quality sampling — the training-data "mix"
    step: within each `group_col` stratum, keep the highest-quality
    documents until the stratum's token budget is exhausted.

    Selection is deterministic: order by (quality DESC, id ASC), running
    token total via a window cumsum, keep rows whose cumulative total
    stays ≤ `budget`. Output: (group, doc_id, quality, n_tok, cum_tok).

    Scale topology: ONE shuffle (hash on group) + a per-group sort. With
    10^12 docs in a handful of strata that sort is the bottleneck, so
    `prefilter_buckets=B` enables the two-pass plan: pass 1 builds a
    B-bucket quality histogram per group (groupBy — map-side partial, no
    sort) and finds the coarsest quality lower bound whose token mass
    already covers the budget; pass 2 sorts only the survivors. The
    prefilter is provably a SUPERSET of the exact answer: any dropped
    doc has ≥ budget tokens of strictly-higher-quality docs ahead of it,
    so its exact cumsum would exceed the budget anyway — and since every
    dropped doc orders after every kept one, survivors' cumsums are
    unchanged. Pinned against the single-pass plan by a unit test.
    """
    feats = quality_features(F.col(text_col))
    toks = token_counts(F.col(text_col))
    base = df.select(
        F.col(group_col).alias("group"),
        F.col(id_col).alias("doc_id"),
        feats["quality"].alias("quality"),
        toks["re_tokens"].cast("int").alias("n_tok"),
    )
    if prefilter_buckets is not None:
        B = int(prefilter_buckets)
        hist = base.groupBy(
            "group", F.floor(F.col("quality") * B).cast("int").alias("_qb")
        ).agg(F.sum("n_tok").alias("_btok"))
        wq = (
            Window.partitionBy("group")
            .orderBy(F.col("_qb").desc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        # boundary = highest-quality bucket at which the cumulative (from
        # the top) token mass first covers the budget; keeping the WHOLE
        # boundary bucket is what makes the prefilter a superset
        cuts = (
            hist.withColumn("_cum", F.sum("_btok").over(wq))
            .where(F.col("_cum") >= budget)
            .groupBy("group")
            .agg(F.max("_qb").alias("_cutb"))
        )
        base = (
            base.join(F.broadcast(cuts), "group", "left")
            .where(
                F.col("_cutb").isNull()  # group never reaches budget: keep all
                | (F.floor(F.col("quality") * B).cast("int") >= F.col("_cutb"))
            )
            .drop("_cutb")
        )
    w = (
        Window.partitionBy("group")
        .orderBy(F.col("quality").desc(), F.col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        base.withColumn("cum_tok", F.sum("n_tok").over(w).cast("long"))
        .where(F.col("cum_tok") <= budget)
        .select("group", "doc_id", "quality", "n_tok", "cum_tok")
    )


# ---------------------------------------------------------------------------
# Training-sequence assembly over token arrays (the 10^12-sequence payload)
# ---------------------------------------------------------------------------


def chunk_tokens(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    seq_len: int = 2048,
    stride: int | None = None,
    drop_last_partial: bool = False,
) -> DataFrame:
    """Per-document sliding-window chunking: each doc's token array is cut
    into windows of `seq_len` advancing by `stride` (default = seq_len,
    i.e. non-overlapping). Pure column expressions — sequence + slice, no
    shuffle at all; 1→N rows via one explode.

    Output: (id_col, chunk_id int, tokens array, n_tok int).
    """
    step = stride or seq_len
    toks = F.col(tokens_col)
    n = F.size(toks)
    n_chunks = F.when(n <= 0, F.lit(0)).otherwise(
        F.floor((n - 1) / F.lit(step)).cast("int") + 1
    )
    out = df.select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.greatest(n_chunks - 1, F.lit(0))),
                lambda c: F.slice(toks, c * step + 1, seq_len),
            )
        ).alias("chunk_id", tokens_col),
    ).where(F.size(F.col(tokens_col)) > 0)
    if drop_last_partial:
        out = out.where(F.size(F.col(tokens_col)) == seq_len)
    return out.withColumn("n_tok", F.size(F.col(tokens_col)))


def pack_concat_chunks(
    df: DataFrame,
    *,
    group_col: str = "source",
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    n_tok_col: str = "n_tok",
    seq_len: int = 2048,
    drop_last_partial: bool = False,
    with_boundaries: bool = False,
) -> DataFrame:
    """Concat-and-chunk sequence packing (the standard LLM-pretraining
    assembly): within each `group_col` stream, documents are concatenated
    in `id_col` order and the token stream is cut every `seq_len` tokens;
    docs straddle chunk boundaries.

    `with_boundaries=True` additionally emits what a sample-packing
    trainer (flash-attn varlen / HF `position_ids` packing) needs per
    chunk: `position_ids` (doc-RELATIVE positions — a doc continuing
    from the previous chunk keeps counting, which is the RoPE-faithful
    continuation), `doc_starts` (within-chunk offsets where a NEW doc
    begins — the cu_seqlens cut points), `seg_lens` (tokens contributed
    by each doc segment, in order) and `n_segments`. Same single
    shuffle: the extras ride the existing piece rows (two longs each)
    and assemble in the same groupBy.

    Relational derivation that NEVER creates per-token rows:
      1. window cumsum over (group ORDER BY id) → each doc's global
         start offset — one shuffle on the group key;
      2. each doc explodes to only the chunks it OVERLAPS (≤ n_tok/L+1
         rows per doc, not n_tok rows) with the matching array slice;
      3. groupBy (group, chunk) reassembles pieces in offset order via
         array_sort + flatten — Catalyst ELIDES this second exchange
         (hash partitioning on the group key already clusters
         (group, chunk)), so the whole op is ONE shuffle
         (test_plan_shape asserts it). With few giant groups,
         repartition the output by (group, seq_id) before writing to
         rebalance — the assembly itself is unaffected by group skew
         because pieces combine map-side.

    Deterministic given (group, id) order, so any engine reproduces the
    exact packed sequences. Output: (group_col, seq_id bigint,
    tokens array, n_tok int).
    """
    w = Window.partitionBy(group_col).orderBy(id_col)
    toks = F.col(tokens_col)
    off = (F.sum(n_tok_col).over(w) - F.col(n_tok_col)).cast("long")
    L = F.lit(seq_len)
    first_c = F.floor(off / L).cast("long")
    last_c = F.floor((off + F.col(n_tok_col) - 1) / L).cast("long")
    pieces = (
        df.select(
            F.col(group_col),
            off.alias("_off"),
            F.col(n_tok_col).alias("_n"),
            toks.alias("_t"),
            first_c.alias("_c0"),
            last_c.alias("_c1"),
        )
        .where(F.col("_n") > 0)
        .select(
            group_col,
            "_off",
            "_n",
            "_t",
            F.explode(F.sequence(F.col("_c0"), F.col("_c1"))).alias("seq_id"),
        )
        .select(
            group_col,
            "seq_id",
            "_off",
            F.slice(
                F.col("_t"),
                (F.greatest(F.col("seq_id") * L - F.col("_off"), F.lit(0)) + 1).cast(
                    "int"
                ),
                (
                    F.least((F.col("seq_id") + 1) * L, F.col("_off") + F.col("_n"))
                    - F.greatest(F.col("seq_id") * L, F.col("_off"))
                ).cast("int"),
            ).alias("_piece"),
        )
    )
    if not with_boundaries:
        out = (
            pieces.groupBy(group_col, "seq_id")
            .agg(
                F.flatten(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct(F.col("_off"), F.col("_piece")))
                        ),
                        lambda s: s.getField("_piece"),
                    )
                ).alias(tokens_col)
            )
            .withColumn("n_tok", F.size(F.col(tokens_col)))
        )
        if drop_last_partial:
            out = out.where(F.col("n_tok") == seq_len)
        return out

    # boundary mode: the doc-relative piece start (position_ids
    # continuation) and the within-chunk start of pieces that BEGIN a
    # doc here (the cu_seqlens cut points) are both derivable POST
    # SHUFFLE from _off and the seq_id group key — nothing extra rides
    # the Exchange beyond what plain packing already ships
    sorted_pieces = F.array_sort(
        F.collect_list(F.struct(F.col("_off"), F.col("_piece")))
    )
    chunk0 = F.col("seq_id") * L  # chunk's global start offset
    pstart = lambda s: F.greatest(  # noqa: E731 — doc-relative start
        chunk0 - s.getField("_off"), F.lit(0)
    ).cast("long")
    out = (
        pieces.groupBy(group_col, "seq_id")
        .agg(sorted_pieces.alias("_ps"))
        .select(
            group_col,
            "seq_id",
            F.flatten(
                F.transform(F.col("_ps"), lambda s: s.getField("_piece"))
            ).alias(tokens_col),
            F.flatten(
                F.transform(
                    F.col("_ps"),
                    lambda s: F.sequence(
                        pstart(s),
                        pstart(s) + F.size(s.getField("_piece")) - 1,
                    ),
                )
            ).alias("position_ids"),
            F.transform(
                F.filter(
                    F.col("_ps"), lambda s: s.getField("_off") >= chunk0
                ),
                lambda s: (s.getField("_off") - chunk0).cast("long"),
            ).alias("doc_starts"),
            F.transform(
                F.col("_ps"), lambda s: F.size(s.getField("_piece")).cast("long")
            ).alias("seg_lens"),
            F.size(F.col("_ps")).cast("int").alias("n_segments"),
        )
        .withColumn("n_tok", F.size(F.col(tokens_col)))
    )
    if drop_last_partial:
        out = out.where(F.col("n_tok") == seq_len)
    return out


# ---------------------------------------------------------------------------
# Token-level (sub-document) dedup and decontamination
#
# The ExactSubstr result ("Deduplicating Training Data Makes Language
# Models Better", Lee et al. 2022) re-expressed relationally: instead of a
# monolithic suffix array, every w-token window is hashed and duplicated
# windows are found with ONE groupBy on the window hash. Window
# enumeration is linear in total tokens (n - w + 1 windows per doc at
# stride 1), each window row carries only (id, start, hash64) — never the
# token payload — so shuffle bytes are ~20 B x total_tokens, and the
# groupBy gets map-side partial aggregation. At 10^12 sequences raise
# `stride` (detects shared spans of length >= window + stride - 1) to cut
# window rows proportionally.
# ---------------------------------------------------------------------------


def token_window_hashes(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    window: int = 8,
    stride: int = 1,
) -> DataFrame:
    """One row per w-token window: (id_col, start int, whash long).

    `start` is the 0-based offset of the window in the token array. The
    hash is `portable_hash32` over the comma-joined window (engine-
    portable); docs shorter than `window` emit no rows. Pure column
    expressions — sequence + slice + explode, zero shuffle.
    """
    toks = F.col(tokens_col)
    n = F.size(toks)
    starts = F.when(
        n >= window,
        F.sequence(F.lit(0), n - window, F.lit(stride)),
    ).otherwise(F.array().cast("array<int>"))
    return df.select(
        F.col(id_col),
        F.explode(starts).alias("start"),
        F.col(tokens_col).alias("_t"),
    ).select(
        id_col,
        "start",
        portable_hash32(
            F.concat_ws(",", F.slice(F.col("_t"), F.col("start") + 1, window).cast("array<string>"))
        ).alias("whash"),
    )


def token_window_dupes(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    window: int = 8,
    stride: int = 1,
    min_count: int = 2,
) -> DataFrame:
    """Duplicated w-token windows: every window whose hash occurs
    `min_count`+ times corpus-wide (including intra-doc repeats, matching
    ExactSubstr's any-second-occurrence rule).

    Returns (id_col, start, whash, n_occurrences, n_docs). Plan: window
    hashes → ONE groupBy(whash) with map-side partials → inner join back
    on whash (same key → the exchange is reused, no second shuffle of the
    window table). The count table is df-cut to hashes with
    n_occurrences >= min_count BEFORE the join, so the join's build side
    only holds duplicated hashes (tiny unless the corpus is mostly dup).
    """
    wh = token_window_hashes(
        df, id_col=id_col, tokens_col=tokens_col, window=window, stride=stride
    )
    counts = (
        wh.groupBy("whash")
        .agg(
            F.count("*").alias("n_occurrences"),
            F.countDistinct(id_col).alias("n_docs"),
        )
        .where(F.col("n_occurrences") >= min_count)
    )
    return wh.join(counts, "whash").select(
        id_col, "start", "whash", "n_occurrences", "n_docs"
    )


def scrub_duplicate_spans(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    window: int = 8,
    stride: int = 1,
    min_count: int = 2,
) -> DataFrame:
    """ExactSubstr-style scrub: drop every token covered by at least one
    duplicated w-token window (a second corpus-wide occurrence means the
    span is memorizable boilerplate — navigation chrome, licenses,
    templated text).

    Output: input columns + `tokens_clean` (array), `n_tok_clean`,
    `n_dup_windows`. Plan: duplicated window starts are aggregated
    per doc (collect_list bounded by windows-per-doc, NOT corpus size),
    LEFT-joined back on the id (one shuffle keyed on the id), and the
    scrub itself is a pure column filter — position p survives iff no dup
    start s has s <= p < s + window. Per-row cost O(n_tok x dup_starts);
    dup_starts is almost always << n_tok, and a fully-boilerplate doc just
    scrubs to empty.
    """
    dups = token_window_dupes(
        df,
        id_col=id_col,
        tokens_col=tokens_col,
        window=window,
        stride=stride,
        min_count=min_count,
    )
    per_doc = dups.groupBy(id_col).agg(
        F.sort_array(F.collect_list("start")).alias("_dup_starts")
    )
    toks = F.col(tokens_col)
    starts = F.coalesce(F.col("_dup_starts"), F.array().cast("array<int>"))
    # zip_with over positions: keep token at 0-based position p unless a
    # duplicated window [s, s+window) covers it.
    covered = lambda p: F.exists(  # noqa: E731
        starts, lambda s: (s <= p) & (p < s + window)
    )
    cleaned = F.filter(toks, lambda _t, i: ~covered(i))
    return (
        df.join(per_doc, id_col, "left")
        .withColumn("tokens_clean", cleaned)
        .withColumn("n_tok_clean", F.size("tokens_clean"))
        .withColumn("n_dup_windows", F.size(starts))
        .drop("_dup_starts")
    )


def token_decontaminate(
    corpus: DataFrame,
    eval_df: DataFrame,
    *,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    eval_tokens_col: str = "tokens",
    window: int = 8,
) -> DataFrame:
    """Token-level benchmark decontamination: flag corpus docs sharing any
    w-token window with an eval/benchmark set (the n-gram-overlap rule of
    GPT-3 appx. C / PaLM, but over token ids instead of normalized text).

    The eval set's window hashes are DISTINCT'd and broadcast — the corpus
    side never shuffles; detection is a broadcast LEFT SEMI-shaped join
    aggregated per doc. Corpus windows run at stride 1 so any shared
    w-window is caught. Output: input columns + `contaminated` (bool),
    `n_eval_hits` (int), `first_hit_start` (int, null when clean).
    """
    eval_hashes = (
        token_window_hashes(
            eval_df.select(F.lit(0).alias("_eid"), F.col(eval_tokens_col).alias("_et")),
            id_col="_eid",
            tokens_col="_et",
            window=window,
            stride=1,
        )
        .select("whash")
        .distinct()
    )
    cw = token_window_hashes(
        corpus, id_col=id_col, tokens_col=tokens_col, window=window, stride=1
    )
    hits = (
        cw.join(F.broadcast(eval_hashes), "whash")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_eval_hits"),
            F.min("start").alias("first_hit_start"),
        )
    )
    return (
        corpus.join(hits, id_col, "left")
        .withColumn("n_eval_hits", F.coalesce("n_eval_hits", F.lit(0)))
        .withColumn("contaminated", F.col("n_eval_hits") > 0)
    )


def vocab_stats(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    top_k: int = 40,
) -> DataFrame:
    """Corpus vocabulary audit: top-k token ids by occurrence count with
    document frequency and cumulative-coverage share.

    Plan: ONE posexplode + groupBy(token) with map-side partial
    aggregation (the reducer-side state is bounded by |vocab|, ~50k for a
    BPE vocab, regardless of corpus size), then a top-k sort over |vocab|
    rows — trivially small. Coverage is cumulative parts-per-million via
    exact integer `div` (engine-portable; no float-rounding hazard — note
    cum_cnt*10^6 needs the decimal path past ~9*10^12 total tokens).
    Ties broken by token id for determinism.
    Output: (token, cnt, n_docs, rank, cum_share_ppm).
    """
    tok = (
        df.select(F.col(id_col), F.explode(tokens_col).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("cnt"), F.countDistinct(id_col).alias("n_docs"))
    )
    total = df.select(F.sum(F.size(tokens_col)).alias("_total"))
    w_rank = Window.orderBy(F.desc("cnt"), F.asc("token"))
    return (
        tok.withColumn("rank", F.row_number().over(w_rank))
        .where(F.col("rank") <= top_k)
        .crossJoin(F.broadcast(total))
        .withColumn(
            "_cum_cnt",
            F.sum("cnt").over(
                w_rank.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .withColumn("cum_share_ppm", F.expr("_cum_cnt * 1000000L div _total"))
        .drop("_total", "_cum_cnt")
    )


# ---------------------------------------------------------------------------
# Multimodal (binary payload plumbing; decode stubbed)
# ---------------------------------------------------------------------------


def binary_meta_decode(
    df: DataFrame, payload_col: str, *, batch_size_hint: int = 1024
) -> DataFrame:
    """Opaque-binary decode stage: Arrow-batched mapInPandas over a binary
    column, emitting typed metadata. The actual media decode is STUBBED
    (no image/audio libs in this container) with a deterministic fake —
    the Spark-side plumbing (binary schema, batch iteration, column
    pruning) is real and exercised.

    Schema in:  any + payload binary
    Schema out: doc_id, n_bytes, width, height, n_frames
    """
    import pandas as pd

    out_schema = "doc_id long, n_bytes int, width int, height int, n_frames int"

    def decode(batches):
        for pdf in batches:
            # null payloads (missing blob / failed fetch) yield null
            # metadata instead of a TypeError killing the stage
            n_bytes = pdf[payload_col].map(
                lambda v: len(v) if v is not None else None
            ).astype("Int64")
            # STUB: real impl would call PIL/ffmpeg here per Arrow batch.
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": n_bytes,
                    "width": n_bytes % 640,
                    "height": (n_bytes * 7) % 480,
                    "n_frames": n_bytes % 16,
                }
            )

    return df.select("doc_id", payload_col).mapInPandas(decode, out_schema)


# ---------------------------------------------------------------------------
# URL canonicalization + host-level corpus hygiene
#
# Web-crawl pipelines (CCNet, RefinedWeb §"URL filtering") dedup and
# filter at URL/host granularity BEFORE text-level dedup — it is the
# cheapest cut (pure string expressions, zero shuffle for the
# normalization; ONE keyed shuffle for host rollups). Both engines run
# the same regex/lambda logic, so the DuckDB oracle reproduces results
# exactly.
# ---------------------------------------------------------------------------

_URL_RX = r"^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#:]+)(?::([0-9]+))?([^?#]*)(?:\?([^#]*))?(?:#.*)?$"

# Tracking parameters dropped by normalization (prefix match for utm_*).
URL_DROP_PARAM_PREFIXES = ("utm_",)
URL_DROP_PARAMS = ("fbclid", "gclid", "msclkid", "ref", "mc_cid", "mc_eid")


def url_normalize(url: Column) -> Column:
    """Canonical form of a URL as ONE pure column expression.

    Steps (the standard safe subset of RFC 3986 normalization +
    tracking-param stripping): lowercase scheme and host; drop default
    ports (http:80, https:443); empty path → "/"; drop the fragment;
    drop utm_*/click-id query params; sort surviving params (query order
    is almost never semantic, and sorting makes param-permuted URLs
    dedup together). Unparseable URLs pass through unchanged (null-safe:
    no-scheme strings don't match the regex → original returned)."""
    scheme = F.lower(F.regexp_extract(url, _URL_RX, 1))
    host = F.lower(F.regexp_extract(url, _URL_RX, 2))
    port = F.regexp_extract(url, _URL_RX, 3)
    path = F.regexp_extract(url, _URL_RX, 4)
    query = F.regexp_extract(url, _URL_RX, 5)

    default_port = (
        ((scheme == "http") & (port == "80"))
        | ((scheme == "https") & (port == "443"))
        | (port == "")
    )
    port_part = F.when(default_port, F.lit("")).otherwise(F.concat(F.lit(":"), port))
    path_part = F.when(path == "", F.lit("/")).otherwise(path)

    def _keep(p: Column) -> Column:
        key = F.split(p, "=", 2).getItem(0)
        cond = (p != "") & ~key.isin(*URL_DROP_PARAMS)
        for pref in URL_DROP_PARAM_PREFIXES:
            cond = cond & ~key.startswith(pref)
        return cond

    params = F.array_sort(F.filter(F.split(query, "&"), _keep))
    query_part = F.when(
        F.size(params) > 0, F.concat(F.lit("?"), F.array_join(params, "&"))
    ).otherwise(F.lit(""))

    norm = F.concat(scheme, F.lit("://"), host, port_part, path_part, query_part)
    return F.when(host == "", url).otherwise(norm)


def url_host(url: Column) -> Column:
    """Lowercased host of a URL ('' when unparseable)."""
    return F.lower(F.regexp_extract(url, _URL_RX, 2))


def host_stats(
    df: DataFrame,
    *,
    url_col: str = "url",
    quality_col: str | None = None,
) -> DataFrame:
    """Registered-domain rollup: (domain, n_docs, n_hosts, avg_quality?).

    ONE groupBy on the registered domain (plan-time public-suffix CASE,
    no dictionary join) with map-side partial aggregation — the standard
    first-pass census a crawl pipeline runs to find spam/SEO domains.
    At 10^11 URLs the domain key is heavy-tailed; counts and averages
    are algebraic so partial aggregation absorbs the skew (no salting
    needed — unlike collect-list rollups)."""
    from logstash_spark.functions import domain_parts

    host = url_host(F.col(url_col))
    dom = domain_parts(host)["domain"]
    aggs = [
        F.count("*").alias("n_docs"),
        F.countDistinct(host.alias("_h")).alias("n_hosts"),
    ]
    if quality_col is not None:
        aggs.append(F.avg(F.col(quality_col)).alias("avg_quality"))
    return (
        df.where(host != "")
        .groupBy(dom.alias("domain"))
        .agg(*aggs)
    )


def host_blocklist_filter(
    df: DataFrame,
    blocklist: DataFrame,
    *,
    url_col: str = "url",
    by: str = "domain",
) -> DataFrame:
    """Drop documents whose registered domain is on a blocklist.

    Broadcast LEFT ANTI join — blocklists are small (10^4-10^6 domains,
    a few MB) next to the corpus, so the corpus never shuffles; each
    task probes the broadcast hash table. `blocklist` must carry a
    `domain` column (or pass `by`)."""
    from logstash_spark.functions import domain_parts

    dom = domain_parts(url_host(F.col(url_col)))["domain"]
    return (
        df.withColumn("_dom", dom)
        .join(F.broadcast(blocklist.select(F.col(by).alias("_dom")).distinct()),
              "_dom", "left_anti")
        .drop("_dom")
    )

# ---------------------------------------------------------------------------
# Unigram LM quality (CCNet-style language-model filter analog)
# ---------------------------------------------------------------------------


def unigram_vocab_logp(
    df: DataFrame,
    *,
    text_col: str = "text",
    vocab_size: int = 4096,
) -> DataFrame:
    """Corpus unigram LM table: the `vocab_size` most frequent words with
    integer-quantized log2 probabilities. Output: (word, cnt, logp2) where
    logp2 = floor(log2(cnt)) - floor(log2(total_words)) — a bit-length
    quantization chosen for CROSS-ENGINE EXACTNESS: floor(log2(n)) of an
    integer is reproducible bit-for-bit in any IEEE engine (log2 of an
    integer is either exact — powers of two — or bounded away from the
    next integer by far more than one ulp for n < 2^50), where a full-
    precision double logp would drift in the last ulp between engines.

    This is the model-building half of the CCNet / KenLM-style LM quality
    filter (score docs by average token log-likelihood; low-likelihood
    docs are boilerplate/gibberish). Scale topology: ONE explode +
    groupBy(word) with map-side partial aggregation; the corpus-wide
    total is a separate scalar aggregate cross-joined back (broadcast,
    1 row); the vocab cut is a global top-K (TakeOrderedAndProject —
    map-side partial top-K, never a full sort).
    """
    w = df.select(F.explode(words_of(F.col(text_col))).alias("word")).where(
        F.col("word") != ""
    )
    counts = w.groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))
    total = counts.agg(F.sum("cnt").alias("_total"))
    return (
        counts.crossJoin(F.broadcast(total))
        .withColumn(
            "logp2",
            (F.floor(F.log2("cnt")) - F.floor(F.log2("_total"))).cast("int"),
        )
        .drop("_total")
        .orderBy(F.col("cnt").desc(), F.col("word"))
        .limit(vocab_size)
    )


def unigram_logprob_score(
    df: DataFrame,
    vocab: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    oov_logp2: int = -30,
) -> DataFrame:
    """Score each document by its average unigram log2-likelihood under a
    `unigram_vocab_logp` table: (id_col, n_words, logp2_sum, avg_logp2).
    Out-of-vocabulary words take the `oov_logp2` floor. All arithmetic up
    to the final average is INTEGER (exact cross-engine; the average is
    one rounded division of two exact longs).

    Scale: the vocab table is dictionary-sized by construction
    (`vocab_size` rows) → broadcast hash join; the corpus explodes to
    words map-side and re-aggregates with ONE groupBy(id) shuffle.
    """
    vb = F.broadcast(vocab.select(F.col("word").alias("_w"), F.col("logp2").alias("_lp")))
    w = df.select(
        F.col(id_col), F.explode(words_of(F.col(text_col))).alias("_w")
    ).where(F.col("_w") != "")
    scored = w.join(vb, "_w", "left").groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum(F.coalesce(F.col("_lp"), F.lit(oov_logp2))).alias("logp2_sum"),
    )
    return scored.withColumn(
        "avg_logp2", F.round(F.col("logp2_sum") / F.col("n_words"), 4)
    )


def _doc_bigrams(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id_col, w1, w2) — consecutive non-empty word pairs per document.
    Array-local construction (filter empties, pair adjacent via
    element_at over a sequence) → ONE narrow explode; no window, no
    shuffle before the caller's aggregation."""
    w = F.filter(words_of(F.col(text_col)), lambda x: x != "")
    pairs = F.when(
        F.size(w) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(w) - 1, F.lit(1))),
            lambda i: F.struct(
                F.element_at(w, i).alias("w1"),
                F.element_at(w, i + 1).alias("w2"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    return df.select(F.col(id_col), F.explode(pairs).alias("_bg")).select(
        id_col, F.col("_bg.w1").alias("w1"), F.col("_bg.w2").alias("w2")
    )


def bigram_vocab_logp(
    df: DataFrame,
    *,
    text_col: str = "text",
    vocab_size: int = 4096,
) -> DataFrame:
    """Corpus bigram LM table: the `vocab_size` most frequent word pairs
    with integer-quantized CONDITIONAL log2 probabilities. Output
    (w1, w2, cnt, logp2) where logp2 = floor(log2(cnt(w1,w2))) -
    floor(log2(cnt(w1 as prefix))) ≈ log2 P(w2|w1) — the same
    bit-length quantization as `unigram_vocab_logp`, exact cross-engine.

    This is the KenLM-direction extension of the CCNet unigram filter:
    conditional bigram likelihood separates fluent text from shuffled /
    keyword-stuffed spam that unigram frequency alone scores well.
    Scale topology: ONE explode + groupBy(w1, w2) with map-side partial
    aggregation; prefix counts come from a window over the SAME (w1,*)
    partitioning (no second shuffle — the groupBy output is already
    hash-partitioned compatibly AQE-side, and the window repartitions by
    w1 only once); the vocab cut is a global top-K
    (TakeOrderedAndProject, never a full sort)."""
    bg = _doc_bigrams(df.select(F.lit(1).alias("_one"), text_col), "_one", text_col)
    counts = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cnt"))
    wp = Window.partitionBy("w1")
    return (
        counts.withColumn("_pcnt", F.sum("cnt").over(wp))
        .withColumn(
            "logp2",
            (F.floor(F.log2("cnt")) - F.floor(F.log2("_pcnt"))).cast("int"),
        )
        .drop("_pcnt")
        .orderBy(F.col("cnt").desc(), "w1", "w2")
        .limit(vocab_size)
    )


def bigram_logprob_score(
    df: DataFrame,
    bigram_vocab: DataFrame,
    unigram_vocab: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    backoff_logp2: int = -4,
    oov_logp2: int = -30,
) -> DataFrame:
    """Score documents by average conditional bigram log2-likelihood
    with stupid-backoff (Brants et al. 2007, integer-quantized): known
    bigram → its logp2; unknown bigram but known w2 unigram → unigram
    logp2 + `backoff_logp2` (backoff weight 2^-4 ≈ 0.0625); else the
    `oov_logp2` floor. Output (id_col, n_bigrams, logp2_sum, avg_logp2);
    docs with <2 words have no bigrams and drop out (score undefined).
    All arithmetic before the final division is exact integers.

    Scale: both vocab tables are top-K-bounded → broadcast hash joins;
    the corpus explodes map-side and re-aggregates with ONE groupBy(id)
    shuffle — same topology as `unigram_logprob_score`."""
    bv = F.broadcast(
        bigram_vocab.select("w1", "w2", F.col("logp2").alias("_lp_bi"))
    )
    uv = F.broadcast(
        unigram_vocab.select(F.col("word").alias("w2"), F.col("logp2").alias("_lp_uni"))
    )
    bg = _doc_bigrams(df, id_col, text_col)
    scored = (
        bg.join(bv, ["w1", "w2"], "left")
        .join(uv, "w2", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(
                F.coalesce(
                    F.col("_lp_bi"),
                    F.col("_lp_uni") + F.lit(backoff_logp2),
                    F.lit(oov_logp2),
                )
            ).alias("logp2_sum"),
        )
    )
    return scored.withColumn(
        "avg_logp2", F.round(F.col("logp2_sum") / F.col("n_bigrams"), 4)
    )


# ---------------------------------------------------------------------------
# Semantic dedup (SemDeDup-style: cluster embeddings, drop near-dups within)
# ---------------------------------------------------------------------------


def semantic_dedup(
    df: DataFrame,
    centroids: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.92,
    max_bucket: int = 1000,
    mode: str = "flag",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): coarse-cluster the
    embedding space, then inside each cluster drop every vector that has
    a cosine-similar neighbor, keeping one deterministic survivor. Drop
    rule: a row is a semantic duplicate iff a SMALLER-id row in the same
    cluster has cosine >= threshold (greedy-by-id — the paper keeps the
    point closest to the centroid; min-id is the engine-reproducible
    stand-in, same dedup rate).

    Scale topology (the whole point of clustering first):
      * centroid assignment is a broadcast scan (`ivf_assign`) — the
        corpus never shuffles to be clustered;
      * the pairwise check is confined WITHIN clusters: `_star_pairs`
        over the cluster id, so work per reducer is O(cluster²) with
        clusters sized ~N/sqrt(N) at production centroid counts, never
        O(N²) global; clusters above `max_bucket` star-pair against
        their min-id representative, so identical vectors all drop to it.

    mode='flag' returns df + (cluster, semantic_dup); mode='drop' keeps
    survivors only, original columns.
    """
    if mode not in ("flag", "drop"):
        raise ValueError(f"mode must be 'flag' or 'drop', got {mode!r}")
    assign = ivf_assign(df, centroids, id_col=id_col, vec_col=vec_col, nprobe=1)
    ids = assign.select(F.col(id_col).alias("_id"), "bucket")
    banded, cand = _star_pairs(ids, ("bucket",), max_bucket)
    vecs = df.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
    dup_ids = _cosine_verified(cand, vecs, threshold).select(
        F.col("doc_b").alias("_dup_id")
    )
    if mode == "drop":
        # drop mode discards the cluster column, so the corpus never
        # joins back to the assignment at all — one anti-join against
        # the (typically tiny, AQE-broadcastable) duplicate-id set, and
        # no distinct (anti-join semantics ignore duplicates)
        return df.join(
            dup_ids, F.col(id_col) == F.col("_dup_id"), "left_anti"
        )
    # flag mode: source the cluster from the SAME banded subtree the
    # pair join reads, so AQE reuses the bucket exchange instead of
    # recomputing the centroid assignment a second time
    out = df.join(
        banded.select(F.col("_id").alias(id_col), F.col("bucket").alias("cluster")),
        id_col,
    ).join(dup_ids.distinct(), F.col(id_col) == F.col("_dup_id"), "left")
    return out.withColumn("semantic_dup", F.col("_dup_id").isNotNull()).drop("_dup_id")


# ---------------------------------------------------------------------------
# Bloom-filter decontamination (fixed-size broadcast, eval set any size)
# ---------------------------------------------------------------------------

# k independent double-hash parameters for Bloom bit positions:
# pos_i = (a_i * h + b_i) mod m_bits, h = portable_hash32(gram)
BLOOM_AB = [(3, 7), (5, 11), (7, 17)]
BLOOM_WORD_BITS = 32  # bits per bitmap word (int64-safe: values < 2^32)


def bloom_bit_positions(h: Column, m_bits: int, k: int = 3) -> list[Column]:
    """k Bloom bit positions for a 32-bit gram hash (pure column exprs)."""
    return [
        F.pmod(F.lit(a) * h + F.lit(b), F.lit(m_bits)).cast("int")
        for a, b in BLOOM_AB[:k]
    ]


def build_gram_bloom(
    benchmark: DataFrame,
    *,
    text_col: str = "text",
    n: int = 5,
    m_bits: int = 65536,
    k: int = 3,
) -> list[int]:
    """Build a Bloom bitmap (list of m_bits/32 int words) over the
    benchmark's distinct word n-gram hashes.

    The driver-side collect is of BIT POSITIONS (≤ distinct_grams × k,
    and the whole point is the eval set is dictionary-sized) — the
    bitmap it produces is FIXED-SIZE (m_bits/8 bytes) no matter how the
    eval set grows, unlike `decontaminate`'s exact broadcast set. At
    m_bits=2^26 the broadcast is 8 MB for eval sets of any size.
    """
    if m_bits % BLOOM_WORD_BITS != 0:
        raise ValueError("m_bits must be a multiple of 32")
    grams = benchmark.select(
        F.explode(shingle_hashes(F.col(text_col), n=n)).alias("_g")
    ).distinct()
    pos_rows = (
        grams.select(
            F.explode(F.array(*bloom_bit_positions(F.col("_g"), m_bits, k))).alias("_p")
        )
        .distinct()
        .collect()
    )
    words = [0] * (m_bits // BLOOM_WORD_BITS)
    for r in pos_rows:
        p = r["_p"]
        words[p // BLOOM_WORD_BITS] |= 1 << (p % BLOOM_WORD_BITS)
    return words


def bloom_decontaminate(
    df: DataFrame,
    bloom_words: list[int],
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    m_bits: int = 65536,
    k: int = 3,
) -> DataFrame:
    """Flag training documents whose word n-grams MIGHT appear in the
    eval set, via a broadcast Bloom bitmap from `build_gram_bloom`.

    Deterministic false positives, zero false negatives: use as the
    cheap first pass at 100 TB (corpus scanned once, ZERO shuffle, the
    broadcast is fixed-size), then run exact `decontaminate` on the
    flagged survivors only. Output: df + (might_contaminated boolean,
    n_bloom_hits int — count of gram positions that fully hit).
    """
    lit_words = F.lit(bloom_words)
    # shiftleft() takes a literal shift amount only — index a 32-entry
    # power-of-two literal array by (pos mod 32) instead
    lit_bits = F.lit([1 << i for i in range(BLOOM_WORD_BITS)])

    def _hit(h: Column) -> Column:
        cond = F.lit(True)
        for p in bloom_bit_positions(h, m_bits, k):
            word = F.element_at(lit_words, (p / BLOOM_WORD_BITS).cast("int") + 1)
            bit = F.element_at(lit_bits, F.pmod(p, F.lit(BLOOM_WORD_BITS)) + 1)
            cond = cond & (word.bitwiseAND(bit) != 0)
        return cond

    hits = F.size(F.filter(shingle_hashes(F.col(text_col), n=n), _hit))
    return df.withColumn("n_bloom_hits", hits).withColumn(
        "might_contaminated", F.col("n_bloom_hits") > 0
    )


# ---------------------------------------------------------------------------
# IVF-PQ ANN (product quantization: codes travel, vectors never shuffle)
# ---------------------------------------------------------------------------


def pq_codebook(
    m_sub: int, k_codes: int, sub_dim: int
) -> list[list[list[float]]]:
    """Deterministic PQ codebooks: cb[m][j][d] on a small rational lattice
    (denominator 8 → exact dyadic doubles, reproducible in any engine).
    Production would train these with k-means per subspace; the lattice
    keeps the gate cross-engine-exact with the same join/score topology.
    """
    return [
        [
            [(((m * 31 + j * 17 + d * 13) % 19) - 9) / 8.0 for d in range(sub_dim)]
            for j in range(k_codes)
        ]
        for m in range(m_sub)
    ]




def pq_encode(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    m_sub: int = 4,
    k_codes: int = 16,
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """Product-quantize vectors: split into `m_sub` subspaces, assign each
    slice to its nearest codebook entry (squared L2, first-min tie break).
    Output: (id_col, codes array<int>) — the M-byte sketch that REPLACES
    the D-float vector everywhere downstream.

    Pure column expressions, zero shuffle: at 10^12 vectors this is a
    single map-side scan writing a table 64x narrower than the input
    (64 dims x 4B floats → 4 codes). Encoding distances are rounded to
    6 dp before the argmin so the argmin is engine-reproducible.
    """
    if dim % m_sub != 0:
        raise ValueError("dim must divide evenly into m_sub subspaces")
    sub_dim = dim // m_sub
    cb = pq_codebook(m_sub, k_codes, sub_dim)
    codes = []
    for m in range(m_sub):
        # unrolled scalar math at absolute offsets (codegen; identical
        # fold to the zip_with form and the DuckDB oracle)
        dists = F.array(
            *[
                F.round(
                    _lit_l2sq_unrolled(F.col(vec_col), cb[m][j], offset=m * sub_dim),
                    6,
                )
                for j in range(k_codes)
            ]
        )
        codes.append(
            (F.array_position(dists, F.array_min(dists)) - 1).cast("int")
        )
    # `keep` lets a caller that already derived per-row columns (e.g. the
    # IVF bucket) carry them through the encode instead of re-joining the
    # codes back on id — a map-side projection either way
    return df.select(
        F.col(id_col), *[F.col(c) for c in keep], F.array(*codes).alias("codes")
    )


def ann_ivf_pq(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    m_sub: int = 4,
    k_codes: int = 16,
    k: int = 5,
    nprobe: int = 2,
    exclude_self: bool = True,
) -> DataFrame:
    """IVF-PQ approximate nearest neighbors: IVF coarse lists bound the
    candidate set, PQ codes replace corpus vectors in the scoring join.
    Output: (q_id, c_id, score_pq, rank) — `score_pq` is the asymmetric
    (ADC) approximate dot product sum_m <q_sub_m, cb[m][code_m]>.

    Why this is the 100 TB shape (Jégou et al., "Product Quantization
    for Nearest Neighbor Search", TPAMI 2011):
      * the corpus side of the bucket equi-join carries (id, 4 int
        codes) — 64x fewer shuffle bytes than shipping 64-float vectors
        (`ann_ivf` ships vectors; at 10^12 rows that difference is the
        job);
      * scoring is codebook lookups against the query slice — the
        corpus vector is NEVER read after encode, so the big table can
        be stored codes-only;
      * recall is tunable with nprobe/k_codes exactly as in FAISS'
        IVF-PQ; re-ranking survivors with exact vectors is a k-sized
        join afterwards if needed.
    """
    if dim % m_sub != 0:
        raise ValueError("dim must divide evenly into m_sub subspaces")
    sub_dim = dim // m_sub
    cb = pq_codebook(m_sub, k_codes, sub_dim)
    # encode directly on the assignment output (vec rides its exchange
    # anyway) — one corpus scan and ZERO corpus-side join, instead of
    # joining two separate derivations of the same scan back on id
    cbuck = ivf_assign(corpus, centroids, id_col=id_col, vec_col=vec_col, nprobe=1)
    cside = pq_encode(
        cbuck,
        id_col=id_col,
        vec_col=vec_col,
        dim=dim,
        m_sub=m_sub,
        k_codes=k_codes,
        keep=("bucket",),
    ).select(F.col(id_col).alias("c_id"), "bucket", "codes")
    qb = ivf_assign(queries, centroids, id_col=id_col, vec_col=vec_col, nprobe=nprobe)
    qside = qb.select(F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec"), "bucket")
    scored = cside.join(qside, "bucket")
    if exclude_self:
        scored = scored.where(F.col("q_id") != F.col("c_id"))
    # ADC score: per subspace, dot(query slice, codebook[code]) — the
    # codebook is a literal nested array, element_at picks the code row.
    terms = []
    for m in range(m_sub):
        qsub = F.slice(F.col("q_vec"), m * sub_dim + 1, sub_dim)
        cb_m = F.array(
            *[F.array(*[F.lit(v) for v in cb[m][j]]) for j in range(k_codes)]
        )
        code_vec = F.element_at(cb_m, F.element_at(F.col("codes"), m + 1) + 1)
        terms.append(
            F.round(
                F.aggregate(
                    F.zip_with(qsub, code_vec, lambda a, b: a.cast("double") * b),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ),
                6,
            )
        )
    score = F.round(sum(terms[1:], terms[0]), 6)
    return _top_k(scored.withColumn("score_pq", score), "score_pq", k, "q_id", "c_id")


# ---------------------------------------------------------------------------
# Corpus curation: deterministic sampling / classifier scoring / sharding
# ---------------------------------------------------------------------------


def stratified_sample(
    df: DataFrame,
    rates: dict[str, float],
    *,
    key_col: str = "doc_id",
    stratum_col: str = "lang",
    default_rate: float = 0.0,
    seed: str = "strat",
    scale: int = 1_000_000,
) -> DataFrame:
    """Deterministic per-stratum downsampling: keep a row iff
    `portable_hash32(key ':' seed) % scale < rate(stratum) * scale`.

    The training-mix workhorse (downweight a dominant language / crawl
    source without a shuffle): the rate table compiles to a plan-time
    CASE over literals, so the whole op is ONE pushdown-able filter —
    zero shuffle, zero extra scan, and re-running with the same seed
    reproduces the exact sample on any engine (md5-derived hash). A
    different `seed` yields an independent sample; overlapping seeds
    compose (p(keep both) = p1·p2) the way repeated Bernoulli thinning
    should. For thousands of strata pass the rates as a broadcast-join
    table instead; the literal CASE is for the common few-strata case.
    Reference intent: logstash-filter-drop §percentage, made per-stratum
    and collision-free."""
    thr_expr = None
    for strat, rate in sorted(rates.items()):
        t = F.lit(int(round(rate * scale)))
        cond = F.col(stratum_col) == F.lit(strat)
        thr_expr = F.when(cond, t) if thr_expr is None else thr_expr.when(cond, t)
    default = F.lit(int(round(default_rate * scale)))
    thr = default if thr_expr is None else thr_expr.otherwise(default)
    h = portable_hash32(
        F.concat(F.col(key_col).cast("string"), F.lit(":" + seed))
    )
    return df.where(F.pmod(h, F.lit(scale)) < thr)


#: Default linear quality-classifier weights over `quality_features`
#: outputs. Dyadic rationals (k/2^n) so weight*feature is one exact IEEE
#: multiply in every engine.
CLF_WEIGHTS = {
    "len_norm": 2.0,
    "stop_ratio": 1.5,
    "punct_ratio": -4.0,
    "quality": 1.0,
}


def quality_classifier(
    df: DataFrame,
    *,
    weights: dict[str, float] | None = None,
    bias: float = -1.25,
    text_col: str = "text",
    threshold: float = 0.0,
) -> DataFrame:
    """Linear quality classifier over `quality_features` (the fasttext /
    DCLM-style keep-vs-drop model, re-expressed as a broadcastable
    literal weight vector): logit = bias + Σ w_f·x_f, keep = logit >
    threshold.

    Pure column expressions — zero shuffle, survives any scale; training
    happens offline and ships as literals (exactly how a 100 TB pass
    deploys a small linear/fasttext scorer). The sigmoid is deliberately
    NOT applied (transcendental, engine-dependent last ulp, monotone in
    the probability anyway) and neither is floating accumulation: a sum
    of 4dp-rounded features × decimal weights lands ON decimal rounding
    ties constantly, so float round-then-compare diverges across
    engines. Instead everything is integer-quantized — features to
    1e-4 units (exact: they ARE 4dp decimals), weights/threshold to
    1e-1 and bias to 1e-5 units (must be decimal-exact at that scale) —
    and the logit is exact BIGINT arithmetic: `clf_logit_q` in 1e-5
    units, `clf_logit` = that / 1e5 (one exact-input division).
    `len_norm` = min(1, n_words/64) (dyadic, so ×10000 has no float
    fuzz). Reference intent: quality scoring a la CCNet/Gopher,
    deployed Logstash-style as a stateless filter."""
    w = dict(CLF_WEIGHTS if weights is None else weights)
    for name, wt in w.items():
        if abs(wt * 10 - round(wt * 10)) > 1e-9:
            raise ValueError(f"weight {name}={wt}: must be a multiple of 0.1")
    feats = quality_features(F.col(text_col))
    feats["len_norm"] = F.least(
        F.lit(1.0), feats["n_words"].cast("double") / 64
    )
    logit_q = F.lit(int(round(bias * 100000)))
    for name in sorted(w):
        f_q = F.round(feats[name] * 10000).cast("long")
        logit_q = logit_q + f_q * F.lit(int(round(w[name] * 10)))
    return df.withColumn("clf_logit_q", logit_q).withColumn(
        "clf_logit", logit_q.cast("double") / 100000
    ).withColumn("clf_keep", logit_q > F.lit(int(round(threshold * 100000))))


def shard_assign(
    df: DataFrame,
    n_shards: int,
    *,
    key_col: str = "doc_id",
    seed: str = "shard",
    with_position: bool = True,
) -> DataFrame:
    """Deterministic global shuffle for training export: every row gets a
    `shard` in [0, n_shards) and a stable pseudo-random order within it.

    shard = portable_hash32(key ':' seed) % n_shards; the order key is an
    independent second hash (salt ':ord') so within-shard order shares no
    bits with the shard choice. `with_position=True` adds the 1-based
    `shard_pos` via row_number — ONE shuffle on `shard`. That bounds
    parallelism at n_shards, which is the point for export (one writer
    per output file); for n_shards << cores at 100 TB, instead write with
    `df.repartition(n_shards, "shard").sortWithinPartitions("shard_ord")`
    — identical order, full write parallelism, no window. Reference
    intent: the elasticsearch output's deterministic routing
    (logstash-output-elasticsearch §routing), generalized to shard files
    for training-data loaders that need reshuffle-free, reproducible
    epoch order."""
    key = F.col(key_col).cast("string")
    h = portable_hash32(F.concat(key, F.lit(":" + seed)))
    out = df.withColumn("shard", F.pmod(h, F.lit(n_shards)).cast("int")).withColumn(
        "shard_ord", portable_hash32(F.concat(key, F.lit(":" + seed + ":ord")))
    )
    if with_position:
        w = Window.partitionBy("shard").orderBy(
            F.col("shard_ord").asc(), F.col(key_col).asc()
        )
        out = out.withColumn("shard_pos", F.row_number().over(w))
    return out


# ---------------------------------------------------------------------------
# Keyword blocklist filter (C4-style "bad words" rule)
# ---------------------------------------------------------------------------


def keyword_blocklist(
    df: DataFrame,
    words: list[str],
    *,
    text_col: str = "text",
    target: str = "n_blocked",
    flag: str = "blocked",
    lowercase: bool = True,
) -> DataFrame:
    """C4-style keyword blocklist (Raffel et al. 2020 §2.2 — pages
    containing any word from a fixed blocklist are dropped): counts
    DISTINCT blocklisted words present and flags the document.

    Small lists (the common case, 10^2-10^4 words) compile to one
    `array_intersect` against a literal array — pure column algebra,
    zero shuffle, composable with scan pruning when used as a filter.
    For very large lists prefer a broadcast join on exploded words
    (same shape as `host_blocklist_filter`). Matching is whole-word
    over whitespace-run tokens (C4's rule — tabs/newlines are word
    boundaries too), case-folded by default."""
    w = F.split(F.coalesce(F.col(text_col), F.lit("")), r"\s+")
    if lowercase:
        w = F.transform(w, F.lower)
        words = sorted({x.lower() for x in words})
    else:
        words = sorted(set(words))
    hits = F.array_intersect(
        F.array_distinct(w), F.array(*[F.lit(x) for x in words])
    )
    return df.withColumn(target, F.size(hits)).withColumn(
        flag, F.size(hits) > 0
    )


# ---------------------------------------------------------------------------
# Cross-document boilerplate line removal (CCNet / RefinedWeb-style)
# ---------------------------------------------------------------------------


def _split_lines(text_col: str, line_sep: str):
    """Trimmed non-empty lines of `text_col`, split on the LITERAL
    `line_sep` (quoted with \\Q..\\E so regex metachars like '|' split
    and rejoin identically)."""
    return F.filter(
        F.transform(
            F.split(
                F.coalesce(F.col(text_col), F.lit("")),
                "\\Q" + line_sep + "\\E",
            ),
            lambda x: F.trim(x),
        ),
        lambda x: x != "",
    )


def line_doc_freq(
    df: DataFrame,
    *,
    text_col: str = "text",
    line_sep: str = "\n",
) -> DataFrame:
    """Document frequency per distinct line: (line_hash, line, df_count).

    The CCNet/RefinedWeb boilerplate signal — lines repeated across many
    documents (cookie banners, nav menus, SUBSCRIBE NOW) are template
    text, not content. Lines are trimmed; per-document duplicates count
    once (array_distinct BEFORE the explode, so a doc repeating its own
    line doesn't inflate df). ONE explode + groupBy(line_hash) with
    map-side partial aggregation.
    """
    ex = df.select(F.explode(F.array_distinct(_split_lines(text_col, line_sep))).alias("line"))
    return (
        ex.groupBy("line")
        .agg(F.count(F.lit(1)).alias("df_count"))
        .select(F.xxhash64("line").alias("line_hash"), "line", "df_count")
    )


def remove_boilerplate_lines(
    df: DataFrame,
    freq: DataFrame,
    *,
    threshold: int,
    text_col: str = "text",
    line_sep: str = "\n",
    target: str = "text_clean",
) -> DataFrame:
    """Strip lines whose corpus document-frequency ≥ `threshold`
    (`freq` = a `line_doc_freq` output, typically persisted). Adds
    `target` (the re-joined text, original line order) and `n_removed`.

    Scale topology: the boilerplate set (df_count ≥ threshold) is small
    BY DEFINITION — template lines, not content — so it broadcasts and
    the corpus never shuffles: membership is one broadcast LEFT SEMI
    probe folded into an array_except-style filter per row. Line order
    is preserved because the filter runs array-locally per document.
    """
    boiler = F.broadcast(
        freq.where(F.col("df_count") >= threshold).select(
            F.col("line").alias("_bl_line")
        )
    )
    lines = _split_lines(text_col, line_sep)
    # collect the broadcast side into an array once per plan via a
    # scalar subquery-style crossJoin (1 row), then array-local filter —
    # the corpus side stays map-only
    boiler_arr = boiler.agg(
        F.collect_list("_bl_line").alias("_bl_set")
    )
    out = df.crossJoin(F.broadcast(boiler_arr))
    kept = F.filter(lines, lambda x: ~F.array_contains(F.col("_bl_set"), x))
    return (
        out.withColumn(target, F.concat_ws(line_sep, kept))
        .withColumn("n_removed", F.size(lines) - F.size(kept))
        .drop("_bl_set")
    )


# ---------------------------------------------------------------------------
# C4 / FineWeb line-level quality rules
# ---------------------------------------------------------------------------

_TERMINAL_PUNCT = (".", "!", "?", '"')
_BULLET_PREFIXES = ("- ", "* ", "• ")


def line_quality_rules(
    df: DataFrame,
    text_col: str = "text",
    line_sep: str = "\n",
) -> DataFrame:
    """FineWeb/C4-style per-LINE quality ratios, computed array-locally
    per document (zero shuffle — the corpus never moves):

    * `frac_term_punct` — fraction of lines ending in terminal
      punctuation (. ! ? ") — C4 keeps only such lines (Raffel et al.
      2020 §2.2); FineWeb thresholds the ratio.
    * `frac_bullet` — fraction of bullet-ish lines (-, *, bullet dot):
      Gopher drops docs with >90% bullet lines.
    * `frac_short` — fraction of lines with < 3 words.
    * `n_lines` / `n_words` — exact integers for downstream rationals.
    * `has_lorem` / `has_curly` — C4 document kill-rules (placeholder
      text, code braces).

    Ratios are round(x, 4) of an exact-int division — bit-reproducible
    in any engine.
    """
    lines = _split_lines(text_col, line_sep)
    n_lines = F.size(lines)
    term = F.size(
        F.filter(
            lines,
            lambda x: F.substring(x, -1, 1).isin(*_TERMINAL_PUNCT),
        )
    )
    bullet = F.size(
        F.filter(
            lines,
            lambda x: F.substring(x, 1, 2).isin(*_BULLET_PREFIXES),
        )
    )
    short = F.size(
        F.filter(lines, lambda x: F.size(F.split(x, " ")) < 3)
    )
    n_words = F.aggregate(
        F.transform(lines, lambda x: F.size(F.split(x, " "))),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    low = F.lower(F.col(text_col))
    safe = F.greatest(n_lines, F.lit(1)).cast("double")
    return (
        df.withColumn("n_lines", n_lines.cast("int"))
        .withColumn("n_words", n_words.cast("int"))
        .withColumn("frac_term_punct", F.round(term.cast("double") / safe, 4))
        .withColumn("frac_bullet", F.round(bullet.cast("double") / safe, 4))
        .withColumn("frac_short", F.round(short.cast("double") / safe, 4))
        .withColumn("has_lorem", low.contains("lorem ipsum"))
        .withColumn("has_curly", F.col(text_col).contains("{"))
    )


def c4_line_filter(
    df: DataFrame,
    text_col: str = "text",
    target: str = "text_clean",
    line_sep: str = "\n",
    min_words: int = 5,
    min_lines: int = 3,
) -> DataFrame:
    """The C4 cleaning rule proper (Raffel et al. 2020 §2.2), re-expressed
    as pure array-local column algebra: KEEP a line only if it ends in
    terminal punctuation AND has >= `min_words` words; then KEEP the
    document only if >= `min_lines` lines survive and it contains
    neither 'lorem ipsum' nor '{'. Adds `target` (kept lines re-joined,
    original order), `n_kept`, and `doc_keep` — zero shuffle, and the
    keep-filter composes with parquet pushdown when `doc_keep` gates a
    downstream scan."""
    lines = _split_lines(text_col, line_sep)
    kept = F.filter(
        lines,
        lambda x: F.substring(x, -1, 1).isin(*_TERMINAL_PUNCT)
        & (F.size(F.split(x, " ")) >= min_words),
    )
    low = F.lower(F.col(text_col))
    doc_keep = (
        (F.size(kept) >= min_lines)
        & ~low.contains("lorem ipsum")
        & ~F.col(text_col).contains("{")
    )
    return (
        df.withColumn(target, F.concat_ws(line_sep, kept))
        .withColumn("n_kept", F.size(kept).cast("int"))
        .withColumn("doc_keep", doc_keep)
    )


# ---------------------------------------------------------------------------
# Embedding-cosine eval-set decontamination
# ---------------------------------------------------------------------------


def embed_decontam(
    corpus: DataFrame,
    eval_df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_eval: int = 10_000,
) -> DataFrame:
    """Benchmark decontamination by embedding similarity: flag corpus
    rows whose cosine to ANY eval-set vector reaches `threshold`
    (the embedding-space complement of the n-gram `decontaminate` op).

    Scale topology: an eval set is SMALL BY DEFINITION (benchmark
    suites are 10^3-10^5 items), so — like `quality_classifier`'s
    weights and DSIR's bucket table — it collapses into a plan-time
    literal of unit-normalized directions. The corpus NEVER shuffles
    and no join is scheduled: each row folds `K` dot products in one
    map-only projection. At 10^5+ eval items, swap the literal for a
    broadcast crossJoin + groupBy(id) max (one narrow shuffle).

    IEEE parity: directions are normalized driver-side with the same
    left-fold + correctly-rounded sqrt/div the SQL oracle uses, so both
    engines see bit-identical literals and produce bit-identical
    cosines (rounded to 6 dp on output as usual).
    """
    import math  # noqa: PLC0415

    rows = (
        eval_df.select(F.col(id_col).alias("_eid"), F.col(vec_col).alias("_v"))
        .orderBy("_eid")
        .limit(max_eval + 1)
        .collect()
    )
    if len(rows) > max_eval:
        raise ValueError(
            f"eval set exceeds max_eval={max_eval}; use the broadcast-join form"
        )
    units = []
    for r in rows:
        vec = [float(x) for x in r["_v"]]
        acc = 0.0  # same left fold as list_reduce(list_prepend(0.0, ...))
        for x in vec:
            acc = acc + x * x
        norm = math.sqrt(acc)
        units.append([x / norm for x in vec])
    lit_units = F.array(
        *[
            F.array(*[F.lit(x) for x in u]).cast("array<double>")
            for u in units
        ]
    )
    cnorm = l2norm(F.col(vec_col))
    cos_list = F.transform(
        lit_units,
        lambda u: F.aggregate(
            F.zip_with(
                F.col(vec_col), u, lambda a, b: a.cast("double") * b
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        / cnorm,
    )
    max_cos = F.array_max(cos_list)
    n_hits = F.size(F.filter(cos_list, lambda c: c >= F.lit(threshold)))
    return (
        corpus.withColumn("max_eval_cos", F.round(max_cos, 6))
        .withColumn("n_contam_hits", n_hits.cast("int"))
        .withColumn("contaminated", max_cos >= F.lit(threshold))
    )


# ---------------------------------------------------------------------------
# Deterministic exact-k per-group reservoir sample
# ---------------------------------------------------------------------------


def reservoir_sample_k(
    df: DataFrame,
    k: int,
    *,
    groups: Sequence[str] = ("lang",),
    key_col: str = "doc_id",
    seed: str = "res",
) -> DataFrame:
    """Exact-k uniform without-replacement sample per group, fully
    deterministic and engine-portable: rank rows within each group by
    `portable_hash32(key ':' seed)` (ties on the key itself) and keep
    the first k. Equivalent to reservoir sampling / A-Res with uniform
    weights — every k-subset of a group is equally likely over the hash
    family — but stateless, so re-runs and other engines reproduce the
    identical sample (unlike Spark's `sampleBy`, which is seed- and
    partitioning-dependent and only approximates the rate).

    Complements `stratified_sample` (rate-based, zero-shuffle): use this
    when the contract is an exact COUNT per stratum (eval splits, human
    review batches, per-language probes). Cost: ONE shuffle on `groups`.
    At 100 TB with huge groups, pre-thin first — compose
    `stratified_sample` at a rate that leaves ~10k·k candidates, then
    rank those; membership stays deterministic because both stages are
    pure hash predicates. Reference intent: logstash-filter-drop
    §percentage / logstash-filter-sample, made exact-count per stratum.
    """
    h = portable_hash32(
        F.concat(F.col(key_col).cast("string"), F.lit(":" + seed))
    )
    w = Window.partitionBy(*groups).orderBy(
        h.asc(), F.col(key_col).asc()
    )
    return (
        df.withColumn("sample_rank", F.row_number().over(w))
        .where(F.col("sample_rank") <= k)
    )


# ---------------------------------------------------------------------------
# PMI phrase mining (word2phrase)
# ---------------------------------------------------------------------------


def pmi_phrases(
    df: DataFrame,
    *,
    text_col: str = "text",
    min_count: int = 2,
    delta: int = 1,
    top_k: int = 100,
) -> DataFrame:
    """Collocation / phrase mining via the word2phrase score (Mikolov et
    al. 2013 §4, "Distributed Representations of Words and Phrases"):
    ``score(a,b) = (cnt(ab) − δ) · N / (cnt(a) · cnt(b))`` — bigrams
    whose co-occurrence beats the independence expectation become
    phrase candidates (the tool that turns "new york" into "new_york"
    before LLM/embedding training).

    Output: top-`top_k` (w1, w2, cnt_ab, cnt_a, cnt_b, pmi_q, score)
    where `pmi_q` is the integer bit-length-quantized log2 PMI
    (floor(log2(cnt_ab−δ)) + floor(log2(N)) − floor(log2(cnt_a)) −
    floor(log2(cnt_b))) — exact integer arithmetic that replays
    bit-for-bit in any engine — and `score` is the float word2phrase
    ratio rounded to 4dp for human ranking. Ordering is the fully
    deterministic integer tuple (pmi_q DESC, cnt_ab DESC, w1, w2).

    Scale topology: bigram counts = ONE array-local pairing explode +
    groupBy(w1,w2) with map-side partials; the `min_count` df-cut runs
    BEFORE the unigram joins so the singleton tail (the vast majority
    of bigrams at web scale) never shuffles twice; unigram counts join
    on word keys — work ∝ vocabulary, not corpus; the final cut is a
    top-K TakeOrdered, never a full sort. Products like cnt·N are never
    formed at full precision (log2 quantization), so nothing overflows
    int64 even at 10^12 tokens."""
    src = df.select(F.lit(1).alias("_one"), text_col)
    bg = _doc_bigrams(src, "_one", text_col)
    bcounts = (
        bg.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("cnt_ab"))
        .where(F.col("cnt_ab") >= min_count)
        .where(F.col("cnt_ab") > delta)
    )
    w = F.filter(words_of(F.col(text_col)), lambda x: x != "")
    uni = (
        df.select(F.explode(w).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    total = uni.agg(F.sum("cnt").alias("_n")).select(
        F.floor(F.log2("_n")).cast("bigint").alias("_log_n"), "_n"
    )
    cand = (
        bcounts.join(
            uni.select(F.col("word").alias("w1"), F.col("cnt").alias("cnt_a")),
            "w1",
        )
        .join(
            uni.select(F.col("word").alias("w2"), F.col("cnt").alias("cnt_b")),
            "w2",
        )
        .crossJoin(F.broadcast(total))
    )
    scored = cand.select(
        "w1", "w2", "cnt_ab", "cnt_a", "cnt_b",
        (
            F.floor(F.log2(F.col("cnt_ab") - delta))
            + F.col("_log_n")
            - F.floor(F.log2("cnt_a"))
            - F.floor(F.log2("cnt_b"))
        ).cast("int").alias("pmi_q"),
        F.round(
            (F.col("cnt_ab") - delta).cast("double")
            * F.col("_n").cast("double")
            / (F.col("cnt_a").cast("double") * F.col("cnt_b").cast("double")),
            4,
        ).alias("score"),
    )
    return scored.orderBy(
        F.col("pmi_q").desc(), F.col("cnt_ab").desc(), "w1", "w2"
    ).limit(top_k)


# ---------------------------------------------------------------------------
# FIM (fill-in-the-middle) training transform over token arrays
# ---------------------------------------------------------------------------


def fim_transform(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    rate_pct: int = 50,
    pre_tok: int = 50281,
    mid_tok: int = 50282,
    suf_tok: int = 50283,
    seed: str = "fim",
    min_len: int = 4,
) -> DataFrame:
    """Fill-in-the-middle document-level transform (Bavarian et al. 2022,
    "Efficient Training of Language Models to Fill in the Middle"): for
    a deterministic `rate_pct`% of documents, split the token sequence
    at two hash-chosen interior points and emit the PSM reordering
    ``[PRE] prefix [SUF] suffix [MID] middle`` so the LM learns infilling;
    the rest pass through unchanged (the paper's joint objective).

    Everything is derived from md5 hashes of (id, seed) — reproducible
    across engines, retries, and epochs with different `seed` values;
    no RNG state anywhere. Cut points c1,c2 ∈ [1, n−1] (uniform via
    hash mod), lo=min, hi=max; equal cuts give an empty middle (the
    paper keeps these — teaches the model empty infill). Docs shorter
    than `min_len` tokens never transform.

    Pure column algebra — slice/concat/size only, ZERO shuffle, zero
    UDF: at 10^12 sequences this is a map-only pass that AQE never has
    to think about. Output: id, tokens (possibly reordered, 3 sentinels
    longer), n_tok, fim_applied."""
    i = F.col(id_col).cast("string")
    toks = F.col(tokens_col)
    n = F.size(toks)
    h1 = portable_hash32(F.concat(i, F.lit(f":{seed}:a")))
    h2 = portable_hash32(F.concat(i, F.lit(f":{seed}:b")))
    hsel = portable_hash32(F.concat(i, F.lit(f":{seed}:sel")))
    selected = (hsel % 100 < rate_pct) & (n >= min_len)
    # greatest(,1) guards the modulus for 0/1-token docs (they are never
    # selected, but both when-branches evaluate — ANSI %0 would throw)
    span = F.greatest(n - 1, F.lit(1))
    c1 = (h1 % span + 1).cast("int")
    c2 = (h2 % span + 1).cast("int")
    lo, hi = F.least(c1, c2), F.greatest(c1, c2)
    fim = F.concat(
        F.array(F.lit(pre_tok).cast("int")),
        F.slice(toks, 1, lo),
        F.array(F.lit(suf_tok).cast("int")),
        F.slice(toks, hi + 1, n - hi),
        F.array(F.lit(mid_tok).cast("int")),
        F.slice(toks, lo + 1, hi - lo),
    )
    out_toks = F.when(selected, fim).otherwise(toks)
    return df.select(
        id_col,
        out_toks.alias(tokens_col),
        F.size(out_toks).cast("int").alias("n_tok"),
        selected.alias("fim_applied"),
    )


# ---------------------------------------------------------------------------
# T5/UL2 span-corruption (denoising) transform over token arrays
# ---------------------------------------------------------------------------


def span_corrupt(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    rate_pct: int = 15,
    span_len: int = 3,
    sentinel_base: int = 32099,
    max_spans: int = 100,
    seed: str = "spanc",
    min_len: int = 8,
) -> DataFrame:
    """T5-style span-corruption denoising transform (Raffel et al. 2020
    §3.1.4; the R-denoiser of UL2, Tay et al. 2022): replace ~`rate_pct`%
    of each document's tokens with sentinel markers and emit the
    (inputs, targets) pair — inputs = text with each corrupted span
    collapsed to one sentinel, targets = each sentinel followed by the
    span it replaced, closed by a final sentinel.

    Deterministic relational construction (no RNG state): the sequence
    is divided into k = max(1, min(n·rate/100/span_len, n/span_len,
    max_spans)) equal segments and ONE fixed-length span is placed per
    segment at an md5-chosen offset — spans can never overlap by
    construction (the standard segmented approximation of T5's
    mean-length-3 Poisson spans; span count still tracks rate·n).
    Sentinels descend from `sentinel_base` (T5's <extra_id_i> = 32099−i
    convention); the final target sentinel is sentinel_base−k.

    Pure column algebra — ONE flatten(transform(...)) per output, zero
    shuffle, zero UDF: a map-only pass at 10^12 sequences. Docs shorter
    than `min_len` (which must be ≥ span_len) pass through with empty
    targets and corrupted=false."""
    if min_len < span_len:
        raise ValueError("min_len must be >= span_len")
    ident = F.col(id_col).cast("string")
    t = F.col(tokens_col)
    n = F.size(t)
    # Spark `/` on ints is float div — floor() forces integer semantics
    k = F.greatest(
        F.lit(1),
        F.least(
            F.floor(n * rate_pct / F.lit(100 * span_len)),
            F.floor(n / F.lit(span_len)),
            F.lit(max_spans).cast("bigint"),
        ).cast("int"),
    )
    seg = F.floor(n / k).cast("int")
    eligible = n >= min_len
    # off ∈ [0, seg-span_len]; greatest(.,1) guards ineligible rows where
    # seg < span_len (both when-branches evaluate under ANSI)
    mod_base = F.greatest(seg - span_len + 1, F.lit(1))

    def _off(i: Column) -> Column:
        h = portable_hash32(
            F.concat(ident, F.lit(f":{seed}:"), i.cast("string"))
        )
        return (h % mod_base).cast("int")

    def _sentinel(i: Column) -> Column:
        return (F.lit(sentinel_base) - i).cast("int")

    idx = F.sequence(F.lit(0), k - 1)

    def _input_piece(i: Column) -> Column:
        off = _off(i)
        start = i * seg + off  # 0-based global span start
        end_i = F.when(i == k - 1, n).otherwise((i + 1) * seg)
        tail_len = F.greatest(end_i - start - span_len, F.lit(0))
        return F.concat(
            F.slice(t, i * seg + 1, off),
            F.array(_sentinel(i)),
            F.slice(t, start + span_len + 1, tail_len),
        )

    def _target_piece(i: Column) -> Column:
        off = _off(i)
        return F.concat(
            F.array(_sentinel(i)),
            F.slice(t, i * seg + off + 1, F.least(F.lit(span_len), n)),
        )

    inputs = F.flatten(F.transform(idx, _input_piece))
    targets = F.concat(
        F.flatten(F.transform(idx, _target_piece)),
        F.array((F.lit(sentinel_base) - k).cast("int")),
    )
    empty = F.array().cast("array<int>")
    out_inputs = F.when(eligible, inputs).otherwise(t)
    out_targets = F.when(eligible, targets).otherwise(empty)
    return df.select(
        id_col,
        out_inputs.alias("inputs"),
        out_targets.alias("targets"),
        F.size(out_inputs).cast("int").alias("n_input"),
        F.size(out_targets).cast("int").alias("n_target"),
        eligible.alias("corrupted"),
    )


# ---------------------------------------------------------------------------
# CCNet perplexity buckets (head / middle / tail)
# ---------------------------------------------------------------------------


def perplexity_buckets(
    df: DataFrame,
    *,
    score_col: str,
    group_cols: Sequence[str] = ("lang",),
    id_col: str = "doc_id",
    labels: Sequence[str] = ("head", "middle", "tail"),
    best_is_high: bool = True,
) -> DataFrame:
    """CCNet-style quality bucketing (Wenzek et al. 2020 §3: split each
    language's corpus into head/middle/tail by LM perplexity; most
    pipelines keep head+middle). Generic over any deterministic score —
    feed `unigram_logprob_score`/`bigram_logprob_score` output (there
    higher = better, the default ordering) or a raw perplexity with
    `best_is_high=False`.

    Exact-rank form: bucket = floor((rank−1)·B / group_count) with
    rank ordered by (score, id) — ties broken by id so the assignment
    is total and replayable bit-for-bit in any engine. ONE shuffle (the
    per-group window sort). At 10^12 docs prefer the zero-shuffle
    variant `perplexity_bucket_by_cutoffs` below with cutoffs estimated
    once from `sketch.quantile_sketch` (mergeable, one keyed pass) —
    exact ranks force a full per-group sort that is only worth it when
    the grouping column already partitions storage."""
    from pyspark.sql import Window  # noqa: PLC0415

    b = len(labels)
    score = F.col(score_col)
    order = [score.desc() if best_is_high else score.asc(), F.col(id_col)]
    w = Window.partitionBy(*group_cols).orderBy(*order)
    wc = Window.partitionBy(*group_cols)
    rank = F.row_number().over(w)
    cnt = F.count(F.lit(1)).over(wc)
    idx = F.floor((rank - 1) * b / cnt).cast("int")
    lab = F.element_at(F.array(*[F.lit(x) for x in labels]), idx + 1)
    return df.withColumn("bucket_idx", idx).withColumn("bucket", lab)


def perplexity_bucket_by_cutoffs(
    df: DataFrame,
    *,
    score_col: str,
    group_col: str = "lang",
    cutoffs: dict[str, Sequence[int]] | None = None,
    labels: Sequence[str] = ("head", "middle", "tail"),
    best_is_high: bool = True,
) -> DataFrame:
    """Zero-shuffle bucket assignment against precomputed per-group
    score cutoffs (descending when best_is_high) — the 100 TB path:
    estimate cutoffs once with `sketch.quantile_sketch` (or the exact
    window on a sample shard), fold them into this plan-time literal
    CASE, and the corpus never shuffles. `cutoffs[g]` holds B−1
    boundaries; a group without cutoffs falls into the last bucket of
    index 0 (everything 'head') so new languages fail open."""
    score = F.col(score_col)
    expr = F.lit(0)
    for g, bounds in (cutoffs or {}).items():
        idx = F.lit(0)
        for j, bound in enumerate(bounds):
            past = score < F.lit(bound) if best_is_high else score > F.lit(bound)
            idx = F.when(past, F.lit(j + 1)).otherwise(idx)
        expr = F.when(F.col(group_col) == g, idx).otherwise(expr)
    lab = F.element_at(
        F.array(*[F.lit(x) for x in labels]), expr.cast("int") + 1
    )
    return df.withColumn("bucket_idx", expr.cast("int")).withColumn(
        "bucket", lab
    )


# ---------------------------------------------------------------------------
# Tokenizer fertility / compression-ratio quality signal
# ---------------------------------------------------------------------------


def tokenizer_fertility(
    df: DataFrame,
    *,
    text_col: str = "text",
    tokens_col: str = "tokens",
    min_chars_per_tok_bp: int = 20000,
    max_toks_per_word_bp: int = 30000,
) -> DataFrame:
    """Tokenizer-compression quality signal (the bytes-per-token filter
    of FineWeb/RedPajama-style curation; Rust et al. 2021 call the
    per-word form 'fertility'): natural language compresses to ~4+
    chars/token under a BPE vocabulary — text that tokenizes much worse
    (chars_per_tok low, toks_per_word high) is gibberish, binary spill,
    or a language the tokenizer can't serve, and trains poorly per
    FLOP.

    Integer basis points (×10000, floor) — bit-reproducible everywhere;
    `fertility_ok` = chars_per_tok_bp ≥ min AND toks_per_word_bp ≤ max.
    Zero-token/empty docs fail closed. Pure column algebra, zero
    shuffle."""
    chars = F.length(F.col(text_col))
    bts = F.octet_length(F.col(text_col))
    n_tok = F.size(F.col(tokens_col))
    words = F.size(F.split(F.trim(F.col(text_col)), r"\s+"))
    words = F.when(F.trim(F.col(text_col)) == "", F.lit(0)).otherwise(words)
    safe_tok = F.greatest(n_tok, F.lit(1))
    safe_words = F.greatest(words, F.lit(1))
    cpt = F.floor(chars * 10000 / safe_tok).cast("int")
    bpt = F.floor(bts * 10000 / safe_tok).cast("int")
    tpw = F.floor(n_tok * 10000 / safe_words).cast("int")
    ok = (
        (n_tok > 0)
        & (words > 0)
        & (cpt >= min_chars_per_tok_bp)
        & (tpw <= max_toks_per_word_bp)
    )
    return (
        df.withColumn("chars_per_tok_bp", cpt)
        .withColumn("bytes_per_tok_bp", bpt)
        .withColumn("toks_per_word_bp", tpw)
        .withColumn("fertility_ok", ok)
    )


# ---------------------------------------------------------------------------
# Temperature-weighted source mixing (integer-exact)
# ---------------------------------------------------------------------------


def temperature_mix(
    df: DataFrame,
    *,
    source_col: str = "source",
    id_col: str = "doc_id",
    target_total: int,
    tau_halvings: int = 1,
    seed: str = "tmix",
) -> DataFrame:
    """Temperature-weighted multi-source sampling (the multilingual
    mixing rule of Arivazhagan et al. 2019 §4 / mT5: draw source s with
    probability ∝ n_s^τ, τ<1 up-weighting small sources). τ is
    restricted to 2^-tau_halvings (τ=1/2, 1/4, …) so the weight is
    `tau_halvings` repeated integer square roots — floor(sqrt(double))
    is correctly rounded IEEE in every engine, so the whole computation
    is bit-reproducible with NO float accumulation.

    Per-source quota m_s = min(n_s, target_total·w_s/Σw) (integer div);
    a doc keeps iff md5-uniform(id) mod n_s < m_s — exactly m_s/n_s
    keep probability, deterministic per (id, seed). Plan: ONE tiny
    groupBy(source) (|sources| rows), an unpartitioned window over that
    tiny table, broadcast join back — the corpus itself NEVER
    shuffles. Output adds src_count, src_quota, mix_keep."""
    from pyspark.sql import Window  # noqa: PLC0415
    from pyspark.sql.functions import broadcast  # noqa: PLC0415

    counts = df.groupBy(source_col).agg(F.count(F.lit(1)).alias("src_count"))
    w = F.col("src_count").cast("double")
    for _ in range(tau_halvings):
        w = F.floor(F.sqrt(w))
    counts = counts.withColumn("w", w.cast("bigint"))
    total_w = F.sum("w").over(Window.partitionBy())
    counts = counts.withColumn(
        "src_quota",
        F.least(
            F.col("src_count"),
            F.floor(F.lit(target_total) * F.col("w") / total_w).cast("bigint"),
        ),
    ).drop("w")
    h = portable_hash32(
        F.concat(F.col(id_col).cast("string"), F.lit(f":{seed}"))
    )
    return df.join(broadcast(counts), source_col, "left").withColumn(
        "mix_keep", h % F.col("src_count") < F.col("src_quota")
    )


# ---------------------------------------------------------------------------
# SFT loss masking (instruction-tuning label arrays)
# ---------------------------------------------------------------------------


def sft_loss_mask(
    df: DataFrame,
    *,
    tokens_col: str = "tokens",
    prompt_len_col: str = "prompt_len",
    mask_label: int = -100,
) -> DataFrame:
    """Supervised-fine-tuning label construction: copy the token array
    into a `labels` array with the first `prompt_len` positions replaced
    by `mask_label` (-100, the cross-entropy ignore_index convention) so
    the loss only trains on the response span. The standard SFT data
    layout (Alpaca/FLAN-style prompt-masking).

    Pure column algebra (ONE transform over the array), zero shuffle,
    zero UDF. prompt_len ≥ n masks everything; null prompt_len masks
    nothing. Output adds labels + n_masked + n_trainable."""
    t = F.col(tokens_col)
    p = F.coalesce(F.col(prompt_len_col), F.lit(0)).cast("int")
    labels = F.transform(
        t, lambda x, i: F.when(i < p, F.lit(mask_label)).otherwise(x)
    )
    n = F.size(t)
    n_masked = F.least(F.greatest(p, F.lit(0)), n)
    return (
        df.withColumn("labels", labels)
        .withColumn("n_masked", n_masked.cast("int"))
        .withColumn("n_trainable", (n - n_masked).cast("int"))
    )


# ---------------------------------------------------------------------------
# Best-of-N per-group selection (RLHF / rejection-sampling data prep)
# ---------------------------------------------------------------------------


def best_of_n(
    df: DataFrame,
    *,
    group_col: str = "prompt_id",
    score_col: str = "score",
    id_col: str = "doc_id",
    keep_n: int = 1,
    best_is_high: bool = True,
) -> DataFrame:
    """Rejection-sampling selection (Llama 2 §3.2.2 / best-of-n
    distillation): keep the top `keep_n` candidates per group by score.
    Ties broken by id so the selection is total and engine-replayable.
    ONE shuffle (the per-group window); at 10^12 candidates groups are
    small (N generations per prompt) so the window state is bounded —
    this is the shape AQE handles without help. Output adds
    `candidate_rank` (1-based) + `bon_keep`."""
    from pyspark.sql import Window  # noqa: PLC0415

    score = F.col(score_col)
    order = [score.desc() if best_is_high else score.asc(), F.col(id_col)]
    w = Window.partitionBy(group_col).orderBy(*order)
    rank = F.row_number().over(w)
    return df.withColumn("candidate_rank", rank).withColumn(
        "bon_keep", rank <= keep_n
    )


# ---------------------------------------------------------------------------
# Per-source epoch replication (data-recipe epochs, LLaMA-style)
# ---------------------------------------------------------------------------


def epoch_replicate(
    df: DataFrame,
    *,
    source_col: str = "source",
    id_col: str = "doc_id",
    epochs_bp: dict[str, int] | None = None,
    default_bp: int = 10000,
    seed: str = "epoch",
) -> DataFrame:
    """Source-level epoch replication (the 'epochs' column of the LLaMA
    data-mixture table: e.g. Wikipedia 2.45 epochs, CommonCrawl 1.10):
    replicate each document floor(e) times plus one more for a
    hash-selected frac(e) share — so a source with epochs_bp=24500 sees
    every doc twice and a deterministic 45% of docs a third time.
    Fractions below 1.0 subsume downsampling (epochs_bp=3000 keeps a
    30% sample). Expected output rows per source = n_s·e_s exactly.

    epochs are integer basis points (×10000) and the fractional draw is
    md5-uniform — bit-reproducible, no RNG state. `epoch_idx` (0-based)
    distinguishes copies for downstream shuffling (feed `shard_assign`
    keyed on (id, epoch_idx)). Map-side posexplode, ZERO shuffle; the
    multiplier is a plan-time literal CASE over sources."""
    e_bp = F.lit(default_bp)
    for s, bp in (epochs_bp or {}).items():
        e_bp = F.when(F.col(source_col) == s, F.lit(bp)).otherwise(e_bp)
    h = portable_hash32(
        F.concat(F.col(id_col).cast("string"), F.lit(f":{seed}"))
    )
    copies = (
        F.floor(e_bp / 10000) + (h % 10000 < e_bp % 10000).cast("int")
    ).cast("int")
    idx = F.explode(F.sequence(F.lit(0), copies - 1))
    # sequence(0, -1) would be descending [0, -1]; gate copies=0 rows
    # out first with a filter (they contribute nothing by definition)
    return (
        df.withColumn("_copies", copies)
        .filter(F.col("_copies") > 0)
        .withColumn("epoch_idx", idx)
        .drop("_copies")
    )


# ---------------------------------------------------------------------------
# DPO preference-pair construction (post-training data prep)
# ---------------------------------------------------------------------------


def dpo_pairs(
    df: DataFrame,
    *,
    group_col: str = "prompt_id",
    score_col: str = "score",
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    min_margin: int = 0,
) -> DataFrame:
    """Direct-preference-optimization pair construction (Rafailov et al.
    2023; the Zephyr/Llama-3 post-training recipe): per prompt, pair the
    highest-scored candidate (chosen) with the lowest-scored one
    (rejected), keeping prompts with >= 2 candidates and a score margin
    >= `min_margin`. Ties are broken by candidate id on BOTH ends
    (ascending for chosen, descending for rejected) so the selection is
    total and engine-replayable — the same determinism discipline as
    `best_of_n`.

    Output: (group_col, chosen_id, rejected_id, margin, chosen_tokens,
    rejected_tokens, n_candidates).

    Scale topology: two row_number windows over the SAME partition key
    followed by a groupBy on that key — ONE shuffle (AQE reuses the
    window's hash partitioning for the aggregate). Groups are N
    generations per prompt (single digits), so window state is trivially
    bounded; no skew risk at 10^12 candidates. The struct max() trick
    avoids a chosen-vs-rejected self-join entirely.
    """
    # a null score (failed reward-model call) must not hijack the
    # rejected slot (NULLs sort first ascending) and null the margin —
    # unscored candidates simply don't compete
    df = df.where(F.col(score_col).isNotNull())
    s, i = F.col(score_col), F.col(id_col)
    w_hi = Window.partitionBy(group_col).orderBy(s.desc(), i.asc())
    w_lo = Window.partitionBy(group_col).orderBy(s.asc(), i.desc())
    ranked = df.withColumn("_rh", F.row_number().over(w_hi)).withColumn(
        "_rl", F.row_number().over(w_lo)
    )
    pick = lambda rank_col, field: F.max(  # noqa: E731
        F.when(F.col(rank_col) == 1, F.col(field))
    )
    agg = ranked.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_candidates"),
        pick("_rh", id_col).alias("chosen_id"),
        pick("_rl", id_col).alias("rejected_id"),
        (pick("_rh", score_col) - pick("_rl", score_col)).alias("margin"),
        pick("_rh", tokens_col).alias("chosen_tokens"),
        pick("_rl", tokens_col).alias("rejected_tokens"),
    )
    return agg.where(
        (F.col("n_candidates") >= 2) & (F.col("margin") >= min_margin)
    )


# ---------------------------------------------------------------------------
# Hard-negative mining (contrastive retrieval training data)
# ---------------------------------------------------------------------------


def hard_negatives(
    candidates: DataFrame,
    gold: DataFrame,
    *,
    query_col: str = "query_id",
    doc_col: str = "doc_id",
    score_col: str = "score",
    k: int = 4,
    broadcast_gold: bool = False,
) -> DataFrame:
    """Hard-negative mining for contrastive retriever training (DPR,
    Karpukhin et al. 2020 §3.2; the BM25-negatives recipe): from a
    ranked candidate table (query_id, doc_id, score) — e.g. the output
    of `retrieval.bm25_topk` or `ann_topk_bruteforce` — drop every
    (query, doc) pair present in the `gold` positives table, then keep
    the top `k` remaining candidates per query as `neg_rank` 1..k.
    Deterministic order (score desc, doc id) — engine-replayable.

    Scale topology: ONE left_anti equi-join on (query, doc) — broadcast
    it when the gold table is dictionary-sized (`broadcast_gold=True`),
    else a shuffled hash join keyed the same way as the downstream
    window, which AQE then reuses — plus ONE row_number window per
    query. Candidate lists are top-K-bounded upstream, so window state
    is O(K) per query; no skew risk.
    """
    g = gold.select(query_col, doc_col)
    if broadcast_gold:
        g = F.broadcast(g)
    neg = candidates.join(g, [query_col, doc_col], "left_anti")
    w = Window.partitionBy(query_col).orderBy(
        F.col(score_col).desc(), F.col(doc_col)
    )
    return (
        neg.withColumn("neg_rank", F.row_number().over(w))
        .where(F.col("neg_rank") <= k)
        .withColumn("neg_rank", F.col("neg_rank").cast("int"))
    )


# ---------------------------------------------------------------------------
# In-context pretraining: cluster-ordered context-window packing
# ---------------------------------------------------------------------------


def incontext_pack(
    df: DataFrame,
    *,
    cluster_col: str = "cluster",
    id_col: str = "doc_id",
    n_tok_col: str = "n_tok",
    seq_len: int = 2048,
) -> DataFrame:
    """In-context pretraining packing (Shi et al., ICLR 2024: order
    RELATED documents into the same context window instead of random
    concatenation). Documents arrive with a similarity-cluster key (from
    `kmeans_lloyd` / `semantic_dedup` assignment or a SimHash prefix);
    within each cluster they are ordered deterministically by id, laid
    end-to-end, and cut into `seq_len`-token context windows.

    Output adds: pack_order (1-based position within the cluster's
    stream), offset (token offset of the doc's first token in the
    cluster stream), window_id (the seq_len-window containing that
    first token), straddles (doc crosses into the next window — the
    packer's boundary-split set).

    Scale topology: ONE shuffle (hash-partition by cluster for the
    running-sum window); no global sort — ordering is per-cluster, and
    clusters are independent so the layout parallelizes across
    10^12 docs. Token assembly reuses `pack_concat_chunks` downstream;
    this operator owns the ORDER, which is the ICP contribution.
    """
    n = F.col(n_tok_col).cast("long")
    w = Window.partitionBy(cluster_col).orderBy(id_col)
    run = Window.partitionBy(cluster_col).orderBy(id_col).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    off = (F.sum(n).over(run) - n).cast("long")
    # window_id stays LONG (matching pack_concat_chunks' seq_id): an int
    # wraps past 2^31 windows per cluster stream. floor() over the
    # double division is exact while offsets stay under 2^53 tokens per
    # cluster (9 peta-tokens — far beyond any single stream).
    return (
        df.withColumn("pack_order", F.row_number().over(w))
        .withColumn("offset", off)
        .withColumn(
            "window_id", F.floor(F.col("offset") / seq_len).cast("long")
        )
        .withColumn(
            "straddles",
            (F.col("offset") % seq_len) + n > seq_len,
        )
    )


def chat_loss_mask(
    df: DataFrame,
    *,
    tokens_col: str = "tokens",
    spans_col: str = "train_spans",
    mask_label: int = -100,
) -> DataFrame:
    """Multi-turn SFT label construction: train only on the listed
    [start, end) token spans (the assistant turns of a chat transcript)
    and mask everything else with `mask_label` — the multi-turn
    generalization of `sft_loss_mask`'s single prompt_len split.
    `spans_col` is array<struct<s:int, e:int>>; out-of-range ends clip
    naturally, null/empty span lists mask the whole sequence (nothing
    to train on), overlapping spans union.

    Pure column algebra: one transform over the token array with an
    exists() probe into the (single-digit-length) span list per
    position — zero shuffle, zero UDF. Output adds labels +
    n_trainable."""
    t = F.col(tokens_col)
    spans = F.coalesce(
        F.col(spans_col), F.array().cast("array<struct<s:int,e:int>>")
    )
    in_span = lambda i: F.exists(  # noqa: E731
        spans,
        lambda sp: (i >= sp.getField("s")) & (i < sp.getField("e")),
    )
    labels = F.transform(
        t, lambda x, i: F.when(in_span(i), x).otherwise(F.lit(mask_label))
    )
    # count span-covered POSITIONS, not labels != mask_label: a token
    # whose value happens to equal mask_label (or a null token) inside
    # a train span is still trained on
    n_trainable = F.size(
        F.filter(F.sequence(F.lit(0), F.size(t) - 1), in_span)
    )
    return df.withColumn("labels", labels).withColumn(
        "n_trainable",
        F.when(F.size(t) > 0, n_trainable).otherwise(F.lit(0)).cast("int"),
    )


# ---------------------------------------------------------------------------
# Length-bucketed dynamic batching (padding-waste minimization)
# ---------------------------------------------------------------------------


def length_bucket_batches(
    df: DataFrame,
    *,
    n_tok_col: str = "n_tok",
    id_col: str = "doc_id",
    batch_size: int = 32,
    n_shards: int = 1,
) -> DataFrame:
    """Group variable-length sequences into fixed-count batches of
    SIMILAR length so per-batch padding to the batch max wastes little
    compute — the standard dynamic-batching step in front of training /
    batched inference (each batch is padded to its own max, not the
    global max).

    bucket = bit-length of n_tok (docs in [2^k, 2^(k+1)) share a
    bucket) — integer-exact in any engine (`length(bin(n))`), no float
    log2 edge cases. Within (bucket, shard) docs order by n_tok DESC
    (tightest batches first), id ASC; `batch_id` = 0-based row_number
    div batch_size. The trailing partial batch per (bucket, shard) is
    kept and identifiable by count < batch_size.

    Scale topology: ONE window shuffle keyed (bucket, shard).
    Parallelism is buckets x shards — with ~20 real length buckets a
    bare window serializes 10^12 rows through ~20 reducers, so
    `n_shards` (deterministic `portable_hash32(id:':lbshard')` split)
    is the skew lever: batches never cross shards, so output is
    reproducible under ANY cluster size while parallelism scales to
    buckets x n_shards. Empty/zero-length rows land in bucket 0.
    """
    n = F.col(n_tok_col).cast("long")
    bucket = (
        F.when(n <= 0, F.lit(0))
        .otherwise(F.length(F.bin(n)))
        .cast("int")
        .alias("bucket")
    )
    shard = F.pmod(
        portable_hash32(F.concat(F.col(id_col).cast("string"), F.lit(":lbshard"))),
        F.lit(n_shards),
    ).cast("int")
    out = df.withColumn("bucket", bucket).withColumn("lb_shard", shard)
    w = Window.partitionBy("bucket", "lb_shard").orderBy(
        n.desc(), F.col(id_col).asc()
    )
    # floor over double division is exact while row numbers stay under
    # 2^53 per (bucket, shard) — far past any real shard size
    return out.withColumn(
        "batch_id",
        F.floor((F.row_number().over(w) - 1) / F.lit(batch_size)).cast(
            "long"
        ),
    )


def batch_pad_stats(
    batches: DataFrame, *, n_tok_col: str = "n_tok"
) -> DataFrame:
    """Per-batch padding economics over `length_bucket_batches` output:
    n_docs, the batch max (every doc pads to it), the real token sum,
    and `pad_waste` = n_docs*max - sum (tokens of wasted compute).
    ONE groupBy on the same (bucket, shard, batch) key the window
    already partitioned by — AQE coalesces it into the existing
    partitioning at scale."""
    n = F.col(n_tok_col).cast("long")
    return batches.groupBy("bucket", "lb_shard", "batch_id").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.max(n).alias("max_tok"),
        F.sum(n).alias("sum_tok"),
        (F.count("*") * F.max(n) - F.sum(n)).cast("long").alias("pad_waste"),
    )


# ---------------------------------------------------------------------------
# Key-skew diagnostic (heavy-hitter report)
# ---------------------------------------------------------------------------


def skew_report(
    df: DataFrame, key_col: str, *, top_k: int = 10
) -> DataFrame:
    """Heavy-hitter skew report for a prospective shuffle key: the
    top_k keys by row count with exact ppm share of the table — the
    number you read BEFORE keying a 10^12-row join/groupBy on a column,
    to decide between a plain shuffle, salting, or a broadcast of the
    hot slice (this repo's `aggregate_salted` / LSH star-guard levers).

    Plan: groupBy(key).count (map-side partial combine, the only
    full-data shuffle), a 1-row total agg over those counts, and a
    TakeOrdered top_k (no global sort materialization). ppm is integer
    arithmetic (cnt*1_000_000 div total) — engine-exact. NULL keys
    count as a key (rendered as the string '<null>'), because at scale
    a null-heavy key IS the classic skew bug."""
    counts = (
        df.groupBy(
            F.coalesce(F.col(key_col).cast("string"), F.lit("<null>")).alias(
                "key"
            )
        )
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    total = counts.agg(
        F.sum("cnt").cast("long").alias("total"),
        F.count("*").cast("long").alias("n_keys"),
    )
    top = counts.orderBy(F.col("cnt").desc(), F.col("key").asc()).limit(top_k)
    out = top.crossJoin(F.broadcast(total))
    w = Window.orderBy(F.col("cnt").desc(), F.col("key").asc())
    return out.select(
        F.row_number().over(w).cast("int").alias("rank"),
        "key",
        "cnt",
        F.expr("CAST(cnt * 1000000 DIV total AS BIGINT)").alias("ppm"),
        "total",
        "n_keys",
    )


def bitext_mine(
    src: DataFrame,
    tgt: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 4,
    margin_threshold_ppm: int = 1_000_000,
    mutual: bool = True,
    candidates: DataFrame | None = None,
    broadcast_src: bool = True,
) -> DataFrame:
    """Margin-based bitext mining (Artetxe & Schwenk 2019, ACL — the
    LASER/CCMatrix parallel-corpus recipe): mine translation pairs from
    two monolingual embedding spaces by the RATIO margin

        margin(x, y) = sim(x, y) / (avgk(x→T)/2 + avgk(y→S)/2)

    where avgk is the mean similarity to the k nearest neighbours in
    the OTHER language. A raw nearest neighbour is kept only when it
    beats its neighbourhood (margin > threshold) and — with
    ``mutual=True`` — when x and y pick each other (the paper's
    *intersection* strategy), which kills hub vectors that are
    "closest" to everything.

    Determinism device (cross-engine bit-exactness, cf. the kmeans /
    pagerank offset trick): similarities are shifted to the
    non-negative integer grid ``sim_u = round((1 + cos) * 1e6)`` —
    rank-equivalent to cosine, so kNN sets and argmaxes are unchanged —
    and the margin becomes one integer division

        margin_ppm = sim_u * 2*k_s*k_t * 1e6  DIV  (sk_s*k_t + sk_t*k_s)

    (``sk_*`` = integer top-k sim sums, ``k_*`` = actual neighbour
    counts ≤ k, so short candidate lists use their true mean). All
    terms are non-negative int64 (≤ 2.6e14 before the division), so
    Spark ``DIV`` ≡ DuckDB ``//`` and the oracle replays bit-for-bit.

    Scale shape: with ``candidates=None`` the full bipartite score set
    |S|×|T| is materialized with the smaller side broadcast
    (``broadcast_src``) — the exact-mining topology for probe-sized S
    (eval sets, low-resource languages). At corpus scale pass
    ``candidates`` (s_id, t_id shortlists from `ann_lsh_bucketed` /
    `ann_ivf` both directions, as CCMatrix does with FAISS): margins
    are then computed WITHIN the shortlist — the standard
    approximation — and nothing quadratic is ever scheduled. Either
    way the scored table takes exactly three Exchanges (s_id → t_id →
    s_id): each window family reuses its predecessor's partitioning
    (rank + conditional top-k sum share one sort per key).
    """
    s = src.select(
        F.col(id_col).alias("s_id"), F.col(vec_col).alias("s_vec")
    ).withColumn("_sn", l2norm(F.col("s_vec")))
    t = tgt.select(
        F.col(id_col).alias("t_id"), F.col(vec_col).alias("t_vec")
    ).withColumn("_tn", l2norm(F.col("t_vec")))

    if candidates is not None:
        pairs = (
            candidates.select("s_id", "t_id")
            .join(F.broadcast(s) if broadcast_src else s, "s_id")
            .join(t, "t_id")
        )
    else:
        pairs = t.join(F.broadcast(s) if broadcast_src else s, F.lit(True))

    scored = pairs.select(
        "s_id",
        "t_id",
        F.round(
            (
                F.lit(1.0)
                + dot(F.col("s_vec"), F.col("t_vec"))
                / (F.col("_sn") * F.col("_tn"))
            )
            * 1_000_000,
            0,
        )
        .cast("long")
        .alias("sim_u"),
    )

    # Exchange 1 (s_id): forward kNN rank + top-k sum/count reuse one sort.
    w_fs = Window.partitionBy("s_id").orderBy(F.col("sim_u").desc(), "t_id")
    w_s = Window.partitionBy("s_id")
    scored = scored.withColumn("_rf", F.row_number().over(w_fs))
    scored = scored.withColumn(
        "_sk_s",
        F.sum(F.when(F.col("_rf") <= k, F.col("sim_u")).otherwise(0)).over(w_s),
    ).withColumn(
        "_k_s",
        F.sum(F.when(F.col("_rf") <= k, 1).otherwise(0)).over(w_s).cast("long"),
    )
    # Exchange 2 (t_id): backward kNN sums, then margin + backward-best
    # rank over the same key.
    w_ft = Window.partitionBy("t_id").orderBy(F.col("sim_u").desc(), "s_id")
    w_t = Window.partitionBy("t_id")
    scored = scored.withColumn("_rb", F.row_number().over(w_ft))
    scored = scored.withColumn(
        "_sk_t",
        F.sum(F.when(F.col("_rb") <= k, F.col("sim_u")).otherwise(0)).over(w_t),
    ).withColumn(
        "_k_t",
        F.sum(F.when(F.col("_rb") <= k, 1).otherwise(0)).over(w_t).cast("long"),
    )
    denom = F.col("_sk_s") * F.col("_k_t") + F.col("_sk_t") * F.col("_k_s")
    scored = scored.withColumn(
        "margin_ppm",
        F.when(denom > 0, F.expr(
            "CAST(sim_u * 2 * _k_s * _k_t * 1000000 DIV "
            "(_sk_s * _k_t + _sk_t * _k_s) AS BIGINT)"
        )).otherwise(F.lit(0)),
    )
    w_mb = Window.partitionBy("t_id").orderBy(
        F.col("margin_ppm").desc(), "s_id"
    )
    scored = scored.withColumn("_mb", F.row_number().over(w_mb))
    # Exchange 3 (s_id): forward best-by-margin.
    w_mf = Window.partitionBy("s_id").orderBy(
        F.col("margin_ppm").desc(), "t_id"
    )
    out = (
        scored.withColumn("_mf", F.row_number().over(w_mf))
        .where(
            (F.col("_mf") == 1)
            & (F.col("margin_ppm") >= margin_threshold_ppm)
        )
        .select(
            "s_id",
            "t_id",
            "sim_u",
            "margin_ppm",
            (F.col("_mb") == 1).cast("int").alias("mutual"),
        )
    )
    if mutual:
        out = out.where(F.col("mutual") == 1)
    return out


# ---------------------------------------------------------------------------
# K-wise ranking -> pairwise preference expansion (InstructGPT recipe)
# ---------------------------------------------------------------------------

def kwise_pairs(
    df: DataFrame,
    *,
    group_col: str = "prompt_id",
    score_col: str = "score",
    id_col: str = "doc_id",
    min_margin: int = 1,
    max_pairs_per_group: int | None = None,
) -> DataFrame:
    """Expand a K-wise ranked candidate list into ALL pairwise
    preferences (Ouyang et al. 2022 SS3.1 / Stiennon et al. 2020: a
    labeler ranks K responses per prompt, training consumes the
    K-choose-2 comparisons; `dpo_pairs` is the special case that keeps
    only the extreme pair). Emits one row per (chosen, rejected) pair
    with score margin >= `min_margin`, ordered best-first, optionally
    capped at `max_pairs_per_group`.

    Determinism: candidates sort by (score DESC, id DESC) -- a total
    order since ids are unique -- so pair_rank, the cap cutoff, and the
    whole output are engine-replayable.

    Scale topology: ONE shuffle (the groupBy); the K-choose-2 expansion
    is ARRAY-LOCAL inside the grouped row (sort_array + nested
    transform over index pairs), so no self-join is ever scheduled and
    the shuffle carries K rows per prompt, not K^2. K is generations
    per prompt (single to low double digits in every published recipe);
    the O(K^2) pair array is bounded per row and the per-group cap
    is applied by array slice BEFORE the explode, so the exploded
    row count is exactly the output size.
    """
    s, i = F.col(score_col).cast("long"), F.col(id_col).cast("long")
    g = (
        df.where(s.isNotNull())
        .groupBy(group_col)
        .agg(
            F.sort_array(
                F.collect_list(F.struct(s.alias("s"), i.alias("i"))),
                asc=False,
            ).alias("_c")
        )
    )
    c = F.col("_c")
    n = F.size(c)

    def pairs_for(a: Column) -> Column:
        # all (chosen=a, rejected=b) with b after a in the sorted array
        # (indices 1-based for element_at: chosen = a+1, rejected = b)
        return F.transform(
            F.sequence(a + 2, n.cast("long")),
            lambda b: F.struct(
                F.element_at(c, a.cast("int") + 1).alias("ch"),
                F.element_at(c, b.cast("int")).alias("rj"),
            ),
        )

    pairs = F.when(
        n >= 2,
        F.flatten(
            F.transform(F.sequence(F.lit(0).cast("long"), (n - 2).cast("long")), pairs_for)
        ),
    ).otherwise(
        F.array().cast(
            "array<struct<ch:struct<s:long,i:long>,rj:struct<s:long,i:long>>>"
        )
    )
    g = g.select(
        group_col,
        n.alias("n_candidates"),
        F.filter(
            pairs, lambda p: p["ch"]["s"] - p["rj"]["s"] >= min_margin
        ).alias("_p"),
    )
    if max_pairs_per_group is not None:
        g = g.withColumn("_p", F.slice("_p", 1, max_pairs_per_group))
    ex = g.select(
        group_col,
        "n_candidates",
        F.posexplode("_p").alias("_k", "_pair"),
    )
    return ex.select(
        group_col,
        F.col("_pair.ch.i").alias("chosen_id"),
        F.col("_pair.rj.i").alias("rejected_id"),
        F.col("_pair.ch.s").alias("chosen_score"),
        F.col("_pair.rj.s").alias("rejected_score"),
        (F.col("_pair.ch.s") - F.col("_pair.rj.s")).alias("margin"),
        (F.col("_k") + 1).alias("pair_rank"),
        "n_candidates",
    )


# ---------------------------------------------------------------------------
# Cross-corpus paragraph dedup (CCNet step 1: global, keep-first)
# ---------------------------------------------------------------------------

def dedup_paragraphs_global(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n\n",
    min_len: int = 0,
) -> DataFrame:
    """Corpus-WIDE paragraph dedup, first occurrence wins (Wenzek et
    al. 2020 SS3.1 -- CCNet hashes every paragraph and drops repeats
    across the whole shard; `dedup_paragraphs` is the zero-shuffle
    intra-document special case). A paragraph survives iff it is the
    globally first occurrence of its hash, ordered by (doc id,
    paragraph index); paragraphs shorter than `min_len` chars never
    participate (boilerplate connectives repeat legitimately) and are
    always kept. Documents are reassembled in original paragraph
    order; returns (id_col, text_col [deduped], n_paras, n_kept).

    Scale topology -- TWO keyed shuffles, both skew-immune:
      1. groupBy(hash) with min(struct(doc,idx)) -- partial-aggregated
         map-side, so the million-fold repeated paragraph (the empty
         string, a nav bar) arrives at the reducer as one row per map
         partition, never as a hot partition of raw rows. The winner
         set then joins back on the hash -- AQE reuses the groupBy's
         exchange on the probe side.
      2. groupBy(doc) to reassemble -- bounded by paragraphs/doc.
    The window-over-hash alternative (row_number, keep rank 1) is the
    classic skew trap this avoids: ALL copies of a hot paragraph would
    land in one task.
    """
    import re as _re  # noqa: PLC0415

    d, t = F.col(id_col), F.col(text_col)
    paras = df.select(
        d.alias("_d"),
        F.posexplode(F.split(t, _re.escape(sep))).alias("_ix", "_p"),
    )
    parts = paras.withColumn("_h", portable_hash32(F.col("_p"))).withColumn(
        "_dedup", F.length("_p") >= min_len
    )
    firsts = (
        parts.where("_dedup")
        .groupBy("_h")
        .agg(F.min(F.struct("_d", "_ix")).alias("_w"))
        .select("_h", F.col("_w._d").alias("_wd"), F.col("_w._ix").alias("_wix"))
    )
    kept = parts.join(firsts, "_h", "left").where(
        (~F.col("_dedup"))
        | ((F.col("_d") == F.col("_wd")) & (F.col("_ix") == F.col("_wix")))
    )
    out = kept.groupBy("_d").agg(
        F.concat_ws(
            sep, F.transform(F.sort_array(F.collect_list(F.struct("_ix", "_p"))), lambda x: x["_p"])
        ).alias(text_col),
        F.count(F.lit(1)).cast("long").alias("n_kept"),
    )
    totals = paras.groupBy("_d").agg(F.count(F.lit(1)).cast("long").alias("n_paras"))
    return (
        out.join(totals, "_d")
        .select(F.col("_d").alias(id_col), text_col, "n_paras", "n_kept")
    )


# ---------------------------------------------------------------------------
# Character-entropy quality signal (gibberish / compressibility filter)
# ---------------------------------------------------------------------------

def char_entropy_features(
    text: Column, *, max_chars: int = 512
) -> dict[str, Column]:
    """Quantized Shannon entropy of the character distribution — the
    classic gibberish / binary-junk / keyboard-mash detector in
    web-corpus quality stacks (low entropy = repeated-char spam, high
    entropy + high distinct ratio = random bytes; natural language sits
    in a stable band).

    Exact integer arithmetic, zero float: each character's surprise is
    quantized to floor(log2(n / count)) computed as bit-length
    (`length(bin(n div c)) - 1` — the same no-float discipline as the
    length buckets), and the per-doc sum weights it by count:

        entropy_q    = sum_i c_i * floor(log2(n / c_i))   [integer bits]
        entropy_cb   = entropy_q * 100 div n              [centibits/char]

    Always within 1 bit/char of true Shannon entropy, monotone in the
    distribution skew, and bit-reproducible in any engine.

    Cost: O(distinct_chars * min(len, max_chars)) ARRAY-LOCAL work per
    row (alphabet is bounded ~10^2), zero shuffle — the bounded-prefix
    cap is the same triage discipline as `pcm_stats`. Emits n_sampled /
    n_distinct_chars / entropy_q / entropy_cb.
    """
    s = F.substring(text, 1, max_chars)
    n = F.length(s).cast("long")
    chars = F.split(s, "")
    uniq = F.array_distinct(chars)
    counts = F.transform(
        uniq, lambda d: F.size(F.filter(chars, lambda c: c == d)).cast("long")
    )
    ent = F.aggregate(
        counts,
        F.lit(0).cast("long"),
        lambda acc, c: acc
        + c * (F.length(F.bin(F.floor(n / c).cast("long"))) - 1),
    )
    zero = n == 0
    return {
        "n_sampled": n,
        "n_distinct_chars": F.when(zero, F.lit(0)).otherwise(F.size(uniq)).cast("long"),
        "entropy_q": F.when(zero, F.lit(0)).otherwise(ent).cast("long"),
        "entropy_cb": F.when(zero, F.lit(0))
        .otherwise(F.floor(ent * 100 / n))
        .cast("long"),
    }


# ---------------------------------------------------------------------------
# N-gram overlap scoring (distillation / synthetic-data leakage filter)
# ---------------------------------------------------------------------------

def word_ngrams_distinct(text: Column, n: int = 2) -> Column:
    """Distinct word n-grams of `text` as strings (array<string>);
    empty array when the text has fewer than n words."""
    w = words_of(text)
    count = F.size(w) - (n - 1)
    grams = F.when(
        count >= 1,
        F.transform(
            F.sequence(F.lit(1), F.greatest(count, F.lit(1))),
            lambda i: F.array_join(F.slice(w, i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.array_distinct(grams)


def ngram_overlap_features(
    a: Column, b: Column, *, n: int = 2
) -> dict[str, Column]:
    """Distinct-n-gram overlap between two text columns in integer basis
    points — ROUGE-N (set variant) precision/recall/F1. The standard
    filter for distillation and synthetic-data pipelines: score a
    generated text against its source to drop verbatim regurgitation
    (overlap too high) or hallucinated drift (overlap too low); also the
    doc-vs-doc leak check between a training shard and an eval set.

    precision = |A ∩ B| / |A|, recall = |A ∩ B| / |B|, f1 = 2PR/(P+R),
    all as `x * 10000 div y` non-negative integer division (Spark `div`
    ≡ DuckDB `//` — no float to disagree across engines).

    Pure array-local column algebra: zero shuffle, zero UDF; cost
    O(|A| log + |A∩B| membership) per row. For corpus-vs-EVAL-SET
    decontamination at scale use `decontaminate`/`bloom_decontaminate`
    (broadcast eval grams) — this operator is the per-PAIR form where
    both texts ride in the same row.
    """
    ga, gb = word_ngrams_distinct(a, n), word_ngrams_distinct(b, n)
    inter = F.size(F.array_intersect(ga, gb)).cast("long")
    na, nb = F.size(ga).cast("long"), F.size(gb).cast("long")

    def bp(num: Column, den: Column) -> Column:
        return (
            F.when(den > 0, F.floor(num * 10000 / den)).otherwise(F.lit(0))
        ).cast("long")

    p, r = bp(inter, na), bp(inter, nb)
    f1 = (
        F.when(p + r > 0, F.floor(2 * p * r / (p + r))).otherwise(F.lit(0))
    ).cast("long")
    return {
        "n_grams_a": na,
        "n_grams_b": nb,
        "n_overlap": inter,
        "precision_bp": p,
        "recall_bp": r,
        "f1_bp": f1,
    }


# ---------------------------------------------------------------------------
# Chat-template rendering (SFT serialization)
# ---------------------------------------------------------------------------

def chat_render(
    messages: Column,
    *,
    template: str = "chatml",
    add_generation_prompt: bool = False,
) -> Column:
    """Serialize an `array<struct<role:string, content:string>>`
    conversation into the single training string an SFT tokenizer
    consumes — the HuggingFace `apply_chat_template` slot, as pure
    column algebra (one transform + one array_join, zero shuffle/UDF).

    Templates:
      * ``chatml``: ``<|im_start|>{role}\\n{content}<|im_end|>\\n`` per
        message (the OpenAI/Qwen wire format);
      * ``colon``: ``{role}: {content}\\n`` (the plain-text eval format).

    `add_generation_prompt=True` appends the assistant header so the
    string ends where generation begins (the inference-time form).
    Null/empty message arrays render as ''. Pairs with
    `chat_loss_mask` (span masking) and `sft_loss_mask` downstream.
    """
    if template == "chatml":
        seg = F.transform(
            messages,
            lambda m: F.concat(
                F.lit("<|im_start|>"),
                m["role"],
                F.lit("\n"),
                m["content"],
                F.lit("<|im_end|>\n"),
            ),
        )
        tail = "<|im_start|>assistant\n"
    elif template == "colon":
        seg = F.transform(
            messages,
            lambda m: F.concat(m["role"], F.lit(": "), m["content"], F.lit("\n")),
        )
        tail = "assistant: "
    else:
        raise ValueError(f"unknown chat template: {template!r}")
    out = F.array_join(seg, "")
    if add_generation_prompt:
        out = F.concat(out, F.lit(tail))
    return F.coalesce(out, F.lit(""))


# ---------------------------------------------------------------------------
# Post-training eval/selection: pass@k, self-consistency, win rates
# ---------------------------------------------------------------------------

def pass_at_k(
    df: DataFrame,
    *,
    group_col: str = "problem_id",
    correct_col: str = "correct",
    ks: Sequence[int] = (1, 2, 4, 8),
) -> DataFrame:
    """Unbiased pass@k estimator (Chen et al. 2021 SS2.1, the HumanEval
    codegen metric): per problem with n samples of which c are correct,

        pass@k = 1 - C(n-c, k) / C(n, k)
               = 1 - prod_{i=0}^{k-1} (n - c - i) / (n - i)

    emitted in exact ppm: the numerator/denominator products are int64
    and the single division is `(10^6 * num) div den` — no float, so
    any engine reproduces the same number. k > n reports the exact
    all-samples rate (pass@k = [c > 0] by convention). Output: one row
    per (problem, k) with n_samples, n_correct, pass_ppm.

    Bounds for int64 exactness: 10^6 * n^k < 2^63, i.e. n <= 40 at
    k <= 8 (n=40,k=8 -> 6.6*10^18) — comfortably past every published
    eval recipe (n in 16..200 with k <= 2 also fits: 10^6*200^2).

    Scale topology: ONE shuffle (groupBy problem, count + conditional
    count with map-side partials), then a literal k-array posexplode —
    output rows = problems * |ks|, never samples * |ks|.
    """
    ks = list(ks)
    if not ks or any(k < 1 for k in ks):
        raise ValueError(f"ks must be >= 1, got {ks!r}")
    g = df.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_samples"),
        F.sum(F.col(correct_col).cast("long")).cast("long").alias("n_correct"),
    )
    ex = g.select(
        group_col,
        "n_samples",
        "n_correct",
        F.explode(F.array(*[F.lit(k).cast("long") for k in ks])).alias("k"),
    )
    n, c, k = F.col("n_samples"), F.col("n_correct"), F.col("k")
    kk = F.least(k, n)  # k > n: product over all n samples
    prod = lambda top: F.aggregate(  # noqa: E731
        F.sequence(F.lit(0).cast("long"), kk - 1),
        F.lit(1).cast("long"),
        lambda acc, i: acc * (top - i),
    )
    ex = ex.withColumn("_num", prod(n - c)).withColumn("_den", prod(n))
    # exact int64 division (Spark `div` ≡ DuckDB `//`) — floor(double/)
    # would round above 2^53
    ppm = F.lit(1_000_000).cast("long") - F.expr(
        "(1000000 * _num) div _den"
    )
    return ex.select(
        group_col,
        "n_samples",
        "n_correct",
        k.alias("k"),
        F.when(n == 0, F.lit(0).cast("long")).otherwise(ppm).alias("pass_ppm"),
    )


def majority_vote(
    df: DataFrame,
    *,
    group_col: str = "prompt_id",
    answer_col: str = "answer",
) -> DataFrame:
    """Self-consistency answer selection (Wang et al. 2023: sample many
    chains, keep the plurality answer). Per group: the most-voted
    answer, ties broken by answer ASC (total, engine-replayable), with
    vote counts and the winner's share in exact ppm.

    Scale topology: groupBy(group, answer) to count — map-side partials
    absorb the repeated-answer skew — then groupBy(group) where the
    winner is picked with one min(struct(-votes, answer)) (no window,
    no self-join) and totals ride the same aggregate. TWO shuffles,
    second one on strictly fewer rows (distinct answers per group).
    """
    counted = df.groupBy(group_col, answer_col).agg(
        F.count(F.lit(1)).cast("long").alias("_v")
    )
    win = F.min(
        F.struct((-F.col("_v")).alias("nv"), F.col(answer_col).alias("a"))
    )
    agg = counted.groupBy(group_col).agg(
        win.alias("_w"),
        F.sum("_v").cast("long").alias("n_votes"),
        F.count(F.lit(1)).cast("long").alias("n_distinct_answers"),
    )
    votes = (-F.col("_w.nv")).cast("long")
    return agg.select(
        group_col,
        F.col("_w.a").alias("majority_answer"),
        votes.alias("majority_votes"),
        "n_votes",
        "n_distinct_answers",
        F.expr("((0 - _w.nv) * 1000000) div n_votes").alias("share_ppm"),
    )


def win_rate_matrix(
    df: DataFrame,
    *,
    model_a_col: str = "model_a",
    model_b_col: str = "model_b",
    winner_col: str = "winner",
) -> DataFrame:
    """Pairwise win-rate matrix from head-to-head comparisons (the
    chatbot-arena / reward-model eval table): `winner` is 'a', 'b', or
    'tie'. Pairs are canonicalized to (min, max) model order so A-vs-B
    and B-vs-A land in the same cell; ties count half a win each,
    tracked in integer HALF-wins so the rate stays exact:

        win_rate_a_ppm = (2*wins_a + ties) * 10^6 div (2 * games)

    ONE shuffle (groupBy pair with map-side partials); output is one
    row per unordered model pair.
    """
    a, b, w = F.col(model_a_col), F.col(model_b_col), F.col(winner_col)
    lo, hi = F.least(a, b), F.greatest(a, b)
    lo_won = ((w == "a") & (a == lo)) | ((w == "b") & (b == lo))
    hi_won = ((w == "a") & (a == hi)) | ((w == "b") & (b == hi))
    canon = df.select(
        lo.alias("model_lo"),
        hi.alias("model_hi"),
        lo_won.cast("long").alias("_lo"),
        hi_won.cast("long").alias("_hi"),
        (w == "tie").cast("long").alias("_t"),
    )
    g = canon.groupBy("model_lo", "model_hi").agg(
        F.sum("_lo").cast("long").alias("wins_lo"),
        F.sum("_hi").cast("long").alias("wins_hi"),
        F.sum("_t").cast("long").alias("ties"),
        F.count(F.lit(1)).cast("long").alias("games"),
    )
    return g.select(
        "model_lo",
        "model_hi",
        "wins_lo",
        "wins_hi",
        "ties",
        "games",
        F.expr(
            "((2 * wins_lo + ties) * 1000000) div (2 * games)"
        ).alias("lo_win_ppm"),
    )


# ---------------------------------------------------------------------------
# Sentence segmentation + sentence-aware chunking (RAG ingest)
# ---------------------------------------------------------------------------

#: sentence boundary: terminal punctuation + optional closing
#: quotes/brackets, whitespace, next sentence starting uppercase/digit.
#: Deliberately RE2+Java-common (capture groups, no lookaround) — the
#: deterministic 95%; abbreviation-aware splitting ("J. Smith") is a
#: model problem, not a regex problem, and slots in as a Pandas UDF.
_SENT_RX = "([.!?][\"')\\]]*) +([A-Z0-9])"
_SENT_MARK = "\x1f"  # unit separator: never survives clean_text input


def sentence_split(text: Column | str) -> Column:
    """Split `text` into sentences (array<string>) with one
    regexp_replace (insert a marker at each boundary) + one split —
    zero shuffle/UDF, whole-stage codegen. Inter-sentence runs of
    spaces are consumed by the boundary. Lowercase continuations
    ("Dr. smith") do NOT split — the capital-start rule is the
    classic cheap guard."""
    c = F.col(text) if isinstance(text, str) else text
    return F.split(F.regexp_replace(c, _SENT_RX, "$1" + _SENT_MARK + "$2"), _SENT_MARK)


def sentence_split_sql(expr: str) -> str:
    """DuckDB expression replaying `sentence_split` (RE2 rewrite \\1)."""
    return (
        f"string_split(regexp_replace({expr}, "
        f"'([.!?][\"'')\\]]*) +([A-Z0-9])', '\\1' || chr(31) || '\\2', 'g'),"
        f" chr(31))"
    )


def chunk_sentences(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_chars: int = 1000,
    overlap_sentences: int = 0,
) -> DataFrame:
    """Sentence-aware sliding chunker — the RAG / embedding-ingest
    counterpart of `chunk_tokens`: documents are split into sentences,
    each sentence is assigned to the chunk where its cumulative char
    offset falls (`cum_before div chunk_chars` — sentences never split
    mid-way, so chunks are meaning-preserving and slightly elastic
    around `chunk_chars`), and `overlap_sentences` trailing sentences
    of the previous chunk are prepended for retrieval continuity.

    Output: one row per (id, chunk_id) with the chunk text (sentences
    joined by one space), n_sentences (own, excluding overlap), and
    n_chars of the own span.

    Scale: ZERO shuffle — the explode is map-side, work is array-local.
    Prefix sums use the O(S²) aggregate-over-slice form (Spark HOFs
    have no scan primitive); S = sentences/doc ≈ 10², bounded per row.
    """
    if chunk_chars < 1:
        raise ValueError(f"chunk_chars must be >= 1, got {chunk_chars}")
    d, t = F.col(id_col), F.col(text_col)
    base = df.select(d.alias("_id"), sentence_split(t).alias("_s"))
    s = F.col("_s")
    n = F.size(s)
    # cum chars BEFORE sentence i (1-based): sum of lengths 0..i-1
    cum = lambda i: F.aggregate(  # noqa: E731
        F.slice(s, 1, i - 1),
        F.lit(0).cast("long"),
        lambda acc, x: acc + F.length(x),
    )
    cids = F.transform(F.sequence(F.lit(1), n), lambda i: F.floor(cum(i) / chunk_chars).cast("long"))
    base = base.select("_id", "_s", cids.alias("_c"))
    c = F.col("_c")
    max_c = F.element_at(c, -1)  # cids are monotone
    own = lambda k: F.filter(s, lambda x, i: F.element_at(c, i + 1) == k)  # noqa: E731

    def prev_tail(k: Column) -> Column:
        # clamp the tail length to the previous chunk's size — Spark's
        # slice() returns [] outright when |start| exceeds the array
        prev = F.filter(s, lambda x, i: F.element_at(c, i + 1) == k - 1)
        m = F.least(F.lit(overlap_sentences), F.size(prev))
        return F.when(m > 0, F.slice(prev, -m, m)).otherwise(
            F.array().cast("array<string>")
        )
    chunks = F.transform(
        F.sequence(F.lit(0).cast("long"), max_c),
        lambda k: F.struct(
            (
                F.concat_ws(" ", prev_tail(k), own(k))
                if overlap_sentences
                else F.concat_ws(" ", own(k))
            ).alias("txt"),
            F.size(own(k)).cast("long").alias("n_sent"),
            F.aggregate(
                own(k), F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
            ).alias("n_chars"),
        ),
    )
    ex = base.select("_id", F.posexplode(chunks).alias("chunk_id", "_ch"))
    return ex.select(
        F.col("_id").alias(id_col),
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.col("_ch.txt").alias("chunk_text"),
        F.col("_ch.n_sent").alias("n_sentences"),
        F.col("_ch.n_chars").alias("n_chars"),
    )


# ---------------------------------------------------------------------------
# JSON key census (schema-on-read triage)
# ---------------------------------------------------------------------------

def json_key_census(
    df: DataFrame, field: str = "message"
) -> DataFrame:
    """Top-level key census over a JSON-string column — the
    schema-on-read triage every raw-feed onboarding starts with: which
    keys exist, in how many events, with what coverage (exact ppm).
    Corrupt / non-object payloads contribute no keys but count in the
    denominator, so coverage reflects the REAL feed.

    Scale: ONE shuffle (groupBy key, map-side partials; distinct keys
    are schema-bounded ~10²). The total-docs scalar joins back via
    broadcast crossJoin — no second shuffle. Values are never
    materialized: the map parse is pruned to `map_keys` by Catalyst.
    """
    j = F.from_json(F.col(field), "map<string,string>")
    keys = df.select(F.explode(F.map_keys(j)).alias("key"))
    counts = keys.groupBy("key").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs_with_key")
    )
    total = df.agg(F.count(F.lit(1)).cast("long").alias("_total"))
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            "key",
            "n_docs_with_key",
            F.expr("(n_docs_with_key * 1000000) div _total").alias(
                "coverage_ppm"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Readability metrics (education-quality features)
# ---------------------------------------------------------------------------

def readability_features(text: Column) -> dict[str, Column]:
    """Flesch-Kincaid-family readability in exact scaled integers — the
    education/quality prior (FineWeb-Edu-style classifiers lean on
    exactly these counts before any model scoring):

      * words         — whitespace-run tokens
      * sentences     — `sentence_split` boundaries (min 1)
      * syllables     — vowel-group heuristic `[aeiouy]+` over the
                        lowercased text (the classic cheap estimator)
      * fk_grade_cb   — Flesch-Kincaid grade level in CENTI-grades:
                        (39·W) div S + (1180·Syl) div W − 1559
                        (0.39·W/S + 11.8·Syl/W − 15.59, scaled ×100;
                        each division exact int64 `div`)
      * digit_ratio_bp— digits per char in basis points (the
                        data-dump / table-scrape detector)

    Zero shuffle, zero UDF — three regexp_counts + one split; fuses
    into the scan. Negative centi-grades clamp at the formula value
    (no artificial floor), matching the published formula.
    """
    t = F.coalesce(text, F.lit(""))
    words = F.size(F.split(t, r"\s+"))
    sents = F.greatest(F.size(sentence_split(t)), F.lit(1))
    syl = F.regexp_count(F.lower(t), F.lit("[aeiouy]+")).cast("long")
    digits = F.regexp_count(t, F.lit("[0-9]")).cast("long")
    chars = F.greatest(F.length(t), F.lit(1)).cast("long")
    w = F.greatest(words, F.lit(1)).cast("long")
    s = sents.cast("long")
    return {
        "n_words": words.cast("long"),
        "n_sentences": s,
        "n_syllables": syl,
        "fk_grade_cb": (
            _idiv(39 * w, s) + _idiv(1180 * syl, w) - F.lit(1559)
        ).cast("long"),
        "digit_ratio_bp": _idiv(digits * 10000, chars),
    }


def _idiv(num: Column, den: Column) -> Column:
    """Exact non-negative int64 floor division (Spark `div` ≡ DuckDB
    `//`) as a column expression: num - (num % den) is a multiple of
    den, and a double quotient of an exact multiple below 2^53 is
    exact. For magnitudes beyond 2^53 use F.expr('a div b') on named
    columns instead."""
    return ((num - F.pmod(num, den)) / den).cast("long")


# ---------------------------------------------------------------------------
# Keyword-taxonomy tagging (domain-mix reporting)
# ---------------------------------------------------------------------------

def taxonomy_tags(
    df: DataFrame,
    taxonomy: dict[str, Sequence[str]],
    *,
    text_col: str = "text",
    prefix: str = "tax_",
) -> DataFrame:
    """Multi-category keyword census — the cheap domain-mix / topic
    prior (the reporting layer a curation pipeline runs before any
    model classifier): for each category, the count of DISTINCT
    taxonomy words present (whole-word, case-folded — the
    `keyword_blocklist` matching rule), plus the dominant category
    (most distinct hits, ties broken by category name ASC; '' when
    nothing matches anywhere).

    Plan-time literal arrays, one array_intersect per category over the
    SAME tokenized array (Catalyst subexpression-eliminates the split):
    zero shuffle, zero UDF, scan-fused. Categories are schema-bounded
    (10¹-10²); huge per-category lists go the broadcast-join route of
    `host_blocklist_filter` instead.
    """
    if not taxonomy:
        raise ValueError("taxonomy must have at least one category")
    w = F.array_distinct(
        F.transform(
            F.split(F.coalesce(F.col(text_col), F.lit("")), r"\s+"), F.lower
        )
    )
    cats = sorted(taxonomy)
    counts = {
        c: F.size(
            F.array_intersect(
                w,
                F.array(
                    *[F.lit(x) for x in sorted({s.lower() for s in taxonomy[c]})]
                ),
            )
        ).cast("long")
        for c in cats
    }
    out = df
    for c in cats:
        out = out.withColumn(prefix + c, counts[c])
    # dominant: min over (-count, name) structs — total order
    pick = F.array_min(
        F.array(
            *[
                F.struct(
                    (-F.col(prefix + c)).alias("nc"), F.lit(c).alias("cat")
                )
                for c in cats
            ]
        )
    )
    total = sum(F.col(prefix + c) for c in cats)
    return out.withColumn(
        "tax_dominant",
        F.when(total > 0, pick["cat"]).otherwise(F.lit("")),
    ).withColumn("tax_total", total.cast("long"))


# ---------------------------------------------------------------------------
# Special-token scrubbing (tokenizer-injection guard)
# ---------------------------------------------------------------------------

#: the control sequences every major chat tokenizer reserves — raw
#: corpus text containing them would silently inject turn boundaries /
#: EOS into training (the classic token-confusion bug).
SPECIAL_TOKENS: tuple[str, ...] = (
    "<|im_start|>", "<|im_end|>", "<|endoftext|>",
    "<s>", "</s>", "[INST]", "[/INST]", "<|assistant|>", "<|user|>",
)


def special_token_scrub(
    text: Column,
    *,
    tokens: Sequence[str] = SPECIAL_TOKENS,
    mode: str = "strip",
) -> dict[str, Column]:
    """Detect and neutralize tokenizer special tokens in raw corpus
    text — the injection guard run before any chat-template assembly
    (otherwise a crawled page containing ``<|im_end|>`` forges a turn
    boundary at train time).

    modes: ``strip`` removes the sequence; ``break`` inserts a space
    after the first char (``< |im_end|>``) so the text stays readable
    but can never tokenize to the special id.

    Occurrences are counted EXACTLY with pure length algebra —
    ``(len(t) − len(replace(t, tok, ''))) / len(tok)`` per token, no
    regex — so the count replays in any engine. Zero shuffle; the
    whole op is a fixed literal replace chain + integer arithmetic.
    Emits {scrubbed, n_special}.
    """
    if mode not in ("strip", "break"):
        raise ValueError(f"mode must be strip|break, got {mode!r}")
    t = F.coalesce(text, F.lit(""))
    n = F.lit(0).cast("long")
    for tok in tokens:
        n = n + (
            (F.length(t) - F.length(F.replace(t, F.lit(tok), F.lit(""))))
            / F.lit(len(tok))
        ).cast("long")
    out = t
    for tok in tokens:
        rep = "" if mode == "strip" else tok[0] + " " + tok[1:]
        out = F.replace(out, F.lit(tok), F.lit(rep))
    return {"scrubbed": out, "n_special": n}


def dedup_key_text(text: Column) -> Column:
    """Canonical exact-dedup key (the Dolma/FineWeb 'fuzzy exact'
    normalization): lowercase, strip everything but ASCII alnum and
    whitespace, collapse whitespace runs to one space, trim — so
    punctuation/casing/spacing re-renderings of the same sentence hash
    to the SAME key. Unicode text should pass through `clean_text` (and
    optionally `transliterate`) first; this key is deliberately
    ASCII-lossy, it is a GROUPING key, not a display form.

    Zero shuffle — two regexp_replace + lower + trim, RE2+Java-common,
    feeds `portable_hash32`/`dedupe` directly.
    """
    k = F.lower(F.coalesce(text, F.lit("")))
    k = F.regexp_replace(k, "[^a-z0-9 \\t\\n]", "")
    k = F.regexp_replace(k, "[ \\t\\n]+", " ")
    return F.trim(k)


# ---------------------------------------------------------------------------
# URL language-variant pairing (bitext seed alignment, ParaCrawl recipe)
# ---------------------------------------------------------------------------

#: leading path segment that is a 2-letter lang code, optionally with a
#: region ("/en/", "/pt-br/") — the dominant multilingual-site layout.
_URL_LANG_RX = r"^(https?://[^/]+)/([a-z]{2})(?:-[a-z]{2})?(/.*)?$"


def url_lang_variants(text: Column | str) -> dict[str, Column]:
    """Extract (lang, canonical-url) from a language-variant URL layout
    — the ParaCrawl/WMT SEED step for parallel-corpus mining: pages of
    the same site whose URLs differ only by a /xx/ path segment are
    translation candidates long before any content model runs.
    `lang` is '' when the URL has no leading lang segment; `canon` is
    the URL with the segment removed (the pairing key).
    Zero shuffle — two regexp extracts."""
    c = F.col(text) if isinstance(text, str) else text
    lang = F.regexp_extract(c, _URL_LANG_RX, 2)
    canon = F.when(
        lang != "",
        F.concat(
            F.regexp_extract(c, _URL_LANG_RX, 1),
            F.regexp_extract(c, _URL_LANG_RX, 3),
        ),
    ).otherwise(c)
    return {"lang": lang, "canon": canon}


def url_lang_pairs(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    url_col: str = "url",
    max_variants: int = 32,
) -> DataFrame:
    """Pair documents that are language variants of the SAME canonical
    URL — the alignment-seed table `bitext_mine(candidates=…)` consumes.
    Emits one row per unordered (doc_a, doc_b) pair with distinct langs
    sharing a canon; deterministic order inside the pair (lang ASC, id
    ASC). Groups capped at `max_variants` docs (a canon with hundreds
    of "langs" is a crawler artifact, not a multilingual page — the
    same hot-bucket discipline as the LSH star guard, applied by
    quality rank = (lang, id) so the cap is deterministic).

    Scale: ONE shuffle (groupBy canon); the pair expansion is
    array-local over ≤ max_variants entries.
    """
    v = url_lang_variants(F.col(url_col))
    base = df.select(
        F.col(id_col).alias("_id"), v["lang"].alias("_lang"), v["canon"].alias("_canon")
    ).where(v["lang"] != "")
    g = base.groupBy("_canon").agg(
        F.slice(
            F.sort_array(
                F.collect_list(F.struct(F.col("_lang").alias("l"), F.col("_id").alias("i")))
            ),
            1,
            max_variants,
        ).alias("_m")
    )
    m = F.col("_m")
    n = F.size(m)
    pairs = F.when(
        n >= 2,
        F.flatten(
            F.transform(
                F.sequence(F.lit(0), n - 2),
                lambda a: F.filter(
                    F.transform(
                        F.sequence(a + 2, n.cast("long")),
                        lambda b: F.struct(
                            F.element_at(m, a.cast("int") + 1).alias("x"),
                            F.element_at(m, b.cast("int")).alias("y"),
                        ),
                    ),
                    lambda p: p["x"]["l"] != p["y"]["l"],
                ),
            )
        ),
    ).otherwise(
        F.array().cast(
            "array<struct<x:struct<l:string,i:long>,y:struct<l:string,i:long>>>"
        )
    )
    ex = g.select(F.col("_canon").alias("canon"), F.explode(pairs).alias("_p"))
    return ex.select(
        "canon",
        F.col("_p.x.l").alias("lang_a"),
        F.col("_p.x.i").alias("doc_a"),
        F.col("_p.y.l").alias("lang_b"),
        F.col("_p.y.i").alias("doc_b"),
    )


# ---------------------------------------------------------------------------
# Recency-weighted sampling (fresh-data upweighting)
# ---------------------------------------------------------------------------

def recency_weighted_sample(
    df: DataFrame,
    *,
    id_col: str = "event_id",
    ts_col: str = "ts",
    reference_ts: str,
    half_life_days: int = 30,
    seed: str = "recency",
    max_halvings: int = 20,
) -> DataFrame:
    """Deterministic time-decay sampling — keep-probability halves every
    `half_life_days` before `reference_ts` (the fresh-data upweighting
    recipe for continually-updated corpora): rows in the newest
    half-life window always survive, each older window keeps half of
    the previous one's rate.

    Exact integer arithmetic, the `dsir_resample` discipline: the
    halving count h = floor(age_days / half_life) clamps to
    `max_halvings`, and keep = portable_hash32(id:seed) % 2^max < 2^(max−h)
    — pure shifts against an md5 uniform, no float, engine-replayable,
    independent samples per `seed`. `reference_ts` is an explicit
    timestamp string (never now()) so runs are reproducible. Zero
    shuffle; the filter pushes down next to the scan.
    """
    ref = F.to_timestamp(F.lit(reference_ts))
    # parquet timestamps may read as TIMESTAMP_NTZ, which has no direct
    # BIGINT cast — hop through timestamp (session tz is UTC in get_spark)
    ts_s = F.col(ts_col).cast("timestamp").cast("long")
    age_days = F.floor((ref.cast("long") - ts_s) / F.lit(86400)).cast("long")
    h = F.least(
        F.greatest(age_days, F.lit(0)).cast("long")
        / F.lit(int(half_life_days)),
        F.lit(max_halvings).cast("double"),
    )
    h = F.floor(h).cast("int")
    u = portable_hash32(
        F.concat(F.col(id_col).cast("string"), F.lit(":" + seed))
    ) % F.lit(2**max_halvings).cast("long")
    out = df.withColumn("_halvings", h.cast("long")).withColumn("_u", u)
    # SQL shiftleft takes column bit counts (the function form wants a
    # Python int)
    return out.withColumn(
        "_keep",
        F.expr(
            f"_u < shiftleft(CAST(1 AS BIGINT), {int(max_halvings)} - _halvings)"
        ),
    ).drop("_u")


# ---------------------------------------------------------------------------
# LSH parameter tuning (driver-side planning helper)
# ---------------------------------------------------------------------------

def lsh_tuning(
    n_hashes: int, target_threshold: float
) -> dict[str, float | int]:
    """Pick (bands, rows) for MinHash-LSH given a signature budget and a
    target Jaccard threshold — the standard s-curve analysis (Leskovec
    et al., Mining of Massive Datasets ch. 3): candidate-pair
    probability at similarity s is P(s) = 1 − (1 − s^r)^b, and the
    curve's inflection sits near (1/b)^(1/r).

    Enumerates every factorization b·r = n_hashes and returns the one
    whose inflection threshold is closest to `target_threshold`, plus
    the realized threshold and P(s) at the target (how leaky/greedy the
    chosen banding is AT the design point). Driver-side plan-time
    arithmetic — this never touches a DataFrame; feed the result into
    `minhash_lsh_pairs(bands=…)`.
    """
    if n_hashes < 1:
        raise ValueError(f"n_hashes must be >= 1, got {n_hashes}")
    if not (0.0 < target_threshold < 1.0):
        raise ValueError(
            f"target_threshold must be in (0, 1), got {target_threshold}"
        )
    best: dict[str, float | int] | None = None
    for b in range(1, n_hashes + 1):
        if n_hashes % b:
            continue
        r = n_hashes // b
        thr = (1.0 / b) ** (1.0 / r)
        cand = {
            "bands": b,
            "rows_per_band": r,
            "threshold": round(thr, 6),
            "p_at_target": round(
                1.0 - (1.0 - target_threshold**r) ** b, 6
            ),
        }
        if best is None or abs(thr - target_threshold) < abs(
            float(best["threshold"]) - target_threshold
        ):
            best = cand
    assert best is not None
    return best


# ---------------------------------------------------------------------------
# Char-span -> token-span alignment (annotation bridge)
# ---------------------------------------------------------------------------

def char_span_to_token_span(
    text: Column, span_start: Column, span_end: Column
) -> dict[str, Column]:
    """Map a character span [start, end) over `text` to the covering
    whitespace-token span [tok_start, tok_end) — the bridge between
    char-offset annotations (PII spans, NER labels, quote attributions)
    and the token-index masks `chat_loss_mask` consumes. A token is
    covered iff it OVERLAPS the char span; zero-overlap spans (empty,
    out of range, inverted) yield (0, 0).

    Token i (0-based) starts at cum(i) = Σ_{j<i} (len(word_j) + 1) and
    ends at cum(i) + len(word_i) — the single-space convention of the
    whitespace split; runs of whitespace should be collapsed first
    (`clean_text`). Array-local O(W²) prefix sums (HOFs have no scan),
    bounded per row; zero shuffle.
    """
    t = F.coalesce(text, F.lit(""))
    w = F.split(t, " ")
    n = F.size(w)
    starts = F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.aggregate(
            F.slice(w, 1, i - 1),
            F.lit(0).cast("long"),
            lambda acc, x: acc + F.length(x) + 1,
        ),
    )
    s, e = span_start.cast("long"), span_end.cast("long")
    # token i overlaps [s, e) iff start_i < e AND start_i + len_i > s;
    # the e > s conjunct kills empty/inverted spans outright
    overlaps = F.filter(
        F.sequence(F.lit(1), n),
        lambda i: (e > s)
        & (F.element_at(starts, i.cast("int")) < e)
        & (
            F.element_at(starts, i.cast("int"))
            + F.length(F.element_at(w, i.cast("int")))
            > s
        ),
    )
    none = F.size(overlaps) == 0
    return {
        "tok_start": F.when(none, F.lit(0))
        .otherwise(F.element_at(overlaps, 1) - 1)
        .cast("long"),
        "tok_end": F.when(none, F.lit(0))
        .otherwise(F.element_at(overlaps, -1))
        .cast("long"),
        "n_tokens": n.cast("long"),
    }


# ---------------------------------------------------------------------------
# Int8 embedding quantization (the ANN storage path)
# ---------------------------------------------------------------------------

def quantize_embedding_int8(vec: Column) -> dict[str, Column]:
    """Symmetric per-vector int8 quantization (the FAISS-SQ8 storage
    recipe): scale = max |x_i|, q_i = floor(x_i · 127 / scale + 0.5) ∈
    [−127, 127], dequant x̂_i = q_i · scale / 127. Cuts ANN corpus
    bytes 4× and makes the dot product integer until the final rescale.

    Determinism note: the quantizer is floor(v + 0.5), NOT round() —
    round() is half-up in Spark and banker's half-even in DuckDB/NumPy,
    so round() would disagree on exact .5 boundaries; floor(+0.5) is
    bit-identical everywhere IEEE doubles are. Zero vectors quantize to
    all-zero with scale 0. Map-only, zero shuffle; q rides as
    array<int> + one double scale per row.
    """
    mx = F.aggregate(
        F.transform(vec, F.abs),
        F.lit(0.0),
        lambda acc, x: F.greatest(acc, x),
    )
    q = F.when(mx > 0, F.transform(
        vec, lambda x: F.floor(x * 127.0 / mx + 0.5).cast("int")
    )).otherwise(F.transform(vec, lambda x: F.lit(0)))
    return {"q": q, "scale": mx, "n_dim": F.size(vec).cast("long")}


def ann_topk_int8(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    exclude_self: bool = True,
) -> DataFrame:
    """Brute-force cosine top-k over INT8-quantized vectors — the
    compressed-corpus variant of `ann_topk_bruteforce` (4× fewer bytes
    scanned; the hot loop is an integer dot product). Key identity: the
    symmetric per-vector scales CANCEL in the cosine,

        cos(x̂, ŷ) = dot(qx, qy) / sqrt(|qx|² · |qy|²),

    so the score is a pure function of int64 terms — deterministic and
    engine-replayable (one double sqrt of an exact integer at the end;
    ranked on the value rounded to 6 dp with id tie-breaks, the same
    convention as the float ANN gates).

    Same topology as the float path: quantization is map-side on both
    sides, the query side broadcasts with its codes, the corpus never
    shuffles; only per-query top-k rows move.
    """
    def prep(df: DataFrame, prefix: str) -> DataFrame:
        qz = quantize_embedding_int8(F.col(vec_col))["q"]
        out = df.select(
            F.col(id_col).alias(f"{prefix}_id"), qz.alias(f"{prefix}_q")
        )
        n2 = F.aggregate(
            F.col(f"{prefix}_q"),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x.cast("long") * x.cast("long"),
        )
        return out.withColumn(f"{prefix}_n2", n2).where(
            F.col(f"{prefix}_n2") > 0
        )

    q = prep(queries, "q")
    c = prep(corpus, "c")
    join_cond = (
        F.col("q_id") != F.col("c_id") if exclude_self else F.lit(True)
    )
    dot = F.aggregate(
        F.zip_with(F.col("q_q"), F.col("c_q"), lambda a, b: a.cast("long") * b.cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = c.join(F.broadcast(q), join_cond).withColumn(
        "cos_q6",
        F.round(
            dot / F.sqrt((F.col("q_n2") * F.col("c_n2")).cast("double")), 6
        ),
    )
    return _top_k(scored, "cos_q6", k, "q_id", "c_id")


# ---------------------------------------------------------------------------
# Field-coverage profile (per-column data-quality triage)
# ---------------------------------------------------------------------------

def field_coverage_profile(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Per-column data-quality profile — the triage table every feed
    onboarding runs next to `json_key_census`: for each named column,
    null count, blank count (trimmed-empty string form), distinct
    non-null values, and non-null coverage in exact ppm.

    ONE pass: each row explodes to |cols| (name, value) pairs map-side,
    then a single groupBy(name) with partial aggregates; the profile
    output is |cols| rows regardless of table size. Values are compared
    in their string form (profiling semantics, not type semantics).
    """
    if not cols:
        raise ValueError("cols must be non-empty")
    pairs = F.array(
        *[
            F.struct(
                F.lit(c).alias("col"),
                F.col(c).cast("string").alias("v"),
            )
            for c in cols
        ]
    )
    ex = df.select(F.explode(pairs).alias("_p")).select(
        F.col("_p.col").alias("col"), F.col("_p.v").alias("v")
    )
    g = ex.groupBy("col").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.col("v").isNull().cast("long")).cast("long").alias("n_null"),
        F.sum((F.trim(F.coalesce(F.col("v"), F.lit("x"))) == "").cast("long"))
        .cast("long")
        .alias("n_blank"),
        F.countDistinct("v").cast("long").alias("n_distinct"),
    )
    return g.select(
        "col",
        "n_rows",
        "n_null",
        "n_blank",
        "n_distinct",
        F.expr("((n_rows - n_null) * 1000000) div n_rows").alias(
            "coverage_ppm"
        ),
    )


# ---------------------------------------------------------------------------
# Group-aware split assignment (eval-leakage guard)
# ---------------------------------------------------------------------------

def grouped_split(
    df: DataFrame,
    *,
    group_col: str,
    fractions: Sequence[tuple[str, int]] = (
        ("train", 900_000),
        ("val", 50_000),
        ("test", 50_000),
    ),
    seed: str = "split",
    target: str = "split",
) -> DataFrame:
    """Assign train/val/test splits BY GROUP, not by row — the eval-
    leakage guard: when near-duplicates share a group key (a dedup
    cluster id from `connected_components`, a registered domain, a
    source shard), hashing the GROUP guarantees the whole family lands
    in one split, so no eval example has a train-set twin.

    `fractions` are (name, ppm) pairs summing to 1,000,000, applied as
    cumulative integer thresholds over the md5 uniform
    `portable_hash32(group:seed) % 10^6` — exact, engine-replayable,
    independent assignment per `seed`. Zero shuffle: the assignment is
    a pure column expression over the group VALUE (no groupBy needed),
    so it composes with scan pruning and costs nothing at 10^12 rows.
    """
    total = sum(p for _, p in fractions)
    if total != 1_000_000:
        raise ValueError(f"fractions must sum to 1000000 ppm, got {total}")
    u = portable_hash32(
        F.concat(F.col(group_col).cast("string"), F.lit(":" + seed))
    ) % F.lit(1_000_000).cast("long")
    expr: Column | None = None
    cum = 0
    for name, ppm in fractions:
        cum += ppm
        cond = u < cum
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(
            cond, F.lit(name)
        )
    assert expr is not None
    return df.withColumn(target, expr)


def mmr_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    lambda_ppm: int = 700_000,
    shortlist: int = 32,
    exclude_self: bool = True,
) -> DataFrame:
    """Maximal-Marginal-Relevance diversified top-k (Carbonell &
    Goldstein 1998) — the dedup-aware retrieval selector: greedily pick
    the candidate maximizing λ·relevance − (1−λ)·max-similarity-to-
    already-selected, so near-duplicate hits can't crowd the result
    list (the RAG-context and eval-set-construction staple).

    All scoring is engine-exact: vectors are int8-quantized (scales
    cancel in cosines — see `ann_topk_int8`), relevance and pairwise
    similarities are floor(cos·10⁶) int64 micro-units, and the MMR
    objective is pure integer arithmetic (λ in ppm). Selection
    tie-breaks: score DESC, then relevance DESC, then candidate id ASC
    — total and replayable.

    Topology: the float-ANN broadcast shape builds a per-query
    shortlist (rel DESC, id ASC, capped at `shortlist`) in ONE groupBy;
    the greedy loop then runs ARRAY-LOCALLY inside the grouped row via
    an aggregate over k steps — no joins, no extra shuffle. Cost per
    query row: O(k · shortlist · dim) integer ops. Output: (q_id, rank,
    c_id, rel_u).
    """
    if not (0 <= lambda_ppm <= 1_000_000):
        raise ValueError(f"lambda_ppm must be in [0, 1e6], got {lambda_ppm}")

    def prep(df: DataFrame, p: str) -> DataFrame:
        qz = quantize_embedding_int8(F.col(vec_col))["q"]
        out = df.select(F.col(id_col).alias(f"{p}_id"), qz.alias(f"{p}_q"))
        n2 = F.aggregate(
            F.col(f"{p}_q"),
            F.lit(0).cast("long"),
            lambda a, x: a + x.cast("long") * x.cast("long"),
        )
        return out.withColumn(f"{p}_n2", n2).where(F.col(f"{p}_n2") > 0)

    qd, cd = prep(queries, "q"), prep(corpus, "c")
    join_cond = (
        F.col("q_id") != F.col("c_id") if exclude_self else F.lit(True)
    )
    dot = F.aggregate(
        F.zip_with(
            F.col("q_q"), F.col("c_q"), lambda a, b: a.cast("long") * b.cast("long")
        ),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    scored = cd.join(F.broadcast(qd), join_cond).withColumn(
        "rel_u",
        F.floor(
            dot / F.sqrt((F.col("q_n2") * F.col("c_n2")).cast("double")) * 1e6
        ).cast("long"),
    )
    cand = scored.groupBy("q_id").agg(
        F.slice(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        (-F.col("rel_u")).alias("nr"),
                        F.col("c_id").alias("i"),
                        F.col("c_q").alias("qv"),
                        F.col("c_n2").alias("n2"),
                    )
                )
            ),
            1,
            shortlist,
        ).alias("_c")
    )
    c = F.col("_c")
    n = F.size(c)

    def sim_u(i: Column, j: Column) -> Column:
        a, b = F.element_at(c, i), F.element_at(c, j)
        d = F.aggregate(
            F.zip_with(
                a["qv"], b["qv"], lambda x, y: x.cast("long") * y.cast("long")
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        return F.floor(
            d / F.sqrt((a["n2"] * b["n2"]).cast("double")) * 1e6
        ).cast("long")

    def step(sel: Column, _unused: Column) -> Column:
        def score(i: Column) -> Column:
            rel = -F.element_at(c, i)["nr"]
            maxsim = F.when(
                F.size(sel) == 0, F.lit(0).cast("long")
            ).otherwise(F.array_max(F.transform(sel, lambda j: sim_u(i, j))))
            return F.lit(lambda_ppm) * rel - F.lit(1_000_000 - lambda_ppm) * maxsim

        # argmax over unselected candidates; already-selected collapse
        # to a null-score struct, which sorts below every real score.
        # Tie order inside the struct: score, then -index (index order
        # IS rel DESC, id ASC), so max() realizes the documented breaks.
        picked = F.array_max(
            F.transform(
                F.sequence(F.lit(1), n),
                lambda i: F.when(
                    F.array_contains(sel, i.cast("int")),
                    F.struct(
                        F.lit(None).cast("long").alias("s"),
                        F.lit(0).alias("mi"),
                    ),
                ).otherwise(
                    F.struct(score(i).alias("s"), (-i).cast("int").alias("mi"))
                ),
            )
        )
        return F.concat(sel, F.array((-picked["mi"]).cast("int")))

    sel = F.aggregate(
        F.sequence(F.lit(1), F.lit(int(k))),
        F.array().cast("array<int>"),
        step,
    )
    # groups with fewer than k candidates repeat-pick index 0 (the null
    # branch) — drop those sentinel slots after the explode.
    out = cand.select("q_id", "_c", F.posexplode(sel).alias("_r0", "_ix")).where(
        F.col("_ix") >= 1
    )
    return out.select(
        "q_id",
        (F.col("_r0") + 1).cast("int").alias("rank"),
        F.element_at(F.col("_c"), F.col("_ix"))["i"].alias("c_id"),
        (-F.element_at(F.col("_c"), F.col("_ix"))["nr"]).alias("rel_u"),
    )


# ---------------------------------------------------------------------------
# Canary injection / detection (memorization measurement)
# ---------------------------------------------------------------------------

def inject_canaries(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    rate_ppm: int = 1000,
    seed: str = "canary",
) -> DataFrame:
    """Plant unique canary strings into a deterministic sample of
    documents — the memorization probe (Carlini et al. 2019 'secret
    sharer' recipe, also the provenance watermark): each selected doc
    gets a doc-unique 12-hex canary appended, and the (doc, canary)
    registry is the `canary` column itself. After training, feeding
    model samples to `detect_canaries` measures extraction/memorization
    rate; finding YOUR canaries in someone else's corpus measures
    dataset provenance.

    Selection is the md5-uniform threshold (`rate_ppm`), the canary
    body is md5-derived from (id, seed) — both exact and replayable;
    per-`seed` injections are independent. Zero shuffle; `canary` is
    null on unselected rows (the registry is `WHERE canary IS NOT
    NULL`).
    """
    key = F.concat(F.col(id_col).cast("string"), F.lit(":" + seed))
    pick = portable_hash32(key) % F.lit(1_000_000).cast("long") < rate_ppm
    canary = F.concat(
        F.lit("CANARY-"), F.substring(F.md5(F.concat(key, F.lit(":c"))), 1, 12)
    )
    return df.withColumn("canary", F.when(pick, canary)).withColumn(
        text_col,
        F.when(
            pick, F.concat(F.col(text_col), F.lit(" "), canary)
        ).otherwise(F.col(text_col)),
    )


def detect_canaries(
    samples: DataFrame,
    registry: DataFrame,
    *,
    text_col: str = "text",
) -> DataFrame:
    """Scan generated/suspect text for planted canaries and join back
    against the registry: one row per registry canary with its hit
    count (0 = never emitted). Extraction rate = hits>0 / registry.

    Scale: one regexp_extract_all + explode over the sample side, a
    groupBy(canary) partial-count, then a join against the (small)
    registry — broadcastable by construction, since the registry is
    rate_ppm of the corpus. The sample corpus never shuffles beyond
    its extracted canary rows.
    """
    found = (
        samples.select(
            F.explode(
                F.regexp_extract_all(
                    F.col(text_col), F.lit("(CANARY-[0-9a-f]{12})"), 1
                )
            ).alias("canary")
        )
        .groupBy("canary")
        .agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
    )
    reg = registry.where(F.col("canary").isNotNull()).select("canary").distinct()
    return reg.join(found, "canary", "left").select(
        "canary",
        F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
        (F.coalesce(F.col("n_hits"), F.lit(0)) > 0).alias("extracted"),
    )


# ---------------------------------------------------------------------------
# Exact-integer AUC (classifier/reward-model evaluation)
# ---------------------------------------------------------------------------

def auc_binary(
    df: DataFrame,
    *,
    score_col: str = "score",
    label_col: str = "label",
) -> DataFrame:
    """ROC-AUC of an integer-scored binary classifier, EXACT: AUC is
    the Mann-Whitney statistic (P(score⁺ > score⁻) + ½·P(=)), computed
    from doubled midranks so ties never produce a float —

        auc_ppm = (2·R⁺ − n⁺(n⁺+1)) · 10⁶ div (2 · n⁺ · n⁻)

    where 2·R⁺ = Σ over distinct scores of pos_cnt·(lo+hi) rank bounds.
    The quality-classifier / reward-model eval that pairs with
    `quality_classifier` (its logit output is already an integer).

    Scale: ONE groupBy(score) with map-side partials (distinct scores ≤
    score-grid size, not rows), one window over that SMALL table for
    cumulative rank bounds, one final single-row aggregate. The corpus
    never shuffles raw rows by anything finer than score. Returns one
    row: (n_pos, n_neg, auc_ppm); degenerate inputs (single class)
    yield auc_ppm null.
    """
    s = F.col(score_col).cast("long")
    pos = F.col(label_col).cast("long")
    g = df.groupBy(s.alias("_s")).agg(
        F.count(F.lit(1)).cast("long").alias("_cnt"),
        F.sum(pos).cast("long").alias("_pos"),
    )
    w = Window.orderBy("_s").rowsBetween(Window.unboundedPreceding, -1)
    g = g.withColumn("_before", F.coalesce(F.sum("_cnt").over(w), F.lit(0)))
    # doubled midrank sum for positives at this score: pos·(lo + hi)
    two_r = F.sum(
        F.col("_pos") * (2 * F.col("_before") + F.col("_cnt") + 1)
    ).cast("long")
    agg = g.agg(
        F.sum("_pos").cast("long").alias("n_pos"),
        (F.sum("_cnt") - F.sum("_pos")).cast("long").alias("n_neg"),
        two_r.alias("_2r"),
    )
    return agg.select(
        "n_pos",
        "n_neg",
        F.when(
            (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
            F.expr(
                "((_2r - n_pos * (n_pos + 1)) * 1000000)"
                " div (2 * n_pos * n_neg)"
            ),
        ).alias("auc_ppm"),
    )


# ---------------------------------------------------------------------------
# Negative sampling (word2vec unigram^{3/4} table)
# ---------------------------------------------------------------------------

def negative_sampling_table(
    vocab: DataFrame,
    *,
    word_col: str = "word",
    count_col: str = "cnt",
) -> DataFrame:
    """Build the word2vec negative-sampling table (Mikolov et al. 2013:
    negatives drawn ∝ count^{3/4}): weight = isqrt(isqrt(count³)) —
    exact integer x^{3/4} via two floor-sqrts (floor(sqrt(double)) is
    correctly rounded IEEE, the `temperature_mix` discipline) — with
    cumulative [lo, hi) ranges ordered by (count DESC, word ASC) for a
    total, engine-replayable layout. The table is vocab-sized (bounded)
    and broadcasts.
    """
    c = F.col(count_col).cast("double")
    wgt = F.floor(F.sqrt(F.floor(F.sqrt(c * c * c)))).cast("long")
    t = vocab.select(
        F.col(word_col).alias("word"),
        F.col(count_col).cast("long").alias("cnt"),
        wgt.alias("w"),
    ).where(F.col("w") > 0)
    win = Window.orderBy(F.col("cnt").desc(), F.col("word").asc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    t = t.withColumn("lo", F.coalesce(F.sum("w").over(win), F.lit(0)))
    return t.select("word", "cnt", "w", "lo", (F.col("lo") + F.col("w")).alias("hi"))


def sample_negatives(
    pairs: DataFrame,
    table: DataFrame,
    *,
    id_col: str = "pair_id",
    k: int = 5,
    seed: str = "neg",
) -> DataFrame:
    """Draw `k` deterministic negatives per positive pair from a
    `negative_sampling_table`: slot j's uniform is the md5 hash of
    (pair id, j, seed) modulo the total weight, resolved by a range
    join against the broadcast table ([lo, hi) buckets). One row per
    (pair, slot) with the sampled word.

    Scale: the table is vocab-bounded and BROADCAST, so the range join
    never shuffles the pair stream; output is exactly k× the input.
    (At 10⁶-word vocabs the range join is a broadcast nested loop —
    prefer bucketizing the table into equal-width segments first if the
    vocab outgrows the broadcast budget; documented, not needed below
    10⁶ entries.)
    """
    total = table.agg(F.sum("w").cast("long").alias("_tw"))
    slots = pairs.select(
        F.col(id_col), F.explode(F.sequence(F.lit(0), F.lit(int(k) - 1))).alias("slot")
    ).crossJoin(F.broadcast(total))
    u = portable_hash32(
        F.concat(
            F.col(id_col).cast("string"),
            F.lit(":"),
            F.col("slot").cast("string"),
            F.lit(":" + seed),
        )
    ) % F.col("_tw")
    slots = slots.withColumn("_u", u)
    return slots.join(
        F.broadcast(table),
        (F.col("_u") >= F.col("lo")) & (F.col("_u") < F.col("hi")),
    ).select(id_col, "slot", F.col("word").alias("negative"))


def pr_curve(
    df: DataFrame,
    *,
    score_col: str = "score",
    label_col: str = "label",
) -> DataFrame:
    """Precision/recall/F1 at every decision threshold of an integer
    score grid (predict positive iff score >= t) — the operating-point
    sweep that pairs with `auc_binary` when a keep/drop cutoff must be
    CHOSEN, not just ranked. All ratios exact ppm.

    Same topology as `auc_binary`: ONE groupBy(score) with map-side
    partials, one window over the small score-grid table for suffix
    counts, pure integer arithmetic out. One row per distinct score =
    one candidate threshold.
    """
    s = F.col(score_col).cast("long")
    pos = F.col(label_col).cast("long")
    g = df.groupBy(s.alias("threshold")).agg(
        F.count(F.lit(1)).cast("long").alias("_cnt"),
        F.sum(pos).cast("long").alias("_pos"),
    )
    w = Window.orderBy(F.col("threshold").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tot = Window.partitionBy()
    g = (
        g.withColumn("tp", F.sum("_pos").over(w).cast("long"))
        .withColumn("predicted_pos", F.sum("_cnt").over(w).cast("long"))
        .withColumn("n_pos", F.sum("_pos").over(tot).cast("long"))
    )
    return g.select(
        "threshold",
        "tp",
        (F.col("predicted_pos") - F.col("tp")).alias("fp"),
        (F.col("n_pos") - F.col("tp")).alias("fn"),
        F.expr("(tp * 1000000) div predicted_pos").alias("precision_ppm"),
        F.when(
            F.col("n_pos") > 0, F.expr("(tp * 1000000) div n_pos")
        ).otherwise(F.lit(0)).alias("recall_ppm"),
        F.when(
            F.col("n_pos") + F.col("predicted_pos") > 0,
            F.expr("(2 * tp * 1000000) div (n_pos + predicted_pos)"),
        ).otherwise(F.lit(0)).alias("f1_ppm"),
    )


def cohens_kappa(
    df: DataFrame,
    *,
    rater_a_col: str = "rater_a",
    rater_b_col: str = "rater_b",
) -> DataFrame:
    """Cohen's kappa for two-rater label agreement — the annotation-QA
    gate a labeling pipeline runs before trusting human (or LLM-judge)
    labels. Exact ppm via the all-integer form

        kappa_ppm = (N·agree − Σ_k a_k·b_k) · 10⁶ div (N² − Σ_k a_k·b_k)

    (numerator/denominator are the usual (p_o − p_e) and (1 − p_e)
    scaled by N²). One groupBy over the label-pair grid plus one
    single-row aggregate; marginals come from the same tiny table.
    Degenerate case (p_e = 1: both raters constant and equal) yields
    null. Output: (n_items, agree_ppm, kappa_ppm).
    """
    a, b = F.col(rater_a_col).cast("string"), F.col(rater_b_col).cast("string")
    g = df.groupBy(a.alias("_a"), b.alias("_b")).agg(
        F.count(F.lit(1)).cast("long").alias("_c")
    )
    # marginals via two small re-aggregations of the pair grid
    am = g.groupBy("_a").agg(F.sum("_c").alias("_am"))
    bm = g.groupBy("_b").agg(F.sum("_c").alias("_bm"))
    pe_num = (
        am.join(bm, F.col("_a") == F.col("_b"))
        .agg(F.sum(F.col("_am") * F.col("_bm")).cast("long").alias("pe"))
    )
    agg = g.agg(
        F.sum("_c").cast("long").alias("n_items"),
        F.sum(F.when(F.col("_a") == F.col("_b"), F.col("_c")).otherwise(0))
        .cast("long")
        .alias("agree"),
    )
    j = agg.crossJoin(F.broadcast(pe_num)).withColumn(
        "pe", F.coalesce(F.col("pe"), F.lit(0)).cast("long")
    )
    return j.select(
        "n_items",
        F.expr("(agree * 1000000) div n_items").alias("agree_ppm"),
        F.when(
            F.col("n_items") * F.col("n_items") - F.col("pe") > 0,
            F.expr(
                "((n_items * agree - pe) * 1000000)"
                " div (n_items * n_items - pe)"
            ),
        ).alias("kappa_ppm"),
    )


# ---------------------------------------------------------------------------
# Ranking metrics (retrieval evaluation: MRR / recall@k / NDCG@k)
# ---------------------------------------------------------------------------

def ranking_metrics(
    run: DataFrame,
    qrels: DataFrame,
    *,
    q_col: str = "q_id",
    doc_col: str = "doc_id",
    rank_col: str = "rank",
    rel_col: str = "rel",
    k: int = 10,
) -> DataFrame:
    """Per-query retrieval metrics over a ranked `run` judged by
    `qrels` — the eval loop closing the BM25/ANN/MMR retrieval story:

      * mrr_ppm      — 10⁶ div first-relevant rank (0 if none in top-k);
                       exact integer.
      * recall_k_ppm — relevant retrieved in top-k ÷ total relevant
                       for the query (from qrels, including never-
                       retrieved docs); exact integer.
      * ndcg_k_ppm   — graded: DCG = Σ (2^rel − 1)/log2(i+1) folded
                       LEFT-TO-RIGHT in rank order, IDCG likewise over
                       the qrels' best-possible ordering. The fold
                       order is fixed on both engines (sequential
                       aggregate / list_reduce), so the double sums are
                       bit-identical; the only rounding is the final
                       floor(·10⁶).

    Topology: run⋈qrels is a left join on (q, doc) — qrels are
    eval-sized and broadcast; then ONE groupBy(q) collects the top-k
    (rank-ordered, array-local fold). Total-relevant counts reuse the
    qrels side alone.
    """
    q, d, r = F.col(q_col), F.col(doc_col), F.col(rank_col)
    judged = (
        run.where(r <= k)
        .join(
            F.broadcast(
                qrels.select(
                    q.alias("_qq"), d.alias("_qd"), F.col(rel_col).alias("_rel")
                )
            ),
            (q == F.col("_qq")) & (d == F.col("_qd")),
            "left",
        )
        .select(q.alias("_q"), r.alias("_r"), F.coalesce(F.col("_rel"), F.lit(0)).alias("_g"))
    )
    per_q = judged.groupBy("_q").agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("_r").alias("r"), F.col("_g").alias("g")))
        ).alias("_l")
    )
    lst = F.col("_l")
    first_rel = F.filter(lst, lambda x: x["g"] > 0)
    mrr_ppm = F.when(
        F.size(first_rel) > 0,
        F.floor(F.lit(1_000_000) / F.element_at(first_rel, 1)["r"].cast("double")).cast("long"),
    ).otherwise(F.lit(0).cast("long"))
    hits = F.size(F.filter(lst, lambda x: x["g"] > 0)).cast("long")
    dcg = F.aggregate(
        lst,
        F.lit(0.0),
        lambda acc, x: acc
        + (F.pow(F.lit(2.0), x["g"].cast("double")) - 1.0)
        / F.log2(x["r"].cast("double") + 1.0),
    )
    # totals + ideal ordering from the qrels side alone
    ideal = qrels.where(F.col(rel_col) > 0).groupBy(q.alias("_q")).agg(
        F.count(F.lit(1)).cast("long").alias("n_rel"),
        F.slice(
            F.sort_array(F.collect_list(F.col(rel_col).cast("long")), asc=False),
            1,
            k,
        ).alias("_ideal"),
    )
    idcg = F.aggregate(
        F.col("_ideal"),
        F.struct(F.lit(0.0).alias("s"), F.lit(1).alias("i")),
        lambda acc, g: F.struct(
            (
                acc["s"]
                + (F.pow(F.lit(2.0), g.cast("double")) - 1.0)
                / F.log2(acc["i"].cast("double") + 1.0)
            ).alias("s"),
            (acc["i"] + 1).alias("i"),
        ),
        lambda acc: acc["s"],
    )
    out = per_q.join(ideal, "_q", "left").select(
        F.col("_q").alias(q_col),
        mrr_ppm.alias("mrr_ppm"),
        hits.alias("_hits"),
        F.coalesce(F.col("n_rel"), F.lit(0).cast("long")).alias("n_rel"),
        dcg.alias("_dcg"),
        F.coalesce(idcg, F.lit(0.0)).alias("_idcg"),
    )
    return out.select(
        q_col,
        "mrr_ppm",
        F.when(
            F.col("n_rel") > 0,
            F.expr("(_hits * 1000000) div n_rel"),
        ).otherwise(F.lit(0).cast("long")).alias("recall_k_ppm"),
        F.when(
            F.col("_idcg") > 0,
            F.floor(F.col("_dcg") / F.col("_idcg") * 1e6).cast("long"),
        ).otherwise(F.lit(0).cast("long")).alias("ndcg_k_ppm"),
        "n_rel",
    )


# ---------------------------------------------------------------------------
# RL post-training: group-relative advantage (GRPO-style)
# ---------------------------------------------------------------------------

def grpo_advantage(
    df: DataFrame,
    *,
    group_col: str = "group_id",
    reward_col: str = "reward",
) -> DataFrame:
    """Group-relative advantage over sampled completions — the reward
    normalization step of GRPO-style RL post-training (Shao et al.
    2024: advantage = (r − mean(group)) / std(group), the group being
    the K completions sampled for one prompt).

    Outputs per row: `n` (group size), `adv_mean_ppm` (mean-centered
    reward), `adv_z_ppm` (z-score; 0 when the group is constant —
    the standard GRPO degenerate-group convention).

    Cross-engine exactness: rewards are integers, so every group
    moment is exact (S=Σr, Q=Σr² as int64). Centered numerators can be
    NEGATIVE, where Spark `div` (truncate) and DuckDB `//` (floor)
    disagree — so both ppm outputs go through ONE `floor()` of a
    double that is exactly representable (|r·n − S|·10⁶ ≪ 2⁵³ for
    any sane reward scale), giving floor semantics on both engines:

      adv_mean_ppm = floor((r·n − S) · 10⁶ / n)
      adv_z_ppm    = floor((r·n − S) · 10⁶ / sqrt(n·Q − S²))

    (n·Q − S² = n²·var ≥ 0 exactly; IEEE sqrt of an exactly-
    representable int is deterministic on both engines.)

    Topology: ONE window over `group_col` — a single keyed shuffle,
    map-side partial aggregation, no join. Groups are K≈4-64 samples
    per prompt, so no skew risk by construction.
    """
    from pyspark.sql import Window  # noqa: PLC0415

    w = Window.partitionBy(group_col)
    r = F.col(reward_col).cast("long")
    n = F.count(F.lit(1)).over(w)
    s = F.sum(r).over(w)
    q = F.sum(r * r).over(w)
    num = (r * n - s).cast("double") * F.lit(1_000_000.0)
    disc = (n * q - s * s).cast("double")
    return df.select(
        *df.columns,
        n.alias("n"),
        F.floor(num / n.cast("double")).cast("long").alias("adv_mean_ppm"),
        F.when(
            disc > 0, F.floor(num / F.sqrt(disc)).cast("long")
        ).otherwise(F.lit(0).cast("long")).alias("adv_z_ppm"),
    )


# ---------------------------------------------------------------------------
# Generation eval: exact match / edit similarity / token F1
# ---------------------------------------------------------------------------

def _eval_norm_tokens(col):
    """SQuAD-style normalization to a token array: lowercase, strip
    non-alphanumerics to spaces, drop English articles (a/an/the)."""
    toks = F.split(F.regexp_replace(F.lower(col), "[^a-z0-9]+", " "), " ")
    return F.filter(
        toks, lambda x: (x != "") & ~x.isin("a", "an", "the")
    )


def eval_text_match(
    df: DataFrame,
    *,
    pred_col: str = "pred",
    ref_col: str = "ref",
) -> DataFrame:
    """Per-row generation-eval triple against a reference answer — the
    SQuAD/triviaqa-style scoring pass over model outputs:

      * exact_match   — 1 iff the normalized token sequences are equal.
      * lev_sim_ppm   — 10⁶·(1 − levenshtein/maxlen) over the
                        normalized strings; exact integer
                        ((maxlen − d)·10⁶ div maxlen, operands ≥ 0);
                        both-empty ⇒ 10⁶.
      * token_f1_ppm  — SQuAD token F1: overlap = Σ_tok min(count in
                        pred, count in ref) over the pred's DISTINCT
                        tokens; F1 = 2·overlap/(|pred|+|ref|); exact
                        integer (2·overlap·10⁶ div (np+nr)).

    Normalization (lowercase → non-alnum→space → drop a/an/the) and
    every metric are pure column algebra — token counting is an
    array-local nested filter (O(distinct·len) per row, rows are
    short), so the operator is ZERO-shuffle and scales linearly.
    `levenshtein` is the built-in unit-cost edit distance on both
    engines.
    """
    pt, rt = _eval_norm_tokens(F.col(pred_col)), _eval_norm_tokens(F.col(ref_col))
    ps, rs = F.array_join(pt, " "), F.array_join(rt, " ")
    lev = F.levenshtein(ps, rs).cast("long")
    maxlen = F.greatest(F.length(ps), F.length(rs)).cast("long")
    np_, nr = F.size(pt).cast("long"), F.size(rt).cast("long")
    overlap = F.aggregate(
        F.array_distinct(pt),
        F.lit(0).cast("long"),
        lambda acc, tok: acc
        + F.least(
            F.size(F.filter(pt, lambda x: x == tok)),
            F.size(F.filter(rt, lambda x: x == tok)),
        ).cast("long"),
    )
    staged = df.select(
        *df.columns,
        (ps == rs).cast("int").alias("exact_match"),
        ((maxlen - lev) * F.lit(1_000_000)).alias("_lev_num"),
        maxlen.alias("_lev_den"),
        (overlap * 2 * F.lit(1_000_000)).alias("_f1_num"),
        (np_ + nr).alias("_f1_den"),
    )
    return staged.select(
        *df.columns,
        "exact_match",
        F.when(
            F.col("_lev_den") > 0, F.expr("_lev_num div _lev_den")
        ).otherwise(F.lit(1_000_000).cast("long")).alias("lev_sim_ppm"),
        F.when(
            F.col("_f1_den") > 0, F.expr("_f1_num div _f1_den")
        ).otherwise(F.lit(1_000_000).cast("long")).alias("token_f1_ppm"),
    )


# ---------------------------------------------------------------------------
# Chat-tree flattening: conversation paths (OpenAssistant-style SFT mining)
# ---------------------------------------------------------------------------

def conversation_paths(
    msgs: DataFrame,
    *,
    conv_col: str = "conv_id",
    id_col: str = "msg_id",
    parent_col: str = "parent_id",
    role_col: str = "role",
    text_col: str = "text",
    rounds: int = 4,
) -> DataFrame:
    """Flatten a message TREE (OpenAssistant-style: each prompt may have
    several replies, each reply several follow-ups) into one training
    sample per message: the root→message ancestor path rendered as a
    transcript. SFT mining then filters `role == 'assistant'` rows and
    splits the last turn off as the target.

    Pointer-DOUBLING assembly: each message starts holding the 1-chain
    [self]; every round joins chains to the chain their head pointer
    refers to, concatenating arrays and inheriting the head's pointer —
    so covered depth doubles per round (depth ≤ 2^rounds after
    `rounds` self-joins, e.g. 4 rounds ⇒ depth 16). That is log(depth)
    keyed shuffles instead of depth — the classic parallel
    list-ranking trick, same scaling story as `connected_components`.
    Rows whose pointer is still non-null after the last round get
    `truncated = true` (their prefix is missing) instead of silently
    wrong output.

    Output: conv, msg_id, role, depth (path length), truncated, and
    `context` — the 'role: text' lines of the full path joined by
    newlines. Everything is array algebra after the joins; no window,
    no driver state.
    """
    node = msgs.select(
        F.col(conv_col).alias("_conv"),
        F.col(id_col).alias("_id"),
        F.col(parent_col).alias("_ptr"),
        F.col(role_col).alias("_role"),
        F.array(
            F.struct(
                F.col(role_col).alias("role"), F.col(text_col).alias("text")
            )
        ).alias("_path"),
    )
    # static lookup side: every message's (chain, next pointer), keyed by id
    chains = node.select("_id", "_ptr", "_path")
    cur = node
    for _ in range(max(0, rounds)):
        up = chains.select(
            F.col("_id").alias("_uid"),
            F.col("_ptr").alias("_uptr"),
            F.col("_path").alias("_upath"),
        )
        cur = (
            cur.join(up, cur["_ptr"] == up["_uid"], "left")
            .select(
                "_conv",
                "_id",
                F.when(F.col("_uid").isNull(), F.col("_ptr"))
                .otherwise(F.col("_uptr"))
                .alias("_ptr"),
                "_role",
                F.when(
                    F.col("_uid").isNull(), F.col("_path")
                ).otherwise(F.concat(F.col("_upath"), F.col("_path")))
                .alias("_path"),
            )
        )
        chains = cur.select("_id", "_ptr", "_path")
    return cur.select(
        F.col("_conv").alias(conv_col),
        F.col("_id").alias(id_col),
        F.col("_role").alias(role_col),
        F.size("_path").alias("depth"),
        F.col("_ptr").isNotNull().alias("truncated"),
        F.array_join(
            F.transform(
                F.col("_path"), lambda x: F.concat(x["role"], F.lit(": "), x["text"])
            ),
            "\n",
        ).alias("context"),
    )


# ---------------------------------------------------------------------------
# Pairwise-battle leaderboard: Bradley-Terry ratings (fixed-point MM)
# ---------------------------------------------------------------------------

def bradley_terry(
    battles: DataFrame,
    *,
    a_col: str = "model_a",
    b_col: str = "model_b",
    winner_col: str = "winner",
    iters: int = 3,
    anchor: object = None,
) -> DataFrame:
    """Bradley-Terry strength ratings from raw pairwise battles — the
    arena-style leaderboard reducer over `winner ∈ {'a','b','tie'}`
    rows (ties count as half a win each; doubled win counts keep the
    tallies exact integers).

    Fixed `iters` rounds of Hunter's MM update
    p_i ← W_i / Σ_j n_ij/(p_i + p_j), then ONE anchor normalization
    (rating of `anchor`, default the smallest model id, ≡ 1.0) — the
    update is scale-covariant, so anchoring once at the end is exact.

    Determinism: the heavy reduction (battles → directed pair tallies)
    is integer; each MM round folds its denominator LEFT-TO-RIGHT over
    the opponent list sorted by j on both engines, so every double is
    bit-identical; `rating_ppm` floors once at the end.

    Topology: ONE keyed shuffle over the raw battles (groupBy directed
    pair, map-side partial). Everything after runs on the tiny
    model×model table: per round, two broadcast joins against the
    ratings + one groupBy(model) fold. Models-with-zero-battles are
    absent from the output; a zero-win model decays to rating 0.
    """
    a, b, w = F.col(a_col), F.col(b_col), F.col(winner_col)
    directed = battles.select(
        a.alias("_i"),
        b.alias("_j"),
        (
            F.when(w == "a", F.lit(2)).when(w == "tie", F.lit(1)).otherwise(F.lit(0))
        ).cast("long").alias("_w2"),
    ).unionByName(
        battles.select(
            b.alias("_i"),
            a.alias("_j"),
            (
                F.when(w == "b", F.lit(2)).when(w == "tie", F.lit(1)).otherwise(F.lit(0))
            ).cast("long").alias("_w2"),
        )
    )
    pairs = directed.groupBy("_i", "_j").agg(
        F.count(F.lit(1)).cast("long").alias("_n"),
        F.sum("_w2").alias("_w2"),
    )
    wsum = pairs.groupBy("_i").agg(
        F.sum("_w2").alias("_W2"), F.sum("_n").alias("_nb")
    )
    ratings = wsum.select(F.col("_i").alias("_m"), F.lit(1.0).alias("_p"))
    for _ in range(max(1, iters)):
        joined = (
            pairs.join(
                F.broadcast(ratings.select(F.col("_m").alias("_i"), F.col("_p").alias("_pi"))),
                "_i",
            )
            .join(
                F.broadcast(ratings.select(F.col("_m").alias("_j"), F.col("_p").alias("_pj"))),
                "_j",
            )
        )
        den = joined.groupBy("_i").agg(
            F.aggregate(
                F.sort_array(
                    F.collect_list(
                        F.struct(
                            F.col("_j").alias("j"),
                            (
                                F.col("_n").cast("double")
                                / (F.col("_pi") + F.col("_pj"))
                            ).alias("t"),
                        )
                    )
                ),
                F.lit(0.0),
                lambda acc, x: acc + x["t"],
            ).alias("_den")
        )
        ratings = den.join(wsum, "_i").select(
            F.col("_i").alias("_m"),
            (F.col("_W2").cast("double") / (F.lit(2.0) * F.col("_den"))).alias("_p"),
        )
    if anchor is None:
        anchor_row = ratings.groupBy().agg(F.min("_m").alias("_am"))
    else:
        anchor_row = ratings.sparkSession.range(1).select(F.lit(anchor).alias("_am"))
    anchored = ratings.join(
        F.broadcast(
            ratings.join(
                F.broadcast(anchor_row), ratings["_m"] == F.col("_am")
            ).select(F.col("_p").alias("_pa"))
        )
    )
    return anchored.join(wsum.select(F.col("_i").alias("_m"), "_W2", "_nb"), "_m").select(
        F.col("_m").alias("model"),
        F.floor(F.col("_p") / F.col("_pa") * F.lit(1_000_000.0)).cast("long").alias(
            "rating_ppm"
        ),
        F.col("_nb").alias("n_battles"),
        F.col("_W2").alias("wins2"),
    )


# ---------------------------------------------------------------------------
# In-cluster Naive-Bayes text classifier: train + apply (CCNet/fastText slot)
# ---------------------------------------------------------------------------

def _ln_q(k: Column) -> Column:
    """floor(10^6 · ln(k)) for an INTEGER column k ≥ 1 — the quantized
    log-space unit every NB score term uses. Both engines evaluate ln of
    the same exact integer, so the micro-unit floor agrees (a collision
    needs 10⁶·ln(k) within ~1e-10 of an integer)."""
    return F.floor(F.log(k.cast("double")) * F.lit(1_000_000.0)).cast("long")


def nb_tokens(text: Column) -> Column:
    """Shared NB tokenization: split on single spaces, drop empties.
    Deliberately the corpus's native word stream (documents.text is
    space-joined) — swap in `_eval_norm_tokens`-style normalization
    upstream for raw text."""
    return F.filter(F.split(text, " "), lambda x: x != "")


def nb_train(
    df: DataFrame,
    *,
    label_col: str = "label",
    text_col: str = "text",
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Train a multinomial Naive-Bayes text classifier IN-CLUSTER — the
    trained counterpart of `quality_classifier` (which ships offline
    weights as literals). This is the CCNet / DCLM recipe's training
    half: label a seed slice (reference-domain vs random crawl), count
    token occurrences per class, and apply the model corpus-wide with
    `nb_classify`.

    Returns (token_counts, class_stats, vocab):
      * token_counts — (label, token, cnt): multinomial occurrence
        counts. ONE explode + groupBy shuffle over the TRAINING slice
        (which is small by construction — the corpus-sized pass is
        classify, not train); map-side partial aggregation absorbs
        token skew (stopwords).
      * class_stats — (label, n_docs, n_tokens): per-class doc and
        token totals; |labels| rows.
      * vocab — 1-row (vocab_size): distinct training tokens, the
        Laplace-smoothing denominator term. Kept as a DataFrame (no
        driver action) — classify cross-broadcasts it.

    Everything is exact BIGINT counting — the model is reproducible
    bit-for-bit on any engine, which is what makes the trained
    classifier oracle-checkable end to end.
    """
    toks = df.select(
        F.col(label_col).alias("label"), nb_tokens(F.col(text_col)).alias("_t")
    )
    ex = toks.select("label", F.explode("_t").alias("token"))
    token_counts = ex.groupBy("label", "token").agg(
        F.count("*").cast("long").alias("cnt")
    )
    class_stats = toks.groupBy("label").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.size("_t")).cast("long").alias("n_tokens"),
    )
    vocab = ex.agg(F.countDistinct("token").cast("long").alias("vocab_size"))
    return token_counts, class_stats, vocab


def nb_classify(
    df: DataFrame,
    token_counts: DataFrame,
    class_stats: DataFrame,
    vocab: DataFrame,
    labels: Sequence[str],
    *,
    text_col: str = "text",
    id_col: str | None = None,
    broadcast_model: bool = True,
) -> DataFrame:
    """Apply a `nb_train` model to a corpus: per-row quantized log-score
    for every label plus the argmax `nb_label`.

    `id_col` is the UNIQUE per-row key the explode/aggregate/join-back
    topology pivots on; it defaults to the first column of `df` (doc_id
    in every gate). A non-unique key would double-count token scores
    across the rows sharing it — pass the real id explicitly if the
    first column is not one.

    Score (Laplace-smoothed multinomial NB, all terms L(k) :=
    floor(10⁶·ln k) of exact integers):

        score_q(l) = L(n_docs_l) − L(N)                      # log prior
                   + Σ_t L(cnt_{t,l} + 1)                     # matched
                   − n_tok · L(n_tokens_l + V)                # denominator

    Unmatched tokens contribute L(0+1) = 0, so only model hits are
    summed. Topology: ONE explode + broadcast hash join against the
    long-form model (token_counts is vocab-sized — MBs, exactly what a
    deployed fastText-style model is) + ONE groupBy(id) with plan-time
    per-label conditional sums; class_stats and vocab ride in as
    broadcast one-row cross joins. `broadcast_model=False` switches to
    a keyed shuffle join for beyond-broadcast vocabularies. The corpus
    is never shuffled wider than its own id — the same single-shuffle
    budget as `token_counts` aggregation.

    Ties break to the lexicographically smallest label (sort_array over
    (−score, label) structs — total order, engine-reproducible).
    Requires every label in `labels` to appear in the training slice.
    """
    labels = list(labels)
    cs = class_stats.groupBy().agg(
        F.sum("n_docs").cast("long").alias("_N"),
        *[
            F.sum(F.when(F.col("label") == l, F.col("n_docs")))
            .cast("long").alias(f"_nd_{i}")
            for i, l in enumerate(labels)
        ],
        *[
            F.sum(F.when(F.col("label") == l, F.col("n_tokens")))
            .cast("long").alias(f"_nt_{i}")
            for i, l in enumerate(labels)
        ],
    )
    base = df.select(*df.columns, nb_tokens(F.col(text_col)).alias("_toks"))
    spine = base.select(*df.columns, F.size("_toks").cast("long").alias("n_tok"))
    # row key: defaults to the caller's first column, which must be
    # unique per row (doc_id in every gate) — NOT
    # monotonically_increasing_id, which is partition-layout dependent
    # and would break engine reproducibility.
    if id_col is None:
        id_col = df.columns[0]
    elif id_col not in df.columns:
        raise ValueError(f"id_col {id_col!r} not in {df.columns}")
    ex = base.select(F.col(id_col).alias("_rid"), F.explode("_toks").alias("token"))
    model = F.broadcast(token_counts) if broadcast_model else token_counts
    j = ex.join(model, "token", "left")
    ms = j.groupBy("_rid").agg(
        *[
            F.coalesce(
                F.sum(
                    F.when(F.col("label") == l, _ln_q(F.col("cnt") + 1))
                ),
                F.lit(0),
            ).cast("long").alias(f"_ms_{i}")
            for i, l in enumerate(labels)
        ]
    )
    out = (
        spine.join(ms, spine[id_col] == ms["_rid"], "left")
        .drop("_rid")
        .crossJoin(F.broadcast(cs))
        .crossJoin(F.broadcast(vocab))
    )
    score_cols = []
    for i, l in enumerate(labels):
        s = (
            _ln_q(F.col(f"_nd_{i}"))
            - _ln_q(F.col("_N"))
            + F.coalesce(F.col(f"_ms_{i}"), F.lit(0))
            - F.col("n_tok") * _ln_q(F.col(f"_nt_{i}") + F.col("vocab_size"))
        ).alias(f"nb_score_{l}_q")
        score_cols.append(s)
    scored = out.select(*df.columns, "n_tok", *score_cols)
    pick = F.sort_array(
        F.array(
            *[
                F.struct(
                    (-F.col(f"nb_score_{l}_q")).alias("s"),
                    F.lit(l).alias("label"),
                )
                for l in labels
            ]
        )
    )[0]["label"]
    return scored.withColumn("nb_label", pick)


# ---------------------------------------------------------------------------
# Calibration report: ECE + Brier score (classifier/reward-model eval)
# ---------------------------------------------------------------------------

def calibration_report(
    df: DataFrame,
    *,
    conf_col: str = "conf_ppm",
    label_col: str = "label",
    n_bins: int = 10,
) -> DataFrame:
    """Reliability-diagram bins + expected calibration error + Brier
    score for a binary classifier whose confidence is an integer in
    ppm (0..10⁶) — the eval pass run over a quality/reward model's
    scores before its threshold is trusted corpus-wide. Completes the
    eval family next to `auc_binary` and `pr_curve`.

    Per bin b (bin = min(n_bins−1, conf_ppm·n_bins div 10⁶) — the
    standard equal-width grid with 10⁶ folded into the top bin):
      n, acc_ppm = 10⁶·Σlabel div n, avg_conf_ppm = Σconf div n,
      gap_ppm = |acc − conf̄| (computed on the pre-division integer
      numerators so the divisions can't disagree).
    Attached to every row (broadcast one-row cross join):
      ece_ppm   = Σ_b |10⁶·Σlabel_b − Σconf_b| div N
      brier_ppm = Σ_i (conf_i − 10⁶·label_i)² div (10⁶·N)
    Both are EXACT integer arithmetic end to end; the squared sums run
    in DECIMAL(38,0) so 10¹²-row corpora cannot overflow int64.

    Topology: ONE groupBy shuffle onto ≤ n_bins reducers with map-side
    partial aggregation (the corpus never moves — only per-partition
    partials), then a broadcast of the tiny bin table. Row count of the
    result is n_bins regardless of corpus size.
    """
    conf = F.col(conf_col).cast("long")
    lab = F.col(label_col).cast("long")
    d = conf - lab * F.lit(1_000_000)
    binned = df.select(
        F.least(
            F.lit(n_bins - 1),
            F.expr(f"({conf_col} * {n_bins}) div 1000000").cast("int"),
        ).alias("bin"),
        conf.alias("_c"),
        lab.alias("_l"),
        (d.cast("decimal(38,0)") * d.cast("decimal(38,0)")).alias("_d2"),
    )
    bins = binned.groupBy("bin").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("_c").cast("decimal(38,0)").alias("_sc"),
        F.sum("_l").cast("long").alias("_sl"),
        F.sum("_d2").alias("_sd2"),
    )
    tot = bins.groupBy().agg(
        F.sum("n").cast("long").alias("_N"),
        F.sum(
            F.abs(F.col("_sl").cast("decimal(38,0)") * 1_000_000 - F.col("_sc"))
        ).alias("_ece_num"),
        F.sum("_sd2").alias("_bri_num"),
    )
    out = bins.crossJoin(F.broadcast(tot))
    return out.select(
        "bin",
        "n",
        F.expr("CAST(_sl * 1000000 div n AS LONG)").alias("acc_ppm"),
        F.expr("CAST(_sc div n AS LONG)").alias("avg_conf_ppm"),
        F.expr(
            "CAST(abs(CAST(_sl AS DECIMAL(38,0)) * 1000000 - _sc) div n AS LONG)"
        ).alias("gap_ppm"),
        F.expr("CAST(_ece_num div _N AS LONG)").alias("ece_ppm"),
        F.expr("CAST(_bri_num div (CAST(1000000 AS DECIMAL(38,0)) * _N) AS LONG)").alias(
            "brier_ppm"
        ),
    )


# ---------------------------------------------------------------------------
# ROUGE-L: longest-common-subsequence generation eval (array-local DP)
# ---------------------------------------------------------------------------

def rouge_l(
    df: DataFrame,
    *,
    pred_col: str = "pred_toks",
    ref_col: str = "ref_toks",
) -> DataFrame:
    """ROUGE-L over token ARRAYS (caller tokenizes — pair with
    `_eval_norm_tokens` / `nb_tokens`): per-row token-level LCS length
    plus precision / recall / F1 in exact integer ppm. Completes the
    generation-eval family next to `eval_text_match` (EM / edit
    similarity / token F1) with the one metric that is order-aware but
    gap-tolerant.

    The LCS table is evaluated ARRAY-LOCALLY as a nested fold — the
    classic one-row DP: the outer `aggregate` walks the prediction
    carrying the previous DP row (array<long>, |ref|+1 wide); the inner
    fold over ref positions builds the next row from the three-way
    recurrence max(skip-pred, skip-ref, diagonal+match). ZERO shuffle,
    no UDF, no join: cost is O(|pred|·|ref|²) per row (the inner
    concat re-copies the growing row), which is the right trade for
    eval-sized answers (tens of tokens); for long-document LCS move
    the fold into a Pandas-UDF seam, same topology.

    Empty prediction or reference ⇒ lcs = 0, metrics 0 (never
    null/div-by-zero). LCS length (an integer) is the ONLY value the
    metrics derive from, so every output is engine-exact.
    """
    p, r = F.col(pred_col), F.col(ref_col)
    m = F.size(r)
    init = F.array_repeat(F.lit(0).cast("long"), m + 1)
    dp = F.aggregate(
        p,
        init,
        lambda prev, c: F.aggregate(
            F.sequence(F.lit(1), F.greatest(m, F.lit(1))),
            F.array(F.lit(0).cast("long")),
            lambda acc, j: F.concat(
                acc,
                F.array(
                    F.greatest(
                        F.element_at(prev, j + F.lit(1)),
                        F.element_at(acc, j),
                        F.when(
                            F.element_at(r, j) == c,
                            F.element_at(prev, j) + 1,
                        ).otherwise(F.lit(0).cast("long")),
                    )
                ),
            ),
        ),
    )
    lcs = F.when(
        (F.size(p) > 0) & (m > 0), F.element_at(dp, -1)
    ).otherwise(F.lit(0).cast("long"))
    np_, nr = F.size(p).cast("long"), m.cast("long")
    staged = df.select(
        *df.columns,
        lcs.alias("lcs"),
        np_.alias("np"),
        nr.alias("nr"),
    )
    return staged.select(
        *df.columns,
        "lcs",
        "np",
        "nr",
        F.when(F.col("np") > 0, F.expr("lcs * 1000000 div np"))
        .otherwise(F.lit(0).cast("long")).alias("rouge_l_p_ppm"),
        F.when(F.col("nr") > 0, F.expr("lcs * 1000000 div nr"))
        .otherwise(F.lit(0).cast("long")).alias("rouge_l_r_ppm"),
        F.when(
            F.col("np") + F.col("nr") > 0,
            F.expr("2 * lcs * 1000000 div (np + nr)"),
        ).otherwise(F.lit(0).cast("long")).alias("rouge_l_f_ppm"),
    )


# ---------------------------------------------------------------------------
# Robust per-group outlier flags: median + MAD over a value grid
# ---------------------------------------------------------------------------

def mad_outliers(
    df: DataFrame,
    *,
    value_col: str = "n_chars",
    group_col: str = "source",
    k: int = 3,
) -> DataFrame:
    """Flag per-group robust outliers of an integer metric (doc length,
    token count, line count …) via median ± k·MAD — the
    distribution-free cousin of z-score filtering that survives the
    heavy-tailed length distributions real crawl sources have. The
    data-cleaning pass FineWeb-style pipelines run per source before
    quality scoring.

    Exact order statistics, never interpolated: median = the LOWER
    median (first value whose cumulative count ≥ (n+1) div 2 — DuckDB's
    `quantile_disc(0.5)` rank, so oracles can use the native aggregate
    as an independent derivation), MAD = same statistic over
    |x − median|.

    Topology (the `auc_binary` score-grid pattern): the corpus never
    shuffles finer than its (group, value) GRID — ONE groupBy with
    map-side partials onto the grid, windows run over the tiny grid
    table, the per-group medians broadcast back; then the same once
    more for the deviation grid. A hot group costs a wide grid row
    set, not a serialized window over raw rows. Integer arithmetic
    throughout (k·MAD in int64).
    """
    def _grid_median(src: DataFrame, vcol: str) -> DataFrame:
        g = src.groupBy(group_col, vcol).agg(F.count("*").cast("long").alias("_c"))
        w = Window.partitionBy(group_col).orderBy(vcol)
        tot = Window.partitionBy(group_col)
        return (
            g.withColumn("_cum", F.sum("_c").over(w))
            .withColumn("_n", F.sum("_c").over(tot))
            .filter(F.col("_cum") >= F.expr("(_n + 1) div 2"))
            .groupBy(group_col)
            .agg(F.min(vcol).cast("long").alias("_stat"))
        )
    med = _grid_median(df, value_col).withColumnRenamed("_stat", "med")
    with_med = df.join(F.broadcast(med), group_col)
    dev = with_med.withColumn(
        "abs_dev", F.abs(F.col(value_col).cast("long") - F.col("med"))
    )
    mad = _grid_median(dev, "abs_dev").withColumnRenamed("_stat", "mad")
    return dev.join(F.broadcast(mad), group_col).withColumn(
        "is_outlier", F.col("abs_dev") > F.lit(int(k)) * F.col("mad")
    )


# ---------------------------------------------------------------------------
# Gale-Church-style sentence alignment (bitext assembly, integer costs)
# ---------------------------------------------------------------------------

def _gc_align_one(a: list, b: list, gap: int, merge: int):
    """Integer-cost Gale-Church DP over two sentence-length sequences.
    Ops and costs (all exact int64, so any engine replays it):
      11: |a_i − b_j|          21: |a_i+a_{i+1} − b_j| + merge
      12: |a_i − b_j−b_{j+1}| + merge    22: |a+a − b+b| + 2·merge
      10: a_i + gap            01: b_j + gap
    Tie-break: fixed op preference 11 < 21 < 12 < 22 < 10 < 01 with
    strict improvement required to switch — fully deterministic."""
    n, m = len(a), len(b)
    INF = float("inf")
    cost = [[INF] * (m + 1) for _ in range(n + 1)]
    back = [[None] * (m + 1) for _ in range(n + 1)]
    cost[0][0] = 0
    for i in range(n + 1):
        for j in range(m + 1):
            c = cost[i][j]
            if c is INF:
                continue
            cands = []
            if i < n and j < m:
                cands.append(("11", 1, 1, abs(a[i] - b[j])))
            if i + 1 < n and j < m:
                cands.append(("21", 2, 1, abs(a[i] + a[i + 1] - b[j]) + merge))
            if i < n and j + 1 < m:
                cands.append(("12", 1, 2, abs(a[i] - b[j] - b[j + 1]) + merge))
            if i + 1 < n and j + 1 < m:
                cands.append(
                    ("22", 2, 2,
                     abs(a[i] + a[i + 1] - b[j] - b[j + 1]) + 2 * merge)
                )
            if i < n:
                cands.append(("10", 1, 0, a[i] + gap))
            if j < m:
                cands.append(("01", 0, 1, b[j] + gap))
            for opc, di, dj, step in cands:
                nc = c + step
                if nc < cost[i + di][j + dj]:
                    cost[i + di][j + dj] = nc
                    back[i + di][j + dj] = (opc, di, dj)
    ops = []
    i, j = n, m
    while i > 0 or j > 0:
        opc, di, dj = back[i][j]
        i, j = i - di, j - dj
        ops.append((opc, i, j))
    ops.reverse()
    return int(cost[n][m]), ops


def gale_church_align(
    df: DataFrame,
    *,
    src_col: str = "src_lens",
    tgt_col: str = "tgt_lens",
    gap_penalty: int = 50,
    merge_penalty: int = 5,
) -> DataFrame:
    """Sentence-align two parallel documents by sentence LENGTH — the
    Gale & Church (1993) recipe that still assembles most bitext: after
    `url_lang_pairs` pairs the documents and `sentence_split` segments
    them, this aligns sentence k of the source to its translation(s) so
    parallel PAIRS (the actual training rows) can be emitted. Ops cover
    1-1 plus merge (2-1/1-2/2-2) and omission (1-0/0-1).

    Simplified integer cost model (|length difference| + op penalties)
    instead of the paper's Gaussian log-likelihood: the argmin path is
    the same for the regimes that matter, and exact int64 costs make
    the alignment reproducible on any engine — which is what the gate
    checks. Per-row DP is O(n·m) over sentence COUNTS (tens), run in
    ONE Arrow-vectorized pandas UDF (the documented escape hatch for
    inherently sequential per-row recurrences — same seam as the wire
    codecs); ZERO shuffle, input pruned to the two length arrays.

    Output adds `align_cost` (long) and `alignment` —
    array<struct<op:string, si:int, ti:int>> where (si, ti) anchor the
    first consumed sentence on each side (0-based; for 10/01 the
    non-consuming side repeats its current position).
    """
    import pandas as pd  # noqa: PLC0415
    from pyspark.sql import types as T  # noqa: PLC0415
    from pyspark.sql.functions import pandas_udf  # noqa: PLC0415

    out_t = T.StructType(
        [
            T.StructField("align_cost", T.LongType()),
            T.StructField(
                "alignment",
                T.ArrayType(
                    T.StructType(
                        [
                            T.StructField("op", T.StringType()),
                            T.StructField("si", T.IntegerType()),
                            T.StructField("ti", T.IntegerType()),
                        ]
                    )
                ),
            ),
        ]
    )
    gap, merge = int(gap_penalty), int(merge_penalty)

    def _align_fn(src, tgt):
        costs, aligns = [], []
        for a, b in zip(src, tgt):
            al = [int(x) for x in a] if a is not None else []
            bl = [int(x) for x in b] if b is not None else []
            c, ops = _gc_align_one(al, bl, gap, merge)
            costs.append(c)
            aligns.append([{"op": o, "si": si, "ti": ti} for o, si, ti in ops])
        return pd.DataFrame({"align_cost": costs, "alignment": aligns})

    # `from __future__ import annotations` stringifies hints module-wide,
    # which pandas_udf's type-hint inference cannot resolve against the
    # local `pd` import — attach real objects instead.
    _align_fn.__annotations__ = {
        "src": pd.Series, "tgt": pd.Series, "return": pd.DataFrame,
    }
    _align = pandas_udf(out_t)(_align_fn)

    res = _align(F.col(src_col), F.col(tgt_col))
    return df.withColumn("_gc", res).select(
        *df.columns, F.col("_gc.align_cost").alias("align_cost"),
        F.col("_gc.alignment").alias("alignment"),
    )


def weighted_sample_k(
    df: DataFrame,
    k: int,
    *,
    weight_col: str,
    groups: Sequence[str] = ("source",),
    key_col: str = "doc_id",
    seed: str = "wres",
) -> DataFrame:
    """Exact-k WEIGHTED without-replacement sample per group — the
    quality/length-weighted companion of `reservoir_sample_k` (uniform):
    pick k docs per stratum with inclusion probability that scales with
    an integer weight (quality score, n_chars, dedup-cluster size …),
    the Efraimidis-Spirakis A-Res scheme with the uniform replaced by a
    hash so every engine reproduces the identical sample.

    A-Res rank key is u^(1/w) (keep the k largest); monotonically
    equivalent is ln(u)/w. Quantized deterministic form:
    ``wres_key_q = floor( (L(u_ppm) − L(10⁶)) / w )`` with L(k) =
    floor(10⁶·ln k) and u_ppm = hash(key:seed) in [1, 10⁶] — integer
    numerator, ONE IEEE double division of identical integers on both
    engines, ONE floor (floor-of-double, never integer `div`, whose
    negative-operand truncation differs between Spark and DuckDB).
    Ties break on the key column — total order, reproducible.

    Cost: ONE shuffle on `groups` (same contract and same 100 TB
    pre-thinning advice as `reservoir_sample_k`). Weights must be ≥ 1
    integers; rows with null/smaller-than-1 weights are clamped to 1
    rather than dropped (a sampling pass must not silently lose rows).
    """
    u_ppm = portable_hash32(
        F.concat(F.col(key_col).cast("string"), F.lit(":" + seed))
    ) % 1_000_000 + 1
    w = F.greatest(F.coalesce(F.col(weight_col).cast("long"), F.lit(1)), F.lit(1))
    lnu_q = _ln_q(u_ppm) - _ln_q(F.lit(1_000_000))
    key_q = F.floor(lnu_q.cast("double") / w.cast("double")).cast("long")
    win = Window.partitionBy(*groups).orderBy(
        F.col("wres_key_q").desc(), F.col(key_col).asc()
    )
    return (
        df.withColumn("wres_key_q", key_q)
        .withColumn("sample_rank", F.row_number().over(win))
        .where(F.col("sample_rank") <= k)
    )


# ---------------------------------------------------------------------------
# Isotonic calibration (pool-adjacent-violators over the score grid)
# ---------------------------------------------------------------------------

def isotonic_calibrate(
    df: DataFrame,
    *,
    score_col: str = "score",
    label_col: str = "label",
) -> DataFrame:
    """Fit an isotonic (monotone non-decreasing) calibration map from an
    integer score grid to empirical P(label=1) — the standard post-hoc
    calibrator a reward/quality model gets when `calibration_report`
    shows diagonal gaps. Returns the MODEL table (score, n, pos,
    cal_ppm): broadcast-join it back to the corpus to apply (the same
    deploy shape as `nb_classify`'s model).

    Two-stage topology: the corpus collapses to its score GRID first
    (ONE groupBy with map-side partials — the `auc_binary` discipline:
    never shuffle finer than the score), then pool-adjacent-violators
    runs on the grid inside one `applyInPandas` task. PAV is inherently
    sequential (each merge depends on every earlier one) and the grid
    is model-sized, not corpus-sized — a thousand-point grid from 10¹²
    rows — so one task IS the scalable shape, same as any model fit.

    Exactness: block averages live as (Σlabel, n) INTEGER pairs inside
    the stack; violation tests are cross-multiplications (s₁·n₂ ≥
    s₂·n₁), never float division, and the output `cal_ppm` is the one
    exact integer division (10⁶·Σlabel div n). The isotonic L2 solution
    is unique, so the independent max-min-average oracle must reproduce
    these exact values.
    """
    import pandas as pd  # noqa: PLC0415

    grid = df.groupBy(F.col(score_col).cast("long").alias("score")).agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.col(label_col).cast("long")).cast("long").alias("pos"),
    )

    def _pav(pdf):
        pdf = pdf.sort_values("score").reset_index(drop=True)
        # stack blocks: [start_idx, pos_sum, cnt]
        blocks: list[list[int]] = []
        for i in range(len(pdf)):
            blocks.append([i, int(pdf.pos[i]), int(pdf.n[i])])
            # pool while the previous block's average exceeds (or equals
            # within pooling: strictly greater violates monotonicity)
            while len(blocks) > 1:
                s2, c2 = blocks[-1][1], blocks[-1][2]
                s1, c1 = blocks[-2][1], blocks[-2][2]
                if s1 * c2 > s2 * c1:  # avg(prev) > avg(cur): violation
                    blocks[-2][1] += s2
                    blocks[-2][2] += c2
                    blocks.pop()
                else:
                    break
        cal = [0] * len(pdf)
        for bi, (start, s, c) in enumerate(blocks):
            end = blocks[bi + 1][0] if bi + 1 < len(blocks) else len(pdf)
            v = (s * 1_000_000) // c
            for i in range(start, end):
                cal[i] = v
        return pd.DataFrame(
            {
                "score": pdf.score,
                "n": pdf.n,
                "pos": pdf.pos,
                "cal_ppm": pd.Series(cal, dtype="int64"),
            }
        )

    return grid.groupBy(F.lit(0).alias("_g")).applyInPandas(
        _pav, "score long, n long, pos long, cal_ppm long"
    )


# ---------------------------------------------------------------------------
# Edit-distance similarity self-join (q-gram count filter + verify)
# ---------------------------------------------------------------------------

def edit_distance_join(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 2,
    q: int = 2,
    max_df: int | None = None,
) -> DataFrame:
    """All pairs of rows whose strings are within Levenshtein distance
    `k` — the fuzzy-match self-join behind entity resolution, typo-tier
    near-dup detection, and label reconciliation. NEVER all-pairs: the
    classic q-gram COUNT FILTER prunes first (Gravano et al., VLDB'01):
    ed(s,t) ≤ k ⇒ s and t share ≥ max(|s|,|t|) − q + 1 − q·k q-gram
    occurrences, so candidates come from ONE gram equi-join + groupBy
    pair, and only survivors pay a `levenshtein` verify (JVM built-in,
    also the oracle's exhaustive check).

    Join-on-equality counts occurrence PAIRS, which upper-bounds the
    multiset intersection — the threshold test stays a necessary
    condition (zero false negatives; extra candidates just verify-fail).

    Scale guards, both optional-but-default-sane:
      * pairs whose shorter string has < q·(k+1) chars carry a
        non-positive gram threshold (gram evidence can't prune) — they
        route through a short-string block: a length-banded join over
        ONLY the sub-q·(k+1)+k-length slice, which is vocabulary-tiny.
      * `max_df` prunes grams appearing in more than `max_df` rows (the
        LSH hot-bucket discipline applied to "th"/"in" stopgrams). The
        count threshold self-adjusts by each string's pruned-occurrence
        count, so pruning NEVER drops a true pair — it only sends a few
        more candidates to verify.

    Output: (id_a, id_b, dist) with id_a < id_b. Shuffles: gram join
    (hash on gram), pair groupBy, two id join-backs — all keyed, no
    broadcast of the corpus.
    """
    s_thresh = q * (k + 1)
    base = df.select(
        F.col(id_col).alias("_id"),
        F.col(text_col).alias("_s"),
        F.length(text_col).cast("int").alias("_len"),
    )
    # substring with a column start is only available via expr
    grams = base.where(F.col("_len") >= q).select(
        "_id",
        "_len",
        F.posexplode(
            F.expr(
                f"transform(sequence(1, _len - {q - 1}),"
                f" i -> substring(_s, i, {q}))"
            )
        ).alias("_pos", "_gram"),
    ).drop("_pos")
    pruned_per_id = None
    hot_ids = None
    if max_df is not None:
        gram_df = grams.groupBy("_gram").agg(
            F.countDistinct("_id").alias("_df")
        )
        grams = grams.join(F.broadcast(gram_df.where(F.col("_df") > max_df)),
                           "_gram", "left_anti")
        kept = grams.groupBy("_id").agg(F.count("*").alias("_kept"))
        pruned_per_id = base.select("_id", "_len").join(kept, "_id", "left").select(
            "_id",
            "_len",
            (
                F.greatest(F.col("_len") - (q - 1), F.lit(0))
                - F.coalesce(F.col("_kept"), F.lit(0))
            ).alias("_pruned"),
        )
        # a string dominated by pruned grams can no longer be pruned BY
        # grams at all: if 2·pruned > len − q − q·k the pairwise adjusted
        # threshold may hit ≤ 0 with a same-shape partner, and such a pair
        # never even reaches the join (zero shared kept grams). Route these
        # HOT strings through the exhaustive length-band block — safe by
        # the same argument as the short block, and small unless max_df is
        # set absurdly low (every string stopgram-dominated).
        hot_ids = pruned_per_id.where(
            F.col("_pruned") * 2 > F.col("_len") - q - q * k
        ).select("_id")
        grams = grams.join(F.broadcast(hot_ids), "_id", "left_anti")
    ga = grams.select(
        F.col("_id").alias("_ida"), F.col("_len").alias("_la"), "_gram"
    )
    gb = grams.select(
        F.col("_id").alias("_idb"), F.col("_len").alias("_lb"), "_gram"
    )
    cand = (
        ga.join(gb, "_gram")
        .where(
            (F.col("_ida") < F.col("_idb"))
            & (F.abs(F.col("_la") - F.col("_lb")) <= k)
            & (F.least("_la", "_lb") >= s_thresh)
        )
        .groupBy("_ida", "_idb", "_la", "_lb")
        .agg(F.count("*").alias("_shared"))
    )
    thresh = F.greatest("_la", "_lb") - (q - 1) - q * k
    if pruned_per_id is not None:
        cand = (
            cand.join(
                pruned_per_id.select(
                    F.col("_id").alias("_ida"), F.col("_pruned").alias("_pa")
                ),
                "_ida",
            )
            .join(
                pruned_per_id.select(
                    F.col("_id").alias("_idb"), F.col("_pruned").alias("_pb")
                ),
                "_idb",
            )
        )
        thresh = thresh - F.col("_pa") - F.col("_pb")
    cand = cand.where(F.col("_shared") >= thresh).select("_ida", "_idb")
    if hot_ids is not None:
        ha = hot_ids.join(base, "_id").select(
            F.col("_id").alias("_ida"), F.col("_len").alias("_la")
        )
        hb = base.select(F.col("_id").alias("_idb"), F.col("_len").alias("_lb"))
        hot_cand = (
            ha.join(
                hb,
                (F.col("_ida") != F.col("_idb"))
                & (F.abs(F.col("_la") - F.col("_lb")) <= k),
            )
            .select(
                F.least("_ida", "_idb").alias("_ida"),
                F.greatest("_ida", "_idb").alias("_idb"),
            )
        )
        cand = cand.unionByName(hot_cand)
    # short-string block: any true pair with min length < q(k+1) has both
    # lengths < q(k+1)+k — a tiny slice, length-banded self join
    short = base.where(F.col("_len") < s_thresh + k)
    sa = short.select(
        F.col("_id").alias("_ida"), F.col("_len").alias("_la")
    )
    sb = short.select(
        F.col("_id").alias("_idb"), F.col("_len").alias("_lb")
    )
    short_cand = (
        sa.join(
            sb,
            (F.col("_ida") < F.col("_idb"))
            & (F.abs(F.col("_la") - F.col("_lb")) <= k)
            & (F.least("_la", "_lb") < s_thresh),
        )
        .select("_ida", "_idb")
    )
    all_cand = cand.unionByName(short_cand).distinct()
    verified = (
        all_cand.join(
            base.select(F.col("_id").alias("_ida"), F.col("_s").alias("_sa")),
            "_ida",
        )
        .join(
            base.select(F.col("_id").alias("_idb"), F.col("_s").alias("_sb")),
            "_idb",
        )
        .withColumn("dist", F.levenshtein("_sa", "_sb").cast("long"))
        .where(F.col("dist") <= k)
    )
    return verified.select(
        F.col("_ida").alias("id_a"), F.col("_idb").alias("id_b"), "dist"
    )


# ---------------------------------------------------------------------------
# Cross-source budget water-filling + quantile normalization
# ---------------------------------------------------------------------------

def waterfill_budget(
    counts: DataFrame,
    budget: int,
    *,
    group_col: str = "source",
    avail_col: str = "n_avail",
) -> DataFrame:
    """Split a GLOBAL budget across sources by water-filling — the
    cross-source half of the mix decision (`token_budget_mix` then
    selects WITHIN each source): every source gets min(n_avail, c) for
    the highest integer water level c the budget covers, and the
    sub-level remainder goes +1 to the first still-capped sources in
    name order, so Σ alloc == min(budget, Σ n_avail) EXACTLY. The
    equal-share-with-availability-caps rule is what "uniform mixing"
    means when sources differ by orders of magnitude.

    Input is the per-source count table (one groupBy upstream of here —
    sources-sized, not corpus-sized); everything below is windows over
    that tiny table. Exact int64 throughout: the level for each sorted
    prefix is (budget − prefix) div (remaining), validity is a pure
    integer sandwich test, and exactly one prefix row is valid (proved
    by monotonicity; ties impossible since validity intervals
    partition). Output: (group, n_avail, alloc, water_level).
    """
    w = Window.orderBy(F.col("_n").asc(), F.col("_g").asc())
    base = counts.select(
        F.col(group_col).alias("_g"), F.col(avail_col).cast("long").alias("_n")
    )
    idx = (
        base.withColumn("_i", F.row_number().over(w))
        .withColumn("_pfx", F.sum("_n").over(w) - F.col("_n"))
        .withColumn("_S", F.count("*").over(Window.partitionBy()))
        .withColumn("_tot", F.sum("_n").over(Window.partitionBy()))
    )
    b = F.lit(int(budget))
    # candidate level if the water line lands in [n_{i-1}, n_i)
    cand = idx.withColumn(
        "_c", F.expr(f"({int(budget)} - _pfx) div (_S - _i + 1)")
    ).withColumn(
        "_prev_n",
        F.lag("_n", 1, 0).over(w),
    )
    level_row = cand.where(
        (b < F.col("_tot"))
        & (F.col("_c") >= F.col("_prev_n"))
        & (F.col("_c") < F.col("_n"))
    ).select(
        F.col("_c").alias("_level"),
        (b - F.col("_pfx") - F.col("_c") * (F.col("_S") - F.col("_i") + 1))
        .alias("_rem"),
    )
    # budget >= total: everyone fully funded, level = max(n)
    full = idx.groupBy().agg(
        F.max("_n").alias("_level"),
        F.lit(0).cast("long").alias("_rem"),
        F.sum("_n").alias("_tot2"),
    ).where(F.col("_tot2") <= b).drop("_tot2")
    lvl = level_row.unionByName(full)
    out = idx.crossJoin(F.broadcast(lvl))
    w_capped = Window.orderBy(F.col("_g").asc())
    out = out.withColumn(
        "_capped", (F.col("_n") > F.col("_level")).cast("int")
    ).withColumn(
        "_capped_rank",
        F.sum("_capped").over(
            w_capped.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    alloc = (
        F.least(F.col("_n"), F.col("_level"))
        + F.when(
            (F.col("_capped") == 1) & (F.col("_capped_rank") <= F.col("_rem")),
            F.lit(1),
        ).otherwise(F.lit(0))
    )
    return out.select(
        F.col("_g").alias(group_col),
        F.col("_n").alias(avail_col),
        alloc.cast("long").alias("alloc"),
        F.col("_level").cast("long").alias("water_level"),
    )


def quantile_normalize(
    df: DataFrame,
    *,
    value_col: str = "n_chars",
    group_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Map every row's WITHIN-GROUP rank onto the GLOBAL value at the
    same quantile — quantile normalization across sources, the fix for
    "source A's quality scores run hot": after it, one corpus-wide
    threshold means the same thing in every source. (The microarray
    normalization recipe, applied to heterogeneous quality signals.)

    Exact integer order statistics end to end:
      q_ppm   = (r − 1)·10⁶ div (n_g − 1)   (r = row_number by
                (value, id) within the group; single-row groups get the
                median, q = 500000)
      target  = 1 + (q_ppm · (N − 1) + 5·10⁵) div 10⁶   (global rank,
                ROUNDED — floor would lose one rank to the q_ppm
                quantization and break the single-group identity;
                with rounding, one group over the whole corpus
                normalizes to itself for N < 5·10⁵ and within one
                quantization step beyond)
      norm    = the global value whose cumulative count first reaches
                `target` — the same lower-order-statistic rule as
                `mad_outliers`, so DuckDB can replay it with windows.

    Topology: per-group ranks are ONE window shuffle on the group; the
    global side collapses to its VALUE GRID (groupBy + map-side
    partials — never a global sort of raw rows) and the grid joins back
    by a broadcast range join on the cumulative-count interval. At
    10¹² rows the grid is |distinct values|-sized and the corpus
    shuffles exactly once.
    """
    v = F.col(value_col).cast("long")
    wg = Window.partitionBy(group_col).orderBy(
        F.col("_v").asc(), F.col(id_col).asc()
    )
    cg = Window.partitionBy(group_col)
    ranked = df.select(
        F.col(id_col), F.col(group_col), v.alias("_v")
    ).withColumn("_r", F.row_number().over(wg)).withColumn(
        "_ng", F.count("*").over(cg)
    )
    q_ppm = F.when(
        F.col("_ng") > 1,
        F.expr("(_r - 1) * 1000000 div (_ng - 1)"),
    ).otherwise(F.lit(500_000))
    ranked = ranked.withColumn("_q", q_ppm.cast("long"))
    grid = (
        df.groupBy(v.alias("_gv"))
        .agg(F.count("*").cast("long").alias("_c"))
    )
    wv = Window.orderBy(F.col("_gv").asc())
    grid = grid.withColumn("_cum", F.sum("_c").over(wv)).withColumn(
        "_cum_prev", F.col("_cum") - F.col("_c")
    ).crossJoin(
        F.broadcast(df.groupBy().agg(F.count("*").cast("long").alias("_N")))
    )
    # broadcast range join: target rank falls in (_cum_prev, _cum]
    tgt = "1 + (_q * (_N - 1) + 500000) div 1000000"
    out = ranked.join(
        F.broadcast(grid),
        (F.expr(tgt) > F.col("_cum_prev")) & (F.expr(tgt) <= F.col("_cum")),
    )
    return out.select(
        F.col(id_col),
        F.col(group_col),
        F.col("_v").alias(value_col),
        F.col("_q").alias("q_ppm"),
        F.col("_gv").alias("norm_value"),
    )


# ---------------------------------------------------------------------------
# Rank correlation between two rankers (Kendall tau-a, Spearman rho)
# ---------------------------------------------------------------------------

def rank_correlation(
    df: DataFrame,
    *,
    group_col: str = "qid",
    item_col: str = "item",
    score_a_col: str = "score_a",
    score_b_col: str = "score_b",
) -> DataFrame:
    """Per-group agreement between two rankers — Kendall tau-a and
    Spearman rho over the items of each query/prompt, the eval that says
    whether a cheap reranker (or a distilled reward model) orders
    candidates like the expensive one. Complements
    `ranking_metrics` (agreement with binary qrels) with
    ranker-vs-ranker agreement.

    Ranks are row_numbers by (score DESC, item ASC) — the deterministic
    no-ties convention both engines replay, so tau-a (no tie term) is
    the right variant. Per group:
      sum_d2   = Σ (rank_a − rank_b)²                  (exact int)
      tau_ppm  = floor(10⁶·(C − D) / (n(n−1)/2))
      rho_ppm  = floor(10⁶·(1 − 6·Σd²/(n(n²−1))))
    Numerators can be negative, so both metrics floor ONE double
    division of exact-integer operands (never integer `div`, whose
    negative truncation differs across engines); operands stay ≤ ~10¹²
    for n ≤ 10⁴, well inside exact-double range. Groups with n < 2
    emit null metrics.

    Topology: two rank windows + ONE groupBy on the group key; the
    discordant-pair count is ARRAY-LOCAL (collect ranks sorted by
    rank_a, count inversions of the rank_b sequence — O(n²) per group,
    fine for candidate-list-sized n; a merge-sort inversion count in a
    Pandas UDF is the same seam if n grows).
    """
    wa = Window.partitionBy(group_col).orderBy(
        F.col(score_a_col).desc(), F.col(item_col).asc()
    )
    wb = Window.partitionBy(group_col).orderBy(
        F.col(score_b_col).desc(), F.col(item_col).asc()
    )
    ranked = df.select(
        F.col(group_col).alias("_q"),
        F.row_number().over(wa).alias("_ra"),
        F.row_number().over(wb).alias("_rb"),
    )
    g = ranked.groupBy("_q").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(
            (F.col("_ra") - F.col("_rb")) * (F.col("_ra") - F.col("_rb"))
        ).cast("long").alias("sum_d2"),
        F.sort_array(F.collect_list(F.struct("_ra", "_rb"))).alias("_seq"),
    )
    rb = F.transform(F.col("_seq"), lambda s: s["_rb"])
    n_ = F.col("n")
    disc = F.aggregate(
        F.sequence(F.lit(1), n_.cast("int") - 1),
        F.lit(0).cast("long"),
        lambda acc, i: acc
        + F.size(
            F.filter(
                F.slice(rb, i + 1, n_.cast("int")),
                lambda x: x < F.element_at(rb, i),
            )
        ).cast("long"),
    )
    out = g.withColumn("_disc", F.when(n_ > 1, disc)).select(
        F.col("_q").alias(group_col),
        "n",
        "sum_d2",
        F.when(
            n_ > 1,
            F.floor(
                (
                    (n_ * (n_ - 1) - 4 * F.col("_disc")).cast("double")
                    / (n_ * (n_ - 1)).cast("double")
                )
                * F.lit(1_000_000.0)
            ).cast("long"),
        ).alias("tau_ppm"),
        F.when(
            n_ > 1,
            F.floor(
                (
                    (n_ * (n_ * n_ - 1) - 6 * F.col("sum_d2")).cast("double")
                    / (n_ * (n_ * n_ - 1)).cast("double")
                )
                * F.lit(1_000_000.0)
            ).cast("long"),
        ).alias("rho_ppm"),
    )
    return out


def mix_divergence(
    counts: DataFrame,
    target_weights: dict[str, int],
    *,
    group_col: str = "source",
    count_col: str = "n",
) -> DataFrame:
    """How far the realized corpus mix is from a target mix — per-source
    and total KL divergence KL(p‖q) in quantized micro-nats, the drift
    report a mix pipeline emits every rebuild (did upweighting actually
    move the distribution?).

    `target_weights` are plan-time INTEGER weights (q_i = w_i / W), so
    with L(k) = floor(10⁶·ln k) every term is exact int64:

        contrib_i = c_i · (L(c_i) − L(N) − L(w_i) + L(W))
        kl_micro  = (Σ contrib_i) div N

    Sources present in the corpus but absent from the target get q = 0
    — infinite KL in theory, surfaced honestly as `in_target = false`
    with null contribution instead of a fake large number (the caller
    decides whether rogue sources are an error). Topology: windows and
    arithmetic over the sources-sized count table only; the corpus
    never appears (one groupBy upstream).
    """
    w_total = sum(int(v) for v in target_weights.values())
    pairs = F.create_map(
        *[
            x
            for kv in target_weights.items()
            for x in (F.lit(kv[0]), F.lit(int(kv[1])))
        ]
    )
    base = counts.select(
        F.col(group_col).alias("_g"), F.col(count_col).cast("long").alias("_c")
    ).withColumn("_w", pairs[F.col("_g")])
    tot = base.groupBy().agg(F.sum("_c").cast("long").alias("_N"))
    b = base.crossJoin(F.broadcast(tot))
    contrib = F.col("_c") * (
        _ln_q(F.col("_c"))
        - _ln_q(F.col("_N"))
        - _ln_q(F.col("_w"))
        + _ln_q(F.lit(w_total))
    )
    scored = b.select(
        F.col("_g").alias(group_col),
        F.col("_c").alias(count_col),
        F.col("_w").isNotNull().alias("in_target"),
        F.when(F.col("_w").isNotNull(), contrib).alias("kl_contrib_micro"),
        F.col("_N").alias("_N"),
    )
    total = scored.groupBy().agg(
        F.when(
            F.sum(F.when(~F.col("in_target"), 1).otherwise(0)) == 0,
            F.expr("CAST(sum(kl_contrib_micro) div first(_N) AS LONG)"),
        ).alias("kl_micro_total")
    )
    return scored.crossJoin(F.broadcast(total)).drop("_N")


def rendezvous_shard(
    df: DataFrame,
    shards: Sequence[str],
    *,
    key_col: str = "doc_id",
    seed: str = "hrw",
) -> DataFrame:
    """Assign every row to a shard by rendezvous (highest-random-weight)
    hashing: shard = argmax over s of hash(key, s). Unlike
    `shard_assign`'s `hash % n` (fixed shard count), HRW gives MINIMAL
    MOVEMENT under resharding — adding a shard relocates only the ~1/(n+1)
    of keys whose new argmax IS the new shard; keys never move between
    surviving shards. That is the property a 10¹²-row export cares
    about: growing the shard set re-writes one new shard's worth of
    data, not the whole corpus.

    Pure column algebra (the shard list is a plan-time literal array;
    per-row work is |shards| portable hashes + one array sort), ZERO
    shuffle — assignment fuses into the scan. Ties break on shard name
    via the (−hash, shard) struct sort, engine-reproducible. For
    hundreds of shards the O(|shards|) per-row cost still beats a
    shuffle; for many thousands, pre-bucket with `hash % B` then HRW
    within the bucket's shard slice.
    """
    key = F.col(key_col).cast("string")
    cands = F.array(
        *[
            F.struct(
                (-portable_hash32(
                    F.concat(key, F.lit(":" + seed + ":" + str(s)))
                )).alias("nh"),
                F.lit(str(s)).alias("shard"),
            )
            for s in shards
        ]
    )
    return df.withColumn("shard", F.sort_array(cands)[0]["shard"])


def winsorize(
    df: DataFrame,
    *,
    value_col: str = "n_chars",
    group_col: str = "source",
    lo_ppm: int = 50_000,
    hi_ppm: int = 950_000,
) -> DataFrame:
    """Clip an integer metric to its per-group [lo, hi] percentile band
    — winsorization, the gentler sibling of `mad_outliers` (clamp the
    tails instead of flagging them) used before averaging per-source
    statistics that a few giant documents would otherwise own.

    Percentile rank is the exact integer lower order statistic
    r(q) = 1 + ((n−1)·q_ppm div 10⁶) — evaluated over the (group,
    value) GRID, never a raw-row sort (the `mad_outliers` topology: one
    grid groupBy with map-side partials, windows over the grid,
    per-group bounds broadcast back). Deliberately NOT the engine-
    native quantile function in oracles: 0.95 has no exact double
    representation, so floor((n−1)·0.95) disagrees with the integer
    rank exactly when (n−1) is a multiple of 20 — the ppm-integer rank
    is the portable definition.

    Output adds `lo`, `hi`, `clipped` (the clamped value) and
    `was_clipped`.
    """
    def _grid_pct(src: DataFrame, vcol: str, q_ppm: int, name: str) -> DataFrame:
        g = src.groupBy(group_col, vcol).agg(F.count("*").cast("long").alias("_c"))
        w = Window.partitionBy(group_col).orderBy(vcol)
        tot = Window.partitionBy(group_col)
        return (
            g.withColumn("_cum", F.sum("_c").over(w))
            .withColumn("_n", F.sum("_c").over(tot))
            .filter(
                F.col("_cum")
                >= F.expr(f"1 + ((_n - 1) * {int(q_ppm)}) div 1000000")
            )
            .groupBy(group_col)
            .agg(F.min(vcol).cast("long").alias(name))
        )
    lo = _grid_pct(df, value_col, lo_ppm, "lo")
    hi = _grid_pct(df, value_col, hi_ppm, "hi")
    out = df.join(F.broadcast(lo), group_col).join(F.broadcast(hi), group_col)
    v = F.col(value_col).cast("long")
    clipped = F.greatest(F.col("lo"), F.least(F.col("hi"), v))
    return out.withColumn("clipped", clipped).withColumn(
        "was_clipped", clipped != v
    )


def rbo_overlap(
    df: DataFrame,
    *,
    group_col: str = "qid",
    list_a_col: str = "list_a",
    list_b_col: str = "list_b",
    k: int = 10,
    p_tenths: int = 9,
) -> DataFrame:
    """Rank-biased overlap at depth k (Webber et al. 2010, the truncated
    sum) between two top-k item lists per group — the top-weighted
    agreement metric for comparing rankers where `rank_correlation`'s
    whole-list view over-weights the tail: RBO discounts depth d by
    p^(d−1), so disagreement at rank 1 costs ~10× rank 10 at p=0.9.

        rbo = (1−p) · Σ_{d=1..k} p^(d−1) · |A_d ∩ B_d| / d

    Determinism: the depth weights (1−p)·p^(d−1)/d are computed ONCE in
    Python and embedded as double literals in the plan (and the gate
    embeds the same literals in its oracle SQL) — no pow() in either
    engine, and the sum is unrolled left-to-right in depth order, so
    every float op is the identical IEEE sequence and the single
    floor(10⁶·rbo) agrees bit-for-bit. Overlap sizes |A_d ∩ B_d| are
    exact ints from array_intersect over prefix slices (lists are
    assumed duplicate-free, the top-k contract).

    Array-local, zero shuffle, O(k²) per row. Short lists are handled
    by clamping d to each list's length (standard truncated-RBO
    extrapolation is NOT applied — the gate pins the plain truncated
    sum, stated here so no one mistakes it for RBO_ext).
    """
    p = p_tenths / 10.0
    weights = [((1 - p) * (p ** d)) / (d + 1) for d in range(k)]
    a, b = F.col(list_a_col), F.col(list_b_col)
    total = None
    for d in range(1, k + 1):
        xd = F.size(
            F.array_intersect(F.slice(a, 1, d), F.slice(b, 1, d))
        ).cast("double")
        term = xd * F.lit(weights[d - 1])
        total = term if total is None else total + term
    return df.withColumn(
        "rbo_ppm", F.floor(total * F.lit(1_000_000.0)).cast("long")
    )


# ---------------------------------------------------------------------------
# Corpus-version vocabulary drift (release-over-release distribution diff)
# ---------------------------------------------------------------------------


def vocab_drift(a: DataFrame, b: DataFrame, *, text_col: str = "text") -> DataFrame:
    """One-row distribution diff between two corpus VERSIONS — the
    release gate a 100 TB pipeline runs before swapping a new crawl in:
    did the token distribution actually move, and by how much?

    Reports type-level churn (new / lost / common vocabulary) and two
    exact distances over the unigram distributions p (version a) and
    q (version b):

    * `js_micro` — Jensen-Shannon divergence in quantized micro-nats.
      With integer counts a_i (total A) and b_i (total B), every log
      argument is an exact integer ratio:

          p_i/m_i = 2·a_i·B / (a_i·B + b_i·A)
          JS = (Σ a_i·[L(2a_iB) − L(a_iB + b_iA)] / A
              + Σ b_i·[L(2b_iA) − L(a_iB + b_iA)] / B) / 2

      where L(k) = floor(10⁶·ln k) (the shared `_ln_q` unit). The two
      integer contribution sums are divided as doubles ONCE at the end
      and floored — both engines perform the identical IEEE sequence on
      identical int64 sums, so the result is bit-reproducible. JS is
      symmetric and bounded by ln 2 (≤ 693147 micro-nats), unlike the
      KL in `mix_divergence`, which is the right shape for "how far is
      the realized mix from a target" but not for version-vs-version.
    * `tv_ppm` — total variation ½·Σ|p_i − q_i| in exact ppm:
      (Σ|a_i·B − b_i·A|) · 500000 div (A·B). The whole TV path runs in
      DECIMAL(38,0): Σ|a_i·B − b_i·A| can reach 2·A·B, so the ·500000
      numerator and the A·B divisor both exceed int64 once A·B >
      ~9.2e12 — corpora of only a few million tokens each under high
      drift. int64 here would wrap silently in Spark while DuckDB
      raises; DECIMAL(38,0) holds up to A·B ≤ ~10¹⁹ per side (≈10³⁷
      for the scaled numerator) and `div` floors identically on both
      engines (all terms positive).

    Topology: each corpus is tokenized and collapsed to its vocab ONCE
    (groupBy(token) with map-side partials); the two vocab tables
    full-outer join on token (vocab-sized shuffle, never corpus-sized);
    totals come from summing THE SAME joined vocab table (Σ counts =
    total tokens — one lineage, so a non-deterministic input, e.g. a
    sample(), cannot make totals disagree with the vocab counts) and
    broadcast back; ONE final single-row aggregate. At trillion-token
    scale the L arguments a_i·B overflow int64 — route the three
    products through DECIMAL(38,0) before `_ln_q` (ln only needs ~15
    significant digits; the quantized unit is unchanged).
    """
    def vocab(df: DataFrame, out: str) -> DataFrame:
        return (
            df.select(F.explode(nb_tokens(F.col(text_col))).alias("_t"))
            .groupBy("_t")
            .agg(F.count("*").cast("long").alias(out))
        )

    j = (
        vocab(a, "_a")
        .join(vocab(b, "_b"), "_t", "full_outer")
        .select(
            "_t",
            F.coalesce("_a", F.lit(0)).cast("long").alias("_av"),
            F.coalesce("_b", F.lit(0)).cast("long").alias("_bv"),
        )
    )
    # totals = Σ counts over the SAME joined vocab table (one lineage —
    # a non-deterministic input can't make totals diverge from the vocab
    # counts, and it's a vocab-sized pass, cheaper than re-scanning the
    # corpus). The rename-projection below sidesteps Spark's aggregate-
    # child AMBIGUOUS_REFERENCE when the same plan feeds both crossJoin
    # branches: distinct names everywhere above j keep resolution clean.
    tot = (
        j.select(F.col("_av").alias("_ta"), F.col("_bv").alias("_tb"))
        .groupBy()
        .agg(
            F.sum("_ta").cast("long").alias("_A"),
            F.sum("_tb").cast("long").alias("_B"),
        )
    )
    x = j.crossJoin(F.broadcast(tot))
    den = _ln_q(F.col("_av") * F.col("_B") + F.col("_bv") * F.col("_A"))
    cp = F.when(
        F.col("_av") > 0,
        F.col("_av") * (_ln_q(F.lit(2) * F.col("_av") * F.col("_B")) - den),
    ).otherwise(F.lit(0))
    cq = F.when(
        F.col("_bv") > 0,
        F.col("_bv") * (_ln_q(F.lit(2) * F.col("_bv") * F.col("_A")) - den),
    ).otherwise(F.lit(0))
    # TV in DECIMAL(38,0) end-to-end: |a_i·B − b_i·A| sums to ≤ 2·A·B,
    # past int64 once A·B > ~9.2e12 (silent wrap in Spark, raise in
    # DuckDB — the engines would diverge exactly when it matters).
    dec = "decimal(20,0)"
    tv = F.abs(
        F.col("_av").cast(dec) * F.col("_B").cast(dec)
        - F.col("_bv").cast(dec) * F.col("_A").cast(dec)
    )
    s = x.groupBy().agg(
        F.sum(F.when(F.col("_av") > 0, 1).otherwise(0)).cast("long").alias("types_a"),
        F.sum(F.when(F.col("_bv") > 0, 1).otherwise(0)).cast("long").alias("types_b"),
        F.sum(F.when((F.col("_av") > 0) & (F.col("_bv") > 0), 1).otherwise(0))
        .cast("long")
        .alias("types_common"),
        F.sum(F.when((F.col("_bv") > 0) & (F.col("_av") == 0), 1).otherwise(0))
        .cast("long")
        .alias("types_new"),
        F.sum(F.when((F.col("_av") > 0) & (F.col("_bv") == 0), 1).otherwise(0))
        .cast("long")
        .alias("types_lost"),
        F.max("_A").alias("tokens_a"),
        F.max("_B").alias("tokens_b"),
        F.sum(cp).cast("long").alias("_sp"),
        F.sum(cq).cast("long").alias("_sq"),
        F.sum(tv).cast("decimal(38,0)").alias("_stv"),
    )
    return s.select(
        "types_a",
        "types_b",
        "types_common",
        "types_new",
        "types_lost",
        "tokens_a",
        "tokens_b",
        F.floor(
            (
                F.col("_sp").cast("double") / F.col("tokens_a")
                + F.col("_sq").cast("double") / F.col("tokens_b")
            )
            / F.lit(2.0)
        )
        .cast("long")
        .alias("js_micro"),
        F.expr(
            "(_stv * 500000) div"
            " (CAST(tokens_a AS DECIMAL(20,0)) * CAST(tokens_b AS DECIMAL(20,0)))"
        )
        .cast("long")
        .alias("tv_ppm"),
    )


# ---------------------------------------------------------------------------
# Dedup audit (cluster-size histogram + duplicate byte accounting)
# ---------------------------------------------------------------------------


def dedup_audit(
    df: DataFrame,
    *,
    key_col: str | None = None,
    id_col: str = "doc_id",
    chars_col: str = "n_chars",
    text_col: str = "text",
) -> DataFrame:
    """Observability for a dedup pass BEFORE it runs: the duplicate-
    cluster size histogram and the bytes a keep-one-survivor policy
    would reclaim. At 100 TB this one report decides whether exact
    dedup is worth a full-corpus shuffle at all (a corpus whose
    histogram is all size-1 clusters needs near-dup, not exact), and
    per-size rows expose pathological mega-clusters (boilerplate pages,
    empty docs) that need the star-guard treatment.

    Keys default to `dedup_key_text(text)` (the Dolma/FineWeb canonical
    key); pass `key_col` to audit any precomputed grouping. Survivor =
    min(id) per cluster (the `dedupe`/`connected_components` canonical
    rule), so `chars_dup` is exactly the bytes a keep-min-survivor
    dedup deletes.

    Topology: ONE groupBy(key) with map-side partials (the corpus
    shuffle any exact dedup pays anyway), then ONE groupBy(size) over
    the cluster table — output rows = |distinct sizes|, table-size-
    independent. No windows, no joins back.
    """
    key = F.col(key_col) if key_col else dedup_key_text(F.col(text_col))
    clusters = (
        df.select(
            key.alias("_k"),
            F.col(id_col).alias("_id"),
            F.col(chars_col).cast("long").alias("_c"),
        )
        .groupBy("_k")
        .agg(
            F.count("*").cast("long").alias("_size"),
            F.sum("_c").cast("long").alias("_chars"),
            F.min_by("_c", F.col("_id")).cast("long").alias("_kept"),
        )
    )
    return (
        clusters.groupBy(F.col("_size").alias("cluster_size"))
        .agg(
            F.count("*").cast("long").alias("n_clusters"),
            F.sum("_size").cast("long").alias("n_docs"),
            (F.sum("_size") - F.count("*")).cast("long").alias("n_dup_docs"),
            F.sum(F.col("_chars") - F.col("_kept")).cast("long").alias("chars_dup"),
        )
    )


# ---------------------------------------------------------------------------
# Next-fit-decreasing sequence packing (doc boundaries preserved)
# ---------------------------------------------------------------------------


def pack_next_fit(
    df: DataFrame,
    *,
    capacity: int,
    id_col: str = "doc_id",
    len_col: str = "n_tok",
    n_shards: int = 8,
    partitions: int | None = None,
) -> DataFrame:
    """Greedy next-fit-decreasing bin packing that NEVER splits a
    document — the packing mode for SFT / eval batches where a truncated
    document is a corrupted example (`pack_concat_chunks` is the
    pretraining mode: maximal density, boundaries crossed). Docs are
    sharded by portable hash, ordered longest-first within each shard
    (decreasing order is the classical 2x-quality lever for next-fit),
    and placed sequentially: a doc joins the current bin while
    load + len <= capacity, else opens a new bin. A doc longer than
    `capacity` gets a bin of its own (surfaced by negative slack
    downstream, never silently truncated).

    Scale shape: the sequential recurrence runs as ONE streaming pass —
    repartition on the shard column, sortWithinPartitions, then a
    mapInPandas generator that carries O(#shards-in-partition) counters
    across Arrow batches. No shard is ever collected whole; `n_shards`
    is the parallelism lever (each shard is an independent packing
    stream, so output is invariant to `partitions`). Assignment depends
    only on within-shard order => deterministic and engine-replayable
    (the gate's oracle replays the walk as a recursive CTE).
    """
    import pandas as pd  # noqa: PLC0415

    id_t = df.schema[id_col].dataType.simpleString()
    cap = int(capacity)
    shard = (
        portable_hash32(F.concat(F.col(id_col).cast("string"), F.lit(":nfd")))
        % n_shards
    ).cast("int")
    base = df.select(
        F.col(id_col).alias("_id"),
        F.col(len_col).cast("long").alias("_len"),
        shard.alias("_shard"),
    )
    arranged = base.repartition(partitions or n_shards, "_shard").sortWithinPartitions(
        "_shard", F.col("_len").desc(), "_id"
    )

    def walk(batches):
        state: dict[int, list[int]] = {}  # shard -> [bin, load]
        for pdf in batches:
            bins = []
            for s, ln in zip(pdf["_shard"].tolist(), pdf["_len"].tolist()):
                st = state.get(s)
                if st is None:
                    state[s] = [0, ln]
                elif st[1] + ln <= cap:
                    st[1] += ln
                else:
                    st[0] += 1
                    st[1] = ln
                bins.append(state[s][0])
            yield pdf.assign(_bin=pd.Series(bins, dtype="int64").values)

    out = arranged.mapInPandas(
        walk, schema=f"_id {id_t}, _len long, _shard int, _bin long"
    )
    return out.select(
        F.col("_id").alias(id_col),
        F.col("_shard").alias("shard"),
        F.col("_len").alias(len_col),
        F.col("_bin").alias("bin"),
    )


# ---------------------------------------------------------------------------
# Zipf head fit (corpus rank-frequency law, tokenizer/corpus QA)
# ---------------------------------------------------------------------------


def zipf_fit(
    df: DataFrame, *, text_col: str = "text", top_k: int = 100
) -> DataFrame:
    """Fit the Zipf rank-frequency law over the corpus HEAD — the
    one-row corpus-QA stat a tokenizer/crawl release gate reads next to
    `vocab_drift`: a healthy natural-language corpus fits
    ln(count) ≈ intercept + slope·ln(rank) with slope ≈ −1 over the
    head; machine-generated or template-flooded corpora bend it hard.

    The fit is ordinary least squares on the quantized-log grid
    (x, y) = (L(rank), L(count)), L(k) = floor(10⁶·ln k), restricted to
    the `top_k` head ranks — standard practice (Zipf holds in the head;
    the tail is Heaps-regime noise) AND what keeps every regression sum
    exact int64: with top_k = 100, n·Σxy ≤ ~5·10¹⁷. slope_micro /
    intercept_micro are each produced by ONE pinned-order double
    expression over those exact integer sums, so both engines agree
    bit-for-bit. Degenerate heads (n < 2) yield nulls, never a crash.

    Topology: ONE corpus groupBy(token) (map-side partials absorb the
    Zipf skew this operator measures), a rank window over the vocab
    table, arithmetic over ≤ top_k rows. The corpus never shuffles
    finer than the token.
    """
    from pyspark.sql import Window  # noqa: PLC0415

    vocab = (
        df.select(F.explode(nb_tokens(F.col(text_col))).alias("_t"))
        .groupBy("_t")
        .agg(F.count("*").cast("long").alias("_c"))
    )
    w = Window.orderBy(F.col("_c").desc(), F.col("_t").asc())
    head = (
        vocab.withColumn("_r", F.row_number().over(w).cast("long"))
        .where(F.col("_r") <= top_k)
        .select(
            _ln_q(F.col("_r")).alias("_x"), _ln_q(F.col("_c")).alias("_y")
        )
    )
    tails = vocab.groupBy().agg(
        F.count("*").cast("long").alias("n_types"),
        F.sum("_c").cast("long").alias("total_tokens"),
    )
    s = head.groupBy().agg(
        F.count("*").cast("long").alias("_n"),
        F.sum("_x").cast("long").alias("_sx"),
        F.sum("_y").cast("long").alias("_sy"),
        F.sum(F.col("_x") * F.col("_y")).cast("long").alias("_sxy"),
        F.sum(F.col("_x") * F.col("_x")).cast("long").alias("_sxx"),
    )
    num = F.col("_n") * F.col("_sxy") - F.col("_sx") * F.col("_sy")
    den = F.col("_n") * F.col("_sxx") - F.col("_sx") * F.col("_sx")
    ratio = num.cast("double") / den.cast("double")
    fit = s.select(
        F.col("_n").alias("n_head"),
        F.when(den != 0, F.floor(ratio * F.lit(1_000_000.0)).cast("long"))
        .alias("slope_micro"),
        F.when(
            den != 0,
            F.floor(
                (F.col("_sy").cast("double") - ratio * F.col("_sx").cast("double"))
                / F.col("_n")
            ).cast("long"),
        ).alias("intercept_micro"),
    )
    return fit.crossJoin(F.broadcast(tails)).select(
        "n_types", "total_tokens", "n_head", "slope_micro", "intercept_micro"
    )


# ---------------------------------------------------------------------------
# k-center farthest-point coreset (diversity-aware data selection)
# ---------------------------------------------------------------------------


def kcenter_select(
    df: DataFrame,
    k: int,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
    max_candidates: int | None = 1_000_000,
) -> DataFrame:
    """Greedy k-center (farthest-point traversal) over a CANDIDATE
    table — the classical 2-approximation coreset selector for
    diversity-aware data curation (Gonzalez 1985; the "k-Center-Greedy"
    of Sener & Savarese ICLR 2018 active-learning / dataset-selection
    recipes): seed with the min-id candidate, then repeatedly add the
    candidate farthest (max-min squared L2) from everything selected.

    The candidate table is MODEL-sized by contract — cluster centroids
    from `kmeans_fit`, or an `ann_*` / sampled shortlist — never the
    raw corpus (the 100 TB shape: corpus → cheap candidate reduction →
    k-center over the candidates, exactly like `isotonic_calibrate`'s
    grid or `bradley_terry`'s model table). The greedy recurrence is
    inherently sequential (selection i depends on all earlier picks),
    so it runs in ONE `applyInPandas` task over the candidates: O(k·n)
    integer distance updates in numpy.

    Exactness: vectors are quantized to the int grid floor(10³·x)
    (identical IEEE floor in any engine reading the same floats), all
    distances are exact int64 (64-dim grid values ≤ ~10³ → d² ≤ ~10⁹),
    ties break max-dist → min-id, total. Output: one row per selected
    candidate — (id, sel_order 0..k−1, dist_sq = exact min-distance² to
    the earlier picks at selection time; null for the seed).
    """
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    q = F.transform(
        F.col(vec_col),
        lambda x: F.floor(x.cast("double") * F.lit(float(scale))).cast("long"),
    )
    base = df.select(F.col(id_col).alias("_id"), q.alias("_q"))
    kk = int(k)
    # the MODEL-sized contract, enforced: the greedy recurrence funnels
    # the whole candidate table through ONE applyInPandas task, so an
    # accidentally corpus-sized input would silently single-thread and
    # OOM the executor. Fail fast instead — limit(n+1).count() stops the
    # scan as soon as the bound is exceeded (no full count of a big df).
    if max_candidates is not None:
        probe = base.limit(int(max_candidates) + 1).count()
        if probe > int(max_candidates):
            raise ValueError(
                f"kcenter_select: candidate table exceeds max_candidates="
                f"{max_candidates} (the input must be model-sized — "
                "centroids or an ANN/sampled shortlist, never the raw "
                "corpus); reduce candidates upstream or raise/disable "
                "the guard explicitly (max_candidates=None)"
            )

    def greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("_id").reset_index(drop=True)
        ids = pdf["_id"].to_numpy()
        mat = np.stack(pdf["_q"].to_numpy()).astype(np.int64)
        n = len(ids)
        sel_ids: list[int] = []
        orders: list[int] = []
        dists: list[object] = []
        picked = np.zeros(n, dtype=bool)
        # seed: min id (pdf sorted by id, so index 0)
        cur = 0
        mind = None
        for step in range(min(kk, n)):
            sel_ids.append(int(ids[cur]))
            orders.append(step)
            dists.append(None if step == 0 else int(mind[cur]))
            picked[cur] = True
            d = ((mat - mat[cur]) ** 2).sum(axis=1)  # exact int64
            mind = d if mind is None else np.minimum(mind, d)
            if step + 1 < min(kk, n):
                # argmax of mind among unpicked, ties -> min id (ids
                # ascending, np.argmax takes the first max)
                masked = np.where(picked, -1, mind)
                cur = int(np.argmax(masked))
        return pd.DataFrame(
            {"_id": sel_ids, "sel_order": orders, "dist_sq": dists}
        )

    out = base.groupBy(F.lit(0).alias("_g")).applyInPandas(
        greedy, schema=f"_id {df.schema[id_col].dataType.simpleString()}, "
        "sel_order long, dist_sq long"
    )
    return out.select(F.col("_id").alias(id_col), "sel_order", "dist_sq")


# ---------------------------------------------------------------------------
# Heaps' law vocabulary growth (corpus QA companion to zipf_fit)
# ---------------------------------------------------------------------------


def heaps_growth(
    df: DataFrame,
    checkpoints: Sequence[int],
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Vocabulary growth curve — distinct types seen within the first c
    documents of the id-ordered stream, at each literal checkpoint c.
    The Heaps-law companion to `zipf_fit`: a natural corpus grows types
    ~ tokens^beta (beta ≈ 0.5); a template-flooded or synthetic corpus
    flattens early, boilerplate-heavy crawls bend late. Output: one row
    per checkpoint — (checkpoint_docs, tokens_cum, types_cum,
    types_ppm_of_tokens), all exact integers.

    Topology: ONE corpus tokenize + groupBy(token) keeping min(rank)
    (map-side partials — a token seen a billion times reduces to its
    earliest position), one doc-rank window over the DOC table (for a
    10¹²-doc stream swap the row_number for a precomputed ingest
    position or timestamp — the window here is the bounded-gate form,
    same note as `perplexity_buckets`), then TWO single-row aggregates
    with literal CASE per checkpoint, cross-joined on disjoint names.
    Checkpoint count is a plan-time literal — output is
    |checkpoints| rows, corpus-size-independent.
    """
    from pyspark.sql import Window  # noqa: PLC0415

    cps = sorted(int(c) for c in checkpoints)
    w = Window.orderBy(F.col("_id").asc())
    ranked = df.select(
        F.col(id_col).alias("_id"), F.col(text_col).alias("_tx")
    ).withColumn("_r", F.row_number().over(w).cast("long"))
    first = (
        ranked.select("_r", F.explode(nb_tokens(F.col("_tx"))).alias("_t"))
        .groupBy("_t")
        .agg(F.min("_r").alias("_fr"))
    )
    types_row = first.groupBy().agg(
        *[
            F.sum(F.when(F.col("_fr") <= c, 1).otherwise(0))
            .cast("long")
            .alias(f"_ty{i}")
            for i, c in enumerate(cps)
        ]
    )
    tokens_row = (
        ranked.select(
            "_r", F.size(nb_tokens(F.col("_tx"))).cast("long").alias("_n")
        )
        .groupBy()
        .agg(
            *[
                F.sum(F.when(F.col("_r") <= c, F.col("_n")).otherwise(0))
                .cast("long")
                .alias(f"_tk{i}")
                for i, c in enumerate(cps)
            ]
        )
    )
    one = types_row.crossJoin(F.broadcast(tokens_row))
    rows = F.array(
        *[
            F.struct(
                F.lit(c).cast("long").alias("checkpoint_docs"),
                F.col(f"_tk{i}").alias("tokens_cum"),
                F.col(f"_ty{i}").alias("types_cum"),
            )
            for i, c in enumerate(cps)
        ]
    )
    out = one.select(F.explode(rows).alias("s")).select("s.*")
    return out.withColumn(
        "types_ppm_of_tokens",
        F.when(
            F.col("tokens_cum") > 0,
            F.expr("types_cum * 1000000 div tokens_cum"),
        ).cast("long"),
    )
