"""Correctness gates for binary image, video and audio payloads. Each
`@query` pairs a Spark query over the driver test tables with the DuckDB
SQL that re-derives its result; `queries` collects them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from logstash_spark.operators import dataprep as D
from logstash_spark.operators import multimodal as M
from logstash_spark.queries_common import _t, query


@query(
    "multimodal_meta",
    """
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
           CAST(octet_length(encode(text)) % 640 AS INTEGER) AS width,
           CAST((octet_length(encode(text)) * 7) % 480 AS INTEGER) AS height,
           CAST(octet_length(encode(text)) % 16 AS INTEGER) AS n_frames
    FROM documents
    """,
)
def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload plumbing: text → binary column → Arrow-batched
    mapInPandas 'decode' (stubbed deterministic fake; real impl would call
    PIL/ffmpeg per batch). Exercises binary schema + batch iteration."""
    docs = _t(spark, sf_dir, "documents").withColumn("payload", F.encode(F.col("text"), "utf-8"))
    return D.binary_meta_decode(docs, "payload")


def _hexpad(c, n):  # uppercase fixed-width hex of a column
    return F.lpad(F.hex(c), n, "0")


def _le2(c):  # 2-byte little-endian hex of an int column
    x = _hexpad(c, 4)
    return F.concat(x.substr(3, 2), x.substr(1, 2))


def _le4(c):  # 4-byte little-endian hex
    x = _hexpad(c, 8)
    return F.concat(
        x.substr(7, 2), x.substr(5, 2), x.substr(3, 2), x.substr(1, 2)
    )


# header lengths by construction (bytes): png 29, gif 13, bmp 30, jpeg 33
@query(
    "image_header_meta",
    """
    SELECT doc_id,
           CASE doc_id % 4 WHEN 0 THEN 'png' WHEN 1 THEN 'gif'
                           WHEN 2 THEN 'bmp' ELSE 'jpeg' END AS format,
           CAST(16 + doc_id % 624 AS BIGINT) AS width,
           CAST(16 + (doc_id * 7) % 464 AS BIGINT) AS height,
           CAST(CASE doc_id % 4 WHEN 0 THEN 29 WHEN 1 THEN 13
                                WHEN 2 THEN 30 ELSE 33 END AS BIGINT) AS n_bytes
    FROM documents
    """,
)
def image_header_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-UDF image metadata: builds a REAL container header per doc
    (PNG sig+IHDR / GIF89a logical screen / BMP BITMAPINFOHEADER / JPEG
    SOI+APP0+SOF0) with dimensions derived from doc_id, materializes it
    as binary, then `multimodal.image_meta` parses format + dims back
    out of the bytes. The oracle states expectations in closed form —
    the parser is exercised only on the Spark side. Map-only plan."""
    docs = _t(spark, sf_dir, "documents")
    w = (16 + F.col("doc_id") % 624).cast("long")
    h = (16 + (F.col("doc_id") * 7) % 464).cast("long")
    png = F.concat(
        F.lit("89504E470D0A1A0A0000000D49484452"),
        _hexpad(w, 8),
        _hexpad(h, 8),
        F.lit("0806000000"),
    )
    gif = F.concat(F.lit("474946383961"), _le2(w), _le2(h), F.lit("F70000"))
    bmp = F.concat(
        F.lit("424D000000000000000036000000" + "28000000"),
        _le4(w),
        _le4(h),
        F.lit("01001800"),
    )
    jpeg = F.concat(
        F.lit("FFD8FFE000104A46494600010100000100010000" + "FFC0001108"),
        _hexpad(h, 4),
        _hexpad(w, 4),
        F.lit("03012200"),
    )
    sel = F.col("doc_id") % 4
    payload = F.unhex(
        F.when(sel == 0, png).when(sel == 1, gif).when(sel == 2, bmp).otherwise(jpeg)
    )
    built = docs.select("doc_id", payload.alias("payload"))
    return M.image_meta(built, "payload").select(
        "doc_id", "format", "width", "height", "n_bytes"
    )


_NF = "2 + doc_id % 9"
_FS = "4 + doc_id % 5"


def _svid_payload() -> F.Column:
    n = (2 + F.col("doc_id") % 9).cast("long")
    fs = (4 + F.col("doc_id") % 5).cast("long")
    body = F.array_join(
        F.transform(
            F.sequence(F.lit(0).cast("long"), n - 1),
            lambda i: F.md5(
                F.concat(F.col("doc_id").cast("string"), F.lit("_"), i.cast("string"))
            ).substr(F.lit(1), (fs * 2).cast("int")),
        ),
        "",
    )
    return F.unhex(
        F.concat(F.lit(M.SVID_MAGIC_HEX), _hexpad(n, 4), _hexpad(fs, 4), body)
    )


@query(
    "video_frame_sample",
    f"""
    WITH d AS (
      SELECT doc_id, CAST({_NF} AS BIGINT) AS n_frames,
             CAST({_FS} AS BIGINT) AS frame_size
      FROM documents
    )
    SELECT doc_id, n_frames, frame_size,
           CAST(i AS BIGINT) AS frame_idx,
           md5(upper(substr(md5(CAST(doc_id AS VARCHAR) || '_' || CAST(i AS VARCHAR)),
                            1, CAST(frame_size * 2 AS INT)))) AS frame_md5
    FROM d, unnest(range(0, n_frames, 2)) AS u(i)
    """,
)
def video_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling gate: builds an SVID container per doc (2-10 frames
    of 4-8 bytes, content = md5-derived), then `multimodal.frame_sample`
    parses the header, slices every 2nd frame out of the binary, and
    fingerprints each frame. Oracle derives the same frames in closed
    form. Map-only: one explode to sampled frames, zero shuffle."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", _svid_payload().alias("payload"))
    out = M.frame_sample(docs, "payload", every=2)
    return out.select("doc_id", "n_frames", "frame_size", "frame_idx", "frame_md5")


@query(
    "frame_block_features",
    f"""
    WITH d AS (
      SELECT doc_id, CAST({_NF} AS BIGINT) AS n_frames,
             CAST({_FS} AS BIGINT) AS frame_size
      FROM documents
    ),
    fr AS (
      SELECT doc_id, frame_size, CAST(i AS BIGINT) AS frame_idx,
             upper(substr(md5(CAST(doc_id AS VARCHAR) || '_' || CAST(i AS VARCHAR)),
                          1, CAST(frame_size * 2 AS INT))) AS fh
      FROM d, unnest(range(0, n_frames, 2)) AS u(i)
    ),
    feat AS (
      SELECT doc_id, frame_idx,
             -- numpy array_split(a, 2): first block ceil(n/2) bytes, second floor
             (frame_size + 1) // 2 AS l0, frame_size - (frame_size + 1) // 2 AS l1,
             list_transform(range(0, frame_size),
                            j -> CAST('0x' || substr(fh, CAST(j*2 + 1 AS INT), 2) AS BIGINT)
                           ) AS bytes_list
      FROM fr
    )
    SELECT doc_id, frame_idx,
           md5(CAST(list_sum(bytes_list[1:l0]) // l0 AS VARCHAR) || ',' ||
               CAST(list_sum(bytes_list[l0+1:l0+l1]) // l1 AS VARCHAR)) AS feat_md5
    FROM feat
    """,
)
def frame_block_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-extraction seam gate: sampled SVID frames → Arrow-batched
    numpy block means (`multimodal.frame_features`, n_blocks=2, exact
    integer division). The oracle replays the byte algebra relationally.
    This is the exact batch shape a vision embedder drops into."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", _svid_payload().alias("payload"))
    frames = M.frame_sample(docs, "payload", every=2)
    feats = M.frame_features(
        frames, "frame", n_blocks=2, id_cols=("doc_id", "frame_idx")
    )
    return feats.select(
        "doc_id",
        "frame_idx",
        F.md5(F.concat_ws(",", F.col("features").cast("array<string>"))).alias(
            "feat_md5"
        ),
    )


_NS = "8 + doc_id % 57"  # 8..64 samples, all within max_samples=64


@query(
    "audio_pcm_stats",
    f"""
    WITH d AS (
      SELECT doc_id, CAST({_NS} AS BIGINT) AS n,
             CAST(8000 + (doc_id % 3) * 4000 AS BIGINT) AS rate,
             CAST(1 + doc_id % 2 AS BIGINT) AS ch
      FROM documents
    ),
    s AS (
      SELECT doc_id, n, rate, ch,
             list_transform(range(0, n),
               i -> CASE WHEN (doc_id*31 + i*17) % 65536 >= 32768
                         THEN (doc_id*31 + i*17) % 65536 - 65536
                         ELSE (doc_id*31 + i*17) % 65536 END) AS v
      FROM d
    )
    SELECT doc_id,
           CAST(1 AS BIGINT) AS audio_format, ch AS channels,
           rate AS sample_rate, CAST(16 AS BIGINT) AS bits_per_sample,
           n AS n_samples,
           CAST(list_sum(v) AS BIGINT) AS sum_val,
           CAST(list_sum(list_transform(v, x -> abs(x))) AS BIGINT) AS sum_abs,
           CAST(list_max(list_transform(v, x -> abs(x))) AS BIGINT) AS peak,
           CAST(list_sum(list_transform(v, x -> x*x)) AS BIGINT) AS sum_sq
    FROM s
    """,
)
def audio_pcm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCM triage gate: builds a canonical 44-byte WAV header (16-bit PCM,
    doc-derived rate/channels) + n deterministic LE samples, then
    `multimodal.pcm_stats` parses the fmt chunk and computes exact
    integer stats over the sample prefix — signed decode, sum/|sum|/peak/
    sum-of-squares, all int64. Oracle states the closed form. Zero
    shuffle; cost bounded by max_samples, not payload size."""
    docs = _t(spark, sf_dir, "documents")
    n = (8 + F.col("doc_id") % 57).cast("long")
    rate = (8000 + (F.col("doc_id") % 3) * 4000).cast("long")
    ch = (1 + F.col("doc_id") % 2).cast("long")
    data_size = (n * 2).cast("long")
    u = lambda i: (F.col("doc_id") * 31 + i * 17) % 65536  # noqa: E731
    body = F.array_join(
        F.transform(F.sequence(F.lit(0).cast("long"), n - 1), lambda i: _le2(u(i))),
        "",
    )
    header = F.concat(
        F.lit("52494646"),
        _le4(data_size + 36),
        F.lit("57415645" + "666D7420" + "10000000" + "0100"),
        _le2(ch),
        _le4(rate),
        _le4(rate * ch * 2),
        _le2(ch * 2),
        F.lit("1000" + "64617461"),
        _le4(data_size),
    )
    payload = F.unhex(F.concat(header, body))
    built = docs.select("doc_id", payload.alias("payload"))
    return M.pcm_stats(built, "payload", max_samples=64)


@query(
    "image_ahash_neardup",
    """
    WITH px AS (
      SELECT doc_id, doc_id % 64 AS p,
             upper(md5('img' || CAST(doc_id % 40 AS VARCHAR) || '_0')
                || md5('img' || CAST(doc_id % 40 AS VARCHAR) || '_1')
                || md5('img' || CAST(doc_id % 40 AS VARCHAR) || '_2')
                || md5('img' || CAST(doc_id % 40 AS VARCHAR) || '_3')) AS hx0,
             upper(lpad(hex(doc_id % 256), 2, '0')) AS pb
      FROM documents
    ),
    hx AS (
      SELECT doc_id,
             substr(hx0, 1, CAST(2*p AS INT)) || pb
               || substr(hx0, CAST(2*p + 3 AS INT)) AS hx
      FROM px
    ),
    b AS (
      SELECT doc_id,
             list_transform(range(0, 64),
               k -> CAST('0x' || substr(hx, CAST(2*k + 1 AS INT), 2) AS BIGINT)
             ) AS bv
      FROM hx
    ),
    t AS (SELECT doc_id, bv, list_sum(bv) AS tot FROM b),
    -- 64 bytes / 32 blocks = exactly 2 bytes per block; bit j set when
    -- block mean >= global mean  <=>  (bv[2j+1]+bv[2j+2]) * 32 >= tot
    fp AS (
      SELECT t.doc_id,
             CAST(sum(CASE WHEN (bv[CAST(2*js.j + 1 AS INT)]
                                 + bv[CAST(2*js.j + 2 AS INT)]) * 32 >= tot
                           THEN CAST(power(2, js.j) AS BIGINT) ELSE 0 END)
                  AS BIGINT) AS fp
      FROM t, (SELECT unnest(range(0, 32)) AS j) js
      GROUP BY t.doc_id
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.fp, b.fp)) AS INT) AS hamming
    FROM fp a JOIN fp b
      ON a.doc_id < b.doc_id
     AND (  (a.fp % 256) = (b.fp % 256)
         OR ((a.fp // 256) % 256) = ((b.fp // 256) % 256)
         OR ((a.fp // 65536) % 256) = ((b.fp // 65536) % 256)
         OR ((a.fp // 16777216) % 256) = ((b.fp // 16777216) % 256))
    WHERE bit_count(xor(a.fp, b.fp)) <= 2
    """,
)
def image_ahash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup via perceptual average-hash: each doc gets a 64-byte
    synthetic 'thumbnail' shared within its group (doc_id % 40) except one
    perturbed byte, `multimodal.image_ahash` fingerprints the BYTES (the
    gate builds real binary and the op reads it back), and
    `dataprep.simhash_pairs` runs UNCHANGED over the fingerprints via its
    `fp_table` seam — image dedup inherits the text pipeline's band join
    + star guard + exact-Hamming verify topology. Star guard disabled here
    (max_bucket > corpus) so the all-pairs oracle stays valid, exactly
    like the simhash_pairs gate. The oracle derives block bits by the
    even-split shortcut (2 bytes/block) while the op computes the general
    division-free form — independent derivations must agree bit-for-bit."""
    from logstash_spark.operators import dataprep as D

    docs = _t(spark, sf_dir, "documents")
    g = (F.col("doc_id") % 40).cast("string")
    hx0 = F.upper(
        F.concat(
            *[F.md5(F.concat(F.lit("img"), g, F.lit(f"_{k}"))) for k in range(4)]
        )
    )
    p2 = ((F.col("doc_id") % 64) * 2).cast("int")
    pb = F.upper(F.lpad(F.hex(F.col("doc_id") % 256), 2, "0"))
    hx = F.concat(
        hx0.substr(F.lit(1), p2), pb, hx0.substr(p2 + 3, F.lit(128))
    )
    built = docs.select("doc_id", F.unhex(hx).alias("payload"))
    fp = built.select(
        "doc_id", M.image_ahash(F.col("payload"), blocks=32).alias("simhash")
    )
    return D.simhash_pairs(
        built,
        "doc_id",
        "doc_id",
        bits=32,
        bands=4,
        max_hamming=2,
        max_bucket=10_000_000,
        fp_table=fp,
    )


@query(
    "image_resize_dedup",
    """
    WITH px AS (
      SELECT doc_id, doc_id % 64 AS p,
             upper(md5('rz' || CAST(doc_id % 30 AS VARCHAR) || '_0')
                || md5('rz' || CAST(doc_id % 30 AS VARCHAR) || '_1')
                || md5('rz' || CAST(doc_id % 30 AS VARCHAR) || '_2')
                || md5('rz' || CAST(doc_id % 30 AS VARCHAR) || '_3')) AS hx0,
             upper(lpad(hex(doc_id % 256), 2, '0')) AS pb
      FROM documents
    ),
    hx AS (
      SELECT doc_id,
             substr(hx0, 1, CAST(2*p AS INT)) || pb
               || substr(hx0, CAST(2*p + 3 AS INT)) AS hx
      FROM px
    ),
    b AS (
      SELECT doc_id,
             list_transform(range(0, 64),
               k -> CAST('0x' || substr(hx, CAST(2*k + 1 AS INT), 2) AS BIGINT)
             ) AS bv
      FROM hx
    ),
    t AS (SELECT doc_id, bv, list_sum(bv) AS tot FROM b),
    fp AS (
      SELECT t.doc_id,
             CAST(sum(CASE WHEN (bv[CAST(2*js.j + 1 AS INT)]
                                 + bv[CAST(2*js.j + 2 AS INT)]) * 32 >= tot
                           THEN CAST(power(2, js.j) AS BIGINT) ELSE 0 END)
                  AS BIGINT) AS fp
      FROM t, (SELECT unnest(range(0, 32)) AS j) js
      GROUP BY t.doc_id
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.fp, b.fp)) AS INT) AS hamming
    FROM fp a JOIN fp b
      ON a.doc_id < b.doc_id
     AND (  (a.fp % 256) = (b.fp % 256)
         OR ((a.fp // 256) % 256) = ((b.fp // 256) % 256)
         OR ((a.fp // 65536) % 256) = ((b.fp // 65536) % 256)
         OR ((a.fp // 16777216) % 256) = ((b.fp // 16777216) % 256))
    WHERE bit_count(xor(a.fp, b.fp)) <= 2
    """,
)
def image_resize_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resolution-invariant image dedup END-TO-END: each doc renders its
    group's 8x8 pattern (one perturbed pixel) at a doc-specific scale
    (8/16/24 px — exact k-times nearest-neighbor upscale), then the
    Spark side must RESIZE back to the 8x8 thumbnail
    (`multimodal.image_resize_nearest`, pure index algebra), fingerprint
    it (`image_ahash`), and band-join near-dups — so duplicates are
    found ACROSS resolutions, the LAION dedup recipe. The oracle states
    ground truth from the 8x8 base directly (nearest-neighbor inverts an
    exact upscale by construction): any resize/ahash defect breaks the
    hash match. Star guard disabled for oracle validity as in the other
    pair gates."""
    from logstash_spark.operators import dataprep as D

    docs = _t(spark, sf_dir, "documents")
    g = (F.col("doc_id") % 30).cast("string")
    hx0 = F.upper(
        F.concat(*[F.md5(F.concat(F.lit("rz"), g, F.lit(f"_{k}"))) for k in range(4)])
    )
    p2 = ((F.col("doc_id") % 64) * 2).cast("int")
    pb = F.upper(F.lpad(F.hex(F.col("doc_id") % 256), 2, "0"))
    basehex = F.concat(hx0.substr(F.lit(1), p2), pb, hx0.substr(p2 + 3, F.lit(128)))
    k = (1 + F.col("doc_id") % 3).cast("long")
    side = 8 * k
    img_hex = F.array_join(
        F.transform(
            F.sequence(F.lit(0).cast("long"), side * side - 1),
            lambda i: basehex.substr(
                (
                    (
                        F.floor(F.floor(i / side) / k).cast("long") * 8
                        + F.floor((i % side) / k).cast("long")
                    )
                    * 2
                    + 1
                ).cast("int"),
                F.lit(2),
            ),
        ),
        "",
    )
    built = docs.select(
        "doc_id",
        side.cast("int").alias("side"),
        F.unhex(img_hex).alias("payload"),
    )
    thumb = built.select(
        "doc_id",
        M.image_resize_nearest(
            F.col("payload"), F.col("side"), F.col("side"), 8, 8
        ).alias("thumb"),
    )
    # Materialize the fingerprint table before the pair join:
    # simhash_pairs re-aliases fp_table across banding + two verify
    # joins, and re-planning the deeply nested build->resize->ahash HOF
    # tree per alias blows up Catalyst optimization time (observed:
    # minutes at 500 rows). The checkpoint IS the production shape —
    # simhash_pairs' own contract recommends a persisted signature
    # table so the fingerprint pass runs once.
    fp = thumb.select(
        "doc_id", M.image_ahash(F.col("thumb"), blocks=32).alias("simhash")
    ).localCheckpoint(eager=True)
    return D.simhash_pairs(
        built,
        "doc_id",
        "doc_id",
        bits=32,
        bands=4,
        max_hamming=2,
        max_bucket=10_000_000,
        fp_table=fp,
    )
