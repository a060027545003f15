"""Multimodal columns: image/audio/video as opaque ``binary`` payloads
with typed metadata, processed via Arrow-batched ``mapInPandas``.

The container has no imaging libraries, so PIL-backed decode is
import-gated (NotImplementedError when absent) and the ORACLE-paired
operators use a deterministic fake decode — but the real-codec path is
no longer unproven: :func:`png_codec` is a stdlib-only (zlib) full PNG
decoder — chunk CRCs, IDAT inflate, scanline unfiltering — exercised
end-to-end through ``decode_media``'s mapInPandas on real in-test PNGs
(tests/test_multimodal.py). All Spark-side plumbing is real and tested:
schema shape, binary column handling, mapInPandas batch iteration,
explode-based frame sampling, and feature aggregation.

There is no media fixture table; payloads are derived deterministically
from ``documents`` (MD5 bytes of the text, repeated to a per-doc length)
so every operator has a stable oracle. At 100 TB the same plan applies
to real parquet binary columns: payloads stay in Arrow buffers end to
end (no JVM<->Python row serialization), and mapInPandas processes one
batch per task — partition count, not row count, bounds peak memory.

Reference: the reference pipeline has no media path at all (SURVEY.md
§2b — north-star extension).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka2clickhouse_py_streamer_spark.functions.graph import (
    connected_components,
    iter_materialize,
)
from kafka2clickhouse_py_streamer_spark.llm.dedup import DEDUP_CC_MAX_ITERS
from kafka2clickhouse_py_streamer_spark.operators.base import Query, spread, table
from kafka2clickhouse_py_streamer_spark.session import substrate

FRAME_SIZE = 4  # bytes per fake "frame" of the fake video payload
N_SAMPLED_FRAMES = 3


def media_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → (doc_id, media_type, payload binary, n_bytes).

    Deterministic fake payload: MD5(text) raw bytes repeated
    (1 + doc_id % 4) times — varying length exercises the metadata path.
    """
    d = spread(table(spark, sf_dir, "documents"))
    return d.select(
        "doc_id",
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("media_type"),
        # concat keeps BINARY (repeat() would coerce to invalid UTF-8
        # string); k = 1 + doc_id % 4 copies of the 16 MD5 bytes
        F.expr(
            "element_at(array(unhex(md5(text)),"
            " concat(unhex(md5(text)), unhex(md5(text))),"
            " concat(unhex(md5(text)), unhex(md5(text)), unhex(md5(text))),"
            " concat(unhex(md5(text)), unhex(md5(text)), unhex(md5(text)),"
            "        unhex(md5(text)))),"
            " cast(1 + doc_id % 4 as int))"
        ).alias("payload"),
        # metadata column, computed analytically (16 MD5 bytes x k
        # copies; NULL text -> NULL payload -> NULL bytes) rather than
        # via octet_length(payload): the oracle already hardcodes this
        # formula, and deriving it from the payload forced every
        # metadata-only consumer (m01, m08's byte accounting) to
        # materialize payload bytes it never reads — in a real
        # deployment n_bytes is a stored metadata column, and the
        # parquet scan prunes the binary column away
        F.when(F.col("text").isNull(), F.lit(None))
        .otherwise(F.lit(16) * (1 + F.col("doc_id") % 4))
        .cast("long")
        .alias("n_bytes"),
    )


def fake_codec(payload: bytes) -> tuple[int, int]:
    """Deterministic stand-in decode (no imaging libs in this
    container): dimensions derived from the first payload bytes."""
    return 1 + payload[0] % 64, 1 + payload[1] % 64


def pil_codec():
    """Real-image codec factory: returns a payload→(w,h) decoder backed
    by PIL. Import-gated — on hosts without PIL this raises a clearly
    marked NotImplementedError instead of failing mid-job."""
    try:
        import io

        from PIL import Image
    except ImportError as exc:
        raise NotImplementedError(
            "real image decode needs PIL, which is not installed; "
            "inject your own codec or use the default fake_codec"
        ) from exc

    def decode(payload: bytes) -> tuple[int, int]:
        with Image.open(io.BytesIO(payload)) as im:
            return im.size

    return decode


# bytes per pixel for the PNG color types png_codec supports
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


def png_codec(payload: bytes) -> tuple[int, int]:
    """REAL image decode, stdlib-only (zlib): parse the PNG container,
    CRC-check every chunk, inflate the IDAT stream, and unfilter every
    scanline (filters 0-4) before returning (width, height).

    This is the non-fake codec path for :func:`decode_media` — it
    validates the full pixel payload (a truncated or corrupt IDAT
    raises), not just the 8 header bytes, so injecting it exercises
    the same contract a PIL-backed codec would. Supports 8-bit
    non-interlaced gray/gray+alpha/RGB/RGBA (color types 0/4/2/6)."""
    import struct
    import zlib

    if payload[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG: bad signature")
    pos, width = 8, None
    idat = bytearray()
    while pos < len(payload):
        if pos + 8 > len(payload):
            raise ValueError("truncated PNG chunk header")
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        # bound-check BEFORE slicing: a payload cut mid-chunk would
        # otherwise surface as struct.error from the CRC unpack, and
        # callers catching the documented ValueError would miss it
        if pos + 12 + length > len(payload):
            raise ValueError("truncated PNG chunk")
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack(
            ">I", payload[pos + 8 + length : pos + 12 + length]
        )
        if zlib.crc32(ctype + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk {ctype!r}: CRC mismatch")
        if ctype == b"IHDR":
            width, height, depth, color, comp, filt, interlace = (
                struct.unpack(">IIBBBBB", data)
            )
            if depth != 8 or interlace or comp or filt:
                raise ValueError("png_codec: only 8-bit non-interlaced")
            channels = _PNG_CHANNELS.get(color)
            if channels is None:
                raise ValueError(f"png_codec: color type {color}")
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
        pos += 12 + length
    if width is None:
        raise ValueError("PNG missing IHDR")
    raw = zlib.decompress(bytes(idat))
    stride = width * channels
    if len(raw) != height * (1 + stride):
        raise ValueError("PNG pixel data length mismatch")
    prev = bytearray(stride)
    for y in range(height):
        ftype = raw[y * (1 + stride)]
        line = bytearray(raw[y * (1 + stride) + 1 : (y + 1) * (1 + stride)])
        for x in range(stride):
            a = line[x - channels] if x >= channels else 0  # left
            b = prev[x]  # up
            c = prev[x - channels] if x >= channels else 0  # up-left
            if ftype == 0:
                pass
            elif ftype == 1:
                line[x] = (line[x] + a) & 0xFF
            elif ftype == 2:
                line[x] = (line[x] + b) & 0xFF
            elif ftype == 3:
                line[x] = (line[x] + (a + b) // 2) & 0xFF
            elif ftype == 4:  # Paeth
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                line[x] = (line[x] + pred) & 0xFF
            else:
                raise ValueError(f"PNG filter type {ftype}")
        prev = line
    return width, height


def decode_media(
    df: DataFrame, use_real_codec: bool = False, codec=None
) -> DataFrame:
    """Decode stage via mapInPandas: payload → (doc_id, media_type,
    n_bytes, checksum, width, height).

    ``codec`` is the injection seam: any ``bytes -> (width, height)``
    callable (a real decoder on clusters that have one; defaults to the
    deterministic :func:`fake_codec`). ``use_real_codec=True`` is
    shorthand for ``codec=pil_codec()`` (raises NotImplementedError here
    — no PIL in this container). Arrow carries binary as zero-copy
    buffers; the batch shape (pdf per partition-batch) is the real
    contract either way.
    """
    if use_real_codec and codec is None:
        codec = pil_codec()
    if codec is None:
        codec = fake_codec

    out_schema = (
        "doc_id long, media_type string, n_bytes long, checksum long, "
        "width int, height int"
    )

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["payload"]
            # na_action="ignore": a NULL payload (NULL source text)
            # decodes to NULL metadata instead of crashing the codec —
            # the oracle mirrors this (md5(NULL) = NULL end-to-end)
            dims = payloads.map(codec, na_action="ignore")
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": pdf["media_type"],
                    "n_bytes": payloads.map(len, na_action="ignore"),
                    # first-4-bytes big-endian int: a stand-in for the
                    # codec's header parse
                    "checksum": payloads.map(
                        lambda b: int.from_bytes(b[:4], "big"),
                        na_action="ignore",
                    ),
                    "width": dims.map(
                        lambda wh: wh[0], na_action="ignore"
                    ),
                    "height": dims.map(
                        lambda wh: wh[1], na_action="ignore"
                    ),
                }
            )

    return df.mapInPandas(decode, out_schema)


def sample_frames(df: DataFrame) -> DataFrame:
    """Frame sampling: slice the payload into FRAME_SIZE-byte frames,
    keep the first N_SAMPLED_FRAMES — pure JVM (sequence + explode +
    substr on binary), no Python. The explode bounds row growth at
    N_SAMPLED_FRAMES×, independent of payload size."""
    n_frames = F.floor(F.col("n_bytes") / FRAME_SIZE).cast("int")
    take = F.least(n_frames, F.lit(N_SAMPLED_FRAMES))
    return (
        df.filter(F.col("media_type") == "video")
        .select(
            "doc_id",
            "n_bytes",
            F.explode(F.sequence(F.lit(0), take - 1)).alias("frame_idx"),
        )
        .withColumn("frame_offset", (F.col("frame_idx") * FRAME_SIZE).cast("long"))
    )


def extract_features(df: DataFrame) -> DataFrame:
    """Feature extraction via mapInPandas: payload bytes → fixed-width
    numeric features (mean/min/max byte value) — the stand-in for a
    real embedding model; the batch shape (binary in, float vector out,
    one Arrow batch per partition) is exactly the production contract."""
    out_schema = "doc_id long, byte_mean double, byte_min long, byte_max long"

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["payload"]
            # NULL payload -> NULL features (same contract as decode)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "byte_mean": payloads.map(
                        lambda b: sum(b) / len(b), na_action="ignore"
                    ),
                    "byte_min": payloads.map(min, na_action="ignore"),
                    "byte_max": payloads.map(max, na_action="ignore"),
                }
            )

    return df.mapInPandas(feats, out_schema)


def resize_media(
    df: DataFrame, target_bytes: int, use_real_codec: bool = False
) -> DataFrame:
    """Resize stage: real image resize needs PIL (absent → clearly-
    marked NotImplementedError); the fake resize truncates/zero-pads the
    payload to ``target_bytes`` — pure JVM binary ops, so the plumbing
    (binary in/out, metadata update) runs without any codec."""
    if use_real_codec:
        try:
            import PIL  # noqa: F401
        except ImportError as exc:
            raise NotImplementedError(
                "real resize needs PIL, which is not installed; "
                "use use_real_codec=False for the truncate/pad fake"
            ) from exc
    # zero-pad with unhex(repeat('00', n)) — string repeat then unhex
    # keeps BINARY (repeat on binary coerces to string, see media_table)
    padded = F.expr(
        f"substring(concat(payload, unhex(repeat('00', {target_bytes}))),"
        f" 1, {target_bytes})"
    )
    return df.withColumn("payload", padded).withColumn(
        "n_bytes", F.octet_length("payload").cast("long")
    )


def m01_media_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata scan over the media table: per-type counts + byte stats.
    All JVM expressions — the 'how big is the corpus' query."""
    m = media_table(spark, sf_dir)
    return (
        m.groupBy("media_type")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_bytes").alias("total_bytes"),
            F.min("n_bytes").alias("min_bytes"),
            F.max("n_bytes").alias("max_bytes"),
        )
        .orderBy("media_type")
    )


M01_SQL = """
WITH media AS (
  SELECT doc_id,
         ['image','audio','video'][CAST(doc_id % 3 + 1 AS INTEGER)] AS media_type,
         -- null text -> null payload -> null byte count (media_table)
         CASE WHEN text IS NULL THEN NULL
              ELSE 16 * (1 + doc_id % 4) END AS n_bytes
  FROM documents
)
SELECT media_type,
       COUNT(*) AS n_docs,
       CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
       CAST(MIN(n_bytes) AS BIGINT) AS min_bytes,
       CAST(MAX(n_bytes) AS BIGINT) AS max_bytes
FROM media
GROUP BY media_type
ORDER BY media_type
"""


def m02_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas decode (fake codec) → aggregate decoded dimensions.
    The checksum equals the first 4 MD5 bytes as a big-endian int, so
    DuckDB reproduces it from md5(text) — verifying the Python decode
    stage bit-for-bit against SQL."""
    decoded = decode_media(media_table(spark, sf_dir))
    return decoded.select(
        "doc_id", "media_type", "n_bytes", "checksum", "width", "height"
    ).orderBy("doc_id")


M02_SQL = """
SELECT doc_id,
       ['image','audio','video'][CAST(doc_id % 3 + 1 AS INTEGER)] AS media_type,
       CASE WHEN text IS NULL THEN NULL
            ELSE CAST(16 * (1 + doc_id % 4) AS BIGINT) END AS n_bytes,
       CAST('0x' || substring(md5(text), 1, 8) AS BIGINT) AS checksum,
       CAST(1 + CAST('0x' || substring(md5(text), 1, 2) AS BIGINT) % 64 AS INTEGER) AS width,
       CAST(1 + CAST('0x' || substring(md5(text), 3, 2) AS BIGINT) % 64 AS INTEGER) AS height
FROM documents
ORDER BY doc_id
"""


def m03_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling plumbing: per-video exploded frame rows."""
    frames = sample_frames(media_table(spark, sf_dir))
    return frames.select(
        "doc_id",
        F.col("frame_idx").cast("long").alias("frame_idx"),
        "frame_offset",
    ).orderBy("doc_id", "frame_idx")


M03_SQL = f"""
WITH media AS (
  SELECT doc_id,
         -- null text -> null n_bytes; LEAST skips NULL on BOTH engines,
         -- so a null-payload video still yields N_SAMPLED_FRAMES rows
         CASE WHEN text IS NULL THEN NULL
              ELSE 16 * (1 + doc_id % 4) END AS n_bytes
  FROM documents
  WHERE doc_id % 3 = 2  -- media_type = 'video' (array index 3)
),
frames AS (
  SELECT doc_id,
         UNNEST(RANGE(0, LEAST(n_bytes // {FRAME_SIZE},
                               {N_SAMPLED_FRAMES}))) AS frame_idx
  FROM media
)
SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
       CAST(frame_idx * {FRAME_SIZE} AS BIGINT) AS frame_offset
FROM frames
ORDER BY doc_id, frame_idx
"""


def m04_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas feature extraction over the payload bytes. The
    payload is k identical MD5 blocks, so mean/min/max equal those of
    the 16 MD5 bytes — reproducible in SQL from the hex digest."""
    feats = extract_features(media_table(spark, sf_dir))
    return feats.select(
        "doc_id",
        F.round("byte_mean", 6).alias("byte_mean"),
        "byte_min",
        "byte_max",
    ).orderBy("doc_id")


def _m04_sql() -> str:
    bytes_ = [
        f"CAST('0x' || substring(md5(text), {2 * k + 1}, 2) AS BIGINT)"
        for k in range(16)
    ]
    return f"""
WITH b AS (
  SELECT doc_id, [{', '.join(bytes_)}] AS bs
  FROM documents
)
SELECT doc_id,
       ROUND(list_sum(bs) / 16.0, 6) AS byte_mean,
       list_min(bs) AS byte_min,
       list_max(bs) AS byte_max
FROM b
ORDER BY doc_id
"""


def m05_media_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup of binary media payloads — d01's policy applied to
    the bytes themselves (identical images/audio stored twice):
    fingerprint = md5 over the payload bytes, keep the min-doc_id copy,
    report how many bytes deduplication reclaims.

    The fingerprint hashes the BINARY column via hex() so the oracle
    (whose md5 only accepts VARCHAR) computes the identical digest.
    Scale shape: identical to d01 — one shuffle on the 128-bit key;
    payload bytes themselves never shuffle (the fingerprint projection
    happens in the scan stage, so only 32-char digests cross the
    wire)."""
    m = media_table(spark, sf_dir)
    return (
        m.select(
            "doc_id",
            "n_bytes",
            F.md5(F.hex("payload")).alias("fp"),
        )
        .groupBy("fp")
        .agg(
            F.min("doc_id").alias("canonical_id"),
            F.count(F.lit(1)).alias("n_copies"),
            ((F.count(F.lit(1)) - 1) * F.min("n_bytes"))
            .cast("long")
            .alias("reclaimed_bytes"),
        )
        .orderBy("canonical_id")
    )


M05_SQL = """
WITH media AS (
  SELECT doc_id,
         CASE WHEN text IS NULL THEN NULL
              ELSE 16 * (1 + doc_id % 4) END AS n_bytes,
         md5(hex(repeat(unhex(md5(text)), CAST(1 + doc_id % 4 AS INTEGER))))
           AS fp
  FROM documents
)
SELECT fp,
       MIN(doc_id) AS canonical_id,
       COUNT(*) AS n_copies,
       CAST((COUNT(*) - 1) * MIN(n_bytes) AS BIGINT) AS reclaimed_bytes
FROM media
GROUP BY fp
ORDER BY canonical_id
"""


MM_PATCH_BYTES = 4     # fake "patch" granularity over the payload
MM_SEQ_BUDGET = 256    # tokens per packed multimodal sequence


def m06_multimodal_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interleaved image-text sequence packing — the multimodal
    pretraining batch-builder: each document costs its TEXT tokens plus
    its media PATCH tokens (payload bytes / MM_PATCH_BYTES — the stand-
    in for (H/14)×(W/14) ViT patches, which real metadata would supply),
    and documents pack greedily in doc_id order into fixed
    ``MM_SEQ_BUDGET``-token sequences (first-fit by running offset —
    a doc belongs to the sequence its offset starts in).

    Scale shape: the modality fusion is ONE 1:1 equi-join of the token
    projection with the media metadata on doc_id; the global running
    offset is the distributed two-pass pattern (no SinglePartition);
    packing assignment is pure integer arithmetic. Output is the
    packing manifest (doc → sequence) a loader materializes from."""
    from kafka2clickhouse_py_streamer_spark.llm.sampling import (
        _n_tokens,
        _two_pass_offsets,
    )

    media = media_table(spark, sf_dir).select(
        "doc_id", "media_type", "n_bytes"
    )
    text = table(spark, sf_dir, "documents").select(
        "doc_id", _n_tokens().alias("text_tokens")
    )
    fused = text.join(media, "doc_id").select(
        "doc_id",
        "media_type",
        "text_tokens",
        # integer div, not /-then-cast: CAST(double AS BIGINT) ROUNDS
        # on DuckDB but truncates on Spark — div/// sidestep the seam
        F.expr(f"n_bytes div {MM_PATCH_BYTES}").alias("patch_tokens"),
    ).withColumn(
        "total_tokens", F.col("text_tokens") + F.col("patch_tokens")
    )
    packed = _two_pass_offsets(
        fused, [], val_col="total_tokens", order_col="doc_id"
    )
    return (
        packed.select(
            "doc_id",
            "media_type",
            "text_tokens",
            "patch_tokens",
            "total_tokens",
            F.expr(f"stream_offset div {MM_SEQ_BUDGET}").alias(
                "seq_id"
            ),
        )
        .orderBy("doc_id")
    )


M06_SQL = rf"""
WITH media AS (
  SELECT doc_id,
         ['image','audio','video'][CAST(doc_id % 3 + 1 AS INTEGER)]
           AS media_type,
         -- null text -> null payload (md5(NULL)) -> null byte count,
         -- mirrored from the Spark media_table derivation
         CASE WHEN text IS NULL THEN NULL
              ELSE CAST(16 * (1 + doc_id % 4) AS BIGINT) END AS n_bytes
  FROM documents
),
text AS (
  SELECT doc_id,
         CAST(CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
              ELSE LEN(regexp_split_to_array(TRIM(text), '\s+')) END
              AS BIGINT) AS text_tokens
  FROM documents
),
fused AS (
  SELECT t.doc_id, m.media_type, t.text_tokens,
         CAST(m.n_bytes // {MM_PATCH_BYTES} AS BIGINT) AS patch_tokens,
         t.text_tokens + CAST(m.n_bytes // {MM_PATCH_BYTES} AS BIGINT)
           AS total_tokens
  FROM text t JOIN media m ON m.doc_id = t.doc_id
),
offs AS (
  SELECT *,
         COALESCE(SUM(total_tokens) OVER (ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) AS off
  FROM fused
)
SELECT doc_id, media_type, text_tokens, patch_tokens, total_tokens,
       CAST(off // {MM_SEQ_BUDGET} AS BIGINT) AS seq_id
FROM offs
ORDER BY doc_id
"""


PHASH_HAMMING_MAX = 3  # m07 near-dup verify threshold (64-bit hash)
# 64 threshold features (the nibbles of sha256 over the payload hex).
# Width is the scale lever, same lesson as d04's SimHash: the r11
# receipt (RECEIPT_GRAPHS.json) measured the old 32-bit hash's 4x8-bit
# bands at 256 values per band — occupancy n/256, band-candidate pairs
# ~ n^2/128: 197k at 5k media, 19.7M at 50k (99.9x at 10x data, the
# d04 quadratic shape). 16-bit bands give 65,536 values per band; the
# hash is carried as TWO 32-bit halves (ph_hi, ph_lo) so every value
# stays a non-negative BIGINT on both engines (a single 64-bit hash
# would need bit 63 = 2^63, overflowing signed int64).
PHASH_BITS = 64
PHASH_BANDS = 4        # 4 bands x 16 bits: exact recall for Hamming <= 3
PHASH_BAND_BITS = PHASH_BITS // PHASH_BANDS
PHASH_BAND_SPACE = 2 ** PHASH_BAND_BITS  # band-value space (65,536)


# The perceptual-hash SIGNATURE TABLE per sf_dir is a ``"phash"``
# session substrate (``session.substrate``): m07 and m08 both start
# from this frame, it is immutable for a session's view of a
# directory, and it is already lineage-cut (eager localCheckpoint), so
# per-call rebuilds bought nothing. A deployment persists it as a
# table (it IS the media near-dup index).
def phash_hashes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, ph_hi, ph_lo): the 64-bit perceptual hash per media
    item, carried as two non-negative 32-bit halves — the first
    stage of m07 and m08, factored out so both start from the same
    frame. Served from the ``"phash"`` session substrate (one build per
    session and sf_dir).

    Features are the 64 nibbles of sha256 over the payload hex —
    derived from the FULL payload bytes (so, unlike the earlier
    first-md5-block variant, two payloads of different length hash
    differently, consistent with m05's full-payload fingerprint); a
    real deployment swaps pHash/aHash features in at the decoder seam
    and everything downstream is unchanged. Each nibble thresholds
    against the feature mean (divides by 64, a power of two, so the
    comparison is exact on both engines).

    Staged projections, not one inlined tree: each nibble is a named
    alias referenced twice (mean + its own threshold) and the mean is
    referenced 32 times, so CollapseProject keeps them materialized —
    the one-shot expression inlined the 32-conv mean into every
    threshold branch (~1000 conv nodes/row) and tripled the wall time.

    The result is ALWAYS lineage-cut: (doc_id, ph) is referenced FIVE
    times downstream in m07 (the distinct banding chain, both sides of
    the hash→doc expansion, both sides of the identical-hash
    self-join); without the cut each reference re-runs the payload
    build + hex + 32-nibble conv scan (r10 profile: ~5 heavy scans per
    action). The cut is 16 bytes/row at any corpus size. EAGER
    deliberately: a deferred cut here is materialized by an action
    whose five consumer stages race to compute it (duplicated heavy
    scans + zombie-task accumulator errors); the one up-front job is
    the cheaper trade.

    NULL payloads are filtered OUT before hashing (round-11 advice):
    a NULL payload's nibbles are all NULL, so every threshold WHEN
    falls to the ELSE 0 arm and the hash collapses to ph_hi=ph_lo=0 —
    and since no real payload hashes to all-zero (the max nibble is
    always >= the mean), every undecodable media item would pair with
    every other at Hamming 0, declaring them mutual duplicates. The
    NULL-payload -> NULL-metadata contract (m01-m05) means NULL media
    carries no content signal; it must not enter the pair graph."""
    return substrate(
        spark, "phash", sf_dir, lambda: _build_phash(spark, sf_dir)
    )


def _build_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The uncached :func:`phash_hashes` build."""
    m = media_table(spark, sf_dir).where(F.col("payload").isNotNull())
    # ARRAY form of the 64-nibble feature stage (round 14): the
    # previous 64 named nib columns + a mean referencing all of them
    # + 64 threshold branches made a plan whose driver-side
    # analysis/optimization cost ~1.2-1.8 s PER CONSTRUCTION at any
    # data size (guide §7.3 — large plans; measured: the words
    # projection EXECUTES in 0.48 s via noop while a fresh
    # build-and-count pays 1.67 s, and the eager cut 2.3 s). One
    # array column + HOF folds keep the tree ~4 expressions wide;
    # the HOFs are interpreted, but 64 ops × |media| rows is nothing
    # next to the planning cost they remove. Values are bit-identical
    # to the column form: same conv per nibble, same left-fold sum
    # order into the mean, and the word bits are distinct powers of
    # two (order-insensitive integer sum) — pinned bit-for-bit by the
    # serial twin
    # (tests/test_llm_invariants.py::test_m07_hash_stage_matches_serial_reference).
    # Each stage stays its own projection: aliases referenced more
    # than once are non-cheap, so CollapseProject keeps them
    # materialized (the staged-projection lesson of the column form).
    half = PHASH_BITS // 2
    staged = m.select(
        "doc_id", F.sha2(F.hex("payload"), 256).alias("sh")
    )
    nibbed = staged.select(
        "doc_id",
        F.expr(
            f"transform(sequence(1, {PHASH_BITS}),"
            " i -> cast(conv(substring(sh, i, 1), 16, 10) as long))"
        ).alias("ns"),
    )
    with_mean = nibbed.select(
        "doc_id",
        "ns",
        (
            F.expr("aggregate(ns, cast(0 as long), (a, x) -> a + x)")
            / F.lit(float(PHASH_BITS))
        ).alias("nib_mean"),
    )

    def threshold_word(lo_bit: int) -> "F.Column":
        return F.expr(
            f"aggregate(sequence(0, {half - 1}), cast(0 as long),"
            f" (acc, i) -> acc + IF(element_at(ns, {lo_bit} + i + 1)"
            " >= nib_mean,"
            " shiftleft(cast(1 as long), cast(i as int)),"
            " cast(0 as long)))"
        )

    return iter_materialize(
        with_mean.select(
            "doc_id",
            threshold_word(half).alias("ph_hi"),
            threshold_word(0).alias("ph_lo"),
        )
    )


def m07_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-dup detection over media PAYLOADS — the
    multimodal sibling of d06's text SimHash: 64 payload features (the
    sha256 nibbles of the payload hex; a real deployment swaps in
    pHash/aHash features at the decoder seam, everything downstream
    unchanged) threshold against their own mean into a 64-bit hash
    carried as two 32-bit halves; DISTINCT hashes block into 4×16-bit
    bands; band collisions verify by exact Hamming distance ≤
    PHASH_HAMMING_MAX (bit_count of xor per half — pure integer
    arithmetic both engines reproduce); hash pairs then expand back to
    doc pairs, and identical-hash groups pair by a plain (hi, lo)
    self-join. FOUR bands is the pigeonhole guarantee: ≤3 differing
    bits cannot touch all 4 bands, so every true pair at the verify
    threshold collides on at least one band — banding is EXACT recall
    for Hamming ≤ 3 (same layout reasoning as d06's SimHash bands; an
    earlier 2-band split measured 74% missed pairs).

    Scale shape — hash width is the lever, twice-learned (d04 r10,
    m07 r11):
    (1) band-value space = 2^(width/4). The 32-bit variant's 8-bit
        bands (256 values) saturated: the r11 receipt measured its
        band-candidate pairs ~ n²/128 — 197k at 5k media, 19.7M at
        50k, a 99.9× blowup at 10× data. 16-bit bands (65,536
        values) put occupancy below 1 at these corpus sizes; at
        larger corpora band width is the deployment knob (the same
        posture as s09's plane count).
    (2) the band pair-join runs over DISTINCT hash values, never doc
        rows — exact-duplicate payload groups (the common case in a
        replicated/scraped corpus) cannot blow up the candidate join;
        they expand only at the output, which is the true pair count.
    Only (doc_id, two 32-bit words) cross the wire; the nibble→hash
    projection rides the scan. The mean divides by 64 (a power of
    two), so the threshold comparison is exact on both engines."""
    return phash_band_pairs(phash_hashes(spark, sf_dir))


def phash_band_pairs(hashed: DataFrame) -> DataFrame:
    """Banded near-dup pair detection over a hashed frame
    ``(doc_id, ph_hi, ph_lo)`` — m07's candidate+verify core, now the
    shared :func:`banded_hamming_pairs` machinery at the 2-word
    (64-bit) layout. Factored out (the triangle_stats pattern) so the
    pigeonhole exactness guarantee is testable on CRAFTED hash values
    at every admissible Hamming distance: 64-bit near-collisions
    cannot be mined from organic text (P(dist ≤ 3) ≈ 43k/2^64 per
    random pair), so the recall property is pinned at the hash level
    and the text→hash stage is oracle-checked separately. The scale
    knob is the word list: a 128-bit deployment passes four words and
    gets 4×32-bit bands (exactness for the 4-word layout is pinned by
    its own crafted-hash test)."""
    from kafka2clickhouse_py_streamer_spark.functions.hamming_lsh import (
        banded_hamming_pairs,
    )

    return banded_hamming_pairs(
        hashed, ["ph_hi", "ph_lo"], PHASH_BANDS, PHASH_HAMMING_MAX
    ).orderBy("doc_a", "doc_b")


def _m07_sql() -> str:
    half = PHASH_BITS // 2
    half_bands = PHASH_BANDS // 2
    nibs = [
        f"CAST('0x' || substring(sh, {i + 1}, 1) AS BIGINT)"
        for i in range(PHASH_BITS)
    ]
    mean = (
        "("
        + " + ".join(f"ns[{i + 1}]" for i in range(PHASH_BITS))
        + f") / {float(PHASH_BITS)}"
    )

    def word(lo_bit: int) -> str:
        return " + ".join(
            f"(CASE WHEN ns[{lo_bit + i + 1}] >= m"
            f" THEN {1 << i} ELSE 0 END)"
            for i in range(half)
        )

    def band_val(j: int) -> str:
        # hi-first, matching banded_hamming_pairs(['ph_hi','ph_lo'])
        w = "ph_hi" if j < half_bands else "ph_lo"
        return f"({w} // {PHASH_BAND_SPACE ** (j % half_bands)})" \
               f" % {PHASH_BAND_SPACE}"

    bands = "\n  UNION ALL\n".join(
        f"  SELECT ph_hi, ph_lo, {j} AS band_id,"
        f" {band_val(j)} AS band_val FROM hu"
        for j in range(PHASH_BANDS)
    )
    ham = "bit_count(xor(hi_a, hi_b)) + bit_count(xor(lo_a, lo_b))"
    return f"""
WITH pay AS (
  SELECT doc_id,
         sha256(hex(repeat(unhex(md5(text)),
                           CAST(1 + doc_id % 4 AS INTEGER)))) AS sh
  FROM documents
  WHERE text IS NOT NULL  -- null text -> null payload: no content
                          -- signal, must not enter the pair graph
),
n AS (
  SELECT doc_id, [{', '.join(nibs)}] AS ns
  FROM pay
),
hashed AS (
  SELECT doc_id,
         CAST({word(half)} AS BIGINT) AS ph_hi,
         CAST({word(0)} AS BIGINT) AS ph_lo
  FROM (SELECT doc_id, ns, {mean} AS m FROM n)
),
hu AS (
  SELECT DISTINCT ph_hi, ph_lo FROM hashed
),
banded AS (
{bands}
),
hp AS (
  SELECT hi_a, lo_a, hi_b, lo_b,
         CAST({ham} AS BIGINT) AS hamming
  FROM (
    SELECT DISTINCT x.ph_hi AS hi_a, x.ph_lo AS lo_a,
                    y.ph_hi AS hi_b, y.ph_lo AS lo_b
    FROM banded x
    JOIN banded y ON y.band_id = x.band_id
                AND y.band_val = x.band_val
                AND (y.ph_hi > x.ph_hi
                     OR (y.ph_hi = x.ph_hi AND y.ph_lo > x.ph_lo))
  )
  WHERE {ham} <= {PHASH_HAMMING_MAX}
),
allpairs AS (
  SELECT LEAST(a.doc_id, b.doc_id) AS doc_a,
         GREATEST(a.doc_id, b.doc_id) AS doc_b,
         f.hamming
  FROM hp f
  JOIN hashed a ON a.ph_hi = f.hi_a AND a.ph_lo = f.lo_a
  JOIN hashed b ON b.ph_hi = f.hi_b AND b.ph_lo = f.lo_b
  UNION ALL
  SELECT g1.doc_id AS doc_a, g2.doc_id AS doc_b,
         CAST(0 AS BIGINT) AS hamming
  FROM hashed g1
  JOIN hashed g2 ON g2.ph_hi = g1.ph_hi AND g2.ph_lo = g1.ph_lo
                AND g2.doc_id > g1.doc_id
)
SELECT doc_a, doc_b, hamming
FROM allpairs
ORDER BY doc_a, doc_b
"""


# Converged media CC labels per sf_dir, an ``"m08_labels"`` session
# substrate — d07's ``_cc_labels`` on the m07 pair graph. The served
# frame is the contraction output (nodes ⋈ parents over lineage-cut
# rounds), so reuse re-runs only that cheap join, never the m07 chain.
def _media_cc_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build() -> DataFrame:
        edges = m07_phash_neardup(spark, sf_dir).select(
            F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
        )
        return connected_components(edges, max_iters=DEDUP_CC_MAX_ITERS)[0]

    return substrate(spark, "m08_labels", sf_dir, build)


def m08_media_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media near-dup canonicalization — d07/d08's policy step for the
    multimodal corpus: connected components over the m07
    perceptual-hash pair graph (large-star/small-star contraction,
    ``functions/graph.py`` — same engine as the text-side d07) label
    every media item with the smallest reachable doc_id; each cluster
    then reports its canonical member (the label itself), member
    count, and the payload bytes a dedup pass would reclaim (the
    non-canonical members' sizes) — the number a storage planner
    actually wants from media dedup.

    Scale shape: only (long, long) edge pairs enter the contraction
    loop (never payloads); isolated media join back in ONE pass with
    their own id as label; the report is a single hash agg on the
    label. Round count is ~log(diameter) by star contraction. The
    converged labels are the ``"m08_labels"`` session substrate (the
    d07 ``_cc_labels`` pattern, round 14): the contraction's input cut
    (connected_components' eager e0) re-ran the whole m07
    banding/verify chain once per CALL — ~1.3 s of the measured 4.0 s
    sf0.1 wall — for labels that are immutable per (session,
    fixture)."""
    m = media_table(spark, sf_dir).select("doc_id", "n_bytes")
    labels = _media_cc_labels(spark, sf_dir)
    lab = m.join(labels, "doc_id", "left").select(
        "doc_id",
        F.coalesce("cluster_id", F.col("doc_id")).alias("cluster_id"),
        "n_bytes",
    )
    dup = F.when(
        F.col("doc_id") != F.col("cluster_id"), F.col("n_bytes")
    ).otherwise(F.lit(0))
    return (
        lab.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.sum(dup).cast("long").alias("dup_bytes"),
        )
        .orderBy("cluster_id")
    )


def _m08_sql() -> str:
    m07 = _m07_sql().strip()
    cut = m07.rindex("SELECT doc_a")
    ctes = m07[len("WITH"):cut].rstrip()
    return f"""
WITH RECURSIVE {ctes},
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM allpairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM allpairs
),
reach(node, lbl) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node
),
cc AS (
  SELECT node AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY node
)
SELECT cluster_id,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       CAST(SUM(CASE WHEN doc_id <> cluster_id
                     THEN CASE WHEN d.text IS NULL THEN NULL
                          ELSE 16 * (1 + doc_id % 4) END
                     ELSE 0 END)
            AS BIGINT) AS dup_bytes
FROM cc JOIN documents d USING (doc_id)
GROUP BY cluster_id
ORDER BY cluster_id
"""


QUERIES = [
    Query("m01_media_metadata", m01_media_metadata, M01_SQL,
          "binary media metadata scan"),
    Query("m02_decode_stats", m02_decode_stats, M02_SQL,
          "mapInPandas decode stage (fake codec, oracle-checked)"),
    Query("m03_frame_sample", m03_frame_sample, M03_SQL,
          "video frame sampling via sequence+explode"),
    Query("m04_feature_extract", m04_feature_extract, _m04_sql(),
          "mapInPandas byte-feature extraction (oracle-checked)"),
    Query("m05_media_dedup", m05_media_dedup, M05_SQL,
          "exact dedup of binary payloads by content fingerprint"),
    Query("m06_multimodal_packing", m06_multimodal_packing, M06_SQL,
          "interleaved image-text sequence packing (text tokens + "
          "media patch tokens, two-pass offsets)"),
    Query("m07_phash_neardup", m07_phash_neardup, _m07_sql(),
          "perceptual-hash near-dup over media payload bytes: "
          "mean-threshold 64-bit hash (two 32-bit halves), 4x16-bit "
          "bands over DISTINCT hashes, exact Hamming verify"),
    Query("m08_media_canonical", m08_media_canonical, _m08_sql(),
          "media near-dup canonicalization: connected components over "
          "the m07 pair graph, canonical member + reclaimable dup "
          "bytes per cluster"),
]
