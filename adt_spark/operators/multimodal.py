"""Multimodal column handling: image/audio/video as opaque ``binary``
columns with typed metadata, plus decode / feature-extract plumbing
as Arrow-batched pandas UDFs over mapInPandas.

The driver tables carry no real media, so the binary payload is
derived deterministically from document text (utf-8 bytes) — the
Spark-side plumbing (binary schema, content addressing, mapInPandas
batch iteration, UDF signatures) is real and tested; the actual
codec call is stubbed behind ``NotImplementedError`` exactly where
an image/audio library would slot in (those libs are not in this
container).

Scale notes: binary payloads stay opaque to the JVM (no decode in
Catalyst); mapInPandas streams Arrow batches so a 100 TB media scan
is batch-at-a-time per partition with bounded memory, and
content-addressing (sha256) enables exact dedup of media blobs with
the same hash-groupBy shape as text dedup.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from adt_spark.operators.memo import memoize
from adt_spark.queries import register, tables


@register(
    "mm_binary_content_address",
    oracle="""
    SELECT doc_id,
           sha256(text) AS content_sha256,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           CAST(CASE WHEN octet_length(encode(text)) > 256 THEN 1 ELSE 0 END AS INT)
             AS is_large
    FROM documents
    """,
    tags=("multimodal", "binary"),
)
def mm_binary_content_address(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary columns + content addressing: materialize an opaque
    binary payload, sha256-address it, size-classify it.

    Pure JVM projection (encode/sha2/length) — the blob never crosses
    into Python.  This is the ingest shape for media lakes: (blob,
    metadata struct, content hash) with the hash powering dedup and
    shard-stable partitioning (hash-partition on content_sha256 is
    uniform by construction).
    """
    docs = tables(spark, sf_dir)["documents"]
    blob = F.encode(F.col("text"), "UTF-8")
    return docs.select(
        "doc_id",
        F.sha2(blob, 256).alias("content_sha256"),
        F.octet_length(blob).cast("bigint").alias("n_bytes"),
        F.when(F.octet_length(blob) > 256, 1).otherwise(0).cast("int").alias("is_large"),
    )


def decode_media(blob: bytes, media_type: str) -> dict:
    """Decode a media blob → feature dict.  This is the codec seam
    every media pipeline stage routes through.

    REAL codecs implemented here, executor-side, zero dependencies:

    - ``image/bmp``  — BITMAPINFOHEADER parse + 24/32-bpp pixel
      decode (numpy): width, height, mean_luma.
    - ``image/ppm``  — binary P6 parse: width, height, mean_luma.
    - ``audio/wav``  — stdlib ``wave`` + numpy PCM16 decode:
      sample_rate, n_channels, duration_s, rms.

    Anything else tries PIL if deployed alongside it (import-try
    seam); otherwise NotImplementedError names the missing codec.
    The ``fake/deterministic`` codec (md5-derived dimensions) remains
    the oracle-checkable default for the driver tables, which carry
    no real media bytes.
    """
    if media_type == "fake/deterministic":
        h = hashlib.md5(blob).hexdigest()
        return {
            "width": 1 + int(h[:2], 16),
            "height": 1 + int(h[2:4], 16),
            "n_frames": 1 + int(h[4:5], 16),
        }
    if media_type == "image/bmp":
        return _decode_bmp(blob)
    if media_type == "image/ppm":
        return _decode_ppm(blob)
    if media_type == "audio/wav":
        return _decode_wav(blob)
    try:  # deployment seam: any PIL-supported format
        import io

        from PIL import Image  # type: ignore

        img = Image.open(io.BytesIO(blob))
        return {"width": img.width, "height": img.height, "n_frames": 1}
    except ImportError:
        raise NotImplementedError(
            f"decoding {media_type!r} needs codec libs (PIL/ffmpeg) not in "
            "this container; in-container codecs: image/bmp, image/ppm, "
            "audio/wav, fake/deterministic"
        ) from None


def _decode_bmp(blob: bytes) -> dict:
    """Windows BMP (BITMAPINFOHEADER, uncompressed 24/32 bpp): header
    fields are little-endian ints at fixed offsets; pixel rows are
    stored bottom-up, padded to 4-byte boundaries."""
    import struct

    import numpy as np

    if blob[:2] != b"BM":
        raise ValueError("not a BMP stream (missing BM magic)")
    data_offset = struct.unpack_from("<I", blob, 10)[0]
    width = struct.unpack_from("<i", blob, 18)[0]
    height = struct.unpack_from("<i", blob, 22)[0]
    bpp = struct.unpack_from("<H", blob, 28)[0]
    compression = struct.unpack_from("<I", blob, 30)[0]
    out = {"width": width, "height": abs(height), "n_frames": 1, "bpp": bpp}
    if compression == 0 and bpp in (24, 32):
        bytes_pp = bpp // 8
        stride = (width * bytes_pp + 3) & ~3
        rows = np.frombuffer(
            blob, dtype=np.uint8, count=stride * abs(height), offset=data_offset
        ).reshape(abs(height), stride)[:, : width * bytes_pp]
        px = rows.reshape(abs(height), width, bytes_pp)[..., :3]  # BGR
        out["mean_luma"] = float(
            (0.114 * px[..., 0] + 0.587 * px[..., 1] + 0.299 * px[..., 2]).mean()
        )
    return out


def _ppm_header(blob: bytes) -> tuple[int, int, int]:
    """Walk a binary-PPM (P6) header: whitespace-separated magic,
    width, height, maxval with # comments — returns (width, height,
    pixel data offset).  The ONE header parser both PPM decoders use.
    """
    fields: list[bytes] = []
    pos = 0
    while len(fields) < 4:
        while pos < len(blob) and blob[pos : pos + 1].isspace():
            pos += 1
        if blob[pos : pos + 1] == b"#":  # comment to end of line
            pos = blob.index(b"\n", pos) + 1
            continue
        start = pos
        while pos < len(blob) and not blob[pos : pos + 1].isspace():
            pos += 1
        fields.append(blob[start:pos])
    if fields[0] != b"P6":
        raise ValueError("not a binary PPM (P6) stream")
    return int(fields[1]), int(fields[2]), pos + 1


def _decode_ppm(blob: bytes) -> dict:
    """Binary PPM (P6): ASCII header (magic, width, height, maxval)
    then raw RGB triples."""
    px = _decode_ppm_pixels(blob)
    luma = 0.299 * px[..., 0] + 0.587 * px[..., 1] + 0.114 * px[..., 2]
    return {
        "width": px.shape[1],
        "height": px.shape[0],
        "n_frames": 1,
        "mean_luma": float(luma.mean()),
    }


def _decode_wav(blob: bytes) -> dict:
    """RIFF/WAVE via the stdlib ``wave`` reader + numpy PCM decode."""
    import io
    import wave

    import numpy as np

    with wave.open(io.BytesIO(blob)) as w:
        n_channels = w.getnchannels()
        rate = w.getframerate()
        n_frames = w.getnframes()
        width = w.getsampwidth()
        pcm = w.readframes(n_frames)
    out = {
        "n_channels": n_channels,
        "sample_rate": rate,
        "n_frames": n_frames,
        "duration_s": n_frames / rate if rate else 0.0,
    }
    if width == 2:
        samples = np.frombuffer(pcm, dtype="<i2").astype(np.float64)
        out["rms"] = float(np.sqrt((samples**2).mean())) if len(samples) else 0.0
    return out


@register(
    "mm_decode_features",
    oracle="""
    SELECT doc_id,
           CAST(1 + instr('0123456789abcdef', substr(md5(text), 1, 1)) * 16
                  + instr('0123456789abcdef', substr(md5(text), 2, 1)) - 17 AS INT)
             AS width,
           CAST(1 + instr('0123456789abcdef', substr(md5(text), 3, 1)) * 16
                  + instr('0123456789abcdef', substr(md5(text), 4, 1)) - 17 AS INT)
             AS height,
           CAST(1 + instr('0123456789abcdef', substr(md5(text), 5, 1)) - 1 AS INT)
             AS n_frames
    FROM documents
    """,
    tags=("multimodal", "udf"),
)
def mm_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas decode pipeline: binary blobs → per-item features
    via the (stubbed) codec, Arrow batch at a time.

    This exercises the real multimodal plumbing: binary column into
    Python as zero-copy Arrow batches, per-batch vectorized decode,
    typed struct-ish output schema.  The oracle replicates the
    deterministic fake codec in SQL (md5-derived dimensions), proving
    the UDF path computes exactly what it claims.
    """
    from adt_spark.context import spread

    docs = tables(spark, sf_dir)["documents"]
    # spread: a single-split scan would hand ALL blobs to one Python
    # worker; decode is the per-row-heavy step, so fan out first.
    with_blob = spread(docs).select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("blob")
    )

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [decode_media(b, "fake/deterministic") for b in pdf["blob"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": [f["width"] for f in feats],
                    "height": [f["height"] for f in feats],
                    "n_frames": [f["n_frames"] for f in feats],
                }
            )

    return with_blob.mapInPandas(
        decode_batches, schema="doc_id long, width int, height int, n_frames int"
    )


_FRAME_STRIDE = 2


def _encode_bmp_gray(vals) -> bytes:
    """Encode a 2-D uint8 array as a REAL 24-bpp Windows BMP
    (BITMAPINFOHEADER, bottom-up rows, 4-byte row padding) with the
    gray value replicated across B/G/R."""
    import struct

    import numpy as np

    h, w = vals.shape
    stride = (w * 3 + 3) & ~3
    header_size = 14 + 40
    img_size = stride * h
    buf = bytearray()
    buf += b"BM" + struct.pack("<IHHI", header_size + img_size, 0, 0, header_size)
    buf += struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, img_size, 2835, 2835, 0, 0)
    row = np.zeros(stride, dtype=np.uint8)
    for y in range(h - 1, -1, -1):  # bottom-up storage order
        row[: w * 3] = np.repeat(vals[y], 3)
        buf += bytes(row)
    return bytes(buf)


def _decode_bmp_pixels(blob: bytes):
    """Decode a 24-bpp BMP to a top-down 2-D uint8 gray array (blue
    channel; equal channels for gray content).  Positive header height
    means bottom-up pixel rows, so flip back."""
    import struct

    import numpy as np

    if blob[:2] != b"BM":
        raise ValueError("not a BMP stream (missing BM magic)")
    data_offset = struct.unpack_from("<I", blob, 10)[0]
    width = struct.unpack_from("<i", blob, 18)[0]
    height = struct.unpack_from("<i", blob, 22)[0]
    stride = (width * 3 + 3) & ~3
    rows = np.frombuffer(
        blob, dtype=np.uint8, count=stride * abs(height), offset=data_offset
    ).reshape(abs(height), stride)[:, : width * 3]
    px = rows.reshape(abs(height), width, 3)[..., 0]
    return px[::-1] if height > 0 else px


def resize_nearest(px, tw: int, th: int):
    """Nearest-neighbor resize: target pixel (tx, ty) samples source
    pixel (⌊tx·sw/tw⌋, ⌊ty·sh/th⌋) — the standard NN convention
    (OpenCV INTER_NEAREST / PIL NEAREST family)."""
    import numpy as np

    sh, sw = px.shape
    xs = (np.arange(tw) * sw) // tw
    ys = (np.arange(th) * sh) // th
    return px[np.ix_(ys, xs)]


_RESIZE_TW = _RESIZE_TH = 8


@register(
    "mm_resize_nearest",
    oracle=f"""
    WITH p AS (
        SELECT doc_id,
               4 + doc_id % 13 AS sw,
               4 + doc_id % 11 AS sh
        FROM documents
    ),
    px AS (
        SELECT doc_id, sw, sh,
               (doc_id * 31 + ((tx.i * sw) // {_RESIZE_TW}) * 7
                            + ((ty.i * sh) // {_RESIZE_TH}) * 13) % 256 AS v
        FROM p,
             unnest(generate_series(0, {_RESIZE_TW - 1})) AS tx(i),
             unnest(generate_series(0, {_RESIZE_TH - 1})) AS ty(i)
    )
    SELECT doc_id,
           CAST(min(sw) AS INT) AS src_w,
           CAST(min(sh) AS INT) AS src_h,
           CAST(sum(v) AS BIGINT) AS resized_checksum
    FROM px GROUP BY doc_id
    """,
    tags=("multimodal", "udf", "resize"),
)
def mm_resize_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image resize via a REAL in-container codec path: per row,
    synthesize a gray image whose pixel (x, y) is the closed form
    ``(doc_id·31 + x·7 + y·13) mod 256``, encode it as a genuine
    24-bpp BMP, decode the BMP back (header parse, stride padding,
    bottom-up flip), nearest-neighbor-resize to 8×8, and checksum the
    resized pixels.

    Because the source pixels have a closed form, the oracle computes
    the *same checksum arithmetically in SQL* — so the full
    encode → decode → resize kernel is value-hash-verified end-to-end
    (a flipped row order, an off-by-one in the stride padding, or a
    wrong NN index would all shift the checksum).  Swapping the
    synthetic source for real stored blobs changes only the input
    column; decode/resize/checksum are the production kernels.

    Scale: mapInPandas over Arrow batches — per-task memory is one
    batch of small images; no shuffle; resize is numpy fancy-indexing
    (vectorized, no per-pixel Python).
    """
    import numpy as np

    from adt_spark.context import spread

    docs = spread(tables(spark, sf_dir)["documents"]).select("doc_id")

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for d in pdf["doc_id"]:
                d = int(d)
                sw, sh, resized = _synth_resized(d)
                rows.append((d, sw, sh, int(resized.sum(dtype=np.int64))))
            yield pd.DataFrame(
                rows, columns=["doc_id", "src_w", "src_h", "resized_checksum"]
            )

    return docs.mapInPandas(
        batches, schema="doc_id long, src_w int, src_h int, resized_checksum bigint"
    )


#: shared oracle CTE block: closed-form image -> 8x8 resized pixels
#: -> mean -> bit-packed hash halves h(doc_id, hi, lo).  ONE copy on
#: purpose (same discipline as dedup._SHINGLE_SQL): the three phash
#: oracles and the Python kernel must move together on any change to
#: the synthesis closed form, threshold strictness, or packing.
_PHASH_SQL_CTE = f"""
    p AS (
        SELECT doc_id, 4 + doc_id % 13 AS sw, 4 + doc_id % 11 AS sh
        FROM documents
    ),
    px AS (
        SELECT doc_id, tx.i AS x, ty.i AS y,
               (doc_id * 31 + ((tx.i * sw) // {_RESIZE_TW}) * 7
                            + ((ty.i * sh) // {_RESIZE_TH}) * 13) % 256 AS v
        FROM p,
             unnest(generate_series(0, {_RESIZE_TW - 1})) AS tx(i),
             unnest(generate_series(0, {_RESIZE_TH - 1})) AS ty(i)
    ),
    m AS (
        SELECT doc_id, CAST(sum(v) AS DOUBLE) / {_RESIZE_TW * _RESIZE_TH} AS mean
        FROM px GROUP BY doc_id
    ),
    h AS (
        SELECT px.doc_id,
               CAST(sum(CASE WHEN v > mean AND y * {_RESIZE_TW} + x >= 32
                             THEN CAST(1 AS BIGINT) << ((y * {_RESIZE_TW} + x) % 32)
                             ELSE 0 END) AS BIGINT) AS hi,
               CAST(sum(CASE WHEN v > mean AND y * {_RESIZE_TW} + x < 32
                             THEN CAST(1 AS BIGINT) << (y * {_RESIZE_TW} + x)
                             ELSE 0 END) AS BIGINT) AS lo
        FROM px JOIN m ON px.doc_id = m.doc_id GROUP BY px.doc_id
    )"""


def _synth_resized(d: int):
    """doc_id -> the 8x8 resized pixel array via the REAL codec path:
    closed-form gray image (pixel (x, y) = (d*31 + x*7 + y*13) mod
    256, size (4 + d%13) x (4 + d%11)) -> genuine BMP encode ->
    decode -> nearest resize.  The ONE synthesis both mm_resize_nearest
    and mm_phash (and their oracles, via _PHASH_SQL_CTE's px CTE) are
    pinned to."""
    import numpy as np

    sw, sh = 4 + d % 13, 4 + d % 11
    x = np.arange(sw, dtype=np.int64)
    y = np.arange(sh, dtype=np.int64)
    vals = ((d * 31 + x[None, :] * 7 + y[:, None] * 13) % 256).astype(np.uint8)
    return (
        sw,
        sh,
        resize_nearest(
            _decode_bmp_pixels(_encode_bmp_gray(vals)), _RESIZE_TW, _RESIZE_TH
        ),
    )


@register(
    "mm_phash",
    oracle=f"""
    WITH {_PHASH_SQL_CTE}
    SELECT doc_id, hi AS phash_hi, lo AS phash_lo FROM h
    """,
    tags=("multimodal", "udf", "phash"),
)
def mm_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image hash (average hash — the classic aHash of
    image-dedup pipelines): synthesize the closed-form gray image,
    run the REAL BMP encode → decode → 8×8 nearest-resize kernels,
    then fingerprint: bit(y·8+x) = 1 iff the resized pixel exceeds
    the image mean.  Near-duplicate images differ in a few Hamming
    bits; the two 32-bit halves avoid int64 sign overflow at bit 63
    in both engines.

    The oracle recomputes the hash ARITHMETICALLY in SQL from the
    same closed form — so the codec round-trip, the resize index
    math, the strict-majority threshold (mean = sum/64, an exact
    power-of-two division), and the bit packing are all
    value-hash-verified.  Scale: one mapInPandas pass, no shuffle;
    downstream dedup joins on the hash halves (band the 64 bits for
    Hamming-radius candidates exactly like dedup_simhash).
    """
    # the Arrow decode+hash pass is the expensive stem every phash
    # consumer (hamming pairs, the media pipeline) shares: materialized
    # once per session+corpus
    return memoize(spark, sf_dir, "phash", lambda: (
        _phash_plan(spark, sf_dir).localCheckpoint(eager=False)
    ))


def _phash_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The un-checkpointed fingerprint pipeline (one Arrow pass over
    the spread scan) — separate so tests can assert its plan shape;
    mm_phash memoizes its checkpoint."""
    import numpy as np

    from adt_spark.context import spread

    docs = spread(tables(spark, sf_dir)["documents"]).select("doc_id")

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for d in pdf["doc_id"]:
                d = int(d)
                _sw, _sh, resized = _synth_resized(d)
                resized = resized.astype(np.int64)
                mean = resized.sum() / float(_RESIZE_TW * _RESIZE_TH)
                bits = resized > mean  # strict: matches the SQL CASE
                pos = (
                    np.arange(_RESIZE_TH)[:, None] * _RESIZE_TW
                    + np.arange(_RESIZE_TW)[None, :]
                )
                hi_bits = (bits & (pos >= 32)).astype(np.int64)
                lo_bits = (bits & (pos < 32)).astype(np.int64)
                hi = int((hi_bits << (pos % 32)).sum(dtype=np.int64))
                lo = int((lo_bits << pos).sum(dtype=np.int64))
                rows.append((d, hi, lo))
            yield pd.DataFrame(rows, columns=["doc_id", "phash_hi", "phash_lo"])

    return docs.mapInPandas(
        batches, schema="doc_id long, phash_hi long, phash_lo long"
    )


#: Hamming radius for perceptual-hash near-dup pairs; 4 bands of 16
#: bits give EXACT recall for any radius < 4 (pigeonhole: ≤3 flipped
#: bits cannot touch all four bands)
_PHASH_R = 1


@register(
    "dedup_phash_hamming",
    oracle=f"""
    WITH {_PHASH_SQL_CTE}
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) AS INT)
             AS hamming
    FROM h a JOIN h b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= {_PHASH_R}
    """,
    tags=("multimodal", "dedup", "phash"),
)
def dedup_phash_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate IMAGE pairs by perceptual-hash Hamming distance
    ≤ {_PHASH_R} — the multimodal dedup composition: mm_phash
    fingerprints (real BMP codec path) → 4×16-bit band buckets →
    equi-join candidates → exact popcount verify.

    The banding is EXACT at this radius (a pair within Hamming ≤ 3
    must agree on at least one of four 16-bit bands), so the oracle
    can use the plain all-pairs formulation while the engine never
    joins beyond the band buckets — the same candidates-then-verify
    shape as dedup_minhash_lsh, keyed on uniform hash bands.  The
    two fingerprint longs ride along inside the exploded band rows,
    so the single band-keyed shuffle join already carries both sides'
    hashes and the verify is a pure popcount filter — no second join
    and no broadcast of the per-image hash table (small per ROW, not
    small in TOTAL: corpus-sized broadcasts die at 100×).
    """
    h = mm_phash(spark, sf_dir)  # session-memoized checkpoint
    bands = h.select(
        "doc_id",
        "phash_hi",
        "phash_lo",
        F.explode(
            F.array(
                F.struct(F.lit(0).alias("bi"), (F.col("phash_lo") % 65536).alias("bv")),
                F.struct(
                    F.lit(1).alias("bi"),
                    F.expr("(phash_lo >> 16) & 65535").alias("bv"),
                ),
                F.struct(F.lit(2).alias("bi"), (F.col("phash_hi") % 65536).alias("bv")),
                F.struct(
                    F.lit(3).alias("bi"),
                    F.expr("(phash_hi >> 16) & 65535").alias("bv"),
                ),
            )
        ).alias("b"),
    ).select("doc_id", "phash_hi", "phash_lo", "b.bi", "b.bv")
    ba = bands.select(
        F.col("doc_id").alias("doc_a"),
        F.col("phash_hi").alias("hi_a"),
        F.col("phash_lo").alias("lo_a"),
        "bi",
        "bv",
    )
    bb = bands.select(
        F.col("doc_id").alias("doc_b"),
        F.col("phash_hi").alias("hi_b"),
        F.col("phash_lo").alias("lo_b"),
        "bi",
        "bv",
    )
    ham = F.bit_count(F.expr("hi_a ^ hi_b")) + F.bit_count(F.expr("lo_a ^ lo_b"))
    # verify FIRST (the popcount gate is a free filter on the join
    # output), then dedupe the tiny survivor set — same ordering as
    # dedup_simhash_hamming
    return (
        ba.join(bb, ["bi", "bv"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn("hamming", ham.cast("int"))
        .filter(F.col("hamming") <= _PHASH_R)
        .select("doc_a", "doc_b", "hamming")
        .distinct()
    )


def sample_frames(blob: bytes, media_type: str, stride: int) -> list[dict]:
    """Frame sampling: decode → take every ``stride``-th frame →
    per-frame content hash.  The real codec (ffmpeg frame extraction)
    slots in exactly here; the deterministic fake derives per-frame
    bytes from (blob, frame_idx) so the expansion shape, ordering and
    addressing are fully testable in-container.
    """
    meta = decode_media(blob, media_type)
    out = []
    for idx in range(0, meta["n_frames"], stride):
        frame_bytes = blob + f"-frame-{idx}".encode()
        out.append({"frame_idx": idx, "frame_md5": hashlib.md5(frame_bytes).hexdigest()})
    return out


@register(
    "mm_frame_sample",
    oracle=f"""
    WITH m AS (
        SELECT doc_id, text,
               instr('0123456789abcdef', substr(md5(text), 5, 1)) AS n_frames
        FROM documents
    )
    SELECT doc_id,
           CAST(u.i AS INT) AS frame_idx,
           md5(text || '-frame-' || CAST(u.i AS VARCHAR)) AS frame_md5
    FROM m, unnest(generate_series(0, n_frames - 1, {_FRAME_STRIDE})) AS u(i)
    """,
    tags=("multimodal", "udf", "frames"),
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling: each media blob expands to its sampled
    frames (every 2nd frame), each content-addressed — the
    row-expanding mapInPandas shape every video pipeline needs
    (decode → N frames per input row → per-frame features).

    Scale: expansion happens inside the Arrow batch iterator, so
    memory is bounded by batch size × stride fraction regardless of
    corpus size; downstream per-frame dedup reuses the hash-groupBy
    shape on frame_md5.  (Fake codec, real plumbing — see
    ``decode_media``.)
    """
    from adt_spark.context import spread

    docs = tables(spark, sf_dir)["documents"]
    with_blob = spread(docs).select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("blob")
    )

    def expand(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, hashes = [], [], []
            for doc_id, blob in zip(pdf["doc_id"], pdf["blob"]):
                for fr in sample_frames(blob, "fake/deterministic", _FRAME_STRIDE):
                    ids.append(doc_id)
                    idxs.append(fr["frame_idx"])
                    hashes.append(fr["frame_md5"])
            yield pd.DataFrame({"doc_id": ids, "frame_idx": idxs, "frame_md5": hashes})

    return with_blob.mapInPandas(
        expand, schema="doc_id long, frame_idx int, frame_md5 string"
    )


_WAV_SR = 8000


@register(
    "mm_audio_features",
    oracle=f"""
    SELECT doc_id,
           CAST({_WAV_SR} AS INT) AS sample_rate,
           CAST(64 + doc_id % 64 AS INT) AS n_frames,
           CAST(100 + doc_id % 1000 AS DOUBLE) AS rms,
           CAST(64 + doc_id % 64 AS DOUBLE) / {_WAV_SR} AS duration_s
    FROM documents
    """,
    tags=("multimodal", "udf", "audio"),
)
def mm_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio feature extraction through a REAL in-container codec:
    per row, synthesize a square wave of amplitude ``100 + doc_id %
    1000`` (``64 + doc_id % 64`` frames at 8 kHz), encode it as a
    genuine RIFF/WAVE PCM16 container (stdlib ``wave``), decode it
    back through ``_decode_wav`` (header parse, PCM16 → float), and
    report sample_rate / frame count / RMS / duration.

    A ±A square wave has RMS exactly A (mean of squares = A², and
    IEEE sqrt of a perfect square is exact), so the SQL oracle states
    the features in closed form — the full encode → decode → feature
    kernel is value-hash-verified end-to-end, the audio analog of
    ``mm_resize_nearest``.  Real audio blobs change only the input
    column; the decode path is the production kernel.

    Scale: mapInPandas over Arrow batches, no shuffle, bounded
    per-task memory.
    """
    import io
    import wave as _wave

    import numpy as np

    from adt_spark.context import spread

    docs = spread(tables(spark, sf_dir)["documents"]).select("doc_id")

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for d in pdf["doc_id"]:
                d = int(d)
                n = 64 + d % 64
                amp = 100 + d % 1000
                samples = np.empty(n, dtype="<i2")
                samples[0::2] = amp
                samples[1::2] = -amp
                buf = io.BytesIO()
                with _wave.open(buf, "wb") as w:
                    w.setnchannels(1)
                    w.setsampwidth(2)
                    w.setframerate(_WAV_SR)
                    w.writeframes(samples.tobytes())
                feats = _decode_wav(buf.getvalue())
                rows.append(
                    (
                        d,
                        feats["sample_rate"],
                        feats["n_frames"],
                        feats["rms"],
                        feats["duration_s"],
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "sample_rate", "n_frames", "rms", "duration_s"],
            )

    return docs.mapInPandas(
        batches,
        schema="doc_id long, sample_rate int, n_frames int, rms double, duration_s double",
    )


def _encode_ppm(px) -> bytes:
    """Encode an (h, w, 3) uint8 array as binary PPM (P6)."""
    h, w, _ = px.shape
    return b"P6\n# adt-spark synthetic\n%d %d\n255\n" % (w, h) + px.tobytes()


def _decode_ppm_pixels(blob: bytes):
    """Binary P6 → (h, w, 3) uint8 array."""
    import numpy as np

    width, height, offset = _ppm_header(blob)
    return np.frombuffer(
        blob, dtype=np.uint8, count=width * height * 3, offset=offset
    ).reshape(height, width, 3)


@register(
    "mm_ppm_channel_stats",
    oracle="""
    WITH p AS (
        SELECT doc_id, 3 + doc_id % 5 AS w, 2 + doc_id % 7 AS h FROM documents
    ),
    px AS (
        SELECT doc_id, w, h,
               (doc_id + x.i * 3 + y.i * 5) % 256 AS r,
               (doc_id * 2 + x.i * 7 + y.i * 11) % 256 AS g,
               (doc_id * 3 + x.i * 13 + y.i * 17) % 256 AS b
        FROM p, unnest(generate_series(0, w - 1)) AS x(i),
                unnest(generate_series(0, h - 1)) AS y(i)
    )
    SELECT doc_id,
           CAST(min(w) AS INT) AS width, CAST(min(h) AS INT) AS height,
           CAST(sum(r) AS BIGINT) AS sum_r,
           CAST(sum(g) AS BIGINT) AS sum_g,
           CAST(sum(b) AS BIGINT) AS sum_b
    FROM px GROUP BY doc_id
    """,
    tags=("multimodal", "udf", "ppm"),
)
def mm_ppm_channel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-channel statistics through the REAL P6 codec: synthesize an
    RGB image whose channels follow closed forms of (doc_id, x, y),
    encode a genuine binary PPM (with a comment line, exercising the
    header walk), decode it back, and sum each channel.

    The SQL oracle recomputes the channel sums arithmetically — the
    third real codec kernel verified end-to-end (BMP resize, WAV
    features, PPM channel stats).  Scale: Arrow-batched mapInPandas,
    no shuffle.
    """
    import numpy as np

    from adt_spark.context import spread

    docs = spread(tables(spark, sf_dir)["documents"]).select("doc_id")

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for d in pdf["doc_id"]:
                d = int(d)
                w, h = 3 + d % 5, 2 + d % 7
                x = np.arange(w, dtype=np.int64)[None, :]
                y = np.arange(h, dtype=np.int64)[:, None]
                px = np.stack(
                    [
                        (d + x * 3 + y * 5) % 256,
                        (d * 2 + x * 7 + y * 11) % 256,
                        (d * 3 + x * 13 + y * 17) % 256,
                    ],
                    axis=-1,
                ).astype(np.uint8)
                back = _decode_ppm_pixels(_encode_ppm(px))
                sums = back.sum(axis=(0, 1), dtype=np.int64)
                rows.append((d, w, h, int(sums[0]), int(sums[1]), int(sums[2])))
            yield pd.DataFrame(
                rows, columns=["doc_id", "width", "height", "sum_r", "sum_g", "sum_b"]
            )

    return docs.mapInPandas(
        batches,
        schema="doc_id long, width int, height int, "
        "sum_r bigint, sum_g bigint, sum_b bigint",
    )


@register(
    "pipeline_media_dedup",
    oracle=f"""
    WITH addr AS (
        SELECT doc_id, sha256(text) AS content_sha256 FROM documents
    ),
    keepers AS (
        SELECT content_sha256, min(doc_id) AS keeper FROM addr GROUP BY 1
    ),
    {_PHASH_SQL_CTE},
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM h a JOIN h b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo))
              <= {_PHASH_R}
    ),
    near AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_near,
               CAST(max(has_lower) AS INT) AS has_lower
        FROM (
            SELECT doc_a AS doc_id, 0 AS has_lower FROM pairs
            UNION ALL
            SELECT doc_b AS doc_id, 1 AS has_lower FROM pairs
        ) GROUP BY doc_id
    )
    SELECT addr.doc_id, addr.content_sha256,
           addr.doc_id <> keepers.keeper AS is_exact_dup,
           COALESCE(near.n_near, 0) AS n_near_dups,
           addr.doc_id = keepers.keeper
             AND COALESCE(near.has_lower, 0) = 0 AS is_kept
    FROM addr
    JOIN keepers USING (content_sha256)
    LEFT JOIN near ON near.doc_id = addr.doc_id
    """,
    tags=("multimodal", "dedup", "pipeline"),
)
def pipeline_media_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed media-dedup pipeline a training-data lake runs over
    an image corpus: content-address every blob (sha256, exact dups
    keep the min-id copy), perceptual-hash the decoded pixels, count
    near-duplicate partners (Hamming ≤ {_PHASH_R}), and keep a
    document iff it is its exact-dup group's keeper AND no lower-id
    near-twin exists — the same lower-id-wins rule as dedup_semantic.

    Composition = mm_binary_content_address ⊕ dedup_phash_hamming in
    ONE plan: the content hash is a pure JVM projection folded into
    the scan, the hash-groupBy keeper is one uniform shuffle, and the
    near-dup side reuses the banded candidates + broadcast popcount
    verify.  At 100 TB the blob bytes never leave the executors and
    nothing corpus-sized reaches the driver.
    """
    addr = mm_binary_content_address(spark, sf_dir).select(
        "doc_id", "content_sha256"
    )
    keepers = addr.groupBy("content_sha256").agg(F.min("doc_id").alias("keeper"))
    pairs = dedup_phash_hamming(spark, sf_dir).select("doc_a", "doc_b")
    near = (
        pairs.select(F.col("doc_a").alias("doc_id"), F.lit(0).alias("has_lower"))
        .unionByName(
            pairs.select(F.col("doc_b").alias("doc_id"), F.lit(1).alias("has_lower"))
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_near"),
            F.max("has_lower").cast("int").alias("has_lower"),
        )
    )
    return (
        addr.join(keepers, ["content_sha256"])
        .join(near, ["doc_id"], "left")
        .select(
            "doc_id",
            "content_sha256",
            (F.col("doc_id") != F.col("keeper")).alias("is_exact_dup"),
            F.coalesce(F.col("n_near"), F.lit(0)).alias("n_near_dups"),
            (
                (F.col("doc_id") == F.col("keeper"))
                & (F.coalesce(F.col("has_lower"), F.lit(0)) == 0)
            ).alias("is_kept"),
        )
    )


#: scene-cut threshold on mean-abs pixel delta between consecutive
#: frames (within-scene drift synthesizes to exactly 1.0, the cut to
#: exactly 101.0 — the gate sits far from both)
_CUT_THRESHOLD = 50.0


@register(
    "mm_scene_cuts",
    oracle=f"""
    WITH p AS (
        SELECT doc_id, 4 + doc_id % 4 AS n_frames,
               1 + doc_id % (3 + doc_id % 4) AS cut_at
        FROM documents
    )
    SELECT doc_id, CAST(f.i AS INT) AS frame_idx,
           CAST(CASE WHEN f.i = cut_at THEN 101.0 ELSE 1.0 END AS DOUBLE)
             AS mad,
           f.i = cut_at AS is_cut
    FROM p, unnest(generate_series(1, n_frames - 1)) AS f(i)
    """,
    tags=("multimodal", "udf", "video"),
)
def mm_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video SCENE-CUT detection through the REAL P6 codec: each doc
    synthesizes a short frame sequence (4 + doc_id % 4 frames of
    4×3 RGB) with a brightness drift of +1/frame and one genuine
    scene change (pattern jump of +100) at a doc-derived frame; every
    frame round-trips through a real binary PPM encode → decode, and
    consecutive frames are compared by mean absolute pixel delta —
    the shot-boundary detector every video curation pipeline runs
    before per-scene sampling/dedup.

    The synthesis pins the arithmetic so the SQL oracle states the
    detector's output in closed form (within-scene MAD is EXACTLY
    1.0 — uniform +1 drift with no uint8 wraparound by construction;
    the cut is EXACTLY 101.0), so the full decode → frame-diff →
    threshold kernel is value-hash-verified end-to-end like the WAV
    and channel-stats kernels.  Real video blobs change only the
    frame source; the diff kernel is the production one.

    Scale: mapInPandas over Arrow batches, frames expanded and
    compared INSIDE the batch iterator (bounded by batch × frames),
    no shuffle.
    """
    import numpy as np

    from adt_spark.context import spread

    docs = spread(tables(spark, sf_dir)["documents"]).select("doc_id")

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, idxs, mads, cuts = [], [], [], []
            for d in pdf["doc_id"]:
                d = int(d)
                n_frames = 4 + d % 4
                cut_at = 1 + d % (n_frames - 1)
                x = np.arange(4, dtype=np.int64)[None, :]
                y = np.arange(3, dtype=np.int64)[:, None]
                base = (d + x * 3 + y * 5) % 140  # +7 drift +100 jump < 256
                prev = None
                for f in range(n_frames):
                    px = base + f + (100 if f >= cut_at else 0)
                    frame = np.repeat(
                        px[:, :, None], 3, axis=2
                    ).astype(np.uint8)
                    back = _decode_ppm_pixels(_encode_ppm(frame))
                    if prev is not None:
                        mad = float(
                            np.abs(
                                back.astype(np.int64) - prev.astype(np.int64)
                            ).mean()
                        )
                        ids.append(d)
                        idxs.append(f)
                        mads.append(mad)
                        cuts.append(mad > _CUT_THRESHOLD)
                    prev = back
            yield pd.DataFrame(
                {"doc_id": ids, "frame_idx": idxs, "mad": mads, "is_cut": cuts}
            )

    return docs.mapInPandas(
        batches,
        schema="doc_id long, frame_idx int, mad double, is_cut boolean",
    )
