"""Round-13 suite chunk: the last reference-parity asterisk (the
128-bit SipHash emission, Common/SipHash.h:13-15) plus the remaining
real-world codec seams (24-/8-bit PCM WAV, MJPEG AVI) and the round's
store-lifecycle hardening queries.

Registration order matters: the driver proves a 50-slot rotating window
per round, so this module keeps the round's NEW registrations well under
43 — leaving slots for the seven r07-stale proofs to drain (round-12
verdict #1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from arrowhouse_spark.session import shuffle_parts
from arrowhouse_spark.suite import _t, register

# --------------------------------------------------------------------------
# SipHash128 parity — closes the verdict's "only the 64-bit digest is
# exposed" residue (round-12 §missing #3). The reference's get128
# (Common/SipHash.h:158-172) emits lo = v0^v1, hi = v2^v3 from the SAME
# SipHash-2-4 state as the 64-bit digest (ClickHouse's streaming variant,
# NOT the official spec's 128-bit mode), so lo XOR hi == the 64-bit digest
# for every input. tests/test_hashing.py pins that fold invariant against
# the paper's PUBLISHED 64-bit vectors and the scalar ≡ numpy kernels; the
# hex ladders below are the resulting self-pinned ground truth (the
# _SIP_SEED0 discipline from round12.py).
# --------------------------------------------------------------------------

_SIP128_OFFICIAL = [  # (n, hex16(get128)) under the official paper key
    (0, "816897c2a81572c6b066991fefce1db4"),
    (1, "00128212f283e82afd755e8137ba105e"),
    (8, "6adbf6343a7149e808ff65ae4384bc7b"),
    (15, "c6165eed744305a22353e0a415892c03"),
]
_SIP128_SEED0 = [  # (n, hex16) under the reference's default (0, 0) key
    (0, "32b5c1db56a683e9e5b5b6a8cbed11f7"),
    (1, "6a88008a466dd91ee5ee50940439706d"),
    (2, "7f9e243613c11d9bd489c1636a19579b"),
    (3, "2ef9580b7f9a7b241138b17be185dcfb"),
    (4, "6b90b734e978722503657484e3a4e64f"),
    (5, "973651900785b7e3aac702f7161b9ad3"),
    (6, "2ad13692c6d01258e18050a47a4d0cf8"),
    (7, "165d1b6bedab167552e4ebec8622abb3"),
    (8, "da04ce2bb4a93287520a1f4d5e2ee9df"),
    (9, "561be8878fbac686bc97e8b578a40ff7"),
    (15, "6ba546e7f3187396409eb7bd0e899d28"),
    (16, "55ee8184be44171ee950db60ef0be517"),
    (17, "2cf3a84d74e8cf91cef45069f50116fb"),
    (24, "b99a61d4f47b2057187cae4a60f96e99"),
    (63, "2cdb0850f00df85ce95623e06d84ef32"),
    (64, "82bf5a97ce2952320a4762f5886f2c44"),
    (65, "c156ed14e1b68450e68fab1c16755333"),
    (255, "26357df0ce8e51b73c4fe15832d520dd"),
    (1024, "add7776b3ab9f0d0037ebbc4095ca8d2"),
]


@register(
    "sip_hash128_parity",
    "SELECT * FROM (VALUES "
    + ", ".join(f"('official', {n}, '{h}')" for n, h in _SIP128_OFFICIAL)
    + ", "
    + ", ".join(f"('seed0', {n}, '{h}')" for n, h in _SIP128_SEED0)
    + ") t(family, n, h128) ORDER BY family, n",
)
def sip_hash128_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's 128-bit SipHash emission through the distributed
    column API (functions/siphash.py:sip_hash128_str — Common/SipHash.h
    :13-15 "returns also 128 bits", :158-172 get128, the last asterisk
    on §2.7): the 'official' family hashes the spec's own messages
    (bytes 00..n-1, all < 0x80 so the UTF-8 round-trip is
    byte-identical) under the official paper key; the 'seed0' family a
    printable ladder under the reference's default (0, 0) key. Values
    are self-pinned hex of the get128 byte order, constrained by the
    fold invariant lo^hi == the PUBLISHED 64-bit vectors
    (tests/test_hashing.py)."""
    from arrowhouse_spark.functions.siphash import sip_hash128_str
    from arrowhouse_spark.sources.memory import one_block

    k0, k1 = 0x0706050403020100, 0x0F0E0D0C0B0A0908
    official = one_block(
        spark,
        [
            ("official", n, "".join(chr(j) for j in range(n)))
            for n, _ in _SIP128_OFFICIAL
        ],
        "family string, n int, s string",
    ).select("family", "n", sip_hash128_str("s", k0, k1).alias("h128"))
    buf = "".join(chr(33 + ((i * 31 + 7) % 94)) for i in range(1024))
    seed0 = one_block(
        spark,
        [("seed0", n, buf[:n]) for n, _ in _SIP128_SEED0],
        "family string, n int, s string",
    ).select("family", "n", sip_hash128_str("s").alias("h128"))
    return official.unionByName(seed0).orderBy("family", "n")


# --------------------------------------------------------------------------
# PCM width coverage — round-12 verdict #5: 24-bit masters and 8-bit
# telephony are common in found audio; both now decode built-in through
# the shared _wav_read_mono seam (numpy 3-byte-stride sign-extension for
# 24-bit, unsigned-recentre for 8-bit per the WAVE spec).
# --------------------------------------------------------------------------


@register(
    "wav_pcm24_decode_real",
    """
    WITH m AS (
      SELECT doc_id AS media_id,
             600 + (doc_id % 4) * 100 AS n,
             CASE WHEN doc_id % 2 = 0 THEN 8000 ELSE 16000 END AS sr,
             doc_id % 71 AS seed,
             CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 3 END AS w
      FROM documents
    ), smp AS (
      SELECT media_id, n, sr,
             ((i * i * 7 + i * 13 + seed * 101) % (1 << (8 * w)))
               - (1 << (8 * w - 1)) AS s
      FROM m, range(900) t(i)
      WHERE i < n
    )
    SELECT media_id, CAST(sr AS INTEGER) AS sample_rate,
           CAST(n AS BIGINT) AS n_samples,
           CAST(n * 1000 // sr AS BIGINT) AS duration_ms,
           CAST(sum(s * s) AS BIGINT) AS sum_sq,
           CAST(max(abs(s)) AS BIGINT) AS peak
    FROM smp GROUP BY media_id, n, sr
    """,
)
def wav_pcm24_decode_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """24-bit (and 8-bit) PCM WAV decode, driver-proven end to end
    (round-12 verdict #5): every document id becomes a REAL mono
    RIFF/WAVE payload — 24-bit (3-byte little-endian packed) unless
    doc_id % 3 == 0, which takes the 8-bit leg (UNSIGNED storage per the
    WAVE spec, recentred -128 on decode) — built by
    operators/multimodal.py:make_wav_payload and decoded distributed by
    decode_audio via the shared _wav_read_mono width seam. The sample
    formula is the historical PCM16 one evaluated mod 2^(8w) centred at
    -2^(8w-1), so the oracle replays BOTH widths closed-form; a wrong
    sign-extension of the packed 3-byte lane, a signed-8 misread, or an
    endianness flip each changes sum_sq/peak at the first payload.
    Map-side only — payloads never shuffle (wav_decode_real
    discipline)."""
    from collections.abc import Iterator

    from arrowhouse_spark.operators.multimodal import (
        decode_audio,
        make_wav_payload,
    )

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("media_id")
    )

    def _build(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import pandas as pd

        for pdf in batches:
            ids = [int(i) for i in pdf["media_id"]]
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "payload": [
                        make_wav_payload(
                            600 + (i % 4) * 100,
                            8000 if i % 2 == 0 else 16000,
                            seed=i % 71,
                            sampwidth=1 if i % 3 == 0 else 3,
                        )
                        for i in ids
                    ],
                }
            )

    media = docs.repartition(shuffle_parts(spark)).mapInPandas(
        _build, "media_id long, payload binary"
    )
    return decode_audio(media)


# --------------------------------------------------------------------------
# MJPEG AVI — round-12 verdict #2: the most common surviving AVI payload
# in real lakes, decodable built-in via the pure baseline-gray JPEG codec
# (operators/jpeg.py); flat 8x8 blocks make the lossy codec BIT-EXACT so
# the oracle replays frame features closed-form.
# --------------------------------------------------------------------------


@register(
    "video_mjpeg_sample_real",
    """
    WITH m AS (
      SELECT doc_id AS media_id,
             2 + doc_id % 3 AS wb, 2 + doc_id % 2 AS hb,
             3 + doc_id % 3 AS nf, doc_id % 97 AS seed
      FROM documents WHERE doc_id < 400
    ), fr AS (
      SELECT media_id, wb, hb, seed, f
      FROM m, range(5) tf(f) WHERE f < nf AND f % 2 = 0
    ), blk AS (
      SELECT media_id, wb, hb, f,
             (bx * 37 + by * 53 + f * 11 + seed) % 256 AS v, by
      FROM fr, range(4) tx(bx), range(3) ty(by)
      WHERE bx < wb AND by < hb
    )
    SELECT media_id,
           CAST(f AS INTEGER) AS frame_idx,
           CAST(f * 40 AS BIGINT) AS ts_ms,
           CAST(wb * 8 AS INTEGER) AS width,
           CAST(hb * 8 AS INTEGER) AS height,
           CAST(sum(v) * 64 AS BIGINT) AS gray_total,
           CAST(sum(CASE WHEN by = 0 THEN v ELSE 0 END) * 8 AS BIGINT)
             AS row0_sum
    FROM blk GROUP BY media_id, f, wb, hb
    """,
)
def video_mjpeg_sample_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL MJPEG video decode, driver-proven end to end (round-12
    verdict #2): every document id becomes a spec-conformant MJPEG AVI —
    biCompression='MJPG', each '00dc' chunk a standalone baseline
    GRAYSCALE JPEG built by the pure encoder — then frame-sampled by the
    REAL container parser (operators/multimodal.py:
    _decode_avi_gray_frames → operators/jpeg.py:decode_jpeg_gray) at
    every_ms=80 against the container's 40000 µs/frame timebase
    (step 2). Frames are constant per 8x8 block, the regime where the
    LOSSY codec round-trips bit-exactly (lone DC coefficient), so the
    oracle replays sampled-frame selection, timestamps, per-frame gray
    totals AND the flip-sensitive TOP-row sum (JPEG stores top-down —
    a decoder that applied the DIB flip gets row0_sum from the wrong
    block row) from the block formula alone. Certifies RIFF walking,
    MJPG routing, Huffman/DCT decode and orientation — not a header
    parse. Map-only: payloads never cross a shuffle (the
    video_frame_sample_real discipline)."""
    from collections.abc import Iterator

    from arrowhouse_spark.operators.multimodal import (
        frame_sample_real,
        make_mjpeg_avi_payload,
    )

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 400).select(
        F.col("doc_id").cast("long").alias("media_id")
    )

    def _build(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import pandas as pd

        for pdf in batches:
            ids = [int(i) for i in pdf["media_id"]]
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "payload": [
                        make_mjpeg_avi_payload(
                            (2 + i % 3) * 8,
                            (2 + i % 2) * 8,
                            3 + i % 3,
                            seed=i % 97,
                        )
                        for i in ids
                    ],
                }
            )

    media = docs.repartition(shuffle_parts(spark)).mapInPandas(
        _build, "media_id long, payload binary"
    )
    return frame_sample_real(media, every_ms=80)


# --------------------------------------------------------------------------
# Atomic upsert — round-12 verdict #3: the delete/append crash window
# eliminated by staging both legs under v{n+1} and flipping the META
# pointer (single commit point).
# --------------------------------------------------------------------------


@register(
    "ivf_store_upsert_atomic_topk",
    """
    WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id = 0),
    u AS (
      SELECT vec_id,
             CASE WHEN vec_id % 13 = 2
                  THEN list_transform(CAST(embedding AS DOUBLE[]), x -> -x)
                  ELSE CAST(embedding AS DOUBLE[]) END AS emb
      FROM embeddings
    )
    SELECT u.vec_id,
           round(list_dot_product(u.emb, q.qv)
                 / (sqrt(list_dot_product(u.emb, u.emb))
                    * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cos_sim,
           CAST(1 AS INTEGER) AS store_version
    FROM u, q
    ORDER BY cos_sim DESC, u.vec_id ASC
    LIMIT 20
    """,
)
def ivf_store_upsert_atomic_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ATOMIC upsert path driver-proven end to end (round-12 verdict
    #3): init + append build the store at version 0, then
    ivf_store_upsert(atomic=True) moves a slice (vec_id%13==2 negated —
    changed embeddings reassign cells) by staging survivors ∪ batch
    under v1 and flipping the META pointer — the single commit point
    (fault-injection pinned in tests/test_clustering.py). The probe runs
    exact (nprobe=n_centroids) over the post-flip layout and the emitted
    store_version column pins that the pointer actually advanced to 1 —
    a leg that silently fell back to the two-commit path (version stays
    0) or double-resided a moved id would flip the hash."""
    import shutil
    import tempfile

    from arrowhouse_spark.operators.similarity import (
        ivf_store_append,
        ivf_store_init,
        ivf_store_topk,
        ivf_store_upsert,
    )
    from arrowhouse_spark.operators.store import store_version

    emb = _t(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    moved = emb.filter(F.col("vec_id") % 13 == 2).select(
        "vec_id", F.transform("embedding", lambda x: -x).alias("embedding")
    )
    d = tempfile.mkdtemp(prefix="arrowhouse_ivf_atom_")
    store = d + "/ivf"
    try:
        ivf_store_init(emb.filter(F.col("vec_id") % 3 == 0), store, n_centroids=8)
        ivf_store_append(emb.filter(F.col("vec_id") % 3 != 0), store)
        ivf_store_upsert(moved, store, atomic=True)
        v = store_version(spark, store)
        return (
            ivf_store_topk(spark, store, qvec, k=20, nprobe=8)
            .withColumn("store_version", F.lit(int(v)).cast("int"))
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)


@register(
    "jpeg_image_decode_real",
    """
    WITH m AS (
      SELECT doc_id AS media_id,
             2 + doc_id % 4 AS wb, 1 + doc_id % 3 AS hb,
             doc_id % 89 AS seed
      FROM documents
    ), blk AS (
      SELECT media_id, wb, hb,
             (bx * 37 + by * 53 + seed) % 256 AS v
      FROM m, range(5) tx(bx), range(3) ty(by)
      WHERE bx < wb AND by < hb
    )
    SELECT media_id,
           CAST(wb * 8 AS INTEGER) AS width,
           CAST(hb * 8 AS INTEGER) AS height,
           CAST(sum(v) * 64 AS BIGINT) AS gray_total
    FROM blk GROUP BY media_id, wb, hb
    """,
)
def jpeg_image_decode_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standalone baseline-gray JPEG images through the image seam with
    NO external library (the codec operators/jpeg.py built for MJPEG,
    round-12 verdict #2, now serving still images too): every document
    id becomes a flat-8x8-block grayscale JPEG — the bit-exact regime —
    decoded distributed by decode_images(use_real_codec=True) via
    _decode_image_gray_real's JPEG routing. The oracle replays
    width/height/gray_total from the block formula; a codec that
    mis-dequantized, mis-ordered the zigzag, or dropped the EOB handling
    flips gray_total at the first payload. Map-side only — payloads
    never shuffle (png_decode_real discipline)."""
    from collections.abc import Iterator

    from arrowhouse_spark.operators.multimodal import decode_images

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("media_id")
    )

    def _build(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import numpy as np
        import pandas as pd

        from arrowhouse_spark.operators.jpeg import encode_jpeg_gray

        def payload(i: int) -> bytes:
            wb, hb, seed = 2 + i % 4, 1 + i % 3, i % 89
            bx = np.arange(wb, dtype=np.int64)[None, :]
            by = np.arange(hb, dtype=np.int64)[:, None]
            vals = (bx * 37 + by * 53 + seed) % 256
            img = np.kron(vals, np.ones((8, 8), dtype=np.int64))
            return encode_jpeg_gray(img.astype(np.uint8))

        for pdf in batches:
            ids = [int(i) for i in pdf["media_id"]]
            yield pd.DataFrame(
                {"media_id": ids, "payload": [payload(i) for i in ids]}
            )

    media = docs.repartition(shuffle_parts(spark)).mapInPandas(
        _build, "media_id long, payload binary"
    )
    dec = decode_images(media, use_real_codec=True)
    return dec.select(
        "media_id",
        "width",
        "height",
        F.round(F.col("mean_pixel") * F.col("width") * F.col("height"))
        .cast("long")
        .alias("gray_total"),
    )


@register(
    "video_mjpeg_color_sample_real",
    """
    WITH m AS (
      SELECT doc_id AS media_id,
             2 * (1 + doc_id % 2) AS wb, 2 AS hb,
             3 + doc_id % 3 AS nf, doc_id % 97 AS seed
      FROM documents WHERE doc_id < 400
    ), fr AS (
      SELECT media_id, wb, hb, seed, f
      FROM m, range(5) tf(f) WHERE f < nf AND f % 2 = 0
    ), blk AS (
      SELECT media_id, wb, hb, f,
             (bx * 37 + by * 53 + f * 11 + seed) % 256 AS v, by
      FROM fr, range(4) tx(bx), range(2) ty(by)
      WHERE bx < wb AND by < hb
    )
    SELECT media_id,
           CAST(f AS INTEGER) AS frame_idx,
           CAST(f * 40 AS BIGINT) AS ts_ms,
           CAST(wb * 8 AS INTEGER) AS width,
           CAST(hb * 8 AS INTEGER) AS height,
           CAST(sum(v) * 64 AS BIGINT) AS gray_total,
           CAST(sum(CASE WHEN by = 0 THEN v ELSE 0 END) * 8 AS BIGINT)
             AS row0_sum
    FROM blk GROUP BY media_id, f, wb, hb
    """,
)
def video_mjpeg_color_sample_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COLOR MJPEG (YCbCr 4:2:0 — the common camera shape) decoded
    BUILT-IN, driver-proven end to end: every document id becomes an
    MJPEG AVI whose '00dc' chunks are 3-component interleaved baseline
    JPEGs (operators/jpeg.py:encode_jpeg_color); the decoder
    entropy-decodes the interleaved chroma blocks to keep bitstream
    position and returns the Y plane — exactly the engine's 601-luma
    gray contract. Gray-content frames (R=G=B, flat 8x8 luma blocks)
    make the lossy pipeline bit-exact (Y = channel value, chroma =
    constant 128), so the SAME closed-form oracle as the grayscale
    video_mjpeg_sample_real replays frame selection, gray totals and
    the flip-sensitive top-row sum — now additionally certifying MCU
    interleave order, chroma-block skipping, and the 4:2:0 sampling
    geometry (a decoder that mis-ordered Y blocks inside the 2x2 MCU
    flips row0_sum). Map-only: payloads never cross a shuffle."""
    from collections.abc import Iterator

    from arrowhouse_spark.operators.multimodal import (
        frame_sample_real,
        make_mjpeg_avi_payload,
    )

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 400).select(
        F.col("doc_id").cast("long").alias("media_id")
    )

    def _build(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import pandas as pd

        for pdf in batches:
            ids = [int(i) for i in pdf["media_id"]]
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "payload": [
                        make_mjpeg_avi_payload(
                            16 * (1 + i % 2),
                            16,
                            3 + i % 3,
                            seed=i % 97,
                            color=True,
                        )
                        for i in ids
                    ],
                }
            )

    media = docs.repartition(shuffle_parts(spark)).mapInPandas(
        _build, "media_id long, payload binary"
    )
    return frame_sample_real(media, every_ms=80)


@register(
    "wav_g711_decode_real",
    """
    WITH m AS (
      SELECT doc_id AS media_id,
             500 + (doc_id % 4) * 80 AS n,
             doc_id % 61 AS seed,
             CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS is_mu
      FROM documents
    ), cb AS (
      SELECT media_id, n, is_mu, seed,
             (i * i * 5 + i * 37 + seed * 11) % 256 AS b
      FROM m, range(740) t(i) WHERE i < n
    ), e1 AS (
      SELECT media_id, n, is_mu, 255 - b AS u, xor(b, 85) AS a FROM cb
    ), e2 AS (
      SELECT media_id, n, is_mu, u, a,
             (((u % 16) * 8 + 132) << ((u // 16) % 8)) AS tu,
             ((a % 16) * 16) AS ta, (a // 16) % 8 AS seg
      FROM e1
    ), e3 AS (
      SELECT media_id, n, is_mu, u, a, tu,
             CASE WHEN seg = 0 THEN ta + 8
                  WHEN seg = 1 THEN ta + 264
                  ELSE (ta + 264) << (seg - 1) END AS va
      FROM e2
    ), s AS (
      SELECT media_id, n,
             CASE WHEN is_mu = 1 THEN
               CASE WHEN u >= 128 THEN 132 - tu ELSE tu - 132 END
             ELSE
               CASE WHEN a >= 128 THEN va ELSE -va END
             END AS sv
      FROM e3
    )
    SELECT media_id, CAST(8000 AS INTEGER) AS sample_rate,
           CAST(n AS BIGINT) AS n_samples,
           CAST(n * 1000 // 8000 AS BIGINT) AS duration_ms,
           CAST(sum(sv * sv) AS BIGINT) AS sum_sq,
           CAST(max(abs(sv)) AS BIGINT) AS peak
    FROM s GROUP BY media_id, n
    """,
)
def wav_g711_decode_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G.711 µ-law / A-law WAV decode (the telephony encodings Python's
    ``wave`` refuses — found-data audio's other big family), driver-
    proven end to end: every document id becomes a REAL format-tag-7/6
    RIFF payload of formula-coded bytes (even doc_id = µ-law, odd =
    A-law), decoded distributed through the _wav_read_mono G.711
    fallback (operators/multimodal.py:_g711_expand — the CCITT
    reference expansions, bit-exact vs stdlib audioop in pytest). The
    oracle replays coded byte → complement/xor → segment shift → sign
    closed-form for BOTH laws; a wrong complement, a mis-biased
    mantissa, or a swapped sign branch flips sum_sq/peak at the first
    payload. Map-side only — payloads never shuffle."""
    from collections.abc import Iterator

    from arrowhouse_spark.operators.multimodal import (
        decode_audio,
        make_g711_wav_payload,
    )

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("media_id")
    )

    def _build(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import pandas as pd

        for pdf in batches:
            ids = [int(i) for i in pdf["media_id"]]
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "payload": [
                        make_g711_wav_payload(
                            500 + (i % 4) * 80,
                            8000,
                            seed=i % 61,
                            law="mu" if i % 2 == 0 else "a",
                        )
                        for i in ids
                    ],
                }
            )

    media = docs.repartition(shuffle_parts(spark)).mapInPandas(
        _build, "media_id long, payload binary"
    )
    return decode_audio(media)


# --------------------------------------------------------------------------
# Round-13 stretch: the remaining common found-audio encodings — IEEE float
# (format tag 3, incl. WAVE_FORMAT_EXTENSIBLE wrapping) and mono IMA ADPCM
# (tag 0x11), decoded through the same _wav_read_mono raw-RIFF fallback the
# G.711 work added. ADPCM's oracle replays the published DVI recursion with
# a recursive CTE — the first stateful-codec SQL oracle in the suite.
# --------------------------------------------------------------------------


@register(
    "wav_float_decode_real",
    """
    WITH m AS (
      SELECT doc_id AS media_id,
             300 + (doc_id % 5) * 40 AS n,
             CASE WHEN doc_id % 2 = 0 THEN 8000 ELSE 16000 END AS sr,
             doc_id % 67 AS seed,
             1 + doc_id % 2 AS ch
      FROM documents
    ), q AS (
      SELECT media_id, n, sr, ch, i,
             ((i*i*7 + i*13 + c*29 + seed*101) % 512 - 256) * 128 AS qv
      FROM m, range(500) t(i), range(2) u(c)
      WHERE i < n AND c < ch
    ), fr AS (
      SELECT media_id, n, sr, CAST(floor(sum(qv) / ch) AS BIGINT) AS s
      FROM q GROUP BY media_id, n, sr, ch, i
    )
    SELECT media_id, CAST(sr AS INTEGER) AS sample_rate,
           CAST(n AS BIGINT) AS n_samples,
           CAST(n * 1000 // sr AS BIGINT) AS duration_ms,
           CAST(sum(s * s) AS BIGINT) AS sum_sq,
           CAST(max(abs(s)) AS BIGINT) AS peak
    FROM fr GROUP BY media_id, n, sr
    """,
)
def wav_float_decode_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IEEE-float WAV decode (format tag 3 — the studio-master float
    family ``wave`` refuses), driver-proven end to end: every document
    id becomes a REAL float RIFF payload rotating through the variant
    matrix {float32, float64} x {plain tag 3, WAVE_FORMAT_EXTENSIBLE
    wrapped} x {mono, stereo}, decoded distributed through the
    _wav_read_mono raw-RIFF fallback (operators/multimodal.py:
    _float_quantize — PCM16-grid quantization clip(rint(f*32768))).
    Fixture floats are k/256 (exact in float32), so the oracle replays
    the quantization closed-form as k*128 + the floor-div downmix; a
    wrong scale, a truncating round, a swapped EXTENSIBLE GUID parse,
    or a float64 stride error flips sum_sq/peak at the first payload.
    Map-side only — payloads never shuffle."""
    from collections.abc import Iterator

    from arrowhouse_spark.operators.multimodal import (
        decode_audio,
        make_float_wav_payload,
    )

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("media_id")
    )

    def _build(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import pandas as pd

        for pdf in batches:
            ids = [int(i) for i in pdf["media_id"]]
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "payload": [
                        make_float_wav_payload(
                            300 + (i % 5) * 40,
                            8000 if i % 2 == 0 else 16000,
                            seed=i % 67,
                            n_channels=1 + i % 2,
                            bits=32 if i % 4 < 2 else 64,
                            extensible=i % 4 in (1, 3),
                        )
                        for i in ids
                    ],
                }
            )

    media = docs.repartition(shuffle_parts(spark)).mapInPandas(
        _build, "media_id long, payload binary"
    )
    return decode_audio(media)


@register(
    "wav_adpcm_decode_real",
    """
    WITH RECURSIVE m AS (
      SELECT doc_id AS media_id,
             60 + (doc_id % 4) * 17 AS n,
             doc_id % 53 AS seed
      FROM documents
    ), blk AS (
      SELECT media_id, n, seed, CAST(b AS BIGINT) AS b
      FROM m, range(7) t(b) WHERE b * 17 < n
    ), dec AS (
      SELECT media_id, n, seed, b, CAST(0 AS BIGINT) AS j,
             CAST((seed*101 + b*17) % 65536 - 32768 AS BIGINT) AS pred,
             CAST((seed + b*7) % 89 AS BIGINT) AS idx
      FROM blk
      UNION ALL
      SELECT media_id, n, seed, b, j + 1,
             GREATEST(-32768, LEAST(32767,
               pred + CASE WHEN nib >= 8 THEN -diff ELSE diff END)),
             GREATEST(0, LEAST(88, idx +
               CASE WHEN nib % 8 < 4 THEN -1 ELSE (nib % 8 - 3) * 2 END))
      FROM (
        SELECT media_id, n, seed, b, j, pred, idx, nib, step,
               (step // 8)
               + CASE WHEN nib % 8 >= 4 THEN step ELSE 0 END
               + CASE WHEN nib % 4 >= 2 THEN step // 2 ELSE 0 END
               + CASE WHEN nib % 2 = 1 THEN step // 4 ELSE 0 END AS diff
        FROM (
          SELECT *,
                 [7,8,9,10,11,12,13,14,16,17,19,21,23,25,28,31,34,37,41,
                  45,50,55,60,66,73,80,88,97,107,118,130,143,157,173,190,
                  209,230,253,279,307,337,371,408,449,494,544,598,658,724,
                  796,876,963,1060,1166,1282,1411,1552,1707,1878,2066,2272,
                  2499,2749,3024,3327,3660,4026,4428,4871,5358,5894,6484,
                  7132,7845,8630,9493,10442,11487,12635,13899,15289,16818,
                  18500,20350,22385,24623,27086,29794,32767
                 ][CAST(idx AS INT) + 1] AS step,
                 CASE WHEN b*17 + j + 1 < n THEN
                   ((b*17+j+1)*(b*17+j+1)*3 + (b*17+j+1)*7 + seed*13) % 16
                 ELSE 0 END AS nib
          FROM dec WHERE j + 1 < 17
        ) y
      ) x
    ), s AS (
      SELECT media_id, n, pred AS sv FROM dec WHERE b*17 + j < n
    )
    SELECT media_id, CAST(8000 AS INTEGER) AS sample_rate,
           CAST(n AS BIGINT) AS n_samples,
           CAST(n * 1000 // 8000 AS BIGINT) AS duration_ms,
           CAST(sum(sv * sv) AS BIGINT) AS sum_sq,
           CAST(max(abs(sv)) AS BIGINT) AS peak
    FROM s GROUP BY media_id, n
    """,
)
def wav_adpcm_decode_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mono IMA ADPCM WAV decode (format tag 0x11 — the classic 4-bit
    telephony/game codec), driver-proven end to end: every document id
    becomes a REAL multi-block ADPCM RIFF payload (block_align=12, 17
    samples per block, closed-form block headers and nibble codes,
    zero-padded final block trimmed by the fact chunk), decoded
    distributed through _wav_read_mono's raw-RIFF fallback
    (operators/multimodal.py:_ima_adpcm_expand — the published IMA/DVI
    recursion, pinned bit-exact against stdlib audioop in pytest). The
    oracle replays the ENTIRE stateful recursion with a recursive CTE:
    per block, 16 predictor/step-index transitions through the 89-entry
    step table (list literal), magnitude reconstruction (step>>3 plus
    tap terms), sign bit, int16 clamp and index clamp — a wrong table
    entry, a dropped clamp, a swapped nibble order, or an off-by-one in
    the index step flips sum_sq/peak at the first block. The recursion
    is inherently sequential per block but blocks are independent, so
    the Spark decode stays map-side per payload. First stateful-codec
    SQL oracle in the suite."""
    from collections.abc import Iterator

    from arrowhouse_spark.operators.multimodal import (
        decode_audio,
        make_ima_adpcm_wav_payload,
    )

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("media_id")
    )

    def _build(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import pandas as pd

        for pdf in batches:
            ids = [int(i) for i in pdf["media_id"]]
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "payload": [
                        make_ima_adpcm_wav_payload(
                            60 + (i % 4) * 17,
                            8000,
                            seed=i % 53,
                        )
                        for i in ids
                    ],
                }
            )

    media = docs.repartition(shuffle_parts(spark)).mapInPandas(
        _build, "media_id long, payload binary"
    )
    return decode_audio(media)


@register(
    "wav_ms_adpcm_decode_real",
    """
    WITH RECURSIVE m AS (
      SELECT doc_id AS media_id,
             67 + (doc_id % 4) * 20 AS n,
             doc_id % 59 AS seed
      FROM documents
    ), blk AS (
      SELECT media_id, n, seed, CAST(b AS BIGINT) AS b,
             [256,512,0,192,240,460,392]
               [CAST((seed + b) % 7 AS INT) + 1] AS c1,
             [0,-256,0,64,0,-208,-232]
               [CAST((seed + b) % 7 AS INT) + 1] AS c2,
             16 + (seed*7 + b*11) % 240 AS delta0,
             (seed*101 + b*17) % 65536 - 32768 AS s1i,
             (seed*59 + b*23) % 65536 - 32768 AS s2i
      FROM m, range(7) t(b) WHERE b * 20 < n
    ), dec AS (
      SELECT media_id, n, seed, b, c1, c2, CAST(1 AS BIGINT) AS j,
             CAST(s1i AS BIGINT) AS sv,
             CAST(s1i AS BIGINT) AS s1, CAST(s2i AS BIGINT) AS s2,
             CAST(delta0 AS BIGINT) AS delta
      FROM blk
      UNION ALL
      SELECT media_id, n, seed, b, c1, c2, j + 1,
             pred, pred, s1,
             GREATEST(16, ([230,230,230,230,307,409,512,614,768,614,512,
                            409,307,230,230,230][CAST(nib AS INT) + 1]
                           * delta) // 256)
      FROM (
        SELECT *,
               GREATEST(-32768, LEAST(32767,
                 CAST(trunc((s1 * c1 + s2 * c2) / 256.0) AS BIGINT)
                 + CASE WHEN nib >= 8 THEN nib - 16 ELSE nib END * delta
               )) AS pred
        FROM (
          SELECT *,
                 CASE WHEN b*20 + j + 1 < n THEN
                   ((b*20+j+1)*(b*20+j+1)*3 + (b*20+j+1)*7 + seed*13)
                     % 16
                 ELSE 0 END AS nib
          FROM dec WHERE j + 1 < 20
        ) y
      ) x
    ), s AS (
      SELECT media_id, n, sv FROM dec WHERE b*20 + j < n
      UNION ALL
      SELECT media_id, n, CAST(s2i AS BIGINT) AS sv
      FROM blk WHERE b*20 < n
    )
    SELECT media_id, CAST(8000 AS INTEGER) AS sample_rate,
           CAST(n AS BIGINT) AS n_samples,
           CAST(n * 1000 // 8000 AS BIGINT) AS duration_ms,
           CAST(sum(sv * sv) AS BIGINT) AS sum_sq,
           CAST(max(abs(sv)) AS BIGINT) AS peak
    FROM s GROUP BY media_id, n
    """,
)
def wav_ms_adpcm_decode_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mono MS ADPCM WAV decode (format tag 2 — with IMA this closes
    every WAV format tag that appears in real lakes: 1/2/3/6/7/0x11/
    0xFFFE all decode built-in), driver-proven end to end: every
    document id becomes a REAL multi-block tag-2 payload (block_align
    16, 20 samples per block — n = 67 + 20k is NEVER a block multiple,
    so every payload exercises the zero-padded-final-block fact trim —
    closed-form coefficient index / delta / seed samples per block,
    HIGH-nibble-first codes), decoded
    distributed through _wav_read_mono's raw-RIFF fallback
    (operators/multimodal.py:_ms_adpcm_expand — the published Microsoft
    recursion with C-style truncating predictor division). The oracle
    replays the full stateful recursion as a recursive CTE: 8.8
    fixed-point coefficient pairs, trunc(base/256), signed-nibble delta
    taps, int16 clamp, and the 16-entry adaptation table with the
    delta>=16 floor — a floored (instead of truncated) division, a
    swapped seed-sample emit order, or a wrong adaptation entry flips
    sum_sq/peak at the first negative base. Map-side only."""
    from collections.abc import Iterator

    from arrowhouse_spark.operators.multimodal import (
        decode_audio,
        make_ms_adpcm_wav_payload,
    )

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("media_id")
    )

    def _build(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import pandas as pd

        for pdf in batches:
            ids = [int(i) for i in pdf["media_id"]]
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "payload": [
                        make_ms_adpcm_wav_payload(
                            67 + (i % 4) * 20,
                            8000,
                            seed=i % 59,
                        )
                        for i in ids
                    ],
                }
            )

    media = docs.repartition(shuffle_parts(spark)).mapInPandas(
        _build, "media_id long, payload binary"
    )
    return decode_audio(media)


@register(
    "avi_audio_decode_real",
    """
    WITH m AS (
      SELECT doc_id AS media_id,
             400 + (doc_id % 4) * 60 AS n,
             doc_id % 47 AS seed,
             CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS is_pcm
      FROM documents
    ), raw AS (
      SELECT media_id, n, is_pcm, seed, i
      FROM m, range(640) t(i) WHERE i < n
    ), ex AS (
      SELECT media_id, n, is_pcm,
             (i*i*7 + i*13 + seed*101) % 65536 - 32768 AS s_pcm,
             255 - ((i*i*5 + i*37 + seed*11) % 256) AS u
      FROM raw
    ), ex2 AS (
      SELECT media_id, n, is_pcm, s_pcm,
             (((u % 16) * 8 + 132) << ((u // 16) % 8)) AS tu, u
      FROM ex
    ), s AS (
      SELECT media_id, n,
             CASE WHEN is_pcm = 1 THEN s_pcm
                  WHEN u >= 128 THEN 132 - tu
                  ELSE tu - 132 END AS sv
      FROM ex2
    )
    SELECT media_id, CAST(8000 AS INTEGER) AS sample_rate,
           CAST(n AS BIGINT) AS n_samples,
           CAST(n * 1000 // 8000 AS BIGINT) AS duration_ms,
           CAST(sum(sv * sv) AS BIGINT) AS sum_sq,
           CAST(max(abs(sv)) AS BIGINT) AS peak
    FROM s GROUP BY media_id, n
    """,
)
def avi_audio_decode_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AVI audio-stream featurization, driver-proven end to end: every
    document id becomes a REAL two-stream AVI (8x8 uncompressed video
    leg + an 'auds' stream whose strf is a genuine WAVEFORMATEX —
    PCM16 for even ids, G.711 µ-law for odd — split across multiple
    '01wb' chunks), and decode_avi_audio extracts and decodes the
    audio through the COMPLETE WAV tag dispatch
    (operators/multimodal.py:_extract_avi_audio: RIFF walk → strf =
    fmt chunk → '01wb' concatenation → _riff_wrap → _wav_read_mono).
    The oracle replays both codecs' closed-form sample streams — the
    same formulas the standalone wav_decode_real / wav_g711_decode_real
    oracles pin — so a dropped chunk, a stream mix-up (video bytes in
    the audio path), or a broken WAVEFORMATEX handoff flips
    sum_sq/peak at the first payload. Map-side only; container bytes
    never shuffle."""
    from collections.abc import Iterator

    from arrowhouse_spark.operators.multimodal import (
        decode_avi_audio,
        make_avi_audio_payload,
    )

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("media_id")
    )

    def _build(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import pandas as pd

        for pdf in batches:
            ids = [int(i) for i in pdf["media_id"]]
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "payload": [
                        make_avi_audio_payload(
                            400 + (i % 4) * 60,
                            8000,
                            seed=i % 47,
                            codec="pcm16" if i % 2 == 0 else "mulaw",
                        )
                        for i in ids
                    ],
                }
            )

    media = docs.repartition(shuffle_parts(spark)).mapInPandas(
        _build, "media_id long, payload binary"
    )
    return decode_avi_audio(media)
