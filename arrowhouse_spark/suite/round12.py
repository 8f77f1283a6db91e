"""Query suite chunk — round-12 wave: cross-store GDPR sweep, widened
stdlib media coverage (palette PNG, stereo WAV), IVF refit. Registration
order is load-bearing for the driver rotation — append only."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from arrowhouse_spark.session import shuffle_parts
from arrowhouse_spark.suite import (
    _events,
    _sum_sq_sql,
    _t,
    register,
)


@register(
    "gdpr_forget_sweep",
    """
    WITH r AS (SELECT doc_id FROM documents WHERE doc_id % 37 = 1),
    w AS (SELECT min(doc_id) AS doc_id
          FROM documents WHERE text IS NOT NULL
          GROUP BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')))
    SELECT * FROM (
      SELECT 'band' AS kind,
             CAST(4 * (SELECT count(*) FROM r) AS BIGINT) AS rows_removed,
             CAST(0 AS BIGINT) AS rows_left
      UNION ALL
      SELECT 'components',
             CAST((SELECT count(*) FROM r
                   WHERE r.doc_id % 5 = 0
                      OR ((r.doc_id - 1) % 5 = 0
                          AND EXISTS (SELECT 1 FROM documents d
                                      WHERE d.doc_id = r.doc_id - 1)))
                  AS BIGINT),
             CAST(0 AS BIGINT)
      UNION ALL
      SELECT 'fingerprint',
             CAST((SELECT count(*) FROM r
                   WHERE r.doc_id IN (SELECT doc_id FROM w)) AS BIGINT),
             CAST(0 AS BIGINT)
      UNION ALL
      SELECT 'ivf',
             CAST((SELECT count(*) FROM embeddings WHERE vec_id % 37 = 1)
                  AS BIGINT),
             CAST(0 AS BIGINT)
      UNION ALL
      SELECT 'shard',
             CAST((SELECT count(*) FROM r) AS BIGINT),
             CAST(0 AS BIGINT)
      UNION ALL
      SELECT 'scd2',
             CAST((SELECT count(*) FROM (
                SELECT user_id, event_type,
                       lag(event_type) OVER (
                         PARTITION BY user_id ORDER BY ts, event_id
                       ) AS prev
                FROM events
                WHERE user_id IN (SELECT doc_id FROM r)
             ) runs
             WHERE prev IS NULL OR prev <> event_type) AS BIGINT),
             CAST(0 AS BIGINT)
    ) ORDER BY kind
    """,
)
def gdpr_forget_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-store deletion request, driver-proven end to end (round-11
    verdict #2; operators/forget.py:forget_ids): build all SIX
    persistent-store kinds from the corpus — the exact-dedup fingerprint
    store (dedup_incremental over documents), a band store (4
    SQL-replayable formula band rows per doc, batch_id-partitioned — the
    REAL minhash store's retraction is pytest-pinned in
    tests/test_streaming.py; here the cross-store composition is what's
    certified), the CC label store (edges doc→doc+1 for doc%5==0), the
    IVF postings (init over all embeddings), the SCD2 history store
    (one stream_scd2 fold of the events log keyed by user), and the
    training-shard export itself (write_training_shards over the docs —
    the store whose rows ARE the training data) — then forget
    one planted id set (doc_id%37==1) EVERYWHERE in one sweep. Returns
    (kind, rows_removed, rows_left): the oracle replays every removal
    count closed-form (band = 4/doc; components = ids that are edge
    vertices; fingerprint = ids that were dedup winners; ivf = matching
    vec ids; shard = one doc row per victim; scd2 = the victims'
    attribute-run starts via a lag window — exactly the history rows
    SCD2 materializes per key) and rows_left
    pins that NO store still matches a retracted id. A store skipped by
    the sweep, a miscounted removal, or a surviving row each flips the
    hash."""
    import shutil
    import tempfile

    from arrowhouse_spark.operators.components import (
        components_incremental,
    )
    from arrowhouse_spark.operators.dedup import dedup_incremental
    from arrowhouse_spark.operators.forget import forget_ids
    from arrowhouse_spark.operators.similarity import ivf_store_init
    from arrowhouse_spark.operators.store import read_store, store_base
    from arrowhouse_spark.sources.shards import write_training_shards
    from arrowhouse_spark.streaming.replace import _scd2_process_batch

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    ev = _events(spark, sf_dir).select(
        "user_id", "ts", "event_type", "event_id"
    )
    victims = (
        docs.filter(F.col("doc_id") % 37 == 1)
        .select("doc_id")
        .localCheckpoint()
    )
    d = tempfile.mkdtemp(prefix="arrowhouse_forget_")
    fp_store, band_store = d + "/fp", d + "/band"
    cc_store, ivf_store = d + "/cc", d + "/ivf"
    scd2_store = d + "/scd2"
    shard_store = d + "/shards"
    try:
        # the six stores build into six INDEPENDENT directories from
        # independent scans — submit them from a driver thread pool so
        # their job waves overlap (guide §2.6; the same overlap the
        # sweep's own forget_ids legs already use). Builds are
        # single-writer per path, so concurrency is safe by construction.
        def _b_fp() -> None:
            dedup_incremental(
                docs, spark.createDataFrame([], "fp string")
            ).write.parquet(fp_store)

        def _b_band() -> None:
            (
                docs.select(
                    "doc_id",
                    F.explode(F.array(*[F.lit(b) for b in range(4)])).alias(
                        "band"
                    ),
                )
                .select(
                    "doc_id",
                    (F.col("doc_id") * 31 + F.col("band")).alias("minhash"),
                    "band",
                    F.pmod(F.col("doc_id") + F.col("band"), F.lit(5)).alias(
                        "bucket"
                    ),
                    F.pmod(F.col("doc_id"), F.lit(2)).cast("int").alias(
                        "batch_id"
                    ),
                )
                .write.partitionBy("batch_id")
                .parquet(band_store)
            )

        def _b_cc() -> None:
            components_incremental(
                docs.filter(F.col("doc_id") % 5 == 0).select(
                    F.col("doc_id").alias("src"),
                    (F.col("doc_id") + 1).alias("dst"),
                ),
                cc_store,
            )

        def _b_ivf() -> None:
            ivf_store_init(emb, ivf_store, n_centroids=4)

        def _b_scd2() -> None:
            _scd2_process_batch(
                ev, 0, scd2_store, ["user_id"], "ts", "event_type",
                "event_id", n_buckets=8,
            )

        def _b_shard() -> None:
            write_training_shards(docs, shard_store, n_shards=8)

        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=6) as pool:
            futs = [
                pool.submit(b)
                for b in (_b_fp, _b_band, _b_cc, _b_ivf, _b_scd2, _b_shard)
            ]
            for f in futs:
                f.result()

        summary = forget_ids(
            spark,
            [
                {"path": band_store, "kind": "band"},
                {"path": fp_store, "kind": "fingerprint"},
                {"path": ivf_store, "kind": "ivf"},
                {"path": cc_store, "kind": "components"},
                {"path": scd2_store, "kind": "scd2"},
                {"path": shard_store, "kind": "shard"},
            ],
            victims,
            parallelism=6,
        )

        def _left(df: DataFrame | None, col: str) -> int:
            if df is None:
                return 0
            return df.join(
                victims.select(F.col("doc_id").alias(col)), col, "semi"
            ).count()

        left_specs = {
            "band": (lambda: spark.read.parquet(band_store), "doc_id"),
            "fingerprint": (lambda: spark.read.parquet(fp_store), "doc_id"),
            "ivf": (
                lambda: read_store(
                    spark, store_base(spark, ivf_store) + "/postings"
                ),
                "vec_id",
            ),
            "components": (lambda: spark.read.parquet(cc_store), "id"),
            "scd2": (lambda: spark.read.parquet(scd2_store), "user_id"),
            "shard": (lambda: spark.read.parquet(shard_store), "doc_id"),
        }
        # the six audit counts are independent read-only jobs — overlap
        # them the same way as the builds
        with ThreadPoolExecutor(max_workers=6) as pool:
            left_futs = {
                kind: pool.submit(lambda rd=rd, col=col: _left(rd(), col))
                for kind, (rd, col) in left_specs.items()
            }
            left = {kind: f.result() for kind, f in left_futs.items()}
        rows = sorted(
            (r.kind, int(r.rows_removed), int(left[r.kind]))
            for r in summary.collect()
        )
        return spark.createDataFrame(
            rows, "kind string, rows_removed long, rows_left long"
        ).localCheckpoint()
    finally:
        shutil.rmtree(d, ignore_errors=True)


@register(
    "png_palette_decode_real",
    """
    WITH m AS (
      SELECT doc_id AS media_id,
             4 + doc_id % 6 AS w, 4 + doc_id % 5 AS h,
             doc_id % 83 AS seed
      FROM documents
    ), px AS (
      SELECT media_id, w, h,
             ((x * 31 + y * 57 + seed) % 251) AS idx
      FROM m, range(8) t_y(y), range(9) t_x(x)
      WHERE y < h AND x < w
    ), lum AS (
      SELECT media_id, w, h,
             ( ((idx * 7) % 256) * 299
             + ((idx * 11) % 256) * 587
             + ((idx * 13) % 256) * 114 ) // 1000 AS l
      FROM px
    )
    SELECT media_id, CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
           CAST(sum(l) AS BIGINT) AS gray_total
    FROM lum GROUP BY media_id, w, h
    """,
)
def png_palette_decode_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Palette-PNG decode, driver-proven end to end (round-11 verdict
    #4 — real image lakes are heavy with PLTE PNGs): every document id
    becomes a spec-conformant color-type-3 PNG (one index byte per
    pixel, the deterministic 256-entry PLTE of operators/multimodal.py:
    _png_palette_rgb), decoded by the built-in pure decoder through the
    PLTE → shared-ITU-R-601-2-luma lookup. The oracle replays
    index → palette RGB → luma closed-form, so the hash certifies the
    actual PLTE chunk parse + lookup, not a fallthrough into the gray
    path (index bytes read AS gray would flip every sum). Map-side only —
    payloads never shuffle (png_decode_real discipline)."""
    from collections.abc import Iterator

    from arrowhouse_spark.operators.multimodal import (
        decode_images,
        make_png_payload,
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
                        make_png_payload(
                            4 + i % 6, 4 + i % 5, seed=i % 83, color_type=3
                        )
                        for i in ids
                    ],
                }
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
    "wav_stereo_decode_real",
    f"""
    WITH m AS (
      SELECT doc_id AS media_id,
             600 + (doc_id % 4) * 100 AS n,
             CASE WHEN doc_id % 2 = 0 THEN 8000 ELSE 16000 END AS sr,
             doc_id % 71 AS seed
      FROM documents
    ), smp AS (
      SELECT media_id, n, sr,
             ((i * i * 7 + i * 13 + seed * 101) % 65536) - 32768 AS s0,
             ((i * i * 7 + i * 13 + 29 + seed * 101) % 65536) - 32768 AS s1
      FROM m, range(900) t(i)
      WHERE i < n
    ), mono AS (
      SELECT media_id, n, sr,
             CAST(floor((s0 + s1) / 2.0) AS BIGINT) AS s
      FROM smp
    )
    SELECT media_id, CAST(sr AS INTEGER) AS sample_rate,
           CAST(n AS BIGINT) AS n_samples,
           CAST(n * 1000 // sr AS BIGINT) AS duration_ms,
           {_sum_sq_sql("s")} AS sum_sq,
           CAST(max(abs(s)) AS BIGINT) AS peak
    FROM mono GROUP BY media_id, n, sr
    """,
)
def wav_stereo_decode_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stereo WAV decode, driver-proven end to end (round-11 verdict #4
    — 2-channel audio is everywhere in real lakes): every document id
    becomes an interleaved 2-channel PCM16 RIFF/WAVE payload (channel c
    adds c*29 to the mono sample formula), decoded by
    operators/multimodal.py:decode_audio under its documented channel
    policy — per-frame floor-div downmix floor((ch0+ch1)/2), exact
    integers on every engine. The oracle replays both channels and the
    floor downmix closed-form, so a channel-0-only read, a mean-with-
    rounding, or de-interleave drift each flips sum_sq/peak. Map-side
    only — payloads never shuffle (wav_decode_real discipline)."""
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
                            n_channels=2,
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
    "ivf_store_refit_topk",
    """
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id,
           round(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(q.qv AS DOUBLE[]))
                 / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
                    * sqrt(list_dot_product(CAST(q.qv AS DOUBLE[]), CAST(q.qv AS DOUBLE[])))), 6) AS cos_sim
    FROM embeddings e, q
    ORDER BY cos_sim DESC, e.vec_id ASC
    LIMIT 20
    """,
)
def ivf_store_refit_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF drift-loop REBUILD, driver-proven end to end (round-11
    verdict #5; operators/similarity.py:ivf_store_refit): init + append
    build the store, then refit re-fits the coarse quantizer from a
    sample (spherical k-means), re-assigns EVERY posting into the next
    version directory, atomically swaps the META pointer, and removes
    the old layout. The probe then runs exact (nprobe = new cell count)
    THROUGH the version indirection, so the oracle is plain brute-force
    top-20 over all embeddings: a posting lost or duplicated by the
    re-assign, a probe resolving the dead layout, or a half-swapped
    pointer each flips the hash. Recall restoration under drift and the
    crash seams are pinned in tests/test_clustering.py (non-SQL
    semantics)."""
    import shutil
    import tempfile

    from arrowhouse_spark.operators.similarity import (
        ivf_store_append,
        ivf_store_init,
        ivf_store_refit,
        ivf_store_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    d = tempfile.mkdtemp(prefix="arrowhouse_ivf_rf_")
    store = d + "/ivf"
    try:
        ivf_store_init(
            emb.filter(F.col("vec_id") % 3 == 0), store, n_centroids=8
        )
        ivf_store_append(emb.filter(F.col("vec_id") % 3 != 0), store)
        res = ivf_store_refit(spark, store, n_centroids=6, seed=7)
        assert res["new_version"] == 1
        return ivf_store_topk(
            spark, store, qvec, k=20, nprobe=6
        ).localCheckpoint()
    finally:
        shutil.rmtree(d, ignore_errors=True)


@register(
    "png_interlaced16_decode_real",
    """
    WITH m AS (
      SELECT doc_id AS media_id,
             3 + doc_id % 11 AS w, 3 + doc_id % 9 AS h,
             doc_id % 79 AS seed,
             CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 3 END AS ch
      FROM documents
    ), px AS (
      SELECT media_id, w, h,
        CASE WHEN ch = 1
             THEN ((x * 523 + y * 771 + seed * 13) % 65536) // 256
             ELSE ( (((x * 3 + 0) * 523 + y * 771 + seed * 13) % 65536) // 256 * 299
                  + (((x * 3 + 1) * 523 + y * 771 + seed * 13) % 65536) // 256 * 587
                  + (((x * 3 + 2) * 523 + y * 771 + seed * 13) % 65536) // 256 * 114
                  ) // 1000
        END AS l
      FROM m, range(12) t_y(y), range(14) t_x(x)
      WHERE y < h AND x < w
    )
    SELECT media_id, CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
           CAST(sum(l) AS BIGINT) AS gray_total
    FROM px GROUP BY media_id, w, h
    """,
)
def png_interlaced16_decode_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adam7-interlaced 16-bit PNG decode, driver-proven end to end —
    the LAST stdlib-reachable PNG gaps from round-11's superset note:
    every document id becomes a spec-conformant interlaced PNG (16-bit
    gray or 16-bit RGB by id parity; widths/heights 3–13 exercise empty
    and partial Adam7 passes), decoded by the built-in pure decoder's
    seven-pass de-interlace with high-byte (v DIV 256) sample
    reduction. The oracle replays sample → high byte → luma closed-form
    over FINAL-image coordinates, so a pass misplaced by one pixel, a
    wrong pass geometry, or a low-byte reduction each flips the sums.
    Map-side only — payloads never shuffle (png_decode_real
    discipline)."""
    from collections.abc import Iterator

    from arrowhouse_spark.operators.multimodal import (
        decode_images,
        make_png_payload,
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
                        make_png_payload(
                            3 + i % 11,
                            3 + i % 9,
                            seed=i % 79,
                            color_type=0 if i % 2 == 0 else 2,
                            depth=16,
                            interlace=1,
                        )
                        for i in ids
                    ],
                }
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


# SipHash-2-4 parity data. The OFFICIAL rows are published ground truth:
# the SipHash paper's worked example (15-byte message 00..0e, key
# 000102..0f) and the reference-implementation test-vector rows for the
# empty / 1-byte / 8-byte messages — together they cover the empty-tail,
# partial-tail, and exact-word code paths. The seed-0 ladder is
# SELF-pinned (scalar port ≡ numpy kernel, tests/test_hashing.py) over
# lengths hitting every word-count/tail combination.
_SIP_OFFICIAL = [  # (n, signed64(hash under the official key))
    (0, 0x726FDB47DD0E0E31),
    (1, 0x74F839C593DC67FD),
    (8, 0x93F5F5799A932462 - (1 << 64)),
    (15, 0xA129CA6149BE45E5 - (1 << 64)),
]
_SIP_SEED0 = [
    (0, 2202906307356721367), (1, 8334285228378973839),
    (2, 21067163920308139), (3, -2330859516781280961),
    (4, 7680005203046954344), (5, 3471604685357707581),
    (6, -6908911346647674421), (7, -4125990588666300092),
    (8, 6402860736054365832), (9, 8199118643649350890),
    (15, -4688649644707595477), (16, 716722503847427772),
    (17, 7699441778846861282), (24, -3580781078881769823),
    (63, 7932960578994933189), (64, 8538339211650594952),
    (65, 7194434395510855975), (255, 7670012781107378714),
    (1024, 169136996181911982),
]


@register(
    "sip_hash_parity",
    "SELECT * FROM (VALUES "
    + ", ".join(
        f"('official', {n}, {h}::BIGINT)" for n, h in _SIP_OFFICIAL
    )
    + ", "
    + ", ".join(f"('seed0', {n}, {h}::BIGINT)" for n, h in _SIP_SEED0)
    + ") t(family, n, h) ORDER BY family, n",
)
def sip_hash_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SipHash-2-4 through the distributed column API
    (functions/siphash.py:sip_hash64_str — the reference's internal
    Common/SipHash.h algorithm exposed as a labeled-superset user
    function, closing the round-11 verdict's one remaining missing row):
    the 'official' family hashes the spec's own messages (bytes 00..n-1,
    all < 0x80 so the UTF-8 string round-trip is byte-identical) under
    the official key and must reproduce the PUBLISHED vectors; the
    'seed0' family hashes a printable ladder under the reference's
    default (0, 0) key against self-pinned values (scalar ≡ numpy kernel
    cross-check in tests/test_hashing.py)."""
    from arrowhouse_spark.functions.siphash import sip_hash64_str
    from arrowhouse_spark.sources.memory import one_block

    k0, k1 = 0x0706050403020100, 0x0F0E0D0C0B0A0908
    official = one_block(
        spark,
        [("official", n, "".join(chr(j) for j in range(n)))
         for n, _ in _SIP_OFFICIAL],
        "family string, n int, s string",
    ).select("family", "n", sip_hash64_str("s", k0, k1).alias("h"))
    buf = "".join(chr(33 + ((i * 31 + 7) % 94)) for i in range(1024))
    seed0 = one_block(
        spark,
        [("seed0", n, buf[:n]) for n, _ in _SIP_SEED0],
        "family string, n int, s string",
    ).select("family", "n", sip_hash64_str("s").alias("h"))
    return official.unionByName(seed0).orderBy("family", "n")
