"""Header-level REAL media decode (operators/media): synthetic payloads
carry spec-valid PNG/WAV/MP4 headers, the parse is pure Column byte
arithmetic. The payload itself is the oracle (echoserver pattern)."""

from __future__ import annotations

from pyspark.sql import functions as F

from ganda_spark.operators.media import (
    PNG_H,
    PNG_W,
    WAV_DUR_MS,
    WAV_RATE,
    _mp4_bytes,
    _png_bytes,
    _wav_bytes,
    header_meta,
    resize_real,
    synth_media_table,
)


def _media(spark, n=60):
    docs = spark.range(n).select(F.col("id").alias("doc_id"))
    return synth_media_table(docs)


def test_header_meta_roundtrip(spark):
    rows = {r.doc_id: r for r in header_meta(_media(spark)).collect()}
    assert len(rows) == 60
    for d in range(60):
        r = rows[str(d)]
        if d % 3 == 0:  # PNG
            assert r.format == "png" and r.media_type == "image/png"
            assert r.width == PNG_W(d) and r.height == PNG_H(d)
            assert r.n_bytes == 45
            assert r.sample_rate_hz is None and r.duration_ms is None
        elif d % 3 == 1:  # WAV
            assert r.format == "wav"
            assert r.sample_rate_hz == WAV_RATE
            assert r.duration_ms == WAV_DUR_MS(d)
            assert r.n_bytes == 44 + 8 * WAV_DUR_MS(d)
            assert r.width is None and r.height is None
        else:  # MP4: container detected, geometry honestly NULL
            assert r.format == "mp4"
            assert r.n_bytes == 24
            assert r.width is None and r.duration_ms is None


def test_header_meta_garbage_and_truncation_safe(spark):
    """Non-media payloads sniff as unknown; a payload truncated inside the
    header parses to NULL geometry instead of garbage."""
    rows = spark.createDataFrame(
        [
            ("txt", bytearray(b"just some text, definitely not a png"), "text/plain"),
            ("trunc", bytearray(_png_bytes(0)[:12]), "image/png"),
            ("shortwav", bytearray(_wav_bytes(1)[:20]), "audio/wav"),
        ],
        "doc_id string, payload binary, media_type string",
    )
    got = {r.doc_id: r for r in header_meta(rows).collect()}
    assert got["txt"].format == "unknown"
    assert got["txt"].width is None and got["txt"].duration_ms is None
    # magic matches but the IHDR is missing → gated to NULL, not misparse
    assert got["trunc"].format == "png"
    assert got["trunc"].width is None and got["trunc"].height is None
    assert got["shortwav"].format == "wav"
    assert got["shortwav"].sample_rate_hz is None


def test_resize_real_geometry(spark):
    out = {r.doc_id: r for r in resize_real(_media(spark), 512, 512).collect()}
    assert set(out) == {str(d) for d in range(60) if d % 3 == 0}
    for d, r in ((int(k), v) for k, v in out.items()):
        w, h = PNG_W(d), PNG_H(d)
        assert (r.src_w, r.src_h) == (w, h)
        scale = min(10000, 512 * 10000 // w, 512 * 10000 // h)
        assert r.scale_bp == scale
        assert r.out_w == max(1, w * scale // 10000)
        assert r.out_h == max(1, h * scale // 10000)
        assert r.out_w <= 512 and r.out_h <= 512
        assert r.scale_bp <= 10000  # never upscale


def test_audio_chunks_cover_duration_exactly(spark):
    """Chunk windows tile [0, duration] with no gap/overlap, the last
    window truncates at the REAL header duration, and PCM byte offsets
    match offset = 44 + start_ms × byte_rate/1000."""
    from ganda_spark.operators.media import audio_chunks

    out = audio_chunks(_media(spark), chunk_ms=250).collect()
    by_doc: dict = {}
    for r in out:
        by_doc.setdefault(int(r.doc_id), []).append(r)
    assert set(by_doc) == {d for d in range(60) if d % 3 == 1}
    for d, rows in by_doc.items():
        dur = WAV_DUR_MS(d)
        rows.sort(key=lambda r: r.chunk_idx)
        assert [r.chunk_idx for r in rows] == list(range(len(rows)))
        assert len(rows) == -(-dur // 250)  # ceil
        for i, r in enumerate(rows):
            assert r.start_ms == i * 250
            assert r.end_ms == min((i + 1) * 250, dur)
            assert r.byte_offset == 44 + i * 250 * WAV_RATE // 1000
        assert rows[-1].end_ms == dur  # full coverage, exact truncation


def test_header_meta_plan_is_jvm_only(spark):
    """The decode pass must stay whole-stage-codegen: no Arrow/Python eval
    node in the plan (the 100 TB posture — header decode is a projection)."""
    binary_df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.col("text").cast("binary").alias("payload"),
        F.lit("application/octet-stream").alias("media_type"),
    )
    plan = header_meta(binary_df)._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def _cos(a, b):
    num = sum(x * y for x, y in zip(a, b))
    den = (sum(x * x for x in a) ** 0.5) * (sum(y * y for y in b) ** 0.5)
    return num / den


def test_embed_media_locality_copy_and_chunks(spark):
    """Bag-of-chunks embedding contract: an exact payload copy embeds
    identically (cos=1); a payload sharing most chunks lands closer than
    an unrelated payload (the near-dup locality that makes semantic dedup
    over media meaningful); chunk arithmetic covers the ragged tail and
    the empty payload embeds via the single empty-chunk guard."""
    from ganda_spark.operators.media import embed_media

    base = ("A" * 64 + "B" * 64 + "C" * 64 + "D" * 64 + "E" * 64) * 2  # 10 chunks
    rows = [
        ("orig", base),
        ("copy", base),
        ("appended", base + "Z" * 64),  # shares 10 of 11 chunks
        ("unrelated", "qrstuvwx" * 80),
        ("ragged", "A" * 100),  # 2 chunks, second is 36 bytes
        ("empty", ""),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string").select(
        "doc_id", F.col("text").cast("binary").alias("payload")
    )
    emb = {
        r.doc_id: list(r.media_embedding)
        for r in embed_media(df).collect()
    }
    assert emb["orig"] == emb["copy"]
    assert _cos(emb["orig"], emb["appended"]) > _cos(emb["orig"], emb["unrelated"])
    assert _cos(emb["orig"], emb["appended"]) > 0.9
    assert len(emb["ragged"]) == 16 and len(emb["empty"]) == 16
    # determinism across repartitioning (pure projection)
    again = {
        r.doc_id: list(r.media_embedding)
        for r in embed_media(df.repartition(5)).collect()
    }
    assert again == emb


def test_embed_media_plan_is_jvm_only(spark):
    from ganda_spark.operators.media import embed_media

    df = spark.createDataFrame([("1", "x" * 200)], "doc_id string, text string").select(
        "doc_id", F.col("text").cast("binary").alias("payload")
    )
    plan = embed_media(df)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Exchange" not in plan


def test_media_minhash_finds_truncated_and_exact_copies(spark):
    """Chunk-shingle MinHash-LSH over a binary column: exact payload
    copies verify at jaccard 1.0, truncated-to-full-chunks copies land
    ≥ their analytic chunk-set Jaccard, unrelated payloads never pair at
    ≥ 0.5."""
    from ganda_spark.operators.dedup import (
        jaccard_verify,
        lsh_band_hashes,
        lsh_candidate_pairs,
        minhash_signatures,
    )
    from ganda_spark.operators.media import with_media_shingles

    import random

    rng = random.Random(5)
    payloads = [
        (i, "".join(chr(65 + rng.randrange(26)) for _ in range(64 * 6)))
        for i in range(40)
    ]
    rows = (
        [(i, p) for i, p in payloads]
        + [(100 + i, p) for i, p in payloads if i % 4 == 0]          # exact
        + [(200 + i, p[: 64 * 4]) for i, p in payloads if i % 4 == 1]  # truncated
    )
    df = spark.createDataFrame(rows, "doc_id long, text string").select(
        "doc_id", F.col("text").cast("binary").alias("payload")
    )
    sh = with_media_shingles(df).persist()
    banded = lsh_band_hashes(minhash_signatures(sh, k=8), k=8, rows_per_band=2)
    pairs = lsh_candidate_pairs(banded, k=8, rows_per_band=2, broadcast_bands=True)
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in jaccard_verify(pairs, sh, broadcast_pairs=True)
        .where(F.col("jaccard") >= 0.5)
        .collect()
    }
    sh.unpersist()
    exact = {(i, 100 + i) for i, _ in payloads if i % 4 == 0}
    trunc = {(i, 200 + i) for i, _ in payloads if i % 4 == 1}
    assert exact <= set(got) and all(got[p] == 1.0 for p in exact)
    # truncated copy shares 4 of 6 chunks: jaccard = 4/6
    found_trunc = trunc & set(got)
    assert len(found_trunc) >= len(trunc) * 0.8  # LSH recall, not exhaustive
    assert all(abs(got[p] - round(4 / 6, 4)) < 1e-9 for p in found_trunc)
    # nothing unrelated pairs up
    assert set(got) <= exact | trunc


def test_jpeg_sof_dimensions_and_truncation(spark):
    """JPEG dims come from the SOF segment reached by the bounded
    aggregate() hop; truncation before OR mid-SOF yields NULLs, never
    bytes read off the end; the variable APP1 length moves the SOF offset
    per row so the hop is genuinely exercised."""
    from ganda_spark.operators.media import (
        JPG_H,
        JPG_W,
        header_meta,
        synth_jpeg_table,
    )

    docs = spark.range(25).select(F.col("id").alias("doc_id"))
    out = {
        int(r.doc_id) - 1_000_000: r
        for r in header_meta(synth_jpeg_table(docs)).collect()
    }
    for d in range(25):
        r = out[d]
        assert r.format == "jpeg"
        if d % 5 in (0, 3):  # truncated: before SOF / mid-SOF
            assert r.width is None and r.height is None
        else:
            assert (r.width, r.height) == (JPG_W(d), JPG_H(d))
        assert r.sample_rate_hz is None and r.duration_ms is None


def test_jpeg_desync_and_sos_before_sof_null(spark):
    """Garbage after SOI (marker desync) and an SOS hit before any SOF
    both park the fold in the bad state — NULL dims."""
    from ganda_spark.operators.media import header_meta

    rows = [
        ("a", bytes.fromhex("FFD8FF") + b"\x00" * 40),  # desync: len walks off
        ("b", bytes.fromhex("FFD8FFDA000C") + b"\x00" * 20),  # SOS first
        ("c", bytes.fromhex("FFD8FFE1")),  # truncated inside the marker
    ]
    df = spark.createDataFrame(
        [(i, p, "image/jpeg") for i, p in rows],
        "doc_id string, payload binary, media_type string",
    )
    for r in header_meta(df).collect():
        assert r.format == "jpeg"
        assert r.width is None and r.height is None


def test_embed_media_null_payload_embeds_as_empty(spark):
    """ADVICE r5: a NULL payload must embed exactly like an EMPTY payload
    (the single empty-block hash), not poison every dimension NULL."""
    from ganda_spark.operators.media import embed_media

    df = spark.createDataFrame(
        [("a", None), ("b", b"")], "doc_id string, payload binary"
    )
    rows = {r.doc_id: r for r in embed_media(df).collect()}
    assert rows["a"].media_embedding == rows["b"].media_embedding
    assert rows["a"].media_embedding_bp == rows["b"].media_embedding_bp
    assert all(v is not None for v in rows["a"].media_embedding)
