import shutil
import tempfile

from pyspark.sql import functions as F

from inferdb_spark.operators import multimodal as MM
from inferdb_spark.operators.binning import BinSpec
from inferdb_spark.operators.index import build_index
from inferdb_spark.operators.scoring import index_score
from inferdb_spark.streaming import scoring_stream as SS


def _write_stream_source(spark, tmp):
    rows = [(i, float(i % 40), float((i * 3) % 200), float(i)) for i in range(400)]
    df = spark.createDataFrame(rows, "row_id long, x double, z double, y double")
    df.coalesce(4).write.mode("overwrite").parquet(tmp)
    return df


def test_streaming_index_score_matches_batch(spark):
    tmp = tempfile.mkdtemp(prefix="inferdb_stream_")
    try:
        batch = _write_stream_source(spark, tmp)
        specs = [
            BinSpec(column="x", splits=[10.0, 20.0, 30.0]),
            BinSpec(column="z", splits=[50.0, 100.0, 150.0]),
        ]
        idx = build_index(batch, specs, "y", task="regression")
        stream = SS.stream_from_parquet_dir(spark, tmp, batch.schema, 2)
        assert stream.isStreaming
        SS.run_stream_to_memory(index_score(stream, idx), "scored_out", output_mode="append")
        got = {
            r.row_id: r.prediction
            for r in spark.sql("select * from scored_out").collect()
        }
        want = {r.row_id: r.prediction for r in index_score(batch, idx).collect()}
        assert got == want  # stream scoring == batch scoring, row for row
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_streaming_stateful_running_mean(spark):
    tmp = tempfile.mkdtemp(prefix="inferdb_stream_s_")
    try:
        rows = [(i % 4, float(i)) for i in range(40)]
        df = spark.createDataFrame(rows, "user_id long, value double")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        stream = SS.stream_from_parquet_dir(spark, tmp, df.schema, 1)
        out = SS.running_mean_per_key(stream, "user_id", "value")
        SS.run_stream_to_memory(out, "state_out", output_mode="update")
        got = {r.user_id: (r.n, r.mean) for r in spark.sql("select * from state_out").collect()}
        assert got[0][0] == 10
        assert abs(got[0][1] - sum(range(0, 40, 4)) / 10) < 1e-9
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_multimodal_undecodable_payload_raises(spark):
    import pytest

    raw = bytes((j * 13) % 256 for j in range(128))  # raw bytes, no image format
    media = spark.createDataFrame([(0, "image", raw, (64, 48, None, None, "raw"))], MM.MEDIA_SCHEMA)
    with pytest.raises(Exception) as ei:
        MM.image_stats(media).collect()
    assert "unsupported image payload" in str(ei.value)


def test_multimodal_compressed_needs_optional_dep(spark):
    """PNG decodes natively since round 5 (stdlib zlib), so a MALFORMED
    PNG surfaces the native decoder's error; JPEG still needs PIL and the
    NotImplementedError fallback names the missing dependency."""
    from inferdb_spark.functions import media_codecs as MC

    if MC.pil_available():  # real PIL would fail on the stub body, skip
        return
    import pytest

    png_stub = b"\x89PNG\r\n\x1a\n" + bytes(64)  # magic but no IHDR
    media = spark.createDataFrame(
        [(0, "image", png_stub, (1, 1, None, None, "png"))], MM.MEDIA_SCHEMA
    )
    with pytest.raises(Exception) as ei:
        MM.image_stats(media).collect()
    assert "PNG missing IHDR" in str(ei.value)

    jpeg_stub = b"\xff\xd8\xff\xe0" + bytes(64)
    media_j = spark.createDataFrame(
        [(0, "image", jpeg_stub, (1, 1, None, None, "jpeg"))], MM.MEDIA_SCHEMA
    )
    with pytest.raises(Exception) as ei:
        MM.image_stats(media_j).collect()
    assert "requires PIL" in str(ei.value)


def test_multimodal_real_image_decode(spark):
    """BMP/PPM payloads decode for REAL: stats match local numpy decode."""
    import numpy as np
    from inferdb_spark.functions import media_codecs as MC
    from inferdb_spark.operators.multimodal import _formula_dims, _formula_image

    ids = spark.range(24).withColumnRenamed("id", "content_id")
    for kind in ("bmp", "ppm"):
        media = MM.synthesize_real_media(spark, ids, kind=kind)
        rows = {r.content_id: r for r in MM.image_stats(media).collect()}
        assert len(rows) == 24
        for cid in range(24):
            w, h = _formula_dims(cid)
            img = _formula_image(cid, w, h)
            r = rows[cid]
            assert (r.width, r.height, r.fmt) == (w, h, kind)
            np.testing.assert_allclose(
                [r.mean_r, r.mean_g, r.mean_b],
                img.reshape(-1, 3).mean(axis=0),
                rtol=1e-12,
            )


def test_multimodal_real_audio_decode(spark):
    ids = spark.range(16).withColumnRenamed("id", "content_id")
    media = MM.synthesize_real_media(spark, ids, kind="wav")
    rows = {r.content_id: r for r in MM.audio_stats(media).collect()}
    for cid in range(16):
        r = rows[cid]
        assert r.sample_rate == 16000 and r.n_channels == 1
        assert r.n_samples == 800 + (cid % 5) * 160
        assert r.duration_ms == r.n_samples * 1000 // 16000
        assert r.rms > 0 and r.zero_crossings > 0


def test_multimodal_real_video_frames(spark):
    ids = spark.range(12).withColumnRenamed("id", "content_id")
    media = MM.synthesize_real_media(spark, ids, kind="rawv")
    frames = MM.sample_video_frames(media, every_ms=100).collect()  # stride 1
    per = {}
    for r in frames:
        per.setdefault(r.content_id, []).append(r)
    for cid in range(12):
        n_frames = 4 + cid % 5
        assert len(per[cid]) == n_frames  # every frame sampled at stride 1
        assert sorted(r.frame_idx for r in per[cid]) == list(range(n_frames))
        assert all(r.frame_px_sum > 0 for r in per[cid])


def test_multimodal_real_resize_roundtrip(spark):
    import numpy as np
    from inferdb_spark.functions import media_codecs as MC
    from inferdb_spark.operators.multimodal import _formula_dims, _formula_image

    ids = spark.range(10).withColumnRenamed("id", "content_id")
    media = MM.synthesize_real_media(spark, ids, kind="bmp")
    out = {r.content_id: r for r in MM.resize_images(media, 8, 6).collect()}
    for cid in range(10):
        w, h = _formula_dims(cid)
        expect = MC.resize_nearest(_formula_image(cid, w, h), 8, 6)
        got = MC.decode_bmp(bytes(out[cid].payload))
        assert np.array_equal(got, expect)
        assert (out[cid].width, out[cid].height) == (8, 6)


def test_streaming_dedup_within_watermark(spark):
    """Duplicate event ids across microbatches must be emitted once."""
    import datetime

    tmp = tempfile.mkdtemp(prefix="inferdb_stream_d_")
    try:
        base = datetime.datetime(2024, 1, 1)
        rows = [
            (i % 50, base + datetime.timedelta(seconds=i), float(i))
            for i in range(200)  # each id appears 4x
        ]
        df = spark.createDataFrame(rows, "event_id long, ts timestamp, v double")
        df.coalesce(4).write.mode("overwrite").parquet(tmp)
        stream = SS.stream_from_parquet_dir(spark, tmp, df.schema, 1)
        deduped = SS.dedup_stream(stream, ["event_id"], "ts", "1 hour")
        SS.run_stream_to_memory(deduped, "dedup_out", output_mode="append")
        got = spark.sql("select event_id from dedup_out").collect()
        assert sorted(r.event_id for r in got) == list(range(50))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_streaming_foreach_batch_sink_idempotent(spark):
    tmp = tempfile.mkdtemp(prefix="inferdb_stream_fb_")
    try:
        src, out, ckpt = f"{tmp}/src", f"{tmp}/out", f"{tmp}/ckpt"
        df = spark.createDataFrame(
            [(i, float(i)) for i in range(100)], "row_id long, v double"
        )
        df.coalesce(4).write.mode("overwrite").parquet(src)
        stream = SS.stream_from_parquet_dir(spark, src, df.schema, 1)
        q = SS.foreach_batch_parquet_sink(stream, out, ckpt)
        q.processAllAvailable()
        q.stop()
        sunk = spark.read.parquet(out)
        assert sunk.count() == 100
        assert sorted(r.row_id for r in sunk.select("row_id").collect()) == list(range(100))
        # >1 microbatch landed, each in its own idempotent partition
        assert sunk.select("batch_id").distinct().count() >= 2
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_session_window_stream_matches_batch(spark):
    """Native session windows on a stream == the same session_window
    aggregation in batch mode, and session boundaries respect the gap."""
    tmp = tempfile.mkdtemp(prefix="inferdb_sw_")
    try:
        rows = []
        for u in range(3):
            # two sessions per user: minutes 0-10 and 50-55 (gap 30m)
            for m in (0, 5, 10, 50, 55):
                rows.append((u, f"2024-01-01 00:{m:02d}:00", 1.0))
        df = spark.createDataFrame(rows, "user_id int, ts_s string, value double").select(
            "user_id", F.col("ts_s").cast("timestamp").alias("ts"), "value"
        )
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        stream = SS.stream_from_parquet_dir(spark, tmp, df.schema, 1)
        agg = SS.session_window_aggregate(stream, "ts", "user_id", "value", gap="30 minutes")
        SS.run_stream_to_memory(agg, "sw_out", output_mode="complete")
        got = sorted(
            (r.user_id, str(r.session_start), r.n_events)
            for r in spark.sql("select * from sw_out").collect()
        )
        batch = (
            df.groupBy(F.session_window("ts", "30 minutes"), "user_id")
            .agg(F.count("*").alias("n_events"))
            .select("user_id", F.col("session_window.start").alias("s"), "n_events")
        )
        want = sorted((r.user_id, str(r.s), r.n_events) for r in batch.collect())
        assert got == want
        assert len(got) == 6  # 3 users x 2 sessions
        assert all(n in (2, 3) for (_, _, n) in got)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# ---------------------------------------------------------------------------
# PNG codec (round 5: stdlib zlib + unfilter, no PIL)
# ---------------------------------------------------------------------------


def test_png_roundtrip_all_filters():
    import numpy as np
    from inferdb_spark.functions import media_codecs as MC

    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, size=(11, 7, 3), dtype=np.uint8)
    for filters in ("none", "mixed"):
        data = MC.encode_png(img, filters=filters)
        assert MC.sniff_media_format(data) == "png"
        out = MC.decode_png(data)
        assert out.shape == img.shape
        assert (out == img).all(), f"filters={filters}"
    # dispatcher routes PNG natively (no PIL in the container)
    assert (MC.decode_image_any(MC.encode_png(img)) == img).all()


def test_png_gray_and_rgba_decode():
    """Gray (color 0) and RGBA (color 6) inputs normalize to HxWx3."""
    import struct
    import zlib

    import numpy as np
    from inferdb_spark.functions import media_codecs as MC

    h, w = 5, 4
    gray = np.arange(h * w, dtype=np.uint8).reshape(h, w)
    raw = b"".join(b"\x00" + gray[r].tobytes() for r in range(h))
    png = (
        b"\x89PNG\r\n\x1a\n"
        + MC._png_chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0))
        + MC._png_chunk(b"IDAT", zlib.compress(raw))
        + MC._png_chunk(b"IEND", b"")
    )
    out = MC.decode_png(png)
    assert out.shape == (h, w, 3)
    assert (out[:, :, 0] == gray).all() and (out[:, :, 2] == gray).all()

    rgba = np.zeros((h, w, 4), dtype=np.uint8)
    rgba[:, :, 0] = 9
    rgba[:, :, 3] = 200
    raw = b"".join(b"\x00" + rgba[r].tobytes() for r in range(h))
    png = (
        b"\x89PNG\r\n\x1a\n"
        + MC._png_chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 6, 0, 0, 0))
        + MC._png_chunk(b"IDAT", zlib.compress(raw))
        + MC._png_chunk(b"IEND", b"")
    )
    out = MC.decode_png(png)
    assert out.shape == (h, w, 3)
    assert (out[:, :, 0] == 9).all() and (out[:, :, 1] == 0).all()


def test_png_unsupported_raises():
    import struct
    import zlib

    import numpy as np
    import pytest

    from inferdb_spark.functions import media_codecs as MC

    png16 = (
        b"\x89PNG\r\n\x1a\n"
        + MC._png_chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 16, 2, 0, 0, 0))
        + MC._png_chunk(b"IDAT", zlib.compress(b"\x00" * 26))
        + MC._png_chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="unsupported PNG"):
        MC.decode_png(png16)


def test_stream_foreachbatch_decon_equals_batch_uncapped(spark, tmp_path):
    """curation_stream_foreach_batch: stream == batch row-for-row on the
    distinct content set, with the eval suite as a broadcast posting
    relation (NO literal-plan cap — the suite here is deliberately larger
    than the stateless form would comfortably inline)."""
    import random

    from pyspark.sql import functions as F

    from inferdb_spark.operators.textprep import ngram_hash_postings
    from inferdb_spark.streaming.scoring_stream import (
        curation_stream_foreach_batch,
    )

    rng = random.Random(11)
    words = [f"w{i}" for i in range(80)]

    def sentence(k, n=30):
        r = random.Random(k)
        return " ".join(r.choice(words) for _ in range(n))

    # 60 eval docs (an "uncapped" suite), 150 corpus docs: ~1/5 of the
    # corpus copies an eval doc verbatim (contaminated), some corpus docs
    # duplicate each other, a few are too short for the quality filter
    eval_rows = [(1000 + i, sentence(1000 + i)) for i in range(60)]
    corpus_rows = []
    for i in range(150):
        if i % 5 == 0:
            text = eval_rows[rng.randrange(60)][1]       # contaminated
        elif i % 7 == 0:
            text = sentence(2000 + (i % 3))              # duplicates
        elif i % 11 == 0:
            text = "too short"                           # quality-filtered
        else:
            text = sentence(3000 + i)
        corpus_rows.append((i, text))

    corpus = spark.createDataFrame(corpus_rows, "doc_id long, text string")
    evald = spark.createDataFrame(eval_rows, "eval_id long, text string")
    eval_postings = ngram_hash_postings(evald, "eval_id", "text", 5)

    stage = str(tmp_path / "stage")
    corpus.repartition(5).write.parquet(stage)  # 5 files -> 5 triggers
    out_path, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    stream = (
        spark.readStream.schema(corpus.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    q = curation_stream_foreach_batch(
        stream, eval_postings, out_path, ckpt,
        min_tokens=10, n=5, min_shared=3,
    )
    q.processAllAvailable()
    q.stop()
    got = {
        (r["content_h"], r["n_tokens"])
        for r in spark.read.parquet(out_path)
        .select(
            "content_h",
            F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
        )
        .collect()
    }

    # batch twin: quality -> decon join -> distinct content
    s1 = corpus.where(F.size(F.split("text", " ")) >= 10)
    grams = ngram_hash_postings(s1, "doc_id", "text", 5)
    hits = (
        grams.join(F.broadcast(eval_postings), "gh")
        .groupBy("doc_id", "eval_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= 3)
        .select("doc_id")
        .distinct()
    )
    want = {
        (r["content_h"], r["n_tokens"])
        for r in s1.join(hits, "doc_id", "left_anti")
        .select(
            F.md5("text").alias("content_h"),
            F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
        )
        .distinct()
        .collect()
    }
    assert got == want
    assert len(got) > 50  # the chain actually kept a nontrivial survivor set
    # and contamination actually removed something
    assert s1.count() > len(want)
