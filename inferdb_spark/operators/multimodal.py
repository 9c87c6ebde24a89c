"""Multimodal columns: image/audio/video as opaque binary columns with
typed metadata, decoded REAL where the format allows.

Round 1 shipped this as schemas + mapInPandas plumbing with the decode
stubbed (no PIL/ffmpeg in the container).  Round 2 closes that gap with
pure-numpy/stdlib codecs (functions/media_codecs.py): uncompressed BMP and
PPM images, RIFF-PCM WAV audio, and RAWV raw-frame video all decode for
real on the executors; round 5 promotes PNG into the same always-on path
(stdlib zlib inflate + per-row unfilter — no PIL).  JPEG/H.264 still
decode only when PIL/ffmpeg are importable; their NotImplementedError
branch is the *fallback* for compressed formats without the optional
dependency — not the only path.

100 TB design rules (unchanged):
- media bytes travel ONCE through any plan stage (binary columns are
  opaque to Catalyst; never groupBy/join on them — join on content_id);
- decode/feature-extract runs in mapInPandas with explicit batch-size
  control (`spark.sql.execution.arrow.maxRecordsPerBatch`) so a batch of
  large blobs cannot OOM an executor;
- extracted features are small typed columns; downstream ops drop the
  binary column as early as possible (explicit projection -> free column
  pruning).

No reference analog — /root/reference has no multimodal surface; this is
the training-data-pipeline extension required by the builder brief.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from inferdb_spark.functions import media_codecs as MC

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("content_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), False),  # image|audio|video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("sample_rate", T.IntegerType(), True),
                    T.StructField("duration_ms", T.LongType(), True),
                    T.StructField("codec", T.StringType(), True),
                ]
            ),
            True,
        ),
    ]
)

IMAGE_STATS_SCHEMA = (
    "content_id long, fmt string, width int, height int, "
    "mean_r double, mean_g double, mean_b double, feat array<double>"
)

AUDIO_STATS_SCHEMA = (
    "content_id long, sample_rate int, n_samples long, n_channels int, "
    "duration_ms long, rms double, zero_crossings long"
)


# ---------------------------------------------------------------------------
# deterministic REAL-format synthesis (executor-side, formula-driven)
# ---------------------------------------------------------------------------
#
# pixel(id, i, j, c) = (id*7 + i*3 + j*5 + c*11) % 256.  The formula is the
# contract: the DuckDB oracle in gate_media.py recomputes expected channel
# means from (id, width, height) alone, so any decode/codec bug breaks the
# cross-engine hash.


def _formula_image(content_id: int, w: int, h: int):
    import numpy as np

    i = np.arange(h).reshape(h, 1, 1)
    j = np.arange(w).reshape(1, w, 1)
    c = np.arange(3).reshape(1, 1, 3)
    return ((content_id * 7 + i * 3 + j * 5 + c * 11) % 256).astype(np.uint8)


def _formula_dims(content_id: int) -> tuple[int, int]:
    return 16 + (content_id % 16), 12 + (content_id % 8)  # (w, h)


def synthesize_real_media(
    spark, ids_df: DataFrame, kind: str = "bmp"
) -> DataFrame:
    """Turn a relation with a `content_id` column into real decodable media.

    kind: bmp | ppm | png | wav | rawv.  Payload bytes are generated on
    the EXECUTORS (mapInPandas) from the deterministic formula — the
    driver never materializes blobs, so this scales like any map-only
    stage.  PNG uses filters='mixed' (row filter = r % 5) so a decode
    gate exercises all five unfilter paths.
    """
    import numpy as np
    import pandas as pd

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for cid in pdf["content_id"]:
                cid = int(cid)
                if kind in ("bmp", "ppm", "png"):
                    w, h = _formula_dims(cid)
                    img = _formula_image(cid, w, h)
                    enc = {
                        "bmp": MC.encode_bmp,
                        "ppm": MC.encode_ppm,
                        "png": MC.encode_png,
                    }[kind]
                    payloads.append(enc(img))
                elif kind == "wav":
                    # integer waveform (no transcendentals): bit-identical
                    # recomputable in ANSI SQL for the oracle
                    n = 800 + (cid % 5) * 160
                    t = np.arange(n, dtype=np.int64)
                    samples = (
                        (cid * 31 + 7 * t * (t + 1)) % 16385 - 8192
                    ).astype(np.int16)
                    payloads.append(MC.encode_wav(samples, 16000))
                elif kind == "rawv":
                    w, h = 8 + cid % 4, 6 + cid % 3
                    n_frames = 4 + cid % 5
                    frames = np.stack(
                        [_formula_image(cid + k, w, h) for k in range(n_frames)]
                    )
                    payloads.append(MC.encode_rawv(frames, fps=10))
                else:
                    raise ValueError(kind)
            yield pd.DataFrame({"content_id": pdf["content_id"], "payload": payloads})

    return ids_df.select("content_id").mapInPandas(
        run, schema="content_id long, payload binary"
    )


# ---------------------------------------------------------------------------
# image features
# ---------------------------------------------------------------------------


def image_stats(df: DataFrame, grid: int = 2) -> DataFrame:
    """REAL decode + feature extraction over binary image payloads.

    Decodes BMP/PPM/PNG natively (numpy + stdlib zlib), JPEG via PIL when
    importable (NotImplementedError otherwise — the documented
    optional-dependency fallback).  Emits per-channel means and a grid x
    grid grayscale
    block-mean feature vector.  Input: (content_id, payload).
    """
    import numpy as np
    import pandas as pd

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                "content_id": [], "fmt": [], "width": [], "height": [],
                "mean_r": [], "mean_g": [], "mean_b": [], "feat": [],
            }
            for cid, payload in zip(pdf["content_id"], pdf["payload"]):
                img = MC.decode_image_any(bytes(payload))
                h, w = img.shape[:2]
                gray = img.mean(axis=2)
                feats = []
                for gi in range(grid):
                    for gj in range(grid):
                        block = gray[
                            gi * h // grid : (gi + 1) * h // grid,
                            gj * w // grid : (gj + 1) * w // grid,
                        ]
                        feats.append(float(block.mean()) if block.size else 0.0)
                out["content_id"].append(cid)
                out["fmt"].append(MC.sniff_media_format(bytes(payload)))
                out["width"].append(w)
                out["height"].append(h)
                means = img.reshape(-1, 3).mean(axis=0)
                out["mean_r"].append(float(means[0]))
                out["mean_g"].append(float(means[1]))
                out["mean_b"].append(float(means[2]))
                out["feat"].append(feats)
            yield pd.DataFrame(out)

    return df.select("content_id", "payload").mapInPandas(
        run, schema=IMAGE_STATS_SCHEMA
    )


# ---------------------------------------------------------------------------
# audio features
# ---------------------------------------------------------------------------


def audio_stats(df: DataFrame) -> DataFrame:
    """REAL WAV decode (stdlib wave): duration, RMS, zero-crossing count.

    Compressed audio (mp3/aac) would need soundfile/ffmpeg — not in the
    container — and raises NotImplementedError naming the dependency.
    """
    import numpy as np
    import pandas as pd

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in (
                "content_id", "sample_rate", "n_samples", "n_channels",
                "duration_ms", "rms", "zero_crossings",
            )}
            for cid, payload in zip(pdf["content_id"], pdf["payload"]):
                p = bytes(payload)
                fmt = MC.sniff_media_format(p)
                if fmt != "wav":
                    raise NotImplementedError(
                        f"compressed audio ({fmt!r}) requires soundfile/ffmpeg "
                        "(not installed); provide RIFF-PCM WAV payloads"
                    )
                samples, rate = MC.decode_wav(p)
                mono = samples.mean(axis=1)
                out["content_id"].append(cid)
                out["sample_rate"].append(rate)
                out["n_samples"].append(samples.shape[0])
                out["n_channels"].append(samples.shape[1])
                out["duration_ms"].append(int(samples.shape[0] * 1000 // rate))
                out["rms"].append(float(np.sqrt((mono**2).mean())) if len(mono) else 0.0)
                out["zero_crossings"].append(
                    int((np.diff(np.signbit(mono)) != 0).sum()) if len(mono) > 1 else 0
                )
            yield pd.DataFrame(out)

    return df.select("content_id", "payload").mapInPandas(run, schema=AUDIO_STATS_SCHEMA)


# ---------------------------------------------------------------------------
# video frame sampling
# ---------------------------------------------------------------------------


def sample_video_frames(df: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Frame sampling: one input row -> N frame rows (flatMap shape).

    Decodes RAWV containers for REAL (raw-RGB frame dumps) and emits one
    row per sampled frame with its 8-dim gray block feature; compressed
    video (h264 etc.) raises NotImplementedError naming ffmpeg.
    """
    import pandas as pd

    schema = (
        "content_id long, frame_idx int, ts_ms long, "
        "frame_px_sum long, frame_feat array<double>"
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_rows = {
                "content_id": [], "frame_idx": [], "ts_ms": [],
                "frame_px_sum": [], "frame_feat": [],
            }
            for cid, payload in zip(pdf["content_id"], pdf["payload"]):
                p = bytes(payload) if payload is not None else b""
                fmt = MC.sniff_media_format(p)
                if fmt != "rawv":
                    raise NotImplementedError(
                        f"compressed video ({fmt!r}) requires ffmpeg bindings "
                        "(not installed); provide RAWV raw-frame payloads"
                    )
                frames, fps = MC.decode_rawv(p)
                step = max(1, int(round(every_ms * fps / 1000.0)))
                for k in range(0, frames.shape[0], step):
                    gray = frames[k].mean(axis=2).ravel()
                    chunk = max(1, len(gray) // 8)
                    feat = [
                        float(gray[q * chunk : (q + 1) * chunk].mean()) / 255.0
                        if len(gray[q * chunk : (q + 1) * chunk])
                        else 0.0
                        for q in range(8)
                    ]
                    out_rows["content_id"].append(cid)
                    out_rows["frame_idx"].append(k)
                    out_rows["ts_ms"].append(int(k * 1000 // fps))
                    out_rows["frame_px_sum"].append(int(frames[k].sum(dtype="int64")))
                    out_rows["frame_feat"].append(feat)
            yield pd.DataFrame(out_rows)

    return df.select("content_id", "payload").mapInPandas(run, schema=schema)


# ---------------------------------------------------------------------------
# resize
# ---------------------------------------------------------------------------


def resize_images(df: DataFrame, width: int, height: int) -> DataFrame:
    """Resize dataflow: binary in -> binary out + updated metadata.

    Decodes (BMP/PPM native, PNG/JPEG via optional PIL),
    nearest-neighbor-resizes in numpy, and re-encodes as BMP — a real
    binary->binary media transform.
    """
    import pandas as pd

    schema = "content_id long, payload binary, width int, height int"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            resized = []
            for p in pdf["payload"]:
                if p is None:
                    resized.append(None)
                else:
                    img = MC.decode_image_any(bytes(p))
                    resized.append(MC.encode_bmp(MC.resize_nearest(img, width, height)))
            yield pd.DataFrame(
                {
                    "content_id": pdf["content_id"],
                    "payload": resized,
                    "width": [width] * len(pdf),
                    "height": [height] * len(pdf),
                }
            )

    return df.select("content_id", "payload").mapInPandas(run, schema=schema)
