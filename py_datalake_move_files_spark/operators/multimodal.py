"""Multimodal columns: image/audio/video as opaque ``binary`` + typed
metadata, processed by Arrow-batched ``mapInPandas`` operators.

Design for 100 TB: media bytes live in a ``BinaryType`` column (or a
pointer column + ``binaryFile`` scan); Spark never interprets them — all
decode/feature work happens in vectorized Pandas UDF batches on executors,
sized by ``spark.sql.execution.arrow.maxRecordsPerBatch``. Partitioning,
schema, and batch shape here are real and tested. The image path decodes
with PIL when it is importable on the worker (width/height/bands + grayscale
thumbnail features) and falls back per-row to a deterministic content-hash
STUB otherwise (this container ships no PIL/ffmpeg/torchaudio); the stub is
SQL-expressible on purpose so the DuckDB oracle can verify the full decode →
pool pipeline bit-for-bit (see :func:`make_image_decoder`).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from py_datalake_move_files_spark.functions.scaling import ensure_parallelism
from py_datalake_move_files_spark.functions.worker import make_worker_preamble

IMAGE_META_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("mime", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("feature", T.ArrayType(T.FloatType())),
    ]
)

FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame_ms", T.LongType()),
        T.StructField("frame_digest", T.StringType()),
    ]
)

FEATURE_DIM = 16


def synth_media(
    df: DataFrame,
    id_col: str,
    *,
    mime: str = "image/fake",
    content_key=None,
) -> DataFrame:
    """Deterministic synthetic media column for tests/demo: bytes derived
    from ``content_key`` (default: the id — sha-like expansion). Passing a
    coarser key (e.g. ``F.col(id) % 100``) manufactures genuine duplicate
    payloads under distinct media ids, which the phash-dedup query uses.
    This is the ONE definition of the stub byte layout — the decoder stub
    and every SQL oracle mirror it, so content construction must never be
    re-inlined at call sites. Real pipelines replace this with a
    ``binaryFile`` scan or a bytes column from upstream ingestion."""
    key = F.col(id_col) if content_key is None else content_key
    blob = F.to_binary(
        F.concat(*[F.md5(F.concat(F.lit(f"m{i}:"), key.cast("string"))) for i in range(4)]),
        F.lit("hex"),
    )
    return ensure_parallelism(df).select(
        F.col(id_col).alias("media_id"),
        F.lit(mime).alias("mime"),
        blob.alias("content"),
        F.length(blob).cast("long").alias("n_bytes"),
    )


def make_image_decoder(feature_dim: int = FEATURE_DIM):
    """Build the per-content image decoder: ``decode(content, pil_image)``.

    Real path first: when a PIL ``Image`` module is handed in, decode the
    bytes with it (width/height/band-count + a 4×4 grayscale thumbnail as the
    feature vector). Any undecodable payload — or no codec at all — falls
    through to the deterministic STUB: expand the md5 of the content's hex
    string into dimensions and features. Two properties are deliberate:

    * the stub hashes ``content.hex()`` (an ASCII string), not the raw bytes,
      so a SQL oracle with only ``md5(VARCHAR)`` (DuckDB 1.0) can reproduce it;
    * features are digest bytes ``/ 256.0`` — every value k/256 is exactly
      representable in BOTH float32 and float64, so downstream pooled means
      are bit-identical across engines with no rounding epsilon.

    Returned as a nested closure (pickled by value) so worker code can carry
    it to executors that cannot import this package.
    """

    def decode(content, pil_image=None):
        import hashlib as _hashlib
        import io as _io

        import numpy as _np

        data = bytes(content)
        if pil_image is not None:
            try:
                img = pil_image.open(_io.BytesIO(data))
                width, height = img.size
                channels = max(1, len(img.getbands()))
                thumb = img.convert("L").resize((4, 4))
                feat = (
                    _np.asarray(thumb, dtype=_np.float32).reshape(-1)
                    / _np.float32(256.0)
                )
                return int(width), int(height), int(channels), _np.resize(
                    feat, feature_dim
                )
            except Exception:
                pass  # not a decodable image -> deterministic stub below
        h = _hashlib.md5(data.hex().encode("ascii")).digest()
        width = 16 + h[0] % 64
        height = 16 + h[1] % 64
        rng = _np.frombuffer(h, dtype=_np.uint8).astype(_np.float32)
        return width, height, 3, _np.resize(rng / _np.float32(256.0), feature_dim)

    return decode


def decode_images(media: DataFrame) -> DataFrame:
    """Image decode + feature extraction over Arrow batches (``mapInPandas``).

    Tries the real decoder (PIL) once per worker; each row falls back to the
    deterministic stub when the codec is absent or the bytes don't decode
    (see :func:`make_image_decoder`). Batch sizes follow
    ``spark.sql.execution.arrow.maxRecordsPerBatch`` (tested).

    The worker closure is fully self-contained (locals + stdlib/site-packages
    imports only) so it runs on executors that cannot import this package —
    ``decode`` is a nested closure and ships by value with the task.
    """
    decode = make_image_decoder(FEATURE_DIM)
    worker_preamble = make_worker_preamble()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        worker_preamble()
        import pandas as _pd

        try:
            from PIL import Image as pil_image  # pragma: no cover - no codec here
        except ImportError:
            pil_image = None

        for batch in batches:
            out = {
                "media_id": batch["media_id"],
                "mime": batch["mime"],
                "width": [],
                "height": [],
                "channels": [],
                "feature": [],
            }
            for content in batch["content"]:
                w, h, c, feat = decode(content, pil_image)
                out["width"].append(w)
                out["height"].append(h)
                out["channels"].append(c)
                out["feature"].append(feat)
            yield _pd.DataFrame(out)

    return media.mapInPandas(run, IMAGE_META_SCHEMA)


def resize_features(decoded: DataFrame, *, out_dim: int = 8) -> DataFrame:
    """'Resize' stage: average-pool the feature vector to ``out_dim`` —
    pure Spark array expressions (no Python), demonstrating post-decode
    transforms staying JVM-side."""
    stride = FEATURE_DIM // out_dim
    pooled = F.expr(
        f"transform(sequence(0, {out_dim - 1}), i -> "
        f"aggregate(slice(feature, i * {stride} + 1, {stride}), 0D, "
        f"(acc, x) -> acc + x) / {stride})"
    )
    return decoded.withColumn("feature_pooled", pooled)


def sample_frames(media: DataFrame, *, every_ms: int = 1000, max_frames: int = 8) -> DataFrame:
    """Video frame sampling stub over ``mapInPandas``: emits one row per
    sampled frame (UDTF shape — output rows ≠ input rows). Frame count and
    digests are derived deterministically from the content's md5 (over its
    hex string, so a ``md5(VARCHAR)``-only SQL oracle reproduces them);
    ffmpeg would produce real frames in the production path."""
    worker_preamble = make_worker_preamble()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # self-contained worker closure: see decode_images
        worker_preamble()
        import hashlib as _hashlib

        import pandas as _pd

        for batch in batches:
            rows = []
            for mid, content in zip(batch["media_id"], batch["content"]):
                hexdata = bytes(content).hex()
                h = _hashlib.md5(hexdata.encode("ascii")).digest()
                n = min(max_frames, 1 + h[2] % max_frames)
                for i in range(n):
                    digest = _hashlib.md5(
                        (hexdata + ":" + str(i)).encode("ascii")
                    ).hexdigest()
                    rows.append((int(mid), i, i * every_ms, digest))
            yield _pd.DataFrame(
                rows, columns=["media_id", "frame_idx", "frame_ms", "frame_digest"]
            )

    return media.mapInPandas(run, FRAME_SCHEMA)


AUDIO_META_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("mime", T.StringType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_channels", T.IntegerType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("rms", T.ArrayType(T.FloatType())),
    ]
)

AUDIO_WINDOWS = 4


def make_audio_decoder():
    """Build the per-content audio decoder: ``decode(content, wave_mod)``.

    Real path first: stdlib ``wave`` (ALWAYS importable — unlike the image
    tier's PIL, the real branch here is genuinely exercised in this
    container) parses RIFF/WAVE bytes into sample rate / channels / frame
    count / duration and ``AUDIO_WINDOWS`` RMS energy windows over the
    normalized samples. Undecodable payloads fall through per-row to the
    deterministic md5 stub (same hex-string-hash convention as the image
    stub, so the DuckDB oracle reproduces it bit-for-bit; rms stub values
    are k/256 — exact in float32 and float64)."""

    def decode(content, wave_mod=None):
        import hashlib as _hashlib
        import io as _io

        import numpy as _np

        data = bytes(content)
        if wave_mod is not None:
            try:
                with wave_mod.open(_io.BytesIO(data)) as w:
                    sr = w.getframerate()
                    ch = w.getnchannels()
                    nf = w.getnframes()
                    width = w.getsampwidth()
                    raw = w.readframes(nf)
                dtype = {1: _np.uint8, 2: _np.int16, 4: _np.int32}.get(width)
                if dtype is not None and sr > 0:
                    samples = _np.frombuffer(raw, dtype=dtype).astype(_np.float64)
                    if width == 1:
                        samples = samples - 128.0
                    samples = samples / float(2 ** (8 * width - 1))
                    rms = []
                    for win in _np.array_split(samples, AUDIO_WINDOWS):
                        rms.append(
                            float(_np.sqrt(_np.mean(win * win))) if len(win) else 0.0
                        )
                    return (
                        int(sr),
                        int(ch),
                        int(nf),
                        int(nf * 1000 // sr),
                        _np.asarray(rms, dtype=_np.float32),
                    )
            except Exception:
                pass  # not RIFF/WAVE -> deterministic stub below
        h = _hashlib.md5(data.hex().encode("ascii")).digest()
        sr = 8000 * (1 + h[0] % 6)  # 8k..48k
        ch = 1 + h[1] % 2
        nf = 1000 + h[2] * 64
        rng = _np.frombuffer(h[:AUDIO_WINDOWS], dtype=_np.uint8).astype(_np.float32)
        return sr, ch, nf, nf * 1000 // sr, rng / _np.float32(256.0)

    return decode


def extract_audio_features(media: DataFrame) -> DataFrame:
    """Audio decode + energy features over Arrow batches (``mapInPandas``),
    mirroring :func:`decode_images`: real stdlib-``wave`` decode per row with
    per-row stub fallback; self-contained worker closure (ships by value)."""
    decode = make_audio_decoder()
    worker_preamble = make_worker_preamble()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        worker_preamble()
        import wave as _wave

        import pandas as _pd

        for batch in batches:
            out = {
                "media_id": batch["media_id"],
                "mime": batch["mime"],
                "sample_rate": [],
                "n_channels": [],
                "n_frames": [],
                "duration_ms": [],
                "rms": [],
            }
            for content in batch["content"]:
                sr, ch, nf, dur, rms = decode(content, _wave)
                out["sample_rate"].append(sr)
                out["n_channels"].append(ch)
                out["n_frames"].append(nf)
                out["duration_ms"].append(dur)
                out["rms"].append(rms)
            yield _pd.DataFrame(out)

    return media.mapInPandas(run, AUDIO_META_SCHEMA)
