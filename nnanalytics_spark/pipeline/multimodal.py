"""Multimodal column plumbing: image/audio/video as opaque binary columns.

The Spark-side architecture — schema, partition-aware batch iteration
(mapInPandas with Arrow batches), typed metadata struct — plus REAL
decode kernels for all three modalities via the pure-Python codecs in
codecs.py: PNG images (chunk/CRC-verified inflate + unfilter), WAV audio
(struct-parsed RIFF/PCM), and uncompressed-DIB AVI video (struct-parsed
RIFF chunk walk: avih/strh/strf headers + per-frame '00db' payloads,
bottom-up row un-flip). Compressed codecs (JPEG/H.264/Opus) would swap
one kernel function each for pyav/PIL without touching the plan. The
operator is shaped for 100 TB regardless of kernel: binary payloads
never shuffle; decode and feature extraction are map-side only; outputs
are small typed columns.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nnanalytics_spark.pipeline import codecs

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image | audio | video
        T.StructField("payload", T.BinaryType(), True),  # opaque bytes
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("mime", T.StringType(), True),
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("duration_ms", T.IntegerType(), True),
                ]
            ),
            True,
        ),
    ]
)

FEATURE_SCHEMA = (
    "media_id long, kind string, n_bytes int, checksum long, "
    "n_content long, content_checksum long, feature array<double>"
)


def _byte_histogram(payload: bytes) -> list[float]:
    """Normalized 8-bucket byte histogram — the container-agnostic
    fallback for payloads that aren't a parseable container."""
    counts = [0] * 8
    for byte in payload:
        counts[byte >> 5] += 1
    total = max(len(payload), 1)
    return [c / total for c in counts]


def _decode_video(payload: bytes, kind: str) -> list[float]:
    """Real AVI decode (codecs.decode_avi: RIFF walk + DIB un-flip) →
    normalized intensity histogram over every decoded frame's pixels.
    Non-AVI binary falls back to the raw byte histogram so foreign video
    containers still yield a deterministic (if codec-blind) signature."""
    if payload is None:
        return [0.0] * 8
    try:
        return codecs.avi_features(payload)
    except ValueError:
        return _byte_histogram(payload)


def _decode_image(payload: bytes, kind: str) -> list[float]:
    """Real PNG decode (codecs.decode_png: CRC-verified inflate +
    unfilter) → normalized 8-bin intensity histogram of the pixels."""
    if payload is None:
        return [0.0] * 8
    return codecs.png_features(payload)


def _decode_audio(payload: bytes, kind: str) -> list[float]:
    """Real WAV decode (codecs.decode_wav: struct-parsed RIFF/PCM) →
    per-segment RMS of the centered signal."""
    if payload is None:
        return [0.0] * 8
    return codecs.wav_features(payload)


def _decode_once(kind: str, payload: bytes | None):
    """(feature, n_content, content_sum) from ONE container decode —
    the decode is the dominant kernel cost, so feature extraction and
    the content-integrity pair must not each run it (they did until r6's
    self-review). Error semantics match the two-call form: image/audio
    raise on corrupt containers (the deterministic builders can't emit
    them), video falls back to the codec-blind byte histogram with the
    (0, -1) corruption sentinel."""
    import struct
    import zlib

    import numpy as np

    if payload is None:
        return [0.0] * 8, 0, -1
    if kind == "image":
        px = codecs.decode_png(payload)["pixels"].reshape(-1)
        return codecs.intensity_hist(px), int(px.size), int(px.astype(np.int64).sum())
    if kind == "audio":
        pcm = np.frombuffer(codecs.decode_wav(payload)["pcm"], dtype=np.uint8)
        return codecs.pcm_rms(pcm), int(pcm.size), int(pcm.astype(np.int64).sum())
    try:
        frames = codecs.decode_avi(payload)["frames"]
    except (ValueError, struct.error, zlib.error):
        return _byte_histogram(payload), 0, -1
    px = np.concatenate([f.ravel() for f in frames])
    return codecs.intensity_hist(px), int(px.size), int(px.astype(np.int64).sum())


def extract_features(df: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads.

    mapInPandas keeps each binary batch inside one Python worker — no
    shuffle of payload bytes, output is narrow (id + small feature vector).

    Two integrity surfaces per row: (n_bytes, checksum) cover the raw
    CONTAINER (crc32 — depends on the encoder's compressed bytes, so only
    a re-run of the same encoder can predict it) and (n_content,
    content_checksum) cover the DECODED content — pixel/PCM/frame byte
    count and plain byte sum, container-independent and predictable from
    the source data alone (an external SQL oracle can recompute both
    from the text a deterministic payload derives from). Undecodable
    payloads report (0, -1) so corruption is distinguishable from empty
    content."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import zlib

        for pdf in batches:
            features, n_contents, content_sums = [], [], []
            for kind, payload in zip(pdf["kind"], pdf["payload"]):
                feat, nc, cs = _decode_once(kind, payload)
                features.append(feat)
                n_contents.append(nc)
                content_sums.append(cs)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": [len(p) if p is not None else 0 for p in pdf["payload"]],
                    "checksum": [
                        zlib.crc32(p) if p is not None else 0 for p in pdf["payload"]
                    ],
                    "n_content": n_contents,
                    "content_checksum": content_sums,
                    "feature": features,
                }
            )

    return df.select("media_id", "kind", "payload").mapInPandas(run, FEATURE_SCHEMA)


DECODED_SCHEMA = (
    "media_id long, kind string, n_bytes int, width int, height int, "
    "sample_rate int, n_channels int, duration_ms int, n_data int, "
    "n_frames int, fps int"
)


def decode_media(df: DataFrame) -> DataFrame:
    """Decode container metadata from real payloads — the deterministic
    contract surface for the correctness gate.

    Every output column is computable from the source bytes without
    knowing the codec's compression internals (PNG IDAT size is not
    predictable, but width/height/pixel-count are), so an external SQL
    oracle can verify the full decode round-trip:

    - image: width, height from the parsed IHDR; n_data = width*height
      reconstructed pixels (zero-padded last row).
    - audio: sample_rate, n_channels, duration_ms from the parsed fmt
      chunk; n_data = PCM sample count.
    - video: width, height, fps, n_frames, duration_ms from the parsed
      avih/strh headers; n_data = n_frames*width*height decoded pixels
      (zero-padded last frame).

    Arrow-batched mapInPandas, map-side only; payloads never shuffle."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {k: [] for k in (
                "media_id", "kind", "n_bytes", "width", "height",
                "sample_rate", "n_channels", "duration_ms", "n_data",
                "n_frames", "fps",
            )}
            for mid, kind, payload in zip(pdf["media_id"], pdf["kind"], pdf["payload"]):
                row = dict.fromkeys(out)
                row["media_id"], row["kind"] = mid, kind
                row["n_bytes"] = len(payload) if payload is not None else 0
                if payload is None:
                    pass
                elif kind == "image":
                    meta = codecs.decode_png(payload)
                    row["width"], row["height"] = meta["width"], meta["height"]
                    row["n_data"] = meta["width"] * meta["height"]
                elif kind == "audio":
                    meta = codecs.decode_wav(payload)
                    row["sample_rate"] = meta["sample_rate"]
                    row["n_channels"] = meta["n_channels"]
                    row["duration_ms"] = meta["duration_ms"]
                    row["n_data"] = meta["n_samples"]
                elif kind == "video":
                    meta = codecs.decode_avi(payload)
                    row["width"], row["height"] = meta["width"], meta["height"]
                    row["duration_ms"] = meta["duration_ms"]
                    row["n_frames"], row["fps"] = meta["n_frames"], meta["fps"]
                    row["n_data"] = meta["n_frames"] * meta["width"] * meta["height"]
                for k, v in row.items():
                    out[k].append(v)
            yield pd.DataFrame(out)

    return df.select("media_id", "kind", "payload").mapInPandas(run, DECODED_SCHEMA)


def media_from_documents(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    parallelism: int | None = None,
) -> DataFrame:
    """Deterministic real-media table derived from a documents table:
    even doc_ids become 8-bit grayscale PNGs (text bytes as pixels, width
    64, zero-padded last row), odd doc_ids become 8-bit mono 8 kHz WAVs
    (text bytes as PCM samples). Because the mapping from text length to
    decoded dimensions is arithmetic, an external SQL oracle can predict
    every decode_media column — this is what upgrades the multimodal
    component from rows-only to a hash-checked contract.

    ``parallelism``: optionally repartition the (id, text) projection
    BEFORE any payload exists. A single-split local parquet file would
    otherwise run the whole Python kernel chain on one core; the shuffle
    moves only raw text, so the payloads-never-shuffle property is
    untouched (asserted in tests/test_entry_plans.py). At real scale the
    source arrives in thousands of splits and this stays None."""
    return _media_table(docs, id_col, text_col, _encode_mixed, parallelism)


def _encode_mixed(pdf: pd.DataFrame) -> pd.DataFrame:
    payloads, kinds = [], []
    for mid, txt in zip(pdf["media_id"], pdf["text"]):
        data = txt.encode("utf-8")
        if mid % 2 == 0:
            kinds.append("image")
            payloads.append(codecs.encode_png(data, width=codecs.PNG_WIDTH))
        else:
            kinds.append("audio")
            payloads.append(codecs.encode_wav(data, sample_rate=codecs.WAV_RATE))
    return pd.DataFrame(
        {"media_id": pdf["media_id"], "kind": kinds, "payload": payloads}
    )


def _media_table(docs, id_col, text_col, encode_batch, parallelism):
    """Shared payload-builder plumbing: project (id, text), optionally
    fan out the text-only rows, then one Arrow mapInPandas running
    ``encode_batch``."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield encode_batch(pdf)

    # NULL-text contract: a doc with no text yields no media payload
    # (dropped here, before the encode kernel ever sees it)
    src = docs.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("media_id"), F.col(text_col).alias("text")
    )
    if parallelism:
        src = src.repartition(parallelism)
    return src.mapInPandas(run, "media_id long, kind string, payload binary")


RESIZED_SCHEMA = (
    "media_id long, kind string, payload binary, width int, height int"
)


def resize(df: DataFrame, width: int, height: int) -> DataFrame:
    """Resize to width×height — Arrow-batched, map-side only.

    Image payloads take the REAL path: PNG decode (codecs.decode_png),
    nearest-neighbor resample with a vectorized numpy index grid, PNG
    re-encode — output payloads are valid PNGs of the target geometry.
    Non-image kinds fall back to a deterministic byte-stride downsample
    (kept so audio/video payloads still produce fixed-size thumbnails of
    their raw bytes). Either way: binary in → binary out, no shuffle."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        target = width * height

        def stride_kernel(payload: bytes | None) -> bytes:
            if not payload:
                return b"\x00" * target
            n = len(payload)
            return bytes(payload[(i * n) // target] for i in range(target))

        def image_kernel(payload: bytes | None) -> bytes:
            if not payload:
                return codecs.encode_png(b"\x00" * target, width=width)
            px = codecs.decode_png(payload)["pixels"]
            src_h, src_w = px.shape
            ys = (np.arange(height) * src_h) // height
            xs = (np.arange(width) * src_w) // width
            resized = px[np.ix_(ys, xs)]
            return codecs.encode_png(resized.tobytes(), width=width)

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "payload": [
                        image_kernel(p) if k == "image" else stride_kernel(p)
                        for k, p in zip(pdf["kind"], pdf["payload"])
                    ],
                    "width": width,
                    "height": height,
                }
            )

    return df.select("media_id", "kind", "payload").mapInPandas(run, RESIZED_SCHEMA)


FRAME_SCHEMA = "media_id long, frame_idx int, ts_ms int, payload binary"


def sample_frames(df: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Sample frames from video payloads every `every_ms` — a one-to-many
    mapInPandas (each video row yields ~duration/every_ms frame rows).

    Real kernel: the AVI is struct-decoded once (codecs.decode_avi) and
    the frame nearest each every_ms timestamp is emitted as raw top-down
    grayscale bytes (width*height per frame). Non-AVI payloads fall back
    to a proportional byte slice, using meta.duration_ms when the
    container itself can't provide one. Output rows are narrow, so the
    explode happens AFTER decode on the map side — full videos never
    shuffle."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {"media_id": [], "frame_idx": [], "ts_ms": [], "payload": []}
            for mid, payload, meta_dur in zip(
                pdf["media_id"], pdf["payload"], pdf["duration_ms"]
            ):
                if payload is None:
                    continue
                try:
                    meta = codecs.decode_avi(payload)
                except ValueError:
                    meta = None
                # a structurally-valid AVI can still carry ZERO frames
                # (empty movi list): frames[idx] on it would IndexError
                # past the ValueError fallback — treat it like any other
                # undecodable payload and fall through to the byte slices
                if meta is not None and meta["n_frames"] == 0:
                    meta = None
                if meta is not None:
                    duration, fps = meta["duration_ms"], meta["fps"]
                    for k in range(max(int(duration) // every_ms, 1)):
                        ts = k * every_ms
                        idx = min(ts * fps // 1000, meta["n_frames"] - 1)
                        out["media_id"].append(mid)
                        out["frame_idx"].append(int(idx))
                        out["ts_ms"].append(ts)
                        out["payload"].append(meta["frames"][idx].tobytes())
                    continue
                if not meta_dur:
                    continue
                n_slices = max(int(meta_dur) // every_ms, 1)
                step = max(len(payload) // n_slices, 1)
                for k in range(n_slices):
                    out["media_id"].append(mid)
                    out["frame_idx"].append(k)
                    out["ts_ms"].append(k * every_ms)
                    out["payload"].append(payload[k * step : k * step + min(step, 64)])
            yield pd.DataFrame(out)

    src = df.filter(F.col("kind") == "video").select(
        "media_id", "payload", F.col("meta.duration_ms").alias("duration_ms")
    )
    return src.mapInPandas(run, FRAME_SCHEMA)


def videos_from_documents(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    parallelism: int | None = None,
) -> DataFrame:
    """Deterministic real-video table: every document's UTF-8 bytes become
    grayscale AVI frames (16×8 px, 5 fps, zero-padded last frame — the
    same arithmetic-predictable construction media_from_documents uses for
    PNG/WAV), so a SQL oracle can predict every decode_media column.
    ``parallelism`` fans out the text-only input exactly as in
    media_from_documents."""

    def encode(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "media_id": pdf["media_id"],
                "kind": "video",
                "payload": [codecs.encode_avi(t.encode("utf-8")) for t in pdf["text"]],
            }
        )

    return _media_table(docs, id_col, text_col, encode, parallelism)


def synthetic_media(spark, n: int = 64) -> DataFrame:
    """Deterministic media table for tests. All three payload kinds are
    REAL containers (seeded bytes wrapped as PNG pixels / WAV PCM /
    grayscale AVI frames via codecs)."""
    rows = []
    for i in range(n):
        kind = ("image", "audio", "video")[i % 3]
        data = bytes(((i * 131 + j * 17) % 256) for j in range(256 + i))
        if kind == "image":
            payload = codecs.encode_png(data, width=16)
            h = (len(data) + 15) // 16
            meta = ("image/png", 16, h, None)
        elif kind == "audio":
            payload = codecs.encode_wav(data)
            meta = ("audio/wav", None, None, len(data) * 1000 // codecs.WAV_RATE)
        else:
            payload = codecs.encode_avi(data)
            px = codecs.AVI_WIDTH * codecs.AVI_HEIGHT
            frames = max((len(data) + px - 1) // px, 1)
            meta = (
                "video/x-msvideo",
                codecs.AVI_WIDTH,
                codecs.AVI_HEIGHT,
                frames * 1000 // codecs.AVI_FPS,
            )
        rows.append((i, kind, payload, meta))
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


SCENE_SCHEMA = (
    "media_id long, n_frames int, n_transitions int, mean_abs_diff double"
)


def scene_change(df: DataFrame) -> DataFrame:
    """Frame-to-frame scene-change intensity for video payloads: mean
    absolute pixel difference between consecutive decoded frames — the
    shot-boundary / static-clip detector a video curation pipeline runs
    before sampling frames (a static clip wastes frame-sample budget;
    a hard cut marks segment boundaries).

    Arrow mapInPandas over the payload column (frames decode inside the
    task; payload bytes never shuffle — the multimodal contract). For
    the deterministic videos_from_documents payloads every number is
    arithmetic in the text's code points, so the oracle replays the
    diff exactly. Single-frame videos emit (1, 0, 0.0)."""
    import math

    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, nf, nt, md = [], [], [], []
            import struct
            import zlib

            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                try:
                    frames = codecs.decode_avi(payload)["frames"]
                except (ValueError, TypeError, struct.error, zlib.error):
                    ids.append(mid), nf.append(0), nt.append(0), md.append(-1.0)
                    continue
                ids.append(mid)
                nf.append(len(frames))
                if len(frames) < 2:
                    nt.append(0), md.append(0.0)
                    continue
                stack = np.stack([f.astype(np.int64).ravel() for f in frames])
                diffs = np.abs(stack[1:] - stack[:-1])
                nt.append(len(frames) - 1)
                # exact integer total, then HALF-UP 6-dp quantization via
                # floor(x*1e6 + 0.5): Python's round() is banker's while
                # SQL engines round half away — this form is identical
                # arithmetic on both sides
                x = int(diffs.sum()) / diffs.size
                md.append(math.floor(x * 1e6 + 0.5) / 1e6)
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "n_frames": nf,
                    "n_transitions": nt,
                    "mean_abs_diff": md,
                }
            )

    return df.select("media_id", "payload").mapInPandas(run, SCENE_SCHEMA)
