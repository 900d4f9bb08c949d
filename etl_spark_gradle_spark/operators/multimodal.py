"""Multimodal columns: image/audio/video as opaque ``binary`` columns
with typed metadata structs, plus decode / feature-extract / resize /
frame-sample stages as Arrow-batched ``mapInPandas`` operators.

Beyond-reference operators (the reference has no binary/media surface;
SURVEY.md §7.2 step 8 / BASELINE north star). Every stage's math is
REAL in a bare Python+numpy environment via :mod:`media_codecs`:

- dimension/channel decode for PNG/JPEG/GIF (``parse_image_dims``,
  pure header reads) and WAV (``parse_audio_meta``);
- pixel decode + nearest-neighbour resize for PNG (stdlib zlib +
  scanline unfilter), RGB888 or PNG re-encode output;
- image/audio feature vectors (channel means + grayscale grid / RMS
  slices) for ``embed_media``;
- frame sampling with true timestamps for Y4M (header fps) and
  animated GIF (Graphic Control Extension delays, LZW skipped).

Optional libraries widen FORMAT coverage only: Pillow (JPEG/WebP/…
pixel decode) and PyAV (mp4/mkv demux) are used when importable, never
required; payloads neither path can read emit ``unsupported`` status
(or a clearly-labeled ``stub`` vector in ``embed_media``) instead of
failing the job.

100-TB design notes
-------------------
- Binary payloads ride Parquet/``binaryFile`` scans; metadata extraction
  (``with_media_metadata``) is pure Catalyst (length/sha2/magic-number
  prefix match) — narrow, codegen'd, zero Python.
- Decode/feature stages are ``mapInPandas`` so each Arrow batch crosses
  the JVM↔Python boundary once; batch size is bounded by
  ``spark.sql.execution.arrow.maxRecordsPerBatch`` — size it so
  (batch rows × max payload) fits executor memory (e.g. 64 rows for
  ~10 MB images).
- Media rows are large and skewed: ``repartition`` by a hash of the id
  (not by file path) before heavy decode stages so one executor doesn't
  get all the 4K videos; emitted features are small, so downstream
  shuffles carry features, not payloads — project payloads away
  immediately after decode.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from etl_spark_gradle_spark.operators.base import TransformationError, _BaseTransformer

# Magic-number prefixes → format tag (hex of the payload's first bytes).
_MAGIC: dict[str, str] = {
    "89504E47": "png",
    "FFD8FF": "jpeg",
    "47494638": "gif",
    "52494646": "riff",  # wav/avi container
    "1A45DFA3": "mkv/webm",
    "00000018": "mp4",
    "00000020": "mp4",
    "4F676753": "ogg",
    "494433": "mp3",
}


def with_media_metadata(
    df: DataFrame, binary_col: str = "content", out_col: str = "media_meta"
) -> DataFrame:
    """Attach a typed metadata struct derived JVM-side from the payload:
    ``{byte_len, sha256, format}`` — no Python, no shuffle."""
    b = F.col(binary_col)
    prefix = F.upper(F.hex(F.substring(b, 1, 4)))
    fmt = F.lit("unknown")
    # longest prefixes first so e.g. FFD8FF wins over shorter accidental hits
    for magic, tag in sorted(_MAGIC.items(), key=lambda kv: -len(kv[0])):
        fmt = F.when(F.substring(prefix, 1, len(magic)) == magic, F.lit(tag)).otherwise(fmt)
    meta = F.struct(
        F.length(b).cast("long").alias("byte_len"),
        F.sha2(b, 256).alias("sha256"),
        fmt.alias("format"),
    )
    return df.withColumn(out_col, meta)


def require_integral_id(df: DataFrame, id_col: str, op: str) -> DataFrame:
    """Fail fast on a non-integral id column and return the frame with
    ``id_col`` cast to ``long`` JVM-side.

    Every Arrow stage below emits ``id`` as int64; a string doc-id would
    pass schema validation but crash mid-job inside the Python worker
    with an opaque pandas ``astype('int64')`` ValueError (ADVICE r3).
    Casting in the JVM projection keeps the Python side a no-op."""
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    if id_col not in df.columns:
        raise ValueError(f"{op}: id column '{id_col}' not in input schema")
    dt = df.schema[id_col].dataType
    if not isinstance(dt, (ByteType, ShortType, IntegerType, LongType)):
        raise ValueError(
            f"{op}: id column '{id_col}' must be an integral type, got "
            f"{dt.simpleString()} — cast it to long (or hash string ids "
            f"to a surrogate key) before this stage"
        )
    return df.withColumn(id_col, F.col(id_col).cast("long"))


# ---------------------------------------------------------------------------
# Decode / feature stages (Arrow-batched; decode core is STUBBED)
# ---------------------------------------------------------------------------

IMAGE_DECODE_SCHEMA = StructType(
    [
        StructField("id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("channels", IntegerType()),
        StructField("decode_status", StringType()),
    ]
)


def _fake_decode(payload: bytes) -> tuple[int, int, int]:
    """STUB decode — deterministic fake dimensions from the payload hash.

    Used only as the ``fallback="stub"`` path of :func:`decode_images`
    for formats whose headers :func:`parse_image_dims` cannot read
    (anything needing a real codec). PNG/JPEG/GIF are parsed for real.
    """
    h = hashlib.sha256(payload or b"").digest()
    return 64 + h[0] % 192, 64 + h[1] % 192, 3


# PNG color type -> sample channels per pixel (spec: IHDR colour types)
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}
# JPEG SOFn markers that carry frame dims (C4=DHT, C8=JPG, CC=DAC excluded)
_JPEG_SOF = {m for m in range(0xC0, 0xD0)} - {0xC4, 0xC8, 0xCC}


def parse_image_dims(payload: bytes | None) -> tuple[int, int, int, str] | None:
    """REAL header parse for PNG / JPEG / GIF — pure-Python struct reads,
    no imaging library needed (dimensions live at fixed header offsets):

    - PNG: 8-byte signature, then the IHDR chunk is mandatory-first, so
      width/height are big-endian u32 at bytes 16-24 and the colour type
      (→ channel count) at byte 25.
    - JPEG: walk the marker segments from SOI until a SOFn frame header;
      height/width are big-endian u16 at offsets +5/+7 of the segment,
      component count (channels) at +9.
    - GIF: 6-byte version tag, then logical-screen width/height as
      little-endian u16.

    Returns ``(width, height, channels, format)`` or ``None`` when the
    payload is not a parseable image (caller decides stub-vs-null).
    """
    if payload is None or len(payload) < 10:
        return None
    if payload[:8] == b"\x89PNG\r\n\x1a\n" and len(payload) >= 26:
        width = int.from_bytes(payload[16:20], "big")
        height = int.from_bytes(payload[20:24], "big")
        channels = _PNG_CHANNELS.get(payload[25], 3)
        return width, height, channels, "png"
    if payload[:2] == b"\xff\xd8":
        i = 2
        while i + 9 < len(payload):
            if payload[i] != 0xFF:
                i += 1
                continue
            marker = payload[i + 1]
            # padding / standalone markers carry no length field
            if marker in (0xFF, 0x01, 0xD8) or 0xD0 <= marker <= 0xD7:
                i += 2
                continue
            if marker == 0xD9:  # EOI before any SOF
                return None
            seg_len = int.from_bytes(payload[i + 2 : i + 4], "big")
            if marker in _JPEG_SOF:
                height = int.from_bytes(payload[i + 5 : i + 7], "big")
                width = int.from_bytes(payload[i + 7 : i + 9], "big")
                channels = payload[i + 9]
                return width, height, channels, "jpeg"
            if seg_len < 2:
                return None
            i += 2 + seg_len
        return None
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        width = int.from_bytes(payload[6:8], "little")
        height = int.from_bytes(payload[8:10], "little")
        return width, height, 3, "gif"
    return None


def decode_images(
    df: DataFrame,
    id_col: str = "id",
    binary_col: str = "content",
    fallback: str = "none",
) -> DataFrame:
    """Decode image payloads to (width, height, channels) via
    ``mapInPandas`` — one Arrow batch in, one out; payload column is
    projected away on output so downstream stages shuffle only metadata.

    PNG/JPEG/GIF headers are parsed for REAL (``parse_image_dims``;
    ``decode_status`` = ``ok:<format>``). Other formats need a codec the
    container lacks: ``fallback="none"`` emits null dims with status
    ``unsupported``; ``fallback="stub"`` emits deterministic fake dims
    with status ``ok_stub`` (for plumbing tests)."""
    import pandas as pd

    if fallback not in ("none", "stub"):
        raise ValueError("fallback must be 'none' or 'stub'")

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in it:
            widths, heights, chans, status = [], [], [], []
            for p in pdf[binary_col]:
                parsed = parse_image_dims(p)
                if parsed is not None:
                    w, h, c, fmt = parsed
                    widths.append(w)
                    heights.append(h)
                    chans.append(c)
                    status.append(f"ok:{fmt}")
                elif fallback == "stub":
                    w, h, c = _fake_decode(p)
                    widths.append(w)
                    heights.append(h)
                    chans.append(c)
                    status.append("ok_stub")
                else:
                    widths.append(None)
                    heights.append(None)
                    chans.append(None)
                    status.append("unsupported")
            yield pd.DataFrame(
                {
                    "id": pdf[id_col].astype("int64"),
                    "width": pd.array(widths, dtype="Int32"),
                    "height": pd.array(heights, dtype="Int32"),
                    "channels": pd.array(chans, dtype="Int32"),
                    "decode_status": status,
                }
            )

    src = require_integral_id(df, id_col, "decode_images")
    return src.select(id_col, binary_col).mapInPandas(batches, IMAGE_DECODE_SCHEMA)


AUDIO_DECODE_SCHEMA = StructType(
    [
        StructField("id", LongType()),
        StructField("sample_rate", IntegerType()),
        StructField("channels", IntegerType()),
        StructField("bits_per_sample", IntegerType()),
        StructField("duration_ms", LongType()),
        StructField("decode_status", StringType()),
    ]
)


def parse_audio_meta(payload: bytes | None) -> tuple[int, int, int, int] | None:
    """REAL header parse for WAV (RIFF/WAVE) — pure-Python struct reads.

    Walks the RIFF chunk list: the mandatory ``fmt `` chunk carries
    channels (u16 LE @ +2), sample rate (u32 LE @ +4) and bits/sample
    (u16 LE @ +14); the ``data`` chunk's byte length over the byte rate
    gives the duration. Returns ``(sample_rate, channels,
    bits_per_sample, duration_ms)`` or ``None`` for non-WAV payloads
    (compressed codecs like mp3/ogg genuinely need a decoder and go
    through the stub path instead)."""
    if payload is None or len(payload) < 44:
        return None
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        return None
    sample_rate = channels = bits = None
    data_len = None
    i = 12
    while i + 8 <= len(payload):
        cid = payload[i : i + 4]
        clen = int.from_bytes(payload[i + 4 : i + 8], "little")
        if cid == b"fmt " and i + 24 <= len(payload):
            channels = int.from_bytes(payload[i + 10 : i + 12], "little")
            sample_rate = int.from_bytes(payload[i + 12 : i + 16], "little")
            bits = int.from_bytes(payload[i + 22 : i + 24], "little")
        elif cid == b"data":
            data_len = clen
        # chunks are word-aligned: odd lengths carry a pad byte
        i += 8 + clen + (clen & 1)
    if not sample_rate or not channels or not bits:
        return None
    byte_rate = sample_rate * channels * (bits // 8)
    duration_ms = (data_len or 0) * 1000 // byte_rate if byte_rate else 0
    return sample_rate, channels, bits, duration_ms


def decode_audio(
    df: DataFrame, id_col: str = "id", binary_col: str = "content"
) -> DataFrame:
    """Decode audio payloads to (sample_rate, channels, bits_per_sample,
    duration_ms) via ``mapInPandas`` — WAV headers parsed for real
    (``parse_audio_meta``); compressed formats report ``unsupported``
    with null fields (they need codecs this container lacks). Payload
    projected away on output, same as :func:`decode_images`."""
    import pandas as pd

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in it:
            sr, ch, bits, dur, status = [], [], [], [], []
            for p in pdf[binary_col]:
                parsed = parse_audio_meta(p)
                if parsed is not None:
                    sr.append(parsed[0])
                    ch.append(parsed[1])
                    bits.append(parsed[2])
                    dur.append(parsed[3])
                    status.append("ok:wav")
                else:
                    sr.append(None)
                    ch.append(None)
                    bits.append(None)
                    dur.append(None)
                    status.append("unsupported")
            yield pd.DataFrame(
                {
                    "id": pdf[id_col].astype("int64"),
                    "sample_rate": pd.array(sr, dtype="Int32"),
                    "channels": pd.array(ch, dtype="Int32"),
                    "bits_per_sample": pd.array(bits, dtype="Int32"),
                    "duration_ms": pd.array(dur, dtype="Int64"),
                    "decode_status": status,
                }
            )

    src = require_integral_id(df, id_col, "decode_audio")
    return src.select(id_col, binary_col).mapInPandas(batches, AUDIO_DECODE_SCHEMA)


MEDIA_EMBED_SCHEMA = StructType(
    [
        StructField("id", LongType()),
        StructField("embedding", ArrayType(FloatType())),
        StructField("embed_status", StringType()),
    ]
)


def _decode_pixels(payload: bytes | None):
    """Decode an image payload to an (H, W, C) uint8 array: our
    pure-stdlib PNG decoder first (library-independent, deterministic),
    then Pillow for every other format IF it is installed. Returns
    (array, status_tag) or (None, None)."""
    import numpy as np

    from etl_spark_gradle_spark.operators import media_codecs as mc

    arr = mc.png_decode(payload)
    if arr is not None:
        return arr, "png"
    try:  # optional dependency — extends format coverage only
        import io

        from PIL import Image  # type: ignore

        im = Image.open(io.BytesIO(payload or b"")).convert("RGB")
        return np.asarray(im, dtype=np.uint8), "pil"
    except Exception:
        return None, None


def embed_media(
    df: DataFrame, id_col: str = "id", binary_col: str = "content", dim: int = 16
) -> DataFrame:
    """Feature-extract stage: payload → fixed-dim float vector, one
    Arrow ``mapInPandas`` pass, payloads projected away on output.

    REAL features (pure numpy, no model runtime needed):

    - images (PNG via the stdlib decoder; any Pillow-readable format
      when Pillow is installed): ``[mean_r, mean_g, mean_b]`` in [0,1]
      followed by ``dim-3`` grayscale block means sampled on a
      nearest-neighbour grid — a classic color+layout descriptor
      (status ``ok:png`` / ``ok:pil``).
    - WAV PCM audio: per-segment RMS over ``dim`` equal time slices
      (status ``ok:audio``).
    - undecodable payloads: deterministic sha256-derived vector,
      clearly labeled ``stub`` — schema-stable so downstream ANN
      operators can still run end-to-end.

    A learned model (CLIP-style) plugs into the same stage by replacing
    the feature fn; the Spark shape — one narrow Arrow stage, small
    output rows — is identical."""
    import numpy as np
    import pandas as pd

    from etl_spark_gradle_spark.operators import media_codecs as mc

    if dim < 4:
        raise ValueError("embed_media dim must be >= 4")

    def _features(p: bytes | None) -> tuple[list[float], str]:
        arr, tag = _decode_pixels(p)
        if arr is not None:
            rgb = mc.to_rgb(arr).astype(np.float64) / 255.0
            base = [float(rgb[:, :, c].mean()) for c in range(3)]
            gray = rgb.mean(axis=2)
            grid = mc.resize_nearest(gray, dim - 3, 1).ravel()
            return base + [float(v) for v in grid], f"ok:{tag}"
        wav = mc.wav_decode(p)
        if wav is not None:
            _rate, _ch, samples = wav
            mono = samples.mean(axis=1)
            segs = np.array_split(mono, dim)
            return (
                [float(np.sqrt((s**2).mean())) if len(s) else 0.0 for s in segs],
                "ok:audio",
            )
        digest = hashlib.sha256(p or b"").digest()
        raw = (digest * ((dim // len(digest)) + 1))[:dim]
        return [b / 255.0 for b in raw], "stub"

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in it:
            vecs, status = [], []
            for p in pdf[binary_col]:
                v, s = _features(p)
                vecs.append([float(np.float32(x)) for x in v])
                status.append(s)
            yield pd.DataFrame(
                {
                    "id": pdf[id_col].astype("int64"),
                    "embedding": vecs,
                    "embed_status": status,
                }
            )

    src = require_integral_id(df, id_col, "embed_media")
    return src.select(id_col, binary_col).mapInPandas(batches, MEDIA_EMBED_SCHEMA)


FRAME_SAMPLE_SCHEMA = StructType(
    [
        StructField("id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("frame_ts_ms", LongType()),
        StructField("frame_status", StringType()),
    ]
)


def sample_frames(
    df: DataFrame,
    id_col: str = "id",
    binary_col: str = "content",
    every_ms: int = 1000,
    max_frames: int = 8,
) -> DataFrame:
    """Frame-sampling stage for video payloads: one output row per
    sampled frame ``(id, frame_idx, frame_ts_ms, frame_status)``.

    REAL container parses, no codec library required:

    - Y4M (YUV4MPEG2): header gives the frame rate, FRAME markers give
      the count; sampled indices step by
      ``max(1, every_ms * fps_num // (1000 * fps_den))`` and timestamps
      are ``idx * 1000 * fps_den // fps_num`` — exact integer
      arithmetic (status ``ok:y4m``).
    - animated GIF: per-frame delays come from the Graphic Control
      Extension block walk (LZW pixel data is skipped, not decoded);
      a frame is sampled when its cumulative start time enters a new
      ``every_ms`` bucket, timestamp = true start time (``ok:gif``).
    - other containers (mp4/mkv/webm): PyAV keyframe demux when that
      optional dependency is installed (``ok:pyav``); otherwise ONE row
      with null idx/ts and status ``unsupported`` so ids never silently
      vanish from the output.

    Row explosion is bounded at ``max_frames`` per input; output rows
    are tiny, so the downstream shuffle never carries video bytes."""
    import pandas as pd

    from etl_spark_gradle_spark.operators import media_codecs as mc

    if every_ms < 1 or max_frames < 1:
        raise ValueError("sample_frames needs every_ms >= 1 and max_frames >= 1")

    def _sample(p: bytes | None) -> tuple[list[tuple[int, int]], str]:
        info = mc.y4m_parse(p)
        if info is not None and info["n_frames"] > 0:
            step = max(1, every_ms * info["fps_num"] // (1000 * info["fps_den"]))
            picks = []
            idx = 0
            while idx < info["n_frames"] and len(picks) < max_frames:
                ts = idx * 1000 * info["fps_den"] // info["fps_num"]
                picks.append((idx, ts))
                idx += step
            return picks, "ok:y4m"
        delays = mc.gif_frame_delays(p)
        if delays:
            picks = []
            start = 0
            last_bucket = None
            for i, d in enumerate(delays):
                bucket = start // every_ms
                if bucket != last_bucket:
                    picks.append((i, start))
                    last_bucket = bucket
                    if len(picks) >= max_frames:
                        break
                start += d
            return picks, "ok:gif"
        try:  # optional dependency — real demux for mp4/mkv/webm
            import io

            import av  # type: ignore

            with av.open(io.BytesIO(p or b"")) as container:
                stream = container.streams.video[0]
                tb = stream.time_base
                picks = []
                last_bucket = None
                for i, frame in enumerate(container.decode(stream)):
                    ts = int(frame.pts * tb * 1000) if frame.pts is not None else 0
                    bucket = ts // every_ms
                    if bucket != last_bucket:
                        picks.append((i, ts))
                        last_bucket = bucket
                        if len(picks) >= max_frames:
                            break
                if picks:
                    return picks, "ok:pyav"
        except Exception:
            pass
        return [], "unsupported"

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in it:
            ids, idxs, tss, status = [], [], [], []
            for rid, p in zip(pdf[id_col], pdf[binary_col]):
                picks, tag = _sample(p)
                if not picks:
                    ids.append(int(rid))
                    idxs.append(None)
                    tss.append(None)
                    status.append(tag)
                for i, ts in picks:
                    ids.append(int(rid))
                    idxs.append(i)
                    tss.append(ts)
                    status.append(tag)
            yield pd.DataFrame(
                {
                    "id": pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.array(idxs, dtype="Int32"),
                    "frame_ts_ms": pd.array(tss, dtype="Int64"),
                    "frame_status": status,
                }
            )

    src = require_integral_id(df, id_col, "sample_frames")
    return src.select(id_col, binary_col).mapInPandas(batches, FRAME_SAMPLE_SCHEMA)


class MultimodalTransformer(_BaseTransformer):
    """Registry adapter (``type: multimodal``). Options:

    - ``operation`` (required): ``metadata`` | ``decode_image`` |
      ``decode_audio`` | ``resize`` | ``frame_sample`` | ``embed``
    - ``binaryColumn`` (default ``content``), ``idColumn`` (default
      ``id``; required by every operation except ``metadata``)
    - ``metadata``: ``outColumn`` (default ``media_meta``) — annotates
      in place (JVM-side, no Python)
    - ``decode_image`` extra: ``fallback`` = none|stub
    - ``resize`` extra: ``targetWidth``/``targetHeight`` (default 224),
      ``output`` = raw|png (default raw RGB888 buffer)
    - ``frame_sample`` extra: ``everyMs`` (1000), ``maxFrames`` (8)
    - ``embed`` extra: ``dim`` (16)

    Decode/resize/frame/embed REPLACE the frame with the stage's output
    schema (payloads are projected away — downstream steps shuffle
    features, not bytes; see module 100-TB notes)."""

    _OPS = ("metadata", "decode_image", "decode_audio", "resize", "frame_sample", "embed")

    def validate(self, df: DataFrame, config):
        from etl_spark_gradle_spark.plans.config import ValidationResult

        opts = config.options
        op = opts.get("operation", "").lower()
        errors = []
        if op not in self._OPS:
            errors.append(f"multimodal operation must be one of {self._OPS}, got '{op}'")
        bc = opts.get("binaryColumn", "content")
        if bc not in df.columns:
            errors.append(f"binaryColumn not in input schema: {bc}")
        if op and op != "metadata":
            ic = opts.get("idColumn", "id")
            if ic not in df.columns:
                errors.append(f"idColumn not in input schema: {ic}")
        return ValidationResult.ok() if not errors else ValidationResult.fail(*errors)

    def _apply(self, df: DataFrame, config, ctx) -> DataFrame:
        opts = config.options
        op = opts["operation"].lower()
        bc = opts.get("binaryColumn", "content")
        ic = opts.get("idColumn", "id")
        if op == "metadata":
            return with_media_metadata(df, bc, opts.get("outColumn", "media_meta"))
        if op == "decode_image":
            return decode_images(df, id_col=ic, binary_col=bc,
                                 fallback=opts.get("fallback", "none"))
        if op == "decode_audio":
            return decode_audio(df, id_col=ic, binary_col=bc)
        if op == "resize":
            return resize_images(
                df,
                target_width=int(opts.get("targetWidth", 224)),
                target_height=int(opts.get("targetHeight", 224)),
                id_col=ic,
                binary_col=bc,
                output=opts.get("output", "raw"),
            )
        if op == "frame_sample":
            return sample_frames(
                df,
                id_col=ic,
                binary_col=bc,
                every_ms=int(opts.get("everyMs", 1000)),
                max_frames=int(opts.get("maxFrames", 8)),
            )
        return embed_media(df, id_col=ic, binary_col=bc, dim=int(opts.get("dim", 16)))


RESIZE_SCHEMA = StructType(
    [
        StructField("id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("resized", BinaryType()),
        StructField("resize_status", StringType()),
    ]
)


def resize_images(
    df: DataFrame,
    target_width: int = 224,
    target_height: int = 224,
    id_col: str = "id",
    binary_col: str = "content",
    output: str = "raw",
) -> DataFrame:
    """Resize stage: decode → nearest-neighbour resize → re-emit, one
    Arrow ``mapInPandas`` stage, input payloads projected away.

    REAL core: PNG payloads decode through the pure-stdlib decoder
    (``media_codecs.png_decode`` — zlib + scanline unfilter), any other
    format decodes through Pillow when that optional dependency is
    installed; pixels are normalized to RGB, resized with the
    pixel-center nearest-neighbour convention
    (``media_codecs.resize_nearest``), and emitted as

    - ``output="raw"`` (default): the raw interleaved RGB888 buffer
      (``target_width*target_height*3`` bytes) — the tensor shape a
      training pipeline actually feeds to preprocessing, and
      byte-predictable for verification, or
    - ``output="png"``: a deterministic PNG re-encode (fixed zlib
      level) for pipelines that persist images.

    Undecodable payloads emit null dims/payload with status
    ``unsupported``. At 100 TB, resize runs after a
    repartition-by-id-hash so skewed payload sizes spread evenly
    (see PLANS.md multimodal note)."""
    import pandas as pd

    from etl_spark_gradle_spark.operators import media_codecs as mc

    if output not in ("raw", "png"):
        raise ValueError("resize_images output must be 'raw' or 'png'")
    if target_width < 1 or target_height < 1:
        raise ValueError("resize_images target dims must be >= 1")

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in it:
            widths, heights, payloads, status = [], [], [], []
            for p in pdf[binary_col]:
                arr, tag = _decode_pixels(p)
                if arr is None:
                    widths.append(None)
                    heights.append(None)
                    payloads.append(None)
                    status.append("unsupported")
                    continue
                rgb = mc.resize_nearest(mc.to_rgb(arr), target_width, target_height)
                payloads.append(
                    mc.png_encode(rgb) if output == "png" else rgb.tobytes()
                )
                widths.append(target_width)
                heights.append(target_height)
                status.append(f"ok:{tag}")
            yield pd.DataFrame(
                {
                    "id": pdf[id_col].astype("int64"),
                    "width": pd.array(widths, dtype="Int32"),
                    "height": pd.array(heights, dtype="Int32"),
                    "resized": payloads,
                    "resize_status": status,
                }
            )

    src = require_integral_id(df, id_col, "resize_images")
    return src.select(id_col, binary_col).mapInPandas(batches, RESIZE_SCHEMA)
