"""Multimodal column plumbing: opaque ``binary`` payloads + typed
metadata, processed with Arrow-batched ``mapInPandas``.

A 100 TB multimodal training pipeline stores media as binary columns
(or object-store pointers) beside typed metadata, and runs decode /
feature-extraction / resize / frame-sampling as vectorized Python over
Arrow batches. The Spark-side plumbing here — schemas, batch iteration,
partition sizing, output contracts — is real and tested. The codec is
one callable per payload, chosen by :func:`decode_media`:

- ``fake=True`` (default) substitutes a *deterministic* md5-derived
  decode, so the synthesized text-byte fixtures stay oracle-checkable.
- ``fake=False`` runs the built-in stdlib decode of the formats that
  need no codec library: binary PPM/PGM images, RIFF/WAVE PCM audio
  and PPM-stream video. Every other format raises ``ValueError``;
  PNG/JPEG/GIF (matched by signature) and non-WAVE audio name the
  library that decodes them.
- ``decoder=`` takes any such library's decode, cloudpickled into the
  task, without changing the plan, the schema or the error policy.

Scale notes: ``mapInPandas`` streams Arrow batches (no per-row
pickling); ``spark.sql.execution.arrow.maxRecordsPerBatch`` bounds
batch memory for fat payloads. Media rows are large and skew by size —
repartition by a uniform key (doc hash) before the decode stage so one
partition doesn't collect all the 4K videos.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), False),  # image|audio|video
        T.StructField("content", T.BinaryType(), True),
        T.StructField("source", T.StringType(), True),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), False),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("n_frames", T.IntegerType(), True),
        T.StructField("feature", T.ArrayType(T.FloatType()), True),
    ]
)


def synth_media_from_documents(docs: DataFrame) -> DataFrame:
    """Build a media table from the documents corpus: the UTF-8 payload
    stands in for encoded media bytes (deterministic, any engine can
    reproduce it). media_type round-robins image/audio/video.
    """
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("media_type"),
        F.encode("text", "UTF-8").alias("content"),
        "source",
    )


POINTER_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), False),
        T.StructField("uri", T.StringType(), False),
        T.StructField("n_bytes", T.LongType(), True),
    ]
)


def synth_media_pointers(docs: DataFrame) -> DataFrame:
    """Pointer-column media table: object-store URI + size metadata
    instead of inline payload bytes — the realistic 100 TB layout. The
    relational stages (filter, join, dedup, sample) shuffle only the
    ~100-byte pointer rows; payload bytes move exactly once, inside the
    fetch+decode Python stage at the end of the plan.
    """
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("media_type"),
        F.concat(
            F.lit("obj://media-store/"),
            F.col("source"),
            F.lit("/"),
            F.col("doc_id").cast("string"),
            F.lit(".bin"),
        ).alias("uri"),
        F.length("text").cast("long").alias("n_bytes"),
    )


def fetch_media(
    pointers: DataFrame, fake: bool = True, storage=None
) -> DataFrame:
    """Resolve pointer rows to payload bytes via ``mapInPandas``.

    ``fake=True`` (the oracle path for synthesized pointers) substitutes
    the UTF-8 bytes of the URI itself — deterministic and
    engine-reproducible. ``fake=False`` REALLY fetches through the
    ``storage`` seam: ``file://`` and plain-path URIs read from the
    task-local filesystem (which at cluster scale is any mounted store
    — NFS, FUSE-mounted object buckets, alluxio), per row inside the
    Arrow batch loop; a missing file yields a NULL payload (the
    relational stages downstream treat it as a dead pointer). Scheme'd
    object-store URIs (``s3://``, ``obj://``) dispatch to whatever
    backend ``storage.register(scheme, ...)`` installed — a dependency
    injection, not an operator change — and raise ``ValueError``
    naming the client they need when none is registered (no cloud SDK
    ships in this environment).

    Pass ``storage`` EXPLICITLY to route every fetch through one
    backend: the instance is cloudpickled into the task closure, which
    is the only way an injected backend reliably reaches Python
    workers — ``storage.register()`` mutates a per-process registry
    that executor workers, being fresh processes, never saw.

    Size-skew note: rows are range-partitioned on the ``n_bytes``
    metadata BEFORE the fetch so each task pulls a comparable byte
    volume, not a comparable row count — with inline payloads you can
    only salt uniformly; the pointer layout knows sizes up front.
    """
    fetched_schema = T.StructType(
        list(POINTER_SCHEMA.fields) + [T.StructField("content", T.BinaryType(), True)]
    )

    def _read_local(uri: str) -> bytes | None:
        # Storage seam: an explicitly-passed backend (captured in this
        # closure, cloudpickled to the worker) wins; otherwise file://
        # and plain paths hit LocalStorage and unregistered schemes
        # raise naming the client they need (honest env boundary).
        from ..storage import for_path

        try:
            backend = storage if storage is not None else for_path(uri)
            return backend.read_bytes(uri)
        except (FileNotFoundError, IsADirectoryError):
            return None  # dead pointer → NULL payload
        # Every other OSError (EACCES, EIO, ESTALE on a flaky NFS/FUSE
        # mount) propagates and fails the task: at scale a sick mount
        # must surface as task retries/failures, not silently drop
        # payloads as if the pointers were dead.

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            pdf = pdf.copy()
            if fake:
                pdf["content"] = [u.encode("utf-8") for u in pdf["uri"]]
            else:
                pdf["content"] = [_read_local(u) for u in pdf["uri"]]
            yield pdf

    return pointers.repartitionByRange(F.col("n_bytes"), F.col("media_id")).mapInPandas(
        batches, schema=fetched_schema
    )


def _fake_decode(payload: bytes, media_type: str) -> dict:
    """Deterministic fake decode: dimensions and an 8-dim feature vector
    derived from the payload's md5 — stable across runs and engines.
    Production passes a real codec (Pillow / torchaudio / pyav) through
    ``decode_media(decoder=...)``.
    """
    digest = hashlib.md5(payload).digest()
    width = 16 + digest[0] % 640
    height = 16 + digest[1] % 480
    n_frames = 1 if media_type == "image" else 1 + digest[2] % 300
    feature = [round(b / 255.0, 6) for b in digest[:8]]
    return {"width": width, "height": height, "n_frames": n_frames, "feature": feature}


# Declared-dimension cap. A netpbm header is outside input: a crafted
# 20-byte payload can claim 65535x65535, and the image path reports the
# declared dims without reading the raster. Passed on, they size the
# buffers of whatever consumes the decoded row (a resampler planned by
# resize_plan, a training loader), where an OOM kill is not catchable.
# Rejecting them here makes them a named ValueError that
# on_error="null" contains. 2^24 px = a 4096x4096 frame, far above any
# feature-extraction need.
_MAX_DECODE_PIXELS = 1 << 24


def _check_pixels(w: int, h: int, fmt: str) -> None:
    if w <= 0 or h <= 0 or w * h > _MAX_DECODE_PIXELS:
        raise ValueError(
            f"{fmt} declares implausible dimensions {w}x{h} "
            f"(cap {_MAX_DECODE_PIXELS} pixels)"
        )


def _ppm_header(payload: bytes, start: int = 0) -> tuple[int, int, int, int, int]:
    """Parse a binary PPM/PGM (P6/P5) frame at ``start``: returns
    (width, height, maxval, raster_offset, raster_end). Whitespace/
    comment handling per the netpbm spec. Raises a named ValueError
    for implausible dims, a maxval outside netpbm's 1..65535, a 16-bit
    maxval (2-byte samples the 1-byte raster walk would misread) and a
    raster shorter than the header declares."""
    magic = payload[start : start + 2].decode("ascii", errors="replace")
    if magic not in ("P6", "P5"):
        raise ValueError(f"not a binary PPM/PGM payload (magic={magic!r})")
    fields: list[int] = []
    i = start + 2
    while len(fields) < 3:
        while i < len(payload) and payload[i : i + 1].isspace():
            i += 1
        if i < len(payload) and payload[i : i + 1] == b"#":  # comment line
            while i < len(payload) and payload[i] != 0x0A:
                i += 1
            continue
        j = i
        while j < len(payload) and not payload[j : j + 1].isspace():
            j += 1
        if j == i:
            raise ValueError("truncated PPM header")
        fields.append(int(payload[i:j]))
        i = j
    i += 1  # single whitespace after maxval, then raster
    w, h, maxval = fields
    _check_pixels(w, h, magic)
    if not 0 < maxval < 65536:
        raise ValueError(f"{magic}: maxval {maxval} outside 1..65535")
    if maxval > 255:
        raise ValueError(
            f"{magic}: 16-bit maxval {maxval} unsupported (1-byte "
            "samples only); rescale or use a full imaging library"
        )
    end = i + w * h * (3 if magic == "P6" else 1)
    if end > len(payload):
        raise ValueError(
            f"truncated {magic} raster at byte {start}: "
            f"{len(payload) - i} of {end - i} bytes"
        )
    return w, h, maxval, i, end


def _sample_feature(data: bytes, norm: float, k: int = 8) -> list[float]:
    """k evenly-spaced normalized samples of a byte raster — the
    deterministic stand-in for a pooled feature vector."""
    if not data:
        return [0.0] * k
    step = max(1, len(data) // k)
    return [round(data[min(i * step, len(data) - 1)] / norm, 6) for i in range(k)]


# Formats recognised by their file signature only, so that a payload
# in one of them fails with a pointer to the seam rather than with the
# PPM parser's "bad magic" error.
_LIBRARY_SIGS = (
    (b"\x89PNG\r\n\x1a\n", "PNG"),
    (b"\xff\xd8", "JPEG"),
    (b"GIF87a", "GIF"),
    (b"GIF89a", "GIF"),
)


def _real_decode(payload: bytes, media_type: str) -> dict:
    """Corruption boundary for the whole real-decode dispatch: a
    malformed payload surfaces as a ValueError, never as a bare
    struct.error / IndexError that decode_media's
    ``on_error="null"`` row isolation can't recognize."""
    import struct as _struct

    try:
        return _real_decode_impl(payload, media_type)
    except (IndexError, _struct.error) as e:
        raise ValueError(
            f"corrupt or truncated {media_type} payload "
            f"({type(e).__name__})"
        ) from e


def _real_decode_impl(payload: bytes, media_type: str) -> dict:
    """Built-in real decode, pure stdlib:

    - ``image``: binary PPM/PGM (P6/P5) — header dims, raster-sampled
      feature vector;
    - ``audio``: RIFF/WAVE PCM — ``width``=sample rate, ``height``=
      channels, ``n_frames``=samples per channel, feature sampled from
      the PCM data chunk;
    - ``video``: a PPM-stream container (concatenated P6/P5 frames) —
      dims and feature from the first frame, ``n_frames`` by walking
      the stream one frame header at a time.

    Every other format raises ``ValueError``. PNG, JPEG and GIF are
    matched by signature and name Pillow; pass its decode through
    ``decode_media(decoder=...)``.
    """
    import struct

    for sig, fmt in _LIBRARY_SIGS:
        if payload.startswith(sig):
            raise ValueError(
                f"{fmt} payload: no built-in {fmt} codec; pass a Pillow "
                "decode as decode_media(decoder=...)"
            )
    if media_type == "image":
        w, h, maxval, off, _ = _ppm_header(payload)
        return {
            "width": w,
            "height": h,
            "n_frames": 1,
            "feature": _sample_feature(payload[off:], float(maxval)),
        }
    if media_type == "audio":
        if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
            raise ValueError(
                "not a RIFF/WAVE payload; other audio formats need "
                "torchaudio/soundfile"
            )
        i, rate, channels, bits, data = 12, None, None, 16, b""
        while i + 8 <= len(payload):
            cid = payload[i : i + 4]
            (size,) = struct.unpack("<I", payload[i + 4 : i + 8])
            body = payload[i + 8 : i + 8 + size]
            if cid == b"fmt ":
                channels, rate = struct.unpack("<HI", body[2:8])
                (bits,) = struct.unpack("<H", body[14:16])
            elif cid == b"data":
                data = body
            i += 8 + size + (size % 2)  # chunks are word-aligned
        if rate is None:
            raise ValueError("WAVE payload missing fmt chunk")
        frame_bytes = max(1, channels * (bits // 8))
        return {
            "width": rate,
            "height": channels,
            "n_frames": len(data) // frame_bytes,
            "feature": _sample_feature(data, 255.0),
        }
    if media_type == "video":
        # walk the stream frame by frame: each frame has its own header,
        # whose length (comments, P6 vs P5) may differ from the first's;
        # the first header is parsed unconditionally so a bad magic
        # raises the named error
        frames, pos = [], 0
        while pos == 0 or payload[pos : pos + 2] in (b"P6", b"P5"):
            frames.append(_ppm_header(payload, pos))
            pos = frames[-1][-1]
        w, h, maxval, off, end = frames[0]
        return {
            "width": w,
            "height": h,
            "n_frames": len(frames),
            "feature": _sample_feature(payload[off:end], float(maxval)),
        }
    raise ValueError(f"unknown media_type {media_type!r}")

def decode_media(
    media: DataFrame,
    fake: bool = True,
    pre_partitioned: bool = False,
    on_error: str = "raise",
    decoder=None,
) -> DataFrame:
    """Decode/feature-extract media payloads via ``mapInPandas``.

    Output follows ``FEATURE_SCHEMA``. The Arrow batch loop is the real
    production shape; the per-payload codec call is pluggable.
    Pass ``pre_partitioned=True`` when the input already has a
    size-aware layout (e.g. straight out of :func:`fetch_media`) so the
    payload bytes don't cross a second exchange.

    The codec: ``fake=True`` (default) is the deterministic md5 stand-in.
    ``fake=False`` is the built-in stdlib decode of binary PPM/PGM
    images, RIFF/WAVE audio and PPM-stream video; any other format
    (PNG, JPEG, GIF, MP4, ...) raises ValueError.
    ``decoder`` overrides both: a callable ``(payload: bytes,
    media_type: str) -> {"width", "height", "n_frames", "feature"}``,
    e.g. a Pillow decode, cloudpickled into the task closure exactly
    like ``fetch_media``'s ``storage`` backend. It leaves the
    partitioning, Arrow batching, schema and error policy unchanged.

    ``on_error``: ``"raise"`` (default) propagates a malformed
    payload's ValueError and fails the task — right for curated inputs
    where a bad byte stream means a broken upstream. ``"null"`` is the
    web-corpus posture: the row survives with NULL decode fields (the
    same shape a dead pointer produces), so one corrupt payload among
    100k can't kill the job; count the NULLs downstream to monitor
    decode health. Codec bugs still raise either way — only ValueError
    (the documented malformed-payload signal, built-in or ``decoder``)
    is mapped to NULL.
    """
    decode = decoder if decoder is not None else (
        _fake_decode if fake else _real_decode
    )
    if on_error not in ("raise", "null"):
        raise ValueError(f"on_error must be 'raise' or 'null', got {on_error!r}")

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for mid, mtype, payload in zip(
                pdf["media_id"], pdf["media_type"], pdf["content"]
            ):
                if payload is None:
                    rows.append((mid, mtype, None, None, None, None, None))
                    continue
                try:
                    d = decode(bytes(payload), mtype)
                except ValueError:
                    if on_error == "raise":
                        raise
                    rows.append(
                        (mid, mtype, len(payload), None, None, None, None)
                    )
                    continue
                rows.append(
                    (mid, mtype, len(payload), d["width"], d["height"],
                     d["n_frames"], d["feature"])
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "media_type", "n_bytes", "width", "height",
                    "n_frames", "feature",
                ],
            )

    # uniform repartition key defeats payload-size skew before the
    # python stage (content bytes travel the exchange once)
    src = (
        media
        if pre_partitioned
        else media.repartition(F.crc32(F.col("media_id").cast("string")))
    )
    return src.mapInPandas(batches, schema=FEATURE_SCHEMA)


def frame_sample(decoded: DataFrame, every_n: int = 30) -> DataFrame:
    """Frame-sampling plan for video rows: one output row per sampled
    frame index (pure relational explode — the actual frame extraction
    would join this plan back to the decode stage).
    """
    # n_frames NULL = the decode failed (on_error='null' / dead
    # pointer): greatest() skips NULLs, so without the filter such rows
    # would emit a phantom frame_idx=0 against undecodable media
    video = decoded.where(
        (F.col("media_type") == "video") & F.col("n_frames").isNotNull()
    )
    return video.select(
        "media_id",
        "n_frames",
        F.explode(
            F.sequence(F.lit(0), F.greatest(F.col("n_frames") - 1, F.lit(0)), F.lit(every_n))
        ).alias("frame_idx"),
    )


def resize_plan(decoded: DataFrame, target: int = 224) -> DataFrame:
    """Aspect-preserving resize-with-letterbox parameters per image row:
    scale factor, output dims, and centering pads for a target×target
    canvas. Pure relational arithmetic over the decoded dimensions —
    the pixel resample itself belongs to the (stubbed) codec stage, but
    the planning math is the part a 100 TB preprocessing job shuffles
    and audits, so it stays JVM-side and oracle-checkable.
    """
    w, h = F.col("width"), F.col("height")
    scale = F.least(F.lit(float(target)) / w, F.lit(float(target)) / h)
    # round, not floor: target/m*m floats to 223.999... for ~9% of
    # dimensions, and flooring would leave the long side 1px short of
    # the canvas (plan inconsistency a real resizer letterboxes wrong)
    out_w = F.round(w * scale, 0).cast("long")
    out_h = F.round(h * scale, 0).cast("long")
    return decoded.where(F.col("media_type") == "image").select(
        "media_id",
        w.cast("long").alias("width"),
        h.cast("long").alias("height"),
        F.round(scale, 6).alias("scale"),
        out_w.alias("out_w"),
        out_h.alias("out_h"),
        F.floor((F.lit(target) - out_w) / 2).cast("long").alias("pad_x"),
        F.floor((F.lit(target) - out_h) / 2).cast("long").alias("pad_y"),
    )


EMBED_DIM = 16
EMBED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("embedding", T.ArrayType(T.DoubleType()), False),
    ]
)


def _fake_encode(doc_id: int, dim: int) -> list[float]:
    """Deterministic stand-in for a text-encoder forward pass:
    component j is an md5-derived uniform in [-0.5, 0.5), rounded to
    6 dp. A real encoder is a model call on the batch; everything
    around it here is the production shape (same stub contract as
    ``_fake_decode``), and the determinism makes the stage
    oracle-checkable."""
    out = []
    for j in range(dim):
        h = hashlib.md5(f"{doc_id}:{j}".encode()).hexdigest()[:8]
        out.append(round(int(h, 16) / 4294967296.0 - 0.5, 6))
    return out


def embed_texts(
    docs: DataFrame, dim: int = EMBED_DIM, batch_rows: int = 256
) -> DataFrame:
    """Batch-inference embedding stage: Arrow-streamed ``mapInPandas``
    over ``(doc_id, text)`` producing ``(doc_id, embedding)``.

    This is the GPU-inference plumbing of a training-data pipeline:
    rows arrive as Arrow batches, are re-chunked to ``batch_rows``
    micro-batches (the model's memory budget — independent of Spark's
    Arrow batch size), and each chunk would be one encoder forward
    pass. The encoder call itself is the deterministic fake above; at
    100 TB you repartition uniformly first (doc hash) so every task
    carries a comparable row count, and size executors so
    ``batch_rows × dim`` activations fit the accelerator.
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            for start in range(0, len(pdf), batch_rows):
                chunk = pdf.iloc[start : start + batch_rows]
                yield pd.DataFrame(
                    {
                        "doc_id": chunk["doc_id"],
                        "embedding": [
                            _fake_encode(int(i), dim) for i in chunk["doc_id"]
                        ],
                    }
                )

    src = docs.select("doc_id", "text").repartition(
        F.crc32(F.col("doc_id").cast("string"))
    )
    return src.mapInPandas(batches, schema=EMBED_SCHEMA)
