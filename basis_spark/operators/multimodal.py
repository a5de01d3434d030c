"""Multimodal (binary) column plumbing (SURVEY.md §1.3 north star).

Convention: a modality column is BinaryType payload + a typed metadata
struct {uri, mime, n_bytes}. No codec libraries ship in this container,
so the formats are implemented here: PPM, 8-bit truecolor PNG, baseline
JPEG (operators/jpeg.py), and PCM WAV all decode for REAL. Only codecs
that genuinely require a native library (video containers) remain
stubbed behind deterministic fakes, clearly marked. The Spark-side
plumbing — schema, Arrow batch shape, mapInPandas signature,
partitioning — is real and tested throughout.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from basis_spark.io import load, scratch_dir
from basis_spark.session import spread_width
from basis_spark.registry import register

FEATURE_SCHEMA = "doc_id long, mime string, n_bytes long, feat array<double>"


def decode_image(payload: bytes) -> object:
    """Dependency-free image decode dispatcher — FOUR real codecs, no
    PIL/opencv: PPM (decode_ppm), 8-bit truecolor PNG (decode_png —
    zlib inflate + five-filter reconstruction), baseline JPEG
    (jpeg.decode_jpeg — Huffman + dequant + IDCT; 4:4:4, no restart
    intervals, out-of-scope variants raise inside the codec), and WAV
    via decode_wav for audio. Unknown magic raises."""
    if payload[:2] == b"P6":
        return decode_ppm(payload)
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        return decode_png(payload)
    if payload[:2] == b"\xff\xd8":
        from basis_spark.operators.jpeg import decode_jpeg

        return decode_jpeg(payload)
    raise NotImplementedError(
        "unrecognized image magic; PPM, 8-bit truecolor PNG, and "
        "baseline 4:4:4 JPEG decode for real in this container"
    )


# ----------------------------------------------------- real PPM codec ----
# Binary PPM (P6) is a header of ASCII tokens — "P6", width, height,
# maxval, each separated by whitespace with '#' comments running to end
# of line — followed by a single whitespace byte and then h rows of w
# RGB byte triplets. Simple enough to parse dependency-free, so the
# image decode path is REAL, not a stub.


def make_ppm(width: int, height: int, pixels: bytes) -> bytes:
    """Encode raw RGB bytes (len == w*h*3) as a binary PPM."""
    if len(pixels) != width * height * 3:
        raise ValueError(f"expected {width * height * 3} bytes, got {len(pixels)}")
    return b"P6\n# basis-spark synthetic fixture\n%d %d\n255\n" % (width, height) + pixels


def decode_ppm(payload: bytes) -> tuple[int, int, bytes]:
    """Parse a binary PPM (P6): returns (width, height, raw RGB bytes).

    Handles arbitrary header whitespace and '#' comments; only
    maxval 255 (1 byte per sample) is supported.
    """
    pos = 0

    def token() -> bytes:
        nonlocal pos
        while pos < len(payload):
            c = payload[pos : pos + 1]
            if c == b"#":
                while pos < len(payload) and payload[pos : pos + 1] != b"\n":
                    pos += 1
            elif c.isspace():
                pos += 1
            else:
                break
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        return payload[start:pos]

    magic = token()
    if magic != b"P6":
        raise ValueError(f"not a binary PPM (magic {magic!r})")
    width, height, maxval = int(token()), int(token()), int(token())
    if width <= 0 or height <= 0:
        # 0x0 would divide-by-zero in ppm_features; negatives would pass
        # the truncation check (w*h*3 still small) and return garbage.
        raise ValueError(f"invalid dimensions {width}x{height}")
    if maxval != 255:
        raise ValueError(f"only maxval 255 supported, got {maxval}")
    pos += 1  # exactly one whitespace byte after maxval
    pixels = payload[pos : pos + width * height * 3]
    if len(pixels) != width * height * 3:
        raise ValueError("truncated pixel data")
    return width, height, pixels


def ppm_features(payload: bytes) -> list[float]:
    """Real decode -> features: [width, height, mean_r, mean_g, mean_b]."""
    w, h, px = decode_ppm(payload)
    n = w * h
    means = [round(sum(px[c::3]) / n, 6) for c in range(3)]
    return [float(w), float(h), *means]


def fake_features(payload: bytes) -> list[float]:
    """Deterministic stand-in for decode→feature-extract: byte-histogram
    moments, always 4 values. Same batching a real extractor would have.
    (A former `dim` parameter was honored only for empty payloads —
    ragged rows for any dim != 4 — so it's gone.)"""
    n = len(payload)
    if n == 0:
        return [0.0] * 4
    return [float(n), round(sum(payload) / n, 6), float(max(payload)), float(min(payload))]


# ----------------------------------------------------- real WAV codec ----
# PCM WAV decodes with the stdlib `wave` module — no codec libraries
# needed — so the audio path is REAL too, not a stub.


def make_wav(samples: list[int], rate: int = 8000) -> bytes:
    """Encode mono 16-bit PCM samples as a RIFF/WAV payload."""
    import io
    import struct
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(struct.pack(f"<{len(samples)}h", *samples))
    return buf.getvalue()


def decode_wav(payload: bytes) -> tuple[int, int, list[int]]:
    """Parse a mono 16-bit PCM WAV: returns (rate, n_samples, samples)."""
    import io
    import struct
    import wave

    with wave.open(io.BytesIO(payload), "rb") as w:
        if w.getnchannels() != 1 or w.getsampwidth() != 2:
            raise ValueError("only mono 16-bit PCM supported")
        rate, n = w.getframerate(), w.getnframes()
        frames = w.readframes(n)
    if len(frames) != 2 * n:
        # keep the codec error contract uniform with decode_ppm:
        # truncation raises ValueError, never struct.error.
        raise ValueError("truncated sample data")
    return rate, n, list(struct.unpack(f"<{n}h", frames))


def wav_features(payload: bytes) -> list[float]:
    """Real decode -> features: [rate, n_samples, mean_amp, sum_abs]."""
    rate, n, samples = decode_wav(payload)
    return [
        float(rate),
        float(n),
        round(sum(samples) / n, 6) if n else 0.0,
        float(sum(abs(s) for s in samples)),
    ]


def extract_features(payload: bytes, mime: str) -> list[float]:
    """Mime-dispatched decode -> features: PPM images and PCM WAV audio
    decode for REAL (format parse + sample/pixel stats); other mimes use
    the deterministic byte-stat stand-in."""
    if mime == "image/x-portable-pixmap":
        return ppm_features(payload)
    if mime in ("audio/wav", "audio/x-wav"):
        return wav_features(payload)
    return fake_features(payload)


def _extract_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    # One Arrow batch in, one out — constant memory per partition.
    for pdf in batches:
        feats = [
            extract_features(p, m) for p, m in zip(pdf["payload"], pdf["mime"])
        ]
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "mime": pdf["mime"],
                "n_bytes": [len(p) for p in pdf["payload"]],
                "feat": feats,
            }
        )


def attach_binary(docs: DataFrame) -> DataFrame:
    """Wrap text as a binary modality column with typed metadata."""
    return docs.select(
        "doc_id",
        F.encode("text", "UTF-8").alias("payload"),
        F.struct(
            F.concat(F.lit("mem://doc/"), F.col("doc_id")).alias("uri"),
            F.lit("text/plain").alias("mime"),
            F.length(F.encode("text", "UTF-8")).cast("long").alias("n_bytes"),
        ).alias("meta"),
    )


def fake_resize(payload: bytes, w: int, h: int) -> bytes:
    """Deterministic resize stand-in: stride-sample the byte stream to w*h
    bytes (same contract as a real thumbnailer: bytes in, smaller bytes
    out, output size a pure function of (w, h))."""
    target = w * h
    n = len(payload)
    if n == 0:
        return b"\x00" * target
    step = max(n // target, 1)
    out = payload[::step][:target]
    return out + b"\x00" * (target - len(out))


def resize_any(payload: bytes, w: int, h: int) -> bytes:
    """Format dispatch on payload magic: PPM payloads go through the
    REAL decode -> nearest-neighbor -> re-encode path; anything the
    container has no codec for keeps the deterministic stride-sample
    stand-in (same contract: bytes in, (w,h)-sized thumb out)."""
    if payload[:2] == b"P6":
        return resize_ppm_nearest(payload, w, h)
    return fake_resize(payload, w, h)


def _resize_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        out = {
            "doc_id": [],
            "thumb_bytes": [],
            "mean_r": [],
            "mean_g": [],
            "mean_b": [],
        }
        for doc_id in pdf["doc_id"]:
            thumb = resize_any(synth_ppm(int(doc_id)), 2, 2)
            f = ppm_features(thumb)
            out["doc_id"].append(doc_id)
            out["thumb_bytes"].append(len(thumb))
            out["mean_r"].append(f[2])
            out["mean_g"].append(f[3])
            out["mean_b"].append(f[4])
        yield pd.DataFrame(out)


@register(
    "multimodal_resize",
    oracle="""
    WITH g AS (SELECT unnest([0, 4, 32, 36]) AS i),
    px AS (SELECT d.doc_id, g.i FROM documents d CROSS JOIN g)
    SELECT doc_id, CAST(55 AS BIGINT) AS thumb_bytes,
           round(avg((doc_id * 31 + i) % 256), 6) AS mean_r,
           round(avg((doc_id * 31 + i + 85) % 256), 6) AS mean_g,
           round(avg((doc_id * 31 + i + 170) % 256), 6) AS mean_b
    FROM px GROUP BY doc_id
    """,
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary payload -> mapInPandas 2x2 thumbnail through the
    resize_any magic dispatch — since r6 the PPM branch is the REAL
    codec (decode -> pixel sampling -> re-encode -> re-decode), so the
    oracle pins actual PIXELS, not just output size: thumb pixel (x,y)
    == source pixel (4x,4y), i.e. sampled pixel indices {0,4,32,36} of
    the 8x8 synthetic image, whose channel means DuckDB recomputes from
    the synthesis arithmetic; thumb_bytes pins the re-encoded PPM
    framing (43-byte header + 2*2*3 pixel bytes). Unknown-magic
    payloads keep the stride-sample fallback (unit-tested red path in
    tests/test_jpeg_codec.py). Arrow-batched, constant memory, one
    output row per image; repartition(32) because the fixture parquet
    is one row group (single task otherwise — same remedy as every
    decode sibling)."""
    docs = load(spark, sf_dir, "documents").select("doc_id").repartition(spread_width(32), "doc_id")
    return docs.mapInPandas(
        _resize_batches,
        schema=(
            "doc_id long, thumb_bytes long, "
            "mean_r double, mean_g double, mean_b double"
        ),
    )


_FRAME_SIZE = 16


def fake_frames(payload: bytes, every_n: int = 2) -> list[bytes]:
    """Deterministic frame-sample stand-in: treat the payload as fixed-size
    'frames' of _FRAME_SIZE bytes and keep every n-th, exactly the shape
    (one row in, list of binary frames out) of a real keyframe sampler."""
    frames = [
        payload[i : i + _FRAME_SIZE] for i in range(0, len(payload), _FRAME_SIZE)
    ]
    return frames[::every_n]


def _frames_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        rows = {"doc_id": [], "frame_no": [], "frame": []}
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            for k, fr in enumerate(fake_frames(payload)):
                rows["doc_id"].append(doc_id)
                rows["frame_no"].append(k)
                rows["frame"].append(fr)
        yield pd.DataFrame(rows)


@register(
    "multimodal_frame_sample",
    oracle="""
    SELECT doc_id,
           CAST(unnest(range(0, (CAST(ceil(strlen(text) / 16.0) AS BIGINT) + 1) // 2))
                AS INTEGER) AS frame_no
    FROM documents
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Binary payload -> mapInPandas one-to-many frame explode (stubbed
    # demux): keeps every 2nd 16-byte "frame". Oracle pins the fan-out
    # arithmetic (ceil(n/16) frames, every 2nd kept).
    docs = load(spark, sf_dir, "documents")
    bin_df = attach_binary(docs).select("doc_id", "payload")
    out = bin_df.mapInPandas(
        _frames_batches, schema="doc_id long, frame_no int, frame binary"
    )
    return out.select("doc_id", "frame_no")


def synth_ppm(doc_id: int, width: int = 8, height: int = 8) -> bytes:
    """Deterministic 8x8 RGB image per doc: pixel i channel c has value
    (doc_id*31 + i + c*85) % 256 — pure arithmetic, so a SQL oracle can
    recompute the exact channel means the decoder must produce."""
    px = bytes(
        (doc_id * 31 + i + c * 85) % 256
        for i in range(width * height)
        for c in range(3)
    )
    return make_ppm(width, height, px)


def _ppm_decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        out = {"doc_id": [], "width": [], "height": [], "mean_r": [], "mean_g": [], "mean_b": []}
        for doc_id in pdf["doc_id"]:
            f = ppm_features(synth_ppm(int(doc_id)))
            out["doc_id"].append(doc_id)
            out["width"].append(int(f[0]))
            out["height"].append(int(f[1]))
            out["mean_r"].append(f[2])
            out["mean_g"].append(f[3])
            out["mean_b"].append(f[4])
        yield pd.DataFrame(out)


@register(
    "multimodal_image_decode",
    oracle="""
    SELECT d.doc_id,
           CAST(8 AS BIGINT) AS width, CAST(8 AS BIGINT) AS height,
           round(avg((d.doc_id * 31 + i.range) % 256), 6) AS mean_r,
           round(avg((d.doc_id * 31 + i.range + 85) % 256), 6) AS mean_g,
           round(avg((d.doc_id * 31 + i.range + 170) % 256), 6) AS mean_b
    FROM documents d, range(64) i
    GROUP BY d.doc_id
    """,
)
def multimodal_image_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    # REAL image decode path, no codec libs: synthesize a binary PPM per
    # doc (deterministic pixels), parse it back with the dependency-free
    # P6 parser, emit per-channel means. The oracle recomputes the exact
    # means arithmetically, so a header off-by-one or channel swap in
    # the parser is a value mismatch, not a silent pass. Arrow-batched
    # mapInPandas, constant memory per partition — the same shape a
    # JPEG/PNG extractor would run at 100 TB. Repartition: the fixture
    # parquet is one row-group (= one task), which would serialize the
    # per-doc Python decode on a single core.
    docs = load(spark, sf_dir, "documents").select("doc_id").repartition(spread_width(32), "doc_id")
    return docs.mapInPandas(
        _ppm_decode_batches,
        schema="doc_id long, width long, height long,"
        " mean_r double, mean_g double, mean_b double",
    )


def synth_wav_samples(doc_id: int, n: int = 64) -> list[int]:
    """Deterministic mono PCM per doc: sample k has amplitude
    (doc_id*37 + k*11) % 2001 - 1000 — pure arithmetic, so a SQL oracle
    can recompute the exact stats the decoder must produce."""
    return [((doc_id * 37 + k * 11) % 2001) - 1000 for k in range(n)]


def _wav_decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        out = {"doc_id": [], "sample_rate": [], "n_samples": [], "mean_amp": [], "sum_abs": []}
        for doc_id in pdf["doc_id"]:
            f = wav_features(make_wav(synth_wav_samples(int(doc_id))))
            out["doc_id"].append(doc_id)
            out["sample_rate"].append(int(f[0]))
            out["n_samples"].append(int(f[1]))
            out["mean_amp"].append(f[2])
            out["sum_abs"].append(int(f[3]))
        yield pd.DataFrame(out)


@register(
    "multimodal_audio_decode",
    oracle="""
    SELECT d.doc_id,
           CAST(8000 AS BIGINT) AS sample_rate,
           CAST(64 AS BIGINT) AS n_samples,
           round(avg(((d.doc_id * 37 + i.range * 11) % 2001) - 1000), 6) AS mean_amp,
           CAST(sum(abs(((d.doc_id * 37 + i.range * 11) % 2001) - 1000)) AS BIGINT)
               AS sum_abs
    FROM documents d, range(64) i
    GROUP BY d.doc_id
    """,
)
def multimodal_audio_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    # REAL audio decode path via the stdlib wave module: synthesize a
    # mono 16-bit PCM WAV per doc (deterministic samples), parse the
    # RIFF container back, emit sample stats. The oracle recomputes the
    # exact stats arithmetically — an endianness or sample-width mistake
    # in the decoder is a value mismatch. Same Arrow-batched mapInPandas
    # shape a real feature extractor (MFCC etc.) would run at 100 TB.
    # Repartition: single-row-group fixture would serialize the decode.
    docs = load(spark, sf_dir, "documents").select("doc_id").repartition(spread_width(32), "doc_id")
    return docs.mapInPandas(
        _wav_decode_batches,
        schema="doc_id long, sample_rate long, n_samples long,"
        " mean_amp double, sum_abs long",
    )


@register(
    "multimodal_features",
    oracle="""
    SELECT doc_id, 'text/plain' AS mime, CAST(strlen(text) AS BIGINT) AS n_bytes
    FROM documents
    """,
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Binary payload -> mapInPandas feature extraction (stubbed decode).
    # The oracle checks the metadata plumbing (byte lengths); the fake
    # feature vector itself is asserted in tests/test_tolerance.py.
    docs = load(spark, sf_dir, "documents")
    bin_df = attach_binary(docs).select(
        "doc_id", "payload", F.col("meta.mime").alias("mime")
    )
    feats = bin_df.mapInPandas(_extract_batches, schema=FEATURE_SCHEMA)
    return feats.select("doc_id", "mime", "n_bytes")


def _ahash_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Average-hash per image, computed from the REAL decoded PPM bytes
    (not the synthesis formula): bit i = (64 * t_i > sum(t)) with
    t_i = r+g+b of pixel i — all-integer arithmetic, so the threshold
    has no float boundary to diverge on."""
    for pdf in batches:
        out = {"doc_id": [], "ahash": []}
        for doc_id in pdf["doc_id"]:
            payload = synth_ppm(int(doc_id))
            w, h, px = decode_ppm(payload)
            t = [px[3 * i] + px[3 * i + 1] + px[3 * i + 2] for i in range(w * h)]
            s = sum(t)
            bits = "".join("1" if 64 * ti > s else "0" for ti in t)
            out["doc_id"].append(doc_id)
            out["ahash"].append(bits)
        yield pd.DataFrame(out)


# Oracle lives with the registration in operators/__init__.py (like
# map_in_arrow). Historical note: late registration originally kept a
# r4 addition from shifting the driver's first-50 window; since then
# the window is pinned EXPLICITLY by _ROTATION_FRONT in
# operators/__init__.py, so registration order no longer matters for
# the gate — the split registration just remains where it landed.
PHASH_DEDUP_ORACLE = """
    WITH t AS (
        SELECT doc_id,
               [ (doc_id * 31 + i) % 256
                 + (doc_id * 31 + i + 85) % 256
                 + (doc_id * 31 + i + 170) % 256
                 for i in range(0, 64) ] AS tv
        FROM documents),
    h AS (
        SELECT doc_id,
               list_reduce(list_transform(tv, x ->
                   CASE WHEN 64 * x > list_sum(tv) THEN '1' ELSE '0' END),
                   (a, b) -> a || b) AS ahash
        FROM t)
    SELECT ahash,
           CAST(count(*) AS BIGINT) AS n_images,
           min(doc_id) AS cluster_id
    FROM h GROUP BY ahash
    """


def multimodal_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash (average-hash) image dedup: the Spark side
    DECODES the actual PPM payload bytes (mapInPandas over the real
    dependency-free codec) and hashes the decoded pixels; the oracle
    recomputes the hash independently from the synthesis arithmetic —
    so a byte-level decode bug and a hash bug are both caught. The
    8x8 aHash is the cheap first pass of image dedup pipelines
    (Hamming-banded pHash is the documented upgrade — the SimHash
    pigeonhole machinery in llm.py applies unchanged to these 64-bit
    signatures). One Arrow-batched decode pass, one shuffle on the
    hash. doc_id deltas of 256 collide by construction (31 is
    invertible mod 256), so clusters are non-vacuous at every SF."""
    # repartition before the Python decode: the fixture parquet is a
    # single row group, so without it every per-doc decode+hash runs in
    # ONE task (same measured bottleneck the decode siblings fixed).
    docs = load(spark, sf_dir, "documents").select("doc_id").repartition(spread_width(32), "doc_id")
    hashed = docs.mapInPandas(_ahash_batches, schema="doc_id long, ahash string")
    return hashed.groupBy("ahash").agg(
        F.count(F.lit(1)).alias("n_images"),
        F.min("doc_id").alias("cluster_id"),
    )


def resize_ppm_nearest(payload: bytes, out_w: int, out_h: int) -> bytes:
    """REAL nearest-neighbor resize over a decoded PPM: sample the
    source pixel grid at the mapped coordinates and re-encode. No codec
    library needed — this is the one raster format the container lets
    us process end-to-end for real (decode -> pixel math -> encode)."""
    w, h, px = decode_ppm(payload)
    out = bytearray()
    for y in range(out_h):
        sy = (y * h) // out_h
        for x in range(out_w):
            sx = (x * w) // out_w
            i = (sy * w + sx) * 3
            out += px[i : i + 3]
    return make_ppm(out_w, out_h, bytes(out))


def _ppm_resize_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        out = {"doc_id": [], "out_w": [], "out_h": [], "mean_r": [], "mean_g": [], "mean_b": []}
        for doc_id in pdf["doc_id"]:
            thumb = resize_ppm_nearest(synth_ppm(int(doc_id)), 4, 4)
            f = ppm_features(thumb)
            out["doc_id"].append(doc_id)
            out["out_w"].append(int(f[0]))
            out["out_h"].append(int(f[1]))
            out["mean_r"].append(f[2])
            out["mean_g"].append(f[3])
            out["mean_b"].append(f[4])
        yield pd.DataFrame(out)


@register(
    "multimodal_ppm_resize_real",
    oracle="""
    WITH xy AS (SELECT unnest(generate_series(0, 3)) AS x),
    grid AS (SELECT a.x AS x, b.x AS y FROM xy a CROSS JOIN xy b),
    px AS (
      SELECT d.doc_id, (g.y * 2 * 8 + g.x * 2) AS i
      FROM documents d CROSS JOIN grid g)
    SELECT doc_id, CAST(4 AS BIGINT) AS out_w, CAST(4 AS BIGINT) AS out_h,
           round(avg((doc_id * 31 + i) % 256), 6) AS mean_r,
           round(avg((doc_id * 31 + i + 85) % 256), 6) AS mean_g,
           round(avg((doc_id * 31 + i + 170) % 256), 6) AS mean_b
    FROM px GROUP BY doc_id
    """,
)
def multimodal_ppm_resize_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end REAL image resize (decode -> nearest-neighbor pixel
    sampling -> re-encode -> re-decode for verification), no stub
    anywhere: the 8x8 synthetic PPMs downsample to 4x4 thumbs whose
    channel means the SQL oracle recomputes from the pixel formula
    (thumb pixel (x,y) == source pixel (2x,2y)). This is the pixel-math
    twin of multimodal_resize (which pins the batching/size CONTRACT
    for codec formats the container cannot decode). Arrow-batched
    mapInPandas, constant memory per batch, one output row per image."""
    # doc_id only (the batch mapper synthesizes the PPM from the id —
    # attach_binary's payload was encoded and shipped through Arrow,
    # then never read), repartitioned so decodes parallelize.
    docs = load(spark, sf_dir, "documents").select("doc_id").repartition(spread_width(32), "doc_id")
    return docs.mapInPandas(
        _ppm_resize_batches,
        schema="doc_id long, out_w long, out_h long, mean_r double, mean_g double, mean_b double",
    )


# ----------------------------------------------------- real PNG codec ----
# PNG needs no codec library either: the container ships zlib (stdlib),
# and the rest of the format is chunk framing (length + type + CRC32)
# plus five per-scanline byte filters. Supporting 8-bit truecolor
# (color type 2, no interlace) end-to-end makes the SECOND real raster
# codec in this module — and unlike PPM, decoding it exercises
# DEFLATE + filter reconstruction (Sub/Up/Average/Paeth), i.e. the same
# decode work a production thumbnailer does per image.

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    import struct
    import zlib

    crc = zlib.crc32(ctype + data) & 0xFFFFFFFF
    return struct.pack(">I", len(data)) + ctype + data + struct.pack(">I", crc)


def _paeth(a: int, b: int, c: int) -> int:
    # PNG spec predictor: nearest of left/up/up-left to a+b-c, ties
    # broken left, then up.
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def make_png(width: int, height: int, pixels: bytes) -> bytes:
    """Encode raw RGB bytes (len == w*h*3) as a real 8-bit truecolor
    PNG. Each scanline uses filter type (row % 5), so every one of the
    five PNG filters appears in any image of >=5 rows — a decoder that
    botches Average or Paeth reconstruction cannot round-trip this."""
    import struct
    import zlib

    if len(pixels) != width * height * 3:
        raise ValueError(f"expected {width * height * 3} bytes, got {len(pixels)}")
    stride = width * 3
    raw = bytearray()
    prior = bytes(stride)
    for y in range(height):
        line = pixels[y * stride : (y + 1) * stride]
        ftype = y % 5
        raw.append(ftype)
        for i in range(stride):
            x = line[i]
            a = line[i - 3] if i >= 3 else 0
            b = prior[i]
            c = prior[i - 3] if i >= 3 else 0
            if ftype == 0:
                f = x
            elif ftype == 1:
                f = x - a
            elif ftype == 2:
                f = x - b
            elif ftype == 3:
                f = x - (a + b) // 2
            else:
                f = x - _paeth(a, b, c)
            raw.append(f & 0xFF)
        prior = line
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _png_chunk(b"IEND", b"")
    )


def decode_png(payload: bytes) -> tuple[int, int, bytes]:
    """Parse an 8-bit truecolor PNG: returns (width, height, raw RGB
    bytes). Real decode — chunk framing with CRC verification, IDAT
    concatenation across chunks, zlib inflate, and full five-filter
    scanline reconstruction. Interlace, palettes, alpha, and non-8-bit
    depths are out of scope and raise."""
    import struct
    import zlib

    if payload[:8] != _PNG_SIG:
        raise ValueError("not a PNG (bad signature)")
    pos = 8
    width = height = None
    idat = bytearray()
    while pos < len(payload):
        if pos + 8 > len(payload):
            raise ValueError("truncated chunk header")
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        if len(data) != length or pos + 12 + length > len(payload):
            raise ValueError("truncated chunk data")
        (crc,) = struct.unpack(">I", payload[pos + 8 + length : pos + 12 + length])
        if zlib.crc32(ctype + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"CRC mismatch in {ctype!r} chunk")
        if ctype == b"IHDR":
            width, height, depth, ctype_col, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", data
            )
            if (depth, ctype_col, comp, filt, interlace) != (8, 2, 0, 0, 0):
                raise ValueError(
                    "only 8-bit truecolor non-interlaced PNG supported, got "
                    f"depth={depth} color={ctype_col} interlace={interlace}"
                )
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
        pos += 12 + length
    if width is None:
        raise ValueError("missing IHDR")
    stride = width * 3
    raw = zlib.decompress(bytes(idat))
    if len(raw) != height * (stride + 1):
        raise ValueError("decompressed size mismatch")
    out = bytearray()
    prior = bytes(stride)
    for y in range(height):
        row = raw[y * (stride + 1) : (y + 1) * (stride + 1)]
        ftype = row[0]
        line = bytearray(stride)
        for i in range(stride):
            f = row[1 + i]
            a = line[i - 3] if i >= 3 else 0
            b = prior[i]
            c = prior[i - 3] if i >= 3 else 0
            if ftype == 0:
                x = f
            elif ftype == 1:
                x = f + a
            elif ftype == 2:
                x = f + b
            elif ftype == 3:
                x = f + (a + b) // 2
            elif ftype == 4:
                x = f + _paeth(a, b, c)
            else:
                raise ValueError(f"bad filter type {ftype} on row {y}")
            line[i] = x & 0xFF
        out += line
        prior = bytes(line)
    return width, height, bytes(out)


def _png_decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        out = {"doc_id": [], "width": [], "height": [], "mean_r": [], "mean_g": [], "mean_b": []}
        for doc_id in pdf["doc_id"]:
            d = int(doc_id)
            px = bytes(
                (d * 31 + i + c * 85) % 256 for i in range(64) for c in range(3)
            )
            w, h, decoded = decode_png(make_png(8, 8, px))
            n = w * h
            out["doc_id"].append(doc_id)
            out["width"].append(w)
            out["height"].append(h)
            for ch, col in enumerate(("mean_r", "mean_g", "mean_b")):
                out[col].append(round(sum(decoded[ch::3]) / n, 6))
        yield pd.DataFrame(out)


@register(
    "multimodal_png_decode",
    oracle="""
    SELECT d.doc_id,
           CAST(8 AS BIGINT) AS width, CAST(8 AS BIGINT) AS height,
           round(avg((d.doc_id * 31 + i.range) % 256), 6) AS mean_r,
           round(avg((d.doc_id * 31 + i.range + 85) % 256), 6) AS mean_g,
           round(avg((d.doc_id * 31 + i.range + 170) % 256), 6) AS mean_b
    FROM documents d, range(64) i
    GROUP BY d.doc_id
    """,
)
def multimodal_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    # REAL PNG decode path, zero codec libraries: synthesize an 8x8
    # truecolor PNG per doc (same deterministic pixel formula as the PPM
    # twin, but the encoder filters every scanline — rows cycle through
    # all five PNG filter types — and DEFLATEs the result), then decode
    # it back through chunk/CRC parsing, inflate, and filter
    # reconstruction. The oracle recomputes the channel means from the
    # pixel arithmetic, so a Paeth/Average reconstruction bug or a
    # stride off-by-one is a value mismatch, not a silent pass. Same
    # Arrow-batched mapInPandas shape as the other decoders; repartition
    # because the fixture parquet is a single row group (one task would
    # serialize all decodes).
    docs = load(spark, sf_dir, "documents").select("doc_id").repartition(spread_width(32), "doc_id")
    return docs.mapInPandas(
        _png_decode_batches,
        schema="doc_id long, width long, height long,"
        " mean_r double, mean_g double, mean_b double",
    )


# ---------------------------------------------------- real JPEG codec ----
# Baseline JPEG (operators/jpeg.py: standard Annex K tables, 4:4:4
# MCUs, Huffman/RLE entropy coding, orthonormal DCT) — the repo's
# third raster codec and its first LOSSY one. The key's fixture image
# is built from FLAT 8x8 blocks, where every AC coefficient is zero
# and the decode result reduces to the integer DC round-trip
#     v_out = min(255, 2 * floor((v_in - 127) / 2) + 128)
# (luma q00 = 16 makes the dequantized DC a multiple of 8, so the
# IDCT emits exact integers; gray input pins the chroma channels at
# 128). That closed form is what the DuckDB oracle recomputes — a
# Huffman mis-decode, zigzag slip, quant-table swap, or DC-diff bug
# shifts v_out and fails the value compare. The codec's general path
# (all 64 coefficients, RLE/ZRL, byte stuffing) is exercised by
# tests/test_jpeg_codec.py round-trips; entropy coding is asserted
# bit-lossless there (full codec == quantization-only simulation).


def synth_gray_blocks(doc_id: int) -> tuple[bytes, list[int]]:
    """16x16 gray RGB image of four flat 8x8 blocks; block b's level
    is (doc_id*31 + b*17) % 256 — same deterministic-from-doc_id
    convention as synth_ppm."""
    vals = [(doc_id * 31 + b * 17) % 256 for b in range(4)]
    px = bytearray()
    for y in range(16):
        for x in range(16):
            v = vals[(y // 8) * 2 + (x // 8)]
            px += bytes((v, v, v))
    return bytes(px), vals


def _jpeg_decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from basis_spark.operators.jpeg import decode_jpeg, make_jpeg

    for pdf in batches:
        out = {"doc_id": [], "block_id": [], "v_in": [], "v_out": []}
        for doc_id in pdf["doc_id"]:
            px, vals = synth_gray_blocks(int(doc_id))
            w, h, rgb = decode_jpeg(make_jpeg(16, 16, px))
            assert (w, h) == (16, 16)
            for b in range(4):
                y0, x0 = (b // 2) * 8, (b % 2) * 8
                # all 64 pixels of a flat block decode identically;
                # read the R channel of the block's top-left pixel
                v_out = rgb[(y0 * 16 + x0) * 3]
                out["doc_id"].append(doc_id)
                out["block_id"].append(b)
                out["v_in"].append(vals[b])
                out["v_out"].append(int(v_out))
        yield pd.DataFrame(out)


@register(
    "multimodal_jpeg_decode",
    oracle="""
    SELECT d.doc_id, CAST(i.range AS BIGINT) AS block_id,
           CAST((d.doc_id * 31 + i.range * 17) % 256 AS BIGINT) AS v_in,
           CAST(LEAST(255, 2 * floor(
               (((d.doc_id * 31 + i.range * 17) % 256) - 127) / 2.0
           ) + 128) AS BIGINT) AS v_out
    FROM documents d, range(4) i
    """,
)
def multimodal_jpeg_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    # REAL lossy JPEG decode path, zero codec libraries: per doc,
    # encode the 4-flat-block gray fixture to a genuine baseline JPEG
    # (DQT/SOF0/DHT/SOS markers, stuffed Huffman bitstream) and decode
    # it back; emit one row per 8x8 block with the input level and the
    # decoded level. The oracle's closed form (see module comment) is
    # EXACT — lossy compression with a lossless oracle, because flat
    # blocks quantize only in DC. Arrow-batched mapInPandas, same
    # contract as the PNG/PPM/WAV decode keys; repartition because the
    # fixture parquet is a single row group.
    docs = load(spark, sf_dir, "documents").select("doc_id").repartition(spread_width(32), "doc_id")
    return docs.mapInPandas(
        _jpeg_decode_batches,
        schema="doc_id long, block_id long, v_in long, v_out long",
    )


# ----------------------------------------------------- real BMP codec ----
# Windows BMP, 24bpp uncompressed (BITMAPFILEHEADER + 40-byte
# BITMAPINFOHEADER): the simplest real raster container, but the two
# details every hand-rolled reader gets wrong are load-bearing here —
# rows are stored BOTTOM-UP and padded to 4-byte boundaries, and
# channels are BGR, not RGB. The fixture is 7x5 (odd width, so the
# 3-byte row pad is actually exercised); a top/bottom flip, B/R swap,
# or pad slip changes the per-channel means and fails the oracle.


def make_bmp(width: int, height: int, rgb: bytes) -> bytes:
    """Encode RGB24 pixels (row-major, top-down) as a 24bpp BMP."""
    import struct

    row_raw = width * 3
    pad = (4 - row_raw % 4) % 4
    img_size = (row_raw + pad) * height
    off = 14 + 40
    out = bytearray()
    out += struct.pack("<2sIHHI", b"BM", off + img_size, 0, 0, off)
    out += struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, img_size, 2835, 2835, 0, 0
    )
    for y in range(height - 1, -1, -1):  # bottom-up
        for x in range(width):
            i = (y * width + x) * 3
            out += bytes((rgb[i + 2], rgb[i + 1], rgb[i]))  # BGR
        out += b"\x00" * pad
    return bytes(out)


def decode_bmp(data: bytes) -> tuple[int, int, bytes]:
    """Decode a 24bpp uncompressed BMP to (w, h, top-down RGB24)."""
    import struct

    if data[:2] != b"BM":
        raise ValueError("not a BMP")
    off = struct.unpack_from("<I", data, 10)[0]
    hsz, width, height = struct.unpack_from("<Iii", data, 14)
    planes, bpp, comp = struct.unpack_from("<HHI", data, 26)
    if hsz < 40 or bpp != 24 or comp != 0:
        raise ValueError(f"unsupported BMP (header={hsz} bpp={bpp} comp={comp})")
    flipped = height > 0
    height = abs(height)
    row_raw = width * 3
    pad = (4 - row_raw % 4) % 4
    px = bytearray(width * height * 3)
    p = off
    rows = range(height - 1, -1, -1) if flipped else range(height)
    for y in rows:
        for x in range(width):
            b, g, r = data[p], data[p + 1], data[p + 2]
            i = (y * width + x) * 3
            px[i], px[i + 1], px[i + 2] = r, g, b
            p += 3
        p += pad
    return width, height, bytes(px)


def _bmp_decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        out = {
            "doc_id": [], "width": [], "height": [],
            "mean_r": [], "mean_g": [], "mean_b": [], "first_px_lum": [],
        }
        for doc_id in pdf["doc_id"]:
            d = int(doc_id)
            rgb = bytes(
                (d * 31 + i + c * 85) % 256 for i in range(35) for c in range(3)
            )
            w, h, decoded = decode_bmp(make_bmp(7, 5, rgb))
            n = w * h
            out["doc_id"].append(doc_id)
            out["width"].append(w)
            out["height"].append(h)
            for ch, col in enumerate(("mean_r", "mean_g", "mean_b")):
                out[col].append(round(sum(decoded[ch::3]) / n, 6))
            # pixel (0,0) luminance-ish checksum: catches a bottom-up
            # flip even when the means happen to match
            out["first_px_lum"].append(
                decoded[0] + decoded[1] * 256 + decoded[2] * 65536
            )
        yield pd.DataFrame(out)


@register(
    "multimodal_bmp_decode",
    oracle="""
    WITH px AS (
      SELECT d.doc_id, i.range AS i,
             (d.doc_id * 31 + i.range) % 256 AS r,
             (d.doc_id * 31 + i.range + 85) % 256 AS g,
             (d.doc_id * 31 + i.range + 170) % 256 AS b
      FROM documents d, range(35) i)
    SELECT doc_id,
           CAST(7 AS BIGINT) AS width, CAST(5 AS BIGINT) AS height,
           round(avg(r), 6) AS mean_r,
           round(avg(g), 6) AS mean_g,
           round(avg(b), 6) AS mean_b,
           CAST(max(CASE WHEN i = 0 THEN r + g * 256 + b * 65536 END)
                AS BIGINT) AS first_px_lum
    FROM px GROUP BY doc_id
    """,
)
def multimodal_bmp_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    # REAL BMP decode path, zero codec libraries: synthesize a 7x5
    # truecolor BMP per doc (odd width — the 4-byte row pad is live),
    # encode bottom-up BGR, decode back to top-down RGB, emit channel
    # means plus a pixel-(0,0) checksum that catches a row-flip bug the
    # means alone cannot see. Oracle recomputes from the pixel formula.
    # Arrow-batched mapInPandas; repartition because the fixture
    # parquet is a single row group.
    docs = load(spark, sf_dir, "documents").select("doc_id").repartition(spread_width(32), "doc_id")
    return docs.mapInPandas(
        _bmp_decode_batches,
        schema="doc_id long, width long, height long,"
        " mean_r double, mean_g double, mean_b double, first_px_lum long",
    )


def _gif_decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from basis_spark.operators.gif import decode_gif, make_gif

    for pdf in batches:
        out = {
            "doc_id": [], "width": [], "height": [],
            "mean_gray": [], "gray_sum": [], "first_px": [],
        }
        for doc_id in pdf["doc_id"]:
            d = int(doc_id)
            px = bytes((d * 31 + i * 7) % 256 for i in range(64))
            w, h, decoded = decode_gif(make_gif(8, 8, px))
            out["doc_id"].append(doc_id)
            out["width"].append(w)
            out["height"].append(h)
            out["mean_gray"].append(round(sum(decoded) / (w * h), 6))
            out["gray_sum"].append(sum(decoded))
            out["first_px"].append(decoded[0])
        yield pd.DataFrame(out)


@register(
    "multimodal_gif_decode",
    oracle="""
    SELECT d.doc_id,
           CAST(8 AS BIGINT) AS width, CAST(8 AS BIGINT) AS height,
           round(avg((d.doc_id * 31 + i.range * 7) % 256), 6) AS mean_gray,
           CAST(sum((d.doc_id * 31 + i.range * 7) % 256) AS BIGINT)
               AS gray_sum,
           CAST(max(CASE WHEN i.range = 0
                         THEN (d.doc_id * 31) % 256 END) AS BIGINT) AS first_px
    FROM documents d, range(64) i
    GROUP BY d.doc_id
    """,
)
def multimodal_gif_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    # REAL GIF87a decode path, zero codec libraries (operators/gif.py):
    # synthesize an 8x8 grayscale GIF per doc — a genuine LZW bitstream
    # with code-width growth and sub-block framing — and decode it back
    # through palette + LZW. The oracle recomputes mean/sum/first-pixel
    # from the fixture formula, so a dictionary slip or width-growth
    # off-by-one fails the value compare (LZW is lossless; the compare
    # is exact integers). Arrow-batched mapInPandas like the other
    # decoders; repartition because the fixture parquet is one row group.
    docs = load(spark, sf_dir, "documents").select("doc_id").repartition(spread_width(32), "doc_id")
    return docs.mapInPandas(
        _gif_decode_batches,
        schema="doc_id long, width long, height long,"
        " mean_gray double, gray_sum long, first_px long",
    )


def _hist_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        counts: dict[int, int] = {}
        vsum: dict[int, int] = {}
        for doc_id in pdf["doc_id"]:
            w, h, px = decode_ppm(synth_ppm(int(doc_id)))
            for i in range(w * h):
                # integer luma (Rec.601-ish fixed point, exact in SQL):
                # (77 R + 150 G + 29 B) >> 8
                y = (77 * px[3 * i] + 150 * px[3 * i + 1] + 29 * px[3 * i + 2]) >> 8
                b = y // 16
                counts[b] = counts.get(b, 0) + 1
                vsum[b] = vsum.get(b, 0) + y
        yield pd.DataFrame(
            {
                "bin": sorted(counts),
                "n_px": [counts[b] for b in sorted(counts)],
                "luma_sum": [vsum[b] for b in sorted(counts)],
            }
        )


@register(
    "multimodal_image_histogram",
    oracle="""
    WITH px AS (
      SELECT ((77 * ((d.doc_id * 31 + i.range) % 256)
             + 150 * ((d.doc_id * 31 + i.range + 85) % 256)
             + 29 * ((d.doc_id * 31 + i.range + 170) % 256)) // 256) AS y
      FROM documents d, range(64) i)
    SELECT y // 16 AS bin,
           CAST(count(*) AS BIGINT) AS n_px,
           CAST(sum(y) AS BIGINT) AS luma_sum
    FROM px GROUP BY 1
    """,
)
def multimodal_image_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Corpus-wide luminance histogram over REAL PPM decodes — the
    # exposure/contrast profile a multimodal curation pipeline computes
    # before filtering (all-dark and blown-out shards show up as mass in
    # the edge bins). Luma is integer fixed-point ((77R+150G+29B)>>8) so
    # the oracle is exact integer arithmetic, no float weights. Each
    # task emits its PARTIAL 16-bin histogram from its Arrow batch and
    # the final groupBy combines them — a 16-row shuffle regardless of
    # corpus size, the canonical map-side-reduced histogram shape.
    docs = load(spark, sf_dir, "documents").select("doc_id").repartition(spread_width(32), "doc_id")
    part = docs.mapInPandas(
        _hist_batches, schema="bin long, n_px long, luma_sum long"
    )
    return part.groupBy("bin").agg(
        F.sum("n_px").alias("n_px"), F.sum("luma_sum").alias("luma_sum")
    )


def _wav_frame_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        out = {
            "doc_id": [], "frame": [], "rms": [],
            "zero_crossings": [], "peak": [],
        }
        for doc_id in pdf["doc_id"]:
            d = int(doc_id)
            _rate, _n, samples = decode_wav(
                make_wav(synth_wav_samples(d, n=256))
            )
            for f in range(4):
                seg = samples[f * 64 : (f + 1) * 64]
                sq = sum(s * s for s in seg)
                zc = sum(
                    1
                    for i in range(1, 64)
                    if (seg[i - 1] < 0) != (seg[i] < 0)
                )
                out["doc_id"].append(doc_id)
                out["frame"].append(f)
                out["rms"].append(round((sq / 64.0) ** 0.5, 6))
                out["zero_crossings"].append(zc)
                out["peak"].append(max(abs(s) for s in seg))
        yield pd.DataFrame(out)


@register(
    "multimodal_audio_rms_frames",
    oracle="""
    WITH s AS (
      SELECT d.doc_id, k.range AS k,
             ((d.doc_id * 37 + k.range * 11) % 2001) - 1000 AS amp
      FROM documents d, range(256) k),
    lagged AS (
      SELECT doc_id, k // 64 AS frame, amp,
             lag(amp) OVER (PARTITION BY doc_id, k // 64 ORDER BY k)
                 AS prev_amp
      FROM s)
    SELECT doc_id, CAST(frame AS BIGINT) AS frame,
           round(sqrt(sum(CAST(amp AS DOUBLE) * amp) / 64.0), 6) AS rms,
           CAST(sum(CASE WHEN prev_amp IS NOT NULL
                          AND (prev_amp < 0) <> (amp < 0)
                         THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings,
           CAST(max(abs(amp)) AS BIGINT) AS peak
    FROM lagged GROUP BY doc_id, frame
    """,
)
def multimodal_audio_rms_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Frame-level audio features over REAL WAV decodes: 256 PCM samples
    # per doc split into four 64-sample frames, each emitting RMS
    # energy, zero-crossing count, and peak amplitude — the windowed
    # stats every downstream audio featurizer (VAD, MFCC front end,
    # silence trimming) starts from, where multimodal_audio_decode
    # stops at whole-clip stats. The oracle recomputes all three from
    # the sample formula (zero crossings via lag() sign flips), so a
    # frame-boundary or endianness slip fails values, not just counts.
    # One-to-four fan-out inside the same Arrow batch — no extra
    # shuffle; frames inherit the doc's partition.
    docs = load(spark, sf_dir, "documents").select("doc_id").repartition(spread_width(32), "doc_id")
    return docs.mapInPandas(
        _wav_frame_batches,
        schema="doc_id long, frame long, rms double,"
        " zero_crossings long, peak long",
    )


def _tar_member_batches(tar_path: str):
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import tarfile

        for pdf in batches:
            out = {"member": [], "doc_id": [], "n_bytes": [], "byte_sum": []}
            with tarfile.open(tar_path, "r") as tf:
                names = set()
                for lo, hi in zip(pdf["lo"], pdf["hi"]):
                    names.update(
                        f"{d:06d}.txt" for d in range(int(lo), int(hi))
                    )
                for m in tf:
                    if m.name not in names:
                        continue
                    data = tf.extractfile(m).read()
                    out["member"].append(m.name)
                    out["doc_id"].append(int(m.name.split(".")[0]))
                    out["n_bytes"].append(len(data))
                    out["byte_sum"].append(sum(data))
            yield pd.DataFrame(out)

    return gen


@register(
    "multimodal_tar_shard_read",
    oracle="""
    SELECT doc_id,
           CAST(8 AS BIGINT) AS n_bytes,
           CAST(((doc_id * 31) % 256) + ((doc_id * 31 + 7) % 256)
                + ((doc_id * 31 + 14) % 256) + ((doc_id * 31 + 21) % 256)
                + ((doc_id * 31 + 28) % 256) + ((doc_id * 31 + 35) % 256)
                + ((doc_id * 31 + 42) % 256) + ((doc_id * 31 + 49) % 256)
                AS BIGINT) AS byte_sum
    FROM documents WHERE doc_id < 200
    """,
)
def multimodal_tar_shard_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    # REAL tar-shard read (the WebDataset container): build one tar of
    # 200 members once per session (stdlib tarfile, deterministic
    # 8-byte payloads from the doc_id formula), then each task opens
    # the shard and extracts ONLY its assigned member range — the
    # seek-and-extract access pattern a dataloader uses against
    # .tar shards, driven here by an 8-way range split so the single
    # shard is read in parallel. Oracle recomputes byte sums from the
    # payload formula, so a header-offset or extraction bug fails
    # values. At 100 TB there are many shards: the same gen runs per
    # (shard, member-range) with binaryFile-listed paths.
    import io as _io
    import os
    import tarfile as _tarfile

    from basis_spark.io import scratch_dir

    shard = os.path.join(
        scratch_dir("tar_shards"),
        f"shard_{spark.sparkContext.applicationId}.tar",
    )
    if not os.path.exists(shard):
        tmp = shard + f".tmp.{os.getpid()}"
        with _tarfile.open(tmp, "w") as tf:
            for d in range(200):
                payload = bytes((d * 31 + i * 7) % 256 for i in range(8))
                info = _tarfile.TarInfo(name=f"{d:06d}.txt")
                info.size = len(payload)
                tf.addfile(info, _io.BytesIO(payload))
        os.replace(tmp, shard)
    ranges = spark.range(0, 200, 25).select(
        F.col("id").alias("lo"), (F.col("id") + 25).alias("hi")
    )
    out = ranges.mapInPandas(
        _tar_member_batches(shard),
        schema="member string, doc_id long, n_bytes long, byte_sum long",
    )
    return out.select("doc_id", "n_bytes", "byte_sum")


def _tar_write_batches(out_dir: str):
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io as _io
        import os as _os
        import tarfile as _tarfile
        import uuid as _uuid

        for pdf in batches:
            if len(pdf) == 0:
                continue
            _os.makedirs(out_dir, exist_ok=True)
            by_shard: dict[int, list[tuple[int, bytes]]] = {}
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                payload = bytes((d * 31 + i * 7) % 256 for i in range(8))
                by_shard.setdefault(d % 4, []).append((d, payload))
            out = {"shard_id": [], "n_members": [], "tar_bytes": [],
                   "payload_bytes": []}
            for shard_id, members in sorted(by_shard.items()):
                tmp = _os.path.join(
                    out_dir, f".tmp-{_uuid.uuid4().hex}.tar"
                )
                with _tarfile.open(tmp, "w") as tf:
                    for d, payload in sorted(members):
                        info = _tarfile.TarInfo(name=f"{d:06d}.bin")
                        info.size = len(payload)
                        tf.addfile(info, _io.BytesIO(payload))
                final = _os.path.join(
                    out_dir,
                    f"shard-{shard_id:02d}-{_uuid.uuid4().hex[:8]}.tar",
                )
                _os.replace(tmp, final)
                out["shard_id"].append(shard_id)
                out["n_members"].append(len(members))
                out["tar_bytes"].append(_os.path.getsize(final))
                out["payload_bytes"].append(
                    sum(len(p) for _, p in members)
                )
            yield pd.DataFrame(out)

    return gen


@register(
    "multimodal_tar_shard_write",
    oracle="""
    WITH m AS (
      SELECT doc_id % 4 AS shard_id, doc_id
      FROM documents WHERE doc_id < 120)
    SELECT shard_id,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(ceil((count(*) * 1024 + 1024) / 10240.0) * 10240
                AS BIGINT) AS tar_bytes,
           CAST(count(*) * 8 AS BIGINT) AS payload_bytes
    FROM m GROUP BY shard_id
    """,
)
def multimodal_tar_shard_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    # WRITE side of the WebDataset tar-shard contract (the read side is
    # multimodal_tar_shard_read): each task packs ITS partition's
    # samples into real tar archives, one per shard routed by key hash,
    # written atomically (tmp + rename). The oracle pins the tar FORMAT
    # arithmetic exactly: every member costs one 512-byte header plus
    # its payload rounded up to a 512 block (8-byte payloads -> 1024
    # bytes per member), plus the 1024-byte end-of-archive marker, all
    # padded to the 10240-byte record size (blocking factor 20) — so a
    # header-size or padding regression fails values, not vibes.
    # Each shard's tar is written by exactly one task (partition ==
    # shard routing), which is what makes parallel shard writes safe
    # with no coordination; at fleet scale this is
    # repartition(shard_id) + this generator, the standard recipe.
    import os

    out_dir = os.path.join(
        scratch_dir("tar_write"),
        f"{os.path.basename(sf_dir.rstrip('/'))}_"
        f"{spark.sparkContext.applicationId}",
    )
    docs = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 120)
        .select("doc_id", (F.col("doc_id") % 4).alias("shard_id"))
        .repartition(4, "shard_id")
    )
    part = docs.mapInPandas(
        _tar_write_batches(out_dir),
        schema="shard_id long, n_members long, tar_bytes long,"
        " payload_bytes long",
    )
    return part.groupBy("shard_id").agg(
        F.sum("n_members").alias("n_members"),
        F.sum("tar_bytes").alias("tar_bytes"),
        F.sum("payload_bytes").alias("payload_bytes"),
    )


def _wav_downsample_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Decode -> decimate-by-2 (floor pair mean) -> RE-ENCODE -> decode
    again: the re-encode round-trip is asserted inside the batch so a
    codec regression fails the job, not just a statistic."""
    for pdf in batches:
        out = {
            "doc_id": [], "sample_rate": [], "n_samples": [],
            "mean_amp": [], "sum_abs": [],
        }
        for doc_id in pdf["doc_id"]:
            _, _, s = decode_wav(make_wav(synth_wav_samples(int(doc_id))))
            down = [(s[2 * k] + s[2 * k + 1]) // 2 for k in range(len(s) // 2)]
            rate2, n2, got = decode_wav(make_wav(down, rate=4000))
            if got != down or (rate2, n2) != (4000, len(down)):
                raise ValueError(f"downsample round-trip failed for doc {doc_id}")
            out["doc_id"].append(doc_id)
            out["sample_rate"].append(rate2)
            out["n_samples"].append(n2)
            out["mean_amp"].append(round(sum(down) / n2, 6))
            out["sum_abs"].append(int(sum(abs(x) for x in down)))
        yield pd.DataFrame(out)


@register(
    "multimodal_wav_downsample",
    oracle="""
    WITH s AS (
      SELECT d.doc_id, i.range AS k,
             ((d.doc_id * 37 + (2 * i.range) * 11) % 2001) - 1000 AS a,
             ((d.doc_id * 37 + (2 * i.range + 1) * 11) % 2001) - 1000 AS b
      FROM documents d, range(32) i)
    SELECT doc_id,
           CAST(4000 AS BIGINT) AS sample_rate,
           CAST(32 AS BIGINT) AS n_samples,
           round(avg(CAST(floor((a + b) / 2.0) AS BIGINT)), 6) AS mean_amp,
           CAST(sum(abs(CAST(floor((a + b) / 2.0) AS BIGINT))) AS BIGINT)
               AS sum_abs
    FROM s GROUP BY doc_id
    """,
)
def multimodal_wav_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio decimation through the REAL codec path: decode each doc's
    synthesized PCM WAV, halve the sample rate by floor-averaging
    adjacent sample pairs (the boxcar anti-alias decimator), re-encode
    to a 4 kHz WAV, decode THAT, and report the downsampled stats —
    so the oracle-checked numbers have passed through two encodes and
    two decodes of the real byte-level codec, not a shortcut list.

    Arrow-batched mapInPandas over doc ids (the multimodal_audio_decode
    shape); the oracle recomputes the decimated signal from the synth
    arithmetic. floor((a+b)/2) is pinned explicitly on both engines
    (Python // is floor; SQL floor() over the exact 2.0 division)."""
    docs = load(spark, sf_dir, "documents").select("doc_id")
    return docs.mapInPandas(
        _wav_downsample_batches,
        "doc_id long, sample_rate long, n_samples long,"
        " mean_amp double, sum_abs long",
    )


def _tile_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        out = {
            "doc_id": [], "tile_row": [], "tile_col": [],
            "luma_sum": [], "luma_min": [], "luma_max": [],
        }
        for doc_id in pdf["doc_id"]:
            w, h, px = decode_ppm(synth_ppm(int(doc_id)))
            tiles: dict[tuple[int, int], list[int]] = {}
            for i in range(w * h):
                y = (77 * px[3 * i] + 150 * px[3 * i + 1] + 29 * px[3 * i + 2]) >> 8
                tiles.setdefault((i // w // 4, (i % w) // 4), []).append(y)
            for (tr, tc), ys in sorted(tiles.items()):
                out["doc_id"].append(doc_id)
                out["tile_row"].append(tr)
                out["tile_col"].append(tc)
                out["luma_sum"].append(sum(ys))
                out["luma_min"].append(min(ys))
                out["luma_max"].append(max(ys))
        yield pd.DataFrame(out)


@register(
    "multimodal_image_tile_stats",
    oracle="""
    WITH px AS (
      SELECT d.doc_id,
             (i.range // 8) // 4 AS tile_row,
             (i.range % 8) // 4 AS tile_col,
             ((77 * ((d.doc_id * 31 + i.range) % 256)
             + 150 * ((d.doc_id * 31 + i.range + 85) % 256)
             + 29 * ((d.doc_id * 31 + i.range + 170) % 256)) // 256) AS y
      FROM documents d, range(64) i)
    SELECT doc_id, CAST(tile_row AS BIGINT) AS tile_row,
           CAST(tile_col AS BIGINT) AS tile_col,
           CAST(sum(y) AS BIGINT) AS luma_sum,
           CAST(min(y) AS BIGINT) AS luma_min,
           CAST(max(y) AS BIGINT) AS luma_max
    FROM px GROUP BY 1, 2, 3
    """,
)
def multimodal_image_tile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Patch/tile feature extraction over REAL PPM decodes — the
    vision-transformer prep step: each 8x8 image splits into a 2x2
    grid of 4x4 tiles and every tile emits integer luma sum/min/max
    (per-tile exposure + contrast, the signals a multimodal curation
    pass thresholds to drop flat or blown-out patches before paying
    for embedding). Luma is the same exact fixed-point
    (77R+150G+29B)>>8 as the histogram key, so the oracle recomputes
    the decoder's output with pure integer SQL.

    Scale: mapInPandas over Arrow batches of doc ids; per-doc output
    is a CONSTANT 4 rows (tiles), so the stage is a bounded map-side
    expansion with no shuffle at all — grouping happens inside the
    UDF per image, never across images."""
    docs = load(spark, sf_dir, "documents").select("doc_id").repartition(spread_width(32), "doc_id")
    return docs.mapInPandas(
        _tile_batches,
        schema="doc_id long, tile_row long, tile_col long,"
        " luma_sum long, luma_min long, luma_max long",
    )


_SILENCE_THR = 800  # |amplitude| >= THR counts as signal


def _trim_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        out = {
            "doc_id": [], "n_samples": [], "first_loud": [],
            "last_loud": [], "n_kept": [],
        }
        for doc_id in pdf["doc_id"]:
            _rate, n, samples = decode_wav(make_wav(synth_wav_samples(int(doc_id))))
            loud = [k for k, s in enumerate(samples) if abs(s) >= _SILENCE_THR]
            first = loud[0] if loud else -1
            last = loud[-1] if loud else -1
            out["doc_id"].append(doc_id)
            out["n_samples"].append(n)
            out["first_loud"].append(first)
            out["last_loud"].append(last)
            out["n_kept"].append(last - first + 1 if loud else 0)
        yield pd.DataFrame(out)


@register(
    "multimodal_audio_silence_trim",
    oracle=f"""
    WITH s AS (
      SELECT d.doc_id, k.range AS k,
             ((d.doc_id * 37 + k.range * 11) % 2001) - 1000 AS amp
      FROM documents d, range(64) k),
    loud AS (
      SELECT doc_id,
             min(CASE WHEN abs(amp) >= {_SILENCE_THR} THEN k END) AS first_loud,
             max(CASE WHEN abs(amp) >= {_SILENCE_THR} THEN k END) AS last_loud
      FROM s GROUP BY 1)
    SELECT doc_id, CAST(64 AS BIGINT) AS n_samples,
           CAST(coalesce(first_loud, -1) AS BIGINT) AS first_loud,
           CAST(coalesce(last_loud, -1) AS BIGINT) AS last_loud,
           CAST(CASE WHEN first_loud IS NULL THEN 0
                     ELSE last_loud - first_loud + 1 END AS BIGINT) AS n_kept
    FROM loud
    """,
)
def multimodal_audio_silence_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leading/trailing silence trim over REAL PCM WAV decodes — the
    first preprocessing step of every speech pipeline (silence carries
    no training signal but costs the same bytes/compute): per clip,
    the first and last samples whose |amplitude| clears the threshold
    and the span kept after trimming. Runs on the same decode path as
    the RMS-frames key; the oracle replays the synthetic generator's
    pure integer arithmetic, so a decoder regression (wrong
    endianness, off-by-one sample) flips first/last indices and
    hash-fails.

    Scale: mapInPandas over Arrow doc batches, one output row per
    clip, no shuffle; at 100 TB this is the same embarrassingly
    parallel decode-and-summarize pass as every multimodal key."""
    docs = load(spark, sf_dir, "documents").select("doc_id").repartition(spread_width(32), "doc_id")
    return docs.mapInPandas(
        _trim_batches,
        schema="doc_id long, n_samples long, first_loud long,"
        " last_loud long, n_kept long",
    )
