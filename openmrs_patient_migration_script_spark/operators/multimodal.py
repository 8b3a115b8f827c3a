"""Multimodal column plumbing (builder-brief extension): image/audio/video
as opaque ``binary`` columns with typed metadata, processed by Arrow-batched
Pandas UDFs over ``mapInPandas``.

What is REAL here — and tested: the schema contract (binary payload +
typed metadata), the ``mapInPandas`` signature (iterator of pandas
batches in, iterator out, so one task never materializes its whole
partition), row-explosion (frame sampling yields multiple output rows per
input row), and the partitioning story (media rows are processed where
they sit; no shuffle is introduced by any transform in this module).

Codecs (r3, PNG r6): ``decode_media`` REALLY decodes the formats the
standard library + numpy can handle — RIFF/WAV PCM (8/16-bit),
uncompressed 24/32-bpp BMP, and 8-bit non-interlaced PNG (zlib inflate +
full scanline unfiltering incl. Paeth; gray/RGB/palette/alpha color
types) — and raises ``NotImplementedError`` naming the format for
containers that genuinely need codec libraries (JPEG/MP3/MP4; PIL,
librosa and ffmpeg are not in this environment). The DECLARED queries
keep :func:`fake_decode` — a DETERMINISTIC fake deriving "decoded"
properties from the md5 of the payload bytes — because md5 is pure SQL,
which makes the Pandas-UDF path hash-checkable against the DuckDB
oracle. Every extractor takes ``decoder=``: pass ``decode_media`` for
real payloads; the Spark plan is identical either way (tested both ways
in tests/test_multimodal.py).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)


def decode_media(content: bytes, media_type: str = "") -> dict:
    """The real decode hook — the single swap-in point for codecs.

    Formats decodable with the standard library + numpy are REAL (r3;
    PNG r6):
    - WAV / RIFF PCM (8/16-bit) via the stdlib ``wave`` module:
      sample_rate, n_channels, n_samples, duration_s, rms_db;
    - uncompressed 24/32-bpp BMP via header parsing: width, height,
      mean_intensity;
    - 8-bit non-interlaced PNG (gray/RGB/palette/gray-alpha/RGBA) via
      chunk walk + zlib inflate + scanline unfiltering (_png_pixels):
      width, height, mean_intensity.
    Container formats that genuinely need codec libraries (JPEG,
    MP3, MP4 — PIL/librosa/ffmpeg are not installed here) still raise
    ``NotImplementedError`` with the format named. Detection prefers
    magic bytes over the declared ``media_type`` so a mislabeled payload
    fails loud instead of mis-decoding.
    """
    if content[:4] == b"RIFF" and content[8:12] == b"WAVE":
        return _decode_wav(content)
    if content[:2] == b"BM":
        return _decode_bmp(content)
    if content[:8] == _PNG_SIG:
        return _decode_png(content)
    raise NotImplementedError(
        f"no stdlib decoder for this payload (media_type={media_type!r}, "
        f"magic={content[:4]!r}); JPEG/MP3/MP4 need PIL/librosa/ffmpeg, "
        "which are not available in this environment"
    )


def _decode_wav(content: bytes) -> dict:
    import io
    import math
    import wave

    import numpy as np

    with wave.open(io.BytesIO(content)) as w:
        n_channels = w.getnchannels()
        sr = w.getframerate()
        n_frames = w.getnframes()
        sampwidth = w.getsampwidth()
        raw = w.readframes(n_frames)
    if sampwidth == 2:
        x = np.frombuffer(raw, dtype="<i2").astype(np.float64) / 32768.0
    elif sampwidth == 1:
        x = (np.frombuffer(raw, dtype=np.uint8).astype(np.float64) - 128.0) / 128.0
    else:
        raise NotImplementedError(f"{sampwidth * 8}-bit PCM WAV")
    rms = float(np.sqrt(np.mean(x * x))) if len(x) else 0.0
    return {
        "sample_rate": sr,
        "n_channels": n_channels,
        "n_samples": n_frames * n_channels,
        "duration_s": n_frames // sr if sr else 0,
        "rms_db": round(20.0 * math.log10(rms), 6) if rms > 0 else -120.0,
    }


def _decode_bmp(content: bytes) -> dict:
    px = _bmp_pixels(content)
    height, width = px.shape[:2]
    return {
        "width": width,
        "height": height,
        "mean_intensity": round(float(px.mean()) / 255.0, 6),
    }


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_pixels(content: bytes):
    """Decoded pixel array (H x W x C uint8, alpha stripped, palette
    resolved) of a PNG — REAL decode with the standard library alone:
    chunk walk → IHDR/PLTE/IDAT → zlib inflate → per-scanline
    unfiltering (all five filter types incl. Paeth, RFC 2083 §6).
    Supports 8-bit-depth, non-interlaced grayscale/RGB/palette/
    gray-alpha/RGBA; 16-bit depth and Adam7 interlacing raise
    ``NotImplementedError`` naming the limit (fail loud, never
    mis-decode)."""
    import zlib

    import numpy as np

    if content[:8] != _PNG_SIG:
        raise NotImplementedError("not a PNG payload")
    pos, idat, plte, hdr = 8, [], None, None
    while pos + 8 <= len(content):
        ln = int.from_bytes(content[pos: pos + 4], "big")
        ctype = content[pos + 4: pos + 8]
        data = content[pos + 8: pos + 8 + ln]
        pos += 12 + ln  # length + type + data + crc
        if ctype == b"IHDR":
            hdr = data
        elif ctype == b"PLTE":
            plte = data
        elif ctype == b"IDAT":
            idat.append(data)
        elif ctype == b"IEND":
            break
    if hdr is None or not idat:
        raise NotImplementedError("PNG missing IHDR/IDAT chunks")
    width = int.from_bytes(hdr[0:4], "big")
    height = int.from_bytes(hdr[4:8], "big")
    bit_depth, color_type, _comp, _filt, interlace = hdr[8:13]
    if bit_depth != 8 or interlace != 0:
        raise NotImplementedError(
            f"only 8-bit non-interlaced PNG (got bit_depth={bit_depth}, "
            f"interlace={interlace})"
        )
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(color_type)
    if channels is None:
        raise NotImplementedError(f"PNG color type {color_type}")
    raw = zlib.decompress(b"".join(idat))
    stride = width * channels
    if len(raw) != height * (stride + 1):
        raise NotImplementedError(
            f"PNG data length {len(raw)} != expected {height * (stride + 1)}"
        )
    out = np.empty((height, stride), dtype=np.int32)
    prev = np.zeros(stride, dtype=np.int32)
    bpp = channels  # bytes per pixel at depth 8
    p = 0
    for y in range(height):
        ftype = raw[p]
        cur = np.frombuffer(raw, np.uint8, stride, p + 1).astype(np.int32)
        p += 1 + stride
        if ftype == 0:
            pass
        elif ftype == 2:  # Up — whole-row vectorized
            cur = (cur + prev) & 0xFF
        elif ftype == 1:  # Sub — sequential on the left neighbor
            for i in range(bpp, stride):
                cur[i] = (cur[i] + cur[i - bpp]) & 0xFF
        elif ftype == 3:  # Average
            for i in range(stride):
                a = cur[i - bpp] if i >= bpp else 0
                cur[i] = (cur[i] + ((a + prev[i]) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for i in range(stride):
                a = int(cur[i - bpp]) if i >= bpp else 0
                b = int(prev[i])
                c = int(prev[i - bpp]) if i >= bpp else 0
                pp = a + b - c
                pa, pb, pc = abs(pp - a), abs(pp - b), abs(pp - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                cur[i] = (cur[i] + pred) & 0xFF
        else:
            raise NotImplementedError(f"PNG filter type {ftype}")
        out[y] = cur
        prev = cur
    px = out.astype(np.uint8).reshape(height, width, channels)
    if color_type == 3:  # palette indices → RGB triples
        if plte is None:
            raise NotImplementedError("palette PNG without PLTE chunk")
        pal = np.frombuffer(plte, np.uint8).reshape(-1, 3)
        return pal[px[:, :, 0]]
    if color_type == 4:  # gray + alpha → gray
        return px[:, :, :1]
    if color_type == 6:  # RGBA → RGB
        return px[:, :, :3]
    return px  # gray (H,W,1) or RGB (H,W,3)


def _decode_png(content: bytes) -> dict:
    px = _png_pixels(content)
    return {
        "width": int(px.shape[1]),
        "height": int(px.shape[0]),
        "mean_intensity": round(float(px.mean()) / 255.0, 6),
    }


def fake_decode(content: bytes) -> dict:
    """Deterministic stand-in for a codec: 'decoded' properties are pure
    functions of the payload's md5, so results are reproducible across
    runs, engines, and task retries."""
    h = hashlib.md5(content).hexdigest()
    return {
        "width": 16 + int(h[0:4], 16) % 512,
        "height": 16 + int(h[4:8], 16) % 512,
        "mean_intensity": round(int(h[8:12], 16) % 10000 / 10000.0, 6),
        "n_frames": 1 + int(h[12:14], 16) % 8,
        "duration_s": 1 + int(h[14:16], 16) % 300,
        "sample_rate": (8000, 16000, 22050, 44100)[int(h[16:18], 16) % 4],
        "n_channels": 1 + int(h[18:19], 16) % 2,
        "rms_db": round(-(int(h[19:23], 16) % 6000) / 100.0, 6),
    }


def make_media_table(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "text"
) -> DataFrame:
    """Build an opaque-binary media table from any source column (the
    harness has no binary fixture; UTF-8 text bytes stand in for an
    encoded image). Narrow projection — the binary column is born
    partitioned exactly like its source."""
    return df.select(
        F.col(id_col).alias("media_id"),
        F.encode(F.col(payload_col), "UTF-8").alias("content"),
        F.lit("image/fake").alias("media_type"),
        F.octet_length(F.encode(F.col(payload_col), "UTF-8")).alias("n_bytes"),
    )


_IMAGE_FEATURES_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("n_bytes", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("mean_intensity", DoubleType()),
    ]
)


def image_features(media: DataFrame, decoder=fake_decode) -> DataFrame:
    """Per-image feature extraction as an Arrow-batched ``mapInPandas``:
    the UDF sees an ITERATOR of record batches (bounded memory per task
    regardless of partition size) and yields one feature row per media
    row. No shuffle — features are computed where the bytes live.
    ``decoder`` defaults to the oracle-checkable fake; pass
    :func:`decode_media` for real payloads (WAV/BMP decode with stdlib,
    tested; codec-library formats raise)."""

    def extract(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            feats = [decoder(bytes(c)) for c in pdf["content"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "n_bytes": pdf["n_bytes"],
                    "width": [f["width"] for f in feats],
                    "height": [f["height"] for f in feats],
                    "mean_intensity": [f["mean_intensity"] for f in feats],
                }
            )

    return media.mapInPandas(extract, schema=_IMAGE_FEATURES_SCHEMA)


_FRAME_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("frame_index", IntegerType()),
        StructField("frame_ts_s", DoubleType()),
    ]
)


def frame_sample(media: DataFrame) -> DataFrame:
    """Video frame sampling as a row-exploding ``mapInPandas``: each media
    row yields n_frames output rows (evenly spaced timestamps across the
    'decoded' duration). The 1→N fan-out happens inside the task — the
    input is never duplicated through a shuffle."""

    def sample(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            ids, idxs, tss = [], [], []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                f = fake_decode(bytes(content))
                n, dur = f["n_frames"], f["duration_s"]
                for i in range(n):
                    ids.append(mid)
                    idxs.append(i)
                    tss.append(round(i * dur / n, 6))
            yield pd.DataFrame(
                {"media_id": ids, "frame_index": idxs, "frame_ts_s": tss}
            )

    return media.mapInPandas(sample, schema=_FRAME_SCHEMA)


_AUDIO_FEATURES_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("n_bytes", LongType()),
        StructField("sample_rate", IntegerType()),
        StructField("n_channels", IntegerType()),
        StructField("duration_s", IntegerType()),
        StructField("n_samples", LongType()),
        StructField("rms_db", DoubleType()),
    ]
)


def audio_features(media: DataFrame, decoder=fake_decode) -> DataFrame:
    """Per-clip audio feature extraction — same Arrow-batched
    ``mapInPandas`` contract as ``image_features`` (iterator in/out,
    bounded task memory, zero shuffle); a real path would swap
    librosa/ffmpeg into the decode call without changing the plan."""

    def extract(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            feats = [decoder(bytes(c)) for c in pdf["content"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "n_bytes": pdf["n_bytes"],
                    "sample_rate": [f["sample_rate"] for f in feats],
                    "n_channels": [f["n_channels"] for f in feats],
                    "duration_s": [f["duration_s"] for f in feats],
                    "n_samples": [
                        f.get(
                            "n_samples",
                            f["sample_rate"] * f["duration_s"] * f["n_channels"],
                        )
                        for f in feats
                    ],
                    "rms_db": [f["rms_db"] for f in feats],
                }
            )

    return media.mapInPandas(extract, schema=_AUDIO_FEATURES_SCHEMA)


# -- perceptual hashing (r4) -------------------------------------------------

_PHASH_SCHEMA = StructType(
    [StructField("media_id", LongType()), StructField("phash", LongType())]
)


def _bmp_pixels(content: bytes):
    """Decoded pixel array (H x W x 3 uint8, alpha dropped) of an
    uncompressed 24/32-bpp BMP — the one BMP header parse, which
    _decode_bmp summarizes."""
    import numpy as np

    data_offset = int.from_bytes(content[10:14], "little")
    width = int.from_bytes(content[18:22], "little", signed=True)
    height_raw = int.from_bytes(content[22:26], "little", signed=True)
    bpp = int.from_bytes(content[28:30], "little")
    compression = int.from_bytes(content[30:34], "little")
    if compression != 0 or bpp not in (24, 32):
        raise NotImplementedError(
            f"only uncompressed 24/32-bpp BMP (got bpp={bpp}, "
            f"compression={compression})"
        )
    height = abs(height_raw)
    bytes_pp = bpp // 8
    stride = ((width * bytes_pp + 3) // 4) * 4
    px = np.frombuffer(
        content, dtype=np.uint8, count=stride * height, offset=data_offset
    ).reshape(height, stride)[:, : width * bytes_pp]
    return px.reshape(height, width, bytes_pp)[:, :, :3]


def _image_pixels(content: bytes):
    """Magic-dispatched pixel decode: uncompressed BMP or (r6) real PNG
    — the shared entry for every pixel-level extractor."""
    if content[:2] == b"BM":
        return _bmp_pixels(content)
    if content[:8] == _PNG_SIG:
        return _png_pixels(content)
    raise NotImplementedError(
        f"no stdlib pixel decoder for magic={content[:4]!r}"
    )


def ahash_bmp(content: bytes, bits: int = 60) -> int:
    """REAL average-hash (aHash) of a BMP or PNG payload: grayscale →
    8x8 block means → bit b = block_b brighter than the global block
    mean. The standard perceptual fingerprint: stable under resizing,
    brightness jitter and small edits, so near-duplicate images land
    within a few bits. Uses the first ``bits`` of the 64 blocks
    (row-major) so the fingerprint drops straight into the 60-bit
    banded Hamming search. (Named for the first format it decoded;
    it dispatches on magic bytes.)"""
    import numpy as np

    g = _image_pixels(content).mean(axis=2)
    h, w = g.shape
    ys = np.linspace(0, h, 9).astype(int)
    xs = np.linspace(0, w, 9).astype(int)
    blocks = np.array(
        [
            [g[ys[i]: ys[i + 1], xs[j]: xs[j + 1]].mean() for j in range(8)]
            for i in range(8)
        ]
    )
    flat = blocks.flatten()[:bits]
    m = flat.mean()
    out = 0
    for b in flat > m:
        out = (out << 1) | int(b)
    return out


def fake_phash(content: bytes) -> int:
    """Content-addressed stand-in fingerprint: the first 60 bits of the
    payload md5. No perceptual structure (only byte-identical payloads
    collide), but pure SQL — which keeps the DECLARED pair-search query
    hash-checkable; the real aHash path is exercised on generated BMPs in
    tests."""
    return int(hashlib.md5(content).hexdigest()[:15], 16)


def image_phash(media: DataFrame, phash_fn=fake_phash) -> DataFrame:
    """Per-image perceptual fingerprint via Arrow-batched mapInPandas —
    (media_id, phash). Zero shuffles: hashes are computed where the bytes
    live; feed the result to operators/dedup.py::simhash_pairs for the
    banded Hamming near-dup search (the image twin of SimHash text
    dedup — same bucketed candidate generation, no all-pairs scan)."""

    def extract(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "phash": [phash_fn(bytes(c)) for c in pdf["content"]],
                }
            )

    return media.mapInPandas(extract, schema=_PHASH_SCHEMA)


def fake_frame_energies(content: bytes) -> list[float]:
    """Oracle-checkable stand-in for per-frame energy extraction: one
    frame per 'decoded' second (same duration rule as `fake_decode`),
    each frame's dB level a pure md5 function of (payload, frame index)
    — SQL replays it as ``md5(text || ':' || i)``."""
    h = hashlib.md5(content).hexdigest()
    n = 1 + int(h[14:16], 16) % 300
    out = []
    for i in range(n):
        hi = hashlib.md5(content + b":" + str(i).encode()).hexdigest()
        out.append(-(int(hi[0:4], 16) % 6000) / 100.0)
    return out


def fake_frame_energies_sql() -> str:
    """DuckDB twin of ``fake_frame_energies`` over ``documents.text``: the
    CTE ``frames`` (doc_id, i, db) — one row per frame."""
    return """frames AS (
      SELECT doc_id, i,
             -(('0x' || substr(md5(text || ':' || i), 1, 4))::INTEGER % 6000)
               / 100.0 AS db
      FROM documents,
           UNNEST(generate_series(
             0, ('0x' || substr(md5(text), 15, 2))::INTEGER % 300)) AS t(i)
    )"""


def wav_frame_energies(content: bytes, frame_ms: int = 100) -> list[float]:
    """REAL per-frame RMS energies (dB) from a PCM WAV payload — the
    actual decode path for `audio_vad_segments`; stereo averages to mono
    first, the trailing partial frame is kept."""
    import io
    import math
    import wave

    import numpy as np

    with wave.open(io.BytesIO(content)) as w:
        n_channels = w.getnchannels()
        sr = w.getframerate()
        sampwidth = w.getsampwidth()
        raw = w.readframes(w.getnframes())
    if sampwidth == 2:
        x = np.frombuffer(raw, dtype="<i2").astype(np.float64) / 32768.0
    elif sampwidth == 1:
        x = (np.frombuffer(raw, dtype=np.uint8).astype(np.float64) - 128.0) / 128.0
    else:
        raise NotImplementedError(f"{sampwidth * 8}-bit PCM WAV")
    if n_channels > 1:
        x = x.reshape(-1, n_channels).mean(axis=1)
    hop = max(1, int(sr * frame_ms / 1000))
    out = []
    for i in range(0, len(x), hop):
        seg = x[i : i + hop]
        rms = float(np.sqrt(np.mean(seg * seg))) if len(seg) else 0.0
        out.append(round(20.0 * math.log10(rms), 6) if rms > 0 else -120.0)
    return out


_VAD_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("seg_idx", IntegerType()),
        StructField("start_frame", IntegerType()),
        StructField("end_frame", IntegerType()),
        StructField("n_frames", IntegerType()),
    ]
)


def audio_vad_segments(
    media: DataFrame,
    energies_fn=fake_frame_energies,
) -> DataFrame:
    """X8e: energy-gated voice-activity segmentation — each clip's
    per-frame energy series thresholds at -20 dB into active/silent runs
    and every ACTIVE run becomes one output segment (seg_idx, start/end frame,
    length): the pre-transcription chunking step an audio training
    pipeline runs before shipping clips to an ASR model.

    Same Arrow contract as `frame_sample`: decode, frame, threshold and
    the gaps-and-islands run detection all happen INSIDE the task (the
    1→N segment fan-out never crosses a shuffle; per-clip frame series
    never materialize outside the batch). ``energies_fn`` defaults to
    the md5 fake so the declared query stays hash-checkable end-to-end;
    pass :func:`wav_frame_energies` for real PCM payloads (tested on
    generated silence|tone|silence WAVs)."""

    def segment(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            ids, segs, starts, ends, lens = [], [], [], [], []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                energies = energies_fn(bytes(content))
                seg = 0
                run_start = None
                for i, db in enumerate(energies + [float("-inf")]):
                    active = db > -20.0
                    if active and run_start is None:
                        run_start = i
                    elif not active and run_start is not None:
                        seg += 1
                        ids.append(mid)
                        segs.append(seg)
                        starts.append(run_start)
                        ends.append(i - 1)
                        lens.append(i - run_start)
                        run_start = None
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "seg_idx": segs,
                    "start_frame": starts,
                    "end_frame": ends,
                    "n_frames": lens,
                }
            )

    return media.mapInPandas(segment, schema=_VAD_SCHEMA)


def energy_delta_fp(energies: list[float]) -> int:
    """Energy-delta audio fingerprint (Haitsma–Kalker-style, one band,
    60 bits): bit j asks "did frame (j+1) mod n get louder than frame
    j mod n?" — a loudness-SHAPE signature that survives uniform gain
    changes (adding a constant dB offset flips no bit) while distinct
    material diverges in ~half the bits. Clips shorter than the bit budget wrap
    cyclically; the caller gates degenerate-short clips."""
    n = len(energies)
    if n == 0:
        return 0
    f = 0
    for j in range(60):
        if energies[(j + 1) % n] > energies[j % n]:
            f |= 1 << j
    return f


_MIN_FRAMES = 8  # shortest clip audio_fingerprint fingerprints


def audio_fingerprint(
    media: DataFrame,
    energies_fn=fake_frame_energies,
) -> DataFrame:
    """Per-clip audio fingerprint via Arrow-batched mapInPandas —
    (media_id, afp): per-frame energies (fake or real WAV RMS) folded
    into the `energy_delta_fp` bit signature where the bytes live (zero
    shuffles), ready for operators/dedup.py::simhash_pairs — the same
    banded Hamming search the image phash and text SimHash paths use.
    Clips with fewer than 8 frames (``_MIN_FRAMES``) are dropped: a 1-frame
    clip fingerprints to 0, and a bucket of all-zero fingerprints would
    pair every short clip with every other (real systems gate on
    minimum duration for the same reason)."""
    import pandas as pd

    schema = StructType(
        [StructField("media_id", LongType()), StructField("afp", LongType())]
    )

    def extract(batches: Iterator) -> Iterator:
        for pdf in batches:
            ids, fps = [], []
            for mid, c in zip(pdf["media_id"], pdf["content"]):
                e = energies_fn(bytes(c))
                if len(e) >= _MIN_FRAMES:
                    ids.append(mid)
                    fps.append(energy_delta_fp(e))
            yield pd.DataFrame({"media_id": ids, "afp": fps})

    return media.mapInPandas(extract, schema=schema)


_SCENE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("cut_frame", IntegerType()),
        StructField("delta_db", DoubleType()),
    ]
)


def scene_cuts(
    media: DataFrame,
    min_delta_db: float = 25.0,
    energies_fn=fake_frame_energies,
) -> DataFrame:
    """X8g: hard-cut detection — frames where the energy level JUMPS by
    more than ``min_delta_db`` from the previous frame (the audio/video
    analogue of histogram-difference shot detection): the boundaries a
    training pipeline samples clips AROUND rather than across, so no
    training window straddles two unrelated shots. Emits
    (media_id, cut_frame, delta_db) where ``cut_frame`` is the first
    frame of the new shot.

    Same in-task Arrow contract as `audio_vad_segments`: decode, frame
    and difference entirely inside the batch — the per-clip frame
    series never crosses a shuffle, and the output is cuts-only (sparse
    by construction). ``energies_fn`` defaults to the md5 fake for the
    hash-checked declared form; pass :func:`wav_frame_energies` for
    real PCM payloads."""

    def detect(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            ids, frames, deltas = [], [], []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                energies = energies_fn(bytes(content))
                for i in range(1, len(energies)):
                    d = abs(energies[i] - energies[i - 1])
                    if d > min_delta_db:
                        ids.append(mid)
                        frames.append(i)
                        deltas.append(round(d, 6))
            yield pd.DataFrame(
                {"media_id": ids, "cut_frame": frames, "delta_db": deltas}
            )

    return media.mapInPandas(detect, schema=_SCENE_SCHEMA)
