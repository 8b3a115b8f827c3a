"""Multimodal plumbing tests: schema contract, Arrow batch iteration,
row explosion, determinism, and the clearly-marked decode stub."""

from __future__ import annotations

import pytest

from openmrs_patient_migration_script_spark.operators.multimodal import (
    decode_media,
    fake_decode,
    frame_sample,
    image_features,
    make_media_table,
)
from openmrs_patient_migration_script_spark.sources import load_table

SF = "/root/testdata/sf0.001"


def _media(spark):
    return make_media_table(load_table(spark, SF, "documents"))


def test_media_table_schema(spark):
    m = _media(spark)
    assert dict(m.dtypes) == {
        "media_id": "bigint",
        "content": "binary",
        "media_type": "string",
        "n_bytes": "int",
    }
    row = m.first()
    assert isinstance(bytes(row["content"]), bytes) and row["n_bytes"] > 0


def test_decode_media_is_a_marked_stub():
    # JPEG genuinely needs a codec library; PNG is REAL as of r6
    with pytest.raises(NotImplementedError):
        decode_media(b"\xff\xd8\xff\xe0jfif-payload", "image/jpeg")


def test_fake_decode_deterministic_and_bounded():
    a, b = fake_decode(b"payload"), fake_decode(b"payload")
    assert a == b
    assert 16 <= a["width"] < 528 and 16 <= a["height"] < 528
    assert 0.0 <= a["mean_intensity"] < 1.0
    assert 1 <= a["n_frames"] <= 8 and 1 <= a["duration_s"] <= 300
    assert fake_decode(b"other") != a


def test_image_features_one_row_per_media(spark):
    m = _media(spark)
    feats = image_features(m)
    assert feats.count() == m.count()
    r = feats.first()
    assert r["width"] >= 16 and r["height"] >= 16


def test_frame_sample_explodes_rows(spark):
    m = _media(spark)
    frames = frame_sample(m)
    # every media row yields between 1 and 8 frames, frame 0 at ts 0.0
    per = {r["media_id"]: r["count"] for r in frames.groupBy("media_id").count().collect()}
    assert len(per) == m.count()
    assert all(1 <= n <= 8 for n in per.values())
    firsts = frames.filter("frame_index = 0").select("frame_ts_s").distinct().collect()
    assert [r["frame_ts_s"] for r in firsts] == [0.0]


def _wav_bytes(sr=8000, n=4000, amp=16384, channels=1):
    """16-bit PCM WAV with a constant-amplitude square wave: RMS is
    exactly amp/32768, so rms_db is analytically known."""
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(channels)
        w.setsampwidth(2)
        w.setframerate(sr)
        frame = amp.to_bytes(2, "little", signed=True) * channels
        w.writeframes(frame * n)
    return buf.getvalue()


def _bmp_bytes(width=2, height=2, value=100):
    """Uncompressed 24-bpp BMP, every channel byte = value."""
    bytes_pp = 3
    stride = ((width * bytes_pp + 3) // 4) * 4
    pad = stride - width * bytes_pp
    row = bytes([value] * width * bytes_pp) + bytes(pad)
    pixels = row * height
    data_offset = 14 + 40
    size = data_offset + len(pixels)
    header = (
        b"BM"
        + size.to_bytes(4, "little")
        + b"\x00\x00\x00\x00"
        + data_offset.to_bytes(4, "little")
        + (40).to_bytes(4, "little")
        + width.to_bytes(4, "little", signed=True)
        + height.to_bytes(4, "little", signed=True)
        + (1).to_bytes(2, "little")
        + (24).to_bytes(2, "little")
        + (0).to_bytes(4, "little")
        + len(pixels).to_bytes(4, "little")
        + b"\x00" * 16
    )
    return header + pixels


def test_real_decoder_wav_exact_features(spark):
    """The REAL decode path end-to-end through the same mapInPandas plan:
    a synthesized 16-bit PCM WAV with known analytic features."""
    import math

    from pyspark.sql.types import (
        BinaryType,
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from openmrs_patient_migration_script_spark.operators.multimodal import (
        audio_features,
        decode_media,
    )

    wav = _wav_bytes(sr=8000, n=4000, amp=16384, channels=1)
    schema = StructType(
        [
            StructField("media_id", LongType()),
            StructField("content", BinaryType()),
            StructField("media_type", StringType()),
            StructField("n_bytes", IntegerType()),
        ]
    )
    media = spark.createDataFrame(
        [(1, bytearray(wav), "audio/wav", len(wav))], schema
    )
    r = audio_features(media, decoder=decode_media).collect()[0]
    assert r["sample_rate"] == 8000
    assert r["n_channels"] == 1
    assert r["n_samples"] == 4000
    assert r["duration_s"] == 0  # 0.5 s floors to 0 whole seconds
    want_db = round(20.0 * math.log10(16384 / 32768.0), 6)
    assert abs(r["rms_db"] - want_db) < 1e-6


def test_real_decoder_bmp_exact_features(spark):
    """Uncompressed BMP through image_features with the real decoder:
    dimensions and mean intensity are exact."""
    from pyspark.sql.types import (
        BinaryType,
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from openmrs_patient_migration_script_spark.operators.multimodal import (
        decode_media,
        image_features,
    )

    bmp = _bmp_bytes(width=2, height=2, value=100)
    schema = StructType(
        [
            StructField("media_id", LongType()),
            StructField("content", BinaryType()),
            StructField("media_type", StringType()),
            StructField("n_bytes", IntegerType()),
        ]
    )
    media = spark.createDataFrame(
        [(7, bytearray(bmp), "image/bmp", len(bmp))], schema
    )
    r = image_features(media, decoder=decode_media).collect()[0]
    assert (r["width"], r["height"]) == (2, 2)
    assert abs(r["mean_intensity"] - round(100 / 255.0, 6)) < 1e-6


def test_real_decoder_unknown_format_fails_loud():
    import pytest

    from openmrs_patient_migration_script_spark.operators.multimodal import (
        decode_media,
    )

    with pytest.raises(NotImplementedError, match="JPEG/MP3/MP4"):
        decode_media(b"\xff\xd8\xff\xe0....", "image/jpeg")
    # a PNG payload that is truncated/chunkless fails loud too (the
    # real r6 decoder never guesses at malformed containers)
    with pytest.raises(NotImplementedError, match="IHDR"):
        decode_media(b"\x89PNG\r\n\x1a\n....", "image/png")


def _bmp_from_gray(arr):
    """Uncompressed 24-bpp BMP from an HxW uint8 grayscale array (all
    three channels get the gray value) — structured pixels for the
    perceptual-hash tests, vs _bmp_bytes' uniform fill."""
    height, width = arr.shape
    bytes_pp = 3
    stride = ((width * bytes_pp + 3) // 4) * 4
    pad = stride - width * bytes_pp
    rows = b"".join(
        b"".join(bytes([int(v)] * 3) for v in row) + bytes(pad) for row in arr
    )
    data_offset = 14 + 40
    size = data_offset + len(rows)
    header = (
        b"BM"
        + size.to_bytes(4, "little")
        + b"\x00\x00\x00\x00"
        + data_offset.to_bytes(4, "little")
        + (40).to_bytes(4, "little")
        + width.to_bytes(4, "little", signed=True)
        + height.to_bytes(4, "little", signed=True)
        + (1).to_bytes(2, "little")
        + (24).to_bytes(2, "little")
        + (0).to_bytes(4, "little")
        + len(rows).to_bytes(4, "little")
        + b"\x00" * 16
    )
    return header + rows


def test_real_ahash_near_dup_detection(spark):
    """REAL perceptual hashing end-to-end: a lightly-edited image lands
    within the Hamming budget of its original and the banded pair search
    finds the pair; an unrelated image does not. Also pins aHash's
    brightness stability (a global +10 shift flips no block-vs-mean
    bits)."""
    import numpy as np

    from openmrs_patient_migration_script_spark.operators.dedup import simhash_pairs
    from openmrs_patient_migration_script_spark.operators.multimodal import (
        ahash_bmp,
        image_phash,
    )

    rng = np.random.RandomState(3)
    base = (rng.rand(32, 32) * 200 + 20).astype(np.uint8)
    near = base.copy()
    near[:2, :2] = 255  # a small local edit
    bright = np.clip(base.astype(int) + 10, 0, 255).astype(np.uint8)
    far = (255 - base.astype(int)).astype(np.uint8)  # inversion

    h = {k: ahash_bmp(_bmp_from_gray(a)) for k, a in
         [("base", base), ("near", near), ("bright", bright), ("far", far)]}
    ham = lambda a, b: bin(a ^ b).count("1")  # noqa: E731
    assert ham(h["base"], h["near"]) <= 3
    assert ham(h["base"], h["bright"]) == 0  # global shift cancels in aHash
    assert ham(h["base"], h["far"]) > 20

    payloads = [
        (1, bytearray(_bmp_from_gray(base))),
        (2, bytearray(_bmp_from_gray(near))),
        (3, bytearray(_bmp_from_gray(far))),
    ]
    media = spark.createDataFrame(
        [(i, p, "image/bmp", len(p)) for i, p in payloads],
        "media_id long, content binary, media_type string, n_bytes int",
    )
    fps = image_phash(media, phash_fn=ahash_bmp)
    pairs = {
        (r.key_a, r.key_b)
        for r in simhash_pairs(
            fps, key_col="media_id", fp_col="phash", bits=60, max_hamming=3
        ).collect()
    }
    assert pairs == {(1, 2)}


def test_vad_segments_real_wav_silence_tone_silence(spark):
    """The REAL PCM VAD path: a silence|tone|silence|tone|silence WAV must
    produce exactly two segments at the planted frame positions."""
    import io
    import wave

    from pyspark.sql.types import (
        BinaryType,
        LongType,
        StructField,
        StructType,
    )

    from openmrs_patient_migration_script_spark.operators.multimodal import (
        audio_vad_segments,
        wav_frame_energies,
    )

    sr = 8000
    hop = sr // 10  # 100 ms frames

    def chunk(amp, n_frames):
        frame = int(amp).to_bytes(2, "little", signed=True)
        return frame * (hop * n_frames)

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(sr)
        # 3 silent frames | 4 loud | 2 silent | 3 loud | 2 silent
        w.writeframes(
            chunk(10, 3) + chunk(16384, 4) + chunk(10, 2)
            + chunk(16384, 3) + chunk(10, 2)
        )
    wav = buf.getvalue()
    # sanity on the energy extractor itself
    dbs = wav_frame_energies(wav, frame_ms=100)
    assert len(dbs) == 14
    assert all(db < -60 for db in dbs[:3]) and all(db > -10 for db in dbs[3:7])

    schema = StructType(
        [
            StructField("media_id", LongType()),
            StructField("content", BinaryType()),
        ]
    )
    media = spark.createDataFrame([(1, bytearray(wav))], schema)
    segs = {
        (r.seg_idx): (r.start_frame, r.end_frame, r.n_frames)
        for r in audio_vad_segments(media, energies_fn=wav_frame_energies).collect()
    }
    assert segs == {1: (3, 6, 4), 2: (9, 11, 3)}


def _patterned_wav(pattern, gain=1.0, sr=8000, frame_ms=100, base=500):
    """16-bit PCM WAV whose loudness follows `pattern` frame by frame
    (one square-wave amplitude per 100 ms frame) — the loudness SHAPE
    the energy-delta fingerprint keys on; `gain` rescales every frame."""
    import io
    import wave

    buf = io.BytesIO()
    spf = sr * frame_ms // 1000
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(sr)
        for p in pattern:
            amp = max(1, min(32000, int(base * p * gain)))
            w.writeframes(amp.to_bytes(2, "little", signed=True) * spf)
    return buf.getvalue()


def test_audio_fingerprint_real_wav_gain_invariant_and_discriminative(spark):
    """The energy-delta fingerprint must be IDENTICAL under uniform gain
    (a re-encoded louder copy is the same clip) and far in Hamming for
    different material — the two properties that make the banded pair
    search meaningful on real audio."""
    import wave as _  # noqa: F401  (stdlib presence)

    from openmrs_patient_migration_script_spark.operators.multimodal import (
        audio_fingerprint,
        energy_delta_fp,
        wav_frame_energies,
    )

    up_down = [1, 3, 2, 5, 4, 7, 6, 9, 8, 11, 10, 13]
    other = [13, 1, 12, 2, 11, 3, 10, 4, 9, 5, 8, 6]
    a = _patterned_wav(up_down)
    a_loud = _patterned_wav(up_down, gain=2.0)
    b = _patterned_wav(other)
    fa = energy_delta_fp(wav_frame_energies(a))
    fa2 = energy_delta_fp(wav_frame_energies(a_loud))
    fb = energy_delta_fp(wav_frame_energies(b))
    assert fa == fa2
    assert bin(fa ^ fb).count("1") > 10
    # the DataFrame path: same fingerprints through mapInPandas, and a
    # 4-frame clip is gated out by min_frames
    short = _patterned_wav([1, 2, 3, 4])
    rows = [(1, bytearray(a)), (2, bytearray(a_loud)), (3, bytearray(b)),
            (4, bytearray(short))]
    from pyspark.sql.types import (
        BinaryType,
        LongType,
        StructField,
        StructType,
    )

    schema = StructType(
        [StructField("media_id", LongType()), StructField("content", BinaryType())]
    )
    media = spark.createDataFrame(rows, schema)
    got = {r.media_id: r.afp for r in
           audio_fingerprint(media, energies_fn=wav_frame_energies).collect()}
    assert got == {1: fa, 2: fa, 3: fb}


def test_scene_cuts_real_wav_finds_the_planted_transition(spark):
    """silence|loud|silence: exactly two hard cuts (into and out of the
    tone), none inside the steady regions."""
    from pyspark.sql.types import BinaryType, LongType, StructField, StructType

    from openmrs_patient_migration_script_spark.operators.multimodal import (
        scene_cuts,
        wav_frame_energies,
    )

    quiet, loud = [1] * 5, [300] * 5
    wav = _patterned_wav(quiet + loud + quiet, base=100)
    schema = StructType(
        [StructField("media_id", LongType()), StructField("content", BinaryType())]
    )
    media = spark.createDataFrame([(1, bytearray(wav))], schema)
    cuts = sorted(
        (r.cut_frame, r.delta_db)
        for r in scene_cuts(media, min_delta_db=25.0,
                            energies_fn=wav_frame_energies).collect()
    )
    assert [c for c, _ in cuts] == [5, 10]
    assert all(d > 25.0 for _, d in cuts)


def _png_bytes(arr, color_type=2, filters=None, interlace=0, bit_depth=8):
    """Minimal stdlib PNG encoder for decoder tests: ``arr`` is an
    (H, W, C) uint8 numpy array; ``filters`` picks the per-scanline
    filter type (int or list per row) so every unfilter branch —
    None/Sub/Up/Average/Paeth — gets exercised against ground truth."""
    import struct
    import zlib

    import numpy as np

    h, w, c = arr.shape
    arr = arr.astype(np.int32)
    if filters is None:
        filters = [0] * h
    if isinstance(filters, int):
        filters = [filters] * h
    bpp = c
    raw = bytearray()
    prev = np.zeros(w * c, dtype=np.int32)
    for y, ftype in zip(range(h), filters):
        cur = arr[y].reshape(-1)
        left = np.concatenate([np.zeros(bpp, np.int32), cur[:-bpp]])
        ul = np.concatenate([np.zeros(bpp, np.int32), prev[:-bpp]])
        if ftype == 0:
            enc = cur
        elif ftype == 1:
            enc = (cur - left) & 0xFF
        elif ftype == 2:
            enc = (cur - prev) & 0xFF
        elif ftype == 3:
            enc = (cur - ((left + prev) >> 1)) & 0xFF
        elif ftype == 4:
            p = left + prev - ul
            pa, pb, pc = np.abs(p - left), np.abs(p - prev), np.abs(p - ul)
            pred = np.where(
                (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prev, ul)
            )
            enc = (cur - pred) & 0xFF
        else:
            raise ValueError(ftype)
        raw.append(ftype)
        raw.extend(enc.astype(np.uint8).tobytes())
        prev = cur

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, bit_depth, color_type, 0, 0, interlace)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def test_png_decode_exact_all_filter_types():
    """r6 REAL PNG path: zlib inflate + unfiltering reproduces the exact
    pixel array for every scanline filter type, all supported color
    types, and the documented unsupported shapes fail loud."""
    import numpy as np

    from openmrs_patient_migration_script_spark.operators.multimodal import (
        _png_pixels,
        decode_media,
    )

    rng = np.random.RandomState(7)
    rgb = rng.randint(0, 256, (6, 5, 3)).astype(np.uint8)
    for f in (0, 1, 2, 3, 4):
        got = _png_pixels(_png_bytes(rgb, color_type=2, filters=f))
        assert np.array_equal(got, rgb), f"filter {f} mismatch"
    mixed = _png_pixels(_png_bytes(rgb, color_type=2, filters=[0, 4, 1, 3, 2, 4]))
    assert np.array_equal(mixed, rgb)
    gray = rng.randint(0, 256, (4, 7, 1)).astype(np.uint8)
    assert np.array_equal(_png_pixels(_png_bytes(gray, color_type=0, filters=4)), gray)
    rgba = rng.randint(0, 256, (3, 3, 4)).astype(np.uint8)
    assert np.array_equal(
        _png_pixels(_png_bytes(rgba, color_type=6, filters=4)), rgba[:, :, :3]
    )
    d = decode_media(_png_bytes(rgb, color_type=2, filters=4), "image/png")
    assert (d["width"], d["height"]) == (5, 6)
    assert abs(d["mean_intensity"] - round(float(rgb.mean()) / 255.0, 6)) < 1e-9
    with pytest.raises(NotImplementedError, match="interlace"):
        _png_pixels(_png_bytes(rgb, interlace=1))
    with pytest.raises(NotImplementedError, match="bit_depth"):
        _png_pixels(_png_bytes(rgb, bit_depth=16))


def test_png_through_image_features_and_ahash_plan(spark):
    """The r6 PNG decode pinned through the SAME mapInPandas plans the
    BMP path uses: image_features(decoder=decode_media) yields exact
    dims/means, and ahash of a PNG equals ahash of the byte-different
    BMP encoding the same pixels (perceptual identity across formats)."""
    import numpy as np

    from pyspark.sql.types import (
        BinaryType,
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from openmrs_patient_migration_script_spark.operators.multimodal import (
        ahash_bmp,
        decode_media,
        image_features,
    )

    rng = np.random.RandomState(11)
    gray = rng.randint(0, 256, (16, 16)).astype(np.uint8)
    png = _png_bytes(gray[..., None].repeat(3, axis=2), color_type=2, filters=4)
    bmp = _bmp_from_gray(gray)
    schema = StructType(
        [
            StructField("media_id", LongType()),
            StructField("content", BinaryType()),
            StructField("media_type", StringType()),
            StructField("n_bytes", IntegerType()),
        ]
    )
    media = spark.createDataFrame(
        [(1, bytearray(png), "image/png", len(png))], schema
    )
    r = image_features(media, decoder=decode_media).collect()[0]
    assert (r["width"], r["height"]) == (16, 16)
    assert abs(r["mean_intensity"] - round(float(gray.mean()) / 255.0, 6)) < 1e-9
    assert ahash_bmp(png) == ahash_bmp(bmp)
