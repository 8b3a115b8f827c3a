"""Declared multimodal queries — the Pandas-UDF plumbing verified against
SQL oracles.

The fake decode derives every 'decoded' property from md5(payload), which
DuckDB can compute natively — so even though the feature extraction runs
through Arrow-batched ``mapInPandas``, the driver's hash-check is exact.
The harness ships no binary fixtures; UTF-8 text bytes stand in for the
encoded payload (md5(utf-8 bytes) == md5(text) for the ASCII corpus).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from openmrs_patient_migration_script_spark.operators.graph import (
    connected_components_sql,
)
from openmrs_patient_migration_script_spark.operators.multimodal import (
    fake_frame_energies_sql,
    frame_sample,
    image_features,
    make_media_table,
)
from openmrs_patient_migration_script_spark.plans.registry import ORACLES, query
from openmrs_patient_migration_script_spark.sources import load_table


# every fingerprint of the CTE fp0 (key, f) re-ingested as a second
# crawl (key + 1e6), and the pairs within Hamming distance 3: the tail of
# the image and audio near-duplicate pair oracles
_HAMMING_PAIRS_SQL = """fp AS (
      SELECT key, f FROM fp0
      UNION ALL SELECT key + 1000000, f FROM fp0
    )
    SELECT a.key AS key_a, b.key AS key_b,
           CAST(bit_count(xor(a.f, b.f)) AS BIGINT) AS hamming
    FROM fp a JOIN fp b ON a.key < b.key
    WHERE bit_count(xor(a.f, b.f)) <= 3
    """


@query(
    "multimodal_image_features",
    oracle="""
    SELECT doc_id AS media_id,
           octet_length(encode(text)) AS n_bytes,
           16 + ('0x' || substr(md5(text), 1, 4))::INTEGER % 512 AS width,
           16 + ('0x' || substr(md5(text), 5, 4))::INTEGER % 512 AS height,
           round(('0x' || substr(md5(text), 9, 4))::INTEGER % 10000 / 10000.0, 6)
             AS mean_intensity
    FROM documents
    """,
)
def multimodal_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary media column → per-image features via Arrow-batched
    mapInPandas (operators/multimodal.py; decode stubbed deterministically,
    plumbing real). No shuffle: features computed where the bytes live."""
    d = load_table(spark, sf_dir, "documents")
    return image_features(make_media_table(d))


@query(
    "multimodal_frame_sample",
    oracle="""
    WITH m AS (
      SELECT doc_id AS media_id,
             1 + ('0x' || substr(md5(text), 13, 2))::INTEGER % 8 AS n_frames,
             1 + ('0x' || substr(md5(text), 15, 2))::INTEGER % 300 AS duration_s
      FROM documents
    )
    SELECT media_id, CAST(frame_index AS INTEGER) AS frame_index,
           round(frame_index * duration_s / n_frames, 6) AS frame_ts_s
    FROM (
      SELECT media_id, n_frames, duration_s,
             unnest(generate_series(0, n_frames - 1)) AS frame_index
      FROM m
    )
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling: 1→N row explosion inside the mapInPandas task
    (no shuffle-side duplication); evenly-spaced frame timestamps over the
    decoded duration."""
    d = load_table(spark, sf_dir, "documents")
    return frame_sample(make_media_table(d))


@query(
    "multimodal_audio_features",
    oracle="""
    SELECT doc_id AS media_id,
           octet_length(encode(text)) AS n_bytes,
           CASE ('0x' || substr(md5(text), 17, 2))::INTEGER % 4
             WHEN 0 THEN 8000 WHEN 1 THEN 16000 WHEN 2 THEN 22050
             ELSE 44100 END AS sample_rate,
           1 + ('0x' || substr(md5(text), 19, 1))::INTEGER % 2 AS n_channels,
           1 + ('0x' || substr(md5(text), 15, 2))::INTEGER % 300 AS duration_s,
           (CASE ('0x' || substr(md5(text), 17, 2))::INTEGER % 4
              WHEN 0 THEN 8000 WHEN 1 THEN 16000 WHEN 2 THEN 22050
              ELSE 44100 END)
             * (1 + ('0x' || substr(md5(text), 15, 2))::INTEGER % 300)
             * (1 + ('0x' || substr(md5(text), 19, 1))::INTEGER % 2)
             ::BIGINT AS n_samples,
           round(-(('0x' || substr(md5(text), 20, 4))::INTEGER % 6000) / 100.0, 6)
             AS rms_db
    FROM documents
    """,
)
def multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio clip features (sample rate/channels/duration/sample count/RMS
    level) via the same Arrow-batched mapInPandas contract as the image
    path — decode stubbed deterministically, plumbing real, zero shuffle."""
    from openmrs_patient_migration_script_spark.operators.multimodal import (
        audio_features,
    )

    d = load_table(spark, sf_dir, "documents")
    return audio_features(make_media_table(d))


@query(
    "multimodal_phash_pairs",
    oracle=f"""
    WITH fp0 AS (
      SELECT doc_id AS key,
             ('0x' || substr(md5(text), 1, 15))::BIGINT AS f
      FROM documents
    ),
    {_HAMMING_PAIRS_SQL}""",
)
def multimodal_phash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X8e (r4): image near-duplicate pairs — perceptual fingerprints via
    Arrow-batched mapInPandas (operators/multimodal.py::image_phash), then
    the SAME banded Hamming search text SimHash uses
    (operators/dedup.py::simhash_pairs): pigeonhole bands → equi-join →
    exact bit_count re-check, no all-pairs scan ever. The declared form
    fingerprints with the content-addressed fake (only byte-identical
    payloads collide) plus an id-shifted re-ingested copy of every image
    — the fixture corpus has no byte-identical payloads, so r5's grade
    passed vacuously at 0 rows; the copies (the second-crawl shape
    `multimodal_audio_pairs` already plants) make every image pair with
    its own copy at Hamming 0, and the oracle replays fingerprint AND
    pairing as brute-force SQL. The REAL aHash — 8x8 block means over
    decoded BMP pixels, resize/brightness-stable — runs through the
    identical plan and is pinned on generated BMPs in
    tests/test_multimodal.py."""
    from openmrs_patient_migration_script_spark.operators.dedup import simhash_pairs
    from openmrs_patient_migration_script_spark.operators.multimodal import (
        image_phash,
    )

    d = load_table(spark, sf_dir, "documents")
    media = make_media_table(d)
    # r11-opt: the fingerprint is a pure function of the payload bytes,
    # so the id-shifted re-ingested copy's fingerprint IS the original's
    # — fingerprint once, checkpoint the clip-sized result, and union
    # the shifted KEYS (exactly the oracle's fp0-then-shift CTE shape)
    # instead of running the Arrow decode over a doubled media table
    fp0 = image_phash(media).localCheckpoint(eager=True)
    fps = fp0.unionByName(
        fp0.withColumn("media_id", F.col("media_id") + F.lit(1_000_000))
    )
    return simhash_pairs(
        fps, key_col="media_id", fp_col="phash", bits=60, max_hamming=3,
        materialize=False,  # fps unions id-shifted keys over a checkpoint
    )


@query(
    "multimodal_vad_segments",
    oracle=f"""
    WITH {fake_frame_energies_sql()},
    flagged AS (
      SELECT doc_id, i, db > -20.0 AS active,
             CASE WHEN db > -20.0
                    AND NOT coalesce(lag(db > -20.0) OVER w, FALSE)
                  THEN 1 ELSE 0 END AS run_start
      FROM frames
      WINDOW w AS (PARTITION BY doc_id ORDER BY i)
    ),
    runs AS (
      SELECT doc_id, i,
             sum(run_start) OVER (PARTITION BY doc_id ORDER BY i
                                  ROWS UNBOUNDED PRECEDING) AS seg
      FROM flagged WHERE TRUE
      QUALIFY active
    )
    SELECT doc_id AS media_id, CAST(seg AS INTEGER) AS seg_idx,
           CAST(min(i) AS INTEGER) AS start_frame,
           CAST(max(i) AS INTEGER) AS end_frame,
           CAST(count(*) AS INTEGER) AS n_frames
    FROM runs GROUP BY 1, 2
    """,
)
def multimodal_vad_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X8e: voice-activity segmentation over the media table
    (operators/multimodal.py::audio_vad_segments) — per-frame energies
    threshold at -20 dB and contiguous active runs become segments, all
    inside the Arrow task (the 1→N fan-out never shuffles). Declared
    with the md5 frame-energy fake so DuckDB replays decode → threshold
    → gaps-and-islands exactly; the REAL PCM path (wav_frame_energies)
    is pinned on generated silence|tone|silence WAVs in tests."""
    from openmrs_patient_migration_script_spark.operators.multimodal import (
        audio_vad_segments,
        make_media_table,
    )

    d = load_table(spark, sf_dir, "documents")
    return audio_vad_segments(make_media_table(d))


@query(
    "multimodal_audio_pairs",
    oracle=f"""
    WITH {fake_frame_energies_sql()},
    arrs AS (
      SELECT doc_id, list(db ORDER BY i) AS e, count(*) AS n
      FROM frames GROUP BY 1
    ),
    fp0 AS (
      SELECT doc_id AS key,
             sum(CASE WHEN e[((j + 1) % n) + 1] > e[(j % n) + 1]
                      THEN 1::BIGINT << j ELSE 0::BIGINT END) AS f
      FROM arrs, UNNEST(generate_series(0, 59)) AS t(j)
      WHERE n >= 8
      GROUP BY 1
    ),
    {_HAMMING_PAIRS_SQL}""",
)
def multimodal_audio_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X8f: audio near-duplicate pairs — the audio twin of
    `multimodal_phash_pairs`: per-clip energy-delta fingerprints
    (operators/multimodal.py::audio_fingerprint — gain-invariant
    loudness-shape bits, computed where the bytes live) into the same
    banded Hamming search (operators/dedup.py::simhash_pairs), never an
    all-pairs scan. Declared form uses the md5 fake energies (plus an
    id-shifted re-ingested copy of every clip, since the fixture has no
    byte-identical audio) so the oracle replays fingerprinting AND
    pairing exactly; the REAL path
    (WAV RMS frames → the identical bit rule) is pinned on generated
    WAVs in tests/test_multimodal.py. Sub-8-frame clips are gated out
    (a degenerate-short clip fingerprints to ~0 and would pair with
    every other one)."""
    from openmrs_patient_migration_script_spark.operators.dedup import simhash_pairs
    from openmrs_patient_migration_script_spark.operators.multimodal import (
        audio_fingerprint,
    )

    d = load_table(spark, sf_dir, "documents")
    media = make_media_table(d)
    # plant re-ingested copies (the id-shifted second crawl): the fixture
    # corpus has no byte-identical clips, so the copies make the declared
    # output non-vacuous — every clip must pair with its own copy at
    # Hamming 0, and with nothing else. r11-opt: the fingerprint is a
    # pure function of the payload bytes, so fingerprint ONCE,
    # checkpoint the clip-sized result, and union the shifted KEYS
    # (the oracle's fp0-then-shift CTE shape) instead of running the
    # Arrow decode over a doubled media table
    fp0 = audio_fingerprint(media).localCheckpoint(eager=True)
    fps = fp0.unionByName(
        fp0.withColumn("media_id", F.col("media_id") + F.lit(1_000_000))
    )
    return simhash_pairs(
        fps, key_col="media_id", fp_col="afp", bits=60, max_hamming=3,
        materialize=False,  # fps unions id-shifted keys over a checkpoint
    )


@query(
    "multimodal_scene_cuts",
    oracle=f"""
    WITH {fake_frame_energies_sql()},
    d AS (
      SELECT doc_id AS media_id, i AS cut_frame,
             abs(db - lag(db) OVER (PARTITION BY doc_id ORDER BY i)) AS raw
      FROM frames
    )
    SELECT media_id, CAST(cut_frame AS INTEGER) AS cut_frame,
           round(raw, 6) AS delta_db
    FROM d WHERE raw > 25.0
    """,
)
def multimodal_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X8g: hard-cut (shot-boundary) detection over the media table
    (operators/multimodal.py::scene_cuts) — frames whose energy jumps
    more than 25 dB from the previous frame, the boundaries a clip
    sampler must not straddle. All in-task like the VAD path (decode,
    frame, difference inside the Arrow batch — cuts-only output, the
    frame series never crosses a shuffle); declared over the md5 fake
    energies for an exact oracle, with the real-WAV path pinned on a
    planted silence-tone-silence transition in tests."""
    from openmrs_patient_migration_script_spark.operators.multimodal import (
        scene_cuts,
    )

    d = load_table(spark, sf_dir, "documents")
    return scene_cuts(make_media_table(d), min_delta_db=25.0)


@query(
    "multimodal_dedup_clusters",
    oracle=f"""
    WITH RECURSIVE pairs AS (
      SELECT key_a, key_b FROM ({ORACLES["multimodal_phash_pairs"]}) ph
    ),
    {connected_components_sql()}
    SELECT node, cluster FROM labels
    """,
)
def multimodal_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X8i (r6): image duplicate GROUPS — connected components over the
    `multimodal_phash_pairs` banded-Hamming graph, closing the
    pair→cluster arc for the image modality exactly as
    `text_dedup_clusters` closes it for text and `dedup_clusters` for
    names (the kept-image election then follows `etl_golden_record`).
    Every image clusters with its re-ingested second-crawl copy, so
    every cluster is non-vacuous by construction. Pair generation stays
    banded (pigeonhole equi-join, no all-pairs); the closure is the
    O(log n)-round star contraction; the oracle replays fingerprints,
    pairing AND the transitive closure as brute-force SQL."""
    from openmrs_patient_migration_script_spark.operators.graph import (
        connected_components,
    )

    pairs = multimodal_phash_pairs(spark, sf_dir)
    return connected_components(pairs)
