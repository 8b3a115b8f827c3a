"""Deduplication operators (SURVEY.md §2.9 X1-X3; BASELINE.json:6 "dedup").

Scale design: every variant avoids the naive all-pairs comparison —
- exact dedup is one hash shuffle on the key;
- fuzzy dedup blocks on a cheap key (prefix/length/soundex) before the
  quadratic-in-block comparator;
- MinHash/SimHash/n-gram-Jaccard compare only candidate pairs that collide
  in at least one band/bucket, the standard LSH contract (PAPERS.md:
  approximation-algorithms line of work).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def require_integral_key(df: DataFrame, key_col: str, op: str) -> None:
    """Fail-loud dtype guard for operators that PACK the key into integer
    arithmetic (``key·C + i``): with a string key, Spark's implicit
    string→double cast yields NULL for every non-numeric value, and the
    operator's whole output silently degrades (paragraph_dedup drops
    all paragraphs; weighted_sample degenerates to a null-ticket
    arbitrary sample). The bloom_semi_join guard pattern."""
    dtype = dict(df.dtypes).get(key_col)
    if dtype not in ("tinyint", "smallint", "int", "bigint"):
        raise ValueError(
            f"{op}: key column {key_col!r} must be an integral type "
            f"(got {dtype}) — its value is packed into integer "
            "arithmetic, and a non-integral key would go NULL silently; "
            "pre-map string keys to longs (etl.assign_surrogate_keys)"
        )


def dedup_exact_keep_first(
    df: DataFrame, keys: list[str], order_by: str | list[str]
) -> DataFrame:
    """X1: keep exactly one deterministic row per key.

    ``dropDuplicates(keys)`` keeps an *arbitrary* row; ETL needs a
    deterministic survivor, so we rank within the key and keep rank 1.
    One shuffle on the key columns.
    """
    order_cols = [order_by] if isinstance(order_by, str) else list(order_by)
    w = Window.partitionBy(*keys).orderBy(*order_cols)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def fuzzy_dedup_pairs(
    df: DataFrame,
    key_col: str,
    text_col: str,
    block_exprs: list,
    max_distance: int = 2,
) -> DataFrame:
    """X2: near-duplicate pairs via blocking + Levenshtein.

    ``block_exprs`` are cheap expressions (e.g. prefix, length bucket,
    soundex) — candidate pairs are generated only *within* a block, turning
    the O(n²) comparison into O(Σ block²); at 100 TB the block key is the
    shuffle key and block sizes bound the worst task. One pass joins on
    the conjunction of ALL block expressions — highest precision and
    lowest cost, at lower recall (a pair must agree on every key).

    Returns (key_a, key_b, dist) with key_a < key_b.
    """
    a = df.select(
        F.col(key_col).alias("key_a"),
        F.col(text_col).alias("text_a"),
        *[e.alias(f"_blk{i}") for i, e in enumerate(block_exprs)],
    )
    b = df.select(
        F.col(key_col).alias("key_b"),
        F.col(text_col).alias("text_b"),
        *[e.alias(f"_blk{i}") for i, e in enumerate(block_exprs)],
    )
    on = [f"_blk{i}" for i in range(len(block_exprs))]
    pairs = a.join(b, on=on, how="inner").filter(F.col("key_a") < F.col("key_b"))
    # THRESHOLD levenshtein (r11): the 3-arg form runs the banded
    # O(len * max_distance) DP with early abort instead of the full
    # O(len^2) matrix, returning -1 past the threshold — ~2x on the
    # sf0.1 fuzzy-name blocks at distance 1, byte-identical
    # survivors (within the threshold the banded distance is exact).
    return (
        pairs.withColumn(
            "dist",
            F.levenshtein("text_a", "text_b", max_distance).cast("long"),
        )
        .filter((F.col("dist") >= 0) & (F.col("dist") <= max_distance))
        .select("key_a", "key_b", "dist")
    )


def _shingles(text_col, n: int = 3):
    """Word n-gram shingles of a token string (documents.text is
    space-separated tokens).

    Built by zip_with-ing the token array against its own left-shifted
    copies: linear walks over the arrays, no per-element `slice`/`get`
    (those re-index the array per element — measured 3.5x slower here).
    zip_with pads the shorter shifted arrays with NULLs; gating on the
    furthest shifted element (if it exists, every nearer one does) and
    filtering the NULLs leaves exactly the size-n windows. Row-local:
    zero shuffles at any scale.
    """
    toks = F.split(text_col, " ")
    sz = F.size(toks)
    out = toks
    for k in range(1, n):
        shifted = F.slice(toks, k + 1, sz)
        if k < n - 1:
            out = F.zip_with(out, shifted, lambda a, b: F.concat_ws(" ", a, b))
        else:  # last zip decides window completeness
            out = F.zip_with(
                out, shifted, lambda a, b: F.when(b.isNotNull(), F.concat_ws(" ", a, b))
            )
    return F.filter(out, lambda x: x.isNotNull())


def shingles_sql(src: str = "documents") -> str:
    """DuckDB twin of the distinct `_shingles` (n = 3) of ``src.text``: the
    CTEs ``toks`` (doc_id, tok, pos — the split on single spaces, empty
    tokens kept as ``F.split`` keeps them) and ``sh`` (doc_id, shingle —
    each document's distinct word 3-grams, a positional self-join of
    ``toks``)."""
    return f"""toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
             generate_subscripts(string_split(text, ' '), 1) AS pos
      FROM {src}
    ),
    sh AS (
      SELECT DISTINCT a.doc_id, a.tok || ' ' || b.tok || ' ' || c.tok AS shingle
      FROM toks a
      JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
      JOIN toks c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2
    )"""


def md5_pair(c: Column) -> tuple[Column, Column]:
    """The declared MinHash double-hash base: the first and second 32-bit
    halves of ``md5(c)`` as longs — one md5 per shingle, reproduced
    exactly by the DuckDB oracles of the declared MinHash queries."""
    return (
        F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long"),
        F.conv(F.substring(F.md5(c), 9, 8), 16, 10).cast("long"),
    )


def minhash_signatures(
    df: DataFrame,
    key_col: str,
    text_col: str,
    num_hashes: int = 16,
    double_hash=None,
) -> DataFrame:
    """X3 stage 1: per-document MinHash signature.

    DataFrame-native: explode word-3-gram shingles once, then
    ``min(hash(shingle, seed_i))`` per doc for each of the ``num_hashes``
    seeds in ONE groupBy (single shuffle). No MLlib, no UDFs — all JVM
    built-ins.

    The default hash family is seeded ``xxhash64`` (cheapest — the
    100 TB choice). ``double_hash(col) -> (h1, h2)`` instead derives all
    ``num_hashes`` functions from ONE base hash via Kirsch-Mitzenmacher
    double hashing (``h1 + i*h2 mod 2^32``) — the declared queries pass
    `md5_pair`, which DuckDB reproduces exactly, paying one md5 per
    shingle instead of sixteen.
    """
    sh = df.select(
        F.col(key_col).alias("key"),
        F.explode(F.array_distinct(_shingles(F.col(text_col)))).alias("shingle"),
    )
    if double_hash is not None:
        h1, h2 = double_hash(F.col("shingle"))
        sh = sh.select("key", h1.alias("h1"), h2.alias("h2"))
        m = F.lit(1 << 32).cast("long")
        aggs = [
            F.min(F.pmod(F.col("h1") + i * F.col("h2"), m)).alias(f"mh_{i}")
            for i in range(num_hashes)
        ]
    else:
        aggs = [
            F.min(F.xxhash64(F.col("shingle"), F.lit(i))).alias(f"mh_{i}")
            for i in range(num_hashes)
        ]
    return sh.groupBy("key").agg(*aggs)


def minhash_signatures_sql() -> str:
    """DuckDB twin of ``minhash_signatures(num_hashes=16,
    double_hash=md5_pair)`` over the ``sh`` CTE of `shingles_sql`: the CTEs
    ``h`` (doc_id, h1, h2 — the `md5_pair` halves of each shingle) and
    ``sig`` (doc_id, i, mh — the signature in long form, mh = ``mh_{i}``)."""
    return f"""h AS (
      SELECT doc_id,
             ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS h1,
             ('0x' || substr(md5(shingle), 9, 8))::BIGINT AS h2
      FROM sh
    ),
    sig AS (
      SELECT doc_id, i, min((h1 + i * h2) % 4294967296) AS mh
      FROM h CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS i) seeds
      GROUP BY doc_id, i
    )"""


def _band_buckets(
    sig: DataFrame, num_hashes: int, bands: int, hash_buckets: bool
) -> DataFrame:
    """(key, band, bucket) rows from a MinHash signature table — the
    LSH banding shared by the self-join and cross-corpus paths. bucket =
    hash of the band's signature slice (compact shuffle key) or the raw
    slice as a struct — identical join semantics; the struct form lets a
    SQL oracle reproduce the join exactly."""
    rows_per_band = num_hashes // bands
    band_cols = []
    for b in range(bands):
        cols = [
            F.col(f"mh_{i}")
            for i in range(b * rows_per_band, (b + 1) * rows_per_band)
        ]
        bucket = (
            F.xxhash64(*cols)
            if hash_buckets
            # uniform field names so all bands share one struct type
            else F.struct(*[c.alias(f"s{j}") for j, c in enumerate(cols)])
        )
        band_cols.append(
            F.struct(F.lit(b).alias("band"), bucket.alias("bucket"))
        )
    return sig.select(
        "key", F.explode(F.array(*band_cols)).alias("bb")
    ).select("key", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


def band_buckets_sql(bands: int, suffix: str = "") -> str:
    """DuckDB twin of ``_band_buckets(sig, 16, bands, hash_buckets=False)``
    over the ``sig`` CTE of `minhash_signatures_sql`: the CTE
    ``bands{suffix}`` (doc_id, band, sig_str), where sig_str joins the
    band's signature slice with commas — two docs share a sig_str exactly
    when they share the struct bucket."""
    rows_per_band = 16 // bands
    return f"""bands{suffix} AS (
      SELECT doc_id, i // {rows_per_band} AS band,
             string_agg(mh::VARCHAR, ',' ORDER BY i) AS sig_str
      FROM sig GROUP BY doc_id, i // {rows_per_band}
    )"""


def minhash_candidate_pairs(
    df: DataFrame,
    key_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    materialize: bool = True,
    double_hash=None,
    hash_buckets: bool = True,
) -> DataFrame:
    """X3: LSH banding — docs whose signature agrees on ALL rows of at least
    one band become candidate pairs (shingle→minhash→band→bucket-join).

    Scale: the bucket join shuffles on (band, bucket-hash); hot buckets are
    AQE-skew-split. Output: (key_a, key_b) distinct candidate pairs.

    ``materialize`` (default on) localCheckpoints the signature table —
    it is tiny (one row per doc × num_hashes longs) and both sides of the
    bucket self-join derive from it, so without it the expensive
    shingle-explode + minhash aggregation runs TWICE.
    """
    if bands < 1 or num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes ({num_hashes}) must divide evenly into bands "
            f"({bands}) — a remainder would silently drop signature rows "
            "and change the (rows, bands) recall trade the caller tuned"
        )
    rows_per_band = num_hashes // bands
    sig = minhash_signatures(df, key_col, text_col, num_hashes, double_hash)
    if materialize:
        sig = sig.localCheckpoint(eager=True)
    buckets = _band_buckets(sig, num_hashes, bands, hash_buckets)
    a = buckets.select(F.col("key").alias("key_a"), "band", "bucket")
    b2 = buckets.select(F.col("key").alias("key_b"), "band", "bucket")
    return (
        a.join(b2, ["band", "bucket"])
        .filter(F.col("key_a") < F.col("key_b"))
        .select("key_a", "key_b")
        .distinct()
    )


def minhash_pairs_against(
    index_df: DataFrame | None,
    batch_df: DataFrame,
    key_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    double_hash=None,
    hash_buckets: bool = True,
    index_signatures: DataFrame | None = None,
) -> DataFrame:
    """X3f: INCREMENTAL cross-corpus MinHash dedup — candidate pairs
    between a NEW batch and an already-indexed corpus, the shape a daily
    ingest actually runs: yesterday's corpus keeps its (tiny) signature
    table; only today's batch pays the shingle→minhash aggregation, and
    the band join is batch×index instead of corpus×corpus. The self-join
    form (`minhash_candidate_pairs`) re-banding the whole corpus per
    ingest would re-shuffle 100 TB daily for a GB of new data.

    Returns distinct (batch_key, index_key) candidate pairs (one row per
    batch doc × colliding index doc). Both tables MUST be signed with the
    same hash family/params — enforced here by deriving both signature
    tables from the same arguments when ``index_signatures`` is absent.

    ``index_signatures`` is the daily-ingest fast path: pass the
    PERSISTED index signature table (exactly `minhash_signatures`'
    output schema — ``key`` plus ``mh_0..mh_{num_hashes-1}``, one row of
    ``num_hashes`` longs per doc) and the index side pays ZERO
    shingle→minhash work this call; only the batch is signed. The schema
    is validated fail-loud (a column-set mismatch means the table was
    signed with different params, which would silently produce empty
    band joins). With it set, ``index_df`` may be None. The caller owns
    the hash-family contract: signatures persisted under one
    double_hash must be probed with the same family.

    Scale: the join shuffles on (band, bucket) like the self-join; the
    index side's bucket table is signature-sized (#docs × bands rows),
    never corpus-sized, and AQE splits hot buckets (boilerplate bands).
    No key ordering filter — the tables are disjoint by contract (a key
    present in both sides would legitimately pair with itself, which is
    exactly what an ingest wants to detect).
    """
    if bands < 1 or num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes ({num_hashes}) must divide evenly into bands "
            f"({bands})"
        )
    if index_signatures is not None:
        expected = {"key"} | {f"mh_{i}" for i in range(num_hashes)}
        got = set(index_signatures.columns)
        if got != expected:
            raise ValueError(
                "index_signatures schema mismatch: expected exactly "
                f"{sorted(expected)}, got {sorted(got)} — was the table "
                f"signed with num_hashes={num_hashes}?"
            )
        sig_i = index_signatures
    elif index_df is None:
        raise ValueError("provide index_df or index_signatures")
    else:
        sig_i = minhash_signatures(
            index_df, key_col, text_col, num_hashes, double_hash
        )
    sig_b = minhash_signatures(batch_df, key_col, text_col, num_hashes, double_hash)
    bi = _band_buckets(sig_i, num_hashes, bands, hash_buckets).select(
        F.col("key").alias("index_key"), "band", "bucket"
    )
    bb = _band_buckets(sig_b, num_hashes, bands, hash_buckets).select(
        F.col("key").alias("batch_key"), "band", "bucket"
    )
    return (
        bb.join(bi, ["band", "bucket"])
        .select("batch_key", "index_key")
        .distinct()
    )


def _shingle_overlap(
    df: DataFrame,
    key_col: str,
    text_col: str,
    shingle_n: int,
    min_shared: int,
    max_df: int | None,
) -> DataFrame:
    """The shingle inverted index both overlap operators share — shuffle
    on the shingle (the classic "document join" plan): explode distinct
    shingles, self-join on shingle to count intersections, attach both
    per-doc sizes. Returns (key_lo, key_hi, inter_cnt, n_lo, n_hi), one
    row per unordered pair (key_lo < key_hi) sharing >= ``min_shared``
    shingles.

    Skew guard: a shingle appearing in ``df`` documents produces an O(df²)
    bucket in the self-join — one hot shingle (a boilerplate phrase) would
    dominate the whole job. ``max_df`` drops shingles whose document
    frequency exceeds the cap before the join (standard prefix-filtering:
    ubiquitous shingles carry ~no overlap signal anyway). This makes
    ``inter_cnt`` a lower bound when the cap fires; sizes stay exact.

    The exploded index is localCheckpointed for its consumers (doc-freq
    and both join sides): without it the shingle explode runs once per
    consumer — the multi-consumer rule the stream operators below cite."""
    # per-doc sizes are ROW-LOCAL (size of the distinct shingle array):
    # recomputing the shingle HOF is cheaper than a shuffle + hash agg
    # over the exploded index, and keeps one consumer off the checkpoint
    sizes = df.select(
        F.col(key_col).alias("key"),
        F.size(F.array_distinct(_shingles(F.col(text_col), shingle_n)))
        .cast("long")
        .alias("n_sh"),
    )
    sh = df.select(
        F.col(key_col).alias("key"),
        F.explode(F.array_distinct(_shingles(F.col(text_col), shingle_n))).alias(
            "shingle"
        ),
    )
    sh = sh.localCheckpoint(eager=True)
    if max_df is not None:
        dfreq = sh.groupBy("shingle").agg(F.count("*").alias("_df"))
        sh = sh.join(dfreq.filter(F.col("_df") <= max_df), "shingle", "inner").drop(
            "_df"
        )
    a = sh.select(F.col("key").alias("key_lo"), "shingle")
    b = sh.select(F.col("key").alias("key_hi"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("key_lo") < F.col("key_hi"))
        .groupBy("key_lo", "key_hi")
        .agg(F.count("*").alias("inter_cnt"))
        .filter(F.col("inter_cnt") >= min_shared)
    )
    slo = sizes.select(F.col("key").alias("key_lo"), F.col("n_sh").alias("n_lo"))
    shi = sizes.select(F.col("key").alias("key_hi"), F.col("n_sh").alias("n_hi"))
    return inter.join(slo, "key_lo").join(shi, "key_hi")


def ngram_jaccard_pairs(
    df: DataFrame,
    key_col: str,
    text_col: str,
    shingle_n: int = 3,
    min_shared: int = 2,
    max_df: int | None = 1000,
) -> DataFrame:
    """X2b: n-gram Jaccard similarity via an inverted index — shuffle on the
    shingle (the classic "document join" plan): explode distinct shingles,
    self-join on shingle to count intersections, then compute union sizes
    from per-doc counts. Integer outputs (inter/union) keep the oracle
    byte-exact; jaccard = inter/union is derivable.

    Skew guard: ``max_df`` drops shingles whose document frequency
    exceeds the cap before the self-join (`_shingle_overlap`, which
    also localCheckpoints the exploded index). This makes ``inter_cnt``
    a lower bound when the cap fires; union sizes stay exact.
    """
    both = _shingle_overlap(df, key_col, text_col, shingle_n, min_shared, max_df)
    return both.select(
        F.col("key_lo").alias("key_a"),
        F.col("key_hi").alias("key_b"),
        "inter_cnt",
        (F.col("n_lo") + F.col("n_hi") - F.col("inter_cnt")).alias("union_cnt"),
    )


def containment_pairs(
    df: DataFrame,
    key_col: str,
    text_col: str,
    shingle_n: int = 3,
    min_shared: int = 2,
    max_df: int | None = 1000,
) -> DataFrame:
    """X3d: ASYMMETRIC shingle containment — (key_a, key_b, inter_cnt,
    n_a) for every ordered candidate pair, where ``inter_cnt / n_a`` is
    the fraction of a's shingles that also appear in b. Jaccard misses
    the quote-inclusion case that matters most for training-data dedup:
    a short document wholly embedded in a long one has tiny
    union-normalized similarity but containment ≈ 1. This is the
    Broder resemblance/containment split — same inverted index, the
    normalizer is the CONTAINED side's size instead of the union.

    Plan shape is `_shingle_overlap`'s document join (shuffle on the
    shingle, ``max_df`` prefix-filter kills O(df²) hot-shingle buckets);
    the two orientations of each unordered pair are emitted by a
    row-local array explode AFTER the pair agg — both sizes are already
    on the row, so direction costs zero extra shuffles. Integer outputs
    keep the oracle byte-exact; callers threshold ``inter_cnt * 100 >=
    pct * n_a`` in integers.

    Caveat shared with the Jaccard form: when the ``max_df`` cap fires,
    ``inter_cnt`` (and so containment) is a lower bound; sizes stay
    exact.
    """
    both = _shingle_overlap(df, key_col, text_col, shingle_n, min_shared, max_df)
    # row-local orientation fan-out: (lo contained-in hi) and (hi in lo)
    return both.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("key_lo").alias("key_a"),
                    F.col("key_hi").alias("key_b"),
                    F.col("inter_cnt"),
                    F.col("n_lo").alias("n_a"),
                ),
                F.struct(
                    F.col("key_hi").alias("key_a"),
                    F.col("key_lo").alias("key_b"),
                    F.col("inter_cnt"),
                    F.col("n_hi").alias("n_a"),
                ),
            )
        ).alias("p")
    ).select("p.key_a", "p.key_b", "p.inter_cnt", "p.n_a")


def simhash_pairs(
    fps: DataFrame,
    key_col: str = "key",
    fp_col: str = "simhash",
    bits: int = 60,
    max_hamming: int = 3,
    materialize: bool = True,
) -> DataFrame:
    """Near-duplicate pairs from SimHash fingerprints: (key_a, key_b,
    hamming) for every pair within ``max_hamming`` bits — the SEARCH half
    of the SimHash scheme (the `simhash` operator only fingerprints).

    Pigeonhole banding (Manku et al.'s web-dedup rotation trick, in band
    form): split the fingerprint into ``max_hamming + 1`` bit-bands — a
    pair differing in <= max_hamming bits can touch at most max_hamming
    bands, so AT LEAST ONE band matches exactly. Candidates are an
    equi-join on (band_idx, band_value); the all-pairs O(n²) comparison
    never exists. Each surviving pair re-checks the EXACT Hamming
    distance (bit_count of XOR, row-local), and multi-band collisions
    dedup WITHOUT a shuffle: both fingerprints are in the row, so each
    pair keeps only the join row whose band_idx equals its first agreeing
    band — the same canonical-witness trick as interval_overlap_join's
    canonical bin.

    Scale: band width = bits/(max_hamming+1) sets bucket cardinality
    (2^width); 60-bit fingerprints at h=3 give 15-bit bands (32k buckets)
    — hot buckets are ordinary join skew (AQE). 32-bit fingerprints leave
    8-bit bands that bucket too coarsely at corpus scale; prefer >= 60
    bits for production (the md5-declared 60-bit form is exactly
    oracle-reproducible, so nothing is lost going wide).

    ``materialize`` (default on, r11-opt — the `minhash_candidate_pairs`
    precedent): localCheckpoints the fingerprint table, which BOTH
    sides of the band self-join consume — without it a lazy upstream
    fingerprint pass (md5/aHash/energy folds over full payloads) runs
    twice. Pass ``materialize=False`` when ``fps`` is already
    checkpoint-backed (the multimodal pair queries union id-shifted
    keys over a checkpointed fingerprint table)."""
    n_bands = max_hamming + 1
    if bits % n_bands:
        raise ValueError(f"bits ({bits}) must divide into {n_bands} equal bands")
    if materialize:
        fps = fps.localCheckpoint(eager=True)
    width = bits // n_bands
    mask = (1 << width) - 1

    def band(col, i: int):
        return F.shiftright(col, i * width).bitwiseAND(F.lit(mask).cast("long"))

    def side(tag: str) -> DataFrame:
        exploded = fps.select(
            F.col(key_col).alias(f"key_{tag}"),
            F.col(fp_col).alias(f"fp_{tag}"),
            F.explode(F.array(*[F.lit(i) for i in range(n_bands)])).alias(
                "band_idx"
            ),
        )
        # SQL shiftright: the Python wrapper only takes a literal shift,
        # but the SQL form accepts any int expression
        return exploded.withColumn(
            "band_val",
            F.expr(f"shiftright(fp_{tag}, band_idx * {width}) & {mask}"),
        )

    a, b = side("a"), side("b")
    joined = a.join(b, ["band_idx", "band_val"]).filter(
        F.col("key_a") < F.col("key_b")
    )
    # first agreeing band, computed row-locally from the two fingerprints
    agree = F.array(
        *[
            band(F.col("fp_a"), i) == band(F.col("fp_b"), i)
            for i in range(n_bands)
        ]
    )
    first_agree = F.array_position(agree, F.lit(True)) - 1
    ham = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    return (
        joined.filter(F.col("band_idx") == first_agree)
        .filter(ham <= max_hamming)
        .select("key_a", "key_b", ham.cast("long").alias("hamming"))
    )


def simhash(
    df: DataFrame, key_col: str, text_col: str, bits: int = 32, hash_fn=None
) -> DataFrame:
    """X2c: SimHash fingerprint per document — sign-sum of per-token hash
    bits, all in built-in array/bitwise expressions (no UDF).

    For each bit position b: count tokens whose hash has bit b set, vs
    total; bit of the fingerprint = majority. Near-dups = small Hamming
    distance between fingerprints.

    ``hash_fn`` maps a token Column to an integer hash Column. Default is
    ``xxhash64`` (cheapest JVM hash — the 100 TB choice); the declared
    query passes an md5-derived 32-bit hash instead, which DuckDB can
    reproduce bit-for-bit, upgrading the oracle from rows-only to exact.
    """
    if hash_fn is None:
        hash_fn = F.xxhash64
    toks = df.select(
        F.col(key_col).alias("key"),
        F.explode(F.split(F.col(text_col), " ")).alias("tok"),
    ).withColumn("h", hash_fn(F.col("tok")))
    # NB: shift Python-side (1 << b) — PySpark Column has no __lshift__.
    aggs = [
        F.sum(
            F.when(F.col("h").bitwiseAND(F.lit(1 << b).cast("long")) != 0, 1).otherwise(-1)
        ).alias(f"b{b}")
        for b in range(bits)
    ]
    per_bit = toks.groupBy("key").agg(*aggs)
    fp = F.lit(0).cast("long")
    for b in range(bits):
        fp = fp + F.when(F.col(f"b{b}") > 0, F.lit(1 << b).cast("long")).otherwise(0)
    return per_bit.select("key", fp.alias("simhash"))


def _kgram_occurrences(
    df: DataFrame,
    key_col: str,
    text_col: str,
    k: int,
    checkpoint_tokens: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """The positional k-gram stream both span operators share, returning
    ``(tokens, occurrences)``: ``tokens`` is (key, _t, n_tokens) with
    empty tokens dropped, and ``occurrences`` is (key, n_tokens, start,
    shingle), one row per 1-based k-gram start of every document with
    at least ``k`` tokens. The explode is row-local.
    ``checkpoint_tokens`` materializes ``tokens`` first, for a caller
    that reads it again."""
    toks = F.filter(F.split(F.col(text_col), " "), lambda t: t != F.lit(""))
    tokens = df.select(
        F.col(key_col).alias("key"),
        toks.alias("_t"),
        F.size(toks).cast("long").alias("n_tokens"),
    )
    if checkpoint_tokens:
        tokens = tokens.localCheckpoint(eager=True)
    occurrences = (
        tokens.filter(F.col("n_tokens") >= k)
        .select(
            "key",
            "n_tokens",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.col("n_tokens") - F.lit(k - 1)),
                    lambda i: F.struct(
                        i.cast("long").alias("start"),
                        F.array_join(F.slice(F.col("_t"), i, k), " ").alias(
                            "shingle"
                        ),
                    ),
                )
            ).alias("_s"),
        )
        .select(
            "key",
            "n_tokens",
            F.col("_s.start").alias("start"),
            F.col("_s.shingle").alias("shingle"),
        )
    )
    return tokens, occurrences


def repeated_span_stats(
    df: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    span_tokens: int = 5,
    min_docs: int = 2,
    flag_pct: int = 50,
) -> DataFrame:
    """Cross-document repeated-SPAN audit — the exact-substring dedup
    signal of Lee et al., "Deduplicating Training Data Makes Language
    Models Better" (ACL 2022): a ``span_tokens``-gram that recurs in
    ``min_docs``+ documents marks boilerplate / license blocks / quoted
    chains that survive document-level near-dup filters. Per document
    this returns how MUCH of it is such repeated material:

        (key, n_tokens, n_occurrences, n_spans, n_tokens_covered,
         flagged)

    where ``n_spans`` counts maximal contiguous covered runs after
    merging overlapping/adjacent k-gram hits, ``n_tokens_covered`` is
    the exact union size of the hit intervals, and ``flagged`` is the
    integer comparison ``100·covered >= flag_pct·n_tokens`` (the
    "mostly duplicated text" drop rule).

    Plan, inverted-index family (same scale story as
    `ngram_jaccard_pairs`): positions explode row-locally; the
    document-frequency agg shuffles the distinct (shingle, doc) pairs
    (map-side combine) down to the shingle vocabulary; repeated-shingle
    keys equi-join back onto the occurrence stream; ONE doc-keyed
    window then merges intervals with integer gap arithmetic — covered
    tokens per occurrence = ``min(gap, k)`` (``k`` for the first), a
    new span wherever ``gap > k``. No pair materialization anywhere:
    cost is linear in occurrences, so a shingle hitting M documents
    contributes M rows, never M² (contrast pair-emitting dedup — this
    op reads coverage per doc, not links between docs).

    The exploded occurrence stream is localCheckpointed: BOTH the
    document-frequency agg and the join-back consume it — without it
    the corpus scan + shingle explode run twice (the
    `_shingle_overlap` rule).
    """
    _, sh = _kgram_occurrences(df, key_col, text_col, span_tokens)
    sh = sh.localCheckpoint(eager=True)
    rep = (
        sh.groupBy("shingle")
        .agg(F.count_distinct("key").alias("_dc"))
        .filter(F.col("_dc") >= min_docs)
        .select("shingle")
    )
    occ = sh.join(rep, "shingle")
    w = Window.partitionBy("key").orderBy("start")
    g = occ.select(
        "key",
        "n_tokens",
        "start",
        (F.col("start") - F.lag("start").over(w)).alias("_gap"),
    )
    k = F.lit(span_tokens).cast("long")
    agged = g.groupBy("key", "n_tokens").agg(
        F.count(F.lit(1)).alias("n_occurrences"),
        F.sum(
            F.when(F.col("_gap").isNull() | (F.col("_gap") > k), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_spans"),
        F.sum(
            F.when(F.col("_gap").isNull(), k).otherwise(
                F.least(F.col("_gap"), k)
            )
        )
        .cast("long")
        .alias("n_tokens_covered"),
    )
    return agged.select(
        F.col("key"),
        "n_tokens",
        "n_occurrences",
        "n_spans",
        "n_tokens_covered",
        (
            F.lit(100) * F.col("n_tokens_covered")
            >= F.lit(flag_pct) * F.col("n_tokens")
        ).alias("flagged"),
    )


_MAX_PARAS = 4096  # paragraphs per document that paragraph_dedup can address


def paragraph_dedup(
    df: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    para_tokens: int = 10,
) -> DataFrame:
    """Paragraph-level exact dedup — the CCNet preprocessing step
    (Wenzek et al., LREC 2020): split each document into paragraphs,
    keep only the globally FIRST occurrence of each repeated paragraph,
    and reassemble the surviving text per document. Catches the
    boilerplate (headers, license blocks, navigation chrome) that
    document-level dedup misses because the surrounding text differs.

    The corpus here is flat token text, so "paragraph" is a
    non-overlapping ``para_tokens``-token chunk (documented stand-in
    for newline-delimited paragraphs; the mechanics are identical).
    Returns (key, n_paras, n_kept, text_dedup) where ``text_dedup``
    rejoins the kept paragraphs in original order ('' if every
    paragraph of the doc appeared earlier elsewhere).

    First-occurrence is the global min of the packed position
    ``key·4096 + pos`` per paragraph STRING (no hashing — exact
    text identity), guarded in-plan by ``assert_true(pos < 4096)``
    so the packing cannot alias two occurrences.

    Scale: the explode is row-local; the first-occurrence agg is one
    shuffle on the paragraph string with map-side combine (a
    boilerplate paragraph repeated a billion times partial-aggregates
    to one row per map task — no skew lever needed, same argument as
    `dedup_exact_keep_first`); the join-back keys on the near-unique
    aggregated side; the reassembly is one shuffle on the doc key.
    No pair materialization anywhere — cost is linear in paragraphs.
    The exploded paragraph stream its two consumers share is
    localCheckpointed, so the corpus scan + explode run once.

    ``key_col`` must be an integral type: the packed first-occurrence
    address is ``key·4096 + pos``, and Spark's implicit
    string→double cast would turn a string key into NULL ``occ`` for
    EVERY row — ``kept`` would be NULL everywhere and all paragraphs
    silently dropped. Fail loud instead (the bloom_semi_join guard
    pattern); callers with string keys pre-map them to longs
    (`etl.assign_surrogate_keys` is the standard bridge).
    """
    require_integral_key(df, key_col, "paragraph_dedup")
    toks = F.split(F.col(text_col), " ")
    d = df.select(
        F.col(key_col).alias("key"),
        toks.alias("_t"),
        F.ceil(F.size(toks) / F.lit(para_tokens)).cast("int").alias("_np"),
    )
    d = d.select(
        "key",
        "_t",
        F.explode(F.sequence(F.lit(0), F.col("_np") - 1)).alias("pos"),
    )
    guard = F.assert_true(
        F.col("pos") < _MAX_PARAS,
        F.lit(f"paragraph_dedup: document exceeds {_MAX_PARAS} paragraphs"),
    )
    # assert_true is NULL whenever the check passes, so the filter keeps
    # every row and only exists to fail the job loudly on a violation
    # (the operators/joins.py guard pattern).
    paras = d.where(guard.isNull()).select(
        "key",
        "pos",
        F.array_join(
            F.slice("_t", F.col("pos") * para_tokens + 1, para_tokens), " "
        ).alias("para"),
        (F.col("key") * _MAX_PARAS + F.col("pos")).cast("long").alias("occ"),
    )
    # both the first-occurrence agg and the join-back consume `paras`;
    # without this the corpus scan + explode run twice (the
    # `_shingle_overlap`/`repeated_span_stats` multi-consumer rule)
    paras = paras.localCheckpoint(eager=True)
    firsts = paras.groupBy("para").agg(F.min("occ").alias("first_occ"))
    tagged = paras.join(firsts, "para").withColumn(
        "kept", F.col("occ") == F.col("first_occ")
    )
    return tagged.groupBy("key").agg(
        F.count(F.lit(1)).cast("long").alias("n_paras"),
        F.sum(F.when(F.col("kept"), 1).otherwise(0))
        .cast("long")
        .alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("kept"), F.struct("pos", "para"))
                    )
                ),
                lambda s: s["para"],
            ),
            " ",
        ).alias("text_dedup"),
    )


_FS_MATCH, _FS_POSSIBLE = 4000, 1500  # fellegi_sunter_pairs' class thresholds


def fellegi_sunter_pairs(
    a: DataFrame,
    b: DataFrame,
    key_col: str,
    block_cols: list[str],
    fields: list[dict],
) -> DataFrame:
    """Probabilistic record linkage — the Fellegi-Sunter model (JASA
    1969), the standard patient-matching decision rule: block candidate
    pairs on a cheap key, compare each field, and sum per-field
    log-likelihood-ratio weights (integer milli-units here, so the
    score is exact and reassociation-free); classify by thresholds: a
    score of at least ``_FS_MATCH`` (4000) is a match, one of at least
    ``_FS_POSSIBLE`` (1500) a possible match.

    ``fields``: list of dicts with keys
      - ``col``: column name present in both inputs,
      - ``w_match`` / ``w_miss``: integer weights for exact agree /
        disagree (≈ 1000·ln(m/u) and 1000·ln((1-m)/(1-u))),
      - optional ``close``: ``(max_levenshtein, w_close)`` for a
        partial-agreement middle level (string fields).

    Returns (key_a, key_b, pattern, score, match_class) for pairs at or
    above ``_FS_POSSIBLE``; ``pattern`` is one char per field —
    E(xact) / C(lose) / M(iss) — the agreement vector γ of the model.

    Scale: the block key is the ONLY shuffle key; the quadratic
    comparator is bounded by the largest block (same contract as
    `fuzzy_dedup_pairs`); weights and classification are row-local; the
    ``_FS_POSSIBLE`` cut happens before any further shuffle, so
    non-matches (the overwhelming majority of candidate pairs at
    100 TB) never leave the comparator stage.

    The Levenshtein short-circuit's soundness requires ``w_close >=
    w_miss`` for every close field (the model's own semantics — partial
    agreement never scores BELOW disagreement): suppressing 'C' to 'M'
    must only ever lower the score. Pathological inverted weights
    (w_miss > w_close) would let a suppressed pair score HIGHER as 'M'
    and clear ``_FS_POSSIBLE`` with the wrong pattern — validated
    fail-loud here rather than silently mis-patterned.
    """
    for f in fields:
        if f.get("close") is not None and f["close"][1] < f["w_miss"]:
            raise ValueError(
                f"fellegi_sunter_pairs: field {f['col']!r} has w_close "
                f"({f['close'][1]}) < w_miss ({f['w_miss']}) — inverted "
                "weights break the Levenshtein short-circuit (a "
                "suppressed close match would score higher as a miss) "
                "and contradict the F-S partial-agreement semantics"
            )
    sel_a = [F.col(key_col).alias("key_a")] + [
        F.col(f["col"]).alias(f"_a_{f['col']}") for f in fields
    ]
    sel_b = [F.col(key_col).alias("key_b")] + [
        F.col(f["col"]).alias(f"_b_{f['col']}") for f in fields
    ]
    left = a.select(*sel_a, *[F.col(c).alias(f"_blk_{i}") for i, c in enumerate(block_cols)])
    right = b.select(*sel_b, *[F.col(c).alias(f"_blk_{i}") for i, c in enumerate(block_cols)])
    pairs = left.join(right, [f"_blk_{i}" for i in range(len(block_cols))])

    # Exact-equality comparisons are ~free; Levenshtein dominates the
    # per-pair cost (probe: the comparator ran at-linear without this).
    # Sound short-circuit: a close field's edit distance only needs
    # computing when the pair could still reach _FS_POSSIBLE with the
    # close weight — i.e. when the EXACT scores of the equality-only
    # fields plus this field's w_close plus every OTHER close field's
    # best case clears the threshold. When it can't, classifying the
    # pair 'M' is output-identical: with 'C' it would score even lower
    # than any kept pair and be filtered all the same. CaseWhen and AND
    # evaluate left-to-right with short-circuit in codegen, so the
    # guard really does skip the levenshtein call.
    cheap_sum = None
    for f in fields:
        if f.get("close") is None:
            fa, fb = F.col(f"_a_{f['col']}"), F.col(f"_b_{f['col']}")
            sc = F.when(fa == fb, F.lit(f["w_match"])).otherwise(
                F.lit(f["w_miss"])
            )
            cheap_sum = sc if cheap_sum is None else cheap_sum + sc
    if cheap_sum is None:
        cheap_sum = F.lit(0)
    close_best = {
        f["col"]: max(f["w_match"], f["close"][1])
        for f in fields
        if f.get("close") is not None
    }

    levels, scores = [], []
    for f in fields:
        fa, fb = F.col(f"_a_{f['col']}"), F.col(f"_b_{f['col']}")
        close = f.get("close")
        lvl = F.when(fa == fb, F.lit("E"))
        if close is not None:
            max_d, w_close = close
            others_best = sum(
                v for c, v in close_best.items() if c != f["col"]
            )
            reachable = (
                cheap_sum + F.lit(w_close + others_best) >= F.lit(_FS_POSSIBLE)
            )
            lvl = lvl.when(
                reachable & (F.levenshtein(fa, fb) <= max_d), F.lit("C")
            )
        lvl = lvl.otherwise(F.lit("M"))
        levels.append(lvl)
        sc = F.when(lvl == "E", F.lit(f["w_match"]))
        if close is not None:
            sc = sc.when(lvl == "C", F.lit(close[1]))
        scores.append(sc.otherwise(F.lit(f["w_miss"])))

    total = scores[0]
    for s in scores[1:]:
        total = total + s
    scored = pairs.select(
        "key_a",
        "key_b",
        F.concat(*levels).alias("pattern"),
        total.cast("long").alias("score"),
    ).filter(F.col("score") >= _FS_POSSIBLE)
    return scored.withColumn(
        "match_class",
        F.when(F.col("score") >= _FS_MATCH, F.lit("match")).otherwise(
            F.lit("possible")
        ),
    )


def span_rewrite(
    df: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    span_tokens: int = 5,
    min_docs: int = 2,
    occ_stride: int = 1 << 20,
) -> DataFrame:
    """The ACTION half of `repeated_span_stats` (r10 verdict gap): rewrite
    every document with cross-document repeated spans EXCISED, keeping
    each repeated k-gram's globally FIRST occurrence — Lee et al.'s
    (ACL 2022) exact-substring dedup applied as an edit, the
    `paragraph_dedup` keep-first-and-reassemble pattern at span
    granularity. Returns (key, n_tokens, n_removed, text_rewrite).

    Rule, exactly replayable in SQL: a k-gram occurring in >=
    ``min_docs`` documents is repeated; its global first occurrence is
    the minimum of ``occ = key * occ_stride + start`` (contract:
    documents shorter than ``occ_stride`` tokens — the
    `paragraph_dedup` position-packing bound, 1M tokens at the
    default); every token position covered by a NON-first occurrence
    is removed; survivors rejoin single-spaced in original order (''
    if nothing survives). A token covered only by first occurrences
    stays — the canonical copy is never edited, so every repeated span
    still exists exactly once in the corpus.

    Plan, inverted-index family (zero pair materialization): shingle
    explode row-local; one vocab-sized agg finds repeated shingles +
    their min-occ (map-side combine); one join-back tags non-first
    occurrences; covered positions explode k rows per occurrence into a
    doc-keyed distinct; the token stream left-anti joins the removal
    set on (doc, pos) and ONE doc-keyed agg reassembles. Linear in
    occurrences — a shingle in M docs costs M rows, never M^2.
    The occurrence stream consumed by both the vocab agg and the
    join-back is localCheckpointed (the `_shingle_overlap` rule).

    Like `paragraph_dedup`, ``key_col`` must be an integral type (a
    string key would turn every ``occ`` NULL and remove nothing), and a
    document of ``occ_stride`` or more tokens fails the job in-plan
    instead of aliasing its positions into the next key's range."""
    require_integral_key(df, key_col, "span_rewrite")
    k = span_tokens
    # base feeds the shingle stream, the token stream and the output spine
    base, sh = _kgram_occurrences(df, key_col, text_col, k, checkpoint_tokens=True)
    guard = F.assert_true(
        F.col("n_tokens") < occ_stride,
        F.lit(f"span_rewrite: document has >= occ_stride={occ_stride} tokens"),
    )
    # assert_true is NULL whenever the check passes: the filter keeps
    # every row and only fails the job loudly on a violation (the
    # paragraph_dedup guard pattern)
    sh = sh.where(guard.isNull()).select(
        "key",
        "start",
        "shingle",
        (F.col("key") * F.lit(occ_stride) + F.col("start"))
        .cast("long")
        .alias("occ"),
    )
    sh = sh.localCheckpoint(eager=True)
    rep = (
        sh.groupBy("shingle")
        .agg(
            F.count_distinct("key").alias("_dc"),
            F.min("occ").alias("first_occ"),
        )
        .filter(F.col("_dc") >= min_docs)
        .select("shingle", "first_occ")
    )
    removed = (
        sh.join(rep, "shingle")
        .filter(F.col("occ") != F.col("first_occ"))
        .select(
            "key",
            F.explode(
                F.sequence(F.col("start"), F.col("start") + F.lit(k - 1))
            ).alias("pos"),
        )
        .distinct()
    )
    tok_stream = base.select(
        "key", F.posexplode("_t").alias("_p0", "tok")
    ).select("key", (F.col("_p0") + 1).cast("long").alias("pos"), "tok")
    kept = (
        tok_stream.join(removed, ["key", "pos"], "left_anti")
        .groupBy("key")
        .agg(
            F.count(F.lit(1)).cast("long").alias("_n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                    lambda s: s.tok,
                ),
                " ",
            ).alias("text_rewrite"),
        )
    )
    return base.select("key", "n_tokens").join(kept, "key", "left").select(
        "key",
        "n_tokens",
        (F.col("n_tokens") - F.coalesce(F.col("_n_kept"), F.lit(0)))
        .cast("long")
        .alias("n_removed"),
        F.coalesce(F.col("text_rewrite"), F.lit("")).alias("text_rewrite"),
    )
