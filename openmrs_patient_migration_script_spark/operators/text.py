"""Text-analysis operators (SURVEY.md §2.9 X5/X6 + builder-brief extensions:
language-ID, quality scoring, token counting, document fingerprinting).

All JVM built-ins — `split`/`explode`/higher-order array functions — no
Python UDFs anywhere (HOF lambdas evaluate interpreted but stay row-local
here; the generators and aggregations around them are codegen'd). `documents`
at 100 TB is the text corpus of an LLM training pipeline: per-doc transforms
are narrow (scan-projections), and the only shuffles are the token/doc-freq
aggregations, which Spark executes with map-side partial aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# small fixed stopword list; the DuckDB oracles read it as STOPWORDS_SQL and
# through quality_exprs_sql, so an edit here reaches both engines.
STOPWORDS: tuple[str, ...] = ("the", "a", "of", "and", "in", "to", "is")
STOPWORDS_SQL = "[" + ", ".join(f"'{s}'" for s in STOPWORDS) + "]"

# deterministic language marker map for the n-gram/marker-token heuristic.
# On real corpora these would be per-language frequency-ranked token lists;
# the harness vocabulary is synthetic, so the lists just pick disjoint
# vocabulary slices — the *mechanics* (per-lang scoring + argmax with a
# deterministic tie-break) are what the oracle verifies.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "de": ("hash", "sort", "merge"),
    "en": ("the", "a", "fast"),
    "es": ("data", "row", "slow"),
    "fr": ("filter", "join", "group"),
    "zh": ("window", "stream", "batch"),
}


def tokens(text_col) -> F.Column:
    """Lower-cased whitespace tokens with empties removed (BPE-ish regex
    splitting would swap the delimiter pattern here; the harness corpus is
    single-space separated)."""
    return F.filter(F.split(F.lower(text_col), " "), lambda t: t != F.lit(""))


def token_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """X5: corpus token frequency — explode + one hash aggregation (partial
    map-side combine makes the shuffle carry only the vocabulary)."""
    return (
        df.select(F.explode(tokens(F.col(text_col))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
    )


def token_counts_sql() -> str:
    """DuckDB twin of ``token_counts(documents)``: the CTE ``vocab``
    (token, cnt)."""
    return """vocab AS (
      SELECT token, count(*)::BIGINT AS cnt
      FROM (SELECT unnest(string_split(lower(text), ' ')) AS token
            FROM documents)
      WHERE token <> ''
      GROUP BY token
    )"""


def tf_idf(
    df: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    n_docs: int | None = None,
) -> DataFrame:
    """X6: TF-IDF per (doc, token) — pure DataFrame ops.

    tfidf = tf * ln((1 + N) / (1 + df)).

    Plan shape, chosen for 100 TB: the doc-frequency table aggregates down
    to the vocabulary (map-side partial combine → the shuffle carries ~the
    vocab, not the corpus) and is **broadcast** back onto the tf table —
    the big tf table itself never reshuffles (a per-token window would
    shuffle all of tf on a skewed key). tf feeds both the df aggregation
    and the join, so it is localCheckpointed once (one corpus scan).

    ``n_docs``: pass the corpus size when known (for a unique-keyed table
    a parquet metadata count is ~free); default derives it in-plan via a
    distinct-count crossJoin.
    """
    tf = (
        df.select(F.col(key_col), F.explode(tokens(F.col(text_col))).alias("token"))
        .groupBy(key_col, "token")
        .agg(F.count("*").alias("tf"))
    )
    tf = tf.localCheckpoint(eager=True)
    dfreq = tf.groupBy("token").agg(F.count("*").alias("df"))
    joined = tf.join(F.broadcast(dfreq), "token")
    if n_docs is None:
        n_df = df.select(F.countDistinct(key_col).alias("n_docs"))
        joined = joined.crossJoin(F.broadcast(n_df))
        n_expr = F.col("n_docs")
    else:
        n_expr = F.lit(float(n_docs))
    return joined.select(
        key_col,
        "token",
        "tf",
        "df",
        F.round(F.col("tf") * F.log((1.0 + n_expr) / (1.0 + F.col("df"))), 6).alias(
            "tfidf"
        ),
    )


def tf_idf_sql() -> str:
    """DuckDB twin of the stages of ``tf_idf`` over ``documents``: the CTEs
    ``toks`` (doc_id, token — empty tokens kept), ``tf`` (doc_id, token,
    tf — empty tokens dropped, as `tokens` drops them), ``dfreq`` (token,
    df) and ``n`` (n_docs); tfidf = round(tf * ln((1 + n_docs) / (1 +
    df)), 6)."""
    return """toks AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
      FROM documents
    ),
    tf AS (
      SELECT doc_id, token, count(*) AS tf FROM toks WHERE token <> ''
      GROUP BY doc_id, token
    ),
    dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
    n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents)"""


def keywords_topk(
    df: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    n_docs: int | None = None,
) -> DataFrame:
    """X6b: top-``k`` keyword extraction per document — the TF-IDF
    ranking materialized as each doc's ``k`` most characteristic terms
    (the doc-tagging / retrieval-summary step of a corpus pipeline).

    The RANK agrees with the ``tfidf`` column it emits BY CONSTRUCTION:
    the sort key is the 6dp tfidf itself, integer-scaled to a long
    (lossless — the column is already rounded to 6dp), with (df ASC,
    token ASC) tie-breaks. An earlier draft ranked tf-primary
    (tf DESC, df ASC), which is NOT the order tf·idf induces across
    tokens with different tf — a ubiquitous tf=2 token (idf≈0) would
    outrank a distinctive tf=1/df=1 term, contradicting the displayed
    tfidf. Cross-engine ln() ulp wobble is absorbed by the same 6dp
    rounding the tfidf column already carries, so ranking on it adds
    no new hash exposure.

    Plan: the `tf_idf` shape (vocab-sized df shuffle, broadcast back)
    plus ONE window shuffle of the (doc, token) pairs on the
    well-distributed doc key, where WindowGroupLimit prunes every
    partition to ``k`` rows before the exchange."""
    scored = tf_idf(df, key_col, text_col, n_docs=n_docs)
    w = Window.partitionBy(key_col).orderBy(
        F.round(F.col("tfidf") * 1e6).cast("long").desc(),
        F.col("df").asc(),
        F.col("token").asc(),
    )
    return (
        scored.withColumn("kw_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("kw_rank") <= k)
        .select(key_col, "kw_rank", "token", "tf", "df", "tfidf")
    )


def unigram_surprisal(
    df: DataFrame, key_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """X5f (r4): per-document mean unigram surprisal — the language-model
    quality filter (the poor man's KenLM): documents whose tokens are
    improbable under the corpus's own unigram distribution are the
    gibberish/boilerplate outliers a perplexity filter drops. Returns
    (key, n_tokens, avg_surprisal) with surprisal in nats; perplexity is
    ``exp(avg_surprisal)`` — a monotone transform left to the caller so
    the stored column stays exact.

    Plan shape for 100 TB: the unigram table aggregates down to the
    VOCABULARY (map-side partial combine — the shuffle carries word
    types, not the corpus), its total is a one-row broadcast, and the
    per-type surprisal table is **broadcast** back onto the exploded
    corpus — the big token stream itself shuffles exactly once, for the
    per-doc aggregation. An open 100 TB vocabulary caps the broadcast
    with top-K + an OOV floor probability (documented contract; the
    harness vocab is bounded).

    Exactness: per-TYPE surprisal is rounded once to a 6dp scaled long —
    ``c/T`` is an identical double on both engines, ln() may wobble a
    final ulp across libm/JVM, and round-to-integer of a 1e6-scaled
    value absorbs that everywhere except a measure-zero .5 boundary (the
    shared rounded-cosine convention). From there everything is exact:
    long sums per doc, HALF_UP mean via integer division (surprisal is
    non-negative: c <= T), one final /1e6 display division.
    """
    toks = df.select(
        F.col(key_col), F.explode(tokens(F.col(text_col))).alias("token")
    )
    vocab = toks.groupBy("token").agg(F.count("*").alias("c"))
    total = vocab.agg(F.sum("c").cast("double").alias("t"))
    surp = (
        vocab.crossJoin(F.broadcast(total))
        .select(
            "token",
            F.round(-F.log(F.col("c") / F.col("t")) * 1e6, 0)
            .cast("long")
            .alias("s6"),
        )
    )
    per_doc = (
        toks.join(F.broadcast(surp), "token")
        .groupBy(key_col)
        .agg(F.count("*").alias("n_tokens"), F.sum("s6").alias("_ss"))
    )
    return per_doc.select(
        key_col,
        "n_tokens",
        (
            F.expr("(2 * _ss + n_tokens) div (2 * n_tokens)") / F.lit(1e6)
        ).alias("avg_surprisal"),
    )


def quality_exprs(text_col) -> dict[str, F.Column]:
    """Quality-signal expressions over one text column — exposed at the
    expression level so composed pipelines (operators/corpus.py) can stack
    them onto an existing projection without a join."""
    toks = tokens(text_col)
    # array_size, not size: with ANSI off size(NULL) is -1, and NULL text
    # must give NULL signals, as the twin does
    n_tokens = F.array_size(toks)
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    stop_cnt = F.array_size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    n_chars = F.length(text_col)
    punct_chars = F.length(F.regexp_replace(F.lower(text_col), "[a-z0-9 ]", ""))
    stop_ratio = F.round(stop_cnt / n_tokens, 6)
    return {
        "n_tokens": n_tokens.cast("long"),
        "n_chars": n_chars.cast("long"),
        "mean_tok_len": F.round(
            F.length(F.regexp_replace(text_col, " ", "")) / n_tokens, 6
        ),
        "stopword_ratio": stop_ratio,
        "punct_ratio": F.round(punct_chars / n_chars, 6),
        "quality_score": F.round(
            F.least(n_tokens / 100.0, F.lit(1.0)) * (1.0 - stop_ratio), 6
        ),
    }


def quality_exprs_sql() -> dict[str, str]:
    """DuckDB twin of `quality_exprs` over the column ``text``: the same
    keys, as SQL expressions."""
    toks = "string_split(lower(text), ' ')"
    n_tokens = f"len(list_filter({toks}, t -> t <> ''))"
    stop_ratio = (
        f"round(len(list_filter({toks}, t -> list_contains({STOPWORDS_SQL}, t)))"
        f" / {n_tokens}, 6)"
    )
    return {
        "n_tokens": n_tokens,
        "n_chars": "length(text)",
        "mean_tok_len": f"round(length(replace(text, ' ', '')) / {n_tokens}, 6)",
        "stopword_ratio": stop_ratio,
        "punct_ratio": "round(length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g'))"
        " / length(text), 6)",
        "quality_score": f"round(least({n_tokens} / 100.0, 1.0) * (1.0 - {stop_ratio}), 6)",
    }


def quality_metrics(df: DataFrame, key_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Per-doc quality signals for corpus filtering: token count, mean token
    length, stopword ratio, punctuation ratio, and a composite score in
    [0, 1]. Narrow projection — no shuffle at any scale."""
    exprs = quality_exprs(F.col(text_col))
    return df.select(
        F.col(key_col), *[c.alias(name) for name, c in exprs.items()]
    )


def language_id(
    df: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Marker-token language ID: score = how many tokens appear in each
    language's `LANG_MARKERS` list; predicted = argmax with alphabetical
    tie-break. Deterministic, all built-ins, narrow (no shuffle)."""
    scores, _ = langid_exprs(F.col(text_col))
    langs = sorted(LANG_MARKERS)
    # Two-level projection: materialize the per-language score HOFs once,
    # then argmax over the score COLUMNS. The scores are referenced several
    # times by the greatest/when chain, so CollapseProject keeps the levels
    # split and each O(tokens x markers) filter runs once per row — folding
    # everything into one projection re-evaluates every score inside the
    # argmax (measured 2.3x slower; HOF lambdas are interpreted, not
    # codegen'd, so Catalyst's subexpression elimination never sees them).
    scored = df.select(
        F.col(key_col),
        *[scores[lang].cast("long").alias(f"score_{lang}") for lang in langs],
    )
    return scored.select(
        key_col,
        *[f"score_{lang}" for lang in langs],
        langid_argmax([f"score_{lang}" for lang in langs], langs).alias(
            "predicted_lang"
        ),
    )


def langid_argmax(score_cols: list[str], langs: list[str]) -> F.Column:
    """Argmax language from already-materialized score columns
    (alphabetical tie-break). Keep the scores in their OWN projection below
    this expression — see language_id for why. NULL text (every score
    NULL) gives NULL."""
    best = F.greatest(*[F.col(c) for c in score_cols])
    pred = F.lit(langs[-1])
    for c, lang in list(zip(score_cols, langs))[-2::-1]:
        pred = F.when(F.col(c) == best, F.lit(lang)).otherwise(pred)
    return F.when(best.isNotNull(), pred)


def langid_exprs(text_col) -> tuple[dict[str, F.Column], F.Column]:
    """(per-language score exprs, argmax-language expr) — the expression
    form of `language_id`, for join-free composition."""
    toks = tokens(text_col)
    langs = sorted(LANG_MARKERS)

    def marker_score(marker_list: tuple[str, ...]):
        arr = F.array(*[F.lit(x) for x in marker_list])
        return F.array_size(F.filter(toks, lambda t: F.array_contains(arr, t)))

    scores = {lang: marker_score(LANG_MARKERS[lang]) for lang in langs}
    best = F.greatest(*[scores[lang] for lang in langs])
    pred = F.lit(langs[-1])
    # first lang (alphabetically) whose score equals the max wins
    for lang in reversed(langs[:-1]):
        pred = F.when(scores[lang] == best, F.lit(lang)).otherwise(pred)
    return scores, F.when(best.isNotNull(), pred)


def langid_exprs_sql() -> tuple[str, str]:
    """DuckDB twin of `langid_exprs` + `langid_argmax` over the column
    ``text``: (the select-list of ``score_{lang}`` columns, the argmax CASE
    over those columns with the alphabetical tie-break)."""
    langs = sorted(LANG_MARKERS)
    scores = ",\n             ".join(
        "len(list_filter(string_split(lower(text), ' '), "
        f"""t -> list_contains([{", ".join(f"'{m}'" for m in LANG_MARKERS[lang])}], t)))"""
        f" AS score_{lang}"
        for lang in langs
    )
    greatest = "greatest(" + ", ".join(f"score_{lang}" for lang in langs) + ")"
    case = (
        f"CASE WHEN {greatest} IS NULL THEN NULL "
        + " ".join(f"WHEN score_{lang} = {greatest} THEN '{lang}'" for lang in langs[:-1])
        + f" ELSE '{langs[-1]}' END"
    )
    return scores, case


def doc_fingerprint(
    df: DataFrame, key_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Document fingerprint = min hash over rolling word 3-gram shingles (a
    winnowing-style representative), plus the distinct-shingle count.

    Uses md5 so the DuckDB oracle is byte-exact; at scale swap in
    `xxhash64` (8-byte fixed width beats a 32-char string through the
    shuffle). Docs shorter than 3 tokens yield no fingerprint.
    """
    from openmrs_patient_migration_script_spark.operators.dedup import _shingles

    sh = df.select(
        F.col(key_col),
        F.explode(_shingles(F.col(text_col))).alias("shingle"),
    )
    return sh.groupBy(key_col).agg(
        F.min(F.md5("shingle")).alias("fingerprint"),
        F.countDistinct("shingle").alias("n_shingles"),
    )


def hashed_embedding(
    df: DataFrame, key_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Feature-hashing text embedding (the hashing trick): token → one of
    64 buckets via a stable hash, value = term frequency. Emitted SPARSE as
    (key, bucket, tf) rows — at corpus scale the sparse form shuffles only
    non-zeros, and downstream cosine/ANN can consume it directly or
    pivot to dense arrays per key. md5-derived buckets keep the oracle
    exact; swap xxhash64 when cross-engine parity is not needed."""
    bucket = F.pmod(
        F.conv(F.substring(F.md5(F.col("token")), 1, 4), 16, 10).cast("long"),
        F.lit(64),
    )
    return (
        df.select(F.col(key_col), F.explode(tokens(F.col(text_col))).alias("token"))
        .groupBy(key_col, bucket.alias("bucket"))
        .agg(F.count("*").alias("tf"))
    )


def gopher_rules(
    df: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Gopher-style document quality rules (Rae et al. 2021 §A1.1 shape)
    — the rule battery that gates web text into a training mix: 20 to
    100 000 words, a mean word length of 3 to 10, at least 80 % alphabetic
    words, and at least 2 distinct stopwords. Returns one row per doc with the
    measured counts, each rule's boolean, and the overall ``passes``.

    Everything is row-local array arithmetic on ONE scan — zero
    shuffles, zero joins — and every rule comparison is INTEGER-only
    by construction (mean-length bounds compare ``sum_len`` against
    ``bound · n_words``; the alpha share compares ``100 · n_alpha``
    against ``80 · n_words``), so there is no division, no float, and
    nothing for engines to disagree on.
    """
    toks = tokens(F.col(text_col))
    n_words = F.size(toks)
    sum_len = F.aggregate(
        F.transform(toks, lambda t: F.length(t)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    n_alpha = F.size(F.filter(toks, lambda t: t.rlike("^[a-z]+$")))
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.array_intersect(F.array_distinct(toks), stop_arr))
    ok_count = (n_words >= 20) & (n_words <= 100_000)
    ok_len = (sum_len >= F.lit(3) * n_words) & (sum_len <= F.lit(10) * n_words)
    ok_alpha = F.lit(100) * n_alpha >= F.lit(80) * n_words
    ok_stop = n_stop >= 2
    # size() emits int32; the oracle's len() is int64 — emit long so the
    # two engines agree at the value-hash layer, not just on column names.
    return df.select(
        F.col(key_col),
        n_words.cast("long").alias("n_words"),
        sum_len.alias("sum_word_len"),
        n_alpha.cast("long").alias("n_alpha_words"),
        n_stop.cast("long").alias("n_distinct_stopwords"),
        ok_count.alias("ok_word_count"),
        ok_len.alias("ok_mean_word_len"),
        ok_alpha.alias("ok_alpha_share"),
        ok_stop.alias("ok_stopwords"),
        (ok_count & ok_len & ok_alpha & ok_stop).alias("passes"),
    )


def hashed_linear_score(
    df: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Hashed linear text scorer — the fasttext-classifier SHAPE (hash
    every token into a weight table, average the weights, threshold)
    with content-addressed weights: w(token) = (md5-bucket mod
    2001) - 1000, i.e. an exact integer in [-1000, +1000]
    standing in for a learned weight row. Production swaps the hash
    expression for a broadcast-joined learned weight table (same plan
    with one BroadcastHashJoin added); everything downstream — and the
    cost model — is identical, which is the point: this pins the
    plumbing and plan of the #1 quality-filter architecture in LLM data
    pipelines without needing a training run in the harness.

    Returns (key, n_tokens, score) where score = mean token weight in
    [-1, 1] at 6dp. The weight lookup is a row-local expression (ZERO
    join, zero extra shuffle — the only exchange is the per-doc agg),
    and the mean is exact end-to-end: integer weights, exact long sum,
    sign-split HALF_UP integer division (weights go negative), one final
    display division.
    """
    weight_scale = 1000
    w_int = (
        F.pmod(
            F.conv(F.substring(F.md5(F.col("token")), 1, 8), 16, 10).cast("long"),
            F.lit(2 * weight_scale + 1),
        )
        - F.lit(weight_scale)
    )
    per_doc = (
        df.select(F.col(key_col), F.explode(tokens(F.col(text_col))).alias("token"))
        .select(key_col, w_int.alias("w"))
        .groupBy(key_col)
        .agg(F.count("*").alias("n_tokens"), F.sum("w").alias("_sw"))
    )
    # mean weight at 6dp: score6 = HALF_UP(1e6 · sw / (scale · n))
    #                            = HALF_UP((1e6/scale) · sw / n)
    m = 10**6 // weight_scale
    half_up = F.expr(
        f"case when _sw >= 0 then (2 * {m} * _sw + n_tokens) div (2 * n_tokens) "
        f"else -((-2 * {m} * _sw + n_tokens) div (2 * n_tokens)) end"
    )
    return per_doc.select(
        key_col, "n_tokens", (half_up / F.lit(1e6)).alias("score")
    )


def ngram_counts(df: DataFrame, n: int = 2, text_col: str = "text") -> DataFrame:
    """Word n-gram frequency — each document's n-grams materialize
    row-locally (no self-join, no explode-join shuffle) by zip_with-ing
    the token array against its left-shifted copies: linear array walks,
    no per-element `get` re-indexing (measured ~3.5x faster at sf0.1).
    The only shuffle is the final n-gram hash aggregation, which
    partial-combines map-side exactly like `token_counts`."""
    toks = tokens(F.col(text_col))
    sz = F.size(toks)
    grams = toks
    for k in range(1, n):
        shifted = F.slice(toks, k + 1, sz)
        if k < n - 1:
            grams = F.zip_with(grams, shifted, lambda a, b: F.concat_ws(" ", a, b))
        else:
            # gate on the furthest element: if it exists, every nearer one
            # does too (contiguous window); NULL marks incomplete windows.
            grams = F.zip_with(
                grams, shifted, lambda a, b: F.when(b.isNotNull(), F.concat_ws(" ", a, b))
            )
    grams = F.filter(grams, lambda x: x.isNotNull())
    return (
        df.select(F.explode(grams).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count("*").alias("cnt"))
    )


def pmi_collocations(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
) -> DataFrame:
    """Bigram PMI collocation mining — the word2phrase-style phrase-detection
    pass of a training-corpus pipeline (merge "new york"-like pairs before
    tokenizer training).

    pmi(a,b) = ln( p(ab) / (p(a) p(b)) ) with p(ab) = c_ab / B and
    p(x) = c_x / T, where T = total tokens, B = total bigrams.

    Plan shape, chosen for 100 TB:

    - bigrams materialize row-locally (zip_with against the left-shifted
      token array, like ``ngram_counts`` — no positional self-join);
    - TWO hash aggregations whose shuffles carry only the (bi)gram
      vocabulary (map-side partial combine), never the corpus;
    - the scalar totals T and B derive from those SMALL count tables and
      broadcast via crossJoin;
    - unigram counts broadcast back onto the bigram table twice — the
      bigram table itself never reshuffles.

    The count tables feed multiple consumers (T, B, and the three join
    sides), and the plan recomputes their corpus aggregations from
    lineage — 5 parquet scans total, visible in PLANS.md — so that the
    declared oracle-checked form stays a pure plan.

    Determinism: pmi is a fixed row-local double expression over exact
    long counts (single division chain, no reassociative float agg), so
    the 6dp rounding is partition-order independent.

    ``min_count`` drops the long noise tail BEFORE the unigram joins —
    at corpus scale the surviving bigram vocabulary is what a phrase
    merger would actually consume.
    """
    toks = tokens(F.col(text_col))
    sz = F.size(toks)
    pairs = F.filter(
        F.zip_with(
            toks,
            F.slice(toks, 2, sz),
            lambda a, b: F.when(
                b.isNotNull(), F.struct(a.alias("w1"), b.alias("w2"))
            ),
        ),
        lambda x: x.isNotNull(),
    )
    bigrams = df.select(F.explode(pairs).alias("bg")).select("bg.w1", "bg.w2")
    bcounts = bigrams.groupBy("w1", "w2").agg(F.count("*").alias("c_ab"))
    ucounts = df.select(F.explode(toks).alias("tok")).groupBy("tok").agg(
        F.count("*").alias("c")
    )
    totals = ucounts.agg(F.sum("c").alias("t_tokens")).crossJoin(
        bcounts.agg(F.sum("c_ab").alias("t_bigrams"))
    )
    ua = ucounts.select(F.col("tok").alias("w1"), F.col("c").alias("c_a"))
    ub = ucounts.select(F.col("tok").alias("w2"), F.col("c").alias("c_b"))
    return (
        bcounts.filter(F.col("c_ab") >= min_count)
        .join(F.broadcast(ua), "w1")
        .join(F.broadcast(ub), "w2")
        .crossJoin(F.broadcast(totals))
        .select(
            "w1",
            "w2",
            "c_ab",
            "c_a",
            "c_b",
            F.round(
                F.log(
                    (F.col("c_ab") / F.col("t_bigrams"))
                    / (
                        (F.col("c_a") / F.col("t_tokens"))
                        * (F.col("c_b") / F.col("t_tokens"))
                    )
                ),
                6,
            ).alias("pmi"),
        )
    )


def bm25_scores(
    df: DataFrame,
    query_terms: list[str],
    key_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """BM25 relevance of every document to a fixed query-term set — the
    lexical-retrieval scorer (Robertson/Lucene form, idf = ln(1 + (N-df+0.5)
    /(df+0.5)), Lucene's k1 = 1.2 and b = 0.75) that complements the
    embedding similarity surface.

    Plan shape, chosen for 100 TB:

    - doc length is a zero-shuffle scan projection (``size(tokens)``);
      N and avgdl reduce from it to one broadcast scalar row, with avgdl
      computed as exact-long ``sum(dl)/N`` in ONE division (a float
      ``avg()`` would be partial-order dependent in final ulps);
    - term frequencies aggregate AFTER filtering tokens to the query
      vocabulary — the tf shuffle carries only |Q| terms' postings, not
      the corpus token stream — and the doc length rides THROUGH that
      aggregation (max of a per-key-constant), so no tf⋈dl doc-keyed
      big-big join exists in the plan;
    - per-term doc frequencies reduce to |Q| rows and broadcast back.

    Determinism: each per-term score is a fixed row-local expression
    rounded to 6dp BEFORE the per-doc sum; sums of 6dp multiples sit at
    rounding-interval centers, so the final 6dp round is immune to
    float-add reassociation across partitions.
    """
    k1, b = 1.2, 0.75
    toks = tokens(F.col(text_col))
    dl = df.select(F.col(key_col), F.size(toks).alias("dl"))
    stats = dl.agg(
        F.count("*").alias("n_docs"),
        (F.sum("dl") / F.count("*")).alias("avgdl"),
    )
    terms = F.array(*[F.lit(t) for t in query_terms])
    tf = (
        df.select(
            F.col(key_col),
            F.size(toks).alias("dl"),
            F.explode(F.filter(toks, lambda t: F.array_contains(terms, t))).alias(
                "tok"
            ),
        )
        .groupBy(key_col, "tok")
        .agg(F.count("*").alias("tf"), F.max("dl").alias("dl"))
    )
    dfreq = tf.groupBy("tok").agg(F.count("*").alias("dfreq"))
    idf = F.log(
        1.0
        + (F.col("n_docs") - F.col("dfreq") + 0.5) / (F.col("dfreq") + 0.5)
    )
    norm_tf = (F.col("tf") * (k1 + 1.0)) / (
        F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
    )
    scored = (
        tf.join(F.broadcast(dfreq), "tok")
        .crossJoin(F.broadcast(stats))
        .select(F.col(key_col), F.round(idf * norm_tf, 6).alias("term_score"))
    )
    return scored.groupBy(key_col).agg(
        F.count("*").alias("n_terms"),
        F.round(F.sum("term_score"), 6).alias("bm25"),
    )


def repetition_metrics(
    df: DataFrame, key_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Repetition-based quality signals (the Gopher/MassiveText filter
    family): distinct-token and distinct-bigram ratios per document — a
    low ratio means the document repeats itself (boilerplate, keyword
    stuffing, generation loops) and should be down-weighted or dropped.

    Entirely row-local array arithmetic (split → zip_with bigrams →
    array_distinct): zero shuffles at any scale, runs inside whole-stage
    codegen on the single corpus scan. Docs with < 2 tokens report a
    bigram ratio of 0 (no bigrams to be distinct).
    """
    toks = F.split(F.col(text_col), " ")
    sz = F.size(toks)
    shifted = F.slice(toks, 2, sz)
    bi = F.filter(
        F.zip_with(
            toks, shifted, lambda a, b: F.when(b.isNotNull(), F.concat_ws(" ", a, b))
        ),
        lambda x: x.isNotNull(),
    )
    # NULL text: size(NULL) is -1 under non-ANSI legacy semantics, which
    # would silently yield ratios of 1.0 / -1.0 (a NULL doc scoring as
    # "perfectly diverse"); gate explicitly to the oracle's semantics —
    # NULL token ratio, 0.0 bigram ratio.
    notnull = F.col(text_col).isNotNull()
    return df.select(
        F.col(key_col),
        F.when(
            notnull, F.round(F.size(F.array_distinct(toks)) / sz, 6)
        ).alias("tok_distinct_ratio"),
        F.when(
            notnull,
            F.round(F.size(F.array_distinct(bi)) / F.greatest(F.size(bi), F.lit(1)), 6),
        )
        .otherwise(0.0)
        .alias("bigram_distinct_ratio"),
    )


def ngram_contamination(
    train: DataFrame,
    evalset: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    min_hits: int = 1,
) -> DataFrame:
    """Eval-set decontamination probe: training documents sharing word
    n-gram shingles with any held-out document.

    The standard LLM-pipeline hygiene step — a benchmark answer that leaks
    into the training mix inflates eval scores — run as two row-local
    shingle explosions and one equi-join on the shingle:

    1. distinct shingles of the eval side (small by construction: the
       held-out set is a fraction of the corpus), deduped globally;
    2. per-document distinct shingles of the train side;
    3. join on shingle, count matches per training document, keep docs
       with >= ``min_hits``.

    Returns (key_col, n_eval_shingles): how many of the doc's distinct
    shingles appear anywhere in the eval set.

    Scale: the join shuffles on the shingle string. Production runs use
    long shingles (8-13 grams) that are near-unique, so no shingle key is
    hot; at small ``shingle_n`` common phrases become hot keys AND false
    positives — raise ``shingle_n``/``min_hits`` together. When the eval
    side's distinct-shingle set fits the broadcast threshold AQE converts
    the join map-side on its own.
    """
    from openmrs_patient_migration_script_spark.operators.dedup import _shingles

    eval_sh = evalset.select(
        F.explode(F.array_distinct(_shingles(F.col(text_col), shingle_n))).alias(
            "shingle"
        )
    ).distinct()
    train_sh = train.select(
        F.col(key_col),
        F.explode(F.array_distinct(_shingles(F.col(text_col), shingle_n))).alias(
            "shingle"
        ),
    )
    return (
        train_sh.join(eval_sh, "shingle")
        .groupBy(key_col)
        .agg(F.count("*").alias("n_eval_shingles"))
        .filter(F.col("n_eval_shingles") >= min_hits)
    )


# BPE-ish piece pattern: letter runs, digit runs, and single non-alnum
# marks — the standard pre-tokenizer shape (whitespace splitting plus
# punctuation/digit isolation) used to estimate LLM token counts without
# shipping a tokenizer model. Keep in sync with the oracle SQL.
TOKEN_PIECE_PATTERN = "[a-z]+|[0-9]+|[^a-z0-9 ]"


def token_estimates(df: DataFrame, key_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Per-document token-count estimates: whitespace words and BPE-ish
    regex pieces (TOKEN_PIECE_PATTERN). Narrow scan-projection — zero
    shuffles; the regexes run inside whole-stage codegen."""
    lower = F.lower(F.col(text_col))
    return df.select(
        F.col(key_col),
        F.size(F.filter(F.split(lower, " "), lambda t: t != F.lit("")))
        .cast("long")
        .alias("n_ws_tokens"),
        F.size(
            F.expr(f"regexp_extract_all(lower({text_col}), '{TOKEN_PIECE_PATTERN}', 0)")
        )
        .cast("long")
        .alias("n_bpe_pieces"),
    )


def chunk_documents(
    df: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 64,
    overlap: int = 16,
) -> DataFrame:
    """Split documents into overlapping fixed-token windows — the
    long-document preprocessing step before tokenization (context windows
    are finite; chunk boundaries overlap so no span is ever split without
    also appearing whole in a neighbor).

    Row-local end to end: token split, window starts
    (``sequence(1, greatest(n-overlap, 1), stride)``), and per-window
    ``slice``+``array_join`` all happen inside the task that read the row —
    ZERO shuffles at any scale, and the chunk explosion (~n_tokens/stride
    rows per doc) happens after scan-side filters can prune docs. The last
    window may be shorter than ``chunk_tokens``; every token is covered.
    """
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be < chunk_tokens")
    stride = chunk_tokens - overlap
    toks = F.split(F.col(text_col), " ")
    starts = F.sequence(
        F.lit(1), F.greatest(F.size(toks) - overlap, F.lit(1)), F.lit(stride)
    )
    exploded = df.select(
        F.col(key_col).alias("key"),
        toks.alias("_toks"),
        F.posexplode(starts).alias("chunk_id", "start"),
    )
    piece = F.slice(F.col("_toks"), F.col("start"), chunk_tokens)
    return exploded.select(
        "key",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.array_join(piece, " ").alias("chunk_text"),
        F.size(piece).cast("long").alias("n_chunk_tokens"),
    )


def chunk_documents_sql() -> str:
    """DuckDB twin of ``chunk_documents(documents, chunk_tokens=64,
    overlap=16)``: the CTEs ``t`` and ``s`` (its token arrays and window
    starts) and ``chunks`` (key, chunk_id, chunk_text, n_chunk_tokens)."""
    return """t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    s AS (
      SELECT doc_id, toks,
             unnest(generate_series(1, greatest(len(toks) - 16, 1), 48))
               AS start,
             generate_subscripts(
               generate_series(1, greatest(len(toks) - 16, 1), 48), 1) - 1
               AS chunk_id
      FROM t
    ),
    chunks AS (
      SELECT doc_id AS key, chunk_id,
             array_to_string(toks[start : least(start + 63, len(toks))], ' ')
               AS chunk_text,
             least(start + 63, len(toks)) - start + 1 AS n_chunk_tokens
      FROM s
    )"""


def pack_sequences(
    chunks: DataFrame,
    key_cols: list[str],
    count_col: str,
    seq_tokens: int = 512,
    n_buckets: int = 32,
) -> DataFrame:
    """GPT-style sequence packing: assign token-counted pieces to
    fixed-length training sequences by concat-and-split — pieces are laid
    end-to-end in a deterministic hash order and cut every ``seq_tokens``
    tokens (a piece may straddle a cut; the tokenizer's EOS/BOS handling
    owns boundaries downstream). This is the standard pretraining packing
    that wastes zero tokens, vs. first-fit bin packing which can't be
    expressed as a parallel plan (each decision depends on every prior
    bin's fill).

    Scale shape: pieces are hashed into ``n_buckets`` independent packing
    streams (PARTITION BY bucket — no global window, no single-partition
    chokepoint); within a bucket one window cumsum assigns offsets. Each
    bucket yields its own sequence ids; (bucket, seq_id) is the training
    sequence key. One shuffle on bucket.
    """
    from openmrs_patient_migration_script_spark.operators.sampling import hash_bucket

    h = F.md5(F.concat_ws("\x1f", *[F.col(c).cast("string") for c in key_cols]))
    bucketed = chunks.withColumn("bucket", hash_bucket(h, n_buckets))
    w = Window.partitionBy("bucket").orderBy(h)
    offset = F.coalesce(
        F.sum(count_col).over(w.rowsBetween(Window.unboundedPreceding, -1)), F.lit(0)
    )
    return bucketed.select(
        *key_cols,
        "bucket",
        offset.alias("token_offset"),
        F.floor(offset / seq_tokens).cast("long").alias("seq_id"),
    )


def bigram_surprisal(
    df: DataFrame, key_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """X5g: per-document mean BIGRAM surprisal with add-one smoothing —
    `unigram_surprisal`'s stronger sibling: word-salad documents whose
    tokens are individually common but never co-occur (the spam/template
    stitching signature) score high here while sailing through the
    unigram filter. Surprisal of an observed bigram (w1, w2) is
    ``-ln((c(w1,w2) + 1) / (c(w1·) + V))`` — conditional on the left
    context, smoothed over the right-type vocabulary V. Returns
    (key, n_bigrams, avg_surprisal); docs with < 2 tokens have no
    bigrams and drop out (no-signal, not zero-signal).

    Plan shape: the token stream reduces to BIGRAM TYPES (map-side
    combine; the shuffle carries observed types, not occurrences),
    context counts derive from the type table itself (consistent by
    construction), V is a one-row broadcast, and the scored type table
    broadcasts back onto the occurrence stream — occurrences shuffle
    exactly once, for the per-doc agg (the `unigram_surprisal` layout,
    one level up the n-gram ladder). At an open 100 TB vocabulary the
    broadcast caps to top-K types + an OOV floor, same documented
    contract as the unigram path.

    Exactness: the per-TYPE surprisal rounds once to a 6dp scaled long
    (ln's last libm ulp absorbed, the shared convention); per-doc sums
    and the HALF_UP mean are pure integer arithmetic (smoothing keeps
    probabilities <= 1, so surprisal is non-negative and the positive
    div formula applies).
    """
    toks = tokens(F.col(text_col))
    sz = F.size(toks)
    shifted = F.slice(toks, 2, sz)
    bigrams = F.filter(
        F.zip_with(
            toks, shifted,
            lambda a, b: F.when(b.isNotNull(), F.concat_ws(" ", a, b)),
        ),
        lambda x: x.isNotNull(),
    )
    big = df.select(F.col(key_col), F.explode(bigrams).alias("bg"))
    c2 = big.groupBy("bg").agg(F.count("*").alias("c2"))
    c2 = c2.select(
        "bg", "c2",
        F.split_part(F.col("bg"), F.lit(" "), F.lit(1)).alias("w1"),
        F.split_part(F.col("bg"), F.lit(" "), F.lit(2)).alias("w2"),
    )
    c1 = c2.groupBy("w1").agg(F.sum("c2").alias("c1"))
    v = c2.agg(F.count_distinct("w2").alias("v"))
    scored = (
        c2.join(F.broadcast(c1), "w1")
        .crossJoin(F.broadcast(v))
        .select(
            "bg",
            F.round(
                -F.log(
                    (F.col("c2") + F.lit(1.0)) / (F.col("c1") + F.col("v"))
                )
                * 1e6,
                0,
            )
            .cast("long")
            .alias("s6"),
        )
    )
    per_doc = (
        big.join(F.broadcast(scored), "bg")
        .groupBy(key_col)
        .agg(F.count("*").alias("n_bigrams"), F.sum("s6").alias("_ss"))
    )
    return per_doc.select(
        key_col,
        "n_bigrams",
        (
            F.expr("(2 * _ss + n_bigrams) div (2 * n_bigrams)") / F.lit(1e6)
        ).alias("avg_surprisal"),
    )


def tfidf_cosine_pairs(
    df: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    threshold_num: int = 1,
    threshold_den: int = 2,
    max_df: int = 500,
) -> DataFrame:
    """X6c (r6): sparse TF-IDF cosine document-similarity pairs — the
    text-side twin of `dedup_embedding`: pairwise cosine over the
    corpus's own sparse tfidf vectors, via the token inverted index
    (shuffle on the token, never an all-pairs doc join), for topical
    near-dup / related-document detection where no embedding model ran.

    EXACT integer arithmetic end-to-end: tfidf weights are scaled to
    longs (round(tfidf·1e6) — the lossless move `keywords_topk` ranks
    with), so numerators (Σ w_a·w_b over shared tokens) and squared
    norms are exact BIGINT sums, reassociation-free under any partial
    aggregation order, and the threshold test
    ``cos ≥ tn/td  ⟺  td²·num² ≥ tn²·na·nb`` runs entirely in exact
    wide-integer arithmetic (decimal(38,0) here, HUGEINT in the
    oracle) — no float boundary anywhere in the DECISION; the reported
    ``cos`` double is derived from the exact ints afterwards.

    ``max_df`` is the skew/volume guard (the `ngram_jaccard_pairs`
    prefix-filtering contract): tokens in more than ``max_df`` docs are
    excluded from the vector space BEFORE the self-join — a ubiquitous
    token contributes ~no discrimination but df² pair rows. This is a
    semantic parameter (similarity over the discriminative vocabulary),
    replayed identically by the oracle. Scale: posting-list self-join
    shuffles on token (bounded df² fan-out per token), the pair agg
    shuffles on the pair key; both partial-combine."""
    scored = tf_idf(df, key_col, text_col)
    w = (
        scored.filter(F.col("df") <= max_df)
        .select(
            F.col(key_col).alias("key"),
            "token",
            F.round(F.col("tfidf") * 1e6).cast("long").alias("w"),
        )
        .filter(F.col("w") > 0)
        .localCheckpoint(eager=True)
    )
    norms = w.groupBy("key").agg(F.sum(F.col("w") * F.col("w")).alias("norm2"))
    a = w.select(F.col("key").alias("key_a"), "token", F.col("w").alias("wa"))
    b = w.select(F.col("key").alias("key_b"), "token", F.col("w").alias("wb"))
    num = (
        a.join(b, "token")
        .filter(F.col("key_a") < F.col("key_b"))
        .groupBy("key_a", "key_b")
        .agg(F.sum(F.col("wa") * F.col("wb")).alias("num"))
    )
    dec = "decimal(38,0)"
    paired = (
        num.join(norms.select(F.col("key").alias("key_a"),
                              F.col("norm2").alias("na")), "key_a")
        .join(norms.select(F.col("key").alias("key_b"),
                           F.col("norm2").alias("nb")), "key_b")
    )
    lhs = (
        F.lit(threshold_den * threshold_den).cast(dec)
        * F.col("num").cast(dec)
        * F.col("num").cast(dec)
    )
    rhs = (
        F.lit(threshold_num * threshold_num).cast(dec)
        * F.col("na").cast(dec)
        * F.col("nb").cast(dec)
    )
    return paired.filter(lhs >= rhs).select(
        "key_a",
        "key_b",
        "num",
        F.round(
            F.col("num") / (F.sqrt(F.col("na")) * F.sqrt(F.col("nb"))), 6
        ).alias("cos_sim"),
    )


def tfidf_cosine_pairs_sql() -> str:
    """DuckDB twin of ``tfidf_cosine_pairs(documents, "doc_id", "text",
    threshold_num=1, threshold_den=2, max_df=100)`` over the CTEs of
    `tf_idf_sql`: the CTEs ``w`` and ``wp`` (key, token, w — the 1e6-scaled
    weights), ``norms`` (key, norm2), ``num`` (key_a, key_b, num) and
    ``pairs`` (key_a, key_b, num, cos_sim — the pairs at cos >= 1/2)."""
    return """w AS (
      SELECT tf.doc_id AS key, tf.token,
             CAST(round(round(tf.tf * ln((1.0 + n.n_docs) / (1.0 + dfreq.df)),
                              6) * 1000000) AS BIGINT) AS w
      FROM tf JOIN dfreq USING (token) CROSS JOIN n
      WHERE dfreq.df <= 100
    ),
    wp AS (SELECT * FROM w WHERE w > 0),
    norms AS (SELECT key, sum(w * w) AS norm2 FROM wp GROUP BY key),
    num AS (
      SELECT a.key AS key_a, b.key AS key_b, sum(a.w * b.w) AS num
      FROM wp a JOIN wp b ON a.token = b.token AND a.key < b.key
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT key_a, key_b, CAST(num AS BIGINT) AS num,
             round(num / (sqrt(na.norm2) * sqrt(nb.norm2)), 6) AS cos_sim
      FROM num
      JOIN norms na ON na.key = num.key_a
      JOIN norms nb ON nb.key = num.key_b
      WHERE 4 * num::HUGEINT * num::HUGEINT
            >= na.norm2::HUGEINT * nb.norm2::HUGEINT
    )"""


def tf_idf_against(
    batch: DataFrame,
    index_df_counts: DataFrame,
    index_n_docs: int,
    key_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """X6d (r6): INCREMENTAL TF-IDF — score a NEW batch of documents
    against the corpus-wide statistics WITHOUT re-scanning the corpus:
    the daily-ingest twin of `tf_idf`, and the same persisted-state
    contract as `minhash_pairs_against(index_signatures=)` — yesterday's
    corpus keeps its (vocabulary-sized) document-frequency table, only
    today's batch pays tokenize→count.

    ``index_df_counts``: the persisted (token, df) table of the indexed
    corpus — exactly `tf_idf`'s df side, one row per vocabulary term
    (validated fail-loud). ``index_n_docs``: its document count. The
    batch's own df-contribution is merged in (full-outer sum), so
    scores use the GLOBAL (index + batch) statistics — by construction
    identical to re-running `tf_idf` on the union, which is the
    invariant the declared oracle checks (the `etl_rollup_incremental`
    pattern applied to text statistics).

    Scale: the batch is tokenized once (batch-sized); the df merge is a
    vocab×vocab outer join (vocabulary-sized shuffles); the merged df
    table broadcasts back onto the batch tf table. Nothing touches the
    historical corpus."""
    if set(index_df_counts.columns) != {"token", "df"}:
        raise ValueError(
            "index_df_counts must be exactly (token, df) — got "
            f"{sorted(index_df_counts.columns)}; persist tf_idf's "
            "doc-frequency side unchanged"
        )
    tf = (
        batch.select(
            F.col(key_col), F.explode(tokens(F.col(text_col))).alias("token")
        )
        .groupBy(key_col, "token")
        .agg(F.count("*").alias("tf"))
        .localCheckpoint(eager=True)
    )
    batch_df_counts = tf.groupBy("token").agg(F.count("*").alias("df_b"))
    merged = (
        index_df_counts.join(batch_df_counts, "token", "full_outer")
        .select(
            "token",
            (
                F.coalesce(F.col("df"), F.lit(0))
                + F.coalesce(F.col("df_b"), F.lit(0))
            ).alias("df"),
        )
    )
    joined = tf.join(F.broadcast(merged), "token")
    n_batch = batch.select(F.countDistinct(key_col).alias("_nb"))
    joined = joined.crossJoin(F.broadcast(n_batch))
    return joined.select(
        key_col,
        "token",
        "tf",
        "df",
        F.round(
            F.col("tf")
            * F.log(
                (1.0 + F.lit(float(index_n_docs)) + F.col("_nb"))
                / (1.0 + F.col("df"))
            ),
            6,
        ).alias("tfidf"),
    )


def zipf_fit(df: DataFrame, text_col: str = "text", top_r: int = 500) -> DataFrame:
    """Zipf-law fit of the corpus token-frequency head — the classic
    one-number corpus health check (natural text has log-rank/log-freq
    slope ≈ −1; template spam and boilerplate floods flatten or steepen
    it; Zipf 1949, public literature). Returns ONE row:
    (n_tokens, slope, intercept_ln) from an OLS fit of ln(freq) on
    ln(rank) over the top ``top_r`` tokens.

    Determinism: ranks are exact integers from a (cnt DESC, token)
    order; ln(rank) / ln(cnt) are scaled to 1e6 integers per row (the
    `text_bm25` per-term rounding rule) so all five OLS sufficient
    statistics are EXACT long/decimal sums — the closed-form
    slope/intercept is then one fixed double chain rounded at 6dp.

    Scale: the token count is the X5 vocabulary-sized agg; the head
    extraction is a distributed sort-limit (TakeOrderedAndProject —
    per-partition top-R then a merge of R·partitions rows, never a
    global sort); the rank window runs over the LIMITED R rows only."""
    counts = token_counts(df, text_col)
    top = counts.orderBy(F.col("cnt").desc(), "token").limit(top_r)
    ranked = top.select(
        F.row_number()
        .over(Window.orderBy(F.col("cnt").desc(), "token"))
        .alias("rank"),
        "cnt",
    )
    lx = F.round(F.log(F.col("rank").cast("double")) * 1e6).cast("long")
    ly = F.round(F.log(F.col("cnt").cast("double")) * 1e6).cast("long")
    dec = "decimal(19,0)"
    s = ranked.select(lx.alias("lx"), ly.alias("ly")).agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.sum("lx").cast("long").alias("sx"),
        F.sum("ly").cast("long").alias("sy"),
        F.sum(F.col("lx").cast(dec) * F.col("ly").cast(dec))
        .cast("decimal(38,0)")
        .alias("sxy"),
        F.sum(F.col("lx").cast(dec) * F.col("lx").cast(dec))
        .cast("decimal(38,0)")
        .alias("sxx"),
    )
    den = (
        F.col("n_tokens").cast(dec) * F.col("sxx")
        - F.col("sx").cast(dec) * F.col("sx").cast(dec)
    ).cast("double")
    slope = (
        F.col("n_tokens").cast(dec) * F.col("sxy")
        - F.col("sx").cast(dec) * F.col("sy").cast(dec)
    ).cast("double") / den
    intercept = (
        F.col("sy").cast(dec) * F.col("sxx")
        - F.col("sx").cast(dec) * F.col("sxy")
    ).cast("double") / den
    return s.select(
        "n_tokens",
        F.round(slope, 6).alias("slope"),
        F.round(intercept / 1e6, 6).alias("intercept_ln"),
    )


#: U+001F (unit separator) — wraps every symbol in the string-encoded BPE
#: symbol sequence. Absent from natural text; words containing it are
#: filtered so the encoding is unambiguous.
BPE_US = "\x1f"


def bpe_word_vocab(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, freq) vocabulary for BPE training — the agg that collapses
    the CORPUS to vocabulary size before any trainer round (corpus
    volume never re-enters the merge loop; the 100 TB shape). Eagerly
    checkpointed: every trainer round re-scans it."""
    return (
        docs.select(
            F.explode(
                F.expr(f"filter(split(lower({text_col}), ' '), t -> t != '')")
            ).alias("word")
        )
        .filter(~F.col("word").contains(BPE_US))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
        .localCheckpoint(eager=True)
    )


def bpe_symbols_col():
    """Column: the symbol array of a U+001F-wrapped ``repr`` string."""
    return F.split(F.btrim(F.col("repr"), F.lit(BPE_US)), BPE_US + BPE_US)


def bpe_merge_rounds(words: DataFrame, n_rounds: int):
    """The BPE trainer loop (Sennrich et al. 2016) over a checkpointed
    (word, freq) vocabulary: yields (round, sym_a, sym_b, pair_freq,
    repr_df) per merge with ``repr_df`` the checkpointed post-merge
    symbol table. Per round: one vocab-sized pair explode + agg, one
    TakeOrdered(1) driver scalar (freq DESC, pair ASC — the tie-break
    real trainers pin), one column-local literal replace — symbols
    wrapped in U+001F make greedy left-to-right merge ONE `replace`
    (delimiters are consumed inside the match, so "aaa"+merge(a,a) →
    [aa, a] and overlaps can't double-merge). Stops early when the
    corpus runs dry of mergeable pairs. Moved from plans/text_queries
    (r10) so pipelines compose it directly; the declared queries import
    it from here."""
    us = BPE_US
    repr_df = words.select(
        F.regexp_replace("word", "(?s)(.)", us + "$1" + us).alias("repr"),
        "freq",
    )
    syms = bpe_symbols_col()
    for r in range(1, n_rounds + 1):
        pairs = (
            repr_df.select(syms.alias("s"), "freq")
            .filter(F.size("s") >= 2)
            .select(
                F.explode(F.expr("sequence(1, size(s) - 1)")).alias("i"),
                "s",
                "freq",
            )
            .select(
                F.expr("s[i - 1]").alias("sym_a"),
                F.expr("s[i]").alias("sym_b"),
                "freq",
            )
        )
        best = (
            pairs.groupBy("sym_a", "sym_b")
            .agg(F.sum("freq").cast("long").alias("pair_freq"))
            .orderBy(F.desc("pair_freq"), "sym_a", "sym_b")
            .limit(1)
            .collect()
        )
        if not best:
            return
        a, b, pf = best[0]["sym_a"], best[0]["sym_b"], best[0]["pair_freq"]
        repr_df = repr_df.select(
            F.replace(
                F.col("repr"),
                F.lit(us + a + us + us + b + us),
                F.lit(us + a + b + us),
            ).alias("repr"),
            "freq",
        ).localCheckpoint(eager=True)  # next round's pairs + caller reads
        yield r, a, b, pf, repr_df


def bpe_train(
    docs: DataFrame, n_rounds: int = 8, text_col: str = "text"
) -> list[tuple[int, str, str, int]]:
    """Train a BPE merge table on a document corpus: the ranked merge
    list [(merge_rank, sym_a, sym_b, pair_freq)] — the artifact a
    tokenizer-training pipeline persists and `bpe_token_count_col`
    applies. May return fewer than ``n_rounds`` entries on a merge-dry
    corpus."""
    words = bpe_word_vocab(docs, text_col)
    return [(r, a, b, pf) for r, a, b, pf, _ in bpe_merge_rounds(words, n_rounds)]


def bpe_token_count_col(text_col: str, merges: list[tuple[str, str]]):
    """Column: BPE token count of ``lower(text_col)`` under the learned
    ``merges`` [(sym_a, sym_b), ...] — the DOC-WIDE apply: spaces are
    ordinary wrapped symbols no space-free merge pattern can cross, so
    the whole-text nested literal replace equals the per-word apply
    with zero explode/regroup. After training, this is a ZERO-SHUFFLE
    row-local projection — scales with executors, no exchange."""
    us = BPE_US
    # (?s): DOTALL so embedded newlines/tabs wrap like any other symbol
    # (Java regex and DuckDB RE2 both skip line terminators under bare
    # '.'), keeping multiline text fully wrapped — ADVICE r10.
    enc = F.regexp_replace(F.lower(F.col(text_col)), "(?s)(.)", us + "$1" + us)
    for a, b in merges:
        enc = F.replace(
            enc, F.lit(us + a + us + us + b + us), F.lit(us + a + b + us)
        )
    n_char = F.length(F.lower(F.col(text_col))).cast("long")
    return (
        F.when(n_char == 0, F.lit(0))
        .otherwise(F.size(F.split(F.btrim(enc, F.lit(us)), us + us)))
        .cast("long")
    )


# --- Unigram-LM (SentencePiece-style) tokenizer trainer (r11) --------------
#
# Kudo 2018's unigram LM trains by (seed a large candidate vocabulary from
# frequent substrings) -> (E: segment the corpus with the current vocab) ->
# (M: re-estimate piece statistics from the segmentation) -> (prune to the
# target vocabulary) -> repeat. This implementation keeps that exact EM
# structure but swaps the float Viterbi objective for a DETERMINISTIC
# integer-decidable segmenter so every round replays exactly in ANSI SQL
# (the repo's oracle-parity contract): pieces apply in MaxMatch priority
# order (length DESC, count DESC, piece ASC — longest-match greedy, the
# WordPiece inference rule), each application being ONE literal string
# replace over the U+001F-wrapped representation (the BPE trick: the
# char-wrapped pattern consumes its delimiters, so occurrences merge
# left-to-right without regex, UDFs, or per-symbol explodes, and a pattern
# can never match across an already-merged symbol's interior). At 100 TB
# the float log-likelihood Viterbi is a one-line swap inside the same loop;
# the EM plumbing — vocab-collapse, bounded driver collects, re-segment from
# the RAW representation each round — is the part that has to distribute,
# and it is identical under either objective.

UNI_MAX_PIECE_LEN = 4
UNI_SEED_SIZE = 20
UNI_VOCAB_SIZE = 12
UNI_EM_ROUNDS = 2


def _uni_wrap(piece: str) -> str:
    """The U+001F char-wrapped literal pattern of ``piece`` — what a
    still-unmerged occurrence looks like inside a wrapped word."""
    us = BPE_US
    return us + (us + us).join(piece) + us


def unigram_seed_vocab(words: DataFrame) -> list[tuple[str, int]]:
    """Seed candidates for the unigram trainer: the ``UNI_SEED_SIZE`` most
    frequent substrings (length 2..``UNI_MAX_PIECE_LEN``) of the word
    vocabulary, corpus-frequency-weighted per OCCURRENCE (overlaps
    count — 'aaa' holds two 'aa's), ranked (count DESC, piece ASC).

    Scale: runs over the vocabulary, never the corpus (the BPE
    vocab-collapse shape); the explode fans each word to at most
    ``len * (UNI_MAX_PIECE_LEN - 1)`` rows, and the result is a bounded
    driver list (``UNI_SEED_SIZE`` rows, the TakeOrdered(1) collect class).
    """
    subs = words.filter(F.length("word") >= 2).select(
        "freq",
        F.explode(
            F.expr(
                "flatten(transform("
                f"  filter(sequence(2, {UNI_MAX_PIECE_LEN}),"
                "          l -> l <= length(word)),"
                "  l -> transform(sequence(1, length(word) - l + 1),"
                "                 i -> substring(word, i, l))))"
            )
        ).alias("piece"),
    )
    rows = (
        subs.groupBy("piece")
        .agg(F.sum("freq").cast("long").alias("cnt"))
        .orderBy(F.desc("cnt"), "piece")
        .limit(UNI_SEED_SIZE)
        .collect()
    )
    return [(r["piece"], int(r["cnt"])) for r in rows]


def unigram_segment_col(pieces: list[tuple[str, int]]):
    """Column: the symbol array of the wrapped ``repr`` column after
    applying ``pieces`` in MaxMatch priority order (length DESC, count
    DESC, piece ASC). One literal replace per piece — zero-shuffle,
    row-local, the ideal corpus-pass shape."""
    us = BPE_US
    enc = F.col("repr")
    for piece, _ in sorted(pieces, key=lambda p: (-len(p[0]), -p[1], p[0])):
        enc = F.replace(enc, F.lit(_uni_wrap(piece)), F.lit(us + piece + us))
    return F.split(F.btrim(enc, F.lit(us)), us + us)


def unigram_em_rounds(words: DataFrame, n_rounds: int = UNI_EM_ROUNDS):
    """The unigram-LM EM loop over a (word, freq) vocabulary: yields
    (em_round, survivors) per round with ``survivors`` the pruned
    [(piece, usage_cnt)] ranked (usage DESC, piece ASC). Each E-step
    re-segments the RAW wrapped words (never the previous segmentation —
    EM re-explains the data under the current model), the M-step counts
    freq-weighted piece usage, and pruning keeps the ``UNI_VOCAB_SIZE``
    best; pieces the new priorities starve to zero usage drop out, so a
    round may return fewer than ``UNI_VOCAB_SIZE`` survivors. Candidate
    and survivor lists are bounded driver collects by contract
    (``UNI_SEED_SIZE`` then ``UNI_VOCAB_SIZE`` rows)."""
    repr_df = words.select(
        F.regexp_replace("word", "(?s)(.)", BPE_US + "$1" + BPE_US).alias(
            "repr"
        ),
        "freq",
    )
    cand = unigram_seed_vocab(words)
    for r in range(1, n_rounds + 1):
        if not cand:
            return
        syms = unigram_segment_col(cand)
        survivors = (
            repr_df.select(F.explode(syms).alias("piece"), "freq")
            .filter(F.length("piece") >= 2)
            .groupBy("piece")
            .agg(F.sum("freq").cast("long").alias("usage_cnt"))
            .orderBy(F.desc("usage_cnt"), "piece")
            .limit(UNI_VOCAB_SIZE)
            .collect()
        )
        cand = [(s["piece"], int(s["usage_cnt"])) for s in survivors]
        if not cand:
            return
        yield r, cand


def unigram_train(
    docs: DataFrame,
    n_rounds: int = UNI_EM_ROUNDS,
    text_col: str = "text",
) -> list[tuple[int, int, str, int]]:
    """Train the unigram vocabulary on a document corpus: the per-round
    ledger [(em_round, rank, piece, usage_cnt)] — the final round's
    slice is the vocabulary `unigram_token_count_col` applies. May stop
    early on a corpus with no multi-char pieces."""
    words = bpe_word_vocab(docs, text_col)
    out = []
    for r, cand in unigram_em_rounds(words, n_rounds):
        out += [(r, i + 1, p, c) for i, (p, c) in enumerate(cand)]
    return out


def unigram_token_count_col(text_col: str, pieces: list[tuple[str, int]]):
    """Column: unigram token count of ``lower(text_col)`` under the
    trained ``pieces`` [(piece, usage_cnt)] — the doc-wide apply.
    Pieces come from space-split words so none contains a space: the
    space is an ordinary wrapped symbol no piece pattern can cross, and
    the whole-text nested replace equals the per-word apply (the
    `bpe_token_count_col` argument). Zero-shuffle row-local
    projection after training."""
    us = BPE_US
    enc = F.regexp_replace(
        F.lower(F.col(text_col)), "(?s)(.)", us + "$1" + us
    )
    for piece, _ in sorted(pieces, key=lambda p: (-len(p[0]), -p[1], p[0])):
        enc = F.replace(enc, F.lit(_uni_wrap(piece)), F.lit(us + piece + us))
    n_char = F.length(F.lower(F.col(text_col))).cast("long")
    return (
        F.when(n_char == 0, F.lit(0))
        .otherwise(F.size(F.split(F.btrim(enc, F.lit(us)), us + us)))
        .cast("long")
    )
