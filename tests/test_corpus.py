"""End-to-end corpus-prep pipeline invariants (operators/corpus.py):
planted exact dup, planted near-dup, planted junk doc — each stage must
remove exactly its target, and the split assignment must be deterministic.
"""

from __future__ import annotations

from openmrs_patient_migration_script_spark.operators.corpus import prepare_corpus
from openmrs_patient_migration_script_spark.operators.dedup import md5_pair

BASE = (
    "alpha beta gamma delta epsilon zeta eta theta iota kappa "
    "lambda mu nu xi omicron pi rho sigma tau upsilon"
)


def _docs(spark):
    rows = [
        (1, BASE + " one"),
        (2, BASE + " one"),  # exact duplicate of 1
        (3, BASE + " two"),  # near-duplicate of 1/2 (one token differs)
        (4, "short junk"),  # fails min_tokens
        (5, "completely different words about streaming shuffle partitions "
            "broadcast join watermark state store checkpoint lineage "
            "executor driver codegen pushdown pruning skew salting "
            "bucketing sketch arrow"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_pipeline_removes_each_planted_defect(spark):
    out = prepare_corpus(
        _docs(spark), double_hash=md5_pair, hash_buckets=False
    ).collect()
    kept = {r.key for r in out}
    # doc 4: quality-filtered; doc 2: exact dup of 1; doc 3: near-dup
    # clustered with 1 (cluster representative = min key = 1).
    assert kept == {1, 5}
    for r in out:
        assert r.split in {"train", "val", "test"}


def test_pipeline_is_deterministic_across_runs(spark):
    a = sorted(map(tuple, prepare_corpus(
        _docs(spark), double_hash=md5_pair, hash_buckets=False).collect()))
    b = sorted(map(tuple, prepare_corpus(
        _docs(spark).repartition(5), double_hash=md5_pair, hash_buckets=False
    ).collect()))
    assert a == b


def test_production_hash_defaults_agree_on_keep_set(spark):
    """The cheaper xxhash64 + hashed-bucket form must keep the same docs
    here (the planted near-dup is far inside any LSH threshold)."""
    out = prepare_corpus(_docs(spark)).collect()
    assert {r.key for r in out} == {1, 5}


def test_chunk_documents_covers_every_token_with_overlap(spark):
    from openmrs_patient_migration_script_spark.operators.text import chunk_documents

    text = " ".join(f"t{i}" for i in range(1, 151))  # 150 tokens
    tiny = "a b"  # shorter than one window
    df = spark.createDataFrame([(1, text), (2, tiny)], "doc_id long, text string")
    rows = chunk_documents(df, chunk_tokens=64, overlap=16).collect()

    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["key"], []).append(r)
    # doc 2: one short chunk, intact
    assert len(by_doc[2]) == 1 and by_doc[2][0]["chunk_text"] == "a b"
    # doc 1: stride 48 over 150 tokens -> starts 1,49,97 -> 3 chunks
    chunks = sorted(by_doc[1], key=lambda r: r["chunk_id"])
    assert len(chunks) == 3
    # full windows except the last; every token appears; consecutive
    # chunks share exactly `overlap` tokens
    assert [c["n_chunk_tokens"] for c in chunks] == [64, 64, 54]
    seen = set()
    prev = None
    for c in chunks:
        toks = c["chunk_text"].split(" ")
        assert len(toks) == c["n_chunk_tokens"]
        if prev is not None:
            assert prev[-16:] == toks[:16], "adjacent chunks must overlap"
        seen.update(toks)
        prev = toks
    assert seen == set(text.split(" ")), "every token must be covered"


def test_pack_sequences_is_deterministic_and_contiguous(spark):
    from openmrs_patient_migration_script_spark.operators.text import pack_sequences

    rows = [(i, 0, 64 if i % 3 else 54) for i in range(200)]
    df = spark.createDataFrame(rows, "key long, chunk_id long, n long")
    out = pack_sequences(df, ["key", "chunk_id"], "n", seq_tokens=512, n_buckets=8)
    a = {(r["key"], r["chunk_id"]): (r["bucket"], r["token_offset"], r["seq_id"])
         for r in out.collect()}
    b = {(r["key"], r["chunk_id"]): (r["bucket"], r["token_offset"], r["seq_id"])
         for r in pack_sequences(
             df.repartition(7), ["key", "chunk_id"], "n", 512, 8
         ).collect()}
    assert a == b, "packing must not depend on partition layout"

    # within each bucket, offsets are contiguous: sorted pieces tile the
    # token stream with no gaps or overlaps, and seq_id = offset // 512
    n_of = {(k, c): n for k, c, n in rows}
    by_bucket = {}
    for (k, c), (bucket, off, seq) in a.items():
        assert seq == off // 512
        by_bucket.setdefault(bucket, []).append((off, n_of[(k, c)]))
    assert len(by_bucket) > 1
    for pieces in by_bucket.values():
        pieces.sort()
        expect = 0
        for off, n in pieces:
            assert off == expect, "offsets must tile with no gaps"
            expect = off + n


def test_ngram_contamination_flags_planted_leak(spark):
    from openmrs_patient_migration_script_spark.operators.text import (
        ngram_contamination,
    )

    evalset = spark.createDataFrame(
        [(100, "the secret benchmark answer is forty two exactly")],
        ["doc_id", "text"],
    )
    train = spark.createDataFrame(
        [
            # leaked: contains two distinct eval 3-grams
            (1, "prefix words the secret benchmark answer is copied here"),
            # clean: no 3-gram overlap with the eval doc
            (2, "completely unrelated training text about spark shuffles"),
            # single-shingle brush: only one eval 3-gram, below min_hits=2
            (3, "mentions forty two exactly once in passing"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r.doc_id: r.n_eval_shingles
        for r in ngram_contamination(
            train, evalset, "doc_id", "text", shingle_n=3, min_hits=2
        ).collect()
    }
    assert set(out) == {1}
    # "the secret benchmark", "secret benchmark answer", "benchmark answer is"
    assert out[1] == 3


def test_repetition_metrics_null_text_matches_oracle_semantics(spark):
    from openmrs_patient_migration_script_spark.operators.text import (
        repetition_metrics,
    )

    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "a a a"), (4, "x")],
        ["doc_id", "text"],
    )
    got = {r.doc_id: r for r in repetition_metrics(df).collect()}
    # NULL text: NULL token ratio, 0.0 bigram ratio (DuckDB oracle parity)
    assert got[1].tok_distinct_ratio is None
    assert got[1].bigram_distinct_ratio == 0.0
    # repeated doc: low token diversity
    assert abs(got[3].tok_distinct_ratio - 1 / 3) < 1e-6
    # single-token doc: no bigrams -> ratio 0
    assert got[4].bigram_distinct_ratio == 0.0


def test_repeated_span_gate_drops_boilerplate_doc(spark):
    """max_repeated_pct (opt-in) drops docs mostly made of spans that
    recur in OTHER documents, while docs carrying the boilerplate as a
    minority survive, and the default (None) changes nothing."""
    boiler = "all rights reserved contact us at example dot com"  # 9 tokens
    tail_a = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon"
    )  # 20 unique tokens
    tail_b = (
        "first second third fourth fifth sixth seventh eighth ninth tenth "
        "eleventh twelfth thirteenth fourteenth fifteenth sixteenth "
        "seventeenth eighteenth nineteenth twentieth"
    )  # 20 different unique tokens
    rows = [
        (1, boiler + " " + tail_a),        # 29 tokens, 9 repeated -> 31%
        (2, tail_b + " " + boiler),        # 29 tokens, 9 repeated -> 31%
        (3, boiler + " unique tiny bit"),  # 12 tokens, 9 repeated -> 75%
        (4, "completely different words about streaming shuffle partitions "
            "broadcast join watermark state store checkpoint lineage"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    kept_off = {
        r.key for r in prepare_corpus(docs, min_quality=0.0).collect()
    }
    kept_on = {
        r.key
        for r in prepare_corpus(
            docs, min_quality=0.0, max_repeated_pct=50
        ).collect()
    }
    assert 3 in kept_off
    assert 3 not in kept_on
    # the knob only removes the flagged doc, nothing else
    assert kept_off - kept_on == {3}


def test_zipf_fit_recovers_exact_power_law(spark):
    """A planted corpus with counts C/i (exact Zipf, exponent 1) must fit
    slope == -1 up to the 1e6-scaled-ln rounding, and intercept == ln C."""
    import math

    from openmrs_patient_migration_script_spark.operators.text import zipf_fit

    c_top = 840
    rows = [
        (i, " ".join([f"tok{i:02d}"] * (c_top // i))) for i in range(1, 9)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    (r,) = zipf_fit(df, top_r=500).collect()
    assert r["n_tokens"] == 8
    assert abs(r["slope"] + 1.0) < 1e-3
    assert abs(r["intercept_ln"] - math.log(c_top)) < 1e-2


def test_curriculum_two_class_corpus(spark, tmp_path):
    """Curriculum deciles on a planted two-class corpus: 10 all-stopword
    docs (score 0) and 10 stopword-free docs (score 100), 4 tokens each.
    Value thresholds put the low class in decile 1 and the high class in
    decile 6; best-first cumulative counts the high class first, and the
    half-token budget admits exactly the high class."""
    from openmrs_patient_migration_script_spark.plans import QUERIES

    rows = []
    for i in range(10):
        rows.append((i, "the a of and", "en", "web", 12))
    for i in range(10, 20):
        rows.append((i, "alpha beta gamma delta", "en", "web", 22))
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))

    out = {r.decile: r for r in
           QUERIES["corpus_curriculum"](spark, str(tmp_path)).collect()}
    assert set(out) == {1, 6}, f"expected deciles {{1, 6}}, got {set(out)}"
    hi, lo = out[6], out[1]
    assert hi.n_docs == 10 and hi.tokens == 40
    assert lo.n_docs == 10 and lo.tokens == 40
    # best-first: the high decile is counted first and fits the half
    # budget exactly (2*40 <= 80); adding the low class exceeds it
    assert hi.cum_tokens == 40 and hi.in_half_budget
    assert lo.cum_tokens == 80 and not lo.in_half_budget


def test_bpe_pair_stats_hand_counted(spark, tmp_path):
    """BPE merge statistics on a hand-countable corpus: 'banana' twice
    and 'ban' once — pair (a,n) occurs 2x per 'banana' and 1x in 'ban'
    = 5 total; (n,a) 4; (b,a) 3. Rank 1 must be (a,n) and the
    freq-then-lexicographic tie-break must order equal-frequency pairs
    deterministically."""
    from openmrs_patient_migration_script_spark.plans import QUERIES

    rows = [
        (0, "banana banana ban", "en", "web", 17),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))

    out = {r.merge_rank: r for r in
           QUERIES["text_bpe_pair_stats"](spark, str(tmp_path)).collect()}
    r1 = out[1]
    assert (r1.sym_a, r1.sym_b, r1.pair_freq) == ("a", "n", 5)
    r2 = out[2]
    assert (r2.sym_a, r2.sym_b, r2.pair_freq) == ("n", "a", 4)
    r3 = out[3]
    assert (r3.sym_a, r3.sym_b, r3.pair_freq) == ("b", "a", 3)


def test_bpe_merge_apply_hand_computed(spark, tmp_path):
    """Three unrolled BPE merge rounds on 'aaab aaab ab' (aaab freq 2,
    ab freq 1), every value hand-derived:

    - round 1: pairs (a,a)=4, (a,b)=3 -> merge (a,a); GREEDY
      left-to-right means [a,a,a,b] -> [aa,a,b] (NOT [a,aa,b] or
      [aa,aa,...]); corpus tokens 2*3 + 1*2 = 8.
    - round 2: (a,b)=3 beats (aa,a)=2 -> [aa,ab] / [ab]; tokens 5.
    - round 3: (aa,ab)=2 -> [aaab] / [ab]; tokens 3.

    The token counts are the greedy-scan tripwire: a non-greedy or
    overlap-double-merging apply lands on different totals."""
    from openmrs_patient_migration_script_spark.plans import QUERIES

    rows = [
        (0, "aaab aaab ab", "en", "web", 12),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))

    out = {r.merge_round: r for r in
           QUERIES["text_bpe_merge_apply"](spark, str(tmp_path)).collect()}
    assert set(out) == {1, 2, 3}
    assert (out[1].sym_a, out[1].sym_b, out[1].pair_freq,
            out[1].corpus_tokens_after) == ("a", "a", 4, 8)
    assert (out[2].sym_a, out[2].sym_b, out[2].pair_freq,
            out[2].corpus_tokens_after) == ("a", "b", 3, 5)
    assert (out[3].sym_a, out[3].sym_b, out[3].pair_freq,
            out[3].corpus_tokens_after) == ("aa", "ab", 2, 3)


def test_bpe_encode_hand_computed(spark, tmp_path):
    """Doc-wide BPE encode with the merges learned on the same corpus
    ('aaab aaab ab' + 'ba' + an empty doc -> merges (a,a),(a,b),(aa,ab)
    exactly as in the merge-apply test):

    - doc 0 'aaab aaab ab' (12 chars) encodes to
      [aaab, ' ', aaab, ' ', ab] = 5 tokens — spaces are ordinary
      symbols and no merge crosses them;
    - doc 1 'ba' stays [b, a] = 2 tokens (the (a,b) merge must NOT
      match the reversed pair);
    - doc 2 '' is 0 chars / 0 tokens (the empty-text guard)."""
    from openmrs_patient_migration_script_spark.plans import QUERIES

    rows = [
        (0, "aaab aaab ab", "en", "web", 12),
        (1, "ba", "en", "web", 2),
        (2, "", "en", "web", 0),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))

    out = {r.doc_id: (r.n_char_syms, r.n_bpe_tokens)
           for r in QUERIES["text_bpe_encode"](spark, str(tmp_path)).collect()}
    assert out == {0: (12, 5), 1: (2, 2), 2: (0, 0)}


def test_bpe_merge_dry_corpus(spark, tmp_path):
    """A corpus of single-char words has no adjacent pairs, so the
    trainer learns NOTHING: the ledger is empty (the loop breaks, it
    does not emit null rows) and encode returns every doc unmerged —
    the oracle's scalar-subquery no-op replaces mirror exactly this
    (a cross join against the empty best-pair CTE would instead empty
    the oracle, r9 hardening)."""
    from openmrs_patient_migration_script_spark.plans import QUERIES

    rows = [(1, "a b c", "en", "web", 5)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))

    assert QUERIES["text_bpe_merge_apply"](spark, str(tmp_path)).count() == 0
    enc = QUERIES["text_bpe_encode"](spark, str(tmp_path)).collect()
    assert [(r.doc_id, r.n_char_syms, r.n_bpe_tokens) for r in enc] == [(1, 5, 5)]


def test_bpe_train_merge_table_and_midladder_dry(spark, tmp_path):
    """The 8-round parameterized trainer on 'aaab aaab ab': rounds 1-3
    learn (a,a),(a,b),(aa,ab) exactly as the merge-apply ledger, and
    round 4 finds every word a single symbol — the loop stops EARLY,
    emitting 3 rows not 8 (the mid-ladder merge-dry guard the oracle
    mirrors with empty b{r} CTEs). A fully dry corpus emits zero
    rows."""
    from openmrs_patient_migration_script_spark.plans import QUERIES

    rows = [(0, "aaab aaab ab", "en", "web", 12)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))

    out = {r.merge_rank: (r.sym_a, r.sym_b, r.pair_freq)
           for r in QUERIES["text_bpe_train"](spark, str(tmp_path)).collect()}
    assert out == {1: ("a", "a", 4), 2: ("a", "b", 3), 3: ("aa", "ab", 2)}

    dry = tmp_path / "dry"
    spark.createDataFrame(
        [(1, "a b c", "en", "web", 5)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(str(dry / "documents.parquet"))
    assert QUERIES["text_bpe_train"](spark, str(dry)).count() == 0


def test_bpe_multiline_text_wraps_every_symbol(spark):
    """ADVICE r10: bare '(.)' skips line terminators in Java regex, so a
    word containing an embedded newline got PARTIALLY wrapped symbols
    and semantically wrong token counts. Under the (?s) DOTALL wrap,
    'ab\\ncd ab\\ncd' sees the newline as an ordinary 1-char symbol: all
    adjacent pairs tie at freq 2 and the pair-ASC tie-break picks
    ('\\n','c') then ('\\nc','d') — '\\n' sorts before 'a' — and the doc
    encodes to 3 symbols per word."""
    from openmrs_patient_migration_script_spark.operators.text import (
        bpe_token_count_col,
        bpe_train,
    )

    docs = spark.createDataFrame(
        [(0, "ab\ncd ab\ncd")], "doc_id long, text string"
    )
    merges = bpe_train(docs, n_rounds=2)
    assert [(a, b) for _, a, b, _ in merges] == [("\n", "c"), ("\nc", "d")]
    n = docs.select(
        bpe_token_count_col("text", [(a, b) for _, a, b, _ in merges]).alias(
            "n"
        )
    ).collect()[0]["n"]
    # per word: [ab, \n, cd]; plus the separating space symbol = 7
    assert n == 7


def test_unigram_train_and_encode_hand_computed(spark, tmp_path):
    """'banana banana band': every substring seeds (top-20 covers all
    12), MaxMatch priority puts len-4 pieces first with 'anan' before
    'bana' (tie at cnt 2, piece ASC) — so 'banana' segments [b, anan, a]
    (the greedy len-4 merge starves 'bana'/'ana'/'an'), 'band' segments
    [band]. Usage: anan=2 (banana's corpus freq), band=1; everything
    else starves to zero and drops at the prune. Round 2 re-segments RAW
    words with just {anan, band} and reproduces the same vocabulary —
    the EM fixpoint on this corpus. Encode: doc-wide apply gives
    [b,anan,a,' ',b,anan,a,' ',band] = 9 tokens over 18 chars."""
    from openmrs_patient_migration_script_spark.plans import QUERIES

    rows = [(0, "banana banana band", "en", "web", 18)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))

    ledger = [
        (r.em_round, r.vocab_rank, r.piece, r.piece_len, r.usage_cnt)
        for r in QUERIES["text_unigram_train"](spark, str(tmp_path))
        .orderBy("em_round", "vocab_rank")
        .collect()
    ]
    assert ledger == [
        (1, 1, "anan", 4, 2),
        (1, 2, "band", 4, 1),
        (2, 1, "anan", 4, 2),
        (2, 2, "band", 4, 1),
    ]

    enc = QUERIES["text_unigram_encode"](spark, str(tmp_path)).collect()
    assert [(r.doc_id, r.n_char_syms, r.n_unigram_tokens) for r in enc] == [
        (0, 18, 9)
    ]


def test_unigram_train_dry_corpus(spark, tmp_path):
    """Single-char words have no length>=2 substrings: the seed is
    empty, the EM loop stops before round 1, the ledger is empty, and
    encode returns every doc fully unmerged (char count = token
    count)."""
    from openmrs_patient_migration_script_spark.plans import QUERIES

    spark.createDataFrame(
        [(1, "a b c", "en", "web", 5)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(str(tmp_path / "documents.parquet"))

    assert QUERIES["text_unigram_train"](spark, str(tmp_path)).count() == 0
    enc = QUERIES["text_unigram_encode"](spark, str(tmp_path)).collect()
    assert [(r.doc_id, r.n_char_syms, r.n_unigram_tokens) for r in enc] == [
        (1, 5, 5)
    ]
