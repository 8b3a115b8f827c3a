"""End-to-end training-corpus preparation (builder brief: "the operations a
large-scale training-data pipeline would need", composed).

One call chains the whole preprocessing recipe a user of the reference's
data surface would run before LLM training:

    quality filter → language ID → exact dedup → MinHash near-dup
    cluster removal → deterministic train/val/test split

Shuffle budget at 100 TB (the design constraint):

1. Quality + language ID are **expression-level** (operators/text.py
   ``quality_exprs`` / ``langid_exprs``) stacked onto the ONE corpus scan —
   no join, no shuffle, and the quality filter prunes rows before anything
   expensive runs.
2. Exact dedup is one shuffle on ``md5(text)`` (content hash, never the
   raw text — the shuffle carries 32 bytes per row, not the document).
3. Near-dup candidates reuse the LSH banding join (operators/dedup.py) —
   bounded by bucket sizes, never all-pairs — and only over rows that
   survived 1–2. Cluster merge is connected components
   (operators/graph.py); pair graphs after exact dedup are sparse, so
   they usually fit its driver union-find tier.
4. Split assignment is content-addressed (operators/sampling.py
   ``hash_split``): row-local, reproducible across runs/partitionings.

The intermediate survivor set is localCheckpoint'd once: the LSH self-join
consumes it twice (both sides) and the final anti-membership join consumes
it again — without materialization the scan+filter lineage would re-run
three times.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from openmrs_patient_migration_script_spark.operators.dedup import (
    minhash_candidate_pairs,
)
from openmrs_patient_migration_script_spark.operators.graph import (
    connected_components,
)
from openmrs_patient_migration_script_spark.operators.sampling import hash_split
from openmrs_patient_migration_script_spark.operators.text import (
    langid_argmax,
    langid_exprs,
    quality_exprs,
)

# per-mille split weights over `hash_split`'s 1000 buckets
_SPLITS = {"train": 900, "val": 50, "test": 50}


def prepare_corpus(
    docs: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    min_quality: float = 0.2,
    min_tokens: int = 12,
    double_hash=None,
    hash_buckets: bool = True,
    max_repeated_pct: int | None = None,
) -> DataFrame:
    """Returns (key, predicted_lang, quality_score, split) for every kept
    document. Near-duplicates are found with 16 MinHash rows in 4 bands,
    and the split is 90 % train, 5 % val, 5 % test by content hash
    (`_SPLITS`). ``double_hash``/``hash_buckets`` pass through to the LSH
    stage (the declared query uses the `dedup.md5_pair` double-hash +
    raw-struct bucket form so a SQL oracle can replay the banding join
    exactly; production keeps the xxhash64 defaults). The md5 family is
    not the default because it is both looser and slower: on the
    perfbench ``corpus`` seed 1 input (24 000 documents) it removed 46
    of 20 165 survivors that are not planted near copies (0.23 %, above
    the benchmark's 0.1 % ceiling) where the default removed 0, and a
    warm call took 4.37 s against 3.79 s (median of four, 4-core host).
    ``max_repeated_pct`` (opt-in)
    additionally drops documents whose cross-document repeated-5-gram
    coverage reaches that percentage (`dedup.repeated_span_stats` — the
    exact-substring boilerplate signal document-level near-dup passes
    miss); it runs AFTER exact dedup and BEFORE LSH, since
    boilerplate-heavy docs are exactly the ones that flood LSH buckets."""
    q = quality_exprs(F.col(text_col))
    scores, _ = langid_exprs(F.col(text_col))
    langs = sorted(scores)
    # Two-level projection (see operators/text.py::language_id): the
    # per-language score HOFs materialize once below, the argmax runs over
    # the score columns above — inlining the argmax re-evaluates every
    # O(tokens x markers) filter per row (measured 2.3x slower).
    scored = docs.select(
        F.col(key_col).alias("key"),
        F.col(text_col).alias("text"),
        q["n_tokens"].alias("n_tokens"),
        q["quality_score"].alias("quality_score"),
        *[scores[lang].alias(f"_s_{lang}") for lang in langs],
    )
    enriched = scored.select(
        "key",
        "text",
        "n_tokens",
        "quality_score",
        langid_argmax([f"_s_{lang}" for lang in langs], langs).alias(
            "predicted_lang"
        ),
    ).filter(
        (F.col("quality_score") >= min_quality) & (F.col("n_tokens") >= min_tokens)
    )

    # exact dedup: one row per content hash, deterministic survivor —
    # the same operator as the declared X1 query (dedup.py), keyed on the
    # 32-byte content hash so the shuffle never carries the document
    from openmrs_patient_migration_script_spark.operators.dedup import (
        dedup_exact_keep_first,
    )

    survivors = (
        dedup_exact_keep_first(
            enriched.withColumn("_chash", F.md5(F.col("text"))), ["_chash"], "key"
        )
        .drop("_chash")
        .localCheckpoint(eager=True)
    )

    if max_repeated_pct is not None:
        from openmrs_patient_migration_script_spark.operators.dedup import (
            repeated_span_stats,
        )

        boiler = (
            repeated_span_stats(
                survivors, "key", "text", flag_pct=max_repeated_pct
            )
            .filter(F.col("flagged"))
            .select("key")
        )
        survivors = survivors.join(boiler, "key", "left_anti")

    pairs = minhash_candidate_pairs(
        survivors,
        "key",
        "text",
        double_hash=double_hash,
        hash_buckets=hash_buckets,
        materialize=True,
    )
    kept = _keep_cluster_minimum(survivors, pairs, "key")
    out = kept.select("key", "predicted_lang", "quality_score")
    return hash_split(out, "key", _SPLITS)


def _keep_cluster_minimum(docs: DataFrame, pairs: DataFrame, key: str) -> DataFrame:
    """``docs`` less every document whose candidate-pair component
    (``pairs``' key_a/key_b) holds a smaller key: one survivor per
    near-duplicate cluster. Batch curation and streaming ingest both
    remove near-duplicates by this rule."""
    comp = connected_components(pairs)
    return (
        docs.join(comp, docs[key] == comp.node, "left")
        .filter(F.col("node").isNull() | (F.col("cluster") == F.col(key)))
        .drop("node", "cluster")
    )
