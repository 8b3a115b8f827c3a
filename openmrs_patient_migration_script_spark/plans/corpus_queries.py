"""Declared composed-pipeline query: end-to-end training-corpus prep
(operators/corpus.py) — quality filter → language ID → exact dedup →
MinHash near-dup cluster removal → deterministic split.

This is the builder brief's training-data surface exercised as ONE plan:
the oracle replays every stage in DuckDB (quality/langid expressions,
content-hash survivor pick, the exact md5 double-hash banding join, a
recursive-CTE transitive closure, and the hash-bucket split) so the full
pipeline is value-checked end to end, not just its pieces.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from openmrs_patient_migration_script_spark.operators.corpus import prepare_corpus
from openmrs_patient_migration_script_spark.operators.dedup import (
    band_buckets_sql,
    md5_pair,
    minhash_signatures_sql,
    shingles_sql,
)
from openmrs_patient_migration_script_spark.operators.graph import (
    connected_components_sql,
)
from openmrs_patient_migration_script_spark.operators.sampling import hash_bucket_sql
from openmrs_patient_migration_script_spark.operators.text import (
    STOPWORDS,
    STOPWORDS_SQL,
    langid_exprs_sql,
    quality_exprs_sql,
)
from pyspark.sql import functions as F

from openmrs_patient_migration_script_spark.plans.registry import ORACLES, query
from openmrs_patient_migration_script_spark.sources import load_table

_MIN_QUALITY = 0.2
_MIN_TOKENS = 12

_QUALITY = quality_exprs_sql()
_SCORES, _CASE = langid_exprs_sql()

# The corpus_prep stage chain up to the near-dup cluster labels `labels`,
# shared by the corpus_prep and corpus_dedup_funnel oracles.
_PREP_CTES = f"""
    WITH RECURSIVE scored AS (
      SELECT doc_id, text,
             {_QUALITY["n_tokens"]} AS n_tokens,
             {_QUALITY["quality_score"]} AS quality_score,
             {_SCORES}
      FROM documents
    ),
    enriched AS (
      SELECT doc_id, text, n_tokens, quality_score, {_CASE} AS predicted_lang
      FROM scored
      WHERE quality_score >= {_MIN_QUALITY} AND n_tokens >= {_MIN_TOKENS}
    ),
    exact AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id)
                    AS rn
        FROM enriched
      ) WHERE rn = 1
    ),
    {shingles_sql("exact")},
    {minhash_signatures_sql()},
    {band_buckets_sql(4)},
    pairs AS (
      SELECT DISTINCT a.doc_id AS key_a, b.doc_id AS key_b
      FROM bands a
      JOIN bands b ON a.band = b.band AND a.sig_str = b.sig_str
                  AND a.doc_id < b.doc_id
    ),
    {connected_components_sql()}"""

# the survivors: exact-dedup rows that are their near-dup cluster's minimum
# (or in no cluster), with the split bucket b
_SURVIVORS = f"""
    FROM (
      SELECT exact.*,
             {hash_bucket_sql("doc_id", 1000)} AS b
      FROM exact
    ) e
    LEFT JOIN labels ON labels.node = e.doc_id
    WHERE labels.node IS NULL OR labels.cluster = e.doc_id"""

_CORPUS_PREP_ORACLE = f"""{_PREP_CTES}
    SELECT e.doc_id AS key, e.predicted_lang, e.quality_score,
           CASE WHEN b < 900 THEN 'train'
                WHEN b < 950 THEN 'val'
                ELSE 'test' END AS split{_SURVIVORS}
"""


@query("corpus_prep", oracle=_CORPUS_PREP_ORACLE)
def corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data pipeline over `documents`, value-checked
    end to end. Uses the md5 double-hash + raw-struct-bucket LSH form so
    the oracle replays the banding join exactly; production callers keep
    `prepare_corpus`'s cheaper xxhash64 defaults."""
    docs = load_table(spark, sf_dir, "documents")
    return prepare_corpus(
        docs,
        min_quality=_MIN_QUALITY,
        min_tokens=_MIN_TOKENS,
        double_hash=md5_pair,
        hash_buckets=False,
    )


# Every CTE is referenced exactly once, so DuckDB's per-reference CTE
# inlining cannot re-expand the recursive closure (the graph_kcore oracle
# trap).
_FUNNEL_ORACLE = f"""{_PREP_CTES},
    kept AS (
      SELECT e.doc_id{_SURVIVORS}
    )
    SELECT 0 AS stage_idx, 'raw' AS stage,
           (SELECT count(*) FROM documents)::BIGINT AS n_docs
    UNION ALL
    SELECT 1, 'quality_filtered', (SELECT count(*) FROM enriched)::BIGINT
    UNION ALL
    SELECT 2, 'exact_deduped', (SELECT count(*) FROM exact)::BIGINT
    UNION ALL
    SELECT 3, 'neardup_deduped', (SELECT count(*) FROM kept)::BIGINT
    """


@query("corpus_dedup_funnel", oracle=_FUNNEL_ORACLE)
def corpus_dedup_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X13b (r7): the corpus-prep DEDUP FUNNEL — stage-by-stage document
    counts through the exact `corpus_prep` pipeline (raw → quality/length
    filter → exact dedup → LSH near-dup cluster survivors), the
    certification table for the composed pipeline itself: each stage's
    marginal removal is an exact auditable number (what did quality cost,
    what did exact dedup remove that near-dup would have caught anyway),
    which is the first report any 100 TB ingest run publishes. The
    oracle replays the identical stage chain (same CTE prefix as
    `corpus_prep`'s oracle, one count per stage), so the hash match
    proves the funnel counts come from the same pipeline the declared
    end-to-end query ships.

    Scale: the quality/langid stage scans documents once; the exact
    stage is one content-hash distinct; the final stage replays the
    banded LSH join. Each count is a one-row agg unioned into 4 rows —
    the stage PREFIXES recompute rather than checkpoint (counts need no
    row reuse, and a checkpoint of the full filtered corpus would cost
    more than the recount at any scale)."""
    from pyspark.sql import functions as F

    from openmrs_patient_migration_script_spark.operators.text import (
        quality_exprs,
    )

    docs = load_table(spark, sf_dir, "documents")
    q = quality_exprs(F.col("text"))
    enriched = docs.select(
        F.col("doc_id"),
        F.col("text"),
        q["n_tokens"].alias("n_tokens"),
        q["quality_score"].alias("quality_score"),
    ).filter(
        (F.col("quality_score") >= _MIN_QUALITY)
        & (F.col("n_tokens") >= _MIN_TOKENS)
    )
    final = prepare_corpus(
        docs,
        min_quality=_MIN_QUALITY,
        min_tokens=_MIN_TOKENS,
        double_hash=md5_pair,
        hash_buckets=False,
    )

    def stage(idx: int, name: str, df: DataFrame) -> DataFrame:
        return df.agg(
            F.lit(idx).cast("int").alias("stage_idx"),
            F.lit(name).alias("stage"),
            F.count(F.lit(1)).cast("long").alias("n_docs"),
        )

    return (
        stage(0, "raw", docs)
        .unionByName(stage(1, "quality_filtered", enriched))
        .unionByName(
            stage(
                2,
                "exact_deduped",
                enriched.groupBy(F.md5(F.col("text"))).agg(F.lit(1)),
            )
        )
        .unionByName(stage(3, "neardup_deduped", final))
    )


@query(
    "corpus_curriculum",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id,
             {_QUALITY["n_tokens"]} AS n_tokens,
             (({_QUALITY["n_tokens"]}
               - len(list_filter(string_split(lower(text), ' '),
                                 t -> list_contains({STOPWORDS_SQL}, t)))) * 100)
             // greatest({_QUALITY["n_tokens"]}, 1) AS q
      FROM documents
    ),
    hist AS (
      SELECT q, count(*)::BIGINT AS nd, sum(n_tokens)::BIGINT AS tk
      FROM scored GROUP BY q
    ),
    cum AS (
      SELECT q, nd, tk,
             sum(nd) OVER (ORDER BY q
                           ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS c,
             sum(nd) OVER () AS t
      FROM hist
    ),
    thr AS (
      SELECT d, min(q) AS tq
      FROM cum CROSS JOIN (SELECT unnest(generate_series(1, 10)) AS d)
      WHERE 10 * c >= d * t GROUP BY d
    ),
    assign AS (
      SELECT h.q, h.nd, h.tk, min(th.d) AS decile
      FROM hist h JOIN thr th ON h.q <= th.tq GROUP BY 1, 2, 3
    ),
    dec AS (
      SELECT decile, sum(nd)::BIGINT AS n_docs, sum(tk)::BIGINT AS tokens
      FROM assign GROUP BY decile
    )
    SELECT decile::BIGINT AS decile, n_docs, tokens,
           sum(tokens) OVER (ORDER BY decile DESC
                             ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW)::BIGINT AS cum_tokens,
           (2 * sum(tokens) OVER (ORDER BY decile DESC
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW)
            <= sum(tokens) OVER ()) AS in_half_budget
    FROM dec
    """,
)
def corpus_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X13c (r8): token-budget curriculum schedule — quality deciles of
    the corpus with best-first cumulative token mass and a budget flag:
    the table a curriculum/mixture planner reads to decide "train the
    first epoch on the top deciles until half the token budget is
    spent". The quality score is the pure-integer non-stopword percent
    (0..100), so decile THRESHOLDS come from a 101-cell score histogram
    — no global sort, no per-doc rank: one scan + one 101-key agg is the
    only data-sized work; threshold selection, decile assignment and the
    best-first cumulative all run on bounded metadata rows (the
    single-partition windows here span ≤101 rows by construction).
    Value-threshold deciles (smallest score whose cumulative doc count
    reaches d·n/10) keep tied scores in one decile on both engines —
    heavily tied grids may leave some deciles empty, and those rows are
    absent rather than zero-filled."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    toks = "filter(split(lower(text), ' '), t -> t != '')"
    stop_arr = "array(" + ", ".join(f"'{s}'" for s in STOPWORDS) + ")"
    scored = docs.select(
        F.expr(f"size({toks})").cast("long").alias("n_tokens"),
        F.expr(
            f"((size({toks}) - size(filter({toks}, "
            f"t -> array_contains({stop_arr}, t)))) * 100) "
            f"div greatest(size({toks}), 1)"
        )
        .cast("long")
        .alias("q"),
    )
    hist = scored.groupBy("q").agg(
        F.count(F.lit(1)).cast("long").alias("nd"),
        F.sum("n_tokens").cast("long").alias("tk"),
    )
    # bounded windows: the histogram has <= 101 cells by construction
    wq = Window.orderBy("q").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy()
    cum = hist.select(
        "q",
        "nd",
        "tk",
        F.sum("nd").over(wq).alias("c"),
        F.sum("nd").over(wall).alias("t"),
    )
    thr = (
        cum.crossJoin(
            F.broadcast(
                spark.range(1, 11).select(F.col("id").alias("d"))
            )
        )
        .filter(10 * F.col("c") >= F.col("d") * F.col("t"))
        .groupBy("d")
        .agg(F.min("q").alias("tq"))
    )
    assign = (
        hist.join(F.broadcast(thr), hist["q"] <= thr["tq"])
        .groupBy("q", "nd", "tk")
        .agg(F.min("d").alias("decile"))
    )
    dec = assign.groupBy("decile").agg(
        F.sum("nd").cast("long").alias("n_docs"),
        F.sum("tk").cast("long").alias("tokens"),
    )
    wd = Window.orderBy(F.desc("decile")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    return dec.select(
        F.col("decile").cast("long").alias("decile"),
        "n_docs",
        "tokens",
        F.sum("tokens").over(wd).cast("long").alias("cum_tokens"),
        (
            2 * F.sum("tokens").over(wd) <= F.sum("tokens").over(wall)
        ).alias("in_half_budget"),
    )


@query(
    "corpus_dup_rate_by_source",
    oracle=f"""
    WITH RECURSIVE pairs AS (
      SELECT key_a, key_b FROM ({ORACLES["dedup_minhash"]}) mh
    ),
    {connected_components_sql()},
    removed AS (
      SELECT node AS doc_id FROM labels WHERE node <> cluster
    )
    SELECT d.source,
           count(*)::BIGINT AS n_docs,
           coalesce(sum(CASE WHEN r.doc_id IS NOT NULL THEN 1 ELSE 0 END),
                    0)::BIGINT AS n_removed,
           ((1000000 * coalesce(sum(CASE WHEN r.doc_id IS NOT NULL
                                         THEN 1 ELSE 0 END), 0))
            // count(*))::BIGINT AS removed_ppm
    FROM documents d
    LEFT JOIN removed r ON r.doc_id = d.doc_id
    GROUP BY d.source
    """,
)
def corpus_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X13d (r10): per-SOURCE duplication audit — the dedup × data-mix
    bridge a corpus curator reads before re-weighting: for each source
    domain, how many documents the keep-cluster-min near-dup pass
    (exactly `corpus_prep`'s rule) would REMOVE, as (source, n_docs,
    n_removed, removed_ppm). A source whose removed_ppm spikes is
    re-crawling itself (or being mirrored elsewhere) — its effective
    token contribution is smaller than its row count, which silently
    skews any mixture computed from raw counts.

    Plan: the declared md5 MinHash banding (`dedup_minhash`) feeds
    connected components (tiny pair graph → the adaptive driver/funnel
    tiers); removed docs are the labeled nodes that are NOT their
    cluster's min; one left join back to the corpus + a source-keyed
    rollup. removed_ppm is pure integer arithmetic (1e6-scaled floor
    division) — no float boundary. Oracle composes the minhash oracle
    with the transitive-closure CTE and the identical rollup."""
    from openmrs_patient_migration_script_spark.operators.graph import (
        connected_components,
    )
    from openmrs_patient_migration_script_spark.plans.dedup_queries import (
        dedup_minhash,
    )

    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup_minhash(spark, sf_dir)
    labels = connected_components(pairs)
    removed = labels.filter(F.col("node") != F.col("cluster")).select(
        F.col("node").alias("doc_id"), F.lit(1).alias("_r")
    )
    n_removed = F.coalesce(F.sum("_r"), F.lit(0)).cast("long")
    return (
        docs.join(removed, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            n_removed.alias("n_removed"),
        )
        .select(
            "source",
            "n_docs",
            "n_removed",
            F.expr("(1000000 * n_removed) div n_docs").alias("removed_ppm"),
        )
    )
