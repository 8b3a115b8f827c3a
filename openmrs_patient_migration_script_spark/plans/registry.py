"""Registry wiring declared queries (SURVEY.md §2 '✔/◐' rows) to oracles.

Each query is a callable ``(spark, sf_dir) -> DataFrame``; each oracle is an
ANSI-SQL string DuckDB runs against the same parquet tables. A query
registered with ``oracle=None`` gets the driver's weaker rows-only check
(reserved for non-SQL-expressible operators).

An oracle fragment that replays an engine kernel is not written here: it
comes from the ``*_sql`` twin beside that kernel — ``shingles_sql``,
``minhash_signatures_sql`` and ``band_buckets_sql`` (operators/dedup.py),
``srp_hashed_sql`` (operators/similarity.py), ``quality_exprs_sql``,
``langid_exprs_sql``, ``STOPWORDS_SQL``, ``token_counts_sql``,
``tf_idf_sql``, ``tfidf_cosine_pairs_sql`` and ``chunk_documents_sql``
(operators/text.py), ``hash_bucket_sql`` (operators/sampling.py),
``connected_components_sql`` (operators/graph.py),
``seasonal_decompose_sql`` (operators/timeseries.py),
``fake_frame_energies_sql`` (operators/multimodal.py),
``deterministic_uuid_sql`` (functions/ids.py) — so a change to a kernel
and to its SQL form is made in one file.

A fixture or oracle tail that several declared queries share is built once,
in the plan module of the queries that use it, and composed by each: the
fuzzy-name pair graph (``NAMED_SQL``/``named_customers``,
``_fuzzy_pairs_sql``, ``_FUZZY_PAIRS_SQL``), the doubling graph
(``_doubling_graph_sql``/``_doubling_edges``), the shingle inverted index
(``_SHARED_SHINGLES_SQL``), the PageRank replay (``_pagerank_oracle``), the
k-core peel round (``_peel_round_sql``) and the Louvain fixture
(``_clique_block_edges``) in dedup_queries.py; the as-of inputs
(``ASOF_INPUTS_SQL``/``asof_side``) and the backward as-of join
(``_asof_oracle``/``_asof_backward``) in relational.py; the exact and
re-ranked top-k (``_QUERIES_SQL``, ``_SCORED_SQL``, ``_topk_sql``,
``_RERANK_TOPK_SQL``, ``_FULL_TOPK_SQL``, ``_topk_overlap``) and
``_LABELED_COMPONENTS_SQL`` in similarity_queries.py; ``_HAMMING_PAIRS_SQL``
in multimodal_queries.py; ``_DRIFT_BINS_SQL`` and ``_diff_fixture_sql`` in
quality_queries.py; ``_ORDERED_EVENTS_SQL``, ``_FUNNEL_STAGES_SQL`` and
``_AB_UNITS_SQL`` in analytics_queries.py. tests/test_sql_twins.py fails
when a pasted copy of the most-shared fragments comes back.

Float policy: any column produced by reassociative float aggregation (SUM /
AVG over doubles) is ``round()``-ed identically on both sides — Spark's
partial-aggregation order is nondeterministic across partitions, so raw
float sums differ from a serial engine in final ulps. Counts, keys, strings,
dates and row-level arithmetic are left exact.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    """Decorator: register a declared query and (optionally) its oracle."""

    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco
