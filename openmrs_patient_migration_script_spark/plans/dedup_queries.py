"""Declared dedup queries (SURVEY.md §2.9 X1-X3) — the operator library in
operators/dedup.py wired to the correctness gate.

- `dedup_fuzzy` / `dedup_ngram_jaccard`: full DuckDB hash-check (integer
  distances / counts keep the comparison byte-exact).
- `dedup_minhash` / `dedup_simhash`: the declared forms swap the default
  xxhash64 (no DuckDB twin) for md5-derived hashes, so both oracles are
  exact; the xxhash64 defaults stay the production path, with recall
  pinned by planted-near-dup unit tests (tests/test_dedup_operators.py).

(`dedup_exact` lives in plans/etl_queries.py since round 1.)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from openmrs_patient_migration_script_spark.operators.dedup import (
    band_buckets_sql,
    fuzzy_dedup_pairs,
    md5_pair,
    minhash_candidate_pairs,
    minhash_signatures_sql,
    ngram_jaccard_pairs,
    shingles_sql,
    simhash,
)
from openmrs_patient_migration_script_spark.operators.graph import (
    LOUVAIN_ROUNDS,
    PAGERANK_DAMPING_PCT,
    PAGERANK_N_ITER,
    PAGERANK_SCALE,
    connected_components_sql,
)
from openmrs_patient_migration_script_spark.operators.similarity import srp_hashed_sql
from openmrs_patient_migration_script_spark.plans.registry import query
from openmrs_patient_migration_script_spark.sources import load_table

# Synthetic patient-name column for fuzzy matching: map the padded custkey's
# digits to letters so Levenshtein distance == number of differing digit
# positions — fully deterministic and reproducible in ANSI SQL.
_NAME_SQL = "translate(lpad(CAST(c_custkey AS VARCHAR), 9, '0'), '0123456789', 'abcdefghij')"
# the 7-character name-prefix block of every fuzzy-name comparison
_BLOCK_SQL = "substring(a.name, 1, 7) = substring(b.name, 1, 7)"
# the CTE named (key, name) over customer, the SQL form of `named_customers`
NAMED_SQL = f"""named AS (
      SELECT c_custkey AS key, {_NAME_SQL} AS name FROM customer
    )"""


def _name() -> Column:
    """The Spark form of `_NAME_SQL`."""
    return F.translate(
        F.lpad(F.col("c_custkey").cast("string"), 9, "0"),
        "0123456789",
        "abcdefghij",
    )


def named_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(key, name) per customer — the input of every fuzzy-name query."""
    c = load_table(spark, sf_dir, "customer")
    return c.select(F.col("c_custkey").alias("key"), _name().alias("name"))


def _fuzzy_pairs_sql(suffix: str = "") -> str:
    """SQL twin of `dedup_fuzzy` over the CTE ``named{suffix}``: the CTE
    ``pairs{suffix}`` (key_a, key_b, dist)."""
    return f"""pairs{suffix} AS (
      SELECT a.key AS key_a, b.key AS key_b,
             levenshtein(a.name, b.name) AS dist
      FROM named{suffix} a JOIN named{suffix} b
        ON {_BLOCK_SQL}
       AND a.key < b.key
      WHERE levenshtein(a.name, b.name) <= 1
    )"""


# the fuzzy-name pair graph the name-graph oracles start from: CTEs named
# and pairs
_FUZZY_PAIRS_SQL = f"""{NAMED_SQL},
    {_fuzzy_pairs_sql()}"""


@query(
    "dedup_fuzzy",
    oracle=f"""
    WITH {_FUZZY_PAIRS_SQL}
    SELECT key_a, key_b, dist FROM pairs
    """,
)
def dedup_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2: near-duplicate patient names via blocking + Levenshtein — the
    reference's fuzzy patient-matching shape (SURVEY.md §2.3 J9). Candidates
    only within a name-prefix block: the block key is the shuffle key, so
    the O(n²) comparator is bounded by the largest block, not the table."""
    return fuzzy_dedup_pairs(
        named_customers(spark, sf_dir), "key", "name", [F.substring("name", 1, 7)],
        max_distance=1,
    )


_JACCARD_MIN_SHARED = 2
_JACCARD_MAX_DF = 50


_CONTAIN_PCT = 80  # emit pairs where >= 80% of a's shingles appear in b

# the shingle inverted index of the declared pair-overlap queries: CTEs
# sizes (doc_id, n_sh) and inter (key_a < key_b, inter_cnt — pairs that
# share >= _JACCARD_MIN_SHARED shingles of document frequency <=
# _JACCARD_MAX_DF), over `shingles_sql`
_SHARED_SHINGLES_SQL = f"""{shingles_sql()},
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    dfq AS (SELECT shingle, count(*) AS dfc FROM sh GROUP BY shingle),
    shf AS (
      SELECT sh.doc_id, sh.shingle FROM sh JOIN dfq USING (shingle)
      WHERE dfc <= {_JACCARD_MAX_DF}
    ),
    inter AS (
      SELECT a.doc_id AS key_a, b.doc_id AS key_b, count(*) AS inter_cnt
      FROM shf a JOIN shf b USING (shingle)
      WHERE a.doc_id < b.doc_id
      GROUP BY 1, 2
      HAVING count(*) >= {_JACCARD_MIN_SHARED}
    )"""


@query(
    "dedup_containment",
    oracle=f"""
    WITH {_SHARED_SHINGLES_SQL},
    oriented AS (
      SELECT key_a, key_b, inter_cnt, sa.n_sh AS n_a
      FROM inter JOIN sizes sa ON sa.doc_id = key_a
      UNION ALL
      SELECT key_b AS key_a, key_a AS key_b, inter_cnt, sb.n_sh AS n_a
      FROM inter JOIN sizes sb ON sb.doc_id = key_b
    )
    SELECT key_a, key_b, inter_cnt, n_a::BIGINT AS n_a
    FROM oriented
    WHERE inter_cnt * 100 >= {_CONTAIN_PCT} * n_a
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document duplication: ordered pairs where >= 80% of doc a's
    3-gram shingles also occur in doc b (operators/dedup.py::
    containment_pairs) — catches the quote-inclusion / boilerplate-embed
    near-dups that union-normalized Jaccard under-scores. Same inverted
    index and max-df prefix filter as `dedup_ngram_jaccard`; direction is
    a row-local explode after the pair agg, and the threshold compares
    integers (`100*inter >= 80*n_a`), so the hash check is byte-exact."""
    from openmrs_patient_migration_script_spark.operators.dedup import (
        containment_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    pairs = containment_pairs(
        docs,
        "doc_id",
        "text",
        shingle_n=3,
        min_shared=_JACCARD_MIN_SHARED,
        max_df=_JACCARD_MAX_DF,
    )
    return pairs.filter(
        F.col("inter_cnt") * F.lit(100) >= F.lit(_CONTAIN_PCT) * F.col("n_a")
    )


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH {_SHARED_SHINGLES_SQL}
    SELECT key_a, key_b, inter_cnt,
           sa.n_sh + sb.n_sh - inter_cnt AS union_cnt
    FROM inter
    JOIN sizes sa ON sa.doc_id = key_a
    JOIN sizes sb ON sb.doc_id = key_b
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2b: n-gram Jaccard near-dup pairs via the inverted-index self-join,
    with the document-frequency cap bounding hot-shingle buckets. Integer
    inter/union counts keep the oracle exact."""
    d = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(
        d, "doc_id", "text",
        shingle_n=3, min_shared=_JACCARD_MIN_SHARED, max_df=_JACCARD_MAX_DF,
    )


@query(
    "dedup_minhash",
    oracle=f"""
    WITH {shingles_sql()},
    {minhash_signatures_sql()},
    {band_buckets_sql(4)}
    SELECT DISTINCT a.doc_id AS key_a, b.doc_id AS key_b
    FROM bands a
    JOIN bands b ON a.band = b.band AND a.sig_str = b.sig_str
                AND a.doc_id < b.doc_id
    """,
)
def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3: MinHash+LSH candidate pairs — shingle→minhash in one groupBy,
    band/bucket join (never all-pairs). At 100 TB the bucket join shuffles
    on (band, bucket) and AQE splits skewed buckets. The declared form
    uses ONE md5 per shingle split into two 32-bit halves, expanded to 16
    hash functions by double hashing (h1 + i*h2 mod 2^32) + raw-signature
    band keys, so the DuckDB oracle reproduces the banding join exactly at
    near-xxhash64 cost; production keeps the defaults (seeded xxhash64 +
    hashed buckets — cheaper shuffle keys)."""
    d = load_table(spark, sf_dir, "documents")
    return minhash_candidate_pairs(
        d, "doc_id", "text", num_hashes=16, bands=4,
        double_hash=md5_pair, hash_buckets=False,
    )


@query(
    "dedup_simhash",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    h AS (
      SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h FROM toks
    ),
    bits AS (
      SELECT doc_id, b,
             sum(CASE WHEN (h & ((1::BIGINT) << b)) != 0 THEN 1 ELSE -1 END) AS s
      FROM h CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS b) bs
      GROUP BY doc_id, b
    )
    SELECT doc_id AS key,
           CAST(sum(CASE WHEN s > 0 THEN ((1::BIGINT) << b) ELSE 0 END) AS BIGINT)
             AS simhash
    FROM bits GROUP BY doc_id
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2c: per-document SimHash fingerprint (majority bit over token
    hashes) — near-dups are small Hamming distances between fingerprints;
    one groupBy, 32 integer aggregates, no UDFs. The declared form hashes
    tokens with md5-derived 32-bit values so the DuckDB oracle matches
    bit-for-bit; production swaps hash_fn back to xxhash64 (default)."""
    d = load_table(spark, sf_dir, "documents")
    md5_32 = lambda c: F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long")  # noqa: E731
    return simhash(d, "doc_id", "text", hash_fn=md5_32)


@query(
    "dedup_simhash_pairs",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    h AS (
      SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM toks
    ),
    bits AS (
      SELECT doc_id, b,
             sum(CASE WHEN (h & ((1::BIGINT) << b)) != 0 THEN 1 ELSE -1 END) AS s
      FROM h CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS b) bs
      GROUP BY doc_id, b
    ),
    fp AS (
      SELECT doc_id, CAST(sum(CASE WHEN s > 0 THEN ((1::BIGINT) << b) ELSE 0 END)
                          AS BIGINT) AS f
      FROM bits GROUP BY doc_id
    )
    SELECT a.doc_id AS key_a, b.doc_id AS key_b,
           CAST(bit_count(xor(a.f, b.f)) AS BIGINT) AS hamming
    FROM fp a JOIN fp b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.f, b.f)) <= 3
    """,
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2c-search: SimHash near-dup PAIRS within Hamming distance 3 —
    the banded candidate search that completes the fingerprint-only
    `dedup_simhash` (operators/dedup.py::simhash_pairs). 60-bit
    fingerprints split into 4 bands of 15 bits: a <=3-bit difference
    leaves at least one band identical (pigeonhole), so candidates are an
    equi-join on (band_idx, band_value) and the O(n²) comparison never
    runs; exact bit_count re-check and first-agreeing-band dedup are both
    row-local. The md5-declared 60-bit form is what production would use
    anyway (wide fingerprints = fine-grained bands) — here it also makes
    the brute-force DuckDB oracle exact."""
    from openmrs_patient_migration_script_spark.operators.dedup import simhash_pairs

    d = load_table(spark, sf_dir, "documents")
    md5_60 = lambda c: F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")  # noqa: E731
    fps = simhash(d, "doc_id", "text", bits=60, hash_fn=md5_60)
    return simhash_pairs(fps, bits=60, max_hamming=3)


@query(
    "dedup_clusters",
    oracle=f"""
    WITH RECURSIVE {_FUZZY_PAIRS_SQL},
    {connected_components_sql()}
    SELECT node, cluster FROM labels
    """,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pair candidates → duplicate clusters via connected components
    (operators/graph.py::connected_components) over the dedup_fuzzy pair
    graph, on whichever size tier the operator picks (the driver
    union-find at test scale). Oracle = transitive closure via a DuckDB
    recursive CTE."""
    from openmrs_patient_migration_script_spark.operators.graph import (
        connected_components,
    )

    pairs = dedup_fuzzy(spark, sf_dir)
    return connected_components(pairs)


@query(
    "graph_components_star",
    oracle=f"""
    WITH RECURSIVE {_FUZZY_PAIRS_SQL},
    {connected_components_sql()}
    SELECT node, cluster FROM labels
    """,
)
def graph_components_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X9b: the same pair graph as `dedup_clusters`, forced onto
    `connected_components`' Small-Star/Large-Star rounds
    (``local_threshold=0`` — Kiveris et al.), the tier that graphs above
    the funnel threshold take: O(log n) rounds on ANY topology. Declared
    separately so the rounds are themselves oracle-graded (identical
    transitive-closure oracle — every tier must agree on every cluster
    label), not just property-tested; at test scale the default tiers
    would route this graph to the driver union-find."""
    from openmrs_patient_migration_script_spark.operators.graph import (
        connected_components,
    )

    pairs = dedup_fuzzy(spark, sf_dir)
    return connected_components(pairs, local_threshold=0)


_LPA_ROUNDS = 3  # graph_label_propagation's rounds, replayed by its oracle


def _labelprop_oracle() -> str:
    """Unrolled synchronous-LPA replay: each round is a count CTE + a
    row_number argmax whose ORDER BY (cnt DESC, label ASC) is exactly the
    engine's max_by(label, (cnt, -label)) struct ordering."""
    sql = f"""
    WITH {_FUZZY_PAIRS_SQL},
    e AS (
      SELECT key_a AS u, key_b AS v FROM pairs
      UNION ALL SELECT key_b, key_a FROM pairs
    ),
    l0 AS (SELECT DISTINCT u AS node, u AS label FROM e)"""
    for i in range(1, _LPA_ROUNDS + 1):
        sql += f""",
    c{i} AS (
      SELECT node, label, count(*) AS cnt FROM (
        SELECT e.v AS node, l{i - 1}.label
        FROM e JOIN l{i - 1} ON e.u = l{i - 1}.node
        UNION ALL
        SELECT node, label FROM l{i - 1}
      ) GROUP BY 1, 2
    ),
    l{i} AS (
      SELECT node, label FROM (
        SELECT node, label,
               row_number() OVER (PARTITION BY node
                                  ORDER BY cnt DESC, label ASC) AS rn
        FROM c{i}
      ) WHERE rn = 1
    )"""
    sql += f"""
    SELECT node, label AS community FROM l{_LPA_ROUNDS}
    """
    return sql


@query("graph_label_propagation", oracle=_labelprop_oracle())
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X9d: fixed-round synchronous label propagation over the fuzzy-name
    pair graph (operators/graph.py::label_propagation) — community
    detection between reachability and centrality: a thin bridge edge
    merges two clusters under connected components but NOT under the
    neighborhood-majority rule. Deterministic by construction (sync
    rounds, fixed count, self-label in the vote, (cnt desc, label asc)
    tie-break), so the 3-round unrolled oracle replays it exactly —
    and the self-vote makes isolated pairs CONVERGE to min(a, b)
    instead of oscillating with round parity. Two keyed shuffles per
    round; lineage checkpoint-truncated each round."""
    from openmrs_patient_migration_script_spark.operators.graph import (
        label_propagation,
    )

    pairs = dedup_fuzzy(spark, sf_dir)
    # single-pass blocked join: unique per unordered pair by construction
    return label_propagation(pairs, n_iter=_LPA_ROUNDS, assume_canonical=True)


@query(
    "graph_assortativity",
    oracle="""
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    pairs AS (
      SELECT a.l_partkey AS key_a, b.l_partkey AS key_b
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING count(*) >= 2
    ),
    e AS (
      SELECT key_a AS u, key_b AS v FROM pairs
      UNION ALL SELECT key_b, key_a FROM pairs
    ),
    deg AS (SELECT u, count(*) AS d FROM e GROUP BY u),
    ends AS (
      SELECT du.d AS x, dv.d AS y
      FROM e JOIN deg du ON e.u = du.u JOIN deg dv ON e.v = dv.u
    ),
    sums AS (
      SELECT count(*) AS n,
             sum(CAST(x AS DECIMAL(38,0))) AS sx,
             sum(CAST(y AS DECIMAL(38,0))) AS sy,
             sum(CAST(x * x AS DECIMAL(38,0))) AS sxx,
             sum(CAST(y * y AS DECIMAL(38,0))) AS syy,
             sum(CAST(x * y AS DECIMAL(38,0))) AS sxy
      FROM ends
    )
    SELECT n AS n_edge_ends,
           round((n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
                 / sqrt((n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
                        * (n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE)),
                 6) AS assortativity
    FROM sums
    WHERE n >= 2
      AND (n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE) > 0.0
      AND (n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE) > 0.0
    """,
)
def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X9e: degree assortativity
    (operators/graph.py::degree_assortativity) of the basket
    co-occurrence graph — one number for WHO links to whom: negative
    means hubs absorb leaves (in a dedup graph, the too-coarse-
    blocking-key early warning), positive means like links like. The
    part-affinity graph is the declared fixture because it has genuine
    hubs; the fuzzy-name pair graph is all isolated edges (zero degree
    variance → the coefficient is undefined there, and the audit
    correctly emits nothing). Exact decimal power sums under the
    correlation (`group_corr`'s recipe) keep the 6dp value bit-stable;
    the degree table broadcasts onto the edge list twice, one global
    moment agg."""
    from openmrs_patient_migration_script_spark.operators.graph import (
        degree_assortativity,
    )
    from openmrs_patient_migration_script_spark.plans.analytics_queries import (
        affinity_basket_pairs,
    )

    pairs = affinity_basket_pairs(spark, sf_dir).select("part_a", "part_b")
    return degree_assortativity(pairs, src="part_a", dst="part_b")


def _pagerank_oracle(seed: str) -> str:
    """Unrolled fixed-point PageRank replay: every power iteration is a
    CTE chain of integer arithmetic (the same `div`/`//` semantics on
    both engines — non-negative operands, so trunc == floor), so the
    iterative algorithm is EXACTLY reproducible, not approximately. The
    teleport floor lands on the nodes where the SQL predicate ``seed``
    (over ``deg.u``) holds: ``TRUE`` for uniform PageRank, a seed set for
    the personalized form; everything stays integer."""
    n_iter, d, scale = PAGERANK_N_ITER, PAGERANK_DAMPING_PCT, PAGERANK_SCALE
    sql = f"""
    WITH {_FUZZY_PAIRS_SQL},
    e AS (
      SELECT key_a AS u, key_b AS v FROM pairs
      UNION ALL SELECT key_b, key_a FROM pairs
    ),
    deg AS (SELECT u, count(*) AS outdeg FROM e GROUP BY u),
    ns AS (SELECT count(*) AS n FROM deg WHERE {seed}),
    r0 AS (
      SELECT deg.u, deg.outdeg,
             CAST(CASE WHEN {seed} THEN {scale} // ns.n ELSE 0 END
                  AS BIGINT) AS r
      FROM deg CROSS JOIN ns
    )"""
    for i in range(1, n_iter + 1):
        sql += f""",
    c{i} AS (
      SELECT e.v AS node, (r{i - 1}.r // r{i - 1}.outdeg) AS c
      FROM e JOIN r{i - 1} ON e.u = r{i - 1}.u
    ),
    inf{i} AS (SELECT node, sum(c) AS inflow FROM c{i} GROUP BY node),
    r{i} AS (
      SELECT deg.u, deg.outdeg,
             CAST(((CASE WHEN {seed}
                         THEN {100 - d} * ({scale} // ns.n) ELSE 0 END)
                   + {d} * coalesce(inf{i}.inflow, 0)) // 100
                  AS BIGINT) AS r
      FROM deg CROSS JOIN ns LEFT JOIN inf{i} ON inf{i}.node = deg.u
    )"""
    sql += f"""
    SELECT u AS node, r AS rank_scaled, r / {scale}.0 AS rank
    FROM r{n_iter}
    """
    return sql


@query("graph_pagerank", oracle=_pagerank_oracle("TRUE"))
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X9d (r4): fixed-point PageRank over the fuzzy-pair graph
    (operators/graph.py::pagerank) — node centrality for duplicate-cluster
    triage: the hub records duplicate mass concentrates on are the natural
    survivorship representatives. The whole recurrence runs in integer
    arithmetic (rank units of 1e-9), so FOUR power iterations replay
    bit-exactly in the unrolled DuckDB oracle — the same
    content-addressed-determinism move that made the k-means trainer
    hash-checkable, here applied to an iterative graph algorithm. Per
    iteration: one node-keyed shuffle join + one inflow agg + one left
    join back to the node universe; lineage truncated per round."""
    from openmrs_patient_migration_script_spark.operators.graph import pagerank

    return pagerank(dedup_fuzzy(spark, sf_dir))


@query(
    "graph_triangles",
    oracle=f"""
    WITH {_FUZZY_PAIRS_SQL}
    SELECT count(*) AS n_triangles
    FROM pairs e1
    JOIN pairs e2 ON e2.key_a = e1.key_b
    JOIN pairs e3 ON e3.key_a = e1.key_a AND e3.key_b = e2.key_b
    """,
)
def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X9c: triangle count of the fuzzy-pair graph — the density probe of
    a dedup candidate graph (near-clique duplicate groups are
    triangle-rich; chained false positives are triangle-free). Runs the
    degree-oriented two-join counting scheme
    (operators/graph.py::triangle_count): every edge oriented toward its
    higher-(degree, id) endpoint bounds each wedge fan-out by
    O(sqrt(|E|)) — the arboricity bound — so one hot node cannot own the
    job; the oracle is the naive ordered three-way self-join, which
    counts each triangle once by key order instead."""
    from openmrs_patient_migration_script_spark.operators.graph import (
        triangle_count,
    )

    return triangle_count(dedup_fuzzy(spark, sf_dir))


@query(
    "etl_golden_record",
    oracle=f"""
    WITH RECURSIVE {_FUZZY_PAIRS_SQL},
    {connected_components_sql()},
    members AS (
      SELECT cl.cluster, cl.node, c.c_acctbal
      FROM labels cl JOIN customer c ON c.c_custkey = cl.node
    )
    SELECT cluster, node AS survivor_key,
           round(c_acctbal, 2) AS survivor_bal, n_members
    FROM (
      SELECT *,
             row_number() OVER (PARTITION BY cluster
                                ORDER BY c_acctbal DESC, node ASC) AS rn,
             count(*) OVER (PARTITION BY cluster) AS n_members
      FROM members
    ) WHERE rn = 1
    """,
)
def etl_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E12: survivorship — the step after dedup clustering that MDM
    pipelines actually ship: per duplicate cluster, elect ONE golden
    record (here: highest account balance, ties to the lowest key) and
    report the membership it supersedes. Survivor election is a
    REDUCTION (`max_by` over a (balance, -key) struct — one
    partial-combinable hash agg), not a per-cluster sort: the oracle's
    row_number()==1 window form shuffles and sorts every member row,
    while max_by carries a single (value, arg) pair per cluster through
    map-side combine — the A9 arg-extrema shape applied to the X9
    cluster output."""
    from openmrs_patient_migration_script_spark.operators.graph import (
        connected_components,
    )

    pairs = dedup_fuzzy(spark, sf_dir)
    labels = connected_components(pairs)
    c = load_table(spark, sf_dir, "customer")
    members = labels.join(c, labels["node"] == c["c_custkey"])
    return members.groupBy("cluster").agg(
        F.max_by(
            F.col("node"), F.struct(F.col("c_acctbal"), (-F.col("node")).alias("nk"))
        ).alias("survivor_key"),
        F.round(F.max("c_acctbal"), 2).alias("survivor_bal"),
        F.count("*").alias("n_members"),
    )


_EMB_DUP_THRESHOLD = 0.4


@query(
    "dedup_embedding",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    )
    SELECT key_a, key_b, cos_sim FROM (
      SELECT a.vec_id AS key_a, b.vec_id AS key_b,
             round(list_cosine_similarity(a.v, b.v), 6) AS cos_sim
      FROM e a JOIN e b ON a.vec_id < b.vec_id
    ) WHERE cos_sim >= {_EMB_DUP_THRESHOLD}
    """,
)
def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2d: embedding-cosine near-duplicate pairs — semantic dedup, the
    last of the builder brief's dedup family. EXACT and fully distributed
    via the block-grid all-pairs join (operators/similarity.py::
    cosine_pairs_blocked): vectors shuffle n·B rows into a B×B grid of
    block-pair cells, each cell scores one numpy matmul, and a pair lives
    in exactly one cell — no driver-side corpus collect anywhere (r2's
    declared path shipped the collected corpus matrix in every task
    closure; kept as `cosine_pairs_vectorized`, the small-batch reference
    the equivalence test runs against). At the declared low threshold LSH
    candidates are measurably useless (98.6% of pairs survive as
    candidates at sf0.1 AND 2/920 true pairs are missed); the
    sub-quadratic high-threshold near-dup path is
    `cosine_pairs_lsh` with its recall test."""
    from openmrs_patient_migration_script_spark.operators.similarity import (
        cosine_pairs_blocked,
    )

    e = load_table(spark, sf_dir, "embeddings")
    return cosine_pairs_blocked(e, threshold=_EMB_DUP_THRESHOLD)


@query(
    "graph_link_prediction",
    oracle=f"""
    WITH {_FUZZY_PAIRS_SQL},
    e AS (SELECT key_a AS u, key_b AS v FROM pairs),
    sym AS (
      SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e
    ),
    deg AS (SELECT u, count(*)::BIGINT AS deg FROM sym GROUP BY u),
    wedges AS (
      SELECT l.u AS a, r.u AS b, count(*)::BIGINT AS common_cnt
      FROM sym l JOIN sym r ON l.v = r.v AND l.u < r.u
      GROUP BY 1, 2
    ),
    cand AS (
      SELECT w.* FROM wedges w
      LEFT JOIN e ON e.u = w.a AND e.v = w.b
      WHERE e.u IS NULL
    )
    SELECT c.a AS key_a, c.b AS key_b, c.common_cnt,
           da.deg AS deg_a, db.deg AS deg_b
    FROM cand c
    JOIN deg da ON da.u = c.a
    JOIN deg db ON db.u = c.b
    """,
)
def graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X9e: common-neighbor link prediction over the fuzzy-pair graph
    (operators/graph.py::common_neighbors) — non-edge pairs ranked by
    shared-neighbor count, the "merge these clusters?" signal a dedup
    comparator's false negatives leave behind. One wedge-midpoint
    shuffle bounded by the max_degree super-node cap (uncapped here:
    the fixture's degrees are tiny); counts and degrees stay exact
    integers so Jaccard/Adamic-Adar derive downstream without float
    traps."""
    from openmrs_patient_migration_script_spark.operators.graph import (
        common_neighbors,
    )

    return common_neighbors(dedup_fuzzy(spark, sf_dir), max_degree=None)


@query(
    "graph_clustering_coeff",
    oracle="""
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    pairs AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING count(*) >= 2
    ),
    sym AS (
      SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs
    ),
    deg AS (SELECT u AS n, count(*) AS d FROM sym GROUP BY 1),
    tri AS (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM pairs e1
      JOIN pairs e2 ON e2.u = e1.v
      JOIN pairs e3 ON e3.u = e1.u AND e3.v = e2.v
    ),
    incid AS (
      SELECT corner AS n, count(*) AS t
      FROM tri, UNNEST(list_value(a, b, c)) AS x(corner)
      GROUP BY 1
    )
    SELECT deg.n AS node, deg.d AS degree,
           coalesce(incid.t, 0) AS n_triangles,
           round(2.0 * coalesce(incid.t, 0)::DOUBLE
                 / (deg.d::DOUBLE * (deg.d::DOUBLE - 1.0)), 6)
             AS clustering_coeff
    FROM deg LEFT JOIN incid ON deg.n = incid.n
    WHERE deg.d >= 2
    """,
)
def graph_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X9f: per-node local clustering coefficient of the basket
    co-occurrence graph (operators/graph.py::clustering_coefficient) —
    `graph_triangles`' density probe resolved to nodes: cc≈1 marks
    near-clique duplicate groups, cc≈0 marks hub-chained false
    positives, per node where the global count only averages the two.
    Same degree-oriented wedge machinery with the midpoint carried
    through the closing join; incidence is a row-local 3-corner explode
    + one hash agg; exact integers under one 6dp division."""
    from openmrs_patient_migration_script_spark.operators.graph import (
        clustering_coefficient,
    )
    from openmrs_patient_migration_script_spark.plans.analytics_queries import (
        affinity_basket_pairs,
    )

    pairs = affinity_basket_pairs(spark, sf_dir).select("part_a", "part_b")
    return clustering_coefficient(pairs, src="part_a", dst="part_b")


_SPAN_K = 5
_SPAN_FLAG_PCT = 50


@query(
    "dedup_repeated_spans",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
      FROM documents
    ),
    sized AS (
      SELECT doc_id, t, len(t)::BIGINT AS n_tokens FROM base
      WHERE len(t) >= {_SPAN_K}
    ),
    sh AS (
      SELECT doc_id, n_tokens, i::BIGINT AS start,
             array_to_string(list_slice(t, i, i + {_SPAN_K} - 1), ' ')
               AS shingle
      FROM sized, UNNEST(generate_series(1, n_tokens - {_SPAN_K} + 1))
             AS g(i)
    ),
    rep AS (
      SELECT shingle FROM (
        SELECT shingle, count(DISTINCT doc_id) AS dc FROM sh GROUP BY 1
      ) WHERE dc >= 2
    ),
    occ AS (SELECT sh.* FROM sh JOIN rep USING (shingle)),
    g AS (
      SELECT doc_id, n_tokens, start,
             start - lag(start) OVER (PARTITION BY doc_id ORDER BY start)
               AS gap
      FROM occ
    ),
    agged AS (
      SELECT doc_id, n_tokens,
             count(*) AS n_occurrences,
             sum(CASE WHEN gap IS NULL OR gap > {_SPAN_K} THEN 1
                      ELSE 0 END)::BIGINT AS n_spans,
             sum(CASE WHEN gap IS NULL THEN {_SPAN_K}
                      ELSE least(gap, {_SPAN_K}) END)::BIGINT
               AS n_tokens_covered
      FROM g GROUP BY 1, 2
    )
    SELECT doc_id, n_tokens, n_occurrences, n_spans, n_tokens_covered,
           (100 * n_tokens_covered >= {_SPAN_FLAG_PCT} * n_tokens) AS flagged
    FROM agged
    """,
)
def dedup_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3e (r5): cross-document repeated-span audit
    (operators/dedup.py::repeated_span_stats) — the exact-substring
    dedup signal (Lee et al., ACL 2022): per document, how much of it
    is 5-gram material that recurs in other documents (merged interval
    count + exact union coverage + the 100·covered >= 50·n_tokens drop
    flag). Inverted-index plan: the
    document-frequency agg shuffles distinct (shingle, doc) pairs down
    to the shingle vocabulary, repeated keys equi-join back onto the
    occurrence stream, and ONE doc-keyed window merges intervals with
    integer gap arithmetic — linear in occurrences, no pair
    materialization. All-integer outputs keep the oracle byte-exact."""
    from openmrs_patient_migration_script_spark.operators.dedup import (
        repeated_span_stats,
    )

    docs = load_table(spark, sf_dir, "documents")
    stats = repeated_span_stats(
        docs, "doc_id", "text",
        span_tokens=_SPAN_K, min_docs=2, flag_pct=_SPAN_FLAG_PCT,
    )
    return stats.withColumnRenamed("key", "doc_id")


@query(
    "dedup_minhash_incremental",
    oracle=f"""
    WITH {shingles_sql()},
    {minhash_signatures_sql()},
    {band_buckets_sql(4)}
    SELECT DISTINCT b.doc_id AS batch_key, a.doc_id AS index_key
    FROM bands b
    JOIN bands a ON b.band = a.band AND b.sig_str = a.sig_str
    WHERE b.doc_id % 2 = 1 AND a.doc_id % 2 = 0
    """,
)
def dedup_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3f (r5): incremental cross-corpus dedup
    (operators/dedup.py::minhash_pairs_against) — the daily-ingest
    shape: odd doc_ids stand in for today's batch, even doc_ids for the
    indexed corpus, and only batch×index band collisions surface (the
    self-join would re-band the whole corpus per ingest). Same
    md5-double-hash + raw-struct-bucket declared form as
    `dedup_minhash`, so the DuckDB oracle replays the banding join
    exactly; production keeps seeded-xxhash64 + hashed buckets and a
    PERSISTED index signature table."""
    from openmrs_patient_migration_script_spark.operators.dedup import (
        minhash_pairs_against,
    )

    d = load_table(spark, sf_dir, "documents")
    index = d.filter(F.col("doc_id") % 2 == 0)
    batch = d.filter(F.col("doc_id") % 2 == 1)
    return minhash_pairs_against(
        index, batch, "doc_id", "text",
        num_hashes=16, bands=4, double_hash=md5_pair, hash_buckets=False,
    )


@query(
    "dedup_paragraph",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    e AS (
      SELECT doc_id, toks,
             unnest(generate_series(
               0, CAST(ceil(len(toks) / 10.0) AS INT) - 1)) AS pos
      FROM t
    ),
    paras AS (
      SELECT doc_id, pos,
             array_to_string(
               toks[pos * 10 + 1 : least(pos * 10 + 10, len(toks))], ' ')
               AS para,
             doc_id * 4096 + pos AS occ
      FROM e
    ),
    firsts AS (
      SELECT para, min(occ) AS first_occ FROM paras GROUP BY para
    )
    SELECT p.doc_id AS key,
           CAST(count(*) AS BIGINT) AS n_paras,
           CAST(count(*) FILTER (WHERE p.occ = f.first_occ) AS BIGINT)
             AS n_kept,
           coalesce(
             string_agg(p.para, ' ' ORDER BY p.pos)
               FILTER (WHERE p.occ = f.first_occ),
             '') AS text_dedup
    FROM paras p JOIN firsts f USING (para)
    GROUP BY p.doc_id
    """,
)
def dedup_paragraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3g: CCNet-style paragraph-level exact dedup (Wenzek et al.,
    LREC 2020) — keep the globally first occurrence of each repeated
    paragraph and reassemble the surviving text per document. The
    sub-document complement to `dedup_exact` (whole doc) and
    `dedup_repeated_spans` (k-gram coverage signal): this one EDITS the
    corpus. One map-side-combining shuffle on the paragraph string, one
    join-back, one doc-keyed reassembly — linear in paragraphs
    (operators/dedup.py::paragraph_dedup)."""
    from openmrs_patient_migration_script_spark.operators.dedup import (
        paragraph_dedup,
    )

    return paragraph_dedup(
        load_table(spark, sf_dir, "documents"), para_tokens=10
    )


@query(
    "link_fellegi_sunter",
    oracle=f"""
    WITH a AS (
      SELECT CAST(c_custkey AS BIGINT) AS rid, {_NAME_SQL} AS name,
             CAST(c_nationkey AS BIGINT) AS nation,
             c_mktsegment AS segment
      FROM customer
    ),
    b AS (
      SELECT CAST(c_custkey + 1000000 AS BIGINT) AS rid,
             CASE WHEN c_custkey % 5 = 0
                  THEN substring({_NAME_SQL}, 1, 8) || 'z'
                  ELSE {_NAME_SQL} END AS name,
             CAST(CASE WHEN c_custkey % 11 = 0 THEN (c_nationkey + 1) % 25
                       ELSE c_nationkey END AS BIGINT) AS nation,
             CASE WHEN c_custkey % 7 = 0 THEN 'PERTURBED'
                  ELSE c_mktsegment END AS segment
      FROM customer
    ),
    p AS (
      SELECT a.rid AS key_a, b.rid AS key_b,
             CASE WHEN a.name = b.name THEN 'E'
                  WHEN levenshtein(a.name, b.name) <= 1 THEN 'C'
                  ELSE 'M' END AS l1,
             CASE WHEN a.nation = b.nation THEN 'E' ELSE 'M' END AS l2,
             CASE WHEN a.segment = b.segment THEN 'E' ELSE 'M' END AS l3
      FROM a JOIN b ON {_BLOCK_SQL}
    ),
    s AS (
      SELECT key_a, key_b, l1 || l2 || l3 AS pattern,
             CAST(CASE l1 WHEN 'E' THEN 4000 WHEN 'C' THEN 2500
                          ELSE -1500 END
                + CASE l2 WHEN 'E' THEN 1200 ELSE -800 END
                + CASE l3 WHEN 'E' THEN 700 ELSE -600 END AS BIGINT)
               AS score
      FROM p
    )
    SELECT key_a, key_b, pattern, score,
           CASE WHEN score >= 4000 THEN 'match' ELSE 'possible' END
             AS match_class
    FROM s WHERE score >= 1500
    """,
)
def link_fellegi_sunter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J9/X2b: probabilistic record linkage across two registries — the
    Fellegi-Sunter decision model, the canonical patient-matching rule
    the reference's identifier-precedence migration approximates by
    hand. Registry B is a deterministically perturbed copy of customer
    (every 5th name edited, every 11th nation shifted, every 7th
    segment replaced), so true twins appear at all agreement patterns.
    Block on the name prefix; integer milli-log weights keep the score
    exact (operators/dedup.py::fellegi_sunter_pairs)."""
    from openmrs_patient_migration_script_spark.operators.dedup import (
        fellegi_sunter_pairs,
    )

    c = load_table(spark, sf_dir, "customer")
    name = _name()
    k = F.col("c_custkey")
    rega = c.select(
        k.cast("long").alias("rid"),
        name.alias("name"),
        F.col("c_nationkey").cast("long").alias("nation"),
        F.col("c_mktsegment").alias("segment"),
        F.substring(name, 1, 7).alias("blk"),
    )
    bname = F.when(
        k % 5 == 0, F.concat(F.substring(name, 1, 8), F.lit("z"))
    ).otherwise(name)
    regb = c.select(
        (k + 1000000).cast("long").alias("rid"),
        bname.alias("name"),
        F.when(k % 11 == 0, (F.col("c_nationkey") + 1) % 25)
        .otherwise(F.col("c_nationkey"))
        .cast("long")
        .alias("nation"),
        F.when(k % 7 == 0, F.lit("PERTURBED"))
        .otherwise(F.col("c_mktsegment"))
        .alias("segment"),
        F.substring(bname, 1, 7).alias("blk"),
    )
    return fellegi_sunter_pairs(
        rega,
        regb,
        "rid",
        ["blk"],
        fields=[
            {"col": "name", "w_match": 4000, "w_miss": -1500, "close": (1, 2500)},
            {"col": "nation", "w_match": 1200, "w_miss": -800},
            {"col": "segment", "w_match": 700, "w_miss": -600},
        ],
    )


_SEM_THRESHOLD_INT = 400000  # 0.4 at the shared 6dp-int cosine scale
_SEM_CLUSTERS = 64


@query(
    "dedup_semantic",
    oracle=f"""
    WITH vec AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    seeds AS (
      SELECT v, rn - 1 AS cell FROM (
        SELECT v, row_number() OVER (
                 ORDER BY ('0x' || substr(md5(vec_id::VARCHAR), 1, 8))::BIGINT
                          % 1000000, vec_id
               ) AS rn
        FROM vec
      ) WHERE rn <= {_SEM_CLUSTERS}
    ),
    asg AS (
      SELECT vec_id, cell FROM (
        SELECT e.vec_id, s.cell,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY CAST(round(round(list_cosine_similarity(e.v, s.v),
                               6) * 1000000) AS BIGINT) DESC, s.cell
               ) AS rn
        FROM vec e CROSS JOIN seeds s
      ) WHERE rn = 1
    ),
    dups AS (
      SELECT b.vec_id, count(*)::BIGINT AS n_dup_lower
      FROM asg a
      JOIN asg b ON a.cell = b.cell AND a.vec_id < b.vec_id
      JOIN vec va ON va.vec_id = a.vec_id
      JOIN vec vb ON vb.vec_id = b.vec_id
      WHERE CAST(round(round(list_cosine_similarity(va.v, vb.v), 6)
                 * 1000000) AS BIGINT) >= {_SEM_THRESHOLD_INT}
      GROUP BY b.vec_id
    )
    SELECT g.vec_id, g.cell,
           CAST(coalesce(d.n_dup_lower, 0) AS BIGINT) AS n_dup_lower,
           d.vec_id IS NULL AS kept
    FROM asg g LEFT JOIN dups d USING (vec_id)
    """,
)
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2e: SemDeDup — semantic dedup via embedding clustering (Abbas et
    al. 2023): the within-cluster greedy that makes embedding-space
    dedup sub-quadratic (contrast `dedup_embedding`, the exact all-pairs
    form: same threshold, but Σ|cluster|² work instead of n²). Coarse
    quantizer is content-addressed (md5-ordered seeds), assignment and
    comparator both run on 6dp-int cosines, so the oracle replays every
    decision exactly (operators/similarity.py::semantic_dedup)."""
    from openmrs_patient_migration_script_spark.operators.similarity import (
        semantic_dedup,
    )

    e = load_table(spark, sf_dir, "embeddings")
    out = semantic_dedup(e, n_clusters=_SEM_CLUSTERS, threshold=0.4)
    # cell is int32 in the operator (compact shuffle key); the oracle's
    # row_number arithmetic is BIGINT — align at the output boundary
    return out.select(
        "vec_id", F.col("cell").cast("long").alias("cell"),
        "n_dup_lower", "kept",
    )


def _doubling_graph_sql(stride: bool) -> str:
    """SQL twin of `_doubling_edges`, canonicalized: the CTEs ``mx`` (the
    largest custkey) and ``e0`` (u < v, one row per undirected edge,
    self-loops out)."""
    arms = []
    if stride:
        for d in (1, 2, 3):
            arms.append(f"""
      SELECT c_custkey AS u, c_custkey + {d} AS v FROM customer, mx
      WHERE c_custkey + {d} <= m
        AND (c_custkey - 1 + {d}) // 20 = (c_custkey - 1) // 20""")
    for f in (2, 3):
        arms.append(f"""
      SELECT c_custkey AS u, c_custkey * {f} AS v FROM customer, mx
      WHERE c_custkey * {f} <= m""")
    union = "\n      UNION ALL".join(arms)
    return f"""mx AS (SELECT max(c_custkey) AS m FROM customer),
    e0 AS MATERIALIZED (
      SELECT DISTINCT least(u, v) AS u, greatest(u, v) AS v
      FROM ({union}
      ) WHERE u <> v
    )"""


def _doubling_edges(spark: SparkSession, sf_dir: str, stride: bool) -> DataFrame:
    """The "doubling graph" over custkeys as (key_a, key_b): u—2u and
    u—3u edges, degrees 0-4. ``stride`` adds the stride graph (u—u+d,
    d <= 3, within groups of 20: triangle-rich interiors). One eager job
    reads the largest custkey."""
    c = load_table(spark, sf_dir, "customer")
    mx = c.agg(F.max("c_custkey")).collect()[0][0]
    parts = []
    if stride:
        for d in (1, 2, 3):
            parts.append(
                c.filter(
                    (F.col("c_custkey") + d <= mx)
                    & (
                        F.expr(f"(c_custkey - 1 + {d}) div 20")
                        == F.expr("(c_custkey - 1) div 20")
                    )
                ).select(
                    F.col("c_custkey").alias("key_a"),
                    (F.col("c_custkey") + d).alias("key_b"),
                )
            )
    for m in (2, 3):
        parts.append(
            c.filter(F.col("c_custkey") * m <= mx).select(
                F.col("c_custkey").alias("key_a"),
                (F.col("c_custkey") * m).alias("key_b"),
            )
        )
    edges = parts[0]
    for part in parts[1:]:
        edges = edges.unionByName(part)
    return edges


def _peel_round_sql(name: str, prev: str, k: int) -> str:
    """One synchronous k-core peel round as the CTE ``name``: the edges of
    the symmetrized edge CTE ``prev`` whose endpoints both keep degree
    >= ``k`` (preceded by a comma)."""
    return f""",
    {name} AS (
      SELECT u, v FROM (
        SELECT u, v,
               count(*) OVER (PARTITION BY u) AS du,
               count(*) OVER (PARTITION BY v) AS dv
        FROM {prev}
      ) WHERE du >= {k} AND dv >= {k}
    )"""


def _kcore_oracle(k: int = 2, rounds: int = 6) -> str:
    """Unrolled synchronous peeling, ONE reference to the previous round
    per CTE: in a symmetrized edge list ``count(*) OVER (PARTITION BY
    v)`` IS deg(v), so each round filters both endpoints with two
    windows over a single scan. (The naive form — a degree CTE plus two
    semi joins — references the previous round twice, and DuckDB's CTE
    inlining re-expands the whole prefix per reference: 2^rounds planner
    blowup, measured minutes at six rounds vs 0.05 s for this form.)"""
    sql = f"""
    WITH {_doubling_graph_sql(stride=False)},
    s0 AS (SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0)"""
    prev = "s0"
    for i in range(1, rounds + 1):
        sql += _peel_round_sql(f"s{i}", prev, k)
        prev = f"s{i}"
    sql += f"""
    SELECT u AS node, count(*)::BIGINT AS core_deg FROM {prev} GROUP BY u"""
    return sql


@query("graph_kcore", oracle=_kcore_oracle(k=2, rounds=6))
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X9h: 2-core via parallel peeling (operators/graph.py::k_core) —
    the density filter that separates structurally confirmed groups
    (cycles, cliques) from trees and chains a few spurious edges can
    fabricate. Runs on the varied-degree "doubling graph" over custkeys
    (u—2u, u—3u edges: degrees 0-4, so leaves cascade for real
    multi-round peeling — the fuzzy-pair fixture is 18-regular and
    peels degenerately). Six synchronous rounds, replayed exactly by
    the unrolled window-form oracle; both scales reach the fixpoint by
    round 2 (pinned in tests/test_dedup_operators.py). Both engines
    canonicalize the edge list first (self-loops out, duplicates and
    both-orientation reports collapsed) — custkey 0's doubling edges
    are self-loops that would otherwise fabricate a deg-4 core."""
    from openmrs_patient_migration_script_spark.operators.graph import k_core

    return k_core(_doubling_edges(spark, sf_dir, stride=False), k=2, n_rounds=6)


@query(
    "dedup_clusters_incremental",
    oracle=f"""
    WITH RECURSIVE {_FUZZY_PAIRS_SQL},
    {connected_components_sql()}
    SELECT node, cluster FROM labels
    """,
)
def dedup_clusters_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X9i: INCREMENTAL duplicate-cluster maintenance — yesterday's
    persisted (node, cluster) index replayed as stars + only TODAY'S new
    pairs (here: every pair touching an odd key, with the even-key
    subgraph as the index), so the daily run pays |index| + |new| edge
    rows instead of the historical edge list (operators/graph.py::
    connected_components_incremental — the `minhash_pairs_against`
    argument applied to cluster maintenance). The oracle is the FULL
    transitive closure over all pairs: the hash match proves
    incremental == full re-run, the same invariant
    `etl_rollup_incremental` pins for aggregates. Bench note: the wall
    cost at test scale is FIXED job overhead (two components calls,
    each a checkpoint + count + collect + rebuild on the size-gated
    driver path), not data volume — at index sizes past the gate the
    distributed loop takes over and the star replay is what bounds its
    rounds."""
    from openmrs_patient_migration_script_spark.operators.graph import (
        connected_components,
        connected_components_incremental,
    )

    # the fuzzy block join feeds hist AND today, and each components
    # call adds its own count/collect jobs — checkpoint once (the
    # multi-consumer rule) so the levenshtein join runs once
    pairs = dedup_fuzzy(spark, sf_dir).localCheckpoint(eager=True)
    hist = pairs.filter(
        (F.col("key_a") % 2 == 0) & (F.col("key_b") % 2 == 0)
    )
    today = pairs.filter(
        (F.col("key_a") % 2 == 1) | (F.col("key_b") % 2 == 1)
    )
    index = connected_components(hist)
    return connected_components_incremental(index, today)


@query(
    "graph_bfs",
    oracle=f"""
    WITH RECURSIVE {_FUZZY_PAIRS_SQL},
    e AS (
      SELECT key_a AS u, key_b AS v FROM pairs
      UNION ALL SELECT key_b, key_a FROM pairs
    ),
    bfs(node, hop) AS (
      SELECT key, 0 FROM named WHERE key % 97 = 0
      UNION
      SELECT e.v, bfs.hop + 1
      FROM bfs JOIN e ON e.u = bfs.node
      WHERE bfs.hop < 3
    )
    SELECT node, CAST(min(hop) AS INTEGER) AS hop FROM bfs GROUP BY node
    """,
)
def graph_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X9j (r6): bounded BFS over the fuzzy-pair graph
    (operators/graph.py::bfs_hops) — min-hop distance from the seed set
    (every 97th customer) out to 3 links: the blast-radius / traversal
    primitive (which records are within k links of a known-bad seed).
    Frontier-sized shuffles per round, never visited×edges. The oracle
    is a recursive CTE with UNION dedup on (node, hop) and the hop < 3
    bound — each recursion step references the working table exactly
    once, dodging the per-reference CTE re-expansion trap the k-core
    oracle documents."""
    from openmrs_patient_migration_script_spark.operators.graph import bfs_hops

    c = load_table(spark, sf_dir, "customer")
    seeds = c.select(F.col("c_custkey").alias("node")).filter(
        F.col("c_custkey") % 97 == 0
    )
    edges = dedup_fuzzy(spark, sf_dir)
    return bfs_hops(edges, seeds, max_hops=3)


@query(
    "graph_degree_dist",
    oracle=f"""
    WITH {_doubling_graph_sql(stride=False)},
    sym AS (SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0),
    deg AS (SELECT u, count(*)::BIGINT AS d FROM sym GROUP BY u)
    SELECT CAST(length(bin(d)) - 1 AS INTEGER) AS deg_bin,
           CAST(2 ** (length(bin(d)) - 1) AS BIGINT) AS bin_lo,
           count(*)::BIGINT AS n_nodes,
           min(d) AS min_deg, max(d) AS max_deg
    FROM deg GROUP BY 1, 2
    """,
)
def graph_degree_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X9k (r6): log2-binned degree distribution — the first diagnostic
    run on ANY candidate graph (a heavy tail = hot blocking keys = the
    skew every downstream wedge/pair operator pays for;
    `dq_blocking_quality` quantifies the block, this shows the graph it
    produces). Runs on the varied-degree doubling graph (the k-core
    fixture — the fuzzy-pair graph is 18-regular and collapses to one
    bin), canonicalized the same way (self-loops out, both-orientation
    reports collapsed). The bin index floor(log2(d)) is computed in
    EXACT integer arithmetic on both engines — binary-string length
    minus one (Spark conv(d,10,2), DuckDB bin(d)) — so no float log
    boundary can flip a bin. One degree agg + one bounded bin agg; at
    100 TB the output is ~64 rows regardless of graph size."""
    edges = _doubling_edges(spark, sf_dir, stride=False)
    canon = (
        edges.select(
            F.least("key_a", "key_b").alias("u"),
            F.greatest("key_a", "key_b").alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    sym = canon.unionByName(
        canon.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    bin_idx = (F.length(F.conv(F.col("d"), 10, 2)) - 1).cast("int")
    return (
        deg.select("d", bin_idx.alias("deg_bin"))
        .groupBy("deg_bin")
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.min("d").alias("min_deg"),
            F.max("d").alias("max_deg"),
        )
        .select(
            "deg_bin",
            F.pow(F.lit(2.0), F.col("deg_bin")).cast("long").alias("bin_lo"),
            "n_nodes",
            "min_deg",
            "max_deg",
        )
    )


@query(
    "graph_modularity",
    oracle=f"""
    WITH lab AS (
      SELECT node, community FROM ({_labelprop_oracle()}) t
    ),
    {_FUZZY_PAIRS_SQL},
    mm AS (SELECT count(*)::BIGINT AS m FROM pairs),
    sym AS (
      SELECT key_a AS u, key_b AS v FROM pairs
      UNION ALL SELECT key_b, key_a FROM pairs
    ),
    deg AS (SELECT u, count(*)::BIGINT AS d FROM sym GROUP BY u),
    comm AS (
      SELECT lab.community,
             count(*)::BIGINT AS n_nodes,
             coalesce(sum(deg.d), 0)::BIGINT AS degree_sum
      FROM lab LEFT JOIN deg ON lab.node = deg.u
      GROUP BY lab.community
    ),
    intra AS (
      SELECT la.community, count(*)::BIGINT AS intra_edges
      FROM pairs p
      JOIN lab la ON p.key_a = la.node
      JOIN lab lb ON p.key_b = lb.node
      WHERE la.community = lb.community
      GROUP BY la.community
    )
    SELECT c.community, c.n_nodes, c.degree_sum,
           coalesce(i.intra_edges, 0)::BIGINT AS intra_edges,
           (4::HUGEINT * mm.m * coalesce(i.intra_edges, 0)
            - c.degree_sum::HUGEINT * c.degree_sum)::BIGINT AS q_num,
           (4::HUGEINT * mm.m * mm.m)::BIGINT AS q_den
    FROM comm c LEFT JOIN intra i USING (community), mm
    """,
)
def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X9l (r6): exact modularity audit of the `graph_label_propagation`
    communities (operators/graph.py::modularity) — the certification
    metric that closes the community-detection loop the way
    `sim_ann_recall` closes ANN and `dq_blocking_quality` closes
    blocking: LPA is a heuristic, so every partition it emits ships
    with the exact Newman-Girvan Q decomposition per community
    (n_nodes, degree_sum, intra_edges, and the exact fraction q_num =
    4·m·e_c − d_c² over q_den = 4·m², computed in DECIMAL(38,0) and
    emitted as range-guarded BIGINT — fully integer-decidable, no
    engine-rounding-sensitive float AND no decimal output column, the
    r8 dtype rule in functions/numeric.py). The
    oracle recomputes the communities via the unrolled 3-round LPA
    replay and the metric from scratch. Node/community-keyed shuffles
    only; #communities output rows."""
    from openmrs_patient_migration_script_spark.operators.graph import (
        label_propagation,
        modularity,
    )

    pairs = dedup_fuzzy(spark, sf_dir).localCheckpoint(eager=True)
    labels = label_propagation(pairs, n_iter=3, assume_canonical=True)
    return modularity(pairs, labels)


@query(
    "graph_sssp",
    oracle=f"""
    WITH RECURSIVE {_FUZZY_PAIRS_SQL},
    e AS (
      SELECT key_a AS u, key_b AS v,
             1 + (key_a + key_b) % 7 AS w FROM pairs
      UNION ALL
      SELECT key_b, key_a, 1 + (key_a + key_b) % 7 FROM pairs
    ),
    walk(node, d, hop) AS (
      SELECT key, 0::BIGINT, 0 FROM named WHERE key % 97 = 0
      UNION
      SELECT e.v, walk.d + e.w, walk.hop + 1
      FROM walk JOIN e ON e.u = walk.node
      WHERE walk.hop < 3
    )
    SELECT node, min(d)::BIGINT AS dist FROM walk GROUP BY node
    """,
)
def graph_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X9m (r6): bounded weighted shortest paths over the fuzzy-pair
    graph (operators/graph.py::sssp_bounded) — min total edge weight
    from the seed set (every 97th customer) over paths of ≤ 3 edges,
    with deterministic integer weights w = 1 + (key_a + key_b) % 7.
    `graph_bfs`'s weighted upgrade: a 2-hop detour can now beat a
    direct edge, which is exactly what the Bellman-Ford re-relaxation
    rounds (and NOT a frontier-only loop) compute. The oracle
    enumerates all ≤3-edge walks in a recursive CTE (UNION-deduped on
    (node, d, hop), each step referencing the working table once — the
    `graph_bfs` anti-blowup rule) and takes the per-node min; the plan
    never materializes walks — tentative-distance table re-relaxed
    round-per-hop, node-keyed shuffles only."""
    from openmrs_patient_migration_script_spark.operators.graph import (
        sssp_bounded,
    )

    c = load_table(spark, sf_dir, "customer")
    seeds = c.select(F.col("c_custkey").alias("node")).filter(
        F.col("c_custkey") % 97 == 0
    )
    edges = dedup_fuzzy(spark, sf_dir).select(
        "key_a",
        "key_b",
        (1 + (F.col("key_a") + F.col("key_b")) % 7).cast("long").alias("w"),
    )
    return sssp_bounded(edges, seeds, max_hops=3)


@query(
    "dedup_minhash_quality",
    oracle=f"""
    WITH {shingles_sql()},
    {minhash_signatures_sql()},
    {band_buckets_sql(4)},
    pairs AS (
      SELECT DISTINCT a.doc_id AS key_a, b.doc_id AS key_b
      FROM bands a
      JOIN bands b ON a.band = b.band AND a.sig_str = b.sig_str
                  AND a.doc_id < b.doc_id
    ),
    mm AS (
      SELECT p.key_a, p.key_b,
             count(*) FILTER (WHERE sa.mh = sb.mh)::BIGINT AS mh_matches
      FROM pairs p
      JOIN sig sa ON sa.doc_id = p.key_a
      JOIN sig sb ON sb.doc_id = p.key_b AND sb.i = sa.i
      GROUP BY p.key_a, p.key_b
    ),
    sizes AS (SELECT doc_id, count(*)::BIGINT AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
      SELECT p.key_a, p.key_b, count(*)::BIGINT AS n_inter
      FROM pairs p
      JOIN sh a ON a.doc_id = p.key_a
      JOIN sh b ON b.doc_id = p.key_b AND b.shingle = a.shingle
      GROUP BY p.key_a, p.key_b
    )
    SELECT mm.key_a, mm.key_b, mm.mh_matches,
           coalesce(i.n_inter, 0)::BIGINT AS n_inter,
           (za.n_sh + zb.n_sh - coalesce(i.n_inter, 0))::BIGINT AS n_union
    FROM mm
    LEFT JOIN inter i ON i.key_a = mm.key_a AND i.key_b = mm.key_b
    JOIN sizes za ON za.doc_id = mm.key_a
    JOIN sizes zb ON zb.doc_id = mm.key_b
    """,
)
def dedup_minhash_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3h (r7): MinHash ESTIMATE-vs-TRUTH certification per candidate
    pair — the audit the near-dup family still owed (sim_ann_recall
    certifies ANN, dq_blocking_quality certifies blocking; this
    certifies the minhash signature itself): for every LSH candidate
    pair, the number of agreeing signature coordinates (estimated
    Jaccard = mh_matches/16 — the unbiased MinHash estimator, Broder
    1997) NEXT TO the true shingle-set intersection and union sizes
    (true Jaccard = n_inter/n_union). Unlike the sketch audits, BOTH
    sides replay exactly in the oracle (the md5 double-hash signature
    is content-addressed), so the raw numbers hash-check — no
    within-band boolean needed, and fully integer rows.

    Scale: the signature table (docs × 16 longs) checkpoints once and
    feeds the band join AND the coordinate comparison; the true-Jaccard
    join streams the shingle inverted lists of CANDIDATE pairs only —
    never all-pairs (candidate-bounded, the decontaminate shape)."""
    from openmrs_patient_migration_script_spark.operators.dedup import (
        _band_buckets,
        _shingles,
        minhash_signatures,
    )

    d = load_table(spark, sf_dir, "documents")
    sig = minhash_signatures(
        d, "doc_id", "text", num_hashes=16, double_hash=md5_pair
    ).localCheckpoint(eager=True)  # feeds band join + coordinate compare
    buckets = _band_buckets(sig, 16, 4, hash_buckets=False)
    pairs = (
        buckets.select(F.col("key").alias("key_a"), "band", "bucket")
        .join(
            buckets.select(F.col("key").alias("key_b"), "band", "bucket"),
            ["band", "bucket"],
        )
        .filter(F.col("key_a") < F.col("key_b"))
        .select("key_a", "key_b")
        .distinct()
        .localCheckpoint(eager=True)  # feeds signature AND shingle joins
    )
    matches = F.reduce(
        F.array(
            *[
                (F.col(f"a.mh_{i}") == F.col(f"b.mh_{i}")).cast("long")
                for i in range(16)
            ]
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    mm = (
        pairs.join(sig.alias("a"), pairs["key_a"] == F.col("a.key"))
        .join(sig.alias("b"), pairs["key_b"] == F.col("b.key"))
        .select("key_a", "key_b", matches.alias("mh_matches"))
    )
    sh = d.select(
        F.col("doc_id"),
        F.explode(F.array_distinct(_shingles(F.col("text"), 3))).alias(
            "shingle"
        ),
    ).localCheckpoint(eager=True)  # feeds sizes AND the intersection join
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("n_sh"))
    inter = (
        pairs.join(
            sh.select(F.col("doc_id").alias("key_a"), "shingle"), "key_a"
        )
        .join(
            sh.select(F.col("doc_id").alias("key_b"), "shingle"),
            ["key_b", "shingle"],
        )
        .groupBy("key_a", "key_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_inter"))
    )
    return (
        mm.join(inter, ["key_a", "key_b"], "left")
        .join(
            sizes.select(F.col("doc_id").alias("key_a"), F.col("n_sh").alias("_na")),
            "key_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("key_b"), F.col("n_sh").alias("_nb")),
            "key_b",
        )
        .select(
            "key_a",
            "key_b",
            "mh_matches",
            F.coalesce(F.col("n_inter"), F.lit(0)).cast("long").alias("n_inter"),
            (
                F.col("_na") + F.col("_nb")
                - F.coalesce(F.col("n_inter"), F.lit(0))
            )
            .cast("long")
            .alias("n_union"),
        )
    )


# LSH banding sweep configs over the 16-hash signature: (bands, rows) and
# the s-curve inflection t* = (1/b)^(1/r), precomputed in Python and
# injected as LITERALS on both engines (pow() libm ulps must not decide
# a hash compare).
_BAND_SWEEP = [(2, 8, 0.917004), (4, 4, 0.707107), (8, 2, 0.353553), (16, 1, 0.0625)]


@query(
    "dedup_minhash_band_sweep",
    oracle=f"""
    WITH {shingles_sql()},
    {minhash_signatures_sql()},
    {", ".join(band_buckets_sql(b, suffix=f"_{b}") for b, _, _ in _BAND_SWEEP)},
    bb AS MATERIALIZED (
      {" UNION ALL ".join(
          f"SELECT {b} AS bands, doc_id, band, sig_str FROM bands_{b}"
          for b, _, _ in _BAND_SWEEP
      )}
    ),
    occ AS (
      SELECT bands, band, sig_str, count(*)::BIGINT AS sz
      FROM bb GROUP BY 1, 2, 3
    ),
    buckets AS (
      SELECT bands, count(*)::BIGINT AS n_buckets,
             max(sz)::BIGINT AS max_bucket_docs,
             sum(sz * (sz - 1) // 2)::BIGINT AS n_bucket_pairs
      FROM occ GROUP BY bands
    ),
    pairs AS (
      SELECT bands, count(*)::BIGINT AS n_candidate_pairs
      FROM (SELECT DISTINCT a.bands, a.doc_id AS ka, b.doc_id AS kb
            FROM bb a JOIN bb b
              ON a.bands = b.bands AND a.band = b.band
             AND a.sig_str = b.sig_str AND a.doc_id < b.doc_id)
      GROUP BY bands
    ),
    tstar AS (
      SELECT * FROM (VALUES
        {", ".join(f"({b}, {t})" for b, _, t in _BAND_SWEEP)}
      ) v(bands, threshold_star)
    )
    SELECT b.bands::BIGINT AS bands, (16 // b.bands)::BIGINT AS rows_per_band,
           b.n_buckets, b.max_bucket_docs, b.n_bucket_pairs,
           coalesce(p.n_candidate_pairs, 0)::BIGINT AS n_candidate_pairs,
           t.threshold_star::DOUBLE AS threshold_star
    FROM buckets b LEFT JOIN pairs p USING (bands)
    JOIN tstar t USING (bands)
    """,
)
def dedup_minhash_band_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3l (r8): LSH banding-parameter sweep ledger — the TUNING table
    behind every (bands, rows) choice the minhash family hardcodes:
    for each config over the SAME 16-hash md5 signature (content-
    addressed, so the oracle replays raw estimates — the
    `dedup_minhash_quality` rule) it reports occupied bucket count, the
    largest bucket (the skew number that predicts the hot shuffle
    partition at 100 TB), the bucket-pair workload Σ sz·(sz−1)/2 (what
    the candidate join actually pays, BEFORE dedup), distinct candidate
    pairs, and the s-curve inflection t* = (1/b)^(1/r) (injected as a
    precomputed literal on both engines — libm pow ulps must not decide
    a hash compare). Reading the four rows side by side IS the tuning
    decision: more bands → lower t* (recall up), bucket pairs up
    (cost up).

    Scale: the signature table (one row per doc) is checkpointed once;
    each config adds a band explode + one (band, bucket) agg and a
    bucket self-join COUNT — all shuffles on band keys; the ledger is 4
    rows."""
    from openmrs_patient_migration_script_spark.operators.dedup import (
        _band_buckets,
        minhash_signatures,
    )

    d = load_table(spark, sf_dir, "documents")
    sig = minhash_signatures(
        d, "doc_id", "text", num_hashes=16, double_hash=md5_pair
    ).localCheckpoint(eager=True)  # one signature build feeds all configs

    # r12-opt (guide 2.6, the sim_knn_candidate_sweep precedent): the four
    # per-config ledger rows are INDEPENDENT pipelines over the one
    # checkpointed signature table — submitting each config's 1-row ledger
    # build from a thread pool lets every pipeline's straggler tail
    # back-fill the others' idle cores instead of serializing four
    # multi-stage bucket aggregations + candidate self-joins. Results are
    # unchanged: each build is deterministic, and the union below consumes
    # the checkpointed 1-row outputs in the fixed _BAND_SWEEP order.
    def _ledger(cfg):
        bands, rows, tstar = cfg
        bb = _band_buckets(sig, 16, bands, hash_buckets=False)
        occ = bb.groupBy("band", "bucket").agg(
            F.count(F.lit(1)).cast("long").alias("sz")
        )
        bstats = occ.agg(
            F.count(F.lit(1)).cast("long").alias("n_buckets"),
            F.max("sz").cast("long").alias("max_bucket_docs"),
            F.sum(F.expr("sz * (sz - 1) div 2")).cast("long").alias(
                "n_bucket_pairs"
            ),
        )
        a = bb.select(F.col("key").alias("key_a"), "band", "bucket")
        b2 = bb.select(F.col("key").alias("key_b"), "band", "bucket")
        npairs = (
            a.join(b2, ["band", "bucket"])
            .filter(F.col("key_a") < F.col("key_b"))
            .select("key_a", "key_b")
            .distinct()
            .agg(F.count(F.lit(1)).cast("long").alias("n_candidate_pairs"))
        )
        return (
            bstats.crossJoin(F.broadcast(npairs))
            .select(
                F.lit(bands).cast("long").alias("bands"),
                F.lit(rows).cast("long").alias("rows_per_band"),
                "n_buckets",
                "max_bucket_docs",
                "n_bucket_pairs",
                "n_candidate_pairs",
                F.lit(tstar).cast("double").alias("threshold_star"),
            )
            .localCheckpoint(eager=True)
        )

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=4) as pool:
        ledgers = list(pool.map(_ledger, _BAND_SWEEP))
    out = ledgers[0]
    for led in ledgers[1:]:
        out = out.unionByName(led)
    return out


@query("graph_ppr", oracle=_pagerank_oracle("deg.u % 97 = 0"))
def graph_ppr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X9o (r8): personalized PageRank — the teleport mass lands only on
    a seed set (custkey % 97 = 0, the `graph_bfs` seed convention), so
    rank measures PROXIMITY TO THE SEEDS instead of global centrality:
    the seed-expansion primitive of graph retrieval ("records around
    this known-good set"), local-community scoring, and
    label-propagation-with-confidence — where uniform `graph_pagerank`
    answers "what is central", this answers "what is near". Same
    integer recurrence (floors ride the seed rows as a per-node column
    instead of a literal), same two node-keyed shuffles per iteration,
    and the unrolled oracle replays all four iterations bit-exactly —
    `_pagerank_oracle` with the seed set as its teleport predicate."""
    from openmrs_patient_migration_script_spark.operators.graph import pagerank

    pairs = dedup_fuzzy(spark, sf_dir)
    c = load_table(spark, sf_dir, "customer")
    seeds = c.filter(F.col("c_custkey") % 97 == 0).select(
        F.col("c_custkey").alias("node")
    )
    return pagerank(pairs, seeds=seeds)


# graph_coreness's largest k and peel rounds per k, replayed by its oracle
_CORENESS_MAX_K, _CORENESS_ROUNDS = 3, 6


def _coreness_oracle() -> str:
    """Unrolled stacked-peel replay for `graph_coreness`: one peel chain
    per k (each CTE references only its predecessor — the `_kcore_oracle`
    planner rule), coreness = 1 + membership flags. The shared s0 prefix
    is referenced once per chain plus once for the node universe — a
    constant ×(max_k) re-expansion, not the exponential per-round one."""
    max_k, rounds = _CORENESS_MAX_K, _CORENESS_ROUNDS
    sql = f"""
    WITH {_doubling_graph_sql(stride=False)},
    s0 AS (SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0)"""
    final = {}
    for k in range(2, max_k + 1):
        prev = "s0"
        for i in range(1, rounds + 1):
            name = f"k{k}r{i}"
            sql += _peel_round_sql(name, prev, k)
            prev = name
        final[k] = prev
    member_joins = "".join(
        f"""
    LEFT JOIN (SELECT DISTINCT u AS node FROM {final[k]}) m{k}
      ON m{k}.node = n.node"""
        for k in range(2, max_k + 1)
    )
    member_sum = " + ".join(
        f"(CASE WHEN m{k}.node IS NOT NULL THEN 1 ELSE 0 END)"
        for k in range(2, max_k + 1)
    )
    sql += f""",
    nodes AS (SELECT DISTINCT u AS node FROM s0)
    SELECT n.node, (1 + {member_sum})::BIGINT AS coreness
    FROM nodes n{member_joins}
    """
    return sql


@query("graph_coreness", oracle=_coreness_oracle())
def graph_coreness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X9p (r8): full k-core decomposition (coreness ≤ 3) over the
    varied-degree doubling graph — `graph_kcore` answers the binary
    "is this node in the 2-core"; coreness assigns every node its
    density COORDINATE (1 = tree/chain debris, 2+ = structurally
    confirmed groups), the standard triage axis for dedup-cluster
    review and the degeneracy-ordering primitive. Stacked fixed-round
    peels (operators/graph.py::coreness) with nested-core membership
    folded back as left joins; the oracle unrolls one window-form peel
    chain per k, each CTE referencing only its predecessor."""
    from openmrs_patient_migration_script_spark.operators.graph import coreness

    return coreness(
        _doubling_edges(spark, sf_dir, stride=False),
        max_k=_CORENESS_MAX_K,
        n_rounds=_CORENESS_ROUNDS,
    )


@query(
    "graph_components_size_dist",
    oracle=f"""
    WITH RECURSIVE {_FUZZY_PAIRS_SQL},
    {connected_components_sql()},
    sizes AS (
      SELECT cluster, count(*)::BIGINT AS cluster_size
      FROM labels GROUP BY cluster
    )
    SELECT cluster_size,
           count(*)::BIGINT AS n_clusters,
           (cluster_size * count(*))::BIGINT AS n_nodes
    FROM sizes GROUP BY cluster_size
    """,
)
def graph_components_size_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X9r (r9): duplicate-cluster SIZE DISTRIBUTION — the dedup-graph
    health table read before any merge is applied: (cluster_size,
    n_clusters, n_nodes). A healthy near-dup graph is dominated by small
    sizes; mass migrating into one giant component is the
    blocking-key-too-coarse / comparator-over-merging tripwire (the
    chain-collapse failure `dedup_clusters`' docstring warns about),
    caught here as a first-class, diffable, alertable table rather than
    by eyeballing labels. Pure integers, trivially joinable against
    yesterday's run for drift.

    Plan: components via the r9 contraction funnel (partition-local
    numpy union-find, one-task finish at this scale; node-keyed rounds
    above it), then two count aggs — cluster-keyed, then size-keyed;
    output is #distinct-sizes rows. Every shuffle is on node/cluster/
    size keys; nothing is corpus-sized past the pair generation."""
    from openmrs_patient_migration_script_spark.operators.graph import (
        connected_components,
    )

    pairs = dedup_fuzzy(spark, sf_dir)
    labels = connected_components(pairs)
    sizes = labels.groupBy("cluster").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters"),
        (F.col("cluster_size") * F.count(F.lit(1))).cast("long").alias("n_nodes"),
    )


@query(
    "graph_edge_support",
    oracle=f"""
    WITH {_FUZZY_PAIRS_SQL},
    sym AS (
      SELECT key_a AS a, key_b AS b FROM pairs
      UNION ALL
      SELECT key_b, key_a FROM pairs
    ),
    counted AS (
      SELECT p.key_a, p.key_b, count(*)::BIGINT AS support
      FROM pairs p
      JOIN sym na ON na.a = p.key_a
      JOIN sym nb ON nb.a = p.key_b AND nb.b = na.b
      GROUP BY 1, 2
    )
    SELECT p.key_a, p.key_b,
           coalesce(c.support, 0)::BIGINT AS support
    FROM pairs p
    LEFT JOIN counted c
      ON c.key_a = p.key_a AND c.key_b = p.key_b
    """,
)
def graph_edge_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X9s (r9): per-edge triangle support over the fuzzy pair graph —
    (key_a, key_b, support) for every candidate pair, support = common
    neighbors of the endpoints = triangles the edge closes. The k-truss
    building block and the PRESENT-edge complement of
    `graph_link_prediction`'s missing-edge score: support-0 edges inside
    multi-edge clusters are the uncorroborated chain links a single
    spurious comparator hit fabricates — the first pairs to review
    before trusting a merge (`graph_components_size_dist` says WHETHER
    mass is over-merging; this says WHICH edges glued it).

    Plan: operators/graph.py::edge_support — wedge enumeration keyed on
    each edge endpoint (two node-keyed joins + one count agg), support-0
    edges restored with a left join; degree orientation (wedges pivot on
    the lowest-(degree, id) endpoint) bounds wedge fan-out by the
    arboricity ~ sqrt(|E|) with NO lossy cap, so hub support is exact —
    the capped draft was measured and rejected (see the operator
    docstring)."""
    from openmrs_patient_migration_script_spark.operators.graph import (
        edge_support,
    )

    pairs = dedup_fuzzy(spark, sf_dir)
    return edge_support(pairs)


def _ktruss_oracle(k: int = 4, rounds: int = 3) -> str:
    """Unrolled support peeling for `graph_ktruss`. Each round references
    its predecessor THREE times (the edge probe plus two adjacency
    probes of the wedge join), so every round CTE is DuckDB-MATERIALIZED:
    plain CTE inlining would re-expand the whole prefix 3^rounds times —
    the `_kcore_oracle` planner lesson, cubed. A MATERIALIZED round is
    computed exactly once, the SQL mirror of the Spark loop's per-round
    localCheckpoint."""
    sql = f"""
    WITH {_doubling_graph_sql(stride=True)}"""
    prev = "e0"
    for r in range(1, rounds + 1):
        sql += f""",
    sym{r} AS MATERIALIZED (
      SELECT u, v FROM {prev}
      UNION ALL
      SELECT v AS u, u AS v FROM {prev}
    ),
    e{r} AS MATERIALIZED (
      SELECT p.u, p.v, count(*)::BIGINT AS support
      FROM {prev} p
      JOIN sym{r} na ON na.u = p.u
      JOIN sym{r} nb ON nb.u = p.v AND nb.v = na.v
      GROUP BY 1, 2
      HAVING count(*) >= {k - 2}
    )"""
        prev = f"e{r}"
    return sql + f"""
    SELECT u AS key_a, v AS key_b, support FROM e{rounds}"""


@query("graph_ktruss", oracle=_ktruss_oracle(k=4, rounds=3))
def graph_ktruss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X9t (r10): 4-truss of a mixed-density graph — the edge-level
    density certificate `graph_edge_support` was built toward, closing
    the truss arc: every surviving edge closes >= 2 triangles INSIDE the
    surviving subgraph, peeled to a fixpoint by 3 synchronous support
    rounds (operators/graph.py::ktruss). Where the 2-core keeps any
    cycle (a square of chained false positives survives node-degree
    peeling forever), the truss demands triangle corroboration per EDGE
    — the "two independent comparator hits agree" structure a merge
    reviewer actually trusts; core-vs-truss separation is pinned by the
    planted square/K4 test.

    Fixture graph: the stride graph (u—u+d, d<=3, within groups of 20 —
    triangle-rich interiors with support falling to 2 at group
    boundaries) unioned with the `graph_kcore` doubling tails (u—2u,
    u—3u: support-0 fodder that actually cascades — 527→406→405 edges
    over rounds at sf0.001, fixpoint by round 3 at both gate scales,
    pinned via `ktruss_converged`). The fuzzy-pair fixture is near-
    clique-regular and would not peel at all.

    Plan: per round one `edge_support` pass (degree-oriented wedge join,
    arboricity-bounded fan-out, node/edge-keyed shuffles only) + a
    support filter, lineage truncated per round; peeling is monotone so
    the raw graph is scanned by exactly one round at 100 TB. Oracle:
    `_ktruss_oracle` MATERIALIZED unrolled rounds."""
    from openmrs_patient_migration_script_spark.operators.graph import ktruss

    edges = _doubling_edges(spark, sf_dir, stride=True)
    return ktruss(edges, k=4, n_rounds=3)


_EMB_LSH_THRESHOLD = 0.95
_EMB_TWIN_OFFSET = 1_000_000
_EMB_LSH_M, _EMB_LSH_L = 8, 8


@query(
    "dedup_embedding_lsh",
    oracle=f"""
    WITH base AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ),
    pert AS (
      SELECT vec_id + {_EMB_TWIN_OFFSET} AS vec_id,
             list_transform(v, (x, i) -> x *
               (CASE WHEN i % 2 = 1 THEN 1.05::DOUBLE
                     ELSE 0.95::DOUBLE END)) AS v
      FROM base
    ),
    vec AS (SELECT * FROM base UNION ALL SELECT * FROM pert),
    {srp_hashed_sql(_EMB_LSH_M, _EMB_LSH_L)},
    cand AS (
      SELECT DISTINCT a.vec_id AS key_a, b.vec_id AS key_b
      FROM buckets a JOIN buckets b USING (tbl, bkt)
      WHERE a.vec_id < b.vec_id
    )
    SELECT key_a, key_b, cos_sim FROM (
      SELECT c.key_a, c.key_b,
             round(list_cosine_similarity(va.v, vb.v), 6) AS cos_sim
      FROM cand c
      JOIN vec va ON va.vec_id = c.key_a
      JOIN vec vb ON vb.vec_id = c.key_b
    ) WHERE cos_sim >= {_EMB_LSH_THRESHOLD}
    """,
)
def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2e (r10): the SCALE path of embedding near-dup — SRP-LSH bucket
    candidates + the shared exact cosine re-rank
    (operators/similarity.py::cosine_pairs_lsh), declared at the HIGH
    threshold (0.95) where hyperplane pruning actually works —
    `dedup_embedding`'s docstring documents the measured low-threshold
    failure (98.6% of pairs survive as candidates at 0.4). Work is
    bounded by bucket collisions, never n² — the 100 TB form of the
    semantic-dedup pair scan.

    The fixture corpus has no high-cosine pairs (max exact pair ≈ 0.5),
    so near-dup TWINS are planted the `link_fellegi_sunter` way: every
    vector gets a deterministically perturbed copy (id + 1e6, even
    components ×1.05 / odd ×0.95 in exact float64 — cosine to the
    original >= 0.9987 by the Cauchy-Schwarz mix bound, cross pairs
    stay < 0.6), a construction both engines rebuild bit-identically.
    Output is exactly the planted twin pairs; the superset-of-threshold-
    pairs invariant vs the exact block-grid is pinned in
    tests/test_similarity.py.

    Oracle: md5-parity planes (`srp_weights` hash_mode) so DuckDB
    replays plane matrix → bucket bits → multi-table candidate union →
    exact re-rank, hash-exact — the `sim_ann_lsh` convention."""
    from openmrs_patient_migration_script_spark.operators.similarity import (
        cosine_pairs_lsh,
    )

    base = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    pert = base.select(
        (F.col("vec_id") + _EMB_TWIN_OFFSET).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: x
            * F.when(i % 2 == 0, F.lit(1.05)).otherwise(F.lit(0.95)),
        ).alias("embedding"),
    )
    corpus = base.unionByName(pert)
    return cosine_pairs_lsh(
        corpus,
        threshold=_EMB_LSH_THRESHOLD,
        num_planes=_EMB_LSH_M,
        num_tables=_EMB_LSH_L,
        hash_mode="md5",
    )


# graph_truss_decomposition's largest k and peel rounds per k
_TRUSS_MAX_K, _TRUSS_ROUNDS = 5, 3


def _truss_decomp_oracle() -> str:
    """Chained unrolled support peels for `graph_truss_decomposition`:
    one `_ktruss_oracle`-style MATERIALIZED round chain per k, each
    chain starting from the PREVIOUS chain's survivor CTE (the nesting
    property the Spark operator exploits), memberships folded back onto
    e0 as left joins."""
    max_k, rounds = _TRUSS_MAX_K, _TRUSS_ROUNDS
    sql = f"""
    WITH {_doubling_graph_sql(stride=True)}"""
    prev = "e0"
    final = {}
    for k in range(3, max_k + 1):
        for r in range(1, rounds + 1):
            name = f"k{k}r{r}"
            sql += f""",
    sym_{name} AS MATERIALIZED (
      SELECT u, v FROM {prev}
      UNION ALL
      SELECT v AS u, u AS v FROM {prev}
    ),
    {name} AS MATERIALIZED (
      SELECT p.u, p.v
      FROM {prev} p
      JOIN sym_{name} na ON na.u = p.u
      JOIN sym_{name} nb ON nb.u = p.v AND nb.v = na.v
      GROUP BY 1, 2
      HAVING count(*) >= {k - 2}
    )"""
            prev = name
        final[k] = prev
    joins = "".join(
        f"""
    LEFT JOIN {final[k]} m{k} ON m{k}.u = e.u AND m{k}.v = e.v"""
        for k in range(3, max_k + 1)
    )
    members = " + ".join(
        f"(CASE WHEN m{k}.u IS NOT NULL THEN 1 ELSE 0 END)"
        for k in range(3, max_k + 1)
    )
    return sql + f"""
    SELECT e.u AS key_a, e.v AS key_b,
           (2 + {members})::BIGINT AS trussness
    FROM e0 e{joins}"""


@query("graph_truss_decomposition", oracle=_truss_decomp_oracle())
def graph_truss_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X9u (r10): full truss decomposition up to k=5 — every edge's
    density COORDINATE where `graph_ktruss` answers one binary
    membership (the `graph_kcore` → `graph_coreness` step, at the edge
    level): trussness 2 = no triangle corroboration (review these merge
    links first), 5 = near-clique interior. Runs on `graph_ktruss`'s
    mixed-density fixture, where the ladder actually spreads (stride
    interiors at 4-5, group boundaries at 3-4, doubling tails at 2).

    Plan: operators/graph.py::truss_decomposition — chained fixed-round
    support peels exploiting truss NESTING (each k peels the previous
    truss's survivors, so the arboricity-bounded wedge joins shrink
    monotonically down the ladder); memberships fold back as two-key
    left joins on the canonical edge table. Oracle: one MATERIALIZED
    round chain per k, chains linked survivor-to-survivor
    (`_truss_decomp_oracle`)."""
    from openmrs_patient_migration_script_spark.operators.graph import (
        truss_decomposition,
    )

    edges = _doubling_edges(spark, sf_dir, stride=True)
    return truss_decomposition(
        edges, max_k=_TRUSS_MAX_K, n_rounds=_TRUSS_ROUNDS
    )


@query(
    "graph_components_stability",
    oracle=f"""
    WITH RECURSIVE {_FUZZY_PAIRS_SQL},
    named_y AS (SELECT * FROM named WHERE key % 200 >= 10),
    {_fuzzy_pairs_sql("_y")},
    {connected_components_sql()},
    {connected_components_sql("_y")}
    SELECT
      sum(CASE WHEN t.node IS NOT NULL AND y.node IS NOT NULL
               THEN 1 ELSE 0 END)::BIGINT AS n_common,
      sum(CASE WHEN t.node IS NOT NULL AND y.node IS NOT NULL
                AND t.cluster <> y.cluster THEN 1 ELSE 0 END)::BIGINT
        AS n_label_changed,
      sum(CASE WHEN y.node IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_new_nodes,
      sum(CASE WHEN t.node IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_gone_nodes
    FROM labels t FULL JOIN labels_y y ON t.node = y.node
    """,
)
def graph_components_stability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X9v (r10): cluster-LABEL churn between two corpus states — the
    ops table behind every incremental-components consumer (ST11's
    maintained index, `dedup_clusters_incremental`): yesterday's corpus
    (the deterministic "before" slice — each even-hundred block's ten
    lowest keys absent, so HALF the clusters lose their min member) vs
    today's full corpus, as one row (n_common, n_label_changed,
    n_new_nodes, n_gone_nodes). On the fixture the churn is PARTIAL by
    construction: arrivals that merely join a cluster leave its label
    alone, arrivals below the old min re-key it — both cases present. Cluster id = min member, so a label
    changes exactly when new arrivals glue clusters or supply a smaller
    min — high churn means downstream systems keyed on cluster ids
    (golden records, served dedup decisions) re-key in bulk, the cost
    this table prices BEFORE an index refresh ships.

    Plan: two blocked pair generations + two adaptive-tier components
    runs (both driver/funnel-sized here), one node-keyed full join,
    a single-row conditional agg. Oracle: two transitive-closure CTEs
    and the identical full-join rollup."""
    from openmrs_patient_migration_script_spark.operators.dedup import (
        fuzzy_dedup_pairs,
    )
    from openmrs_patient_migration_script_spark.operators.graph import (
        connected_components,
    )

    named = named_customers(spark, sf_dir)
    blocks = [F.substring("name", 1, 7)]
    pairs_t = fuzzy_dedup_pairs(named, "key", "name", blocks, max_distance=1)
    pairs_y = fuzzy_dedup_pairs(
        named.filter(F.col("key") % 200 >= 10), "key", "name", blocks,
        max_distance=1,
    )
    lab_t = connected_components(pairs_t).select(
        F.col("node"), F.col("cluster").alias("cluster_t")
    )
    lab_y = connected_components(pairs_y).select(
        F.col("node"), F.col("cluster").alias("cluster_y")
    )
    j = lab_t.join(lab_y, "node", "full")
    both = F.col("cluster_t").isNotNull() & F.col("cluster_y").isNotNull()
    return j.agg(
        F.sum(F.when(both, 1).otherwise(0)).cast("long").alias("n_common"),
        F.sum(
            F.when(both & (F.col("cluster_t") != F.col("cluster_y")), 1)
            .otherwise(0)
        )
        .cast("long")
        .alias("n_label_changed"),
        F.sum(F.when(F.col("cluster_y").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_new_nodes"),
        F.sum(F.when(F.col("cluster_t").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_gone_nodes"),
    )


@query(
    "dedup_pair_evidence",
    oracle=f"""
    WITH {shingles_sql()},
    dfq AS (SELECT shingle, count(*) AS dfc FROM sh GROUP BY shingle),
    shf AS (
      SELECT sh.doc_id, sh.shingle FROM sh JOIN dfq USING (shingle)
      WHERE dfc <= {_JACCARD_MAX_DF}
    ),
    pair_sh AS (
      SELECT a.doc_id AS key_a, b.doc_id AS key_b, shingle
      FROM shf a JOIN shf b USING (shingle)
      WHERE a.doc_id < b.doc_id
    ),
    ranked AS (
      SELECT key_a, key_b, shingle,
             count(*) OVER (PARTITION BY key_a, key_b) AS n_shared,
             row_number() OVER (PARTITION BY key_a, key_b
                                ORDER BY shingle) AS rn
      FROM pair_sh
    )
    SELECT key_a, key_b, n_shared::BIGINT AS n_shared,
           string_agg(shingle, ',' ORDER BY shingle) AS evidence
    FROM ranked
    WHERE n_shared >= {_JACCARD_MIN_SHARED} AND rn <= 3
    GROUP BY key_a, key_b, n_shared
    """,
)
def dedup_pair_evidence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3m (r10): candidate-pair EVIDENCE — for every n-gram-Jaccard
    candidate pair (same inverted index, max-df prefix filter and
    min-shared floor as `dedup_ngram_jaccard`), the shared-shingle count
    plus the first three shared shingles as a readable string: what a
    human reviewer (or an LLM labeling dedup decisions) actually looks
    at before trusting a merge, and the "why" column every pair audit
    (`graph_edge_support`'s support-0 flags, `graph_components_size_dist`'s
    over-merge alarms) points back to.

    Plan: the shingle inverted index (df <= {max_df} prefix filter keeps
    the hot-shingle quadratic out), pair-keyed shuffle of (pair,
    shingle) co-occurrence rows, ONE pair-keyed window producing both
    the shared count and the rank that truncates evidence to 3 (bounded
    output per pair regardless of overlap size), then a 3-row-bounded
    sorted concat. All keys are pair/shingle-sized; nothing is
    corpus-quadratic. Oracle replays the identical window + string_agg
    (both engines sort evidence lexicographically)."""
    from openmrs_patient_migration_script_spark.operators.dedup import (
        _shingles,
    )

    docs = load_table(spark, sf_dir, "documents")
    # the row-local shingle HOF the whole dedup family builds on — the
    # index is consumed by the df filter and both join sides, so
    # checkpoint it once (the ngram_jaccard_pairs materialize rule)
    sh = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(_shingles(F.col("text"), 3))
        ).alias("shingle"),
    ).localCheckpoint(eager=True)
    dfq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("dfc"))
    shf = sh.join(
        dfq.filter(F.col("dfc") <= _JACCARD_MAX_DF).select("shingle"),
        "shingle",
    )
    pair_sh = (
        shf.alias("a")
        .join(shf.alias("b"), "shingle")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("key_a"),
            F.col("b.doc_id").alias("key_b"),
            "shingle",
        )
    )
    from pyspark.sql.window import Window as W

    pw = W.partitionBy("key_a", "key_b")
    ranked = pair_sh.select(
        "key_a",
        "key_b",
        "shingle",
        F.count(F.lit(1)).over(pw).alias("n_shared"),
        F.row_number().over(pw.orderBy("shingle")).alias("rn"),
    )
    return (
        ranked.filter(
            (F.col("n_shared") >= _JACCARD_MIN_SHARED) & (F.col("rn") <= 3)
        )
        .groupBy("key_a", "key_b", "n_shared")
        .agg(
            F.concat_ws(",", F.array_sort(F.collect_list("shingle"))).alias(
                "evidence"
            )
        )
        .select(
            "key_a", "key_b", F.col("n_shared").cast("long").alias("n_shared"),
            "evidence",
        )
    )


# --- Louvain community detection (r11) --------------------------------------

_LOUVAIN_PASSES = 3

# Declared fixture: clique-blocks over customer keys — every same-block
# pair (block = k // 10) is an edge, consecutive blocks share one bridge
# (k, k+1). This is the DOMAIN shape (dedup-candidate graphs are dense
# near-cliques, not chains — see the operator's domain-honesty note):
# community structure is PLANTED (blocks) but the labels are derived,
# not given — Louvain has real work to do.
_LOUVAIN_EDGE_CTES = """
    keys AS (SELECT c_custkey AS k FROM customer),
    oc AS MATERIALIZED (
      SELECT a.k AS u, b.k AS v
      FROM keys a JOIN keys b
        ON b.k > a.k AND a.k // 10 = b.k // 10
      UNION ALL
      SELECT a.k, b.k
      FROM keys a JOIN keys b
        ON b.k = a.k + 1 AND a.k // 10 <> b.k // 10
    ),
    mm AS MATERIALIZED (SELECT count(*)::BIGINT AS m FROM oc),
    onodes AS MATERIALIZED (
      SELECT DISTINCT u AS n FROM (SELECT u FROM oc UNION ALL SELECT v FROM oc)
    ),
    odeg AS MATERIALIZED (
      SELECT u, count(*)::BIGINT AS d
      FROM (SELECT u FROM oc UNION ALL SELECT v FROM oc) GROUP BY u
    )"""


def _louvain_qsum(lt: str) -> str:
    """Exact Q numerator sum of a (node, community) table over the
    original graph: 4*m*(total intra edges) - sum_c(degree_sum_c^2),
    all HUGEINT — q_den = 4m^2 is constant so this integer decides
    every accept/reject."""
    return f"""(
      SELECT (SELECT 4::HUGEINT * (SELECT m FROM mm) * count(*)
              FROM oc
              JOIN {lt} la ON oc.u = la.node
              JOIN {lt} lb ON oc.v = lb.node
              WHERE la.community = lb.community)
             - (SELECT coalesce(sum(ds::HUGEINT * ds), 0::HUGEINT)
                FROM (SELECT sum(d)::BIGINT AS ds
                      FROM {lt} l JOIN odeg ON l.node = odeg.u
                      GROUP BY l.community))
    )"""


def _louvain_ctes() -> str:
    """Unrolled Louvain replay (the `_bpe_learn_ctes` pattern): per pass,
    weighted degrees (self-loops twice); per ROUND within the pass, the
    community vote table kc (with explicit stay rows), sigma_tot/size
    stats st, the eligibility-filtered HUGEINT gain argmax lb, the
    projected candidate ltq, the modularity guard ar, and the accept
    CASE lab; then the community contraction. Multi-consumer CTEs
    MATERIALIZED; the q chain threads every round of every pass."""
    n_passes, rounds = _LOUVAIN_PASSES, LOUVAIN_ROUNDS
    sql = (
        "\n    WITH "
        + _LOUVAIN_EDGE_CTES.strip()
        + """,
    lt0 AS MATERIALIZED (SELECT n AS node, n AS community FROM onodes),
    q0 AS MATERIALIZED (SELECT """
        + _louvain_qsum("lt0")
        + """ AS q),
    cg0 AS MATERIALIZED (SELECT u, v, 1::BIGINT AS w FROM oc),
    cs0 AS (SELECT u AS c, 0::BIGINT AS s FROM oc WHERE FALSE)"""
    )
    qprev = "q0"
    for p in range(1, n_passes + 1):
        sql += f""",
    sym{p} AS MATERIALIZED (
      SELECT u, v, w FROM cg{p - 1}
      UNION ALL SELECT v, u, w FROM cg{p - 1}
    ),
    deg{p} AS MATERIALIZED (
      SELECT t.u, (t.kd + 2 * coalesce(cs.s, 0))::BIGINT AS k
      FROM (SELECT u, sum(w)::BIGINT AS kd FROM sym{p} GROUP BY u) t
      LEFT JOIN cs{p - 1} cs ON cs.c = t.u
      UNION ALL
      SELECT cs.c, (2 * cs.s)::BIGINT
      FROM cs{p - 1} cs
      WHERE cs.c NOT IN (SELECT u FROM sym{p})
    ),
    lab{p}r0 AS MATERIALIZED (
      SELECT u AS lnode, u AS lcomm FROM deg{p}
    )"""
        for r in range(1, rounds + 1):
            sql += f""",
    kc{p}_{r} AS MATERIALIZED (
      SELECT i, c, sum(kic)::BIGINT AS kic FROM (
        SELECT s.u AS i, l.lcomm AS c, s.w AS kic
        FROM sym{p} s JOIN lab{p}r{r - 1} l ON l.lnode = s.v
        UNION ALL
        SELECT lnode, lcomm, 0 FROM lab{p}r{r - 1}
      ) GROUP BY i, c
    ),
    st{p}_{r} AS MATERIALIZED (
      SELECT l.lcomm AS c, count(*)::BIGINT AS n_sz,
             sum(d.k)::BIGINT AS sigma
      FROM lab{p}r{r - 1} l JOIN deg{p} d ON d.u = l.lnode
      GROUP BY l.lcomm
    ),
    lb{p}_{r} AS MATERIALIZED (
      -- eligibility: stay always; a SINGLETON target only toward a
      -- smaller id (anti-swap min-labeling); a size>=2 target freely
      SELECT i AS lnode, c AS lcomm FROM (
        SELECT x.i, x.c,
               row_number() OVER (PARTITION BY x.i
                                  ORDER BY x.g DESC, x.c ASC) AS rn
        FROM (
          SELECT k.i, k.c,
                 2::HUGEINT * (SELECT m FROM mm) * k.kic
                   - (st.sigma - CASE WHEN k.c = l.lcomm THEN d.k
                                      ELSE 0 END)::HUGEINT * d.k AS g
          FROM kc{p}_{r} k
          JOIN st{p}_{r} st ON st.c = k.c
          JOIN lab{p}r{r - 1} l ON l.lnode = k.i
          JOIN deg{p} d ON d.u = k.i
          WHERE k.c = l.lcomm OR k.c < l.lcomm OR st.n_sz >= 2
        ) x
      ) WHERE rn = 1
    ),
    ltq{p}_{r} AS MATERIALIZED (
      SELECT lt.node, lb.lcomm AS community
      FROM lt{p - 1} lt JOIN lb{p}_{r} lb ON lt.community = lb.lnode
    ),
    qv{p}_{r} AS MATERIALIZED (SELECT {_louvain_qsum(f"ltq{p}_{r}")} AS q),
    ar{p}_{r} AS MATERIALIZED (
      SELECT (SELECT q FROM qv{p}_{r}) >= (SELECT q FROM {qprev}) AS a
    ),
    lab{p}r{r} AS MATERIALIZED (
      SELECT lnode, lcomm FROM lb{p}_{r} WHERE (SELECT a FROM ar{p}_{r})
      UNION ALL
      SELECT lnode, lcomm FROM lab{p}r{r - 1}
      WHERE NOT (SELECT a FROM ar{p}_{r})
    ),
    qr{p}_{r} AS MATERIALIZED (
      SELECT CASE WHEN (SELECT a FROM ar{p}_{r})
                  THEN (SELECT q FROM qv{p}_{r})
                  ELSE (SELECT q FROM {qprev}) END AS q
    )"""
            qprev = f"qr{p}_{r}"
        sql += f""",
    lt{p} AS MATERIALIZED (
      SELECT lt.node, lv.lcomm AS community
      FROM lt{p - 1} lt JOIN lab{p}r{rounds} lv ON lt.community = lv.lnode
    ),
    q{p} AS MATERIALIZED (SELECT q FROM {qprev}),
    acc{p} AS MATERIALIZED (
      SELECT (SELECT q FROM q{p}) >= (SELECT q FROM q{p - 1}) AS a
    ),
    cg{p} AS MATERIALIZED (
      SELECT least(la.lcomm, lb.lcomm) AS u,
             greatest(la.lcomm, lb.lcomm) AS v,
             sum(e.w)::BIGINT AS w
      FROM cg{p - 1} e
      JOIN lab{p}r{rounds} la ON e.u = la.lnode
      JOIN lab{p}r{rounds} lb ON e.v = lb.lnode
      WHERE la.lcomm <> lb.lcomm
      GROUP BY 1, 2
    ),
    cs{p} AS MATERIALIZED (
      SELECT c, sum(w)::BIGINT AS s FROM (
        SELECT la.lcomm AS c, e.w
        FROM cg{p - 1} e
        JOIN lab{p}r{rounds} la ON e.u = la.lnode
        JOIN lab{p}r{rounds} lb ON e.v = lb.lnode
        WHERE la.lcomm = lb.lcomm
        UNION ALL
        SELECT lv.lcomm, cs.s
        FROM cs{p - 1} cs JOIN lab{p}r{rounds} lv ON cs.c = lv.lnode
      ) GROUP BY c
    )"""
    return sql


def _clique_block_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Louvain fixture as (key_a, key_b): planted clique-blocks over
    customer keys (every same-block pair, block = k // 10) and one
    bridge between consecutive blocks."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k")
    )
    c2 = c.select(F.col("k").alias("k2"))
    clique = c.join(
        c2,
        (F.col("k2") > F.col("k"))
        & (F.expr("k div 10") == F.expr("k2 div 10")),
    ).select(F.col("k").alias("key_a"), F.col("k2").alias("key_b"))
    bridge = c.join(
        c2,
        (F.col("k2") == F.col("k") + 1)
        & (F.expr("k div 10") != F.expr("k2 div 10")),
    ).select(F.col("k").alias("key_a"), F.col("k2").alias("key_b"))
    return clique.unionByName(bridge)


@query(
    "graph_louvain",
    oracle=_louvain_ctes()
    + f"""
    SELECT node, community FROM lt{_LOUVAIN_PASSES}
    """,
)
def graph_louvain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X9n (r11): Louvain community detection
    (operators/graph.py::louvain) — the standard modularity-OPTIMIZING
    algorithm the r10 verdict named as the top graph gap: LPA produces
    labels without an objective and `graph_modularity` only measures;
    Louvain moves nodes BY the exact integer gain 2m*k_ij - k_j*k_i and
    contracts accepted communities into weighted super-nodes, a fixed
    3 passes. Every pass is guarded by the exact modularity numerator
    (computed by the existing `modularity` operator): non-decreasing Q
    across accepted passes holds by construction and is asserted
    in-plan. Synchronous-swap oscillation is broken by the
    min-labeling convention (moves only to smaller community ids —
    Grappolo's device), which the unrolled oracle replays verbatim.

    Fixture: planted clique-blocks over customer keys — every
    same-block pair is an edge (block = k // 10) and consecutive blocks
    share exactly one bridge, the dense near-clique shape of real
    dedup-candidate graphs (the operator's domain-honesty note records
    why chains are NOT the fixture). Plan per pass: node-keyed degree agg, edge-keyed
    gain projection + per-node argmax window (WindowGroupLimit), one
    relabel+contract agg, one modularity audit on the original graph;
    bounded driver scalars only (m once, one q_num sum per pass)."""
    from openmrs_patient_migration_script_spark.operators.graph import (
        louvain,
    )

    return louvain(_clique_block_edges(spark, sf_dir), n_passes=_LOUVAIN_PASSES)


@query(
    "dedup_span_rewrite",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
      FROM documents
    ),
    sized AS (SELECT doc_id, t, len(t)::BIGINT AS n FROM base),
    sh AS (
      SELECT doc_id, i::BIGINT AS start,
             array_to_string(list_slice(t, i, i + {_SPAN_K} - 1), ' ')
               AS shingle,
             (doc_id * 1048576 + i)::BIGINT AS occ
      FROM sized, UNNEST(generate_series(1, n - {_SPAN_K} + 1)) AS g(i)
      WHERE n >= {_SPAN_K}
    ),
    rep AS (
      SELECT shingle, min(occ) AS first_occ
      FROM sh GROUP BY shingle
      HAVING count(DISTINCT doc_id) >= 2
    ),
    rm AS (
      SELECT DISTINCT sh.doc_id, p::BIGINT AS pos
      FROM sh
      JOIN rep USING (shingle),
           UNNEST(generate_series(sh.start, sh.start + {_SPAN_K} - 1))
             AS u(p)
      WHERE sh.occ <> rep.first_occ
    ),
    toks AS (
      SELECT doc_id, i::BIGINT AS pos, t[i] AS tok
      FROM sized, UNNEST(generate_series(1, n)) AS g(i)
    ),
    kept AS (
      SELECT t.doc_id, count(*)::BIGINT AS n_kept,
             string_agg(t.tok, ' ' ORDER BY t.pos) AS txt
      FROM toks t
      LEFT JOIN rm ON rm.doc_id = t.doc_id AND rm.pos = t.pos
      WHERE rm.pos IS NULL
      GROUP BY t.doc_id
    )
    SELECT s.doc_id, s.n AS n_tokens,
           (s.n - coalesce(k.n_kept, 0))::BIGINT AS n_removed,
           coalesce(k.txt, '') AS text_rewrite
    FROM sized s LEFT JOIN kept k USING (doc_id)
    """,
)
def dedup_span_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3n (r11): span-removal REWRITE (operators/dedup.py::span_rewrite)
    — the action half `dedup_repeated_spans` lacked (that query audits
    coverage; this one EDITS the corpus, the r10 verdict's #3): every
    token covered by a non-first occurrence of a cross-document repeated
    {_SPAN_K}-gram is excised and the survivors reassemble in order —
    keep-first-occurrence globally, so each repeated span still exists
    exactly once corpus-wide (Lee et al. ACL 2022 as an edit; the
    `dedup_paragraph` pattern at span granularity). Same inverted-index
    plan family as the audit plus a (doc, pos)-keyed removal anti-join
    and one doc-keyed reassembly agg; linear in occurrences, no pair
    materialization. All-integer counts + exact surviving text keep the
    oracle byte-exact."""
    from openmrs_patient_migration_script_spark.operators.dedup import (
        span_rewrite,
    )

    docs = load_table(spark, sf_dir, "documents")
    out = span_rewrite(
        docs, "doc_id", "text", span_tokens=_SPAN_K, min_docs=2
    )
    return out.withColumnRenamed("key", "doc_id")


@query(
    "graph_louvain_ledger",
    oracle=_louvain_ctes()
    + f"""
    SELECT * FROM (
      {"UNION ALL".join(
        f'''
      SELECT {p}::BIGINT AS pass_no,
             (SELECT q FROM q{p})::BIGINT AS q_num_sum,
             (SELECT a FROM acc{p}) AS accepted
      '''
        for p in range(1, _LOUVAIN_PASSES + 1)
      )}
    ) t
    """,
)
def graph_louvain_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X9o (r11): the Louvain AUDIT LEDGER — per pass the exact
    modularity numerator after the guard decision and whether the pass
    was accepted, as a declared hash-checked table (the repo rule:
    every heuristic ships an exact auditable number; `graph_modularity`
    certifies LPA, this certifies `graph_louvain`'s monotone-guard
    contract). q_den = 4m^2 is constant, so a non-decreasing q_num_sum
    column IS the non-decreasing-modularity guarantee — checkable by
    eye, by the driver's value hash, and by the oracle's independent
    replay of every gain argmax and accept CASE. Same plan as
    `graph_louvain` plus three one-row modularity sums; 3 rows out."""
    from openmrs_patient_migration_script_spark.operators.graph import (
        louvain,
    )

    _, ledger = louvain(
        _clique_block_edges(spark, sf_dir),
        n_passes=_LOUVAIN_PASSES,
        return_ledger=True,
    )
    return spark.createDataFrame(
        [(p, q, acc) for p, q, acc in ledger],
        "pass_no long, q_num_sum long, accepted boolean",
    )
