"""Declared similarity-search queries (SURVEY.md §2.9 X4 + ANN scale path)
over the `embeddings` fixture table (64-dim float vectors).

The exact top-k query is hash-checked against DuckDB's
`list_cosine_similarity`; both sides rank on round(cos, 6) with a vec_id
tie-break so the top-k set is order-stable across engines. The LSH and
IVF ANN variants are approximate BY CONTRACT (bucket / nprobe candidate
pruning) yet still hash-checked exactly (r3): every source of
randomness is content-addressed (md5-parity planes, md5-bucket seeds),
so DuckDB replays the whole approximate pipeline; recall vs the exact
baseline stays measured in tests/test_similarity.py. Even the iterative
k-means trainer gets an exact oracle by unrolling its Lloyd iterations
as CTEs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from openmrs_patient_migration_script_spark.operators.similarity import (
    ann_topk_lsh,
    cosine_topk,
    srp_hashed_sql,
)
from openmrs_patient_migration_script_spark.plans.registry import ORACLES, query
from openmrs_patient_migration_script_spark.sources import load_table

# every 50th vector is a query point: a small deterministic query batch
# against the full corpus — the production shape for batch ANN scoring.
_QUERY_PRED = "vec_id % 50 = 0"
_K = 5
_DIM = 64  # the width of the fixture's embedding vectors


def _split(spark: SparkSession, sf_dir: str):
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.expr(_QUERY_PRED)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return emb, queries


def _topk_sql(k: int) -> str:
    """The k best rows (cos_sim DESC, vec_id) per query_id of the CTE
    ``scored`` (query_id, vec_id, cos_sim) — the SELECT that ends a top-k
    oracle."""
    return f"""
    SELECT query_id, vec_id, cos_sim FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, vec_id) AS rn
      FROM scored
    ) WHERE rn <= {k}
    """


# the query batch: CTE q (query_id, qe)
_QUERIES_SQL = f"""q AS (
      SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe
      FROM embeddings WHERE {_QUERY_PRED}
    )"""

# CTE scored: each query of q with its exact rounded cosine to every
# other vector
_SCORED_SQL = """scored AS (
      SELECT q.query_id, e.vec_id,
             round(list_cosine_similarity(q.qe, e.embedding::DOUBLE[]), 6)
               AS cos_sim
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id <> q.query_id
    )"""

# CTE full_topk: the exact top _K (query_id, vec_id) of every query of q,
# the reference a recall certificate compares a pruned ranking with
_FULL_TOPK_SQL = f"""{_SCORED_SQL},
    full_topk AS (SELECT query_id, vec_id FROM ({_topk_sql(_K)}) f)"""

# the tail of an ANN oracle: the exact cosine re-rank (CTE scored) of the
# candidates cand (query_id, vec_id) over vec (vec_id, v), then the top _K
_RERANK_TOPK_SQL = f"""scored AS (
      SELECT c.query_id, c.vec_id,
             round(list_cosine_similarity(qv.v, cv.v), 6) AS cos_sim
      FROM cand c
      JOIN vec qv ON qv.vec_id = c.query_id
      JOIN vec cv ON cv.vec_id = c.vec_id
    ){_topk_sql(_K)}"""


@query(
    "sim_cosine_topk",
    oracle=f"""
    WITH {_QUERIES_SQL},
    {_SCORED_SQL}
    {_topk_sql(_K)}""",
)
def sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4: exact brute-force cosine top-k — numpy matmul per Arrow batch
    (operators/similarity.py::cosine_topk_vectorized), the measured 34x
    winner over the interpreted higher-order-function form at 50k x 10.
    The corpus never shuffles; the ranking window partitions on the
    query-batch key."""
    from openmrs_patient_migration_script_spark.operators.similarity import (
        cosine_topk_vectorized,
    )

    emb, queries = _split(spark, sf_dir)
    return cosine_topk_vectorized(emb, queries, k=_K)


_LSH_M, _LSH_L = 3, 8


@query(
    "sim_ann_lsh",
    oracle=f"""
    WITH vec AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    {srp_hashed_sql(_LSH_M, _LSH_L)},
    cand AS (
      SELECT DISTINCT q.vec_id AS query_id, b.vec_id
      FROM buckets q JOIN buckets b USING (tbl, bkt)
      WHERE q.vec_id % 50 = 0 AND b.vec_id <> q.vec_id
    ),
    {_RERANK_TOPK_SQL}""",
)
def sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN scale path: multi-table sign-random-projection LSH + exact
    re-rank within buckets ((3 planes, 8 tables); recall vs the exact
    baseline pinned in tests/test_similarity.py). r3: the declared form
    derives its ±1 planes from md5 parity (`srp_weights` hash_mode) so
    the ENTIRE approximate pipeline — plane matrix, bucket bits,
    multi-table candidate union, re-rank, top-k — is replayed by the
    DuckDB oracle and hash-checked exactly; the approximation is in WHAT
    the query promises (candidates within shared buckets), not in
    run-to-run wobble. xxhash64 planes stay the production default
    (cheaper, JVM-side)."""
    emb, queries = _split(spark, sf_dir)
    return ann_topk_lsh(
        emb, queries, k=_K, num_planes=_LSH_M, num_tables=_LSH_L, hash_mode="md5"
    )


# same oracle as sim_cosine_topk: both implementations must produce
# identical rounded scores and tie-breaks
_MMR_CANDIDATES = 10  # the MMR queries re-rank the exact top-10 down to _K


def _mmr_prefix() -> str:
    """Shared CTE chain for the MMR oracles: candidates, integer pairwise
    sims, and the unrolled greedy selection sel1..sel{_K}. Step 1 is
    the plain relevance argmax (no penalty — selected set empty); each
    later step anti-joins the running selection, takes the max penalty
    over it from the integer pairwise-sim table, and argmaxes
    (rel_s - pen) with the vec_id tie-break — the exact integer
    arithmetic the engine's greedy loop runs."""
    sql = f"""
    WITH {_QUERIES_SQL},
    {_SCORED_SQL},
    cand AS (
      SELECT query_id, vec_id, cos_sim,
             CAST(round(cos_sim * 1000000, 0) AS BIGINT) AS rel_s
      FROM ({_topk_sql(_MMR_CANDIDATES)}) t
    ),
    vec AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    sims AS (
      SELECT a.query_id, a.vec_id AS ca, b.vec_id AS cb,
             CAST(round(round(list_cosine_similarity(va.v, vb.v), 6)
                        * 1000000, 0) AS BIGINT) AS sim_s
      FROM cand a
      JOIN cand b ON a.query_id = b.query_id AND a.vec_id <> b.vec_id
      JOIN vec va ON va.vec_id = a.vec_id
      JOIN vec vb ON vb.vec_id = b.vec_id
    ),
    s1 AS (
      SELECT query_id, vec_id, cos_sim, rel_s AS score_s FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY rel_s DESC, vec_id) AS rn
        FROM cand
      ) WHERE rn = 1
    ),
    sel1 AS (SELECT query_id, vec_id FROM s1)"""
    for i in range(2, _K + 1):
        sql += f""",
    pen{i} AS (
      SELECT c.query_id, c.vec_id, c.cos_sim, c.rel_s,
             max(sims.sim_s) AS pen
      FROM cand c
      LEFT JOIN sel{i - 1} x
        ON x.query_id = c.query_id AND x.vec_id = c.vec_id
      JOIN sel{i - 1} sl ON sl.query_id = c.query_id
      JOIN sims ON sims.query_id = c.query_id
               AND sims.ca = c.vec_id AND sims.cb = sl.vec_id
      WHERE x.vec_id IS NULL
      GROUP BY 1, 2, 3, 4
    ),
    s{i} AS (
      SELECT query_id, vec_id, cos_sim, rel_s - pen AS score_s FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY rel_s - pen DESC, vec_id) AS rn
        FROM pen{i}
      ) WHERE rn = 1
    ),
    sel{i} AS (
      SELECT query_id, vec_id FROM sel{i - 1}
      UNION ALL SELECT query_id, vec_id FROM s{i}
    )"""
    return sql


def _mmr_oracle() -> str:
    steps = "\n    UNION ALL ".join(
        f"SELECT query_id, {i} AS mmr_rank, vec_id, cos_sim, "
        f"score_s / 1000000.0 AS mmr_score FROM s{i}"
        for i in range(1, _K + 1)
    )
    return _mmr_prefix() + f"""
    {steps}
    """


def _mmr_certify_oracle() -> str:
    """The diversity-vs-relevance ledger over the SAME unrolled greedy
    chain: per query, the 1e6-scaled relevance sums and max within-set
    pairwise similarities of the plain top-{_K} vs the MMR-selected
    {_K} — every number an exact BIGINT from the shared integer sim
    table."""
    k_sel = _K
    return _mmr_prefix() + f""",
    top AS (
      SELECT query_id, vec_id, rel_s FROM (
        SELECT query_id, vec_id, rel_s,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY rel_s DESC, vec_id) AS rn2
        FROM cand
      ) WHERE rn2 <= {k_sel}
    ),
    mmr AS (
      SELECT sel{k_sel}.query_id, sel{k_sel}.vec_id, cand.rel_s
      FROM sel{k_sel} JOIN cand
        ON cand.query_id = sel{k_sel}.query_id
       AND cand.vec_id = sel{k_sel}.vec_id
    ),
    ms_top AS (
      SELECT s.query_id, max(s.sim_s) AS maxsim
      FROM sims s
      JOIN top a ON a.query_id = s.query_id AND a.vec_id = s.ca
      JOIN top b ON b.query_id = s.query_id AND b.vec_id = s.cb
      GROUP BY s.query_id
    ),
    ms_mmr AS (
      SELECT s.query_id, max(s.sim_s) AS maxsim
      FROM sims s
      JOIN mmr a ON a.query_id = s.query_id AND a.vec_id = s.ca
      JOIN mmr b ON b.query_id = s.query_id AND b.vec_id = s.cb
      GROUP BY s.query_id
    )
    SELECT t.query_id,
           t.rel AS rel_top_s, m.rel AS rel_mmr_s,
           mt.maxsim AS maxsim_top_s, mm.maxsim AS maxsim_mmr_s
    FROM (SELECT query_id, sum(rel_s)::BIGINT AS rel FROM top GROUP BY 1) t
    JOIN (SELECT query_id, sum(rel_s)::BIGINT AS rel FROM mmr GROUP BY 1) m
      USING (query_id)
    JOIN ms_top mt USING (query_id)
    JOIN ms_mmr mm USING (query_id)
    """


@query("sim_mmr_rerank", oracle=_mmr_oracle())
def sim_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4c: MMR diversified re-rank of the exact top-10 down to 5
    (operators/similarity.py::mmr_rerank) — the retrieval-context dedup
    step: each pick maximizes relevance MINUS max similarity to prior
    picks (λ=0.5 with the positive factor dropped), so the result slots
    cover distinct neighborhoods instead of five near-copies of the best
    hit. All-integer greedy (1e6-scaled 6dp cosines, smallest-id
    tie-break) replayed step-by-step by the unrolled oracle. Corpus
    never shuffles: candidates broadcast back for vectors; the greedy
    loop is an applyInPandas over ≤10 rows per query."""
    from openmrs_patient_migration_script_spark.operators.similarity import (
        mmr_rerank,
    )

    emb, queries = _split(spark, sf_dir)
    return mmr_rerank(emb, queries, k_candidates=_MMR_CANDIDATES, k_select=_K)


@query("sim_cosine_topk_hof", oracle=ORACLES["sim_cosine_topk"])
def sim_cosine_topk_hof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 UDF-free reference variant: cosine via zip_with/aggregate
    higher-order functions (JVM expression eval, zero Python). Kept as
    the built-ins-only twin of sim_cosine_topk; interpreted lambda eval
    makes it ~34x slower at 50k x 10, the engine's one measured case
    where the Pandas escape hatch beats built-ins."""
    emb, queries = _split(spark, sf_dir)
    return cosine_topk(emb, queries, k=_K)


_IVF_CELLS, _IVF_NPROBE = 16, 8


@query(
    "sim_ann_ivf",
    oracle=f"""
    WITH vec AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    seeds AS (
      SELECT vec_id, v, rn - 1 AS cell FROM (
        SELECT vec_id, v,
               row_number() OVER (
                 ORDER BY ('0x' || substr(md5(vec_id::VARCHAR), 1, 8))::BIGINT
                          % 1000000, vec_id
               ) AS rn
        FROM vec
      ) WHERE rn <= {_IVF_CELLS}
    ),
    assign AS (
      SELECT vec_id, cell FROM (
        SELECT c.vec_id, s.cell,
               row_number() OVER (
                 PARTITION BY c.vec_id
                 ORDER BY list_cosine_similarity(c.v, s.v) DESC, s.cell
               ) AS rn
        FROM vec c CROSS JOIN seeds s
      ) WHERE rn = 1
    ),
    probes AS (
      SELECT query_id, cell FROM (
        SELECT q.vec_id AS query_id, s.cell,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY list_cosine_similarity(q.v, s.v) DESC, s.cell
               ) AS rn
        FROM vec q CROSS JOIN seeds s
        WHERE q.vec_id % 50 = 0
      ) WHERE rn <= {_IVF_NPROBE}
    ),
    cand AS (
      SELECT p.query_id, a.vec_id
      FROM probes p JOIN assign a USING (cell)
      WHERE a.vec_id <> p.query_id
    ),
    {_RERANK_TOPK_SQL}""",
)
def sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN scale path #2: IVF — deterministic hash-seeded coarse centroids,
    cell assignment per Arrow batch, nprobe-cell probing (broadcast probe
    list prunes the corpus without a shuffle), exact re-rank
    (operators/similarity.py::ivf_topk). Recall vs the exact baseline is
    pinned in tests/test_similarity.py. NB the harness embeddings are
    ~uniform random — the IVF worst case (neighbors spread evenly over
    cells), hence nprobe=8 of 16; clustered real corpora reach high
    recall at much smaller scan fractions. r3: every stage is
    SQL-replayable — seeds are md5-bucket order (the same hash_bucket
    rule the oracles already share), assignment/probing are
    cosine-argmax windows (cosine is scale-invariant, so the oracle skips
    the normalization numpy needs), re-rank is the shared rounded-cosine
    convention — upgrading this path from rows-only to hash-checked;
    the approximation lives in the nprobe contract, not in wobble."""
    from openmrs_patient_migration_script_spark.operators.similarity import ivf_topk

    emb, queries = _split(spark, sf_dir)
    return ivf_topk(emb, queries, k=_K, n_cells=_IVF_CELLS, nprobe=_IVF_NPROBE)


# CTE ex (label, dim, sv): every embedding component with its vector's
# label, 1e6-scaled to an exact BIGINT
_LABELED_COMPONENTS_SQL = """ex AS (
      SELECT label, pos - 1 AS dim,
             cast(round(v * 1000000, 0) AS BIGINT) AS sv
      FROM (
        SELECT label, unnest(embedding::DOUBLE[]) AS v,
               generate_subscripts(embedding, 1) AS pos
        FROM embeddings
      )
    )"""


@query(
    "embed_centroids",
    oracle=f"""
    WITH {_LABELED_COMPONENTS_SQL},
    a AS (
      SELECT label, dim, sum(sv) AS s, count(*) AS n FROM ex GROUP BY 1, 2
    )
    SELECT label, dim,
           (CASE WHEN s >= 0 THEN (2 * s + n) // (2 * n)
                 ELSE -((-2 * s + n) // (2 * n)) END) / 1000000.0 AS centroid,
           n AS n_vectors
    FROM a
    """,
)
def embed_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4c: per-label centroid of the embedding column in long form —
    the k-means update / class-centroid / IVF-training primitive
    (operators/similarity.py::label_centroids). posexplode + one hash agg
    on (label, dim): the shuffle never carries whole vectors. The 6dp
    mean is exact scaled-long arithmetic on both sides (see the operator
    docstring) — a float avg() here is the `text_stats_by_lang` r3
    boundary-flake class."""
    from openmrs_patient_migration_script_spark.operators.similarity import (
        label_centroids,
    )

    return label_centroids(load_table(spark, sf_dir, "embeddings"))


@query(
    "embed_normalize",
    oracle="""
    SELECT vec_id, pos - 1 AS dim, round(v / sqrt(nrm), 6) AS unit_val
    FROM (
      SELECT vec_id, unnest(embedding::DOUBLE[]) AS v,
             generate_subscripts(embedding, 1) AS pos,
             list_aggregate(list_transform(embedding::DOUBLE[], x -> x * x),
                            'sum') AS nrm
      FROM embeddings
    )
    WHERE nrm > 0
    """,
)
def embed_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4d: L2 unit-normalization of the embedding column in long form —
    the ingest-time precompute that turns every later cosine into a plain
    dot product (operators/similarity.py::normalized does the same inline;
    this is the materialized-column form). Row-local HOF arithmetic +
    posexplode: zero shuffles; zero-norm vectors are filtered rather than
    divided by zero.

    The norm fold runs ONCE per vector: it is projected and filtered
    BELOW the Generate, so the per-element projection divides by an
    attribute — inlining the O(d) fold into each of the d output rows
    would silently make this O(d^2) per vector (the plan pin in
    tests/test_plan_quality.py holds the fold below the Generate). NULL
    elements are skipped in the fold (DuckDB list_aggregate semantics);
    their own rows surface with NULL unit_val, matching the oracle."""
    e = load_table(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    nrm = F.aggregate(
        F.filter(v, lambda x: x.isNotNull()),
        F.lit(0.0),
        lambda acc, x: acc + x * x,
    )
    base = e.select("vec_id", v.alias("_v"), nrm.alias("_n")).filter(
        F.col("_n") > 0
    )
    return base.select(
        "vec_id", F.posexplode("_v").alias("dim", "v"), "_n"
    ).select(
        "vec_id",
        F.col("dim").cast("long").alias("dim"),
        F.round(F.col("v") / F.sqrt(F.col("_n")), 6).alias("unit_val"),
    )


def _kmeans_oracle(n_cells: int, n_iter: int) -> str:
    """Unrolled-Lloyd oracle: replay every training iteration as a CTE
    pair (cosine-argmax assignment window → long-form centroid re-sum),
    then score the final assignment. Cosine against UN-normalized
    centroid sums divides by |c| explicitly, so each iteration matches
    numpy's unit-centroid matmul to ulps (measured 1.7e-16 on the
    fixture); member vectors are unit-normalized once up front exactly as
    kmeans_fit normalizes X."""
    dims = f"(SELECT unnest(generate_series(1, {_DIM})) AS d) dd(d)"
    sql = f"""
    WITH vec AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    uv AS (
      SELECT vec_id,
             list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS uv
      FROM vec
    ),
    seeds AS (
      SELECT vec_id, rn - 1 AS cell FROM (
        SELECT vec_id, row_number() OVER (
          ORDER BY ('0x' || substr(md5(vec_id::VARCHAR), 1, 8))::BIGINT
                   % 1000000, vec_id
        ) AS rn FROM vec
      ) WHERE rn <= {n_cells}
    ),
    cent0 AS (SELECT s.cell, u.uv AS cv FROM seeds s JOIN uv u USING (vec_id))
    """
    for i in range(1, n_iter + 1):
        sql += f"""
    , dots{i} AS (
      SELECT u.vec_id, c.cell,
             list_dot_product(u.uv, c.cv)
               / sqrt(list_dot_product(c.cv, c.cv)) AS cos
      FROM uv u CROSS JOIN cent{i - 1} c
    )
    , assign{i} AS (
      SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY cos DESC, cell) AS rn
        FROM dots{i}
      ) WHERE rn = 1
    )
    , sums{i} AS (
      SELECT a.cell, dd.d AS dim, sum(u.uv[dd.d]) AS s
      FROM assign{i} a JOIN uv u USING (vec_id)
      CROSS JOIN {dims}
      GROUP BY a.cell, dd.d
    )
    , cent{i} AS (
      SELECT p.cell, coalesce(n.cv_new, p.cv) AS cv
      FROM cent{i - 1} p LEFT JOIN (
        SELECT cell, list(s ORDER BY dim) AS cv_new FROM sums{i} GROUP BY cell
      ) n USING (cell)
    )
        """
    sql += f"""
    , fdots AS (
      SELECT u.vec_id, c.cell,
             list_dot_product(u.uv, c.cv)
               / sqrt(list_dot_product(c.cv, c.cv)) AS cos
      FROM uv u CROSS JOIN cent{n_iter} c
    ),
    final_assign AS (
      SELECT vec_id, cell, cos FROM (
        SELECT vec_id, cell, cos,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY cos DESC, cell) AS rn
        FROM fdots
      ) WHERE rn = 1
    )
    SELECT cell, n_members,
           (CASE WHEN s >= 0 THEN (2 * s + 1000 * n_members) // (2000 * n_members)
                 ELSE -((-2 * s + 1000 * n_members) // (2000 * n_members)) END)
             / 1000.0 AS avg_cos
    FROM (
      SELECT cell, count(*) AS n_members,
             sum(cast(round(cos * 1000000, 0) AS BIGINT)) AS s
      FROM final_assign GROUP BY cell
    )
    """
    return sql


@query("cluster_kmeans", oracle=_kmeans_oracle(n_cells=8, n_iter=3))
def cluster_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4e: distributed spherical k-means — train the IVF coarse
    quantizer (operators/similarity.py::kmeans_fit: per-iteration shuffle
    carries only n_cells×dim partial sums, never vectors), then assign
    every vector to its nearest trained centroid (kmeans_assign: one
    matmul per Arrow batch, zero shuffles) and report per-cell membership
    counts plus the mean within-cell cosine. r3: even the ITERATIVE
    trainer is hash-checked — the oracle unrolls every Lloyd iteration as
    CTEs (md5-bucket seeds → cosine-argmax assignment → long-form
    centroid re-sum) and replays the final scoring; Spark's float
    partials and DuckDB's serial sums agree to ulps (measured 1.7e-16
    centroid drift), far inside the fixture's cell margins, so counts and
    3dp mean cosines match exactly. Production still treats k-means as
    CONVERGENT rather than bit-stable (the training contract — objective
    non-decreasing, recall vs seeds — stays pinned in
    tests/test_similarity.py); the exact oracle works because every
    source of randomness was made content-addressed."""
    from openmrs_patient_migration_script_spark.operators.similarity import (
        kmeans_assign,
        kmeans_fit,
    )

    e = load_table(spark, sf_dir, "embeddings")
    cent = kmeans_fit(e, n_cells=8, n_iter=3)
    assigned = kmeans_assign(e, cent)
    # Mean cosine via the exact recipe: per-row 6dp round first (cosine
    # ulp wobble is ~1e-16, never near a 5e-7 boundary, so both engines
    # land on the same 6dp value), then scaled-long sum + integer HALF_UP
    # at 3dp — a float avg() is partial-agg-order dependent (the
    # text_stats_by_lang r3 failure class).
    a = assigned.groupBy("cell").agg(
        F.count("*").alias("n_members"),
        F.sum(F.round(F.col("cos") * 1e6, 0).cast("long")).alias("_s"),
    )
    half_up = F.expr(
        "case when _s >= 0 then (2 * _s + 1000 * n_members) div (2000 * n_members) "
        "else -((-2 * _s + 1000 * n_members) div (2000 * n_members)) end"
    )
    return a.select(
        F.col("cell").cast("long").alias("cell"),
        "n_members",
        (half_up / F.lit(1000.0)).alias("avg_cos"),
    ).orderBy("cell")


def _fixed_centroids() -> list[list[float]]:
    """Four deterministic decimal-exact centroid literals (3dp) — the same
    values are embedded in the Spark call AND the oracle SQL text, so
    both engines score against bit-identical model constants."""
    import hashlib

    out = []
    for c in range(4):
        row = []
        for d in range(_DIM):
            h = int(hashlib.md5(f"cent:{c}:{d}".encode()).hexdigest()[:6], 16)
            row.append(round((h % 2000 - 1000) / 1000.0, 3))
        out.append(row)
    return out


_CENTROIDS = _fixed_centroids()
_CENT_VALUES = ", ".join(
    f"({i}, [" + ", ".join(str(v) for v in c) + "]::DOUBLE[])"
    for i, c in enumerate(_CENTROIDS)
)


@query(
    "cluster_assign",
    oracle=f"""
    WITH c AS (SELECT * FROM (VALUES {_CENT_VALUES}) AS t(cell, v)),
    s AS (
      SELECT e.vec_id, c.cell,
             list_cosine_similarity(e.embedding::DOUBLE[], c.v) AS cos
      FROM embeddings e CROSS JOIN c
    )
    SELECT vec_id, cell, round(cos, 6) AS cos FROM (
      SELECT vec_id, cell, cos,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY cos DESC, cell) AS rn
      FROM s
    ) WHERE rn = 1
    """,
)
def cluster_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4f: nearest-centroid assignment against a FIXED model — the
    inference half of k-means, hash-checked (the trainer `cluster_kmeans`
    stays rows-only because training is iterative). One numpy matmul per
    Arrow batch (operators/similarity.py::kmeans_assign), zero shuffles;
    the oracle scores the same decimal-exact centroid literals via
    list_cosine_similarity and replays argmax's first-max tiebreak as
    (cos DESC, cell ASC). numpy's blocked dot and DuckDB's sequential
    fold agree to 6dp rounding at 64 dims (measured exact on the
    fixture)."""
    from openmrs_patient_migration_script_spark.operators.similarity import (
        kmeans_assign,
    )

    e = load_table(spark, sf_dir, "embeddings")
    out = kmeans_assign(e, _CENTROIDS)
    return out.select("vec_id", "cell", F.round("cos", 6).alias("cos"))


_PQ_SUBS, _PQ_CODES, _PQ_RERANK = 4, 16, 50
_PQ_SUB_DIM = 16  # 64-dim fixture vectors / 4 subspaces


@query(
    "sim_ann_pq",
    oracle=f"""
    WITH vec AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    seeds AS (
      SELECT v, rn - 1 AS j FROM (
        SELECT v, row_number() OVER (
                 ORDER BY ('0x' || substr(md5(vec_id::VARCHAR), 1, 8))::BIGINT
                          % 1000000, vec_id
               ) AS rn
        FROM vec
      ) WHERE rn <= {_PQ_CODES}
    ),
    subs AS (SELECT unnest(generate_series(0, {_PQ_SUBS - 1})) AS s),
    enc AS (
      SELECT vec_id, s, j AS code FROM (
        SELECT c.vec_id, sub.s, sd.j,
               row_number() OVER (
                 PARTITION BY c.vec_id, sub.s
                 ORDER BY CAST(round(round(list_cosine_similarity(
                            c.v[sub.s * {_PQ_SUB_DIM} + 1 : (sub.s + 1) * {_PQ_SUB_DIM}],
                            sd.v[sub.s * {_PQ_SUB_DIM} + 1 : (sub.s + 1) * {_PQ_SUB_DIM}]
                          ), 6) * 1000000) AS BIGINT) DESC, sd.j
               ) AS rn
        FROM vec c CROSS JOIN subs sub CROSS JOIN seeds sd
      ) WHERE rn = 1
    ),
    qtab AS (
      SELECT q.vec_id AS query_id, sub.s, sd.j,
             CAST(round(round(list_cosine_similarity(
               q.v[sub.s * {_PQ_SUB_DIM} + 1 : (sub.s + 1) * {_PQ_SUB_DIM}],
               sd.v[sub.s * {_PQ_SUB_DIM} + 1 : (sub.s + 1) * {_PQ_SUB_DIM}]
             ), 6) * 1000000) AS BIGINT) AS c_int
      FROM vec q CROSS JOIN subs sub CROSS JOIN seeds sd
      WHERE {_QUERY_PRED.replace("vec_id", "q.vec_id")}
    ),
    adc AS (
      SELECT t.query_id, e.vec_id, sum(t.c_int) AS adc
      FROM enc e JOIN qtab t ON t.s = e.s AND t.j = e.code
      WHERE e.vec_id <> t.query_id
      GROUP BY 1, 2
    ),
    cand AS (
      SELECT query_id, vec_id FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY adc DESC, vec_id) AS rn
        FROM adc
      ) WHERE rn <= {_PQ_RERANK}
    ),
    {_RERANK_TOPK_SQL}""",
)
def sim_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN scale path #3: product quantization
    (operators/similarity.py::pq_topk) — vectors compress to 4 subspace
    codes against md5-seeded codebooks; queries score the WHOLE corpus
    by integer table lookup (ADC) and only the top-50 candidates pay an
    exact cosine re-rank. The memory-side ANN: at 100 TB the full-corpus
    phase reads 4 code bytes per row instead of 256 vector bytes.
    Codebooks, codes, ADC tables and both top-N windows are all
    content-addressed / integer-ordered, so the oracle replays every
    stage exactly; recall vs the exact baseline is pinned in
    tests/test_similarity.py."""
    from openmrs_patient_migration_script_spark.operators.similarity import pq_topk

    emb, queries = _split(spark, sf_dir)
    return pq_topk(
        emb,
        queries,
        k=_K,
        n_subspaces=_PQ_SUBS,
        n_codes=_PQ_CODES,
        rerank_n=_PQ_RERANK,
    )


@query(
    "sim_knn_graph",
    oracle="""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    p AS (
      SELECT a.vec_id AS key, b.vec_id AS neighbor,
             round(list_cosine_similarity(a.v, b.v), 6) AS cos_sim
      FROM e a JOIN e b ON a.vec_id <> b.vec_id
    )
    SELECT key, neighbor, cos_sim, CAST(rn AS BIGINT) AS rank FROM (
      SELECT key, neighbor, cos_sim,
             row_number() OVER (PARTITION BY key
                                ORDER BY cos_sim DESC, neighbor) AS rn
      FROM p
    ) WHERE rn <= 5
    """,
)
def sim_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4k: exact k-NN graph over the embedding corpus (k=5) — the
    backbone of graph-ANN indexes and embedding-space clustering;
    block-grid all-pairs scoring + one rank window WindowGroupLimit
    prunes to k per key (operators/similarity.py::knn_graph; at 100 TB
    the `candidates` hook swaps in LSH pairs for the standard
    approximate construction)."""
    from openmrs_patient_migration_script_spark.operators.similarity import (
        knn_graph,
    )

    return knn_graph(load_table(spark, sf_dir, "embeddings"), k=5)


def _recall_overlay(exact: DataFrame, ann: DataFrame) -> DataFrame:
    """Shared certification overlay: per-query recall@k of an approximate
    top-k (`ann`: query_id, vec_id) against the exact top-k (`exact`,
    same schema) — one (query, vec)-keyed left join + per-query count
    over 2·K·|queries| rows, certification-sized regardless of corpus
    size. Used by the LSH / PQ / IVF recall certifications."""
    ann = ann.select("query_id", F.col("vec_id").alias("ann_vec_id"))
    joined = exact.join(
        ann,
        (exact["query_id"] == ann["query_id"])
        & (exact["vec_id"] == ann["ann_vec_id"]),
        "left",
    ).select(exact["query_id"], exact["vec_id"], ann["ann_vec_id"])
    hits = F.coalesce(
        F.sum(F.when(F.col("ann_vec_id").isNotNull(), 1).otherwise(0)),
        F.lit(0),
    )
    return joined.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_exact"),
        hits.cast("long").alias("n_hits"),
        F.round(hits / F.count(F.lit(1)).cast("double"), 6).alias("recall"),
    )


def _recall_oracle(exact_sql: str, ann_sql: str) -> str:
    """The SQL replay of `_recall_overlay`, composing two declared
    pipelines' oracles as subqueries (both content-addressed, so the
    recall itself is hash-exact)."""
    return f"""
    WITH exact AS (
      SELECT query_id, vec_id FROM ({exact_sql}) x
    ),
    ann AS (
      SELECT query_id, vec_id FROM ({ann_sql}) y
    )
    SELECT exact.query_id,
           count(*)::BIGINT AS n_exact,
           coalesce(sum(CASE WHEN ann.vec_id IS NOT NULL THEN 1 ELSE 0 END),
                    0)::BIGINT AS n_hits,
           round(coalesce(sum(CASE WHEN ann.vec_id IS NOT NULL
                                   THEN 1 ELSE 0 END), 0)
                 / count(*)::DOUBLE, 6) AS recall
    FROM exact
    LEFT JOIN ann USING (query_id, vec_id)
    GROUP BY exact.query_id
    """


@query(
    "sim_ann_recall",
    oracle=_recall_oracle(ORACLES["sim_cosine_topk"], ORACLES["sim_ann_lsh"]),
)
def sim_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4j (r6): ANN recall certification — per-query recall@k of the
    LSH path against the exact brute-force top-k: the similarity-family
    twin of `dq_blocking_quality` (both answer "what does the
    approximate/pruned path LOSE?" with an exact, auditable number
    BEFORE production trusts it). Both pipelines are deterministic and
    content-addressed (md5 SRP planes), so the recall itself is
    hash-checkable — the oracle replays exact top-k AND the full LSH
    pipeline AND the set intersection. Scale: the expensive sides are
    the two existing operators unchanged; the certification overlay is
    one (query_id, vec_id)-keyed left join + per-query count over
    2·K·|queries| rows — certification-sized, never corpus-sized."""
    from openmrs_patient_migration_script_spark.operators.similarity import (
        cosine_topk_vectorized,
    )

    emb, queries = _split(spark, sf_dir)
    exact = cosine_topk_vectorized(emb, queries, k=_K).select(
        "query_id", "vec_id"
    )
    ann = ann_topk_lsh(
        emb, queries, k=_K, num_planes=_LSH_M, num_tables=_LSH_L,
        hash_mode="md5",
    )
    return _recall_overlay(exact, ann)


@query(
    "sim_pq_recall",
    oracle=_recall_oracle(ORACLES["sim_cosine_topk"], ORACLES["sim_ann_pq"]),
)
def sim_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4k (r6): PQ recall certification — the `sim_ann_recall` overlay
    applied to the product-quantization path, showing the certification
    pattern GENERALIZES across the ANN family (LSH r6, PQ r6; the same
    join works for IVF): per-query recall@k of integer-ADC top-k +
    re-rank against the exact baseline. The oracle composes the two
    declared pipelines' oracles as subqueries — both content-addressed,
    so the recall is hash-exact. Same certification-sized cost: one
    (query,vec)-keyed join over 2·K·|queries| rows."""
    from openmrs_patient_migration_script_spark.operators.similarity import (
        cosine_topk_vectorized,
        pq_topk,
    )

    emb, queries = _split(spark, sf_dir)
    exact = cosine_topk_vectorized(emb, queries, k=_K).select(
        "query_id", "vec_id"
    )
    ann = pq_topk(
        emb, queries, k=_K, n_subspaces=_PQ_SUBS, n_codes=_PQ_CODES,
        rerank_n=_PQ_RERANK,
    )
    return _recall_overlay(exact, ann)


@query(
    "sim_ivf_recall",
    oracle=_recall_oracle(ORACLES["sim_cosine_topk"], ORACLES["sim_ann_ivf"]),
)
def sim_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4l (r6): IVF recall certification — completes the ANN-family
    certification trio (LSH `sim_ann_recall`, PQ `sim_pq_recall`, IVF
    here): per-query recall@k of the nprobe-pruned coarse-cell scan +
    exact re-rank against the exact brute-force top-k. Every IVF stage
    is content-addressed (md5-bucket seeds, cosine-argmax windows), so
    the recall is hash-exact; the oracle composes the two declared
    pipelines' oracles as subqueries. Certification-sized cost: one
    (query, vec)-keyed join over 2·K·|queries| rows — at 100 TB this
    runs on a held-out query sample while the certified path serves."""
    from openmrs_patient_migration_script_spark.operators.similarity import (
        cosine_topk_vectorized,
        ivf_topk,
    )

    emb, queries = _split(spark, sf_dir)
    exact = cosine_topk_vectorized(emb, queries, k=_K).select(
        "query_id", "vec_id"
    )
    ann = ivf_topk(
        emb, queries, k=_K, n_cells=_IVF_CELLS, nprobe=_IVF_NPROBE
    )
    return _recall_overlay(exact, ann)


@query("sim_mmr_diversity", oracle=_mmr_certify_oracle())
def sim_mmr_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4j (r7): the MMR diversity-vs-relevance LEDGER — what the
    diversified re-rank (`sim_mmr_rerank`) pays in relevance and buys
    in spread, per query, as exact integers: the 1e6-scaled relevance
    sums of the plain top-5 vs the MMR-selected 5, and the max
    within-set pairwise similarity of each (the redundancy the re-rank
    exists to push down). rel_top_s ≥ rel_mmr_s always (top-5 maximizes
    relevance by construction); maxsim_mmr_s ≤ maxsim_top_s is the
    diversification working. Completes the certification family: every
    approximate OR heuristic choice in the engine now ships its exact
    trade-off table (recall trio for ANN, blocking quality, modularity,
    sketch audits, minhash fidelity — and now greedy MMR). The oracle
    replays the identical unrolled greedy chain plus the ledger CTEs.

    Scale: candidate sets are k-bounded (≤10 rows per query); the
    pairwise comparisons are ≤ k² per query computed row-locally from
    broadcast-joined vectors — the corpus shuffles nowhere."""
    from pyspark.sql.window import Window

    from openmrs_patient_migration_script_spark.operators.similarity import (
        cosine_similarity,
        cosine_topk_vectorized,
        mmr_rerank,
    )

    emb, queries = _split(spark, sf_dir)
    rel_s = F.round(F.col("cos_sim") * 1000000, 0).cast("long")
    # r11-opt: ONE exact scoring pass serves both ledger arms. The
    # top-10 candidate table is checkpointed and (a) prefix-ranked to
    # the plain top-5 (row_number over the same (cos_sim desc, id)
    # order cosine_topk uses — a top-5 of an ordering IS the first 5
    # of its top-10, so this is bit-identical to the old separate
    # cosine_topk call the oracle still replays) and (b) passed into
    # mmr_rerank as its candidate set, skipping its internal second
    # full-corpus scan.
    cands10 = cosine_topk_vectorized(emb, queries, k=_MMR_CANDIDATES).localCheckpoint(
        eager=True
    )
    w5 = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.col("vec_id")
    )
    top = (
        cands10.withColumn("_rn", F.row_number().over(w5))
        .filter(F.col("_rn") <= _K)
        .select("query_id", "vec_id", rel_s.alias("rel_s"))
    )
    mmr = mmr_rerank(
        emb, queries, k_candidates=_MMR_CANDIDATES, k_select=_K, candidates=cands10
    ).select("query_id", "vec_id", rel_s.alias("rel_s"))
    v = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))

    def ledger(sel: DataFrame, rel_name: str, sim_name: str) -> DataFrame:
        sv = v.join(F.broadcast(sel), "vec_id").localCheckpoint(eager=True)
        a = sv.select("query_id", F.col("vec_id").alias("ca"), F.col("v").alias("va"))
        b = sv.select("query_id", F.col("vec_id").alias("cb"), F.col("v").alias("vb"))
        sim_s = F.round(
            F.round(cosine_similarity(F.col("va"), F.col("vb")), 6) * 1000000, 0
        ).cast("long")
        pair_max = (
            a.join(b, "query_id")
            .filter(F.col("ca") != F.col("cb"))
            .groupBy("query_id")
            .agg(F.max(sim_s).alias(sim_name))
        )
        rel = sv.groupBy("query_id").agg(
            F.sum("rel_s").cast("long").alias(rel_name)
        )
        return rel.join(pair_max, "query_id")

    return ledger(top, "rel_top_s", "maxsim_top_s").join(
        ledger(mmr, "rel_mmr_s", "maxsim_mmr_s"), "query_id"
    ).select(
        "query_id", "rel_top_s", "rel_mmr_s", "maxsim_top_s", "maxsim_mmr_s"
    )


@query(
    "embed_centroid_separation",
    oracle=f"""
    WITH {_LABELED_COMPONENTS_SQL},
    s AS (SELECT label, dim, sum(sv)::BIGINT AS s FROM ex GROUP BY 1, 2),
    n AS (SELECT label, count(*)::BIGINT AS n_vectors FROM embeddings
          GROUP BY label),
    d AS (
      SELECT a.label AS label_a, b.label AS label_b,
             sum(a.s::HUGEINT * b.s) AS dot,
             sum(a.s::HUGEINT * a.s) AS na2,
             sum(b.s::HUGEINT * b.s) AS nb2
      FROM s a JOIN s b ON a.dim = b.dim AND a.label < b.label
      GROUP BY 1, 2
    )
    SELECT label_a, label_b, na.n_vectors AS n_a, nb.n_vectors AS n_b,
           CASE WHEN na2 = 0 OR nb2 = 0 THEN 0.0
                ELSE round(dot::DOUBLE
                           / (sqrt(na2::DOUBLE) * sqrt(nb2::DOUBLE)), 6)
           END AS cos_centroid
    FROM d JOIN n na ON na.label = d.label_a
           JOIN n nb ON nb.label = d.label_b
    """,
)
def embed_centroid_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4p (r8): pairwise cosine between per-label centroid DIRECTIONS —
    the separation audit for every labeled/clustered embedding space:
    `embed_centroids` materializes the centroids, `cluster_kmeans` and
    `dedup_semantic` TRUST cluster structure; this measures it (two
    labels whose centroids cosine at ~1.0 are not separable classes —
    the number a curator checks before stratifying training data by
    cluster). Cosine is scale-invariant, so the centroid cosine equals
    the cosine of the per-label SUM vectors — computed on exact
    ×1e6-scaled integer component sums (the `embed_centroids` rule:
    no float summation anywhere), products in DECIMAL (Σ s_a·s_b fits
    decimal(38,0) through ~1e18-vector corpora), one row-local 6dp
    readout; degenerate zero-norm labels pin to 0.0 on both engines.

    Scale: posexplode + one (label, dim) agg — map-side combine means
    the shuffle carries #labels × #dims rows, never vectors; the pair
    join runs on that bounded table (labels² × dims)."""
    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select(
        "label", F.posexplode("embedding").alias("dim", "v")
    ).select(
        "label",
        "dim",
        F.round(F.col("v").cast("double") * 1000000).cast("long").alias("sv"),
    )
    s = (
        ex.groupBy("label", "dim")
        .agg(F.sum("sv").cast("long").alias("s"))
        .localCheckpoint(eager=True)  # bounded labels×dims; feeds both sides
    )
    n = emb.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors")
    )
    dec = "decimal(19,0)"
    a, b = s.alias("a"), s.alias("b")
    d = (
        a.join(
            b,
            (F.col("a.dim") == F.col("b.dim"))
            & (F.col("a.label") < F.col("b.label")),
        )
        .groupBy(
            F.col("a.label").alias("label_a"), F.col("b.label").alias("label_b")
        )
        .agg(
            F.sum(F.col("a.s").cast(dec) * F.col("b.s").cast(dec))
            .cast("decimal(38,0)")
            .alias("dot"),
            F.sum(F.col("a.s").cast(dec) * F.col("a.s").cast(dec))
            .cast("decimal(38,0)")
            .alias("na2"),
            F.sum(F.col("b.s").cast(dec) * F.col("b.s").cast(dec))
            .cast("decimal(38,0)")
            .alias("nb2"),
        )
    )
    na = n.select(F.col("label").alias("label_a"), F.col("n_vectors").alias("n_a"))
    nb = n.select(F.col("label").alias("label_b"), F.col("n_vectors").alias("n_b"))
    return (
        d.join(F.broadcast(na), "label_a")
        .join(F.broadcast(nb), "label_b")
        .select(
            "label_a",
            "label_b",
            "n_a",
            "n_b",
            F.when(
                (F.col("na2") == 0) | (F.col("nb2") == 0), F.lit(0.0)
            )
            .otherwise(
                F.round(
                    F.col("dot").cast("double")
                    / (
                        F.sqrt(F.col("na2").cast("double"))
                        * F.sqrt(F.col("nb2").cast("double"))
                    ),
                    6,
                )
            )
            .alias("cos_centroid"),
        )
    )


@query(
    "sim_radius_search",
    oracle=f"""
    WITH {_QUERIES_SQL},
    {_SCORED_SQL}
    SELECT query_id, vec_id, cos_sim FROM scored WHERE cos_sim >= 0.35
    """,
)
def sim_radius_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4q (r8): exact radius (threshold) search — every corpus vector
    with cosine >= 0.35 to each query, the retrieval primitive top-k
    can't express (recall-complete candidate pulls: "everything at
    least this similar", where k would silently truncate dense
    neighborhoods and over-fetch sparse ones). Same scan-is-the-plan
    execution as `sim_cosine_topk` (normalized query matrix in the task
    closure, one BLAS matmul per Arrow batch) minus the rank window —
    the output is exactly the qualifying pairs, no shuffle anywhere
    (operators/similarity.py::cosine_radius_search). The 6dp threshold
    compares post-rounding on both engines, so the boundary is
    engine-stable."""
    from openmrs_patient_migration_script_spark.operators.similarity import (
        cosine_radius_search,
    )

    emb, queries = _split(spark, sf_dir)
    # 0.35 sits in the fixture's similarity tail (6 hits at sf0.01,
    # 42 at sf0.1) — non-vacuous at every graded scale, output stays
    # result-sized
    return cosine_radius_search(emb, queries, threshold=0.35)


@query(
    "sim_hard_negatives",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS query_id, label AS q_label,
             embedding::DOUBLE[] AS qe
      FROM embeddings WHERE {_QUERY_PRED}
    ),
    scored AS (
      SELECT q.query_id, e.vec_id,
             round(list_cosine_similarity(q.qe, e.embedding::DOUBLE[]), 6)
               AS cos_sim
      FROM embeddings e CROSS JOIN q
      WHERE e.label <> q.q_label
    )
    {_topk_sql(_K)}""",
)
def sim_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4r (r8): hard-negative mining — per query the top-k most similar
    vectors with a DIFFERENT label, the contrastive-training primitive
    (a retrieval/embedding model trains on exactly these pairs: close in
    the space, known to be semantically distinct; random negatives are
    too easy and in-label negatives are false negatives).
    `sim_cosine_topk` answers "what is nearest"; this answers "what is
    nearest that should NOT be" — the difference is one label mask on
    the score matrix inside the task
    (operators/similarity.py::cosine_topk_vectorized
    ``exclude_label_col``), so the plan shape is identical: one BLAS
    matmul per Arrow batch, per-batch partial top-k (masked rows sort
    after every real candidate, so the k+1 egress bound still holds),
    zero corpus shuffles, one rank window on the bounded candidate set.
    The self-match carries its own label and is excluded for free."""
    from openmrs_patient_migration_script_spark.operators.similarity import (
        cosine_topk_vectorized,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.expr(_QUERY_PRED)).select(
        F.col("vec_id").alias("query_id"), "label", "embedding"
    )
    return cosine_topk_vectorized(
        emb, queries, k=_K, exclude_label_col="label"
    )


@query(
    "embed_quantize_int8",
    oracle="""
    WITH ex AS (
      SELECT pos - 1 AS dim,
             cast(round(v * 1000000, 0) AS BIGINT) AS sv
      FROM (
        SELECT unnest(embedding::DOUBLE[]) AS v,
               generate_subscripts(embedding, 1) AS pos
        FROM embeddings
      )
    ),
    a AS (SELECT dim, max(abs(sv))::BIGINT AS amax_micro FROM ex GROUP BY dim),
    c AS (
      SELECT ex.dim, sv, amax_micro,
             (CASE WHEN amax_micro = 0 THEN 0
                   ELSE (CASE WHEN sv < 0 THEN -1 ELSE 1 END)
                        * ((254 * abs(sv) + amax_micro) // (2 * amax_micro))
              END)::BIGINT AS code
      FROM ex JOIN a USING (dim)
    )
    SELECT dim::BIGINT AS dim, count(*)::BIGINT AS n,
           max(amax_micro)::BIGINT AS amax_micro,
           count(CASE WHEN abs(code) = 127 THEN 1 END)::BIGINT AS n_sat,
           sum(abs(code))::BIGINT AS sum_abs_code,
           sum((127 * sv - code * amax_micro)::HUGEINT
               * (127 * sv - code * amax_micro))::BIGINT AS sse_num
    FROM c GROUP BY dim
    """,
)
def embed_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4s (r8): per-dimension symmetric int8 quantization ledger — the
    storage decision an embedding pipeline makes before writing 100 TB
    of vectors (float32 -> int8 is the standard 4x shrink; what it costs
    is THIS table): per dim the absmax scale (micro-units), saturation
    count (|code| = 127 — a skewed dim saturates early), total code mass
    Σ|code| (utilization: a dim whose codes hug 0 wastes its 8 bits),
    and the exact integer quantization-error energy
    Σ(127·sv − code·amax)² in (micro·127)² units.

    Everything is integer-decidable end to end: components land in the
    `embed_centroids` ×1e6 grid, the nearest-code rule is round-half-
    away-from-zero written as floor-division — sign·((254·|sv| + amax)
    div (2·amax)) — and the error numerator 127·sv − code·amax is exact.
    The error SUM accumulates in DECIMAL(38,0) and final-casts through
    `dec_to_long` (per-row err² ≤ (amax/2)² ≈ 9e10 at this fixture's
    amax ≈ 6e5 — the 2^62 guard trips at ~5e7 rows/dim; past that,
    shard the ledger or emit the mean — documented, not silent).

    Scale: posexplode then ONE dim-keyed agg for scales (map-side
    combine: shuffle carries dims × partitions partials), broadcast the
    64-row scale table back, one more dim-keyed agg. Two passes over
    the exploded column, zero row shuffles."""
    from openmrs_patient_migration_script_spark.functions.numeric import (
        dec_to_long,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select(F.posexplode("embedding").alias("dim", "v")).select(
        F.col("dim").cast("long").alias("dim"),
        F.round(F.col("v").cast("double") * 1000000)
        .cast("long")
        .alias("sv"),
    )
    amax = ex.groupBy("dim").agg(
        F.max(F.abs(F.col("sv"))).cast("long").alias("amax_micro")
    )
    sign = F.when(F.col("sv") < 0, F.lit(-1)).otherwise(F.lit(1))
    absq = F.expr("(254 * abs(sv) + amax_micro) div (2 * amax_micro)")
    code = (
        F.when(F.col("amax_micro") == 0, F.lit(0))
        .otherwise(sign * absq)
        .cast("long")
    )
    j = ex.join(F.broadcast(amax), "dim").select(
        "dim",
        "sv",
        "amax_micro",
        code.alias("code"),
    )
    errn = (
        F.lit(127) * F.col("sv") - F.col("code") * F.col("amax_micro")
    ).cast("decimal(19,0)")
    return j.groupBy("dim").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.max("amax_micro").cast("long").alias("amax_micro"),
        F.count(F.when(F.abs(F.col("code")) == 127, 1))
        .cast("long")
        .alias("n_sat"),
        F.sum(F.abs(F.col("code"))).cast("long").alias("sum_abs_code"),
        dec_to_long(
            F.sum((errn * errn).cast("decimal(38,0)")).cast("decimal(38,0)"),
            "sse_num",
        ).alias("sse_num"),
    )


def _topk_overlap(queries: DataFrame, full: DataFrame, other: DataFrame) -> DataFrame:
    """(query_id, n_overlap): per query of ``queries``, how many of its
    exact top-k neighbours (``full``) the ``other`` ranking also returns —
    0 for a query they share none of."""
    ov = (
        full.select("query_id", "vec_id")
        .join(other.select("query_id", "vec_id"), ["query_id", "vec_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        queries.select("query_id")
        .join(ov, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("c"), F.lit(0)).cast("long").alias("n_overlap"),
        )
    )


@query(
    "embed_matryoshka_eval",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe,
             (embedding[1:16])::DOUBLE[] AS pe
      FROM embeddings WHERE {_QUERY_PRED}
    ),
    {_FULL_TOPK_SQL},
    pref_topk AS (
      SELECT query_id, vec_id FROM (
        SELECT q.query_id, e.vec_id,
               row_number() OVER (
                 PARTITION BY q.query_id
                 ORDER BY round(list_cosine_similarity(
                            q.pe, (e.embedding[1:16])::DOUBLE[]), 6) DESC,
                          e.vec_id) AS rn
        FROM embeddings e CROSS JOIN q
        WHERE e.vec_id <> q.query_id
      ) WHERE rn <= {_K}
    )
    SELECT q.query_id, coalesce(o.c, 0)::BIGINT AS n_overlap
    FROM q LEFT JOIN (
      SELECT query_id, count(*) AS c
      FROM full_topk JOIN pref_topk USING (query_id, vec_id)
      GROUP BY query_id
    ) o USING (query_id)
    """,
)
def embed_matryoshka_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4t (r8): dimension-truncation recall certification — per query
    the overlap between the exact top-k under the FULL 64-dim cosine and
    under the first-16-dims-only cosine (the Matryoshka/MRL question: if
    we store or first-pass-retrieve on a prefix of the embedding, how
    much of the true neighborhood survives?). The number that decides a
    4x index-memory cut, measured exactly — the same certification
    pattern as `sim_ann_recall` (which certifies LSH pruning; this
    certifies dimensional pruning). Both rankings run the vectorized
    zero-shuffle scan (`cosine_topk_vectorized`); the overlay is one
    (query,vec)-keyed join on 2·K·queries rows, left-joined back to the
    query list so a zero-overlap query reports 0 instead of vanishing."""
    from openmrs_patient_migration_script_spark.operators.similarity import (
        cosine_topk_vectorized,
    )

    emb, queries = _split(spark, sf_dir)
    full = cosine_topk_vectorized(emb, queries, k=_K)
    p_emb = emb.select(
        "vec_id", F.slice("embedding", 1, 16).alias("embedding")
    )
    p_q = queries.select(
        "query_id", F.slice("embedding", 1, 16).alias("embedding")
    )
    pref = cosine_topk_vectorized(p_emb, p_q, k=_K)
    return _topk_overlap(queries, full, pref)


@query(
    "embed_quantize_recall",
    oracle=f"""
    WITH {_QUERIES_SQL},
    ex AS (
      SELECT vec_id, pos - 1 AS dim,
             cast(round(v * 1000000, 0) AS BIGINT) AS sv
      FROM (
        SELECT vec_id, unnest(embedding::DOUBLE[]) AS v,
               generate_subscripts(embedding, 1) AS pos
        FROM embeddings
      )
    ),
    a AS (SELECT dim, max(abs(sv))::BIGINT AS amax FROM ex GROUP BY dim),
    rec AS (
      SELECT vec_id,
             list((CASE WHEN amax = 0 THEN 0
                        ELSE (CASE WHEN sv < 0 THEN -1 ELSE 1 END)
                             * ((254 * abs(sv) + amax) // (2 * amax))
                   END * amax)::DOUBLE ORDER BY dim) AS re
      FROM ex JOIN a USING (dim) GROUP BY vec_id
    ),
    {_FULL_TOPK_SQL},
    q8_topk AS (
      SELECT query_id, vec_id FROM (
        SELECT q.query_id, r.vec_id,
               row_number() OVER (
                 PARTITION BY q.query_id
                 ORDER BY round(list_cosine_similarity(q.qe, r.re), 6) DESC,
                          r.vec_id) AS rn
        FROM rec r CROSS JOIN q
        WHERE r.vec_id <> q.query_id
      ) WHERE rn <= {_K}
    )
    SELECT q.query_id, coalesce(o.c, 0)::BIGINT AS n_overlap
    FROM q LEFT JOIN (
      SELECT query_id, count(*) AS c
      FROM full_topk JOIN q8_topk USING (query_id, vec_id)
      GROUP BY query_id
    ) o USING (query_id)
    """,
)
def embed_quantize_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4u (r8): precision-truncation recall certification — per query
    the top-k overlap between exact fp cosine and ASYMMETRIC int8 search
    (stored corpus quantized with `embed_quantize_int8`'s exact
    nearest-code rule, queries kept full precision — the production
    memory layout: 4x smaller index, fp32 queries). Completes the
    certification trio: `sim_ann_recall` prices index pruning,
    `embed_matryoshka_eval` prices dimensional pruning, this prices
    PRECISION pruning — together they are the whole ANN storage-design
    trade-off table, each an exact auditable number.

    The per-dim absmax scales collect driver-side (64 bounded integers,
    the same broadcast-a-scalar pattern as `exact_global_quantile`) and
    fold back as an array literal, so reconstruction is one row-local
    `transform` — corpus vectors never shuffle, and both rankings run
    the vectorized matmul scan. Cosine is scale-invariant per GLOBAL
    factor only, so reconstruction keeps the per-dim code·amax products
    (dividing by the common 127e6 would change nothing and is dropped)."""
    from openmrs_patient_migration_script_spark.operators.similarity import (
        cosine_topk_vectorized,
    )

    emb, queries = _split(spark, sf_dir)
    full = cosine_topk_vectorized(emb, queries, k=_K)
    ex = emb.select(F.posexplode("embedding").alias("dim", "v")).select(
        "dim",
        F.round(F.col("v").cast("double") * 1000000)
        .cast("long")
        .alias("sv"),
    )
    amax_map = dict(
        ex.groupBy("dim")
        .agg(F.max(F.abs(F.col("sv"))).cast("long").alias("a"))
        .collect()
    )
    if not amax_map:
        # empty corpus -> no queries either; keep the schema contract
        from pyspark.sql.types import LongType, StructField, StructType

        return spark.createDataFrame(
            [],
            StructType(
                [
                    StructField("query_id", LongType()),
                    StructField("n_overlap", LongType()),
                ]
            ),
        )
    dims = max(amax_map) + 1
    amax_sql = (
        "array("
        + ", ".join(f"{int(amax_map.get(d, 0))}L" for d in range(dims))
        + ")"
    )
    # exact integer `div` for the nearest-code rule, the same expression
    # the quantize ledger and the oracle use; only the final product is
    # cast to double
    sv = "CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)"
    a = f"element_at({amax_sql}, i + 1)"
    recon = F.expr(
        f"transform(embedding, (x, i) -> "
        f"CASE WHEN {a} = 0 THEN CAST(0 AS DOUBLE) "
        f"ELSE CAST((CASE WHEN {sv} < 0 THEN -1 ELSE 1 END) "
        f"* ((254 * abs({sv}) + {a}) div (2 * {a})) * {a} AS DOUBLE) END)"
    )
    r_emb = emb.select("vec_id", recon.alias("embedding"))
    q8 = cosine_topk_vectorized(r_emb, queries, k=_K)
    return _topk_overlap(queries, full, q8)


_MP_M, _MP_L = 3, 4


@query(
    "sim_ann_multiprobe",
    oracle=f"""
    WITH vec AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    {srp_hashed_sql(_MP_M, _MP_L)},
    qprobes AS (
      SELECT vec_id, tbl,
             CASE WHEN pr = 0 THEN bkt
                  ELSE xor(bkt, (1 << (pr - 1))::INT) END AS bkt
      FROM buckets
      CROSS JOIN (SELECT unnest(generate_series(0, {_MP_M})) AS pr)
      WHERE vec_id % 50 = 0
    ),
    cand AS (
      SELECT DISTINCT q.vec_id AS query_id, b.vec_id
      FROM qprobes q JOIN buckets b USING (tbl, bkt)
      WHERE b.vec_id <> q.vec_id
    ),
    {_RERANK_TOPK_SQL}""",
)
def sim_ann_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4v (r8): multi-probe LSH (Lv et al., VLDB 2007) — the memory
    side of the LSH dial: instead of adding tables to recover recall
    (every table is another full copy of the index), each query ALSO
    probes the m buckets at Hamming distance 1 in the tables it
    already has. Here (3 planes, 4 tables, 1-flip probing) — HALF of
    `sim_ann_lsh`'s 8 tables — the query side explodes ×(m+1)=4 rows
    per table while the corpus index is untouched. At 100 TB the index
    is the cost that scales with the corpus and the probe expansion is
    the cost that scales with queries, so this trade is almost always
    right.

    Exactness: same content-addressed md5-parity planes as
    `sim_ann_lsh`, so the oracle replays the ENTIRE probed pipeline —
    plane matrix, buckets, the XOR probe expansion, candidate union,
    re-rank. Recall floor and the candidates-superset invariant
    (probing can only ADD candidates at equal (m, L)) are pinned in
    tests/test_similarity.py."""
    emb, queries = _split(spark, sf_dir)
    return ann_topk_lsh(
        emb,
        queries,
        k=_K,
        num_planes=_MP_M,
        num_tables=_MP_L,
        hash_mode="md5",
        multiprobe=True,
    )


_KNN_LSH_M, _KNN_LSH_L = 4, 8

_KNN_ANN_ORACLE = f"""
    WITH vec AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    {srp_hashed_sql(_KNN_LSH_M, _KNN_LSH_L)},
    cand AS (
      SELECT DISTINCT a.vec_id AS key_a, b.vec_id AS key_b
      FROM buckets a JOIN buckets b USING (tbl, bkt)
      WHERE a.vec_id < b.vec_id
    ),
    scored AS (
      SELECT c.key_a, c.key_b,
             round(list_cosine_similarity(va.v, vb.v), 6) AS cos_sim
      FROM cand c
      JOIN vec va ON va.vec_id = c.key_a
      JOIN vec vb ON vb.vec_id = c.key_b
    ),
    sym AS (
      SELECT key_a AS key, key_b AS neighbor, cos_sim FROM scored
      UNION ALL
      SELECT key_b AS key, key_a AS neighbor, cos_sim FROM scored
    )
    SELECT key, neighbor, cos_sim, CAST(rn AS BIGINT) AS rank FROM (
      SELECT key, neighbor, cos_sim,
             row_number() OVER (PARTITION BY key
                                ORDER BY cos_sim DESC, neighbor) AS rn
      FROM sym
    ) WHERE rn <= {_K}"""


@query("sim_knn_graph_ann", oracle=_KNN_ANN_ORACLE)
def sim_knn_graph_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4l (r10): the SCALE form of the k-NN graph — the r9 verdict's
    ask: the `candidates=` hook of `knn_graph` promoted to a declared
    query, with `sim_knn_graph` (exact block-grid) kept as its
    certification twin and `sim_knn_graph_recall` publishing the edge
    recall. Candidates come from `cosine_pairs_lsh` at threshold −1
    (every bucket-collision pair is an edge candidate — the standard
    LSH-kNN construction); the shared exact re-rank tail scores them
    and the identical (cos DESC, neighbor) rank window cuts k per key.
    Work is bucket-collision-bounded, never the n² grid — at 100 TB the
    corpus hashes once and only colliding pairs are scored.

    Oracle: md5-parity planes replay the whole pruned pipeline (the
    `sim_ann_lsh` convention) + the knn symmetrize/rank tail, so the
    approximate GRAPH itself is hash-exact — the approximation lives in
    what the query promises (edges within shared buckets), not in
    run-to-run wobble."""
    from openmrs_patient_migration_script_spark.operators.similarity import (
        cosine_pairs_lsh,
        knn_graph,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cand = cosine_pairs_lsh(
        emb,
        threshold=-1.0,
        num_planes=_KNN_LSH_M,
        num_tables=_KNN_LSH_L,
        hash_mode="md5",
    )
    return knn_graph(emb, k=_K, candidates=cand)


def _knn_edges(sql: str) -> str:
    """Adapt a knn-graph oracle (key, neighbor, ...) to the recall
    overlay's (query_id, vec_id) edge schema."""
    return f"SELECT key AS query_id, neighbor AS vec_id FROM ({sql}) knn"


@query(
    "sim_knn_graph_recall",
    oracle=_recall_oracle(
        _knn_edges(ORACLES["sim_knn_graph"]),
        _knn_edges(ORACLES["sim_knn_graph_ann"]),
    ),
)
def sim_knn_graph_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4m (r10): edge-recall certification of the LSH k-NN graph
    against the exact block-grid graph — the `sim_ann_recall` pattern
    applied to `sim_knn_graph_ann`, so the promoted scale path ships
    with an exact auditable number per node (the repo rule: every
    approximate path pairs with an exact certification query). One
    (key, neighbor)-keyed left join + per-key count over 2·k·n edge
    rows — certification-sized, never corpus-sized; both graphs are
    content-addressed (md5 planes), so the recall is hash-exact.
    Measured mean edge recall on the sf0.01 fixture is ~0.69 at
    (4 planes, 8 tables) — the fixture embeddings are near-random, the
    hardest case for hyperplane LSH; that number being a first-class,
    diffable table instead of a hope is exactly what this query is
    for."""
    exact = sim_knn_graph(spark, sf_dir).select(
        F.col("key").alias("query_id"), F.col("neighbor").alias("vec_id")
    )
    ann = sim_knn_graph_ann(spark, sf_dir).select(
        F.col("key").alias("query_id"), F.col("neighbor").alias("vec_id")
    )
    return _recall_overlay(exact, ann)


_KNN_SWEEP_CFGS = [(3, 8), (4, 8), (6, 4)]


def _knn_sweep_oracle() -> str:
    """One MATERIALIZED LSH pipeline per (planes, tables) config + the
    exact graph once; each config folds to a single ledger row (the
    `dedup_minhash_band_sweep` shape applied to the kNN ANN path)."""
    sql = f"""
    WITH vec AS MATERIALIZED (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ),
    exact_g AS MATERIALIZED (
      SELECT key AS query_id, neighbor AS vec_id
      FROM ({ORACLES["sim_knn_graph"]}) eg
    )"""
    rows = []
    for m, L in _KNN_SWEEP_CFGS:
        tag = f"m{m}l{L}"
        sql += f""",
    {srp_hashed_sql(m, L, suffix=f"_{tag}")},
    cand_{tag} AS MATERIALIZED (
      SELECT DISTINCT a.vec_id AS key_a, b.vec_id AS key_b
      FROM buckets_{tag} a JOIN buckets_{tag} b USING (tbl, bkt)
      WHERE a.vec_id < b.vec_id
    ),
    ann_{tag} AS MATERIALIZED (
      SELECT key AS query_id, neighbor AS vec_id FROM (
        SELECT key, neighbor,
               row_number() OVER (PARTITION BY key
                                  ORDER BY cos_sim DESC, neighbor) AS rn
        FROM (
          SELECT key_a AS key, key_b AS neighbor, cos_sim FROM (
            SELECT c.key_a, c.key_b,
                   round(list_cosine_similarity(va.v, vb.v), 6) AS cos_sim
            FROM cand_{tag} c
            JOIN vec va ON va.vec_id = c.key_a
            JOIN vec vb ON vb.vec_id = c.key_b
          )
          UNION ALL
          SELECT key_b, key_a, cos_sim FROM (
            SELECT c.key_a, c.key_b,
                   round(list_cosine_similarity(va.v, vb.v), 6) AS cos_sim
            FROM cand_{tag} c
            JOIN vec va ON va.vec_id = c.key_a
            JOIN vec vb ON vb.vec_id = c.key_b
          )
        )
      ) WHERE rn <= {_K}
    )"""
        rows.append(f"""
    SELECT {m}::BIGINT AS num_planes, {L}::BIGINT AS num_tables,
           (SELECT count(*) FROM cand_{tag})::BIGINT AS n_candidate_pairs,
           count(*)::BIGINT AS n_exact_edges,
           coalesce(sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END),
                    0)::BIGINT AS n_hits,
           round(coalesce(sum(CASE WHEN a.vec_id IS NOT NULL
                                   THEN 1 ELSE 0 END), 0)
                 / count(*)::DOUBLE, 6) AS recall
    FROM exact_g e
    LEFT JOIN ann_{tag} a USING (query_id, vec_id)""")
    return sql + "\n    UNION ALL".join(rows)


@query("sim_knn_candidate_sweep", oracle=_knn_sweep_oracle())
def sim_knn_candidate_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4n (r10): the (planes, tables) TUNING LEDGER for the promoted
    LSH kNN-graph path — `dedup_minhash_band_sweep`'s pattern applied
    to `sim_knn_graph_ann`: one row per config with candidate-pair
    volume (the cost axis: bucket-collision workload the cluster pays)
    and exact edge recall@k (the quality axis), so the scale lever is
    priced BEFORE a 100 TB run commits to a config — more planes =
    fewer candidates = lower recall, and this table says exactly how
    much of each. The exact graph is built ONCE (checkpointed) and
    every config's graph overlays against it; candidate generation,
    re-rank and rank window are the declared pipelines' own operators.

    Oracle: one MATERIALIZED md5-plane pipeline per config + the exact
    block-grid graph as a subquery — the whole frontier is hash-exact."""
    from openmrs_patient_migration_script_spark.operators.similarity import (
        cosine_pairs_lsh,
        knn_graph,
    )

    emb = load_table(spark, sf_dir, "embeddings")

    # r11-opt (guide 2.6): the exact graph and the three per-config LSH
    # candidate builds are INDEPENDENT jobs whose heavy work happens at
    # their eager checkpoints — submitting them from a thread pool lets
    # each job's straggler tail back-fill the others' idle cores instead
    # of serializing four multi-stage pipelines. Results are unchanged:
    # each build is deterministic and the overlay/ledger tail below
    # consumes only the checkpointed outputs.
    from concurrent.futures import ThreadPoolExecutor

    def _build_exact():
        return (
            sim_knn_graph(spark, sf_dir)
            .select(
                F.col("key").alias("query_id"),
                F.col("neighbor").alias("vec_id"),
            )
            .localCheckpoint(eager=True)  # one build, three overlays
        )

    def _build_cand(cfg):
        cm, cl = cfg
        return cosine_pairs_lsh(
            emb, threshold=-1.0, num_planes=cm, num_tables=cl, hash_mode="md5"
        ).localCheckpoint(eager=True)  # pair count + the graph build

    with ThreadPoolExecutor(max_workers=4) as pool:
        exact_f = pool.submit(_build_exact)
        cand_fs = {
            cfg: pool.submit(_build_cand, cfg) for cfg in _KNN_SWEEP_CFGS
        }
        exact = exact_f.result()
        cands = {cfg: f.result() for cfg, f in cand_fs.items()}
    out = None
    for m, L in _KNN_SWEEP_CFGS:
        cand = cands[(m, L)]
        n_cand = cand.agg(
            F.count(F.lit(1)).cast("long").alias("n_candidate_pairs")
        )
        ann = knn_graph(
            emb, k=_K, candidates=cand, candidates_materialized=True
        ).select(
            F.col("key").alias("query_id"), F.col("neighbor").alias("vec_id")
        )
        hits = F.coalesce(
            F.sum(F.when(F.col("ann_vec_id").isNotNull(), 1).otherwise(0)),
            F.lit(0),
        )
        row = (
            exact.join(
                ann.select("query_id", F.col("vec_id").alias("ann_vec_id")),
                (exact["query_id"] == ann["query_id"])
                & (exact["vec_id"] == F.col("ann_vec_id")),
                "left",
            )
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_exact_edges"),
                hits.cast("long").alias("n_hits"),
                F.round(
                    hits / F.count(F.lit(1)).cast("double"), 6
                ).alias("recall"),
            )
            .crossJoin(F.broadcast(n_cand))
            .select(
                F.lit(m).cast("long").alias("num_planes"),
                F.lit(L).cast("long").alias("num_tables"),
                "n_candidate_pairs",
                "n_exact_edges",
                "n_hits",
                "recall",
            )
        )
        out = row if out is None else out.unionByName(row)
    return out
