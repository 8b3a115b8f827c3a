"""Similarity search over embedding columns (SURVEY.md §2.9 X4 +
builder-brief ANN extension).

Four tiers, the standard vector-search architecture re-expressed on Spark:

- **Vectorized brute-force top-k** (`cosine_topk_vectorized` — the
  production exact path): numpy matmul per Arrow batch against the
  broadcast-by-closure normalized query matrix. Measured 34x faster than
  the expression form at 50k corpus x 10 queries: Spark's array lambdas
  (`zip_with`/`aggregate`) evaluate INTERPRETED per element — vector math
  is the one place the Pandas escape hatch beats built-ins.
- **Expression brute-force** (`cosine_topk` — the UDF-free twin): broadcast
  the query side, higher-order-function dot products, rank per query. Kept
  registered against the same oracle as the zero-Python reference.
- **LSH-bucketed ANN** (`ann_topk_lsh` — the sub-linear path):
  sign-random-projection hashing — deterministic ±1 hyperplanes derived
  from `xxhash64(plane, dim)` — multi-table (m, L) bucketing; candidates
  only within shared buckets (shuffle key = bucket), exact re-rank after.
  Recall/cost tunable via (num_planes, num_tables).
- **IVF ANN** (`ivf_topk` — the cell-pruned path): deterministic
  hash-seeded coarse centroids, per-batch cell assignment, broadcast
  nprobe probing (no corpus shuffle), exact re-rank; at scale the cell
  becomes a storage partition column and probing becomes partition
  pruning.

Arrays are cast float→double before arithmetic: each float32 product is
exact in double, keeping the DuckDB oracle within ulps (rounded to 6dp).
Pairwise cosine is decomposed as normalize-then-dot so norms are computed
once per ROW, never per pair — Catalyst collapses projections into joins,
so the normalization is materialized (checkpoint/exchange/broadcast)
before any pair join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def cosine_similarity(a, b):
    """cos(a, b) via zip_with/aggregate folds. NB: array lambdas evaluate
    interpreted (not codegen'd) — fine row-locally; for n x m pair scoring
    prefer normalized()+dot() or the vectorized matmul path."""
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, v: s + v)
    na = F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda s, v: s + v))
    nb = F.sqrt(F.aggregate(F.transform(b, lambda x: x * x), F.lit(0.0), lambda s, v: s + v))
    return dot / (na * nb)


def _as_double(col):
    return col.cast("array<double>")


def normalized(col):
    """Unit-normalize once per vector so pairwise cosine reduces to a plain
    dot product — O(d) per PAIR instead of O(3d): with n×m candidate pairs
    the norm work drops from per-pair to per-row.

    The norm is bound once per ROW via a one-element array transform: HOF
    lambdas evaluate interpreted with no common-subexpression hoisting, so
    the naive ``transform(v, x -> x / n)`` re-runs the whole O(d)
    norm fold (plus its array allocation) for EVERY element — O(d²) per
    row, measured 15-30× slower at d=64. Same divisions, identical
    output (exceptAll-equal both directions)."""
    v = _as_double(col)
    n = F.sqrt(F.aggregate(F.transform(v, lambda x: x * x), F.lit(0.0), lambda s, x: s + x))
    return F.element_at(
        F.transform(F.array(n), lambda nn: F.transform(v, lambda x: x / nn)), 1
    )


def dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, v: s + v)


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """X4 exact baseline: top-k nearest corpus vectors per query vector.

    `queries` must carry (query_id_col, vec_col); it is broadcast — the
    corpus never shuffles, and the per-query ranking window partitions on
    query_id (bounded by the query-batch size, never the corpus).
    Similarity is rounded to 6dp *before* ranking so the (sim, id) order is
    reproducible across engines; ties break on the candidate id.
    """
    q = queries.select(
        F.col(query_id_col), normalized(F.col(vec_col)).alias("_qe")
    )
    c = corpus.select(F.col(id_col), normalized(F.col(vec_col)).alias("_ce"))
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col(id_col) != F.col(query_id_col))
        .select(
            query_id_col,
            id_col,
            F.round(dot(F.col("_qe"), F.col("_ce")), 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cos_sim"), F.col(id_col))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


_SRP_WEIGHTS_CACHE: dict[tuple[int, int, int, str], object] = {}


def srp_weights(
    spark, dim: int, num_planes: int, num_tables: int, hash_mode: str = "xxhash64"
):
    """The ±1 hyperplane matrix ((num_planes·num_tables) × dim): plane p's
    weight for dimension d is the parity of JVM ``xxhash64(p, d)`` —
    deterministic across runs, no stored model — computed once via a tiny
    (p, d) grid job and returned as numpy. The matrix is plane-count-sized
    (KBs), safe to ship in task closures — it is a MODEL constant, not
    data, and since xxhash64 is session-independent the matrix is
    memoized per (dim, m, L, hash_mode) so repeat calls (corpus + query
    side of the same search, re-runs in a bench loop) pay zero jobs.

    ``hash_mode="md5"`` derives the signs from ``md5(f"{p}:{d}")`` parity
    instead — the declared-form trick (dedup_minhash's): DuckDB can
    rebuild the identical matrix in pure SQL, upgrading the LSH ANN
    oracle from rows-only to exact. Same statistics (one unbiased bit per
    plane element), just a hash DuckDB ships."""
    import numpy as np

    key = (dim, num_planes, num_tables, hash_mode)
    if key in _SRP_WEIGHTS_CACHE:
        return _SRP_WEIGHTS_CACHE[key]
    total = num_planes * num_tables
    if hash_mode == "md5":
        import hashlib

        W = np.array(
            [
                [
                    1.0
                    if int(
                        hashlib.md5(f"{p}:{d}".encode()).hexdigest()[:2], 16
                    )
                    % 2
                    == 0
                    else -1.0
                    for d in range(dim)
                ]
                for p in range(total)
            ]
        )
        _SRP_WEIGHTS_CACHE[key] = W
        return W
    pairs = spark.createDataFrame(
        [(p, d) for p in range(total) for d in range(dim)], "p int, d int"
    )
    rows = pairs.select(
        "p",
        "d",
        F.when(F.pmod(F.xxhash64("p", "d"), 2) == 0, F.lit(1.0))
        .otherwise(F.lit(-1.0))
        .alias("w"),
    ).collect()
    W = np.zeros((total, dim))
    for r in rows:
        W[r["p"], r["d"]] = r["w"]
    _SRP_WEIGHTS_CACHE[key] = W
    return W


def srp_hashed(
    df: DataFrame,
    key_col: str,
    num_planes: int,
    num_tables: int,
    vec_col: str = "embedding",
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """(key, _tbl, _bkt) multi-table SRP bucket rows — one numpy matmul
    per Arrow batch against the broadcast weight matrix, replacing r2's
    per-plane interpreted HOF fold (m·L·d lambda evals per row; measured
    ~4x slower end-to-end on sim_ann_lsh at sf0.1). Table t's bucket sets
    bit p iff the vector's projection on plane t·m + p is >= 0."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import IntegerType, StructField, StructType

    m, L = num_planes, num_tables
    first = df.select(vec_col).first()
    dim = len(first[0]) if first is not None else 1
    W = srp_weights(df.sparkSession, dim, m, L, hash_mode)
    powers = 1 << np.arange(m)
    out_schema = StructType(
        [
            df.schema[key_col],
            StructField("_tbl", IntegerType()),
            StructField("_bkt", IntegerType()),
        ]
    )

    def hash_batches(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.array(list(pdf[vec_col]), dtype=np.float64)
            bits = (X @ W.T) >= 0  # (n, m·L)
            bkts = np.stack(
                [bits[:, t * m : (t + 1) * m] @ powers for t in range(L)], axis=1
            ).astype("int32")
            keys = pdf[key_col].to_numpy()
            yield pd.DataFrame(
                {
                    key_col: np.repeat(keys, L),
                    "_tbl": np.tile(np.arange(L, dtype="int32"), len(keys)),
                    "_bkt": bkts.reshape(-1),
                }
            )

    return df.select(key_col, vec_col).mapInPandas(hash_batches, out_schema)


def srp_hashed_sql(num_planes: int, num_tables: int, suffix: str = "") -> str:
    """DuckDB twin of ``srp_hashed(hash_mode="md5")`` over ``vec`` (vec_id,
    v — a 64-dimensional DOUBLE[], the embeddings' width): the CTEs
    ``planes{suffix}`` (p, d, w — the ``srp_weights(hash_mode="md5")``
    matrix as rows), ``dots{suffix}`` (vec_id, p, s — each projection) and
    ``buckets{suffix}`` (vec_id, tbl, bkt — ``_tbl``/``_bkt``). Every caller
    joins ``buckets`` to itself or to its probes, so it is materialized
    once."""
    m = num_planes
    return f"""planes{suffix} AS (
      SELECT p.p, d.d,
        CASE WHEN ('0x' || substr(md5(p.p || ':' || d.d), 1, 2))::INT % 2 = 0
             THEN 1.0 ELSE -1.0 END AS w
      FROM (SELECT unnest(generate_series(0, {m * num_tables - 1})) AS p) p
      CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS d) d
    ),
    dots{suffix} AS (
      SELECT vec_id, pl.p, sum(v[pl.d + 1] * pl.w) AS s
      FROM vec, planes{suffix} pl GROUP BY vec_id, pl.p
    ),
    buckets{suffix} AS MATERIALIZED (
      SELECT vec_id, p // {m} AS tbl,
             sum(((s >= 0)::INT) << (p % {m}))::INT AS bkt
      FROM dots{suffix} GROUP BY vec_id, p // {m}
    )"""


def ann_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    num_planes: int = 4,
    num_tables: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    hash_mode: str = "xxhash64",
    multiprobe: bool = False,
) -> DataFrame:
    """ANN top-k: multi-table LSH bucket join + exact cosine re-rank.

    Standard (m, L) LSH: ``num_tables`` independent hash tables of
    ``num_planes`` hyperplanes each; a corpus vector is a candidate for a
    query if they share a bucket in ANY table (recall = 1-(1-p^m)^L where
    p = 1 - θ/π). The corpus is hashed once into L (table, bucket) rows
    (vectorized — `srp_hashed`) and the candidate join shuffles on
    (table, bucket) instead of exploding the full cross product; per-table
    candidate volume drops by ~2^m. `distinct` collapses multi-table hits
    before the exact re-rank so each pair is scored once; the re-rank is
    one numpy dot per Arrow batch over the joined normalized vectors
    (r2 scored each pair with an interpreted HOF fold).

    Tune (m, L) to the corpus: higher similarity corpora (near-dup search)
    take larger m for sharper pruning; uniform corpora need more tables.

    ``multiprobe``: also probe every bucket at Hamming distance 1 from
    the query's bucket in each table (Lv et al., VLDB 2007) — the
    QUERY side explodes ×(m+1), the corpus index is untouched, so
    recall rises without re-hashing or adding tables. The standard
    memory trade: (m, L/2, multiprobe) reaches (m, L) recall with half
    the index rows; candidate volume grows only with the extra probes
    that actually hit occupied buckets."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import DoubleType, StructField, StructType

    qh = srp_hashed(
        queries, query_id_col, num_planes, num_tables, vec_col, hash_mode
    )
    if multiprobe:
        qh = qh.select(
            query_id_col,
            "_tbl",
            F.explode(F.expr(f"sequence(0, {num_planes})")).alias("_p"),
            F.col("_bkt").alias("_b0"),
        ).select(
            query_id_col,
            "_tbl",
            F.when(F.col("_p") == 0, F.col("_b0"))
            .otherwise(F.expr("_b0 ^ shiftleft(1, _p - 1)"))
            .cast("int")
            .alias("_bkt"),
        )
    cand = (
        srp_hashed(corpus, id_col, num_planes, num_tables, vec_col, hash_mode)
        .join(
            F.broadcast(qh),
            ["_tbl", "_bkt"],
        )
        .filter(F.col(id_col) != F.col(query_id_col))
        .select(query_id_col, id_col)
        .distinct()
    )
    c = corpus.select(F.col(id_col), normalized(F.col(vec_col)).alias("_ce"))
    q = queries.select(F.col(query_id_col), normalized(F.col(vec_col)).alias("_qe"))
    paired = cand.join(c, id_col).join(F.broadcast(q), query_id_col)

    out_schema = StructType(
        [
            corpus.schema[id_col],
            queries.schema[query_id_col],
            StructField("cos_sim", DoubleType()),
        ]
    )

    def rerank(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            a = np.array(list(pdf["_ce"]), dtype=np.float64)
            b = np.array(list(pdf["_qe"]), dtype=np.float64)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    query_id_col: pdf[query_id_col],
                    "cos_sim": np.round(np.einsum("ij,ij->i", a, b), 6),
                }
            )

    scored = paired.mapInPandas(rerank, out_schema).select(
        query_id_col, id_col, "cos_sim"
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cos_sim"), F.col(id_col))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def cosine_topk_vectorized(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    exclude_label_col: str | None = None,
) -> DataFrame:
    """X4 vectorized path: same result as cosine_topk, computed by numpy
    matmul inside mapInPandas instead of interpreted higher-order
    functions.

    Spark's array lambdas (zip_with/aggregate) evaluate INTERPRETED per
    element — fine for row-local math, but an n×m score matrix is exactly
    what BLAS is for: each Arrow batch does one (batch × dim) @ (dim × m)
    multiply against the L2-normalized query matrix (collected driver-side
    and shipped in the task closure — query batches are small by contract).
    Same rounding/tie-break as the JVM path, so the same oracle verifies
    both. Measured on a 50k-row corpus x 10 queries (64-dim, local[32]):
    HOF path 119 s, this path 3.5 s (34x) — which is why the declared
    `sim_cosine_topk` runs THIS implementation and the HOF form is kept
    as the UDF-free reference variant. (The HOF cost is interpreted
    per-element lambda eval; Catalyst also collapses projections into the
    join, so per-row normalization re-runs per PAIR unless materialized.)

    ``exclude_label_col``: hard-negative mode (X4r) — queries AND corpus
    both carry this column, and a corpus row whose label equals the
    query's is masked out of that query's candidates (the contrastive
    "top-k most similar with a DIFFERENT label" contract; the self-match
    shares its own label, so it is excluded for free). Masking happens
    inside the task on the score matrix — the per-batch partial top-k
    argument is unchanged because masked rows sort strictly after every
    real candidate.
    """
    import numpy as np

    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField(query_id_col, LongType()),
            StructField(id_col, LongType()),
            StructField("cos_sim", DoubleType()),
        ]
    )

    q_cols = [query_id_col, vec_col] + (
        [exclude_label_col] if exclude_label_col else []
    )
    q_rows = queries.select(*q_cols).collect()
    if not q_rows:
        # no query vectors -> no results; an empty typed frame keeps the
        # schema contract without tripping numpy on a 0-row matrix
        return corpus.sparkSession.createDataFrame([], out_schema)
    q_ids = np.array([r[query_id_col] for r in q_rows])
    q_labs = (
        np.array([r[exclude_label_col] for r in q_rows])
        if exclude_label_col
        else None
    )
    q_mat = np.array([r[vec_col] for r in q_rows], dtype=np.float64)
    q_mat /= np.linalg.norm(q_mat, axis=1, keepdims=True)

    def score(batches):
        import pandas as pd

        # partial top-k inside the task: a row dropped here has k+1 rows of
        # the SAME batch strictly ahead of it under the exact final order
        # (cos_sim desc, id asc) — even if one of those is the self-match
        # filtered later, k remain, so the drop can never reach the global
        # top-k. Egress per batch falls from batch x nq rows to (k+1) x nq.
        for pdf in batches:
            c = np.array(list(pdf[vec_col]), dtype=np.float64)
            c /= np.linalg.norm(c, axis=1, keepdims=True)
            sims = np.round(c @ q_mat.T, 6)  # (batch, nq)
            if q_labs is not None:
                # -9 sentinel: below any real cosine (>= -1), so masked
                # rows only surface when a batch has < k+1 legal rows,
                # and the post-task filter drops them
                c_labs = pdf[exclude_label_col].to_numpy()
                sims = np.where(
                    c_labs[:, None] == q_labs[None, :], -9.0, sims
                )
            ids = pdf[id_col].to_numpy()
            n, m = sims.shape
            take = min(k + 1, n)
            qcols, icols, scols = [], [], []
            for j in range(m):
                order = np.lexsort((ids, -sims[:, j]))[:take]
                qcols.append(np.full(take, q_ids[j]))
                icols.append(ids[order])
                scols.append(sims[order, j])
            yield pd.DataFrame(
                {
                    query_id_col: np.concatenate(qcols),
                    id_col: np.concatenate(icols),
                    "cos_sim": np.concatenate(scols),
                }
            )

    c_cols = [id_col, vec_col] + (
        [exclude_label_col] if exclude_label_col else []
    )
    scored = corpus.select(*c_cols).mapInPandas(score, schema=out_schema)
    scored = scored.filter(F.col(id_col) != F.col(query_id_col))
    if exclude_label_col:
        scored = scored.filter(F.col("cos_sim") > -2.0)
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cos_sim"), F.col(id_col))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def cosine_pairs_vectorized(
    corpus: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All (a < b) pairs with cosine >= threshold, vectorized: the corpus
    matrix (vector-batch-sized by contract — same bound as the query batch
    in cosine_topk_vectorized) ships in the task closure; each Arrow batch
    does one matmul against it and emits only the surviving pairs, so the
    n x m score matrix never leaves the task. At open-corpus scale use the
    LSH bucket join for candidates instead."""
    import numpy as np

    rows = corpus.select(id_col, vec_col).collect()
    ids = np.array([r[id_col] for r in rows])
    mat = np.array([r[vec_col] for r in rows], dtype=np.float64)
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)

    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    out_schema = StructType(
        [
            StructField("key_a", LongType()),
            StructField("key_b", LongType()),
            StructField("cos_sim", DoubleType()),
        ]
    )

    def score(batches):
        import pandas as pd

        for pdf in batches:
            c = np.array(list(pdf[vec_col]), dtype=np.float64)
            c /= np.linalg.norm(c, axis=1, keepdims=True)
            sims = np.round(c @ mat.T, 6)
            a_ids = pdf[id_col].to_numpy()
            keep = (sims >= threshold) & (a_ids[:, None] < ids[None, :])
            ai, bi = np.nonzero(keep)
            yield pd.DataFrame(
                {"key_a": a_ids[ai], "key_b": ids[bi], "cos_sim": sims[ai, bi]}
            )

    return corpus.select(id_col, vec_col).mapInPandas(score, schema=out_schema)


def mmr_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    k_candidates: int = 10,
    k_select: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    candidates: DataFrame | None = None,
) -> DataFrame:
    """X4c: maximal-marginal-relevance diversified re-rank (Carbonell &
    Goldstein, SIGIR 1998) — plain top-k returns near-duplicates of one
    good hit; MMR greedily re-picks ``k_select`` of the top
    ``k_candidates`` so each pick trades relevance against similarity to
    what is already picked:

        pick argmax over remaining c of  rel(c) − max_{s∈selected} sim(c, s)

    (the λ=0.5 MMR objective with the positive 0.5 factored out of the
    argmax). This is the retrieval-context dedup step of a RAG/LLM
    pipeline: the k slots go to k different neighborhoods.

    Exactness: relevance and pairwise similarity become 1e6-scaled LONGS
    (from the shared 6dp-rounded-cosine convention), so the greedy
    argmax — ties broken by smallest id — is pure integer arithmetic; an
    unrolled per-step SQL oracle replays every selection exactly. The
    first pick has no penalty term (selected set empty), matching the
    oracle's step-1 CTE.

    Scale: stage 1 is `cosine_topk_vectorized` (corpus never shuffles,
    per-task partial top-k); the candidate set (n_queries × k_candidates
    rows) joins its vectors back via a BROADCAST of the candidates onto
    the corpus scan, and the greedy loop runs per query group inside
    ``applyInPandas`` over ≤ k_candidates rows — one candidate-sized
    shuffle, never a corpus-sized one.
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField(query_id_col, LongType()),
            StructField("mmr_rank", IntegerType()),
            StructField(id_col, LongType()),
            StructField("cos_sim", DoubleType()),
            StructField("mmr_score", DoubleType()),
        ]
    )

    # ``candidates`` (r11-opt, the `knn_graph` candidates precedent):
    # a caller that already holds THE exact top-``k_candidates`` table
    # this function would compute (same (query_id, vec_id, cos_sim)
    # schema, same 6dp rounding and (cos_sim desc, id) tie-break —
    # e.g. a checkpointed `cosine_topk_vectorized` shared with a
    # relevance ledger) passes it in and skips the second full corpus
    # scoring scan. Result-identical by contract.
    cands = (
        candidates
        if candidates is not None
        else cosine_topk_vectorized(
            corpus, queries, k=k_candidates, id_col=id_col, vec_col=vec_col,
            query_id_col=query_id_col,
        )
    )
    with_vec = corpus.select(id_col, vec_col).join(F.broadcast(cands), id_col)

    def greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n == 0:
            return pd.DataFrame(
                {f.name: pd.Series(dtype="object") for f in out_schema.fields}
            )
        ids = pdf[id_col].to_numpy()
        cos6 = pdf["cos_sim"].to_numpy(dtype=np.float64)
        rel = np.rint(cos6 * 1e6).astype(np.int64)
        mat = np.array(list(pdf[vec_col]), dtype=np.float64)
        mat /= np.linalg.norm(mat, axis=1, keepdims=True)
        # same rounding ladder as the relevance scores: 6dp cosine, then
        # scale to integer units (np.rint on an almost-integer is exact)
        sims = np.rint(np.round(mat @ mat.T, 6) * 1e6).astype(np.int64)
        remaining = list(range(n))
        pen = None  # no penalty before the first pick
        picks: list[tuple[int, int]] = []  # (row index, score_s)
        for _ in range(min(k_select, n)):
            score = rel[remaining] if pen is None else (
                rel[remaining] - pen[remaining]
            )
            j = int(np.lexsort((ids[remaining], -score))[0])
            row = remaining.pop(j)
            picks.append((row, int(score[j])))
            pen = (
                sims[:, row].copy()
                if pen is None
                else np.maximum(pen, sims[:, row])
            )
        qid = pdf[query_id_col].iloc[0]
        return pd.DataFrame(
            {
                query_id_col: [qid] * len(picks),
                "mmr_rank": np.arange(1, len(picks) + 1, dtype=np.int32),
                id_col: [ids[r] for r, _ in picks],
                "cos_sim": [cos6[r] for r, _ in picks],
                "mmr_score": [s / 1e6 for _, s in picks],
            }
        )

    return with_vec.groupBy(query_id_col).applyInPandas(greedy, schema=out_schema)


def exact_rerank_pairs(
    corpus: DataFrame,
    candidates: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exactly score candidate id pairs against the corpus vectors and
    keep cosine >= threshold — the re-rank tail of the pruned pair path
    (`cosine_pairs_lsh`), which emits the same (key_a < key_b, 6dp
    cos_sim) contract as the exact `cosine_pairs_blocked` grid.

    ``candidates`` needs only (key_a, key_b); orientation is
    canonicalized and duplicates collapsed here, any approximate score
    column is ignored. Scale: candidate-sized joins back to the
    normalized vectors (AQE broadcasts the smaller side), then one
    numpy row-wise dot per Arrow batch — no driver collect, work linear
    in candidates."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    cand = (
        candidates.select(
            F.least("key_a", "key_b").alias("key_a"),
            F.greatest("key_a", "key_b").alias("key_b"),
        )
        .filter(F.col("key_a") < F.col("key_b"))
        .distinct()
    )
    norm = corpus.select(F.col(id_col), normalized(F.col(vec_col)).alias("_n"))
    paired = (
        cand.join(
            norm.select(F.col(id_col).alias("key_a"), F.col("_n").alias("_va")),
            "key_a",
        ).join(
            norm.select(F.col(id_col).alias("key_b"), F.col("_n").alias("_vb")),
            "key_b",
        )
    )

    out_schema = StructType(
        [
            StructField("key_a", LongType()),
            StructField("key_b", LongType()),
            StructField("cos_sim", DoubleType()),
        ]
    )

    def rerank(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            a = np.array(list(pdf["_va"]), dtype=np.float64)
            b = np.array(list(pdf["_vb"]), dtype=np.float64)
            sims = np.round(np.einsum("ij,ij->i", a, b), 6)
            keep = sims >= threshold
            yield pd.DataFrame(
                {
                    "key_a": pdf["key_a"].to_numpy()[keep],
                    "key_b": pdf["key_b"].to_numpy()[keep],
                    "cos_sim": sims[keep],
                }
            )

    return paired.mapInPandas(rerank, schema=out_schema)


_GRID_BLOCKS = 8  # the block count B of cosine_pairs_blocked's grid


def cosine_pairs_blocked(
    corpus: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All (a < b) pairs with cosine >= threshold — EXACT and fully
    distributed (the scale-safe successor to `cosine_pairs_vectorized`,
    which collects the corpus into the task closure).

    Block-grid all-pairs: each vector lands in block ``xxhash64(id) mod B``
    (B = 8)
    and is replicated to every unordered block pair it participates in
    (B rows per vector — shuffle volume n·B, never n²). Each of the
    B·(B+1)/2 grid cells scores its two blocks with one numpy matmul in
    `applyInPandas`; a pair (a, b) lives in exactly ONE cell — the
    (blk_a, blk_b) cell — so the pair space is partitioned, not
    deduplicated. Max task memory is 2·(n/B)·d doubles; work stays
    Θ(n²·d) because the exact-threshold semantic is inherently quadratic.

    Why no LSH candidates here? Measured on the sf0.1 fixture at the
    declared 0.4 threshold: SRP-LSH (2 planes × 16 tables) retained
    98.6% of all pairs as candidates (no pruning — at low thresholds
    random hyperplanes can't separate) and still MISSED 2/920 qualifying
    pairs. LSH pruning only wins at near-dup thresholds (~0.9+) — that
    is `cosine_pairs_lsh`, which scores its candidates with
    `exact_rerank_pairs` under the same output contract.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    B = _GRID_BLOCKS
    # ship the RAW float32 arrays through the explode/shuffle and upcast
    # in numpy (float->double is exact): casting to array<double> first
    # would double the shuffled bytes for zero precision gain
    base = corpus.select(
        F.col(id_col),
        F.col(vec_col).alias("_v"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(B)).cast("int").alias("_blk"),
    )
    # Row in block b joins grid cells {(min(b,o), max(b,o)) : o ∈ 0..B-1};
    # array_distinct folds the (b,b) duplicate emitted at o == b.
    cells = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.lit(B - 1)),
            lambda o: F.least(F.col("_blk"), o) * B + F.greatest(F.col("_blk"), o),
        )
    )
    rep = base.select(id_col, "_v", "_blk", F.explode(cells).alias("_cell"))

    out_schema = StructType(
        [
            StructField("key_a", LongType()),
            StructField("key_b", LongType()),
            StructField("cos_sim", DoubleType()),
        ]
    )

    empty = pd.DataFrame({"key_a": [], "key_b": [], "cos_sim": []})

    def score_cell(key, pdf):
        cell = int(key[0])
        i, j = divmod(cell, B)
        left = pdf[pdf["_blk"] == i]
        if not len(left):
            return empty
        mat_l = np.array(list(left["_v"]), dtype=np.float64)
        mat_l /= np.linalg.norm(mat_l, axis=1, keepdims=True)
        ids_l = left[id_col].to_numpy()
        if i == j:
            sims = np.round(mat_l @ mat_l.T, 6)
            keep = (sims >= threshold) & (ids_l[:, None] < ids_l[None, :])
            ai, bi = np.nonzero(keep)
            return pd.DataFrame(
                {"key_a": ids_l[ai], "key_b": ids_l[bi], "cos_sim": sims[ai, bi]}
            )
        right = pdf[pdf["_blk"] == j]
        if not len(right):
            return empty
        mat_r = np.array(list(right["_v"]), dtype=np.float64)
        mat_r /= np.linalg.norm(mat_r, axis=1, keepdims=True)
        ids_r = right[id_col].to_numpy()
        sims = np.round(mat_l @ mat_r.T, 6)
        ai, bi = np.nonzero(sims >= threshold)
        ka, kb = ids_l[ai], ids_r[bi]
        lo, hi = np.minimum(ka, kb), np.maximum(ka, kb)
        return pd.DataFrame({"key_a": lo, "key_b": hi, "cos_sim": sims[ai, bi]})

    return rep.groupBy("_cell").applyInPandas(score_cell, schema=out_schema)


def cosine_pairs_lsh(
    corpus: DataFrame,
    threshold: float,
    num_planes: int = 8,
    num_tables: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Approximate (a < b) cosine-threshold pairs: SRP-LSH bucket
    candidates + exact vectorized re-rank — the sub-quadratic near-dup
    path for HIGH thresholds (~0.9+), where a qualifying pair collides per
    hyperplane with p = 1 - θ/π ≈ 0.86 and (planes=8, tables=8) holds
    recall ≈ 0.98 while candidate volume drops ~2^planes per table.

    Shape: corpus hashed once into L (table, bucket) rows; the candidate
    self-join shuffles on (table, bucket); `distinct` collapses multi-table
    hits; the surviving pair list joins the normalized vectors back
    (AQE broadcasts the corpus side when it fits) and one numpy dot per
    Arrow batch re-ranks exactly. No driver-side collect anywhere.
    Recall floor pinned by the planted-near-dup test
    (tests/test_similarity.py); exact low-threshold contracts use
    `cosine_pairs_blocked` instead (see its docstring for the measured
    low-threshold failure mode). ``hash_mode="md5"`` derives the planes
    from md5 parity (`srp_weights`) so a SQL oracle can replay the whole
    pruned pipeline — the declared-form convention; xxhash64 stays the
    production default.
    """
    hashed = srp_hashed(
        corpus, id_col, num_planes, num_tables, vec_col, hash_mode=hash_mode
    )
    cand = (
        hashed.withColumnRenamed(id_col, "key_a")
        .join(hashed.withColumnRenamed(id_col, "key_b"), ["_tbl", "_bkt"])
        .filter(F.col("key_a") < F.col("key_b"))
        .select("key_a", "key_b")
    )
    return exact_rerank_pairs(corpus, cand, threshold, id_col, vec_col)


def _seed_sample(
    corpus: DataFrame, id_col: str, vec_col: str, n: int, op: str, what: str
):
    """The seeded quantizers' one deterministic sample: the ``n``
    corpus vectors with the lowest ``hash_bucket(id)`` (ties by id),
    collected to the driver as a float64 matrix. Reproducible across
    runs and partitionings, unlike ``sample``/``limit`` on an unordered
    frame. An empty corpus raises ``ValueError`` naming ``op``: there is
    nothing to seed ``what`` from."""
    import numpy as np

    from openmrs_patient_migration_script_spark.operators.sampling import hash_bucket

    seeds = (
        corpus.select(
            id_col, vec_col, hash_bucket(F.col(id_col), 1_000_000).alias("_b")
        )
        .orderBy("_b", id_col)
        .limit(n)
        .collect()
    )
    if not seeds:
        raise ValueError(f"{op}: empty corpus — cannot seed {what}")
    return np.array([r[vec_col] for r in seeds], dtype=np.float64)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """ANN scale path #2: IVF (inverted-file) top-k — the cell-pruned
    counterpart of `ann_topk_lsh`.

    1. Coarse quantizer: ``n_cells`` deterministic seed centroids — the
       corpus rows with the smallest md5-bucket of their id (content-
       addressed, so every run/cluster picks the same seeds).
    2. Assignment: every corpus vector goes to its nearest centroid cell —
       one numpy argmax per Arrow batch, a narrow mapInPandas projection.
    3. Probing: each query searches only its ``nprobe`` nearest cells; the
       (query, cell) probe list is tiny and broadcast, so the candidate
       join prunes the corpus to ~nprobe/n_cells of its rows WITHOUT a
       corpus shuffle.
    4. Exact cosine re-rank of candidates (row-wise vectorized dot), then
       the usual (cos desc, id asc) top-k window per query.

    At 100 TB the assignment step would be persisted (cell = partition
    column), making step 3 partition pruning on the storage layout — the
    standard IVF index — rather than a runtime filter.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        FloatType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    cent = _seed_sample(
        corpus, id_col, vec_col, n_cells, "ivf_topk", "IVF centroids"
    )
    cent /= np.linalg.norm(cent, axis=1, keepdims=True)

    q_rows = queries.select(query_id_col, vec_col).collect()
    if not q_rows:
        # no query vectors -> no results (`cosine_topk_vectorized`'s guard)
        return corpus.sparkSession.createDataFrame(
            [], f"{query_id_col} long, {id_col} long, cos_sim double"
        )
    q_ids = np.array([r[query_id_col] for r in q_rows])
    q_mat = np.array([r[vec_col] for r in q_rows], dtype=np.float64)
    q_mat /= np.linalg.norm(q_mat, axis=1, keepdims=True)
    q_pos = {int(qid): i for i, qid in enumerate(q_ids)}

    # (query, cell) probe list: nprobe nearest centroids per query
    q_cells = np.argsort(-(q_mat @ cent.T), axis=1)[:, :nprobe]
    probes = [
        (int(q_ids[i]), int(c)) for i in range(len(q_ids)) for c in q_cells[i]
    ]
    spark = corpus.sparkSession
    probes_df = spark.createDataFrame(
        probes, schema=f"{query_id_col} long, _cell int"
    )

    assign_schema = StructType(
        [
            StructField(id_col, LongType()),
            StructField("_cell", IntegerType()),
            StructField(vec_col, ArrayType(FloatType())),
        ]
    )

    def assign(batches):
        for pdf in batches:
            m = np.array(list(pdf[vec_col]), dtype=np.float64)
            mn = m / np.linalg.norm(m, axis=1, keepdims=True)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "_cell": np.argmax(mn @ cent.T, axis=1).astype("int32"),
                    vec_col: pdf[vec_col],
                }
            )

    assigned = corpus.select(id_col, vec_col).mapInPandas(assign, assign_schema)
    cand = assigned.join(F.broadcast(probes_df), "_cell").filter(
        F.col(id_col) != F.col(query_id_col)
    )

    score_schema = StructType(
        [
            StructField(query_id_col, LongType()),
            StructField(id_col, LongType()),
            StructField("cos_sim", DoubleType()),
        ]
    )

    def rerank(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.array(list(pdf[vec_col]), dtype=np.float64)
            mn = m / np.linalg.norm(m, axis=1, keepdims=True)
            qi = np.array([q_pos[int(q)] for q in pdf[query_id_col]])
            sims = np.round(np.einsum("ij,ij->i", mn, q_mat[qi]), 6)
            yield pd.DataFrame(
                {
                    query_id_col: pdf[query_id_col],
                    id_col: pdf[id_col],
                    "cos_sim": sims,
                }
            )

    scored = cand.mapInPandas(rerank, score_schema)
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cos_sim"), F.col(id_col))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def kmeans_fit(
    corpus: DataFrame,
    n_cells: int = 16,
    n_iter: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Distributed spherical k-means (Lloyd) refinement — a trained
    coarse quantizer over the same md5-bucket seed rows `ivf_topk`
    starts from. Returns the centroid matrix as a list of lists
    (n_cells × dim).

    Per iteration, ONE job: an Arrow-batched ``mapInPandas`` assigns each
    batch to its nearest centroid (numpy argmax against the closure-shipped
    centroid matrix — a model constant, KBs) and emits map-side PARTIAL
    sums in long form — (cell, dim, partial_sum, partial_count), at most
    n_cells × dim rows per batch regardless of batch size — then a tiny
    hash agg reduces partials and the driver renormalizes (spherical
    update: centroids live on the unit sphere because downstream scoring
    is cosine). The shuffle therefore carries centroid-sized partials,
    never vectors: the same bounded-state shape as a partial-combinable
    aggregate. Empty cells keep their previous centroid.

    Init = the same deterministic content-addressed seeds `ivf_topk`
    uses, so a 0-iteration fit returns `ivf_topk`'s quantizer. Float partial
    sums reassociate across partitionings, so convergence (pinned by
    test: the mean best-cosine objective is non-decreasing) rather than
    bit-identity is the contract — the standard k-means determinism story.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    cent = _seed_sample(corpus, id_col, vec_col, n_cells, "kmeans_fit", "centroids")
    cent /= np.linalg.norm(cent, axis=1, keepdims=True)
    dim = cent.shape[1]

    partial_schema = StructType(
        [
            StructField("cell", IntegerType()),
            StructField("dim", IntegerType()),
            StructField("s", DoubleType()),
            StructField("cnt", LongType()),
        ]
    )
    vecs = corpus.select(vec_col)

    for _ in range(n_iter):
        C = cent  # bind the current matrix into the task closure

        def partials(batches):
            for pdf in batches:
                X = np.array(list(pdf[vec_col]), dtype=np.float64)
                if not len(X):
                    continue
                Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
                cells = np.argmax(Xn @ C.T, axis=1)
                out_cell, out_dim, out_s, out_n = [], [], [], []
                for c in np.unique(cells):
                    sel = Xn[cells == c]
                    out_cell.append(np.full(dim, c, dtype="int32"))
                    out_dim.append(np.arange(dim, dtype="int32"))
                    out_s.append(sel.sum(axis=0))
                    out_n.append(np.full(dim, len(sel), dtype="int64"))
                yield pd.DataFrame(
                    {
                        "cell": np.concatenate(out_cell),
                        "dim": np.concatenate(out_dim),
                        "s": np.concatenate(out_s),
                        "cnt": np.concatenate(out_n),
                    }
                )

        agg = (
            vecs.mapInPandas(partials, partial_schema)
            .groupBy("cell", "dim")
            .agg(F.sum("s").alias("s"), F.sum("cnt").alias("n"))
            .collect()
        )
        new_cent = cent.copy()
        sums = np.zeros((n_cells, dim))
        counts = np.zeros(n_cells)
        for r in agg:
            sums[r["cell"], r["dim"]] = r["s"]
            counts[r["cell"]] = r["n"]
        for c in range(n_cells):
            if counts[c] > 0:
                v = sums[c]
                nrm = np.linalg.norm(v)
                if nrm > 0:
                    new_cent[c] = v / nrm
        cent = new_cent
    return [[float(x) for x in row] for row in cent]


def kmeans_assign(
    corpus: DataFrame,
    centroids,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign every corpus vector to its nearest centroid by cosine:
    (id_col, cell, cos) — the inference half of :func:`kmeans_fit` and
    the persisted-assignment step of a real IVF index (cell becomes the
    partition column at 100 TB).

    One Arrow-batched ``mapInPandas`` projection: the centroid matrix is
    a model constant (KBs) shipped in the task closure, each batch does a
    single numpy matmul + argmax, and the output is a narrow (id, cell,
    cos) triple — no shuffle at all; whatever consumes the assignment
    pays its own aggregation. Ties break on the lowest cell index
    (np.argmax), deterministic for a fixed model.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    C = np.array(centroids, dtype=np.float64)
    C = C / np.linalg.norm(C, axis=1, keepdims=True)
    id_field = corpus.schema[id_col]

    out_schema = StructType(
        [
            StructField(id_col, id_field.dataType),
            StructField("cell", IntegerType()),
            StructField("cos", DoubleType()),
        ]
    )

    def assign(batches):
        for pdf in batches:
            X = np.array(list(pdf[vec_col]), dtype=np.float64)
            if not len(X):
                continue
            nrm = np.linalg.norm(X, axis=1, keepdims=True)
            nrm[nrm == 0] = 1.0
            S = (X / nrm) @ C.T
            cells = np.argmax(S, axis=1)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].values,
                    "cell": cells.astype("int32"),
                    "cos": S[np.arange(len(S)), cells],
                }
            )

    return corpus.select(id_col, vec_col).mapInPandas(assign, out_schema)


def label_centroids(
    emb: DataFrame, label_col: str = "label", vec_col: str = "embedding"
) -> DataFrame:
    """Distributed vector mean per label, in LONG form (label, dim,
    centroid, n_vectors) — the k-means update step / class-centroid /
    IVF-training primitive over an embedding column.

    posexplode turns each vector into (dim, value) rows so the mean is ONE
    partial-combinable hash agg keyed on (label, dim) — the shuffle
    carries two longs per element, never whole vectors, and no executor
    ever holds more than its hash-map slice (element-wise `F.aggregate`
    over collected arrays would concentrate each label's vectors on one
    task). Long form also keeps the oracle trivial; reassemble with
    array_agg ordered by dim where a vector shape is needed.

    The 6dp centroid is exact-by-construction: each element is scaled to
    a 6dp long first (round-to-integer of the identical double is
    engine-consistent, unlike fractional round), the long sum is exact
    and order-free, and the HALF_UP division happens in integer
    arithmetic (sign-split so the quotient formula only sees
    non-negative numerators — embeddings go negative). A float avg() is
    partial-agg-order dependent and flips its last digit at .5-at-6dp
    boundaries between engines — the `text_stats_by_lang` r3 failure
    class.
    """
    scaled = emb.select(
        F.col(label_col),
        F.posexplode(F.col(vec_col)).alias("dim", "v"),
    ).select(
        label_col,
        F.col("dim").cast("long").alias("dim"),
        F.round(F.col("v").cast("double") * 1e6, 0).cast("long").alias("sv"),
    )
    agg = scaled.groupBy(label_col, "dim").agg(
        F.sum("sv").alias("_s"), F.count("*").alias("_n")
    )
    half_up = F.expr(
        "case when _s >= 0 then (2 * _s + _n) div (2 * _n) "
        "else -((-2 * _s + _n) div (2 * _n)) end"
    )
    return agg.select(
        label_col,
        "dim",
        (half_up / F.lit(1e6)).alias("centroid"),
        F.col("_n").alias("n_vectors"),
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_subspaces: int = 4,
    n_codes: int = 16,
    rerank_n: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """ANN scale path #3: product quantization (Jégou, Douze & Schmid,
    "Product Quantization for Nearest Neighbor Search", TPAMI 2011) —
    the MEMORY-side complement of the candidate-pruning paths (LSH cuts
    comparisons, IVF cuts rows scanned, PQ cuts bytes per row): each
    vector compresses to ``n_subspaces`` small codes, and queries score
    the whole corpus by table lookup instead of d-dim arithmetic.

    1. Codebooks: the vector splits into ``n_subspaces`` contiguous
       subvectors; subspace s's ``n_codes`` codewords are the
       corresponding subvectors of the md5-bucket-ordered seed rows
       (content-addressed like IVF's coarse quantizer, so every run,
       cluster and the SQL oracle derive identical codebooks).
    2. Encode: each corpus vector stores, per subspace, the codeword
       maximizing the SUBSPACE cosine (scale-invariant, so the oracle
       needs no normalization replay; ties break to the lowest code
       index on 6dp-rounded scores — argmax over ints, not raw floats).
    3. ADC scan: a query's similarity table (n_subspaces x n_codes
       rounded-int subspace cosines) is tiny and driver-broadcast;
       every corpus row scores as the INTEGER sum of m=n_subspaces
       lookups — exact, reassociation-free, and O(m) instead of O(d).
    4. The top ``rerank_n`` ADC candidates per query re-rank by exact
       cosine (the shared rounded-cosine convention), then the usual
       (cos desc, id asc) top-k window.

    At 100 TB the point is step 3's byte budget: 64-dim float32 vectors
    read 256 B/row; 4 uint8 codes read 4 B/row — a 64x scan-size cut
    for the full-corpus phase, with exact scoring confined to
    queries x rerank_n rows. Encode+ADC run in ONE narrow mapInPandas
    pass (codebooks and query tables ship in the closure); the only
    shuffles are the two per-query top-N windows over candidate-sized
    frames.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    seed_mat = _seed_sample(corpus, id_col, vec_col, n_codes, "pq_topk", "codebooks")
    dim = seed_mat.shape[1]
    if dim % n_subspaces:
        raise ValueError(f"dim {dim} must divide into {n_subspaces} subspaces")
    sub = dim // n_subspaces
    # cb[s]: (n_codes, sub) codewords, subspace-normalized for cosine
    cb = []
    for s in range(n_subspaces):
        block = seed_mat[:, s * sub : (s + 1) * sub]
        cb.append(block / np.linalg.norm(block, axis=1, keepdims=True))

    q_rows = queries.select(query_id_col, vec_col).collect()
    if not q_rows:
        # no query vectors -> no results (`cosine_topk_vectorized`'s guard)
        return corpus.sparkSession.createDataFrame(
            [], f"{query_id_col} long, {id_col} long, cos_sim double"
        )
    q_ids = [int(r[query_id_col]) for r in q_rows]
    q_mat = np.array([r[vec_col] for r in q_rows], dtype=np.float64)
    q_full = q_mat / np.linalg.norm(q_mat, axis=1, keepdims=True)
    q_pos = {qid: i for i, qid in enumerate(q_ids)}
    # q_tab[s]: (n_queries, n_codes) 6dp-scaled-int subspace cosines
    q_tab = []
    for s in range(n_subspaces):
        qs = q_mat[:, s * sub : (s + 1) * sub]
        qs = qs / np.linalg.norm(qs, axis=1, keepdims=True)
        q_tab.append(
            np.round(np.round(qs @ cb[s].T, 6) * 1_000_000).astype(np.int64)
        )

    adc_schema = StructType(
        [
            StructField(query_id_col, LongType()),
            StructField(id_col, LongType()),
            StructField("adc", LongType()),
        ]
    )
    qid_arr = np.array(q_ids, dtype=np.int64)

    def encode_and_scan(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.array(list(pdf[vec_col]), dtype=np.float64)
            n = len(m)
            adc = np.zeros((len(qid_arr), n), dtype=np.int64)
            for s in range(n_subspaces):
                xs = m[:, s * sub : (s + 1) * sub]
                xs = xs / np.linalg.norm(xs, axis=1, keepdims=True)
                # 6dp-int argmax: ties to the LOWEST code index (np.argmax
                # returns the first maximum), matching the oracle's
                # (score DESC, code ASC) window
                scores = np.round(np.round(xs @ cb[s].T, 6) * 1_000_000).astype(
                    np.int64
                )
                codes = np.argmax(scores, axis=1)
                adc += q_tab[s][:, codes]
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            yield pd.DataFrame(
                {
                    query_id_col: np.repeat(qid_arr, n),
                    id_col: np.tile(ids, len(qid_arr)),
                    "adc": adc.reshape(-1),
                }
            )

    scanned = (
        corpus.select(id_col, vec_col)
        .mapInPandas(encode_and_scan, adc_schema)
        .filter(F.col(id_col) != F.col(query_id_col))
    )
    w_adc = Window.partitionBy(query_id_col).orderBy(F.desc("adc"), F.col(id_col))
    cand = (
        scanned.withColumn("_rn", F.row_number().over(w_adc))
        .filter(F.col("_rn") <= rerank_n)
        .select(query_id_col, id_col)
    )
    # exact re-rank: candidate list is queries x rerank_n — broadcast it
    # back onto the corpus scan so full vectors never shuffle
    cand_vecs = corpus.select(id_col, vec_col).join(F.broadcast(cand), id_col)

    score_schema = StructType(
        [
            StructField(query_id_col, LongType()),
            StructField(id_col, LongType()),
            StructField("cos_sim", DoubleType()),
        ]
    )

    def rerank(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.array(list(pdf[vec_col]), dtype=np.float64)
            mn = m / np.linalg.norm(m, axis=1, keepdims=True)
            qi = np.array([q_pos[int(q)] for q in pdf[query_id_col]])
            sims = np.round(np.einsum("ij,ij->i", mn, q_full[qi]), 6)
            yield pd.DataFrame(
                {
                    query_id_col: pdf[query_id_col],
                    id_col: pdf[id_col],
                    "cos_sim": sims,
                }
            )

    scored = cand_vecs.mapInPandas(rerank, score_schema)
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cos_sim"), F.col(id_col))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def semantic_dedup(
    corpus: DataFrame,
    n_clusters: int = 64,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cluster_rows: int = 200_000,
) -> DataFrame:
    """SemDeDup (Abbas et al., "SemDeDup: Data-efficient learning at
    web-scale through semantic deduplication", 2023): cluster the
    embedding space, then call a vector a semantic duplicate if some
    HIGHER-PRIORITY vector in the SAME cluster has cosine ≥
    ``threshold`` — the paper's within-cluster greedy, which never
    compares across clusters. Returns (id, cell, n_dup_lower, kept):
    ``kept`` is the surviving subset, ``n_dup_lower`` the duplicate
    count that made the drop decision. Priority inside a duplicate
    neighborhood is id order (the lowest id survives), which the
    declared query's oracle replays.

    Mechanics, all content-addressed so an SQL oracle replays them:
    the coarse quantizer is the md5-bucket-ordered seed rows (the IVF/PQ
    convention — no trained state); assignment argmaxes the
    6dp-scaled-INT cosine with ties to the lowest cell (reassociation-
    free); the within-cluster comparator counts lower-id neighbors at
    or above the same integer threshold.

    Scale: this is the whole point of the paper — the quadratic
    comparator runs per CLUSTER, so cost is Σ|cluster|² instead of n²;
    ``n_clusters`` grows with the corpus (50k clusters on LAION in the
    paper) to keep clusters bounded. One mapInPandas assignment pass
    (model in closure, no shuffle), ONE shuffle on the cell, one numpy
    matmul per cluster. ``max_cluster_rows`` fails loudly if a cluster
    outgrows a task (the bounded-group contract); at real scale raise
    ``n_clusters``, don't raise the bound.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        BooleanType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    S = _seed_sample(
        corpus, id_col, vec_col, n_clusters, "semantic_dedup", "clusters"
    )
    S = S / np.linalg.norm(S, axis=1, keepdims=True)
    t_int = int(round(threshold * 1e6))
    id_type = corpus.schema[id_col].dataType

    asg_schema = StructType(
        [
            StructField(id_col, id_type),
            StructField("cell", IntegerType()),
            StructField(vec_col, corpus.schema[vec_col].dataType),
        ]
    )

    def assign(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            mat = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
            ci = np.round(np.round(mat @ S.T, 6) * 1e6).astype(np.int64)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "cell": np.argmax(ci, axis=1).astype(np.int32),
                    vec_col: pdf[vec_col],
                }
            )

    asg = corpus.select(id_col, vec_col).mapInPandas(assign, asg_schema)

    out_schema = StructType(
        [
            StructField(id_col, id_type),
            StructField("cell", IntegerType()),
            StructField("n_dup_lower", LongType()),
            StructField("kept", BooleanType()),
        ]
    )

    def per_cluster(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) > max_cluster_rows:
            raise ValueError(
                f"semantic_dedup: cluster of {len(pdf)} rows exceeds "
                f"max_cluster_rows={max_cluster_rows} — raise n_clusters"
            )
        pdf = pdf.sort_values(id_col).reset_index(drop=True)
        mat = np.array(pdf[vec_col].tolist(), dtype=np.float64)
        mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
        ci = np.round(np.round(mat @ mat.T, 6) * 1e6).astype(np.int64)
        # row j counts lower-id rows i<j at/above threshold
        dup = np.tril(ci >= t_int, -1).sum(axis=1).astype(np.int64)
        return pd.DataFrame(
            {
                id_col: pdf[id_col],
                "cell": pdf["cell"],
                "n_dup_lower": dup,
                "kept": dup == 0,
            }
        )

    return asg.groupBy("cell").applyInPandas(per_cluster, out_schema)


def knn_graph(
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    candidates: DataFrame | None = None,
    candidates_materialized: bool = False,
) -> DataFrame:
    """k-nearest-neighbor graph over an embedding corpus: for every
    vector, its ``k`` most-cosine-similar OTHER vectors — the backbone
    structure of graph-based ANN indexes, semantic-dedup clustering, and
    label-propagation over embeddings. Returns (key, neighbor, cos_sim,
    rank) with rank 1..k per key and the shared 6dp-rounded-cosine /
    (cos DESC, id ASC) tie convention, so an SQL oracle replays the
    graph exactly.

    By default pairs come from the exact block-grid
    (`cosine_pairs_blocked`, threshold −1: ALL pairs — Θ(n²·d) work
    partitioned over the grid, the exact semantic's inherent cost).
    At 100 TB pass ``candidates`` (LSH/IVF candidate pairs with a
    ``cos_sim`` column, `cosine_pairs_lsh`) and only candidate edges
    rank — the standard approximate-kNN-graph construction; the rank
    window and output contract stay identical.

    Post-pairs plan: one row-local symmetrize (each undirected pair
    feeds both endpoints' lists) + ONE key-partitioned rank window that
    WindowGroupLimit prunes to k rows per key before the final filter.
    """
    pairs = (
        cosine_pairs_blocked(
            corpus, threshold=-1.0, id_col=id_col, vec_col=vec_col
        )
        if candidates is None
        else candidates
    )
    # the symmetrize union consumes `pairs` twice; un-checkpointed, the
    # whole block-grid matmul (or the candidate generation) would run
    # twice (the containment_pairs multi-consumer rule).
    # ``candidates_materialized=True`` lets a caller that already
    # checkpointed its candidate pairs skip the redundant re-write
    # (r11-opt: the sweep checkpoints each config's pairs for the
    # count ledger anyway)
    if not candidates_materialized:
        pairs = pairs.localCheckpoint(eager=True)
    sym = pairs.select(
        F.col("key_a").alias("key"),
        F.col("key_b").alias("neighbor"),
        "cos_sim",
    ).unionByName(
        pairs.select(
            F.col("key_b").alias("key"),
            F.col("key_a").alias("neighbor"),
            "cos_sim",
        )
    )
    w = Window.partitionBy("key").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor")
    )
    return (
        sym.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .withColumn("rank", F.col("rank").cast("long"))
    )


def cosine_radius_search(
    corpus: DataFrame,
    queries: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """X4 radius (threshold) search: ALL corpus vectors with cosine >=
    ``threshold`` to each query — the other retrieval primitive next to
    `cosine_topk_vectorized`'s top-k (recall-complete candidate pulls,
    everything-similar-to-this-exemplar sweeps, near-dup probes of a
    new document against an index). Same execution shape: the
    L2-normalized query matrix ships in the task closure (query batches
    are small by contract), each Arrow batch does one BLAS matmul and
    keeps only rows over the threshold — output is result-sized, no
    rank window, no shuffle at all (the scan IS the plan). Self-matches
    are excluded; the 6dp rounding/tie conventions match the top-k path
    so one oracle family covers both."""
    import numpy as np
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    out_schema = StructType(
        [
            StructField(query_id_col, LongType()),
            StructField(id_col, LongType()),
            StructField("cos_sim", DoubleType()),
        ]
    )
    q_rows = queries.select(query_id_col, vec_col).collect()
    if not q_rows:
        return corpus.sparkSession.createDataFrame([], out_schema)
    q_ids = np.array([r[query_id_col] for r in q_rows])
    q_mat = np.array([r[vec_col] for r in q_rows], dtype=np.float64)
    q_mat /= np.linalg.norm(q_mat, axis=1, keepdims=True)

    def score(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            c = np.array(list(pdf[vec_col]), dtype=np.float64)
            c /= np.linalg.norm(c, axis=1, keepdims=True)
            sims = np.round(c @ q_mat.T, 6)  # (batch, nq)
            ids = pdf[id_col].to_numpy()
            ci, qi = np.nonzero(
                (sims >= threshold) & (ids[:, None] != q_ids[None, :])
            )
            yield pd.DataFrame(
                {
                    query_id_col: q_ids[qi],
                    id_col: ids[ci],
                    "cos_sim": sims[ci, qi],
                }
            )

    return corpus.select(id_col, vec_col).mapInPandas(score, schema=out_schema)
