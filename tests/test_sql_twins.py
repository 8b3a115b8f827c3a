"""Each engine kernel's DuckDB twin (the ``*_sql`` builder beside it, which
the declared oracles are built from) against the Spark kernel itself, on
hand-made inputs the fixture corpus does not contain: short documents,
repeated shingles, double and edge spaces, empty and NULL text."""

from __future__ import annotations

from pathlib import Path

import duckdb
import numpy as np
import pytest
from pyspark.sql import functions as F

from openmrs_patient_migration_script_spark.operators.dedup import (
    _band_buckets,
    _shingles,
    band_buckets_sql,
    md5_pair,
    minhash_signatures,
    minhash_signatures_sql,
    shingles_sql,
)
from openmrs_patient_migration_script_spark.operators.graph import (
    connected_components,
    connected_components_sql,
)
from openmrs_patient_migration_script_spark.operators.sampling import (
    hash_bucket,
    hash_bucket_sql,
)
from openmrs_patient_migration_script_spark.operators.similarity import (
    srp_hashed,
    srp_hashed_sql,
    srp_weights,
)
from openmrs_patient_migration_script_spark.operators.text import (
    LANG_MARKERS,
    langid_exprs,
    langid_exprs_sql,
    quality_exprs,
    quality_exprs_sql,
)
from openmrs_patient_migration_script_spark.operators.timeseries import (
    seasonal_decompose,
    seasonal_decompose_sql,
)
from openmrs_patient_migration_script_spark.plans import (
    dedup_queries,
    similarity_queries,
)

DOCS = [
    (1, "a b"),  # fewer tokens than a shingle
    (2, "x y z x y z x y z"),  # every shingle repeated
    (3, "p  q r s"),  # double space: an empty token
    (4, ""),
    (5, None),
    (6, " the fast hash join "),  # leading and trailing space
    (7, "one two three four five six seven eight"),
    (8, "one two three four five six seven nine"),  # near-duplicate of 7
    (9, "The Sort, a MERGE of data!"),  # case and punctuation
]

#: every (planes, tables) configuration a declared oracle hashes with
SRP_CONFIGS = sorted(
    {
        (similarity_queries._LSH_M, similarity_queries._LSH_L),
        (similarity_queries._MP_M, similarity_queries._MP_L),
        (similarity_queries._KNN_LSH_M, similarity_queries._KNN_LSH_L),
        (dedup_queries._EMB_LSH_M, dedup_queries._EMB_LSH_L),
        *similarity_queries._KNN_SWEEP_CFGS,
    }
)


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


@pytest.fixture(scope="module")
def duck_docs():
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", DOCS)
    yield con
    con.close()


def test_shingles_sql_matches_shingles(docs, duck_docs):
    spark_sh = {
        (r["doc_id"], r["shingle"])
        for r in docs.select(
            "doc_id", F.explode(_shingles(F.col("text"), 3)).alias("shingle")
        ).collect()
    }
    duck_sh = set(
        duck_docs.execute(f"WITH {shingles_sql()} SELECT doc_id, shingle FROM sh").fetchall()
    )
    assert duck_sh == spark_sh and spark_sh


#: every band count a declared oracle keys the 16-hash signature with
BAND_COUNTS = sorted({4, *(b for b, _, _ in dedup_queries._BAND_SWEEP)})


@pytest.mark.parametrize("bands", BAND_COUNTS)
def test_minhash_sql_matches_band_buckets(docs, duck_docs, bands):
    sig = minhash_signatures(docs, "doc_id", "text", 16, double_hash=md5_pair)
    spark_keys = {
        (r["key"], r["band"], ",".join(str(v) for v in r["bucket"]))
        for r in _band_buckets(sig, 16, bands, hash_buckets=False).collect()
    }
    duck_keys = set(
        duck_docs.execute(
            f"""WITH {shingles_sql()},
            {minhash_signatures_sql()},
            {band_buckets_sql(bands, suffix=f"_{bands}")}
            SELECT doc_id, band, sig_str FROM bands_{bands}"""
        ).fetchall()
    )
    assert duck_keys == spark_keys and spark_keys


@pytest.mark.parametrize("m,L", SRP_CONFIGS)
def test_srp_hashed_sql_matches_srp_kernels(spark, m, L):
    dim = 64
    # integer components: every projection is exact on both engines, so
    # a sign decision never depends on summation order
    vecs = np.random.default_rng(m * 100 + L).integers(-5, 6, (12, dim))
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    con = duckdb.connect()
    con.execute("CREATE TABLE vec (vec_id BIGINT, v DOUBLE[])")
    con.executemany("INSERT INTO vec VALUES (?, ?)", rows)
    planes = np.zeros((m * L, dim))
    for p, d, w in con.execute(
        f"WITH {srp_hashed_sql(m, L)} SELECT p, d, w FROM planes"
    ).fetchall():
        planes[p, d] = w
    assert (planes == srp_weights(spark, dim, m, L, hash_mode="md5")).all()

    duck_bkts = set(
        con.execute(
            f"WITH {srp_hashed_sql(m, L)} SELECT vec_id, tbl, bkt FROM buckets"
        ).fetchall()
    )
    con.close()
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    spark_bkts = {
        (r["vec_id"], r["_tbl"], r["_bkt"])
        for r in srp_hashed(emb, "vec_id", m, L, hash_mode="md5").collect()
    }
    assert duck_bkts == spark_bkts and len(spark_bkts) == len(rows) * L


#: every bucket count a declared oracle splits with
@pytest.mark.parametrize("buckets", [2, 1000, 1_000_000])
def test_hash_bucket_sql_matches_hash_bucket(spark, buckets):
    rows = [(None, None), (0, ""), (1, "1"), (-7, "doc-7"), (2**40, "Zürich")]
    con = duckdb.connect()
    con.execute("CREATE TABLE keys (i BIGINT, s VARCHAR)")
    con.executemany("INSERT INTO keys VALUES (?, ?)", rows)
    duck = con.execute(
        f"SELECT {hash_bucket_sql('i', buckets)}, {hash_bucket_sql('s', buckets)} FROM keys"
    ).fetchall()
    con.close()
    df = spark.createDataFrame(rows, "i long, s string")
    got = [
        tuple(r)
        for r in df.select(
            hash_bucket(F.col("i"), buckets), hash_bucket(F.col("s"), buckets)
        ).collect()
    ]
    assert got == duck and got[0] == (None, None)


def _quality_rows(docs, duck_docs):
    exprs = quality_exprs(F.col("text"))
    sql = quality_exprs_sql()
    assert list(sql) == list(exprs)
    spark_rows = docs.select(
        "doc_id", *[c.alias(name) for name, c in exprs.items()]
    ).collect()
    duck_rows = duck_docs.execute(
        "SELECT doc_id, "
        + ", ".join(f"{e} AS {name}" for name, e in sql.items())
        + " FROM documents"
    ).fetchall()
    return {r[0]: tuple(r) for r in spark_rows}, {r[0]: r for r in duck_rows}


def _langid_rows(docs, duck_docs):
    langs = sorted(LANG_MARKERS)
    scores, pred = langid_exprs(F.col("text"))
    spark_rows = docs.select(
        "doc_id", *[scores[lang] for lang in langs], pred
    ).collect()
    score_list, argmax = langid_exprs_sql()
    duck_rows = duck_docs.execute(
        f"""SELECT doc_id, {", ".join(f"score_{lang}" for lang in langs)},
               {argmax}
        FROM (SELECT doc_id, {score_list} FROM documents)"""
    ).fetchall()
    return {r[0]: tuple(r) for r in spark_rows}, {r[0]: r for r in duck_rows}


NULL_DOC = 5


@pytest.mark.parametrize("rows", [_quality_rows, _langid_rows])
def test_text_twins_match_kernels(docs, duck_docs, rows):
    spark_rows, duck_rows = rows(docs, duck_docs)
    del spark_rows[NULL_DOC], duck_rows[NULL_DOC]  # pinned below
    assert duck_rows == spark_rows


@pytest.mark.parametrize("rows", [_quality_rows, _langid_rows])
def test_text_twins_match_kernels_on_null_text(docs, duck_docs, rows):
    """NULL text gives NULL signals and a NULL language on both engines
    (Spark's ``size(NULL)`` is -1 with ANSI off, so the kernels count with
    ``array_size``)."""
    spark_rows, duck_rows = rows(docs, duck_docs)
    assert duck_rows[NULL_DOC] == spark_rows[NULL_DOC]
    assert set(spark_rows[NULL_DOC][1:]) == {None}


#: hand-made pair graphs: (name, [(key_a, key_b), ...])
CC_EDGES = {
    "path": [(1, 2), (2, 3), (3, 4)],
    "two_components": [(5, 6), (1, 2), (6, 7)],
    "reversed_duplicate": [(1, 2), (2, 1), (3, 2)],
    "self_loop_only": [(4, 4), (1, 2)],
    "null_endpoint": [(1, None), (2, 3), (None, 5)],
}


@pytest.mark.parametrize("local_threshold", [None, 0])
@pytest.mark.parametrize("case", sorted(CC_EDGES))
def test_connected_components_sql_matches_kernel(spark, case, local_threshold):
    """The closure twin gives the kernel's labels on every tier (0 forces
    the Small-Star/Large-Star rounds), a NULL endpoint linking nothing."""
    rows = CC_EDGES[case]
    con = duckdb.connect()
    con.execute("CREATE TABLE pairs (key_a BIGINT, key_b BIGINT)")
    con.executemany("INSERT INTO pairs VALUES (?, ?)", rows)
    duck = set(
        con.execute(
            f"WITH RECURSIVE {connected_components_sql()} "
            "SELECT node, cluster FROM labels"
        ).fetchall()
    )
    con.close()
    edges = spark.createDataFrame(rows, "key_a long, key_b long")
    tiers = {} if local_threshold is None else {"local_threshold": local_threshold}
    got = {tuple(r) for r in connected_components(edges, **tiers).collect()}
    assert duck == got and got


#: hand-made events: (user_id, event_id, ts, value)
EVENTS = [
    (1, 1, "2024-01-01 00:00:00", 1.5),  # a user with one event
    (2, 2, "2024-01-01 05:00:00", 1.0),  # equal timestamps
    (2, 3, "2024-01-01 05:00:00", 2.0),
    (2, 4, "2024-01-01 07:30:00", 0.5),
    # hour 3 sits far below its neighbours on two days: a negative
    # detrended sum, so the seasonal mean rounds on its ELSE branch
    (3, 5, "2024-01-01 01:00:00", 10.0),
    (3, 6, "2024-01-01 03:00:00", 0.1),
    (3, 7, "2024-01-01 05:00:00", 9.7),
    (3, 8, "2024-01-02 01:00:00", 8.3),
    (3, 9, "2024-01-02 03:00:00", 0.2),
    (3, 10, "2024-01-02 16:00:00", 4.0),
]


def test_seasonal_decompose_sql_matches_kernel(spark):
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE events "
        "(user_id BIGINT, event_id BIGINT, ts TIMESTAMP, value DOUBLE)"
    )
    con.executemany("INSERT INTO events VALUES (?, ?, ?, ?)", EVENTS)
    duck = set(
        con.execute(
            f"WITH {seasonal_decompose_sql()} "
            "SELECT user_id, event_id, trend6, d, seasonal6 FROM decomp"
        ).fetchall()
    )
    con.close()
    events = spark.createDataFrame(
        EVENTS, "user_id long, event_id long, ts string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    scaled = seasonal_decompose(
        events, "user_id", "ts", "event_id", "value", emit_scaled=True
    )
    got = {
        tuple(r)
        for r in scaled.select(
            "user_id", "event_id", "_trend6", "_d", "_seasonal6"
        ).collect()
    }
    assert duck == got and len(got) == len(EVENTS)
    assert any(seasonal6 < 0 for *_, seasonal6 in got)


PLANS = Path(__file__).resolve().parent.parent / (
    "openmrs_patient_migration_script_spark/plans"
)

#: one line of each fragment that has one builder, with its copies in
#: plans/: 1 where the builder lives there, 0 where it is a kernel's twin
#: in operators/. Another copy is a pasted fragment that should compose
#: the builder instead.
SHARED_FRAGMENTS = {
    "substring(a.name, 1, 7) = substring(b.name, 1, 7)": 1,  # fuzzy-name block
    "reach(node, label)": 0,  # transitive closure
    "(node, label) AS (": 0,
    "WITH mx AS": 0,  # doubling graph
    "mx AS (SELECT max(c_custkey) AS m FROM customer)": 1,
    'F.max("c_custkey")).collect()': 1,
    "RANGE BETWEEN 43200000 PRECEDING": 0,  # seasonal decomposition
    "p AS ( SELECT event_id, user_id, ts": 1,  # as-of inputs
    "v AS ( SELECT event_id, user_id, ts": 1,
    "ORDER BY cos_sim DESC, vec_id) AS rn": 1,  # top-k tail
    "round(list_cosine_similarity(qv.v, cv.v), 6) AS cos_sim": 1,
}


@pytest.mark.parametrize("fragment", sorted(SHARED_FRAGMENTS))
def test_shared_fragment_has_one_copy(fragment):
    """Whitespace-normalized, each shared fragment occurs in the plan
    modules only where its builder is."""
    copies = {
        p.name: n
        for p in sorted(PLANS.glob("*.py"))
        if (n := " ".join(p.read_text().split()).count(fragment))
    }
    assert sum(copies.values()) == SHARED_FRAGMENTS[fragment], copies
