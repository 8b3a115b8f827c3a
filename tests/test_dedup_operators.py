"""Unit tests for the dedup operator library (SURVEY.md §2.9 X1-X3) —
planted near-duplicates, skew caps, and the SimHash/Hamming path that
round-1 shipped unexercised."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from openmrs_patient_migration_script_spark.operators.dedup import (
    fuzzy_dedup_pairs,
    minhash_candidate_pairs,
    ngram_jaccard_pairs,
    simhash,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, ["key", "text"])


def test_simhash_identical_texts_collide(spark):
    df = _docs(
        spark,
        [
            (1, "spark query engine for large scale data"),
            (2, "spark query engine for large scale data"),
            (3, "completely different words about gardening tulips soil"),
        ],
    )
    fp = simhash(df, "key", "text")
    rows = {r["key"]: r["simhash"] for r in fp.collect()}
    assert rows[1] == rows[2]
    pairs = (
        fp.alias("a")
        .join(fp.alias("b"), F.col("a.key") < F.col("b.key"))
        .select(
            F.col("a.key").alias("key_a"),
            F.col("b.key").alias("key_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("hd"),
        )
    )
    hd = {(r["key_a"], r["key_b"]): r["hd"] for r in pairs.collect()}
    assert hd[(1, 2)] == 0
    assert hd[(1, 3)] > 0


def test_minhash_lsh_finds_planted_near_duplicates(spark):
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    near = base.replace("today", "tonight")  # one token differs
    far = "completely unrelated text about database engines and vectorized execution plans"
    df = _docs(spark, [(1, base), (2, near), (3, far)])
    cand = minhash_candidate_pairs(df, "key", "text", num_hashes=16, bands=8)
    pairs = {(r["key_a"], r["key_b"]) for r in cand.collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_ngram_jaccard_max_df_drops_hot_shingle(spark):
    # every doc shares the hot shingle "a b c"; only 1/2 share more.
    rows = [(i, f"a b c x{i} y{i} z{i}") for i in range(1, 6)]
    rows[1] = (2, "a b c x1 y1 z2")  # near-dup of doc 1
    df = _docs(spark, rows)
    capped = ngram_jaccard_pairs(df, "key", "text", shingle_n=3, min_shared=2, max_df=3)
    pairs = {(r["key_a"], r["key_b"]) for r in capped.collect()}
    # hot shingle (df=5 > cap) is excluded, so only the genuine near-dup pair
    # still shares >= 2 shingles
    assert pairs == {(1, 2)}
    uncapped = ngram_jaccard_pairs(df, "key", "text", shingle_n=3, min_shared=1, max_df=None)
    assert uncapped.count() == 10  # all C(5,2) pairs share the hot shingle


def test_containment_catches_embedded_quote(spark):
    """A short doc wholly embedded in a long one: containment ~ 1 even
    though Jaccard is small — the case the asymmetric score exists for."""
    from openmrs_patient_migration_script_spark.operators.dedup import (
        containment_pairs,
    )

    short = "q1 q2 q3 q4 q5 q6"
    long = "a1 a2 a3 a4 " + short + " b1 b2 b3 b4 b5 b6 b7 b8 b9 b10"
    df = _docs(spark, [(1, short), (2, long), (3, "z1 z2 z3 z4 z5 z6 z7")])
    out = {
        (r.key_a, r.key_b): (r.inter_cnt, r.n_a)
        for r in containment_pairs(df, "key", "text", shingle_n=3).collect()
    }
    # doc 1 has 4 shingles, all present in doc 2 → containment 1.0
    assert out[(1, 2)] == (4, 4)
    # reverse orientation shares the same intersection over doc 2's size
    inter, n_a = out[(2, 1)]
    assert inter == 4 and n_a > 10  # jaccard would be 4/(4+n_a-4) — small
    assert (1, 3) not in out and (3, 1) not in out


def test_dp_noisy_counts_mechanism(spark):
    from openmrs_patient_migration_script_spark.operators.privacy import (
        dp_noisy_counts,
    )

    rows = [(i, "g%d" % (i % 3)) for i in range(300)]
    df = spark.createDataFrame(rows, ["id", "grp"])
    out1 = {r.grp: r.noisy_count for r in dp_noisy_counts(df, ["grp"], "s1", repeats=2).collect()}
    out2 = {r.grp: r.noisy_count for r in dp_noisy_counts(df, ["grp"], "s1", repeats=2).collect()}
    other = {r.grp: r.noisy_count for r in dp_noisy_counts(df, ["grp"], "s2", repeats=2).collect()}
    assert out1 == out2  # content-addressed: reruns are byte-identical
    assert other != out1  # a new salt is a new draw
    for g, v in out1.items():
        assert abs(v - 100) <= 60  # |binomial noise| <= repeats * 30
    # threshold suppresses on the NOISY value
    high = dp_noisy_counts(df, ["grp"], "s1", repeats=2, threshold=10_000)
    assert high.count() == 0
    # NULL group keys: the coalesce sentinel must keep ('en', NULL) a
    # distinct, deterministic group — not collide with ('en',)-style
    # concatenations and not null the hash out (the SQL `||` trap)
    nk = spark.createDataFrame(
        [("en", None)] * 5 + [("en", "s1")] * 5, "lang string, source string"
    )
    out = {
        (r.lang, r.source): r.noisy_count
        for r in dp_noisy_counts(nk, ["lang", "source"], "s1", repeats=1).collect()
    }
    assert set(out) == {("en", None), ("en", "s1")}
    assert all(v is not None and abs(v - 5) <= 30 for v in out.values())


def test_max_id_offset(spark):
    from openmrs_patient_migration_script_spark.operators.etl import max_id_offset

    df = spark.createDataFrame([(5,), (17,), (3,)], ["id"])
    assert max_id_offset(df, "id") == 17
    empty = df.filter("id > 100")
    assert max_id_offset(empty, "id") == 0


def test_connected_components_planted_clusters(spark):
    from openmrs_patient_migration_script_spark.operators.graph import (
        connected_components,
    )

    # two components: a chain 1-2-3-4 (tests multi-hop label travel) and
    # the pair 10-11; node 99 appears only via edge 10-99
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (10, 99)], ["key_a", "key_b"]
    )
    got = {r["node"]: r["cluster"] for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 99: 10}

    # the Small-Star/Large-Star rounds (forced via local_threshold=0)
    # must agree with the adaptive union-find path exactly
    looped = {
        r["node"]: r["cluster"]
        for r in connected_components(edges, local_threshold=0).collect()
    }
    assert looped == got


def test_connected_components_drops_null_endpoint_edges(spark, monkeypatch):
    """An edge with a NULL endpoint links nothing: NULL is not a node.
    Node 3 reaches the graph only through NULL, so it drops out, and 2
    and 3 are NOT merged through the NULL. Every tier — driver
    union-find, contraction funnel (driver tier patched to 0) and the
    forced Small-Star/Large-Star rounds — returns the same labels."""
    from openmrs_patient_migration_script_spark.operators import graph
    from openmrs_patient_migration_script_spark.operators.graph import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, None), (None, 3), (4, 5)], "key_a long, key_b long"
    )
    want = {1: 1, 2: 1, 4: 4, 5: 4}

    def labels(**kw):
        return {
            r["node"]: r["cluster"]
            for r in connected_components(edges, **kw).collect()
        }

    assert labels() == want
    assert labels(local_threshold=0) == want
    monkeypatch.setattr(graph, "_DRIVER_TIER", 0)
    assert labels() == want


def test_contract_components_preserves_components(spark):
    """r9 partition-local contraction: under an ADVERSARIAL partitioning
    (every edge its own partition — no local merging possible) the star
    output must still carry the same components and the same node
    universe as the input; a second pass over repartition(1) must land
    on the exact global min-member stars."""
    from openmrs_patient_migration_script_spark.operators.graph import (
        contract_components,
    )

    edges = [(1, 2), (2, 3), (3, 4), (10, 11), (10, 99), (7, 8), (8, 7)]
    df = spark.createDataFrame(edges, "key_a long, key_b long").repartition(
        len(edges)
    )
    stars = contract_components(df).localCheckpoint(eager=True)
    # node universe: every endpoint appears in the star set
    nodes = set()
    for row in stars.collect():
        nodes.add(row[0])
        nodes.add(row[1])
    assert nodes == {1, 2, 3, 4, 7, 8, 10, 11, 99}
    final = contract_components(stars.repartition(1))
    got = {r["key_a"]: r["key_b"] for r in final.collect()}
    assert got == {2: 1, 3: 1, 4: 1, 8: 7, 11: 10, 99: 10}


def test_connected_components_string_keys_funnel(spark, monkeypatch):
    """String node keys ride the numpy contraction (np.unique sorts
    object arrays by code point == Spark's UTF8_BINARY min) — funnel,
    driver tier, and the star rounds (plain and on contracted edges)
    must agree. The driver tier is monkeypatched to 0 so the tiny
    fixture actually exercises the funnel (default tiers route it to
    the driver union-find)."""
    from openmrs_patient_migration_script_spark.operators import graph
    from openmrs_patient_migration_script_spark.operators.graph import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [("b", "a"), ("b", "c"), ("x", "z"), ("é", "e")],
        "key_a string, key_b string",
    )
    want = {"a": "a", "b": "a", "c": "a", "x": "x", "z": "x", "e": "e", "é": "e"}
    for df in (
        connected_components(edges),
        connected_components(edges, local_threshold=0),
        connected_components(edges, local_threshold=1),
    ):
        assert {r["node"]: r["cluster"] for r in df.collect()} == want
    monkeypatch.setattr(graph, "_DRIVER_TIER", 0)
    funneled = connected_components(edges)
    assert {r["node"]: r["cluster"] for r in funneled.collect()} == want


@pytest.mark.slow
def test_connected_components_self_loop_only_node_kept(spark, monkeypatch):
    """A node whose only edge is a self-loop has no star edge, but it is
    its own singleton cluster — the driver tier, the funnel's center
    re-attachment (driver tier patched to 0 so the tiny fixture takes
    the funnel) and both forms of the star rounds must all keep it."""
    from openmrs_patient_migration_script_spark.operators import graph
    from openmrs_patient_migration_script_spark.operators.graph import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [(1, 2), (5, 5)], "key_a long, key_b long"
    )
    want = {1: 1, 2: 1, 5: 5}
    got = {r["node"]: r["cluster"] for r in connected_components(edges).collect()}
    assert got == want
    looped = {
        r["node"]: r["cluster"]
        for r in connected_components(edges, local_threshold=0).collect()
    }
    assert looped == want
    monkeypatch.setattr(graph, "_DRIVER_TIER", 0)
    funneled = {
        r["node"]: r["cluster"] for r in connected_components(edges).collect()
    }
    assert funneled == want
    # local_threshold=1 pushes the 4-row sym ABOVE the funnel tier, so
    # the star rounds run on the contraction-shrunk edges — the branch
    # that must self-loop-filter before contracting and re-attach the
    # dropped node (r9 advice: it silently vanished otherwise)
    prepassed = {
        r["node"]: r["cluster"]
        for r in connected_components(edges, local_threshold=1).collect()
    }
    assert prepassed == want


def test_salted_topk_matches_plain_window(spark):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from openmrs_patient_migration_script_spark.operators.skew import (
        salted_topk_per_key,
    )

    # one hot key (0) with 500 rows, a few cold keys
    rows = [(0, i, float((i * 37) % 991)) for i in range(500)]
    rows += [(kk, i, float(i)) for kk in (1, 2) for i in range(5)]
    df = spark.createDataFrame(rows, ["key", "rid", "score"])
    order = [F.desc("score"), F.col("rid")]
    got = salted_topk_per_key(df, ["key"], order, k=3)
    w = Window.partitionBy("key").orderBy(*order)
    want = (
        df.withColumn("rn", F.row_number().over(w)).filter("rn <= 3").drop("rn")
    )
    as_set = lambda d: {tuple(r) for r in d.collect()}  # noqa: E731
    assert as_set(got) == as_set(want)


def test_salted_join_matches_plain_join(spark):
    from pyspark.sql import functions as F

    from openmrs_patient_migration_script_spark.operators.skew import salted_join

    # hot key 0 dominates the big side; key 99 has no match (left probe)
    big = spark.createDataFrame(
        [(0, i) for i in range(400)] + [(1, 1000), (2, 2000), (99, 9000)],
        ["k", "v"],
    )
    small = spark.createDataFrame([(0, "a"), (1, "b"), (2, "c")], ["k", "w"])
    as_set = lambda d: {tuple(r) for r in d.collect()}  # noqa: E731
    for how in ("inner", "left", "left_semi", "left_anti"):
        got = salted_join(big, small, ["k"], how=how, salts=8)
        want = big.join(small, ["k"], how)
        assert as_set(got) == as_set(want), how
    # the salted inner plan must join on (k, _salt), not k alone
    plan = (
        salted_join(big, small, ["k"], salts=8)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "_salt" in plan


def test_common_neighbors_planted_wedges_and_cap(spark):
    from openmrs_patient_migration_script_spark.operators.graph import (
        common_neighbors,
    )

    # square 1-2-3-4-1: diagonals (1,3) and (2,4) each share two neighbors;
    # reversed duplicate edge (2,1) must not distort anything
    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 4), (4, 1)], ["key_a", "key_b"]
    )
    got = {
        (r.key_a, r.key_b): (r.common_cnt, r.deg_a, r.deg_b)
        for r in common_neighbors(edges).collect()
    }
    assert got == {(1, 3): (2, 2, 2), (2, 4): (2, 2, 2)}

    # hub node 0 connected to 1..5: every leaf pair is a wedge through 0,
    # but capping degree below 5 drops the hub midpoint entirely
    hub = spark.createDataFrame([(0, i) for i in range(1, 6)], ["key_a", "key_b"])
    assert common_neighbors(hub, max_degree=10).count() == 10  # C(5,2)
    assert common_neighbors(hub, max_degree=4).count() == 0


def test_repeated_span_stats_planted_boilerplate(spark):
    from openmrs_patient_migration_script_spark.operators.dedup import (
        repeated_span_stats,
    )

    boiler = "all rights reserved contact us at example dot com"  # 9 tokens
    rows = [
        # two docs sharing the 9-token boilerplate (plus unique tails
        # long enough to keep coverage under the 50% flag line)
        (1, boiler + " alpha beta gamma delta epsilon zeta eta theta iota"
            " kappa lam mu"),
        (2, "unique preamble here first second third fourth fifth sixth"
            " seventh " + boiler),
        # doc with NO cross-doc repetition
        (3, "totally original content nothing shared anywhere at all ok"),
        # short doc fully made of the boilerplate -> flagged
        (4, boiler),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["key"]: r
        for r in repeated_span_stats(
            df, "doc_id", "text", span_tokens=5, min_docs=2, flag_pct=50
        ).collect()
    }
    # doc 3 shares nothing -> absent from the audit entirely
    assert 3 not in out
    # the 9-token boilerplate = 5 overlapping 5-gram starts -> ONE merged
    # span covering exactly 9 tokens in every doc that carries it
    for d in (1, 2, 4):
        assert out[d]["n_spans"] == 1
        assert out[d]["n_tokens_covered"] == 9
        assert out[d]["n_occurrences"] == 5
    # coverage flag: doc 4 is 100% boilerplate (flagged), docs 1-2 carry
    # it as a minority of their tokens (9/21 and 9/19 -> under 50%)
    assert out[4]["flagged"] is True
    assert out[1]["flagged"] is False
    assert out[2]["flagged"] is False


def test_minhash_incremental_matches_cross_slice_of_self_join(spark):
    """Cross-corpus banding == the batch×index slice of the full
    self-join on the union (same hash family) — and batch-internal
    pairs are NOT reported (they belong to the batch's own dedup)."""
    from openmrs_patient_migration_script_spark.operators.dedup import (
        minhash_candidate_pairs,
        minhash_pairs_against,
    )

    base = ("the quick brown fox jumps over the lazy dog again and again "
            "while the corpus grows daily with near duplicate entries")
    rows = [
        (2, base + " v1"),          # index
        (4, "totally different text about spark shuffles joins windows "
            "aggregates broadcasts and adaptive execution plans"),  # index
        (1, base + " v2"),          # batch: near-dup of index doc 2
        (3, base + " v3"),          # batch: near-dup of 1 AND 2
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    index = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    got = {
        (r.batch_key, r.index_key)
        for r in minhash_pairs_against(index, batch, "doc_id", "text").collect()
    }
    full = {
        tuple(sorted((r.key_a, r.key_b)))
        for r in minhash_candidate_pairs(docs, "doc_id", "text").collect()
    }
    cross = {
        (b, i) for (x, y) in full
        for (b, i) in [(x, y) if x % 2 == 1 else (y, x)]
        if b % 2 == 1 and i % 2 == 0
    }
    assert got == cross
    # the planted cross near-dups are found; batch-internal (1,3) is not
    assert (1, 2) in got and (3, 2) in got
    assert all(i % 2 == 0 and b % 2 == 1 for b, i in got)


def test_paragraph_dedup_keeps_first_and_reassembles(spark):
    from openmrs_patient_migration_script_spark.operators.dedup import (
        paragraph_dedup,
    )

    boiler = "b1 b2 b3"  # 3-token paragraph with para_tokens=3
    df = _docs(
        spark,
        [
            (1, f"{boiler} u1 u2 u3"),          # boiler first seen here
            (2, f"{boiler} v1 v2 v3"),          # boiler repeated -> dropped
            (3, f"w1 w2 w3 {boiler}"),          # repeated at pos 1
            (4, boiler),                        # entirely boilerplate
        ],
    )
    out = {
        r["key"]: r
        for r in paragraph_dedup(
            df, key_col="key", para_tokens=3
        ).collect()
    }
    assert out[1]["n_paras"] == 2 and out[1]["n_kept"] == 2
    assert out[1]["text_dedup"] == "b1 b2 b3 u1 u2 u3"
    assert out[2]["n_kept"] == 1 and out[2]["text_dedup"] == "v1 v2 v3"
    assert out[3]["n_kept"] == 1 and out[3]["text_dedup"] == "w1 w2 w3"
    assert out[4]["n_kept"] == 0 and out[4]["text_dedup"] == ""


def test_paragraph_dedup_short_tail_paragraph_distinct(spark):
    from openmrs_patient_migration_script_spark.operators.dedup import (
        paragraph_dedup,
    )

    # a short tail chunk must not collide with a full chunk sharing its
    # prefix tokens
    df = _docs(spark, [(1, "a b c a b"), (2, "a b")])
    out = {
        r["key"]: r
        for r in paragraph_dedup(
            df, key_col="key", para_tokens=3
        ).collect()
    }
    # doc 1: paras "a b c", "a b"(tail); doc 2: "a b" repeats doc 1's tail
    assert out[1]["n_kept"] == 2
    assert out[2]["n_kept"] == 0


def test_fellegi_sunter_patterns_and_classes(spark):
    from openmrs_patient_migration_script_spark.operators.dedup import (
        fellegi_sunter_pairs,
    )

    a = spark.createDataFrame(
        [(1, "abcdefghi", 7, "AUTO"), (2, "abcdexxyy", 3, "HOUSE")],
        ["rid", "name", "nation", "segment"],
    ).withColumn("blk", F.substring("name", 1, 5))
    b = spark.createDataFrame(
        [
            (101, "abcdefghi", 7, "AUTO"),     # exact twin of 1 -> EEE
            (102, "abcdefghz", 7, "AUTO"),     # name 1 edit      -> CEE
            (103, "abcdefghi", 9, "STEEL"),    # name-only match  -> EMM
            (104, "abcdeqqqq", 1, "FOOD"),     # all miss         -> below cut
        ],
        ["rid", "name", "nation", "segment"],
    ).withColumn("blk", F.substring("name", 1, 5))
    fields = [
        {"col": "name", "w_match": 4000, "w_miss": -1500, "close": (1, 2500)},
        {"col": "nation", "w_match": 1200, "w_miss": -800},
        {"col": "segment", "w_match": 700, "w_miss": -600},
    ]
    out = {
        (r["key_a"], r["key_b"]): r
        for r in fellegi_sunter_pairs(a, b, "rid", ["blk"], fields).collect()
    }
    assert out[(1, 101)]["pattern"] == "EEE"
    assert out[(1, 101)]["score"] == 5900
    assert out[(1, 101)]["match_class"] == "match"
    assert out[(1, 102)]["pattern"] == "CEE"
    assert out[(1, 102)]["score"] == 4400
    assert out[(1, 102)]["match_class"] == "match"
    assert out[(1, 103)]["pattern"] == "EMM"
    assert out[(1, 103)]["score"] == 2600
    assert out[(1, 103)]["match_class"] == "possible"
    # (1,104) scores -1500-800-600 < t_possible; (2,*) blocks differ
    assert (1, 104) not in out
    assert all(k[0] != 2 for k in out)


def test_k_core_peels_tail_and_keeps_cycle(spark):
    from openmrs_patient_migration_script_spark.operators.graph import (
        k_core,
        k_core_converged,
    )

    # square 1-2-3-4-1 with a pendant chain 4-5-6: the chain peels over
    # TWO rounds (6 first, then 5), the cycle survives with degree 2
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 1), (4, 5), (5, 6)],
        ["key_a", "key_b"],
    )
    out = {r["node"]: r["core_deg"] for r in k_core(edges, k=2).collect()}
    assert out == {1: 2, 2: 2, 3: 2, 4: 2}
    assert k_core_converged(edges, k=2, n_rounds=6)
    # k=3: the square has no 3-core at all
    assert k_core(edges, k=3).count() == 0


def test_graph_kcore_fixture_converges_within_declared_rounds(spark):
    from openmrs_patient_migration_script_spark.operators.graph import k_core

    from openmrs_patient_migration_script_spark.plans.dedup_queries import (
        graph_kcore,
    )

    sf = "/root/testdata/sf0.001"
    declared = graph_kcore(spark, sf)
    # one extra round changes nothing: the declared 6-round form IS the
    # true 2-core on this fixture, not a truncation of it
    from openmrs_patient_migration_script_spark.sources import load_table
    from pyspark.sql import functions as F2

    c = load_table(spark, sf, "customer")
    mx = c.agg(F2.max("c_custkey")).collect()[0][0]
    e = c.filter(F2.col("c_custkey") * 2 <= mx).select(
        F2.col("c_custkey").alias("key_a"),
        (F2.col("c_custkey") * 2).alias("key_b"),
    ).unionByName(
        c.filter(F2.col("c_custkey") * 3 <= mx).select(
            F2.col("c_custkey").alias("key_a"),
            (F2.col("c_custkey") * 3).alias("key_b"),
        )
    )
    seven = k_core(e, k=2, n_rounds=7)
    assert declared.exceptAll(seven).count() == 0
    assert seven.exceptAll(declared).count() == 0


def test_k_core_canonicalizes_duplicate_and_self_edges(spark):
    from openmrs_patient_migration_script_spark.operators.graph import k_core

    # one undirected edge reported in BOTH orientations plus a self-loop:
    # uncanonicalized symmetrization would give deg=2 everywhere and
    # fabricate a 2-core out of a single edge
    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (3, 3)], ["key_a", "key_b"]
    )
    assert k_core(edges, k=2).count() == 0


def test_incremental_components_equal_full_rerun(spark):
    """Star-replay correctness: components(index ∪ today's edges) via the
    incremental operator must equal components(ALL edges) — including a
    bridge edge that merges two indexed clusters, and indexed singletons
    with no new edge must survive with their old label."""
    from openmrs_patient_migration_script_spark.operators.graph import (
        connected_components,
        connected_components_incremental,
    )

    hist = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], ["key_a", "key_b"]
    )
    index = connected_components(hist, local_threshold=0)
    # seed an indexed singleton (appears in no edge at all)
    index = index.unionByName(
        spark.createDataFrame([(99, 99)], ["node", "cluster"])
    )
    today = spark.createDataFrame(
        [(3, 10), (20, 21)], ["key_a", "key_b"]  # bridge + brand-new pair
    )
    inc = {
        r["node"]: r["cluster"]
        for r in connected_components_incremental(
            index, today, local_threshold=0
        ).collect()
    }
    full = {
        r["node"]: r["cluster"]
        for r in connected_components(
            hist.unionByName(today), local_threshold=0
        ).collect()
    }
    assert {k: v for k, v in inc.items() if k != 99} == full
    assert inc[99] == 99


def test_minhash_pairs_against_precomputed_index_signatures(spark):
    """ADVICE r5: the index_signatures fast path must (a) reproduce the
    recompute path's pairs exactly, (b) fail loud on a schema that was
    signed with different params, and (c) require at least one index
    representation."""
    import pytest

    from openmrs_patient_migration_script_spark.operators.dedup import (
        minhash_pairs_against,
        minhash_signatures,
    )

    base = ("the quick brown fox jumps over the lazy dog again and again "
            "while the corpus grows daily with near duplicate entries")
    rows = [
        (2, base + " v1"),
        (4, "totally different text about spark shuffles joins windows "
            "aggregates broadcasts and adaptive execution plans"),
        (1, base + " v2"),
        (3, base + " v3"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    index = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    recomputed = {
        (r.batch_key, r.index_key)
        for r in minhash_pairs_against(index, batch, "doc_id", "text").collect()
    }
    sigs = minhash_signatures(index, "doc_id", "text", num_hashes=16)
    fast = {
        (r.batch_key, r.index_key)
        for r in minhash_pairs_against(
            None, batch, "doc_id", "text", index_signatures=sigs
        ).collect()
    }
    assert fast == recomputed and fast  # identical AND non-vacuous
    wrong = minhash_signatures(index, "doc_id", "text", num_hashes=8)
    with pytest.raises(ValueError, match="schema mismatch"):
        minhash_pairs_against(
            None, batch, "doc_id", "text", index_signatures=wrong
        )
    with pytest.raises(ValueError, match="index_df or index_signatures"):
        minhash_pairs_against(None, batch, "doc_id", "text")


def test_integral_key_guards_fail_loud_on_string_keys(spark):
    """ADVICE r5: key-packing operators must reject non-integral keys
    instead of silently NULLing every packed address (paragraph_dedup
    dropped ALL paragraphs; weighted_sample sampled on null tickets)."""
    import pytest

    from openmrs_patient_migration_script_spark.operators.dedup import (
        paragraph_dedup,
        span_rewrite,
    )
    from openmrs_patient_migration_script_spark.operators.sampling import (
        weighted_sample,
    )

    docs = spark.createDataFrame(
        [("doc-a", "one two three four five six seven eight nine ten")],
        ["doc_id", "text"],
    )
    with pytest.raises(ValueError, match="integral"):
        paragraph_dedup(docs, key_col="doc_id")
    with pytest.raises(ValueError, match="integral"):
        span_rewrite(docs, key_col="doc_id")
    items = spark.createDataFrame([("k-1", 3), ("k-2", 5)], ["key", "w"])
    with pytest.raises(ValueError, match="integral"):
        weighted_sample(items, "key", F.col("w"), k=1)


def test_fellegi_sunter_rejects_inverted_close_weights(spark):
    """ADVICE r5: w_close < w_miss would let the Levenshtein
    short-circuit emit a wrongly-patterned higher score — reject it."""
    import pytest

    from openmrs_patient_migration_script_spark.operators.dedup import (
        fellegi_sunter_pairs,
    )

    a = spark.createDataFrame([(1, "abcde", 7)], ["rid", "name", "nation"])
    b = spark.createDataFrame([(2, "abcdz", 7)], ["rid", "name", "nation"])
    fields = [
        {"col": "name", "w_match": 4000, "w_miss": 500, "close": (1, -100)},
        {"col": "nation", "w_match": 1200, "w_miss": -800},
    ]
    with pytest.raises(ValueError, match="w_close"):
        fellegi_sunter_pairs(a, b, "rid", ["nation"], fields)


def test_personalized_pagerank_concentrates_on_seed_component(spark):
    """PPR semantics: with the teleport pinned to seed node 0, mass
    stays in the seed's component — the star center outranks its
    leaves, every leaf keeps positive proximity mass, and a DISCONNECTED
    hub that uniform PageRank ranks highly gets EXACTLY zero (integer
    floors and inflows are all zero there, not epsilon)."""
    from openmrs_patient_migration_script_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3),          # seed star
         (10, 11), (11, 12), (11, 13)],   # disconnected hub at 11
        ["key_a", "key_b"],
    )
    seeds = spark.createDataFrame([(0,)], ["node"])
    got = {r.node: r.rank_scaled for r in pagerank(edges, seeds=seeds).collect()}
    assert got[0] > got[1] == got[2] == got[3] > 0
    assert got[10] == got[11] == got[12] == got[13] == 0

    uniform = {r.node: r.rank_scaled for r in pagerank(edges).collect()}
    assert uniform[11] > 0  # the same hub holds mass under uniform PR

    # an out-of-graph seed must NOT shrink the teleport divisor (it can
    # never hold or propagate rank): seeds {0, 999} == seeds {0}
    seeds2 = spark.createDataFrame([(0,), (999,)], ["node"])
    got2 = {r.node: r.rank_scaled
            for r in pagerank(edges, seeds=seeds2).collect()}
    assert got2 == got


def test_coreness_clique_triangle_and_chain(spark):
    """Coreness semantics on planted structure: a K4 clique is the
    3-core (coreness 3), a triangle with a tail puts the triangle at 2
    and the tail at 1, and pure chain nodes sit at 1 — the nested-core
    membership sum assigns each tier exactly."""
    from openmrs_patient_migration_script_spark.operators.graph import coreness

    edges = [
        # K4 clique: 20-23
        (20, 21), (20, 22), (20, 23), (21, 22), (21, 23), (22, 23),
        # triangle 10-11-12 with tail 13
        (10, 11), (11, 12), (10, 12), (12, 13),
        # chain 1-2-3
        (1, 2), (2, 3),
    ]
    df = spark.createDataFrame(edges, ["key_a", "key_b"])
    got = {r.node: r.coreness for r in coreness(df, max_k=3).collect()}
    assert got[20] == got[21] == got[22] == got[23] == 3
    assert got[10] == got[11] == got[12] == 2
    assert got[13] == 1
    assert got[1] == got[2] == got[3] == 1


def test_edge_support_triangle_plus_tail(spark):
    """Hand-computed support: triangle {1,2,3} with a tail 3-4 — every
    triangle edge has support 1 (the third vertex), the tail edge has
    support 0 (restored by the left join, not dropped); reversed/dup
    input orientations collapse first."""
    from openmrs_patient_migration_script_spark.operators.graph import (
        edge_support,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (1, 3), (4, 3)], ["key_a", "key_b"]
    )
    got = {(r.key_a, r.key_b): r.support for r in edge_support(edges).collect()}
    assert got == {(1, 2): 1, (1, 3): 1, (2, 3): 1, (3, 4): 0}


def test_edge_support_hub_exact_k4(spark):
    """Degree orientation keeps hub vertices EXACT (no cap, unlike
    common_neighbors): K4 — every edge closes 2 triangles — plus a
    20-spoke hub on vertex 1: spokes have support 0, and the K4 edges
    at the hub keep support 2 (the hub's wedges are orientation-bounded,
    never dropped)."""
    from openmrs_patient_migration_script_spark.operators.graph import (
        edge_support,
    )

    k4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    spokes = [(1, 100 + i) for i in range(20)]
    edges = spark.createDataFrame(k4 + spokes, ["key_a", "key_b"])
    got = {(r.key_a, r.key_b): r.support for r in edge_support(edges).collect()}
    assert all(got[e] == 2 for e in k4)
    assert all(got[(1, 100 + i)] == 0 for i in range(20))
    assert len(got) == len(k4) + 20


@pytest.mark.slow
def test_ktruss_distinguishes_square_from_clique(spark):
    """The 4-cycle is a perfectly good 2-core (every node degree 2) but
    no edge of it closes a triangle — the truss peel drops it where the
    core peel cannot. K4 edges all have support 2 (4-truss); a lone
    triangle's edges have support 1 (3-truss only); a tail edge has
    support 0 (dropped by any truss)."""
    import pytest

    from openmrs_patient_migration_script_spark.operators.graph import (
        k_core,
        ktruss,
        ktruss_converged,
    )

    k4 = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    square = [(5, 6), (6, 7), (7, 8), (5, 8)]
    tri = [(9, 10), (10, 11), (9, 11)]
    tail = [(4, 12)]
    df = spark.createDataFrame(
        k4 + square + tri + tail, "key_a long, key_b long"
    )
    t3 = {
        (r["key_a"], r["key_b"]): r["support"]
        for r in ktruss(df, k=3, n_rounds=2).collect()
    }
    assert set(t3) == set(k4) | set(tri)
    assert all(t3[e] == 2 for e in k4)
    assert all(t3[e] == 1 for e in tri)
    t4 = {
        (r["key_a"], r["key_b"]): r["support"]
        for r in ktruss(df, k=4, n_rounds=2).collect()
    }
    assert t4 == {e: 2 for e in k4}
    # the 2-core KEEPS the square — edge-level support peeling is
    # strictly stronger evidence than node-level degree peeling
    core_nodes = {r["node"] for r in k_core(df, k=2, n_rounds=6).collect()}
    assert {5, 6, 7, 8} <= core_nodes
    assert ktruss_converged(df, k=3, n_rounds=2)
    assert ktruss_converged(df, k=4, n_rounds=2)
    with pytest.raises(ValueError, match="k must be >= 3"):
        ktruss(df, k=2)
    # ADVICE r10: n_rounds=0 used to fall through to an AttributeError
    # on the final sup.filter — now a clear contract error
    with pytest.raises(ValueError, match="n_rounds must be >= 1"):
        ktruss(df, k=3, n_rounds=0)


def test_ktruss_peel_cascades(spark):
    """A strip of two triangles: one peel leaves the shared edge (its
    support was 2 before the flanks fell), the fixpoint is empty — the
    round-by-round semantics the fixed-round contract and the unrolled
    oracle both rely on."""
    from openmrs_patient_migration_script_spark.operators.graph import ktruss

    strip = [(1, 2), (1, 3), (2, 3), (2, 4), (3, 4)]
    df = spark.createDataFrame(strip, "key_a long, key_b long")
    one = ktruss(df, k=4, n_rounds=1)
    assert [(r["key_a"], r["key_b"]) for r in one.collect()] == [(2, 3)]
    assert ktruss(df, k=4, n_rounds=2).count() == 0


def test_truss_decomposition_ladder(spark):
    """K4 edges are 4-truss but not 5-truss (support 2 < 3) → trussness
    4; a lone triangle is exactly 3; the square and the tail close no
    triangles → 2. Every canonical edge appears exactly once."""
    from openmrs_patient_migration_script_spark.operators.graph import (
        truss_decomposition,
    )

    k4 = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    square = [(5, 6), (6, 7), (7, 8), (5, 8)]
    tri = [(9, 10), (10, 11), (9, 11)]
    tail = [(4, 12)]
    df = spark.createDataFrame(
        k4 + square + tri + tail, "key_a long, key_b long"
    )
    got = {
        (r["key_a"], r["key_b"]): r["trussness"]
        for r in truss_decomposition(df, max_k=5, n_rounds=2).collect()
    }
    want = {e: 4 for e in k4}
    want.update({e: 3 for e in tri})
    want.update({e: 2 for e in square + tail})
    assert got == want


def test_dp_noisy_mean_mechanism(spark):
    """Clamping bounds one record's pull on the released mean (a
    million-dollar outlier moves the clamped sum by exactly the clamp),
    reruns are byte-identical under one salt, a new salt is a new draw,
    and suppression acts on the NOISY count."""
    from openmrs_patient_migration_script_spark.operators.privacy import (
        dp_noisy_mean,
    )
    from pyspark.sql import functions as F

    rows = [(1, 1000_00) for _ in range(50)] + [(1, 100_000_000)]
    rows += [(2, 2000_00) for _ in range(50)]
    df = spark.createDataFrame(rows, "grp long, cents long")

    def release(salt):
        return {
            r["grp"]: (r["noisy_sum_cents"], r["noisy_count"], r["mean_milli"])
            for r in dp_noisy_mean(
                df, ["grp"], F.col("cents"), clamp_cents=5000_00,
                salt=salt, repeats=2, threshold=10,
            ).collect()
        }

    a, b, other = release("s1"), release("s1"), release("s2")
    assert a == b           # content-addressed: reruns identical
    assert other != a       # a new salt is a new draw
    # the outlier contributes exactly clamp (5000_00), not 1e8: group 1's
    # clamped true sum is 50*1000_00 + 5000_00 = 5_500_000; noise is
    # bounded by |2 draws| * clamp = 60 * 5000_00
    ns, nc, mm = a[1]
    assert abs(ns - 5_500_000) <= 60 * 5000_00
    # released mean is the exact integer quotient of the released pair
    assert mm == (10 * ns) // nc
    # suppression on the noisy count: threshold above any group kills all
    assert (
        dp_noisy_mean(
            df, ["grp"], F.col("cents"), clamp_cents=5000_00,
            salt="s1", repeats=2, threshold=10_000,
        ).count()
        == 0
    )


def test_louvain_recovers_planted_cliques(spark):
    """Two 4-cliques joined by one bridge, hand-computed through the
    two guarded rounds of pass 1: round 1 (singleton start) stars A
    onto node 1 while B splinters ({5}, {6}, {7,8} — the bridge skews
    5's degree); round 2's sigma_tot-aware rescoring regroups B into
    {5,6} / {7,8} (q_num 134 -> 162); pass 2 merges B's halves
    (5 < 6, positive contracted gain) and pass 3 is stable — the
    cross-community gain 2m*1 - 13*13 < 0 keeps the bridge uncut.
    Ledger q_num = 162, 286, 286 over constant q_den = 4*13^2 —
    non-decreasing, final partition EXACTLY the two cliques."""
    from openmrs_patient_migration_script_spark.operators.graph import louvain

    edges = (
        [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
        + [(a, b) for a in range(5, 9) for b in range(a + 1, 9)]
        + [(4, 5)]
    )
    df = spark.createDataFrame(edges, "key_a long, key_b long")
    out, ledger = louvain(df, n_passes=3, return_ledger=True)
    parts = {}
    for r in out.collect():
        parts.setdefault(r["community"], set()).add(r["node"])
    assert sorted(map(sorted, parts.values())) == [
        [1, 2, 3, 4],
        [5, 6, 7, 8],
    ]
    assert ledger == [(1, 162, True), (2, 286, True), (3, 286, True)]
    qs = [q for _, q, acc in ledger if acc]
    assert qs == sorted(qs), "modularity must be non-decreasing"


def test_louvain_isolated_components_and_self_loop_degrees(spark):
    """A triangle plus a disjoint edge: pass 1 collapses both, leaving a
    contracted graph with NO cross edges — only self-loops. Later passes
    must keep those isolated super-nodes alive (the 2s self-loop degree
    path) and change nothing."""
    from openmrs_patient_migration_script_spark.operators.graph import louvain

    df = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (10, 11)], "key_a long, key_b long"
    )
    out, ledger = louvain(df, n_passes=3, return_ledger=True)
    got = {r["node"]: r["community"] for r in out.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}
    # pass 1 does all the work; passes 2-3 are accepted no-ops
    assert [acc for _, _, acc in ledger] == [True, True, True]
    assert ledger[0][1] == ledger[1][1] == ledger[2][1]


def test_louvain_empty_graph(spark):
    from openmrs_patient_migration_script_spark.operators.graph import louvain

    df = spark.createDataFrame([], "key_a long, key_b long")
    out = louvain(df, n_passes=2)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["node", "community"]


def test_span_rewrite_excises_planted_shared_passage(spark):
    """Docs 1 and 2 share the 6-token passage 'a b c d e f': its two
    5-gram shingles first occur in doc 1, so doc 1 survives byte-exact
    while doc 2 loses exactly the covered positions 3..8 ('x y ... z'
    remains). Doc 3 (unrelated) and doc 4 (too short for any shingle)
    pass through unchanged; doc 5 (identical to the shared passage
    only) is fully covered and rewrites to ''."""
    from openmrs_patient_migration_script_spark.operators.dedup import (
        span_rewrite,
    )

    rows = [
        (1, "a b c d e f g h"),
        (2, "x y a b c d e f z"),
        (3, "p q r s t u v w"),
        (4, "tiny doc"),
        (5, "a b c d e f"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["key"]: (r["n_tokens"], r["n_removed"], r["text_rewrite"])
        for r in span_rewrite(df, "doc_id", "text", span_tokens=5).collect()
    }
    assert out[1] == (8, 0, "a b c d e f g h")
    assert out[2] == (9, 6, "x y z")
    assert out[3] == (8, 0, "p q r s t u v w")
    assert out[4] == (2, 0, "tiny doc")
    assert out[5] == (6, 6, "")


def test_span_rewrite_occ_stride_bound_fails_loud(spark):
    """`span_rewrite` packs ``key * occ_stride + start``: a document of
    ``occ_stride`` or more tokens would alias its positions into the
    next key's range, so it fails the job instead; one token fewer
    passes."""
    from openmrs_patient_migration_script_spark.operators.dedup import (
        span_rewrite,
    )

    df = spark.createDataFrame(
        [(1, "a b c d e f g"), (2, "a b c d e f g")], "doc_id long, text string"
    )
    out = span_rewrite(df, "doc_id", "text", span_tokens=5, occ_stride=8)
    assert {r["key"]: r["n_removed"] for r in out.collect()} == {1: 0, 2: 7}
    with pytest.raises(Exception, match="occ_stride"):
        span_rewrite(df, "doc_id", "text", span_tokens=5, occ_stride=7).collect()


def test_triangle_family_counts_agree_with_brute_force(spark):
    """`triangle_count`, `edge_support` and `clustering_coefficient` share
    one wedge join: on a fixed graph (K4, a triangle sharing a K4 edge,
    a 4-cycle, a pendant edge, plus a duplicate, a reversed duplicate and
    a self-loop) 3 x the count, the summed edge support and the summed
    per-node incidence all equal 3 x a brute-force Python count."""
    from itertools import combinations

    from openmrs_patient_migration_script_spark.operators.graph import (
        clustering_coefficient,
        edge_support,
        triangle_count,
    )

    raw = [(a, b) for a, b in combinations(range(1, 5), 2)]
    raw += [(1, 5), (2, 5), (10, 11), (11, 12), (12, 13), (13, 10), (13, 20)]
    raw += [(2, 1), (1, 2), (7, 7)]
    simple = {(min(a, b), max(a, b)) for a, b in raw if a != b}
    nodes = sorted({n for e in simple for n in e})
    brute = sum(
        1
        for a, b, c in combinations(nodes, 3)
        if {(a, b), (a, c), (b, c)} <= simple
    )
    assert brute == 5  # four in K4, one through the shared edge (1, 2)
    edges = spark.createDataFrame(raw, "key_a long, key_b long")
    n_tri = triangle_count(edges).collect()[0]["n_triangles"]
    support = sum(r["support"] for r in edge_support(edges).collect())
    incid = sum(r["n_triangles"] for r in clustering_coefficient(edges).collect())
    assert 3 * n_tri == support == incid == 3 * brute


def test_jaccard_and_containment_agree_on_shared_overlap(spark):
    """`ngram_jaccard_pairs` and `containment_pairs` read one inverted
    index: every pair both report has the same ``inter_cnt``, the
    containment sizes rebuild Jaccard's ``union_cnt = n_a + n_b -
    inter_cnt``, and the reported pairs are the same unordered set."""
    from openmrs_patient_migration_script_spark.operators.dedup import (
        containment_pairs,
    )

    rows = [
        (1, "a b c d e f g h"),
        (2, "a b c d e f x y"),
        (3, "q r a b c d e s t u v"),
        (4, "a b c d"),
        (5, "m n o p q r s"),
        (6, "m n o p z z z z z"),
    ]
    df = _docs(spark, rows)
    jac = {
        (r.key_a, r.key_b): (r.inter_cnt, r.union_cnt)
        for r in ngram_jaccard_pairs(df, "key", "text", min_shared=1).collect()
    }
    con = {
        (r.key_a, r.key_b): (r.inter_cnt, r.n_a)
        for r in containment_pairs(df, "key", "text", min_shared=1).collect()
    }
    assert len(jac) >= 4
    assert {(min(p), max(p)) for p in con} == set(jac)
    for (a, b), (inter, union) in jac.items():
        inter_ab, n_a = con[(a, b)]
        inter_ba, n_b = con[(b, a)]
        assert inter_ab == inter_ba == inter
        assert union == n_a + n_b - inter


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_ktruss_early_stop_matches_deep_round_count(spark):
    """The stride fixture converges in <= 3 peels; 30 rounds must return
    the identical support table (early-stop = pure memoization)."""
    from openmrs_patient_migration_script_spark.operators.graph import ktruss

    edges = [(u, u + d) for u in range(1, 60) for d in (1, 2, 3)]
    df = spark.createDataFrame(edges, "key_a long, key_b long")
    a = _rows(ktruss(df, k=4, n_rounds=3))
    b = _rows(ktruss(df, k=4, n_rounds=30))
    assert a == b and len(a) > 0


def test_k_core_early_stop_matches_deep_round_count(spark):
    """A 5-clique with a pendant chain: the chain peels in 2 rounds and
    the clique survives; 60 rounds must equal 6."""
    from openmrs_patient_migration_script_spark.operators.graph import k_core

    clique = [(a, b) for a in range(1, 6) for b in range(a + 1, 6)]
    chain = [(5, 10), (10, 11), (11, 12)]
    df = spark.createDataFrame(clique + chain, "key_a long, key_b long")
    a = _rows(k_core(df, k=2, n_rounds=6))
    b = _rows(k_core(df, k=2, n_rounds=60))
    assert a == b
    assert {r[0] for r in a} == {1, 2, 3, 4, 5}


def test_k_core_assume_canonical_matches_default(spark):
    from openmrs_patient_migration_script_spark.operators.graph import k_core

    canon = [(1, 2), (1, 3), (2, 3), (3, 4)]
    df = spark.createDataFrame(canon, "key_a long, key_b long")
    messy = spark.createDataFrame(
        canon + [(2, 1), (3, 1), (4, 4)], "key_a long, key_b long"
    )
    assert _rows(
        k_core(df, k=2, n_rounds=4, assume_canonical=True)
    ) == _rows(k_core(messy, k=2, n_rounds=4))


def test_sssp_early_stop_matches_deep_hop_count(spark):
    """A 4-node path converges in 3 relaxations; 30 hops must return the
    identical distance table."""
    from openmrs_patient_migration_script_spark.operators.graph import (
        sssp_bounded,
    )

    df = spark.createDataFrame(
        [(1, 2, 5), (2, 3, 1), (3, 4, 2), (1, 3, 10)],
        "key_a long, key_b long, w long",
    )
    seeds = spark.createDataFrame([(1,)], "node long")
    a = _rows(sssp_bounded(df, seeds, max_hops=3))
    b = _rows(sssp_bounded(df, seeds, max_hops=30))
    assert a == b
    got = dict(a)
    assert got == {1: 0, 2: 5, 3: 6, 4: 8}


def test_louvain_no_broadcast_gate_matches_default(spark, monkeypatch):
    """`_BC_MAX_ROWS` 0 forces the shuffle-join fallback on every
    node-sized attach; labels and ledger must be bit-identical."""
    from openmrs_patient_migration_script_spark.operators import graph
    from openmrs_patient_migration_script_spark.operators.graph import louvain

    edges = (
        [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
        + [(a, b) for a in range(5, 9) for b in range(a + 1, 9)]
        + [(4, 5)]
    )
    df = spark.createDataFrame(edges, "key_a long, key_b long")
    out_b, led_b = louvain(df, n_passes=3, return_ledger=True)
    monkeypatch.setattr(graph, "_BC_MAX_ROWS", 0)
    out_s, led_s = louvain(df, n_passes=3, return_ledger=True)
    assert _rows(out_b) == _rows(out_s)
    assert led_b == led_s == [(1, 162, True), (2, 286, True), (3, 286, True)]


def test_wedge_family_broadcast_gate_is_result_invisible(spark, monkeypatch):
    """The r11 wedge-machinery broadcast gate (edge_support /
    triangle_count / clustering_coefficient / common_neighbors /
    truss_decomposition / ktruss): `_BC_MAX_ROWS` 0 (never broadcast,
    the pure shuffle-join regime) must return bit-identical tables to the
    default gated path on a mixed-density fixture."""
    from openmrs_patient_migration_script_spark.operators import graph
    from openmrs_patient_migration_script_spark.operators.graph import (
        clustering_coefficient,
        common_neighbors,
        edge_support,
        ktruss,
        triangle_count,
        truss_decomposition,
    )

    edges = [(u, u + d) for u in range(1, 40) for d in (1, 2, 3)]
    edges += [(u, 2 * u) for u in range(1, 20)]
    df = spark.createDataFrame(edges, "key_a long, key_b long")
    for op, kw in [
        (edge_support, {}),
        (triangle_count, {}),
        (clustering_coefficient, {}),
        (common_neighbors, {"max_degree": None}),
        (truss_decomposition, {"max_k": 4, "n_rounds": 2}),
        (ktruss, {"k": 4, "n_rounds": 2}),
    ]:
        gated = _rows(op(df, **kw))
        with monkeypatch.context() as m:
            m.setattr(graph, "_BC_MAX_ROWS", 0)
            shuffled = _rows(op(df, **kw))
        assert gated == shuffled and len(gated) > 0, op.__name__


def test_edge_support_gate_broadcasts_under_and_shuffles_over(spark, monkeypatch):
    """Plan pin: under the gate the wedge joins are BroadcastHashJoin;
    with `_BC_MAX_ROWS` 0 the same joins carry Exchange hashpartitioning."""
    from openmrs_patient_migration_script_spark.operators import graph
    from openmrs_patient_migration_script_spark.operators.graph import (
        edge_support,
    )

    edges = [(u, u + d) for u in range(1, 30) for d in (1, 2)]
    df = spark.createDataFrame(edges, "key_a long, key_b long")
    plan_on = edge_support(df)._jdf.queryExecution().executedPlan().toString()
    monkeypatch.setattr(graph, "_BC_MAX_ROWS", 0)
    plan_off = (
        edge_support(df)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan_on
    assert "SortMergeJoin" in plan_off or "ShuffledHashJoin" in plan_off


def test_iterative_family_broadcast_gate_is_result_invisible(spark, monkeypatch):
    """The r11 iterative-loop broadcast gate (pagerank / sssp_bounded /
    bfs_hops / k_core / label_propagation): `_BC_MAX_ROWS` 0 (never
    broadcast, the pure shuffle-join regime) must return bit-identical tables to the
    default gated path on a mixed-density fixture with seeds."""
    from openmrs_patient_migration_script_spark.operators import graph
    from openmrs_patient_migration_script_spark.operators.graph import (
        bfs_hops,
        k_core,
        label_propagation,
        pagerank,
        sssp_bounded,
    )

    edges = [(u, u + d) for u in range(1, 40) for d in (1, 2, 3)]
    edges += [(u, 2 * u) for u in range(1, 20)]
    df = spark.createDataFrame(edges, "key_a long, key_b long")
    wdf = df.withColumn(
        "w", (F.col("key_a") + F.col("key_b")) % 5 + F.lit(1)
    )
    seeds = df.select(F.col("key_a").alias("node")).filter(
        F.col("node") % 7 == 0
    )
    for name, run in [
        ("pagerank", lambda: pagerank(df)),
        ("ppr", lambda: pagerank(df, seeds=seeds)),
        ("sssp", lambda: sssp_bounded(wdf, seeds, max_hops=3)),
        ("bfs", lambda: bfs_hops(df, seeds, max_hops=3)),
        ("k_core", lambda: k_core(df, k=3, n_rounds=4)),
        ("lpa", lambda: label_propagation(df, n_iter=3)),
    ]:
        gated = _rows(run())
        with monkeypatch.context() as m:
            m.setattr(graph, "_BC_MAX_ROWS", 0)
            shuffled = _rows(run())
        assert gated == shuffled and len(gated) > 0, name


def test_modularity_fused_agg_matches_manual_recompute(spark):
    """The r11 fused degree/intra aggregation in `modularity`: one
    explode-based community agg must equal a hand-computed per-community
    (n_nodes, degree_sum, intra_edges) on a planted two-community
    fixture with a bridge edge."""
    from openmrs_patient_migration_script_spark.operators.graph import (
        modularity,
    )

    # K4 on {1..4}, K3 on {10..12}, bridge 4-10
    block = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    block += [(a, b) for a in range(10, 13) for b in range(a + 1, 13)]
    block += [(4, 10)]
    edges = spark.createDataFrame(block, "key_a long, key_b long")
    labels = spark.createDataFrame(
        [(n, 1) for n in range(1, 5)] + [(n, 2) for n in range(10, 13)],
        "node long, community long",
    )
    got = {
        r["community"]: (r["n_nodes"], r["degree_sum"], r["intra_edges"])
        for r in modularity(edges, labels).collect()
    }
    # m=10; community 1: 4 nodes, degrees 3+3+3+4=13, intra=6 (K4);
    # community 2: 3 nodes, degrees 3+2+2=7, intra=3 (K3)
    assert got == {1: (4, 13, 6), 2: (3, 7, 3)}


def test_broadcast_fits_row_gate_binds_for_edge_sized_rows(spark):
    """Two-long edge/degree tables: 16 B/row + 8 B extra -> the 128 MiB
    byte budget admits ~5.6M rows, so the measured 5M ROW gate still
    decides (byte budget must not shift the classic regime)."""
    from openmrs_patient_migration_script_spark.operators.graph import (
        broadcast_fits,
    )

    edge = spark.createDataFrame([], "u long, v long")
    assert broadcast_fits(5_000_000, edge, extra_bytes=8)
    assert not broadcast_fits(5_000_001, edge, extra_bytes=8)


def test_broadcast_fits_wide_rows_gate_lower(spark):
    """Wide rows gate proportionally lower than the row threshold: ten
    string columns model ~200 B/row, so 5M rows (~1 GB) must NOT pass
    the 128 MiB budget even though the row threshold would admit them."""
    from openmrs_patient_migration_script_spark.operators.graph import (
        _est_row_bytes,
        broadcast_fits,
    )

    wide = spark.createDataFrame(
        [], ", ".join(f"c{i} string" for i in range(10))
    )
    width = _est_row_bytes(wide)
    assert width >= 200
    budget_rows = (128 * 1024 * 1024) // width
    assert not broadcast_fits(5_000_000, wide)
    assert broadcast_fits(budget_rows, wide)
    assert not broadcast_fits(budget_rows + 1, wide)


def test_broadcast_fits_env_override(spark, monkeypatch):
    """SPARK_GRAFT_BROADCAST_MAX_BYTES re-derives the gate for cluster
    memory geometry, in both directions."""
    from openmrs_patient_migration_script_spark.operators.graph import (
        broadcast_fits,
    )

    edge = spark.createDataFrame([], "u long, v long")  # 16 B/row modeled
    monkeypatch.setenv("SPARK_GRAFT_BROADCAST_MAX_BYTES", str(16 * 100))
    assert broadcast_fits(100, edge)
    assert not broadcast_fits(101, edge)
    monkeypatch.setenv("SPARK_GRAFT_BROADCAST_MAX_BYTES", str(16 * 1024))
    assert broadcast_fits(101, edge)


def test_wide_row_gate_is_result_invisible(spark):
    """End-to-end: a wide string-keyed pair graph takes the shuffle
    regime under the byte gate (width pushes it under), and a forced
    low byte budget returns bit-identical tables to the default path."""
    import os

    from openmrs_patient_migration_script_spark.operators.graph import (
        edge_support,
    )

    edges = [
        (f"node-{u:04d}-{'x' * 40}", f"node-{u + d:04d}-{'x' * 40}")
        for u in range(1, 30)
        for d in (1, 2)
    ]
    df = spark.createDataFrame(edges, "key_a string, key_b string")
    default = _rows(edge_support(df))
    old = os.environ.get("SPARK_GRAFT_BROADCAST_MAX_BYTES")
    os.environ["SPARK_GRAFT_BROADCAST_MAX_BYTES"] = "1"
    try:
        narrow_budget = _rows(edge_support(df))
    finally:
        if old is None:
            del os.environ["SPARK_GRAFT_BROADCAST_MAX_BYTES"]
        else:
            os.environ["SPARK_GRAFT_BROADCAST_MAX_BYTES"] = old
    assert default == narrow_budget and len(default) > 0
