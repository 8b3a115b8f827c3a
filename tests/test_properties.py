"""Property-based invariants (hypothesis): randomized inputs against
reference implementations computed in plain Python — the invariants
SURVEY.md §5.4 commits to, beyond the fixed-fixture oracle checks."""

from __future__ import annotations

from datetime import datetime, timedelta

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
import pytest

#: slow tier (r12): property/stress comparisons vs reference implementations (~4 min) — excluded from the
#: default driver-window run; `-m "slow or not slow"` runs it.
pytestmark = pytest.mark.slow

SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
    derandomize=True,  # deterministic CI: fixed example corpus per run
)

# (user_id, minutes_offset, is_probe) event tuples
_events = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),
        st.integers(min_value=0, max_value=500),
        st.booleans(),
    ),
    min_size=1,
    max_size=30,
)


@settings(**SETTINGS)
@given(_events)
def test_asof_join_matches_naive_reference(spark, ev):
    """asof_join (union + carry-forward plan) == the naive per-probe scan:
    latest quote of the same user at-or-before the probe time, ties on
    (ts, id) resolved to the largest id."""
    from openmrs_patient_migration_script_spark.operators.joins import asof_join

    base = datetime(2024, 1, 1)
    rows = [
        (i, u, base + timedelta(minutes=m), probe) for i, (u, m, probe) in enumerate(ev)
    ]
    probes = [(i, u, ts) for i, u, ts, p in rows if p]
    quotes = [(i, u, ts) for i, u, ts, p in rows if not p]
    if not probes or not quotes:
        return
    left = spark.createDataFrame(probes, ["probe_id", "user_id", "probe_ts"])
    right = spark.createDataFrame(quotes, ["quote_id", "user_id", "quote_ts"])
    got = {
        r["probe_id"]: r["quote_id"]
        for r in asof_join(
            left,
            right,
            on=["user_id"],
            left_ts="probe_ts",
            right_ts="quote_ts",
            right_payload=["quote_id", "quote_ts"],
            right_id="quote_id",
        ).collect()
    }
    for pid, pu, pts in probes:
        cands = [(ts, qid) for qid, qu, ts in quotes if qu == pu and ts <= pts]
        want = max(cands)[1] if cands else None
        assert got[pid] == want, (pid, got[pid], want)

    # forward direction: earliest quote at-or-after, ties to the SMALLEST id
    fwd = {
        r["probe_id"]: r["quote_id"]
        for r in asof_join(
            left,
            right,
            on=["user_id"],
            left_ts="probe_ts",
            right_ts="quote_ts",
            right_payload=["quote_id", "quote_ts"],
            right_id="quote_id",
            direction="forward",
        ).collect()
    }
    for pid, pu, pts in probes:
        cands = [(ts, qid) for qid, qu, ts in quotes if qu == pu and ts >= pts]
        want = min(cands)[1] if cands else None
        assert fwd[pid] == want, (pid, fwd[pid], want)


@settings(**SETTINGS)
@given(_events, st.integers(min_value=0, max_value=120))
def test_asof_join_tolerance_matches_naive(spark, ev, tol_minutes):
    """asof_join with tolerance == the naive scan restricted to the
    tolerance window, in both directions — including tolerance 0 (only
    exact-timestamp matches survive)."""
    from openmrs_patient_migration_script_spark.operators.joins import asof_join

    base = datetime(2024, 1, 1)
    rows = [
        (i, u, base + timedelta(minutes=m), probe)
        for i, (u, m, probe) in enumerate(ev)
    ]
    probes = [(i, u, ts) for i, u, ts, p in rows if p]
    quotes = [(i, u, ts) for i, u, ts, p in rows if not p]
    if not probes or not quotes:
        return
    left = spark.createDataFrame(probes, ["probe_id", "user_id", "probe_ts"])
    right = spark.createDataFrame(quotes, ["quote_id", "user_id", "quote_ts"])
    tol = timedelta(minutes=tol_minutes)
    for direction in ("backward", "forward"):
        got = {
            r["probe_id"]: r["quote_id"]
            for r in asof_join(
                left,
                right,
                on=["user_id"],
                left_ts="probe_ts",
                right_ts="quote_ts",
                right_payload=["quote_id", "quote_ts"],
                right_id="quote_id",
                direction=direction,
                tolerance_seconds=tol_minutes * 60,
            ).collect()
        }
        for pid, pu, pts in probes:
            if direction == "backward":
                cands = [
                    (ts, qid)
                    for qid, qu, ts in quotes
                    if qu == pu and pts - tol <= ts <= pts
                ]
                want = max(cands)[1] if cands else None
            else:
                cands = [
                    (ts, qid)
                    for qid, qu, ts in quotes
                    if qu == pu and pts <= ts <= pts + tol
                ]
                want = min(cands)[1] if cands else None
            assert got[pid] == want, (direction, pid, got[pid], want)


def test_asof_join_drops_null_right_timestamps(spark):
    """Round-3 advisor regression: a right row with a NULL timestamp must
    match NOTHING (the oracle's ts <= / >= predicate is NULL-rejecting).
    Before the isNotNull filter it sorted to the partition head (asc
    nulls-first backward, desc_nulls_first forward) and its payload was
    carried into left rows that should have no match — in BOTH
    directions."""
    from openmrs_patient_migration_script_spark.operators.joins import asof_join

    base = datetime(2024, 1, 1)
    left = spark.createDataFrame(
        [(1, 7, base)], ["probe_id", "user_id", "probe_ts"]
    )
    right = spark.createDataFrame(
        [(100, 7, None)],
        "quote_id long, user_id long, quote_ts timestamp",
    )
    for direction in ("backward", "forward"):
        rows = asof_join(
            left,
            right,
            on=["user_id"],
            left_ts="probe_ts",
            right_ts="quote_ts",
            right_payload=["quote_id", "quote_ts"],
            right_id="quote_id",
            direction=direction,
        ).collect()
        assert len(rows) == 1
        assert rows[0]["quote_id"] is None, direction


@settings(**SETTINGS)
@given(
    st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 1000)),
        min_size=1,
        max_size=40,
    ),
    st.integers(min_value=1, max_value=4),
)
def test_salted_topk_equals_plain_topk(spark, kv, k):
    from pyspark.sql import Window

    from openmrs_patient_migration_script_spark.operators.skew import (
        salted_topk_per_key,
    )

    rows = [(key, i, float(v)) for i, (key, v) in enumerate(kv)]
    df = spark.createDataFrame(rows, ["key", "rid", "score"])
    order = [F.desc("score"), F.col("rid")]
    got = {
        tuple(r)
        for r in salted_topk_per_key(df, ["key"], order, k=k).collect()
    }
    w = Window.partitionBy("key").orderBy(*order)
    want = {
        tuple(r)
        for r in df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
        .collect()
    }
    assert got == want


@settings(**SETTINGS)
@given(
    st.lists(st.integers(min_value=0, max_value=10**6), min_size=1, max_size=50, unique=True),
    st.integers(min_value=0, max_value=1000),
)
def test_surrogate_keys_dense_and_ordered(spark, keys, offset):
    """Gapless ids starting at offset+1, assigned in natural-key order —
    the global-window contract, from the parallel range-partition plan."""
    from openmrs_patient_migration_script_spark.operators.etl import (
        assign_surrogate_keys,
    )

    df = spark.createDataFrame([(kk,) for kk in keys], ["k"])
    out = assign_surrogate_keys(df, "k", id_col="sid", offset=offset, num_partitions=4)
    got = {r["k"]: r["sid"] for r in out.collect()}
    for rank, kk in enumerate(sorted(keys), start=1):
        assert got[kk] == offset + rank


@settings(**SETTINGS)
@given(
    st.lists(
        st.tuples(
            st.one_of(st.none(), st.text(min_size=1, max_size=5)),
            st.one_of(st.none(), st.text(min_size=1, max_size=5)),
        ),
        min_size=1,
        max_size=20,
    )
)
def test_identifier_fallback_precedence(spark, pairs):
    """National ID > Birth Certificate > generated — the reference's rule
    (README.md:13-15) holds for every null combination."""
    from openmrs_patient_migration_script_spark.operators.etl import (
        identifier_with_fallback,
    )

    rows = [(i, nid, bc) for i, (nid, bc) in enumerate(pairs)]
    df = spark.createDataFrame(rows, "i INT, nid STRING, bc STRING")
    ident, id_type = identifier_with_fallback(
        F.col("nid"), F.col("bc"), F.concat(F.lit("GEN-"), F.col("i"))
    )
    out = {
        r["i"]: (r["identifier"], r["identifier_type"])
        for r in df.select("i", ident.alias("identifier"), id_type.alias("identifier_type")).collect()
    }
    for i, nid, bc in rows:
        if nid is not None:
            assert out[i] == (nid, "NATIONAL_ID")
        elif bc is not None:
            assert out[i] == (bc, "BIRTH_CERTIFICATE")
        else:
            assert out[i] == (f"GEN-{i}", "GENERATED")


_ts_events = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),  # key
        st.integers(min_value=0, max_value=72),  # hour offset
        st.integers(min_value=0, max_value=59),  # minute
        st.integers(min_value=-50, max_value=50),  # value (int: exact sums)
    ),
    min_size=1,
    max_size=40,
)


@settings(**SETTINGS)
@given(_ts_events)
def test_resample_ffill_matches_naive_reference(spark, ev):
    """resample_ffill (row-local gap-segment plan) == the naive python
    reference: dense hourly grid per key from first to last observed
    bucket, missing buckets carrying the previous bucket-sum forward."""
    from openmrs_patient_migration_script_spark.operators.timeseries import (
        resample_ffill,
    )

    base = datetime(2024, 1, 1)
    rows = [
        (k, base + timedelta(hours=h, minutes=m), float(v)) for k, h, m, v in ev
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts", "value"])
    got = {
        (r.key, r.bucket): (r.value_sum, r.observed)
        for r in resample_ffill(df, "user_id", "ts", "value").collect()
    }

    # naive reference
    sums: dict[tuple[int, datetime], float] = {}
    for k, ts, v in rows:
        b = ts.replace(minute=0, second=0, microsecond=0)
        sums[(k, b)] = round(sums.get((k, b), 0.0) + v, 6)
    want = {}
    for k in {k for k, _ in sums}:
        buckets = sorted(b for kk, b in sums if kk == k)
        cur = None
        b = buckets[0]
        while b <= buckets[-1]:
            observed = (k, b) in sums
            if observed:
                cur = sums[(k, b)]
            want[(k, b)] = (cur, observed)
            b += timedelta(hours=1)
    assert got == want


_merge_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=6),  # key
        st.one_of(st.none(), st.integers(min_value=-5, max_value=5)),  # value
    ),
    min_size=0,
    max_size=10,
    unique_by=lambda t: t[0],
)


@settings(**SETTINGS)
@given(_merge_rows, _merge_rows)
def test_merge_upsert_matches_naive_reference(spark, tgt, src):
    """merge_upsert == the dict-based MERGE reference under arbitrary NULL
    patterns: matched rows take the source value (NULLs included), and
    provenance is keyed on null-safe difference."""
    from openmrs_patient_migration_script_spark.operators.etl import merge_upsert

    schema = "k int, v double"
    target = spark.createDataFrame(
        [(k, float(v) if v is not None else None) for k, v in tgt], schema
    )
    source = spark.createDataFrame(
        [(k, float(v) if v is not None else None) for k, v in src], schema
    )
    got = {
        r.k: (r.v, r.merge_action)
        for r in merge_upsert(target, source, "k", ["v"]).collect()
    }

    t, s = dict(tgt), dict(src)
    expect = {}
    for k in set(t) | set(s):
        if k not in t:
            expect[k] = (s[k], "inserted")
        elif k not in s:
            expect[k] = (t[k], "kept")
        elif s[k] != t[k]:  # python != is null-safe for None
            expect[k] = (s[k], "updated")
        else:
            expect[k] = (s[k], "unchanged")
    norm = lambda d: {  # noqa: E731
        k: (None if v is None else float(v), a) for k, (v, a) in d.items()
    }
    assert norm(got) == norm(expect)


_edges = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=15),
        st.integers(min_value=0, max_value=15),
    ),
    min_size=1,
    max_size=25,
)


@settings(**SETTINGS)
@given(_edges)
def test_connected_components_matches_union_find(spark, edge_list):
    """Both CC paths (driver union-find AND the distributed min-label
    loop) == a plain-Python union-find on random graphs — self-loops,
    duplicate and reversed edges included. Cluster id = min member."""
    from openmrs_patient_migration_script_spark.operators.graph import (
        connected_components,
    )

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edge_list:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    roots: dict[int, int] = {}
    for n in parent:
        r = find(n)
        roots[r] = min(roots.get(r, n), n)
    expected = {n: roots[find(n)] for n in parent}

    edges = spark.createDataFrame(edge_list, ["key_a", "key_b"])
    local = {
        r["node"]: r["cluster"] for r in connected_components(edges).collect()
    }
    assert local == expected
    looped = {
        r["node"]: r["cluster"]
        for r in connected_components(edges, local_threshold=0).collect()
    }
    assert looped == expected


@settings(**SETTINGS)
@given(
    st.lists(st.integers(min_value=-300, max_value=300), min_size=1, max_size=25),
    st.lists(st.integers(min_value=-300, max_value=300), min_size=1, max_size=25),
)
def test_banded_join_matches_nested_loop_reference(spark, lvals, rvals):
    """banded_join (bin equi-join rewrite) == the O(n*m) nested-loop
    reference: exactly the pairs within the band, each pair exactly once
    (bin overlap must not duplicate, bin boundaries must not drop)."""
    from openmrs_patient_migration_script_spark.operators.joins import banded_join

    band = 40.0
    left = spark.createDataFrame([(i, float(v)) for i, v in enumerate(lvals)], "lid int, lv double")
    right = spark.createDataFrame([(i, float(v)) for i, v in enumerate(rvals)], "rid int, rv double")
    got = sorted(
        (r.lid, r.rid)
        for r in banded_join(left, right, "lv", "rv", band).select("lid", "rid").collect()
    )
    want = sorted(
        (li, ri)
        for li, lv in enumerate(lvals)
        for ri, rv in enumerate(rvals)
        if abs(lv - rv) <= band
    )
    assert got == want


def test_listagg_bounded_fails_loud_on_oversized_group(spark):
    """The A10 group-size contract is enforced in-plan: a group past
    max_group_size raises (assert_true) instead of silently buffering,
    and in-bound groups aggregate normally with deterministic order."""
    import pytest

    from openmrs_patient_migration_script_spark.operators.aggregates import (
        listagg_bounded,
    )

    rows = [("small", f"v{i:02d}") for i in range(3)] + [
        ("big", f"w{i:03d}") for i in range(50)
    ]
    df = spark.createDataFrame(rows, "grp string, val string")

    ok = listagg_bounded(df, ["grp"], "val", max_group_size=100)
    got = {r.grp: r.agg_list for r in ok.collect()}
    assert got["small"] == "v00,v01,v02"
    assert got["big"].startswith("w000,w001")

    with pytest.raises(Exception, match="listagg group big has 50"):
        listagg_bounded(df, ["grp"], "val", max_group_size=10).collect()


@settings(**SETTINGS)
@given(
    st.lists(
        st.text(
            alphabet="abcdefgh", min_size=1, max_size=6
        ),
        min_size=1,
        max_size=40,
        unique=True,
    ),
    st.integers(min_value=0, max_value=100),
)
def test_surrogate_keys_string_path_dense_and_ordered(spark, keys, offset):
    """The non-numeric branch (seeded-sample cuts + exact counts pass)
    honors the same global-window contract as the numeric fast path."""
    from openmrs_patient_migration_script_spark.operators.etl import (
        assign_surrogate_keys,
    )

    df = spark.createDataFrame([(kk,) for kk in keys], "k string")
    out = assign_surrogate_keys(df, "k", id_col="sid", offset=offset, num_partitions=4)
    got = {r["k"]: r["sid"] for r in out.collect()}
    for rank, kk in enumerate(sorted(keys), start=1):
        assert got[kk] == offset + rank


def test_surrogate_keys_degenerate_inputs(spark):
    """Constant-key input (span 0 → single bucket) and empty input must
    not crash the literal-cut scheme; row_number order on ties is
    partition-local but ids stay dense."""
    from openmrs_patient_migration_script_spark.operators.etl import (
        assign_surrogate_keys,
    )

    const = spark.createDataFrame([(7, i) for i in range(10)], "k long, payload long")
    out = assign_surrogate_keys(const, "k", id_col="sid", offset=5)
    sids = sorted(r["sid"] for r in out.collect())
    assert sids == list(range(6, 16))

    empty = spark.createDataFrame([], "k long")
    assert assign_surrogate_keys(empty, "k", id_col="sid").count() == 0

    # extreme-magnitude double keys: the normalized-position form of the
    # fine-bin expression must not overflow to inf
    extreme = spark.createDataFrame(
        [(-1e308,), (0.0,), (1e308,), (1e300,)], "k double"
    )
    got = {r["k"]: r["sid"] for r in assign_surrogate_keys(extreme, "k", id_col="sid").collect()}
    assert got == {-1e308: 1, 0.0: 2, 1e300: 3, 1e308: 4}


@settings(**SETTINGS)
@given(
    st.lists(st.integers(min_value=0, max_value=400), min_size=1, max_size=60),
    st.lists(st.integers(min_value=0, max_value=400), min_size=1, max_size=60),
)
def test_banded_join_fractional_band_matches_reference(spark, lticks, rticks):
    """The ADVICE scenario: band width 0.05 has no exact binary
    representation, and values sit ON bin boundaries (multiples of 0.05).
    The symmetric bin form (floor(val/band) ± 1) must not drop any pair
    the exact |l-r| <= band re-check accepts."""
    from openmrs_patient_migration_script_spark.operators.joins import banded_join

    band = 0.05
    lvals = [round(t * 0.05, 2) for t in lticks]
    rvals = [round(t * 0.05, 2) for t in rticks]
    left = spark.createDataFrame(
        [(i, v) for i, v in enumerate(lvals)], "lid int, lv double"
    )
    right = spark.createDataFrame(
        [(i, v) for i, v in enumerate(rvals)], "rid int, rv double"
    )
    got = sorted(
        (r.lid, r.rid)
        for r in banded_join(left, right, "lv", "rv", band)
        .select("lid", "rid")
        .collect()
    )
    want = sorted(
        (li, ri)
        for li, lv in enumerate(lvals)
        for ri, rv in enumerate(rvals)
        if abs(lv - rv) <= band
    )
    assert got == want


@settings(**SETTINGS)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=30),
            st.integers(min_value=0, max_value=30),
        ),
        min_size=1,
        max_size=40,
    )
)
def test_star_components_match_union_find(spark, edge_list):
    """Alternating Large-Star/Small-Star == plain union-find on random
    graphs (same min-member cluster-id contract as the other tiers)."""
    from openmrs_patient_migration_script_spark.operators import graph
    from openmrs_patient_migration_script_spark.operators.graph import (
        connected_components,
    )

    edges = [(a, b) for a, b in edge_list if a != b]
    if not edges:
        edges = [(0, 1)]
    df = spark.createDataFrame(edges, "key_a long, key_b long")

    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    want = {}
    roots = {}
    for n in list(parent):
        r = find(n)
        roots.setdefault(r, []).append(n)
    for members in roots.values():
        m = min(members)
        for n in members:
            want[n] = m

    # the contraction funnel (driver tier patched to 0), the plain star
    # rounds (local_threshold=0) AND the rounds over partition-contracted
    # edges (local_threshold=1) must all match the reference
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(graph, "_DRIVER_TIER", 0)
        got = {r.node: r.cluster for r in connected_components(df).collect()}
    assert got == want
    loop = {
        r.node: r.cluster
        for r in connected_components(df, local_threshold=0).collect()
    }
    assert loop == want
    contracted = {
        r.node: r.cluster
        for r in connected_components(df, local_threshold=1).collect()
    }
    assert contracted == want


def test_star_components_long_chain_converges_fast(spark):
    """A 400-node path graph: min-label propagation would need 400
    rounds, star contraction converges in O(log n) — the high-diameter
    case above the funnel threshold. Forced past the driver and funnel
    tiers (local_threshold=0) so the ROUNDS stay covered; the funnel
    is exercised by the dedicated contraction tests."""
    from openmrs_patient_migration_script_spark.operators.graph import (
        connected_components,
    )

    n = 400
    df = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "key_a long, key_b long"
    )
    got = {
        r.node: r.cluster
        for r in connected_components(
            df, max_iter=12, local_threshold=0
        ).collect()
    }
    assert got == {i: 0 for i in range(n)}


def test_star_loop_on_contracted_edges_long_chain(spark):
    """The big-graph branch (edges > local_threshold): the star rounds
    run on the partition-contracted edge set. A chain split across
    partitions contracts to per-partition stars that the rounds must
    still merge globally."""
    from openmrs_patient_migration_script_spark.operators.graph import (
        connected_components,
    )

    n = 400
    df = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "key_a long, key_b long"
    ).repartition(8)
    got = {
        r.node: r.cluster
        for r in connected_components(
            df, max_iter=12, local_threshold=1
        ).collect()
    }
    assert got == {i: 0 for i in range(n)}


_intervals = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),     # equi key
        st.integers(min_value=0, max_value=200),   # start
        st.integers(min_value=0, max_value=40),    # length
    ),
    min_size=1,
    max_size=25,
)


@settings(**SETTINGS)
@given(_intervals, _intervals)
def test_interval_overlap_join_matches_nested_loop(spark, lint, rint):
    """interval_overlap_join (binned rewrite + canonical-bin dedup) == the
    O(n*m) nested-loop reference: exactly the overlapping same-key pairs,
    each pair exactly once — bin spanning must not duplicate a pair that
    shares several bins, and boundary-touching intervals must not drop."""
    from openmrs_patient_migration_script_spark.operators.joins import (
        interval_overlap_join,
    )

    left = spark.createDataFrame(
        [(i, k, float(s), float(s + ln)) for i, (k, s, ln) in enumerate(lint)],
        "lid int, k int, ls double, le double",
    )
    right = spark.createDataFrame(
        [(i, k, float(s), float(s + ln)) for i, (k, s, ln) in enumerate(rint)],
        "rid int, k int, rs double, re double",
    )
    got = sorted(
        (r.lid, r.rid)
        for r in interval_overlap_join(
            left, right, "ls", "le", "rs", "re", bin_width=17.0, on=["k"]
        )
        .select("lid", "rid")
        .collect()
    )
    want = sorted(
        (li, ri)
        for li, (lk, ls, ll) in enumerate(lint)
        for ri, (rk, rs, rl) in enumerate(rint)
        if lk == rk and ls <= rs + rl and rs <= ls + ll
    )
    assert got == want


def test_interval_overlap_join_guards_runaway_spans(spark):
    """The max_bins_per_row contract is enforced in-plan: an interval
    spanning too many bins raises (assert_true) instead of silently
    exploding the build side."""
    import pytest
    from openmrs_patient_migration_script_spark.operators.joins import (
        interval_overlap_join,
    )

    left = spark.createDataFrame([(1, 0.0, 1000.0)], "lid int, ls double, le double")
    right = spark.createDataFrame([(1, 5.0, 6.0)], "rid int, rs double, re double")
    out = interval_overlap_join(
        left, right, "ls", "le", "rs", "re", bin_width=10.0, max_bins_per_row=8
    )
    with pytest.raises(Exception, match="bins"):
        out.collect()


def test_kmeans_assign_matches_numpy_argmax(spark):
    """kmeans_assign (Arrow-batched matmul projection) == brute-force
    numpy cosine argmax per vector, including the lowest-cell tiebreak."""
    import numpy as np

    from openmrs_patient_migration_script_spark.operators.similarity import (
        kmeans_assign,
    )

    rng = np.random.RandomState(7)
    X = rng.randn(40, 8).astype(float)
    C = rng.randn(4, 8).astype(float)
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(X)],
        "vec_id long, embedding array<double>",
    )
    got = {
        r.vec_id: r.cell
        for r in kmeans_assign(corpus, [[float(x) for x in c] for c in C]).collect()
    }
    Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    want = np.argmax(Xn @ Cn.T, axis=1)
    assert got == {i: int(want[i]) for i in range(len(X))}


@settings(**SETTINGS)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=12),
            st.integers(min_value=0, max_value=12),
        ),
        min_size=1,
        max_size=40,
    )
)
def test_triangle_count_matches_brute_force(spark, edge_list):
    """Degree-oriented two-join triangle counting == brute-force
    enumeration over all node triples on random graphs (self-loops and
    duplicate/reversed edges must not distort the count)."""
    from itertools import combinations

    from openmrs_patient_migration_script_spark.operators.graph import (
        triangle_count,
    )

    edges = spark.createDataFrame(
        [(a, b) for a, b in edge_list], "key_a int, key_b int"
    )
    got = triangle_count(edges).collect()[0]["n_triangles"]
    adj = set()
    nodes_ = set()
    for a, b in edge_list:
        if a != b:
            adj.add((min(a, b), max(a, b)))
            nodes_.update((a, b))
    want = sum(
        1
        for x, y, z in combinations(sorted(nodes_), 3)
        if (x, y) in adj and (y, z) in adj and (x, z) in adj
    )
    assert got == want


@settings(**SETTINGS)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10),
            st.integers(min_value=0, max_value=10),
        ),
        min_size=1,
        max_size=30,
    )
)
def test_pagerank_matches_fixed_point_reference(spark, edge_list):
    """pagerank (integer fixed-point power iteration) == the same
    recurrence computed serially in plain Python — BIT-exact, including
    on inputs with self-loops, duplicates and reversed duplicates (the
    canonicalization path)."""
    from openmrs_patient_migration_script_spark.operators.graph import pagerank

    undirected = {
        (min(a, b), max(a, b)) for a, b in edge_list if a != b
    }
    if not undirected:
        return
    edges = spark.createDataFrame(
        [(a, b) for a, b in edge_list], "key_a int, key_b int"
    )
    got = {
        r.node: r.rank_scaled for r in pagerank(edges).collect()
    }

    adj: dict[int, list[int]] = {}
    for a, b in undirected:
        adj.setdefault(a, []).append(b)
        adj.setdefault(b, []).append(a)
    scale, d = 10**9, 85
    base = scale // len(adj)
    r = {n: base for n in adj}
    for _ in range(4):
        inflow = {n: 0 for n in adj}
        for u, nbrs in adj.items():
            c = r[u] // len(nbrs)
            for v in nbrs:
                inflow[v] += c
        r = {n: ((100 - d) * base + d * inflow[n]) // 100 for n in adj}
    assert got == r


def test_triangle_count_reversed_edges_regression(spark):
    """Explicit regression for the round-3 advisor finding: an input
    carrying both (a,b) and (b,a) is ONE undirected edge — before the
    least/greatest canonicalization, distinct() kept both rows and the
    triangle {1,2,3} was counted twice (hypothesis had never generated
    the reversed-duplicate case)."""
    from openmrs_patient_migration_script_spark.operators.graph import (
        triangle_count,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (1, 3)], "key_a int, key_b int"
    )
    assert triangle_count(edges).collect()[0]["n_triangles"] == 1


@settings(**SETTINGS)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),
            st.floats(min_value=-100, max_value=100, allow_nan=False, width=32),
        ),
        min_size=1,
        max_size=25,
    )
)
def test_ewma_matches_python_fold(spark, rows):
    """ewma (one shuffle + sequential array fold) == the plain Python
    recurrence, bit-for-bit — the fold must preserve order (sorted by the
    order columns) and seed at each key's first value."""
    from openmrs_patient_migration_script_spark.operators.timeseries import ewma

    df = spark.createDataFrame(
        [(k, i, float(v)) for i, (k, v) in enumerate(rows)],
        "k int, ord long, v double",
    )
    got = {
        (r.k, r.ord): r.ewma
        for r in ewma(df, "k", ["ord"], "v", alpha=0.5).collect()
    }
    want = {}
    state: dict = {}
    for i, (k, v) in enumerate(rows):
        v = float(v)
        s = v if k not in state else 0.5 * v + 0.5 * state[k]
        state[k] = s
        want[(k, i)] = s
    assert got == want


def test_ewma_guards_oversized_groups(spark):
    """The ewma bounded-group contract fails loudly in-plan (assert_true)
    instead of buffering an unbounded key."""
    import pytest
    from openmrs_patient_migration_script_spark.operators.timeseries import ewma

    df = spark.createDataFrame(
        [(1, i, float(i)) for i in range(20)], "k int, ord long, v double"
    )
    with pytest.raises(Exception, match="rows"):
        ewma(df, "k", ["ord"], "v", max_group_size=10).collect()


@settings(**SETTINGS)
@given(
    st.lists(
        st.integers(min_value=0, max_value=(1 << 60) - 1),
        min_size=2,
        max_size=20,
        unique=True,
    ),
    st.data(),
)
def test_simhash_pairs_match_brute_force(spark, fps, data):
    """Banded simhash_pairs == brute-force Hamming enumeration — the
    pigeonhole bands must not drop a <=h pair, and multi-band collisions
    must not duplicate one. Half the fingerprints are replaced by small
    perturbations of others so near pairs actually exist."""
    from openmrs_patient_migration_script_spark.operators.dedup import simhash_pairs

    # plant near-dups: flip up to 3 random bits of an earlier fingerprint
    planted = list(fps)
    for i in range(1, len(planted), 2):
        basis = planted[i - 1]
        for _ in range(data.draw(st.integers(min_value=0, max_value=3))):
            basis ^= 1 << data.draw(st.integers(min_value=0, max_value=59))
        planted[i] = basis
    rows = list(enumerate(planted))
    df = spark.createDataFrame(rows, "key long, simhash long")
    got = sorted(
        (r.key_a, r.key_b, r.hamming)
        for r in simhash_pairs(df, bits=60, max_hamming=3).collect()
    )
    want = sorted(
        (i, j, bin(a ^ b).count("1"))
        for (i, a) in rows
        for (j, b) in rows
        if i < j and bin(a ^ b).count("1") <= 3
    )
    assert got == want


@settings(**SETTINGS)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=-50, max_value=50),
            st.integers(min_value=-50, max_value=50),
        ),
        min_size=1,
        max_size=30,
    ),
    st.lists(
        st.tuples(
            st.integers(min_value=-50, max_value=50),
            st.integers(min_value=-50, max_value=50),
        ),
        min_size=1,
        max_size=30,
    ),
)
def test_grid_distance_join_matches_nested_loop(spark, lpts, rpts):
    """grid_distance_join (3x3 cell equi-join) == the O(n*m) nested-loop
    reference: exactly the pairs within the radius, each exactly once —
    the neighbor-cell explode must cover boundary-touching pairs without
    duplicating pairs that straddle several cells."""
    from openmrs_patient_migration_script_spark.operators.joins import (
        grid_distance_join,
    )

    radius = 7.0
    left = spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in enumerate(lpts)],
        "lid int, lx double, ly double",
    )
    right = spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in enumerate(rpts)],
        "rid int, rx double, ry double",
    )
    got = sorted(
        (r.lid, r.rid)
        for r in grid_distance_join(
            left, right, ("lx", "ly"), ("rx", "ry"), radius
        )
        .select("lid", "rid")
        .collect()
    )
    want = sorted(
        (li, ri)
        for li, (ax, ay) in enumerate(lpts)
        for ri, (bx, by) in enumerate(rpts)
        if ((ax - bx) ** 2 + (ay - by) ** 2) ** 0.5 <= radius
    )
    assert got == want


@settings(**SETTINGS)
@given(
    st.lists(st.tuples(st.integers(0, 9), st.integers(0, 100)), max_size=12),
    st.lists(
        st.tuples(
            st.integers(0, 9),                    # key
            st.integers(0, 20),                   # seq
            st.sampled_from(["insert", "update", "delete"]),
            st.integers(0, 100),                  # new value
        ),
        max_size=20,
    ),
)
def test_apply_cdc_matches_naive_reference(spark, tgt, chg):
    """apply_cdc == the naive replay: last change per key by sequence
    wins; delete drops, insert/update set the value regardless of prior
    presence (idempotent replay), untouched keys survive."""
    from openmrs_patient_migration_script_spark.operators.etl import apply_cdc

    tgt = list({k: (k, v) for k, v in tgt}.values())  # unique keys
    target = spark.createDataFrame(tgt or [(999, 0)], "k long, val long")
    changes = spark.createDataFrame(
        [(k, s, i, op, v) for i, (k, s, op, v) in enumerate(chg)] or
        [(998, 0, 0, "delete", 0)],
        "k long, seq long, tie long, op string, val long",
    )
    got = {
        r.k: (r.val, r.cdc_action)
        for r in apply_cdc(
            target, changes, "k", ["seq", "tie"], "op", ["val"]
        ).collect()
    }
    state = {k: v for k, v in (tgt or [(999, 0)])}
    last: dict = {}
    for i, (k, s, op, v) in enumerate(chg or []):
        if k not in last or (s, i) > last[k][0]:
            last[k] = ((s, i), op, v)
    want = {}
    for k, v in state.items():
        if k not in last:
            want[k] = (v, "kept")
    for k, (_, op, v) in last.items():
        if op == "delete":
            continue
        want[k] = (v, "updated" if k in state else "inserted")
    assert got == want


@settings(**SETTINGS)
@given(
    st.lists(
        st.text(alphabet="0123456789ACDEFGHJKLMNPRTUVWXY", min_size=1, max_size=12),
        min_size=1,
        max_size=20,
        unique=True,
    )
)
def test_luhn_mod30_matches_python_reference(spark, ids):
    """luhn_check_digit / luhn_valid == the serial Luhn mod-N algorithm
    (public OpenMRS identifier-validator semantics): generated check
    chars match, validation accepts them, and single-char tampering of
    the check digit is always rejected."""
    from pyspark.sql import functions as F

    from openmrs_patient_migration_script_spark.functions.ids import (
        MOD30_CHARSET,
        luhn_check_digit,
        luhn_valid,
    )

    cs = MOD30_CHARSET
    n = len(cs)

    def py_check(s: str) -> str:
        tot = 0
        for i, ch in enumerate(reversed(s)):
            v = cs.index(ch)
            if i % 2 == 0:
                v *= 2
            tot += v // n + v % n
        return cs[(n - tot % n) % n]

    df = spark.createDataFrame([(s,) for s in ids], "id string")
    cd = luhn_check_digit("id")
    rotated = F.substring(
        F.lit(cs), ((F.instr(F.lit(cs), cd) % n) + 1).cast("int"), 1
    )
    rows = df.select(
        "id",
        cd.alias("cd"),
        luhn_valid(F.concat(F.col("id"), cd)).alias("ok"),
        luhn_valid(F.concat(F.col("id"), rotated)).alias("tampered"),
    ).collect()
    for r in rows:
        assert r.cd == py_check(r.id), (r.id, r.cd)
        assert r.ok is True, r.id
        assert r.tampered is False, r.id


def test_luhn_rejects_invalid_and_empty_identifiers(spark):
    from pyspark.sql import functions as F

    from openmrs_patient_migration_script_spark.functions.ids import (
        luhn_check_digit,
        luhn_valid,
    )

    df = spark.createDataFrame(
        [("HELLO",), ("",), ("139MT",)], "id string"
    )  # 'O' not in the mod-30 charset; empty is unverifiable
    rows = {
        r.id: r
        for r in df.select(
            "id",
            luhn_check_digit("id").alias("cd"),
            luhn_valid(F.concat(F.col("id"), F.lit("0"))).alias("ok"),
        ).collect()
    }
    assert rows["HELLO"].cd is None and rows["HELLO"].ok is False
    assert rows[""].cd is None and rows[""].ok is False
    assert rows["139MT"].cd is not None


@settings(**SETTINGS)
@given(
    st.lists(
        st.text(
            alphabet=list("abcdefgh XYZ123!.") ,
            min_size=0,
            max_size=120,
        ),
        min_size=1,
        max_size=12,
    )
)
def test_gopher_rules_match_python_reference(spark, texts):
    """gopher_rules == the serial rule battery on arbitrary text,
    including empty docs, mixed-case/symbol tokens and boundary word
    counts — every measured count and every boolean."""
    from openmrs_patient_migration_script_spark.operators.text import (
        STOPWORDS,
        gopher_rules,
    )

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {r.doc_id: r for r in gopher_rules(df).collect()}
    for i, t in enumerate(texts):
        toks = [w for w in t.lower().split(" ") if w]
        n = len(toks)
        sum_len = sum(len(w) for w in toks)
        n_alpha = sum(1 for w in toks if w.isalpha() and w.islower() and w.isascii())
        n_stop = len(set(toks) & set(STOPWORDS))
        r = got[i]
        assert (r.n_words, r.sum_word_len, r.n_alpha_words, r.n_distinct_stopwords) == (
            n, sum_len, n_alpha, n_stop
        ), (i, t)
        ok_count = 20 <= n <= 100_000
        ok_len = 3 * n <= sum_len <= 10 * n
        ok_alpha = 100 * n_alpha >= 80 * n
        ok_stop = n_stop >= 2
        assert (r.ok_word_count, r.ok_mean_word_len, r.ok_alpha_share, r.ok_stopwords) == (
            ok_count, ok_len, ok_alpha, ok_stop
        ), (i, t)
        assert r.passes == (ok_count and ok_len and ok_alpha and ok_stop)


@settings(**SETTINGS)
@given(_events)
def test_asof_join_nearest_matches_naive(spark, ev):
    """asof_join_nearest (single-sort dual-frame carry) == the naive
    per-probe scan: the quote minimizing |gap|, equal gaps preferring
    backward; within a direction at equal gap, backward keeps the largest
    quote_id and forward the smallest."""
    from openmrs_patient_migration_script_spark.operators.joins import (
        asof_join_nearest,
    )

    base = datetime(2024, 1, 1)
    rows = [
        (i, u, base + timedelta(minutes=m), probe) for i, (u, m, probe) in enumerate(ev)
    ]
    probes = [(i, u, ts) for i, u, ts, p in rows if p]
    quotes = [(i, u, ts) for i, u, ts, p in rows if not p]
    if not probes or not quotes:
        return
    left = spark.createDataFrame(probes, ["probe_id", "user_id", "probe_ts"])
    right = spark.createDataFrame(quotes, ["quote_id", "user_id", "quote_ts"])
    got = {
        r["probe_id"]: (r["quote_id"], r["matched_dir"])
        for r in asof_join_nearest(
            left,
            right,
            on=["user_id"],
            left_ts="probe_ts",
            right_ts="quote_ts",
            right_payload=["quote_id", "quote_ts"],
            right_id="quote_id",
        ).collect()
    }
    for pid, u, pts in probes:
        cands = [(qid, qts) for qid, qu, qts in quotes if qu == u]
        if not cands:
            assert got[pid] == (None, None)
            continue
        best = min(
            cands,
            key=lambda c: (
                abs((c[1] - pts).total_seconds()),
                1 if c[1] > pts else 0,
                -c[0] if c[1] <= pts else c[0],
            ),
        )
        want_dir = "backward" if best[1] <= pts else "forward"
        assert got[pid] == (best[0], want_dir), (pid, got[pid], best)


def test_label_propagation_keeps_bridged_cliques_apart(spark):
    """Two 5-cliques joined by ONE bridge edge: connected components must
    fuse them (reachability), label propagation must NOT (majority rule)
    — the over-merge resistance the operator exists for."""
    from openmrs_patient_migration_script_spark.operators.graph import (
        connected_components,
        label_propagation,
    )

    c1 = [(a, b) for a in range(1, 6) for b in range(1, 6) if a < b]
    c2 = [(a, b) for a in range(11, 16) for b in range(11, 16) if a < b]
    bridge = [(5, 11)]
    df = spark.createDataFrame(c1 + c2 + bridge, ["key_a", "key_b"])
    comm = {r.node: r.community for r in label_propagation(df, n_iter=3).collect()}
    comp = {r.node: r.cluster for r in connected_components(df).collect()}
    # one component overall, but two communities
    assert len(set(comp.values())) == 1
    assert len({comm[n] for n in range(1, 6)}) == 1
    assert len({comm[n] for n in range(11, 16)}) == 1
    assert comm[1] != comm[11]


def test_label_propagation_is_partition_invariant(spark):
    from openmrs_patient_migration_script_spark.operators.graph import (
        label_propagation,
    )

    import random

    rng = random.Random(7)
    edges = [(rng.randrange(40), rng.randrange(40)) for _ in range(120)]
    df = spark.createDataFrame(edges, ["key_a", "key_b"])
    a = sorted(map(tuple, label_propagation(df).collect()))
    b = sorted(map(tuple, label_propagation(df.repartition(17)).collect()))
    assert a == b and a


def test_assortativity_sign_tracks_topology(spark):
    """A star (hub->leaves) must be strongly negative; two cliques of
    different sizes joined nowhere are positive-or-degenerate — pin the
    discriminating sign, and partition invariance."""
    from openmrs_patient_migration_script_spark.operators.graph import (
        degree_assortativity,
    )

    star = [(0, i) for i in range(1, 9)]
    df = spark.createDataFrame(star, ["key_a", "key_b"])
    row = degree_assortativity(df).collect()[0]
    assert row.assortativity == -1.0  # pure star: perfectly disassortative
    assert row.n_edge_ends == 16
    # mixed graph: star + a triangle — still negative, but not -1
    tri = [(10, 11), (11, 12), (10, 12)]
    row2 = degree_assortativity(
        spark.createDataFrame(star + tri, ["key_a", "key_b"])
    ).collect()[0]
    assert -1.0 < row2.assortativity < 0.0
    row3 = degree_assortativity(
        spark.createDataFrame(star + tri, ["key_a", "key_b"]).repartition(7)
    ).collect()[0]
    assert row3.assortativity == row2.assortativity


def test_clustering_coefficient_poles(spark):
    """4-clique: every node cc = 1. Star: center cc = 0 (leaves drop,
    degree 1). Triangle-with-tail: the junction node mixes."""
    from openmrs_patient_migration_script_spark.operators.graph import (
        clustering_coefficient,
    )

    clique = [(a, b) for a in range(1, 5) for b in range(1, 5) if a < b]
    star = [(10, i) for i in range(11, 16)]
    tail = [(20, 21), (21, 22), (20, 22), (22, 23)]
    df = spark.createDataFrame(clique + star + tail, ["key_a", "key_b"])
    cc = {r.node: (r.degree, r.n_triangles, r.clustering_coeff)
          for r in clustering_coefficient(df).collect()}
    for n in range(1, 5):
        assert cc[n] == (3, 3, 1.0)
    assert cc[10] == (5, 0, 0.0)
    assert 11 not in cc  # leaves have degree 1 -> undefined, dropped
    assert cc[22] == (3, 1, round(2 * 1 / (3 * 2.0), 6))


# random small-vocabulary documents: repeated spans arise naturally from
# the tiny alphabet, exercising overlap/merge/boundary paths
_span_docs = st.lists(
    st.lists(
        st.sampled_from(["a", "b", "c", "d"]), min_size=1, max_size=14
    ),
    min_size=2,
    max_size=8,
)


def _naive_repeated_spans(docs: list[list[str]], k: int, min_docs: int):
    """Plain-Python reference for repeated_span_stats: k-gram -> doc-set
    index, then per-doc interval union of repeated-k-gram hits."""
    grams: dict[tuple, set] = {}
    for di, toks in enumerate(docs):
        for i in range(len(toks) - k + 1):
            grams.setdefault(tuple(toks[i : i + k]), set()).add(di)
    rep = {g for g, ds in grams.items() if len(ds) >= min_docs}
    out = {}
    for di, toks in enumerate(docs):
        starts = [
            i for i in range(len(toks) - k + 1)
            if tuple(toks[i : i + k]) in rep
        ]
        if not starts:
            continue
        covered: set = set()
        for s in starts:
            covered.update(range(s, s + k))
        spans = 1 + sum(
            1 for a, b in zip(starts, starts[1:]) if b - a > k
        )
        out[di] = (len(toks), len(starts), spans, len(covered))
    return out


@settings(**SETTINGS)
@given(_span_docs)
def test_repeated_span_stats_matches_naive(spark, docs):
    from openmrs_patient_migration_script_spark.operators.dedup import (
        repeated_span_stats,
    )

    K = 3
    df = spark.createDataFrame(
        [(i, " ".join(toks)) for i, toks in enumerate(docs)],
        ["doc_id", "text"],
    )
    got = {
        r["key"]: (
            r["n_tokens"],
            r["n_occurrences"],
            r["n_spans"],
            r["n_tokens_covered"],
        )
        for r in repeated_span_stats(
            df, "doc_id", "text", span_tokens=K, min_docs=2
        ).collect()
    }
    assert got == _naive_repeated_spans(docs, K, 2)
