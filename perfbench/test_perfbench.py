"""Self-tests of the benchmark at a tiny size; no Spark session needed.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import filecmp
import json
import os
import re
import sys

import duckdb
import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
from spans import Recorder  # noqa: E402

TINY = {
    "migrate": {"n_clients": 400},
    "corpus": {"n_docs": 300, "n_vecs": 100},
}


def _files(root):
    return sorted(os.path.relpath(os.path.join(d, f), root) for d, _, fs in os.walk(root) for f in fs)


@pytest.mark.parametrize("workload", sorted(TINY))
def test_same_seed_gives_byte_identical_inputs(tmp_path, workload):
    a, pa_ = gen.generate(workload, str(tmp_path / "a"), 7, **TINY[workload])
    b, pb = gen.generate(workload, str(tmp_path / "b"), 7, **TINY[workload])
    assert pa_ == pb
    names = _files(a)
    assert names == _files(b)
    _, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    assert not mismatch and not errors


@pytest.mark.parametrize("workload", sorted(TINY))
def test_other_seed_gives_other_inputs(tmp_path, workload):
    a, _ = gen.generate(workload, str(tmp_path / "a"), 7, **TINY[workload])
    b, _ = gen.generate(workload, str(tmp_path / "b"), 8, **TINY[workload])
    parquet = [n for n in _files(a) if n.endswith(".parquet") and "nation" not in n]
    _, mismatch, _ = filecmp.cmpfiles(a, b, parquet, shallow=False)
    assert mismatch


def test_generation_is_cached(tmp_path):
    a, _ = gen.generate("migrate", str(tmp_path), 3, **TINY["migrate"])
    mtime = os.path.getmtime(os.path.join(a, "profile.json"))
    b, _ = gen.generate("migrate", str(tmp_path), 3, **TINY["migrate"])
    assert a == b and os.path.getmtime(os.path.join(b, "profile.json")) == mtime


def test_metric_names_and_benchmark_json():
    pattern = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
    for name in list(run.END_TO_END) + list(run.PER_LAYER):
        assert pattern.fullmatch(name), name
    spec_path = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
    if not os.path.exists(spec_path):
        pytest.skip("no BENCHMARK.json beside the benchmark")
    with open(spec_path) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert sorted(w["name"] for w in spec["workloads"]) == sorted(TINY)


def test_times_are_scaled_to_the_reference_host_speed():
    ref = run.REF_LOOP_MS
    calm = {"loop_ms": [ref] * 3}
    slow = {"loop_ms": [2 * ref] * 2 + [50 * ref]}  # one outlier reading
    assert run.host_slowdown([calm]) == pytest.approx(1.0)
    assert run.host_slowdown([slow, slow]) == pytest.approx(2.0)
    passes = [
        {"items": 100, "wall_s": 2.0},
        {"items": 100, "wall_s": 5.0},
        {"items": 100, "wall_s": 4.0},
    ]
    setup = {"wall_s": 20.0}
    metrics = run.end_to_end(setup, passes, [slow, slow], 64.0)
    assert metrics["items_per_s"] == pytest.approx(50.0)  # 25/s on a host twice as slow
    assert metrics["setup_s"] == pytest.approx(10.0)


# -- migrate: a sink written from the DuckDB replay passes; corrupt it and it fails


@pytest.fixture()
def migrate_sink(tmp_path):
    inputs, profile = gen.generate("migrate", str(tmp_path / "in"), 5, **TINY["migrate"])
    sink = tmp_path / "sink"
    con = duckdb.connect()
    for t, sql in checks.replay_sql(inputs, profile["max_id_offset"]).items():
        os.makedirs(sink / t)
        con.execute(f"COPY ({sql}) TO '{sink / t / 'part-0.parquet'}' (FORMAT parquet)")
    expected = checks.replay_digests(con, inputs, profile["max_id_offset"])
    return con, str(sink), inputs, profile, expected


def _check(con, sink, inputs, profile, expected):
    return checks.check_migrate(con, sink, inputs, profile, checks.sink_digests(con, sink), expected)


def test_migrate_check_accepts_the_replay(migrate_sink):
    assert _check(*migrate_sink) == []


def test_migrate_check_catches_a_dropped_sink_row(migrate_sink):
    con, sink, inputs, profile, expected = migrate_sink
    path = os.path.join(sink, "person_name", "part-0.parquet")
    con.execute(f"COPY (SELECT * FROM read_parquet('{path}') OFFSET 1) TO '{path}.tmp' (FORMAT parquet)")
    os.replace(f"{path}.tmp", path)
    problems = _check(con, sink, inputs, profile, expected)
    assert any(p.startswith("person_name") for p in problems)


def test_migrate_check_catches_a_remigrated_client(migrate_sink):
    con, sink, inputs, profile, expected = migrate_sink
    path = os.path.join(sink, "person", "part-0.parquet")
    dest = os.path.join(inputs, "dest_patient.parquet")
    (done,) = con.execute(f"SELECT min(client_id) FROM read_parquet('{dest}') WHERE client_id > 0").fetchone()
    con.execute(
        f"COPY (SELECT * FROM read_parquet('{path}') UNION ALL "
        f"SELECT * REPLACE ({done} AS client_id) FROM (SELECT * FROM read_parquet('{path}') LIMIT 1)) "
        f"TO '{path}.tmp' (FORMAT parquet)"
    )
    os.replace(f"{path}.tmp", path)
    problems = _check(con, sink, inputs, profile, expected)
    assert any("already-migrated" in p for p in problems)


def test_migrate_check_catches_a_patient_id_gap(migrate_sink):
    con, sink, inputs, profile, expected = migrate_sink
    path = os.path.join(sink, "client_patient_mapping", "part-0.parquet")
    con.execute(
        f"COPY (SELECT * REPLACE (patient_id + 1 AS patient_id) FROM read_parquet('{path}')) "
        f"TO '{path}.tmp' (FORMAT parquet)"
    )
    os.replace(f"{path}.tmp", path)
    problems = _check(con, sink, inputs, profile, expected)
    assert any("dense and unique" in p for p in problems)


# -- corpus


def _corpus_profile(tmp_path):
    return gen.generate("corpus", str(tmp_path), 5, **TINY["corpus"])[1]


def _curated(profile, remove_near=True):
    """The curated keys of a correct pass: the reference survivors minus
    the planted near copies."""
    near_copies = {b for _, b in profile["near_pairs"]} if remove_near else set()
    return np.array([k for k in profile["survivor_keys"] if k not in near_copies])


def _true_pairs(profile):
    return {tuple(p) for p in profile["cosine_pairs"]}


def test_corpus_reference_holds_the_planted_items(tmp_path):
    profile = _corpus_profile(tmp_path)
    survivors = set(profile["survivor_keys"])
    assert not survivors & {b for _, b in profile["exact_pairs"]}
    assert {tuple(p) for p in profile["twin_pairs"]} <= _true_pairs(profile)


def test_corpus_check_accepts_deduplicated_output(tmp_path):
    profile = _corpus_profile(tmp_path)
    assert checks.check_corpus(_curated(profile), _true_pairs(profile), profile) == []


def test_corpus_check_catches_a_kept_duplicate(tmp_path):
    profile = _corpus_profile(tmp_path)
    kept = np.arange(profile["docs"])
    problems = checks.check_corpus(kept, _true_pairs(profile), profile)
    assert any("exact duplicates kept" in p for p in problems)
    assert any("filter or exact dedup drops" in p for p in problems)


def test_corpus_check_catches_an_empty_output(tmp_path):
    profile = _corpus_profile(tmp_path)
    problems = checks.check_corpus(np.array([], dtype=np.int64), set(), profile)
    assert any("not planted near copies" in p for p in problems)
    assert any("twin pairs found" in p for p in problems)


def test_corpus_check_catches_an_unremoved_near_copy(tmp_path):
    profile = _corpus_profile(tmp_path)
    problems = checks.check_corpus(_curated(profile, remove_near=False), _true_pairs(profile), profile)
    assert any("near copies removed" in p for p in problems)


def test_corpus_check_catches_a_false_or_missed_twin(tmp_path):
    profile = _corpus_profile(tmp_path)
    kept, true = _curated(profile), _true_pairs(profile)
    problems = checks.check_corpus(kept, true | {(0, profile["vectors"] + 5)}, profile)
    assert any("below the twin threshold" in p for p in problems)
    problems = checks.check_corpus(kept, set(sorted(true)[: len(true) // 2]), profile)
    assert any("twin pairs found" in p for p in problems)


def test_near_dup_removed_share(tmp_path):
    profile = _corpus_profile(tmp_path)
    assert checks.near_dup_removed_share(_curated(profile, remove_near=False), profile) == 0.0
    assert checks.near_dup_removed_share(_curated(profile), profile) == 1.0


# -- declared queries against their oracles


def test_compare_frames_is_order_insensitive():
    a = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.5, 2.5], "s": ["x", "y", "z"]})
    assert checks.compare_frames(a.iloc[::-1], a[["s", "v", "k"]]) == []


def test_compare_frames_catches_a_wrong_row():
    a = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.5, 2.5]})
    b = a.copy()
    b.loc[1, "v"] = 1.25
    assert checks.compare_frames(a, b)
    assert checks.compare_frames(a, a.iloc[:2])


# -- span recorder


def test_self_time_subtracts_children():
    rec = Recorder("t")
    with rec.span("pass") as outer:
        with rec.span("etl.sink"):
            pass
        with rec.span("etl.mapping"):
            with rec.span("sources.load_table"):
                pass
    kids = rec.children(outer)
    assert [k.name for k in kids] == ["etl.sink", "etl.mapping"]
    assert rec.self_time(outer) == pytest.approx(outer.duration - sum(k.duration for k in kids))
    layers = rec.layer_self_times()
    assert set(layers) == {"pass", "etl", "sources"}
    assert sum(layers.values()) == pytest.approx(outer.duration)


def test_disabled_recorder_records_nothing():
    rec = Recorder("t", enabled=False)
    with rec.span("pass") as s:
        assert s is None
    assert rec.spans == []


def test_recorder_dump(tmp_path):
    rec = Recorder("run-1")
    with rec.span("plans.build:agg_group", index=0):
        pass
    path = tmp_path / "spans.jsonl"
    rec.dump(str(path))
    (row,) = [json.loads(x) for x in path.read_text().splitlines()]
    assert row["name"] == "plans.build:agg_group" and row["run_id"] == "run-1" and row["parent"] is None
