"""Seeded input generators for the workloads.

Every generator draws from ``numpy.random.default_rng(seed)`` only and
writes parquet through pyarrow with fixed writer settings, so one
``(seed, size)`` pair always yields byte-identical files. The program under
test sees only the parquet; each generator also returns a ``profile`` dict
(row counts, planted shares, the ground truth the output checks compare
against) that is printed with every result.

Inputs are cached per ``(workload, seed, size)`` under the work directory:
a finished set carries a ``profile.json`` written last, so an interrupted
generation is redone rather than reused.
"""

from __future__ import annotations

import json
import os
import shutil

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from openmrs_patient_migration_script_spark.plans import ORACLES

# The 30-token vocabulary of the engine's reference corpus: the language
# markers and stopwords of operators/text.py are drawn from it, so quality
# scoring and language ID see realistic hit rates.
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
N_NATIONS = 25
# nation key planted on a seeded share of clients that is absent from the
# nation table: the left join leaves their county NULL, which drops their
# county attribute row from the person_attribute sink
UNKNOWN_NATION = 99
PARQUET_PARTS = 8  # files per multi-file table: scans split across cores
TWIN_THRESHOLD = 0.95  # cosine above which two embeddings are near-twins


def _write(table: pa.Table, path: str, parts: int = 1) -> None:
    """One file at ``path`` (parts == 1) or ``parts`` row-contiguous files
    under the directory ``path``. Fixed writer settings, no pandas
    metadata: byte-identical output for identical tables."""
    kw = dict(compression="snappy", use_dictionary=True, write_statistics=True)
    if parts == 1:
        pq.write_table(table, path, **kw)
        return
    os.makedirs(path)
    bounds = np.linspace(0, table.num_rows, parts + 1).astype(int)
    for i in range(parts):
        chunk = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(chunk, os.path.join(path, f"part-{i:05d}.parquet"), **kw)


def _nation() -> pa.Table:
    keys = np.arange(N_NATIONS, dtype=np.int32)
    return pa.table(
        {
            "n_nationkey": keys,
            "n_name": [f"NATION_{k}" for k in keys],
            "n_regionkey": (keys % 5).astype(np.int32),
        }
    )


def _customers(rng: np.random.Generator, n: int, skew: float, unknown: float) -> pa.Table:
    """``n`` clients with sparse, increasing keys. The key residue mod 6
    is drawn from seeded weights, which sets the share of clients with a
    National ID (key % 3 != 0) and a birth certificate (key % 2 != 0) in
    the engine's enrollment derivation. Nation keys follow a seeded Zipf
    skew, with a seeded share of keys outside the nation table."""
    residue_p = rng.dirichlet(np.full(6, 4.0))
    keys = 6 * np.arange(n, dtype=np.int64) + 6 + rng.choice(6, n, p=residue_p)
    nation_p = 1.0 / np.arange(1, N_NATIONS + 1) ** skew
    nations = rng.choice(N_NATIONS, n, p=nation_p / nation_p.sum()).astype(np.int32)
    nations[rng.random(n) < unknown] = UNKNOWN_NATION
    return pa.table(
        {
            "c_custkey": keys,
            "c_name": [f"Customer#{k:09d}" for k in keys],
            "c_nationkey": nations,
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, len(SEGMENTS), n)],
        }
    )


def gen_migrate(out: str, seed: int, n_clients: int) -> dict:
    """Enrollment source (customer + nation) and a destination
    ``dest_patient`` table that already holds a seeded share of the
    clients plus patients from other programs, so the re-run anti-join
    skips real rows and ``max_id_offset`` is set by the destination."""
    rng = np.random.default_rng(seed)
    skew = float(rng.uniform(0.8, 1.4))
    unknown = float(rng.uniform(0.005, 0.02))
    cust = _customers(rng, n_clients, skew, unknown)
    migrated_share = float(rng.uniform(0.15, 0.3))
    keys = cust["c_custkey"].to_numpy()
    done = np.sort(rng.choice(keys, int(n_clients * migrated_share), replace=False))
    n_other = int(rng.integers(100, 1000))
    # other programs' patients: client ids the source never uses
    dest_clients = np.concatenate([done, -np.arange(1, n_other + 1, dtype=np.int64)])
    rng.shuffle(dest_clients)
    # destination ids are increasing with random gaps, as after deletes
    dest_ids = np.cumsum(rng.integers(1, 4, dest_clients.size)).astype(np.int64)
    dest = pa.table({"patient_id": dest_ids, "client_id": dest_clients})
    _write(cust, os.path.join(out, "customer.parquet"), PARQUET_PARTS)
    _write(_nation(), os.path.join(out, "nation.parquet"))
    _write(dest, os.path.join(out, "dest_patient.parquet"))

    new = ~np.isin(keys, done)
    new_nation = cust["c_nationkey"].to_numpy()[new]
    n_new = int(new.sum())
    return {
        "clients": n_clients,
        "already_migrated": int(done.size),
        "already_migrated_share": round(done.size / n_clients, 6),
        "other_patients": n_other,
        "nation_skew": round(skew, 6),
        "unknown_nation_share": round(float((cust["c_nationkey"].to_numpy() == UNKNOWN_NATION).mean()), 6),
        "national_id_share": round(float((keys % 3 != 0).mean()), 6),
        "new_clients": n_new,
        "max_id_offset": int(dest_ids.max()),
        # one row per new client in every sink except person_attribute,
        # which carries a county row only where the nation is known
        "expected_rows": {
            "person": n_new,
            "person_name": n_new,
            "person_address": n_new,
            "person_attribute": n_new + int((new_nation != UNKNOWN_NATION).sum()),
            "patient": n_new,
            "patient_identifier": n_new,
            "mapping": n_new,
            "client_patient_mapping": n_new,
        },
    }


def _doc_texts(rng: np.random.Generator, n: int, min_len: int = 10, max_len: int = 100) -> list[str]:
    lens = rng.integers(min_len, max_len + 1, n)
    toks = rng.integers(0, len(VOCAB), int(lens.sum()))
    vocab = np.array(VOCAB)
    out, pos = [], 0
    for ln in lens:
        out.append(" ".join(vocab[toks[pos : pos + ln]]))
        pos += ln
    return out


def _one_token_edit(rng: np.random.Generator, text: str) -> str:
    words = text.split(" ")
    i = int(rng.integers(0, len(words)))
    choices = [w for w in VOCAB if w != words[i]]
    words[i] = choices[int(rng.integers(0, len(choices)))]
    return " ".join(words)


def _embeddings(rng: np.random.Generator, n: int, twin_share: float, dim: int = 64):
    """``n`` vectors, the last ``n * twin_share`` of them near-twins of
    earlier ones (cosine above 0.99)."""
    n_twin = int(n * twin_share)
    base = rng.standard_normal((n - n_twin, dim)) * 0.15
    src = np.sort(rng.choice(n - n_twin, n_twin, replace=False))
    twins = base[src] + rng.standard_normal((n_twin, dim)) * 0.003
    vecs = np.vstack([base, twins]).astype(np.float32)
    table = pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": rng.integers(0, 10, n).astype(np.int32),
        }
    )
    pairs = [[int(s), int(n - n_twin + i)] for i, s in enumerate(src)]
    return table, pairs


def _cosine_pairs(vecs: np.ndarray, threshold: float, block: int = 512) -> list[list[int]]:
    """Every (a < b) pair with cosine >= ``threshold``, by brute force."""
    unit = vecs.astype(np.float64)
    unit /= np.linalg.norm(unit, axis=1, keepdims=True)
    pairs = []
    for lo in range(0, len(unit), block):
        a, b = np.nonzero(unit[lo : lo + block] @ unit.T >= threshold)
        a += lo
        pairs += [[int(i), int(j)] for i, j in zip(a, b) if i < j]
    return sorted(pairs)


def _filtered_survivors(docs_dir: str) -> list[int]:
    """Documents that pass ``prepare_corpus``'s quality and length filter
    and its exact dedup, by the engine's declared ``corpus_prep`` DuckDB
    oracle cut after its exact-dedup step (the MinHash steps after it hash
    with md5, not with ``prepare_corpus``'s default xxhash64)."""
    sql = ORACLES["corpus_prep"]
    head = sql[: sql.index("toks AS (")].rstrip().rstrip(",")
    with duckdb.connect() as con:
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs_dir}/*.parquet')")
        return [int(k) for (k,) in con.execute(f"{head} SELECT doc_id FROM exact ORDER BY doc_id").fetchall()]


def gen_corpus(out: str, seed: int, n_docs: int, n_vecs: int) -> dict:
    """``n_docs`` documents, of which seeded shares are planted exact
    duplicates and one-token-edit near duplicates of the others (copies get
    ids above every original, so the deterministic survivor of a duplicate
    group is the original), and ``n_vecs`` embeddings with planted
    near-twins. The totals do not depend on the seed. The profile also
    holds the reference outcome the output checks compare against."""
    rng = np.random.default_rng(seed)
    n_exact = int(n_docs * rng.uniform(0.02, 0.05))
    n_near = int(n_docs * rng.uniform(0.02, 0.05))
    n_orig = n_docs - n_exact - n_near
    texts = _doc_texts(rng, n_orig)
    exact_src = rng.choice(n_orig, n_exact, replace=False)
    near_src = rng.choice(n_orig, n_near, replace=False)
    texts += [texts[i] for i in exact_src]
    texts += [_one_token_edit(rng, texts[i]) for i in near_src]
    docs = pa.table(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": np.array(LANGS)[rng.choice(len(LANGS), n_docs, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    emb, twin_pairs = _embeddings(rng, n_vecs, float(rng.uniform(0.02, 0.05)))
    _write(docs, os.path.join(out, "documents.parquet"), PARQUET_PARTS)
    _write(emb, os.path.join(out, "embeddings.parquet"), PARQUET_PARTS)
    survivors = _filtered_survivors(os.path.join(out, "documents.parquet"))
    vecs = np.stack(emb.column("embedding").to_numpy(zero_copy_only=False))
    return {
        "docs": n_docs,
        "exact_planted": n_exact,
        "near_planted": n_near,
        "vectors": n_vecs,
        "twins_planted": len(twin_pairs),
        "exact_pairs": [[int(s), n_orig + i] for i, s in enumerate(exact_src)],
        "near_pairs": [[int(s), n_orig + n_exact + i] for i, s in enumerate(near_src)],
        "twin_pairs": twin_pairs,
        # reference outcome, computed outside Spark: the documents left
        # after the filter and exact dedup, and every embedding pair at or
        # above the twin threshold
        "filtered_survivors": len(survivors),
        "survivor_keys": survivors,
        "cosine_pairs": _cosine_pairs(vecs, TWIN_THRESHOLD),
    }


GENERATORS = {"migrate": gen_migrate, "corpus": gen_corpus}


def generate(workload: str, cache_root: str, seed: int, **size) -> tuple[str, dict]:
    """Inputs for ``workload`` at ``seed`` and ``size``, generated once per
    key under ``cache_root``. Returns (input directory, profile)."""
    key = "-".join([workload, str(seed)] + [f"{k}{v}" for k, v in sorted(size.items())])
    out = os.path.join(cache_root, key)
    marker = os.path.join(out, "profile.json")
    if os.path.exists(marker):
        with open(marker) as f:
            return out, json.load(f)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    profile = GENERATORS[workload](out, seed, **size)
    with open(marker, "w") as f:
        json.dump(profile, f)
    return out, profile


def input_bytes(path: str) -> int:
    """Total size of the parquet files under ``path``."""
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files if f.endswith(".parquet"))
    return total
