"""Output checks. Each returns a list of problems; empty means correct.

- ``migrate``: sink row counts against the generator's prediction, dense
  unique ``patient_id`` above the destination's max id, no already
  migrated client written again, and an order-insensitive digest of every
  sink that must equal a DuckDB replay of the migration built on
  ``functions.ids.deterministic_uuid_sql`` (and stay the same across
  passes, which the caller compares).
- ``corpus``: the curated documents and the embedding twin pairs, against
  the reference outcome the generator computed outside Spark.
- declared queries: a query's rows equal its DuckDB oracle,
  order-insensitive and exact after the query's own rounding.
"""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pandas as pd

from openmrs_patient_migration_script_spark.functions.ids import deterministic_uuid_sql

SINKS = (
    "person",
    "person_name",
    "person_address",
    "person_attribute",
    "patient",
    "patient_identifier",
    "mapping",
    "client_patient_mapping",
)


def _scan(path: str) -> str:
    """DuckDB table expression for a parquet file or a directory of them."""
    if os.path.isdir(path):
        path = os.path.join(path, "*.parquet")
    return f"read_parquet('{path}')"


def digest_sql(relation: str, columns: list[str]) -> str:
    """Row count and an order-insensitive sum of per-row hashes over the
    text form of ``columns`` (sorted, so column order does not matter)."""
    cells = ", ".join(f"coalesce(CAST({c} AS VARCHAR), '<null>')" for c in sorted(columns))
    return f"SELECT count(*), CAST(coalesce(sum(hash(concat_ws('|', {cells}))), 0) AS VARCHAR) FROM {relation}"


def sink_digests(con: duckdb.DuckDBPyConnection, sink_dir: str) -> dict[str, tuple[int, str]]:
    out = {}
    for t in SINKS:
        rel = _scan(os.path.join(sink_dir, t))
        cols = [r[0] for r in con.execute(f"DESCRIBE SELECT * FROM {rel}").fetchall()]
        n, h = con.execute(digest_sql(rel, cols)).fetchone()
        out[t] = (int(n), h)
    return out


def _uuid(cols: str, ns: str) -> str:
    return deterministic_uuid_sql(cols, namespace=ns)


def replay_sql(input_dir: str, offset: int) -> dict[str, str]:
    """The migration replayed in DuckDB SQL: one SELECT per sink."""
    c, n, d = (_scan(os.path.join(input_dir, f"{t}.parquet")) for t in ("customer", "nation", "dest_patient"))
    keyed = f"""
      WITH e AS (
        SELECT c.c_custkey AS client_id,
               regexp_extract(c.c_name, '#(\\d+)$', 1) AS family_name,
               CASE WHEN c.c_custkey % 2 = 0 THEN 'M' ELSE 'F' END AS gender,
               DATE '1970-01-01' + CAST(c.c_custkey % 18250 AS INTEGER) AS birthdate,
               nt.n_name AS county, c.c_mktsegment AS village,
               CASE WHEN c.c_custkey % 3 != 0
                    THEN 'NAT-' || lpad(CAST(c.c_custkey AS VARCHAR), 9, '0') END AS national_id,
               CASE WHEN c.c_custkey % 2 != 0
                    THEN 'BC-' || lpad(CAST(c.c_custkey AS VARCHAR), 9, '0') END AS birth_cert_no
        FROM {c} c LEFT JOIN {n} nt ON c.c_nationkey = nt.n_nationkey
      ), reg AS (
        SELECT client_id, 'CUSTOMER' AS given_name, family_name, gender, birthdate, county, village,
               coalesce(national_id, birth_cert_no,
                        'GEN-' || lpad(CAST(client_id AS VARCHAR), 9, '0')) AS identifier,
               CASE WHEN national_id IS NOT NULL THEN 'NATIONAL_ID'
                    WHEN birth_cert_no IS NOT NULL THEN 'BIRTH_CERTIFICATE'
                    ELSE 'GENERATED' END AS identifier_type,
               {_uuid('client_id', 'person')} AS person_uuid,
               {_uuid('client_id', 'patient')} AS patient_uuid,
               0 AS voided, 1 AS preferred
        FROM e
      ), new AS (
        SELECT * FROM reg r WHERE NOT EXISTS (SELECT 1 FROM {d} x WHERE x.client_id = r.client_id)
      ), keyed AS (
        SELECT *, CAST({offset} + row_number() OVER (ORDER BY client_id) AS BIGINT) AS patient_id FROM new
      )"""
    attrs = """(SELECT client_id AS person_id, 'county' AS attribute_type, county AS value FROM keyed
                UNION ALL
                SELECT client_id, 'village', village FROM keyed)"""
    return {
        "person": f"{keyed} SELECT client_id, person_uuid AS uuid, gender, birthdate, voided FROM keyed",
        "person_name": f"{keyed} SELECT client_id, given_name, family_name, preferred, "
        f"{_uuid('client_id', 'person_name')} AS uuid FROM keyed",
        "person_address": f"{keyed} SELECT client_id, county, village, "
        f"{_uuid('client_id', 'person_address')} AS uuid FROM keyed",
        "person_attribute": f"{keyed} SELECT person_id, attribute_type, value, "
        f"{_uuid('person_id, attribute_type', 'person_attribute')} AS uuid "
        f"FROM {attrs} WHERE value IS NOT NULL",
        "patient": f"{keyed} SELECT client_id, patient_uuid AS uuid, voided FROM keyed",
        "patient_identifier": f"{keyed} SELECT client_id, identifier, identifier_type, 1 AS preferred, "
        f"{_uuid('client_id', 'patient_identifier')} AS uuid FROM keyed",
        "mapping": f"{keyed} SELECT client_id, patient_uuid, {_uuid('client_id', 'mapping')} AS uuid FROM keyed",
        "client_patient_mapping": f"{keyed} SELECT client_id, patient_id, "
        f"{_uuid('client_id', 'mapping')} AS uuid FROM keyed",
    }


def replay_digests(con: duckdb.DuckDBPyConnection, input_dir: str, offset: int) -> dict[str, tuple[int, str]]:
    out = {}
    for t, sql in replay_sql(input_dir, offset).items():
        con.execute(f"CREATE OR REPLACE TEMP VIEW replay_{t} AS {sql}")
        cols = [r[0] for r in con.execute(f"DESCRIBE SELECT * FROM replay_{t}").fetchall()]
        n, h = con.execute(digest_sql(f"replay_{t}", cols)).fetchone()
        out[t] = (int(n), h)
    return out


def check_migrate(
    con: duckdb.DuckDBPyConnection,
    sink_dir: str,
    input_dir: str,
    profile: dict,
    digests: dict[str, tuple[int, str]],
    expected_digests: dict[str, tuple[int, str]],
) -> list[str]:
    problems = []
    for t, n in profile["expected_rows"].items():
        if digests[t][0] != n:
            problems.append(f"{t}: {digests[t][0]} rows, expected {n}")
        if digests[t] != expected_digests[t]:
            problems.append(f"{t}: digest differs from the DuckDB replay")
    offset, n_new = profile["max_id_offset"], profile["new_clients"]
    lo, hi, distinct, total = con.execute(
        "SELECT min(patient_id), max(patient_id), count(DISTINCT patient_id), count(*) FROM "
        + _scan(os.path.join(sink_dir, "client_patient_mapping"))
    ).fetchone()
    if (lo, hi, distinct, total) != (offset + 1, offset + n_new, n_new, n_new):
        problems.append(
            f"patient_id not dense and unique above {offset}: min={lo} max={hi} "
            f"distinct={distinct} rows={total}"
        )
    (again,) = con.execute(
        f"SELECT count(*) FROM {_scan(os.path.join(sink_dir, 'person'))} p "
        f"JOIN {_scan(os.path.join(input_dir, 'dest_patient.parquet'))} d USING (client_id)"
    ).fetchone()
    if again:
        problems.append(f"{again} already-migrated clients written again")
    return problems


# floors on the share of planted near duplicates the approximate passes
# find: MinHash banding misses some one-token edits of short documents, LSH
# bucketing almost no twin (each measured above 0.95 on every seed tried)
NEAR_DUP_FLOOR = 0.85
TWIN_FLOOR = 0.9
# MinHash candidates are not verified, so a few unrelated documents share a
# band by chance and one of each such pair is removed (2 in 25 000 measured)
STRAY_CEILING = 0.001


def check_corpus(kept_keys: np.ndarray, twin_pairs_found: set[tuple[int, int]], profile: dict) -> list[str]:
    """The curated keys and the embedding pairs found, against the
    generator's reference outcome: the curated set is the filtered, exactly
    deduplicated documents minus planted near copies, with at least
    ``NEAR_DUP_FLOOR`` of them removed and at most ``STRAY_CEILING`` of the
    documents removed otherwise; the pairs found are true pairs, at least
    ``TWIN_FLOOR`` of them."""
    problems = []
    kept = set(kept_keys.tolist())
    if len(kept) != len(kept_keys):
        problems.append("duplicate keys in the curated output")
    copies = [b for _, b in profile["exact_pairs"] if b in kept]
    if copies:
        problems.append(f"{len(copies)} planted exact duplicates kept, e.g. doc {copies[0]}")
    survivors = set(profile["survivor_keys"])
    extra = kept - survivors
    if extra:
        problems.append(f"{len(extra)} docs kept that the filter or exact dedup drops, e.g. doc {min(extra)}")
    near_copies = {b for _, b in profile["near_pairs"]}
    stray = survivors - kept - near_copies
    if len(stray) > STRAY_CEILING * len(survivors):
        problems.append(f"{len(stray)} docs removed that are not planted near copies, e.g. doc {min(stray)}")
    share = near_dup_removed_share(kept_keys, profile)
    if share < NEAR_DUP_FLOOR:
        problems.append(f"{share:.3f} of planted near copies removed, below {NEAR_DUP_FLOOR}")
    true_pairs = {tuple(p) for p in profile["cosine_pairs"]}
    false = twin_pairs_found - true_pairs
    if false:
        problems.append(f"{len(false)} embedding pairs found below the twin threshold")
    recall = len(twin_pairs_found & true_pairs) / len(true_pairs) if true_pairs else 1.0
    if recall < TWIN_FLOOR:
        problems.append(f"{recall:.3f} of embedding twin pairs found, below {TWIN_FLOOR}")
    return problems


def near_dup_removed_share(kept_keys: np.ndarray, profile: dict) -> float:
    """Share of planted near-duplicate copies removed, among those that
    survive the filter and exact dedup together with their original."""
    kept, survivors = set(kept_keys.tolist()), set(profile["survivor_keys"])
    eligible = [b for a, b in profile["near_pairs"] if a in survivors and b in survivors]
    return sum(b not in kept for b in eligible) / len(eligible) if eligible else 0.0


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        kind = df[c].dtype.kind
        if kind == "M":
            df[c] = df[c].astype("datetime64[us]").astype(str)
        elif kind == "O":
            df[c] = df[c].astype(str)
        elif kind in "iu":
            df[c] = df[c].astype("int64")
        elif kind == "b":
            df[c] = df[c].astype(bool)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def compare_frames(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """Order-insensitive exact comparison of a query result with its
    oracle's, the way the engine's local verifier compares them."""
    if sorted(got.columns) != sorted(want.columns):
        return [f"columns {sorted(got.columns)} != oracle {sorted(want.columns)}"]
    if len(got) != len(want):
        return [f"{len(got)} rows != oracle {len(want)}"]
    g, w = _normalize(got), _normalize(want)
    problems = []
    for c in g.columns:
        a, b = g[c], w[c]
        if a.dtype.kind == "f" or b.dtype.kind == "f":
            a, b = pd.to_numeric(a, errors="coerce"), pd.to_numeric(b, errors="coerce")
            same = (a.isna() == b.isna()).all() and ((a - b).abs().fillna(0) == 0).all()
        else:
            same = a.astype(str).equals(b.astype(str))
        if not same:
            problems.append(f"column {c} differs from the oracle")
    return problems
