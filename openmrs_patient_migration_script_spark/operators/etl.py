"""ETL composites — the reference's actual workload, re-designed for Spark.

The reference migrates DREAMS client enrollment rows into the OpenMRS
person/patient tables: person details, addresses, attributes, identifiers
(with National-ID → Birth-Certificate → generated-ID precedence) and a
client_id→patient_id mapping table (/root/reference/README.md:2,7-19).
The harness has no MySQL, so the `customer` table plays the enrollment
source (FIXTURES.md §B mapping); the *shapes* — multi-sink fan-out,
identifier precedence, surrogate keys, unpivot, key mapping — are the
reference semantics.

Scale notes (100 TB):
- every transform here is a narrow projection over the scan (no shuffle)
  except surrogate-key assignment, which uses a range-partition +
  per-partition-offset scheme instead of a single-partition global window;
- dimension joins (nation/region) are explicit broadcasts;
- the multi-sink write materializes its input once and runs the seven
  sink writes concurrently off that one checkpoint;
- UUIDs are deterministic (functions/ids.py) so re-runs are idempotent and
  speculative task retries are safe.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from openmrs_patient_migration_script_spark.functions.ids import deterministic_uuid


def identifier_with_fallback(
    national_id: Column, birth_cert: Column, generated: Column
) -> tuple[Column, Column]:
    """The reference's identifier precedence, encoded once and reused:
    National ID, else Birth Certificate, else a generated patient ID
    (/root/reference/README.md:13-15).

    Returns ``(identifier, identifier_type)`` columns.
    """
    identifier = F.coalesce(national_id, birth_cert, generated)
    id_type = (
        F.when(national_id.isNotNull(), F.lit("NATIONAL_ID"))
        .when(birth_cert.isNotNull(), F.lit("BIRTH_CERTIFICATE"))
        .otherwise(F.lit("GENERATED"))
    )
    return identifier, id_type


def synthesize_enrollment(customer: DataFrame, nation: DataFrame) -> DataFrame:
    """Derive a DREAMS-enrollment-shaped source from the harness `customer`
    table (FIXTURES.md §B): names, gender, birthdate, address parts and the
    two optional identifier columns, with deterministic nullability so the
    fallback path is exercised.
    """
    c = customer
    # c_name is 'Customer#000000042' → family name = the numeric suffix
    enrolled = (
        c.join(F.broadcast(nation), c.c_nationkey == nation.n_nationkey, "left")
        .select(
            c.c_custkey.alias("client_id"),
            F.lit("Customer").alias("given_name"),
            F.regexp_extract(c.c_name, "#(\\d+)$", 1).alias("family_name"),
            F.when(c.c_custkey % 2 == 0, F.lit("M")).otherwise(F.lit("F")).alias("gender"),
            F.date_add(F.lit("1970-01-01").cast("date"), (c.c_custkey % 18250).cast("int")).alias(
                "birthdate"
            ),
            F.col("n_name").alias("county"),
            c.c_mktsegment.alias("village"),
            # ~2/3 of clients have a National ID; of the rest, ~half have a
            # birth certificate — mirrors the README's fallback ladder.
            F.when(
                c.c_custkey % 3 != 0, F.concat(F.lit("NAT-"), F.lpad(c.c_custkey, 9, "0"))
            ).alias("national_id"),
            F.when(
                c.c_custkey % 2 != 0, F.concat(F.lit("BC-"), F.lpad(c.c_custkey, 9, "0"))
            ).alias("birth_cert_no"),
            c.c_acctbal.alias("acctbal"),
        )
    )
    return enrolled


def registration_build(customer: DataFrame, nation: DataFrame) -> DataFrame:
    """Flagship E1: full patient-registration build — one ready-to-insert row
    per eligible client with person core, address, identifier (with
    precedence) and deterministic UUIDs (/root/reference/README.md:7-19).

    Pure narrow ops after one broadcast join: at 100 TB this is a single
    scan-project pipeline with no shuffle.
    """
    e = synthesize_enrollment(customer, nation)
    identifier, id_type = identifier_with_fallback(
        F.col("national_id"),
        F.col("birth_cert_no"),
        F.concat(F.lit("GEN-"), F.lpad(F.col("client_id"), 9, "0")),
    )
    return e.select(
        F.col("client_id"),
        F.upper(F.trim(F.col("given_name"))).alias("given_name"),
        F.col("family_name"),
        F.col("gender"),
        F.col("birthdate"),
        F.col("county"),
        F.col("village"),
        identifier.alias("identifier"),
        id_type.alias("identifier_type"),
        deterministic_uuid("client_id", namespace="person").alias("person_uuid"),
        deterministic_uuid("client_id", namespace="patient").alias("patient_uuid"),
        F.lit(0).alias("voided"),
        F.lit(1).alias("preferred"),
    )


def max_id_offset(existing: DataFrame, id_col: str) -> int:
    """A1: scalar ``MAX(id)`` over the destination table — the reference's
    collision-avoidance rule: generated IDs must start above every existing
    one (/root/reference/README.md:15). One tiny all-reduce job; returns 0
    on an empty table."""
    row = existing.agg(F.max(F.col(id_col)).alias("m")).collect()[0]
    return int(row["m"]) if row["m"] is not None else 0


def assign_surrogate_keys(
    df: DataFrame,
    natural_key: str,
    id_col: str = "new_id",
    offset: int = 0,
    num_partitions: int | None = None,
) -> DataFrame:
    """E2: dense surrogate keys = ``offset + row_number() OVER (ORDER BY key)``
    — without the single-partition global window that kills parallelism at
    100 TB (SURVEY.md §4).

    Strategy (r3 — no materialization): derive ~``num_partitions`` range
    cut points of the natural key driver-side ONCE (numeric keys: a fine
    histogram that yields cuts and exact offsets in one pass; other keys:
    a seeded sample + counts pass) and bake them into the plan as
    literals. The range-bucket id is then a PURE expression of the key, so
    a task recomputation always lands every row in the same bucket no
    matter how the cuts were obtained: cumulative per-bucket counts are
    global-rank offsets, and a bucket-local ``row_number`` completes the
    byte-identical global rank.

    r2 got the same recomputation-safety from ``repartitionByRange`` +
    eager ``localCheckpoint`` — the boundaries there live inside a sampled
    shuffle, so only materialization pins them. That cost a full range
    shuffle, a checkpoint write, AND a second hash-partition exchange for
    the window (Catalyst can't see that spark_partition_id matches the
    window key). This path pays two light scans (cuts + counts) and ONE
    shuffle, and survives executor loss like any pure plan. Cut quality
    only affects balance, never correctness; heavily-skewed keys just make
    uneven buckets (same failure mode range partitioning has).
    """
    from pyspark.sql.types import NumericType

    spark = df.sparkSession
    if num_partitions is None:
        num_partitions = spark.sparkContext.defaultParallelism
    key_type = df.schema[natural_key].dataType
    if isinstance(key_type, NumericType):
        # Numeric fast path — TWO light jobs total. Job 1: min/max. Job 2:
        # a fine histogram (64 bins per target partition) whose bin id is a
        # PURE expression over the min/max literals; driver-side, the
        # histogram yields balanced coarse cuts AND exact rank offsets in
        # the same pass (coarse buckets are unions of whole fine bins, so
        # offsets are exact sums of fine counts — bin-edge FP quirks are
        # harmless because the output plan evaluates the IDENTICAL
        # expression). An approxQuantile pass + a separate counts pass
        # measured ~2x this build cost.
        kmin, kmax = df.agg(
            F.min(natural_key), F.max(natural_key)
        ).collect()[0]
        if kmin is None or float(kmax) == float(kmin):
            fine_expr = F.lit(0)
        else:
            lo, span = float(kmin), float(kmax) - float(kmin)
            nbins = num_partitions * 64
            # divide by span BEFORE scaling: the normalized position is in
            # [0, 1], so the expression cannot overflow even for keys near
            # the double range (value * nbins first could hit inf)
            fine_expr = F.least(
                F.lit(nbins - 1),
                F.floor(
                    (F.col(natural_key).cast("double") - F.lit(lo))
                    / F.lit(span * (1.0 + 1e-9))
                    * F.lit(float(nbins))
                ).cast("int"),
            )
        hist = sorted(
            (r["_fb"], r["cnt"])
            for r in df.groupBy(fine_expr.alias("_fb"))
            .agg(F.count("*").alias("cnt"))
            .collect()
        )
        total = sum(c for _, c in hist)
        target = max(1, -(-total // num_partitions))  # ceil
        cuts, offsets, cum, acc, pid_idx = [], {0: 0}, 0, 0, 0
        for fb, cnt in hist:
            if acc >= target and pid_idx < num_partitions - 1:
                cuts.append(prev_fb)
                pid_idx += 1
                offsets[pid_idx] = cum
                acc = 0
            acc += cnt
            cum += cnt
            prev_fb = fb
        if cuts:
            pid = sum(
                (fine_expr > F.lit(c)).cast("int") for c in cuts
            ).alias("_pid")
        else:
            pid = F.lit(0).alias("_pid")
        bucketed = df.withColumn("_pid", pid)
    else:
        # generic path (string keys): seeded-sample cut values, then an
        # exact counts pass over the literal-cut buckets
        n = df.count()
        frac = min(1.0, (num_partitions * 1000) / n) if n else 1.0
        sample = sorted(
            r[0]
            for r in df.select(natural_key).sample(frac, seed=42).collect()
            if r[0] is not None
        )
        step = max(1, len(sample) // num_partitions)
        cuts = sorted(set(sample[step::step]))
        if cuts:
            pid = sum(
                (F.col(natural_key) > F.lit(c)).cast("int") for c in cuts
            ).alias("_pid")
        else:
            pid = F.lit(0).alias("_pid")
        bucketed = df.withColumn("_pid", pid)
        counts = {
            r["_pid"]: r["cnt"]
            for r in bucketed.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()
        }
        # buckets are key ranges in _pid order, so cumulative counts in
        # pid order are exactly the global rank offsets.
        cum, offsets = 0, {}
        for p in sorted(counts):
            offsets[p] = cum
            cum += counts[p]
        if not offsets:
            offsets = {0: 0}
    offset_expr = F.element_at(
        F.create_map(*[F.lit(x) for kv in offsets.items() for x in kv]),
        F.col("_pid"),
    )
    w = Window.partitionBy("_pid").orderBy(natural_key)
    return (
        bucketed.withColumn("_local_rn", F.row_number().over(w))
        .withColumn(id_col, (F.lit(offset) + offset_expr + F.col("_local_rn")).cast("long"))
        .drop("_pid", "_local_rn")
    )


def unpivot_attributes(
    df: DataFrame, key_col: str, attr_cols: dict[str, str]
) -> DataFrame:
    """E3: wide attribute columns → (key, attribute_type, value) rows — the
    person_attribute fan-out (/root/reference/README.md:11). Uses the
    built-in ``stack`` table generator (whole-stage-codegen'd, no shuffle).

    ``attr_cols`` maps attribute-type name → source column (string-typed).
    """
    n = len(attr_cols)
    stack_args = ", ".join(f"'{name}', {col}" for name, col in attr_cols.items())
    return df.selectExpr(
        f"{key_col} as person_id",
        f"stack({n}, {stack_args}) as (attribute_type, value)",
    ).filter(F.col("value").isNotNull())


def build_mapping(
    registrations: DataFrame, keyed: DataFrame, client_col: str = "client_id"
) -> DataFrame:
    """E4: client_id → patient_id mapping rows, the reference's
    ``dreams_client_patient_mapping`` table (/root/reference/README.md:17)."""
    return (
        registrations.select(client_col)
        .join(keyed.select(client_col, "patient_id"), client_col, "inner")
        .withColumn("uuid", deterministic_uuid(client_col, namespace="mapping"))
    )


def fan_out_registration(reg: DataFrame) -> dict[str, DataFrame]:
    """S5: one registration row → the reference's ~6 OpenMRS insert feeds
    (person, person_name, person_address, person_attribute, patient,
    patient_identifier, client→patient mapping; /root/reference/
    README.md:7-17). Every frame is a narrow projection of the same
    upstream — callers materialize `reg` ONCE (see write_multi_sink) so
    the fan-out costs one scan, not seven, and the frames can be written
    concurrently off that one checkpoint."""
    return {
        "person": reg.select(
            "client_id",
            F.col("person_uuid").alias("uuid"),
            "gender",
            "birthdate",
            "voided",
        ),
        "person_name": reg.select(
            "client_id",
            "given_name",
            "family_name",
            "preferred",
            deterministic_uuid("client_id", namespace="person_name").alias("uuid"),
        ),
        "person_address": reg.select(
            "client_id",
            "county",
            "village",
            deterministic_uuid("client_id", namespace="person_address").alias("uuid"),
        ),
        "person_attribute": unpivot_attributes(
            reg, "client_id", {"county": "county", "village": "village"}
        ).withColumn(
            "uuid",
            deterministic_uuid("person_id", "attribute_type", namespace="person_attribute"),
        ),
        "patient": reg.select(
            "client_id", F.col("patient_uuid").alias("uuid"), "voided"
        ),
        "patient_identifier": reg.select(
            "client_id",
            "identifier",
            "identifier_type",
            F.lit(1).alias("preferred"),
            deterministic_uuid("client_id", namespace="patient_identifier").alias("uuid"),
        ),
        "mapping": reg.select(
            "client_id",
            F.col("patient_uuid").alias("patient_uuid"),
            deterministic_uuid("client_id", namespace="mapping").alias("uuid"),
        ),
    }


def write_multi_sink(
    reg: DataFrame, base_path: str, fmt: str = "parquet"
) -> dict[str, str]:
    """S5 sink half: materialize the registration build once
    (localCheckpoint — same exactly-once rationale as
    assign_surrogate_keys), then write every fan-out frame under
    ``base_path/<table>`` concurrently, one thread per frame. Each write is
    a short job over the few checkpoint partitions, so run one after
    another they leave most cores idle; overlapped, each job's tail
    back-fills the others'. Against MySQL the same frames feed
    sources/jdbc.py::write_jdbc_append instead. Returns table → path.

    The save jobs run under the caller's job group and description
    (``inheritable_thread_target`` copies them into each thread). The
    first failure, in table order, is re-raised once every write has
    returned, so no write is still running when the call fails."""
    reg = reg.localCheckpoint(eager=True)
    frames = fan_out_registration(reg)

    def write(name: str) -> str:
        path = f"{base_path}/{name}"
        frames[name].write.format(fmt).mode("overwrite").save(path)
        return path

    # Wrap once per write: each wrap copies the caller's local properties,
    # and threads sharing one copy would see each other's SQL execution id.
    with ThreadPoolExecutor(max_workers=len(frames)) as pool:
        futures = {
            name: pool.submit(inheritable_thread_target(reg.sparkSession)(write), name)
            for name in frames
        }
    return {name: f.result() for name, f in futures.items()}


def idempotent_new_rows(
    source: DataFrame, existing: DataFrame, key: str | list[str]
) -> DataFrame:
    """J5: idempotent re-run support — migrate only clients not already in
    the destination (anti-join probe, SURVEY.md §2.3). Running the migration
    twice therefore inserts zero new rows.

    The destination keys are not deduplicated first: a ``left_anti`` join
    only tests whether a match exists, so a key held twice removes its
    source row exactly as a key held once does, and a dedup would only add
    an aggregate job on the build side. Source rows with a NULL key match
    nothing and are kept."""
    keys = [key] if isinstance(key, str) else key
    return source.join(existing.select(*keys), keys, "left_anti")


def merge_upsert(
    target: DataFrame, source: DataFrame, key: str, payload_cols: list[str]
) -> DataFrame:
    """MERGE INTO semantics on plain DataFrames (copy-on-write): source
    rows upsert over target rows by key; target keys absent from the
    source are kept. Emits the merged table plus a `merge_action`
    provenance column (inserted/updated/unchanged/kept).

    One co-partitioned full-outer shuffle on the key — the same plan as
    the SCD2 delta (this op APPLIES what that op DETECTS); at 100 TB the
    table formats' merge-on-read (Delta/Iceberg) replaces the full
    rewrite, but the join shape is identical.
    """
    t = target.select(
        F.col(key).alias("_tk"), *[F.col(c).alias(f"_t_{c}") for c in payload_cols]
    )
    s = source.select(
        F.col(key).alias("_sk"), *[F.col(c).alias(f"_s_{c}") for c in payload_cols]
    )
    j = s.join(t, s["_sk"] == t["_tk"], "full_outer")
    # null-SAFE comparison: a bare != returns NULL when either side is
    # NULL, which would route NULL↔value transitions to 'unchanged' —
    # wrong provenance AND (via a value coalesce) a silently dropped
    # explicit-NULL upsert. Matched rows take the SOURCE value outright
    # (MERGE ... UPDATE SET c = s.c semantics, NULLs included).
    changed = None
    for c in payload_cols:
        ne = ~F.col(f"_s_{c}").eqNullSafe(F.col(f"_t_{c}"))
        changed = ne if changed is None else (changed | ne)
    action = (
        F.when(F.col("_tk").isNull(), F.lit("inserted"))
        .when(F.col("_sk").isNull(), F.lit("kept"))
        .when(changed, F.lit("updated"))
        .otherwise(F.lit("unchanged"))
    )
    return j.select(
        F.coalesce("_sk", "_tk").alias(key),
        *[
            F.when(F.col("_sk").isNotNull(), F.col(f"_s_{c}"))
            .otherwise(F.col(f"_t_{c}"))
            .alias(c)
            for c in payload_cols
        ],
        action.alias("merge_action"),
    )


def apply_cdc(
    target: DataFrame,
    changes: DataFrame,
    key: str,
    seq_cols: list[str],
    op_col: str,
    payload_cols: list[str],
) -> DataFrame:
    """Apply a change feed with INSERT/UPDATE/DELETE semantics — the full
    CDC shape `merge_upsert` (upsert-only) does not cover.

    Per key, only the LATEST change by ``seq_cols`` wins (arg-extrema
    reduction — `max_by` over the sequence struct, one partial-combinable
    hash agg; no per-key window sort), then one full-outer join applies
    it: delete removes the target row, update/insert replace-or-add the
    payload, target keys with no change pass through. An 'insert' for an
    existing key and an 'update' for an absent key both resolve to the
    surviving payload (idempotent replay semantics — CDC feeds re-deliver;
    the op labels intent, the key decides the outcome). Emits
    `cdc_action` provenance (inserted/updated/deleted→absent rows are
    dropped/kept).

    Same co-partitioned join shape as `merge_upsert`/SCD2 — on a table
    format (Delta/Iceberg) the rewrite becomes merge-on-read, the plan
    does not change.
    """
    latest = changes.groupBy(F.col(key).alias("_ck")).agg(
        F.max_by(
            F.struct(
                F.col(op_col).alias("_op"),
                *[F.col(c).alias(f"_c_{c}") for c in payload_cols],
            ),
            F.struct(*[F.col(c) for c in seq_cols]),
        ).alias("_ch")
    )
    t = target.select(
        F.col(key).alias("_tk"),
        *[F.col(c).alias(f"_t_{c}") for c in payload_cols],
    )
    j = t.join(latest, t["_tk"] == latest["_ck"], "full_outer")
    op = F.col("_ch._op")
    out = j.select(
        F.coalesce(F.col("_tk"), F.col("_ck")).alias(key),
        *[
            F.when(op.isNull() | (op == "delete"), F.col(f"_t_{c}"))
            .otherwise(F.col(f"_ch._c_{c}"))
            .alias(c)
            for c in payload_cols
        ],
        F.when(op.isNull(), F.lit("kept"))
        .when(op == "delete", F.lit("deleted"))
        .when(F.col("_tk").isNull(), F.lit("inserted"))
        .otherwise(F.lit("updated"))
        .alias("cdc_action"),
    )
    # deletes for existing keys drop the row; deletes for absent keys are
    # no-ops (nothing to delete) — both vanish here
    return out.filter(F.col("cdc_action") != "deleted")


def rollup_partial(
    df: DataFrame, group_cols: list, value_cents: "F.Column"
) -> DataFrame:
    """Partial (combinable) rollup state for `combine_rollups`: exact
    count + scaled-long sum per group. Emitting the COMBINABLE form
    instead of finished averages is what makes the rollup incrementally
    maintainable — averages don't merge, (n, sum) pairs do."""
    return df.groupBy(*group_cols).agg(
        F.count("*").alias("n"),
        F.sum(value_cents.cast("long")).alias("sum_cents"),
    )


def combine_rollups(parts: list[DataFrame], group_cols: list[str]) -> DataFrame:
    """Materialized-rollup maintenance: merge any number of partial
    rollups (the stored aggregate table + today's delta partial, or one
    partial per backfilled shard) into the updated aggregate — the
    incremental pattern that keeps a 100 TB fact table's rollup current
    by scanning ONLY the delta: rescans cost O(|delta|), never
    O(|history|).

    Correctness rests on the partials carrying decomposable state (count
    + exact scaled-long sum, no floats): merge is a groupBy-sum, which is
    associative and commutative, so `combine(rollup(old), rollup(delta))
    == rollup(old ∪ delta)` EXACTLY — the invariant the declared
    `etl_rollup_incremental` query hash-proves against a full-rescan
    oracle. Finished metrics (avg) derive at read time from the merged
    state with one deterministic division.

    Plan: each partial is one map-side-combined hash agg over its own
    input; the merge shuffles only |groups| rows per partial.
    """
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.groupBy(*group_cols).agg(
        F.sum("n").alias("n"),
        F.sum("sum_cents").alias("sum_cents"),
    )


def scd2_lookup(
    facts: DataFrame,
    dim: DataFrame,
    fact_key: str,
    fact_ts: str,
    dim_key: str,
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
    how: str = "left",
) -> DataFrame:
    """E5c: point-in-time dimension lookup against an SCD2 table — each
    fact row joins the dimension VERSION that was current at the fact's
    own timestamp (``valid_from <= ts < valid_to``, open-ended current
    version via NULL ``valid_to``). The consumer side of `merge_upsert` /
    `etl_scd2_delta`'s versioning: the join that makes historical
    reprocessing reproduce what the pipeline knew at the time instead of
    leaking today's attributes into yesterday's facts.

    Scale shape: this is NOT a range-join problem — the business key is
    an EQUI join (one key-partitioned shuffle, or zero with both sides
    bucketed on the key), and the validity interval is a residual
    predicate evaluated inside the join. The per-key fan-out is the
    version count, bounded by the dimension's change rate by contract;
    SCD2 semantics guarantee versions of one key never overlap, so each
    fact matches at most one version (no post-join dedup needed). For a
    dimension with unbounded version churn, the as-of carry
    (operators/joins.py::asof_join on ``valid_from``) is the fallback
    shape — documented, not needed for interval-disjoint SCD2.
    """
    cond = (
        (facts[fact_key] == dim[dim_key])
        & (facts[fact_ts] >= dim[valid_from])
        & (dim[valid_to].isNull() | (facts[fact_ts] < dim[valid_to]))
    )
    return facts.join(dim, cond, how)


def scd2_build(
    changes: DataFrame,
    key_col: str,
    ts_col: str,
    payload_cols: list[str],
    dedup_consecutive: bool = True,
) -> DataFrame:
    """E5d: build the SCD2 versioned dimension FROM its change log — the
    constructor complement of `etl_scd2_delta` (detect) and
    `scd2_lookup` (consume): given (key, change_ts, payload...) events,
    emit one validity interval per surviving version with
    ``valid_from = change_ts``, ``valid_to = next change's ts`` (NULL on
    the current version) and a 1-based ``version`` ordinal.

    ``dedup_consecutive`` drops a change whose payload null-safe-equals
    the key's PREVIOUS change (replayed/no-op updates — a CDC feed full
    of heartbeat upserts would otherwise mint empty versions); interval
    stitching happens AFTER the drop, so the surviving version simply
    extends across the gap.

    Plan: ONE key-partitioned Exchange shared by all three window passes
    (the lag comparison, the lead stitch, the version ordinal — same
    (key, ts) ordering, Spark coalesces them onto one sort), making the
    build a single-shuffle job at any scale. Ties on ts within a key are
    ordered by the payload for determinism, but a real feed should make
    (key, ts) unique upstream.
    """
    from pyspark.sql.window import Window as W

    order = [F.col(ts_col), *[F.col(c) for c in payload_cols]]
    w = W.partitionBy(key_col).orderBy(*order)
    out = changes
    if dedup_consecutive:
        same_prev = None
        for c in payload_cols:
            eq = F.col(c).eqNullSafe(F.lag(c).over(w))
            same_prev = eq if same_prev is None else (same_prev & eq)
        # first row per key: lag is NULL on every column -> eqNullSafe is
        # False unless the payload itself is all-NULL; guard explicitly
        first = F.lag(ts_col).over(w).isNull()
        out = out.withColumn("_dup", same_prev & ~first).filter(
            ~F.col("_dup")
        ).drop("_dup")
    w2 = W.partitionBy(key_col).orderBy(*order)
    return out.select(
        F.col(key_col),
        *[F.col(c) for c in payload_cols],
        F.col(ts_col).alias("valid_from"),
        F.lead(ts_col).over(w2).alias("valid_to"),
        F.row_number().over(w2).cast("long").alias("version"),
    )
