"""openmrs_patient_migration_script_spark — a PySpark-native analytics/ETL engine.

A from-scratch, Spark-first re-expression of the capabilities of the
reference repo ``stanelyg/OpenMRS-Patient-Migration-Script`` (a single-process
MySQL→OpenMRS patient-registration ETL script, ``/root/reference/README.md:2``),
widened into a general analytics engine per SURVEY.md:

- declarative DataFrame/SQL operators (scans, filters, joins, aggregations,
  windows, set ops, scalar functions),
- the reference's ETL composites (registration build, surrogate keys,
  unpivot, key mapping) re-designed for 100 TB scale,
- LLM-data-pipeline extensions (exact/fuzzy/MinHash/SimHash/embedding
  dedup, similarity search, text analysis, multimodal column plumbing,
  deterministic sampling/splits, and the composed end-to-end corpus-prep
  pipeline),
- privacy/de-identification (pseudonyms, PII scrub, k-anonymity audit),
- time-series regularization (gap-filling resample + forward fill),
- a Structured Streaming surface over event tables,
- JDBC source/sink parity (runtime-tested against embedded Derby),
- storage layout & maintenance (small-file compaction, range clustering
  for row-group skipping).

Everything is built on public PySpark 4.x APIs only; no code is taken from
the reference (its implementation file is absent from the snapshot anyway —
see SURVEY.md §0).
"""

from openmrs_patient_migration_script_spark.engine import Engine
from openmrs_patient_migration_script_spark.session import get_spark

__all__ = ["Engine", "get_spark"]
__version__ = "0.1.0"
