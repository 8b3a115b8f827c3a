from openmrs_patient_migration_script_spark.sources.parquet import load_table

__all__ = ["load_table"]
