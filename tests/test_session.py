"""Session-factory contract: SPARK_DRIVER_MEM must survive a wrapper that
pre-sets PYSPARK_SUBMIT_ARGS (r2's setdefault silently dropped it), and
Python workers must import the package however the driver found it."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

from openmrs_patient_migration_script_spark.session import merged_submit_args

REPO = Path(__file__).resolve().parent.parent


def test_unset_env_gets_driver_memory():
    assert merged_submit_args("8g", None) == "--driver-memory 8g pyspark-shell"


def test_wrapper_args_without_memory_get_memory_prepended():
    out = merged_submit_args("12g", "--conf spark.foo=1 pyspark-shell")
    assert out == "--driver-memory 12g --conf spark.foo=1 pyspark-shell"


def test_wrapper_pinned_memory_wins():
    pre = "--driver-memory 4g pyspark-shell"
    assert merged_submit_args("8g", pre) == pre


def test_workers_import_the_package_outside_the_repo_root(tmp_path):
    """A driver that puts the repository on ``sys.path`` only, run from
    another directory: a ``mapInPandas`` function that imports the
    package must run on the workers."""
    script = f"""
import sys
sys.path.insert(0, {str(REPO)!r})
from openmrs_patient_migration_script_spark.session import get_spark

def touch(batches):
    import openmrs_patient_migration_script_spark.operators.text  # noqa: F401
    yield from batches

spark = get_spark("worker-import", shuffle_partitions=1)
print("rows", spark.range(3).mapInPandas(touch, "id long").count())
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_DRIVER_MEM="1g", SPARK_GRAFT_CPUS="1")
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert "rows 3" in out.stdout, out.stderr[-2000:]
