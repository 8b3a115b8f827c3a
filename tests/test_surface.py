"""The package keeps no public function that only tests reach.

A static reachability scan over the package with ``ast``. The roots are the
code that runs outside ``tests/``: every registered query (a function
decorated with ``@query``), ``perfbench/``, ``tools/``, ``examples/``,
``bench.py`` and ``__spark_entry__.py``. From a reached definition the scan
follows every real reference in its source — a ``Name``, an ``Attribute``
name or an imported name — to each package definition of that name (a
name-level over-approximation, so a shared name counts as reached).
Docstrings and comments are not code, and an ``__init__`` re-export is not a
caller, so neither keeps a function alive.

A public top-level function or class of the package that the scan does not
reach is reached only from tests (or from nowhere). The set of such names
must equal ``KEEP``: each kept name carries the reason it stays. A new
test-only function therefore fails this test until it is wired into a real
caller, deleted, or added to ``KEEP`` with its reason.

Run ``python tests/test_surface.py`` to print the unreached names.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "openmrs_patient_migration_script_spark"
ROOT_FILES = ["bench.py", "__spark_entry__.py"]
ROOT_DIRS = ["perfbench", "tools", "examples"]

KEEP = {
    "sources.custom.DestinationSinkDataSource":
        "per-task staged files and one manifest per commit; the migration commit reuses it",
    "sources.custom.read_committed_sink":
        "reads what DestinationSinkDataSource committed; the migration commit reuses it",
    "sources.jdbc.read_jdbc_partitioned":
        "the reference's MySQL read path, named by examples/migration_runbook.py",
    "sources.jdbc.write_jdbc_append":
        "the reference's MySQL write path beside read_jdbc_partitioned",
    "sources.jdbc.jdbc_scan_options":
        "option builder of read_jdbc_partitioned",
    "sources.jdbc.jdbc_append_options":
        "option builder of write_jdbc_append",
    "sources.jdbc.mysql_tuned_url":
        "MySQL URL tuning shared by both JDBC option builders",
    "operators.multimodal.decode_media":
        "the only decoder of real media payloads (declared queries use fake_decode)",
    "operators.multimodal.wav_frame_energies":
        "the only frame-energy extractor for real WAV payloads",
    "operators.multimodal.ahash_bmp":
        "the only perceptual hash of real image payloads (declared queries use fake_phash)",
    "functions.python_exts.vectorized_quality_score":
        "the sanctioned scalar pandas_udf shape (SURVEY.md §2.12), shown once",
    "functions.python_exts.weighted_mean":
        "the sanctioned pandas UDAF shape (SURVEY.md §2.12), shown once",
    "functions.python_exts.ChunkSpans":
        "the sanctioned Python UDTF shape (SURVEY.md §2.12), shown once",
    "operators.similarity.cosine_pairs_vectorized":
        "one of three cosine-pairs tiers, kept until they fold into one front door",
    "operators.layout.rowgroup_bands":
        "the parquet-footer checker that measures cluster_by_range",
    "operators.graph.k_core_converged":
        "the fixpoint checker that measures k_core",
    "operators.graph.ktruss_converged":
        "the fixpoint checker that measures k_truss",
    "streaming.pipelines.read_events_stream":
        "the readStream source of the tumbling-window batch-parity test",
}


def _modname(path: Path) -> str:
    rel = path.relative_to(PACKAGE).with_suffix("")
    return ".".join(rel.parts)


def _refs(node: ast.AST) -> set[str]:
    """Names that the code under ``node`` refers to (a docstring is a string
    constant, so it names nothing)."""
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.ImportFrom):
            out.update(a.name for a in n.names)
        elif isinstance(n, ast.Import):
            out.update(a.name.rsplit(".", 1)[-1] for a in n.names)
    return out


def _is_query(fn: ast.AST) -> bool:
    for d in getattr(fn, "decorator_list", []):
        target = d.func if isinstance(d, ast.Call) else d
        if isinstance(target, ast.Name) and target.id == "query":
            return True
    return False


def scan() -> tuple[set[str], set[str]]:
    """(public package definitions, those reached from a non-test root)."""
    defs: dict[str, set[str]] = {}       # bare name -> qualified names
    refs: dict[str, set[str]] = {}       # qualified name -> names it refers to
    public: set[str] = set()
    roots: set[str] = set()
    for path in sorted(PACKAGE.rglob("*.py")):
        mod = _modname(path)
        tree = ast.parse(path.read_text())
        for stmt in tree.body:
            if isinstance(stmt, (ast.FunctionDef, ast.ClassDef)):
                names = [stmt.name]
            elif isinstance(stmt, (ast.Assign, ast.AnnAssign)):
                targets = stmt.targets if isinstance(stmt, ast.Assign) else [stmt.target]
                names = [n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)]
            elif isinstance(stmt, (ast.Import, ast.ImportFrom)):
                continue  # a (re-)export is not a caller
            else:
                roots |= _refs(stmt)  # module-level code runs on import
                continue
            body_refs = _refs(stmt)
            for name in names:
                qual = f"{mod}.{name}"
                defs.setdefault(name, set()).add(qual)
                refs[qual] = body_refs
                if path.name != "__init__.py" and not name.startswith("_") \
                        and isinstance(stmt, (ast.FunctionDef, ast.ClassDef)):
                    public.add(qual)
                if _is_query(stmt):
                    roots.add(name)
    for rel in ROOT_FILES:
        roots |= _refs(ast.parse((ROOT / rel).read_text()))
    for rel in ROOT_DIRS:
        for path in sorted((ROOT / rel).rglob("*.py")):
            if not path.name.startswith("test_"):
                roots |= _refs(ast.parse(path.read_text()))
    reached: set[str] = set()
    todo = [q for name in roots for q in defs.get(name, ())]
    while todo:
        qual = todo.pop()
        if qual in reached:
            continue
        reached.add(qual)
        todo.extend(q for name in refs[qual] for q in defs.get(name, ()))
    return public, reached


def test_only_the_keep_list_is_reached_only_from_tests():
    public, reached = scan()
    test_only = public - reached
    assert sorted(test_only - KEEP.keys()) == [], (
        "public functions reached only from tests: wire each into a real "
        "caller, delete it, or add it to KEEP with its reason")
    assert sorted(KEEP.keys() - test_only) == [], (
        "KEEP names a function that is gone or now has a non-test caller")


if __name__ == "__main__":
    public, reached = scan()
    for qual in sorted(public - reached):
        print(qual, "(kept)" if qual in KEEP else "")
