"""The package keeps no public function that only tests reach, and no
setting that only tests set.

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

The same reached code must pass every defaulted parameter of a top-level
package function, positionally, by keyword or through ``*``/``**``.
Column bindings (a name ending in ``_col``/``_cols``, or one of
``COLUMN_PARAMS``) and the parameters of ``KEEP`` functions are exempt. An
argument that only forwards its own function's uncalled parameter does not
count, and the scan repeats until nothing changes, so a setting whose one
caller is itself an uncalled setting is found too. The set of parameters
that no reached call passes must equal ``SETTING_KEEP``: each kept setting
carries the reason it stays. A parameter that no caller sets selects
configurations the engine never runs and no oracle grades, so its default
belongs in a constant.

Run ``python tests/test_surface.py`` to print the unreached names and the
uncalled settings.
"""

from __future__ import annotations

import ast
from functools import lru_cache
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "openmrs_patient_migration_script_spark"
ROOT_FILES = ["bench.py", "__spark_entry__.py"]
ROOT_DIRS = ["perfbench", "tools", "examples"]

KEEP = {
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

COLUMN_PARAMS = {
    "src", "dst", "weight", "column", "on", "valid_from", "valid_to", "true_a", "true_b",
}

SETTING_KEEP = {
    "operators.multimodal.audio_features.decoder":
        "tests substitute a fake decoder",
    "operators.multimodal.image_features.decoder":
        "tests substitute a fake decoder",
    "operators.multimodal.audio_fingerprint.energies_fn":
        "tests substitute the real WAV energy extractor",
    "operators.multimodal.audio_vad_segments.energies_fn":
        "tests substitute the real WAV energy extractor",
    "operators.multimodal.scene_cuts.energies_fn":
        "tests substitute the real WAV energy extractor",
    "operators.multimodal.image_phash.phash_fn":
        "tests substitute the real image hash",
    "operators.etl.assign_surrogate_keys.num_partitions":
        "tests pin the range-bucket count so a small input spans several buckets",
    "operators.timeseries._chunked_history_fold.chunk":
        "tests lower it so a small history spans several chunks",
    "operators.aggregates.exact_global_quantile.n_buckets":
        "tests lower it to reach the multi-level selection on a small input",
    "operators.timeseries.resample_ffill.max_buckets":
        "tests lower it to reach the grid-size guard",
    "operators.joins.interval_overlap_join.max_bins_per_row":
        "tests lower it to reach the bin-count guard",
    "operators.dedup.span_rewrite.occ_stride":
        "tests lower it to reach the document-length guard",
    "operators.similarity.semantic_dedup.max_cluster_rows":
        "tests lower it to reach the cluster-size guard",
    "session.get_spark.master":
        "deployment setting: the cluster to run on",
    "operators.etl.write_multi_sink.fmt":
        "deployment setting: the sink format; a test drives the write-failure path with it",
    "streaming.pipelines.stream_ann_buckets_maintain.trigger_available_now":
        "deployment setting: drain once or run continuously",
    "streaming.pipelines.stream_components_maintain.trigger_available_now":
        "deployment setting: drain once or run continuously",
    "streaming.pipelines.stream_ingest_dedup.trigger_available_now":
        "deployment setting: drain once or run continuously",
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


@lru_cache(maxsize=None)
def _program():
    """Parse the package and the non-test roots once: (bare name ->
    qualified names, qualified name -> definition node, qualified name ->
    names it refers to, public names, root names, statements that run
    unconditionally — module-level code and the root files)."""
    defs: dict[str, set[str]] = {}       # bare name -> qualified names
    nodes: dict[str, ast.stmt] = {}      # qualified name -> definition
    refs: dict[str, set[str]] = {}       # qualified name -> names it refers to
    public: set[str] = set()
    roots: set[str] = set()
    always: list[ast.AST] = []
    for path in sorted(PACKAGE.rglob("*.py")):
        mod = _modname(path)
        tree = ast.parse(path.read_text())
        for stmt in tree.body:
            if isinstance(stmt, (ast.FunctionDef, ast.ClassDef)):
                names = [stmt.name]
            elif isinstance(stmt, (ast.Assign, ast.AnnAssign)):
                always.append(stmt)
                targets = stmt.targets if isinstance(stmt, ast.Assign) else [stmt.target]
                names = [n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)]
            elif isinstance(stmt, (ast.Import, ast.ImportFrom)):
                continue  # a (re-)export is not a caller
            else:
                always.append(stmt)
                roots |= _refs(stmt)  # module-level code runs on import
                continue
            body_refs = _refs(stmt)
            for name in names:
                qual = f"{mod}.{name}"
                defs.setdefault(name, set()).add(qual)
                nodes[qual] = stmt
                refs[qual] = body_refs
                if path.name != "__init__.py" and not name.startswith("_") \
                        and isinstance(stmt, (ast.FunctionDef, ast.ClassDef)):
                    public.add(qual)
                if _is_query(stmt):
                    roots.add(name)
    files = [ROOT / rel for rel in ROOT_FILES]
    for rel in ROOT_DIRS:
        files += [p for p in sorted((ROOT / rel).rglob("*.py"))
                  if not p.name.startswith("test_")]
    for path in files:
        tree = ast.parse(path.read_text())
        always.append(tree)
        roots |= _refs(tree)
    return defs, nodes, refs, public, roots, always


def scan() -> tuple[set[str], set[str]]:
    """(public package definitions, those reached from a non-test root)."""
    defs, _, refs, public, roots, _ = _program()
    reached: set[str] = set()
    todo = [q for name in roots for q in defs.get(name, ())]
    while todo:
        qual = todo.pop()
        if qual in reached:
            continue
        reached.add(qual)
        todo.extend(q for name in refs[qual] for q in defs.get(name, ()))
    return public, reached


def _binds_column(name: str) -> bool:
    return name.endswith(("_col", "_cols")) or name in COLUMN_PARAMS


def _defaulted(fn: ast.FunctionDef) -> list[str]:
    a = fn.args
    pos = a.posonlyargs + a.args
    return [p.arg for p in pos[len(pos) - len(a.defaults):]] + [
        p.arg for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None
    ]


def settings() -> list[tuple[str, str]]:
    """(function, parameter) for every defaulted non-column parameter of a
    top-level package function outside ``KEEP``."""
    _, nodes, _, _, _, _ = _program()
    return [
        (qual, p)
        for qual, fn in nodes.items()
        if isinstance(fn, ast.FunctionDef) and qual not in KEEP
        for p in _defaulted(fn)
        if not _binds_column(p)
    ]


def uncalled_settings() -> set[str]:
    """The settings that no code scan() reaches passes, to a fixed point."""
    defs, nodes, _, _, _, always = _program()
    _, reached = scan()
    calls = [(None, n) for tree in always for n in ast.walk(tree)
             if isinstance(n, ast.Call)]
    calls += [(qual, n) for qual in reached for n in ast.walk(nodes[qual])
              if isinstance(n, ast.Call)]
    dead: set[tuple[str, str]] = set()
    while True:
        passed: set[tuple[str, str]] = set()
        for owner, call in calls:
            func = call.func
            name = func.id if isinstance(func, ast.Name) else getattr(func, "attr", None)

            def live(value):  # forwarding an uncalled setting passes nothing
                return not (isinstance(value, ast.Name) and (owner, value.id) in dead)

            for qual in defs.get(name, ()):
                fn = nodes[qual]
                if not isinstance(fn, ast.FunctionDef):
                    continue
                pos = [p.arg for p in fn.args.posonlyargs + fn.args.args]
                for i, arg in enumerate(call.args):
                    if isinstance(arg, ast.Starred):
                        passed |= {(qual, p) for p in pos}
                        break
                    if i < len(pos) and live(arg):
                        passed.add((qual, pos[i]))
                for kw in call.keywords:
                    if kw.arg is None:
                        passed |= {(qual, p) for p in _defaulted(fn)}
                    elif live(kw.value):
                        passed.add((qual, kw.arg))
        unset = {s for s in settings() if s not in passed}
        now_dead = {(q, p) for q, p in unset if f"{q}.{p}" not in SETTING_KEEP}
        if now_dead == dead:
            return {f"{q}.{p}" for q, p in unset}
        dead = now_dead


def test_only_the_keep_list_is_reached_only_from_tests():
    public, reached = scan()
    test_only = public - reached
    assert sorted(test_only - KEEP.keys()) == [], (
        "public functions reached only from tests: wire each into a real "
        "caller, delete it, or add it to KEEP with its reason")
    assert sorted(KEEP.keys() - test_only) == [], (
        "KEEP names a function that is gone or now has a non-test caller")


def test_every_setting_has_a_caller():
    unset = uncalled_settings()
    assert sorted(unset - SETTING_KEEP.keys()) == [], (
        "defaulted parameters that no non-test caller passes: make each a "
        "constant at its default, or add it to SETTING_KEEP with its reason")
    assert sorted(SETTING_KEEP.keys() - unset) == [], (
        "SETTING_KEEP names a parameter that is gone or now has a non-test caller")


if __name__ == "__main__":
    public, reached = scan()
    print("public names reached only from tests:")
    for qual in sorted(public - reached):
        print(" ", qual, "(kept)" if qual in KEEP else "")
    print(f"settings no non-test caller passes (of {len(settings())}):")
    for name in sorted(uncalled_settings()):
        print(" ", name, "(kept)" if name in SETTING_KEEP else "")
