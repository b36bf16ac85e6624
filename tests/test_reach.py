"""Every top-level package def has a program caller, or a recorded
reason to exist without one.

A JVM-free AST walk. The roots are what a program runs: every def in
``queries/*.py`` and ``__main__.py``, the names a package module uses
at import time (outside docstrings and imports), and all of
``bench.py``, ``__spark_entry__.py``, ``tools/`` and non-test
``perfbench/``. The walk closes the roots over def bodies through
``Name`` and ``Attribute`` references and identifier strings
(``getattr`` names, dotted paths). Resolution is by bare name, so a
def shadowed by a same-named reference counts as reached: the walk can
miss a dead def, never flag a live one.

A def no program reaches must be in ``KEEP`` with its reason; anything
else is dead code and goes with its tests.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = REPO / "nexus_processor_spark"
_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
_DEF = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)

# Keep classes: a paper capability (its COVERAGE.md §2 ID), a maintained
# stream and its batch body, the reference side of a live twin, or a
# test hook. Helpers reached from a kept def need no entry.
KEEP: dict[str, str] = {
    # paper capabilities
    "sources.catalog.ingest_routed": "S19/S13 file routing into tables",
    "functions.core.event_timestamp": "T6 long-ns to timestamp for streams",
    "functions.core.run_id_from_filename": "F5 run id from a file name",
    "operators.timeslice.pulse_times": "W1 pulse ordinals",
    "streaming.windows.windowed_counts": "T6 tumbling windows + watermark",
    "streaming.replay.write_kafka_batch": "S14 Kafka sink (connector-gated)",
    "streaming.replay.replay_to_iterator": "O3 deterministic replay order",
    "sql.register_lake_views": "S11 catalog tables as SQL views",
    "sql.register_testdata_views": "S11 corpus tables as SQL views",
    "sql.register_engine_functions": "S11 engine scalars as SQL functions",
    # maintained streams and their batch bodies
    "streaming.sketches.maintain_hll_stream": "maintained HLL sketch stream",
    "streaming.sketches.maintain_cms_stream": "maintained CMS sketch stream",
    "operators.rollup.maintain_rollup_stream": "maintained rollup stream",
    "operators.rollup.incremental_update": "rollup stream's batch body",
    "streaming.cdc.apply_cdc_stream": "maintained CDC apply stream",
    "streaming.cdc.maintain_agg_stream": "maintained CDC aggregate stream",
    "operators.scd.scd2_stream": "maintained SCD2 stream",
    "operators.scd.scd2_as_of": "SCD2 point-in-time read of the stream",
    "sources.snapshots.compact_snapshot": "maintained-table compaction",
    "streaming.curate.state_versions": "curation stream's state versions",
    # reference side of a live twin
    "streaming.curate._sem_tables": "reference for _sem_tables_arrow",
    "functions.text.word_shingles": "reference for word_shingles_text",
    "functions.text.minhash_band": "md5 MinHash reference for the fused form",
    "operators.textstats._marker_hits": "reference for _marker_hits_text",
    # test hooks
    "plans.explain.broadcast_join_count": "test hook: plan inspection",
    "plans.explain.has_pushed_filter": "test hook: plan inspection",
    "plans.explain.scan_columns": "test hook: plan inspection",
    "streaming.state_store._cache_clear": "test hook: state-store cache",
}


def _docstrings(node: ast.AST) -> set[int]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, (ast.Module, *_DEF)) and n.body:
            first = n.body[0]
            if (isinstance(first, ast.Expr)
                    and isinstance(first.value, ast.Constant)
                    and isinstance(first.value.value, str)):
                out.add(id(first.value))
    return out


def _refs(node: ast.AST) -> set[str]:
    skip = _docstrings(node)
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif (isinstance(n, ast.Constant) and isinstance(n.value, str)
              and id(n) not in skip):
            out.update(p for p in n.value.split(".") if _IDENT.fullmatch(p))
    return out


def _scan() -> tuple[dict[str, ast.AST], set[str]]:
    """(qualified name -> top-level def, root names)."""
    defs: dict[str, ast.AST] = {}
    roots: set[str] = set()
    for path in sorted(PKG.rglob("*.py")):
        mod = ".".join(path.relative_to(PKG).with_suffix("").parts)
        tree = ast.parse(path.read_text())
        doc = _docstrings(tree)
        entry = path.parent.name == "queries" or path.name == "__main__.py"
        for st in tree.body:
            if isinstance(st, _DEF):
                defs[f"{mod}.{st.name}"] = st
                if entry:
                    roots |= _refs(st)
                for d in st.decorator_list:
                    roots |= _refs(d)
            elif not (isinstance(st, (ast.Import, ast.ImportFrom))
                      or isinstance(st, ast.Expr) and id(st.value) in doc):
                roots |= _refs(st)
    programs = [REPO / "bench.py", REPO / "__spark_entry__.py",
                *(REPO / "tools").rglob("*.py"),
                *(p for p in (REPO / "perfbench").rglob("*.py")
                  if "tests" not in p.relative_to(REPO).parts)]
    for p in programs:
        roots |= _refs(ast.parse(p.read_text()))
    return defs, roots


def _reached(defs: dict[str, ast.AST], names: set[str]) -> set[str]:
    by_name: dict[str, list[str]] = {}
    for q, st in defs.items():
        by_name.setdefault(st.name, []).append(q)
    seen, frontier, reached = set(names), list(names), set()
    while frontier:
        for q in by_name.get(frontier.pop(), ()):
            if q not in reached:
                reached.add(q)
                for r in _refs(defs[q]) - seen:
                    seen.add(r)
                    frontier.append(r)
    return reached


def test_every_package_def_has_a_caller_or_a_kept_reason():
    defs, roots = _scan()
    from_programs = _reached(defs, roots)
    kept = {defs[q].name for q in KEEP if q in defs}
    reached = _reached(defs, roots | kept)
    dead = sorted(set(defs) - reached)
    assert not dead, (
        "package defs no program reaches; give each a registry, bench "
        f"or CLI caller, or delete it with its tests: {dead}")
    missing = sorted(q for q in KEEP if q not in defs)
    assert not missing, f"KEEP names defs that no longer exist: {missing}"
    live = sorted(q for q in KEEP if q in from_programs)
    assert not live, f"KEEP entries a program now reaches: {live}"
    assert all(reason.strip() for reason in KEEP.values())


def test_walk_sees_a_caller_less_def():
    """The walk itself: an identifier string is a reference, a docstring
    mention is not, and a def referenced only from an unreached def
    stays unreached."""
    src = ("X = entry\n"
           "def entry():\n    '''orphan'''\n    return helper()\n"
           "def helper():\n    return getattr(mod, 'by_name')()\n"
           "def by_name():\n    return 1\n"
           "def orphan():\n    return cousin()\n"
           "def cousin():\n    return 2\n")
    tree = ast.parse(src)
    defs = {st.name: st for st in tree.body if isinstance(st, _DEF)}
    roots = _refs(tree.body[0])
    assert _reached(defs, roots) == {"entry", "helper", "by_name"}
