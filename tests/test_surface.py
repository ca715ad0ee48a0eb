"""The engine's public surface, stated once.

The surface is the query registry (``__spark_entry__``), the streams,
the bearing and flagship plans and ``sql_frontend.run_sql``. Every
other top-level public ``def``/``class`` in the package must be reached
from package code; a function only tests reach is dead weight and goes,
unless ``SURFACE`` names it with a reason.

The scan is by name over the package's ASTs: a reference is a ``Name``,
an ``Attribute`` or an import alias anywhere in the package outside the
definition's own body. ``F.flatten`` is not a reference to a package
``flatten``: attributes of names bound by imports from outside the
package (``F``, ``np``, ``pd`` ...) are not counted.

``SURFACE`` only shrinks: an entry whose name no longer exists, or that
package code now references, fails too — delete the entry.

The same AST scan stands in for a linter's unused-import rule: a name a
module binds by ``import`` must be loaded somewhere in that module.
"""

from __future__ import annotations

import ast
import collections
import pathlib

PKG = pathlib.Path(__file__).resolve().parents[1] / "anomaly_detection_iiot_spark"
# the repo's own Python; perfbench/ stays independent of the engine's tests
IMPORT_SCAN = (
    PKG, PKG.parent / "tests", PKG.parent / "tools",
    PKG.parent / "bench.py", PKG.parent / "__spark_entry__.py",
)

_STREAM = "stream surface"
_TOOLS = "imported by perfbench/ or tools/"

SURFACE: dict[str, str] = {
    "streaming.ann_ingest.ingest_to_partitioned_index": _STREAM,
    "streaming.ann_ingest.ingest_to_pq_index": _STREAM,
    "streaming.ann_ingest.cell_load": _STREAM,
    "streaming.bearing_stream.snapshot_anomaly_episodes_stream": _STREAM,
    "streaming.cdc_stream.apply_cdc_stream": _STREAM,
    "streaming.cdc_stream.apply_cdc_with_ivm": _STREAM,
    "streaming.curation_stream.redaction_stage": _STREAM,
    "streaming.curation_stream.curated_document_stream": _STREAM,
    "streaming.curation_stream.semdedup_compaction": _STREAM,
    "streaming.cusum_stream.cusum_alarm_stream": _STREAM,
    "streaming.fedavg_stream.run_streaming_fedavg": _STREAM,
    "streaming.gapfill_stream.gap_fill_stream": _STREAM,
    "streaming.packing_stream.packing_stream": _STREAM,
    "streaming.pipeline.periodic_mse_stream": _STREAM,
    "streaming.pipeline.anomaly_episodes_stream": _STREAM,
    "streaming.pipeline.dedup_within_watermark": _STREAM,
    "streaming.pipeline.start_to_memory": _STREAM,
    "streaming.sketch_stream.ingest_minute_sketches": _STREAM,
    "streaming.sketch_stream.sliding_distinct_serve": _STREAM,
    "streaming.stateful.first_crossing_stream": _STREAM,
    "sources.kbm.read_kbm_csv_quarantined_stream": _STREAM,
    "sql_frontend.run_sql": "surface: ANSI SQL text over the tables",
    "session.get_spark": "surface: the engine's own session",
    "plans.bearing_pipeline.bearing_anomaly_report": "surface: bearing plan",
    "plans.flagship.flagship_anomaly_report": "surface: flagship plan",
    "sources.resource_log.task_metrics_from_event_log": _TOOLS,
    "sources.resource_log.stage_metrics_summary": _TOOLS,
    "sources.resource_log.stage_names_from_event_log": _TOOLS,
    "operators.similarity.ivf_assign_arrow": _TOOLS,
    "operators.dedup.minhash_signature": (
        "long-form reference the d3 array path is compared against "
        "(tests/test_plans.py)"
    ),
    "operators.graph.wedge_count": "the probe for orient_by_degree's bound",
}


def _foreign_aliases(tree: ast.Module) -> set[str]:
    """Names a module binds by importing from outside the package."""
    out = set()
    for n in ast.walk(tree):
        if isinstance(n, ast.Import):
            for a in n.names:
                if not a.name.startswith(PKG.name):
                    out.add(a.asname or a.name.split(".")[0])
        elif isinstance(n, ast.ImportFrom):
            if n.level == 0 and not (n.module or "").startswith(PKG.name):
                out.update(a.asname or a.name for a in n.names)
    return out


def _refs(node: ast.AST, foreign: set[str]) -> collections.Counter:
    c: collections.Counter = collections.Counter()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            c[n.id] += 1
        elif isinstance(n, ast.Attribute):
            if not (isinstance(n.value, ast.Name) and n.value.id in foreign):
                c[n.attr] += 1
        elif isinstance(n, ast.alias):
            c[n.name.rsplit(".", 1)[-1]] += 1
    return c


def _scan() -> tuple[dict[str, str], set[str]]:
    """(every top-level public def/class -> file:line, the unreferenced
    subset), keyed by dotted name relative to the package."""
    modules = {}
    for path in sorted(PKG.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        modules[path] = (tree, _foreign_aliases(tree))
    total: collections.Counter = collections.Counter()
    for tree, foreign in modules.values():
        total += _refs(tree, foreign)
    defined, unreferenced = {}, set()
    for path, (tree, foreign) in modules.items():
        mod = ".".join(path.relative_to(PKG).with_suffix("").parts)
        for n in tree.body:
            if not isinstance(
                n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ) or n.name.startswith("_"):
                continue
            dotted = f"{mod}.{n.name}"
            defined[dotted] = f"{path.relative_to(PKG.parent)}:{n.lineno}"
            if total[n.name] - _refs(n, foreign)[n.name] <= 0:
                unreferenced.add(dotted)
    return defined, unreferenced


def test_every_public_name_has_a_package_caller_or_a_surface_reason():
    defined, unreferenced = _scan()
    missing = sorted(unreferenced - set(SURFACE))
    assert not missing, (
        "public package names nothing in the package references; delete "
        "them (with their tests) or add them to SURFACE with a reason:\n"
        + "\n".join(f"  {defined[d]}  {d}" for d in missing)
    )


def test_surface_entries_exist_and_are_not_reached_from_the_package():
    defined, unreferenced = _scan()
    gone = sorted(set(SURFACE) - set(defined))
    assert not gone, f"SURFACE names that no longer exist: {gone}"
    reached = sorted(set(SURFACE) - unreferenced)
    assert not reached, (
        f"SURFACE names package code now references (drop them): {reached}"
    )
    assert all(reason.strip() for reason in SURFACE.values())


def _unused_imports(tree: ast.Module) -> list[tuple[int, str]]:
    """(line, name) for each name bound by an import and never loaded.
    Imports inside a ``try`` that catches ``ImportError`` are
    availability probes and are skipped."""
    probes = set()
    for n in ast.walk(tree):
        if isinstance(n, ast.Try) and any(
            h.type and "ImportError" in ast.unparse(h.type) for h in n.handlers
        ):
            probes.update(id(m) for b in n.body for m in ast.walk(b))
    bound = {}
    for n in ast.walk(tree):
        if id(n) in probes:
            continue
        if isinstance(n, ast.Import):
            for a in n.names:
                bound.setdefault(a.asname or a.name.split(".")[0], n.lineno)
        elif isinstance(n, ast.ImportFrom) and n.module != "__future__":
            for a in n.names:
                bound.setdefault(a.asname or a.name, n.lineno)
    loaded = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
    return sorted((line, name) for name, line in bound.items() if name not in loaded)


def test_every_imported_name_is_used():
    paths = [
        f for root in IMPORT_SCAN
        for f in (sorted(root.rglob("*.py")) if root.is_dir() else [root])
    ]
    found = [
        f"  {path.relative_to(PKG.parent)}:{line}  {name}"
        for path in paths
        for line, name in _unused_imports(ast.parse(path.read_text()))
    ]
    assert not found, "imported names the module never uses:\n" + "\n".join(found)
