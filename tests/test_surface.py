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


# --- options: a parameter only where two callers differ -------------------

ROOT = PKG.parent
# every caller whose values count: the package and what runs it (the
# golden-log test reproduces the reference's own calls)
CALLERS = (
    PKG, ROOT / "tools", ROOT / "perfbench", ROOT / "bench.py",
    ROOT / "__spark_entry__.py", ROOT / "tests" / "test_golden_logs.py",
)

# name -> why a parameter with one value in use stays; only shrinks
OPTIONS: dict[str, str] = {
    "operators.rolling.rolling_min.window": (
        "the golden-log test passes the reference's ROLLING_MIN"
    ),
    "operators.multimodal.decode_media.on_error": (
        "error policy for blobs from outside: quarantine keeps a corrupt "
        "blob from failing the job"
    ),
}


def _modname(path: pathlib.Path) -> str:
    parts = list(path.relative_to(ROOT).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


class _Census:
    """Per defaulted parameter of each top-level package function, the
    set of values its direct call sites pass (see ``_option_census``)."""

    def __init__(self):
        self.trees: dict[str, tuple[pathlib.Path, ast.Module]] = {}
        for root in CALLERS:
            for path in sorted(root.rglob("*.py")) if root.is_dir() else [root]:
                self.trees[_modname(path)] = (path, ast.parse(path.read_text()))
        self.defs = {
            (mod, n.name): n
            for mod, (path, tree) in self.trees.items()
            if path.is_relative_to(PKG)
            for n in tree.body
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
        }
        self.bindings = {
            mod: self._bindings(mod, tree) for mod, (_, tree) in self.trees.items()
        }

    def _bindings(self, mod: str, tree: ast.Module) -> dict[str, tuple]:
        """Names a module binds by ``def`` or ``import`` (at any depth)."""
        path = self.trees[mod][0]
        pkg = mod if path.name == "__init__.py" else mod.rpartition(".")[0]
        out: dict[str, tuple] = {}
        for n in ast.walk(tree):
            if isinstance(n, ast.Import):
                for a in n.names:
                    if a.asname:
                        out[a.asname] = ("mod", a.name)
                    else:
                        out[a.name.split(".")[0]] = ("mod", a.name.split(".")[0])
            elif isinstance(n, ast.ImportFrom):
                base = n.module or ""
                if n.level:
                    up = pkg.split(".")[: len(pkg.split(".")) - (n.level - 1)]
                    base = ".".join(up + ([n.module] if n.module else []))
                for a in n.names:
                    out[a.asname or a.name] = ("from", base, a.name)
        for n in tree.body:
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef)):
                out[n.name] = ("func", (mod, n.name))
        return out

    def _member(self, mod: str, name: str, depth: int = 0):
        """What ``mod.name`` is: ("mod", dotted), ("func", key) or None."""
        if f"{mod}.{name}" in self.trees:
            return ("mod", f"{mod}.{name}")
        if (mod, name) in self.defs:
            return ("func", (mod, name))
        if mod in self.trees and depth < 8:  # a re-export through an import
            return self._resolve_binding(self.bindings[mod].get(name), depth + 1)
        return None

    def _resolve_binding(self, b, depth: int = 0):
        if b is None or b[0] != "from":
            return b
        return self._member(b[1], b[2], depth)

    def resolve(self, mod: str, node: ast.AST):
        if isinstance(node, ast.Name):
            return self._resolve_binding(self.bindings[mod].get(node.id))
        if isinstance(node, ast.Attribute):
            base = self.resolve(mod, node.value)
            if base and base[0] == "mod":
                return self._member(base[1], node.attr)
        return None


def _params(fn: ast.FunctionDef) -> tuple[list[str], dict[str, ast.expr]]:
    """(positional parameter names, defaulted name -> default)."""
    a = fn.args
    positional = [p.arg for p in a.posonlyargs + a.args]
    defaults = dict(zip(positional[len(positional) - len(a.defaults):], a.defaults))
    defaults.update(
        (p.arg, d) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None
    )
    return positional, defaults


def _literal(node: ast.expr):
    try:
        v = ast.literal_eval(node)
    except (ValueError, TypeError, SyntaxError, MemoryError, RecursionError):
        return None
    return ("lit", type(v).__name__, repr(v))


def _pass_through(top: ast.FunctionDef, node: ast.expr) -> str | None:
    """The enclosing function's parameter ``node`` forwards unchanged."""
    if not isinstance(node, ast.Name) or node.id not in _params(top)[1]:
        return None
    for n in ast.walk(top):
        if isinstance(n, ast.Name) and n.id == node.id and isinstance(
            n.ctx, ast.Store
        ):
            return None
        if isinstance(n, (ast.FunctionDef, ast.Lambda)) and n is not top:
            a = n.args
            if node.id in {p.arg for p in a.posonlyargs + a.args + a.kwonlyargs}:
                return None
    return node.id


def _option_census() -> tuple[dict[str, set], dict[str, str]]:
    """(dotted ``module.function.param`` -> the values in use, dotted ->
    file:line) for each defaulted parameter of each non-surface top-level
    package function that is only ever called directly.

    A value is a literal (an omitted argument counts as the default), or
    a token of its own for any other expression. An argument that
    forwards a checked parameter of the enclosing function unchanged
    (``id_col=id_col``) carries that parameter's values; the sets are
    propagated to a fixpoint."""
    c = _Census()
    checked = {
        key: fn for key, fn in c.defs.items()
        if f"{key[0].removeprefix(PKG.name + '.')}.{key[1]}" not in SURFACE
        and _params(fn)[1]
    }
    other_use: set = set()
    calls: list = []  # (caller mod, enclosing top-level def or None, call, callee)
    for mod, (_, tree) in c.trees.items():
        for root in tree.body:
            is_def = isinstance(root, (ast.FunctionDef, ast.AsyncFunctionDef))
            top = root if is_def else None
            callee_nodes = set()
            for n in ast.walk(root):
                if isinstance(n, ast.Call):
                    r = c.resolve(mod, n.func)
                    if r and r[0] == "func":
                        calls.append((mod, top, n, r[1]))
                        callee_nodes.add(id(n.func))
            for n in ast.walk(root):
                if isinstance(n, (ast.Name, ast.Attribute)) and id(n) not in callee_nodes:
                    r = c.resolve(mod, n)
                    if r and r[0] == "func" and not (
                        isinstance(n, ast.Name) and isinstance(n.ctx, ast.Store)
                    ):
                        other_use.add(r[1])
    checked = {k: v for k, v in checked.items() if k not in other_use}

    def dotted(key, p):
        return f"{key[0].removeprefix(PKG.name + '.')}.{key[1]}.{p}"

    values: dict[str, set] = {}
    where: dict[str, str] = {}
    for key, fn in checked.items():
        for p, d in _params(fn)[1].items():
            values[dotted(key, p)] = set()
            path = c.trees[key[0]][0]
            where[dotted(key, p)] = f"{path.relative_to(ROOT)}:{fn.lineno}"
    edges: list = []  # (callee dotted, caller dotted)
    for mod, top, call, key in calls:
        if key not in checked:
            continue
        positional, defaults = _params(checked[key])
        given: dict[str, ast.expr] = {}
        unknown = False
        for i, a in enumerate(call.args):
            if isinstance(a, ast.Starred):
                unknown = True
                break
            if i < len(positional):
                given[positional[i]] = a
        for kw in call.keywords:
            if kw.arg is None:
                unknown = True
            else:
                given[kw.arg] = kw.value
        top_key = (mod, top.name) if top is not None else None
        for p, d in defaults.items():
            name = dotted(key, p)
            node = given.get(p)
            if node is None:
                if unknown:
                    values[name].add(("expr", id(call), p))
                else:
                    values[name].add(_literal(d) or ("default", name))
                continue
            lit = _literal(node)
            if lit:
                values[name].add(lit)
                continue
            src = _pass_through(top, node) if top is not None else None
            if src is not None and top_key in checked:
                edges.append((name, dotted(top_key, src)))
            else:
                values[name].add(("expr", id(node)))
    changed = True
    while changed:
        changed = False
        for dst, src in edges:
            if not values[src] <= values[dst]:
                values[dst] |= values[src]
                changed = True
    return {k: v for k, v in values.items() if v}, where


def test_every_option_has_two_values_in_use():
    values, where = _option_census()
    single = sorted(k for k, v in values.items() if len(v) == 1 and k not in OPTIONS)
    assert not single, (
        f"{len(single)} defaulted parameters have one value in use; make "
        "each a literal (or a module constant) or list it in OPTIONS with "
        "a reason:\n" + "\n".join(f"  {where[k]}  {k}" for k in single)
    )


def test_options_entries_exist_and_are_single_valued():
    values, _ = _option_census()
    assert len(OPTIONS) <= 20 and all(r.strip() for r in OPTIONS.values())
    stale = sorted(k for k in OPTIONS if len(values.get(k, ())) != 1)
    assert not stale, f"OPTIONS entries that are gone or have two values now: {stale}"
