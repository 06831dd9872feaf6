"""Static reachability of ``candia_spark/`` (no Spark session).

Every top-level definition in the package must be reached from a root:
the registered queries, the public functions of the entry modules
(``pipeline`` stages, ``session``, ``tables``, ``telemetry``,
``worker_daemon``, ``plans.compare``), and everything ``bench.py``,
``__spark_entry__.py`` and ``perfbench/*.py`` name. A definition reached
only from tests or scripts is code nothing runs: delete it with its
tests, or call it from a query or a pipeline stage. ``KEEP`` lists the
few that stay without a caller, each with its reason.

Reachability is by name. A reached definition reaches every top-level
definition, in any module, whose name it uses as an identifier, an
attribute or a whole string constant (docstrings excluded). That
over-counts what is reached, so a flagged definition is surely unreached.
The package looks nothing up by a computed name (no ``getattr`` on its
own modules, no ``importlib``), so the scan misses no caller.

The last test checks that every ``candia_spark`` import in
``scripts/*.py`` and ``tests/*.py`` names a module and a name that exist,
so deleting a definition cannot leave a script importing it.
"""

from __future__ import annotations

import ast
import functools
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "candia_spark"

# Modules whose public (non-underscore) functions and classes are roots.
ENTRY_MODULES = (
    "candia_spark.pipeline",
    "candia_spark.session",
    "candia_spark.tables",
    "candia_spark.telemetry",
    "candia_spark.worker_daemon",
    "candia_spark.plans.compare",
)

# Files outside the package whose every name is a root reference.
ROOT_FILES = ("bench.py", "__spark_entry__.py", "perfbench/*.py")

# Definitions kept without a caller in the roots: module -> {name: reason}.
# A module mapped to a str keeps every definition in it.
KEEP: dict[str, dict[str, str] | str] = {
    "candia_spark.sources.wrappers":
        "paper stages 10-15: the reference's external-tool wrappers",
    "candia_spark.sources.adapters": {
        "write_mgf": "paper stage 11 writes spectra as MGF for the search engines",
        "expand_charges": "paper stage 11 charge expansion before MGF export",
        "write_fasta": "paper stage 12 writes the target-decoy FASTA",
        "REPORT_FORMATS": "paper stage 13 search-engine report formats",
        "read_report": "paper stage 13 reads the search-engine reports",
        "strip_modifications": "paper stage 14 strips modifications from peptides",
        "read_wet_records":
            "file entry to q128's WET chain; validates input from outside",
        "write_wet_records": "writes the WET files read_wet_records reads",
    },
    "candia_spark.sources.mzxml": {
        "read_mzxml": "paper stage 10 reads exported mzXML spectra",
        "convert_mzxml_to_mgf": "paper stage 11 converts mzXML spectra to MGF",
    },
    "candia_spark.sources.mzml": {
        "spectrum_diagnostics": "paper stage 1 input diagnostics on the scans",
        "mzml_to_scan_table": "paper stage 1 writes the parsed scans as a table",
    },
    "candia_spark.operators.kernels": {
        "reconstruct_scans": "paper stage K4 rebuilds scans from PARAFAC factors",
        "impute_chromatogram":
            "per-chromatogram reference that tests hold impute_tensor to",
    },
    "candia_spark.operators.multimodal": {
        "real_image_features":
            "user-set decoder leg of extract_features, a measured scale trade",
    },
    "candia_spark.operators.dedup": {
        "containment_candidate_pairs":
            "count-once contract pinned in tests/test_r17_opts.py",
    },
    "candia_spark.plans.queries": {
        "GOLDEN_NUMPY_VERSION":
            "numpy the goldens were pinned under; test_golden_parity checks it",
    },
}

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _module_name(path: Path) -> str:
    parts = list(path.relative_to(ROOT).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _docstring_nodes(tree: ast.AST) -> set[int]:
    ids = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, *_DEFS)) and node.body:
            first = node.body[0]
            if (isinstance(first, ast.Expr)
                    and isinstance(first.value, ast.Constant)
                    and isinstance(first.value.value, str)):
                ids.add(id(first.value))
    return ids


def _names(nodes, docstrings: set[int]) -> set[str]:
    """Identifiers, attribute names and whole-identifier string constants
    (dotted strings split on '.') used anywhere under ``nodes``."""
    out: set[str] = set()
    for top in nodes:
        for node in ast.walk(top):
            if isinstance(node, ast.Name):
                out.add(node.id)
            elif isinstance(node, ast.Attribute):
                out.add(node.attr)
            elif isinstance(node, ast.alias):
                out.add(node.name.split(".")[-1])
            elif (isinstance(node, ast.Constant) and isinstance(node.value, str)
                    and id(node) not in docstrings):
                out.update(p for p in node.value.split(".") if p.isidentifier())
    return out


def _is_registered_query(node) -> bool:
    return any(
        isinstance(dec, ast.Call)
        and isinstance(dec.func, ast.Name)
        and dec.func.id == "register"
        for dec in node.decorator_list
    )


def _scan_package():
    """(defs, root_defs, root_names): ``defs`` maps each (module, name)
    to the names its body uses; ``root_defs`` are the registered queries
    and the entry modules' public definitions; ``root_names`` are the
    names import-time code uses."""
    defs: dict[tuple[str, str], set[str]] = {}
    root_defs: set[tuple[str, str]] = set()
    root_names: set[str] = set()
    for path in sorted(PACKAGE.rglob("*.py")):
        mod = _module_name(path)
        tree = ast.parse(path.read_text(), filename=str(path))
        docs = _docstring_nodes(tree)
        for stmt in tree.body:
            if isinstance(stmt, _DEFS):
                key = (mod, stmt.name)
                defs[key] = _names([stmt], docs)
                # decorators run at import time
                root_names |= _names(stmt.decorator_list, docs)
                if _is_registered_query(stmt) or (
                    mod in ENTRY_MODULES and not stmt.name.startswith("_")
                ):
                    root_defs.add(key)
            elif isinstance(stmt, (ast.Assign, ast.AnnAssign)):
                targets = (
                    stmt.targets if isinstance(stmt, ast.Assign) else [stmt.target]
                )
                # dunders (``__version__``) are module metadata, not code
                names = [
                    t.id for t in targets
                    if isinstance(t, ast.Name) and not t.id.startswith("__")
                ]
                if not names:
                    root_names |= _names([stmt], docs)
                for name in names:
                    defs[(mod, name)] = _names([stmt.value], docs)
            elif not isinstance(stmt, (ast.Import, ast.ImportFrom)):
                # other import-time code: loops, conditionals, main guards
                # (a re-export reaches nothing by itself)
                root_names |= _names([stmt], docs)
    return defs, root_defs, root_names


def _root_file_names() -> set[str]:
    out: set[str] = set()
    for pattern in ROOT_FILES:
        for path in sorted(ROOT.glob(pattern)):
            tree = ast.parse(path.read_text(), filename=str(path))
            out |= _names([tree], _docstring_nodes(tree))
    return out


def _kept(mod: str, name: str) -> bool:
    keep = KEEP.get(mod)
    return isinstance(keep, str) or (keep is not None and name in keep)


def unreached_definitions() -> list[str]:
    defs, root_defs, root_names = _scan_package()
    by_name: dict[str, list[tuple[str, str]]] = {}
    for key in defs:
        by_name.setdefault(key[1], []).append(key)
    frontier = list(root_defs) + [k for k in defs if _kept(*k)]
    for name in root_names | _root_file_names():
        frontier.extend(by_name.get(name, ()))
    reached: set[tuple[str, str]] = set()
    while frontier:
        key = frontier.pop()
        if key not in reached:
            reached.add(key)
            for name in defs[key]:
                frontier.extend(by_name.get(name, ()))
    return sorted(f"{m}.{n}" for (m, n) in defs if (m, n) not in reached)


def test_every_definition_is_reached_from_a_root():
    unreached = unreached_definitions()
    assert not unreached, (
        "top-level definitions no query, pipeline stage or benchmark reaches "
        "(delete them with their tests, call them from a root, or add them "
        "to KEEP with a reason):\n  " + "\n  ".join(unreached)
    )


def test_keep_list_names_existing_definitions():
    defs, _, _ = _scan_package()
    modules = {m for m, _ in defs}
    missing = []
    for mod, keep in KEEP.items():
        if mod not in modules:
            missing.append(mod)
        elif isinstance(keep, dict):
            missing += [f"{mod}.{n}" for n in keep if (mod, n) not in defs]
    assert not missing, missing


def _module_path(mod: str) -> Path | None:
    base = ROOT.joinpath(*mod.split("."))
    for cand in (base.with_suffix(".py"), base / "__init__.py"):
        if cand.is_file():
            return cand
    return None


@functools.cache
def _module_level_names(path: Path) -> frozenset[str]:
    """Names bound at the top level of a module, including inside
    top-level ``if``/``try``/``with``/``for`` blocks."""
    out: set[str] = set()

    def visit(stmts):
        for stmt in stmts:
            if isinstance(stmt, _DEFS):
                out.add(stmt.name)
            elif isinstance(stmt, (ast.Assign, ast.AnnAssign, ast.AugAssign)):
                targets = (
                    stmt.targets if isinstance(stmt, ast.Assign) else [stmt.target]
                )
                for t in targets:
                    out.update(n.id for n in ast.walk(t) if isinstance(n, ast.Name))
            elif isinstance(stmt, (ast.Import, ast.ImportFrom)):
                out.update((a.asname or a.name).split(".")[0] for a in stmt.names)
            elif isinstance(stmt, (ast.If, ast.Try, ast.With, ast.For)):
                visit(stmt.body)
                visit(getattr(stmt, "orelse", []))
                visit(getattr(stmt, "finalbody", []))
                for handler in getattr(stmt, "handlers", []):
                    visit(handler.body)

    visit(ast.parse(path.read_text(), filename=str(path)).body)
    return frozenset(out)


def _is_candia(module: str | None) -> bool:
    return module is not None and module.split(".")[0] == "candia_spark"


def test_script_and_test_imports_of_candia_spark_resolve():
    broken = []
    files = sorted((ROOT / "scripts").glob("*.py")) + sorted(
        (ROOT / "tests").glob("*.py")
    )
    for path in files:
        tree = ast.parse(path.read_text(), filename=str(path))
        for node in ast.walk(tree):
            where = f"{path.relative_to(ROOT)}:{getattr(node, 'lineno', 0)}"
            if isinstance(node, ast.Import):
                broken += [
                    f"{where} import {a.name}"
                    for a in node.names
                    if _is_candia(a.name) and _module_path(a.name) is None
                ]
            elif (isinstance(node, ast.ImportFrom) and node.level == 0
                    and _is_candia(node.module)):
                target = _module_path(node.module)
                if target is None:
                    broken.append(f"{where} from {node.module}")
                    continue
                bound = _module_level_names(target)
                broken += [
                    f"{where} from {node.module} import {a.name}"
                    for a in node.names
                    if a.name not in bound
                    and _module_path(f"{node.module}.{a.name}") is None
                ]
    assert not broken, "\n".join(broken)
