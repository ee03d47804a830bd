"""Nothing in the package runs only under its own tests. Every
module-level function or class in ccrawler_spark/, and every class
method, must be named somewhere in the code outside tests/ — the
package, ``__spark_entry__.py``, the bench scripts, scripts/ and
perfbench/ — or sit in the allowlist with the reason it stays. A name
counts when it is used as a Name, an Attribute or an import alias;
string constants and comments do not. ``testing.py`` is test support
and is exempt."""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "ccrawler_spark"

UNREFERENCED_ALLOWED = {
    # ROADMAP item 2's round report runs the monitor operators or
    # deletes them (SURVEY O20/O21/O23/O24)
    "scheduler.monitor.frontier_depth_stats": "ROADMAP item 2",
    "scheduler.monitor.cardinality_sketches": "ROADMAP item 2",
    "scheduler.monitor.merge_sketches": "ROADMAP item 2",
    "scheduler.monitor.hot_hosts": "ROADMAP item 2",
    # the float64 reference the dct8 tests compare decode against
    "codecs.dct8.decode_f64": "test_codecs reference",
    # reads the per-round lineage metrics rows; test_parity checks them
    # against the manifest lineage
    "io.snapshot.SnapshotStore.read_metrics": "test_parity reader",
}


def _sources():
    for p in sorted(ROOT.rglob("*.py")):
        top = p.relative_to(ROOT).parts[0]
        if top != "tests" and not top.startswith("."):
            yield p


def _used_names() -> set[str]:
    used = set()
    for p in _sources():
        for n in ast.walk(ast.parse(p.read_text())):
            if isinstance(n, ast.Name):
                used.add(n.id)
            elif isinstance(n, ast.Attribute):
                used.add(n.attr)
            elif isinstance(n, ast.alias):
                used.update(n.name.split("."))
                if n.asname:
                    used.add(n.asname)
    return used


def _definitions():
    """(qualified name, bare name) of every checked definition."""
    defs = ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef
    for p in sorted(PKG.rglob("*.py")):
        if p == PKG / "testing.py":
            continue
        parts = p.relative_to(PKG).with_suffix("").parts
        mod = ".".join(parts[:-1] if parts[-1] == "__init__" else parts)
        for n in ast.parse(p.read_text()).body:
            if not isinstance(n, defs):
                continue
            yield f"{mod}.{n.name}", n.name
            if isinstance(n, ast.ClassDef):
                for m in n.body:
                    if (isinstance(m, defs[:2])
                            and not m.name.startswith("__")):
                        yield f"{mod}.{n.name}.{m.name}", m.name


def test_every_definition_is_referenced():
    used = _used_names()
    unreferenced = {q for q, name in _definitions() if name not in used}
    allowed = set(UNREFERENCED_ALLOWED)
    assert unreferenced == allowed, (
        f"unreferenced: {sorted(unreferenced - allowed)}; "
        f"referenced again, drop from the allowlist: "
        f"{sorted(allowed - unreferenced)}"
    )
