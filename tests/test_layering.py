"""Layering guard: the registry is the only list of catalog entries,
``plans/`` modules are leaves that share code only through
``operators/``, ``sources/``, ``streaming/`` and ``tables``, and the
library layers never reach up into the catalog.  Pure ``ast`` checks,
no Spark session."""

from __future__ import annotations

import ast
import os

from chronicle_sniffer_spark.plans import registry

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "chronicle_sniffer_spark")
PLANS = "chronicle_sniffer_spark.plans"
PLAN_MODULES = {
    f[:-3] for f in os.listdir(os.path.join(PKG, "plans")) if f.endswith(".py")
} - {"__init__"}


def _package_modules(top: str = PKG) -> dict[str, ast.Module]:
    out = {}
    for root, _dirs, files in os.walk(top):
        for f in files:
            if f.endswith(".py"):
                path = os.path.join(root, f)
                with open(path) as fh:
                    out[os.path.relpath(path, REPO)] = ast.parse(fh.read(), path)
    return out


def _imported_modules(tree: ast.Module) -> list[str]:
    """Every module an import statement names, with ``from X import y``
    expanded to ``X.y`` when ``y`` is a plan submodule."""
    mods = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            mods += [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom) and node.module:
            mods.append(node.module)
            if node.module == PLANS:
                mods += [f"{PLANS}.{a.name}" for a in node.names if a.name in PLAN_MODULES]
    return mods


def test_no_module_imports_a_plan_module_other_than_catalog():
    bad = [
        (path, mod)
        for path, tree in _package_modules().items()
        for mod in _imported_modules(tree)
        if mod.startswith(PLANS + ".") and mod != PLANS + ".catalog"
    ]
    assert not bad, bad


def test_library_layers_do_not_import_the_catalog():
    layers = tuple(
        os.path.join("chronicle_sniffer_spark", d, "") for d in ("operators", "sources", "streaming")
    )
    bad = [
        (path, mod)
        for path, tree in _package_modules().items()
        if path.startswith(layers)
        for mod in _imported_modules(tree)
        if mod == PLANS or mod.startswith(PLANS + ".")
    ]
    assert not bad, bad


def test_no_t_loader_wrapper():
    bad = []
    for path, tree in _package_modules().items():
        for node in ast.walk(tree):
            if isinstance(node, ast.FunctionDef) and node.name == "_t":
                bad.append((path, node.lineno))
            elif isinstance(node, ast.Name) and node.id == "_t" and isinstance(node.ctx, ast.Store):
                bad.append((path, node.lineno))
            elif isinstance(node, ast.alias) and (node.asname or node.name) == "_t":
                bad.append((path, node.lineno))
    assert not bad, bad


def test_bench_tools_hold_no_entry_names():
    names = set(registry())
    for rel in ("bench.py", "tools/profile_query.py", "tools/scale_soak.py"):
        with open(os.path.join(REPO, rel)) as fh:
            tree = ast.parse(fh.read())
        found = {
            n.value
            for n in ast.walk(tree)
            if isinstance(n, ast.Constant) and isinstance(n.value, str) and n.value in names
        }
        assert not found, (rel, sorted(found))


def _temp_dir_calls(path: str, tree: ast.Module) -> list[tuple]:
    bad = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Attribute) and node.attr in ("mkdtemp", "gettempdir"):
            bad.append((path, node.lineno, node.attr))
        elif isinstance(node, ast.ImportFrom) and node.module == "tempfile":
            bad += [
                (path, node.lineno, a.name)
                for a in node.names
                if a.name in ("mkdtemp", "gettempdir")
            ]
    return bad


def test_only_tables_decides_fixture_location_and_lifetime():
    """Temp directories come from ``tables.session_tmpdir``, session
    fixtures are memoised by ``tables.session_memo``: no other module
    makes a temp dir, reads the warehouse location, or keeps its own
    module-level ``*_CACHE`` dict (``operators/ivf.py``'s centroid
    cache is a data cache keyed by manifest version, not a fixture).
    Tests take ``tmp_path``/``tmp_path_factory``, which pytest
    removes, so the temp-dir rule covers ``tests/`` too."""
    bad = []
    for path, tree in _package_modules(os.path.join(REPO, "tests")).items():
        bad += _temp_dir_calls(path, tree)
    for path, tree in _package_modules().items():
        if path == os.path.join("chronicle_sniffer_spark", "tables.py"):
            continue
        bad += _temp_dir_calls(path, tree)
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Constant)
                and node.value == "spark.sql.warehouse.dir"
                and path != os.path.join("chronicle_sniffer_spark", "session.py")
            ):
                bad.append((path, node.lineno, node.value))
        if path == os.path.join("chronicle_sniffer_spark", "operators", "ivf.py"):
            continue
        for node in tree.body:
            targets = (
                node.targets
                if isinstance(node, ast.Assign)
                else [node.target] if isinstance(node, ast.AnnAssign) else []
            )
            bad += [
                (path, node.lineno, t.id)
                for t in targets
                if isinstance(t, ast.Name) and t.id.endswith("_CACHE")
            ]
    assert not bad, bad


def _manifest_bindings(tree: ast.Module, protocol: set[str]) -> tuple[set, set]:
    """Names bound to the ``streaming.manifest`` module, and protocol
    functions imported from it by name."""
    aliases, direct = set(), set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            aliases |= {
                a.asname or a.name for a in node.names if a.name.endswith("streaming.manifest")
            }
        elif isinstance(node, ast.ImportFrom) and node.module:
            if node.module.endswith("streaming"):
                aliases |= {a.asname or a.name for a in node.names if a.name == "manifest"}
            elif node.module.endswith("streaming.manifest"):
                direct |= {a.asname or a.name for a in node.names if a.name in protocol}
    return aliases, direct


def test_only_manifest_reads_and_publishes_bucket_stores():
    """``streaming/manifest.py`` alone decides how a bucket store is
    read and published: no other module stages, lists or commits a
    store's data directory, resolves its bucket paths, or keeps its
    own bucket count or bucket hash."""
    protocol = {"staging_dir", "commit", "bucket_paths"}
    bad = []
    for path, tree in _package_modules().items():
        if path == os.path.join("chronicle_sniffer_spark", "streaming", "manifest.py"):
            continue
        aliases, direct = _manifest_bindings(tree, protocol)
        for node in ast.walk(tree):
            if isinstance(node, ast.Call):
                f, src = node.func, ast.unparse(node.func)
                if (
                    isinstance(f, ast.Attribute)
                    and f.attr in protocol
                    and ast.unparse(f.value) in aliases
                ) or (isinstance(f, ast.Name) and f.id in direct):
                    bad.append((path, node.lineno, src))
                elif src == "os.listdir" and "stag" in ast.unparse(node):
                    bad.append((path, node.lineno, ast.unparse(node)))
            elif isinstance(node, ast.FunctionDef) and node.name == "_bucket_of":
                bad.append((path, node.lineno, node.name))
            elif isinstance(node, (ast.Assign, ast.AnnAssign)):
                targets = node.targets if isinstance(node, ast.Assign) else [node.target]
                bad += [
                    (path, node.lineno, t.id)
                    for t in targets
                    if isinstance(t, ast.Name) and t.id == "N_BUCKETS"
                ]
    assert not bad, bad
