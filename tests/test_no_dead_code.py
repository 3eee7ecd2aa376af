"""Nothing in the package is kept only for its tests: every top-level
function or class is reached from package code, ``tools/``,
``perfbench/``, ``bench.py`` or ``__spark_entry__.py``, and crash-safe
file swaps (``os.fsync``, ``os.replace``, ``os.rename``) live in one
place, ``sources/index_store.py``, apart from the one rename that
publishes the driver JVM's recorded class-data-sharing archive
(``session._record_archive``). Both are source scans; no Spark."""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "udacity_data_engineering_capstone_project_spark"

#: Reached from tests only, and kept on purpose.
ALLOWED = {
    "build_star_query": "reference J4 (ipynb cell 82 in SURVEY.md): the star join as one query",
    "curate_corpus": "the north star's composition test: every curation stage in one session",
}

#: Reached from tests only and still to be deleted, each with the tests
#: that check only it (ROADMAP item 3). Shrink this set; never grow it.
PENDING = {
    "decode_image",
    "_fake_decode_pixels",
    "frame_sample",
}

#: The one module allowed to swap files crash-safely.
SWAP_MODULE = PACKAGE / "sources" / "index_store.py"
#: The one swap outside it: a JVM's archive is renamed into place whole
#: after the JVM that wrote it exited cleanly (a torn one crashes the
#: next JVM). It is not index data and shares nothing with the store.
ARCHIVE_PROMOTION = (PACKAGE.relative_to(ROOT) / "session.py", "_record_archive")


def _code_files():
    yield from sorted(PACKAGE.rglob("*.py"))
    for folder in ("tools", "perfbench"):
        yield from sorted((ROOT / folder).rglob("*.py"))
    yield ROOT / "bench.py"
    yield ROOT / "__spark_entry__.py"


def _top_level_defs(tree):
    return [
        node
        for node in tree.body
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
    ]


def _names_used(node, in_package_init):
    """Names a subtree uses in code: Name, Attribute and import targets.
    A package ``__init__`` re-export is not a use."""
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            yield n.id
        elif isinstance(n, ast.Attribute):
            yield n.attr
        elif isinstance(n, (ast.Import, ast.ImportFrom)) and not in_package_init:
            yield from (a.name.rsplit(".", 1)[-1] for a in n.names)


def _unreached():
    """Top-level package definitions that no live code uses. A definition
    whose only users are themselves unreached is unreached too, so the
    scan repeats until nothing new turns up. ``ALLOWED`` names are live."""
    trees = {path: ast.parse(path.read_text()) for path in _code_files()}
    defs = {
        (path, node.name)
        for path, tree in trees.items()
        if PACKAGE in path.parents
        for node in _top_level_defs(tree)
    }
    dead: set = set()
    while True:
        used: dict = {}
        for path, tree in trees.items():
            in_init = path.name == "__init__.py" and PACKAGE in path.parents
            for top in tree.body:
                owner = getattr(top, "name", None)
                if (path, owner) in dead:
                    continue
                for name in _names_used(top, in_init):
                    used.setdefault(name, set()).add((path, owner))
        new = {
            (path, name)
            for path, name in defs - dead
            if name not in ALLOWED and not used.get(name, set()) - {(path, name)}
        }
        if not new:
            return {name for _, name in dead}
        dead |= new


def test_every_package_definition_is_reached():
    unreached = _unreached()
    assert unreached - PENDING == set(), "delete it with its tests, or use it"
    assert PENDING - unreached == set(), "reached or deleted: drop it from PENDING"
    defined = {
        node.name
        for path in PACKAGE.rglob("*.py")
        for node in _top_level_defs(ast.parse(path.read_text()))
    }
    assert set(ALLOWED) <= defined


def _swap_calls(tree):
    """(line, enclosing top-level definition) of each os.fsync,
    os.replace and os.rename call."""
    for top in tree.body:
        for n in ast.walk(top):
            if (
                isinstance(n, ast.Call)
                and isinstance(n.func, ast.Attribute)
                and n.func.attr in {"fsync", "replace", "rename"}
                and isinstance(n.func.value, ast.Name)
                and n.func.value.id == "os"
            ):
                yield n.lineno, getattr(top, "name", None)


def test_crash_safe_swaps_live_in_index_store():
    stray = [
        (path.relative_to(ROOT), line, owner)
        for path in sorted(PACKAGE.rglob("*.py"))
        if path != SWAP_MODULE
        for line, owner in _swap_calls(ast.parse(path.read_text()))
    ]
    assert [(path, owner) for path, _, owner in stray] == [ARCHIVE_PROMOTION]
    assert list(_swap_calls(ast.parse(SWAP_MODULE.read_text())))
