"""Every top-level package definition must be reachable from a product path.

A definition is a top-level ``def`` or ``class`` in a package module, or a
top-level assignment to a single name (a module constant); dunder
assignments (``__all__``, ``__version__``) and tuple targets are not
definitions but live code.  A definition is *reached* when live code
outside it names it: an ``ast.Name``, an ``ast.Attribute``, an import alias,
or an identifier-shaped string constant (docstrings and comments do not
count).  Live code starts at the roots: the other module-level statements
of every package module except the ``__init__.py`` re-export files, plus
``__spark_entry__.py``, ``bench.py``, ``perfbench/*.py`` and
``scripts/*.py``; registry ``q_*`` builders are live because ``@register``
reaches them.  The walk repeats until nothing changes,
so code that only dead code calls is dead too.  Tests are not roots: a
package function only tests call is either wired to a product surface or
deleted with its tests.
"""
from __future__ import annotations

import ast
import glob
import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "ambient_sound_analysis_api_spark"

# Kept although no product path calls them; each with its reason.
ALLOWED = {
    "sources/listing.py::s3_pager":
        "boto3 adapter: the only path from Engine to a real S3 archive",
    "operators/dedup.py::doc_representatives":
        "test oracle: expansion must reproduce representative_near_pairs",
    "operators/dedup.py::vector_representatives":
        "test oracle: expansion must reproduce representative_embedding_pairs",
    "operators/dedup.py::expand_representative_pairs":
        "test oracle: expands representatives back to the raw pair set",
}

_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*\Z")
_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _docstrings(tree: ast.AST) -> set[int]:
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, *_DEFS)) and node.body:
            first = node.body[0]
            if (isinstance(first, ast.Expr) and isinstance(first.value, ast.Constant)
                    and isinstance(first.value.value, str)):
                out.add(id(first.value))
    return out


def _defined(stmt: ast.stmt) -> str | None:
    """The name a top-level statement defines: a def or class, or a
    single-name assignment other than a dunder (tuple targets stay roots)."""
    if isinstance(stmt, _DEFS):
        return stmt.name
    if isinstance(stmt, ast.Assign) and len(stmt.targets) == 1:
        target = stmt.targets[0]
    elif isinstance(stmt, ast.AnnAssign) and stmt.value is not None:
        target = stmt.target
    else:
        return None
    if isinstance(target, ast.Name) and not re.fullmatch(r"__\w+__", target.id):
        return target.id
    return None


def _names(nodes, skip: set[int]) -> set[str]:
    out = set()
    for top in nodes:
        for node in ast.walk(top):
            if isinstance(node, ast.Name):
                out.add(node.id)
            elif isinstance(node, ast.Attribute):
                out.add(node.attr)
            elif isinstance(node, ast.alias):
                out.add(node.name.rsplit(".", 1)[-1])
            elif (isinstance(node, ast.Constant) and isinstance(node.value, str)
                  and id(node) not in skip and _IDENT.match(node.value)):
                out.add(node.value)
    return out


def unreached() -> set[str]:
    """``module::name`` of every top-level package definition nothing live names."""
    pkg_files = sorted(glob.glob(os.path.join(REPO, PKG, "**", "*.py"), recursive=True))
    extra = [os.path.join(REPO, "__spark_entry__.py"), os.path.join(REPO, "bench.py")]
    extra += sorted(glob.glob(os.path.join(REPO, "perfbench", "*.py")))
    extra += sorted(glob.glob(os.path.join(REPO, "scripts", "*.py")))
    live: set[str] = set()
    defs: dict[str, tuple[str, set[str]]] = {}  # "module::name" -> (name, names used)
    for path in pkg_files + extra:
        with open(path) as fh:
            tree = ast.parse(fh.read(), path)
        skip = _docstrings(tree)
        in_pkg = path in pkg_files
        is_root = not (in_pkg and os.path.basename(path) == "__init__.py")
        rel = os.path.relpath(path, os.path.join(REPO, PKG))
        top_code = []
        for stmt in tree.body:
            name = _defined(stmt) if in_pkg else None
            if name is None:
                top_code.append(stmt)
                continue
            key = f"{rel}::{name}"
            used = defs[key][1] if key in defs else set()
            defs[key] = (name, used | _names([stmt], skip))
            if name.startswith("q_") and rel == "registry.py":
                live.add(name)
        if is_root:
            live |= _names(top_code, skip)
    done: set[str] = set()
    while True:
        grow = [k for k, (name, _) in defs.items() if name in live and k not in done]
        if not grow:
            break
        for k in grow:
            done.add(k)
            live |= defs[k][1]
    return {k for k, (name, _) in defs.items() if name not in live}


def test_every_package_definition_is_reached():
    found = unreached()
    stale = sorted(set(ALLOWED) - found)
    assert not stale, "allowlisted but now reached or gone: " + ", ".join(stale)
    dead = sorted(found - set(ALLOWED))
    assert not dead, f"{len(dead)} unreached: " + ", ".join(dead)
