"""Every JSON file the package writes goes through one atomic writer.

meta.json, the stage and bucket manifests, and a staged increment's
meta_next.json and COMMIT.json are commit files: a reader (an index open, a
resumed build) trusts what they say. Written in place, a crash mid-write
leaves a truncated file that a resume then dies on. ``write_json`` in
``plans/manifest.py`` writes a temp file and renames it into place; this
scan fails when any other site serializes JSON to a file.
"""

import ast
import os

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "similarities_spark",
)

WRITER = ("plans/manifest.py", "write_json")


def _json_names(tree):
    """Local names bound to the json module (``import json [as x]``)."""
    return {
        alias.asname or alias.name
        for node in ast.walk(tree)
        if isinstance(node, ast.Import)
        for alias in node.names
        if alias.name == "json"
    }


def _file_writes():
    """(module, enclosing def) of each ``json.dump`` call, and of each
    ``json.dumps`` whose text is passed straight to a ``write`` call."""
    found = []
    for dirpath, _, files in os.walk(PKG):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(dirpath, name)
            rel = os.path.relpath(path, PKG).replace(os.sep, "/")
            with open(path, "r", encoding="utf-8") as f:
                tree = ast.parse(f.read(), filename=path)
            json_names = _json_names(tree)

            def is_json(node, attr):
                fn = getattr(node, "func", None)
                return (
                    isinstance(node, ast.Call)
                    and isinstance(fn, ast.Attribute)
                    and fn.attr == attr
                    and isinstance(fn.value, ast.Name)
                    and fn.value.id in json_names
                )

            def visit(node, scope):
                for child in ast.iter_child_nodes(node):
                    if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                        visit(child, child.name)
                        continue
                    if is_json(child, "dump"):
                        found.append((rel, scope))
                    elif (
                        isinstance(child, ast.Call)
                        and isinstance(child.func, ast.Attribute)
                        and child.func.attr.startswith("write")
                        and any(is_json(a, "dumps") for a in child.args)
                    ):
                        found.append((rel, scope))
                    visit(child, scope)

            visit(tree, "")
    return found


def test_one_atomic_json_writer():
    assert _file_writes() == [WRITER]
