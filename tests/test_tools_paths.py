"""Scripts under tools/ must act on the checkout they live in.

A script that puts a literal directory first on `sys.path` imports
whatever package sits there, and one that writes a report to a literal
path overwrites another checkout's copy.  Each script derives the
checkout from its own `__file__` instead.
"""

from __future__ import annotations

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
TOOLS = sorted((ROOT / "tools").glob("*.py"))


def _offences(path: pathlib.Path) -> list[str]:
    tree = ast.parse(path.read_text())
    out = []
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in ("insert", "append")
            and ast.unparse(node.func.value) == "sys.path"
            and any(isinstance(a, ast.Constant) for a in node.args[-1:])
        ):
            out.append(f"{path.name}:{node.lineno} literal sys.path entry")
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            for word in node.value.split():
                p = pathlib.PurePath(word.strip("`'\"(),"))
                if p.is_absolute() and (p == ROOT or ROOT in p.parents):
                    out.append(f"{path.name}:{node.lineno} names the checkout: {word}")
    return out


def test_tools_derive_the_checkout_from_file():
    assert TOOLS
    offenders = [o for path in TOOLS for o in _offences(path)]
    assert offenders == []
