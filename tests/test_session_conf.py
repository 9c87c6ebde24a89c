"""Operators must leave session-wide Spark conf alone.

A `spark.conf.set` inside an operator changes the setting for every query
sharing the session (a concurrent stream, another thread), so only
session construction and table loading may write conf.
"""

from __future__ import annotations

import pathlib
import re

import inferdb_spark

CONF_WRITE = re.compile(r"\.conf\s*\.\s*(?:set|unset)\s*\(")
ALLOWED = {"session.py", "catalog.py"}


def test_conf_writes_only_in_session_and_catalog():
    root = pathlib.Path(inferdb_spark.__file__).parent
    offenders = [
        f"{path.relative_to(root)}:{n}"
        for path in sorted(root.rglob("*.py"))
        if path.relative_to(root).as_posix() not in ALLOWED
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if CONF_WRITE.search(line)
    ]
    assert offenders == []
