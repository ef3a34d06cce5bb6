"""Dump what the SQL-text readers make of every statement the repo carries.

Collects every string constant that starts with SELECT or WITH in
``tests/*.py`` and ``verdictdb_spark/queries.py`` (the parser has already
joined implicit concatenation; f-strings are skipped) and prints one
canonical JSON line per distinct statement, sorted, with what
``sqlparse.parse_select``, ``parse_percentile_select``, ``inline_ctes``
and ``split_union`` return for it: the dataclass as a dict, the plain
value, or ``{"raises": <exception class>}``.

    python tools/parse_dump.py [--repo DIR] [--messages] > dump.jsonl

``--repo`` picks the checkout whose package is imported and whose files
are scanned (default: this one); ``--messages`` adds exception messages.
Diffing the dumps of two checkouts shows whether a parser change keeps
every statement's parse.  No Spark session is started.
"""

from __future__ import annotations

import argparse
import ast
import dataclasses
import glob
import json
import os
import re
import sys

_HEAD = re.compile(r"\s*(SELECT|WITH)\b", re.IGNORECASE)


def statements(repo: str) -> list[str]:
    """Distinct SELECT/WITH string constants of the scanned files."""
    files = sorted(glob.glob(os.path.join(repo, "tests", "*.py")))
    files.append(os.path.join(repo, "verdictdb_spark", "queries.py"))
    found: set[str] = set()

    def visit(node: ast.AST) -> None:
        if isinstance(node, ast.JoinedStr):
            return  # f-string: its text is only known at run time
        if isinstance(node, ast.Constant) and isinstance(node.value, str):
            if _HEAD.match(node.value):
                found.add(node.value)
        for child in ast.iter_child_nodes(node):
            visit(child)

    for path in files:
        with open(path) as f:
            visit(ast.parse(f.read(), path))
    return sorted(found)


def _plain(value):
    if dataclasses.is_dataclass(value):
        return dataclasses.asdict(value)
    return value


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument(
        "--repo", default=os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    ap.add_argument("--messages", action="store_true")
    args = ap.parse_args(argv)
    sys.path.insert(0, os.path.abspath(args.repo))
    from verdictdb_spark import sqlparse

    readers = ("parse_select", "parse_percentile_select", "inline_ctes", "split_union")
    for sql in statements(args.repo):
        line: dict = {"sql": sql}
        for name in readers:
            try:
                line[name] = _plain(getattr(sqlparse, name)(sql))
            except Exception as e:
                line[name] = {"raises": type(e).__name__}
                if args.messages:
                    line[name]["message"] = str(e)
        print(json.dumps(line, sort_keys=True))


if __name__ == "__main__":
    main()
