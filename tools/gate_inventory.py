#!/usr/bin/env python3
"""Regenerate SURVEY.md §12 (gate inventory) from queries() order and
each gate's first docstring line. Run after adding a gate or editing
a gate's docstring.

    python3 tools/gate_inventory.py          # rewrite SURVEY.md in place
    python3 tools/gate_inventory.py --print  # stdout only
"""
from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SURVEY = os.path.join(REPO, "SURVEY.md")


def build_table() -> str:
    sys.path.insert(0, REPO)
    import __spark_entry__ as entry

    qs = entry.queries()
    lines = [
        f"## 12. Gate inventory ({len(qs)} oracle gates)",
        "",
        "Every entry has BOTH a `queries()` callable and a full-value",
        "`oracle_sql()` twin (zero rows-only checks). Order = `queries()`",
        "order, which is frozen (new gates append at the end).",
        "First line of each gate's docstring (table generated by",
        "tools/gate_inventory.py):",
        "",
        "| # | Gate | What it pins |",
        "|---|---|---|",
    ]
    for i, (name, fn) in enumerate(qs.items(), 1):
        doc = (fn.__doc__ or "").strip().splitlines()
        first = doc[0].strip() if doc else ""
        first = first.replace("|", "\\|")
        lines.append(f"| {i} | `{name}` | {first} |")
    return "\n".join(lines) + "\n"


def main() -> int:
    table = build_table()
    if "--print" in sys.argv:
        print(table)
        return 0
    src = open(SURVEY).read()
    m = re.search(r"## 12\. Gate inventory.*?(?=\n## )", src, re.S)
    if not m:
        raise SystemExit("SURVEY.md §12 not found")
    open(SURVEY, "w").write(src[: m.start()] + table + src[m.end():])
    n = table.count("\n| ") - 1
    print(f"rewrote SURVEY.md §12 ({n} gates)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
