#!/usr/bin/env python3
"""Generate docs/QUERY_INDEX.md: one row per registered query — defining
module, oracle kind, and the first docstring line — so a reviewer can map
the coverage inventory (SURVEY.md §2 / README families) to code
mechanically.

Usage: python tools/query_index.py [--out docs/QUERY_INDEX.md]
"""

from __future__ import annotations

import argparse
import inspect
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    import __spark_entry__ as entry

    qs = entry.queries()
    oracles = entry.oracle_sql()
    rows = []
    for name, fn in qs.items():
        src = os.path.relpath(inspect.getsourcefile(fn), REPO)
        line = inspect.getsourcelines(fn)[1]
        doc = (inspect.getdoc(fn) or "").split("\n")[0].rstrip() or "—"
        kind = "value-hash" if name in oracles else "none"
        rows.append((name, f"{src}:{line}", kind, doc))

    out = [
        f"# Query index — {len(rows)} registered queries\n\n",
        "Generated by `tools/query_index.py`. Oracle kind 'value-hash' means\n"
        "`tests/test_oracle.py` compares row count, Arrow dtypes and\n"
        "order-insensitive values against the paired DuckDB SQL; 'none'\n"
        "would mark a query without one, which that test fails.\n\n",
        "| query | defined at | oracle | summary |\n|---|---|---|---|\n",
    ]
    for name, loc, kind, doc in rows:
        doc = doc.replace("|", "\\|")
        out.append(f"| {name} | {loc} | {kind} | {doc} |\n")
    text = "".join(out)
    if args.out:
        with open(args.out, "w") as f:
            f.write(text)
        print(f"wrote {args.out} ({len(rows)} queries)")
    else:
        print(text)


if __name__ == "__main__":
    main()
