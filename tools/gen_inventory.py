"""Generate QUERIES.md — the registry inventory (one row per oracle-paired
query, in registration order) so SURVEY §2 coverage can be checked line by
line. Run:

    python tools/gen_inventory.py        # writes QUERIES.md in place

Regenerate it whenever a query is registered, removed or re-documented.
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from postgresql_cdc_spark.plans import QUERIES  # noqa: E402


def module_of(q) -> str:
    fn = q.spark
    while hasattr(fn, "__wrapped__"):
        fn = fn.__wrapped__
    mod = getattr(fn, "__module__", "?")
    return mod.rsplit(".", 1)[-1]


def render() -> str:
    lines = [
        "# Query inventory",
        "",
        f"{len(QUERIES)} oracle-paired queries, in registration order (the "
        "order of the imports in `plans/__init__.py` and, within a module, "
        "of its `register` calls). Every entry pairs a Spark DataFrame "
        "builder with an ANSI-SQL DuckDB twin; the gate hash-compares values.",
        "",
        "| # | query | module | what it verifies |",
        "|---|---|---|---|",
    ]
    for i, (name, q) in enumerate(QUERIES.items(), 1):
        doc = " ".join((q.doc or "").split())
        lines.append(f"| {i} | `{name}` | {module_of(q)} | {doc} |")
    return "\n".join(lines) + "\n"


def main() -> int:
    path = os.path.join(ROOT, "QUERIES.md")
    with open(path, "w") as f:
        f.write(render())
    sys.stderr.write(f"wrote {path}\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
