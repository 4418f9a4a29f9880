"""Generate docs/OPERATORS.md from the live registry: one row per
registered query (name, gate type, first docstring sentence) grouped by
module. Run from the repo root after adding operators:

    python tools/gen_catalog.py
"""

from __future__ import annotations

import collections
import inspect
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bacalhau_spark import registry


def main() -> None:
    lines = [
        "# Operator catalog",
        "",
        "Generated from `bacalhau_spark.registry` (tools/gen_catalog.py). One",
        "row per registered query: the Spark implementation and its DuckDB",
        "oracle live side by side in the named module; `oracle` means the",
        "driver hash-compares values against DuckDB at sf0.01, `approx` means",
        "a tolerance/recall pytest gate (by design: sketches and ANN).",
        "",
    ]
    by_mod = collections.defaultdict(list)
    for name, (fn, sql) in registry.ALL_QUERIES.items():
        mod = fn.__module__.replace("bacalhau_spark.", "")
        raw = inspect.getdoc(fn) or ""
        # first SENTENCE: split on period-followed-by-whitespace/eol, not
        # any period (decimals like 'cos >= 0.4' must survive)
        doc = re.split(r"\.(?:\s|$)", raw, maxsplit=1)[0]
        doc = " ".join(doc.split())
        if len(doc) > 160:
            doc = doc[:157] + "..."
        by_mod[mod].append((name, "oracle" if sql else "approx", doc))
    for mod in sorted(by_mod):
        lines += [f"## {mod}", "", "| query | gate | what |", "|---|---|---|"]
        for name, gate, doc in sorted(by_mod[mod]):
            lines.append(f"| `{name}` | {gate} | {doc} |")
        lines.append("")
    out = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "docs", "OPERATORS.md")
    with open(out, "w") as f:
        f.write("\n".join(lines))
    print(f"wrote {out}: {len(registry.ALL_QUERIES)} queries")


if __name__ == "__main__":
    main()
