"""Generate QUERIES.md: one row per registered query — position, name, oracle
status, and the first docstring line of its builder.  Run after editing the
registry so the index stays current:

    python tools/gen_query_index.py > QUERIES.md
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from basin_climbing_data_pipeline_spark.registry import REGISTRY

    print("# Query index")
    print()
    print(
        "Auto-generated by `tools/gen_query_index.py` — one row per"
        " registered query, in the registry's definition order."
    )
    print()
    print("| # | query | oracle | summary |")
    print("|---|---|---|---|")
    for i, (name, (fn, sql)) in enumerate(REGISTRY.items(), start=1):
        inner = getattr(fn, "__wrapped__", fn)
        doc = (inner.__doc__ or "").strip().splitlines()
        first = doc[0].strip() if doc else ""
        # keep the table readable
        if len(first) > 110:
            first = first[:107] + "..."
        first = first.replace("|", "\\|")
        oracle = "sql" if sql else "rows-only"
        print(f"| {i} | `{name}` | {oracle} | {first} |")


if __name__ == "__main__":
    main()
