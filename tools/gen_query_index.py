"""Generate QUERIES.md: one row per battery entry in registry order, with
its driver-window position, implementation kind (shared SQL vs DataFrame
twin) and one-line description. Run after adding an entry:

    python tools/gen_query_index.py > QUERIES.md
"""
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sparkcrawl.queries import REGISTRY, driver_window_order  # noqa: E402


def main() -> None:
    pos = {n: i for i, n in enumerate(driver_window_order())}
    print("# Query battery index (generated by tools/gen_query_index.py)")
    print()
    print(f"{len(REGISTRY)} entries, in registry order. The driver's "
          "CORRECTNESS gate checks the first 50 of `queries()`, which "
          "orders the registry from the `CORRECTNESS_r*.json` records "
          "(`sparkcrawl.queries.driver_window_order`); the window column is "
          "that position when this file was generated. `twin` = hand-built "
          "DataFrame plan (persisted index / cached sketch / streaming "
          "gate); `sql` = the shared dialect-parameterized SQL runs on both "
          "engines. Every entry has a DuckDB oracle.")
    print()
    print("| # | entry | window | kind | what |")
    print("| --- | --- | --- | --- | --- |")
    for i, (name, q) in enumerate(REGISTRY.items()):
        win = pos[name] if pos[name] < 50 else "overflow"
        kind = "sql" if q.twin is None else "twin"
        print(f"| {i} | `{name}` | {win} | {kind} | {q.what} |")


if __name__ == "__main__":
    main()
