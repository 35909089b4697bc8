#!/usr/bin/env python3
"""Render a CROSSOVER_r*.json as the markdown table ARCHITECTURE.md's
"The crossover, measured" section carries, so the table is regenerated
from the committed artifact rather than transcribed.

Usage: python3 tools/crossover_table.py [CROSSOVER_rN.json]
Without an argument it renders the newest round in the repo root
(numeric round order, as duck_bench.crossover_candidates sorts it).
Prints the table to stdout; paste over the one in ARCHITECTURE.md.
"""
import json, os, sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from duck_bench import crossover_candidates

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main(argv):
    if argv:
        path = argv[0]
    else:
        arts = crossover_candidates(os.listdir(ROOT))
        if not arts:
            sys.exit(f"no CROSSOVER_r*.json in {ROOT}")
        path = os.path.join(ROOT, arts[0])
    cx = json.load(open(path))
    factors = cx["factors"]
    print(f"<!-- generated by tools/crossover_table.py from "
          f"{os.path.basename(path)} (head {cx['head']}) -->")
    print("| query (Spark s / DuckDB s / ratio) | " +
          " | ".join(f"{f}×" for f in factors) + " |")
    print("|---|" + "---|" * len(factors))
    for n, row in cx["queries"].items():
        cells = []
        for f in factors:
            r = row.get(f"x{f}")
            if r is None:
                cells.append("— (failed/absent)")
                continue
            ratio = r["ratio"]
            bold = "**" if ratio is not None and ratio <= 1.0 else ""
            cells.append(f"{r['spark_sec']} / {r['duck_sec']} / "
                         f"{bold}{ratio}×{bold}")
        print(f"| {n} | " + " | ".join(cells) + " |")


if __name__ == "__main__":
    main(sys.argv[1:])
