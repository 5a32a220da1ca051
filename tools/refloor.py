#!/usr/bin/env python3
"""Regenerate BASELINE_floors.json from bench per_query lines (r18).

Floors = per-query MIN over the supplied clean honest-methodology
bench runs of the current code. Usage:

    python3 tools/refloor.py bench1.json bench2.json [...]

Writes BASELINE_floors.json at the root of this checkout (same format:
one sorted "name": seconds entry per declared query) and prints the
old/new sums.
"""
import json
import os
import sys

REPO = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..",
                    "BASELINE_floors.json")

def per_query(path):
    with open(path) as f:
        for line in f:
            line = line.strip()
            if not line:
                continue
            d = json.loads(line)
            if d.get("metric") == "per_query":
                return d["queries"]
    raise SystemExit(f"no per_query line in {path}")

def main():
    runs = [per_query(p) for p in sys.argv[1:]]
    if not runs:
        raise SystemExit("usage: refloor.py bench1.json [bench2.json ...]")
    names = set()
    for r in runs:
        names.update(r)
    floors = {}
    for n in sorted(names):
        vals = [r[n] for r in runs if n in r and r[n] > 0]
        if not vals:
            raise SystemExit(f"no positive timing for {n}")
        floors[n] = round(min(vals), 3)
    try:
        old = json.load(open(REPO))
        print(f"old: {len(old)} entries, sum {sum(old.values()):.1f}")
    except FileNotFoundError:
        pass
    body = ",\n".join(f' "{k}": {v}' for k, v in sorted(floors.items()))
    with open(REPO, "w") as f:
        f.write("{\n" + body + "\n}\n")
    print(f"new: {len(floors)} entries, sum {sum(floors.values()):.1f}")

if __name__ == "__main__":
    main()
