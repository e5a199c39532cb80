#!/usr/bin/env python3
"""Re-stamp the gates from fresh bench runs.

Per gate, the new stamp is the MEDIAN of (current stamp, run1 seconds,
run2 seconds, ...): where two fresh runs agree they outvote the old
stamp, where they disagree the old stamp mediates. A failed run's
9999 s penalty is not a sample. Rewrites each gate's `stampSec`
literal (`Gate("<name>", <stampSec>, ...`) in
src/main/scala/graft/SparkEntry.scala in place, prints each run's
total and load_ratio to stderr, so the stamp commit can record
reproducibility, and the BASELINE.md table rows to stdout.

Usage: python3 tools/restamp.py run1.json [run2.json ...]
Each file holds one Bench JSON line; text before its '{' is skipped.
"""
import json
import re
import statistics
import sys
from pathlib import Path

ENTRY = (Path(__file__).resolve().parent.parent
         / "src/main/scala/graft/SparkEntry.scala")
GATE = re.compile(r'^(    Gate\("([a-z0-9_]+)", )([0-9.]+),', re.M)
FAILED = 9999.0

runs = []
for p in sys.argv[1:]:
    s = open(p).read().strip()
    runs.append(json.loads(s[s.index('{'):]))
if not runs:
    sys.exit(__doc__)

src = ENTRY.read_text()
stamps = {m.group(2): float(m.group(3)) for m in GATE.finditer(src)}
names = sorted(set(stamps).intersection(*(r["queries"] for r in runs)))
new = {}
for q in names:
    fresh = [r["queries"][q] for r in runs if r["queries"][q] < FAILED]
    new[q] = round(statistics.median([stamps[q]] + fresh), 2)

ENTRY.write_text(GATE.sub(
    lambda m: f"{m.group(1)}{new.get(m.group(2), m.group(3))},", src))

for r in runs:
    print(f"# run: total={r['value']:.1f}s n={len(r['queries'])} "
          f"load_ratio={r['load_ratio']:.2f}", file=sys.stderr)
print(f"# re-stamped {len(new)} of {len(stamps)} gates; stamped total "
      f"{sum(new.values()):.1f}s", file=sys.stderr)
for q in names:
    print(f"| {q} | {new[q]} |  |")
