#!/usr/bin/env python3
"""Compare two graft.tools.PlanDump output directories.

Usage: python3 tools/plandiff.py <beforeDir> <afterDir>

For every <query>.txt in either directory, strips the per-run expression
ids (`#123`) and plan ids (`plan_id=45`) from both sides and prints a
unified diff when the plans still differ. A query dumped on only one side
counts as a difference. Exits 1 on any difference, 0 when every plan
matches, so a refactor that claims "identical plans" can be checked with
one command.
"""
import difflib
import os
import re
import sys

VOLATILE = re.compile(r"#\d+|plan_id=\d+")


def plans(d):
    return {f[:-4] for f in os.listdir(d) if f.endswith(".txt")}


def load(d, name):
    with open(os.path.join(d, name + ".txt")) as fh:
        return [VOLATILE.sub("", line) for line in fh.read().splitlines()]


def main(argv):
    if len(argv) != 3:
        sys.exit(__doc__)
    before, after = argv[1], argv[2]
    b, a = plans(before), plans(after)
    differ = 0
    for name in sorted(b | a):
        if name not in a or name not in b:
            print(f"{name}: only in {before if name in b else after}")
            differ += 1
            continue
        diff = list(difflib.unified_diff(
            load(before, name), load(after, name),
            f"{before}/{name}.txt", f"{after}/{name}.txt", lineterm=""))
        if diff:
            print("\n".join(diff))
            differ += 1
        else:
            print(f"{name}: identical")
    print(f"{differ} of {len(b | a)} plans differ")
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
