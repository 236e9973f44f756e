#!/usr/bin/env python3
"""Compare two `graft.ExplainAudit` plan dumps query by query, operator tree only.

Usage:
    python3 tools/plan_diff.py OLD_PLANS.txt NEW_PLANS.txt

A dump is ExplainAudit's stdout: one `========== <query> ==========`
section per query, each a formatted physical plan. The compare keeps only
the operator trees (the main plan and each subquery's): operator names,
join types, join strategies and build sides, and every Exchange, with
the operator ids dropped. The per-operator detail blocks (attribute
names, expressions, scan paths) are left out, so a refactor that renames
a projected column but plans the same operators reads as `same`; a plain
`diff` of the two dumps shows those details.

Prints one line per query (`same`, `differ`, `added` or `removed`), a
unified diff of the operator trees under each `differ` line, and a
summary. Exits 1 on any difference, 0 when every query is `same`.

Standard library only.
"""
import difflib
import re
import sys

_SECTION = re.compile(r"^========== (\S+) ==========$", re.M)
_NODE_ID = re.compile(r"\s*\(\d+\)$")


def sections(path):
    with open(path, encoding="utf-8") as f:
        parts = _SECTION.split(f.read())
    return {parts[i]: parts[i + 1] for i in range(1, len(parts), 2)}


def operator_tree(plan):
    """The tree lines of the plan and its subqueries, without operator ids.

    A tree starts on the `== Physical Plan ==` line or a `Subquery:N`
    heading and runs to the next blank line; the detail blocks after it
    start with `(N) Operator` and are skipped.
    """
    out, in_tree = [], False
    for line in plan.splitlines():
        if line.startswith("== Physical Plan ==") or line.startswith("Subquery:"):
            in_tree = True
            out.append(line.split(" Hosting")[0])
        elif not line.strip():
            in_tree = False
        elif in_tree:
            out.append(_NODE_ID.sub("", line.rstrip()))
    return out


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        return 2
    old, new = sections(argv[1]), sections(argv[2])
    counts = {"same": 0, "differ": 0, "added": 0, "removed": 0}
    for name in sorted(old.keys() | new.keys()):
        if name not in new:
            status = "removed"
        elif name not in old:
            status = "added"
        else:
            a, b = operator_tree(old[name]), operator_tree(new[name])
            status = "same" if a == b else "differ"
        counts[status] += 1
        print(f"{status} {name}")
        if status == "differ":
            for line in difflib.unified_diff(a, b, "old", "new", lineterm="", n=1):
                print("    " + line)
    print(", ".join(f"{n} {k}" for k, n in counts.items()))
    return 0 if counts["same"] == len(old.keys() | new.keys()) else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv))
