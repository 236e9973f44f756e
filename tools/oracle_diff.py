#!/usr/bin/env python3
"""Compare two oracle_sql.json dumps (written by `graft.Verify`) query by query.

Usage:
    python3 tools/oracle_diff.py OLD/oracle_sql.json NEW/oracle_sql.json

Each query's SQL has its runs of whitespace collapsed to one space before
the compare, so re-indenting an oracle or moving a fragment into a shared
helper reads as `same`. Prints one line per query (`same`, `changed`,
`added` or `removed`), a unified diff under each `changed` line (one
clause per line, split before SQL keywords and after commas), and a
summary. Exits 1 on any difference, 0 when every query is `same`.

Standard library only.
"""
import difflib
import json
import re
import sys

# Diff granularity: the collapsed SQL is one long line, so split it before
# common clause keywords and after commas to make a change readable.
_BREAK = re.compile(r"(?<=,) |(?= (?:WITH|SELECT|FROM|WHERE|GROUP BY|ORDER BY|"
                    r"UNION|JOIN|LEFT JOIN|HAVING|WINDOW|QUALIFY) )")


def collapse(sql):
    return re.sub(r"\s+", " ", sql).strip()


def clauses(sql):
    return [part.strip() for part in _BREAK.split(sql)]


def load(path):
    with open(path, encoding="utf-8") as f:
        return {name: collapse(sql) for name, sql in json.load(f).items()}


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    old, new = load(argv[1]), load(argv[2])
    counts = {"same": 0, "changed": 0, "added": 0, "removed": 0}
    for name in sorted(old.keys() | new.keys()):
        if name not in new:
            status = "removed"
        elif name not in old:
            status = "added"
        elif old[name] == new[name]:
            status = "same"
        else:
            status = "changed"
        counts[status] += 1
        print(f"{status} {name}")
        if status == "changed":
            diff = difflib.unified_diff(clauses(old[name]), clauses(new[name]),
                                        fromfile=f"{argv[1]}:{name}",
                                        tofile=f"{argv[2]}:{name}", lineterm="")
            for line in diff:
                print("    " + line)
    print(", ".join(f"{n} {k}" for k, n in counts.items()))
    return 0 if counts["same"] == len(old.keys() | new.keys()) else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv))
