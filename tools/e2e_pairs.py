"""Alternating parent/change pairs of the end-to-end benchmark.

    python3 tools/e2e_pairs.py PARENT_DIR --workload etl_cold --seeds 31 32 33 \
        [--seconds 10]

PARENT_DIR is a checkout of the parent commit (make it with `git clone`
into a scratch dir); the change is the checkout that holds this script.
For each seed it runs
`python3 e2ebench/run.py --workload W --seed S --seconds N --trace 0` once
in each checkout, from that checkout's root, one run at a time; the
order flips on every pair (parent first on the 1st, 3rd, ... seed), so
drift on the box does not favour one side. Each checkout builds and
keeps its own e2ebench/target and .bench_work.

Prints one line per run (metrics, `correct`, `failed`, the FAILED
checks), then per end-to-end metric of BENCHMARK.json the median and
[q1, q3] of each side and how many pairs the change won, and
stored_bytes_ratio per seed. Standard library only.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def run_once(root, workload, seed, seconds):
    p = subprocess.run(
        [sys.executable, "e2ebench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=root, stdout=subprocess.PIPE, stderr=subprocess.PIPE, stdin=subprocess.DEVNULL,
        text=True, timeout=3600)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.stderr.write(p.stdout[-2000:] + p.stderr[-4000:])
        sys.exit("e2e_pairs: run failed in %s (seed %d)" % (root, seed))
    r = json.loads(lines[-1])
    r["checks_failed"] = [l.split()[1] for l in lines if l.startswith("check ") and "FAILED" in l]
    return r


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("parent", help="checkout of the parent commit")
    ap.add_argument("--workload", required=True, choices=["etl_cold", "etl_incremental", "curate"])
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--seconds", type=float, default=10)
    a = ap.parse_args()

    roots = {"parent": os.path.abspath(a.parent),
             "change": os.path.dirname(os.path.dirname(os.path.abspath(__file__)))}
    with open(os.path.join(roots["change"], "BENCHMARK.json")) as f:
        e2e = json.load(f)["end_to_end"]

    runs = {"parent": [], "change": []}
    for i, seed in enumerate(a.seeds):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            r = run_once(roots[side], a.workload, seed, a.seconds)
            runs[side].append(r)
            print("%-6s seed %-4d %s  correct %s  failed %d/%d  checks FAILED: %s" % (
                side, seed, "  ".join("%s %.6g" % (m["name"], r["metrics"][m["name"]]["value"])
                                      for m in e2e),
                r["correct"], r["failed"], r["attempted"], ",".join(r["checks_failed"]) or "-"),
                flush=True)

    print("\n%s, %d pairs, seeds %s" % (a.workload, len(a.seeds), " ".join(map(str, a.seeds))))
    for m in e2e:
        vals = {s: [r["metrics"][m["name"]]["value"] for r in runs[s]] for s in runs}
        sign = 1 if m["better"] == "higher" else -1
        wins = sum(sign * (c - p) > 0 for p, c in zip(vals["parent"], vals["change"]))
        cells = []
        for s in ("parent", "change"):
            q1, q3 = quartiles(vals[s])
            cells.append("%s %.6g [%.6g, %.6g]" % (s, statistics.median(vals[s]), q1, q3))
        print("%-20s %s  change better %d/%d (bound %s)" % (
            m["name"], "  ".join(cells), wins, len(a.seeds), m["bound"]))
    print("stored_bytes_ratio per seed (parent -> change):")
    for seed, p, c in zip(a.seeds, runs["parent"], runs["change"]):
        pv, cv = (r["metrics"]["stored_bytes_ratio"]["value"] for r in (p, c))
        print("  seed %-4d %.8g -> %.8g%s" % (seed, pv, cv, "" if pv == cv else "  (differs)"))


if __name__ == "__main__":
    main()
