"""End-to-end benchmark of the reference ETL and of corpus curation.

    python3 e2ebench/run.py --workload etl_cold --seed 1 --seconds 20 --trace 0

Run from the repository root. The first run builds the engine and this
harness from source with sbt (into e2ebench/target); later runs reuse the
build while the sources are unchanged. Inputs are generated from --seed
into .bench_work/ and the program receives only those files.

Workloads (each a closed loop with one client: a pass starts when the
previous one ends):
  etl_cold         EtlRunner.run for creditos then radicados into an
                   empty modeled dir (the first load)
  etl_incremental  the same two runs against the published snapshot 1,
                   restored before each pass (audit log + merge)
  curate           exact dedup -> MinHash pairs -> clusters -> quality
                   and token scoring -> parquet, over a 30k-doc corpus

--trace 0 prints the end-to-end metrics; --trace 1 runs traced passes
(connector decorators, staged per-layer spans, a Spark listener) and
prints the per-layer metrics. The last stdout line is one JSON object.
Each run is one fresh JVM, so set-up is measured once per run.
"""
import argparse
import datetime
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

CPUS = 4
HEAP = "2g"
NEAR_RECALL_FLOOR = 0.95
PUBLISHED_SEED = 0
# Checks that fail at the parent commit because of a known program
# defect: P8 renders creditos dates as yyyy-MM-dd strings
# (Pipelines.scala:71) and castByDictionary parses them with dd/MM/yyyy
# (DictionaryOps.scala:39-41), which nulls every creditos Timestamp
# column. They still run and are reported by name and in checks_failed;
# only `correct` does not depend on them.
KNOWN_DEFECT = {"creditos_dates", "creditos_authlog", "creditos_merge_values"}

JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg):
    print("e2ebench: " + msg, file=sys.stderr)
    sys.exit(2)


# ---------------------------------------------------------------- build
def _sources_digest(root):
    h = hashlib.sha256()
    for base in (os.path.join(root, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")):
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for p in paths:
            st = os.stat(p)
            h.update(("%s %d %d\n" % (p, st.st_size, st.st_mtime_ns)).encode())
    return h.hexdigest()


def build(root):
    """Compiles the engine and the harness; returns the runtime classpath."""
    stamp = os.path.join(HERE, "target", "e2ebench.classpath")
    digest = _sources_digest(root)
    if os.path.isfile(stamp):
        with open(stamp) as f:
            saved, cp = f.read().split("\n", 1)
        if saved == digest:
            return cp.strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g")
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       stdin=subprocess.DEVNULL, text=True, timeout=840)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "e2ebench" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    with open(stamp, "w") as f:
        f.write(digest + "\n" + cp)
    return cp


# --------------------------------------------------------------- checks
def _rows(path):
    import pyarrow.parquet as pq
    return pq.read_table(path).to_pylist()


def _day(v):
    """A modeled date cell (timestamp, or its stringified form after a
    merge) as a date."""
    if v is None:
        return None
    if isinstance(v, datetime.datetime):
        return v.date()
    return datetime.date.fromisoformat(str(v)[:10])


def _close(a, b):
    return a is not None and b is not None and abs(float(a) - float(b)) <= 1e-9 * max(1.0, abs(b))


def etl_checks(truth, modeled, incremental):
    import gen
    snap = truth["snap2" if incremental else "snap1"]
    out = {}
    got = {e: _rows(os.path.join(modeled, e)) for e in ("creditos", "radicados")}
    for e, pk in (("creditos", "Crédito"), ("radicados", "Radicado")):
        want = {r[pk] for r in snap[e]}
        have = [str(r[pk]) for r in got[e]]
        out[e + "_rows"] = len(have) == len(want) and set(have) == want
    by_rad = {str(r["Radicado"]): r for r in got["radicados"]}
    out["radicados_grupo_destino"] = all(
        by_rad.get(r["Radicado"], {}).get("grupo_destino", "missing") == gen.grupo_destino(r["Destino"])
        for r in snap["radicados"])
    by_cred = {str(r["Crédito"]): r for r in got["creditos"]}
    ok = True
    for r in snap["creditos"]:
        m = by_cred.get(r["Crédito"])
        for c in gen.CREDITOS_DATES:
            d = gen.parse_p3(r[c])
            if d is not None and (m is None or _day(m.get(c)) != d):
                ok = False
    out["creditos_dates"] = ok
    if incremental:
        prev = truth["snap1"]
        for e, pk, audit in (("creditos", "Crédito", gen.CREDITOS_AUDIT),
                             ("radicados", "Radicado", gen.RADICADOS_AUDIT)):
            typed = gen.creditos_typed if e == "creditos" else (lambda c, v: v or None)
            old = {r[pk]: r for r in prev[e]}
            want = set()
            for r in snap[e]:
                o = old.get(r[pk])
                if o is not None and any(
                        typed(c, o[c]) is not None and typed(c, r[c]) is not None
                        and typed(c, o[c]) != typed(c, r[c]) for c in audit):
                    want.add(r[pk])
            log = _rows(os.path.join(modeled, e + "_authlog"))
            have = [str(x[pk]) for x in log]
            out[e + "_authlog"] = len(have) == len(want) and set(have) == want
            rows = by_cred if e == "creditos" else by_rad
            ok = True
            for r in snap[e]:
                if r[pk] not in snap[e + "_modified"]:
                    continue
                m = rows.get(r[pk], {})
                for c in audit:
                    w = typed(c, r[c])
                    v = m.get(c)
                    if c in gen.CREDITOS_DATES:
                        good = _day(v) == w
                    elif isinstance(w, float):
                        good = _close(v, w)
                    else:
                        good = (v or None) == w
                    ok = ok and good
            out[e + "_merge_values"] = ok
    return out


def curate_checks(truth, work):
    out = {}
    clusters = _rows(os.path.join(work, "curated", "clusters"))
    ids = [r["doc_id"] for r in clusters]
    out["curate_exact_dups"] = len(ids) == len(truth["survivors"]) and set(ids) == truth["survivors"]
    cl = {r["doc_id"]: r["cluster_id"] for r in clusters}
    hit = sum(1 for a, b in truth["near_pairs"] if a in cl and cl.get(a) == cl.get(b))
    out["curate_near_recall"] = hit / max(1, len(truth["near_pairs"])) >= NEAR_RECALL_FLOOR
    docs = _rows(os.path.join(work, "curated", "docs"))
    out["curate_docs_canonical"] = len(docs) > 0 and all(cl.get(r["doc_id"]) == r["doc_id"] for r in docs)
    return out


def pair_metrics(truth, work):
    """Traced run only: how much of the MinHash candidate volume is useful."""
    pairs = _rows(os.path.join(work, "trace_pairs"))
    root = truth["cluster"]
    useful = sum(1 for p in pairs if root[p["doc_a"]] == root[p["doc_b"]])
    got = {(p["doc_a"], p["doc_b"]) for p in pairs}
    recall = sum(1 for p in truth["near_pairs"] if p in got) / max(1, len(truth["near_pairs"]))
    return {"dedup.useful_pair_ratio": useful / max(1, len(pairs)), "dedup.planted_recall": recall}


# ------------------------------------------------------------------ run
def publish(cp, root, work):
    """The snapshot-1 publication etl_incremental refreshes, made by an
    earlier load in its own process and cached per build and generator."""
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        key = hashlib.sha256((cp + _sources_digest(root)).encode() + f.read()).hexdigest()[:16]
    base = os.path.join(root, ".bench_work")
    path = os.path.join(base, "published-" + key)
    if not os.path.isdir(path):
        for d in os.listdir(base):
            if d.startswith("published-"):
                shutil.rmtree(os.path.join(base, d))
        run_jvm(cp, "publish", work, 0, 0, 0, None, ["--pristine", path + ".tmp"])
        os.rename(path + ".tmp", path)
    return path


def run_jvm(cp, workload, work, seconds, trace, raw_bytes, out, extra=()):
    cmd = ["java"] + [x for p in JAVA_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] + [
        "-Xms" + HEAP, "-Xmx" + HEAP, "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        "-cp", cp, "e2ebench.Main", "--workload", workload, "--work", work,
        "--seconds", str(seconds), "--trace", str(trace), "--cpus", str(CPUS),
        "--raw-bytes", str(raw_bytes), "--out", str(out)] + list(extra)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "tmp"))
    with open(os.path.join(work, "jvm.log"), "ab") as log:
        p = subprocess.run(cmd, stdout=log, stderr=log, stdin=subprocess.DEVNULL, env=env,
                           timeout=170)
    if p.returncode != 0 or (out and not os.path.isfile(out)):
        with open(os.path.join(work, "jvm.log"), errors="replace") as f:
            sys.stderr.write(f.read()[-4000:])
        fail("benchmark JVM failed (exit %d)" % p.returncode)
    if out:
        with open(out) as f:
            return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["etl_cold", "etl_incremental", "curate"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "src", "main", "scala", "graft", "etl", "EtlRunner.scala")):
        fail("run from the repository root: the engine sources are not here")
    import gen  # needs pyarrow; imported after the root check

    cp = build(root)
    work = os.path.join(root, ".bench_work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    pristine = None
    if a.workload == "curate":
        truth = gen.generate_corpus(a.seed, work)
        raw_files, input_rows = [truth["file"]], truth["docs"]
    else:
        incremental = a.workload == "etl_incremental"
        # The refresh applies a seeded churn to one fixed snapshot 1, whose
        # publication is loaded once per build and kept between runs.
        truth = gen.generate_etl(PUBLISHED_SEED if incremental else a.seed, a.seed, work)
        snap = truth["snap2" if incremental else "snap1"]
        raw_files = snap["files"]
        input_rows = len(snap["creditos"]) + len(snap["radicados"])
        if incremental:
            pristine = publish(cp, root, work)
    raw_bytes = sum(os.path.getsize(f) for f in raw_files)

    r = run_jvm(cp, a.workload, work, a.seconds, a.trace, raw_bytes,
                os.path.join(work, "result.json"), ["--pristine", pristine] if pristine else [])
    if a.workload == "curate":
        checks = curate_checks(truth, work)
    else:
        checks = etl_checks(truth, os.path.join(work, "modeled"), a.workload == "etl_incremental")

    for e in r["errors"]:
        print("pass error: " + e)
    if not r["pass_s"]:
        fail("no timed pass succeeded")
    checks_failed = sorted(k for k, v in checks.items() if not v)
    pass_s = statistics.median(r["pass_s"])
    e2e = {
        "setup_s": (r["setup_s"], "s"),
        "pass_s": (pass_s, "s"),
        "rows_per_s": (input_rows / pass_s, "rows/s"),
        "stored_bytes_ratio": (r["stored_bytes"] / raw_bytes, "ratio"),
        # Spark keeps per-query state between passes, so the heap grows with
        # the pass count; sample at fixed pass positions, not over the run
        "retained_heap_mb": (statistics.median(r["heap_mb"][:3]), "MB"),
    }
    print("workload %s  seed %d  input %d rows, %.1f MB  timed passes %d" % (
        a.workload, a.seed, input_rows, raw_bytes / 1e6, len(r["pass_s"])))
    for k, v in sorted(checks.items()):
        note = "  (known defect)" if not v and k in KNOWN_DEFECT else ""
        print("check %-28s %s%s" % (k, "ok" if v else "FAILED", note))
    if a.trace == 0:
        for k, (v, u) in e2e.items():
            print("%-22s %14.6g %s" % (k, v, u))
        print("%-22s %14.6g %s" % ("failed_ratio", r["failed"] / r["attempted"], "ratio"))
        print("%-22s %14d %s" % ("checks_failed", len(checks_failed), "count"))
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    else:
        layers = dict(r["layers"])
        layers.update(pair_metrics(truth, work) if a.workload == "curate"
                      else {"dedup.useful_pair_ratio": 0.0, "dedup.planted_recall": 0.0})
        layers["trace.untraced_pass_s"] = pass_s
        layers["trace.overhead_s"] = statistics.median(r["traced_pass_s"]) - pass_s
        with open(os.path.join(work, "trace.json"), "w") as f:
            json.dump({"layers": layers, "spans": r["spans"]}, f)
        for k in sorted(layers):
            print("%-32s %14.6g" % (k, layers[k]))
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            units = json.load(f)["per_layer"]
        metrics = {m["name"]: {"value": layers.get(m["name"], 0.0), "unit": m["unit"]} for m in units}
    print(json.dumps({"correct": not (set(checks_failed) - KNOWN_DEFECT), "attempted": r["attempted"],
                      "failed": r["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
