#!/usr/bin/env python3
"""Same-host benchmark of the extraction engine and its dedup/graph queries.

Run from the root of a checkout:

    python3 perfbench/run.py --workload extract_mixed --seed 1 --seconds 10 --trace 0

The first run builds the program and the benchmark from source with sbt
(outputs under .bench_build/perfbench) and generates the extraction doc
pools; each run cuts its seeded input out of a pool. One JVM runs the workload at
local[4]; this script checks query results against their DuckDB oracle
twins, prints a readable summary, and prints one JSON object as the last
line of stdout. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("extract_mixed", "query_pairs")
HEAP = "3g"
JAVA_OPTS = [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + [
    x for p in ["java.base/java.lang", "java.base/java.lang.invoke",
                "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
                "java.base/java.nio", "java.base/java.util",
                "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
                "java.base/sun.nio.ch", "java.base/sun.nio.cs",
                "java.base/sun.security.action", "java.base/sun.util.calendar"]
    for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
DEADLINE_S = 170.0  # a run's budget after the build (the first build may take longer)
RUN_START = time.monotonic()


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


# ---------------------------------------------------------------- build

def source_stamp():
    h = hashlib.sha256()
    paths = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "scala"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in paths:
        files = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles program + benchmark when the sources changed; returns the classpath."""
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp_file = os.path.join(WORK, "build.stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(WORK, exist_ok=True)
    log("building program and benchmark (sbt compile)")
    t0 = time.monotonic()
    env = dict(os.environ)
    if "SPARK_HOME" not in env and shutil.which("spark-submit"):
        # the Spark install whose jars/ the program builds against
        env["SPARK_HOME"] = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=850)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail("build failed")
    lines = [l.strip() for l in r.stdout.splitlines()
             if os.pathsep in l and "classes" in l and not l.startswith("[")]
    if not lines:
        sys.stderr.write(r.stdout[-4000:])
        fail("build printed no classpath")
    cp = lines[-1]
    java(cp, ["oracles", os.path.join(WORK, "oracle_sql.json")], timeout=120)
    with open(cp_file, "w") as f:
        f.write(cp + "\n")
    with open(stamp_file, "w") as f:
        f.write(stamp + "\n")
    log(f"built in {time.monotonic() - t0:.0f} s")
    return cp


def java(cp, args, timeout, run_dir=WORK):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    cmd = ["java"] + JAVA_OPTS + [f"-Djava.io.tmpdir={tmp}", "-cp", cp, "perfbench.Main"] + args
    r = subprocess.run(cmd, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=timeout)
    for line in r.stdout.splitlines():
        if line.startswith("[perfbench]") or r.returncode != 0:
            print(line, file=sys.stderr)
    if r.returncode != 0:
        fail(f"JVM exited with {r.returncode}: perfbench.Main {args[0]}")


def remaining():
    return max(5.0, DEADLINE_S - (time.monotonic() - RUN_START))


# ---------------------------------------------------------------- query inputs

VOCAB = ["a", "the", "data", "spark", "line", "column", "order", "small", "big", "sort",
         "fast", "slow", "value", "scan", "hash", "group", "batch", "agg", "filter",
         "vector", "query", "table", "stream", "merge", "join", "row", "key", "window",
         "customer", "part", "plan"]
LANGS = ["en", "en", "en", "zh", "de", "fr", "es"]
CONTENT_SEED = 42
SIZES = {"full": 300, "tiny": 120}  # documents


def gen_query_tables(seed, size, out):
    """documents(doc_id, text, lang, source, n_chars). The content is
    fixed; the seed permutes row order, so the answers stay the same."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    n_docs = SIZES[size]
    rng = np.random.default_rng(CONTENT_SEED)
    texts = []
    for i in range(n_docs):
        words = [VOCAB[j] for j in rng.integers(0, len(VOCAB), int(rng.integers(7, 100)))]
        r = rng.random()
        if i > 0 and r < 0.01:  # exact duplicate of an earlier doc
            words = texts[int(rng.integers(0, i))].split(" ")
        elif i > 0 and r < 0.04:  # shares a long span with an earlier doc
            src = texts[int(rng.integers(0, i))].split(" ")
            if len(src) > 25:
                s = int(rng.integers(0, len(src) - 20))
                words = words[:5] + src[s:s + 20] + words[5:]
        texts.append(" ".join(words))
    langs = [LANGS[int(x)] for x in rng.integers(0, len(LANGS), n_docs)]
    order = np.random.default_rng(seed).permutation(n_docs)
    docs = pa.table({
        "doc_id": pa.array(order, pa.int64()),
        "text": pa.array([texts[i] for i in order]),
        "lang": pa.array([langs[i] for i in order]),
        "source": pa.array([f"src{i % 20}" for i in order]),
        "n_chars": pa.array([len(texts[i]) for i in order], pa.int64()),
    })
    pq.write_table(docs, os.path.join(out, "documents.parquet"))


def norm(v):
    if isinstance(v, float) and v.is_integer():
        return int(v)
    return v


def table_hash(rows, cols):
    """Order-insensitive hash of a result (the tools/check_oracles.py rule)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = sorted(tuple(repr(norm(r[i])) for i in order) for r in rows)
    h = hashlib.md5()
    for row in canon:
        h.update("\x1f".join(row).encode())
        h.update(b"\x1e")
    return h.hexdigest()


def duck(data_dir):
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET enable_progress_bar = false")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{data_dir}/documents.parquet')")
    return con


def oracle_answers(data_dir):
    with open(os.path.join(WORK, "oracle_sql.json")) as f:
        sql = json.load(f)
    con = duck(data_dir)
    out = {}
    for q, text in sql.items():
        cur = con.execute(text)
        cols = [c[0] for c in cur.description]
        rows = cur.fetchall()
        out[q] = {"cols": sorted(cols), "rows": len(rows), "hash": table_hash(rows, cols)}
    return out


def read_meta(d):
    with open(os.path.join(d, "meta.txt")) as f:
        return dict(l.rstrip("\n").split("=", 1) for l in f if "=" in l)


def write_parts(table, d, parts):
    """Writes `table` as `parts` files of contiguous rows, like a Spark sink,
    so the scan splits into several tasks."""
    import pyarrow.parquet as pq
    os.makedirs(d)
    n = table.num_rows
    for i in range(parts):
        lo, hi = n * i // parts, n * (i + 1) // parts
        pq.write_table(table.slice(lo, hi - lo), os.path.join(d, f"part-{i:05d}.parquet"))


def cut_extract_input(cp, seed, size, out):
    """The seed picks a window of half the pool, a multiple of 10 docs in,
    so every window has the same kind mix; heavy-PDF page counts vary
    with the doc index."""
    import random
    import pyarrow.parquet as pq
    pool = os.path.join(WORK, "pool", f"extract-{size}")
    if not os.path.exists(os.path.join(pool, "_DONE")):
        log("generating the extraction doc pool (once per checkout)")
        java(cp, ["pool", size, pool], timeout=remaining())
    meta = read_meta(pool)
    n_pool = int(meta["pool_docs"])
    n = n_pool // 2
    start = random.Random(seed).randrange(0, (n_pool - n) // 10 + 1) * 10
    lo, hi = f"doc{start:08d}", f"doc{start + n:08d}"
    for name in ("interleaved_docs.parquet", "expected_docs.parquet"):
        window = pq.read_table(os.path.join(pool, name),
                               filters=[("doc_id", ">=", lo), ("doc_id", "<", hi)])
        window = window.sort_by("doc_id")
        assert window.num_rows == n, (name, window.num_rows)
        write_parts(window, os.path.join(out, name), 16)
    shutil.copy(os.path.join(pool, "giant.b64"), out)
    with open(os.path.join(out, "meta.txt"), "w") as f:
        f.write(f"docs={n}\nwindow_start={start}\ngiant_pages={meta['giant_pages']}\n"
                f"giant_lines={meta['giant_lines']}\n")


def prepare_inputs(cp, workload, seed, size, run_dir):
    """Writes this run's input to <run_dir>/input/<workload>; returns the
    oracle answers for a query workload."""
    out = os.path.join(run_dir, "input", workload)
    os.makedirs(os.path.dirname(out), exist_ok=True)
    if workload == "extract_mixed":
        cut_extract_input(cp, seed, size, out)
        return None
    os.makedirs(out)
    gen_query_tables(seed, size, out)
    # the answers depend on the table content only, which the seed keeps
    cached = os.path.join(WORK, "pool", f"query-oracle-{size}.json")
    if not os.path.exists(cached):
        os.makedirs(os.path.dirname(cached), exist_ok=True)
        with open(cached + ".tmp", "w") as f:
            json.dump(oracle_answers(out), f)
        os.replace(cached + ".tmp", cached)
    with open(cached) as f:
        return json.load(f)


def check_queries(workload, rec, oracle, plant, run_dir):
    """Failed queries per checked pass: errors plus oracle mismatches."""
    import duckdb
    queries = sorted(oracle)
    if plant:
        oracle = dict(oracle, **{queries[0]: dict(oracle[queries[0]], hash="planted-wrong-golden")})
    out_base = os.path.join(run_dir, "sink", workload)
    con = duckdb.connect()
    failed = {}
    for s in rec["samples"]:
        p = str(s["pass"])
        bad = set(rec["failed_queries"].get(p, []))
        for q in queries:
            if q in bad:
                continue
            cur = con.execute(f"SELECT * FROM read_parquet('{out_base}/p{p}/{q}/*.parquet')")
            cols = [c[0] for c in cur.description]
            rows = cur.fetchall()
            exp = oracle[q]
            if sorted(cols) != exp["cols"] or len(rows) != exp["rows"] or \
                    table_hash(rows, cols) != exp["hash"]:
                log(f"pass {p}: {q} differs from its oracle "
                    f"(rows {len(rows)} vs {exp['rows']})")
                bad.add(q)
        failed[p] = len(bad)
    return failed


# ---------------------------------------------------------------- report

def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny: small inputs for the self-test")
    ap.add_argument("--plant-wrong-golden", action="store_true",
                    help="corrupt one golden answer, to prove the check can fail")
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("run from the root of a checkout of the program (no build.sbt / src/main/scala here)")
    cp = build()
    global RUN_START
    RUN_START = time.monotonic()
    # inputs, sinks and Spark scratch of this run live in one directory,
    # removed at the end, so runs never see each other's files
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        rec, oracle = measure(cp, a, run_dir)
        if oracle is not None:
            per_pass = check_queries(a.workload, rec, oracle, a.plant_wrong_golden, run_dir)
            for s in rec["samples"]:
                s["failed"] = per_pass[str(s["pass"])]
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    report(a, rec)


def measure(cp, a, run_dir):
    t0 = time.monotonic()
    oracle = prepare_inputs(cp, a.workload, a.seed, a.size, run_dir)
    log(f"inputs ready in {time.monotonic() - t0:.1f} s")
    rec_path = os.path.join(WORK, "runs", f"{a.workload}-s{a.seed}-t{a.trace}.json")
    if os.path.exists(rec_path):
        os.remove(rec_path)
    args = ["run", a.workload, str(a.seed), str(a.seconds), str(a.trace), a.size, run_dir, rec_path]
    if a.plant_wrong_golden:
        args.append("plant")
    t0 = time.monotonic()
    java(cp, args, timeout=remaining(), run_dir=run_dir)
    log(f"measuring JVM ran {time.monotonic() - t0:.1f} s")
    with open(rec_path) as f:
        return json.load(f), oracle


def report(a, rec):
    samples = rec["samples"]
    # the traced run's probes check operations of their own
    attempted = sum(s["attempted"] for s in samples) + rec["probe_attempted"]
    failed = sum(s["failed"] for s in samples) + rec["probe_failed"]
    timed = [s for s in samples if not s["traced"]]
    pass_s = [s["pass_s"] for s in timed]
    med = statistics.median(pass_s)
    e2e = {
        "setup_s": (statistics.median(rec["setup_s"]), "s"),
        "pass_s": (med, "s"),
        "cpu_s": (statistics.median(s["cpu_s"] for s in timed), "s"),
        "peak_rss_mb": (rec["peak_rss_mb"], "MB"),
    }
    docs = rec["docs_per_pass"]

    # readable summary: every sample kept, with its noise
    print(f"perfbench {a.workload} seed={a.seed} cores={rec['cores']} "
          f"timed_passes={len(timed)} ops_per_pass={rec['ops_per_pass']}")
    for s in samples:
        print(f"  pass {s['pass']:>3}: {s['pass_s']:.4f} s  cpu {s['cpu_s']:.3f} s  "
              f"steal {s['steal_pct']:.2f}%  ambient {s['ambient_pct']:.2f}%  "
              f"failed {s['failed']}/{s['attempted']}" + ("  traced" if s["traced"] else ""))
    print(f"  {'setup_s':<12} {e2e['setup_s'][0]:.4f} s   (median of {len(rec['setup_s'])} set-ups)")
    print(f"  {'pass_s':<12} {med:.4f} s   (median of {len(pass_s)}; highest, p100: {max(pass_s):.4f} s)")
    if docs:
        print(f"  {'docs_per_s':<12} {docs / med:.1f} 1/s ({docs} docs per pass)")
    print(f"  {'cpu_s':<12} {e2e['cpu_s'][0]:.3f} s")
    print(f"  {'peak_rss_mb':<12} {e2e['peak_rss_mb'][0]:.1f} MB")
    if rec["probe_attempted"]:
        print(f"  probes checked {rec['probe_attempted']} ops, {rec['probe_failed']} failed")
    print(f"  {'fail_frac':<12} {failed / attempted:.6f} ratio ({failed} of {attempted} ops)")

    if a.trace:
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in rec["per_layer"].items()}
        print(f"  spans: {rec['trace_file']}")
        for k, v in rec["per_layer"].items():
            print(f"  {k:<44} {v:.6g} {layer_unit(k)}")
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


def layer_unit(name):
    """Unit of a per-layer metric, from its name's suffix."""
    if name.startswith("self_s.") or name.endswith(".s"):
        return "s"
    for suffix, unit in (("_s", "s"), ("_ms", "ms"), ("_us", "us"), ("_mb", "MB"),
                         ("_pct", "%"), ("_frac", "ratio"), ("_ratio", "ratio"),
                         ("_1_4", "ratio"), ("_drained", "bool")):
        if name.endswith(suffix):
            return unit
    if name.startswith("engine.us_per_doc."):
        return "us"
    if name.startswith("engine.alloc_kb_per_doc."):
        return "KB"
    return "count"


if __name__ == "__main__":
    main()
