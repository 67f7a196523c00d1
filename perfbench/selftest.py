#!/usr/bin/env python3
"""Self-test of the benchmark. Run from the root of a checkout:

    python3 perfbench/selftest.py

For every workload in BENCHMARK.json it runs a tiny size for one timed
pass, untraced and traced, and checks that the run is correct and that
the metric names (and units) it prints are exactly the ones BENCHMARK.json
lists. Then it plants a wrong golden answer in one extraction and one
query workload and checks that the run reports failed operations, which
proves the correctness check can fail. Exits 1 on any failure.
"""
import json
import os
import subprocess
import sys

ROOT = os.getcwd()
RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")


def run(workload, trace, plant=False):
    cmd = [sys.executable, RUN, "--workload", workload, "--seed", "1", "--seconds", "0",
           "--trace", str(trace), "--size", "tiny"]
    if plant:
        cmd.append("--plant-wrong-golden")
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True, timeout=600)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stderr[-3000:])
        return None
    return json.loads(lines[-1])


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        contract = json.load(f)
    problems = []

    def expect(ok, what):
        print(("ok   " if ok else "FAIL ") + what, flush=True)
        if not ok:
            problems.append(what)

    for wl in (w["name"] for w in contract["workloads"]):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            res = run(wl, trace)
            tag = f"{wl} --trace {trace}"
            expect(res is not None, f"{tag}: printed a result")
            if res is None:
                continue
            expect(res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1,
                   f"{tag}: correct, {res['failed']} of {res['attempted']} ops failed")
            want = {m["name"]: m["unit"] for m in contract[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            expect(set(got) - set(want) == set(),
                   f"{tag}: every printed metric is in BENCHMARK.json {key} "
                   f"(extra: {sorted(set(got) - set(want))})")
            expect(set(want) - set(got) == set(),
                   f"{tag}: every BENCHMARK.json {key} metric is printed "
                   f"(missing: {sorted(set(want) - set(got))})")
            expect(all(got[k] == want[k] for k in set(got) & set(want)),
                   f"{tag}: units match BENCHMARK.json")
            expect(all(isinstance(v["value"], (int, float)) for v in res["metrics"].values()),
                   f"{tag}: every value is a number")

    for wl in ("extract_mixed", "query_pairs"):
        res = run(wl, 0, plant=True)
        ok = res is not None and res["failed"] > 0 and res["correct"] is False
        expect(ok, f"{wl}: a planted wrong golden answer drives fail_frac above 0 "
                   f"({res and res['failed']} of {res and res['attempted']} ops failed)")

    print(f"\n{len(problems)} problem(s)")
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
