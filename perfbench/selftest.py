#!/usr/bin/env python3
"""Self-test of the benchmark at tiny sizes (a few minutes on four cores).

    python3 perfbench/selftest.py

Run from the repository root. Checks that:
  - every end-to-end metric of BENCHMARK.json appears with its unit on each
    workload, and every per-layer metric in a traced run;
  - a deliberately corrupted result (one top-k row dropped) fails its check,
    makes the command exit 1 and raises failed_share;
"""
import json
import subprocess
import sys

failures = []


def run(workload, trace=0, corrupt=None):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), "--size", "tiny"]
    if corrupt:
        cmd += ["--corrupt", corrupt]
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if len(lines) < 2:
        failures.append(f"{' '.join(cmd[1:])}: no result (exit {p.returncode})\n{p.stderr[-2000:]}")
        return p.returncode, None, None
    report = json.loads(lines[-2][lines[-2].index("{"):])
    return p.returncode, report, json.loads(lines[-1])


def expect(cond, msg):
    print(("ok   " if cond else "FAIL ") + msg)
    if not cond:
        failures.append(msg)


def has_all(result, specs, what):
    missing = [m["name"] for m in specs
               if result is None or result["metrics"].get(m["name"], {}).get("unit") != m["unit"]]
    expect(not missing, f"{what}: every metric with its unit" +
           (f" (missing {missing[:5]})" if missing else ""))


def main():
    spec = json.load(open("BENCHMARK.json"))
    for w in [w["name"] for w in spec["workloads"]]:
        code, _, res = run(w)
        expect(code == 0 and res is not None and res["correct"], f"{w}: correct, exit 0")
        has_all(res, spec["end_to_end"], f"{w} end-to-end")
        if res:
            expect(all(v["value"] > 0 for v in res["metrics"].values()), f"{w}: end-to-end values > 0")
    code, _, res = run("corpus_prep", trace=1)
    expect(code == 0 and res is not None and res["correct"], "corpus_prep traced: correct, exit 0")
    has_all(res, spec["per_layer"], "corpus_prep traced per-layer")

    code, report, res = run("forecast_eval", corrupt="topk")
    expect(code == 1, f"corrupted top-k: exit 1 (got {code})")
    expect(res is not None and not res["correct"] and res["failed"] >= 1,
           "corrupted top-k: correct false, failed >= 1")
    expect(report is not None and report["failed_share"]["value"] > 0,
           "corrupted top-k: failed_share > 0")

    if failures:
        print(f"{len(failures)} self-test failure(s)", file=sys.stderr)
        sys.exit(1)
    print("self-test passed")


if __name__ == "__main__":
    main()
