"""The benchmark's own test: every workload at sf0.001, one cold and one
warm round, untraced and traced. Asserts that each run exits 0, that its
output checks pass, and that it emits every metric BENCHMARK.json names.

    python3 perfbench/smoke.py [workload ...]
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = sys.argv[1:] or [w["name"] for w in bench["workloads"]]
    failed = []
    for w in workloads:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                "--seed", "1", "--seconds", "0", "--trace", str(trace), "--smoke"],
                               cwd=ROOT, capture_output=True, text=True)
            last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
            try:
                res = json.loads(last)
            except ValueError:
                res = None
            want = [m["name"] for m in bench[key]]
            problems = []
            if p.returncode != 0 or res is None:
                problems.append(f"exit {p.returncode}: {p.stderr[-1500:]}")
            else:
                if set(res) != {"correct", "attempted", "failed", "metrics"}:
                    problems.append(f"result keys {sorted(res)}")
                if not res.get("correct") or res.get("failed") != 0:
                    problems.append("output checks failed: " + p.stdout[-1500:])
                missing = [n for n in want if n not in res.get("metrics", {})]
                if missing:
                    problems.append(f"metrics missing: {missing}")
            status = "ok" if not problems else "FAIL " + "; ".join(problems)
            print(f"smoke {w} trace={trace}: {status}", flush=True)
            if problems:
                failed.append((w, trace))
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
