"""dbdiffspark benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload loop_jdbc_churn --seed 1 --seconds 20 --trace 0

Builds the program from source (perfbench/build.py), prepares the seeded
fixtures under .bench_out/, runs the harness JVM (perfbench/src) and
prints summary lines, then as the last line one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`. `--trace 0` reports the
end-to-end metrics, `--trace 1` the per-layer ones. The full artifact of
the run goes to .bench_out/runs/. README.md in this directory lists the
workloads and metrics.

Extra modes: `--smoke` runs the workload at sf0.001 for one cold and one
warm round (see smoke.py); `--build-expected` rebuilds the registry's
expected-output file and cross-checks it against the DuckDB oracle SQL.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_out")
sys.path.insert(0, HERE)
import build  # noqa: E402  (perfbench/build.py)
import gen  # noqa: E402  (perfbench/gen.py)

# One registry query per operator module, plus the session artifact
# DedupQueries.simhashPairs with one of its consumers: whichever of
# dedup_simhash_pairs / dedup_edit_distance comes first in the seeded order
# builds the pairs, the other reads them, and every pass builds them
# again. Picked from a profile of all 114 SparkEntry.benchQueries at
# sf0.001 (README.md) for cheap queries, so that one cold and two warm
# passes fit in a run. dedup_simhash_pairs and render_html_customer (the
# one RenderQueries entry) are registry queries outside benchQueries.
REGISTRY_QUERIES = [
    "diff_lineitem", "q1_pricing_summary", "events_asof_join", "text_heavy_hitters",
    "dedup_simhash_pairs", "dedup_edit_distance", "ann_cosine_topk", "mm_decode_features",
    "render_html_customer", "sketch_hll_sources", "pipeline_pack_sequences",
    "er_blocked_matches",
]

WORKLOADS = {
    "loop_jdbc_churn": dict(sf=0.001, tables=["lineitem"],
                            min_rounds=5, max_rounds=12, setup_reps=4),
    "registry": dict(sf=0.001, min_rounds=3, max_rounds=8, setup_reps=7),
}
JVM_OPENS = ["java.base/" + p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "jdk.internal.ref",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
RUN_LIMIT_S = 170
# reported beside the end-to-end metrics: the rounds that include the cold
# first one, whose CPU time follows the host too much for a bound, and the
# wall-clock times
ALSO = ["first_iter_cpu_s", "pass_cpu_s", "setup_wall_s", "first_iter_s", "iter_s", "pass_s",
        "query_p50_s"]


def metric_names(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return [m["name"] for m in json.load(f)["per_layer" if trace else "end_to_end"]]


def prepare(args, spec, work):
    """Fixtures (not metrics). Returns the config entries they add."""
    sf = 0.001 if args.smoke else spec["sf"]
    lake = os.path.join(OUT, "fixtures", f"lake_sf{sf}")
    gen.lake(lake, sf)
    cfg = {"lake": lake, "probe_dir": lake}
    if args.workload == "loop_jdbc_churn":
        cfg["derby"] = gen.derby_fixture(lake, os.path.join(work, "derby_csv"), spec["tables"])
    if args.workload == "registry":
        cfg["queries"] = REGISTRY_QUERIES
        exp = os.path.join(HERE, "expected", f"registry_sf{sf}.json")
        if args.build_expected:
            cfg["expected_out"] = exp
            cfg["dump_dir"] = os.path.join(work, "dump")
        else:
            with open(exp) as f:
                cfg["expected"] = json.load(f)
    return cfg


def run_jvm(classes, work, cfg_path, log_path, deadline):
    cp = os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")])
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-Xmx2g", "-Xss8m"] +
           [a for p in JVM_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")] +
           ["-Djava.io.tmpdir=" + tmp, "-Dspark.local.dir=" + os.path.join(tmp, "spark"),
            "-Dspark.sql.warehouse.dir=" + os.path.join(tmp, "warehouse"),
            "-Dderby.stream.error.file=" + os.path.join(tmp, "derby.log"),
            # Canon.hash renders timestamps in the JVM's zone
            "-Duser.timezone=UTC",
            "-cp", cp, "perfbench.PerfBench", cfg_path])
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=ROOT,
                             start_new_session=True)
        try:
            return p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]


def canon(v):
    if v is None:
        return "<None>"
    if isinstance(v, float):
        return "NaN" if v != v else repr(v)
    if isinstance(v, list):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def table_of(rel):
    """Columns sorted by name, rows canonicalized to strings and sorted."""
    cols = rel.columns
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = sorted(tuple(canon(r[i]) for i in order) for r in rel.fetchall())
    return [cols[i] for i in order], rows


def cross_check_oracle(cfg, expected_path):
    """--build-expected: the engine's result of every registry query must
    equal DuckDB running SparkEntry.oracleSql on the same lake."""
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{cfg['lake']}/{t}.parquet')")
    with open(os.path.join(cfg["dump_dir"], "oracle_sql.json")) as f:
        oracle = json.load(f)
    with open(expected_path) as f:
        expected = json.load(f)
    bad = []
    for q in sorted(expected):
        if q not in oracle:
            expected[q]["oracle_checked"] = False
            continue
        got = table_of(con.sql(f"SELECT * FROM read_parquet('{cfg['dump_dir']}/{q}/*.parquet')"))
        want = table_of(con.sql(oracle[q]))
        expected[q]["oracle_checked"] = got == want
        if got != want:
            bad.append(q)
    with open(expected_path, "w") as f:
        json.dump(expected, f, indent=2, sort_keys=True)
        f.write("\n")
    return bad


def chunks(prefix, metrics, limit=1800):
    """Summary lines of at most `limit` characters."""
    line, out = {}, []
    for k, v in metrics.items():
        trial = dict(line, **{k: v})
        if line and len(prefix) + len(json.dumps(trial)) + 1 > limit:
            out.append(prefix + " " + json.dumps(line))
            trial = {k: v}
        line = trial
    if line:
        out.append(prefix + " " + json.dumps(line))
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--build-expected", action="store_true")
    args = ap.parse_args()
    os.chdir(ROOT)

    classes = build.build()
    started = time.time()  # the first run in a checkout also builds, outside the limit
    spec = WORKLOADS[args.workload]
    work = os.path.join(OUT, "work", f"{args.workload}_{args.seed}_{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    prep0 = time.time()
    cfg = prepare(args, spec, work)
    prep_s = time.time() - prep0

    # traced runs alternate warm rounds without and with the listeners: U T U ...
    min_rounds = max(spec["min_rounds"], 4) if args.trace else spec["min_rounds"]
    runs_dir = os.path.join(OUT, "runs")
    os.makedirs(runs_dir, exist_ok=True)
    artifact = os.path.join(runs_dir, f"{args.workload}_s{args.seed}_t{args.trace}.json")
    cfg.update({
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": 0 if args.smoke else args.seconds,
        "cpus": str(os.cpu_count()), "setup_reps": spec["setup_reps"],
        "min_rounds": 2 + args.trace if args.smoke else min_rounds,
        "max_rounds": 2 + args.trace if args.smoke else spec["max_rounds"],
        "work": work, "out": artifact,
    })
    cfg_path = os.path.join(work, "config.json")
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)
    log_path = os.path.join(work, "jvm.log")
    if os.path.exists(artifact):
        os.remove(artifact)
    code = run_jvm(classes, work, cfg_path, log_path, started + RUN_LIMIT_S)
    shutil.copy(log_path, artifact[:-len(".json")] + ".log")
    if code != 0 or not os.path.exists(artifact):
        with open(log_path, errors="replace") as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"perfbench: harness {'timed out' if code is None else f'exited {code}'}")

    with open(artifact) as f:
        art = json.load(f)
    if args.build_expected:
        bad = cross_check_oracle(cfg, cfg["expected_out"])
        print(f"perfbench: expected file written, oracle mismatches: {bad}")
    shutil.rmtree(work, ignore_errors=True)  # inputs, pins, reports, feed
    art.update({"nproc": os.cpu_count(), "fixture_prep_s": prep_s + art["fixture_s"],
                "load_avg": os.getloadavg(), "seconds": args.seconds,
                "failed_frac": art["failed"] / max(1, art["attempted"])})
    with open(artifact, "w") as f:
        json.dump(art, f, indent=1)

    names = metric_names(args.trace)
    missing = [n for n in names if n not in art["metrics"]]
    if missing:
        raise SystemExit(f"perfbench: metrics not emitted: {missing}")
    metrics = {n: {"value": art["metrics"][n]["value"], "unit": art["metrics"][n]["unit"]}
               for n in names}
    print(f"perfbench workload={args.workload} seed={args.seed} trace={args.trace} "
          f"attempted={art['attempted']} failed={art['failed']} "
          f"failed_frac={art['failed_frac']:.4f} fixture_prep_s={art['fixture_prep_s']:.2f} "
          f"rounds={len(art['rounds'])} artifact={os.path.relpath(artifact, ROOT)}")
    for msg in art["failures"][:5]:
        print("perfbench failure: " + msg[:1700])
    also = {} if args.trace else {n: art["metrics"][n]["value"] for n in ALSO}
    for line in chunks("perfbench also", also) + chunks(
            "perfbench metrics", {n: art["metrics"][n]["value"] for n in names}):
        print(line)
    print(json.dumps({"correct": art["failed"] == 0, "attempted": art["attempted"],
                      "failed": art["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
