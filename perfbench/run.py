#!/usr/bin/env python3
"""graft-bench: one workload, one run.

    python3 perfbench/run.py --workload analytic_reads --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository. It compiles the engine
and the harness (once per source change), runs the harness JVM over the
test tables in `perfbench/data/sf0.01` (the seed draws the query order and
the deploy schedule), checks every result, and prints a human-readable
report followed by one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end metrics; with `--trace 1`
the per-layer metrics derived from the spans of a traced run. See README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH_DIR)

from graftbench import build, env, oracle, spans, stats  # noqa: E402

WORKLOADS = ("analytic_reads", "dedup_similarity", "daily_deploy")
DATA_DIR = os.path.join(BENCH_DIR, "data", "sf0.01")
SETUP_PROBES = 1      # set-up-only JVMs per run; setup_s is the median with the run's own
# the end-to-end metrics BENCHMARK.json gates; the report prints more
GATED = ("setup_s", "pass_s", "query_geomean_s", "op_p50_s", "cold_s", "peak_heap_mb")
# deploy's end-to-end layout metrics, also reported by traced runs
WAREHOUSE_METRICS = {"warehouse.readback_s": "readback_s", "warehouse.stored_mb": "stored_mb"}
# a harness JVM's time limit: this allowance for start, warm-up and checks
# (the build runs before it), plus three times the measured seconds
JVM_ALLOWANCE_S = 120


def end_to_end(res):
    """{name: (value, unit, samples)} for every end-to-end metric."""
    timed = [o for o in res["ops"] if o["pass"] >= 0]
    walls = [o["wall_s"] for o in timed]
    by_name = {}
    for o in timed:
        by_name.setdefault(o["name"], []).append(o["wall_s"])
    p90, above = stats.percentile(walls, 90)
    passes = [p["wall_s"] for p in res["passes"]]
    m = {
        "setup_s": (stats.median(res["setup_s"]), "s", len(res["setup_s"])),
        "pass_s": (stats.median(passes), "s", len(passes)),
        "op_p50_s": (stats.median(walls), "s", len(walls)),
        "op_p90_s": (p90, "s", len(walls)),
        "query_geomean_s": (stats.geomean([stats.median(v) for v in by_name.values()]),
                            "s", len(by_name)),
        "cold_s": (res["cold_s"], "s", 1),
        "peak_heap_mb": (res["peak_heap_mb"], "MB", len(passes) + 1),
    }
    if "readback_s" in res:
        m["readback_s"] = (res["readback_s"], "s", 1)
        m["stored_mb"] = (res["stored_mb"], "MB", 1)
    return m, above


def verdicts(root, data_dir, res):
    """Mark each operation ok or failed; return (failed ops, check lines)."""
    lines = []
    bad_names = set()
    if "pins" in res:
        checked = oracle.check(root, data_dir, res["check_dir"], res["oracle_sql"])
        for name in sorted(res["pins"]):
            ok, msg = checked.get(name, (False, f"FAIL {name}: no oracle"))
            if res["pins"][name].startswith("error"):
                ok, msg = False, f"FAIL {name}: {res['pins'][name]}"
            if not ok:
                bad_names.add(name)
            lines.append(msg)
        for o in res["ops"]:
            if o["ok"] and o["digest"] != res["pins"].get(o["name"]):
                o["ok"] = False
                lines.append(f"FAIL {o['name']}: pass {o['pass']} digest {o['digest']} "
                             f"!= checked {res['pins'].get(o['name'])}")
    else:
        for table, c in sorted(res["table_checks"].items()):
            if c["ok"]:
                lines.append(f"OK   {table}: incremental == full refresh ({c['incremental']})")
            else:
                bad_names.add(table)
                lines.append(f"FAIL {table}: incremental {c['incremental']} "
                             f"!= full refresh {c['full_refresh']}")
    for o in res["ops"]:
        if o["name"] in bad_names:
            o["ok"] = False
        if not o["ok"] and o["error"]:
            lines.append(f"FAIL {o['name']} (pass {o['pass']}): {o['error']}")
    return sum(1 for o in res["ops"] if not o["ok"]), lines


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    if not os.path.exists(os.path.join(root, "src", "main", "scala", "graft", "Bench.scala")):
        print("perfbench: run from the root of a graft checkout (src/main/scala missing)",
              file=sys.stderr)
        return 2
    launch_load = os.getloadavg()[0]
    n_cores = env.cores()
    work_root = os.path.join(BENCH_DIR, ".work")
    data_dir = DATA_DIR
    classpath, jvm_extra = build.build(root, BENCH_DIR, data_dir)
    work = os.path.join(work_root, "run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")

    def harness(extra, timeout):
        cmd = (["java"] + build.jvm_args(work) + jvm_extra +
               ["-cp", classpath, "graft.perfbench.Main",
                "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--data", data_dir, "--work", work, "--out", out,
                "--cores", str(n_cores)] + extra)
        jvm_env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "tmp"))
        with open(os.path.join(work, "jvm.log"), "a") as log:
            proc = subprocess.Popen(cmd, cwd=work, env=jvm_env, stdout=log,
                                    stderr=subprocess.STDOUT)
            try:
                rc = proc.wait(timeout=timeout)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                rc = "timeout"
        if rc != 0 or not os.path.exists(out):
            print(f"perfbench: harness failed ({rc}); see {work}/jvm.log", file=sys.stderr)
            with open(os.path.join(work, "jvm.log")) as f:
                sys.stderr.write("".join(f.readlines()[-30:]))
            return None
        with open(out) as f:
            res = json.load(f)
        os.remove(out)
        return res

    t0 = time.time()
    with env.StealSampler() as sampler:
        # set-up samples, each from JVM start, before the measured JVM
        setups = []
        for _ in range(SETUP_PROBES):
            probe = harness(["--setup-only"], JVM_ALLOWANCE_S)
            if probe is None:
                return 1
            setups.append(probe["setup_s"])
        res = harness([], JVM_ALLOWANCE_S + 3 * a.seconds)
    if res is None:
        return 1
    res["setup_s"] = setups + [res["setup_s"]]

    drift = env.parity(root, n_cores, res["conf"])
    if drift:
        print(f"perfbench: session config differs from graft.Bench: {drift}", file=sys.stderr)
        return 3

    failed, check_lines = verdicts(root, data_dir, res)
    attempted = len(res["ops"])
    noisy = env.noise(launch_load, sampler.samples)

    print(f"graft-bench {a.workload} seed={a.seed} seconds={a.seconds} trace={a.trace}")
    print(f"  cores={n_cores} master={res['conf']['spark.master']} "
          f"spark={res['spark_version']} data={os.path.relpath(data_dir, root)} jvm_s={time.time() - t0:.1f}")
    print("  session: " + " ".join(f"{k}={v}" for k, v in sorted(res["conf"].items())))
    print(f"  session parity with graft.Bench: ok ({len(env.bench_config(root, n_cores))} keys)")
    print(f"  launch loadavg={launch_load:.2f} steal samples={sampler.samples}")
    print("  environment: " + ("NOISY - " + "; ".join(noisy) if noisy else "quiet"))
    for line in check_lines:
        if line.startswith("FAIL") or a.trace == 0:
            print("  " + line)

    if a.trace == 0:
        m, above = end_to_end(res)
        for k, (v, u, n) in m.items():
            note = f" ({above} above)" if k == "op_p90_s" else ""
            print(f"  {k:<18} {v:12.4f} {u:<5} n={n}{note}{'' if k in GATED else ' (not gated)'}")
        metrics = {k: {"value": m[k][0], "unit": m[k][1]} for k in GATED}
    else:
        layer = spans.layer_metrics(res, spans.load(res["spans_file"]), n_cores)
        for k, src in WAREHOUSE_METRICS.items():
            layer[k] = res.get(src, 0.0)
        for k, v in layer.items():
            print(f"  {k:<28} {v:12.4f}")
        print(f"  spans: {res['spans_file']}")
        metrics = {k: {"value": v, "unit": unit(k)} for k, v in layer.items()}
    print(f"  fail_ratio         {failed / attempted:.4f} ratio ({failed}/{attempted})")
    print(f"  verdict: {'CORRECT' if failed == 0 else 'WRONG RESULTS'}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


RATIOS = {"exec.core_util", "runtime.useful_write_ratio", "trace.coverage",
          "trace.overhead"}


def unit(name):
    if name in RATIOS:
        return "ratio"
    if name.endswith("_s"):
        return "s"
    if name.endswith("mb"):
        return "MB"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
