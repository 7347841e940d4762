"""Two sets of benchmark runs on one commit, side by side.

    python3 perfbench/compare.py [--runs 10] [--workloads a,b] [--record FILE]

For each workload, runs perfbench/run.py --trace 0 `--runs` times per set
(two sets; every run its own seed), then prints, for every end-to-end
metric the runs report (BENCHMARK.json's gated set plus the detail-line
figures workloads.json bounds, e.g. serve_mixed's read/write latencies, and
failed_frac): each set's median and quartiles, the quartile spread as a
share of the median, and the drift of set 2's median from set 1's, both
against the metric's bound. With --record, the runs are written as a baseline JSON together with
nproc, the load average at start and end, and the JDK and Spark versions.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)



def one_run(workload, seed, seconds, trace=0):
    t0 = time.time()
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                        "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True, timeout=900)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"{workload} seed {seed} failed:\n{r.stderr[-3000:]}")
    return json.loads(lines[-2]), json.loads(lines[-1]), time.time() - t0


def spread(vals):
    q1, q2, q3 = statistics.quantiles(vals, n=4)
    med = statistics.median(vals)
    return med, q1, q3, (q3 - q1) / med if med else 0.0


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--seed0", type=int, default=1000)
    ap.add_argument("--record")
    a = ap.parse_args()
    # the detail-line figures BENCHMARK.json cannot gate (not every workload
    # has them) carry their bounds in workloads.json
    with open(os.path.join(HERE, "workloads.json")) as f:
        extra = {w: v.get("detail_metrics", {}) for w, v in json.load(f)["workloads"].items()}
    gated = {m["name"]: m for m in spec["end_to_end"]}
    workloads = a.workloads.split(",")

    load0 = os.getloadavg()
    sets = {w: [[], []] for w in workloads}
    env = {}
    for s in range(2):
        for w in workloads:
            for i in range(a.runs):
                seed = a.seed0 + 1000 * s + i
                detail, result, wall = one_run(w, seed, spec["run_seconds"])
                env = detail["env"]
                sets[w][s].append({"seed": seed, "correct": result["correct"],
                                   "attempted": result["attempted"],
                                   "failed": result["failed"], "run_wall_s": wall,
                                   "detail": detail["detail"]})
                print(f"set {s + 1} {w} seed {seed}: correct={result['correct']} "
                      f"failed={result['failed']}/{result['attempted']} {wall:.1f} s",
                      file=sys.stderr, flush=True)
    load1 = os.getloadavg()

    ok_all = True
    print(f"{'workload':14} {'metric':22} {'unit':6} {'set1 median [q1,q3]':>30} "
          f"{'spread':>7} {'set2 median [q1,q3]':>30} {'spread':>7} {'drift':>7} "
          f"{'bound':>6}  verdict")
    for w in workloads:
        specs = {**gated, **extra[w]}
        names = [n for n in sets[w][0][0]["detail"] if n in specs or n == "failed_frac"]
        for n in names:
            unit = sets[w][0][0]["detail"][n]["unit"]
            v1 = [r["detail"][n]["value"] for r in sets[w][0]]
            v2 = [r["detail"][n]["value"] for r in sets[w][1]]
            if n == "failed_frac":
                ok = max(v1 + v2) == 0
                print(f"{w:14} {n:22} {unit:6} {'max ' + str(max(v1)):>30} {'':>7} "
                      f"{'max ' + str(max(v2)):>30}  {'':>24}  {'ok' if ok else 'FAIL'}")
                ok_all &= ok
                continue
            m1, a1, b1, s1 = spread(v1)
            m2, a2, b2, s2 = spread(v2)
            worse = (m1 - m2) if specs[n]["better"] == "higher" else (m2 - m1)
            drift = worse / m1 if m1 else 0.0
            bound = specs[n]["bound"]
            ok = drift <= bound and s1 <= bound and s2 <= bound
            ok_all &= ok
            print(f"{w:14} {n:22} {unit:6} {f'{m1:.4g} [{a1:.4g},{b1:.4g}]':>30} {s1:7.3f} "
                  f"{f'{m2:.4g} [{a2:.4g},{b2:.4g}]':>30} {s2:7.3f} {drift:7.3f} {bound:6.2f}  "
                  f"{'ok' if ok else 'FAIL'}")
    for w in workloads:
        walls = [r["run_wall_s"] for s in sets[w] for r in s]
        print(f"{w}: mean run wall {statistics.mean(walls):.1f} s over {len(walls)} runs")
    print(f"nproc={env.get('nproc')} loadavg start={load0} end={load1} "
          f"java={env.get('java_version')} spark={env.get('spark_version')}")
    if a.record:
        with open(a.record, "w") as f:
            json.dump({"recorded": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
                       "runs_per_set": a.runs, "run_seconds": spec["run_seconds"],
                       "nproc": env.get("nproc"), "loadavg_start": load0,
                       "loadavg_end": load1, "java_version": env.get("java_version"),
                       "spark_version": env.get("spark_version"),
                       "storage_memory_bytes": env.get("storage_memory_bytes"),
                       "all_within_bounds": ok_all, "sets": sets}, f, indent=1)
    sys.exit(0 if ok_all else 1)


if __name__ == "__main__":
    main()
