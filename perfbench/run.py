"""End-to-end benchmark of graft: one seeded workload, one run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds graft and the harness from source (perfbench/build.py), generates the
workload's inputs from the seed (perfbench/gen.py), runs the harness JVM on
local[nproc], checks every timed operation's output (in the JVM, and here
against the DuckDB twin in perfbench/twin.py), and prints as its last line
one JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are BENCHMARK.json's end_to_end set; with --trace 1
its per_layer set, from a run whose operations alternate untraced/traced.
The line before it carries every figure of the run, named and with units.
Work files live under .perfbench/ in the checkout; spans of a traced run
are kept in .perfbench/spans/.
"""
import argparse
import glob
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import twin  # noqa: E402

# serve_mixed: requests of each kind in one block of the fixed mix (its job_s)
BLOCK = gen.serve_block_counts()

JVM_TIMEOUT_S = 150  # the harness is killed past this


def median(xs):
    xs = [x for x in xs if x is not None and not (isinstance(x, float) and math.isnan(x))]
    return statistics.median(xs) if xs else 0.0


def percentile(xs, p):
    """Nearest-rank percentile."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    return xs[min(len(xs) - 1, max(0, math.ceil(p / 100.0 * len(xs)) - 1))]


def run_jvm(java, workload, data, out, seconds, trace, nproc):
    local = os.path.join(out, "spark-local")
    os.makedirs(local, exist_ok=True)
    cmd = java + ["perfbench.Main",
                  "--workload", workload, "--data", data, "--out", out,
                  "--seconds", str(seconds), "--trace", str(trace),
                  "--nproc", str(nproc),
                  "--local-dir", local,
                  "--launch-ms", str(int(time.time() * 1000))]
    log = open(os.path.join(out, "jvm.log"), "w")
    p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                         cwd=out, start_new_session=True)
    try:
        rc = p.wait(timeout=JVM_TIMEOUT_S)
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    finally:
        log.close()
        logs = os.path.join(ROOT, ".perfbench", "logs")
        os.makedirs(logs, exist_ok=True)
        shutil.copy(os.path.join(out, "jvm.log"),
                    os.path.join(logs, f"{workload}.log"))
    if rc != 0:
        with open(os.path.join(out, "jvm.log")) as f:
            tail = f.read()[-6000:]
        raise RuntimeError(f"harness exited {rc}:\n{tail}")
    with open(os.path.join(out, "ops.jsonl")) as f:
        ops = [json.loads(l) for l in f if l.strip()]
    with open(os.path.join(out, "run.json")) as f:
        run = json.load(f)
    return ops, run


# ---- output checks against the twins ---------------------------------------

def close(a, b, rel=1e-9, abs_=0.0):
    if a is None or b is None:
        return a is None and b is None
    return abs(a - b) <= max(abs_, rel * max(abs(a), abs(b)))


def check_etl(ops, data):
    exp = twin.etl(data)
    for o in ops:
        f = o["fields"]
        got = twin.etl_output(f["out_dir"])
        state_ok = len(got["state"]) == len(exp["state"]) and all(
            g[0] == e[0] and g[1] == e[1] and g[3] == e[3]
            and close(g[2], e[2]) and close(g[4], e[4], abs_=0.0051)
            for g, e in zip(got["state"], exp["state"]))
        nn_ok = all(f["non_null"].get(k) == v for k, v in exp["non_null"].items())
        o["ok"] = (o["ok"] and got["fact"] == exp["fact"] and state_ok
                   and got["metrics"] == exp["metrics"]
                   and f["dup_groups"] == exp["dup_groups"] and nn_ok)
    return exp


def check_text(ops, data):
    exp = twin.text(data)
    first = ops[0]["fields"]
    counted = (first["n_nonempty"] == exp["nonempty"]
               and first["n_gate"] == exp["quality_gate"]
               and first["n_exact"] == exp["unique_text"])
    written = [twin.shards(o["fields"]["out_dir"]) for o in ops]
    for o, w in zip(ops, written):  # every job writes the first job's id set
        o["ok"] = (o["ok"] and counted and w["rows"] > 0 and w["rows"] == w["distinct"]
                   and w["tokens"] == w["end"] and w["ids_md5"] == written[0]["ids_md5"])
    return exp


def same_rows(got, exp):
    """Row lists equal up to order, doubles to 1e-9 relative."""
    key = lambda r: tuple("" if v is None else str(v) if isinstance(v, str) else "%.6g" % v
                          for v in r)
    got, exp = sorted(got, key=key), sorted(exp, key=key)
    return len(got) == len(exp) and all(
        len(g) == len(e) and all(
            close(a, b) if isinstance(a, float) or isinstance(b, float) else a == b
            for a, b in zip(g, e))
        for g, e in zip(got, exp))


def check_serve(ops, data, out, run):
    with open(os.path.join(data, "requests.json")) as f:
        requests = json.load(f)
    batches = [os.path.join(data, "batches", b)
               for b in sorted(os.listdir(os.path.join(data, "batches")))]
    service = [o for o in ops if "rows" in o["fields"]]
    expected = twin.serve_reads(data, [(requests[o["fields"]["request_index"]],
                                        o["fields"]["batches"]) for o in service], batches)
    for o, exp in zip(service, expected):
        o["ok"] = o["ok"] and same_rows(o["fields"]["rows"], exp)
    for o in ops:  # after each write, the target held every key landed so far
        if o["kind"] == "write":
            o["ok"] = o["ok"] and twin.target_keys_match(
                o["fields"]["target_listing"], batches[:o["fields"]["batch"] + 1])
    target = glob.glob(os.path.join(out, "serve", "target", "*.parquet"))
    ok = twin.target_keys_match(target, batches[:run["summary"]["batches_landed"]])
    if not ok:
        for o in ops:
            if o["kind"] == "write":
                o["ok"] = False
    return {"target_keys_match": ok,
            "service_reads_checked": len(service)}


# ---- metrics ---------------------------------------------------------------

def end_to_end(workload, ops, run):
    good = [o for o in ops if o["ok"] and not o["traced"]]
    s = run["summary"]
    m = {"setup_s": (run["setup_s"], "s"),
         "peak_rss_mb": (run["peak_rss_mb"], "MB"),
         "out_bytes_per_in_byte": (s["out_bytes"] / max(1, s["in_bytes"]), "ratio")}
    if workload == "serve_mixed":
        # one block of the mix at each request kind's median: every request
        # of the run counts, and a burst of load on the host moves only the
        # few requests it overlaps
        def kind(o):
            return o["fields"].get("request", o["kind"]) if o["kind"] == "read" else "write"
        for name, key in (("job_s", "wall_s"), ("job_cpu_s", "cpu_s")):
            m[name] = (sum(n * median([o[key] for o in good if kind(o) == k])
                           for k, n in BLOCK.items()), "s")
        reads = [o["wall_s"] * 1e3 for o in good if o["kind"] == "read"]
        writes = [o["wall_s"] * 1e3 for o in good if o["kind"] == "write"]
        m["read_p50_ms"] = (median(reads), "ms")
        m["read_p90_ms"] = (percentile(reads, 90), "ms")
        m["write_p50_ms"] = (median(writes), "ms")
        waits = {}
        for o in good:
            if o["fields"].get("interaction", -1) >= 0:
                waits.setdefault(o["fields"]["interaction"], []).append(o["wall_s"] * 1e3)
        m["interaction_p50_ms"] = (median([sum(w) for w in waits.values()
                                           if len(w) == len(gen.INTERACTION_KINDS)]), "ms")
        m["serve_ops_per_s"] = (len(good) / max(1e-9, sum(o["wall_s"] for o in good)), "1/s")
        m["reads"] = (len(reads), "count")
        m["reads_beyond_p90"] = (sum(1 for r in reads if r > m["read_p90_ms"][0]), "count")
        m["writes"] = (len(writes), "count")
    else:
        m["job_s"] = (median([o["wall_s"] for o in good]), "s")
        m["job_cpu_s"] = (median([o["cpu_s"] for o in good]), "s")
        m["jobs"] = (len(good), "count")
    return m


SPAN_MEASURES = {"s": "self_s", "cpu_s": "cpu_s", "gc_s": "gc_s",
                 "shuffle_bytes": "shuffle_bytes", "spill_bytes": "spill_bytes",
                 "input_bytes": "input_bytes", "rows_out": "rows_out",
                 "jobs": "jobs", "tasks": "tasks"}


def per_layer(workload, ops, run, names):
    traced = [o for o in ops if o["ok"] and o["traced"]]
    plain = [o for o in ops if o["ok"] and not o["traced"]]
    extras = run["trace_extras"]

    def lay(o, span, key):
        return o["layers"].get(span, {}).get(key, 0)

    def over(fn, pool=traced):
        return median([fn(o) for o in pool]) if pool else 0.0

    def total(o, key):
        return sum(v[key] for v in o["layers"].values())

    def frac(a, b):
        return a / b if b else 0.0

    kind = "read" if workload == "serve_mixed" else "job"
    tk = [o for o in traced if o["kind"] == kind]
    pk = [o for o in plain if o["kind"] == kind]
    writes = [o for o in traced if o["kind"] == "write"]
    special = {
        "core.plan_s": lambda: over(lambda o: total(o, "plan_s"), tk),
        "core.jobs": lambda: over(lambda o: total(o, "jobs"), tk),
        "core.tasks": lambda: over(lambda o: total(o, "tasks"), tk),
        "core.gc_s": lambda: over(lambda o: o["gc_s"], tk),
        "core.pin_jobs": lambda: over(lambda o: total(o, "pin_jobs"), tk),
        "core.pin_bytes": lambda: over(lambda o: total(o, "pin_bytes"), tk),
        "metrics.join_keep_frac": lambda: extras.get("metrics.join_keep_frac", 0.0),
        "metrics.publish.bytes": lambda: extras.get("metrics.publish.bytes", 0),
        # the first job reports the non-empty count the gate's input had
        "ops.gate.keep_frac": lambda: over(lambda o: frac(
            lay(o, "ops.gate", "rows_out"), ops[0]["fields"].get("n_nonempty", 0))),
        "ops.exact.unique_frac": lambda: over(lambda o: frac(
            lay(o, "ops.exact", "rows_out"), lay(o, "ops.gate", "rows_out"))),
        "ops.fuzzy.verified_per_candidate":
            lambda: extras.get("ops.fuzzy.verified_per_candidate", 0.0),
        "ops.shard_write.bytes": lambda: over(lambda o: o["fields"].get("out_bytes", 0)
                                              if "ops.shard_write" in o["layers"] else 0),
        "ops.shard_write.files": lambda: over(lambda o: o["fields"].get("out_files", 0)
                                              if "ops.shard_write" in o["layers"] else 0),
        "streaming.bloom_skip_frac": lambda: over(
            lambda o: o["fields"]["bloom_skip_frac"], writes),
        "streaming.write_bytes": lambda: over(lambda o: o["fields"]["write_bytes"], writes),
        "streaming.target_files": lambda: run["summary"].get("target_files", 0),
        "trace_overhead_s": lambda: (over(lambda o: o["wall_s"], tk)
                                     - over(lambda o: o["wall_s"], pk)) if tk and pk else 0.0,
        "trace.job_s": lambda: over(lambda o: o["wall_s"], tk),
        "trace.layer_share": lambda: over(lambda o: frac(sum(
            v["self_s"] for k, v in o["layers"].items() if "." in k), o["wall_s"]), tk),
    }
    out = {}
    for name, unit in names:
        if name in special:
            v = special[name]()
        else:
            span, measure = name.rsplit(".", 1)
            if measure == "ms":
                pool = [o for o in traced if span in o["layers"]]
                v = over(lambda o: o["layers"][span]["wall_s"] * 1e3, pool)
            else:
                key = SPAN_MEASURES[measure]
                pool = [o for o in traced if span in o["layers"]]
                v = over(lambda o: o["layers"][span][key], pool)
        out[name] = (v, unit)
    return out


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args(argv)
    # a terminated run still stops its JVM (run_jvm kills it on exit)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        raise SystemExit(f"unknown workload {a.workload}")
    java = build.build()

    work = os.path.join(ROOT, ".perfbench", "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data, out = os.path.join(work, "data"), os.path.join(work, "out")
    try:
        gen.generate(a.workload, a.seed, data)
        nproc = len(os.sched_getaffinity(0))
        ops, run = run_jvm(java, a.workload, data, out, a.seconds, a.trace, nproc)
        if a.workload == "etl_reference":
            twin = check_etl(ops, data)
        elif a.workload == "text_curation":
            twin = check_text(ops, data)
        else:
            twin = check_serve(ops, data, out, run)
        if a.trace:
            spans = os.path.join(ROOT, ".perfbench", "spans")
            os.makedirs(spans, exist_ok=True)
            shutil.copy(os.path.join(out, "spans.json"),
                        os.path.join(spans, f"{a.workload}-seed{a.seed}.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    attempted = len(ops)
    failed = sum(1 for o in ops if not o["ok"])
    e2e = end_to_end(a.workload, ops, run)
    layers = per_layer(a.workload, ops, run,
                       [(m["name"], m["unit"]) for m in spec["per_layer"]]) if a.trace else {}
    detail = {name: {"value": v, "unit": u} for name, (v, u) in {**e2e, **layers}.items()}
    detail["failed_frac"] = {"value": failed / attempted, "unit": "ratio"}
    print(json.dumps({"workload": a.workload, "seed": a.seed, "trace": a.trace,
                      "detail": detail, "twin": twin,
                      "env": {k: run[k] for k in ("nproc", "spark_version", "java_version",
                                                  "storage_memory_bytes")}}))
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    metrics = {m["name"]: {"value": detail[m["name"]]["value"], "unit": m["unit"]}
               for m in wanted}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
