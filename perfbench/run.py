#!/usr/bin/env python3
"""The repository's benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload orders_etl --seed 1 --seconds 12 --trace 0

Builds the program from source if needed (perfbench/build.py), makes the
workload's inputs from the seed, runs the JVM harness
(perfbench/scala/graft/perfbench), checks the outputs, and prints every
metric by name with its unit. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"} with the end-to-end
metrics (--trace 0) or the per-layer metrics (--trace 1). The full
record, with settings and sample counts, goes to
.bench_out/<workload>-seed<seed>-trace<trace>.json. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

ROOT = build.ROOT
OUT = os.path.join(ROOT, ".bench_out")
JVM_HEAP = "3g"
RUN_TIMEOUT_S = 175

# Input sizes per workload (see README.md for how they were chosen).
ORDERS = dict(n_bulk=10000, n_upsert=500, n_files=16, n_warm=200)
STREAM = dict(n_docs=400, n_batches=8)
TABLES_SF = 0.01

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def make_inputs(workload, seed, inputs):
    if workload == "orders_etl":
        return gen.orders(seed, os.path.join(inputs, "orders"), **ORDERS)
    if workload == "corpus_stream":
        return gen.stream(seed, os.path.join(inputs, "stream"), **STREAM)
    gen.tables(seed, os.path.join(inputs, "tables"), TABLES_SF)
    return None


def run_jvm(cp, args, work, deadline):
    cmd = ["java", f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={work}/tmp"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.Main"]
    for k, v in args.items():
        cmd += [f"--{k}", str(v)]
    os.makedirs(f"{work}/tmp", exist_ok=True)
    with open(f"{work}/jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=log, cwd=work)
        try:
            code = proc.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise RuntimeError("JVM timed out")
    rec_path = f"{work}/record.json"
    if not os.path.exists(rec_path):
        raise RuntimeError(f"JVM exited {code} without a record")
    rec = json.load(open(rec_path))
    if code != 0 or "fatal" in rec["details"]:
        raise RuntimeError(f"JVM failed ({code}): {rec['details'].get('fatal')}")
    return rec


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(metrics.OP_KINDS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    spec = metrics.spec()
    cp = build.build()
    # a run that had to build is the checkout's first and may take longer
    start = time.time()
    os.makedirs(OUT, exist_ok=True)
    work = os.path.join(ROOT, ".bench_work", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    try:
        t0 = time.time()
        expected = make_inputs(a.workload, a.seed, inputs)
        inputs_s = time.time() - t0
        rec = run_jvm(cp, {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
                              "trace": a.trace, "inputs": inputs, "work": work},
                         work, start + RUN_TIMEOUT_S - 5)
        rec["details"]["inputs_s"] = inputs_s
        found = list(rec["checks"])
        if a.workload == "orders_etl":
            found += checks.orders(rec, expected)
        if a.workload == "corpus_stream":
            key = f"seed{a.seed} {json.dumps(STREAM, sort_keys=True)} source {build.source_stamp()}"
            found += checks.stream(rec, expected, STREAM["n_docs"], key,
                                   os.path.join(OUT, "stream_admitted.json"))
        if a.workload == "operator_mix" and not a.trace:
            found += checks.oracle(os.path.join(inputs, "tables"), os.path.join(work, "results"))
        attempted, failed = metrics.accounting(rec["ops"], metrics.api_samples(a.workload, rec))
        if a.trace:
            wanted = [(m["name"], m["unit"]) for m in spec["per_layer"]]
            values, details = metrics.per_layer(rec, wanted), {}
        else:
            values, details = metrics.end_to_end(a.workload, rec)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    correct = metrics.correct(found, values, failed)
    for c in found:
        if not c["ok"]:
            print(f"CHECK FAILED {c['name']}: {c['detail']}")
    for n, (v, u) in values.items():
        print(f"{n} {v} {u}")
    for n, v in details.items():
        if isinstance(v, tuple):
            print(f"  {n} {v[0]} {v[1]}")
    export = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "config": dict(rec["config"], jvm_heap=JVM_HEAP, inputs=_sizes(a.workload)),
        "metrics": {n: {"value": v, "unit": u} for n, (v, u) in values.items()},
        "details": {n: (v if not isinstance(v, tuple) else {"value": v[0], "unit": v[1]})
                    for n, v in details.items()},
        "checks": found, "attempted": attempted, "failed": failed,
        "ops": rec["ops"], "samples": rec["samples"],
        "errors": [o for o in rec["ops"] if o.get("s") is None]
        + [g for g in metrics.api_samples(a.workload, rec) if g.get("status") != 200],
    }
    with open(os.path.join(OUT, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
        json.dump(export, f, indent=1, default=str)
    print("error_rate", failed / attempted if attempted else None, "ratio")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {n: {"value": v, "unit": u} for n, (v, u) in values.items() if v is not None}}))


def _sizes(workload):
    return {"orders_etl": ORDERS, "corpus_stream": STREAM,
            "operator_mix": {"sf": TABLES_SF}}[workload]


if __name__ == "__main__":
    try:
        main()
    except Exception as e:  # noqa: BLE001 - any failure: no result, non-zero exit
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(1)
