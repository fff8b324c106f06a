"""Metric names, units and the statistics the benchmark reports.

Timings are reported as a median and a tail: the highest percentile
that still has at least ten samples beyond it, with its percentile and
sample count. An operation that fails loses its number and counts in
`failed`; the rest of the workload still reports.
"""
import json
import os
import re
import statistics

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
TAIL_BEYOND = 10

HERE = os.path.dirname(os.path.abspath(__file__))


def spec():
    """BENCHMARK.json, next to this directory."""
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        return json.load(f)


def valid_name(name):
    return bool(NAME_RE.match(name))


def valid_unit(unit):
    return bool(UNIT_RE.match(unit))


def median(xs):
    return statistics.median(xs) if xs else None


def tail(xs):
    """(value, percentile, n) of the highest nearest-rank percentile with
    at least TAIL_BEYOND samples above it, or None with fewer than
    TAIL_BEYOND + 1 samples. With n samples that is the value at sorted
    index n - 11, the 100 * (n - 10) / n th percentile."""
    n = len(xs)
    if n <= TAIL_BEYOND:
        return None
    k = n - TAIL_BEYOND - 1
    return sorted(xs)[k], 100.0 * (k + 1) / n, n


def accounting(ops, api=()):
    """(attempted, failed) over the workload's operations and API GETs:
    an operation fails when it threw or its output check failed (no
    seconds recorded), a GET when its status is not 200."""
    attempted = len(ops) + len(api)
    failed = sum(1 for o in ops if o.get("s") is None) + sum(1 for a in api if a.get("status") != 200)
    return attempted, failed


def correct(checks, values, failed):
    """A run is correct when every output check passed, every metric has
    a value and no operation failed: a failed operation's time is
    missing from its pass, which would otherwise read as a speedup."""
    return all(c["ok"] for c in checks) and all(v is not None for v, _ in values.values()) and failed == 0


def op_seconds(ops, kinds=None):
    return [o["s"] for o in ops if o.get("s") is not None and (kinds is None or o["kind"] in kinds)]


# The unit operation behind the op_p50_ms / op_tail_ms details, per workload.
OP_KINDS = {
    "orders_etl": {"upsert"},
    "corpus_stream": {"batch", "compact_batch"},
    "operator_mix": None,
}


def end_to_end(workload, rec):
    """(metrics, details) of an untraced run. `metrics` holds the
    BENCHMARK.json end-to-end metrics; `details` the workload's own
    named figures with units, tails with percentile and count."""
    ops = rec["ops"]
    ok = op_seconds(ops, OP_KINDS[workload])
    m = {
        "setup_s": (median(rec["setup_reps_s"]), "s"),
        "pass_s": (median(rec["passes_s"]), "s"),
    }
    t = tail(ok)
    d = {"setup_reps_s": rec["setup_reps_s"], "passes": len(rec["passes_s"]), "ops_ok": len(ok),
         "op_p50_ms": (median(ok) * 1e3 if ok else None, "ms"),
         "op_tail_ms": (t[0] * 1e3 if t else None, "ms"), "op_tail_pct": t[1] if t else None}
    d.update(rec["details"])
    s = rec["samples"]
    if workload == "orders_etl":
        api = [a["ms"] for a in s.get("api", []) if a.get("status") == 200]
        at = tail(api)
        d.update({
            "bulk_load_s": (median(s.get("bulk_load_s", [])), "s"),
            "upsert_run_p50_s": (median(ok), "s"),
            "upsert_phase_s": (median(s.get("upsert_phase_s", [])), "s"),
            "api_p50_ms": (median(api), "ms"),
            "api_tail_ms": (at[0] if at else None, "ms"),
            "api_tail_pct": at[1] if at else None, "api_n": len(api),
        })
    elif workload == "corpus_stream":
        docs = s["stream"][0]["input"] if s.get("stream") else 0
        d.update({
            "stream_docs_per_s": (docs / m["pass_s"][0] if m["pass_s"][0] else None, "1/s"),
            "stream_batch_p50_s": (median(ok), "s"),
            "stream_batch_tail_s": (t[0] if t else None, "s"),
            "stream_batch_tail_pct": t[1] if t else None, "stream_batch_n": len(ok),
        })
    elif workload == "operator_mix":
        d["mix_s"] = (m["pass_s"][0], "s")
        passes = len(rec["passes_s"])
        for fam in sorted({o["kind"] for o in ops}):
            secs = op_seconds(ops, {fam})
            d[f"mix_{fam}_s"] = (sum(secs) / passes if secs and passes else None, "s")
    return m, d


def api_samples(workload, rec):
    return rec["samples"].get("api", []) if workload == "orders_etl" else []


def per_layer(rec, names_units):
    """Every per-layer metric; a layer the workload does not exercise did
    no work and reads 0."""
    layers = rec.get("layers", {})
    return {n: (layers.get(n, 0.0), u) for n, u in names_units}
