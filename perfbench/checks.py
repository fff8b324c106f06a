"""Output checks the benchmark makes after its timed window."""
import hashlib
import json
import os
import re
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def orders(rec, expected):
    """Every final target equals the generator's last-writer-wins replay
    of the files it was loaded from: same row count, same checksum over
    (order_id, amount, amount_category)."""
    out = []
    for i, t in enumerate(rec["samples"].get("target", [])):
        want = expected[t["upserts"]]
        ok = t["rows"] == want["rows"] and t["checksum"] == want["checksum"]
        out.append({"name": f"orders_target_{i}", "ok": ok,
                    "detail": f"rows={t['rows']} checksum={t['checksum']} after {t['upserts']} upserts, "
                              f"expected {want}"})
    if not out:
        out.append({"name": "orders_target", "ok": False, "detail": "no target digest recorded"})
    return out


def stream(rec, pairs, n_docs, key, path):
    """Checks of every ingest the run recorded:
    - its admitted ids are distinct input ids;
    - no duplicate pair the generator planted has both members admitted,
      whichever member arrived first;
    - the admitted-id hash is the same for every ingest of the run, and
      for every run of one seed, size and program source (kept in
      `path`, keyed by `key`)."""
    out, hashes = [], set()
    for i, s in enumerate(rec["samples"].get("stream", [])):
        ids = s["admitted_ids"]
        known = len(set(ids)) == len(ids) and all(0 <= d < n_docs for d in ids)
        out.append({"name": f"stream_admitted_known_{i}", "ok": known,
                    "detail": f"admitted={len(ids)} distinct={len(set(ids))} input={n_docs}"})
        adm = set(ids)
        both = [p for p in pairs if p[0] in adm and p[1] in adm]
        out.append({"name": f"stream_planted_pairs_{i}", "ok": not both,
                    "detail": f"{len(both)} of {len(pairs)} planted pairs fully admitted: {both[:10]}"})
        hashes.add(hashlib.sha256(",".join(map(str, sorted(ids))).encode()).hexdigest()[:16])
    if not out:
        return [{"name": "stream_admitted", "ok": False, "detail": "no admitted ids recorded"}]
    seen = {}
    if os.path.exists(path):
        with open(path) as f:
            seen = json.load(f)
    want = set(seen.get(key, [])) | hashes
    seen[key] = sorted(want)
    with open(path, "w") as f:
        json.dump(seen, f)
    out.append({"name": "stream_admitted_hash_repeatable", "ok": len(want) == 1,
                "detail": f"hashes seen for {key}: {sorted(want)}"})
    return out


def oracle(tables_dir, results_dir):
    """Each query the JVM harness wrote oracle SQL for: its Spark result
    against that SQL run in DuckDB over the same tables, by
    `tools/check_oracle.py --typed` (column names, row count, column
    types with integer widths folded, values with floats bit-exact).
    One check per PASS or FAIL line of the tool's output."""
    tool = os.path.join(ROOT, "tools", "check_oracle.py")
    proc = subprocess.run([sys.executable, tool, tables_dir, results_dir, "--typed"],
                          capture_output=True, text=True, timeout=300)
    return oracle_checks(proc.returncode, proc.stdout + proc.stderr)


def oracle_checks(code, output):
    """Checks from the tool's exit code and its PASS/FAIL lines; a run
    that reports no query or exits non-zero without a FAIL line is a
    failed check too."""
    out = []
    for line in output.splitlines():
        m = re.match(r"(PASS|FAIL) (\S+?):? (.*)", line)
        if m:
            out.append({"name": f"oracle_{m.group(2)}", "ok": m.group(1) == "PASS", "detail": m.group(3)})
    if not out or (code != 0 and all(c["ok"] for c in out)):
        out.append({"name": "oracle", "ok": False,
                    "detail": f"check_oracle.py exited {code}: {output.strip()[-300:]}"})
    return out
