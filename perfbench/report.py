#!/usr/bin/env python3
"""One-command engine-path report.

Usage (from the repository root):
  python3 perfbench/report.py [--seed N] [--seconds S] [--workloads a,b,...]

For every workload it makes one untraced and one traced run (same seed)
through perfbench/run.py, then prints every end-to-end metric by name
and unit, every per-layer metric, the tracing overhead (traced minus
untraced) and the two layers with the largest self time per workload.
Exits 1 when any run fails or any answer check mismatches.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run(workload, seed, seconds, trace):
    r = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        stdout=subprocess.PIPE, text=True)
    lines = [json.loads(l) for l in r.stdout.splitlines() if l.startswith("{")]
    if r.returncode != 0 or not lines:
        return None, None
    report = next((l["report"] for l in lines if "report" in l), {})
    report["unlisted"] = next(
        (l["unlisted_metrics"] for l in lines if "unlisted_metrics" in l), {})
    return report, lines[-1]


def cell(rep, res, name):
    """A metric's value, or '-' when the run failed or the workload does
    not produce it."""
    if not res or name in (rep or {}).get("not_measured", []):
        return f"{'-':>14}"
    return f"{res['metrics'][name]['value']:14.4f}"


def main():
    spec = json.load(open("BENCHMARK.json"))
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    ap.add_argument("--workloads",
                    default=",".join(w["name"] for w in spec["workloads"]))
    args = ap.parse_args()
    ok = True
    rows = {}
    for w in args.workloads.split(","):
        plain_rep, plain = run(w, args.seed, args.seconds, 0)
        traced_rep, traced = run(w, args.seed, args.seconds, 1)
        for tag, rep, res in (("untraced", plain_rep, plain),
                              ("traced", traced_rep, traced)):
            if res is None:
                print(f"FAIL {w} ({tag}): run failed")
                ok = False
            elif not res["correct"]:
                print(f"FAIL {w} ({tag}): wrong answers: {rep.get('mismatches')}")
                ok = False
            elif rep.get("gen_behind"):
                print(f"note {w} ({tag}): open-loop generator fell behind "
                      f"(unsent {rep.get('gen_unsent')})")
        rows[w] = (plain_rep, plain, traced_rep, traced)

    names = list(rows)
    print("\nend-to-end (untraced)")
    print(f"{'metric':28} {'unit':8} " + " ".join(f"{n:>14}" for n in names))
    for m in spec["end_to_end"]:
        print(f"{m['name']:28} {m['unit']:8} " + " ".join(
            cell(rows[n][0], rows[n][1], m["name"]) for n in names))
    print("\nper-layer (traced; '-' where the workload does not produce it)")
    for m in spec["per_layer"]:
        print(f"{m['name']:34} {m['unit']:8} " + " ".join(
            cell(rows[n][2], rows[n][3], m["name"]) for n in names))
    print("\nnot in BENCHMARK.json (untraced, then traced)")
    for n in names:
        for rep in (rows[n][0], rows[n][2]):
            unlisted = {k: v for k, v in (rep or {}).get("unlisted", {}).items()
                        if k not in rep.get("not_measured", [])}
            if unlisted:
                print(f"  {n}: " + ", ".join(
                    f"{k} {v:.4f}" for k, v in unlisted.items()))
    print("\ntracing overhead (traced minus untraced)")
    for n in names:
        _, plain, _, traced = rows[n]
        if not (plain and traced):
            continue
        p, t = plain["metrics"], traced["metrics"]
        parts = [f"{k}: {t['trace.' + k]['value'] - p[k]['value']:+.3f} ms"
                 for k in ("query_p50_ms", "write_p50_ms", "cpu_ms_per_op")]
        print(f"  {n}: " + ", ".join(parts))
    print("\nlargest self time per probed operation")
    for n in names:
        rep = rows[n][2] or {}
        layers = sorted(rep.get("self_ms_per_probe_by_layer", {}).items(),
                        key=lambda kv: -kv[1])[:2]
        print(f"  {n}: " + ", ".join(f"{l} {v:.2f} ms" for l, v in layers))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
