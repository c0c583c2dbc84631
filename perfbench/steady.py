"""Steadiness check: two sets of runs of the same commit, interleaved run
by run, compared against the bounds in BENCHMARK.json.

    python3 perfbench/steady.py --runs 10 --out steady.jsonl [--trace]

For run r = 0..runs-1 and each workload, set A (seed r+1) then set B (seed
r+101) run back to back, so host noise lands on both sets alike. For each
workload and end-to-end metric the script prints each set's median and
quartiles, the spread (distance between the quartiles as a share of the
median) and whether the sets agree: every spread within the metric's
bound, set B's median no worse than set A's by more than the bound, and
the same share of failed operations. Every run's steal and
outside CPU are printed with it. With ``--trace`` one traced run per
workload follows, and its per-layer table is printed with the tracing
overhead (traced against untraced median items_per_s).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        return {"workload": workload, "seed": seed, "trace": trace,
                "error": p.stderr[-2000:], "returncode": p.returncode}
    return {"workload": workload, "seed": seed, "trace": trace,
            **json.loads(lines[-2]), "result": json.loads(lines[-1])}


def spread(values: list[float]) -> tuple[float, float, float, float]:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, q1, q3, (q3 - q1) / med if med else 0.0


def summarize(records: list[dict], bench: dict) -> bool:
    all_ok = True
    for w in [x["name"] for x in bench["workloads"]]:
        sets = {s: [r for r in records if r["workload"] == w and r.get("set") == s]
                for s in ("A", "B")}
        if any(len(v) < 2 or any("error" in r for r in v) for v in sets.values()):
            print(f"{w}: runs missing or failed")
            all_ok = False
            continue
        share = {s: sum(r["result"]["failed"] for r in v) / sum(r["result"]["attempted"] for r in v)
                 for s, v in sets.items()}
        ok_fail = share["A"] == share["B"]
        print(f"\n{w}: failed share A={share['A']:.3f} B={share['B']:.3f} "
              f"correct={all(r['result']['correct'] for v in sets.values() for r in v)}")
        for m in bench["end_to_end"]:
            name, bound, lower = m["name"], m["bound"], m["better"] == "lower"
            stats = {}
            for s, v in sets.items():
                stats[s] = spread([r["result"]["metrics"][name]["value"] for r in v])
            ma, mb = stats["A"][0], stats["B"][0]
            worse = (mb - ma) / ma if lower else (ma - mb) / ma
            ok = worse <= bound and all(st[3] <= bound for st in stats.values())
            all_ok &= ok
            print(f"  {name:12s} bound {bound:.2f}  "
                  + "  ".join(f"{s}: med {st[0]:.4g} q1 {st[1]:.4g} q3 {st[2]:.4g} spread {st[3]:.3f}"
                              for s, st in stats.items())
                  + f"  B worse by {worse:+.3f}  {'ok' if ok else 'FAIL'}")
        all_ok &= ok_fail
    return all_ok


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--workloads", default=None, help="comma list; default all")
    p.add_argument("--out", default=None, help="append every run record to this JSONL file")
    p.add_argument("--trace", action="store_true")
    p.add_argument("--summarize", default=None, help="only summarize an existing JSONL file")
    args = p.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    if args.summarize:
        with open(args.summarize) as fh:
            records = [json.loads(line) for line in fh]
        return 0 if summarize(records, bench) else 1
    names = args.workloads.split(",") if args.workloads else [w["name"] for w in bench["workloads"]]
    bench["workloads"] = [w for w in bench["workloads"] if w["name"] in names]
    records = []
    out = open(args.out, "a") if args.out else None
    try:
        plan = [(r, s, w) for r in range(args.runs) for w in names for s in ("A", "B")]
        if args.trace:
            plan += [(0, "T", w) for w in names]
        for r, s, w in plan:
            seed = r + (101 if s == "B" else 1)
            rec = run_once(w, seed, bench["run_seconds"], int(s == "T"))
            rec["set"] = s
            records.append(rec)
            if out:
                out.write(json.dumps(rec) + "\n")
                out.flush()
            if "error" in rec:
                print(f"run {r} set {s} {w} seed {seed}: FAILED rc={rec['returncode']}")
                continue
            h, res = rec["host"], rec["result"]
            print(f"run {r} set {s} {w:15s} seed {seed:3d}  steal {h['steal_s']:5.1f}s  "
                  f"other cpu {h['other_cpu_s']:6.1f}s  spark start {h['spark_start_s']:5.2f}s  "
                  f"wall {h['run_wall_s']:5.1f}s  attempted {res['attempted']} failed {res['failed']}  "
                  + "  ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()
                              if s != "T"), flush=True)
    finally:
        if out:
            out.close()
    ok = summarize(records, bench)
    for rec in records:
        if rec["set"] != "T" or "error" in rec:
            continue
        w = rec["workload"]
        untraced = statistics.median(
            r["result"]["metrics"]["items_per_s"]["value"]
            for r in records if r["workload"] == w and r["set"] in ("A", "B") and "result" in r
        )
        traced = rec["result"]["metrics"]["trace.items_per_s"]["value"]
        print(f"\n{w} traced run (seed {rec['seed']}): items_per_s traced {traced:.4g} vs "
              f"untraced median {untraced:.4g} (overhead {(untraced - traced) / untraced:+.1%})")
        for k, v in rec["result"]["metrics"].items():
            print(f"  {k:32s} {v['value']:12.4g} {v['unit']}")
    print("\nsets agree within bounds" if ok else "\nsets DO NOT agree within bounds")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
