#!/usr/bin/env python3
"""A/B runner for the repository benchmark (perfbench/run.py).

Runs N alternating parent/change pairs per workload, one fresh JVM per run,
and prints for every metric the median and quartiles of each side, the
change/parent ratio of the medians, and the number of pairs the change won:

    python3 tools/perfbench_ab.py --parent ../parent-checkout \\
        [--change .] [--workload extract_crawl ...] [--pairs 8] \\
        [--seconds 8] [--trace 0] [--seed 900] [--log ab.jsonl]
    python3 tools/perfbench_ab.py --summarize ab.jsonl

Pair i runs both sides on seed `--seed + i`; the side that goes first
alternates from pair to pair, so a drifting host loads both sides alike.
`norm_*` metrics divide pass time by a reference job timed between passes,
so a swing in the reference moves them without any change in the work.
The summary therefore also prints, from each run's `run.json`, the raw
median pass `cpu_s` and `wall_s` and the median `ref_s`. Each finished run
is appended to `--log` as one JSON line; `--summarize` re-prints the
summary from such a log without running anything.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

RAW = ("cpu_s", "wall_s", "ref_s")


def directions(root):
    """metric name -> "lower"/"higher", from BENCHMARK.json."""
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        b = json.load(fh)
    return {m["name"]: m["better"] for m in b.get("end_to_end", []) + b.get("per_layer", [])}


def run_one(checkout, workload, seed, seconds, trace):
    """One perfbench run in `checkout`: (metrics, failed share, raw medians)."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True,
                       stdin=subprocess.DEVNULL)
    if p.returncode != 0:
        raise RuntimeError(f"{' '.join(cmd)} in {checkout} exited {p.returncode}: "
                           + p.stderr.strip()[-2000:])
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    art = next(l.split(":", 1)[1].strip() for l in lines if l.startswith("artifacts:"))
    result = json.loads(lines[-1])
    with open(os.path.join(checkout, art, "run.json")) as fh:
        passes = json.load(fh)["passes"]
    raw = {k: statistics.median(float(x[k]) for x in passes) for k in RAW}
    metrics = {k: float(v["value"]) for k, v in result["metrics"].items()}
    failed = result["failed"] / result["attempted"] if result["attempted"] else 0.0
    return {"metrics": metrics, "failed_share": failed, "correct": result["correct"],
            "raw": raw, "artifacts": os.path.join(checkout, art)}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def summarize(records, better):
    by_wl = {}
    for r in records:
        by_wl.setdefault(r["workload"], {}).setdefault(r["pair"], {})[r["side"]] = r
    for wl, pairs in sorted(by_wl.items()):
        full = [p for _, p in sorted(pairs.items()) if "parent" in p and "change" in p]
        print(f"\n== {wl}: {len(full)} complete pairs "
              f"(seeds {', '.join(str(p['parent']['seed']) for p in full)})")
        if not full:
            continue
        rows = [(m, lambda side, m=m: side["metrics"][m], better.get(m, "lower"))
                for m in full[0]["parent"]["metrics"]]
        rows += [(f"raw.{k}", lambda side, k=k: side["raw"][k], "lower") for k in RAW]
        rows.append(("failed_share", lambda side: side["failed_share"], "lower"))
        print(f"{'metric':32} {'parent med [q1, q3]':>30} {'change med [q1, q3]':>30}"
              f" {'ratio':>7} {'won':>6}")
        for name, get, direction in rows:
            pv = [get(p["parent"]) for p in full]
            cv = [get(p["change"]) for p in full]
            pm, cm = statistics.median(pv), statistics.median(cv)
            (p1, p3), (c1, c3) = quartiles(pv), quartiles(cv)
            won = sum((c < p) if direction == "lower" else (c > p) for p, c in zip(pv, cv))
            ratio = f"{cm / pm:7.3f}" if pm else "      -"
            print(f"{name:32} {pm:12.4g} [{p1:7.4g}, {p3:7.4g}] {cm:12.4g} [{c1:7.4g}, {c3:7.4g}]"
                  f" {ratio} {won:3d}/{len(full)}")
        bad = [p[s]["artifacts"] for p in full for s in ("parent", "change") if not p[s]["correct"]]
        if bad:
            print("runs reporting correct=false: " + ", ".join(bad))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", help="checkout of the parent commit")
    ap.add_argument("--change", default=".", help="checkout of the change (default: .)")
    ap.add_argument("--workload", action="append",
                    help="workload to run (repeatable; default: every workload)")
    ap.add_argument("--pairs", type=int, default=8)
    ap.add_argument("--seconds", type=int, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--seed", type=int, default=900, help="seed of the first pair")
    ap.add_argument("--log", help="append each finished run to this JSON-lines file")
    ap.add_argument("--summarize", metavar="LOG", help="print the summary of a log and exit")
    a = ap.parse_args()

    here = os.path.abspath(a.change)
    better = directions(here)
    if a.summarize:
        with open(a.summarize) as fh:
            summarize([json.loads(l) for l in fh if l.strip()], better)
        return
    if not a.parent:
        ap.error("--parent is required unless --summarize is given")
    sides = {"parent": os.path.abspath(a.parent), "change": here}
    with open(os.path.join(here, "BENCHMARK.json")) as fh:
        workloads = a.workload or [w["name"] for w in json.load(fh)["workloads"]]

    records = []
    for wl in workloads:
        for i in range(a.pairs):
            seed = a.seed + i
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            for side in order:
                print(f"[{wl} pair {i + 1}/{a.pairs} seed {seed}] {side}", file=sys.stderr,
                      flush=True)
                rec = dict(run_one(sides[side], wl, seed, a.seconds, a.trace),
                           workload=wl, pair=i, side=side, seed=seed, trace=a.trace)
                records.append(rec)
                if a.log:
                    with open(a.log, "a") as fh:
                        fh.write(json.dumps(rec) + "\n")
    summarize(records, better)


if __name__ == "__main__":
    main()
