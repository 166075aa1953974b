#!/usr/bin/env python3
"""Per-query bench regression gate (round-6 verdict #7).

The canonical-band discipline — run the full Bench per build and compare
per-query times against the previous canonical run — caught a real 2.4x
q15 self-regression in round 6. This formalizes it as a command:

    python3 tools/compare_bench.py CANONICAL.json NEW.json [NEW2.json ...]
                                   [--factor 2.0] [--driver]

Compares every query in NEW against CANONICAL and exits nonzero when any
query regressed by more than --factor in EVERY provided NEW file (one
drifting host window inverts single runs — two consistent runs = real;
pass two fresh bench_out.json files to require consistency, or one for a
quick screen). Also flags headline (extract_sec) regressions and prints
the full ratio table sorted by ratio.

--driver (round-7 verdict "next round" #3): diagnostic mode for a DRIVER
artifact vs the canonical band — prints the per-query driver/canonical
ratio table and the DIVERGENCE SET (queries whose ratio exceeds the
factor), annotated with the driver run's own telemetry (cycle delivery,
gc/cpu) so the "driver runs are always sick at the tail" pattern is a
diffable fact instead of verdict archaeology. Always exits 0: the driver
artifact is evidence to be classified, not a gate to fail.

Runs at different scaling core counts are not comparable: when
`scaling.cpus_lo` or `scaling.cpus_hi` differ between CANONICAL and a NEW
file, both values are printed and the gate exits 2 (--driver prints the
mismatch and carries on).

Exit codes: 0 = no consistent regression (or --driver mode); 1 =
regression(s); 2 = usage / missing keys / different core counts.
"""
import json
import sys


def load(path):
    with open(path) as f:
        return json.load(f)


def core_mismatches(canon_path, canon, others):
    """One line per (path, artifact) whose scaling core pair differs from
    CANONICAL's."""
    def cores(art):
        sc = art.get("scaling", {})
        return sc.get("cpus_lo"), sc.get("cpus_hi")
    base = cores(canon)
    return [f"scaling cores differ: {canon_path} cpus_lo={base[0]} cpus_hi={base[1]}, "
            f"{path} cpus_lo={c[0]} cpus_hi={c[1]}"
            for path, c in ((p, cores(a)) for p, a in others) if c != base]


def driver_mode(canon_path, driver_path, factor):
    """Per-query driver-vs-canonical divergence report (never a gate)."""
    canon, drv = load(canon_path), load(driver_path)
    for line in core_mismatches(canon_path, canon, [(driver_path, drv)]):
        print(line)
    cq, dq = canon.get("queries", {}), drv.get("queries", {})
    if not cq or not dq:
        print("both files need a 'queries' block")
        return 2
    tel = drv.get("query_telemetry", {})
    rows = []
    for name, base in sorted(cq.items()):
        d = dq.get(name)
        if d is None or base <= 0:
            rows.append((name, base, d, None))
        else:
            rows.append((name, base, d, d / base))
    width = max(len(r[0]) for r in rows)
    diverged = []
    for name, base, d, ratio in sorted(rows, key=lambda r: -(r[3] or 0)):
        t = tel.get(name, {})
        extra = ""
        if t:
            extra = f"  gc={t.get('gc_ms', -1)}ms cpu={t.get('cpu_ms', -1)}ms"
            if isinstance(t.get("retry"), dict):
                extra += f" retry={t['retry'].get('sec')}s"
        if ratio is None:
            print(f"{name:<{width}}  canonical={base!s:>7}  driver=MISSING")
            continue
        mark = f"  <-- DIVERGED (> {factor}x)" if ratio > factor else ""
        if ratio > factor:
            diverged.append(name)
        print(f"{name:<{width}}  canonical={base:7.3f}s  driver={d:7.3f}s  "
              f"ratio={ratio:5.2f}{mark}{extra}")
    cd = drv.get("headline", {}).get("cycle_delivery")
    nd = drv.get("headline", {}).get("docs_per_sec_normalized")
    print(f"\ndriver cycle_delivery={cd} docs_per_sec_normalized={nd}")
    if diverged:
        print(f"divergence set ({len(diverged)}): {', '.join(diverged)}")
    else:
        print("divergence set: empty — driver run is inside the canonical band")
    return 0


def main(argv):
    factor = 2.0
    driver = False
    args = []
    i = 0
    while i < len(argv):
        if argv[i] == "--factor":
            if i + 1 >= len(argv):
                print("--factor requires a value")
                print(__doc__)
                return 2
            factor = float(argv[i + 1])
            i += 2
        elif argv[i] == "--driver":
            driver = True
            i += 1
        else:
            args.append(argv[i])
            i += 1
    if len(args) < 2:
        print(__doc__)
        return 2
    if driver:
        if len(args) != 2:
            print("--driver takes exactly CANONICAL.json DRIVER.json")
            return 2
        return driver_mode(args[0], args[1], factor)

    canon = load(args[0])
    news = [load(p) for p in args[1:]]
    mismatches = core_mismatches(args[0], canon, list(zip(args[1:], news)))
    if mismatches:
        print("\n".join(mismatches))
        return 2
    cq = canon.get("queries", {})
    if not cq:
        print(f"no 'queries' block in {args[0]}")
        return 2

    # per-query worst and best ratio across the NEW runs; a query is a
    # CONSISTENT regression only if its BEST (smallest) ratio still
    # exceeds the factor — a single healthy run acquits it
    rows = []
    for name, base in sorted(cq.items()):
        raw = [n.get("queries", {}).get(name) for n in news]
        if base <= 0:
            # a 0.000s canonical (sub-ms query rounded by %.3f) can never
            # produce a ratio; report it, don't hard-fail every future
            # run on it — it is not a vanished query
            rows.append((name, base, None, None, "unusable-baseline"))
            continue
        if any(r is None for r in raw):
            # missing from ANY new run is the dropped-query / truncated-
            # file condition — a healthy number in the OTHER run must not
            # acquit it (partial vanishing is still vanishing)
            rows.append((name, base, None, None, "missing"))
            continue
        ratios = [r / base for r in raw]
        best, worst = min(ratios), max(ratios)
        verdict = "REGRESSION" if best > factor else (
            "suspect" if worst > factor else "ok")
        rows.append((name, base, best, worst, verdict))

    regressions = [r for r in rows if r[4] == "REGRESSION"]
    missing = [r for r in rows if r[4] == "missing"]
    unusable = [r for r in rows if r[4] == "unusable-baseline"]

    width = max(len(r[0]) for r in rows)
    for name, base, best, worst, verdict in sorted(
            rows, key=lambda r: -(r[3] or 0)):
        if best is None:
            tag = ("MISSING in new run(s)" if verdict == "missing"
                   else "unusable 0.000s baseline (skipped)")
            print(f"{name:<{width}}  base={base:7.3f}s  {tag}")
        else:
            mark = "" if verdict == "ok" else f"  <-- {verdict}"
            print(f"{name:<{width}}  base={base:7.3f}s  "
                  f"ratio best={best:5.2f} worst={worst:5.2f}{mark}")

    # headline wall (extract_sec): same consistency rule. A NEW run
    # MISSING extract_sec hard-fails like a vanished query (round-7
    # ADVICE: the silent filter let a truncated new file pass the
    # headline gate with no output — partial vanishing is still
    # vanishing).
    hb = canon.get("extract_sec")
    if hb:
        truncated = [i for i, n in enumerate(news) if not n.get("extract_sec")]
        if truncated:
            print(f"extract_sec MISSING from new run(s) {truncated} — "
                  "truncated bench output")
            sys.exit(2)
        hr = [n.get("extract_sec", 0) / hb for n in news if n.get("extract_sec")]
        if hr:
            h_best = min(hr)
            tag = "REGRESSION" if h_best > factor else "ok"
            print(f"{'extract_sec':<{width}}  base={hb:7.3f}s  "
                  f"ratio best={h_best:5.2f} worst={max(hr):5.2f}"
                  f"{'' if tag == 'ok' else '  <-- ' + tag}")
            if tag == "REGRESSION":
                regressions.append(("extract_sec",))

    # cycle-delivery context when the runs carry the canary (a slow run
    # with delivery << 1 is a host window, not an engine regression —
    # noted, but the gate still fails: re-run in a healthy window)
    for i, n in enumerate(news):
        cd = n.get("headline", {}).get("cycle_delivery")
        if cd is not None and cd > 0:
            print(f"note: new run {i + 1} cycle_delivery={cd:.3f}")

    # report BOTH failure conditions before exiting (an operator fixing
    # the regression must not be surprised by a missing-query failure
    # the first summary never mentioned — round-7 review)
    if unusable:
        print(f"\nnote: {len(unusable)} canonical baselines are 0.000s "
              f"and were skipped")
    if missing:
        # a query whose number VANISHED (dropped/renamed query, wrong or
        # truncated NEW file) is strictly worse than a slow one — a gate
        # that prints 'missing' but exits 0 silently passes it
        print(f"\nFAIL: {len(missing)} canonical queries missing from "
              f"new run(s) — dropped query or wrong file?")
    if regressions:
        print(f"\nFAIL: {len(regressions)} consistent >{factor}x regression(s)")
        return 1
    if missing:
        return 2
    print(f"\nOK: no consistent >{factor}x regression "
          f"across {len(news)} new run(s)")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
