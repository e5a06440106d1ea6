#!/usr/bin/env python3
"""Adjudicate an official bench pair against a prior official artifact.

Usage: python3 tools/adjudicate_bench.py <priorA.json> <runA.json> <runB.json>
       [ratio_threshold=1.5]

For every entry common to the prior artifact and run A, prints those whose
runA/prior ratio exceeds the threshold, alongside run B's number — an entry
that is slow in ONE run of the pair but not the other is host noise
(the r8 "alternating sides" profile); an entry slow in BOTH runs of the
pair is a real change to investigate. Also prints pair-internal spread and
family sums so a drifting family is visible even when no single entry
trips the threshold.

Each artifact is either a Bench artifact ({"queries": {name: sec}}) or a
ProfileBench artifact ({"queries": {name: {"sec": s, "jobs": n}}}). When
the prior and run A both carry job counts, every entry whose count
changed is listed with its prior -> runA (runB) counts; Spark job counts
are deterministic per entry, so any change there is a real plan change.
"""
import json, sys


def load(p):
    """(seconds per entry, Spark jobs per entry — empty for Bench artifacts)"""
    d = json.load(open(p))
    if not isinstance(d, dict) or not isinstance(d.get("queries"), dict):
        sys.exit(f"{p}: not a bench artifact (expected a JSON object with a "
                 f"'queries' map; got top-level keys "
                 f"{sorted(d) if isinstance(d, dict) else type(d).__name__})")
    q = d["queries"]
    secs = {k: v["sec"] if isinstance(v, dict) else v for k, v in q.items()}
    jobs = {k: v["jobs"] for k, v in q.items()
            if isinstance(v, dict) and "jobs" in v}
    return secs, jobs


def print_job_changes(prior, a, b):
    common = sorted(set(prior) & set(a))
    changed = [k for k in common if a[k] != prior[k]]
    up = [k for k in changed if a[k] > prior[k]]
    print(f"\nSpark job counts over {len(common)} common entries: prior "
          f"{sum(prior[k] for k in common)}, runA {sum(a[k] for k in common)}; "
          f"{len(changed)} changed, {len(up)} went up")
    if changed:
        print(f"{'entry':<36}{'prior':>7}{'runA':>7}{'runB':>7}{'A-prior':>9}")
    for k in changed:
        rb = str(b[k]) if k in b else "-"
        print(f"{k:<36}{prior[k]:>7}{a[k]:>7}{rb:>7}{a[k] - prior[k]:>+9}")


def main(prior_p, a_p, b_p, thr=1.5):
    (prior, prior_j), (a, a_j), (b, b_j) = load(prior_p), load(a_p), load(b_p)
    common = sorted(set(prior) & set(a) & set(b))
    print(f"common entries: {len(common)}  "
          f"(prior {len(prior)}, runA {len(a)}, runB {len(b)})")
    if not common:
        print("no common entries between the artifacts - nothing to adjudicate "
              "(wrong file or a renamed entry scheme?)")
        return
    sp, sa, sb = (sum(d[k] for k in common) for d in (prior, a, b))
    # same guard as the per-entry ratios: a zeroed/truncated artifact must
    # print a degenerate ratio, not raise ZeroDivisionError
    print(f"sums over common: prior {sp:.1f}s  runA {sa:.1f}s  runB {sb:.1f}s "
          f"(A/prior {sa/max(sp,1e-9):.3f}, B/prior {sb/max(sp,1e-9):.3f}, "
          f"B/A {sb/max(sa,1e-9):.3f})")
    fams = {}
    for k in common:
        f = k.split("_")[0]
        t = fams.setdefault(f, [0.0, 0.0, 0.0])
        t[0] += prior[k]; t[1] += a[k]; t[2] += b[k]
    print("\nfamily sums (prior / runA / runB, A:prior ratio):")
    for f, (p0, a0, b0) in sorted(fams.items()):
        print(f"  {f:>4} {p0:7.1f} {a0:7.1f} {b0:7.1f}  {a0/max(p0,1e-9):5.2f}x")
    flagged = [(k, a[k] / max(prior[k], 1e-9)) for k in common
               if a[k] > thr * prior[k] and a[k] >= 0.3]
    flagged.sort(key=lambda x: -x[1])
    print(f"\nentries with runA > {thr}x prior (and runA >= 0.3s): {len(flagged)}")
    print(f"{'entry':<30}{'prior':>8}{'runA':>8}{'runB':>8}{'A/prior':>9}"
          f"{'minAB/prior':>12}")
    for k, r in flagged:
        mn = min(a[k], b[k]) / max(prior[k], 1e-9)
        print(f"{k:<30}{prior[k]:>8.2f}{a[k]:>8.2f}{b[k]:>8.2f}{r:>9.2f}"
              f"{mn:>12.2f}")
    both = [k for k, _ in flagged if b[k] > thr * prior[k]]
    print(f"\nslow in BOTH runs (>= {thr}x prior in A and B — candidate real "
          f"regressions): {len(both)}")
    for k in both:
        print(f"  {k}: prior {prior[k]:.2f} A {a[k]:.2f} B {b[k]:.2f}")
    faster = sum(1 for k in common if a[k] < prior[k])
    import statistics
    med = statistics.median(a[k] / max(prior[k], 1e-9) for k in common)
    print(f"\nmedian per-entry A/prior ratio: {med:.3f}; "
          f"{faster}/{len(common)} entries faster than prior")
    if prior_j and a_j:
        print_job_changes(prior_j, a_j, b_j)


if __name__ == "__main__":
    if len(sys.argv) < 4:
        sys.exit(__doc__.strip())
    thr = float(sys.argv[4]) if len(sys.argv) > 4 else 1.5
    main(sys.argv[1], sys.argv[2], sys.argv[3], thr)
