#!/usr/bin/env python3
"""Compare two sets of benchmark runs by the bounds in BENCHMARK.json.

    python3 perfbench/compare.py BASE_DIR NEW_DIR

Each directory holds one file per run: the captured stdout of
`perfbench/run.py` (its last line is the result, the line before it the
detail with workload, seed and calibration). A set can be made with

    for s in 1 2 3 4 5 6 7 8 9 10; do
      python3 perfbench/run.py --workload serve --seed $s --seconds 10 \\
        --trace 0 > BASE_DIR/serve-$s.out
    done

Per workload and end-to-end metric it prints both medians and
quartiles, each set's spread (inter-quartile range over median), the
change of the median in the metric's "worse" direction, and the pair
wins over runs that share a seed. A metric FAILS when its median gets
worse by more than its bound; a set FAILS when any run failed or was
incorrect, or when a run file holds no result (the run crashed or timed
out); and a workload FAILS when the two sets hold different numbers of
its runs. The calibration probe's drift between the sets is shown
beside the times so that a slower box is not read as a regression.
Exit status 1 when anything fails.
"""

import argparse
import json
import os
import statistics
import sys

RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}


def load_set(d):
    """({workload: [(seed, result, detail)]}, [broken run files]) from a
    directory of runs. A file without a well-formed result and detail
    line is broken: it is reported, never skipped."""
    runs, broken = {}, []
    for name in sorted(os.listdir(d)):
        path = os.path.join(d, name)
        lines = [l for l in open(path, errors="replace").read().splitlines() if l.strip()]
        try:
            result, detail = json.loads(lines[-1]), json.loads(lines[-2])["detail"]
            well_formed = RESULT_KEYS <= set(result) and {"workload", "seed"} <= set(detail)
        except (IndexError, ValueError, KeyError, TypeError):
            well_formed = False
        if not well_formed:
            broken.append(path)
        elif not detail.get("trace"):
            runs.setdefault(detail["workload"], []).append((detail["seed"], result, detail))
    return runs, broken


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def worse_by(base, new, better):
    """Relative change of `new` against `base`, positive when worse."""
    if base == 0:
        return 0.0 if new == base else float("inf")
    change = (new - base) / base
    return change if better == "lower" else -change


def pair_wins(base_runs, new_runs, metric, better):
    """(new wins, base wins) over runs of the same seed."""
    b = {s: r["metrics"][metric]["value"] for s, r, _ in base_runs}
    new_wins = base_wins = 0
    for s, r, _ in new_runs:
        if s not in b:
            continue
        v = r["metrics"][metric]["value"]
        if v == b[s]:
            continue
        if (v < b[s]) == (better == "lower"):
            new_wins += 1
        else:
            base_wins += 1
    return new_wins, base_wins


def calib(runs, key):
    xs = [d["calib"][key] for _, _, d in runs if key in d.get("calib", {})]
    return statistics.median(xs) if xs else None


def compare(spec, base, new, broken=(), out=sys.stdout):
    """Print the comparison of two sets of runs; True when nothing FAILS.
    `broken` lists the run files of either set that hold no result."""
    ok = not broken
    for path in broken:
        print("FAIL: %s holds no result (the run crashed or timed out)" % path, file=out)
    for w in sorted(set(base) | set(new)):
        b, n = base.get(w, []), new.get(w, [])
        print("== %s: %d base runs, %d new runs" % (w, len(b), len(n)), file=out)
        if not b or not n:
            print("   FAIL: a set has no runs of this workload", file=out)
            ok = False
            continue
        if len(b) != len(n):
            print("   FAIL: the sets hold different numbers of runs", file=out)
            ok = False
        shared = {s for s, _, _ in b} & {s for s, _, _ in n}
        if len(shared) < max(len(b), len(n)):
            print("   note: the sets share %d seeds; pair wins count only those" % len(shared), file=out)
        for label, runs in (("base", b), ("new", n)):
            att = sum(r["attempted"] for _, r, _ in runs)
            bad = sum(r["failed"] for _, r, _ in runs)
            wrong = sum(1 for _, r, _ in runs if not r["correct"])
            verdict = "ok" if bad == 0 and wrong == 0 else "FAIL"
            print("   %-4s failed_frac %.4f (%d of %d), incorrect runs %d  %s"
                  % (label, bad / att if att else 0.0, bad, att, wrong, verdict), file=out)
            ok &= verdict == "ok"
        for key in ("cpu_ms", "spark_ms"):
            cb, cn = calib(b, key), calib(n, key)
            if cb and cn:
                print("   calib %-8s base %.1f new %.1f drift %+.1f%%" % (key, cb, cn, 100 * (cn / cb - 1)),
                      file=out)
        for m in spec["end_to_end"]:
            name, better, bound = m["name"], m["better"], m["bound"]
            xb = [r["metrics"][name]["value"] for _, r, _ in b]
            xn = [r["metrics"][name]["value"] for _, r, _ in n]
            qb, qn = quartiles(xb), quartiles(xn)
            change = worse_by(qb[1], qn[1], better)
            wins = pair_wins(b, n, name, better)
            verdict = "FAIL" if change > bound else "ok"
            ok &= verdict == "ok"
            print("   %-13s base %s new %s  spread %.3f/%.3f  worse %+.1f%% (bound %.0f%%)  "
                  "pair wins new %d base %d  %s"
                  % (name, fmt(qb), fmt(qn), spread(qb), spread(qn), 100 * change, 100 * bound,
                     wins[0], wins[1], verdict), file=out)
    return ok


def spread(q):
    return (q[2] - q[0]) / q[1] if q[1] else float("inf")


def fmt(q):
    return "%.4g [%.4g, %.4g]" % (q[1], q[0], q[2])


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("base")
    ap.add_argument("new")
    ap.add_argument("--spec", default="BENCHMARK.json")
    a = ap.parse_args()
    spec = json.load(open(a.spec))
    (base, base_broken), (new, new_broken) = load_set(a.base), load_set(a.new)
    ok = compare(spec, base, new, broken=base_broken + new_broken)
    print("PASS" if ok else "FAIL")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
