#!/usr/bin/env python3
"""A/B a change against its parent on one perfbench workload.

Usage:
    python3 tools/ab_pairs.py <parent_checkout> <change_checkout>
        --workload W --pairs N --seed S [--seconds 10]
        [--detail index.text_refresh_s,'op.*'] [--out pairs.json]

Each checkout is a full source tree with its own `perfbench/` (make the
parent copy with `git archive` or `git clone`). Pair i runs
`python3 perfbench/run.py --workload W --seed S --seconds T --trace 0` in
both checkouts, the parent first in even pairs and the change first in
odd ones, so drift on the host falls on both sides alike. The first run
in a checkout also builds it and generates its data, so one untimed
warm-up run per side goes first (`--no-warmup` skips it).

For every end-to-end metric listed in the change's BENCHMARK.json it
prints each side's median and quartiles, the pairs the change won (ties
count for neither side), and the verdict of the paired-run rule: a gain
only when the change wins at least nine tenths of the pairs AND the
medians differ by more than the parent's interquartile range; "worse
beyond bound" when the change's median is worse than the parent's by
more than the metric's bound; otherwise "no claim". `failed_frac` and
the `--detail` figures (from the run's detail line) are printed as
medians. `--detail` takes names or shell-style patterns (`op.*`); without
it a workload prints its per-operation figures (`DEFAULT_DETAIL`), so a
plain run always shows the figures a claim is attributed to. Beside the verdict, the "beyond bound" column says whether the
change of the medians exceeds the metric's bound in either direction:
"better" or "worse" when |change| > bound, "within" otherwise, "-" for a
metric with no bound. A claimed gain has to clear both: the pair rule's
"gain" and "better" here. This script only calls perfbench; it never
edits it.
"""
import argparse
import fnmatch
import json
import os
import statistics
import subprocess
import sys


# The per-operation detail figures each workload prints by default.
DEFAULT_DETAIL = {
    "dml_mixed": "index.text_refresh_s,mv.refresh_s,mv.covered_read_s,"
                 "dml.merge_s",
    "pipeline": "op.*",
}


def quartiles(xs):
    """(q1, median, q3) by linear interpolation between order statistics."""
    s = sorted(xs)
    def at(p):
        k = (len(s) - 1) * p
        lo, hi = int(k), min(int(k) + 1, len(s) - 1)
        return s[lo] + (s[hi] - s[lo]) * (k - lo)
    return at(0.25), at(0.5), at(0.75)


def run_once(checkout, args):
    """One perfbench run in `checkout`: (end-to-end metrics, failed_frac,
    detail metrics)."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE,
                       stderr=subprocess.PIPE, text=True)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"perfbench failed in {checkout} (exit {p.returncode})")
    result = json.loads(lines[-1])
    detail = {}
    if len(lines) > 1:
        try:
            detail = json.loads(lines[-2]).get("detail", {})
        except json.JSONDecodeError:
            pass
    e2e = {k: v["value"] for k, v in result["metrics"].items()}
    failed = int(result["failed"]) / max(1, int(result["attempted"]))
    return e2e, failed, {k: v["value"] for k, v in detail.items()}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=None,
                    help="run length (default: BENCHMARK.json run_seconds)")
    ap.add_argument("--detail", default=None,
                    help="comma-separated detail figures or patterns to "
                         "report (default: the workload's DEFAULT_DETAIL)")
    ap.add_argument("--no-warmup", dest="warmup", action="store_false")
    ap.add_argument("--out", help="write every run's figures here as JSON")
    args = ap.parse_args()
    bench = json.load(open(os.path.join(args.change, "BENCHMARK.json")))
    if args.seconds is None:
        args.seconds = bench["run_seconds"]
    metrics = bench["end_to_end"]
    sides = {"parent": args.parent, "change": args.change}
    if args.warmup:
        for name, path in sides.items():
            print(f"[ab] warm-up {name}", file=sys.stderr, flush=True)
            run_once(path, args)
    runs = {"parent": [], "change": []}
    for i in range(args.pairs):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for name in order:
            e2e, failed, detail = run_once(sides[name], args)
            runs[name].append({"e2e": e2e, "failed_frac": failed,
                               "detail": detail})
            print(f"[ab] pair {i + 1}/{args.pairs} {name}: " +
                  " ".join(f"{m['name']}={e2e.get(m['name'], float('nan')):.4g}"
                           for m in metrics), file=sys.stderr, flush=True)
    if args.out:
        with open(args.out, "w") as fh:
            json.dump({"workload": args.workload, "seed": args.seed,
                       "seconds": args.seconds, "runs": runs}, fh, indent=1)

    print(f"workload {args.workload}, seed {args.seed}, {args.pairs} pairs, "
          f"{args.seconds:g} s runs")
    print(f"{'metric':<20} {'parent q1/med/q3':>28} {'change q1/med/q3':>28}"
          f" {'won':>7} {'change':>8} {'beyond bound':>12}  verdict")
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        pv = [r["e2e"][name] for r in runs["parent"]]
        cv = [r["e2e"][name] for r in runs["change"]]
        pq, cq = quartiles(pv), quartiles(cv)
        won = sum(1 for a, b in zip(pv, cv) if (b < a if lower else b > a))
        gap = cq[1] - pq[1]
        better = gap < 0 if lower else gap > 0
        rel = gap / pq[1] if pq[1] else float("nan")
        worse_rel = rel if lower else -rel
        bound = m.get("bound")
        if bound is None:
            beyond = "-"
        elif abs(worse_rel) > bound:
            beyond = "worse" if worse_rel > 0 else "better"
        else:
            beyond = "within"
        if won * 10 >= 9 * len(pv) and better and abs(gap) > pq[2] - pq[0]:
            verdict = "gain"
        elif beyond == "worse":
            verdict = "worse beyond bound"
        else:
            verdict = "no claim"
        fmt = lambda q: "/".join(f"{x:.4g}" for x in q)
        print(f"{name:<20} {fmt(pq):>28} {fmt(cq):>28} "
              f"{won:>3}/{len(pv):<3} {rel:>+8.1%} {beyond:>12}  {verdict}")
    for side in ("parent", "change"):
        ff = statistics.median(r["failed_frac"] for r in runs[side])
        print(f"failed_frac median {side}: {ff:g}")
    detail = (DEFAULT_DETAIL.get(args.workload, "")
              if args.detail is None else args.detail)
    seen = sorted({k for s in runs for r in runs[s] for k in r["detail"]})
    names = []
    for pat in filter(None, detail.split(",")):
        hits = fnmatch.filter(seen, pat) or [pat]
        names += [d for d in hits if d not in names]
    for d in names:
        vals = {s: [r["detail"][d] for r in runs[s] if d in r["detail"]]
                for s in runs}
        meds = {s: (statistics.median(v) if v else float("nan"))
                for s, v in vals.items()}
        print(f"detail {d}: parent {meds['parent']:.4g}, "
              f"change {meds['change']:.4g}")


if __name__ == "__main__":
    main()
