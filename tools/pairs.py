#!/usr/bin/env python3
"""Alternating benchmark pairs: a parent checkout against a change checkout.

Usage:
  python3 tools/pairs.py PARENT CHANGE --workload submission_dirty \\
      --seeds 601-610 [--workload query_sweep --seeds 611-615] [--log FILE]
  python3 tools/pairs.py --summarize FILE

For each seed it runs, in each checkout,
    python3 perfbench/run.py --workload W --seed S --seconds 1 --trace 0
one after the other; the order flips from one seed to the next (parent
first on the first seed). It reads only the result line perfbench prints
last (`{"correct", "attempted", "failed", "metrics"}`); every run is
appended to the `--log` file (JSON lines) as it finishes, so
`--summarize` can redo the table later. A run whose line says `correct: false` or
`failed > 0`, or that prints no result line, is a failure.

For each workload and each gated metric (BENCHMARK.json `end_to_end`, read
from the change checkout, or from the repo this script sits in when only
summarizing) it prints both sides' medians and quartiles, the pairs the
change wins, whether the claim rule holds (the change wins at least 9 of
10 pairs, its median beats the parent's by more than the parent's IQR,
and no run failed) and the no-regression verdict against the metric's
`bound`:
  ok          the change's median is no worse than the parent's by more
              than `bound` times the parent's median;
  unresolved  otherwise, when the parent's IQR exceeds `bound` times its
              median and not every change run beats every parent run;
  worse       neither.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def percentile(values, q):
    """The q-th percentile (0..100), linear between order statistics."""
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def parse_seeds(text):
    """`601-605,609` -> [601, 602, 603, 604, 605, 609]."""
    seeds = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        seeds.extend(range(int(lo), int(hi or lo) + 1))
    return seeds


def result_line(stdout):
    """The last line of `stdout` that is a perfbench result object, or None."""
    for line in reversed(stdout.splitlines()):
        line = line.strip()
        if line.startswith("{"):
            try:
                obj = json.loads(line)
            except ValueError:
                continue
            if isinstance(obj, dict) and "metrics" in obj:
                return obj
    return None


def failed(result):
    return result is None or not result.get("correct") or result.get("failed", 0) > 0


def order_of(index):
    """Run order for the index-th seed: the parent goes first on even ones."""
    return ("parent", "change") if index % 2 == 0 else ("change", "parent")


def verdict(par, chg, better, bound):
    """The no-regression verdict (module doc) for one metric's runs."""
    sign = 1.0 if better == "lower" else -1.0
    pmed, cmed = percentile(par, 50), percentile(chg, 50)
    if sign * (cmed - pmed) <= bound * abs(pmed):
        return "ok"
    spread = percentile(par, 75) - percentile(par, 25)
    beats_all = all(sign * (p - c) > 0 for p in par for c in chg)
    if spread > bound * abs(pmed) and not beats_all:
        return "unresolved"
    return "worse"


def summarize(records, gated, bounds=None):
    """Per (workload, metric) figures from run records.

    `records`: dicts with workload, seed, side and result (a parsed result
    line or None). `gated`: {metric: "lower" | "higher"}. `bounds`:
    {metric: relative bound}; a metric with a bound gets a `verdict`.
    Returns a list of dicts, one per workload and metric, in first-seen
    workload order.
    """
    bounds = bounds or {}
    rows = []
    workloads = list(dict.fromkeys(r["workload"] for r in records))
    for w in workloads:
        runs = {}
        for r in records:
            if r["workload"] == w:
                runs.setdefault(r["seed"], {})[r["side"]] = r["result"]
        failures = sum(failed(res) for pair in runs.values() for res in pair.values())
        pairs = [(p["parent"], p["change"]) for _, p in sorted(runs.items())
                 if not failed(p.get("parent")) and not failed(p.get("change"))]
        for metric, better in gated.items():
            par = [p["metrics"][metric]["value"] for p, _ in pairs]
            chg = [c["metrics"][metric]["value"] for _, c in pairs]
            if not pairs:
                rows.append({"workload": w, "metric": metric, "pairs": 0,
                             "failures": failures, "holds": False})
                continue
            sign = 1.0 if better == "lower" else -1.0
            wins = sum(sign * (p - c) > 0 for p, c in zip(par, chg))
            pq = [percentile(par, q) for q in (25, 50, 75)]
            cq = [percentile(chg, q) for q in (25, 50, 75)]
            gap = sign * (pq[1] - cq[1])
            iqr = pq[2] - pq[0]
            rows.append({
                "workload": w, "metric": metric, "better": better,
                "pairs": len(pairs), "failures": failures,
                "parent_q": pq, "change_q": cq, "wins": wins,
                "gap": gap, "parent_iqr": iqr,
                "holds": failures == 0 and wins * 10 >= 9 * len(pairs) and gap > iqr,
                "verdict": (verdict(par, chg, better, bounds[metric])
                            if metric in bounds else None),
            })
    return rows


def render(rows):
    out = []
    for r in rows:
        if not r["pairs"]:
            out.append(f"{r['workload']} {r['metric']}: no complete pair "
                       f"({r['failures']} failed runs)")
            continue
        pq, cq = r["parent_q"], r["change_q"]
        out.append(
            f"{r['workload']} {r['metric']} ({r['better']} is better): "
            f"parent {pq[1]:.4g} [{pq[0]:.4g}, {pq[2]:.4g}] -> "
            f"change {cq[1]:.4g} [{cq[0]:.4g}, {cq[2]:.4g}] "
            f"({(cq[1] - pq[1]) / pq[1] * 100:+.1f}%); "
            f"change wins {r['wins']}/{r['pairs']}, gap {r['gap']:.4g} vs parent IQR "
            f"{r['parent_iqr']:.4g}, failed runs {r['failures']}; "
            f"rule {'holds' if r['holds'] else 'does not hold'}"
            + (f"; no-regression {r['verdict']}" if r["verdict"] else ""))
    return "\n".join(out)


def end_to_end(root):
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return json.load(f)["end_to_end"]


def gated_metrics(root):
    return {m["name"]: m["better"] for m in end_to_end(root)}


def metric_bounds(root):
    return {m["name"]: m["bound"] for m in end_to_end(root) if "bound" in m}


def run_one(checkout, workload, seed):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", "0"],
        cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    return result_line(proc.stdout)


def read_log(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent", nargs="?")
    ap.add_argument("change", nargs="?")
    ap.add_argument("--workload", action="append", default=[])
    ap.add_argument("--seeds", action="append", default=[],
                    help="one range list per --workload, e.g. 601-610")
    ap.add_argument("--log", help="append every run to this JSON-lines file")
    ap.add_argument("--summarize", metavar="FILE",
                    help="print the table for an earlier log; run nothing")
    a = ap.parse_args(argv)
    if a.summarize:
        root = os.path.dirname(HERE)
        print(render(summarize(read_log(a.summarize), gated_metrics(root),
                               metric_bounds(root))))
        return 0
    if not (a.parent and a.change) or len(a.workload) != len(a.seeds) or not a.workload:
        ap.error("give PARENT, CHANGE and one --seeds per --workload")
    records = []
    for workload, seeds in zip(a.workload, a.seeds):
        for i, seed in enumerate(parse_seeds(seeds)):
            for side in order_of(i):
                checkout = a.parent if side == "parent" else a.change
                rec = {"workload": workload, "seed": seed, "side": side,
                       "result": run_one(checkout, workload, seed)}
                records.append(rec)
                if a.log:
                    with open(a.log, "a") as f:
                        f.write(json.dumps(rec) + "\n")
                print(f"{workload} seed {seed} {side}: "
                      f"{'FAILED' if failed(rec['result']) else 'ok'}", flush=True)
    print(render(summarize(records, gated_metrics(a.change), metric_bounds(a.change))))
    return 0


if __name__ == "__main__":
    sys.exit(main())
