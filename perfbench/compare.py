#!/usr/bin/env python3
"""Steadiness check and parent-vs-change comparison for perfbench results.

Run from the repository root.

  collect  run the benchmark once per seed and append each result line
           to a JSON-lines file:
             python3 perfbench/compare.py collect --out a.jsonl \\
                 --workload dedup --seeds 1-10 [--trace 1]
  steady   per workload x metric: median, quartiles and the quartile
           spread as a share of the median, against the metric's bound
           in BENCHMARK.json:
             python3 perfbench/compare.py steady a.jsonl
  compare  parent vs change, per workload x metric: both medians and
           quartiles, the share of seed-matched pairs the change wins,
           and a verdict; a metric whose run-to-run spread is wider than
           its bound is reported "unresolved":
             python3 perfbench/compare.py compare parent.jsonl change.jsonl
"""
import argparse
import json
import statistics
import subprocess
import sys
from collections import defaultdict
from pathlib import Path

BENCH = Path(__file__).resolve().parent


def spec():
    return json.loads((BENCH.parent / "BENCHMARK.json").read_text())


def metric_specs():
    s = spec()
    return {m["name"]: m for m in s["end_to_end"] + s["per_layer"]}


def seeds(text):
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def collect(a):
    run_seconds = str(spec()["run_seconds"])
    with open(a.out, "a") as f:
        for seed in seeds(a.seeds):
            cmd = [sys.executable, str(BENCH / "run.py"), "--workload", a.workload,
                   "--seed", str(seed), "--seconds", run_seconds, "--trace", str(a.trace)]
            p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
            if p.returncode != 0:
                print(f"{a.workload} seed {seed}: exit {p.returncode}", file=sys.stderr)
                continue
            lines = p.stdout.strip().splitlines()
            result = json.loads(lines[-1])
            meta = json.loads(lines[-2]).get("meta") if len(lines) > 1 else None
            rec = {"workload": a.workload, "seed": seed, "trace": a.trace,
                   "meta": meta, "result": result}
            f.write(json.dumps(rec) + "\n")
            f.flush()
            m = result["metrics"]
            brief = ", ".join(f"{k}={v['value']:.4g}" for k, v in list(m.items())[:4])
            print(f"{a.workload} seed {seed}: correct={result['correct']} {brief}")


def load(path):
    """{(workload, trace): {metric: {seed: value}}} plus failure counts."""
    data = defaultdict(lambda: defaultdict(dict))
    failures = defaultdict(lambda: [0, 0])
    for line in Path(path).read_text().splitlines():
        if not line.strip():
            continue
        r = json.loads(line)
        key = (r["workload"], r["trace"])
        failures[key][0] += r["result"]["failed"]
        failures[key][1] += r["result"]["attempted"]
        for name, m in r["result"]["metrics"].items():
            data[key][name][r["seed"]] = m["value"]
    return data, failures


def quartiles(values):
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values):
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2 if q2 else 0.0


def steady(a):
    specs = metric_specs()
    data, failures = load(a.file)
    worst = 0
    for (wl, trace), metrics in sorted(data.items()):
        bad, att = failures[(wl, trace)]
        print(f"== {wl} (trace {trace}): {len(next(iter(metrics.values())))} runs, "
              f"error_rate {bad}/{att}")
        for name, by_seed in metrics.items():
            vals = list(by_seed.values())
            q1, q2, q3 = quartiles(vals)
            sp = spread(vals)
            bound = specs.get(name, {}).get("bound")
            flag = ""
            if bound is not None:
                flag = "ok" if sp < bound / 3 else ("within bound" if sp <= bound else "TOO WIDE")
                if sp > bound:
                    worst = 1
            b = "" if bound is None else f" bound {bound}"
            print(f"  {name:32s} median {q2:12.6g}  q1 {q1:12.6g}  q3 {q3:12.6g}"
                  f"  spread {sp:6.3f}{b} {flag}")
    return worst


def compare(a):
    specs = metric_specs()
    base, _ = load(a.parent)
    new, _ = load(a.change)
    for key in sorted(set(base) & set(new)):
        print(f"== {key[0]} (trace {key[1]})")
        for name in base[key]:
            if name not in new[key]:
                continue
            p, c = base[key][name], new[key][name]
            pv, cv = list(p.values()), list(c.values())
            pq, cq = quartiles(pv), quartiles(cv)
            m = specs.get(name, {})
            lower = m.get("better", "lower") == "lower"
            pairs = [(p[s], c[s]) for s in p if s in c]
            wins = sum(1 for x, y in pairs if (y < x if lower else y > x))
            win_share = wins / len(pairs) if pairs else 0.0
            bound = m.get("bound")
            if bound is None:
                verdict = ""
            else:
                worse = (cq[1] - pq[1]) / pq[1] if pq[1] else 0.0
                if not lower:
                    worse = -worse
                if spread(pv) > bound or spread(cv) > bound:
                    every = all((y < x) if lower else (y > x) for x in pv for y in cv)
                    verdict = "better (every run)" if every else "unresolved"
                elif worse > bound:
                    verdict = "WORSE"
                elif win_share >= 0.9 and -worse > (pq[2] - pq[0]) / pq[1]:
                    verdict = "better"
                else:
                    verdict = "no change"
            print(f"  {name:32s} parent {pq[1]:10.5g} [{pq[0]:.5g}, {pq[2]:.5g}]"
                  f"  change {cq[1]:10.5g} [{cq[0]:.5g}, {cq[2]:.5g}]"
                  f"  wins {win_share:4.0%}  {verdict}")


def main():
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    c = sub.add_parser("collect")
    c.add_argument("--out", required=True)
    c.add_argument("--workload", required=True)
    c.add_argument("--seeds", default="1-10")
    c.add_argument("--trace", type=int, default=0)
    s = sub.add_parser("steady")
    s.add_argument("file")
    p = sub.add_parser("compare")
    p.add_argument("parent")
    p.add_argument("change")
    a = ap.parse_args()
    if a.cmd == "collect":
        collect(a)
    elif a.cmd == "steady":
        sys.exit(steady(a))
    else:
        compare(a)


if __name__ == "__main__":
    main()
