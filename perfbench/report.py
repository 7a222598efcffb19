"""Summaries over benchmark runs, each run a ``perfbench/run.py`` child.

    python3 perfbench/report.py spread --workload crawl_deep --seeds 1-10
    python3 perfbench/report.py layers --workload crawl_deep --seed 1

``spread`` runs the untraced benchmark once per seed and prints, per
end-to-end metric, the median, the quartiles (``statistics.quantiles``,
n=4) and the quartile distance as a share of the median, with the
sample count. ``layers`` runs one untraced and one traced run on the
same seed and prints the traced run's per-layer table, the tracing
overhead (traced end-to-end numbers minus untraced ones) and whether
round spans plus the driver gap account for the crawl wall. Both take
``--seconds`` (default: ``run_seconds`` of BENCHMARK.json).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_once(workload: str, seed: int, seconds: float, trace: int) -> dict:
    """One run's result line, plus its ``perfbench env`` stderr line
    under the key ``env``."""
    cmd = [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
           "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                         stderr=subprocess.PIPE, text=True, check=True)
    res = json.loads(out.stdout.strip().splitlines()[-1])
    env = [l for l in out.stderr.splitlines() if l.startswith("perfbench env: ")]
    res["env"] = json.loads(env[-1][len("perfbench env: "):]) if env else {}
    return res


def seeds_arg(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def spread(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"n": len(values), "median": med, "q1": q1, "q3": q3,
            "iqr_share": (q3 - q1) / med if med else float("nan")}


def cmd_spread(args) -> None:
    runs = []
    for seed in seeds_arg(args.seeds):
        res = run_once(args.workload, seed, args.seconds, 0)
        runs.append(res)
        print(f"seed {seed}: correct={res['correct']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items())
              + f" steal_share={res['env'].get('steal_share')}"
              + f" loadavg={res['env'].get('loadavg')}",
              flush=True)
    print(f"\n{args.workload}: {len(runs)} runs, "
          f"{sum(r['failed'] for r in runs)} failed of {sum(r['attempted'] for r in runs)}")
    print(f"{'metric':<16} {'unit':<5} {'n':>3} {'median':>10} {'q1':>10} {'q3':>10} "
          f"{'iqr/med':>8}")
    for name, m in runs[0]["metrics"].items():
        s = spread([r["metrics"][name]["value"] for r in runs])
        print(f"{name:<16} {m['unit']:<5} {s['n']:>3} {s['median']:>10.4g} "
              f"{s['q1']:>10.4g} {s['q3']:>10.4g} {s['iqr_share']:>8.3f}")


def cmd_layers(args) -> None:
    plain = run_once(args.workload, args.seed, args.seconds, 0)["metrics"]
    traced = run_once(args.workload, args.seed, args.seconds, 1)["metrics"]
    print(f"{args.workload}, seed {args.seed}: per-layer metrics (traced run)")
    for name, m in traced.items():
        if not name.startswith("trace."):
            print(f"  {name:<36} {m['value']:>12.4g} {m['unit']}")
    print("tracing overhead (traced - untraced):")
    for name in ("items_per_s", "work_s", "op_p50_s"):
        t, u = traced[f"trace.{name}"]["value"], plain[name]["value"]
        print(f"  {name:<12} untraced {u:10.4g}  traced {t:10.4g}  "
              f"diff {t - u:+10.4g} ({(t - u) / u:+.1%})")
    if traced["crawl.rounds"]["value"]:
        wall = traced["trace.work_s"]["value"]
        left = traced["crawl.unaccounted_s"]["value"]
        print(f"round spans (jobs + driver gap {traced['crawl.driver_gap_s']['value']:.3g} s) "
              f"account for {1 - left / wall:.2%} of the {wall:.3g} s crawl wall")


def main(argv=None) -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        default_seconds = json.load(f)["run_seconds"]
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sub = p.add_subparsers(dest="cmd", required=True)
    s = sub.add_parser("spread")
    s.add_argument("--workload", required=True)
    s.add_argument("--seeds", default="1-10")
    s.add_argument("--seconds", type=float, default=default_seconds)
    s.set_defaults(fn=cmd_spread)
    l = sub.add_parser("layers")
    l.add_argument("--workload", required=True)
    l.add_argument("--seed", type=int, default=1)
    l.add_argument("--seconds", type=float, default=default_seconds)
    l.set_defaults(fn=cmd_layers)
    args = p.parse_args(argv)
    args.fn(args)


if __name__ == "__main__":
    main()
