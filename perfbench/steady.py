#!/usr/bin/env python3
"""Steadiness protocol: run the benchmark once per seed on each
workload, as BENCHMARK.json's command, and summarise every end-to-end
metric by its median and quartiles.

    python3 perfbench/steady.py --label set1 --seeds 1-10
    python3 perfbench/steady.py --label set2 --seeds 11-20 --workloads prepare_corpus

Run from the root of a checkout. Each set is stored under its label in
perfbench/steadiness.json (runs, per-metric median/q1/q3/spread, and the
wall time of every run); the spread is (q3 - q1) / median with
``statistics.quantiles(values, n=4)``. STEADINESS.md is rewritten from
the record after each workload; it also compares every later set's
medians with the first set's, which may not be worse by more than the
metric's bound.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RECORD = os.path.join(HERE, "steadiness.json")


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def summarise(runs: list[dict], bench: dict) -> dict:
    out = {}
    for m in bench["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for r in runs]
        q1, med, q3 = statistics.quantiles(vals, n=4)
        out[m["name"]] = {"median": med, "q1": q1, "q3": q3,
                          "spread": (q3 - q1) / med if med else 0.0,
                          "bound": m["bound"], "values": vals}
    return out


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--label", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", nargs="*",
                    default=[w["name"] for w in bench["workloads"]])
    args = ap.parse_args()
    record = {}
    if os.path.exists(RECORD):
        with open(RECORD) as f:
            record = json.load(f)
    sets = record.setdefault("sets", {})
    this = sets.setdefault(args.label, {})
    for wl in args.workloads:
        runs, walls = [], []
        for seed in seeds(args.seeds):
            cmd = bench["command"] + ["--workload", wl, "--seed", str(seed), "--seconds",
                                      str(bench["run_seconds"]), "--trace", "0"]
            t = time.time()
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            walls.append(time.time() - t)
            if p.returncode != 0:
                sys.stderr.write(p.stderr[-3000:])
                raise SystemExit(f"{wl} seed {seed}: exit {p.returncode}")
            res = json.loads(p.stdout.strip().splitlines()[-1])
            res["seed"] = seed
            res["samples"] = [line for line in p.stderr.splitlines()
                              if line.startswith(("host:", "set-up:", "call "))]
            runs.append(res)
            print(f"{wl} seed={seed} wall={walls[-1]:.1f}s correct={res['correct']} "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
                  flush=True)
        summary = summarise(runs, bench)
        this[wl] = {"runs": runs, "run_walls": walls, "summary": summary}
        for name, s in summary.items():
            print(f"  {wl} {name}: median {s['median']:.4g} spread {s['spread']:.3f} "
                  f"(bound {s['bound']})", flush=True)
        with open(RECORD, "w") as f:
            json.dump(record, f, indent=1)
        render(record, bench)
    return 0


def render(record: dict, bench: dict) -> None:
    """Write STEADINESS.md from the stored sets."""
    n_wl = len(bench["workloads"])
    lines = ["# Steadiness record", "",
             "Generated by `steady.py` from `steadiness.json`. Spread is "
             "(q3 - q1) / median over the set's runs, one run per seed. Every "
             "spread but `setup_s`'s must stay within the metric's bound and "
             "should stay under a third of it; a later set's median may not be "
             "worse than the first set's by more than the bound.", ""]
    sets = record["sets"]
    first = next(iter(sets))
    for label, by_wl in sets.items():
        for wl, data in by_wl.items():
            runs = data["runs"]
            walls = data["run_walls"]
            lines += [f"## {label} / {wl}", "",
                      f"{len(runs)} runs, seeds {runs[0]['seed']}-{runs[-1]['seed']}, "
                      f"failed calls {sum(r['failed'] for r in runs)} of "
                      f"{sum(r['attempted'] for r in runs)}; run wall median "
                      f"{statistics.median(walls):.1f} s, max {max(walls):.1f} s "
                      f"(x {4 + 22 * n_wl} runs of a full evaluation = "
                      f"{(4 + 22 * n_wl) * statistics.median(walls):.0f} s)", "",
                      "| metric | median | q1 | q3 | spread | bound | spread <= bound/3 |"
                      + (" median vs " + first + " |" if label != first else ""),
                      "|---|---:|---:|---:|---:|---:|---|"
                      + ("---:|" if label != first else "")]
            for m in bench["end_to_end"]:
                s = data["summary"][m["name"]]
                row = (f"| {m['name']} | {s['median']:.4g} | {s['q1']:.4g} | {s['q3']:.4g} "
                       f"| {s['spread']:.3f} | {m['bound']} "
                       f"| {'yes' if s['spread'] <= m['bound'] / 3 else 'no'} |")
                base = sets[first].get(wl)
                if label != first and base is not None:
                    m0 = base["summary"][m["name"]]["median"]
                    worse = ((s["median"] - m0) if m["better"] == "lower"
                             else (m0 - s["median"])) / m0
                    row += f" {worse:+.3f} worse |"
                lines.append(row)
            lines += ["", "Per-run samples (set-up phases, then each timed call):", "",
                      "```"]
            for r in runs:
                lines += [f"seed {r['seed']}:"] + [f"  {x}" for x in r["samples"]]
            lines += ["```", ""]
    with open(os.path.join(HERE, "STEADINESS.md"), "w") as f:
        f.write("\n".join(lines))


if __name__ == "__main__":
    sys.exit(main())
