#!/usr/bin/env python3
"""Traced-run artifact: per-layer time and metrics for every workload.

    python3 cdcbench/trace_report.py [--seed N] [--seconds S]

For each workload it runs several pairs, the benchmark untraced and then
traced on one seed, keeps the last traced run's spans, and writes

    cdcbench/results/traced/<run>.json   spans, per-layer totals, metrics
    cdcbench/results/TRACED.md           summary tables

The summary gives each layer's self time as a share of the timed wall
clock, the share covered by named spans (driver gap included) and the
unattributed Spark time, and the tracing overhead: the median over pairs
of traced over untraced value of each end-to-end metric, set beside the
untraced runs' own spread, and reported as unresolved where it lies
within that spread. Beside the two workloads of BENCHMARK.json it traces
`trickle`, and `trickle` at one core (the serial baseline). With the
default three pairs the runs take about 30 minutes on 4 cores.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "results")

# (run name, workload, extra arguments)
RUNS = [
    ("serve_mixed", "serve_mixed", []),
    ("maintained_drain", "maintained_drain", []),
    ("trickle", "trickle", []),
    ("trickle_1core", "trickle", ["--cores", "1"]),
]


def run(workload, seed, seconds, trace, extra, trace_out=None):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace)] + extra
    if trace_out:
        cmd += ["--trace-out", trace_out]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"{workload} trace={trace} failed")
    # The run record run.py appended last holds every figure.
    with open(os.path.join(HERE, "out", "runs.jsonl")) as f:
        return json.loads(f.readlines()[-1])


def fmt(v):
    if isinstance(v, float):
        return f"{v:.4g}"
    return str(v)


def spread(xs):
    """Quartile distance over the median, as the steadiness check takes it."""
    if len(xs) < 2:
        return None
    q = statistics.quantiles(xs, n=4)
    return (q[2] - q[0]) / statistics.median(xs)


def overhead_rows(pairs):
    """Per end-to-end metric: untraced median and spread, traced median,
    and the median over pairs of traced / untraced. The overhead counts
    as resolved only when that ratio lies outside 1 +/- the untraced
    spread."""
    rows = []
    for k in sorted(pairs[0][0]["e2e"]):
        u = [p["e2e"][k] for p, _ in pairs if p["e2e"].get(k) is not None]
        t = [q["e2e"][k] for _, q in pairs if q["e2e"].get(k) is not None]
        ratios = [q["e2e"][k] / p["e2e"][k] for p, q in pairs
                  if p["e2e"].get(k) and q["e2e"].get(k) is not None]
        if not u or not t or not ratios:
            continue
        r = statistics.median(ratios)
        sp = spread(u)
        verdict = ("unresolved" if sp is None or abs(r - 1) <= sp
                   else f"{r - 1:+.0%}")
        rows.append(f"| {k} | {fmt(statistics.median(u))} | "
                    f"{fmt(sp) if sp is not None else '-'} | "
                    f"{fmt(statistics.median(t))} | "
                    f"{' '.join(fmt(x) for x in ratios)} | {fmt(r)} | "
                    f"{verdict} |")
    return rows


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--pairs", type=int, default=3,
                    help="untraced/traced pairs per run, seeds seed..")
    a = ap.parse_args()
    os.makedirs(os.path.join(OUT, "traced"), exist_ok=True)
    md = ["# Traced runs", "",
          f"{a.pairs} untraced/traced pairs per run, seeds {a.seed} to "
          f"{a.seed + a.pairs - 1} (both runs of a pair on one seed, the "
          f"untraced one first), {fmt(a.seconds)} s per run. Span tables "
          "come from the last traced run. Generated by "
          "`python3 cdcbench/trace_report.py`; see README.md for how to "
          "read it.", ""]
    for name, wl, extra in RUNS:
        spans = os.path.join(OUT, "traced", f"{name}.json")
        pairs = []
        for i in range(a.pairs):
            seed = a.seed + i
            plain = run(wl, seed, a.seconds, 0, extra)
            traced = run(wl, seed, a.seconds, 1, extra, spans)
            pairs.append((plain, traced))
        dump = json.load(open(spans))
        dump["pairs"] = [{"seed": p["seed"], "untraced_e2e": p["e2e"],
                          "traced_e2e": q["e2e"],
                          "traced_attributed_share":
                              q["layers"]["trace.attributed_share"],
                          "host": {"untraced": p["host"],
                                   "traced": q["host"]}}
                         for p, q in pairs]
        with open(spans, "w") as f:
            json.dump(dump, f, indent=1, sort_keys=True)
        wall = dump["timed_wall_ms"]
        named = sum(l["self_ms"] for l in dump["layers"].values())
        shares = [q["layers"]["trace.attributed_share"] for _, q in pairs]
        md += [f"## {name}", "",
               f"Timed wall clock {wall / 1000:.2f} s. Covered by named "
               f"layer spans: {dump['attributed_share']:.1%} (their summed "
               f"self time is {named / wall:.1%} of the wall clock; "
               "concurrent spans can sum past 100%). Unattributed Spark "
               f"job time: {dump['unattributed_ms']:.0f} ms. Covered share "
               "in each traced run: "
               f"{', '.join(f'{x:.1%}' for x in shares)}.", "",
               "| layer span | calls | self ms | self share | driver gap ms "
               "| jobs | executor ms |", "|---|---|---|---|---|---|---|"]
        for n, l in sorted(dump["layers"].items(),
                           key=lambda kv: -kv[1]["self_ms"]):
            md.append(f"| {n} | {l['calls']} | {l['self_ms']:.0f} | "
                      f"{l['self_share']:.1%} | {l['driver_gap_ms']:.0f} | "
                      f"{l['jobs']} | {l['executor_ms']:.0f} |")
        md += ["", "Tracing overhead: traced / untraced per pair, its "
               "median, and the verdict. It is `unresolved` when the median "
               "ratio lies within 1 ± the untraced runs' spread (quartile "
               "distance over median).", "",
               "| metric | untraced median | untraced spread | traced median "
               "| ratio per pair | median ratio | overhead |",
               "|---|---|---|---|---|---|---|"]
        md += overhead_rows(pairs)
        md += ["", "Per-layer metrics (last traced run):", "",
               "| metric | value |", "|---|---|"]
        md += [f"| {k} | {fmt(v)} |" for k, v in sorted(dump["metrics"].items())
               if v]
        md += ["", "Host per traced run: " + "; ".join(
            f"foreign CPU {q['host']['foreign_cpu_share']:.1%}, steal "
            f"{q['host']['steal_share']:.1%}, load "
            f"{q['host']['loadavg_start']} → {q['host']['loadavg_end']}"
            for _, q in pairs) + ".", ""]
        print(f"{name}: attributed {', '.join(f'{x:.1%}' for x in shares)}",
              file=sys.stderr)
        # Rewritten after every run, so an interrupted report keeps the
        # runs that finished.
        with open(os.path.join(OUT, "TRACED.md"), "w") as f:
            f.write("\n".join(md) + "\n")


if __name__ == "__main__":
    main()
