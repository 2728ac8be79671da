"""Steadiness self-check: run each workload repeatedly, each time in a fresh
process with another seed, and report every end-to-end metric's median,
quartiles and spread (quartile distance over median) against its bound in
BENCHMARK.json.

    python3 perfbench/steady.py --runs 10 [--workload city_score ...] [--sets 2] [--trace 3]

``--sets 2`` runs the same seeds a second time; those runs find their
inputs cached, and the second set's medians are compared with the first's.
``--trace N`` adds N traced runs per workload after the untraced ones: the
tracing overhead is their median timed wall minus the median untraced wall
of this invocation, and the median of their summed layer walls must be
within 10 % of the untraced median.
Exits 1 if a run fails, a spread exceeds its bound, a second set's median
is worse than the first's by more than the bound, or the layer walls miss.
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
sys.path.insert(0, ROOT)

from perfbench.run import DIAG  # noqa: E402


def run_once(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, dict, str]:
    """One run.py process: its result, its ``run: `` line with the process's
    whole wall time added as ``run_s``, and its other output."""
    t0 = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True, timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-4000:])
        raise RuntimeError(f"{workload} seed {seed}: exit {proc.returncode}")
    diag = [json.loads(line[len(DIAG):]) for line in lines if line.startswith(DIAG)][-1]
    diag["run_s"] = round(time.perf_counter() - t0, 3)
    return json.loads(lines[-1]), diag, "\n".join(lines[:-1])


def summarize(label: str, values: dict[str, list[float]], bounds: dict[str, float]) -> dict:
    """Print each metric's median, quartiles and spread; return the medians
    and whether every spread is within its bound."""
    medians, ok = {}, True
    for name, vals in values.items():
        if len(vals) < 2:
            continue
        q1, med, q3 = statistics.quantiles(vals, n=4)
        spread = (q3 - q1) / med
        bound = bounds[name]
        flag = "" if spread <= bound / 3 else ("  > bound/3" if spread <= bound else "  > BOUND")
        ok &= spread <= bound
        medians[name] = med
        print(f"  {label} {name}: median {med:.4f}  q1 {q1:.4f}  q3 {q3:.4f}  "
              f"spread {spread:.2%}  bound {bound:.0%}{flag}", flush=True)
    return {"medians": medians, "ok": ok}


def main(argv=None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workload", action="append")
    ap.add_argument("--sets", type=int, default=1)
    ap.add_argument("--trace", type=int, default=0, metavar="N")
    args = ap.parse_args(argv)

    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    better = {m["name"]: m["better"] for m in spec["end_to_end"]}
    ok = True
    for wl in args.workload or [w["name"] for w in spec["workloads"]]:
        walls: list[float] = []
        sets = []
        for s in range(args.sets):
            values: dict[str, list[float]] = {}
            for k in range(args.runs):
                seed = args.first_seed + k
                out, diag, _ = run_once(wl, seed, spec["run_seconds"], 0)
                print(DIAG + json.dumps(diag), flush=True)
                if not out["correct"] or out["failed"]:
                    print(f"{wl} seed {seed}: output checks failed", flush=True)
                    ok = False
                    continue
                walls.append(diag["pass_s"])
                for name, m in out["metrics"].items():
                    values.setdefault(name, []).append(m["value"])
                print(f"{wl} set {s + 1} seed {seed}: " + ", ".join(
                    f"{n}={m['value']:.4f}" for n, m in out["metrics"].items()), flush=True)
            sets.append(summarize(f"{wl} set {s + 1}", values, bounds))
            ok &= sets[-1]["ok"]
        for s in sets[1:]:
            for name, med in s["medians"].items():
                first = sets[0]["medians"][name]
                worse = (first - med) / first if better[name] == "higher" else (med - first) / first
                print(f"  {wl} {name}: median moved {(med - first) / first:+.2%} from set 1"
                      + ("  > BOUND" if worse > bounds[name] else ""), flush=True)
                ok &= worse <= bounds[name]
        if args.trace and walls:
            traced = []
            for k in range(args.trace):
                out, diag, table = run_once(wl, args.first_seed + k, spec["run_seconds"], 1)
                print(table, flush=True)
                ok &= bool(out["correct"]) and not out["failed"]
                traced.append(diag)
            base = statistics.median(walls)
            wall = statistics.median(d["pass_s"] for d in traced)
            layers = statistics.median(d["layers_wall_s"] for d in traced)
            print(f"  {wl} traced x{len(traced)}: median wall {wall:.3f} s, tracing overhead "
                  f"{wall - base:+.3f} s ({(wall - base) / base:+.1%}) against the untraced median "
                  f"{base:.3f} s; median layer walls sum {layers:.3f} s = {layers / base:.1%} of it",
                  flush=True)
            ok &= abs(layers / base - 1.0) <= 0.10
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
