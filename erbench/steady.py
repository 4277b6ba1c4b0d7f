"""Steadiness check: run each workload in two sets and compare.

    python3 erbench/steady.py --runs 10 [--workloads xref ingest]

Each run is ``run.py --trace 0`` with its own seed (set ``s``, run ``r``
gets seed ``1000 * s + r + 1``). The runs' results go to
``.erbench_work/steady.json``. For every end-to-end metric it prints,
per set, the median and quartiles (``statistics.quantiles(n=4)``), the
spread ``(Q3 - Q1) / median`` against the metric's bound in
``BENCHMARK.json``, and how far the second set's median moved from the
first's in the metric's worse direction. It also prints the failed
share of each set and the wall time of each run. Use it to set the
bounds and to re-prove them after a change to the benchmark.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
SETS = 2
OUT = os.path.join(ROOT, ".erbench_work", "steady.json")


def one_run(spec: dict, workload: str, seed: int) -> tuple[dict, float]:
    cmd = spec["command"] + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(spec["run_seconds"]), "--trace", "0",
    ]
    t0 = time.time()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                          timeout=180, check=False)
    wall = time.time() - t0
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed}: exit {proc.returncode}")
    return json.loads(proc.stdout.strip().splitlines()[-1]), wall


def spread(values: list[float]) -> tuple[float, float, float, float]:
    """(median, Q1, Q3, (Q3 - Q1) / median)."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--workloads", nargs="*")
    args = p.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    workloads = args.workloads or [w["name"] for w in spec["workloads"]]
    results: dict = {}
    ok = True
    for w in workloads:
        sets = []
        for s in range(SETS):
            runs = []
            for r in range(args.runs):
                res, wall = one_run(spec, w, 1000 * s + r + 1)
                res["wall_s"] = wall
                runs.append(res)
                print(f"{w} set {s} run {r}: {wall:.1f} s "
                      f"correct={res['correct']}", file=sys.stderr)
            sets.append(runs)
        results[w] = sets
        print(f"\n== {w}")
        shares = [sum(r["failed"] for r in runs)
                  / sum(r["attempted"] for r in runs) for runs in sets]
        print(f"failed share per set: {shares}   run walls (s): "
              + " ".join(f"{r['wall_s']:.0f}" for runs in sets for r in runs))
        ok &= all(r["correct"] for runs in sets for r in runs)
        ok &= len(set(shares)) == 1
        for m in spec["end_to_end"]:
            name, bound = m["name"], m["bound"]
            stats = [spread([r["metrics"][name]["value"] for r in runs])
                     for runs in sets]
            base, last = stats[0][0], stats[1][0]
            worse = ((last - base) if m["better"] == "lower"
                     else (base - last)) / base if base else float("inf")
            cells = "  ".join(f"med {md:.4g} q1 {q1:.4g} q3 {q3:.4g} "
                              f"spread {sp:.3f}" for md, q1, q3, sp in stats)
            flag = ""
            if any(sp > bound for *_, sp in stats):
                flag += " SPREAD>BOUND"
            if worse > bound:
                flag += " DRIFT>BOUND"
            ok &= not flag
            print(f"{name:14s} bound {bound:.3f}  {cells}  "
                  f"drift {worse:+.3f}{flag}")
    os.makedirs(os.path.dirname(OUT), exist_ok=True)
    with open(OUT, "w") as fh:
        json.dump(results, fh)
    print("\nsteady" if ok else "\nNOT steady")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
