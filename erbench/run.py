"""Entity-resolution benchmark: one run of one workload.

    python3 erbench/run.py --workload xref --seed 1 --seconds 15 --trace 0

Starts ``local[nproc]`` through the package's ``get_spark`` with the event
log on, sets up the workload (its warm-up is discarded), then runs whole
rounds of units until ``--seconds`` have passed. The last line of
standard output is one JSON object: ``correct``, ``attempted`` (units),
``failed`` (units that raised) and ``metrics`` — the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``. A traced
``ingest`` run ends with one cold pass over two producer rows
(``producers.py``). Everything the run writes stays under
``.erbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from checks import CheckFailed  # noqa: E402
from common import (  # noqa: E402
    Tracer, die, median, prepare_workdir, start_session, stop_session,
)
from eventlog import read_jobs, window_counters  # noqa: E402
from procstat import RssSampler  # noqa: E402
from producers import ROWS, producer_pass  # noqa: E402

WORKLOADS = ("xref", "ingest")
E2E = {
    "setup_s": "s", "unit_s_p50": "s", "items_per_s": "1/s", "cpu_s": "s",
    "spark_jobs": "count", "shuffle_bytes": "B", "scan_bytes": "B",
    "bytes_written": "B", "recall": "ratio",
}
_XREF_LAYER = {
    "read.wall_s": "s", "tokenize.wall_s": "s", "tokenize.rows_out": "count",
    "blocker.wall_s": "s", "blocker.jobs": "count",
    "blocker.shuffle_bytes": "B", "blocker.pairs_out": "count",
    "blocker.planted_share": "ratio", "pairs.wall_s": "s",
    "pairs.shuffle_bytes": "B", "matching.wall_s": "s",
    "matching.pairs_per_s": "1/s", "matching.tasks": "count",
    "matching.busy_cores": "cores", "resolver.wall_s": "s",
    "resolver.jobs": "count", "linker.wall_s": "s",
    "linker.bytes_written": "B",
}
_INDEX_LAYER = {
    f"{ix}.{m}": unit
    for ix in ("dedup_index", "media_index", "blocking_index")
    for m, unit in (
        ("fold_s", "s"), ("jobs", "count"), ("shuffle_bytes", "B"),
        ("scan_bytes", "B"), ("bytes_written", "B"),
        ("files_linked", "count"), ("files_rewritten", "count"),
        ("state_bytes", "B"), ("serve_s", "s"),
    )
}
_PRODUCER_LAYER = {
    f"{layer}.{m}": unit
    for layer, _ in ROWS
    for m, unit in (("wall_s", "s"), ("jobs", "count"),
                    ("shuffle_bytes", "B"), ("cpu_s", "s"))
} | {"ann_pq.recall": "ratio"}
_SESSION_LAYER = {
    "session.start_s": "s", "session.warmup_s": "s",
    "session.peak_rss_bytes": "B", "trace.overhead_ratio": "ratio",
    "trace.coverage": "ratio",
}
PER_LAYER = {**_XREF_LAYER, **_INDEX_LAYER, **_PRODUCER_LAYER,
             **_SESSION_LAYER}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def make_workload(name: str, spark, work: str, seed: int, tracer):
    if name == "xref":
        from wl_xref import XrefWorkload
        return XrefWorkload(spark, work, seed, tracer)
    from wl_ingest import IngestWorkload
    return IngestWorkload(spark, work, seed, tracer)


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        import nomenklatura_spark  # noqa: F401
    except ImportError as exc:
        die(f"the package under test is not importable: {exc}")
    work = prepare_workdir(f"{args.workload}-{args.seed}-{args.trace}")
    tracer = Tracer(enabled=bool(args.trace))
    correct, failed, i = True, 0, 0
    setup_s = None
    with RssSampler() as rss:
        t0 = time.time()
        spark = start_session(work)
        spark.range(1).count()
        start_s = time.time() - t0
        wl = make_workload(args.workload, spark, work, args.seed, tracer)
        try:
            wl.setup()
            setup_s = time.time() - t0
            # where tracing changes the plan, run untraced and traced units
            # in the order A B B A (the walls still fall unit by unit
            # after the warm-up, and this order cancels a linear drift),
            # so one run also gives the tracing overhead
            alternate = args.trace and wl.trace_changes_plan
            window0, i = time.time(), 0
            while True:
                for _ in range(wl.round_units):
                    traced = bool(args.trace) and (
                        not alternate or i % 4 in (1, 2))
                    try:
                        wl.unit(i, traced=traced)
                    except CheckFailed:
                        raise
                    except Exception:       # a unit that fails is counted
                        traceback.print_exc()
                        failed += 1
                    i += 1
                if time.time() - window0 >= args.seconds and (
                        not alternate or i % 4 == 0):
                    break
            wl.finish()
            if args.trace and args.workload == "ingest":
                # the producer rows have no timed workload (producers.py)
                producer_pass(spark, work, args.seed, tracer)
        except CheckFailed as exc:
            print(f"erbench: check failed: {exc}", file=sys.stderr)
            correct = False
            if setup_s is None:         # the check failed in the set-up
                setup_s = time.time() - t0
        finally:
            stop_session(spark)
    jobs = read_jobs(os.path.join(work, "eventlog"))
    shutil.rmtree(work, ignore_errors=True)
    if args.trace:
        metrics = layer_metrics(wl, tracer, jobs, start_s,
                                setup_s - start_s, rss.peak_bytes)
        table = PER_LAYER
    else:
        metrics = e2e_metrics(wl, tracer, jobs, setup_s)
        table = E2E
    print(json.dumps({
        "correct": correct,
        "attempted": i,
        "failed": failed,
        "metrics": {k: {"value": metrics.get(k, 0), "unit": u}
                    for k, u in table.items()},
    }))
    return 0


def _unit_spans(tracer: Tracer) -> list[tuple[int, list[int]]]:
    """(unit span index, indexes of the spans recorded inside it) of the
    units that ran to their end: a unit records its item count last,
    after its checks, so one that raised has none and is left out."""
    spans = tracer.spans
    out = []
    for u, s in enumerate(spans):
        if s.name == "unit" and "items" in s.counts:
            end = next((k for k in range(u + 1, len(spans))
                        if spans[k].start >= s.end), len(spans))
            out.append((u, list(range(u + 1, end))))
    return out


def e2e_metrics(wl, tracer: Tracer, jobs, setup_s: float) -> dict:
    timed = [tracer.spans[u] for u, _ in _unit_spans(tracer)
             if tracer.spans[u].counts["unit"] >= 0]     # no warm-up
    if not timed:
        return {"setup_s": setup_s}
    per_unit = [window_counters(jobs, s.start, s.end) for s in timed]
    walls = [s.wall for s in timed]
    return {
        "setup_s": setup_s,
        "unit_s_p50": median(walls),
        "items_per_s": sum(s.counts["items"] for s in timed) / sum(walls),
        "cpu_s": median(s.counts["cpu_s"] for s in timed),
        "spark_jobs": median(c["jobs"] for c in per_unit),
        "shuffle_bytes": median(c["shuffle_write_bytes"] for c in per_unit),
        "scan_bytes": median(c["input_bytes"] for c in per_unit),
        "bytes_written": median(c["output_bytes"] for c in per_unit),
        "recall": wl.recall(),
    }


def layer_metrics(wl, tracer: Tracer, jobs, start_s: float,
                  warmup_s: float, peak_rss: int) -> dict:
    spans = tracer.spans
    plain, traced = [], []
    per_unit: list[dict] = []
    for u, kids in _unit_spans(tracer):
        unit_no = spans[u].counts["unit"]
        if unit_no < 0:
            continue
        if not spans[u].counts["traced"]:
            plain.append(spans[u].wall)
            continue
        traced.append(spans[u].wall)
        vals: dict[str, float] = {}
        by_layer: dict[str, list] = {}
        for k in kids:
            by_layer.setdefault(spans[k].name, []).append(spans[k])
        for layer, group in by_layer.items():
            c = _sum_windows(jobs, group)
            wall = sum(s.wall for s in group)
            if layer.endswith(".fold"):
                ix = layer[:-5]
                vals.update({
                    f"{ix}.fold_s": wall, f"{ix}.jobs": c["jobs"],
                    f"{ix}.shuffle_bytes": c["shuffle_write_bytes"],
                    f"{ix}.scan_bytes": c["input_bytes"],
                    f"{ix}.bytes_written": c["output_bytes"],
                    **{f"{ix}.{k}": v
                       for k, v in wl.unit_info[unit_no][ix].items()},
                })
            elif layer.endswith(".serve"):
                vals[f"{layer[:-6]}.serve_s"] = wall
            else:
                vals[f"{layer}.wall_s"] = wall
                vals[f"{layer}.jobs"] = c["jobs"]
                vals[f"{layer}.shuffle_bytes"] = c["shuffle_write_bytes"]
                vals[f"{layer}.bytes_written"] = c["output_bytes"]
                vals[f"{layer}.tasks"] = c["tasks"]
                vals[f"{layer}.busy_cores"] = c["task_run_s"] / max(wall, 1e-9)
        info = wl.unit_info.get(unit_no, {})
        if "pairs_out" in info:
            vals["blocker.pairs_out"] = info["pairs_out"]
            vals["blocker.planted_share"] = info["planted_share"]
            vals["tokenize.rows_out"] = info["rows_out"]
            vals["matching.pairs_per_s"] = (
                info["pairs_out"] / max(vals.get("matching.wall_s", 0), 1e-9))
        # layer spans do not overlap, so this is the layers' share of the
        # unit wall (one minus the unit's own self time)
        covered = sum(spans[k].wall for k in kids if spans[k].parent == u)
        vals["trace.coverage"] = covered / max(spans[u].wall, 1e-9)
        per_unit.append(vals)
    out = {k: median(v.get(k, 0) for v in per_unit) for k in PER_LAYER}
    for s in spans:
        if s.parent is None and s.name in dict(ROWS):
            c = window_counters(jobs, s.start, s.end)
            out.update({
                f"{s.name}.wall_s": s.wall, f"{s.name}.jobs": c["jobs"],
                f"{s.name}.shuffle_bytes": c["shuffle_write_bytes"],
                f"{s.name}.cpu_s": s.counts["cpu_s"],
            })
            if "recall" in s.counts:
                out[f"{s.name}.recall"] = s.counts["recall"]
    out.update({
        "session.start_s": start_s,
        "session.warmup_s": warmup_s,
        "session.peak_rss_bytes": peak_rss,
        "trace.overhead_ratio":
            sum(traced) / sum(plain) - 1 if plain else 0.0,
    })
    return out


def _sum_windows(jobs, spans) -> dict:
    total: dict = {}
    for s in spans:
        for k, v in window_counters(jobs, s.start, s.end).items():
            total[k] = total.get(k, 0) + v
    return total


if __name__ == "__main__":
    sys.exit(main())
