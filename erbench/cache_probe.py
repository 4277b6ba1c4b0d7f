"""LogicV2 compares/s on fresh pairs against replicated pairs.

    python3 erbench/cache_probe.py [--seed 1]

``bench.py`` reports matcher compares/s over its pair frame replicated
at least 20 times, so all but the first copy of every name hits the
Python workers' ``lru_cache``s in ``matching/names_v2.py`` and
``matching/translit.py``. This probe assembles the candidate pairs of
two fresh ``xref`` shards, warms up on the first, then times LogicV2
over (a) the second shard's pairs once and (b) the same pairs
replicated ``REPL`` times, the ``bench.py`` way. It prints one JSON
line with both rates.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
from common import cpus, prepare_workdir, start_session, stop_session  # noqa: E402
from wl_xref import MAX_PAIRS, N_BASE  # noqa: E402

REPL = 20      # bench.py replicates its pair frame at least this often


def assembled_pairs(spark, path: str):
    """The frame ``xref_pairs`` hands to LogicV2 for one shard, kept by
    swapping the registered scorer for one that records its input."""
    import nomenklatura_spark.matching as matching
    from nomenklatura_spark.plans.xref import XrefOptions, xref_pairs
    from nomenklatura_spark.sources.entity_json import read_entity_file

    kept = []
    scorer = matching.ALGORITHMS["logic-v2"]

    def keep(frame):
        kept.append(frame)
        return scorer(frame)

    matching.ALGORITHMS["logic-v2"] = keep
    try:
        xref_pairs(spark, read_entity_file(spark, path), options=XrefOptions(
            algorithm="logic-v2", max_pairs=MAX_PAIRS))
    finally:
        matching.ALGORITHMS["logic-v2"] = scorer
    return kept[0].localCheckpoint(eager=True)


def rate(frame) -> tuple[int, float]:
    from nomenklatura_spark.matching.names_v2 import score_pairs_logic_v2

    n = frame.count()
    t0 = time.time()
    score_pairs_logic_v2(frame).select("score").write.format("noop").mode(
        "overwrite").save()
    return n, n / (time.time() - t0)


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--seed", type=int, default=1)
    args = p.parse_args()
    work = prepare_workdir(f"cache_probe-{args.seed}")
    spark = start_session(work)
    try:
        frames = []
        for unit in (0, 1):
            path = os.path.join(work, "data", f"shard{unit}.jsonl")
            gen.xref_shard(args.seed, unit, path, N_BASE)
            frames.append(assembled_pairs(spark, path))
        rate(frames[0])                                  # warm-up
        n_fresh, fresh = rate(frames[1].coalesce(cpus()))
        replicated = (
            frames[1].crossJoin(spark.range(REPL).withColumnRenamed(
                "id", "_rep")).drop("_rep").coalesce(cpus())
            .localCheckpoint(eager=True)
        )
        n_repl, repl = rate(replicated)
        print(json.dumps({
            "fresh_pairs": n_fresh, "fresh_pairs_per_s": round(fresh, 1),
            "replicated_pairs": n_repl,
            "replicated_pairs_per_s": round(repl, 1),
            "ratio": round(repl / fresh, 2),
            "cpus": cpus(),
        }))
    finally:
        stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
