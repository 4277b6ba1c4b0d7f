"""Record the small event log the reducer tests read.

    python3 erbench/tests/record_eventlog.py

Runs a tiny ``local[2]`` session: a parquet write, a grouped read (one
shuffle) and two jobs submitted from a thread pool, then keeps only the
event kinds the reducer reads and writes them, with the time windows of
each step, under ``erbench/tests/data/``.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import tempfile
import time
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
KEEP = ("SparkListenerJobStart", "SparkListenerStageCompleted",
        "SparkListenerTaskEnd")


def main() -> int:
    from pyspark.sql import SparkSession

    tmp = tempfile.mkdtemp(prefix="erbench_eventlog_")
    try:
        spark = (
            SparkSession.builder.master("local[2]")
            .config("spark.ui.enabled", "false")
            .config("spark.sql.shuffle.partitions", "2")
            .config("spark.sql.adaptive.enabled", "false")
            .config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.dir", "file://" + tmp)
            .getOrCreate()
        )
        windows = {}

        def step(name, fn):
            t0 = time.time()
            fn()
            windows[name] = [t0, time.time()]

        path = os.path.join(tmp, "t.parquet")
        step("write", lambda: spark.range(1000).selectExpr(
            "id", "id % 7 AS k").write.parquet(path))
        step("group", lambda: spark.read.parquet(path).groupBy("k")
             .count().collect())

        def pool():
            with ThreadPoolExecutor(2) as ex:
                futs = [ex.submit(spark.range(100 * (j + 1)).count)
                        for j in range(2)]
                for f in futs:
                    f.result()

        step("pool", pool)
        spark.stop()
        src = glob.glob(os.path.join(tmp, "eventlog_v2_*", "events_*"))[0]
        out_dir = os.path.join(HERE, "data", "eventlog_v2_recorded")
        shutil.rmtree(out_dir, ignore_errors=True)
        os.makedirs(out_dir)
        with open(src) as fin, open(
                os.path.join(out_dir, "events_1_recorded"), "w") as fout:
            for line in fin:
                ev = json.loads(line)
                if ev["Event"] not in KEEP:
                    continue
                ev.pop("Properties", None)
                ev.pop("Stage Infos", None)
                for key in ("Task Info", "Stage Info"):
                    ev.get(key, {}).pop("Accumulables", None)
                    ev.get(key, {}).pop("RDD Info", None)
                fout.write(json.dumps(ev) + "\n")
        with open(os.path.join(HERE, "data", "windows.json"), "w") as fh:
            json.dump(windows, fh, indent=1)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
