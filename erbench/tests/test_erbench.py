"""Tests of the benchmark's own parts: the event-log reducer, the /proc
sampler, the independent checks and the seeded generators.

    python3 -m pytest erbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
from eventlog import read_jobs, window_counters  # noqa: E402
from procstat import RssSampler, tree_stats  # noqa: E402

DATA = os.path.join(HERE, "data")


# -- event-log reducer on the recorded log ----------------------------------

@pytest.fixture(scope="module")
def recorded():
    with open(os.path.join(DATA, "windows.json")) as fh:
        windows = json.load(fh)
    return read_jobs(DATA), windows


def test_recorded_log_attributes_every_step(recorded):
    jobs, windows = recorded
    per_step = {k: window_counters(jobs, *w) for k, w in windows.items()}
    assert per_step["write"]["jobs"] >= 1
    assert per_step["write"]["output_bytes"] > 0
    assert per_step["group"]["input_bytes"] > 0
    assert per_step["group"]["shuffle_write_bytes"] > 0
    assert per_step["group"]["shuffle_read_bytes"] > 0
    # jobs from a thread pool carry no job group; they are still found
    assert per_step["pool"]["jobs"] == 2
    for c in per_step.values():
        assert c["tasks"] >= c["jobs"]
        assert c["executor_cpu_s"] > 0


def test_recorded_log_windows_partition_the_jobs(recorded):
    jobs, windows = recorded
    lo = min(w[0] for w in windows.values())
    hi = max(w[1] for w in windows.values())
    total = window_counters(jobs, lo, hi)
    parts = [window_counters(jobs, *w) for w in windows.values()]
    assert total["jobs"] == sum(p["jobs"] for p in parts) == len(jobs)
    assert total["tasks"] == sum(p["tasks"] for p in parts)


# -- event-log reducer on a hand-made log -----------------------------------

def _write_log(tmp_path, events):
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    # two rolled files, read in index order
    half = len(events) // 2
    for n, chunk in ((1, events[:half]), (2, events[half:])):
        (app / f"events_{n}_local-1").write_text(
            "".join(json.dumps(e) + "\n" for e in chunk))
    return str(tmp_path)


def _task(stage, run_ms=10, cpu_ns=5_000_000, shuffle_w=0, inp=0, out=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Metrics": {
                "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns,
                "Shuffle Read Metrics": {"Remote Bytes Read": 0,
                                         "Local Bytes Read": 3},
                "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_w},
                "Input Metrics": {"Bytes Read": inp},
                "Output Metrics": {"Bytes Written": out},
                "Disk Bytes Spilled": 0}}


def test_handmade_log_counts_exactly(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0,
         "Submission Time": 1_000, "Stage IDs": [0, 1]},
        _task(0, shuffle_w=100, inp=50),
        _task(0, shuffle_w=100, inp=50),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
        _task(1, out=7),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1}},
        # job 1 lists the already-run stage 0 (skipped) and runs stage 2
        {"Event": "SparkListenerJobStart", "Job ID": 1,
         "Submission Time": 2_000, "Stage IDs": [0, 2]},
        {"Event": "SparkListenerSQLExecutionStart", "physicalPlanDescription":
         "x" * 100},
        _task(2, run_ms=30, cpu_ns=20_000_000),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 2}},
    ]
    jobs = read_jobs(_write_log(tmp_path, events))
    assert [j.job_id for j in jobs] == [0, 1]
    first = window_counters(jobs, 0.5, 1.5)
    assert first["jobs"] == 1 and first["stages"] == 2 and first["tasks"] == 3
    assert first["shuffle_write_bytes"] == 200
    assert first["input_bytes"] == 100 and first["output_bytes"] == 7
    assert first["shuffle_read_bytes"] == 9
    assert first["executor_cpu_s"] == pytest.approx(0.015)
    second = window_counters(jobs, 1.5, 2.5)
    assert second["jobs"] == 1 and second["tasks"] == 1
    assert second["task_run_s"] == pytest.approx(0.03)
    # windows are half-open: a job submitted at the end is not inside
    assert window_counters(jobs, 0.0, 1.0)["jobs"] == 0


# -- /proc sampler ----------------------------------------------------------

def _fake_stat(pid, ppid, ticks, rss_pages, comm="java (x)"):
    # fields after the command: state ppid ... utime(14) stime cutime cstime
    # ... rss(24); build them positionally
    rest = ["S", str(ppid)] + ["0"] * 9 + [str(t) for t in ticks] \
        + ["0"] * 6 + [str(rss_pages)] + ["0"] * 20
    return f"{pid} ({comm}) " + " ".join(rest)


def test_tree_stats_sums_only_the_tree(tmp_path):
    procs = {1: (0, (1, 1, 0, 0), 10), 10: (1, (100, 50, 25, 25), 1000),
             11: (10, (30, 20, 0, 0), 500), 12: (11, (5, 5, 0, 0), 100),
             99: (1, (999, 999, 0, 0), 9999)}
    for pid, (ppid, ticks, rss) in procs.items():
        (tmp_path / str(pid)).mkdir()
        (tmp_path / str(pid) / "stat").write_text(_fake_stat(pid, ppid, ticks, rss))
    (tmp_path / "self").mkdir()
    got = tree_stats(root=10, proc=str(tmp_path))
    tick, page = os.sysconf("SC_CLK_TCK"), os.sysconf("SC_PAGE_SIZE")
    assert got["pids"] == 3
    assert got["cpu_s"] == pytest.approx((200 + 50 + 10) / tick)
    assert got["rss_bytes"] == (1000 + 500 + 100) * page


def test_tree_stats_sees_a_busy_child():
    before = tree_stats()
    child = subprocess.Popen(
        [sys.executable, "-c",
         "import time\nt=time.process_time()\n"
         "while time.process_time()-t<0.5: pass\ntime.sleep(5)"])
    try:
        deadline = time.time() + 10
        while time.time() < deadline:
            during = tree_stats()
            if during["cpu_s"] - before["cpu_s"] >= 0.4:
                break
            time.sleep(0.1)
        assert during["pids"] > before["pids"]
        assert during["cpu_s"] - before["cpu_s"] >= 0.4
    finally:
        child.kill()
        child.wait(timeout=10)


def test_rss_sampler_records_a_peak():
    with RssSampler() as s:
        time.sleep(0.2)
    assert s.peak_bytes > 0


# -- independent checks -----------------------------------------------------

def test_union_find_matches_mapping_partition():
    pairs = [("a", "b"), ("b", "c"), ("x", "y")]
    assert checks.union_find_partition(pairs) == {
        frozenset("abc"), frozenset("xy")}
    rows = [("a", "K1"), ("b", "K1"), ("c", "K1"), ("x", "K2"), ("y", "K2")]
    assert checks.mapping_partition(rows) == checks.union_find_partition(pairs)


def test_exact_jaccard_pairs():
    base = " ".join(f"w{i}" for i in range(20))
    docs = {1: base, 2: base.replace("w10", "zz"), 3: "q r s t u v"}
    got = checks.exact_jaccard_pairs(docs, 3, 0.5)
    assert got == {(1, 2)}
    assert checks.exact_jaccard_pairs(docs, 3, 0.9) == set()


def test_rows_equal_reports_the_difference():
    checks.rows_equal("same", [(1, "a"), (1, "a")], [(1, "a"), (1, "a")])
    with pytest.raises(checks.CheckFailed, match="1 missing"):
        checks.rows_equal("short", [(1, "a")], [(1, "a"), (1, "a")])


def test_exact_topk_recall():
    ids = [10, 11, 12, 13]
    vecs = [[1, 0], [0.9, 0.1], [0, 1], [0.1, 0.9]]
    exact = {10: {11}, 11: {10}, 12: {13}, 13: {12}}
    assert checks.exact_topk_recall(ids, vecs, exact, ids, 1) == 1.0
    half = {10: {11}, 12: {10}}
    assert checks.exact_topk_recall(ids, vecs, half, [10, 12], 1) == 0.5


# -- seeded generators ------------------------------------------------------

def test_xref_shard_is_a_function_of_seed_and_unit(tmp_path):
    a, b, c = (tmp_path / n for n in ("a", "b", "c"))
    ta = gen.xref_shard(7, 0, str(a), 50)
    tb = gen.xref_shard(7, 0, str(b), 50)
    tc = gen.xref_shard(7, 1, str(c), 50)
    assert a.read_bytes() == b.read_bytes() and ta == tb
    ids_a = {json.loads(x)["id"] for x in a.read_text().splitlines()}
    ids_c = {json.loads(x)["id"] for x in c.read_text().splitlines()}
    assert not ids_a & ids_c
    assert len(ids_a) == len(ids_c) == 50 + 2 * 15
    assert len(ta) == 15
    assert ta and all(p[0] in ids_a and p[1] in ids_a for p in ta)


def test_producer_tables_are_a_function_of_seed(tmp_path):
    import pyarrow.parquet as pq

    for name in ("a", "b"):
        gen.producer_tables(5, str(tmp_path / name), 30, 40)
    for table in ("documents", "embeddings"):
        a, b = (pq.read_table(tmp_path / n / f"{table}.parquet")
                for n in ("a", "b"))
        assert a.equals(b)
    assert pq.read_table(tmp_path / "a" / "embeddings.parquet").num_rows == 40


def test_cyrillic_spelling():
    assert gen.to_cyrillic("Shakov") == "шаков"


def test_ingest_sequence_replays_and_tracks_the_live_corpus():
    s1, s2 = gen.IngestSequence(3, 20, 8), gen.IngestSequence(3, 20, 8)
    for b in range(3):
        assert s1.batch(b) == s2.batch(b)
    assert len(s1.docs) == 20 + 2 * 8
    assert len(s1.assets) == 2 * len(s1.docs)
    assert s1.media_truth == {(2 * i, 2 * i + 1) for i in s1.docs}


# -- the run loop -------------------------------------------------------------

class _FakeSpark:
    def range(self, n):
        return self

    def count(self):
        return 1


class _OneUnitFails:
    """Two units a round; unit 1 raises inside its span."""
    round_units = 2
    trace_changes_plan = False

    def __init__(self, spark, work, seed, tracer):
        self.tracer = tracer
        self.unit_info = {}

    def setup(self):
        self.unit(-1)

    def unit(self, i, traced=False):
        with self.tracer.span("unit", always=True, cpu=True) as span:
            span.counts.update(unit=i, traced=traced)
            if i == 1:
                raise RuntimeError("planted unit failure")
        self.unit_info[i] = {}
        span.counts["items"] = 3
        return 3

    def finish(self):
        pass

    def recall(self):
        return 1.0


@pytest.mark.parametrize("trace", [0, 1])
def test_a_unit_that_raises_is_counted_and_left_out(
        trace, tmp_path, monkeypatch, capsys):
    def workdir(name):
        os.makedirs(tmp_path / name / "eventlog")
        return str(tmp_path / name)

    monkeypatch.setattr(run, "prepare_workdir", workdir)
    monkeypatch.setattr(run, "start_session", lambda work: _FakeSpark())
    monkeypatch.setattr(run, "stop_session", lambda spark: None)
    monkeypatch.setattr(run, "read_jobs", lambda path: [])
    monkeypatch.setattr(run, "make_workload",
                        lambda name, *args: _OneUnitFails(*args))
    assert run.main(["--workload", "xref", "--seed", "1", "--seconds", "0",
                     "--trace", str(trace)]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert (out["correct"], out["attempted"], out["failed"]) == (True, 2, 1)
    metrics = {k: v["value"] for k, v in out["metrics"].items()}
    if trace:
        assert metrics["trace.coverage"] == 0.0   # unit 0 has no layers
        assert metrics["session.warmup_s"] >= 0
    else:
        assert metrics["items_per_s"] > 0 and metrics["setup_s"] > 0
