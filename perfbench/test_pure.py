"""Tests for the benchmark's pure logic; none starts Spark.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

import ledger
import metrics
import procstat

HERE = Path(__file__).resolve().parent


# ------------------------------------------------------------- /proc reader

def _stat_line(pid, comm, ppid, utime, stime, cutime=0, cstime=0, rss=0, flags=0):
    # fields 3.. of /proc/<pid>/stat; only the ones the reader uses matter
    rest = (["S", ppid, 0, 0, 0, 0, flags] + [0] * 4
            + [utime, stime, cutime, cstime] + [0] * 6 + [rss])
    return f"{pid} ({comm}) " + " ".join(str(x) for x in rest) + "\n"


def _fake_proc(root: Path, procs):
    for pid, comm, ppid, ut, st, cut, cst, rss, *flags in procs:
        d = root / str(pid)
        d.mkdir(parents=True)
        (d / "stat").write_text(_stat_line(pid, comm, ppid, ut, st, cut, cst, rss, *flags))
    (root / "self").mkdir()  # non-numeric entries are skipped


def test_parse_stat_comm_with_spaces_and_parens():
    st = procstat.parse_stat(_stat_line(42, "py (worker) 1", 7, 11, 22, 3, 4, rss=9, flags=0x40))
    assert (st.pid, st.ppid, st.comm, st.flags) == (42, 7, "py (worker) 1", 0x40)
    assert st.cpu_ticks == 11 + 22 + 3 + 4
    assert st.rss_pages == 9


def test_tree_cpu_splits_jvm_and_python(tmp_path):
    tck = procstat.CLK_TCK
    _fake_proc(tmp_path, [
        (100, "python3", 1, 10, 5, 1, 0, 10),     # the benchmark process (root)
        (101, "java", 100, 40, 10, 2, 1, 100),    # the JVM
        (102, "python3", 101, 3, 1, 20, 5, 5),    # pyspark daemon; reaped workers in c*time
        (103, "python3", 102, 7, 2, 0, 0, 8),     # a live worker
        (200, "java", 1, 999, 999, 0, 0, 999),    # not in the tree
    ])
    cpu = procstat.tree_cpu(100, str(tmp_path))
    assert cpu.jvm_s == pytest.approx((40 + 10 + 2 + 1) / tck)
    assert cpu.py_s == pytest.approx((10 + 5 + 1) / tck + (3 + 1 + 20 + 5) / tck + 9 / tck)
    assert cpu.total_s == pytest.approx(cpu.jvm_s + cpu.py_s)
    assert procstat.tree_rss_bytes(100, str(tmp_path)) == (10 + 100 + 5 + 8) * procstat.PAGE_SIZE
    assert sorted(procstat.child_pids(100, str(tmp_path))) == [101, 102, 103]


def test_tree_rss_skips_vfork_child_of_the_jvm(tmp_path):
    forknoexec = procstat.PF_FORKNOEXEC
    _fake_proc(tmp_path, [
        (100, "python3", 1, 0, 0, 0, 0, 10),
        (101, "java", 100, 0, 0, 0, 0, 1000),
        # vfork child of a JVM thread: named after the thread, shares the JVM's pages
        (104, "Executor task l", 101, 0, 0, 0, 0, 1000, forknoexec),
        (105, "jspawnhelper", 101, 0, 0, 0, 0, 3),
        (106, "python3", 101, 0, 0, 0, 0, 50),                 # the pyspark daemon
        (107, "python3", 106, 0, 0, 0, 0, 40, forknoexec),     # a forked worker counts
    ])
    assert procstat.tree_rss_bytes(100, str(tmp_path)) == \
        (10 + 1000 + 3 + 50 + 40) * procstat.PAGE_SIZE


def test_tree_cpu_difference():
    d = procstat.TreeCpu(5.0, 3.0) - procstat.TreeCpu(1.5, 1.0)
    assert (d.jvm_s, d.py_s, d.total_s) == (3.5, 2.0, 5.5)


# ------------------------------------------------------- event-log ledger

def _job(job, submit_ms, stages):
    return json.dumps({"Event": "SparkListenerJobStart", "Job ID": job,
                       "Submission Time": submit_ms, "Stage IDs": stages})


def _task(stage, launch, finish, cpu_ns, gc=0, sr=0, sw=0, spill=0):
    return json.dumps({
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Launch Time": launch, "Finish Time": finish},
        "Task Metrics": {"Executor CPU Time": cpu_ns, "Executor Deserialize CPU Time": 0,
                         "JVM GC Time": gc, "Disk Bytes Spilled": spill,
                         "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": sr},
                         "Shuffle Write Metrics": {"Shuffle Bytes Written": sw}}})


def _span(name, t0, t1, i=0):
    return ledger.Span(name=name, phase="timed", iteration=i, t0=t0, t1=t1, wall_s=t1 - t0)


def test_event_log_attribution_by_submission_time():
    lines = [
        json.dumps({"Event": "SparkListenerApplicationStart"}),
        _job(0, 1000, [0]),
        _task(0, 1000, 1100, 2e9, gc=50, sw=300),
        _task(0, 1000, 1300, 1e9),
        _job(1, 2500, [1, 2]),
        _task(1, 2500, 2600, 4e9, sr=300),
        _task(2, 2600, 2610, 1e9, spill=7),
        _task(2, 2600, 2610, 1e9),
        _task(2, 2600, 2650, 1e9),
        _job(2, 2700, [2, 3]),       # reuses stage 2, which ran under job 1
        _task(3, 2700, 2800, 1e9),
        _job(3, 9000, [4]),          # submitted outside every span
        _task(4, 9000, 9100, 5e9),
        "",
    ]
    log = ledger.parse_event_log(lines)
    spans = [_span("a", 0.9, 2.0), _span("b", 2.4, 3.0)]
    per_span = ledger.attribute(log, spans)
    a, b = per_span[0], per_span[1]
    assert a.executor_cpu_s == pytest.approx(3.0)
    assert a.gc_s == pytest.approx(0.05)
    assert a.shuffle_write_bytes == 300 and a.tasks == 2
    assert a.task_max_over_median == pytest.approx(300 / 200)
    assert b.executor_cpu_s == pytest.approx(8.0)
    assert (b.shuffle_read_bytes, b.spill_bytes, b.tasks) == (300, 7, 5)
    assert b.task_max_over_median == pytest.approx(50 / 10)
    assert sorted(per_span) == [0, 1]  # job 3's 5 s of CPU is unclaimed
    assert ledger.total_executor_cpu_s(log) == pytest.approx(16.0)


def test_span_window_widens_to_whole_milliseconds():
    spans = [_span("a", 1.0004, 2.0001)]
    assert ledger.span_of_job(1000, spans) == 0
    assert ledger.span_of_job(2001, spans) == 0
    assert ledger.span_of_job(999, spans) is None
    assert ledger.span_of_job(2002, spans) is None


def test_tracer_records_spans_in_order():
    tr = ledger.Tracer(cpu=False)
    with tr.span("x", "timed", 0) as sp:
        sp.counters["n"] = 3
    with pytest.raises(KeyError):
        with tr.span("y", "check"):
            raise KeyError("boom")  # a failing call still closes its span
    assert [s.name for s in tr.spans] == ["x", "y"]
    assert tr.spans[0].t1 >= tr.spans[0].t0 and tr.spans[0].counters == {"n": 3}


# ---------------------------------------------------------- names and stats

@pytest.mark.parametrize("name", ["setup_s", "a", "frontier.seen.new_ratio",
                                  "9x", "a-b_c.d", "x" * 64])
def test_metric_name_valid(name):
    assert ledger.check_metric_name(name) == name


@pytest.mark.parametrize("name", ["", "_x", ".x", "a b", "a/b", "x" * 65, "é"])
def test_metric_name_invalid(name):
    with pytest.raises(ValueError):
        ledger.check_metric_name(name)


def test_median_quartiles_spread():
    assert ledger.median([3, 1, 2]) == 2
    assert ledger.median([4, 1, 2, 3]) == 2.5
    assert ledger.quartiles([7]) == (7.0, 7.0)
    assert ledger.quartiles([1, 2, 3, 4, 5]) == (2.0, 4.0)
    assert ledger.spread([1, 2, 3, 4, 5]) == pytest.approx(2 / 3)
    assert ledger.spread([5]) == 0.0
    with pytest.raises(ValueError):
        ledger.median([])


# ------------------------------------------------------ declared metrics

def test_per_layer_names_unique_and_within_limits():
    names = [n for n, _u, _b in metrics.END_TO_END + metrics.PER_LAYER]
    assert len(names) == len(set(names))
    assert len(metrics.PER_LAYER) <= 128
    span_fields = {f for f, _u, _b in metrics.SPAN_FIELDS}
    assert set(ledger.JobLedger.FIELDS) <= span_fields


def test_benchmark_json_matches_declared_metrics():
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    assert [(m["name"], m["unit"], m["better"]) for m in spec["end_to_end"]] == \
        [tuple(m) for m in metrics.END_TO_END]
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == \
        [tuple(m) for m in metrics.PER_LAYER]
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])


def test_refuses_to_run_without_the_package(tmp_path):
    """In a directory holding only the benchmark, the run fails fast
    and prints no result."""
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "extract",
                        "--seed", "1", "--seconds", "1", "--trace", "0"],
                       cwd=tmp_path, capture_output=True, text=True, timeout=60,
                       env={**os.environ, "PYTHONDONTWRITEBYTECODE": "1"})
    assert p.returncode != 0
    assert p.stdout == ""


# ------------------------------------------------------------ crawl inputs

def test_crawl_universe_avoids_the_link_stride():
    import workloads

    sizes = [workloads.universe_for(64_000 + j) for j in range(1000)]
    assert all(u % 31 for u in sizes)
    assert sizes[14] == 64_014 and sizes[15] == 64_016  # 64,015 = 31 * 2,065
