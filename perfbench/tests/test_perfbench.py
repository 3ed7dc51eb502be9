"""Tests for the benchmark's own code: the event-log parser, the
reducers and the metric-name rules. No Spark session is started.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import statistics

import pytest

from perfbench import stats, tracing

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
EVENT_LOG = os.path.join(HERE, "data", "eventlog_small.json")


# -- event log ---------------------------------------------------------------

@pytest.fixture(scope="module")
def jobs():
    return tracing.parse_event_log(EVENT_LOG)


def test_event_log_jobs_and_groups(jobs):
    # the log holds one untagged job and two job groups; see
    # data/make_eventlog.py for the session that wrote it
    groups = {}
    for j in jobs.values():
        groups.setdefault(j.group, []).append(j.job_id)
    assert set(groups) == {None, "agg", "py"}
    assert all(j.submit_ms and j.end_ms and j.end_ms >= j.submit_ms for j in jobs.values())


def test_event_log_task_metrics(jobs):
    agg = [j for j in jobs.values() if j.group == "agg"]
    t = tracing.exec_totals(agg)
    assert t["exec.jobs"] == len(agg)
    assert t["exec.stages"] >= 2           # the aggregation shuffles
    assert t["exec.tasks"] >= t["exec.stages"]
    assert t["exec.shuffle_write_mb"] > 0
    assert t["exec.task_cpu_s"] > 0
    assert t["python.run_s"] == 0


def test_event_log_python_accumulables(jobs):
    py = [j for j in jobs.values() if j.group == "py"]
    t = tracing.exec_totals(py)
    assert t["python.sent_mb"] > 0 and t["python.returned_mb"] > 0
    assert t["python.run_s"] > 0


def test_event_log_totals_match_raw_events(jobs):
    """Every task-end event of the log is attributed to exactly one job."""
    n_tasks = 0
    with open(EVENT_LOG) as f:
        for line in f:
            if json.loads(line)["Event"] == "SparkListenerTaskEnd":
                n_tasks += 1
    assert sum(j.tasks for j in jobs.values()) == n_tasks


def test_event_log_skips_unwanted_and_missing(tmp_path):
    p = tmp_path / "log"
    p.write_text(json.dumps({"Event": "SparkListenerLogStart"}) + "\n"
                 + json.dumps({"Event": "SparkListenerTaskEnd", "Stage ID": 9}) + "\n")
    assert tracing.parse_event_log(str(p)) == {}
    assert tracing.find_event_log(str(tmp_path), "app-1") is None
    (tmp_path / "app-1.inprogress").write_text("")
    assert tracing.find_event_log(str(tmp_path), "app-1").endswith(".inprogress")


def test_event_log_confs_are_uncompressed():
    c = tracing.event_log_confs("/x/y")
    assert c["spark.eventLog.compress"] == "false"
    assert c["spark.eventLog.rolling.enabled"] == "false"
    assert c["spark.eventLog.dir"] == "file:///x/y"


# -- reducers ------------------------------------------------------------------

def test_summarize_counts_and_median():
    s = stats.summarize([3.0, 1.0, 2.0])
    assert s["n"] == 3 and s["median"] == 2.0
    assert s["p25"] == 1.5 and s["p75"] == 2.5
    assert s["min"] == 1.0 and s["max"] == 3.0
    assert stats.summarize([]) == {"n": 0}


def test_percentile_matches_statistics_inclusive():
    xs = [0.9, 1.7, 2.2, 3.1, 8.0, 4.4, 5.5]
    for p, q in zip((25, 50, 75), statistics.quantiles(xs, n=4, method="inclusive")):
        assert stats.percentile(xs, p) == pytest.approx(q)


def test_tail_percentile_needs_ten_samples_beyond():
    assert stats.tail_percentile(9) is None
    assert stats.tail_percentile(40) == 75.0
    assert stats.tail_percentile(100) == 90.0
    assert stats.tail_percentile(1000) == 99.0
    s = stats.summarize(range(200))
    assert s["n"] == 200 and "p95" in s


# -- names -----------------------------------------------------------------------

@pytest.mark.parametrize("name", [
    "setup_s", "pass_s", "exec.shuffle_write_mb", "index.ivfpq.compact_s",
    "query.b12_sessionization_s", "0x", "a-b", "a" * 64,
])
def test_valid_names(name):
    assert stats.valid_name(name)


@pytest.mark.parametrize("name", [
    "", "_x", ".x", "-x", "a b", "a/b", "a" * 65, "é", "x:y",
])
def test_invalid_names(name):
    assert not stats.valid_name(name)


def test_units():
    for u in ("ms", "s", "1/s", "count", "GB", "%", "B"):
        assert stats.valid_unit(u)
    for u in ("", "a b", "x" * 17):
        assert not stats.valid_unit(u)


def _contract():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_contract_is_valid():
    from perfbench import run

    assert run.check_contract(_contract()) == []


@pytest.mark.parametrize("breakage, message", [
    (lambda c: c["per_layer"].append({"name": "_bad", "unit": "s", "better": "lower"}),
     "name '_bad'"),
    (lambda c: c["per_layer"].append({"name": "exec.nope", "unit": "s", "better": "lower"}),
     "metric exec.nope not produced"),
    (lambda c: c["end_to_end"][0].update(bound=0.5), "bound of"),
    (lambda c: c["end_to_end"][0].update(unit="ms"), "unit of"),
    (lambda c: c["workloads"].append(dict(c["workloads"][0])), "a name is used twice"),
    (lambda c: c["workloads"].append({"name": "nope", "why": "x"}), "workload nope"),
    (lambda c: c.pop("paths"), "keys"),
])
def test_contract_errors_are_found(breakage, message):
    from perfbench import run

    c = _contract()
    breakage(c)
    assert any(message in e for e in run.check_contract(c))


def test_result_line_reports_missing_samples_as_null():
    from perfbench import run

    c = _contract()
    rec = {"traced": False, "correct": False, "attempted": 1, "failed": 1,
           "end_to_end": {"setup_s": {"n": 1, "median": 30.5}, "pass_s": {"n": 0}}}
    m = run.result_line(rec, c)["metrics"]
    assert m["setup_s"]["value"] == 30.5
    assert m["pass_s"]["value"] is None and m["peak_rss_gb"]["value"] is None


# -- input fixture -----------------------------------------------------------------

def test_committed_fixture_matches_its_digests():
    from perfbench import run

    assert stats.check_sums(os.path.join(run.FIXTURE, "SHA256SUMS")) == []


def test_check_sums_finds_changed_and_missing_files(tmp_path):
    (tmp_path / "a.bin").write_bytes(b"abc")
    (tmp_path / "b.bin").write_bytes(b"xyz")
    good = "ba7816bf8f01cfea414140de5dae2223b00361a396177a9cb410ff61f20015ad"
    (tmp_path / "SUMS").write_text(f"{good}  a.bin\n{good}  b.bin\n{good}  c.bin\n")
    assert stats.check_sums(str(tmp_path / "SUMS")) == ["b.bin", "c.bin"]


# -- /proc helpers -----------------------------------------------------------------

def test_memory_sampler_sees_this_process():
    m = stats.MemorySampler(interval=0.05).start()
    m.stop()
    p = m.peaks_gb()
    assert p["tree"] > 0 and p["samples"] >= 2


def test_tree_rss_counts_a_forked_jvm_once():
    procs = [(1, 0, "driver", 100), (2, 1, "jvm", 1000), (3, 2, "jvm", 1000),
             (4, 2, "worker", 50), (5, 4, "worker", 60), (6, 2, "other", 5)]
    assert stats.tree_rss_kb(procs) == 1215
    # a second JVM that is not a JVM's child still counts
    assert stats.tree_rss_kb(procs + [(7, 1, "jvm", 300)]) == 1515


def test_env_stamp_fields():
    env = stats.finish_stamp(stats.env_stamp(ROOT))
    for k in ("nproc", "mem_total_gb", "loadavg_start", "loadavg_end",
              "python", "pyspark", "driver_mem", "git_commit"):
        assert k in env
    assert len(stats.source_digest(ROOT)) == 40
