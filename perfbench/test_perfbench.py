"""Tests for the benchmark's own helpers. Run with

    python3 -m pytest perfbench/ -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import random
import statistics
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import bench_stats  # noqa: E402
import proctree  # noqa: E402
import spans  # noqa: E402


# -- process tree ------------------------------------------------------------
def _fake_proc(tmp_path, procs):
    """procs: {pid: (comm, ppid, utime, stime, cutime, cstime, rss_pages)}"""
    for pid, (comm, ppid, ut, st, cut, cst, rss) in procs.items():
        d = tmp_path / str(pid)
        d.mkdir()
        # fields after comm: state ppid pgrp session tty tpgid flags minflt
        # cminflt majflt cmajflt utime stime cutime cstime priority nice
        # num_threads itrealvalue starttime vsize rss ...
        rest = ["S", ppid, 1, 1, 0, -1, 0, 0, 0, 0, 0, ut, st, cut, cst, 20, 0, 1, 0, 5, 4096, rss]
        (d / "stat").write_text(f"{pid} ({comm}) " + " ".join(map(str, rest)) + " 0 0\n")
    (tmp_path / "self").mkdir()  # non-numeric entries are ignored
    return str(tmp_path)


def test_tree_sums_cpu_and_rss_over_descendants_only(tmp_path):
    proc = _fake_proc(tmp_path, {
        10: ("python3", 1, 100, 50, 0, 0, 1000),
        11: ("java", 10, 400, 100, 30, 20, 50000),
        12: ("py worker (daemon)", 11, 7, 3, 0, 0, 200),
        13: ("other", 1, 999, 999, 0, 0, 99999),  # not in the tree
    })
    ticks = 100 + 50 + 400 + 100 + 30 + 20 + 7 + 3
    assert proctree.tree_cpu_seconds(10, proc) == pytest.approx(ticks / proctree.CLK_TCK)
    assert sorted(s["rss_pages"] for s in proctree.tree_stats(10, proc)) == [200, 1000, 50000]
    assert sorted(s["rss_pages"] for s in proctree.tree_stats(11, proc)) == [200, 50000]


def test_stat_parse_handles_parentheses_in_comm(tmp_path):
    proc = _fake_proc(tmp_path, {5: ("a) (b", 1, 3, 4, 5, 6, 7)})
    st = proctree.read_stat(5, proc)
    assert st == {"ppid": 1, "cpu_ticks": 18, "rss_pages": 7}
    assert proctree.read_stat(6, proc) is None


def test_live_tree_and_sampler():
    pid = os.getpid()
    assert proctree.tree_cpu_seconds(pid) > 0
    with proctree.RssSampler(pid, interval_s=0.01) as rss:
        sum(range(100_000))
    assert len(rss.samples) >= 2 and min(rss.samples) > 0
    assert rss.peak_bytes == max(rss.samples) >= rss.largest_process_bytes > 0


# -- statistics ---------------------------------------------------------------
def test_quartiles_match_statistics_module():
    rng = random.Random(7)
    for n in (2, 3, 10, 11):
        vals = [rng.uniform(1, 9) for _ in range(n)]
        assert bench_stats.quartiles(vals) == tuple(statistics.quantiles(vals, n=4))
        assert bench_stats.median(vals) == statistics.median(vals)


def test_relative_spread():
    vals = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0]
    q1, q2, q3 = statistics.quantiles(vals, n=4)
    assert bench_stats.relative_spread(vals) == pytest.approx((q3 - q1) / q2)
    assert bench_stats.relative_spread([4.0] * 10) == 0.0


def test_geomean():
    assert bench_stats.geomean([1.0, 4.0, 16.0]) == pytest.approx(4.0)
    assert bench_stats.geomean([2.5]) == pytest.approx(2.5)
    with pytest.raises(ValueError):
        bench_stats.geomean([])
    with pytest.raises(ValueError):
        bench_stats.geomean([1.0, 0.0])
    with pytest.raises(ValueError):
        bench_stats.median([])


# -- stage metrics per job group ---------------------------------------------
def _stage(sid, status="COMPLETE", run_ms=10, p50=5.0, mx=5.0, **kw):
    st = {"stage_id": sid, "status": status, "tasks": 4, "run_ms": run_ms, "cpu_ns": 1000,
          "gc_ms": 1, "shuffle_read_bytes": 0, "shuffle_write_bytes": 0, "spill_bytes": 0,
          "task_p50_ms": p50, "task_max_ms": mx}
    st.update(kw)
    return st


def test_aggregate_attributes_shared_stage_to_first_job_and_skips_skipped():
    jobs = [
        {"job_id": 0, "group": "a", "stage_ids": [0]},
        {"job_id": 1, "group": "b", "stage_ids": [0, 1]},  # stage 0 reused
        {"job_id": 2, "group": "b", "stage_ids": [2]},
        {"job_id": 3, "group": None, "stage_ids": [3]},
    ]
    stages = [
        _stage(0, run_ms=100, shuffle_write_bytes=64),
        _stage(1, run_ms=40, p50=10.0, mx=30.0, shuffle_read_bytes=64),
        _stage(2, status="SKIPPED", run_ms=0),
        _stage(3, run_ms=5),
    ]
    g = spans.aggregate_by_group(jobs, stages)
    assert g["a"]["jobs"] == 1 and g["a"]["stages"] == 1
    assert g["a"]["run_ms"] == 100 and g["a"]["shuffle_write_bytes"] == 64
    assert g["b"]["jobs"] == 2 and g["b"]["stages"] == 1
    assert g["b"]["run_ms"] == 40 and g["b"]["shuffle_read_bytes"] == 64
    assert g["b"]["task_skew"] == pytest.approx(3.0)
    assert g[None]["run_ms"] == 5


def test_sum_groups_is_inclusive_over_spans():
    jobs = [{"job_id": 0, "group": "perfbench-1", "stage_ids": [0]},
            {"job_id": 1, "group": "perfbench-2", "stage_ids": [1]}]
    stages = [_stage(0, run_ms=10, p50=2.0, mx=2.0), _stage(1, run_ms=90, p50=1.0, mx=4.0)]
    groups = spans.aggregate_by_group(jobs, stages)
    parent, child = spans.Span(1, None, "p", {}), spans.Span(2, 1, "c", {})
    total = spans.sum_groups(groups, [parent, child])
    assert total["run_ms"] == 100 and total["jobs"] == 2 and total["stages"] == 2
    assert total["task_skew"] == pytest.approx(4.0)  # from the heavier group


def test_span_tree_and_job_groups():
    class FakeSC:
        def __init__(self):
            self.props = {}

        def getLocalProperty(self, k):
            return self.props.get(k)

        def setLocalProperty(self, k, v):
            if v is None:
                self.props.pop(k, None)
            else:
                self.props[k] = v

        def setJobGroup(self, gid, desc):
            self.props.update({"spark.jobGroup.id": gid, "spark.job.description": desc})

    sc = FakeSC()
    tr = spans.Tracer(sc)
    with tr.span("outer") as outer:
        with tr.span("inner") as inner:
            assert sc.props["spark.jobGroup.id"] == inner.group
        assert sc.props["spark.jobGroup.id"] == outer.group
    assert "spark.jobGroup.id" not in sc.props
    assert inner.parent == outer.id and outer.parent is None
    assert [s.name for s in tr.subtree(outer)] == ["outer", "inner"]
    assert [s.name for s in tr.subtree(outer, prune="inn")] == ["outer"]


# -- golden digests (needs a local Spark session) ------------------------------
@pytest.fixture(scope="module")
def spark():
    from web_crawler_spark.session import get_spark

    s = get_spark(app_name="perfbench-tests", master="local[1]", shuffle_partitions=2,
                  extra_conf={"spark.ui.showConsoleProgress": "false", "spark.driver.memory": "1g"})
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def test_digest_ignores_row_and_column_order(spark):
    import digest

    rows = [(e, f"u{i}", float(i) / 3, None if i % 4 else b"x") for e in (0, 1) for i in range(50)]
    schema = "epoch int, url string, price double, html binary"
    a = spark.createDataFrame(rows, schema)
    shuffled = list(rows)
    random.Random(3).shuffle(shuffled)
    b = spark.createDataFrame(shuffled, schema).repartition(3)
    b = b.select("html", "price", "url", "epoch")
    da = digest.digest_tables({"t": a, "u": a.filter("epoch = 1")})
    db = digest.digest_tables({"t": b, "u": b.filter("epoch = 1")})
    assert da == db
    assert da["t"]["0"][0] == 50 and da["t"]["1"][0] == 50 and set(da["u"]) == {"1"}

    changed = spark.createDataFrame([(0, "u0", 0.5, None)] + rows[1:], schema)
    dc = digest.digest_tables({"t": changed})
    assert dc["t"]["0"][0] == 50 and dc["t"]["0"][1] != da["t"]["0"][1]
    assert dc["t"]["1"] == da["t"]["1"]


# -- suite reference and benchmark definition -------------------------------------
def test_simhash_reference_brute_force():
    import pandas as pd

    from suite import simhash_reference

    fps = pd.DataFrame({
        "doc_id": [3, 1, 2, 4],
        "h": [0b1111, 0, (0xFFFF << 48) | 1, 0x0001_0001_0001_0001],
    })
    # 1~3: hamming 4, three equal quarters; 1~2 and 2~4: hamming 17, two
    # and one equal quarters; 2~3: hamming 19; 1~4 and 3~4: hamming 4 and
    # 6 but no equal quarter, so the leg's blocking never pairs them
    got = simhash_reference(fps, max_hamming=18)
    assert got == {(1, 3, 4), (1, 2, 17), (2, 4, 17)}
    assert simhash_reference(fps, max_hamming=3) == set()


def test_benchmark_json_matches_the_runner():
    import run

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.per_layer_units()
    choices = run.parse_args(["--workload", "crawl_deep", "--seed", "1", "--seconds", "1"])
    assert choices.workload in {w["name"] for w in bench["workloads"]}
    assert {w["name"] for w in bench["workloads"]} == {"crawl_deep", "curation_suite"}
