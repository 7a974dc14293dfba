"""Tests for the benchmark's own helpers.

Run from the repository root: ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import json
import os
from pathlib import Path

import pytest

from perfbench import corpus
from perfbench.bench import job_phase
from perfbench.spans import Span, Tracer, self_times, tail
from perfbench.statusstore import StatusStore, classify

os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")


def test_tail_is_highest_percentile_with_ten_beyond():
    assert tail(list(range(1, 101))) == (90.0, 90)
    pct, value = tail(list(range(1, 12)))
    assert value == 1 and pct == pytest.approx(100 / 11)
    assert tail(list(range(10))) is None
    # order of the input does not matter
    assert tail(list(range(200, 0, -1))) == (95.0, 190)


def test_self_time_subtracts_children_once_and_clipped():
    spans = [
        Span(1, "parent", 0.0, 10.0, None, None),
        Span(2, "a", 1.0, 3.0, 1, None),
        Span(3, "b", 2.0, 5.0, 1, None),  # overlaps a: [1, 5] counted once
        Span(4, "c", 8.0, 12.0, 1, None),  # runs past the parent: [8, 10]
        Span(5, "grandchild", 2.0, 2.5, 3, None),
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10.0 - 4.0 - 2.0)
    assert st[2] == pytest.approx(2.0)
    assert st[3] == pytest.approx(2.5)
    assert st[4] == pytest.approx(4.0)
    assert st[5] == pytest.approx(0.5)


def test_tracer_links_parents_and_records_nothing_when_off():
    tr = Tracer(enabled=True)
    with tr.span("outer", "r1") as outer:
        with tr.span("inner", "r1") as inner:
            pass
        tr.add("measured", 0.0, 1.0, outer)
    by_name = {s.name: s for s in tr.spans}
    assert by_name["inner"].parent == outer == by_name["outer"].sid
    assert by_name["inner"].sid == inner and by_name["inner"].req == "r1"
    assert by_name["measured"].parent == outer
    assert by_name["outer"].parent is None

    off = Tracer(enabled=False)
    with off.span("x") as sid:
        off.add("y", 0.0, 1.0, None)
    assert sid is None and off.spans == []


def test_tracer_dump_writes_spans_and_self_times(tmp_path):
    tr = Tracer(enabled=True)
    with tr.span("a"):
        pass
    path = tmp_path / "t.json"
    tr.dump(str(path), {"context": {"k": 1}})
    data = json.loads(path.read_text())
    assert [s["name"] for s in data["spans"]] == ["a"]
    assert set(data["self_s"]) == {str(tr.spans[0].sid)}
    assert data["context"] == {"k": 1}


def test_job_phase_names():
    assert job_phase("collect:corpus") == "bucket_discovery"
    assert job_phase("write:out") == "extract_write"
    assert job_phase("collect:out") == "readback"
    assert job_phase("parquet:out") == "readback"  # file listing job
    assert job_phase("write:state") == "state"
    assert job_phase("write:metrics") == "sidecar"
    assert job_phase("count:other") == "other"


def test_service_sources_cycle_tools_per_four_requests():
    start, end = 0, 200
    src = corpus.service_sources(start, end, 4)
    assert len(src) == 16 and len({s["text"] for s in src}) == 16
    tools = [s["tool"] for s in src]
    assert tools == [t for t in corpus.SERVICE_TOOLS for _ in range(4)]


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from pyspark.sql import SparkSession

    s = (SparkSession.builder.master("local[2]")
         .appName("perfbench-tests")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false")
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.local.dir", str(tmp_path_factory.mktemp("local")))
         .getOrCreate())
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def test_status_store_reader_on_a_tiny_job(spark, tmp_path):
    from pyspark.sql import functions as F

    out = str(tmp_path / "out")
    sc = spark.sparkContext
    sc.setJobGroup("tiny", "tiny")
    try:
        (spark.range(2000).withColumn("k", F.col("id") % 7)
         .repartition(4, "k").write.parquet(out))
        rows = spark.read.parquet(out).groupBy("k").count().collect()
    finally:
        sc.setJobGroup("other", "other")
    assert len(rows) == 7

    rep = StatusStore(spark).group_report("tiny")
    assert rep.job_ids and rep.job_ids == sorted(rep.job_ids)
    labels = sorted(classify(ex, {"out": out}) for ex in rep.executions)
    assert labels == ["collect:out", "write:out"]
    for ex in rep.executions:
        assert ex.end >= ex.start > 0
    # the repartition before the write shuffles; every stage has tasks
    assert rep.shuffle_write_bytes > 0
    assert rep.spill_bytes == 0
    assert all(s.task_ms and len(s.task_ms) <= s.num_tasks
               for s in rep.stages)
    assert rep.task_max_over_median() >= 1.0
    # jobs of another group are not reported
    assert StatusStore(spark).job_ids("no-such-group") == []


def test_benchmark_json_matches_the_run_script():
    spec = json.loads((Path(__file__).parent.parent / "BENCHMARK.json")
                      .read_text())
    from perfbench.run import WORKLOADS

    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
    assert {"setup_s", "turns_per_s", "peak_rss_mb"} <= set(
        m["name"] for m in spec["end_to_end"])
