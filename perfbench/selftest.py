"""Self-test of the benchmark's reducers on tiny inputs; needs no Spark.

    python3 perfbench/selftest.py

Covers the tail percentile with its sample count, span self time and
the event-log reduction.
"""

from __future__ import annotations

import pathlib
import sys

HERE = pathlib.Path(__file__).resolve().parent


def test_tail():
    from harness import median, p90, tail

    assert tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)          # <= 10 samples: the maximum
    xs = [float(i) for i in range(1, 31)]                     # 30 samples
    v, pct, n = tail(xs)
    assert (v, n) == (20.0, 30) and abs(pct - 200 / 3) < 1e-9  # 10 samples beyond the 20th
    assert sum(x > v for x in xs) == 10
    assert tail([5.0] * 11) == (5.0, 100 / 11, 11)
    assert median([1.0, 4.0, 2.0, 3.0]) == 2.5
    assert p90([7.0]) == 7.0
    assert abs(p90([1.0, 2.0]) - 1.9) < 1e-12
    assert abs(p90(xs) - 27.1) < 1e-9


def test_self_time():
    from spans import Span, self_times, subtree, union_length

    assert union_length([(0, 2), (1, 3), (5, 6), (6, 6)]) == 4
    root = Span(1, "op", None, "r", 0.0, 10.0)
    a = Span(2, "a", 1, "r", 1.0, 4.0)
    b = Span(3, "b", 1, "r", 3.0, 6.0)     # overlaps a: covered = [1, 6]
    c = Span(4, "c", 2, "r", 2.0, 3.0)     # grandchild: not the root's child
    d = Span(5, "d", 1, "r", 9.0, 12.0)    # runs past the root: clipped to [9, 10]
    got = self_times([root, a, b, c, d])
    assert got == {1: 10.0 - 5.0 - 1.0, 2: 2.0, 3: 3.0, 4: 1.0, 5: 3.0}, got
    assert subtree([root, a, b, c, d], 2) == {2, 4}


def _events():
    plan = {
        "nodeName": "Execute InsertIntoHadoopFsRelationCommand",
        "metrics": [{"name": "number of written files", "accumulatorId": 10},
                    {"name": "written output", "accumulatorId": 11}],
        "children": [{
            "nodeName": "Scan parquet ",
            "metadata": {"Location": "InMemoryFileIndex(1 paths)[file:/x/raw]"},
            "metrics": [{"name": "size of files read", "accumulatorId": 20},
                        {"name": "number of output rows", "accumulatorId": 21}],
            "children": [],
        }],
    }
    sql = "org.apache.spark.sql.execution.ui."
    task = {"Event": "SparkListenerTaskEnd", "Stage ID": 7,
            "Task Metrics": {"Executor Run Time": 40, "Executor CPU Time": 3_000_000,
                             "JVM GC Time": 2, "Disk Bytes Spilled": 5,
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": 100}}}
    return [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [7],
         "Properties": {"spark.jobGroup.id": "pbR-1", "spark.sql.execution.id": "3"}},
        {"Event": sql + "SparkListenerSQLExecutionStart", "executionId": 3,
         "description": "pbR-1 lineage.incremental_rollup", "time": 1000,
         "sparkPlanInfo": plan},
        {**task, "Task Info": {"Launch Time": 1000, "Finish Time": 1040, "Accumulables": [
            {"ID": 20, "Name": "size of files read", "Update": "64", "Metadata": "sql"},
            {"ID": 21, "Name": "number of output rows", "Update": 9, "Metadata": "sql"},
            {"ID": 99, "Name": "internal.metrics.executorRunTime", "Update": 40}]}},
        {**task, "Task Info": {"Launch Time": 1000, "Finish Time": 1120, "Accumulables": []}},
        {"Event": sql + "SparkListenerDriverAccumUpdates", "executionId": 3,
         "accumUpdates": [[10, 2], [11, 4096]]},
        {"Event": sql + "SparkListenerSQLExecutionEnd", "executionId": 3, "time": 1500},
        # a job of another group (a streaming run id aliased to span 2)
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [8],
         "Properties": {"spark.jobGroup.id": "run-id-x"}},
        {**task, "Stage ID": 8, "Task Info": {"Launch Time": 0, "Finish Time": 1}},
        # a job outside any span is ignored
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [9], "Properties": {}},
        {**task, "Stage ID": 9, "Task Info": {"Launch Time": 0, "Finish Time": 1}},
    ]


def test_event_log():
    from spans import SCAN, WRITE, reduce_event_log

    out = reduce_event_log(_events(), {"pbR-1": 1, "run-id-x": 2})
    assert set(out) == {1, 2}
    c = out[1]
    assert c.tasks == 2 and c.executor_run_ms == 80 and c.gc_ms == 4
    assert c.executor_cpu_ns == 6_000_000 and c.shuffle_write_bytes == 200 and c.spill_bytes == 10
    assert c.sql_intervals == [(1.0, 1.5)]
    assert c.metric(WRITE, "number of written files") == 2
    assert c.metric(WRITE, "written output") == 4096
    assert c.metric(SCAN, "size of files read") == 64
    assert c.metric(SCAN, "size of files read", location="/x/raw") == 64
    assert c.metric(SCAN, "size of files read", location="/y/append") == 0
    assert c.metric(None, "number of output rows") == 9
    assert c.skew() == 120 / 80                     # max 120 over median (40+120)/2
    assert out[2].tasks == 1 and not out[2].sql_intervals


def main() -> int:
    sys.path.insert(0, str(HERE))
    tests = [test_tail, test_self_time, test_event_log]
    for t in tests:
        t()
        print(f"ok {t.__name__}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
