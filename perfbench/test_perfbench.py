"""Tests of the benchmark itself: its generators, its oracle check and
its job attribution.

    python -m pytest perfbench -q

The last test starts a Spark session (about 20 s).
"""

from __future__ import annotations

import json
from pathlib import Path

import pytest

from perfbench import gen, run
from perfbench.trace import Tracer
from perfbench.workloads import Interactive, Op, Workload


def tree_bytes(root: Path) -> dict[str, bytes]:
    return {str(p.relative_to(root)): p.read_bytes() for p in sorted(root.rglob("*")) if p.is_file()}


@pytest.mark.parametrize("write", [
    lambda seed, out: gen.write_tables(seed, out, 0.001),
    lambda seed, out: gen.write_rdf(seed, out, 300),
], ids=["tables", "rdf"])
def test_generators_are_byte_identical_per_seed(tmp_path, write):
    for name, seed in (("a", 7), ("b", 7), ("c", 8)):
        write(seed, tmp_path / name)
    a, b, c = (tree_bytes(tmp_path / n) for n in "abc")
    assert a and a == b
    assert a.keys() == c.keys() and a != c


class SmallInteractive(Interactive):
    SF = 0.001


def pass_params(work: Path, seed: int) -> list:
    """Names, kinds and oracle answers of two passes' ops."""
    wl = SmallInteractive(seed, work)
    wl.generate()
    wl.graph = None  # ops are built, not run
    return [(op.name, op.kind, op.want) for i in (1, 2) for op in wl.pass_ops(i)]


def test_query_parameters_are_identical_per_seed(tmp_path):
    first = pass_params(tmp_path / "a", 3)
    assert first == pass_params(tmp_path / "b", 3)
    assert first != pass_params(tmp_path / "c", 4)


class Fixed(Workload):
    name = "fixed"

    def __init__(self, ops):
        self.ops = ops

    def pass_ops(self, i):
        return self.ops


def test_any_wrong_or_failed_op_fails_the_run():
    def boom():
        raise RuntimeError("op failed")

    ops = [
        Op("right", "q", "q", lambda: 1, lambda x: x + 1, 2),
        Op("wrong", "q", "q", lambda: 1, lambda x: x + 1, 3),
        Op("raises", "q", "q", boom, lambda x: x, None),
    ]
    runner = run.Runner(None, Fixed(ops), Tracer(enabled=False))
    runner.run_pass(0, count=False)
    assert (runner.attempted, runner.failed) == (2, 2)
    runner.run_pass(1)
    assert (runner.attempted, runner.failed) == (5, 4)
    assert run.report(runner, {})["correct"] is False

    clean = run.Runner(None, Fixed(ops[:1]), Tracer(enabled=False))
    clean.run_pass(1)
    assert run.report(clean, {}) == {"correct": True, "attempted": 1, "failed": 0, "metrics": {}}


def test_traced_job_count_matches_the_event_log(tmp_path):
    """The jobs the tracer attributes to an op are exactly the jobs
    Spark's own event log records under the op's job group."""
    run.prepare_env(tmp_path)
    from pidb_rdf_spark import analytics, session

    logs = tmp_path / "events"
    logs.mkdir()
    spark = session.get_spark("perfbench-test", extra_conf={
        **run.spark_conf(tmp_path),
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": logs.as_uri(),
        "spark.eventLog.compress": "false",
    })
    try:
        tracer = Tracer(enabled=True)
        edges = spark.createDataFrame([(1, 2), (2, 3), (4, 5)], "src long, dst long")
        with tracer.op(spark, "components", "analytics") as rec:
            got = sorted(tuple(r) for r in analytics.connected_components(edges).collect())
    finally:
        run.stop_spark(spark)
    assert got == [(1, 1), (2, 1), (3, 1), (4, 4), (5, 4)]

    events = [
        json.loads(line)
        for p in logs.rglob("*") if p.is_file() and not p.name.startswith(".")
        for line in p.read_text().splitlines()
    ]
    logged = [
        e for e in events
        if e["Event"] == "SparkListenerJobStart"
        and e.get("Properties", {}).get("spark.jobGroup.id") == "perfbench-0"
    ]
    assert rec.jobs > 1
    assert rec.jobs == len(logged)
