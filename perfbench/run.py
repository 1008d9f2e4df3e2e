"""Benchmark command.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. It generates the workload's inputs from
the seed, starts a Spark session on ``local[nproc]``, loads the inputs,
runs one untimed warm-up pass, then runs passes of ops for at least
``--seconds`` seconds of op time, checking every answer. The last line
of standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``). Progress, warnings and the
canary check go to standard error. Spans and per-op counters of a traced
run are written to ``.perfbench_out/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
# a canary that moves more than this share between the start and the
# end of a run marks the machine as unsteady (the largest metric bound)
CANARY_DRIFT = 0.25
FRONT_ENDS = ("sparql", "cypher", "dsl")


STARTED = time.perf_counter()


def log(*args) -> None:
    print(f"[{time.perf_counter() - STARTED:6.1f}s]", *args, file=sys.stderr, flush=True)


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


# ---------------------------------------------------------------------
# environment and processes
# ---------------------------------------------------------------------


def prepare_env(work: Path) -> None:
    """Keep every file Spark and its workers write inside ``work``, and
    let the Python workers import the library from the checkout."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    os.environ.update({
        "TMPDIR": str(tmp),
        "SPARK_LOCAL_DIRS": str(tmp),
        "PYTHONPATH": os.pathsep.join(
            [str(ROOT), *filter(None, [os.environ.get("PYTHONPATH")])]
        ),
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "PYSPARK_PYTHON": sys.executable,
        # every JVM, the launcher's included: temp files in ``work`` and
        # no hsperfdata file in the system temp directory
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
    })
    sys.path.insert(0, str(ROOT))


def spark_conf(work: Path) -> dict[str, str]:
    tmp = work / "tmp"
    return {
        "spark.local.dir": str(tmp),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
    }


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in Path("/proc").iterdir():
        if d.name.isdigit():
            try:
                ppid = int((d / "stat").read_text().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d.name))
    out, stack = [], [pid]
    while stack:
        for c in children.get(stack.pop(), []):
            out.append(c)
            stack.append(c)
    return out


def peak_rss_mb() -> float:
    """Sum of peak resident set sizes over this process and every
    descendant (the JVM and the Python workers it forks)."""
    total_kb = 0
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            for line in Path(f"/proc/{pid}/status").read_text().splitlines():
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def stop_spark(spark) -> None:
    """Stop the session and the JVM, and wait for every process this
    run started to end."""
    from pyspark import SparkContext

    kids = descendants(os.getpid())
    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 30
    for pid in kids:
        while Path(f"/proc/{pid}").exists() and time.time() < deadline:
            time.sleep(0.05)
        if Path(f"/proc/{pid}").exists():
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
    # reap any child that has exited but not yet been waited for
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            break
        if pid == 0:
            break


# ---------------------------------------------------------------------
# canary
# ---------------------------------------------------------------------


def canary(spark) -> dict[str, float]:
    """A fixed pure-Python loop and a fixed one-task Spark job, each the
    median of five repeats after two unrecorded ones, in milliseconds."""
    py, job = [], []
    for _ in range(7):
        t = time.perf_counter()
        sum(i * i for i in range(200_000))
        py.append((time.perf_counter() - t) * 1e3)
        t = time.perf_counter()
        spark.range(0, 2_000_000, 1, 1).selectExpr("sum(id)").collect()
        job.append((time.perf_counter() - t) * 1e3)
    return {"python_ms": median(py[2:]), "spark_job_ms": median(job[2:])}


def canary_drift(before: dict, after: dict) -> dict[str, float]:
    return {k: abs(after[k] / before[k] - 1.0) for k in before}


# ---------------------------------------------------------------------
# running ops
# ---------------------------------------------------------------------


class Runner:
    def __init__(self, spark, workload, tracer):
        self.spark = spark
        self.wl = workload
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.latencies: list[float] = []
        self.passes: list[float] = []

    def run_op(self, op, count: bool) -> float:
        """Run one op; returns its latency in seconds. Failures and
        wrong answers are counted, never raised; a warm-up op
        (``count`` false) is counted only when it fails."""
        ok, rows, out = False, 0, None
        t0 = time.perf_counter()
        with self.tracer.op(self.spark, op.name, op.kind) as rec:
            try:
                with self.tracer.span(op.layer, "build"):
                    out = op.build()
                got = op.fetch(out)
                lat = time.perf_counter() - t0
                ok = op.check(got, op.want)
                rows = len(got) if isinstance(got, (list, dict)) else 1
                if not ok:
                    log(f"WRONG ANSWER {self.wl.name}/{op.name}: {str(got)[:300]}")
            except Exception as exc:  # an op failure is a counted result
                lat = time.perf_counter() - t0
                log(f"FAILED {self.wl.name}/{op.name}: {type(exc).__name__}: {str(exc)[:500]}")
        if rec is not None:
            rec.rows = rows
            rec.seconds = lat
            if ok and hasattr(out, "_jdf"):
                self.tracer.plan(rec, out)
        log(f"  {op.name}: {lat * 1e3:.0f} ms{'' if ok else ' FAILED'}")
        if count or not ok:
            self.attempted += 1
            self.failed += not ok
        if count:
            self.latencies.append(lat)
        return lat

    def run_pass(self, i: int, count: bool = True) -> float:
        """Run pass ``i``; returns the sum of its op latencies, which
        leaves out building the pass and its oracle answers."""
        ops = self.wl.pass_ops(i)
        total = sum(self.run_op(op, count) for op in ops)
        if count:
            self.passes.append(total)
        log(f"pass {i}: {total:.3f}s over {len(ops)} ops")
        return total


# ---------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------


def end_to_end(setup_s: float, runner: Runner) -> dict[str, tuple[float, str]]:
    return {
        "setup_s": (setup_s, "s"),
        # the ops of a pass differ in kind by more than tenfold, so their
        # median jumps between kinds; the geometric mean moves smoothly
        "op_geomean_ms": (statistics.geometric_mean(runner.latencies) * 1e3, "ms"),
        "pass_s": (median(runner.passes), "s"),
    }


def per_layer(tracer, runner: Runner, session_s: float, canaries: list[dict],
              overhead: float, spark) -> dict[str, tuple[float, str]]:
    ops = tracer.ops
    m: dict[str, tuple[float, str]] = {}

    def by_name(name):
        return [r for r in ops if r.name == name]

    def outer_s(r, layers) -> float:
        return sum(sp.seconds for sp in tracer.outer(r.op, layers))

    def ms(per_op: dict) -> float:
        return median(per_op.values()) * 1e3

    m["session.start_s"] = (session_s, "s")
    m["graph.graphify_s"] = (median(
        sp.seconds for sp in tracer.spans if sp.layer == "graph" and sp.op < 0), "s")
    used = 0
    it = spark.sparkContext._jsc.sc().getExecutorMemoryStatus().values().iterator()
    while it.hasNext():
        t = it.next()
        used += t._1() - t._2()
    m["session.cached_mb_end"] = (used / 2**20, "MB")
    m["session.peak_rss_mb"] = (peak_rss_mb(), "MB")

    # front ends: the time to build the query frame, split into layers
    parse = tracer.self_time("sparql", "parse", {"sparql"})
    m["sparql.parse_ms"] = (ms(parse), "ms")
    m["sparql.compile_ms"] = (median(
        (outer_s(r, ("sparql",)) - parse.get(r.op, 0.0)) * 1e3
        for r in ops if r.kind == "sparql"), "ms")
    for fe in ("cypher", "dsl"):
        m[f"{fe}.compile_ms"] = (median(
            outer_s(r, (fe,)) * 1e3 for r in ops if r.kind == fe), "ms")
    m["py4j.calls_per_query"] = (median(
        sum(sp.py4j_calls for sp in tracer.outer(r.op, FRONT_ENDS))
        for r in ops if r.kind in FRONT_ENDS), "count")

    for phase in ("analysis", "optimization", "planning"):
        m[f"catalyst.{phase}_ms"] = (median(
            r.phases[phase] for r in ops if phase in r.phases), "ms")
    m["catalyst.plan_nodes"] = (median(r.plan_nodes for r in ops if r.plan_nodes), "count")

    def exec_ms(r) -> float:
        front = outer_s(r, FRONT_ENDS) if r.kind in FRONT_ENDS else 0.0
        return max(0.0, r.seconds - front - sum(r.phases.values()) / 1e3) * 1e3

    m["execution.exec_ms"] = (median(exec_ms(r) for r in ops), "ms")
    m["execution.jobs"] = (median(r.jobs for r in ops), "count")
    m["execution.tasks"] = (median(r.tasks for r in ops), "count")
    m["execution.shuffle_read_mb"] = (median(r.shuffle_read / 2**20 for r in ops), "MB")
    m["execution.shuffle_write_mb"] = (median(r.shuffle_write / 2**20 for r in ops), "MB")
    m["execution.rows_scanned_per_row_returned"] = (median(
        r.input_rows / max(r.rows, 1) for r in ops), "ratio")

    # one op per job or stage: its latency and its Spark job count
    for metric, name in (
        ("analytics.pagerank", "pagerank"),
        ("inference.closure", "closure"),
        ("operators.scrub", "pii_scrub_docs"),
    ):
        rs = by_name(name)
        m[f"{metric}_s"] = (median(r.seconds for r in rs), "s")
        m[f"{metric}_jobs"] = (median(r.jobs for r in rs), "count")

    m["sources.parse_s"] = (median(tracer.self_time("sources", "parse").values()), "s")
    for k in ("import", "export"):
        secs = median(r.seconds for r in by_name(k))
        m[f"sources.{k}_s"] = (secs, "s")
        m[f"sources.{k}_triples_per_s"] = (
            runner.wl.triples.get(k, 0) / secs if secs else 0.0, "triples/s")

    m["cypher.write_build_ms"] = (ms(tracer.self_time("cypher", "write", {"update"})), "ms")
    m["mutation.build_ms"] = (ms(tracer.self_time("mutation", "set_vertex_property")), "ms")
    # the check after the last write of the chain sees the deepest plan
    m["catalyst.plan_nodes_at_depth"] = (median(
        r.plan_nodes for r in by_name("set_property")), "count")

    for k in ("python_ms", "spark_job_ms"):
        m[f"canary.{k}"] = (median(c[k] for c in canaries), "ms")
    m["trace.overhead_ratio"] = (overhead, "ratio")
    return m


def report(runner: Runner, metrics: dict[str, tuple[float, str]]) -> dict:
    """The result line: the run is correct only if no op failed or
    returned a wrong answer."""
    return {
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


# ---------------------------------------------------------------------
# main
# ---------------------------------------------------------------------


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "pidb_rdf_spark").is_dir() or not (ROOT / "__spark_entry__.py").is_file():
        log(f"perfbench: no pidb_rdf_spark checkout at {ROOT}")
        return 2

    out_dir = ROOT / ".perfbench_out"
    work = out_dir / f"{args.workload}-{args.seed}-{os.getpid()}"
    prepare_env(work)
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
        return 2

    spark = None
    try:
        wl = WORKLOADS[args.workload](args.seed, work)
        wl.generate()
        log("inputs generated")
        tracer = Tracer(enabled=bool(args.trace))
        tracer.install()

        t0 = time.perf_counter()
        from pidb_rdf_spark import session

        spark = session.get_spark("perfbench", extra_conf=spark_conf(work))
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0
        log("session started")
        if args.trace:
            tracer.count_py4j(spark)

        # one load: only the first runs on a cold JVM, which is what a
        # user pays; a reload in the same process measures less
        t = time.perf_counter()
        wl.load(spark)
        load_s = time.perf_counter() - t
        wl.prepare()
        log("oracle inputs read")
        runner = Runner(spark, wl, tracer)
        tracer.enabled = False
        warmup_s = runner.run_pass(0, count=False)
        setup_s = session_s + load_s + warmup_s
        log(f"setup {setup_s:.3f}s: session {session_s:.3f}s, load {load_s:.3f}s, warm-up {warmup_s:.3f}s")
        # the canary brackets the measured window, after the warm-up
        # has compiled the code it runs
        canaries = [canary(spark)]

        i = 1
        if args.trace:
            # untraced passes before and after the traced ones price the
            # tracing; their mean cancels the drift of a warming JVM
            plain = [runner.run_pass(i)]
            runner.passes.clear()
            tracer.enabled = True
            i += 1
        while sum(runner.passes) < args.seconds:
            runner.run_pass(i)
            i += 1
        if args.trace:
            tracer.enabled = False
            traced = median(runner.passes)
            plain.append(runner.run_pass(i))
            overhead = traced / statistics.mean(plain)

        canaries.append(canary(spark))
        drift = canary_drift(*canaries)
        log(f"canary {canaries}")
        if max(drift.values()) > CANARY_DRIFT:
            log(f"CANARY DRIFT {drift}: the machine changed speed during this run")

        if args.trace:
            metrics = per_layer(tracer, runner, session_s, canaries, overhead, spark)
            out_dir.mkdir(exist_ok=True)
            (out_dir / f"trace-{args.workload}-{args.seed}.json").write_text(json.dumps({
                "workload": args.workload, "seed": args.seed,
                "canary": canaries, "canary_drift": drift, **tracer.dump(),
            }))
        else:
            metrics = end_to_end(setup_s, runner)
        result = report(runner, metrics)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    log("done")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
