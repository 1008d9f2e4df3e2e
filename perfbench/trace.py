"""Layer spans and Spark counters for the traced benchmark run.

All spans are recorded from the benchmark's side of each layer
boundary: :meth:`Tracer.install` wraps the public functions the
workloads call (and the few inner public functions those call) in
place, for the life of the process. Nothing inside ``pidb_rdf_spark``
is edited. With tracing off no wrapper is installed and no Spark job
group is set, so the end-to-end numbers carry no tracing cost.

Per op the tracer also records:

- Spark jobs, completed tasks, shuffle bytes and source rows read, for
  the op's own job group (``statusTracker`` plus the JVM status store);
- Catalyst analysis / optimization / planning time and optimized-plan
  node count, read from the result frame's ``QueryPlanningTracker``;
- py4j round-trips, counted by wrapping the gateway client's
  ``send_command`` in this process.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import time
from dataclasses import dataclass, field

# (module, attribute, layer, span name): the public functions the
# workloads call, plus the parser the SPARQL front end calls by its
# module-level name.
LAYER_FUNCTIONS = [
    ("pidb_rdf_spark.session", "get_spark", "session", "start"),
    ("pidb_rdf_spark.graph", "graphify", "graph", "graphify"),
    ("pidb_rdf_spark.sparql.compiler", "sparql", "sparql", "query"),
    ("pidb_rdf_spark.sparql.compiler", "parse_sparql", "sparql", "parse"),
    ("pidb_rdf_spark.cypher", "cypher", "cypher", "query"),
    ("pidb_rdf_spark.cypher_write", "cypher_write", "cypher", "write"),
    ("pidb_rdf_spark.dsl", "traversal", "dsl", "traversal"),
    ("pidb_rdf_spark.mutation", "set_vertex_property", "mutation", "set_vertex_property"),
    ("pidb_rdf_spark.sources.rdf_reader", "read_ntriples", "sources", "parse"),
    ("pidb_rdf_spark.sources.rdf_reader", "read_rdf", "sources", "parse"),
    ("pidb_rdf_spark.sources.importer", "import_triples", "sources", "import"),
    ("pidb_rdf_spark.sources.rdf_writer", "export_ntriples", "sources", "export"),
    ("pidb_rdf_spark.inference", "transitive_closure", "inference", "closure"),
    ("pidb_rdf_spark.inference", "get_nodes_with_label", "inference", "closure"),
    ("pidb_rdf_spark.analytics", "pagerank", "analytics", "pagerank"),
    ("pidb_rdf_spark.operators", "pii_scrub", "operators", "scrub"),
]


@dataclass
class Span:
    op: int
    layer: str
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    py4j_calls: int = 0

    @property
    def seconds(self) -> float:
        return self.end - self.start


@dataclass
class OpRecord:
    """Counters of one traced op."""

    op: int
    name: str
    kind: str
    seconds: float = 0.0
    rows: int = 0
    jobs: int = 0
    tasks: int = 0
    shuffle_read: int = 0
    shuffle_write: int = 0
    input_rows: int = 0
    phases: dict = field(default_factory=dict)
    plan_nodes: int = 0


class Tracer:
    """Spans and per-op Spark counters; a no-op when ``enabled`` is
    false. Spans stay in memory until :meth:`dump`."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.ops: list[OpRecord] = []
        self.py4j_calls = 0
        self._stack: list[int] = []
        self._op = -1

    # -- spans --------------------------------------------------------

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        if not self.enabled:
            yield
            return
        sp = Span(
            op=self._op, layer=layer, name=name, start=time.perf_counter(),
            parent=self._stack[-1] if self._stack else None,
        )
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        calls0 = self.py4j_calls
        try:
            yield
        finally:
            sp.end = time.perf_counter()
            sp.py4j_calls = self.py4j_calls - calls0
            self._stack.pop()

    def _wrapped(self, fn, layer: str, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(layer, name):
                return fn(*args, **kwargs)

        return traced

    def install(self) -> None:
        """Wrap every layer function in :data:`LAYER_FUNCTIONS`."""
        if not self.enabled:
            return
        for mod_name, attr, layer, name in LAYER_FUNCTIONS:
            mod = importlib.import_module(mod_name)
            setattr(mod, attr, self._wrapped(getattr(mod, attr), layer, name))

    def count_py4j(self, spark) -> None:
        client = spark.sparkContext._gateway._gateway_client
        send = client.send_command

        def counted(*args, **kwargs):
            self.py4j_calls += 1
            return send(*args, **kwargs)

        client.send_command = counted

    # -- ops ----------------------------------------------------------

    @contextlib.contextmanager
    def op(self, spark, name: str, kind: str):
        """Attribute everything inside to one op and its job group."""
        if not self.enabled:
            yield None
            return
        rec = OpRecord(op=len(self.ops), name=name, kind=kind)
        self.ops.append(rec)
        self._op = rec.op
        group = f"perfbench-{rec.op}"
        sc = spark.sparkContext
        sc.setJobGroup(group, name)
        try:
            yield rec
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            self._op = -1
            # the bookkeeping below makes py4j calls of its own; they
            # belong to no op
            calls = self.py4j_calls
            self._collect_jobs(sc, group, rec)
            self.py4j_calls = calls

    def _collect_jobs(self, sc, group: str, rec: OpRecord) -> None:
        st = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        stages = set()
        for jid in st.getJobIdsForGroup(group):
            info = st.getJobInfo(jid)
            if info is not None:
                rec.jobs += 1
                stages.update(int(s) for s in info.stageIds)
        for sid in stages:
            info = st.getStageInfo(sid)
            if info is not None:
                rec.tasks += info.numCompletedTasks
            try:
                data = store.lastStageAttempt(sid)
            except Exception:  # stage evicted from the status store
                continue
            rec.shuffle_read += data.shuffleReadBytes()
            rec.shuffle_write += data.shuffleWriteBytes()
            rec.input_rows += data.inputRecords()

    def plan(self, rec: OpRecord | None, df) -> None:
        """Catalyst phase times and plan size of an executed frame."""
        if rec is None:
            return
        calls = self.py4j_calls
        qe = df._jdf.queryExecution()
        phases = qe.tracker().phases()
        for phase in ("analysis", "optimization", "planning"):
            opt = phases.get(phase)
            if opt.isDefined():
                rec.phases[phase] = opt.get().durationMs()
        rec.plan_nodes = qe.optimizedPlan().treeString().count("\n")
        self.py4j_calls = calls

    # -- results ------------------------------------------------------

    def self_time(self, layer: str, name: str | None = None,
                  kinds: set[str] | None = None) -> dict[int, float]:
        """Seconds per op spent in ``layer`` (its spans named ``name``
        when given) minus the time of their child spans, for the ops of
        ``kinds`` (every op when not given)."""
        kind = {r.op: r.kind for r in self.ops}
        child = [0.0] * len(self.spans)
        for sp in self.spans:
            if sp.parent is not None:
                child[sp.parent] += sp.seconds
        out: dict[int, float] = {}
        for i, sp in enumerate(self.spans):
            if sp.layer != layer or (name and sp.name != name) or sp.op < 0:
                continue
            if kinds and kind.get(sp.op) not in kinds:
                continue
            out[sp.op] = out.get(sp.op, 0.0) + sp.seconds - child[i]
        return out

    def outer(self, op: int, layers) -> list[Span]:
        """The spans of ``op`` in ``layers`` that no other span of the
        op encloses: the op's calls into those layers."""
        return [
            sp for sp in self.spans
            if sp.op == op and sp.layer in layers
            and (sp.parent is None or self.spans[sp.parent].op != op)
        ]

    def dump(self) -> dict:
        return {
            "spans": [vars(s) for s in self.spans],
            "ops": [vars(r) for r in self.ops],
        }
