"""Fluent graph-traversal DSL — the Gremlin-role query surface.

Reference: the full TinkerPop ``GraphTraversal`` API over the Neo4j
adapter (``neo4j/structure/Neo4jGraph.java:61``; step execution
``neo4j/process/traversal/step/sideEffect/Neo4jGraphStep.java`` and
``Neo4jVertex.java:106-155``). The reference executes pull-based step
iterators; here every step appends to one lazy DataFrame plan, so a
whole traversal is a single Catalyst-optimized job — filters land in
the parquet scan, traversal hops are hash joins, and nothing iterates
row-at-a-time on the driver.

Traversal state: a DataFrame with an anonymous frontier column
(``__cur`` — node or edge id depending on position), plus one column
per ``as_()``-labeled step. Every ``has*`` step is a filter/semi-join
that Catalyst pushes toward the scan (the reference's
``Neo4jGraphStepStrategy`` has-folding, done for free).

Example::

    g.V().has_label("Customer").has("c_mktsegment", "BUILDING") \
        .out("IN_NATION").values("n_name").to_df()
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pidb_rdf_spark.graph import PropertyGraph
from pidb_rdf_spark.session import local_frame

CUR = "__cur"


class Traversal:
    def __init__(
        self,
        graph: PropertyGraph,
        df: DataFrame,
        on_edges: bool = False,
        pristine: bool = False,
        pred: Column | None = None,
        se: dict | None = None,
        labels: frozenset | None = None,
    ):
        self.g = graph
        self.df = df
        self.on_edges = on_edges  # frontier holds edge ids (E()/outE/inE)
        # side-effect store (aggregate()/cap()): label -> (id, bulk)
        # DataFrame snapshots; propagated through step chaining
        self._se = se or {}
        # pristine: the frontier is still "all nodes filtered by
        # `pred`" (a fresh V() followed only by has/has_label steps).
        # Those steps then FUSE into one conjunctive filtered scan —
        # df is rebuilt as nodes.filter(pred).select(id) each step —
        # instead of paying scan + semi-join per step (TinkerPop's
        # Neo4jGraphStepStrategy has-folding; 3 full node-union scans
        # -> 1 on a V().hasLabel().has() chain). Any other step drops
        # the flag via _with.
        self.pristine = pristine
        self._pred = pred
        # labels one of which every frontier node carries (None:
        # unknown). A pristine has_label sets them, an out/in/both hop
        # takes them from the graph summary, every other step resets
        # them; _read passes them to lookup, which prunes the node
        # table to the branches they can live in.
        self.labels = labels

    def _fuse(self, cond: Column) -> "Traversal":
        """Fold one more has-condition into a pristine frontier."""
        pred = cond if self._pred is None else (self._pred & cond)
        df = self.g.nodes.filter(pred).select(F.col("id").alias(CUR))
        return Traversal(self.g, df, False, pristine=True, pred=pred,
                         se=self._se, labels=self.labels)

    # ---- internal helpers ---------------------------------------------

    def _with(
        self, df: DataFrame, on_edges: bool | None = None, labels=None
    ) -> "Traversal":
        return Traversal(
            self.g, df,
            self.on_edges if on_edges is None else on_edges,
            se=self._se, labels=labels,
        )

    def _prop(self, key: str) -> Column:
        """The current element's property ``key``: ``g.node_prop`` on
        a node frontier; on an edge frontier the edge table's own
        column when it has one (``predicate``, ``src``, ...), else the
        ``props`` map entry."""
        if not self.on_edges:
            return self.g.node_prop(key)
        if key in self.g.edges.columns:
            return F.col(key)
        return F.col("props").getItem(key)

    def _read(self, df: DataFrame, cols: dict, how: str) -> DataFrame:
        """The one element read of the DSL: join the ``CUR``-keyed
        frame ``df`` with ``(id, cols)`` of the current element table
        (edges on an edge frontier, nodes otherwise), where ``cols``
        maps output names to property keys read by :meth:`_prop`'s
        rule. One hash join per step, through ``PropertyGraph.lookup``.

        ``how`` is ``"inner"`` for the steps that emit element data
        (``values``, ``value_map``, ``label``, ``uri``, ``group*``,
        ``sack_df``, and the value side of ``by()`` modulators and
        ``group``): a traverser whose element has no row (a dangling
        edge end) yields nothing there. It is ``"left"`` for the steps
        that keep every traverser and only use the value (``order_by``,
        ``local``'s order key, ``sack_by``, a ``by("prop")``
        modulator): a missing element reads NULL, so it sorts last,
        leaves the sack unchanged, or projects NULL."""
        return self.g.lookup(
            df, CUR, {a: self._prop(k) for a, k in cols.items()},
            edges=self.on_edges, how=how, labels=self.labels,
        )

    def _pin(self) -> DataFrame:
        """The frontier with traverser identity pinned: one
        ``__tid`` row id, checkpointed so every branch or modulator
        run over it sees the same ids."""
        return self.df.withColumn(
            "__tid", F.monotonically_increasing_id()
        ).localCheckpoint(eager=False)

    # ---- starts (S1-S4) ------------------------------------------------

    # (constructed via Graph.traversal() below)

    # ---- filters (P13-P15, S5/S6) --------------------------------------

    def has_label(self, *labels: str) -> "Traversal":
        """Nodes carrying any of ``labels``; on an edge frontier the
        edge label is its predicate (what :meth:`label` returns)."""
        if self.on_edges:
            return self.has("predicate", lambda c: c.isin(list(labels)))
        t = self.has(
            "labels",
            lambda c: reduce(
                Column.__or__, [F.array_contains(c, lab) for lab in labels]
            ),
        )
        if self.pristine:
            t.labels = frozenset(labels)
        return t

    def has(self, key: str, value=None) -> "Traversal":
        """has(key) = property exists; has(key, value) = equality;
        has(key, callable) = predicate on the Column (P.gt etc.)."""
        if value is None:
            test = Column.isNotNull
        elif callable(value):
            test = value
        else:
            test = lambda c: c == F.lit(value)  # noqa: E731
        if self.pristine:
            return self._fuse(test(self._prop(key)))
        df = self._read(self.df, {"__has": key}, "inner")
        return self._with(df.filter(test(F.col("__has"))).drop("__has"))

    def has_id(self, *ids) -> "Traversal":
        return self._with(self.df.filter(F.col(CUR).isin([int(i) for i in ids])))

    def where(self, cond: Column) -> "Traversal":
        return self._with(self.df.filter(cond))

    def _exists_filter(self, body, keep: bool) -> "Traversal":
        """Shared engine of where_/not_: pin traverser identity, run
        the sub-traversal ONCE over the whole frontier, then one
        traverser-id semi/anti join — never a per-row loop."""
        src = self._pin()
        b = body(Traversal(self.g, src, self.on_edges))
        hits = b.df.select("__tid").dropDuplicates()
        how = "leftsemi" if keep else "leftanti"
        return self._with(src.join(hits, on="__tid", how=how).drop("__tid"))

    def where_(self, body) -> "Traversal":
        """TinkerPop ``where(traversal)``: keep traversers whose
        sub-traversal yields at least one result (e.g.
        ``where_(lambda t: t.out("KNOWS"))``)."""
        return self._exists_filter(body, keep=True)

    def not_(self, body) -> "Traversal":
        """TinkerPop ``not(traversal)``: drop traversers whose
        sub-traversal yields any result — the anti twin of
        :meth:`where_`."""
        return self._exists_filter(body, keep=False)

    def has_not(self, key: str) -> "Traversal":
        """TinkerPop ``hasNot(key)``: keep elements MISSING the
        property (NULL under the typed-column/props-map read)."""
        return self.has(key, Column.isNull)

    # ---- side effects / stream utilities (deep-tail steps) -------------

    def inject(self, *ids, edge_ids: bool = False) -> "Traversal":
        """TinkerPop ``inject()``, restricted to ELEMENT IDS (this
        engine's traverser is an element id, not an arbitrary object):
        append one traverser per given id to the current frontier.
        Labeled/as_() columns of existing rows fill NULL on the
        injected rows (they carry no history).

        The id SPACE must match the frontier: node ids
        on a node frontier, edge ids on an edge frontier (after
        ``outE()``/``inE()``/``bothE()``). Both are opaque longs, so a
        mix-up would not fail — downstream joins would just silently
        produce empty/wrong rows. Injecting into an edge frontier
        therefore requires the explicit ``edge_ids=True`` opt-in."""
        if self.on_edges and not edge_ids:
            raise ValueError(
                "inject() on an EDGE frontier: the given ids would be "
                "interpreted as edge ids, which share the long id "
                "space with node ids — pass edge_ids=True to confirm "
                "they are edge ids"
            )
        if edge_ids and not self.on_edges:
            raise ValueError(
                "inject(edge_ids=True) on a NODE frontier: the "
                "current traverser position is a node id"
            )
        if not ids:
            return self
        extra = local_frame(
            self.df.sparkSession, [(int(i),) for i in ids], f"{CUR} long"
        )
        return self._with(
            self.df.unionByName(extra, allowMissingColumns=True)
        )

    def aggregate(self, label: str) -> "Traversal":
        """TinkerPop ``aggregate(label)`` (the eager side-effect
        barrier): snapshot the CURRENT frontier into the side-effect
        store under ``label`` — as ``(id, bulk)`` rows, TinkerPop's
        BulkSet with multiplicity — and continue unchanged. Read it
        back with :meth:`cap`. The snapshot is a lazy grouped frame
        over the current plan (no materialization until cap() runs)."""
        snap = self.df.groupBy(F.col(CUR).alias("id")).agg(
            F.count("*").alias("bulk")
        )
        t = self._with(self.df)
        t._se = {**self._se, label: snap}
        return t

    def cap(self, label: str) -> DataFrame:
        """Emit the ``aggregate(label)`` collection: a ``(id, bulk)``
        DataFrame (BulkSet semantics — element multiplicity kept)."""
        if label not in self._se:
            raise ValueError(
                f"cap({label!r}): no aggregate({label!r}) step ran "
                f"before it (have: {sorted(self._se) or 'none'})"
            )
        return self._se[label]

    def barrier(self) -> "Traversal":
        """TinkerPop ``barrier()`` is a semantics no-op here — every
        step is already whole-frontier set algebra. Implemented as an
        eager ``localCheckpoint``: the lineage-truncation hint for
        very long chains (the iterative operators' idiom)."""
        return self._with(self.df.localCheckpoint(eager=True))

    # ---- traversal hops (J6-J8) ----------------------------------------

    def _hop(self, direction: str, labels: tuple, to_edges: bool) -> "Traversal":
        e = self.g.edges
        if labels:
            e = e.filter(F.col("predicate").isin(list(labels)))
        out_pairs = e.select(
            F.col("src").alias(CUR),
            (F.col("id") if to_edges else F.col("dst")).alias("__next"),
        )
        in_pairs = e.select(
            F.col("dst").alias(CUR),
            (F.col("id") if to_edges else F.col("src")).alias("__next"),
        )
        if direction == "out":
            pairs = out_pairs
        elif direction == "in":
            pairs = in_pairs
        else:  # both = concat(OUT, IN), reference Neo4jVertex.java:117-120
            pairs = out_pairs.unionAll(in_pairs)
        df = (
            self.df.join(pairs, on=CUR, how="inner")
            .drop(CUR)
            .withColumnRenamed("__next", CUR)
        )
        if "__path" in df.columns:
            df = df.withColumn("__path", F.array_append(F.col("__path"), F.col(CUR)))
        summary = None if to_edges else self.g.summary
        return self._with(
            df, on_edges=to_edges,
            labels=summary and summary.hop_labels(labels, direction),
        )

    def out(self, *labels: str) -> "Traversal":
        return self._hop("out", labels, to_edges=False)

    def in_(self, *labels: str) -> "Traversal":
        return self._hop("in", labels, to_edges=False)

    def both(self, *labels: str) -> "Traversal":
        return self._hop("both", labels, to_edges=False)

    def out_e(self, *labels: str) -> "Traversal":
        return self._hop("out", labels, to_edges=True)

    def in_e(self, *labels: str) -> "Traversal":
        return self._hop("in", labels, to_edges=True)

    def both_e(self, *labels: str) -> "Traversal":
        return self._hop("both", labels, to_edges=True)

    def _edge_end(self, end: str) -> "Traversal":
        e = self.g.edges.select(F.col("id").alias(CUR), F.col(end).alias("__next"))
        df = self.df.join(e, on=CUR, how="inner").drop(CUR).withColumnRenamed("__next", CUR)
        return self._with(df, on_edges=False)

    def out_v(self) -> "Traversal":
        """Edge -> source vertex (reference Neo4jEdge.java:42-62)."""
        return self._edge_end("src")

    def in_v(self) -> "Traversal":
        return self._edge_end("dst")

    def repeat_out(self, times: int, *labels: str) -> "Traversal":
        """Fixed-depth expansion (unrolled joins — each hop is one
        shuffle; for unbounded closure use pidb_rdf_spark.inference)."""
        t = self
        for _ in range(times):
            t = t.out(*labels)
        return t

    # ---- loop / branch steps (TinkerPop repeat/until/emit, coalesce,
    # union — reference exposes these via the full GraphTraversal API,
    # ``Neo4jGraph.java:61``) -------------------------------------------

    def repeat(
        self,
        body,
        times: int | None = None,
        until=None,
        emit: bool = False,
        max_iter: int = 30,
    ) -> "Traversal":
        """TinkerPop ``repeat(body)`` with ``times(n)`` /
        ``until(pred)`` / ``emit()`` modulators.

        - ``body``: a step function ``Traversal -> Traversal`` (e.g.
          ``lambda t: t.out("KNOWS")``). It must be schema-stable (hops
          and filters; no ``as_`` inside the loop).
        - ``times=n``: fixed-depth unroll — n chained hash joins in ONE
          Catalyst plan, no driver iteration.
        - ``until=pred``: do-while fixpoint (``repeat(X).until(P)``
          order: body first, then test). ``pred`` is a step function
          whose result is the *stopping* subset of the frontier (e.g.
          ``lambda t: t.has_label("Region")``); it must decide per
          frontier element (has/has_label/where on the current node),
          since survivors are subtracted by frontier id. Each round
          localCheckpoints — same loop discipline as
          ``inference.transitive_closure``. Traversers still looping
          after ``max_iter`` rounds are dropped (bounded, unlike
          Gremlin's unbounded loop).
        - ``emit=True``: output every post-body traverser position
          (``repeat(X).emit()`` placement), not just the final/stopped
          ones.
        """
        if times is None and until is None:
            raise ValueError("repeat() needs times=... or until=...")
        if until is None:
            frames = []
            cur = self
            for _ in range(times):
                cur = body(cur)
                if emit:
                    frames.append(cur.df)
            if not emit:
                return cur
            out = frames[0]
            for fr in frames[1:]:
                out = out.unionByName(fr)
            return self._with(out, on_edges=cur.on_edges)

        done: list[DataFrame] = []
        cur = self
        on_edges = self.on_edges
        for i in range(max_iter):
            cur = body(cur)
            on_edges = cur.on_edges
            # LAZY checkpoints (same discipline as the walk
            # loops): lineage still truncates per round, but the
            # materialization rides the round's ONE driver action
            # (the isEmpty below) instead of two blocking jobs first.
            stepped = cur.df.localCheckpoint(eager=False)
            cur = Traversal(self.g, stepped, on_edges)
            if times is not None and i + 1 >= times:
                done.append(stepped)
                break
            stopped = until(cur).df
            done.append(stepped if emit else stopped)
            rest = cur.df.join(
                stopped.select(CUR).dropDuplicates(), on=CUR, how="leftanti"
            ).localCheckpoint(eager=False)
            if rest.isEmpty():
                break
            cur = Traversal(self.g, rest, on_edges)
        out = done[0]
        for fr in done[1:]:
            out = out.unionByName(fr)
        return self._with(out, on_edges=on_edges)

    def coalesce_(self, *branches) -> "Traversal":
        """TinkerPop ``coalesce(b1, b2, ...)``: per traverser, the
        results of the FIRST branch that produces any — evaluated
        set-oriented, not row-at-a-time: every branch runs once over
        the whole frontier, a min-window picks the winning branch per
        traverser. Traverser identity is pinned by materializing a
        row id before branching (checkpointed, so all branches see the
        same ids)."""
        if not branches:
            raise ValueError("coalesce_() needs at least one branch")
        src = self._pin()
        outs = []
        on_edges = self.on_edges
        for rank, branch in enumerate(branches):
            b = branch(Traversal(self.g, src, self.on_edges))
            on_edges = b.on_edges
            outs.append(b.df.withColumn("__rank", F.lit(rank)))
        allb = outs[0]
        for fr in outs[1:]:
            allb = allb.unionByName(fr)
        from pyspark.sql import Window

        w = Window.partitionBy("__tid")
        return self._with(
            allb.withColumn("__min", F.min("__rank").over(w))
            .filter(F.col("__rank") == F.col("__min"))
            .drop("__rank", "__min", "__tid"),
            on_edges=on_edges,
        )

    def union_(self, *branches) -> "Traversal":
        """TinkerPop ``union(b1, b2, ...)``: every branch over the
        same frontier, outputs concatenated (bag semantics)."""
        if not branches:
            raise ValueError("union_() needs at least one branch")
        outs = [branch(self) for branch in branches]
        df = outs[0].df
        for t in outs[1:]:
            df = df.unionByName(t.df)
        return self._with(df, on_edges=outs[-1].on_edges)

    def optional_(self, branch) -> "Traversal":
        """TinkerPop ``optional(b)``: the branch result where it
        produces one, the incoming traverser where it doesn't —
        ``coalesce(b, identity)``."""
        return self.coalesce_(branch, lambda t: t)

    def choose(self, pred, true_branch, false_branch=None) -> "Traversal":
        """TinkerPop ``choose(pred, a, b)``: traversers matching
        ``pred`` (a step-filter function, same convention as
        ``repeat``'s ``until`` — e.g. ``lambda t:
        t.has_label("Nation")``) take branch ``a``, the rest branch
        ``b`` (identity when omitted). Set-oriented: each branch runs
        once over its frontier subset; one anti-join splits them
        (per-frontier-element decision, like ``until``)."""
        matched = pred(self).df
        rest = self.df.join(
            matched.select(CUR).dropDuplicates(), on=CUR, how="leftanti"
        )
        t_true = true_branch(self._with(matched))
        t_false = (
            false_branch(self._with(rest))
            if false_branch is not None
            else self._with(rest)
        )
        return self._with(
            t_true.df.unionByName(t_false.df), on_edges=t_true.on_edges
        )

    def match_(self, *patterns) -> "Traversal":
        """TinkerPop ``match(p1, p2, ...)`` (the last major
        ``GraphTraversal`` step family, ``Neo4jGraph.java:61``): each
        pattern is a callable over an anonymous full-vertex traversal
        that marks variables with ``as_()``; pattern solutions
        natural-join on their shared labels — exactly the shape the
        SPARQL compiler's BGP merge uses (``compiler._BGPState``),
        re-expressed on the DSL surface. The incoming traverser binds
        the FIRST pattern's first label (TinkerPop start-binding).

        Each pattern contributes its DISTINCT label bindings (the
        reference's MatchStep also de-duplicates per binding set), so
        the result equals the SPARQL ``SELECT DISTINCT`` over the same
        BGP. Patterns that share no label with the accumulated
        solution are refused (no cartesian products — same rule as
        the compiler's join ordering); connection order is resolved
        greedily, so pattern order never forces a cross join."""
        if not patterns:
            raise ValueError("match_() needs at least one pattern")
        frags = []
        for p in patterns:
            start = Traversal(
                self.g, self.g.nodes.select(F.col("id").alias(CUR))
            )
            t = p(start)
            labels = [
                c for c in t.df.columns if c != CUR and not c.startswith("__")
            ]
            if not labels:
                raise ValueError(
                    "each match_() pattern needs at least one as_() label"
                )
            frags.append((labels, t.df.select(*labels).dropDuplicates()))
        first_label = frags[0][0][0]
        sol = frags[0][1]
        bound = set(frags[0][0])
        rest = list(frags[1:])
        while rest:
            for i, (labels, df) in enumerate(rest):
                shared = [l for l in labels if l in bound]
                if shared:
                    sol = sol.join(df, on=shared, how="inner")
                    bound |= set(labels)
                    rest.pop(i)
                    break
            else:
                raise ValueError(
                    "match_() patterns do not connect on shared as_() "
                    "labels (cartesian product refused)"
                )
        out = self.df.join(
            sol, on=F.col(CUR) == F.col(first_label), how="inner"
        )
        return self._with(out)

    # ---- long-tail steps (TinkerPop sack / local / subgraph / tree /
    # simplePath / cyclicPath — the remaining GraphTraversal families
    # the reference exposes via Neo4jGraph.java:61) ----------------------

    def with_sack(self, initial) -> "Traversal":
        """TinkerPop ``withSack(initial)``: attach a per-traverser
        accumulator. Column bookkeeping only — the sack is one extra
        column carried through every subsequent join, never a
        shuffle of its own."""
        if "__sack" in self.df.columns:
            raise ValueError("traversal already carries a sack")
        return self._with(self.df.withColumn("__sack", F.lit(initial)))

    def sack_by(self, key: str, op: str = "sum") -> "Traversal":
        """TinkerPop ``sack(op).by(key)``: fold the CURRENT element's
        property into each traverser's sack (``sum``/``mult``/
        ``min``/``max``/``assign``). Works on node and edge
        frontiers; NULL properties leave the sack unchanged."""
        if "__sack" not in self.df.columns:
            raise ValueError("sack_by(): call with_sack(initial) first")
        joined = self._read(self.df, {"__sv": key}, "left")
        s, v = F.col("__sack"), F.col("__sv").cast("double")
        if op == "sum":
            newsack = s + F.coalesce(v, F.lit(0.0))
        elif op == "mult":
            newsack = s * F.coalesce(v, F.lit(1.0))
        elif op == "min":
            newsack = F.least(s, F.coalesce(v, s))
        elif op == "max":
            newsack = F.greatest(s, F.coalesce(v, s))
        elif op == "assign":
            newsack = F.coalesce(v, s)
        else:
            raise ValueError(f"unknown sack op: {op!r}")
        return self._with(
            joined.withColumn("__sack", newsack).drop("__sv")
        )

    def sack_df(self, *keys: str) -> DataFrame:
        """Terminal ``sack()``: one row per traverser with its sack
        value, plus the requested properties of the current element
        (so path costs stay joined to what they cost)."""
        if "__sack" not in self.df.columns:
            raise ValueError("sack_df(): call with_sack(initial) first")
        if not keys:
            return self.df.select(F.col("__sack").alias("sack"))
        return self._values(keys, F.col("__sack").alias("sack"))

    def local(
        self,
        body,
        order_key: str | None = None,
        asc: bool = True,
        limit: int | None = None,
        dedup: bool = False,
    ) -> "Traversal":
        """TinkerPop ``local(body)`` for its dominant uses: run
        ``body`` with traverser identity pinned, then apply
        ``dedup``/``order().by(order_key)``/``limit`` WITHIN each
        incoming traverser's results instead of globally (per-vertex
        top-k neighbors, first-edge-per-node, ...).

        Set-oriented: identity is one materialized row id (same
        device as ``coalesce_``), the body runs ONCE over the whole
        frontier, and the per-traverser order/limit is a
        row_number window partitioned by traverser id — exactly the
        per-group top-k plan ``operators/window.py`` uses, so the
        sort is per-partition-group, never global. Ordering ties
        break on element id (deterministic across partitionings)."""
        src = self._pin()
        b = body(Traversal(self.g, src, self.on_edges))
        df = b.df
        if dedup:
            df = df.dropDuplicates(["__tid", CUR])
        if order_key is not None or limit is not None:
            from pyspark.sql import Window

            if order_key is not None:
                df = b._read(df, {"__ok": order_key}, "left")
                # elements MISSING the order property rank LAST either
                # direction (Spark's asc default is NULLS FIRST, which
                # would hand them the per-traverser top-k slots)
                key = (
                    F.col("__ok").asc_nulls_last()
                    if asc
                    else F.col("__ok").desc_nulls_last()
                )
                order = [key, F.col(CUR).asc()]
            else:
                order = [F.col(CUR).asc()]
            # duplicate traversers at one element (same CUR, different
            # carried __path/__sack state) must rank deterministically
            # too — trail the same state tie-breaks the slice steps use
            order += [
                F.col(c).cast("string").asc()
                for c in df.columns
                if c not in (CUR, "__tid", "__ok")
            ]
            w = Window.partitionBy("__tid").orderBy(*order)
            df = df.withColumn("__rn", F.row_number().over(w))
            if limit is not None:
                df = df.filter(F.col("__rn") <= limit)
            df = df.drop("__rn", "__ok")
        return self._with(df.drop("__tid"), on_edges=b.on_edges)

    def subgraph(self) -> PropertyGraph:
        """TinkerPop ``subgraph()`` side-effect: materialize the
        edge-induced subgraph of the CURRENT EDGE frontier — the
        frontier's edges plus their endpoint vertices, as a fully
        queryable :class:`PropertyGraph` (every surface — DSL,
        SPARQL, Cypher — runs on the result). Two semi-joins; node
        and edge payloads are never copied, just filtered. The edge-id
        frontier is materialized once (lazy localCheckpoint, ids
        only): both semi-joins and every later query on the result
        reuse it instead of re-running the traversal chain that
        produced it (measured 19.7 s -> 3.4 s on the sf0.1 census)."""
        if not self.on_edges:
            raise ValueError(
                "subgraph(): frontier must hold edges (use out_e/in_e/"
                "both_e or E())"
            )
        eids = (
            self.df.select(F.col(CUR).alias("id"))
            .dropDuplicates()
            .localCheckpoint(eager=False)
        )
        sub_edges = self.g.edges.join(eids, on="id", how="leftsemi")
        # endpoints in ONE pass over the filtered edges (explode, not
        # a two-select union that would scan them twice)
        ends = (
            sub_edges.select(
                F.explode(F.array(F.col("src"), F.col("dst"))).alias("id")
            )
            .dropDuplicates()
        )
        sub_nodes = self.g.nodes.join(ends, on="id", how="leftsemi")
        return PropertyGraph(
            spark=self.g.spark,
            nodes=sub_nodes,
            edges=sub_edges,
            namespaces=self.g.namespaces,
            variables=dict(self.g.variables),
        )

    def tree(self) -> DataFrame:
        """TinkerPop ``tree()``: the traversal tree as rows —
        ``(depth, parent, child, n_traversers)``, where depth is the
        child's position along the recorded path (root = depth 0's
        parent). Derived entirely from the ``__path`` arrays (one
        posexplode + aggregate, no extra graph joins); requires
        ``with_path()``."""
        if "__path" not in self.df.columns:
            raise ValueError("tree(): call with_path() before traversing")
        steps = self.df.select(
            F.posexplode(
                F.zip_with(
                    F.slice(F.col("__path"), 1, F.size("__path") - 1),
                    F.slice(F.col("__path"), 2, F.size("__path") - 1),
                    lambda a, b: F.struct(
                        a.alias("parent"), b.alias("child")
                    ),
                )
            ).alias("__pos", "__pc")
        )
        return (
            steps.select(
                (F.col("__pos") + 1).alias("depth"),
                F.col("__pc.parent").alias("parent"),
                F.col("__pc.child").alias("child"),
            )
            .groupBy("depth", "parent", "child")
            .agg(F.count("*").alias("n_traversers"))
        )

    def simple_path(self) -> "Traversal":
        """TinkerPop ``simplePath()``: keep traversers whose recorded
        path never revisits an element. Pure column arithmetic on the
        ``__path`` array (size vs distinct size) — no joins."""
        if "__path" not in self.df.columns:
            raise ValueError("simple_path(): call with_path() first")
        return self._with(
            self.df.filter(
                F.size(F.array_distinct("__path")) == F.size("__path")
            )
        )

    def cyclic_path(self) -> "Traversal":
        """TinkerPop ``cyclicPath()``: the complement of
        :meth:`simple_path` — keep traversers that revisited."""
        if "__path" not in self.df.columns:
            raise ValueError("cyclic_path(): call with_path() first")
        return self._with(
            self.df.filter(
                F.size(F.array_distinct("__path")) < F.size("__path")
            )
        )

    def sample(self, n: int, salt: str = "sample") -> "Traversal":
        """TinkerPop ``sample(n)``, deterministic: keep the ``n``
        traversers with the smallest md5(salt, element id, row tag) —
        a uniform-looking but replayable draw (the repo's standing
        md5 contract; TinkerPop's RNG sample cannot be oracle-checked).
        Executes as TakeOrdered — no global sort materialization."""
        if n < 1:
            raise ValueError("n must be >= 1")
        from pidb_rdf_spark.operators.hashing import md5_prefix_long

        # the draw key covers EVERY deterministic column — including
        # __path/__sack state, so two traversers at the same element
        # with different histories get distinct keys and the limit
        # boundary never depends on partition order. __tid is the one
        # exclusion: monotonically_increasing_id values vary with
        # partitioning, and hashing them would break replayability.
        key = F.concat_ws(
            ":",
            F.lit(salt),
            F.col(CUR).cast("string"),
            *[
                F.col(c).cast("string")
                for c in self.df.columns
                if c != CUR and c != "__tid"
            ],
        )
        return self._with(
            self.df.orderBy(md5_prefix_long(key, 52)).limit(n)
        )

    def group_values(self, key: str, value: str) -> DataFrame:
        """TinkerPop ``group().by(key).by(values(value).fold())``:
        one row per ``key`` property value with the sorted list of
        ``value`` properties of the grouped frontier elements
        (sorted → deterministic across partitionings)."""
        return (
            self._read(self.df, {"key": key, "__v": value}, "inner")
            .groupBy("key")
            .agg(F.array_sort(F.collect_list("__v")).alias("values"))
        )

    # ---- project() / group().by(traversal) ------------------------------

    def _by_modulator(self, src: DataFrame, name: str, spec):
        """Resolve one ``by()``-modulator against the ``__tid``-pinned
        frontier ``src`` → a ``(__tid, <name>)`` frame. Spec forms
        (the dominant Gremlin shapes):

        - ``"prop"`` — the current element's property value;
        - ``(body, "count")`` — ``by(sub.count())``: traverser count
          reached by the sub-traversal (0 where it died — TinkerPop's
          count barrier);
        - ``(body, "fold")`` / ``(body, "fold", "prop")`` —
          ``by(sub.values(prop).fold())``: SORTED array of reached
          element ids (or their property values) — sorted because
          TinkerPop's stream order is partition-dependent and this
          engine's contract is replayability;
        - ``(body, "min"|"max"|"sum", "prop")`` — reducing barriers
          over reached elements' property values;
        - ``(body, "first", "prop")`` — ``by(sub.values(prop))``
          first-result semantics, made deterministic as the MINIMUM
          value (TinkerPop's "first" is iteration-order luck; min is
          the replayable choice, documented).

        One sub-traversal execution per modulator over the WHOLE
        frontier (never per-row), one grouped aggregate keyed on
        ``__tid``, one left join back — the ``local()`` plan shape."""
        if isinstance(spec, str):
            return self._read(src, {name: spec}, "left").select("__tid", name)
        body, terminal, *rest = spec
        b = body(Traversal(self.g, src, self.on_edges))
        reached = b.df
        if terminal == "count":
            agg = reached.groupBy("__tid").agg(
                F.count("*").cast("long").alias(name)
            )
            return (
                src.select("__tid")
                .dropDuplicates()
                .join(agg, on="__tid", how="left")
                .select(
                    "__tid", F.coalesce(name, F.lit(0).cast("long")).alias(name)
                )
            )
        if rest:
            vals = b._read(reached, {"__v": rest[0]}, "inner").select(
                "__tid", "__v"
            )
        else:
            vals = reached.select("__tid", F.col(CUR).alias("__v"))
        if terminal == "fold":
            agg_col = F.array_sort(F.collect_list("__v"))
        elif terminal == "min" or terminal == "first":
            agg_col = F.min("__v")
        elif terminal == "max":
            agg_col = F.max("__v")
        elif terminal == "sum":
            agg_col = F.sum("__v")
        else:
            raise ValueError(f"unknown by() terminal: {terminal!r}")
        return vals.groupBy("__tid").agg(agg_col.alias(name))

    def project(self, **specs) -> DataFrame:
        """TinkerPop ``project('a','b').by(...).by(...)`` — one output
        row per traverser with one named column per modulator (see
        :meth:`_by_modulator` for the spec forms)::

            t.project(name="c_name",
                      n_orders=(lambda s: s.out("HAS_ORDER"), "count"))

        Identity is pinned once (`__tid`), every modulator is one
        whole-frontier sub-traversal + grouped aggregate + left join —
        never a per-row loop. ``fold`` projections fill ``[]`` and
        ``count`` fills 0 where the sub-traversal died; scalar
        reducers fill NULL (TinkerPop drops those traversers instead —
        filter on the column for that semantics)."""
        if not specs:
            raise ValueError("project() needs at least one named modulator")
        src = self._pin()
        out = src.select("__tid")
        for name, spec in specs.items():
            part = self._by_modulator(src, name, spec)
            out = out.join(part, on="__tid", how="left")
            if isinstance(spec, tuple) and spec[1] == "fold":
                # a dead sub-traversal folds to [], not NULL (the
                # TinkerPop fold barrier); typed to the join result
                empty = F.array().cast(part.schema[name].dataType)
                out = out.withColumn(name, F.coalesce(F.col(name), empty))
        return out.select(*specs)

    def group(self, key, value) -> DataFrame:
        """TinkerPop ``group().by(key).by(values(value).fold())`` with
        the KEY side accepting either a property name or a
        ``by(traversal)`` modulator (the long-tail form),
        e.g. group customers by their nation's name::

            t.group((lambda s: s.out("IN_NATION"), "first", "n_name"),
                    value="c_name")

        Values are the SORTED list of the grouped elements' ``value``
        property (sorted → deterministic across partitionings, the
        ``group_values`` contract). One sub-traversal + one grouped
        aggregate; NULL keys (traversers whose key traversal died)
        group under NULL, matching SQL GROUP BY."""
        src = self._pin()
        keyed = self._by_modulator(src, "key", key)
        vals = self._read(src, {"__v": value}, "inner").select("__tid", "__v")
        return (
            keyed.join(vals, on="__tid", how="inner")
            .groupBy("key")
            .agg(F.array_sort(F.collect_list("__v")).alias("values"))
        )

    # ---- step labels / projection --------------------------------------

    def with_path(self) -> "Traversal":
        """Start recording the traversal history (TinkerPop ``path()``
        step, SURVEY §3.2): every subsequent hop appends the new
        frontier element's id to a per-row ``__path`` array. Column-
        array bookkeeping, no extra joins or shuffles."""
        return self._with(self.df.withColumn("__path", F.array(F.col(CUR))))

    def path(self, by: str = "id") -> DataFrame:
        """The recorded paths, one array per surviving traverser —
        ids (default) or resolved to uris (one explode + hash join,
        reassembled position-sorted)."""
        if "__path" not in self.df.columns:
            raise ValueError("path(): call with_path() before traversing")
        out = self.df.select(F.col("__path").alias("path"))
        if by == "id":
            return out
        if by != "uri":
            raise ValueError("by must be 'id' or 'uri'")
        keyed = out.withColumn("__pid", F.monotonically_increasing_id())
        ex = keyed.select("__pid", F.posexplode("path").alias("pos", "nid"))
        return (
            self.g.lookup(ex, "nid", {"uri": F.col("uri")})
            .groupBy("__pid")
            .agg(
                F.array_sort(F.collect_list(F.struct("pos", "uri"))).alias("__s")
            )
            .select(F.transform("__s", lambda x: x["uri"]).alias("path"))
        )

    def as_(self, name: str) -> "Traversal":
        return self._with(self.df.withColumn(name, F.col(CUR)))

    def select(self, *names: str) -> DataFrame:
        """Project as_()-labeled node ids to uris."""
        df = self.df
        for n in names:
            df = self.g.lookup(df, n, {n: F.col("uri")}, how="inner")
        return df.select(*names)

    def values(self, *keys: str) -> DataFrame:
        """Project properties of the current frontier (reference
        PropertiesStep / values())."""
        return self._values(keys)

    def _values(self, keys: tuple, *extra: Column) -> DataFrame:
        """One column per key, named as the key (read under private
        names, so a key may hold dots or repeat), plus ``extra``."""
        got = self._read(
            self.df, {f"__v{i}": k for i, k in enumerate(keys)}, "inner"
        )
        return got.select(
            *[F.col(f"__v{i}").alias(k) for i, k in enumerate(keys)], *extra
        )

    def value_map(self, *keys: str) -> DataFrame:
        """One row per element with its property map (TinkerPop
        ``valueMap()``): the full schemaless ``props`` map, optionally
        restricted to ``keys``. Includes ``id`` for joinability."""
        src = self._read(self.df, {"__props": "props"}, "inner")
        props = F.col("__props")
        if keys:
            key_arr = F.array(*[F.lit(k) for k in keys])
            props = F.map_filter(props, lambda k, _: F.array_contains(key_arr, k))
        return src.select(F.col(CUR).alias("id"), props.alias("value_map"))

    def uri(self) -> DataFrame:
        """The current nodes' uris; edges have none, so an edge
        frontier raises."""
        if self.on_edges:
            raise ValueError(
                "uri(): edges have no uri — hop to a node frontier "
                "(out_v/in_v) first"
            )
        return self._read(self.df, {"uri": "uri"}, "inner").select("uri")

    def id_(self) -> DataFrame:
        return self.df.select(F.col(CUR).alias("id"))

    def label(self) -> DataFrame:
        """One row per (element, label) — multi-label explode
        (reference joins labels with '::', Neo4jVertex.java:100-103;
        SURVEY §1.5 says use native arrays instead)."""
        if self.on_edges:
            return self._read(self.df, {"label": "predicate"}, "inner").select(
                "label"
            )
        return self._read(self.df, {"__labels": "labels"}, "inner").select(
            F.explode("__labels").alias("label")
        )

    # ---- terminal aggregates (A1-A6 analogs) ---------------------------

    def count(self) -> DataFrame:
        return self.df.agg(F.count("*").alias("count"))

    def dedup(self) -> "Traversal":
        return self._with(self.df.dropDuplicates([CUR]))

    def group_count(self, key: str | None = None) -> DataFrame:
        """groupCount() by property value (or by current element id)."""
        if key is None:
            return self.df.groupBy(F.col(CUR).alias("key")).agg(
                F.count("*").alias("count")
            )
        return (
            self._read(self.df, {"key": key}, "inner")
            .groupBy("key")
            .agg(F.count("*").alias("count"))
        )

    def _det_tiebreaks(
        self, exclude: tuple = (), desc: bool = False
    ) -> list:
        """Trailing sort keys making slices/top-k deterministic when
        the frontier holds DUPLICATE traversers at one element (same
        id, different __path/__sack history): every deterministic
        carried column, cast to string so arrays order consistently.
        ``__tid`` stays out — monotonically_increasing_id values vary
        with partitioning and would break replayability."""
        skip = set(exclude) | {CUR, "__tid"}
        return [
            (
                F.col(c).cast("string").desc()
                if desc
                else F.col(c).cast("string").asc()
            )
            for c in self.df.columns
            if c not in skip
        ]

    def order_by(self, key: str, asc: bool = True) -> "Traversal":
        col = F.col("__ok")
        return self._with(
            self._read(self.df, {"__ok": key}, "left")
            .orderBy(
                # nulls LAST in both directions: elements missing the
                # order property must not win top slots of
                # order_by().limit() (matches the by()-modulated
                # top-k path's asc_nulls_last/desc_nulls_last)
                col.asc_nulls_last() if asc else col.desc_nulls_last(),
                F.col(CUR).asc(),
                *self._det_tiebreaks(),
            )
            .drop("__ok")
        )

    def limit(self, n: int) -> "Traversal":
        return self._with(self.df.limit(n))

    def range_(self, low: int, high: int) -> "Traversal":
        """Traversers [low, high) — TinkerPop ``range()``. TinkerPop
        leaves stream order undefined; here the slice is taken over
        element-id order (carried traverser state as the tie-break,
        so duplicate traversers at one element slice identically on
        any partitioning) so the answer is deterministic and
        engine-replayable. Physical shape: sort + offset + limit —
        Spark executes the bounded sort as TakeOrdered (no global
        single-partition sort materializes)."""
        if not 0 <= low < high:
            raise ValueError("range_ needs 0 <= low < high")
        return self._with(
            self.df.orderBy(F.col(CUR).asc(), *self._det_tiebreaks())
            .offset(low)
            .limit(high - low)
        )

    def skip(self, n: int) -> "Traversal":
        """Drop the first ``n`` traversers in element-id order
        (TinkerPop ``skip()``) — same determinism note as
        :meth:`range_`. An unbounded offset implies a full sort; pair
        with ``limit`` (or use ``range_``) on large frontiers."""
        return self._with(
            self.df.orderBy(F.col(CUR).asc(), *self._det_tiebreaks())
            .offset(n)
        )

    def tail(self, n: int) -> "Traversal":
        """Last ``n`` traversers in element-id order (TinkerPop
        ``tail()``): the id-descending top-n re-sorted ascending —
        two TakeOrdered-class bounded sorts, never a global sort.
        The descending pass reverses the SAME total order range_/skip
        use (id + carried-state tie-breaks), so the three slices
        partition the frontier consistently."""
        last = self.df.orderBy(
            F.col(CUR).desc(), *self._det_tiebreaks(desc=True)
        ).limit(n)
        return self._with(last.orderBy(F.col(CUR).asc()))

    def coin(self, p: float) -> "Traversal":
        """Keep each traverser with probability ``p`` (TinkerPop
        ``coin()``), DETERMINISTICALLY: the draw is the md5 unit hash
        of the element id (the repo-wide replayable-sampling
        contract), so the same graph + p always keeps the same
        elements, on any engine, under any partitioning — unlike
        TinkerPop's RNG coin, which this engine deliberately does not
        reproduce (a nondeterministic operator cannot be
        oracle-checked)."""
        if not 0.0 <= p <= 1.0:
            raise ValueError("coin needs 0 <= p <= 1")
        from pidb_rdf_spark.operators.hashing import md5_prefix_long

        unit = md5_prefix_long(F.col(CUR), 52).cast("double") / F.lit(
            float(1 << 52)
        )
        return self._with(self.df.filter(unit < F.lit(float(p))))

    def fold(self) -> DataFrame:
        """All current traverser ids as ONE array row (TinkerPop
        ``fold()``), sorted for determinism. Same caveat as any
        fold: the whole frontier lands in one row — bound the
        frontier first (this mirrors TinkerPop, where fold()
        materializes the full stream in one traverser)."""
        return self.df.agg(
            F.array_sort(F.collect_list(CUR)).alias("folded")
        )

    # ---- numeric terminals over a property (sum/mean/min/max) ---------

    def _value_agg(self, key: str, agg, name: str) -> DataFrame:
        vals = self.values(key).select(F.col(key).cast("double").alias("__v"))
        return vals.agg(agg(F.col("__v")).alias(name))

    def sum_(self, key: str) -> DataFrame:
        """TinkerPop ``values(key).sum()`` — one map-side-combinable
        aggregate; NULL/non-numeric values drop (cast semantics)."""
        return self._value_agg(key, F.sum, "sum")

    def mean_(self, key: str) -> DataFrame:
        return self._value_agg(key, F.avg, "mean")

    def min_(self, key: str) -> DataFrame:
        return self._value_agg(key, F.min, "min")

    def max_(self, key: str) -> DataFrame:
        return self._value_agg(key, F.max, "max")

    def to_df(self) -> DataFrame:
        return self.df


class GraphTraversalSource:
    """``g = graph.traversal(); g.V()...`` — mirrors
    ``Neo4jGraph.traversal()`` + ``GraphTraversalSource``."""

    def __init__(self, graph: PropertyGraph):
        self.g = graph

    def V(self, *ids) -> Traversal:
        df = self.g.vertices(*ids).select(F.col("id").alias(CUR))
        # a bare V() starts pristine: subsequent has/has_label steps
        # fuse into one filtered scan (see Traversal._fuse); id
        # lookups are already a pushed filter, nothing to fuse
        return Traversal(self.g, df, on_edges=False, pristine=not ids)

    def E(self, *ids) -> Traversal:
        df = self.g.relationships(*ids).select(F.col("id").alias(CUR))
        return Traversal(self.g, df, on_edges=True)


def traversal(graph: PropertyGraph) -> GraphTraversalSource:
    return GraphTraversalSource(graph)


class P:
    """Predicate helpers for has(key, P.gt(x)) — TinkerPop's P."""

    @staticmethod
    def gt(v):
        return lambda c: c > F.lit(v)

    @staticmethod
    def gte(v):
        return lambda c: c >= F.lit(v)

    @staticmethod
    def lt(v):
        return lambda c: c < F.lit(v)

    @staticmethod
    def lte(v):
        return lambda c: c <= F.lit(v)

    @staticmethod
    def neq(v):
        return lambda c: c != F.lit(v)

    @staticmethod
    def within(*vs):
        return lambda c: c.isin(list(vs))

    @staticmethod
    def between(lo, hi):
        return lambda c: (c >= F.lit(lo)) & (c < F.lit(hi))

    @staticmethod
    def without(*vs):
        return lambda c: ~c.isin(list(vs))

    @staticmethod
    def inside(lo, hi):
        # TinkerPop inside: exclusive both ends
        return lambda c: (c > F.lit(lo)) & (c < F.lit(hi))

    @staticmethod
    def outside(lo, hi):
        return lambda c: (c < F.lit(lo)) | (c > F.lit(hi))

    @staticmethod
    def eq(v):
        return lambda c: c == F.lit(v)


class TextP:
    """Text predicates for has(key, TextP.containing(x)) —
    TinkerPop's TextP."""

    @staticmethod
    def containing(s):
        return lambda c: c.contains(s)

    @staticmethod
    def not_containing(s):
        return lambda c: ~c.contains(s)

    @staticmethod
    def starting_with(s):
        return lambda c: c.startswith(s)

    @staticmethod
    def not_starting_with(s):
        return lambda c: ~c.startswith(s)

    @staticmethod
    def ending_with(s):
        return lambda c: c.endswith(s)

    @staticmethod
    def not_ending_with(s):
        return lambda c: ~c.endswith(s)

    @staticmethod
    def regex(pattern):
        return lambda c: c.rlike(pattern)
