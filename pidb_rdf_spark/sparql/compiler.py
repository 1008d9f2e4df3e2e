"""SPARQL algebra -> DataFrame plan compiler.

Reference counterpart: ``sparql/SparqlToGremlinCompiler.java`` +
``sparql/TraversalBuilder.java`` + ``sparql/WhereTraversalBuilder.java``
(SPARQL algebra -> Gremlin match()/coalesce() traversals, solved by
backtracking unification). Here every triple pattern becomes a small
DataFrame (a filtered scan of ``nodes`` or ``edges`` with columns
named after the pattern's variables) and pattern conjunction becomes
a natural join on shared variable columns — the set-oriented
equivalent of match() unification (SURVEY.md §2.4 J1). Catalyst picks
the physical join strategy; we contribute the one thing it cannot
infer: a selectivity-based ordering of the patterns, mirroring the
reference's access-path ranking (``NoMultiNoMetaNeo4jTrait.java:
150-188``: id lookup > index seek > label scan > full scan).

Differences from the reference, by design (SURVEY.md §7 quirks list):

- OPTIONAL fills unmatched vars with SQL NULL, not the ``"N/A"``
  sentinel (``SparqlToGremlinCompiler.java:122``); pass
  ``optional_fill="N/A"`` for bug-compatible output.
- multi-key GROUP BY / ORDER BY keep declared key order (the
  reference keeps only the last GROUP BY var, :158-161, and loses
  ORDER BY key order in a HashMap, :211-226).
- UNION compiles each branch properly (the reference splits the
  pattern list in half blindly, :296-315).
- EXISTS / NOT EXISTS accept arbitrary groups, not single triples
  (``WhereTraversalBuilder.java:99,111``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pidb_rdf_spark.graph import PropertyGraph
from pidb_rdf_spark.sparql import algebra as A
from pidb_rdf_spark.sparql.parser import parse_sparql

EDGE_NS = "edge://"
VALUE_NS = "value://"
PROP_NS = "prop://"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"

_NUMERIC_TYPES = (
    T.LongType, T.IntegerType, T.DoubleType, T.FloatType, T.ShortType,
    T.ByteType, T.DecimalType,
)


def _local_name(iri: str) -> str:
    """Substring after the last / # : — same contract as the reference
    scalar fn getIRILocalName (``semantics/RDFImport.java:188-191``)."""
    for sep in ("#", "/", ":"):
        if sep in iri:
            iri = iri.rsplit(sep, 1)[1] if iri.rsplit(sep, 1)[1] else iri
    # simple right-scan: find last of any separator
    idx = max(iri.rfind("/"), iri.rfind("#"), iri.rfind(":"))
    return iri[idx + 1:] if idx >= 0 else iri


def _union_terms(frames: list) -> DataFrame:
    """Union solution frames by variable name, a variable a frame
    lacks reading NULL. SPARQL bindings are heterogeneous RDF terms:
    a variable two frames bind with different Spark types is cast to
    string (ANSI union coercion would throw casting e.g. 'AFRICA' to
    BIGINT)."""
    types: dict = {}
    for f in (f for b in frames for f in b.schema.fields):
        types.setdefault(f.name, set()).add(f.dataType)
    out = None
    for b in frames:
        b = b.select(*[
            F.col(c).cast("string").alias(c) if len(types[c]) > 1 else F.col(c)
            for c in b.columns
        ])
        out = b if out is None else out.unionByName(b, allowMissingColumns=True)
    return out


class _BGPState:
    """Bindings under construction: one DataFrame whose columns are the
    bound variable names (node vars hold node ids), plus kind tracking."""

    def __init__(self, compiler: "SparqlCompiler"):
        self.c = compiler
        self.df: DataFrame | None = None
        self.kinds: dict[str, str] = {}  # var -> 'node' | 'value'
        self.order: list[str] = []
        # node var -> labels one of which each of its bindings carries
        self.labels: dict[str, frozenset] = {}

    def note(self, var: str, kind: str) -> None:
        if var not in self.kinds:
            self.kinds[var] = kind
            self.order.append(var)
        elif kind == "node":
            self.kinds[var] = "node"

    def constrain(self, var: str, labels) -> None:
        """Record the labels a pattern of this group, joined inner,
        gives ``var``. ONE pattern's set is kept (the smallest), never
        an intersection of two: a node may carry several labels."""
        old = self.labels.get(var)
        if labels is not None and (old is None or len(labels) < len(old)):
            self.labels[var] = frozenset(labels)

    def merge(self, frame: DataFrame) -> None:
        if self.df is None:
            self.df = frame
            return
        shared = [col for col in frame.columns if col in self.df.columns]
        if shared:
            self.df = self.df.join(frame, on=shared, how="inner")
        else:
            self.df = self.df.crossJoin(frame)


class SparqlCompiler:
    def __init__(self, graph: PropertyGraph, optional_fill: str | None = None):
        self.g = graph
        self.optional_fill = optional_fill  # None => SQL NULL (default)
        self._var_counter = 0
        self._active_agg_map: dict = {}
        self._optional_vars: set[str] = set()
        # var -> 'node' | 'value' for the group currently being compiled;
        # consulted by term-type builtins (ISIRI/ISBLANK/ISLITERAL)
        self._term_kinds: dict[str, str] = {}

    # ------------------------------------------------------------------
    def compile(self, query: str | A.Query) -> DataFrame:
        q = parse_sparql(query) if isinstance(query, str) else query
        if q.form == "ask":
            return self._compile_ask(q)
        if q.form == "construct":
            return self._compile_construct(q)
        if q.form == "describe":
            return self._compile_describe(q)
        df, _kinds = self._compile_query(q, materialize=True)
        return df

    # ---- non-SELECT query forms (SPARQL 1.1 §16) ----------------------

    def _compile_ask(self, q: A.Query) -> DataFrame:
        """ASK -> one row, one boolean column ``ask`` (existence of any
        solution; the aggregate keeps the plan lazy and the probe cheap
        via the inner LIMIT 1)."""
        state = _BGPState(self)
        self._compile_group(state, q.where)
        if state.df is None:  # empty pattern: matched by the empty solution
            return self.g.spark.range(1).select(F.lit(True).alias("ask"))
        return (
            state.df.select(F.lit(1).alias("__x"))
            .limit(1)
            .agg((F.count("__x") > 0).alias("ask"))
        )

    def _compile_construct(self, q: A.Query) -> DataFrame:
        """CONSTRUCT -> triples DataFrame (subject, predicate, object,
        is_literal): one projection of the solution set per template
        triple, unioned and deduplicated (a graph is a set of triples)."""
        state = _BGPState(self)
        self._compile_group(state, q.where)
        df = state.df
        if df is None:
            df = self.g.spark.range(1).select(F.lit(1).alias("__unit"))
        if q.order_by:
            df = df.orderBy(*[
                self._expr_col(e, df).asc() if asc else self._expr_col(e, df).desc()
                for e, asc in q.order_by
            ])
        if q.offset:
            df = df.offset(q.offset)
        if q.limit is not None:
            df = df.limit(q.limit)
        needed = set()
        for pat in q.template:
            needed |= {t.name for t in (pat.s, pat.p, pat.o) if isinstance(t, A.Var)}
        df = self._materialize_uris(state, df, needed)

        def term_col(term, subject_pos: bool) -> tuple[Column, Column]:
            """-> (value column, is_literal column)"""
            if isinstance(term, A.Var):
                is_lit = state.kinds.get(term.name) == "value"
                return F.col(term.name).cast("string"), F.lit(is_lit)
            if isinstance(term, A.IRI):
                iri = term.value
                if iri.startswith(EDGE_NS) or iri.startswith(VALUE_NS):
                    iri = self._predicate_name(iri) if iri.startswith(EDGE_NS) else iri[len(VALUE_NS):]
                return F.lit(iri), F.lit(False)
            return F.lit(str(term.value)), F.lit(True)

        frames = []
        for pat in q.template:
            # W3C §10.2: an instantiation containing an unbound
            # variable produces no triple — a variable the WHERE never
            # binds at all drops this template triple entirely (the
            # per-row NULL case is the isNotNull filter below)
            tvars = {
                t.name for t in (pat.s, pat.p, pat.o) if isinstance(t, A.Var)
            }
            if any(v not in df.columns for v in tvars):
                continue
            s_col, _ = term_col(pat.s, True)
            p_col, _ = term_col(pat.p, False)
            o_col, o_lit = term_col(pat.o, False)
            frames.append(
                df.select(
                    s_col.alias("subject"),
                    p_col.alias("predicate"),
                    o_col.alias("object"),
                    o_lit.alias("is_literal"),
                ).filter(
                    F.col("subject").isNotNull()
                    & F.col("predicate").isNotNull()
                    & F.col("object").isNotNull()
                )
            )
        if not frames:  # every template triple had an unbound var
            return self.g.spark.createDataFrame(
                [],
                "subject string, predicate string, object string, "
                "is_literal boolean",
            )
        out = frames[0]
        for fr in frames[1:]:
            out = out.unionAll(fr)
        return out.dropDuplicates()

    def _compile_describe(self, q: A.Query) -> DataFrame:
        """DESCRIBE -> each target node's triples + 1-hop context (same
        sink as the reference's describe endpoints, RDFEndpoint.java:
        206-291). Targets = listed IRIs plus every binding of listed
        variables from WHERE."""
        from pidb_rdf_spark.sources.rdf_writer import describe_nodes

        iris = [t.value for t in q.describe_terms if isinstance(t, A.IRI)]
        vars_ = [t.name for t in q.describe_terms if isinstance(t, A.Var)]
        target = self.g.nodes.filter(F.col("uri").isin(iris)) if iris else None
        if vars_:
            state = _BGPState(self)
            self._compile_group(state, q.where)
            if state.df is not None:
                df = self._materialize_uris(state, state.df, set(vars_))
                uris = df.select(
                    F.explode(F.array(*[F.col(v) for v in vars_])).alias("uri")
                ).dropDuplicates()
                var_target = self.g.nodes.join(uris, on="uri", how="leftsemi")
                target = (
                    var_target if target is None
                    else target.unionByName(var_target).dropDuplicates(["id"])
                )
        if target is None:
            target = self.g.nodes.limit(0)
        return describe_nodes(self.g, target)

    def _compile_query(
        self, q: A.Query, materialize: bool
    ) -> tuple[DataFrame, dict]:
        """Compile one SELECT query. ``materialize=False`` (subselects)
        keeps node variables as join-ready ids and reports each output
        column's kind so the enclosing scope can keep joining on them;
        the top level resolves node vars to uris for output."""
        state = _BGPState(self)
        self._compile_group(state, q.where)
        self._term_kinds = state.kinds
        df = state.df
        if df is None:
            df = self.g.spark.range(1).select(F.lit(1).alias("__unit"))

        select_items = list(q.select)
        if not select_items:  # SELECT *
            select_items = [A.SelectItem(A.Var(v), v) for v in state.order if not v.startswith("__")]

        has_agg = any(isinstance(it.expr, A.AggExpr) for it in select_items)

        # vars whose *output form* is needed (node vars -> uri string)
        needed: set[str] = set(q.group_by)
        for it in select_items:
            needed |= self._expr_vars(it.expr)
        for expr, _asc in q.order_by:
            needed |= self._expr_vars(expr)
        if materialize:
            df = self._materialize_uris(state, df, needed)
        if materialize and self.optional_fill is not None:
            # reference fills unmatched OPTIONAL vars with literal
            # "N/A" (SparqlToGremlinCompiler.java:122) — opt-in only
            for v in self._optional_vars:
                if v in df.columns:
                    df = df.withColumn(
                        v,
                        F.coalesce(F.col(v).cast("string"), F.lit(self.optional_fill)),
                    )

        if has_agg or q.group_by:
            df = self._compile_aggregation(q, state, df, select_items)
        else:
            exprs = []
            for it in select_items:
                if isinstance(it.expr, A.Var) and it.expr.name == it.alias:
                    # W3C: projecting a variable no pattern binds is
                    # legal — it is simply unbound in every solution
                    if it.alias in df.columns:
                        exprs.append(F.col(it.alias))
                    else:
                        exprs.append(F.lit(None).cast("string").alias(it.alias))
                else:
                    exprs.append(self._expr_col(it.expr, df).alias(it.alias))
            df = df.select(*exprs) if exprs else df

        if q.distinct:
            df = df.dropDuplicates()
        if q.order_by:
            agg_map = {
                a: n for a, n in self._active_agg_map.items() if n in df.columns
            }
            sort_cols = []
            for expr, asc in q.order_by:
                col = self._expr_col(expr, df, agg_map or None)
                sort_cols.append(col.asc() if asc else col.desc())
            df = df.orderBy(*sort_cols)
            drop = [c for c in df.columns if c.startswith("__agg")]
            if drop:
                df = df.drop(*drop)
        if q.offset:
            df = df.offset(q.offset)
        if q.limit is not None:
            df = df.limit(q.limit)
        kinds = {
            it.alias: (
                state.kinds.get(it.expr.name, "value")
                if isinstance(it.expr, A.Var)
                else "value"
            )
            for it in select_items
        }
        return df, kinds

    def _substitute_vars(self, expr, mapping: dict):
        """Replace Var nodes whose name is in ``mapping`` with the
        mapped expression (used for SELECT-alias references in
        HAVING/ORDER BY)."""
        if isinstance(expr, A.Var):
            return mapping.get(expr.name, expr)
        if isinstance(expr, A.Comparison):
            return A.Comparison(
                expr.op,
                self._substitute_vars(expr.lhs, mapping),
                self._substitute_vars(expr.rhs, mapping),
            )
        if isinstance(expr, A.Arith):
            return A.Arith(
                expr.op,
                self._substitute_vars(expr.lhs, mapping),
                self._substitute_vars(expr.rhs, mapping),
            )
        if isinstance(expr, A.BoolOp):
            return A.BoolOp(
                expr.op,
                tuple(self._substitute_vars(o, mapping) for o in expr.operands),
            )
        if isinstance(expr, A.Not):
            return A.Not(self._substitute_vars(expr.operand, mapping))
        if isinstance(expr, A.FuncCall):
            return A.FuncCall(
                expr.name,
                tuple(self._substitute_vars(a, mapping) for a in expr.args),
            )
        return expr

    def _collect_aggs(self, expr, found: dict) -> None:
        """Find AggExpr subnodes (aggregates may be nested in arbitrary
        expressions, e.g. ROUND(SUM(?x), 2))."""
        if isinstance(expr, A.AggExpr):
            found.setdefault(expr, f"__agg{len(found)}")
        elif isinstance(expr, (A.Comparison, A.Arith)):
            self._collect_aggs(expr.lhs, found)
            self._collect_aggs(expr.rhs, found)
        elif isinstance(expr, A.BoolOp):
            for op in expr.operands:
                self._collect_aggs(op, found)
        elif isinstance(expr, A.Not):
            self._collect_aggs(expr.operand, found)
        elif isinstance(expr, A.FuncCall):
            for a in expr.args:
                self._collect_aggs(a, found)

    def _compile_aggregation(self, q, state, df: DataFrame, select_items) -> DataFrame:
        """GROUP BY + aggregates (reference surface: COUNT / COUNT
        DISTINCT / MAX / bare group, ``SparqlToGremlinCompiler.java:
        168-186``; SUM/AVG/MIN/HAVING are standard extensions).
        Spark's hash aggregate gives partial (map-side) aggregation
        for free — the scale path the single-process reference lacks."""
        agg_map: dict = {}
        for it in select_items:
            self._collect_aggs(it.expr, agg_map)
        having = q.having
        if having is not None:
            # HAVING(?k > 1) where ?k aliases an aggregate: substitute
            # the aggregate expression for the alias (Jena-compatible
            # convenience on top of the spec's HAVING(COUNT(...) > 1))
            alias_map = {
                it.alias: it.expr
                for it in select_items
                if isinstance(it.expr, A.AggExpr)
            }
            if alias_map:
                having = self._substitute_vars(having, alias_map)
            self._collect_aggs(having, agg_map)
        for expr, _asc in q.order_by:
            self._collect_aggs(expr, agg_map)
        self._active_agg_map = agg_map

        group_cols = [F.col(v) for v in q.group_by]
        aggs = [self._agg_col(a, df).alias(name) for a, name in agg_map.items()]
        if not aggs:
            # bare GROUP BY with no aggregator: reference collects
            # rows per key (group() step, SparqlToGremlinCompiler
            # .java:184-186) -> collect_list of the remaining vars
            other = [v for v in state.order if v not in q.group_by and not v.startswith("__")]
            aggs = [F.collect_list(F.struct(*[F.col(v) for v in other])).alias("group")]
            df = df.groupBy(*group_cols).agg(*aggs) if group_cols else df.agg(*aggs)
            return df
        df = df.groupBy(*group_cols).agg(*aggs) if group_cols else df.agg(*aggs)
        if having is not None:
            df = df.filter(self._expr_col(having, df, agg_map))
        out = []
        for it in select_items:
            if isinstance(it.expr, A.Var) and it.expr.name == it.alias:
                out.append(F.col(it.alias))
            else:
                out.append(self._expr_col(it.expr, df, agg_map).alias(it.alias))
        # keep ORDER-BY-only aggregate columns (dropped after sort)
        select_aliases = {it.alias for it in select_items}
        order_aggs: dict = {}
        for expr, _asc in q.order_by:
            self._collect_aggs(expr, order_aggs)
        for a, _name in order_aggs.items():
            name = agg_map[a]
            if name not in select_aliases:
                out.append(F.col(name))
        return df.select(*out)

    # ---- group compilation -------------------------------------------

    def _compile_group(self, state: _BGPState, group: A.GroupGraphPattern) -> None:
        # property-path triples rewrite into plain triples / unions
        # first (sequence -> anonymous midpoints, alternative -> UNION,
        # inverse -> swapped endpoints); only +/*/?/! survive to
        # _pattern_frame as path predicates
        elements: list = []
        for e in group.elements:
            if isinstance(e, A.TriplePattern) and isinstance(
                e.p, (A.PathInverse, A.PathSeq, A.PathAlt)
            ):
                elements.extend(self._expand_path(e.s, e.p, e.o))
            else:
                elements.append(e)
        group = A.GroupGraphPattern(elements)

        triples = [e for e in group.elements if isinstance(e, A.TriplePattern)]
        unions = [e for e in group.elements if isinstance(e, A.UnionPattern)]
        subgroups = [e for e in group.elements if isinstance(e, A.GroupGraphPattern)]
        optionals = [e for e in group.elements if isinstance(e, A.OptionalPattern)]
        filters = [e for e in group.elements if isinstance(e, A.Filter)]
        values = [e for e in group.elements if isinstance(e, A.ValuesPattern)]
        binds = [e for e in group.elements if isinstance(e, A.BindPattern)]
        minuses = [e for e in group.elements if isinstance(e, A.MinusPattern)]
        subselects = [e for e in group.elements if isinstance(e, A.SubSelect)]

        # VALUES first: inline data is maximally selective and joins
        # into every subsequent pattern (Catalyst broadcasts it).
        # Rows containing UNDEF defer to the end of the group: an
        # UNDEF cell is compatible with ANY binding (W3C solution
        # compatibility), which a NULL natural-join key would silently
        # violate (NULL equals nothing) — those patterns instead apply
        # as a union of per-bound-mask joins once the group is compiled.
        deferred_values = []
        for val in values:
            for v in val.variables:
                state.note(v, "value")
            if any(cell is None for row in val.rows for cell in row):
                deferred_values.append(val)
                continue
            frame = self.g.spark.createDataFrame(
                [tuple(r) for r in val.rows], val.variables
            )
            state.merge(frame)

        # fuse all v:-property patterns sharing a subject into ONE scan
        # of nodes (filters + multi-column projection) — compiling them
        # separately would self-join the nodes table once per property
        # (6 properties = 5 needless shuffles on a Q1-shaped query)
        value_groups, rest = self._split_value_groups(triples)
        for pats in value_groups:
            state.merge(self._fused_value_frame(state, pats))
        for pat in self._order_patterns(rest, state):
            state.merge(self._pattern_frame(state, pat))

        # subselects compile independently (their GROUP BY / LIMIT apply
        # inside), then natural-join into the enclosing bindings on the
        # projected vars — node vars stay ids so the join keys line up
        for ss in subselects:
            sub_df, sub_kinds = self._compile_query(ss.query, materialize=False)
            for v, k in sub_kinds.items():
                state.note(v, k)
            state.merge(sub_df)

        for sub in subgroups:
            sub_state = _BGPState(self)
            self._compile_group(sub_state, sub)
            for v, labs in sub_state.labels.items():
                state.constrain(v, labs)
            state.kinds.update({k: v for k, v in sub_state.kinds.items() if k not in state.kinds})
            for v in sub_state.order:
                if v not in state.order:
                    state.order.append(v)
            if sub_state.df is not None:
                state.merge(sub_state.df)

        for uni in unions:
            branch_dfs = []
            for br in uni.branches:
                br_state = _BGPState(self)
                self._compile_group(br_state, br)
                state.kinds.update({k: v for k, v in br_state.kinds.items() if k not in state.kinds})
                for v in br_state.order:
                    if v not in state.order:
                        state.order.append(v)
                if br_state.df is not None:
                    branch_dfs.append(br_state.df)
            if branch_dfs:
                state.merge(_union_terms(branch_dfs))

        # UNDEF-bearing VALUES deferred from the top of the group:
        # rows grouped by their bound-variable mask, one natural join
        # per mask (UNDEF columns simply absent, so they constrain
        # nothing), branches unioned back with NULL for the vars a
        # branch leaves unbound — duplicate rows within a mask keep
        # bag semantics through the join
        for val in deferred_values:
            by_mask: dict[tuple, list] = {}
            for row in val.rows:
                mask = tuple(
                    v for v, cell in zip(val.variables, row)
                    if cell is not None
                )
                by_mask.setdefault(mask, []).append(
                    tuple(cell for cell in row if cell is not None)
                )
            branch_dfs = []
            for mask, rws in by_mask.items():
                if not mask:
                    # all-UNDEF rows: compatible with every solution,
                    # one copy each (bag semantics)
                    base = (
                        state.df
                        if state.df is not None
                        else self.g.spark.range(1).select(
                            *[
                                F.lit(None).cast("string").alias(v)
                                for v in val.variables
                            ]
                        )
                    )
                    branch_dfs.extend(base for _ in rws)
                    continue
                frame = self.g.spark.createDataFrame(rws, list(mask))
                if state.df is None:
                    branch_dfs.append(frame)
                    continue
                shared = [c for c in frame.columns if c in state.df.columns]
                branch_dfs.append(
                    state.df.join(frame, on=shared, how="inner")
                    if shared
                    else state.df.crossJoin(frame)
                )
            state.df = _union_terms(branch_dfs)

        for opt in optionals:
            self._apply_optional(state, opt)

        # BIND after the graph patterns its expression reads from
        for bind in binds:
            if state.df is not None and bind.var in state.df.columns:
                # W3C: BIND's target must NOT already be in scope — a
                # withColumn here would silently OVERWRITE matched data
                raise SyntaxError(
                    f"BIND: variable ?{bind.var} is already bound in "
                    f"this group (the SPARQL grammar forbids in-scope "
                    f"BIND targets)"
                )
            state.note(bind.var, "value")
            if state.df is None:
                state.df = self.g.spark.range(1).select(
                    F.lit(1).alias("__unit")
                )
            self._term_kinds = state.kinds
            state.df = state.df.withColumn(
                bind.var, self._expr_col(bind.expr, state.df)
            )

        for minus in minuses:
            self._apply_minus(state, minus)

        for flt in filters:
            self._apply_filter(state, flt.expr)

    # ---- value-pattern fusion ------------------------------------------

    def _split_value_groups(self, triples: list) -> tuple[list, list]:
        """Partition a BGP into fusable per-subject groups of v:/rdf:type
        patterns (≥2 per subject) and the rest. Per group at most one
        label-exploding pattern and no repeated object var (those fall
        back to the join path, which handles them via column equality)."""
        by_subject: dict = {}
        rest: list = []
        order: list = []
        for pat in triples:
            pred = pat.p.value if isinstance(pat.p, A.IRI) else None
            name = None
            if pred == RDF_TYPE:
                name = "label"
            elif pred and pred.startswith(VALUE_NS):
                name = pred[len(VALUE_NS):]
            s_key = (
                ("var", pat.s.name) if isinstance(pat.s, A.Var)
                else ("const", str(getattr(pat.s, "value", pat.s)))
            )
            if name is None or name in ("key", "value"):
                rest.append(pat)
                continue
            if isinstance(pat.o, A.Var) and isinstance(pat.s, A.Var) and pat.o.name == pat.s.name:
                rest.append(pat)
                continue
            if s_key not in by_subject:
                by_subject[s_key] = {"pats": [], "vars": set(), "explodes": 0}
                order.append(s_key)
            g = by_subject[s_key]
            explode = name in ("label", "labels") and isinstance(pat.o, A.Var)
            var_clash = isinstance(pat.o, A.Var) and pat.o.name in g["vars"]
            if (explode and g["explodes"]) or var_clash:
                rest.append(pat)
                continue
            g["pats"].append(pat)
            g["explodes"] += int(explode)
            if isinstance(pat.o, A.Var):
                g["vars"].add(pat.o.name)
        groups = []
        for key in order:
            pats = by_subject[key]["pats"]
            if len(pats) >= 2:
                groups.append(pats)
            else:
                rest.extend(pats)
        return groups, rest

    def _fused_value_frame(self, state: _BGPState, pats: list) -> DataFrame:
        """One nodes scan answering every v:-pattern of one subject:
        constant objects become filters (pushed to parquet), variable
        objects become projected columns. Output-identical to joining
        the per-pattern frames on the subject id."""
        nodes = self.g.nodes
        s = pats[0].s
        if isinstance(s, A.Var):
            state.note(s.name, "node")
            s_var = s.name
            df = nodes
        else:
            uri = s.value if isinstance(s, A.IRI) else str(s.value)
            s_var = self._fresh()
            df = nodes.filter(F.col("uri") == uri)
        proj: dict[str, Column] = {}
        explode_var = None
        for pat in pats:
            pred = pat.p.value
            type_iri = pred == RDF_TYPE
            name = "label" if type_iri else pred[len(VALUE_NS):]
            if name in ("label", "labels"):
                if isinstance(pat.o, A.Var):
                    state.note(pat.o.name, "value")
                    explode_var = pat.o.name
                else:
                    label = str(self._term_value(pat.o, type_iri))
                    state.constrain(s_var, {label})
                    df = df.filter(F.array_contains(F.col("labels"), label))
            elif name == "id":
                if isinstance(pat.o, A.Var):
                    state.note(pat.o.name, "value")
                    proj[pat.o.name] = F.col("id")
                else:
                    df = df.filter(F.col("id") == F.lit(self._term_value(pat.o)))
            else:
                key_col = self.g.node_prop(name)
                dtype = self._node_prop_dtype(name)
                if isinstance(pat.o, A.Var):
                    state.note(pat.o.name, "value")
                    proj[pat.o.name] = key_col
                else:
                    value = self._term_value(pat.o)
                    cmp_col = key_col
                    if isinstance(value, (int, float)) and isinstance(dtype, T.StringType):
                        # try_cast: a non-numeric string in the column
                        # is a NON-MATCH, not an ANSI crash
                        cmp_col = cmp_col.try_cast("double")
                    df = df.filter(cmp_col == F.lit(value))
        cols = [F.col("id").alias(s_var)]
        cols += [c.alias(v) for v, c in proj.items()]
        if explode_var is not None:
            cols.append(F.explode(F.col("labels")).alias(explode_var))
        df = df.select(*cols)
        for v in proj:
            df = df.filter(F.col(v).isNotNull())
        return df

    # ---- pattern ordering (the BGP selectivity heuristic) -------------

    def _pattern_score(self, pat: A.TriplePattern) -> int:
        """Lower = more selective. Mirrors the reference's access-path
        ranking: id lookup > indexed-prop seek > label scan > full scan
        (``NoMultiNoMetaNeo4jTrait.java:150-188``)."""
        if isinstance(pat.p, A.PathMod):
            return 7  # closure materialization: bind its endpoints last
        if isinstance(pat.p, A.PathNeg):
            return 4  # near-full edge scan
        pred = pat.p.value if isinstance(pat.p, A.IRI) else None
        const_obj = not isinstance(pat.o, A.Var)
        if pred and pred.startswith(VALUE_NS):
            name = pred[len(VALUE_NS):]
            if name == "id" and const_obj:
                return 0
            if const_obj:
                return 1 if name != "label" else 2
            return 5
        if pred == RDF_TYPE and const_obj:
            return 2
        if pred and pred.startswith(PROP_NS):
            return 6
        # edge pattern
        if const_obj or not isinstance(pat.s, A.Var):
            return 3
        return 4

    def _order_patterns(self, triples: list, state: _BGPState) -> list:
        remaining = sorted(triples, key=self._pattern_score)
        ordered: list[A.TriplePattern] = []
        bound: set[str] = set(state.kinds)

        def pat_vars(p):
            return {t.name for t in (p.s, p.p, p.o) if isinstance(t, A.Var)}

        while remaining:
            pick = None
            if bound:
                for cand in remaining:
                    if pat_vars(cand) & bound:
                        pick = cand
                        break
            if pick is None:
                pick = remaining[0]
            remaining.remove(pick)
            ordered.append(pick)
            bound |= pat_vars(pick)
        return ordered

    # ---- one triple pattern -> DataFrame fragment ---------------------

    def _fresh(self) -> str:
        self._var_counter += 1
        return f"__anon{self._var_counter}"

    def _subject_var(self, state: _BGPState, term) -> tuple[str, DataFrame | None]:
        """Return (var_name, restriction) — concrete IRIs become an
        anonymous var restricted to the node with that uri (lazy: a
        join against the uri point-filter, which Catalyst pushes down)."""
        if isinstance(term, A.Var):
            state.note(term.name, "node")
            return term.name, None
        uri = term.value if isinstance(term, A.IRI) else str(term.value)
        var = self._fresh()
        restrict = self.g.nodes.filter(F.col("uri") == uri).select(F.col("id").alias(var))
        return var, restrict

    def _pattern_frame(self, state: _BGPState, pat: A.TriplePattern) -> DataFrame:
        nodes, edges = self.g.nodes, self.g.edges
        # --- property-path predicates (+ * ? !) ------------------------
        if isinstance(pat.p, A.PathMod):
            return self._path_mod_frame(state, pat)
        if isinstance(pat.p, A.PathNeg):
            return self._path_neg_frame(state, pat)
        # --- variable predicate: generic (s, p, o) over edges ---------
        if isinstance(pat.p, A.Var):
            s_var, s_restrict = self._subject_var(state, pat.s)
            state.note(pat.p.name, "value")
            o_name = pat.o.name if isinstance(pat.o, A.Var) else self._fresh()
            frame = edges.select(
                F.col("src").alias(s_var),
                F.col("predicate").alias(pat.p.name),
                F.col("dst").alias(o_name),
            )
            if isinstance(pat.o, A.Var):
                state.note(pat.o.name, "node")
            else:
                # CONSTANT object: the pattern only matches edges INTO
                # that node — without this join <s> ?p <o> silently
                # matched every outgoing edge of s. A LITERAL object
                # under a variable predicate would need a union over
                # every value property; never-silently-mis-execute
                # says raise until that is implemented (a uri
                # point-filter can never match a literal).
                if not isinstance(pat.o, A.IRI):
                    raise SyntaxError(
                        "variable predicate with a literal object "
                        "(?s ?p <literal>) is not supported: only IRI "
                        "objects match the edge table; rewrite with an "
                        "explicit v:<prop> pattern per property"
                    )
                o_restrict = nodes.filter(
                    F.col("uri") == pat.o.value
                ).select(F.col("id").alias(o_name))
                frame = frame.join(o_restrict, on=o_name, how="leftsemi")
            if s_restrict is not None:
                frame = frame.join(s_restrict, on=s_var, how="inner")
            return frame

        pred = pat.p.value

        # --- value-property patterns (v:) ------------------------------
        if pred.startswith(VALUE_NS):
            name = pred[len(VALUE_NS):]
            return self._value_pattern(state, pat, name)
        # --- property-element patterns (p:) ----------------------------
        if pred.startswith(PROP_NS):
            name = pred[len(PROP_NS):]
            s_var, s_restrict = self._subject_var(state, pat.s)
            assert isinstance(pat.o, A.Var), "p: pattern needs a var object"
            state.note(pat.o.name, "value")
            propcol = self.g.node_prop(name)
            frame = nodes.select(
                F.col("id").alias(s_var),
                F.struct(
                    F.lit(name).alias("key"), propcol.cast("string").alias("value")
                ).alias(pat.o.name),
            ).filter(F.col(pat.o.name).getField("value").isNotNull())
            if s_restrict is not None:
                frame = frame.join(s_restrict, on=s_var, how="inner")
            return frame
        # --- rdf:type == label membership ------------------------------
        if pred == RDF_TYPE:
            return self._value_pattern(state, pat, "label", type_iri_object=True)

        # --- full-IRI predicate routing --------------------------------
        # the v:/e: prefixes make property-vs-edge explicit; a full IRI
        # (standard SPARQL) is routed by the graph's own inventories:
        # datatype properties live in the props map / hot columns,
        # object properties in the edge table (both collected once per
        # graph and cached)
        pred_name = self._predicate_name(pred)
        if (
            pred_name in self.g.node_prop_keys()
            and pred_name not in self.g.edge_predicate_names()
        ):
            return self._value_pattern(state, pat, pred_name)

        # --- edge pattern ----------------------------------------------
        s_var, s_restrict = self._subject_var(state, pat.s)
        frame = edges.filter(F.col("predicate") == pred_name)
        if isinstance(pat.o, A.Var):
            state.note(pat.o.name, "node")
            o_var, o_restrict = pat.o.name, None
        else:
            o_var, o_restrict = self._subject_var(state, pat.o)
        frame = frame.select(F.col("src").alias(s_var), F.col("dst").alias(o_var))
        if o_restrict is not None:
            frame = frame.join(o_restrict, on=o_var, how="inner")
        if self.g.summary is not None:
            state.constrain(s_var, self.g.summary.hop_labels([pred_name], "in"))
            state.constrain(o_var, self.g.summary.hop_labels([pred_name], "out"))
        if s_restrict is not None:
            frame = frame.join(s_restrict, on=s_var, how="inner")
        return frame

    def _value_pattern(
        self, state: _BGPState, pat: A.TriplePattern, name: str,
        type_iri_object: bool = False,
    ) -> DataFrame:
        """``?s v:prop ?x`` / ``?s v:prop <const>`` and the pseudo
        properties id/label (reference ``TraversalBuilder.java:54-87``,
        meta-pseudo-properties :63-79)."""
        nodes = self.g.nodes
        s_var, s_restrict = self._subject_var(state, pat.s)

        if name == "id":
            key_col: Column = F.col("id")
            dtype = T.LongType()
        elif name in ("label", "labels", "key", "value"):
            key_col = None  # handled below (array/map explode semantics)
            dtype = T.StringType()
        else:
            key_col = self.g.node_prop(name)
            dtype = self._node_prop_dtype(name)

        # v:key / v:value meta-pseudo-properties: the subject's property
        # KEYS / VALUES (reference hasKey/hasValue routing,
        # ``TraversalBuilder.java:63-79``) — explode of the props map
        if name in ("key", "value"):
            part = F.map_keys(F.col("props")) if name == "key" else F.map_values(
                F.col("props")
            )
            if isinstance(pat.o, A.Var):
                state.note(pat.o.name, "value")
                frame = nodes.select(
                    F.col("id").alias(s_var), F.explode(part).alias(pat.o.name)
                )
            else:
                frame = nodes.filter(
                    F.array_contains(part, str(self._term_value(pat.o)))
                ).select(F.col("id").alias(s_var))
            if s_restrict is not None:
                frame = frame.join(s_restrict, on=s_var, how="inner")
            return frame

        if isinstance(pat.o, A.Var):
            state.note(pat.o.name, "value")
            if name in ("label", "labels"):
                frame = nodes.select(
                    F.col("id").alias(s_var),
                    F.explode(F.col("labels")).alias(pat.o.name),
                )
            else:
                frame = nodes.select(
                    F.col("id").alias(s_var), key_col.alias(pat.o.name)
                ).filter(F.col(pat.o.name).isNotNull())
        else:
            value = self._term_value(pat.o, type_iri_object)
            if name in ("label", "labels"):
                state.constrain(s_var, {str(value)})
                frame = nodes.filter(
                    F.array_contains(F.col("labels"), str(value))
                ).select(F.col("id").alias(s_var))
            else:
                cmp_col = key_col
                if isinstance(value, (int, float)) and isinstance(dtype, T.StringType):
                    cmp_col = cmp_col.try_cast("double")
                frame = nodes.filter(cmp_col == F.lit(value)).select(
                    F.col("id").alias(s_var)
                )
        if s_restrict is not None:
            frame = frame.join(s_restrict, on=s_var, how="inner")
        return frame

    def _term_value(self, term, type_iri_object: bool = False):
        if isinstance(term, A.Literal):
            return term.value
        if isinstance(term, A.IRI):
            iri = term.value
            if type_iri_object or iri.startswith(VALUE_NS):
                # rdf:type <...Customer> -> label "Customer"
                return _local_name(iri)
            return iri
        raise TypeError(f"unexpected term {term}")

    # ---- property paths (SPARQL 1.1 §9) --------------------------------
    #
    # The reference's only transitive surface is its Cypher
    # variable-length-path inference procs (MicroReasoners.java:20-22);
    # property paths are the standard SPARQL front door to the same
    # semi-naive closure (inference.transitive_closure). Scale note: a
    # +/* over a data-sized relation materializes its closure per
    # query — at warehouse scale, pre-materialize the closure table and
    # query it directly (same tradeoff as the reference, which re-runs
    # its closure Cypher per call).

    def _expand_path(self, s, path, o) -> list:
        """Rewrite inverse/sequence/alternative paths into plain algebra
        (swapped endpoints / anonymous midpoints / UNION). +, *, ?, !
        stay as path predicates for _pattern_frame."""
        if isinstance(path, A.PathInverse):
            return self._expand_path(o, path.path, s)
        if isinstance(path, A.PathSeq):
            elems: list = []
            cur = s
            for i, part in enumerate(path.parts):
                nxt = o if i == len(path.parts) - 1 else A.Var(self._fresh())
                elems.extend(self._expand_path(cur, part, nxt))
                cur = nxt
            return elems
        if isinstance(path, A.PathAlt):
            return [
                A.UnionPattern(
                    [
                        A.GroupGraphPattern(self._expand_path(s, p, o))
                        for p in path.alternatives
                    ]
                )
            ]
        return [A.TriplePattern(s, path, o)]

    def _path_pairs(self, path) -> DataFrame:
        """Evaluate a path expression to its (``__src``, ``__dst``)
        node-id pairs — the building block +/*/? closures recurse over."""
        edges = self.g.edges
        if isinstance(path, A.IRI):
            pred = path.value
            if pred == RDF_TYPE or pred.startswith(VALUE_NS) or pred.startswith(PROP_NS):
                raise NotImplementedError(
                    "property-path repetition recurses over edge predicates; "
                    f"{pred!r} is a value/type property, not a node-to-node step"
                )
            return edges.filter(
                F.col("predicate") == self._predicate_name(pred)
            ).select(F.col("src").alias("__src"), F.col("dst").alias("__dst"))
        if isinstance(path, A.PathInverse):
            p = self._path_pairs(path.path)
            return p.select(
                F.col("__dst").alias("__src"), F.col("__src").alias("__dst")
            )
        if isinstance(path, A.PathAlt):
            out = self._path_pairs(path.alternatives[0])
            for alt in path.alternatives[1:]:
                out = out.unionAll(self._path_pairs(alt))
            return out
        if isinstance(path, A.PathSeq):
            out = self._path_pairs(path.parts[0])
            for part in path.parts[1:]:
                nxt = self._path_pairs(part)
                out = (
                    out.alias("l")
                    .join(nxt.alias("r"), F.col("l.__dst") == F.col("r.__src"))
                    .select(
                        F.col("l.__src").alias("__src"),
                        F.col("r.__dst").alias("__dst"),
                    )
                )
            return out
        if isinstance(path, A.PathMod):
            return self._mod_pairs(path)
        if isinstance(path, A.PathNeg):
            # NPS (§9.1): forward edges excluding the forward set,
            # UNION inverse edges excluding the inverse set; a set
            # with members in only one direction matches only that
            # direction
            parts = []
            if path.iris or not path.inv_iris:
                names = [self._predicate_name(i.value) for i in path.iris]
                fwd = edges
                if names:
                    fwd = fwd.filter(~F.col("predicate").isin(names))
                parts.append(
                    fwd.select(
                        F.col("src").alias("__src"),
                        F.col("dst").alias("__dst"),
                    )
                )
            if path.inv_iris:
                inames = [
                    self._predicate_name(i.value) for i in path.inv_iris
                ]
                parts.append(
                    edges.filter(~F.col("predicate").isin(inames)).select(
                        F.col("dst").alias("__src"),
                        F.col("src").alias("__dst"),
                    )
                )
            out = parts[0]
            for p2 in parts[1:]:
                out = out.unionAll(p2)
            return out
        raise TypeError(f"unexpected path {path!r}")

    def _mod_pairs(self, mod: A.PathMod) -> DataFrame:
        """+ / * / ? over a pairs set. W3C semantics: repetition yields
        DISTINCT node pairs; zero-length relates every node to itself
        (our term universe = the nodes table; literal endpoints are out
        of scope for repetition, as checked in _path_pairs)."""
        from pidb_rdf_spark.inference import transitive_closure

        pairs = self._path_pairs(mod.path)
        if mod.mod in ("+", "*"):
            clo = transitive_closure(
                pairs.select(
                    F.col("__src").alias("child"), F.col("__dst").alias("parent")
                )
            )
            pairs = clo.select(
                F.col("child").alias("__src"), F.col("parent").alias("__dst")
            )
        else:
            pairs = pairs.dropDuplicates()
        if mod.mod in ("*", "?"):
            ident = self.g.nodes.select(
                F.col("id").alias("__src"), F.col("id").alias("__dst")
            )
            # pairs is DISTINCT here (closure output or deduplicated
            # above) and ident is one row per node id, so the union's
            # only overlap is self-pairs: dropping them from pairs
            # replaces a node-set-sized union dedup SHUFFLE with a
            # narrow filter — identical distinct pair set (endpoints
            # are node ids, never NULL).
            pairs = pairs.filter(F.col("__src") != F.col("__dst")).unionAll(
                ident
            )
        return pairs

    def _path_endpoints_frame(self, state: _BGPState, pat, pairs: DataFrame) -> DataFrame:
        s_var, s_restrict = self._subject_var(state, pat.s)
        if isinstance(pat.o, A.Var):
            state.note(pat.o.name, "node")
            o_var, o_restrict = pat.o.name, None
        else:
            o_var, o_restrict = self._subject_var(state, pat.o)
        frame = pairs.select(
            F.col("__src").alias(s_var), F.col("__dst").alias(o_var)
        )
        if s_restrict is not None:
            frame = frame.join(s_restrict, on=s_var, how="inner")
        if o_restrict is not None:
            frame = frame.join(o_restrict, on=o_var, how="inner")
        return frame

    def _path_mod_frame(self, state: _BGPState, pat: A.TriplePattern) -> DataFrame:
        return self._path_endpoints_frame(state, pat, self._mod_pairs(pat.p))

    def _path_neg_frame(self, state: _BGPState, pat: A.TriplePattern) -> DataFrame:
        return self._path_endpoints_frame(state, pat, self._path_pairs(pat.p))

    # ---- OPTIONAL / FILTER --------------------------------------------

    def _apply_optional(self, state: _BGPState, opt: A.OptionalPattern) -> None:
        """Left join on shared vars (reference compiles OPTIONAL to
        coalesce(match(...), constant('N/A')) —
        ``SparqlToGremlinCompiler.java:121-126, 271-282``)."""
        sub = _BGPState(self)
        self._compile_group(sub, opt.group)
        if sub.df is None:
            return
        new_vars = [v for v in sub.order if v not in state.kinds]
        state.kinds.update({k: v for k, v in sub.kinds.items() if k not in state.kinds})
        for v in sub.order:
            if v not in state.order:
                state.order.append(v)
        if state.df is None:
            state.df = sub.df
            return
        shared = [c for c in sub.df.columns if c in state.df.columns]
        if shared:
            state.df = state.df.join(sub.df, on=shared, how="left")
        else:
            state.df = state.df.crossJoin(sub.df)
        # bug-compatible "N/A" fill (if configured) happens at output
        # shaping — node vars must stay joinable ids until then
        self._optional_vars.update(new_vars)

    def _apply_minus(self, state: _BGPState, minus: A.MinusPattern) -> None:
        """MINUS: anti-join on shared vars. W3C semantics: with NO
        shared variables, MINUS removes nothing (unlike NOT EXISTS,
        which would wipe the bindings when the right side is
        non-empty)."""
        if state.df is None:
            return
        sub = _BGPState(self)
        self._compile_group(sub, minus.group)
        if sub.df is None:
            return
        shared = [c for c in sub.df.columns if c in state.df.columns]
        if not shared:
            return
        state.df = state.df.join(sub.df.select(*shared), on=shared, how="leftanti")

    def _apply_filter(self, state: _BGPState, expr) -> None:
        if state.df is None:
            return
        if isinstance(expr, A.ExistsExpr):
            sub = _BGPState(self)
            self._compile_group(sub, expr.group)
            if sub.df is None:
                return
            shared = [c for c in sub.df.columns if c in state.df.columns]
            how = "leftanti" if expr.negated else "leftsemi"
            state.df = state.df.join(sub.df, on=shared or None, how=how)
            return
        self._term_kinds = state.kinds
        df = self._attach_bnode_flags(state, expr)
        df = df.filter(self._expr_col(expr, df))
        drop = [c for c in df.columns if c.startswith("__isbnode_")]
        state.df = df.drop(*drop) if drop else df

    def _attach_bnode_flags(self, state: _BGPState, expr) -> DataFrame:
        """ISIRI/ISURI/ISBLANK over a node var must inspect the term's
        IRI (blank nodes are stored with a ``_:`` uri, ``functions/
        iri.py``), but node vars carry ids at filter time. Attach one
        boolean ``__isbnode_<v>`` per referenced node var via a hash
        join against the (id, uri-prefix) projection of the node table —
        Catalyst prunes to two columns; AQE broadcasts when small."""
        df = state.df
        for v in sorted(self._bnode_test_vars(expr)):
            if state.kinds.get(v) != "node" or v not in df.columns:
                continue
            flag = f"__isbnode_{v}"
            if flag in df.columns:
                continue
            df = self.g.lookup(
                df, v, {flag: F.col("uri").startswith("_:")},
                labels=state.labels.get(v),
            )
        return df

    def _bnode_test_vars(self, expr) -> set[str]:
        out: set[str] = set()
        if isinstance(expr, A.FuncCall):
            if expr.name in ("ISIRI", "ISURI", "ISBLANK") and expr.args:
                if isinstance(expr.args[0], A.Var):
                    out.add(expr.args[0].name)
            for a in expr.args:
                out |= self._bnode_test_vars(a)
        elif isinstance(expr, A.BoolOp):
            for op in expr.operands:
                out |= self._bnode_test_vars(op)
        elif isinstance(expr, A.Not):
            out |= self._bnode_test_vars(expr.operand)
        elif isinstance(expr, (A.Comparison, A.Arith)):
            out |= self._bnode_test_vars(expr.lhs)
            out |= self._bnode_test_vars(expr.rhs)
        return out

    # ---- expressions ---------------------------------------------------

    def _expr_vars(self, expr) -> set[str]:
        if isinstance(expr, A.Var):
            return {expr.name}
        if isinstance(expr, A.AggExpr):
            return self._expr_vars(expr.arg) if expr.arg is not None else set()
        if isinstance(expr, A.Comparison | A.Arith):
            return self._expr_vars(expr.lhs) | self._expr_vars(expr.rhs)
        if isinstance(expr, A.BoolOp):
            out: set[str] = set()
            for op in expr.operands:
                out |= self._expr_vars(op)
            return out
        if isinstance(expr, A.Not):
            return self._expr_vars(expr.operand)
        if isinstance(expr, A.FuncCall):
            out = set()
            for a in expr.args:
                out |= self._expr_vars(a)
            return out
        return set()

    def _expr_col(self, expr, df: DataFrame, agg_map: dict | None = None) -> Column:
        if agg_map and isinstance(expr, A.AggExpr):
            return F.col(agg_map[expr])
        if isinstance(expr, A.Var):
            return F.col(expr.name)
        if isinstance(expr, A.Literal):
            return F.lit(expr.value)
        if isinstance(expr, A.IRI):
            return F.lit(expr.value)
        if isinstance(expr, A.Comparison):
            lhs = self._expr_col(expr.lhs, df, agg_map)
            rhs = self._expr_col(expr.rhs, df, agg_map)
            lhs, rhs = self._align_types(expr.lhs, expr.rhs, lhs, rhs, df)
            return {
                "=": lhs == rhs, "!=": lhs != rhs, "<": lhs < rhs,
                "<=": lhs <= rhs, ">": lhs > rhs, ">=": lhs >= rhs,
            }[expr.op]
        if isinstance(expr, A.BoolOp):
            cols = [self._expr_col(o, df, agg_map) for o in expr.operands]
            out = cols[0]
            for col in cols[1:]:
                out = (out & col) if expr.op == "&&" else (out | col)
            return out
        if isinstance(expr, A.Not):
            return ~self._expr_col(expr.operand, df, agg_map)
        if isinstance(expr, A.Arith):
            lhs = self._expr_col(expr.lhs, df, agg_map)
            rhs = self._expr_col(expr.rhs, df, agg_map)
            return {
                "+": lhs + rhs, "-": lhs - rhs, "*": lhs * rhs, "/": lhs / rhs,
            }[expr.op]
        if isinstance(expr, A.FuncCall):
            return self._func_col(expr, df, agg_map)
        if isinstance(expr, A.ExistsExpr):
            raise NotImplementedError(
                "EXISTS must be a top-level FILTER constraint (it compiles "
                "to a semi/anti join, not a boolean column)"
            )
        raise TypeError(f"cannot compile expression {expr!r}")

    def _func_col(self, call: A.FuncCall, df: DataFrame, agg_map: dict | None = None) -> Column:
        name = call.name
        if name in ("COALESCE", "BOUND"):
            # W3C: an UNBOUND variable is an evaluation error that
            # COALESCE skips past and BOUND reports as false — a
            # variable the pattern never binds at all compiles to a
            # typed NULL, not an AnalysisException
            args = [
                F.lit(None)
                if isinstance(a, A.Var) and a.name not in df.columns
                else self._expr_col(a, df, agg_map)
                for a in call.args
            ]
        else:
            args = [self._expr_col(a, df, agg_map) for a in call.args]
        if name == "ROUND":
            scale = call.args[1].value if len(call.args) > 1 else 0
            return F.round(args[0], int(scale))
        if name == "REGEX":
            flags = None
            if len(call.args) >= 3 and isinstance(call.args[2], A.Literal):
                flags = call.args[2].value
            pattern = call.args[1].value if isinstance(call.args[1], A.Literal) else None
            if pattern is not None and flags and "i" in flags:
                pattern = f"(?i){pattern}"
            return args[0].rlike(pattern) if pattern is not None else args[0].rlike(args[1])
        if name == "BOUND":
            return args[0].isNotNull()
        if name == "STR":
            return args[0].cast("string")
        if name == "STRLEN":
            return F.length(args[0])
        if name == "UCASE":
            return F.upper(args[0])
        if name == "LCASE":
            return F.lower(args[0])
        if name == "ABS":
            return F.abs(args[0])
        if name == "CONTAINS":
            return args[0].contains(args[1])
        if name == "STRSTARTS":
            return args[0].startswith(args[1])
        if name == "STRENDS":
            return args[0].endswith(args[1])
        if name == "IN":
            return args[0].isin(*[a for a in args[1:]])
        if name == "DATATYPE":
            # literal datatype from the bound column's Spark type (the
            # import path collapses XSD literals to 4 families, F5)
            xsd = "http://www.w3.org/2001/XMLSchema#"
            if isinstance(call.args[0], A.Var) and call.args[0].name in df.columns:
                dt = df.schema[call.args[0].name].dataType
                if isinstance(dt, (T.LongType, T.IntegerType, T.ShortType, T.ByteType)):
                    return F.lit(xsd + "long")
                if isinstance(dt, (T.DoubleType, T.FloatType, T.DecimalType)):
                    return F.lit(xsd + "double")
                if isinstance(dt, T.BooleanType):
                    return F.lit(xsd + "boolean")
            return F.lit(xsd + "string")
        if name == "LANG":
            # language tags are dropped at import unless they match the
            # languageFilter (DirectStatementLoader.java:224-231), so a
            # bound literal's tag is always the empty string here
            return F.lit("")
        if name == "COALESCE":
            return F.coalesce(*args)
        if name == "IF":
            return F.when(args[0], args[1]).otherwise(args[2])
        if name == "CONCAT":
            return F.concat(*[a.cast("string") for a in args])
        if name == "SUBSTR":
            # SPARQL SUBSTR is 1-based like Spark's substring
            start = args[1].cast("int")
            if len(args) > 2:
                return F.substring(args[0], start, args[2].cast("int"))
            return F.substring(args[0], start, F.lit(2**31 - 1))
        if name in ("STRBEFORE", "STRAFTER"):
            # W3C: empty string when the separator does not occur
            s, sep = args[0].cast("string"), args[1].cast("string")
            pos = F.instr(s, sep)
            if name == "STRBEFORE":
                hit = F.substring(s, F.lit(1), pos - F.lit(1))
            else:
                hit = F.substring(s, pos + F.length(sep), F.lit(2**31 - 1))
            return F.when(pos > 0, hit).otherwise(F.lit(""))
        if name == "REPLACE":
            return F.regexp_replace(args[0], args[1], args[2])
        if name == "CEIL":
            return F.ceil(args[0])
        if name == "FLOOR":
            return F.floor(args[0])
        if name in ("YEAR", "MONTH", "DAY", "HOURS", "MINUTES", "SECONDS"):
            ts = args[0].cast("timestamp")
            return {
                "YEAR": F.year, "MONTH": F.month, "DAY": F.dayofmonth,
                "HOURS": F.hour, "MINUTES": F.minute, "SECONDS": F.second,
            }[name](ts)
        if name in ("MD5", "SHA1", "SHA256", "SHA384", "SHA512"):
            s = args[0].cast("string")
            if name == "MD5":
                return F.md5(s)
            if name == "SHA1":
                return F.sha1(s)
            return F.sha2(s, int(name[3:]))
        if name == "SAMETERM":
            # term equality over our value model: plain equality on the
            # bound columns (node vars compare by id, literals by value)
            return args[0] == args[1]
        if name == "ENCODE_FOR_URI":
            # percent-encode like W3C ENCODE_FOR_URI: url_encode is the
            # form-encoding variant, so fix its two divergences
            # (space as '+', tilde escaped)
            enc = F.url_encode(args[0].cast("string"))
            return F.replace(
                F.replace(enc, F.lit("+"), F.lit("%20")),
                F.lit("%7E"), F.lit("~"),
            )
        if name == "ISNUMERIC":
            # true for numerically-typed terms; a string term is tested
            # by castability (the props-map fallback stores every typed
            # family as string — SURVEY §1.3 pragmatics)
            if isinstance(call.args[0], A.Var) and call.args[0].name in df.columns:
                dt = df.schema[call.args[0].name].dataType
                if isinstance(dt, (T.LongType, T.IntegerType, T.ShortType,
                                   T.ByteType, T.DoubleType, T.FloatType,
                                   T.DecimalType)):
                    return F.lit(True)
                if isinstance(dt, T.StringType):
                    # try_cast: ANSI mode makes a plain cast THROW on
                    # non-numeric strings instead of returning NULL
                    return args[0].try_cast("double").isNotNull()
                return F.lit(False)
            return args[0].try_cast("double").isNotNull()
        if name in ("ISIRI", "ISURI", "ISBLANK", "ISLITERAL"):
            return self._term_test_col(name, call, df, args)
        if name in ("IRI", "URI"):
            # IRI constructor: our IRIs are plain strings (uri column of
            # the node table / TRIPLES_SCHEMA), so the term IS its
            # lexical form
            return args[0].cast("string")
        if name == "BNODE":
            # BNODE(str): stable label per lexical form (W3C maps equal
            # strings to the same bnode within a solution); BNODE():
            # fresh label per row
            if args:
                return F.concat(F.lit("_:b"), F.md5(args[0].cast("string")))
            return F.concat(F.lit("_:b"), F.expr("uuid()"))
        if name == "STRLANG":
            # language tags are dropped at import (LANG above); the
            # tagged literal's value survives as the plain string
            return args[0].cast("string")
        if name == "STRDT":
            xsd = "http://www.w3.org/2001/XMLSchema#"
            dt = call.args[1]
            dt_iri = dt.value if isinstance(dt, (A.IRI, A.Literal)) else None
            if dt_iri in (xsd + "integer", xsd + "long", xsd + "int"):
                return args[0].cast("long")
            if dt_iri in (xsd + "double", xsd + "decimal", xsd + "float"):
                return args[0].cast("double")
            if dt_iri == xsd + "boolean":
                return args[0].cast("boolean")
            if dt_iri in (xsd + "dateTime", xsd + "date"):
                return args[0].cast("timestamp")
            return args[0].cast("string")
        if name == "TIMEZONE":
            # import normalizes timestamps to the session zone, so every
            # stored xsd:dateTime carries the zero offset duration
            return F.lit("PT0S")
        if name == "TZ":
            return F.lit("Z")
        if name == "UUID":
            return F.concat(F.lit("urn:uuid:"), F.expr("uuid()"))
        if name == "STRUUID":
            return F.expr("uuid()")
        if name == "RAND":
            return F.rand()
        if name == "NOW":
            return F.current_timestamp()
        raise NotImplementedError(f"builtin {name}")

    def _term_test_col(self, name: str, call: A.FuncCall, df: DataFrame, args) -> Column:
        """ISIRI/ISURI/ISBLANK/ISLITERAL: term-type tests over the value
        model — value vars are literals; node vars are IRIs, except
        blank nodes whose uri starts with ``_:`` (tested via the flag
        column ``_attach_bnode_flags`` joins in, or directly on the uri
        when the var is already materialized to a string)."""
        arg = call.args[0] if call.args else None
        if isinstance(arg, A.Var):
            kind = self._term_kinds.get(arg.name)
            if kind == "value":
                return F.lit(name == "ISLITERAL") & args[0].isNotNull()
            if kind == "node":
                if name == "ISLITERAL":
                    return F.lit(False)
                flag = f"__isbnode_{arg.name}"
                if flag in df.columns:
                    blank = F.coalesce(F.col(flag), F.lit(False))
                elif isinstance(df.schema[arg.name].dataType, T.StringType):
                    blank = args[0].startswith("_:")
                else:
                    raise NotImplementedError(
                        f"{name} on node var ?{arg.name} outside FILTER "
                        "context (bnode flag not attached)"
                    )
                if name == "ISBLANK":
                    return args[0].isNotNull() & blank
                return args[0].isNotNull() & ~blank
            # unbound/unknown var: error per W3C -> NULL (filters drop it)
            return F.lit(None).cast("boolean")
        # constant / computed terms: classify by AST shape
        if isinstance(arg, A.IRI):
            return F.lit(name in ("ISIRI", "ISURI"))
        if isinstance(arg, A.Literal):
            return F.lit(name == "ISLITERAL")
        if isinstance(arg, A.FuncCall) and arg.name in ("IRI", "URI"):
            return F.lit(name in ("ISIRI", "ISURI"))
        if isinstance(arg, A.FuncCall) and arg.name == "BNODE":
            return F.lit(name == "ISBLANK")
        # any other computed expression yields a literal value
        return F.lit(name == "ISLITERAL") & args[0].isNotNull()

    def _align_types(self, le, re_, lc: Column, rc: Column, df: DataFrame):
        """String column vs numeric literal -> cast column to double
        (props-map fallback stores strings; the reference sidesteps
        this by storing only 4 type families, SURVEY.md §1.3)."""
        def dtype_of(e):
            if isinstance(e, A.Var) and e.name in df.columns:
                return df.schema[e.name].dataType
            return None

        if isinstance(re_, A.Literal) and isinstance(re_.value, (int, float)):
            if isinstance(dtype_of(le), T.StringType):
                return lc.try_cast("double"), rc
        if isinstance(le, A.Literal) and isinstance(le.value, (int, float)):
            if isinstance(dtype_of(re_), T.StringType):
                return lc, rc.try_cast("double")
        return lc, rc

    def _agg_col(self, agg: A.AggExpr, df: DataFrame) -> Column:
        if agg.func == "COUNT":
            if agg.arg is None:
                return F.count(F.lit(1))
            col = self._expr_col(agg.arg, df)
            return F.countDistinct(col) if agg.distinct else F.count(col)
        col = self._expr_col(agg.arg, df)
        if agg.distinct and agg.func == "SUM":
            return F.sum_distinct(col)
        if agg.distinct and agg.func == "AVG":
            # both operands ignore NULLs, exactly like avg
            return F.sum_distinct(col) / F.count_distinct(col)
        if agg.func == "GROUP_CONCAT":
            # W3C leaves concatenation order undefined; we sort for
            # deterministic (oracle-comparable) output
            items = F.collect_set(col) if agg.distinct else F.collect_list(col)
            return F.array_join(F.sort_array(items), agg.sep)
        if agg.func == "SAMPLE":
            return F.first(col, ignorenulls=True)
        return {
            "SUM": F.sum, "AVG": F.avg, "MIN": F.min, "MAX": F.max,
        }[agg.func](col)

    # ---- output shaping ------------------------------------------------

    def _materialize_uris(self, state: _BGPState, df: DataFrame, needed: set[str]) -> DataFrame:
        """Node vars are carried as ids; projected/grouped/sorted node
        vars are resolved to their uri (SPARQL bindings are RDF terms,
        and uri is our IRI). One hash join per distinct node var —
        only for vars that actually reach the output."""
        node_vars = [
            v for v in needed
            if state.kinds.get(v) == "node" and v in df.columns
        ]
        for v in node_vars:
            df = self.g.lookup(df, v, {v: F.col("uri")}, labels=state.labels.get(v))
        return df

    def _node_prop_dtype(self, name: str):
        return self.g.node_prop_dtype(name)

    def _predicate_name(self, iri: str) -> str:
        """Edge-predicate name for an IRI: e:NAME passes through; full
        IRIs are shortened prefix__local when a namespaces table exists
        (mirrors F3, ``DirectStatementLoader.java:189-211``), else kept
        verbatim."""
        if iri.startswith(EDGE_NS):
            return iri[len(EDGE_NS):]
        ns_map = self.g.namespace_map()
        if ns_map:
            idx = max(iri.rfind("/"), iri.rfind("#"), iri.rfind(":"))
            ns, local = iri[: idx + 1], iri[idx + 1:]
            if ns in ns_map:
                return f"{ns_map[ns]}__{local}"
        return iri


def sparql(graph: PropertyGraph, query: str, **kwargs) -> DataFrame:
    """One-call entry: SPARQL text -> result DataFrame (reference
    ``g.sparql(q)``, ``SparqlTraversalSource.java:190-197``)."""
    return SparqlCompiler(graph, **kwargs).compile(query)
