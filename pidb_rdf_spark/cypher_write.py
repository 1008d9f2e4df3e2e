"""Cypher write clauses: CREATE / MERGE / SET / REMOVE / DELETE
compiled onto the ``mutation`` primitives.

Reference parity: the reference issues write Cypher through the same
embedded engine as reads — the importer's statement shapes
(``loader/StatementPreviewer.java:100-107`` CREATE/MERGE previews,
``semantics/LiteOntologyImporter.java:82-86`` MERGE-style ontology
upserts) and the TinkerPop mutation surface it proxies. Here the read
prefix (MATCH/WHERE/WITH/UNWIND) compiles exactly as in
:mod:`pidb_rdf_spark.cypher`; each write clause then applies the
matching ``mutation.py`` primitive (M1-M11) and the function returns
the NEW immutable :class:`PropertyGraph`.

Scale shape: matched-variable writes never collect ids to the driver
— SET/REMOVE/DELETE pass the bound id column as a DataFrame into the
mutation layer's semi-join form (``mutation._resolve_where``), and
relationship CREATE/MERGE inserts the whole (src, dst) pair frame
through one ``add_edges_frame`` anti-join. Only literal node
CREATE/MERGE rows (inherently driver-issued point data) build a
local-row DataFrame.

Supported subset (the shapes the reference's own code issues):

- ``CREATE (n:Label {k: lit})`` node rows — one node PER matched row
  when a MATCH precedes (zero rows create nothing), one node for a
  standalone statement; ``CREATE (a)-[:T {..}]->(b)`` relationship
  chains whose endpoints are all bound by a previous MATCH (one NEW
  edge per matched row — multi-edges allowed, Cypher semantics), or
  standalone all-new literal chains. After a MATCH/UNWIND, node
  property values may be ROW EXPRESSIONS (``UNWIND $batch AS row
  CREATE (n:L {k: row.k})`` — the bulk-ingest idiom; NULL values are
  omitted, as in Cypher).
- ``MERGE`` = match-or-create: a literal node pattern upserts by its
  content identity (M11); a bound-endpoint relationship pattern is
  dedup-on-insert (M10). ``ON CREATE SET`` / ``ON MATCH SET`` apply
  conditionally on whether the merge created or matched — targets
  must be the merged pattern's own variable, and a relationship
  MERGE carrying them must have exactly one relationship (the
  matched/created split is computed as two anti/semi joins over the
  pre-insert edge frame; nothing is collected).
- ``SET n.k = lit``, ``SET n:Label``, ``SET r.k = lit``,
  ``SET n += {map}`` (additive merge), ``SET n = {map}`` (FULL
  replacement — typed hot columns not named in the map null out;
  ``SET n = {}`` clears every property).
- ``REMOVE n.k``, ``REMOVE n:Label``, ``REMOVE r.k``.
- ``[DETACH] DELETE n, r`` — plain DELETE on a node with incident
  relationships raises (Neo4j semantics); DETACH cascades.
- ``FOREACH (x IN list | write clauses)``, nestable — desugars to an
  UNWIND on a cloned compile state (outer cardinality unchanged);
  ``nodes(p)`` / ``relationships(p)`` elements keep their node/rel
  kind so they can be SET/REMOVE/DELETE targets, any other list
  yields scalar elements (CREATE row-expression values only).

Unsupported constructs raise :class:`CypherSyntaxError` — never
silently mis-execute.
"""

from __future__ import annotations

import uuid

from pyspark.sql import functions as F

from pidb_rdf_spark import mutation as M
from pidb_rdf_spark.cypher import (
    CypherSyntaxError,
    NodePat,
    _Compile,
    _Parser,
    _WRITE_KINDS,
    _collect_props,
    _materialize_props,
    _pat_value,
    _query_reads,
    _to_col,
    apply_read_clause,
)
from pidb_rdf_spark.graph import PropertyGraph


class CypherWriteError(RuntimeError):
    """A write whose precondition failed at run time (e.g. plain
    DELETE of a node that still has relationships)."""


def _fold_literal(expr: tuple, params: dict | None = None):
    if expr[0] in ("lit", "param"):
        return _pat_value(expr, params)  # one parameter-resolution contract
    if expr[0] == "neg":
        return -_fold_literal(expr[1], params)
    raise CypherSyntaxError(
        "write-clause values must be literals or $parameters in this subset"
    )


def _literal_props(pat: NodePat, params: dict | None = None) -> dict:
    return {k: _fold_literal(e, params) for k, e in pat.props.items()}


def _content_uri(pat: NodePat, params: dict | None = None) -> str:
    """Deterministic identity for a MERGE node pattern: same labels +
    literal props -> same uri -> same xxhash64 id, so repeated MERGE
    is idempotent (M11 upsert-by-uri semantics)."""
    props = _literal_props(pat, params)
    if "uri" in props:
        return str(props["uri"])
    body = ";".join(sorted(pat.labels)) + "|" + ";".join(
        f"{k}={props[k]}" for k in sorted(props)
    )
    return f"urn:cypher:merge:{body}"


def _node_row(pat: NodePat, uri: str, params: dict | None = None) -> dict:
    props = _literal_props(pat, params)
    props.pop("uri", None)
    return {"uri": uri, "labels": list(pat.labels), "props": props}


def _require_uri_free(g: PropertyGraph, uri: str) -> None:
    """CREATE with an explicit literal uri must not duplicate an
    existing node: ``add_vertices`` unions, so a second row with the
    same uri carries the identical xxhash64 id and every later
    MATCH/MERGE on that id fans out. Raise and point at MERGE
    (never-silently-mis-execute doctrine)."""
    if not g.node_by_uri(uri).isEmpty():
        raise CypherWriteError(
            f"CREATE: a node with uri {uri!r} already exists — CREATE "
            "never upserts; use MERGE {uri: ...} for idempotent "
            "get-or-create"
        )


def _ids_frame(c: _Compile, var: str):
    if c.cur is None or var not in c.kinds:
        raise CypherSyntaxError(f"undefined variable {var!r} in write clause")
    return c.cur.select(var).dropDuplicates()


def _apply_merge_sets(
    g: PropertyGraph, c: _Compile, items: list, var: str | None, kind: str, where
) -> PropertyGraph:
    """Apply ON CREATE SET / ON MATCH SET items to the merged entity.
    ``where`` is a boolean Column (node merge: uri equality) or an
    edge-id DataFrame (relationship merge) — both the distributed
    ``_resolve_where`` forms, nothing collected."""
    for item in items:
        if var is None or item[1] != var:
            raise CypherSyntaxError(
                f"ON CREATE/ON MATCH SET target {item[1]!r} must be the "
                "merged pattern's own variable in this subset"
            )
        if item[0] == "label":
            if kind != "node":
                raise CypherSyntaxError(
                    f"labels apply to nodes, not {kind} {var!r}"
                )
            g = M.add_label(g, where, item[2])
        elif item[0] == "propmap":
            setter = (
                M.set_vertex_property if kind == "node"
                else M.set_edge_property
            )
            for key, e in item[2].items():
                g = setter(g, where, key, _fold_literal(e, c.params))
        elif item[0] == "propreplace":
            props = {
                k: _fold_literal(e, c.params) for k, e in item[2].items()
            }
            replacer = (
                M.replace_vertex_properties if kind == "node"
                else M.replace_edge_properties
            )
            g = replacer(g, where, props)
        else:
            value = _fold_literal(item[3], c.params)
            if kind == "node":
                g = M.set_vertex_property(g, where, item[2], value)
            else:
                g = M.set_edge_property(g, where, item[2], value)
    return g


def _apply_create(
    g: PropertyGraph,
    c: _Compile,
    pats: list,
    merge: bool,
    on_create: list | None = None,
    on_match: list | None = None,
) -> PropertyGraph:
    on_create = on_create or []
    on_match = on_match or []
    for pat in pats:
        for el in list(pat.nodes) + list(pat.rels):
            if getattr(el, "where", None) is not None:
                raise CypherSyntaxError(
                    "inline WHERE is a match predicate — not allowed in "
                    "CREATE/MERGE patterns"
                )
            if getattr(el, "label_alts", None):
                raise CypherSyntaxError(
                    "label alternation (:A|B) is read-only syntax — a "
                    "CREATE/MERGE node needs concrete labels"
                )
        bound = [
            n.var is not None and n.var in c.kinds for n in pat.nodes
        ]
        if not pat.rels:
            n = pat.nodes[0]
            if bound[0]:
                raise CypherSyntaxError(
                    f"CREATE/MERGE node variable {n.var!r} is already bound"
                )
            if merge:
                uri = _content_uri(n, c.params)
                # MERGE of a literal pattern resolves to ONE node
                # regardless of match-row multiplicity, but zero
                # matched rows merge nothing (Neo4j cardinality)
                if c.cur is not None and c.cur.limit(1).isEmpty():
                    continue
                exists = not g.node_by_uri(uri).isEmpty()
                if not exists:
                    g = M.add_vertices(g, [_node_row(n, uri, c.params)])
                items = on_match if exists else on_create
                if items:
                    g = _apply_merge_sets(
                        g, c, items, n.var, "node", F.col("uri") == uri
                    )
            elif c.cur is not None:
                # CREATE runs once PER matched row (0 rows -> 0
                # nodes); property values may be row expressions
                # (UNWIND $batch AS row CREATE (n {k: row.k}))
                const_props: dict = {}
                expr_items: dict = {}
                for k, e in n.props.items():
                    if e[0] in ("lit", "param", "neg"):
                        const_props[k] = _fold_literal(e, c.params)
                    else:
                        expr_items[k] = e
                if "uri" in const_props:
                    # N matched rows sharing ONE literal identity is a
                    # contradiction — never silently mint N look-alike
                    # nodes (use a row expression, or MERGE for upsert)
                    raise CypherSyntaxError(
                        "CREATE after MATCH/UNWIND runs once per row: a "
                        "constant uri would give every created node the "
                        "same identity — use a row expression "
                        "({uri: row.uri}) or MERGE"
                    )
                uri_item = expr_items.pop("uri", None)
                expr_cols = None
                if expr_items or uri_item is not None:
                    needed: set = set()
                    for e in expr_items.values():
                        _collect_props(e, needed)
                    if uri_item is not None:
                        _collect_props(uri_item, needed)
                    _materialize_props(c, needed)
                    expr_cols = {
                        k: _to_col(c, e) for k, e in expr_items.items()
                    }
                g = M.add_vertices_frame(
                    g, c.cur, list(n.labels), const_props,
                    expr_props=expr_cols,
                    uri_expr=(
                        _to_col(c, uri_item) if uri_item is not None else None
                    ),
                )
            else:
                # bare CREATE: an explicit literal uri IS the node's
                # identity (the MERGE-by-uri convention — silently
                # replacing it with a random urn made a later
                # MERGE {uri: ...} duplicate the node)
                lits = _literal_props(n, c.params)
                if "uri" in lits:
                    uri = str(lits["uri"])
                    # CREATE never upserts: a second CREATE of the same
                    # uri would append a second node row with the same
                    # xxhash64 id (add_vertices just unions), fanning
                    # out every later join on that id — raise instead
                    # of silently corrupting
                    _require_uri_free(g, uri)
                else:
                    uri = f"urn:cypher:{uuid.uuid4().hex}"
                g = M.add_vertices(g, [_node_row(n, uri, c.params)])
            continue
        # relationship chain
        for rel in pat.rels:
            if (rel.min_len, rel.max_len) != (1, 1) or rel.direction == "both":
                raise CypherSyntaxError(
                    "CREATE/MERGE relationships must be single, directed hops"
                )
            if len(rel.types) != 1:
                raise CypherSyntaxError(
                    "CREATE/MERGE relationships need exactly one type"
                )
        if all(bound):
            want_sets = merge and bool(on_create or on_match)
            if want_sets and len(pat.rels) != 1:
                raise CypherSyntaxError(
                    "ON CREATE/ON MATCH SET on a relationship MERGE "
                    "requires exactly one relationship in the pattern"
                )
            for i, rel in enumerate(pat.rels):
                a, b = pat.nodes[i].var, pat.nodes[i + 1].var
                if rel.direction == "in":
                    a, b = b, a
                # CREATE: one new edge per matched row (multi-edges
                # allowed, Cypher semantics); MERGE: dedup-on-insert.
                # CREATE property values may be row expressions
                # (UNWIND $batch AS row ... [:T {w: row.w}]).
                const_rel_props: dict = {}
                rel_expr_items: dict = {}
                for k, e in rel.props.items():
                    if e[0] in ("lit", "param", "neg"):
                        const_rel_props[k] = _fold_literal(e, c.params)
                    else:
                        rel_expr_items[k] = e
                if rel_expr_items and merge:
                    raise CypherSyntaxError(
                        "MERGE relationship properties must be literals "
                        "or $parameters (row expressions are CREATE-only)"
                    )
                rel_expr_cols = None
                if rel_expr_items:
                    needed: set = set()
                    for e in rel_expr_items.values():
                        _collect_props(e, needed)
                    _materialize_props(c, needed)
                    rel_expr_cols = {
                        k: _to_col(c, e) for k, e in rel_expr_items.items()
                    }
                    pairs = c.cur.select(
                        a, b, *[x for x in c.cur.columns if x not in (a, b)]
                    )
                else:
                    pairs = c.cur.select(a, b)
                if merge:
                    pairs = pairs.dropDuplicates()
                if want_sets:
                    # split the pair set into matched (an edge of this
                    # type already exists) vs created BEFORE the
                    # insert; both stay DataFrames over the pre-insert
                    # edge frame (immutable plans)
                    pf = pairs.select(
                        F.col(a).alias("src"), F.col(b).alias("dst")
                    )
                    ex = g.edges.filter(
                        F.col("predicate") == rel.types[0]
                    ).select("src", "dst")
                    matched_pairs = pf.join(ex, ["src", "dst"], "leftsemi")
                    created_pairs = pf.join(ex, ["src", "dst"], "leftanti")
                g = M.add_edges_frame(
                    g, pairs, rel.types[0],
                    props=const_rel_props,
                    dedup=merge,
                    expr_props=rel_expr_cols,
                )
                if want_sets:
                    tpe = g.edges.filter(F.col("predicate") == rel.types[0])
                    if on_create:
                        ids = tpe.join(
                            created_pairs, ["src", "dst"], "leftsemi"
                        ).select("id")
                        g = _apply_merge_sets(
                            g, c, on_create, rel.var, "rel", ids
                        )
                    if on_match:
                        ids = tpe.join(
                            matched_pairs, ["src", "dst"], "leftsemi"
                        ).select("id")
                        g = _apply_merge_sets(
                            g, c, on_match, rel.var, "rel", ids
                        )
        elif not any(bound) and c.cur is None:
            if merge and (on_create or on_match):
                raise CypherSyntaxError(
                    "ON CREATE/ON MATCH SET is not supported on literal "
                    "chain MERGE in this subset (merge the node and the "
                    "relationship in separate statements)"
                )
            # standalone literal chain: mint every node once, then the
            # edges between them (driver-issued point data)
            uris = []
            var_uris: dict = {}
            for n in pat.nodes:
                if n.var is not None and n.var in var_uris:
                    # repeated chain variable: reuse the binding
                    # (self-loops/cycles); re-declaring labels or
                    # props on the repeat is an error, as in Neo4j
                    if n.labels or n.props:
                        raise CypherSyntaxError(
                            f"variable {n.var!r} already declared in this "
                            "CREATE pattern — repeats cannot add labels or "
                            "properties"
                        )
                    uris.append(var_uris[n.var])
                    continue
                # an explicit literal uri IS the node's identity in the
                # chain branch too — CREATE (a {uri:'x'})-[:R]->(b) used
                # to silently discard it for a random urn, so a later
                # MERGE {uri:'x'} duplicated the node
                lits = _literal_props(n, c.params)
                if merge:
                    uri = _content_uri(n, c.params)
                elif "uri" in lits:
                    uri = str(lits["uri"])
                    _require_uri_free(g, uri)
                else:
                    uri = f"urn:cypher:{uuid.uuid4().hex}"
                if not merge or g.node_by_uri(uri).isEmpty():
                    g = M.add_vertices(g, [_node_row(n, uri, c.params)])
                if n.var is not None:
                    var_uris[n.var] = uri
                uris.append(uri)
            rows = []
            for i, rel in enumerate(pat.rels):
                a, b = uris[i], uris[i + 1]
                if rel.direction == "in":
                    a, b = b, a
                rows.append(
                    {
                        "src_uri": a,
                        "predicate": rel.types[0],
                        "dst_uri": b,
                        "props": {
                            k: _fold_literal(e, c.params)
                            for k, e in rel.props.items()
                        },
                    }
                )
            g = M.add_edges(g, rows, dedup=merge)
        else:
            raise CypherSyntaxError(
                "CREATE/MERGE relationship endpoints must be either all "
                "bound by a previous MATCH or all new (mixed per-row "
                "node minting is not in this subset)"
            )
    return g


def _apply_set(
    g: PropertyGraph, c: _Compile, items: list, remove: bool
) -> PropertyGraph:
    for item in items:
        var = item[1]
        ids = _ids_frame(c, var)
        kind = c.kinds[var]
        if item[0] == "label":
            if kind != "node":
                raise CypherSyntaxError(
                    f"labels apply to nodes, not {kind} {var!r}"
                )
            g = (
                M.remove_label(g, ids, item[2])
                if remove
                else M.add_label(g, ids, item[2])
            )
        elif item[0] == "propmap":
            # SET v += {..}: additive merge, one set per key
            if kind not in ("node", "rel"):
                raise CypherSyntaxError(
                    f"SET target {var!r} is not a node or relationship"
                )
            setter = (
                M.set_vertex_property if kind == "node"
                else M.set_edge_property
            )
            for key, e in item[2].items():
                g = setter(g, ids, key, _fold_literal(e, c.params))
        elif item[0] == "propreplace":
            # SET v = {..}: full property replacement
            if kind not in ("node", "rel"):
                raise CypherSyntaxError(
                    f"SET target {var!r} is not a node or relationship"
                )
            props = {
                k: _fold_literal(e, c.params) for k, e in item[2].items()
            }
            replacer = (
                M.replace_vertex_properties if kind == "node"
                else M.replace_edge_properties
            )
            g = replacer(g, ids, props)
        else:
            key = item[2]
            if kind == "node":
                if remove:
                    g = M.remove_vertex_property(g, ids, key)
                else:
                    g = M.set_vertex_property(g, ids, key, _fold_literal(item[3], c.params))
            elif kind == "rel":
                if remove:
                    g = M.remove_edge_property(g, ids, key)
                else:
                    g = M.set_edge_property(g, ids, key, _fold_literal(item[3], c.params))
            else:
                raise CypherSyntaxError(
                    f"SET/REMOVE target {var!r} is not a node or relationship"
                )
    return g


def _apply_delete(
    g: PropertyGraph, c: _Compile, names: list, detach: bool
) -> PropertyGraph:
    rel_vars = [v for v in names if c.kinds.get(v) == "rel"]
    node_vars = [v for v in names if c.kinds.get(v) == "node"]
    unknown = [v for v in names if c.kinds.get(v) not in ("rel", "node")]
    if unknown:
        raise CypherSyntaxError(
            f"DELETE target {unknown[0]!r} is not a bound node or relationship"
        )
    # relationships first so a same-statement node DELETE sees them gone
    for v in rel_vars:
        g = M.remove_edges(g, _ids_frame(c, v))
    for v in node_vars:
        ids = _ids_frame(c, v)
        if not detach:
            incident = (
                g.edges.join(
                    ids.select(F.col(v).alias("src")), on="src", how="leftsemi"
                ).limit(1).count()
                + g.edges.join(
                    ids.select(F.col(v).alias("dst")), on="dst", how="leftsemi"
                ).limit(1).count()
            )
            if incident:
                raise CypherWriteError(
                    f"cannot DELETE node {v!r}: it still has relationships "
                    "(use DETACH DELETE)"
                )
        g = M.remove_vertices(g, ids)
    return g


def _clone_compile(c: _Compile) -> _Compile:
    """A detached copy of the compile state: FOREACH binds its element
    variable in the copy, so the outer pipeline's cardinality and
    scope are untouched (DataFrames are immutable — sharing ``cur``
    is safe)."""
    c2 = _Compile(c.graph, allow_cartesian=True, params=c.params)
    c2.cur = c.cur
    c2.kinds = dict(c.kinds)
    c2.prop_cols = dict(c.prop_cols)
    c2.rel_cols = list(c.rel_cols)
    c2.lambda_vars = dict(c.lambda_vars)
    c2.paths = dict(c.paths)
    c2.anon = c.anon
    return c2


def _apply_foreach(
    g: PropertyGraph, c: _Compile, var: str, lst: tuple, body: list
) -> PropertyGraph:
    """FOREACH (x IN list | write clauses): desugars to an UNWIND on a
    cloned compile state (one row per element, outer rows unchanged
    after the clause) followed by the body writes. Elements of
    ``nodes(p)`` / ``relationships(p)`` keep their node/relationship
    kind, so the canonical path-marking idiom
    ``FOREACH (n IN nodes(p) | SET n.marked = true)`` works; any other
    list yields scalar elements (usable in CREATE row expressions,
    not as SET/DELETE targets)."""
    c2 = _clone_compile(c)
    apply_read_clause(c2, ("unwind", lst, var))
    if lst[0] == "call" and lst[1] in ("nodes", "relationships"):
        c2.kinds[var] = "node" if lst[1] == "nodes" else "rel"
    for cl in body:
        g = _apply_write_clause(g, c2, cl)
    return g


def _apply_write_clause(
    g: PropertyGraph, c: _Compile, cl: tuple
) -> PropertyGraph:
    kind = cl[0]
    if kind == "create":
        return _apply_create(g, c, cl[1], merge=False)
    if kind == "merge":
        return _apply_create(
            g, c, [cl[1]], merge=True, on_create=cl[2], on_match=cl[3]
        )
    if kind == "setitems":
        return _apply_set(g, c, cl[1], remove=False)
    if kind == "removeitems":
        return _apply_set(g, c, cl[1], remove=True)
    if kind == "delete":
        return _apply_delete(g, c, cl[1], cl[2])
    return _apply_foreach(g, c, cl[1], cl[2], cl[3])  # foreach


def cypher_write(
    graph: PropertyGraph,
    text: str,
    allow_cartesian: bool = False,
    params: dict | None = None,
) -> PropertyGraph:
    """Execute a Cypher write statement; returns the mutated
    (new, immutable) graph. The read prefix compiles exactly as in
    :func:`pidb_rdf_spark.cypher.cypher`."""
    q = _Parser(text).parse()
    if not any(cl[0] in _WRITE_KINDS for cl in q.clauses):
        raise CypherSyntaxError(
            "no write clause found — use cypher() for read queries"
        )
    c = _Compile(
        graph, allow_cartesian=allow_cartesian, params=params,
        reads=_query_reads(q),
    )
    g = graph
    for cl in q.clauses:
        if cl[0] not in _WRITE_KINDS:
            apply_read_clause(c, cl)
        else:
            g = _apply_write_clause(g, c, cl)
    return g
