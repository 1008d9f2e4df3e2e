"""Cypher front-end: a MATCH / WHERE / RETURN subset compiled to one
DataFrame plan.

Reference parity: the reference's third query surface is Cypher text
executed through the embedded Neo4j engine
(``neo4j/structure/Neo4jGraph.java:288-304`` ``cypher(...)`` /
``execute(...)``; used by the micro-reasoners,
``semantics/inference/MicroReasoners.java:20-22``). Here the same
query text compiles to DataFrame joins — each node pattern is a
filtered scan of the nodes table, each relationship a hash join
through the edges table, every property the query reads of a pattern
variable is projected by the scan that binds it, WHERE/property
predicates become Catalyst filters pushed to the parquet scan, and
RETURN aggregation uses
Cypher's implicit grouping (group by every non-aggregate item).

Supported subset (the shapes the reference's own code and tests
issue):

- ``MATCH`` comma-separated patterns of ``(v:Label {k: lit})`` nodes
  and ``-[r:TYPE|TYPE2]->`` / ``<-[...]-`` / ``-[...]-`` (undirected)
  relationships, including variable-length ``*``, ``*n``, ``*n..m``.
  Cypher's relationship-uniqueness rule (edge isomorphism) is
  enforced across the single-hop relationships of a MATCH, and
  WITHIN each bounded variable-length path (no edge repeats on one
  path; unbounded ``*`` uses reachability, where the rule is
  vacuous). Uniqueness BETWEEN a variable-length segment's edges and
  other segments of the same MATCH is not enforced (documented
  subset limit).
- ``p = shortestPath((a)-[:T*..m]->(b))`` MATCH patterns, compiled
  to a multi-source semi-naive BFS keyed by origin; ``length(p)``
  reads the hop count (the only path observation in this subset).
  ``allShortestPaths`` (r9) additionally tracks the Brandes
  forward-pass path count and emits each pair that many times —
  Neo4j's bag multiplicity without enumerating the paths. Lower
  bound must be 0 or 1, as in Neo4j.
- ``OPTIONAL MATCH`` blocks (left-join semantics: unmatched rows
  keep NULL for every block-introduced variable; a block-local
  ``WHERE`` filters inside the match, before the left join). r9:
  ``OPTIONAL MATCH p = shortestPath(...)`` — left-join reachability,
  ``length(p)`` is NULL where no path exists (the clause's only
  pattern in this subset).
- ``WHERE`` with comparisons, ``AND/OR/NOT``, ``IS [NOT] NULL``,
  ``IN [...]``, ``STARTS WITH`` / ``ENDS WITH`` / ``CONTAINS``,
  ``=~`` full-string regex (literal/$parameter pattern), and
  ``[NOT] exists(pattern)`` / ``EXISTS { [MATCH] patterns [WHERE] }``
  pattern predicates: top-level WHERE conjuncts compile to one
  semi/anti join each (the SPARQL FILTER EXISTS shape); anywhere
  deeper (under OR, CASE, in RETURN items) they become per-row
  match-count columns (one left join). ``COUNT { ... }`` subquery
  expressions give the match count directly, 0 when unmatched;
  ``COLLECT { ... RETURN [DISTINCT] expr }`` (Neo4j 5.6) gives the
  per-row list of subquery values (``[]`` when unmatched, ascending
  order pinned, ``collect_set`` under DISTINCT) — the multi-pattern
  generalization of a pattern comprehension, one aggregate-and-join
  per expression.
- ``RETURN [DISTINCT]`` of properties, variables (their ids),
  arithmetic, ``*`` (every bound variable, optionally with extra
  items — ``RETURN *, count(*) AS n``; also ``WITH *``),
  and aggregates ``count/sum/avg/min/max/collect``
  (+ ``count(DISTINCT x)`` and ``collect(DISTINCT x)``, the latter
  sorted), with ``AS`` aliases and implicit grouping. Scalar
  functions include ``properties(v)`` / ``keys(v)`` (typed hot
  columns merged into the schemaless map, stringified) and
  ``startNode(r)`` / ``endNode(r)`` (endpoint ids, aligned with
  ``id(n)``).
- ``ORDER BY expr [ASC|DESC], ...``, ``SKIP n``, ``LIMIT n``.
- ``WITH`` pipeline stages (same item grammar as RETURN, aliases
  required for non-variable items, implicit grouping, ORDER/SKIP/
  LIMIT, and a post-WITH ``WHERE`` with HAVING semantics); later
  MATCH/UNWIND clauses join against the piped frame, and a piped
  node/relationship variable keeps its identity (hops and property
  reads still work on it).
- ``UNWIND list AS x`` over list literals and collected lists;
  ``{k: expr}`` map literals compile to STRUCTs, so
  ``UNWIND [{id: 1}, {id: 2}] AS row ... row.id`` works without
  $parameters (duplicate keys rejected).
- List expressions: ``range(a, b[, step])``, comprehensions
  ``[x IN list WHERE p | e]``, predicates
  ``any/all/none/single(x IN list WHERE p)``, and
  ``reduce(acc = init, x IN list | e)`` — compiled to JVM-side
  higher-order functions (filter/transform/exists/forall/aggregate).
  Element variables are scalars; property access on them is
  unsupported.

- Pattern comprehensions ``[(a)-[:T]->(b) WHERE p | expr]`` — one
  correlated ``collect_list`` aggregate joined back per comprehension
  (the COUNT{} shape); unmatched rows get ``[]``; element order is
  pinned ascending (Cypher leaves it unspecified); aggregates inside
  are rejected.
- Inline pattern predicates ``(n:L WHERE e)`` / ``[r:T WHERE e]``
  (Neo4j 5): hoisted into the clause WHERE — inside OPTIONAL MATCH
  they filter before the left join, as part of the match. Rejected
  on variable-length segments and in CREATE/MERGE patterns.
- Label alternation ``(n:A|B)``: OR within the group, AND across
  ``:`` groups; read-only syntax (CREATE/MERGE reject it). Numeric
  literals accept scientific notation (``1e9``).
- Map projections ``n {.k, .*, key: expr}`` compiled to
  ``map<string,string>`` (values stringified — the ``properties()``
  storage convention); explicit entries win over the ``.*`` spread;
  duplicate explicit keys are rejected.
- ``CALL db.labels() / db.relationshipTypes() / db.propertyKeys()``
  schema-inventory procedures (standalone, optional ``YIELD col
  [AS alias]``) — each one distributed distinct, sorted, nothing
  collected.
- ``UNION [ALL]`` between read queries: parts must return the same
  column names; plain UNION dedups (set semantics), ALL keeps bags;
  mixing the two in one statement is rejected, as in Neo4j.
- ``CALL { query [UNION [ALL] query ...] }`` as the leading clause
  (uncorrelated subquery): later clauses post-process its output
  rows — the post-UNION-aggregation shape. Output columns arrive as
  piped values; a returned node variable flattens to its id.
- Mid-query ``CALL { [WITH imports] ... RETURN ... }``: the
  correlated form (leading WITH of bare variables / ``WITH *``, the
  Neo4j import rule) compiles against the DISTINCT imported keys and
  joins back — aggregating bodies group per invocation and LEFT-join
  with Neo4j's empty-invocation fills (count/sum 0, collect [],
  others null); non-aggregating bodies join INNER (zero rows
  eliminate the outer row). Import keys thread through intermediate
  WITHs automatically; a returned node/rel variable keeps its kind.
  Per-invocation ORDER/SKIP/LIMIT and aggregates nested in
  expressions are rejected (clear errors), as is UNION inside the
  mid-query form. The uncorrelated form runs once and cross-joins.

Unsupported constructs raise ``CypherSyntaxError`` with a position —
never silently mis-execute (same contract as the SPARQL parser).

Known semantic divergence (documented, not silent): ``/`` follows
Spark SQL — integer ÷ integer yields a DOUBLE (``7/2 = 3.5``) where
Neo4j truncates to an integer (``3``). Per-operand dtype is not
threaded through this expression compiler, so a faithful integral
division would need static type inference across every expression
node; use ``toInteger(a / b)`` for Neo4j's truncating behavior.

Scale shape: a Cypher query is ONE lazy plan — label/property
predicates reach the scan as PushedFilters, relationship hops are
equi-joins on node ids (AQE/broadcast decides the physical join),
and variable-length paths reuse the semi-naive fixpoint from
``inference.transitive_closure`` (bounded lengths unroll to a
union of joins instead)."""

from __future__ import annotations

import re
import warnings
from dataclasses import dataclass, field, fields, is_dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pidb_rdf_spark import frontier
from pidb_rdf_spark.graph import NODE_CORE, SIDECAR_COLS, PropertyGraph
from pidb_rdf_spark.session import local_frame


_STR_ESCAPES = {
    "n": "\n", "t": "\t", "r": "\r", "b": "\b", "f": "\f",
    "\\": "\\", "'": "'", '"': '"', "`": "`",
}


def _unescape_string(body: str) -> str:
    """Cypher string-literal escapes: \\n newline, \\t tab, \\r, \\b,
    \\f, \\\\, quotes, and \\uXXXX unicode — collapsing every escape
    to its raw character (the old behavior) turned 'a\\nb' into 'anb'
    and silently matched the wrong rows."""

    def sub(m):
        g = m.group(1)
        if g.startswith("u") and len(g) == 5:
            return chr(int(g[1:], 16))
        return _STR_ESCAPES.get(g, g)

    return re.sub(r"\\(u[0-9a-fA-F]{4}|.)", sub, body)


class CypherSyntaxError(SyntaxError):
    pass


class CypherCartesianWarning(UserWarning):
    """A MATCH pattern shares no variable with the rows already bound,
    forcing a cartesian product — quadratic at scale. Pass
    ``allow_cartesian=True`` to silence when intentional."""


# ---------------------------------------------------------------------------
# tokenizer
# ---------------------------------------------------------------------------

_TOKEN_RE = re.compile(
    r"""
    (?P<ws>\s+)
  | (?P<num>(?:\d+\.\d+|\d+)(?:[eE][+-]?\d+)?)
  | (?P<str>'(?:[^'\\]|\\.)*'|"(?:[^"\\]|\\.)*")
  | (?P<param>\$[A-Za-z_][A-Za-z_0-9]*)
  | (?P<name>[A-Za-z_][A-Za-z_0-9]*|`[^`]*`)
  | (?P<op><>|<=|>=|=~|\.\.|->|<-|[()\[\]{}:,.\-<>=|*+/%])
    """,
    re.VERBOSE,
)

_KEYWORDS = {
    "match", "where", "return", "distinct", "order", "by", "asc", "desc",
    "skip", "limit", "and", "or", "not", "is", "null", "in", "starts",
    "ends", "with", "contains", "true", "false", "as", "optional",
    "unwind", "create", "merge", "set", "delete", "detach", "remove",
    "on", "case", "when", "then", "else", "end", "call", "yield",
    "union", "foreach", "xor",
}

_AGG_FUNCS = {
    "count", "sum", "avg", "min", "max", "collect",
    "stdev", "stdevp", "percentilecont", "percentiledisc",
}

_WRITE_KINDS = {
    "create", "merge", "setitems", "removeitems", "delete", "foreach",
}


@dataclass
class _Tok:
    kind: str  # num | str | name | kw | op
    text: str
    pos: int


def _tokenize(text: str) -> list[_Tok]:
    toks: list[_Tok] = []
    i = 0
    while i < len(text):
        m = _TOKEN_RE.match(text, i)
        if not m:
            raise CypherSyntaxError(f"unexpected character {text[i]!r} at position {i}")
        i = m.end()
        if m.lastgroup == "ws":
            continue
        kind = m.lastgroup
        tok = m.group()
        if kind == "name":
            if tok.startswith("`"):
                toks.append(_Tok("name", tok[1:-1], m.start()))
                continue
            if tok.lower() in _KEYWORDS:
                toks.append(_Tok("kw", tok.lower(), m.start()))
                continue
        toks.append(_Tok(kind, tok, m.start()))
    return toks


# ---------------------------------------------------------------------------
# AST
# ---------------------------------------------------------------------------


@dataclass
class NodePat:
    var: str | None
    labels: list[str]
    props: dict
    # label alternation groups from ``:A|B`` (each inner list is an
    # OR; groups AND with each other and with ``labels``) — read-only
    # syntax, rejected by CREATE/MERGE
    label_alts: list = field(default_factory=list)
    # inline pattern predicate ``(n:L WHERE expr)`` — hoisted into the
    # clause WHERE at compile time (Neo4j 5 semantics: part of the
    # match, so inside OPTIONAL MATCH it filters before the left join)
    where: tuple | None = None


@dataclass
class RelPat:
    var: str | None
    types: list[str]
    direction: str  # "out" (->), "in" (<-), "both" (undirected)
    min_len: int = 1
    max_len: int | None = 1  # None = unbounded (*)
    props: dict = field(default_factory=dict)
    where: tuple | None = None  # inline ``[r:T WHERE expr]``


@dataclass
class Pattern:
    """node (rel node)* chain."""

    nodes: list[NodePat]
    rels: list[RelPat]


@dataclass
class ShortestPat:
    """``p = shortestPath((a)-[:T*..m]->(b))`` — the inner pattern has
    exactly two nodes and one relationship; ``path_var`` binds the
    hop count, observable through ``length(p)``. With ``all_paths``
    (``allShortestPaths``) each (origin, node) pair carries its
    shortest-path COUNT and emits that many rows (Neo4j bag
    semantics; the paths themselves stay unobservable — length(p) is
    identical across them)."""

    path_var: str
    pattern: Pattern
    all_paths: bool = False


@dataclass
class NamedPath:
    """``p = (a)-[r:T]->(b)-...`` — a plain (fixed-length) pattern
    bound to a path variable. Nodes "are" their ids and relationships
    their edge ids in this compiler, so the path is observable through
    ``nodes(p)`` (id array, in pattern order), ``relationships(p)``
    (edge-id array) and ``length(p)`` (the relationship count —
    a constant per pattern). Variable-length segments are rejected
    (their expansion keeps (src, dst) pairs, not per-path element
    lists; ``shortestPath`` covers the bounded-search use)."""

    path_var: str
    pattern: Pattern


@dataclass
class ReturnItem:
    expr: tuple
    alias: str | None
    text: str  # source text, the default column name


@dataclass
class Projection:
    """A ``WITH`` or ``RETURN`` clause body."""

    items: list[ReturnItem]
    distinct: bool
    order: list[tuple]  # (expr, source-text, asc)
    skip: int | None
    limit: int | None
    is_return: bool
    post_where: tuple | None = None  # WITH ... WHERE (HAVING-style)
    star: bool = False  # RETURN * / WITH * — expand bound vars first


@dataclass
class CypherQuery:
    """A sequence of clauses ending in a RETURN projection:

    - ``("match", patterns, where)``
    - ``("optmatch", patterns, where)``
    - ``("unwind", expr, alias)``
    - ``("project", Projection)``  (WITH, or the final RETURN)
    """

    clauses: list


class _Parser:
    def __init__(self, text: str):
        self.text = text
        self.toks = _tokenize(text)
        self.i = 0

    # -- token helpers --------------------------------------------------

    def _peek(self, k: int = 0) -> _Tok | None:
        j = self.i + k
        return self.toks[j] if j < len(self.toks) else None

    def _next(self) -> _Tok:
        if self.i >= len(self.toks):
            raise CypherSyntaxError("unexpected end of query")
        t = self.toks[self.i]
        self.i += 1
        return t

    def _expect(self, kind: str, text: str | None = None) -> _Tok:
        t = self._next()
        if t.kind != kind or (text is not None and t.text != text):
            want = text or kind
            raise CypherSyntaxError(
                f"expected {want!r}, got {t.text!r} at position {t.pos}"
            )
        return t

    def _at(self, kind: str, text: str | None = None) -> bool:
        t = self._peek()
        return t is not None and t.kind == kind and (text is None or t.text == text)

    def _accept(self, kind: str, text: str | None = None) -> _Tok | None:
        if self._at(kind, text):
            return self._next()
        return None


    def _int_tok(self, t: _Tok) -> int:
        try:
            return int(t.text)
        except ValueError:
            raise CypherSyntaxError(
                f"expected an integer, got {t.text!r} at position {t.pos}"
            ) from None

    def _expect_name_like(self) -> _Tok:
        """An identifier position that may collide with a keyword
        (labels, relationship types, property names): ``Order``,
        ``In``, ... — the original spelling is preserved via the
        source text."""
        t = self._next()
        if t.kind == "name":
            return t
        if t.kind == "kw":
            return _Tok("name", self.text[t.pos : t.pos + len(t.text)], t.pos)
        raise CypherSyntaxError(
            f"expected identifier, got {t.text!r} at position {t.pos}"
        )

    # -- grammar --------------------------------------------------------

    def parse(self) -> CypherQuery:
        q = self._parse_single()
        if self.i != len(self.toks):
            t = self.toks[self.i]
            raise CypherSyntaxError(f"unexpected {t.text!r} at position {t.pos}")
        return q

    def parse_multi(self) -> tuple[list[CypherQuery], bool]:
        """``query UNION [ALL] query ...`` — returns the part queries
        and whether ALL was used (Neo4j rejects mixing UNION with
        UNION ALL in one statement; so does this parser)."""
        qs, union_all = self._parse_union_chain()
        if self.i != len(self.toks):
            t = self.toks[self.i]
            raise CypherSyntaxError(f"unexpected {t.text!r} at position {t.pos}")
        return qs, union_all

    def _parse_union_chain(self) -> tuple[list[CypherQuery], bool]:
        qs = [self._parse_single()]
        alls: list[bool] = []
        while self._at("kw", "union"):
            t = self._next()
            # ALL is a name token (it doubles as the list predicate)
            nxt = self._peek()
            is_all = (
                nxt is not None and nxt.kind == "name"
                and nxt.text.lower() == "all"
            )
            if is_all:
                self._next()
            alls.append(is_all)
            if len(set(alls)) > 1:
                raise CypherSyntaxError(
                    "invalid combination of UNION and UNION ALL "
                    f"(position {t.pos})"
                )
            qs.append(self._parse_single())
        return qs, bool(alls and alls[0])

    def _parse_single(self) -> CypherQuery:
        clauses: list = []
        saw_return = False
        wrote = False

        def _no_write(t):
            if wrote:
                raise CypherSyntaxError(
                    f"{t.text.upper()} cannot follow a write clause in "
                    f"this subset (position {t.pos})"
                )

        while True:
            t = self._peek()
            if t is None:
                break
            if t.kind != "kw":
                raise CypherSyntaxError(
                    f"expected a clause keyword, got {t.text!r} at position {t.pos}"
                )
            if t.text == "match":
                _no_write(t)
                self._next()
                clauses.append(("match", *self._match_tail()))
            elif t.text == "optional":
                _no_write(t)
                self._next()
                self._expect("kw", "match")
                if not clauses:
                    raise CypherSyntaxError(
                        f"OPTIONAL MATCH cannot be the first clause (position {t.pos})"
                    )
                clauses.append(("optmatch", *self._match_tail()))
            elif t.text == "unwind":
                _no_write(t)
                self._next()
                e = self._expr()
                self._expect("kw", "as")
                alias = self._expect_name_like().text
                clauses.append(("unwind", e, alias))
            elif t.text in ("with", "return"):
                _no_write(t)
                self._next()
                proj = self._projection(is_return=t.text == "return")
                clauses.append(("project", proj))
                if proj.is_return:
                    saw_return = True
                    break
            elif t.text == "call":
                if clauses:
                    # mid-query CALL { subquery }: correlated (leading
                    # import WITH) or uncorrelated (compiled once,
                    # cross-joined)
                    _no_write(t)
                    self._next()
                    if not self._at("op", "{"):
                        raise CypherSyntaxError(
                            "mid-query CALL must open a { subquery } — "
                            "procedure calls must be the first clause "
                            f"(position {t.pos})"
                        )
                    self._next()
                    sub = self._parse_single()
                    self._expect("op", "}")
                    if any(cl[0] in _WRITE_KINDS for cl in sub.clauses):
                        raise CypherSyntaxError(
                            "write clauses inside CALL { } are not "
                            "supported in this subset"
                        )
                    if not (
                        sub.clauses[-1][0] == "project"
                        and sub.clauses[-1][1].is_return
                    ):
                        raise CypherSyntaxError(
                            "a CALL { } subquery must end with RETURN"
                        )
                    clauses.append(("callsub_mid", sub))
                    continue
                self._next()
                if self._accept("op", "{"):
                    # CALL { query [UNION [ALL] query ...] }: an
                    # uncorrelated leading subquery — later clauses
                    # post-process its output rows
                    sub_qs, sub_all = self._parse_union_chain()
                    self._expect("op", "}")
                    clauses.append(("callsub", sub_qs, sub_all))
                    continue
                name = self._expect("name").text
                while self._accept("op", "."):
                    name += "." + self._expect_name_like().text
                self._expect("op", "(")
                self._expect("op", ")")
                yields = []
                if self._accept("kw", "yield"):
                    while True:
                        col = self._expect_name_like().text
                        alias = None
                        if self._accept("kw", "as"):
                            alias = self._expect_name_like().text
                        yields.append((col, alias))
                        if not self._accept("op", ","):
                            break
                clauses.append(("callproc", name, yields))
                saw_return = True
                break
            else:
                wcl = self._write_clause()
                if wcl is None:
                    raise CypherSyntaxError(
                        f"unexpected {t.text.upper()} at position {t.pos}"
                    )
                clauses.append(wcl)
                wrote = True
        if not saw_return and not wrote:
            raise CypherSyntaxError("query must end with a RETURN clause")
        if clauses[0][0] not in (
            "match", "unwind", "create", "merge", "project", "callproc",
            "callsub", "foreach",
        ):
            raise CypherSyntaxError(
                "query must start with MATCH, UNWIND, CREATE, MERGE, "
                "WITH, RETURN, CALL or FOREACH"
            )
        return CypherQuery(clauses)

    def _write_clause(self) -> tuple | None:
        """Parse one write clause (CREATE / MERGE / SET / REMOVE /
        [DETACH] DELETE / FOREACH) if the next token starts one, else
        None — shared between the top-level clause loop and FOREACH
        bodies so the two grammars cannot drift."""
        t = self._peek()
        if t is None or t.kind != "kw":
            return None
        if t.text == "create":
            self._next()
            pats = [self._pattern()]
            while self._accept("op", ","):
                pats.append(self._pattern())
            return ("create", pats)
        if t.text == "merge":
            self._next()
            pat = self._pattern()
            on_create: list = []
            on_match: list = []
            while self._at("kw", "on"):
                self._next()
                which = self._expect("kw")
                if which.text not in ("create", "match"):
                    raise CypherSyntaxError(
                        f"expected CREATE or MATCH after ON, got "
                        f"{which.text.upper()} at position {which.pos}"
                    )
                self._expect("kw", "set")
                items = [self._set_item(with_value=True)]
                while self._accept("op", ","):
                    items.append(self._set_item(with_value=True))
                (on_create if which.text == "create" else on_match).extend(
                    items
                )
            return ("merge", pat, on_create, on_match)
        if t.text == "set":
            self._next()
            items = [self._set_item(with_value=True)]
            while self._accept("op", ","):
                items.append(self._set_item(with_value=True))
            return ("setitems", items)
        if t.text == "remove":
            self._next()
            items = [self._set_item(with_value=False)]
            while self._accept("op", ","):
                items.append(self._set_item(with_value=False))
            return ("removeitems", items)
        if t.text in ("delete", "detach"):
            detach = t.text == "detach"
            self._next()
            if detach:
                self._expect("kw", "delete")
            names = [self._expect("name").text]
            while self._accept("op", ","):
                names.append(self._expect("name").text)
            return ("delete", names, detach)
        if t.text == "foreach":
            self._next()
            self._expect("op", "(")
            var = self._expect_name_like().text
            self._expect("kw", "in")
            lst = self._expr()
            self._expect("op", "|")
            body: list = []
            while True:
                wcl = self._write_clause()
                if wcl is None:
                    break
                body.append(wcl)
            if not body:
                raise CypherSyntaxError(
                    "FOREACH body needs at least one write clause"
                )
            self._expect("op", ")")
            return ("foreach", var, lst, body)
        return None

    def _set_item(self, with_value: bool) -> tuple:
        var = self._expect("name").text
        if self._accept("op", ":"):
            return ("label", var, self._expect_name_like().text)
        if with_value and self._at("op", "+"):
            # SET n += {k: v, ...}: additive property-map merge
            self._next()
            self._expect("op", "=")
            self._expect("op", "{")
            props: dict = {}
            while True:
                key = self._expect_name_like().text
                self._expect("op", ":")
                props[key] = self._literal()
                if not self._accept("op", ","):
                    break
            self._expect("op", "}")
            return ("propmap", var, props)
        t1 = self._peek(1)
        if (
            with_value and self._at("op", "=")
            and t1 is not None and t1.kind == "op" and t1.text == "{"
        ):
            # SET n = {map}: FULL property replacement ({} clears all)
            self._next()
            self._next()
            rprops: dict = {}
            if not self._at("op", "}"):
                while True:
                    key = self._expect_name_like().text
                    self._expect("op", ":")
                    rprops[key] = self._literal()
                    if not self._accept("op", ","):
                        break
            self._expect("op", "}")
            return ("propreplace", var, rprops)
        self._expect("op", ".")
        key = self._expect_name_like().text
        if not with_value:
            return ("prop", var, key)
        self._expect("op", "=")
        return ("prop", var, key, self._expr())

    def _match_tail(self) -> tuple:
        patterns = [self._maybe_shortest() or self._pattern()]
        while self._accept("op", ","):
            patterns.append(self._maybe_shortest() or self._pattern())
        where = None
        if self._accept("kw", "where"):
            where = self._expr()
        return patterns, where

    def _maybe_shortest(self) -> "ShortestPat | NamedPath | None":
        t, t1, t2 = self._peek(), self._peek(1), self._peek(2)
        if not (
            t is not None and t.kind == "name"
            and t1 is not None and t1.kind == "op" and t1.text == "="
            and t2 is not None
        ):
            return None
        if t2.kind == "op" and t2.text == "(":
            # p = (a)-[r]->(b): a named fixed-length path
            pvar = self._next().text
            self._next()  # =
            pat = self._pattern()
            for rel in pat.rels:
                if (rel.min_len, rel.max_len) != (1, 1):
                    raise CypherSyntaxError(
                        "a named path cannot contain a variable-length "
                        "relationship in this subset (use shortestPath, "
                        f"or drop the path binding) (position {t.pos})"
                    )
            return NamedPath(pvar, pat)
        if not (
            t2.kind == "name"
            and t2.text.lower() in ("shortestpath", "allshortestpaths")
        ):
            return None
        pvar = self._next().text
        self._next()  # =
        fn = self._next()
        all_paths = fn.text.lower() == "allshortestpaths"
        self._expect("op", "(")
        pat = self._pattern()
        self._expect("op", ")")
        if len(pat.rels) != 1:
            raise CypherSyntaxError(
                "shortestPath takes a two-node, single-relationship pattern"
            )
        if pat.rels[0].var is not None:
            raise CypherSyntaxError(
                "a relationship variable inside shortestPath is not "
                "supported in this subset"
            )
        if pat.rels[0].props:
            raise CypherSyntaxError(
                "a relationship property map inside shortestPath is not "
                "supported in this subset"
            )
        return ShortestPat(pvar, pat, all_paths=all_paths)

    def _projection(self, is_return: bool) -> Projection:
        distinct = self._accept("kw", "distinct") is not None
        star = False
        items: list[ReturnItem] = []
        if self._at("op", "*"):
            # RETURN * / WITH * — every bound variable, optionally
            # followed by extra items (RETURN *, count(*) AS n)
            self._next()
            star = True
            while self._accept("op", ","):
                items.append(self._return_item())
        else:
            items = [self._return_item()]
            while self._accept("op", ","):
                items.append(self._return_item())
        order: list[tuple] = []
        if self._accept("kw", "order"):
            self._expect("kw", "by")
            order.append(self._sort_item())
            while self._accept("op", ","):
                order.append(self._sort_item())
        skip = limit = None
        if self._accept("kw", "skip"):
            if self._at("param"):
                skip = ("param", self._next().text[1:])
            else:
                skip = self._int_tok(self._expect("num"))
        if self._accept("kw", "limit"):
            if self._at("param"):
                limit = ("param", self._next().text[1:])
            else:
                limit = self._int_tok(self._expect("num"))
        post_where = None
        if not is_return and self._accept("kw", "where"):
            post_where = self._expr()
        return Projection(
            items, distinct, order, skip, limit, is_return, post_where, star
        )

    def _pattern(self) -> Pattern:
        nodes = [self._node_pat()]
        rels: list[RelPat] = []
        while self._at("op", "-") or self._at("op", "<-"):
            rels.append(self._rel_pat())
            nodes.append(self._node_pat())
        return Pattern(nodes, rels)

    def _node_pat(self) -> NodePat:
        self._expect("op", "(")
        var = None
        t = self._peek()
        if t is not None and t.kind == "name":
            var = self._next().text
        labels: list[str] = []
        label_alts: list = []
        while self._accept("op", ":"):
            group = [self._expect_name_like().text]
            while self._accept("op", "|"):
                self._accept("op", ":")  # tolerate  :A|:B
                group.append(self._expect_name_like().text)
            if len(group) == 1:
                labels.append(group[0])
            else:
                label_alts.append(group)
        props: dict = {}
        if self._accept("op", "{"):
            # values are full expressions: MATCH restricts them to
            # literals/$parameters at compile time (_pat_value);
            # CREATE compiles row expressions per matched row
            while True:
                key = self._expect_name_like().text
                self._expect("op", ":")
                props[key] = self._expr()
                if not self._accept("op", ","):
                    break
            self._expect("op", "}")
        where = None
        if self._accept("kw", "where"):
            where = self._expr()
        self._expect("op", ")")
        return NodePat(var, labels, props, label_alts, where)

    def _rel_pat(self) -> RelPat:
        # '<-[' ... ']-'  |  '-[' ... ']->'  |  '-[' ... ']-'
        incoming = self._accept("op", "<-") is not None
        if not incoming:
            self._expect("op", "-")
        var = None
        types: list[str] = []
        props: dict = {}
        min_len, max_len = 1, 1
        if self._accept("op", "["):
            t = self._peek()
            if t is not None and t.kind == "name" and not self._at("op", ":"):
                var = self._next().text
            if self._accept("op", ":"):
                types.append(self._expect_name_like().text)
                while self._accept("op", "|"):
                    self._accept("op", ":")  # legacy  :A|:B  form
                    types.append(self._expect_name_like().text)
            if self._accept("op", "*"):
                max_len = None
                if self._at("num"):
                    min_len = self._int_tok(self._next())
                    max_len = min_len
                    if self._accept("op", ".."):
                        # ``*n..m`` bounded; ``*n..`` open-ended
                        max_len = self._int_tok(self._next()) if self._at("num") else None
                elif self._accept("op", ".."):
                    min_len = 1
                    max_len = self._int_tok(self._expect("num"))
                else:
                    min_len = 1
            if self._accept("op", "{"):
                # values are full expressions; MATCH restricts them
                # to literals/$parameters at compile time (_pat_value)
                while True:
                    key = self._expect_name_like().text
                    self._expect("op", ":")
                    props[key] = self._expr()
                    if not self._accept("op", ","):
                        break
                self._expect("op", "}")
            if self._accept("kw", "where"):
                rel_where = self._expr()
            else:
                rel_where = None
            self._expect("op", "]")
        else:
            rel_where = None
        if incoming:
            self._expect("op", "-")
            direction = "in"
        elif self._accept("op", "->"):
            direction = "out"
        else:
            self._expect("op", "-")
            direction = "both"
        if (min_len, max_len) != (1, 1) and var is not None:
            raise CypherSyntaxError(
                "a variable-length relationship cannot bind a variable "
                f"({var!r}) in this subset"
            )
        if (min_len, max_len) != (1, 1) and props:
            raise CypherSyntaxError(
                "a variable-length relationship cannot carry a property map"
            )
        if (min_len, max_len) != (1, 1) and rel_where is not None:
            raise CypherSyntaxError(
                "a variable-length relationship cannot carry an inline "
                "WHERE in this subset"
            )
        return RelPat(var, types, direction, min_len, max_len, props, rel_where)

    def _literal(self):
        t = self._next()
        if t.kind == "param":
            return ("param", t.text[1:])
        if t.kind == "num":
            return ("lit", float(t.text) if ("." in t.text or "e" in t.text.lower()) else int(t.text))
        if t.kind == "str":
            body = t.text[1:-1]
            return ("lit", _unescape_string(body))
        if t.kind == "kw" and t.text in ("true", "false"):
            return ("lit", t.text == "true")
        if t.kind == "kw" and t.text == "null":
            return ("lit", None)
        if t.kind == "op" and t.text == "-" and self._at("num"):
            n = self._next()
            return (
                "lit",
                -(
                    float(n.text)
                    if ("." in n.text or "e" in n.text.lower())
                    else int(n.text)
                ),
            )
        raise CypherSyntaxError(f"expected literal, got {t.text!r} at position {t.pos}")

    # expression grammar: or > and > not > comparison > additive >
    # multiplicative > unary > primary
    def _expr(self) -> tuple:
        left = self._xor_expr()
        while self._accept("kw", "or"):
            left = ("or", left, self._xor_expr())
        return left

    def _xor_expr(self) -> tuple:
        # Neo4j precedence: OR < XOR < AND < NOT
        left = self._and_expr()
        while self._accept("kw", "xor"):
            left = ("xor", left, self._and_expr())
        return left

    def _and_expr(self) -> tuple:
        left = self._not_expr()
        while self._accept("kw", "and"):
            left = ("and", left, self._not_expr())
        return left

    def _not_expr(self) -> tuple:
        if self._accept("kw", "not"):
            return ("not", self._not_expr())
        return self._comparison()

    def _comparison(self) -> tuple:
        left = self._additive()
        t = self._peek()
        if t is not None and t.kind == "op" and t.text in ("=", "<>", "<", "<=", ">", ">="):
            op = self._next().text
            return ("cmp", op, left, self._additive())
        if t is not None and t.kind == "op" and t.text == "=~":
            self._next()
            return ("regex", left, self._additive())
        if self._accept("kw", "is"):
            neg = self._accept("kw", "not") is not None
            self._expect("kw", "null")
            return ("isnull", left, neg)
        if self._accept("kw", "in"):
            if self._at("param"):
                return ("in", left, [("param", self._next().text[1:])])
            rhs = self._additive()
            if rhs[0] == "listlit" and all(
                e[0] in ("lit", "param") for e in rhs[1]
            ):
                # literal list: keep the isin fast path (pushdown)
                return ("in", left, list(rhs[1]))
            # any list-valued expression: 'Region' IN labels(n),
            # x IN n.tags, x IN xs[1..3] — array_contains membership
            return ("in_expr", left, rhs)
        if self._accept("kw", "starts"):
            self._expect("kw", "with")
            return ("startswith", left, self._additive())
        if self._accept("kw", "ends"):
            self._expect("kw", "with")
            return ("endswith", left, self._additive())
        if self._accept("kw", "contains"):
            return ("contains", left, self._additive())
        return left

    def _additive(self) -> tuple:
        left = self._multiplicative()
        while True:
            t = self._peek()
            if t is not None and t.kind == "op" and t.text in ("+", "-"):
                op = self._next().text
                left = ("arith", op, left, self._multiplicative())
            else:
                return left

    def _multiplicative(self) -> tuple:
        left = self._unary()
        while True:
            t = self._peek()
            if t is not None and t.kind == "op" and t.text in ("*", "/", "%"):
                op = self._next().text
                left = ("arith", op, left, self._unary())
            else:
                return left

    def _unary(self) -> tuple:
        if self._accept("op", "-"):
            return ("neg", self._unary())
        return self._postfix(self._primary())

    def _postfix(self, e: tuple) -> tuple:
        """Postfix operators after any primary: ``xs[i]`` subscripts
        (0-based, negative from the end; string keys read maps /
        dynamic properties), ``xs[lo..hi]`` slices (half-open, either
        bound omissible, negatives from the end — Neo4j list
        operators), and ``.key`` value-property access on arbitrary
        expressions (r13): struct/map element reads and the Neo4j
        temporal component accessors — ``date('2024-01-05').year``,
        ``n.created.dayOfWeek`` (``n.created`` itself still parses as
        a plain property at the primary level; the postfix form only
        fires on the result of another expression)."""
        while True:
            if self._at("op", "["):
                self._next()
                lo = None if self._at("op", "..") else self._expr()
                if self._accept("op", ".."):
                    hi = None if self._at("op", "]") else self._expr()
                    self._expect("op", "]")
                    e = ("slice", e, lo, hi)
                else:
                    self._expect("op", "]")
                    e = ("index", e, lo)
                continue
            nxt = self._peek(1)
            if (
                self._at("op", ".")
                and nxt is not None
                and nxt.kind in ("name", "kw")
            ):
                self._next()
                key = self._expect_name_like().text
                e = ("vprop", e, key)
                continue
            break
        return e

    def _primary(self) -> tuple:
        if self._at("kw", "case"):
            return self._case_expr()
        if self._at("op", "{"):
            # map literal {k: expr, ...} — compiled to a STRUCT so
            # field access (row.k) and UNWIND-over-literal-maps work
            self._next()
            entries: list[tuple] = []
            if not self._at("op", "}"):
                while True:
                    k = self._expect_name_like().text
                    self._expect("op", ":")
                    entries.append((k, self._expr()))
                    if not self._accept("op", ","):
                        break
            self._expect("op", "}")
            if not entries:
                raise CypherSyntaxError(
                    "an empty map literal has no struct type — add a key"
                )
            if len({k for k, _ in entries}) != len(entries):
                raise CypherSyntaxError("duplicate key in map literal")
            return ("maplit", entries)
        if self._at("op", "("):
            # maybe a bare pattern predicate (n)-[:T]->(m) — Neo4j's
            # legacy boolean-pattern expression, equivalent to
            # exists(pattern). Commit iff a FULL pattern with at least
            # one relationship parses (a parenthesized expression never
            # does: the probe fails on its contents or yields no rels)
            save = self.i
            try:
                p = self._pattern()
                if p.rels:
                    return ("exists_pat", p)
            except CypherSyntaxError:
                pass
            self.i = save
            self._next()
            e = self._expr()
            self._expect("op", ")")
            return e
        if self._accept("op", "["):
            if self._at("op", "("):
                # maybe a pattern comprehension [(a)-[:T]->(b) WHERE p | e]:
                # commit iff a full pattern parses AND is followed by
                # WHERE or | (else backtrack — it was a parenthesized
                # expression opening a plain list literal)
                save = self.i
                pat = None
                try:
                    p = self._pattern()
                    if self._at("kw", "where") or self._at("op", "|"):
                        pat = p
                except CypherSyntaxError:
                    pat = None
                if pat is not None:
                    cond = None
                    if self._accept("kw", "where"):
                        cond = self._expr()
                    self._expect("op", "|")
                    mape = self._expr()
                    self._expect("op", "]")
                    if not pat.rels:
                        raise CypherSyntaxError(
                            "a pattern comprehension needs at least one "
                            "relationship in its pattern"
                        )
                    return ("patcomp", pat, cond, mape)
                self.i = save
            t0, t1 = self._peek(), self._peek(1)
            if (
                t0 is not None and t0.kind == "name"
                and t1 is not None and t1.kind == "kw" and t1.text == "in"
            ):
                # list comprehension [x IN list WHERE p | e]
                var = self._next().text
                self._next()  # IN
                lst = self._expr()
                cond = None
                if self._accept("kw", "where"):
                    cond = self._expr()
                mape = None
                if self._accept("op", "|"):
                    mape = self._expr()
                self._expect("op", "]")
                return ("listcomp", var, lst, cond, mape)
            items = []
            if not self._at("op", "]"):
                items.append(self._expr())
                while self._accept("op", ","):
                    items.append(self._expr())
            self._expect("op", "]")
            return ("listlit", items)
        t = self._next()
        if t.kind == "param":
            return ("param", t.text[1:])
        if t.kind == "num":
            return ("lit", float(t.text) if ("." in t.text or "e" in t.text.lower()) else int(t.text))
        if t.kind == "str":
            return ("lit", _unescape_string(t.text[1:-1]))
        if t.kind == "kw" and t.text in ("true", "false"):
            return ("lit", t.text == "true")
        if t.kind == "kw" and t.text == "null":
            return ("lit", None)
        if t.kind == "name":
            name = t.text
            if name.lower() in ("exists", "count", "collect") and self._at("op", "{"):
                # EXISTS { ... } / COUNT { ... } / COLLECT { ... RETURN e }
                # subquery expressions
                self._next()
                if name.lower() == "collect":
                    pats, where, mape, dist = self._subquery_block(collect=True)
                    return ("collect_sub", pats, where, mape, dist)
                pats, where, _, _ = self._subquery_block()
                kind = "exists_sub" if name.lower() == "exists" else "count_sub"
                return (kind, pats, where)
            if name.lower() == "exists" and self._at("op", "("):
                # exists((a)-[:T]->(b)) pattern predicate, or the
                # legacy exists(n.prop) property form
                self._next()
                if self._at("op", "("):
                    pat = self._pattern()
                    self._expect("op", ")")
                    return ("exists_pat", pat)
                inner = self._expr()
                self._expect("op", ")")
                return ("isnull", inner, True)  # IS NOT NULL
            if self._at("op", "("):  # function call
                self._next()
                fn = name.lower()
                if fn in ("any", "all", "none", "single"):
                    # list predicate: any(x IN list WHERE cond)
                    var = self._expect("name").text
                    self._expect("kw", "in")
                    lst = self._expr()
                    self._expect("kw", "where")
                    cond = self._expr()
                    self._expect("op", ")")
                    return ("listpred", fn, var, lst, cond)
                if fn == "reduce":
                    # reduce(acc = init, x IN list | body)
                    acc = self._expect("name").text
                    self._expect("op", "=")
                    init = self._expr()
                    self._expect("op", ",")
                    var = self._expect("name").text
                    self._expect("kw", "in")
                    lst = self._expr()
                    self._expect("op", "|")
                    body = self._expr()
                    self._expect("op", ")")
                    return ("reduce", acc, init, var, lst, body)
                distinct = self._accept("kw", "distinct") is not None
                args: list = []
                if self._at("op", "*"):
                    self._next()
                    args.append(("star",))
                elif not self._at("op", ")"):
                    args.append(self._expr())
                    while self._accept("op", ","):
                        args.append(self._expr())
                self._expect("op", ")")
                return ("call", fn, args, distinct)
            if self._accept("op", "."):
                prop = self._expect_name_like().text
                if self._at("op", "("):
                    # namespaced function call: duration.between(a, b),
                    # date.truncate('month', d), datetime.truncate(...)
                    self._next()
                    args = []
                    if not self._at("op", ")"):
                        args.append(self._expr())
                        while self._accept("op", ","):
                            args.append(self._expr())
                    self._expect("op", ")")
                    return (
                        "call", f"{name.lower()}.{prop.lower()}", args, False
                    )
                return ("prop", name, prop)
            if self._at("op", "{"):
                # map projection n {.name, .*, key: expr}
                self._next()
                entries: list[tuple] = []
                if not self._at("op", "}"):
                    while True:
                        if self._accept("op", "."):
                            if self._accept("op", "*"):
                                entries.append(("all",))
                            else:
                                entries.append(
                                    ("pk", self._expect_name_like().text)
                                )
                        else:
                            k = self._expect_name_like().text
                            self._expect("op", ":")
                            entries.append(("kv", k, self._expr()))
                        if not self._accept("op", ","):
                            break
                self._expect("op", "}")
                return ("mapproj", name, entries)
            return ("var", name)
        raise CypherSyntaxError(
            f"unexpected {t.text!r} at position {t.pos}"
        )

    def _subquery_block(self, collect: bool = False) -> tuple:
        """``{ [MATCH] pattern[, ...] [WHERE expr] }`` — the body of an
        EXISTS/COUNT subquery expression (the pattern-comprehension
        subset: plain fixed/variable-length patterns, no nested WITH).
        With ``collect=True`` (a ``COLLECT { ... }`` expression,
        Neo4j 5.6) a trailing ``RETURN [DISTINCT] expr`` is required —
        exactly one item, no alias (the list element expression)."""
        self._accept("kw", "match")
        pats = [self._pattern()]
        while self._accept("op", ","):
            pats.append(self._pattern())
        where = None
        if self._accept("kw", "where"):
            where = self._expr()
        mape, dist = None, False
        if collect:
            t = self._peek()
            pos = t.pos if t else len(self.text)
            if not self._accept("kw", "return"):
                raise CypherSyntaxError(
                    f"COLLECT {{ }} needs a RETURN (position {pos})"
                )
            dist = bool(self._accept("kw", "distinct"))
            mape = self._expr()
            if self._at("op", ","):
                raise CypherSyntaxError(
                    "COLLECT { } returns exactly one item "
                    f"(position {self._peek().pos})"
                )
        self._expect("op", "}")
        return pats, where, mape, dist

    def _case_expr(self) -> tuple:
        """Generic ``CASE WHEN p THEN v ... [ELSE v] END`` and simple
        ``CASE x WHEN v THEN r ... END`` forms."""
        self._expect("kw", "case")
        operand = None
        if not self._at("kw", "when"):
            operand = self._expr()
        whens: list[tuple] = []
        while self._accept("kw", "when"):
            cond = self._expr()
            self._expect("kw", "then")
            whens.append((cond, self._expr()))
        if not whens:
            t = self._peek()
            pos = t.pos if t else len(self.text)
            raise CypherSyntaxError(f"CASE needs at least one WHEN (position {pos})")
        default = None
        if self._accept("kw", "else"):
            default = self._expr()
        self._expect("kw", "end")
        return ("case", operand, whens, default)

    def _return_item(self) -> ReturnItem:
        if self.i >= len(self.toks):
            raise CypherSyntaxError("unexpected end of query: expected RETURN item")
        start = self.toks[self.i].pos
        e = self._expr()
        end = self.toks[self.i - 1]
        text = self.text[start : end.pos + len(end.text)].strip()
        alias = None
        if self._accept("kw", "as"):
            alias = self._expect("name").text
        return ReturnItem(e, alias, text)

    def _sort_item(self) -> tuple:
        if self.i >= len(self.toks):
            raise CypherSyntaxError("unexpected end of query: expected sort key")
        start = self.toks[self.i].pos
        e = self._expr()
        end = self.toks[self.i - 1]
        text = self.text[start : end.pos + len(end.text)].strip()
        asc = True
        if self._accept("kw", "desc"):
            asc = False
        else:
            self._accept("kw", "asc")
        return (e, text, asc)


# ---------------------------------------------------------------------------
# compiler
# ---------------------------------------------------------------------------


@dataclass
class _Compile:
    graph: PropertyGraph
    cur: DataFrame | None = None
    allow_cartesian: bool = False
    params: dict | None = None
    kinds: dict = field(default_factory=dict)  # var -> "node" | "rel"
    prop_cols: dict = field(default_factory=dict)  # (var, prop) -> col name
    # var -> every prop the whole query reads of it (_query_reads):
    # the columns a scan binding that var projects
    reads: dict = field(default_factory=dict)
    # every single-hop relationship column (named or anonymous) with
    # its type restriction, for Cypher's relationship-uniqueness rule
    rel_cols: list = field(default_factory=list)  # (col, frozenset(types))
    # comprehension/list-predicate variables in scope -> their lambda
    # Column (checked before kinds in _to_col's var resolution)
    lambda_vars: dict = field(default_factory=dict)
    # named fixed-length paths: path var -> (node vars, rel vars),
    # in pattern order (read through nodes()/relationships()/length())
    paths: dict = field(default_factory=dict)
    anon: int = 0

    def fresh(self, prefix: str) -> str:
        self.anon += 1
        return f"__{prefix}{self.anon}"


def _pat_value(expr: tuple, params: dict | None):
    """A pattern value position in a MATCH: literal or $parameter
    (CREATE patterns additionally accept row expressions — that path
    compiles them as Columns in ``cypher_write`` instead)."""
    if expr[0] == "lit":
        return expr[1]
    if expr[0] == "param":
        if params is None or expr[1] not in params:
            raise CypherSyntaxError(f"missing parameter ${expr[1]}")
        return params[expr[1]]
    if expr[0] == "neg":
        v = _pat_value(expr[1], params)
        if not isinstance(v, (int, float)) or isinstance(v, bool):
            raise CypherSyntaxError("unary minus needs a number")
        return -v
    raise CypherSyntaxError(
        "property values in MATCH patterns must be literals or $parameters"
    )


def _node_frame(
    g: PropertyGraph,
    pat: NodePat,
    var: str,
    params: dict | None = None,
    cols: list = (),
) -> DataFrame:
    """The label- and property-filtered node scan: ``id`` as ``var``
    plus the scan columns ``cols`` (from :func:`_scan_cols`)."""
    nd = g.nodes
    for lab in pat.labels:
        nd = nd.filter(F.array_contains(F.col("labels"), lab))
    for group in pat.label_alts:  # :A|B — any label of the group
        cond = F.array_contains(F.col("labels"), group[0])
        for lab in group[1:]:
            cond = cond | F.array_contains(F.col("labels"), lab)
        nd = nd.filter(cond)
    for k, v in pat.props.items():
        nd = nd.filter(g.node_prop(k) == F.lit(_pat_value(v, params)))
    return nd.select(F.col("id").alias(var), *cols)


_NODE_ONLY = {"__labels__"}
_REL_ONLY = {"__type__", "__src__", "__dst__"}


def _prop_col(g: PropertyGraph, kind: str, var: str, p: str) -> Column:
    """``var.p`` read from ``var``'s own row of the nodes (``kind`` =
    "node") or edges table; ``p`` may be a pseudo-prop collected by
    :func:`_collect_props` (``labels()``, ``type()``, ``startNode()``
    / ``endNode()``, ``properties()``/``keys()``, ``v[key]``)."""
    if p in _NODE_ONLY and kind != "node":
        raise CypherSyntaxError(f"labels() needs a node, got {var!r}")
    if p in _REL_ONLY and kind != "rel":
        what = "type() needs" if p == "__type__" else "startNode()/endNode() need"
        raise CypherSyntaxError(f"{what} a relationship, got {var!r}")
    if p == "__labels__":
        return F.col("labels")
    if p == "__type__":
        return F.col("predicate")
    if p in ("__src__", "__dst__"):
        return F.col("src" if p == "__src__" else "dst")
    if p in ("__props__", "__dynprops__"):
        # the full property map: a node's schemaless props merged with
        # its typed hot columns (stringified — the map is
        # map<string,string>, the reference's storage dtype)
        hot = [
            col
            for col in g.nodes.columns
            if col not in NODE_CORE and col not in SIDECAR_COLS
        ] if kind == "node" else []
        if not hot:
            return F.col("props")
        pairs: list = []
        for h in hot:
            pairs.extend([F.lit(h), F.col(h).cast("string")])
        return F.map_concat(
            F.map_filter(F.col("props"), lambda k, _: ~k.isin(hot)),
            F.map_filter(F.create_map(*pairs), lambda _, v: v.isNotNull()),
        )
    if kind == "node":
        return g.node_prop(p)
    return F.col("props")[p]


def _scan_cols(c: _Compile, var: str, kind: str) -> list:
    """The ``__p_`` columns a fresh scan binding of ``var`` projects:
    every property the query reads of ``var`` (``c.reads``) that a
    ``kind`` entity can have, registered in ``c.prop_cols``. Pseudo-
    props of the other kind stay unregistered, so reading them raises
    in :func:`_materialize_props`."""
    wrong = _REL_ONLY if kind == "node" else _NODE_ONLY
    cols = []
    for p in sorted(c.reads.get(var, ())):
        if p in wrong:
            continue
        cname = f"__p_{var}_{p}"
        c.prop_cols[(var, p)] = cname
        cols.append(_prop_col(c.graph, kind, var, p).alias(cname))
    return cols


def _join_node(c: _Compile, pat: NodePat, var: str, fresh: bool) -> None:
    """Apply a node pattern's label/property constraints to ``var``,
    already an id column of the frame (a hop's far end, or a variable
    bound by an earlier pattern). A ``fresh`` binding also takes its
    scan columns — one join with the filtered node scan does both:
    inner when constrained, left when only columns are attached (a
    dangling edge end keeps its row, its properties null), semi when
    only constrained."""
    cols = _scan_cols(c, var, "node") if fresh else []
    constrained = bool(pat.labels or pat.label_alts or pat.props)
    if not (cols or constrained):
        return
    how = ("inner" if constrained else "left") if cols else "leftsemi"
    c.cur = c.cur.join(
        _node_frame(c.graph, pat, var, c.params, cols), on=var, how=how
    )


def _bind_node(c: _Compile, pat: NodePat) -> str:
    """Bind a node pattern into the current frame; return its var."""
    g = c.graph
    var = pat.var or c.fresh("n")
    if pat.var is not None and pat.var in c.kinds:
        if c.kinds[var] != "node":
            raise CypherSyntaxError(f"variable {var!r} bound as both node and relationship")
        # already bound: extra label/prop constraints are a semi-join
        _join_node(c, pat, var, fresh=False)
        return var
    c.kinds[var] = "node"
    nd = _node_frame(g, pat, var, c.params, _scan_cols(c, var, "node"))
    if c.cur is None:
        c.cur = nd
    else:
        # disconnected pattern start: Cypher cartesian product
        c.cur = c.cur.crossJoin(nd)
    return var


def _var_length_pairs(
    g: PropertyGraph, rel: RelPat
) -> DataFrame:
    """(src, dst) pairs for a variable-length relationship: bounded
    lengths unroll to a union of equi-join chains with WITHIN-path
    relationship uniqueness (Cypher: no relationship appears twice in
    one path — the ``__eid`` column tracks the edges used); a zero
    lower bound contributes the identity pairs; unbounded reuses the
    semi-naive closure fixpoint.

    Documented approximation for unbounded lengths: ``*`` / ``*1..``
    is plain reachability, where uniqueness cannot change the answer
    (a repeated-edge walk reaches nothing a simple path does not).
    For ``*n..`` with n >= 2 the result composes an exact
    uniqueness-enforced (n-1)-hop prefix with the closure; a pair
    whose EVERY qualifying walk must reuse an edge across that
    boundary (e.g. the two-node cycle A->B->A->B for ``*2..``) is
    still returned, where Neo4j's path enumeration would not. Exact
    trail semantics at unbounded length are a longest-trail problem
    (NP-hard) — not expressible as a fixed DataFrame plan; bounded
    ``*n..m`` is exact."""
    e = g.edges
    if rel.types:
        e = e.filter(F.col("predicate").isin(rel.types))
    pairs = e.select("src", "dst", F.col("id").alias("__eid"))
    if rel.direction == "both":
        # both orientations carry the SAME edge id: traversing one
        # relationship forward then backward is the classic
        # uniqueness violation
        pairs = pairs.unionAll(
            e.select(
                F.col("dst").alias("src"), F.col("src").alias("dst"),
                F.col("id").alias("__eid"),
            )
        )
    if rel.min_len == 0:
        # zero-length path: every node pairs with itself (far-node
        # constraints still apply through the caller's semi-join)
        ident = g.nodes.select(F.col("id").alias("src"), F.col("id").alias("dst"))
        rest = RelPat(
            rel.var, rel.types, rel.direction, 1, rel.max_len, rel.props
        )
        if rel.max_len == 0:
            return ident
        return ident.unionAll(_var_length_pairs(g, rest)).dropDuplicates()
    if rel.max_len is None:
        from pidb_rdf_spark.inference import transitive_closure

        clo = transitive_closure(
            pairs.select(F.col("src").alias("child"), F.col("dst").alias("parent"))
        ).select(F.col("child").alias("src"), F.col("parent").alias("dst"))
        if rel.min_len <= 1:
            return clo
        # paths of length >= min_len: a mandatory exact-(min_len-1)-hop
        # prefix composed with the 1..inf closure. (An anti-join against
        # the short-hop set would be wrong: a pair with BOTH a short and
        # a long path must be kept.)
        prefix = _unrolled_pairs(pairs, rel.min_len - 1, rel.min_len - 1)
        return (
            prefix.select("src", F.col("dst").alias("__m"))
            .join(clo.select(F.col("src").alias("__m"), "dst"), on="__m")
            .select("src", "dst")
            .dropDuplicates()
        )
    return _unrolled_pairs(pairs, rel.min_len, rel.max_len)


def _unrolled_pairs(pairs: DataFrame, min_len: int, max_len: int) -> DataFrame:
    """Union of exact-k-hop (src, dst) pairs for k in [min_len,
    max_len]. ``pairs`` carries ``__eid``; each chain extension
    filters edges already on the path (Cypher relationship-uniqueness
    WITHIN a variable-length path) and dedups on (src, dst, edge-set)
    so the carried state stays bounded by the simple-path count, not
    the walk count."""
    hop = pairs.dropDuplicates()
    out = hop.select("src", "dst") if min_len <= 1 else None
    cur = hop.select("src", "dst", F.array("__eid").alias("__es"))
    for k in range(2, max_len + 1):
        cur = (
            cur.select("src", F.col("dst").alias("__m"), "__es")
            .join(
                hop.select(F.col("src").alias("__m"), "dst", "__eid"),
                on="__m",
            )
            .filter(~F.array_contains("__es", F.col("__eid")))
            .select(
                "src",
                "dst",
                F.array_sort(F.array_append("__es", F.col("__eid"))).alias("__es"),
            )
            .dropDuplicates()
        )
        if k >= min_len:  # lengths below min_len feed the chain but not the result
            nxt = cur.select("src", "dst")
            out = nxt if out is None else out.unionAll(nxt)
    if out is None:  # min_len > max_len: empty result, keep schema
        return hop.select("src", "dst").limit(0)
    return out.dropDuplicates()


def _bind_rel(c: _Compile, rel: RelPat, prev: str, pat_next: NodePat) -> str:
    """Join one relationship hop; returns the bound far-node var."""
    g = c.graph
    nxt = pat_next.var or c.fresh("n")
    nxt_bound = pat_next.var is not None and pat_next.var in c.kinds

    if (rel.min_len, rel.max_len) != (1, 1):
        pairs = _var_length_pairs(g, rel)
        here, there = ("src", "dst") if rel.direction != "in" else ("dst", "src")
        if nxt_bound:
            # far end already bound: alias to a temp column, join, then
            # filter temp == bound var (same-name alias would collide)
            tmp = c.fresh("j")
            hop = pairs.select(F.col(here).alias(prev), F.col(there).alias(tmp))
            c.cur = (
                c.cur.join(hop, on=prev)
                .filter(F.col(tmp) == F.col(nxt))
                .drop(tmp)
            )
        else:
            hop = pairs.select(F.col(here).alias(prev), F.col(there).alias(nxt))
            c.cur = c.cur.join(hop, on=prev)
            c.kinds[nxt] = "node"
        _join_node(c, pat_next, nxt, fresh=not nxt_bound)
        return nxt

    rvar = rel.var or c.fresh("r")
    if rel.var is not None and rel.var in c.kinds:
        raise CypherSyntaxError(
            f"relationship variable {rel.var!r} bound twice (not supported)"
        )
    c.kinds[rvar] = "rel"
    c.rel_cols.append((rvar, frozenset(rel.types)))
    e = g.edges
    if rel.types:
        e = e.filter(F.col("predicate").isin(rel.types))
    for k, v in rel.props.items():
        e = e.filter(F.col("props")[k] == F.lit(str(_pat_value(v, c.params))))
    # the far column gets a temp name when its variable is already
    # bound — including the self-loop pattern (n)-[:T]->(n), where
    # aliasing both ends to the same name would collide
    far = c.fresh("j") if nxt_bound else nxt
    rcols = _scan_cols(c, rvar, "rel")
    hop = None
    for here, there in {
        "out": [("src", "dst")],
        "in": [("dst", "src")],
        "both": [("src", "dst"), ("dst", "src")],  # either orientation
    }[rel.direction]:
        h = e.select(
            F.col(here).alias(prev), F.col(there).alias(far),
            F.col("id").alias(rvar), *rcols,
        )
        hop = h if hop is None else hop.unionAll(h)
    if nxt_bound:
        c.cur = c.cur.join(hop, on=prev).filter(F.col(far) == F.col(nxt)).drop(far)
    else:
        c.kinds[nxt] = "node"
        c.cur = c.cur.join(hop, on=prev)
    _join_node(c, pat_next, nxt, fresh=not nxt_bound)
    return nxt


def _bind_shortest(c: _Compile, sp: ShortestPat) -> None:
    """Bind ``p = shortestPath((a)-[:T*..m]->(b))``: a multi-source
    BFS keyed by origin (:func:`frontier.reach`) — semi-naive, each
    round expands ONLY the newly-settled frontier through one
    equi-join, so total work is O(origin-node pairs reached), never
    all-pairs. The path variable
    binds the hop count; the subset exposes it through ``length(p)``
    only (Neo4j's path object has no DataFrame analog).

    Subset notes: the lower bound must be 0 or 1 (Neo4j's own
    shortestPath rule); with lower bound 1 a pair whose ONLY
    connection is a cycle back to the start node is not found (BFS
    settles the origin at distance 0 first) — Neo4j rejects
    common-endpoint shortestPath outright
    (``cypher.forbid_shortestpath_common_nodes``), so cyclic
    self-paths are out of scope either way. Reference parity: the
    reference reaches the same question through its variable-length
    inference procs (``MicroReasoners.java:20-22``); here it is a
    first-class MATCH pattern."""
    pat = sp.pattern
    rel = pat.rels[0]
    if sp.path_var in c.kinds:
        raise CypherSyntaxError(
            f"path variable {sp.path_var!r} is already bound"
        )
    if rel.min_len not in (0, 1):
        raise CypherSyntaxError(
            "shortestPath lower bound must be 0 or 1 (Neo4j rule)"
        )
    g = c.graph
    a = _bind_node(c, pat.nodes[0])
    b_pat = pat.nodes[1]
    b_bound = b_pat.var is not None and b_pat.var in c.kinds
    e = g.edges
    if rel.types:
        e = e.filter(F.col("predicate").isin(rel.types))
    fwd = e.select("src", "dst")
    if rel.direction == "in":
        edges = fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    elif rel.direction == "both":
        edges = fwd.unionAll(
            fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
    else:
        edges = fwd
    # sigma = number of distinct shortest paths to the node (Brandes'
    # forward-pass recurrence: new arrivals sum their frontier
    # predecessors' counts; parallel edges count as distinct paths).
    # Plain shortestPath ignores it; allShortestPaths emits each pair
    # sigma times (bag semantics). An UNBOUNDED * pattern gets a
    # default 50-round budget that raises when it runs out; an
    # explicit *..m upper bound is the user's own cap and never raises.
    dist = frontier.reach(
        edges.localCheckpoint(eager=True),
        c.cur.select(F.col(a).alias("origin"))
        .dropDuplicates()
        .select(
            "origin",
            F.col("origin").alias("node"),
            F.lit(1).cast("long").alias("sigma"),
        ),
        50 if rel.max_len is None else rel.max_len,
        bounded=rel.max_len is not None,
        what="shortestPath",
        hint="add an explicit upper bound (e.g. *..100) sized to the "
        "graph's diameter",
    )[0]
    if rel.min_len >= 1:
        dist = dist.filter(F.col("hops") >= 1)
    sig = c.fresh("sig") if sp.all_paths else None
    extra = [F.col("sigma").alias(sig)] if sp.all_paths else []
    nxt = b_pat.var or c.fresh("n")
    far = c.fresh("j") if b_bound else nxt
    c.cur = c.cur.join(
        dist.select(
            F.col("origin").alias(a),
            F.col("node").alias(far),
            F.col("hops").alias(sp.path_var),
            *extra,
        ),
        on=a,
    )
    if b_bound:
        c.cur = c.cur.filter(F.col(far) == F.col(nxt)).drop(far)
    else:
        c.kinds[nxt] = "node"
    _join_node(c, b_pat, nxt, fresh=not b_bound)
    if sp.all_paths:
        # bag multiplicity AFTER the endpoint filters (never explode
        # rows a label/prop constraint is about to drop)
        c.cur = c.cur.withColumn(
            "__asp",
            F.explode(F.sequence(F.lit(1).cast("long"), F.col(sig))),
        ).drop("__asp", sig)
    c.kinds[sp.path_var] = "pathlen"


def _qcol(name: str) -> Column:
    """Column reference by exact name: backtick-quoted so default item
    names containing dots (e.g. an unaliased ``n.n_name``) resolve as
    top-level columns instead of nested-field access."""
    return F.col("`" + name.replace("`", "") + "`")


def _collect_props(expr, acc: set) -> None:
    """Add every ``(var, prop)`` read in ``expr`` to ``acc``. Also
    walks parsed clauses: patterns, projections and nested subqueries
    through their fields (inline WHERE, CALL bodies)."""
    if expr is None:
        return
    if isinstance(expr, list):
        for e in expr:
            _collect_props(e, acc)
        return
    if is_dataclass(expr):
        for f in fields(expr):
            _collect_props(getattr(expr, f.name), acc)
        return
    if isinstance(expr, dict):  # pattern property values
        _collect_props(list(expr.values()), acc)
        return
    if not isinstance(expr, tuple) or not expr:
        return
    if isinstance(expr[0], str):
        if expr[0] == "callproc":  # YIELD names, not expressions
            return
        if expr[0] == "prop":
            acc.add((expr[1], expr[2]))
            return
        # labels(n) / type(r) read a pseudo-property materialized from
        # the node/edge table, same join machinery as real properties
        if expr[0] == "call" and expr[1] in ("labels", "type") and expr[2]:
            a = expr[2][0]
            if a[0] == "var":
                acc.add((a[1], "__labels__" if expr[1] == "labels" else "__type__"))
                return
        if expr[0] == "call" and expr[1] in ("properties", "keys") and expr[2]:
            a = expr[2][0]
            if a[0] == "var":
                acc.add((a[1], "__props__"))
                return
        if expr[0] == "call" and expr[1] in ("startnode", "endnode") and expr[2]:
            a = expr[2][0]
            if a[0] == "var":
                acc.add((a[1], "__src__" if expr[1] == "startnode" else "__dst__"))
                return
        if expr[0] == "mapproj":
            var = expr[1]
            for ent in expr[2]:
                if ent[0] == "pk":
                    acc.add((var, ent[1]))
                elif ent[0] == "all":
                    acc.add((var, "__props__"))
                else:  # ("kv", key, expr)
                    _collect_props(ent[2], acc)
            return
        if expr[0] == "index" and expr[1][0] == "var":
            # n[key] dynamic access MAY need the full property map —
            # attached only for node/rel vars (list/map values index
            # their own column; _materialize_props skips them)
            acc.add((expr[1][1], "__dynprops__"))
            _collect_props(expr[2], acc)
            return
        parts = expr[1:]
    else:  # bare tuple grouping (e.g. a CASE (when, then) pair)
        parts = expr
    for part in parts:
        _collect_props(part, acc)


def _query_reads(q: CypherQuery) -> dict:
    """var -> every property the query reads of it, anywhere (WHERE,
    projections, inline predicates, subqueries): what each scan
    binding projects. A name reused across scopes only over-projects
    columns Catalyst prunes."""
    acc: set = set()
    _collect_props(q.clauses, acc)
    reads: dict = {}
    for var, prop in acc:
        reads.setdefault(var, set()).add(prop)
    return reads


def _materialize_props(c: _Compile, needed: set) -> None:
    """Make each referenced var.prop a concrete column of the frame.
    A pattern variable's scan already projected it (:func:`_scan_cols`,
    forwarded through WITH and into correlated blocks), so what is left
    here is property access on WITH/UNWIND values — plain column
    expressions — and the fallback for a node/relationship id that no
    scan bound (a variable returned by a CALL subquery): one left join
    of the node or edge table on that id per variable."""
    g = c.graph
    by_var: dict[str, list[str]] = {}
    for var, prop in needed:
        if (var, prop) not in c.prop_cols:
            by_var.setdefault(var, []).append(prop)
    for var, props in by_var.items():
        kind = c.kinds.get(var)
        if kind is None:
            raise CypherSyntaxError(f"undefined variable {var!r}")
        if kind == "value":
            # map/struct element access on a WITH/UNWIND value — the
            # bulk-ingest idiom UNWIND $batch AS row ... row.k.
            # No join: the container is already a column.
            dt = c.cur.schema[var].dataType
            for p in props:
                if p == "__dynprops__":
                    continue  # list/map values index their own column
                if p.startswith("__"):
                    raise CypherSyntaxError(
                        f"{var!r} is a WITH/UNWIND value, not a node "
                        "or relationship"
                    )
                cname = f"__p_{var}_{p}"
                c.prop_cols[(var, p)] = cname
                if isinstance(dt, T.MapType):
                    c.cur = c.cur.withColumn(cname, F.col(var).getItem(p))
                elif isinstance(dt, T.StructType) and p in dt.names:
                    c.cur = c.cur.withColumn(cname, F.col(var).getField(p))
                elif isinstance(dt, T.StructType):
                    # map literals compile to structs; unknown keys
                    # read NULL as on maps (Neo4j semantics — the
                    # r12 map-literal subscript contract)
                    c.cur = c.cur.withColumn(cname, F.lit(None))
                else:
                    # temporal component accessors on projected
                    # date/timestamp/interval values (r13):
                    # WITH date(...) AS d ... RETURN d.year
                    tcol = _temporal_component(F.col(var), p, dt)
                    if tcol is None:
                        raise CypherSyntaxError(
                            f"{var!r} is a scalar value — property "
                            "access needs a map/struct, a temporal "
                            "value, or a node/relationship"
                        )
                    c.cur = c.cur.withColumn(cname, tcol)
            continue
        cols = {}
        for p in props:
            cname = f"__p_{var}_{p}"
            c.prop_cols[(var, p)] = cname
            cols[cname] = _prop_col(g, kind, var, p)
        c.cur = g.lookup(c.cur, var, cols, edges=kind != "node")


def _lambda_body(c: _Compile, var: str, body: tuple):
    """Compile a comprehension/list-predicate body as a higher-order
    function lambda: ``var`` resolves to the lambda's element Column
    (shadowing any outer binding of the same name) for the duration of
    the body compile. JVM-side higher-order functions — no Python in
    the row path. Subset: the element is a scalar, so property access
    on it is not supported (a clear undefined-variable error)."""
    def f(x: Column) -> Column:
        had, old = var in c.lambda_vars, c.lambda_vars.get(var)
        c.lambda_vars[var] = x
        try:
            return _to_col(c, body)
        finally:
            if had:
                c.lambda_vars[var] = old
            else:
                c.lambda_vars.pop(var, None)
    return f


def _expr_uses_lambda_var(c: _Compile, e) -> bool:
    """True if the expression tree references any currently-bound
    comprehension lambda variable — such expressions cannot be
    analyzed standalone (select-probing them logs ERROR-level
    UNRESOLVED_COLUMN stack traces JVM-side)."""
    if isinstance(e, (list,)):
        return any(_expr_uses_lambda_var(c, x) for x in e)
    if not isinstance(e, tuple):
        return False
    if e[0] == "var":
        return e[1] in c.lambda_vars
    return any(
        _expr_uses_lambda_var(c, x)
        for x in e[1:]
        if isinstance(x, (tuple, list))
    )


_TEMPORAL_KEYS = (
    "year quarter month week weekYear day ordinalDay dayOfWeek "
    "hour minute second millisecond microsecond epochSeconds "
    "epochMillis  (intervals: years months days hours minutes seconds)"
)


def _temporal_component(col: Column, key: str, dt) -> Column:
    """Neo4j temporal component accessors over Spark date / timestamp
    / interval columns (r13): ``d.year``, ``ts.dayOfWeek``,
    ``duration.between(a, b).hours`` … ``dayOfWeek`` follows Neo4j's
    ISO numbering (Monday = 1). Returns long columns (Cypher
    integers). Raises on a non-component key or a component the
    value's type cannot carry (``date.hour`` — as Neo4j does);
    returns None only for non-temporal dtypes so callers fall through
    to their own error."""
    k = key.lower()
    if isinstance(dt, T.DayTimeIntervalType):
        m = {"days": "DAY", "hours": "HOUR",
             "minutes": "MINUTE", "seconds": "SECOND"}
        if k in m:
            return F.extract(F.lit(m[k]), col).cast("long")
        raise CypherSyntaxError(
            f".{key}: day-time duration components are "
            "days/hours/minutes/seconds"
        )
    if isinstance(dt, T.YearMonthIntervalType):
        m = {"years": "YEAR", "months": "MONTH"}
        if k in m:
            return F.extract(F.lit(m[k]), col).cast("long")
        raise CypherSyntaxError(
            f".{key}: year-month duration components are years/months"
        )
    is_ts = isinstance(dt, (T.TimestampType, T.TimestampNTZType))
    is_date = isinstance(dt, T.DateType)
    if not (is_ts or is_date):
        return None
    date_map = {
        "year": F.year, "quarter": F.quarter, "month": F.month,
        "week": F.weekofyear, "day": F.dayofmonth,
        "ordinalday": F.dayofyear,
    }
    if k in date_map:
        return date_map[k](col).cast("long")
    if k in ("dayofweek", "weekday"):
        return (F.weekday(col) + 1).cast("long")
    if k == "weekyear":
        return F.extract(F.lit("YEAROFWEEK"), col).cast("long")
    if is_ts:
        ts_map = {"hour": F.hour, "minute": F.minute, "second": F.second}
        if k in ts_map:
            return ts_map[k](col).cast("long")
        if k == "millisecond":
            return F.floor(
                (F.unix_micros(col) % 1_000_000) / 1000
            ).cast("long")
        if k == "microsecond":
            return (F.unix_micros(col) % 1_000_000).cast("long")
        if k == "epochseconds":
            return F.unix_seconds(col).cast("long")
        if k == "epochmillis":
            return F.unix_millis(col).cast("long")
    raise CypherSyntaxError(
        f".{key}: not a component of a "
        f"{'timestamp' if is_ts else 'date'} value "
        f"(supported: {_TEMPORAL_KEYS})"
    )


def _plus_dispatch(
    c: _Compile, ea: tuple, eb: tuple, a: Column, b: Column
) -> Column:
    """Neo4j ``+`` is polymorphic: list concatenation (or list+scalar
    append) when either operand is a list, string concatenation when
    either is a string ("a" + 1 = "a1"), numeric addition otherwise.
    Spark columns are monomorphic, so the dispatch resolves STATICALLY
    — from literal / parameter python types, else from the bound
    frame's schema. One subtlety (ADVICE r11): relationship props and
    sidecar-less node props materialize from the ``map<string,string>``
    props store, so a StringType dtype there is NOT evidence of a
    string VALUE — those operands are "unknown" and, when paired with
    a known number, try_cast to the number's family (integral → long,
    fractional → double; an unparseable stored value reads NULL, the
    engine's uniform schemaless-numeric contract). Two unknowns keep
    plain numeric ``+`` — the pre-polymorphic behavior."""
    from pyspark.sql import types as T

    _INTEGRAL = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)

    def dt_kind(dt) -> str:
        if isinstance(dt, T.StringType):
            return "s"
        if isinstance(dt, T.ArrayType):
            return "l"
        return "n"

    def kind(e: tuple, col: Column) -> str:
        v = None
        if e[0] == "lit":
            v = e[1]
        elif e[0] == "param":
            v = _pat_value(e, c.params)
        if isinstance(v, bool):
            return "n"
        if isinstance(v, str):
            return "s"
        if isinstance(v, list):
            return "l"
        if v is not None:
            return "n"
        if e[0] == "prop" and c.kinds.get(e[1]) in ("node", "rel"):
            g = c.graph
            if c.kinds[e[1]] == "node":
                if e[2] in g.nodes.columns:  # typed hot column: schema wins
                    return dt_kind(g.nodes.schema[e[2]].dataType)
                fam = g.prop_type_families().get(e[2])
                if fam in ("long", "double", "boolean"):
                    return "n"
                if fam == "string":
                    return "s"
            return "?"  # map-stored, no type evidence
        # an operand referencing a comprehension lambda variable can
        # NEVER be analyzed standalone — the try/select probe would
        # fail with an UNRESOLVED_COLUMN the JVM logs at ERROR level
        # before Python catches it (two stack traces per query at
        # fleet scale trip log alerting — VERDICT r11 #6). Decide
        # statically instead of probing.
        if c.lambda_vars and _expr_uses_lambda_var(c, e):
            return "lam"  # keep plain numeric + (reduce/transform
            # lambdas must preserve the accumulator/element type)
        if c.cur is not None:
            try:
                return dt_kind(c.cur.select(col).schema[0].dataType)
            except Exception:
                return "?"
        return "?"

    def dtype_of(col: Column):
        if c.cur is None:
            return None
        try:
            return c.cur.select(col).schema[0].dataType
        except Exception:
            return None

    ka, kb = kind(ea, a), kind(eb, b)
    if "l" in (ka, kb):
        # Neo4j appends a non-list operand: [1,2] + 3 = [1,2,3]
        if ka != "l":
            a = F.array(a)
        if kb != "l":
            b = F.array(b)
        return F.concat(a, b)
    if "s" in (ka, kb):
        return F.concat(a.cast("string"), b.cast("string"))
    if ka == "?" and kb == "n":
        dt = dtype_of(b)
        a = a.try_cast("long" if isinstance(dt, _INTEGRAL) else "double")
    elif kb == "?" and ka == "n":
        dt = dtype_of(a)
        b = b.try_cast("long" if isinstance(dt, _INTEGRAL) else "double")
    elif ka == "?" and kb == "?":
        # two map-stored unknowns: the uniform schemaless-numeric
        # contract — try_cast both to double and add (plain ``+`` on
        # the underlying string columns is an ANSI analysis error; a
        # stored non-number reads NULL, as everywhere else). Lambda
        # operands are kind "lam", not "?", so reduce/transform keep
        # the accumulator/element type with plain ``+``.
        a, b = a.try_cast("double"), b.try_cast("double")
    elif ka == "?":
        a = a.try_cast("double")
    elif kb == "?":
        b = b.try_cast("double")
    return a + b


def _to_col(c: _Compile, expr: tuple) -> Column:
    op = expr[0]
    if op == "lit":
        return F.lit(expr[1])
    if op == "param":
        return F.lit(_pat_value(expr, c.params))
    if op == "prop":
        return F.col(c.prop_cols[(expr[1], expr[2])])
    if op == "vprop":
        # value-property access on an arbitrary expression (r13):
        # struct field / map key reads, and the temporal component
        # accessors (date('2024-01-05').year, n.created.dayOfWeek);
        # dispatched on the RESOLVED dtype like isEmpty()/size()
        base, key = expr[1], expr[2]
        col = _to_col(c, base)
        if c.lambda_vars and _expr_uses_lambda_var(c, base):
            raise CypherSyntaxError(
                f".{key}: property access on lambda-variable "
                "expressions is not supported in this subset"
            )
        dt = None
        if c.cur is not None:
            try:
                dt = c.cur.select(col).schema[0].dataType
            except Exception:
                dt = None
        if isinstance(dt, T.StructType):
            # unknown keys read NULL, matching map access (the
            # map-literal subscript contract)
            return col.getField(key) if key in dt.names else F.lit(None)
        if isinstance(dt, T.MapType):
            return col.getItem(key)
        if dt is not None:
            t = _temporal_component(col, key, dt)
            if t is not None:
                return t
        raise CypherSyntaxError(
            f".{key}: expression property access needs a map, struct "
            "or temporal value (got "
            + (dt.simpleString() if dt is not None else "an unresolvable type")
            + ")"
        )
    if op == "var":
        if expr[1] in c.lambda_vars:
            return c.lambda_vars[expr[1]]
        if expr[1] not in c.kinds:
            raise CypherSyntaxError(f"undefined variable {expr[1]!r}")
        if c.kinds[expr[1]] == "pathlen":
            raise CypherSyntaxError(
                f"path variable {expr[1]!r} can only be read through "
                "length() in this subset"
            )
        if c.kinds[expr[1]] == "path":
            raise CypherSyntaxError(
                f"path variable {expr[1]!r} can only be read through "
                "nodes()/relationships()/length() in this subset"
            )
        return F.col(expr[1])
    if op == "and":
        return _to_col(c, expr[1]) & _to_col(c, expr[2])
    if op == "or":
        return _to_col(c, expr[1]) | _to_col(c, expr[2])
    if op == "not":
        return ~_to_col(c, expr[1])
    if op == "cmp":
        a, b = _to_col(c, expr[2]), _to_col(c, expr[3])
        return {
            "=": a == b, "<>": a != b, "<": a < b,
            "<=": a <= b, ">": a > b, ">=": a >= b,
        }[expr[1]]
    if op == "xor":
        # boolean inequality; NULL-propagating like Neo4j's xor.
        # Non-boolean operands are a TYPE ERROR in Neo4j (1 XOR 2
        # must not silently evaluate as integer inequality — ADVICE
        # r12): raise on statically-known non-booleans, and when a
        # resolved column's dtype is known-non-boolean. Unknown-typed
        # operands (map-stored props) cast to boolean so a stored
        # 'true'/'false' works and anything else reads NULL.
        cols = []
        for e in (expr[1], expr[2]):
            col = _to_col(c, e)
            v = e[1] if e[0] == "lit" else (
                _pat_value(e, c.params) if e[0] == "param" else None
            )
            if v is not None and not isinstance(v, bool):
                raise CypherSyntaxError(
                    f"XOR operands must be booleans; got {v!r}"
                )
            if (
                v is None
                and c.cur is not None
                and not (c.lambda_vars and _expr_uses_lambda_var(c, e))
            ):
                try:
                    dt = c.cur.select(col).schema[0].dataType
                except Exception:
                    dt = None
                if isinstance(dt, T.BooleanType):
                    pass
                elif isinstance(dt, T.StringType):
                    col = col.cast("boolean")  # map-stored prop
                elif dt is not None and not isinstance(dt, T.NullType):
                    raise CypherSyntaxError(
                        "XOR operands must be booleans; got a "
                        f"{dt.simpleString()} expression"
                    )
            cols.append(col)
        return cols[0] != cols[1]
    if op == "isnull":
        col = _to_col(c, expr[1])
        return col.isNotNull() if expr[2] else col.isNull()
    if op == "in_expr":
        return F.array_contains(_to_col(c, expr[2]), _to_col(c, expr[1]))
    if op == "in":
        vals = []
        for v in expr[2]:
            rv = _pat_value(v, c.params)
            if isinstance(rv, (list, tuple)):
                vals.extend(rv)  # IN $list_param
            else:
                vals.append(rv)
        return _to_col(c, expr[1]).isin(vals)
    if op == "regex":
        # Cypher =~ is a FULL-string match (Java matches()); Spark
        # rlike is substring search, so anchor the pattern
        pat = expr[2]
        if pat[0] not in ("lit", "param"):
            raise CypherSyntaxError(
                "=~ needs a literal or $parameter regex on the right"
            )
        rx = _pat_value(pat, c.params)
        if not isinstance(rx, str):
            raise CypherSyntaxError("=~ pattern must be a string")
        return _to_col(c, expr[1]).rlike(f"^(?:{rx})$")
    if op == "startswith":
        return _to_col(c, expr[1]).startswith(_to_col(c, expr[2]))
    if op == "endswith":
        return _to_col(c, expr[1]).endswith(_to_col(c, expr[2]))
    if op == "contains":
        return _to_col(c, expr[1]).contains(_to_col(c, expr[2]))
    if op == "arith":
        a, b = _to_col(c, expr[2]), _to_col(c, expr[3])
        if expr[1] == "+":
            return _plus_dispatch(c, expr[2], expr[3], a, b)
        return {"-": a - b, "*": a * b, "/": a / b, "%": a % b}[expr[1]]
    if op == "neg":
        return -_to_col(c, expr[1])
    if op == "index":
        base_e = expr[1]
        if (
            base_e[0] == "var"
            and (base_e[1], "__dynprops__") in c.prop_cols
            and c.kinds.get(base_e[1]) in ("node", "rel")
        ):
            # n[key] / r[key]: dynamic property access through the
            # full (hot-columns-merged) property map
            m = F.col(c.prop_cols[(base_e[1], "__dynprops__")])
            return F.try_element_at(m, _to_col(c, expr[2]).cast("string"))
        base, i = _to_col(c, expr[1]), _to_col(c, expr[2])
        key = expr[2]
        if key[0] == "lit" and isinstance(key[1], str):
            # map literals compile to structs (heterogeneous value
            # types), so a literal string key on one is getField;
            # unknown keys read null as on maps
            if base_e[0] == "maplit":
                fields = {k for k, _ in base_e[1]}
                if key[1] not in fields:
                    return F.lit(None)
                return base.getField(key[1])
            # map / dynamic-property access by string key
            return F.try_element_at(base, i)
        # Neo4j lists are 0-based, negatives count from the end;
        # try_element_at is 1-based with the same negative convention
        adj = F.when(i >= 0, i + 1).otherwise(i).cast("int")
        return F.try_element_at(base, adj)
    if op == "slice":
        base = _to_col(c, expr[1])
        n = F.size(base)

        def norm(e, default):
            if e is None:
                return default
            i = _to_col(c, e).cast("int")
            return F.when(i < 0, F.greatest(n + i, F.lit(0))).otherwise(
                F.least(i, n)
            )

        lo = norm(expr[2], F.lit(0))
        hi = norm(expr[3], n)
        # half-open [lo, hi): 1-based start, clamped non-negative length
        return F.slice(base, lo + 1, F.greatest(hi - lo, F.lit(0)))
    if op == "listlit":
        return F.array(*[_to_col(c, e) for e in expr[1]])
    if op == "maplit":
        return F.struct(
            *[_to_col(c, e).alias(k) for k, e in expr[1]]
        )
    if op == "mapproj":
        # map projection n {.k, .*, key: expr} -> map<string,string>
        # (values stringified — the properties() storage convention)
        var, entries = expr[1], expr[2]
        explicit: list[str] = []
        pairs: list[Column] = []
        want_all = False
        for ent in entries:
            if ent[0] == "all":
                want_all = True
                continue
            if ent[0] == "pk":
                key, val = ent[1], F.col(c.prop_cols[(var, ent[1])])
            else:  # ("kv", key, expr)
                key, val = ent[1], _to_col(c, ent[2])
            if key in explicit:
                raise CypherSyntaxError(
                    f"duplicate key {key!r} in map projection"
                )
            explicit.append(key)
            pairs.extend([F.lit(key), val.cast("string")])
        own = (
            F.create_map(*pairs)
            if pairs
            else F.create_map().cast("map<string,string>")
        )
        if not want_all:
            return own
        base = F.col(c.prop_cols[(var, "__props__")])
        if explicit:  # explicit entries win over the .* spread
            base = F.map_filter(base, lambda k, _: ~k.isin(explicit))
        return F.map_concat(base, own)
    if op == "listcomp":
        _, var, lst, cond, mape = expr
        col = _to_col(c, lst)
        if cond is not None:
            col = F.filter(col, _lambda_body(c, var, cond))
        if mape is not None:
            col = F.transform(col, _lambda_body(c, var, mape))
        return col
    if op == "listpred":
        _, fn, var, lst, cond = expr
        col = _to_col(c, lst)
        lam = _lambda_body(c, var, cond)
        if fn == "any":
            return F.exists(col, lam)
        if fn == "all":
            return F.forall(col, lam)
        if fn == "none":
            return ~F.exists(col, lam)
        return F.size(F.filter(col, lam)) == F.lit(1)  # single
    if op == "reduce":
        _, acc, init, var, lst, body = expr

        def merge(a: Column, x: Column) -> Column:
            saved = {}
            for name, colv in ((acc, a), (var, x)):
                saved[name] = (name in c.lambda_vars, c.lambda_vars.get(name))
                c.lambda_vars[name] = colv
            try:
                return _to_col(c, body)
            finally:
                for name, (had, old) in saved.items():
                    if had:
                        c.lambda_vars[name] = old
                    else:
                        c.lambda_vars.pop(name, None)

        # F.aggregate needs init and merge-result types to agree —
        # Cypher integers are 64-bit, so an integer init widens to
        # long up front (otherwise INT init vs BIGINT merge mismatches)
        initc = _to_col(c, init)
        if init[0] in ("lit", "param"):
            v = init[1] if init[0] == "lit" else _pat_value(init, c.params)
            if isinstance(v, int) and not isinstance(v, bool):
                initc = initc.cast("long")
        return F.aggregate(_to_col(c, lst), initc, merge)
    if op == "case":
        operand, whens, default = expr[1], expr[2], expr[3]
        out = None
        for cond, val in whens:
            test = (
                _to_col(c, cond)
                if operand is None
                else _to_col(c, operand) == _to_col(c, cond)
            )
            out = F.when(test, _to_col(c, val)) if out is None else out.when(
                test, _to_col(c, val)
            )
        return out if default is None else out.otherwise(_to_col(c, default))
    if op == "call":
        if expr[1] in _AGG_FUNCS:
            raise CypherSyntaxError(
                f"aggregate {expr[1]}() is only allowed in RETURN/WITH items"
            )
        return _scalar_call(c, expr[1], expr[2], lambda e: _to_col(c, e))
    if op in ("exists_pat", "exists_sub", "count_sub", "collect_sub"):
        raise CypherSyntaxError(
            "pattern predicates and EXISTS{}/COUNT{}/COLLECT{} subqueries "
            "are not supported in this clause position"
        )
    raise CypherSyntaxError(f"unsupported expression {op!r}")


def _has_agg(expr) -> bool:
    if isinstance(expr, list):
        return any(_has_agg(e) for e in expr)
    if not isinstance(expr, tuple) or not expr:
        return False
    if isinstance(expr[0], str):
        if expr[0] == "call" and expr[1] in _AGG_FUNCS:
            return True
        parts = expr[1:]
    else:
        parts = expr
    return any(_has_agg(p) for p in parts)


def _scalar_call(c: _Compile, fn: str, args: list, rec) -> Column:
    """Cypher scalar functions -> built-in Spark expressions (JVM-side,
    codegen'd — never Python). ``rec`` compiles argument expressions
    (``_to_col``, or ``_agg_col`` when the argument carries an
    aggregate, e.g. ``round(avg(x))``)."""
    def need(n):
        if len(args) != n:
            raise CypherSyntaxError(f"{fn}() takes {n} argument(s), got {len(args)}")

    if fn == "id":
        need(1)
        if args[0][0] != "var":
            raise CypherSyntaxError("id() takes a node or relationship variable")
        return rec(args[0])
    if fn == "elementid":
        # Neo4j 5 string ids; ours stringify the numeric id
        need(1)
        if args[0][0] != "var":
            raise CypherSyntaxError(
                "elementId() takes a node or relationship variable"
            )
        return rec(args[0]).cast("string")
    if fn == "timestamp":
        need(0)
        return F.unix_millis(F.current_timestamp())
    if fn == "randomuuid":
        need(0)
        return F.expr("uuid()")
    if fn == "nullif":
        need(2)
        a, b = rec(args[0]), rec(args[1])
        return F.when(a == b, F.lit(None)).otherwise(a)
    if fn == "isempty":
        # lists/maps by size, strings by length — Neo4j's overloads;
        # stringness resolves statically: literal/param python type,
        # else the RESOLVED column's dtype probed against the bound
        # frame (ADVICE r12: ``isEmpty(n.stringProp)`` must route to
        # length(), not die in F.size()'s analysis). Lambda-variable
        # operands skip the probe (it would ERROR-log JVM-side,
        # VERDICT r11 #6) and keep the size() default. Map-stored
        # rel/node props materialize as string columns, so they read
        # through length() — the string overload, matching how the
        # value is physically stored. A statically-known non-(string/
        # list/map) operand is a type error, as in Neo4j.
        need(1)
        col = rec(args[0])
        e = args[0]
        if e[0] == "lit" and e[1] is None:
            return F.lit(None).cast("boolean")  # isEmpty(null) -> null
        v = e[1] if e[0] == "lit" else (
            _pat_value(e, c.params) if e[0] == "param" else None
        )
        if isinstance(v, str):
            return F.length(col) == 0
        if isinstance(v, (list, tuple, dict)):
            return F.size(col) == 0
        if v is not None:
            raise CypherSyntaxError(
                "isEmpty() takes a string, list or map; got "
                f"{type(v).__name__}"
            )
        if (
            c.cur is not None
            and not (c.lambda_vars and _expr_uses_lambda_var(c, e))
        ):
            try:
                dt = c.cur.select(col).schema[0].dataType
            except Exception:
                dt = None
            if isinstance(dt, T.StringType):
                return F.length(col) == 0
            if isinstance(dt, (T.ArrayType, T.MapType)):
                return F.size(col) == 0
            if dt is not None and not isinstance(dt, T.NullType):
                raise CypherSyntaxError(
                    "isEmpty() takes a string, list or map; got a "
                    f"{dt.simpleString()} expression"
                )
        return F.size(col) == 0
    if fn == "length":
        need(1)
        a = args[0]
        # length(p) over a shortestPath variable reads the hop count;
        # over a named path it is the (constant) relationship count;
        # anything else is string length (Cypher's legacy meaning)
        if a[0] == "var" and c.kinds.get(a[1]) == "pathlen":
            return _qcol(a[1])
        if a[0] == "var" and c.kinds.get(a[1]) == "path":
            return F.lit(len(c.paths[a[1]][1])).cast("long")
        return F.length(rec(a))
    if fn in ("nodes", "relationships"):
        need(1)
        a = args[0]
        if a[0] != "var" or c.kinds.get(a[1]) != "path":
            if a[0] == "var" and c.kinds.get(a[1]) == "pathlen":
                raise CypherSyntaxError(
                    f"{fn}() over a shortestPath variable is not "
                    "supported in this subset (length(p) is the only "
                    "shortestPath observation)"
                )
            raise CypherSyntaxError(f"{fn}() takes a named path variable")
        node_vars, rel_vars = c.paths[a[1]]
        cols = node_vars if fn == "nodes" else rel_vars
        return F.array(*[_qcol(v) for v in cols])
    if fn in ("labels", "type"):
        need(1)
        a = args[0]
        if a[0] != "var":
            raise CypherSyntaxError(f"{fn}() takes a bound variable")
        pseudo = "__labels__" if fn == "labels" else "__type__"
        return F.col(c.prop_cols[(a[1], pseudo)])
    if fn in ("startnode", "endnode"):
        need(1)
        a = args[0]
        if a[0] != "var":
            raise CypherSyntaxError(f"{fn}() takes a relationship variable")
        pseudo = "__src__" if fn == "startnode" else "__dst__"
        # a node "is" its id in this compiler, so startNode(r) aligns
        # with id(n) of the corresponding endpoint variable
        return F.col(c.prop_cols[(a[1], pseudo)])
    if fn in ("properties", "keys"):
        need(1)
        a = args[0]
        if a[0] != "var":
            raise CypherSyntaxError(f"{fn}() takes a bound variable")
        col = F.col(c.prop_cols[(a[1], "__props__")])
        # keys() sorted for a deterministic answer (Cypher leaves the
        # order unspecified)
        return F.array_sort(F.map_keys(col)) if fn == "keys" else col
    if fn == "coalesce":
        if not args:
            raise CypherSyntaxError("coalesce() needs at least one argument")
        return F.coalesce(*[rec(a) for a in args])
    if fn == "size":
        need(1)
        col = rec(args[0])
        # lists -> size, strings -> length: pick by the resolved dtype
        # when the argument is a materialized column, default to size
        name = None
        if args[0][0] == "prop":
            name = c.prop_cols.get((args[0][1], args[0][2]))
        elif args[0][0] == "var":
            name = args[0][1]
        if name is not None and c.cur is not None:
            try:
                dt = c.cur.schema[name].dataType.typeName()
            except KeyError:
                dt = None
            if dt == "string":
                return F.length(col)
        return F.size(col)
    if fn == "substring":
        if len(args) not in (2, 3):
            raise CypherSyntaxError("substring() takes 2 or 3 arguments")
        s = rec(args[0])
        start = rec(args[1]) + F.lit(1)  # Cypher is 0-indexed
        if len(args) == 3:
            return s.substr(start, rec(args[2]))
        return s.substr(start, F.length(s))
    if fn == "date":
        need(1)
        return rec(args[0]).try_cast("date")
    if fn == "duration":
        # duration('P1DT2H') ISO-8601 literal or duration({days: 1,
        # hours: 2}) literal map -> make_interval; folds driver-side
        # so date/datetime + duration is native interval arithmetic
        need(1)
        e = args[0]
        parts = dict.fromkeys(
            ("years", "months", "weeks", "days", "hours",
             "minutes", "seconds"), 0.0
        )
        if e[0] == "lit" and isinstance(e[1], str):
            m = re.fullmatch(
                r"P(?:(\d+(?:\.\d+)?)Y)?(?:(\d+(?:\.\d+)?)M)?"
                r"(?:(\d+(?:\.\d+)?)W)?(?:(\d+(?:\.\d+)?)D)?"
                r"(?:T(?:(\d+(?:\.\d+)?)H)?(?:(\d+(?:\.\d+)?)M)?"
                r"(?:(\d+(?:\.\d+)?)S)?)?",
                e[1],
            )
            if m is None or e[1] == "P":
                raise CypherSyntaxError(
                    f"duration(): invalid ISO-8601 duration {e[1]!r}"
                )
            for k, v in zip(
                ("years", "months", "weeks", "days",
                 "hours", "minutes", "seconds"),
                m.groups(),
            ):
                if v is not None:
                    parts[k] = float(v)
        elif e[0] == "maplit":
            for k, ve in e[1]:
                if k not in parts:
                    raise CypherSyntaxError(
                        f"duration(): unknown component {k!r}"
                    )
                if ve[0] != "lit":
                    raise CypherSyntaxError(
                        "duration() map components must be literals"
                    )
                parts[k] = float(ve[1])
        else:
            raise CypherSyntaxError(
                "duration() takes an ISO-8601 string literal or a "
                "literal component map"
            )
        # Fractional components spill into smaller units, as Neo4j's
        # DurationValue does (ADVICE r12: int() was silently dropping
        # them — duration('P0.5D') read as a ZERO interval). Exact
        # ratios cascade fractions downward (years->months x12,
        # weeks->days x7, days->hours x24, ... ->seconds); a
        # fractional MONTH converts at Neo4j's average-month constant
        # (TemporalUtil.AVG_SECONDS_PER_MONTH = 2629746 s, the mean
        # Gregorian month 365.2425/12 d), the one calendar-ambiguous
        # ratio — so duration('P0.5M') is 15d 5h 14m 33s, matching
        # Neo4j, instead of silently zero. Whole-month / whole-day
        # parts stay CALENDAR units in make_interval (date + P1M is
        # next month, not +30.44 d).
        months_t = parts["years"] * 12.0 + parts["months"]
        months_w = int(months_t)
        days_t = (
            parts["weeks"] * 7.0 + parts["days"]
            + (months_t - months_w) * (2629746.0 / 86400.0)
        )
        days_w = int(days_t)
        secs = (
            (days_t - days_w) * 86400.0
            + parts["hours"] * 3600.0
            + parts["minutes"] * 60.0
            + parts["seconds"]
        )
        return F.make_interval(
            F.lit(0), F.lit(months_w), F.lit(0), F.lit(days_w),
            F.lit(0), F.lit(0),
            F.lit(round(secs, 9)),
        )
    if fn in ("datetime", "localdatetime"):
        need(1)
        return rec(args[0]).try_cast("timestamp")
    if fn == "duration.between":
        # elapsed time a -> b as a day-time interval (observed via
        # the .days/.hours/.minutes/.seconds component accessors).
        # DOCUMENTED DIVERGENCE: Neo4j's duration.between normalizes
        # whole calendar months into the months component; a day-time
        # interval has no months, so this is Neo4j's
        # duration.inSeconds normalization carried up to days — use
        # duration.inMonths for the calendar-month view.
        need(2)
        return rec(args[1]).cast("timestamp") - rec(args[0]).cast("timestamp")
    if fn in ("duration.inseconds", "duration.indays"):
        need(2)
        return rec(args[1]).cast("timestamp") - rec(args[0]).cast("timestamp")
    if fn == "duration.inmonths":
        # whole calendar months a -> b as a year-month interval
        # (months_between handles month-end clamping; truncation
        # toward zero matches Neo4j)
        need(2)
        months = F.floor(
            F.months_between(
                rec(args[1]).cast("timestamp"), rec(args[0]).cast("timestamp")
            )
        ).cast("int")
        return F.make_ym_interval(F.lit(0), months)
    if fn in ("date.truncate", "datetime.truncate"):
        need(2)
        if args[0][0] != "lit" or not isinstance(args[0][1], str):
            raise CypherSyntaxError(f"{fn}() needs a literal unit string")
        unit = args[0][1].lower()
        if fn == "date.truncate":
            if unit not in ("year", "quarter", "month", "week"):
                raise CypherSyntaxError(
                    "date.truncate() units: year/quarter/month/week "
                    "(a date cannot truncate below days)"
                )
            return F.trunc(rec(args[1]).cast("date"), unit)
        if unit not in (
            "year", "quarter", "month", "week", "day",
            "hour", "minute", "second",
        ):
            raise CypherSyntaxError(
                "datetime.truncate() units: year/quarter/month/week/"
                "day/hour/minute/second"
            )
        return F.date_trunc(unit, rec(args[1]).cast("timestamp"))
    if fn == "point":
        # spatial point constructor (r13): {x, y [, z]} cartesian /
        # {latitude, longitude [, height]} geographic -> a uniform
        # 8-field struct (absent dimensions NULL) so the component
        # accessors (p.x, p.latitude, p.srid, p.crs) are plain
        # getField reads under the vprop contract. Neo4j srids:
        # cartesian 7203 / -3d 9157, wgs-84 4326 / -3d 4979.
        need(1)
        if args[0][0] != "maplit":
            raise CypherSyntaxError(
                "point() takes a map literal: {x, y [, z]} or "
                "{latitude, longitude [, height]}"
            )
        kv = {k.lower(): rec(e) for k, e in args[0][1]}
        extra = set(kv) - {
            "x", "y", "z", "latitude", "longitude", "height", "crs",
            "srid",
        }
        if extra:
            raise CypherSyntaxError(
                f"point(): unknown keys {sorted(extra)}"
            )
        geo = "latitude" in kv or "longitude" in kv
        if geo:
            if not ("latitude" in kv and "longitude" in kv):
                raise CypherSyntaxError(
                    "point(): geographic points need both latitude "
                    "and longitude"
                )
            if "x" in kv or "y" in kv or "z" in kv:
                raise CypherSyntaxError(
                    "point(): mix of cartesian and geographic keys"
                )
            three = "height" in kv
            srid = 4979 if three else 4326
            crs = "wgs-84-3d" if three else "wgs-84"
            x, y = kv["longitude"], kv["latitude"]
            z = kv["height"] if three else F.lit(None)
            lat, lon, hgt = kv["latitude"], kv["longitude"], z
        else:
            if not ("x" in kv and "y" in kv):
                raise CypherSyntaxError(
                    "point(): cartesian points need both x and y"
                )
            three = "z" in kv
            srid = 9157 if three else 7203
            crs = "cartesian-3d" if three else "cartesian"
            x, y = kv["x"], kv["y"]
            z = kv["z"] if three else F.lit(None)
            lat = lon = hgt = F.lit(None)
        return F.struct(
            x.cast("double").alias("x"),
            y.cast("double").alias("y"),
            z.cast("double").alias("z"),
            lat.cast("double").alias("latitude"),
            lon.cast("double").alias("longitude"),
            hgt.cast("double").alias("height"),
            F.lit(srid).cast("long").alias("srid"),
            F.lit(crs).alias("crs"),
        )
    if fn in ("point.distance", "distance"):
        # cartesian: euclidean; geographic: haversine on a sphere of
        # radius 6378140.0 m (Neo4j's GeographicCalculator constant),
        # 3d geographic adds the height delta pythagorean-style —
        # Neo4j semantics incl. NULL for mixed-CRS pairs.
        need(2)
        pa, pb = rec(args[0]), rec(args[1])
        dx = pa.getField("x") - pb.getField("x")
        dy = pa.getField("y") - pb.getField("y")
        dz = F.coalesce(
            pa.getField("z") - pb.getField("z"), F.lit(0.0)
        )
        cart = F.sqrt(dx * dx + dy * dy + dz * dz)
        la1 = F.radians(pa.getField("latitude"))
        la2 = F.radians(pb.getField("latitude"))
        dla = (la2 - la1) / 2
        dlo = (
            F.radians(pb.getField("longitude"))
            - F.radians(pa.getField("longitude"))
        ) / 2
        hav = (
            F.sin(dla) * F.sin(dla)
            + F.cos(la1) * F.cos(la2) * F.sin(dlo) * F.sin(dlo)
        )
        arc = 2 * F.lit(6378140.0) * F.asin(F.sqrt(hav))
        dh = F.coalesce(
            pa.getField("height") - pb.getField("height"), F.lit(0.0)
        )
        geo = F.sqrt(arc * arc + dh * dh)
        srid = pa.getField("srid")
        return (
            F.when(srid != pb.getField("srid"), F.lit(None))
            .when(srid.isin(7203, 9157), cart)
            .otherwise(geo)
        )
    if fn == "point.withinbbox":
        # 2d x/y containment (z/height ignored, as Neo4j); geographic
        # boxes with lowerLeft.x > upperRight.x wrap the antimeridian
        need(3)
        p, ll, ur = rec(args[0]), rec(args[1]), rec(args[2])
        x, y = p.getField("x"), p.getField("y")
        lx, ux = ll.getField("x"), ur.getField("x")
        in_y = (y >= ll.getField("y")) & (y <= ur.getField("y"))
        plain_x = (x >= lx) & (x <= ux)
        wrap_x = (x >= lx) | (x <= ux)
        srid = p.getField("srid")
        geo_srid = srid.isin(4326, 4979)
        in_x = F.when(geo_srid & (lx > ux), wrap_x).otherwise(plain_x)
        return (
            F.when(
                (srid != ll.getField("srid"))
                | (srid != ur.getField("srid")),
                F.lit(None),
            )
            .otherwise(in_x & in_y)
        )
    if fn == "range":
        if len(args) not in (2, 3):
            raise CypherSyntaxError("range() takes 2 or 3 arguments")
        step = rec(args[2]) if len(args) == 3 else F.lit(1)
        return F.sequence(
            rec(args[0]).cast("long"),
            rec(args[1]).cast("long"),
            step.cast("long"),
        )
    if fn == "split":
        need(2)
        if args[1][0] == "lit":
            return F.split(rec(args[0]), re.escape(str(args[1][1])))
        raise CypherSyntaxError("split() needs a literal delimiter")
    if fn == "replace":
        need(3)
        return F.replace(rec(args[0]), rec(args[1]), rec(args[2]))
    if fn == "round":
        if len(args) not in (1, 2):
            raise CypherSyntaxError("round() takes 1 or 2 arguments")
        if len(args) == 2:
            if args[1][0] != "lit":
                raise CypherSyntaxError("round() precision must be a literal")
            return F.round(rec(args[0]), int(args[1][1]))
        return F.round(rec(args[0]))
    if fn in ("left", "right"):
        need(2)
        s = rec(args[0])
        n = rec(args[1]).cast("int")
        return F.left(s, n) if fn == "left" else F.right(s, n)
    if fn == "atan2":
        need(2)
        return F.atan2(rec(args[0]), rec(args[1]))
    if fn == "pi":
        need(0)
        return F.lit(3.141592653589793)
    if fn == "e":
        need(0)
        return F.lit(2.718281828459045)
    one_arg = {
        "exp": F.exp,
        "log": F.log,
        "log10": F.log10,
        "sin": F.sin,
        "cos": F.cos,
        "tan": F.tan,
        "asin": F.asin,
        "acos": F.acos,
        "atan": F.atan,
        "degrees": F.degrees,
        "radians": F.radians,
        "toupper": F.upper,
        "tolower": F.lower,
        "trim": F.trim,
        "ltrim": F.ltrim,
        "rtrim": F.rtrim,
        "abs": F.abs,
        "floor": lambda x: F.floor(x).cast("double"),
        "ceil": lambda x: F.ceil(x).cast("double"),
        "sqrt": F.sqrt,
        "sign": lambda x: F.signum(x).cast("long"),
        # try_cast: Neo4j's converters return null on unparseable
        # input; a plain cast raises under Spark 4 ANSI defaults
        "tointeger": lambda x: x.try_cast("long"),
        "tofloat": lambda x: x.try_cast("double"),
        "tostring": lambda x: x.cast("string"),
        "toboolean": lambda x: x.try_cast("boolean"),
        # try_element_at: head/last of an EMPTY list is null in
        # Neo4j; element_at raises INVALID_ARRAY_INDEX under ANSI
        "head": lambda x: F.try_element_at(x, F.lit(1)),
        "last": lambda x: F.try_element_at(x, F.lit(-1)),
        "reverse": F.reverse,
    }
    if fn in one_arg:
        need(1)
        return one_arg[fn](rec(args[0]))
    raise CypherSyntaxError(f"unknown function {fn}()")


def _agg_col(c: _Compile, expr: tuple) -> Column:
    """A RETURN item expression containing aggregates -> agg Column."""
    op = expr[0]
    if op == "call":
        fn, args, distinct = expr[1], expr[2], expr[3]
        if fn not in _AGG_FUNCS:
            # scalar over aggregate(s): round(avg(x)) etc.
            return _scalar_call(c, fn, args, lambda e: _agg_col(c, e))
        if fn in ("percentilecont", "percentiledisc"):
            if len(args) != 2 or args[1][0] != "lit":
                raise CypherSyntaxError(
                    f"{fn}() takes a value and a literal percentile"
                )
            if distinct:
                raise CypherSyntaxError(f"DISTINCT inside {fn}() is not supported")
            col = _to_col(c, args[0])
            p = float(args[1][1])
            if fn == "percentilecont":
                return F.percentile(col, F.lit(p))
            # percentileDisc: the smallest value whose cumulative
            # frequency reaches p — exact, via a sorted per-group
            # array (memory bounded by the group size, the same
            # contract as collect())
            arr = F.array_sort(F.collect_list(col))
            idx = F.greatest(
                F.ceil(F.lit(p) * F.size(arr)).cast("int"), F.lit(1)
            )
            # try_element_at: an all-NULL group collects to an
            # empty array — percentileDisc is null there (Neo4j),
            # not an ANSI INVALID_ARRAY_INDEX error
            return F.try_element_at(arr, idx)
        if len(args) != 1:
            raise CypherSyntaxError(f"{fn}() takes exactly one argument")
        arg = args[0]
        if arg[0] == "star":
            if fn != "count":
                raise CypherSyntaxError(f"{fn}(*) is not valid")
            return F.count(F.lit(1))
        inner = _to_col(c, arg)
        if fn == "count":
            return F.count_distinct(inner) if distinct else F.count(inner)
        if fn == "collect" and distinct:
            # sorted for a deterministic answer (Cypher leaves the
            # order unspecified)
            return F.array_sort(F.collect_set(inner))
        if distinct:
            raise CypherSyntaxError(f"DISTINCT inside {fn}() is not supported")
        if fn == "sum":
            # Neo4j: sum() over zero rows / all-NULL values is 0, not
            # SQL NULL (the correlated-CALL path already fills 0 for
            # empty invocations — this aligns the main projection;
            # coalesce coerces the 0 to the sum's own numeric type)
            return F.coalesce(F.sum(inner), F.lit(0))
        return {
            "avg": F.avg, "min": F.min, "max": F.max,
            "collect": F.collect_list,
            "stdev": F.stddev_samp, "stdevp": F.stddev_pop,
        }[fn](inner)
    if op == "arith":
        return {
            "+": lambda a, b: a + b, "-": lambda a, b: a - b,
            "*": lambda a, b: a * b, "/": lambda a, b: a / b,
            "%": lambda a, b: a % b,
        }[expr[1]](_agg_col(c, expr[2]), _agg_col(c, expr[3]))
    if op == "neg":
        return -_agg_col(c, expr[1])
    if _has_agg(expr):
        raise CypherSyntaxError(f"unsupported aggregate expression {op!r}")
    return _to_col(c, expr)


def _apply_rel_uniqueness(c: _Compile) -> None:
    """Cypher relationship uniqueness (edge isomorphism): no single
    relationship may appear twice in one MATCH clause. Pairwise != on
    the edge-id columns, skipping pairs whose type restrictions cannot
    overlap (the predicate would be vacuously true). Variable-length
    segments are NOT covered (documented subset limit: their
    expansion dedups (src, dst) pairs, not edge multisets). Scoped
    per MATCH / OPTIONAL MATCH clause, as in Cypher — each clause's
    compiler consumes its own ``rel_cols``."""
    for i in range(len(c.rel_cols)):
        for j in range(i + 1, len(c.rel_cols)):
            ci, ti = c.rel_cols[i]
            cj, tj = c.rel_cols[j]
            if ti and tj and not (ti & tj):
                continue
            c.cur = c.cur.filter(F.col(ci) != F.col(cj))
    c.rel_cols.clear()


def _pattern_vars(pats: list) -> list:
    out = []
    for p in pats:
        if isinstance(p, (ShortestPat, NamedPath)):
            out.extend(_pattern_vars([p.pattern]))
            out.append(p.path_var)
            continue
        for n in p.nodes:
            if n.var is not None:
                out.append(n.var)
        for r in p.rels:
            if r.var is not None:
                out.append(r.var)
    return out


def _keyed_compile(c: _Compile, shared: list, allow_cartesian: bool) -> _Compile:
    """The state a correlated block (OPTIONAL MATCH, EXISTS/COUNT/
    COLLECT, CALL) compiles in: the DISTINCT values of its ``shared``
    variables, with the scan columns they carry (functions of the
    key, so deduplicating on the key alone keeps them)."""
    c2 = _Compile(
        c.graph, allow_cartesian=allow_cartesian, params=c.params, reads=c.reads
    )
    c2.anon = c.anon
    c2.kinds = {v: c.kinds[v] for v in shared}
    if shared:
        c2.prop_cols = {k: col for k, col in c.prop_cols.items() if k[0] in shared}
        c2.cur = c.cur.select(*shared, *c2.prop_cols.values()).dropDuplicates(
            shared
        )
    return c2


def _bind_optional_match(c: _Compile, pats: list, where: tuple | None) -> None:
    """OPTIONAL MATCH = compile the block against the distinct values
    of its shared variables, then LEFT-join it back: unmatched rows
    keep their mandatory columns and take NULL for every
    block-introduced variable (Neo4j semantics; the block-local WHERE
    filters INSIDE the match, before the left join)."""
    if any(isinstance(p, NamedPath) for p in pats):
        raise CypherSyntaxError(
            "named paths are not supported inside OPTIONAL MATCH in "
            "this subset"
        )
    is_sp = any(isinstance(p, ShortestPat) for p in pats)
    if is_sp and len(pats) != 1:
        raise CypherSyntaxError(
            "shortestPath inside OPTIONAL MATCH must be the only "
            "pattern of the clause in this subset"
        )
    inline = _hoist_inline_where(c, pats) if not is_sp else None
    if inline is not None:
        where = inline if where is None else ("and", where, inline)
    shared = [v for v in dict.fromkeys(_pattern_vars(pats)) if v in c.kinds]
    if not shared:
        raise CypherSyntaxError(
            "OPTIONAL MATCH must share at least one variable with a "
            "previous MATCH in this subset"
        )
    c2 = _keyed_compile(c, shared, c.allow_cartesian)
    if is_sp:
        # OPTIONAL reachability: run the BFS over the distinct shared
        # origins, then LEFT-join — unreached rows keep NULL for the
        # path length and the far endpoint (Neo4j: p is null)
        _bind_shortest(c2, pats[0])
    else:
        for pat in pats:
            prev = _bind_node(c2, pat.nodes[0])
            for rel, nxt_pat in zip(pat.rels, pat.nodes[1:]):
                prev = _bind_rel(c2, rel, prev, nxt_pat)
        _apply_rel_uniqueness(c2)
    if where is not None:
        pre_kinds = set(c2.kinds)
        where = _rewrite_subqueries(c2, where)
        block_props: set = set()
        _collect_props(where, block_props)
        _materialize_props(c2, block_props)
        c2.cur = c2.cur.filter(_to_col(c2, where))
        for extra in set(c2.kinds) - pre_kinds:  # subquery count columns
            c2.cur = c2.cur.drop(extra)
            del c2.kinds[extra]
    c.anon = c2.anon
    new_vars = [v for v in c2.kinds if v not in c.kinds]
    c.kinds.update({v: c2.kinds[v] for v in new_vars})
    # the block's scan columns ride the left join (null when unmatched)
    new_props = {k: col for k, col in c2.prop_cols.items() if k[0] in new_vars}
    c.prop_cols.update(new_props)
    c.cur = c.cur.join(
        c2.cur.select(*shared, *new_vars, *new_props.values()),
        on=shared,
        how="left",
    )


def _apply_projection(c: _Compile, proj: Projection) -> tuple:
    """Compile a WITH/RETURN body against the current frame; returns
    ``(out, names)``."""
    if c.cur is None:  # leading WITH/RETURN: one unit row (Neo4j)
        c.cur = c.graph.spark.range(1).select(F.lit(1).alias("__one"))
    if proj.star:
        # RETURN * / WITH *: every user-named bound variable, in
        # declaration order, ahead of any extra items
        star_items = []
        for v, kind in c.kinds.items():
            if v.startswith("__"):
                continue  # compiler-internal columns
            if kind in ("path", "pathlen"):
                raise CypherSyntaxError(
                    f"RETURN */WITH * with a bound path variable ({v!r}) "
                    "is not supported — name the items explicitly"
                )
            star_items.append(ReturnItem(("var", v), None, v))
        if not star_items:
            raise CypherSyntaxError(
                "RETURN */WITH *: no variables in scope"
            )
        proj.items[:] = star_items + proj.items
        proj.star = False  # expanded exactly once
    # EXISTS{}/COUNT{} items join their match-count columns in first
    for it in proj.items:
        it.expr = _rewrite_subqueries(c, it.expr)
    proj.order[:] = [
        (_rewrite_subqueries(c, e), t, a) for e, t, a in proj.order
    ]
    needed: set = set()
    for it in proj.items:
        _collect_props(it.expr, needed)
    for e, _, _ in proj.order:
        _collect_props(e, needed)
    _materialize_props(c, needed)

    names = []
    for it in proj.items:
        if it.alias is not None:
            names.append(it.alias)
        elif proj.is_return or it.expr[0] == "var":
            names.append(it.text)
        else:
            raise CypherSyntaxError(
                f"WITH item {it.text!r} must be aliased (AS name)"
            )
    if len(set(names)) != len(names):
        dup = next(n for n in names if names.count(n) > 1)
        raise CypherSyntaxError(
            f"multiple result columns with the same name {dup!r}"
        )
    # a WITH forwards the scan columns of the variables it passes on
    carry = {
        f"__p_{name}_{p}": col
        for (name, p), col in _with_carry(c, proj, names).items()
    }
    aggregating = any(_has_agg(it.expr) for it in proj.items)
    if aggregating:
        keys = [
            _to_col(c, it.expr).alias(name)
            for it, name in zip(proj.items, names)
            if not _has_agg(it.expr)
        ]
        aggs = [
            _agg_col(c, it.expr).alias(name)
            for it, name in zip(proj.items, names)
            if _has_agg(it.expr)
        ] + [F.any_value(col).alias(cname) for cname, col in carry.items()]
        out = c.cur.groupBy(*keys).agg(*aggs) if keys else c.cur.agg(*aggs)
        # restore declared item order
        out = out.select(*[_qcol(n) for n in names], *carry)
    else:
        sel = [
            _to_col(c, it.expr).alias(name)
            for it, name in zip(proj.items, names)
        ] + [F.col(col).alias(cname) for cname, col in carry.items()]
        out = c.cur.select(*sel)
    if proj.distinct:
        # carried columns are functions of the items they ride with
        out = out.dropDuplicates(names) if carry else out.dropDuplicates()

    if proj.order:
        # Sort keys that are projection items (by alias or verbatim
        # text) sort the projection directly; any other expression is
        # projected as a hidden __sortN column and dropped after the
        # sort — valid only pre-aggregation (post-aggregation the
        # source rows are gone) and without DISTINCT (the hidden
        # column would change the distinct-row set).
        hidden: list[str] = []
        sort_cols = []
        for idx, (e, etext, asc) in enumerate(proj.order):
            if etext in names:
                col = _qcol(etext)
            elif aggregating:
                # Neo4j lets an aggregating query sort on a projected
                # EXPRESSION written out verbatim (ORDER BY count(*)):
                # match it structurally against the projection items
                hit = next(
                    (
                        name
                        for it, name in zip(proj.items, names)
                        if it.expr == e
                    ),
                    None,
                )
                if hit is None:
                    raise CypherSyntaxError(
                        f"ORDER BY {etext!r}: sort keys of an aggregating "
                        "query must be projection items"
                    )
                col = _qcol(hit)
            elif proj.distinct:
                raise CypherSyntaxError(
                    f"ORDER BY {etext!r}: DISTINCT queries can only sort "
                    "on returned items"
                )
            else:
                cname = f"__sort{idx}"
                sel.append(_to_col(c, e).alias(cname))
                hidden.append(cname)
                col = F.col(cname)
            # Neo4j null ordering: NULL sorts LAST ascending, FIRST
            # descending — exactly inverted from Spark's default
            sort_cols.append(
                col.asc_nulls_last() if asc else col.desc_nulls_first()
            )
        if hidden:
            out = c.cur.select(*sel).orderBy(*sort_cols).drop(*hidden)
        else:
            out = out.orderBy(*sort_cols)

    if proj.skip is not None:
        out = out.offset(_int_param(proj.skip, c.params, "SKIP"))
    if proj.limit is not None:
        out = out.limit(_int_param(proj.limit, c.params, "LIMIT"))
    return out, names


def _int_param(v, params: dict | None, what: str) -> int:
    if isinstance(v, tuple):
        v = _pat_value(v, params)
    if not isinstance(v, int) or isinstance(v, bool) or v < 0:
        raise CypherSyntaxError(f"{what} must be a non-negative integer")
    return v


def _rebind_after_with(c: _Compile, proj: Projection, out: DataFrame, names: list) -> None:
    """Reset the compile state after a WITH: the projected frame
    becomes the current frame and only the projected names remain in
    scope (a bare or aliased variable keeps its node/rel kind — later
    clauses can hop from it or read its properties, through the scan
    columns :func:`_apply_projection` forwarded; every other item
    becomes an opaque value column)."""
    new_kinds = {}
    for it, name in zip(proj.items, names):
        if it.expr[0] == "var":
            new_kinds[name] = c.kinds[it.expr[1]]
        else:
            new_kinds[name] = "value"
    c.prop_cols = {
        (name, p): f"__p_{name}_{p}" for name, p in _with_carry(c, proj, names)
    }
    c.kinds = new_kinds
    c.rel_cols = []
    c.cur = out


def _with_carry(c: _Compile, proj: Projection, names: list) -> dict:
    """{(item name, prop): current column} for the scan columns a WITH
    forwards: those of every node/relationship variable it passes on,
    bare or renamed."""
    if proj.is_return:
        return {}
    return {
        (name, p): col
        for it, name in zip(proj.items, names)
        if it.expr[0] == "var" and c.kinds.get(it.expr[1]) in ("node", "rel")
        for (v, p), col in c.prop_cols.items()
        if v == it.expr[1]
    }


def _split_exists(expr: tuple) -> tuple:
    """Split a WHERE tree into (semi-subqueries, anti-subqueries,
    residual-expr): top-level ``exists(pattern)`` / ``EXISTS { }``
    conjuncts become semi-joins, their negations anti-joins (the
    cheap forms — no new columns). A pattern predicate anywhere
    deeper (under OR, CASE, comparisons) stays in the residual and is
    rewritten by :func:`_rewrite_subqueries` into a per-row
    match-count column (``exists`` = count > 0) — fully composable,
    one left join per subquery. Each entry is ``(patterns, where)``."""
    semis: list = []
    antis: list = []

    def walk(e):
        if e[0] == "and":
            left = walk(e[1])
            right = walk(e[2])
            if left is None:
                return right
            if right is None:
                return left
            return ("and", left, right)
        if e[0] == "exists_pat":
            semis.append(([e[1]], None))
            return None
        if e[0] == "exists_sub":
            semis.append((e[1], e[2]))
            return None
        if e[0] == "not" and isinstance(e[1], tuple):
            if e[1][0] == "exists_pat":
                antis.append(([e[1][1]], None))
                return None
            if e[1][0] == "exists_sub":
                antis.append((e[1][1], e[1][2]))
                return None
        return e

    residual = walk(expr)
    return semis, antis, residual


def _expr_vars(e, acc: set) -> None:
    """Variable names referenced anywhere in an expression tree.
    Comprehension-local variables overcount harmlessly: a same-named
    outer variable just joins through as an unused (shadowed) key."""
    if isinstance(e, list):
        for x in e:
            _expr_vars(x, acc)
        return
    if not isinstance(e, tuple) or not e:
        return
    if isinstance(e[0], str):
        if e[0] in ("var", "prop"):
            acc.add(e[1])
            return
        if e[0] == "mapproj":  # n {...}: the projected var is a use
            acc.add(e[1])
            _expr_vars(e[2], acc)
            return
        parts = e[1:]
    else:
        parts = e
    for p in parts:
        _expr_vars(p, acc)


def _sub_shared(
    c: _Compile, pats: list, where: tuple | None, extra: tuple | None = None
) -> list:
    """The outer-bound variables an EXISTS/COUNT subquery (or pattern
    comprehension, whose map expression is ``extra``) correlates on:
    every pattern or WHERE variable that is already bound to a real
    column (path objects have none)."""
    seen = dict.fromkeys(_pattern_vars(pats))
    wvars: set = set()
    if where is not None:
        _expr_vars(where, wvars)
    if extra is not None:
        _expr_vars(extra, wvars)
    for v in sorted(wvars):
        seen.setdefault(v, None)
    return [
        v for v in seen
        if c.kinds.get(v) in ("node", "rel", "value", "pathlen")
    ]


def _sub_compile(
    c: _Compile, pats: list, where: tuple | None, shared: list
) -> _Compile:
    """Compile a subquery block against the DISTINCT values of its
    shared variables (never the full outer row set — the correlated
    work is bounded by distinct keys, not outer cardinality)."""
    c2 = _keyed_compile(c, shared, True)
    _compile_match(c2, pats, where)
    c.anon = c2.anon
    return c2


def _apply_exists(
    c: _Compile, pats: list, where: tuple | None, anti: bool
) -> None:
    """Compile a top-level pattern predicate as one semi/anti join on
    the variables it shares with the bound rows (the SPARQL FILTER
    [NOT] EXISTS shape, J4/J5, re-used for Cypher). An uncorrelated
    subquery degenerates to a global emptiness probe (one ``limit 1``
    row, broadcast)."""
    shared = _sub_shared(c, pats, where)
    c2 = _sub_compile(c, pats, where, shared)
    if shared:
        c.cur = c.cur.join(
            c2.cur.select(*shared).dropDuplicates(),
            on=shared,
            how="leftanti" if anti else "leftsemi",
        )
        return
    probe_col = c.fresh("x")
    probe = c2.cur.limit(1).select(F.lit(1).alias(probe_col))
    if anti:  # keep rows iff the subquery is empty
        c.cur = c.cur.join(probe, F.lit(True), "left_anti")
    else:  # keep all rows iff the subquery is non-empty
        c.cur = c.cur.crossJoin(probe).drop(probe_col)


def _bind_count_sub(c: _Compile, pats: list, where: tuple | None) -> str:
    """COUNT { } (and non-top-level EXISTS): join a per-row
    match-count column into the frame — group the subquery by its
    shared variables, count, left-join back, NULL -> 0. Returns the
    new column's name."""
    shared = _sub_shared(c, pats, where)
    tmp = c.fresh("cnt")
    c2 = _sub_compile(c, pats, where, shared)
    if shared:
        cnt = c2.cur.groupBy(*shared).agg(F.count(F.lit(1)).alias(tmp))
        c.cur = c.cur.join(cnt, on=shared, how="left").withColumn(
            tmp, F.coalesce(F.col(tmp), F.lit(0))
        )
    else:  # uncorrelated: one global count row, broadcast cross join
        c.cur = c.cur.crossJoin(c2.cur.agg(F.count(F.lit(1)).alias(tmp)))
    c.kinds[tmp] = "value"
    return tmp


def _bind_patcomp(
    c: _Compile, pat, where: tuple | None, mapexpr: tuple
) -> str:
    """Pattern comprehension ``[(a)-[:T]->(b) WHERE p | expr]``: join a
    per-row collected-list column into the frame. Same correlated shape
    as COUNT{} — the subquery compiles against the DISTINCT shared
    keys, the map expression is evaluated inside it, and one
    ``collect_list`` aggregate joins back (unmatched rows get ``[]``).
    Element order is pinned to ascending sort (Cypher leaves it
    unspecified); NULL map values are dropped by ``collect_list``."""
    return _bind_collect_like(c, [pat], where, mapexpr, distinct=False,
                              what="a pattern comprehension")


def _bind_collect_like(
    c: _Compile,
    pats: list,
    where: tuple | None,
    mapexpr: tuple,
    distinct: bool,
    what: str,
    size_only: bool = False,
) -> str:
    """Shared binder for pattern comprehensions and ``COLLECT { ...
    RETURN [DISTINCT] expr }`` subquery expressions (Neo4j 5.6) —
    COLLECT{} is the multi-pattern form of the same plan: compile the
    subquery against the DISTINCT shared keys, evaluate the element
    expression inside it, aggregate one list per key
    (``collect_set`` under DISTINCT), and left-join it back with
    ``[]`` fills."""
    if _has_agg(mapexpr) or (where is not None and _has_agg(where)):
        raise CypherSyntaxError(
            f"aggregates are not allowed inside {what}"
        )
    shared = _sub_shared(c, pats, where, mapexpr)
    c2 = _sub_compile(c, pats, where, shared)
    mapexpr = _rewrite_subqueries(c2, mapexpr)
    needed: set = set()
    _collect_props(mapexpr, needed)
    _materialize_props(c2, needed)
    vcol = c.fresh("v")
    proj = c2.cur.withColumn(vcol, _to_col(c2, mapexpr))
    if size_only:
        # size(COLLECT{...}) never needs the list: count the non-NULL
        # elements (collect_list drops NULLs, so count(expr) — and
        # count DISTINCT under RETURN DISTINCT — is exactly its size)
        # per key instead of shipping list mass through the join.
        tmp = c.fresh("cnt")
        agg_col = (
            F.countDistinct(vcol) if distinct else F.count(vcol)
        ).alias(tmp)
        if shared:
            cnt = proj.groupBy(*shared).agg(agg_col)
            c.cur = c.cur.join(cnt, on=shared, how="left").withColumn(
                tmp, F.coalesce(F.col(tmp), F.lit(0))
            )
        else:
            c.cur = c.cur.crossJoin(proj.agg(agg_col))
        c.kinds[tmp] = "value"
        return tmp
    tmp = c.fresh("lst")
    lst_col = F.collect_set(vcol) if distinct else F.collect_list(vcol)

    def orderable(dt) -> bool:
        if isinstance(dt, T.MapType):
            return False
        if isinstance(dt, T.ArrayType):
            return orderable(dt.elementType)
        if isinstance(dt, T.StructType):
            return all(orderable(f.dataType) for f in dt.fields)
        return True

    if orderable(proj.schema[vcol].dataType):
        lst_col = F.array_sort(lst_col)  # pin the unspecified order
    # (map-valued elements are unorderable in Spark — their list
    # order stays unspecified, as in Cypher)
    agg = lst_col.alias(tmp)
    if shared:
        lst = proj.groupBy(*shared).agg(agg)
        empty = F.array().cast(lst.schema[tmp].dataType)
        c.cur = c.cur.join(lst, on=shared, how="left").withColumn(
            tmp, F.coalesce(F.col(tmp), empty)
        )
    else:  # uncorrelated: one global list row, broadcast cross join
        c.cur = c.cur.crossJoin(proj.agg(agg))
    c.kinds[tmp] = "value"
    return tmp


def _bind_mid_subquery(c: _Compile, sub: "CypherQuery") -> None:
    """Mid-query ``CALL { [WITH imports] ... RETURN ... }``.

    Correlated form (leading WITH of bare variables — the Neo4j
    import rule): the body compiles against the DISTINCT imported
    keys, the import keys ride the RETURN projection as extra items,
    and one join brings the result back per outer row. Aggregating
    bodies implicitly group by the import keys (exactly Neo4j's
    per-invocation aggregation) and join back LEFT with count->0 /
    collect->[] fills, so a key with no matches keeps its outer row —
    non-aggregating bodies join INNER (zero subquery rows eliminate
    the outer row, Cypher cardinality). Uncorrelated form: compiled
    once on a fresh state and cross-joined (one evaluation, not one
    per row)."""
    clauses = list(sub.clauses)
    imports: list = []
    correlated = False
    if clauses and clauses[0][0] == "project" and not clauses[0][1].is_return:
        p0 = clauses[0][1]
        bare = all(
            it.expr[0] == "var" and it.alias in (None, it.expr[1])
            for it in p0.items
        )
        plain = (
            not p0.distinct and not p0.order and p0.skip is None
            and p0.limit is None and p0.post_where is None
        )
        if (p0.star or bare) and plain:
            correlated = True
            if p0.star:
                imports = [
                    v for v, k in c.kinds.items()
                    if not v.startswith("__") and k not in ("path", "pathlen")
                ]
            else:
                imports = [it.expr[1] for it in p0.items]
            for v in imports:
                if v not in c.kinds:
                    raise CypherSyntaxError(
                        f"CALL {{ WITH {v} }}: variable {v!r} is not bound "
                        "in the outer query"
                    )
                if c.kinds[v] in ("path", "pathlen"):
                    raise CypherSyntaxError(
                        f"CALL {{ }} cannot import path variable {v!r}"
                    )
            clauses = clauses[1:]
            if not imports:
                raise CypherSyntaxError(
                    "CALL { WITH ... }: nothing to import"
                )
    if not correlated:
        # uncorrelated: one evaluation, cross join (broadcast-eligible)
        out = _compile_query(
            c.graph, CypherQuery(clauses), c.allow_cartesian, c.params
        )
        for name in out.columns:
            if name in c.kinds:
                raise CypherSyntaxError(
                    f"CALL {{ }} returns {name!r}, which is already bound "
                    "in the outer query — alias it"
                )
            c.kinds[name] = "value"
        c.cur = (
            out if c.cur is None else c.cur.crossJoin(out)
        )
        return
    c2 = _keyed_compile(c, imports, True)
    *mid, last = clauses
    for cl2 in mid:
        if cl2[0] == "project":
            p = cl2[1]
            if p.order or p.skip is not None or p.limit is not None:
                raise CypherSyntaxError(
                    "ORDER BY/SKIP/LIMIT in a correlated CALL { } "
                    "subquery are per-invocation in Cypher — not in "
                    "this subset"
                )
            # thread the import keys through every intermediate WITH
            # (per-invocation scope: the key joins the implicit
            # grouping when the WITH aggregates). A WITH that REBINDS
            # an import name to a different expression would corrupt
            # the correlation join-back (outer ids vs rebound values)
            # — Neo4j rejects such queries too, so raise.
            if not p.star:
                have = set()
                for it in p.items:
                    name = it.alias if it.alias is not None else it.text
                    if name in imports and it.expr != ("var", name):
                        raise CypherSyntaxError(
                            f"WITH inside a correlated CALL {{ }} rebinds "
                            f"imported variable {name!r} — alias the "
                            "expression to a new name (rebinding the "
                            "import would corrupt the correlation join)"
                        )
                    have.add(name)
                for v in imports:
                    if v not in have:
                        p.items.append(ReturnItem(("var", v), v, v))
        apply_read_clause(c2, cl2)
    proj = last[1]
    if proj.star:
        raise CypherSyntaxError(
            "RETURN * inside a correlated CALL { } subquery is not in "
            "this subset — name the returned items explicitly (Neo4j "
            "rejects re-returning the imported variables anyway)"
        )
    # per-invocation ORDER BY/SKIP/LIMIT compile to a window over the
    # import keys (row_number per invocation) — the idiomatic
    # top-k-per-key CALL subquery. Subset rules, enforced below after
    # names are known: sort keys must be returned item names, and
    # SKIP/LIMIT need an ORDER BY (an unordered per-invocation LIMIT
    # would pick nondeterministic rows — Neo4j tolerates that,
    # this engine's determinism contract does not).
    inv_order, inv_skip, inv_limit = proj.order, proj.skip, proj.limit
    if (inv_skip is not None or inv_limit is not None) and not inv_order:
        raise CypherSyntaxError(
            "SKIP/LIMIT in a correlated CALL { } subquery are "
            "per-invocation and need an ORDER BY (otherwise the kept "
            "rows would be nondeterministic)"
        )
    aggregating = any(_has_agg(it.expr) for it in proj.items)
    names_out: list = []
    for it in proj.items:
        name = it.alias if it.alias is not None else it.text
        if name in imports or name in c.kinds:
            raise CypherSyntaxError(
                f"CALL {{ }} returns {name!r}, which is already bound in "
                "the outer query — alias it"
            )
        names_out.append(name)
        if _has_agg(it.expr) and (
            it.expr[0] != "call" or it.expr[1] not in _AGG_FUNCS
        ):
            raise CypherSyntaxError(
                f"CALL {{ }} item {it.text!r}: aggregates nested inside "
                "expressions are not in this subset (alias the bare "
                "aggregate in the subquery, compute the expression after "
                "the CALL)"
            )
    hidden = [ReturnItem(("var", v), v, v) for v in imports]
    proj2 = Projection(
        items=hidden + list(proj.items),
        distinct=proj.distinct,
        order=[],
        skip=None,
        limit=None,
        is_return=True,
    )
    out, _names = _apply_projection(c2, proj2)
    c.anon = c2.anon
    if inv_order or inv_skip is not None or inv_limit is not None:
        from pyspark.sql import Window

        sort_cols = []
        for _e, etext, asc in inv_order:
            if etext not in names_out:
                raise CypherSyntaxError(
                    f"ORDER BY {etext!r} in a correlated CALL {{ }} "
                    "subquery must name a returned item (alias the "
                    "expression in RETURN first)"
                )
            colx = _qcol(etext)
            # Neo4j null ordering (see the RETURN ORDER BY note)
            sort_cols.append(
                colx.asc_nulls_last() if asc else colx.desc_nulls_first()
            )
        w = Window.partitionBy(*[_qcol(v) for v in imports]).orderBy(
            *sort_cols
        )
        lo = _int_param(inv_skip, c.params, "SKIP") if inv_skip is not None else 0
        cond = F.col("__rn") > F.lit(lo)
        if inv_limit is not None:
            hi = lo + _int_param(inv_limit, c.params, "LIMIT")
            cond = cond & (F.col("__rn") <= F.lit(hi))
        out = (
            out.withColumn("__rn", F.row_number().over(w))
            .filter(cond)
            .drop("__rn")
        )
        inv_dropped_rows = lo >= 1
    else:
        inv_dropped_rows = False
    all_agg = aggregating and all(_has_agg(it.expr) for it in proj.items)
    if all_agg and inv_dropped_rows:
        # per-invocation SKIP >= 1 drops every invocation's single
        # aggregate row — including the empty-invocation fill row —
        # so the fill path below would wrongly resurrect them
        all_agg = False
    if all_agg:
        # aggregate-only body: Neo4j's global aggregation emits one
        # row even for an empty invocation — left join with the
        # empty-input fills (count/sum -> 0, collect -> [],
        # min/max/avg/stat -> null)
        joined = c.cur.join(out, on=imports, how="left")
        for it, name in zip(proj.items, names_out):
            fn = it.expr[1] if it.expr[0] == "call" else None
            if fn in ("count", "sum"):
                fill = F.lit(0).cast(out.schema[name].dataType)
            elif fn == "collect":
                fill = F.array().cast(out.schema[name].dataType)
            else:
                continue
            joined = joined.withColumn(name, F.coalesce(_qcol(name), fill))
        c.cur = joined
    else:
        # non-aggregating, or grouped aggregation (non-aggregate items
        # present): zero subquery rows produce zero groups, so the
        # outer row is eliminated — Cypher cardinality
        c.cur = c.cur.join(out, on=imports, how="inner")
    for it, name in zip(proj.items, names_out):
        if it.expr[0] == "var":
            c.kinds[name] = c2.kinds.get(it.expr[1], "value")
        else:
            c.kinds[name] = "value"


def _rewrite_subqueries(c: _Compile, expr):
    """Replace EXISTS{}/COUNT{} subquery expressions (and pattern
    predicates at non-top-level positions) in an expression tree with
    references to per-row match-count columns: COUNT{} reads the
    count, EXISTS becomes count > 0. Top-level WHERE conjuncts never
    reach here — :func:`_split_exists` turns those into semi/anti
    joins, the cheaper form."""
    def walk(e):
        if isinstance(e, list):
            return [walk(x) for x in e]
        if not isinstance(e, tuple) or not e:
            return e
        if isinstance(e[0], str):
            if e[0] == "count_sub":
                return ("var", _bind_count_sub(c, e[1], e[2]))
            if e[0] == "exists_sub":
                cnt = _bind_count_sub(c, e[1], e[2])
                return ("cmp", ">", ("var", cnt), ("lit", 0))
            if e[0] == "exists_pat":
                cnt = _bind_count_sub(c, [e[1]], None)
                return ("cmp", ">", ("var", cnt), ("lit", 0))
            if e[0] == "patcomp":
                return ("var", _bind_patcomp(c, e[1], e[2], e[3]))
            if e[0] == "collect_sub":
                return ("var", _bind_collect_like(
                    c, e[1], e[2], e[3], e[4], what="a COLLECT { } subquery"
                ))
            if (
                e[0] == "call"
                and e[1] == "size"
                and len(e[2]) == 1
                and isinstance(e[2][0], tuple)
                and e[2][0]
                and e[2][0][0] in ("collect_sub", "patcomp")
            ):
                # size(COLLECT{...}) / size([pattern comprehension])
                # -> count aggregate, no list mass
                sub = e[2][0]
                if sub[0] == "collect_sub":
                    pats, where_, mape, dist = sub[1], sub[2], sub[3], sub[4]
                else:
                    pats, where_, mape, dist = [sub[1]], sub[2], sub[3], False
                return ("var", _bind_collect_like(
                    c, pats, where_, mape, dist,
                    what="a collected-list expression", size_only=True,
                ))
        return tuple(
            walk(x) if isinstance(x, (tuple, list)) else x for x in e
        )

    return walk(expr)


def _bind_named_path(c: _Compile, np: NamedPath) -> None:
    """Bind ``p = (a)-[r]->(b)-...``: the inner fixed-length pattern
    compiles exactly as an anonymous MATCH pattern (same joins, same
    relationship-uniqueness); the path variable just records which
    node/edge columns make up the path, so ``nodes(p)`` /
    ``relationships(p)`` are plain ``F.array`` projections — no extra
    plan cost."""
    if np.path_var in c.kinds:
        raise CypherSyntaxError(
            f"path variable {np.path_var!r} is already bound"
        )
    pat = np.pattern
    # anonymous elements get compiler vars so the path can observe them
    for n in pat.nodes:
        if n.var is None:
            n.var = c.fresh("n")
    for r in pat.rels:
        if r.var is None:
            r.var = c.fresh("r")
    prev = _bind_node(c, pat.nodes[0])
    for rel, nxt_pat in zip(pat.rels, pat.nodes[1:]):
        prev = _bind_rel(c, rel, prev, nxt_pat)
    c.kinds[np.path_var] = "path"
    c.paths[np.path_var] = (
        [n.var for n in pat.nodes],
        [r.var for r in pat.rels],
    )


def _hoist_inline_where(c: _Compile, pats: list) -> tuple | None:
    """Inline pattern predicates ``(n:L WHERE e)`` / ``[r:T WHERE e]``
    conjoin into the clause WHERE (Neo4j 5 semantics: part of the
    match — inside OPTIONAL MATCH they filter before the left join).
    Anonymous elements carrying one get a compiler variable so the
    predicate can resolve them."""
    conj = None
    for pat in pats:
        if isinstance(pat, (ShortestPat, NamedPath)):
            inner = pat.pattern
            if any(
                getattr(el, "where", None) is not None
                for el in list(inner.nodes) + list(inner.rels)
            ):
                raise CypherSyntaxError(
                    "inline WHERE inside shortestPath()/named-path "
                    "patterns is not in this subset"
                )
            continue
        for el in list(pat.nodes) + list(pat.rels):
            if el.where is None:
                continue
            if el.var is None:
                el.var = c.fresh("n" if isinstance(el, NodePat) else "r")
            conj = el.where if conj is None else ("and", conj, el.where)
            el.where = None  # hoisted exactly once
    return conj


def _compile_match(c: _Compile, pats: list, where: tuple | None) -> None:
    inline = _hoist_inline_where(c, pats)
    if inline is not None:
        where = inline if where is None else ("and", where, inline)
    for pat in pats:
        inner = (
            pat.pattern if isinstance(pat, (ShortestPat, NamedPath)) else pat
        )
        pvars = {n.var for n in inner.nodes if n.var} | {
            r.var for r in inner.rels if r.var
        }
        if (
            c.cur is not None
            and not (pvars & set(c.kinds))
            and not c.allow_cartesian
            # a frame of pure values (leading WITH constants, UNWIND
            # rows) is a deliberate small bind, not a graph cartesian
            and any(k in ("node", "rel") for k in c.kinds.values())
        ):
            warnings.warn(
                f"MATCH pattern {{{', '.join(sorted(pvars)) or 'anonymous'}}} "
                "shares no variable with the rows already bound — this is a "
                "cartesian product (quadratic at scale). Pass "
                "allow_cartesian=True if intentional.",
                CypherCartesianWarning,
                stacklevel=3,
            )
        if isinstance(pat, ShortestPat):
            _bind_shortest(c, pat)
            continue
        if isinstance(pat, NamedPath):
            _bind_named_path(c, pat)
            continue
        prev = _bind_node(c, pat.nodes[0])
        for rel, nxt_pat in zip(pat.rels, pat.nodes[1:]):
            prev = _bind_rel(c, rel, prev, nxt_pat)
    _apply_rel_uniqueness(c)
    if where is not None:
        semis, antis, residual = _split_exists(where)
        for sub_pats, sub_where in semis:
            _apply_exists(c, sub_pats, sub_where, anti=False)
        for sub_pats, sub_where in antis:
            _apply_exists(c, sub_pats, sub_where, anti=True)
        if residual is not None:
            residual = _rewrite_subqueries(c, residual)
            needed: set = set()
            _collect_props(residual, needed)
            _materialize_props(c, needed)
            c.cur = c.cur.filter(_to_col(c, residual))


_PROCEDURES = {
    # Neo4j's schema-inventory procedures over the reference's admin
    # surface (label / relationship-type / property-key inventories,
    # ``mapping.py`` S14): each is one distributed distinct, nothing
    # collected to the driver. Sorted for deterministic answers
    # (Neo4j leaves the order unspecified).
    "db.labels": ("label",),
    "db.relationshiptypes": ("relationshipType",),
    "db.propertykeys": ("propertyKey",),
}


def _call_procedure(g: PropertyGraph, name: str, yields: list) -> DataFrame:
    key = name.lower()
    if key not in _PROCEDURES:
        raise CypherSyntaxError(
            f"unknown procedure {name!r} (supported: "
            + ", ".join(sorted(_PROCEDURES)) + ")"
        )
    if key == "db.labels":
        df = (
            g.nodes.select(F.explode("labels").alias("label"))
            .dropDuplicates()
            .orderBy("label")
        )
    elif key == "db.relationshiptypes":
        df = (
            g.edges.select(F.col("predicate").alias("relationshipType"))
            .dropDuplicates()
            .orderBy("relationshipType")
        )
    else:  # db.propertyKeys: hot typed columns + node/edge map keys
        hot = [
            col
            for col in g.nodes.columns
            if col not in NODE_CORE and col not in SIDECAR_COLS
        ]
        parts = [
            g.nodes.select(
                F.explode(F.map_keys("props")).alias("propertyKey")
            ),
            g.edges.select(
                F.explode(F.map_keys("props")).alias("propertyKey")
            ),
        ]
        if hot:
            parts.append(
                local_frame(g.spark, [(h,) for h in hot], "propertyKey string")
            )
        df = parts[0]
        for p in parts[1:]:
            df = df.unionAll(p)
        df = df.dropDuplicates().orderBy("propertyKey")
    (default,) = _PROCEDURES[key]
    if yields:
        sel = []
        for col, alias in yields:
            if col != default:
                raise CypherSyntaxError(
                    f"procedure {name} yields {default!r}, not {col!r}"
                )
            sel.append(F.col(default).alias(alias or col))
        df = df.select(*sel)
    return df


def apply_read_clause(c: _Compile, cl: tuple) -> DataFrame | None:
    """Compile one read clause against the state; returns the result
    frame for a RETURN projection, else None. Shared by the read
    (:func:`cypher`) and write (``cypher_write``) drivers so the two
    dispatch paths cannot drift."""
    kind = cl[0]
    if kind == "callproc":
        return _call_procedure(c.graph, cl[1], cl[2])
    if kind == "callsub":
        # leading uncorrelated subquery: compile each UNION part with
        # a fresh state, union, and expose the output columns as
        # piped values (a returned node variable flattens to its id —
        # re-MATCH on it to hop, as with any piped value)
        frames = [
            _compile_query(c.graph, q, c.allow_cartesian, c.params)
            for q in cl[1]
        ]
        c.cur = _union_frames(frames, cl[2])
        for col in c.cur.columns:
            c.kinds[col] = "value"
        return None
    if kind == "callsub_mid":
        _bind_mid_subquery(c, cl[1])
        return None
    if kind == "match":
        _compile_match(c, cl[1], cl[2])
    elif kind == "optmatch":
        _bind_optional_match(c, cl[1], cl[2])
    elif kind == "unwind":
        _, e, alias = cl
        if alias in c.kinds:
            raise CypherSyntaxError(f"UNWIND alias {alias!r} is already bound")
        if c.cur is None:  # UNWIND as the first clause
            c.cur = c.graph.spark.range(1).select(F.lit(1).alias("__one"))
        e = _rewrite_subqueries(c, e)
        batch = None
        if e[0] == "param":
            val = _pat_value(e, c.params)
            if (
                isinstance(val, list) and val
                and all(isinstance(x, dict) for x in val)
            ):
                batch = val
        if batch is not None:
            # UNWIND $batch AS row over a list of maps — the bulk
            # ingest idiom. Build a typed struct frame (one column
            # per key, missing keys NULL) so row.k reads a field.
            # Parameter batches are driver-issued point data by
            # construction; the cross join is rows x batch, Cypher
            # cardinality.
            keys = sorted({k for d in batch for k in d})
            rows_df = c.graph.spark.createDataFrame(
                [tuple(d.get(k) for k in keys) for d in batch],
                schema=keys,
            ).select(F.struct(*keys).alias(alias))
            c.cur = c.cur.crossJoin(rows_df)
        else:
            needed: set = set()
            _collect_props(e, needed)
            _materialize_props(c, needed)
            c.cur = c.cur.withColumn(alias, F.explode(_to_col(c, e)))
        c.kinds[alias] = "value"
    elif kind == "project":
        proj = cl[1]
        out, names = _apply_projection(c, proj)
        if proj.is_return:
            return out
        _rebind_after_with(c, proj, out, names)
        if proj.post_where is not None:
            pw = _rewrite_subqueries(c, proj.post_where)
            needed = set()
            _collect_props(pw, needed)
            _materialize_props(c, needed)
            c.cur = c.cur.filter(_to_col(c, pw))
    else:
        raise CypherSyntaxError(f"unexpected clause kind {kind!r}")
    return None


def cypher(
    graph: PropertyGraph,
    text: str,
    allow_cartesian: bool = False,
    params: dict | None = None,
) -> DataFrame:
    """Execute a Cypher query against the graph; returns the RETURN
    projection as a DataFrame (reference
    ``Neo4jGraph.java:288-304``). ``allow_cartesian=True`` silences
    the :class:`CypherCartesianWarning` on disconnected patterns.
    ``params`` supplies ``$name`` query parameters — the reason the
    reference's F8 string-splicing escape hatch is unnecessary here:
    values enter the plan as typed literals, never via text."""
    qs, union_all = _Parser(text).parse_multi()
    frames = [
        _compile_query(graph, q, allow_cartesian, params) for q in qs
    ]
    return _union_frames(frames, union_all)


def _compile_query(
    graph: PropertyGraph, q: CypherQuery, allow_cartesian: bool, params
) -> DataFrame:
    if any(cl[0] in _WRITE_KINDS for cl in q.clauses):
        raise CypherSyntaxError(
            "write clauses (CREATE/MERGE/SET/REMOVE/DELETE) mutate the "
            "graph — execute them with cypher_write(), which returns "
            "the new PropertyGraph"
        )
    c = _Compile(
        graph, allow_cartesian=allow_cartesian, params=params,
        reads=_query_reads(q),
    )
    out = None
    for cl in q.clauses:
        res = apply_read_clause(c, cl)
        if res is not None:
            out = res
    return out


def _union_frames(frames: list, union_all: bool) -> DataFrame:
    """UNION semantics: all parts must return the same column names
    (Neo4j rule); plain UNION dedups (set semantics), ALL keeps bags."""
    if len(frames) == 1:
        return frames[0]
    names = frames[0].columns
    for f in frames[1:]:
        if f.columns != names:
            raise CypherSyntaxError(
                "all UNION parts must return the same column names "
                f"({names} vs {f.columns})"
            )
    res = frames[0]
    for f in frames[1:]:
        res = res.unionByName(f)
    return res if union_all else res.dropDuplicates()
