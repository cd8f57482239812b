"""One parse per SQL text: Spark's own parser, mirrored into Python.

Everything the engine reads from SQL text — the relations, time-travel
reads and ``table_changes(…)`` calls ``Engine.sql`` binds, MV source
states, the refresh paths' temp-view splice and the incremental-view
classifier — comes from the unresolved plan of
``sessionState().sqlParser().parsePlan``, as the reference finds a query's
relations with a SQL-parser visitor (iceberg-rust/src/sql.rs:12-21). A
string literal is a ``Literal`` node: text inside quotes is never read as a
keyword or a table name.

A ``Node`` keeps the Catalyst class name, the ``origin()`` character span
(``start``/``stop``, inclusive), the children — plan children, then
expressions; a time-travel read's relation, CTE definitions and the plan
under a subquery expression too — and ``attr``, the one attribute callers
read: name parts (``UnresolvedRelation``, ``UnresolvedAttribute``,
``UnresolvedTableValuedFunction``), (name parts, is DISTINCT)
(``UnresolvedFunction``), the alias (``SubqueryAlias``, ``Alias``), the
join type (``Join``), the version or None (``RelationTimeTravel``), the
value — a number, a bool, None or else its text — (``Literal``) or the
number of grouping expressions (``Aggregate``). Mirroring costs a py4j
round trip per node attribute — tens of milliseconds for a six-relation
join — so it is memoized by SQL text.
"""

from __future__ import annotations

import functools
from dataclasses import dataclass

_MEMO_SIZE = 512

# expression classes that carry a query plan of their own
SUBQUERIES = frozenset(
    ("ScalarSubquery", "Exists", "ListQuery", "LateralSubquery")
    + ("FunctionTableSubqueryArgumentExpression",)
)
# leaf tokens whose text may hold a parenthesis: 'a)', `a(b`
_QUOTED = frozenset(("Literal", "UnresolvedAttribute"))


@dataclass(frozen=True)
class Node:
    name: str
    start: int | None
    stop: int | None
    children: tuple
    attr: object = None

    def text(self, sql: str) -> str:
        start, stop = extent(sql, [self])
        return sql[start : stop + 1]

    def walk(self):
        """This node and every node below it, depth first."""
        yield self
        for c in self.children:
            yield from c.walk()


def extent(sql: str, tops) -> tuple[int, int]:
    """The (start, stop) of the source text of adjacent nodes ``tops`` in
    ``sql``. A predicate's own origin covers only ``IS NULL`` / ``IN (…)``
    / ``LIKE …`` and a parenthesized operand's stops inside its
    parentheses, so take the widest span over the subtrees and widen it to
    the parentheses it leaves unbalanced (``(x + 1) IS NULL``).
    Parentheses inside a quoted literal or identifier do not count."""
    nodes = [n for top in tops for n in top.walk() if n.start is not None]
    start, stop = min(n.start for n in nodes), max(n.stop for n in nodes)
    quoted = {i for n in nodes if n.name in _QUOTED for i in range(n.start, n.stop + 1)}
    depth = low = 0
    for i in range(start, stop + 1):
        if sql[i] in "()" and i not in quoted:
            depth += 1 if sql[i] == "(" else -1
            low = min(low, depth)
    for _ in range(-low):  # a ")" whose "(" precedes the span
        start = sql.rindex("(", 0, start)
    for _ in range(depth - low):  # a "(" whose ")" follows it
        stop = sql.index(")", stop + 1)
    return start, stop


def _seq(s) -> tuple:
    return tuple(s.apply(i) for i in range(s.length()))


def _span(origin: str) -> tuple:
    """(startIndex, stopIndex) from ``Origin.toString``, one round trip:
    the third and fourth fields, each ``Some(<int>)`` or ``None``."""
    return tuple(
        int(f[5:-1]) if f != "None" else None
        for f in origin[len("Origin("):].split(",", 4)[2:4]
    )


def _mirror(j, plan: bool) -> Node:
    name = j.nodeName()
    kids = [_mirror(c, plan) for c in _seq(j.children())]
    attr = None
    if plan:
        if name == "RelationTimeTravel":
            kids.append(_mirror(j.relation(), True))
            attr = j.version().get() if j.version().isDefined() else None
        elif name == "UnresolvedWith":
            kids += [_mirror(c, True) for c in _seq(j.innerChildren())]
        kids += [_mirror(e, False) for e in _seq(j.expressions())]
        if name in ("UnresolvedRelation", "UnresolvedTableValuedFunction"):
            attr = _seq(j.multipartIdentifier() if name == "UnresolvedRelation" else j.name())
        elif name == "SubqueryAlias":
            attr = j.alias()
        elif name == "Join":
            attr = j.joinType().toString()
        elif name == "Aggregate":
            attr = j.groupingExpressions().length()
    elif name in SUBQUERIES:
        kids.append(_mirror(j.plan(), True))
    elif name == "UnresolvedAttribute":
        attr = _seq(j.nameParts())
    elif name == "UnresolvedFunction":
        attr = (_seq(j.nameParts()), j.isDistinct())
    elif name == "Alias":
        attr = j.name()
    elif name == "Literal":
        attr = j.value()  # py4j converts numbers and bools; a string is a UTF8String
        attr = attr if attr is None or isinstance(attr, (int, float)) else j.toString()
    return Node(name, *_span(j.origin().toString()), tuple(kids), attr)


@functools.lru_cache(maxsize=_MEMO_SIZE)
def parse(spark, sql: str) -> Node:
    """The mirrored unresolved plan of one SQL statement. Raises when Spark
    cannot parse it (nothing is memoized then)."""
    return _mirror(spark._jsparkSession.sessionState().sqlParser().parsePlan(sql), True)


def splice(sql: str, edits) -> str:
    """``sql`` with each ``(start, stop, text)`` span (inclusive, disjoint)
    replaced by its text."""
    out, pos = [], 0
    for start, stop, new in sorted(edits):
        out += [sql[pos:start], new]
        pos = stop + 1
    return "".join(out) + sql[pos:]


def relation_name(node: Node) -> str:
    return ".".join(node.attr)


def relations(spark, sql: str) -> list[str]:
    """The names of every relation the statement reads — in subqueries,
    CTEs and time-travel reads too — in text order, each once."""
    rels = [n for n in parse(spark, sql).walk() if n.name == "UnresolvedRelation"]
    return list(dict.fromkeys(relation_name(n) for n in sorted(rels, key=lambda n: n.start)))


def table_refs(node: Node):
    """Every table reference under ``node``: a relation, a time-travel read
    (its relation is not listed again) or a table-valued function call."""
    if node.name in ("UnresolvedRelation", "RelationTimeTravel", "UnresolvedTableValuedFunction"):
        yield node
        return
    for c in node.children:
        yield from table_refs(c)
