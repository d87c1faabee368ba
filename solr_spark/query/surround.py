"""Surround query parser: the span-proximity grammar.

Reference: solr/core/src/java/org/apache/solr/search/
SurroundQParserPlugin.java (which delegates to Lucene's
queryparser/surround grammar) and its test,
core/src/test/org/apache/solr/search/TestSurroundQueryParser.java:

- infix:  ``a W b`` (ordered, adjacent), ``a 3W b`` (ordered within 3),
  ``a N b`` / ``a 3N b`` (unordered); case-insensitive
- prefix: ``3n(a, b, c)`` / ``w(a, b)``
- boolean: ``AND`` / ``OR`` / ``NOT`` (``OR`` is also legal INSIDE a
  distance op — Lucene compiles it to a SpanOrQuery)
- truncation: ``*`` / ``?`` inside terms (SrndTruncQuery), expanded
  against the term dictionary like ComplexPhrase slots
- nesting: ``(1003 2n 1001) 3N 1006``

Distance semantics are Lucene's SpanNearQuery with slop = distance-1:
ordered requires non-overlapping spans in clause order with the SUM of
inter-span gaps <= slop (NearSpansOrdered); unordered requires
max(end) - min(start) - sum(span lengths) <= slop (NearSpansUnordered).

Spark shape — a SPAN-RELATION ALGEBRA over the flat positions table,
no Python in the hot path:

- every term (after dictionary expansion of wildcards) is a relation
  (docid, s, e) read off ONE bucket-pruned positions scan shared by the
  whole tree;
- a distance op is a docid-equi-join of its children with the slop
  predicate (plus an accumulated-gap column for ordered chains), so
  Catalyst plans ordinary shuffled/broadcast hash joins — at 100 TB
  each join key is docid, the same partitioning every stage reuses;
- booleans are docid-level set ops (semi/anti-join, union).

The DuckDB oracle (`surround_sql`) mirrors the SAME joins over
unnested token positions, so the twin is value-exact by construction.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field as dc_field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from solr_spark.index.builder import Index

MAX_EXPANSIONS = 128


# ------------------------------------------------------------- grammar

@dataclass
class TermNode:
    spec: str  # analyzed term, possibly with * / ? truncation


@dataclass
class NearNode:
    ordered: bool
    dist: int
    children: list = dc_field(default_factory=list)


@dataclass
class BoolNode:
    kind: str  # AND | OR | NOT
    children: list = dc_field(default_factory=list)


_TOKEN_RX = re.compile(r"\(|\)|,|[^\s(),]+")
_NEAR_RX = re.compile(r"^(\d*)([wn])$", re.IGNORECASE)


def _tokenize(q: str) -> list[str]:
    return _TOKEN_RX.findall(q)


class _Parser:
    """Recursive-descent over the surround precedence ladder
    (OR < AND < NOT < N < W < primary), mirroring the reference's
    queryparser/surround/parser/QueryParser.jj productions."""

    def __init__(self, toks: list[str]):
        self.toks = toks
        self.i = 0

    def peek(self) -> str | None:
        return self.toks[self.i] if self.i < len(self.toks) else None

    def next(self) -> str:
        t = self.peek()
        if t is None:
            raise ValueError("surround: unexpected end of query")
        self.i += 1
        return t

    def parse(self):
        node = self.or_query()
        if self.peek() is not None:
            raise ValueError(f"surround: trailing input at {self.peek()!r}")
        return node

    def _kw(self, *names) -> bool:
        t = self.peek()
        return t is not None and t.upper() in names

    def or_query(self):
        node = self.and_query()
        kids = [node]
        while self._kw("OR"):
            self.next()
            kids.append(self.and_query())
        return kids[0] if len(kids) == 1 else BoolNode("OR", kids)

    def and_query(self):
        kids = [self.not_query()]
        while self._kw("AND"):
            self.next()
            kids.append(self.not_query())
        return kids[0] if len(kids) == 1 else BoolNode("AND", kids)

    def not_query(self):
        node = self.n_query()
        kids = [node]
        while self._kw("NOT"):
            self.next()
            kids.append(self.n_query())
        return kids[0] if len(kids) == 1 else BoolNode("NOT", kids)

    def _near_chain(self, letter: str, sub):
        node = sub()
        while True:
            t = self.peek()
            m = _NEAR_RX.match(t) if t else None
            if not (m and m.group(2).lower() == letter):
                break
            # prefix form `3n(...)` is handled in primary; infix only
            if self.toks[self.i + 1 : self.i + 2] == ["("]:
                break
            self.next()
            dist = int(m.group(1) or 1)
            rhs = sub()
            ordered = letter == "w"
            # same-kind same-distance chains merge n-ary (one
            # SpanNearQuery), differing distances nest left
            if (
                isinstance(node, NearNode)
                and node.ordered == ordered
                and node.dist == dist
            ):
                node.children.append(rhs)
            else:
                node = NearNode(ordered, dist, [node, rhs])
        return node

    def n_query(self):
        return self._near_chain("n", self.w_query)

    def w_query(self):
        return self._near_chain("w", self.primary)

    def primary(self):
        t = self.next()
        if t == "(":
            node = self.or_query()
            if self.next() != ")":
                raise ValueError("surround: expected ')'")
            return node
        m = _NEAR_RX.match(t)
        if m and self.peek() == "(":
            self.next()  # consume '('
            kids = [self.or_query()]
            while self.peek() == ",":
                self.next()
                kids.append(self.or_query())
            if self.next() != ")":
                raise ValueError("surround: expected ')' after prefix op")
            return NearNode(m.group(2).lower() == "w", int(m.group(1) or 1), kids)
        if t in (")", ","):
            raise ValueError(f"surround: unexpected {t!r}")
        return TermNode(t)


def parse_surround(q: str):
    return _Parser(_tokenize(q)).parse()


# ---------------------------------------------------------- evaluation

def _collect_terms(node, out: list[str]) -> None:
    if isinstance(node, TermNode):
        out.append(node.spec)
    else:
        for c in node.children:
            _collect_terms(c, out)


def _expand_spec(index: Index, spec: str, field: str | None) -> list[int]:
    """tids for one term spec. Plain terms go through the driver-side
    dictionary seek; truncated terms (* / ?) expand against the
    dictionary frame, capped at MAX_EXPANSIONS like Lucene's
    rewrite bound."""
    if "*" in spec or "?" in spec:
        rx = (
            "^"
            + re.escape(spec).replace(r"\*", ".*").replace(r"\?", ".")
            + "$"
        )
        rows = (
            index.term_dictionary(field)
            .where(F.col("term").rlike(rx))
            .select("tid")
            .limit(MAX_EXPANSIONS + 1)
            .collect()
        )
        if len(rows) > MAX_EXPANSIONS:
            raise ValueError(
                f"surround: {spec!r} expands past {MAX_EXPANSIONS} terms"
            )
        return [r["tid"] for r in rows]
    # analyze through the index chain so both sides agree
    terms = index.analyze(spec)
    if not terms:
        return []
    stats = index.term_stats_for(terms, field=field)
    return [stats[t]["tid"] for t in terms if t in stats]


class _SpanEval:
    def __init__(self, index: Index, pos: DataFrame, tids_of: dict[str, list[int]]):
        self.index = index
        self.pos = pos
        self.tids_of = tids_of
        self._n = 0

    def _fresh(self, df: DataFrame) -> DataFrame:
        # every join leg needs distinct attribute ids
        self._n += 1
        return df.alias(f"srnd{self._n}")

    def spans(self, node) -> DataFrame:
        """(docid, s, e) distinct span relation for a span-producing
        node (term / OR-of-spans / near)."""
        if isinstance(node, TermNode):
            tids = self.tids_of[node.spec]
            if not tids:
                return self._empty()
            return self._fresh(
                self.pos.where(F.col("tid").isin(tids))
                .select(
                    "docid",
                    F.col("pos").cast("long").alias("s"),
                    (F.col("pos") + 1).cast("long").alias("e"),
                )
                .distinct()
            )
        if isinstance(node, BoolNode):
            if node.kind != "OR":
                raise ValueError(
                    f"surround: {node.kind} is not legal inside a distance op"
                )
            out = self.spans(node.children[0])
            for c in node.children[1:]:
                out = out.unionByName(self.spans(c))
            return self._fresh(out.distinct())
        if isinstance(node, NearNode):
            return self._near(node)
        raise TypeError(node)

    def _empty(self) -> DataFrame:
        return self.index.spark.createDataFrame(
            [], "docid long, s long, e long"
        )

    def _near(self, node: NearNode) -> DataFrame:
        slop = node.dist - 1
        kids = [self.spans(c) for c in node.children]
        if node.ordered:
            # NearSpansOrdered: non-overlapping in clause order,
            # sum of gaps <= slop; the accumulated gap rides along
            cur = kids[0].select("docid", "s", "e", F.lit(0).alias("gap"))
            for k in kids[1:]:
                r = self._fresh(k)
                cur = self._fresh(cur)
                cur = (
                    cur.join(r, "docid")
                    .where(r["s"] >= cur["e"])
                    .select(
                        "docid",
                        cur["s"].alias("s"),
                        r["e"].alias("e"),
                        (cur["gap"] + r["s"] - cur["e"]).alias("gap"),
                    )
                )
            return (
                cur.where(F.col("gap") <= slop)
                .select("docid", "s", "e")
                .distinct()
            )
        # NearSpansUnordered: k-way docid join, then
        # max(e_i) - min(s_i) - sum(e_i - s_i) <= slop
        aliased = [self._fresh(k) for k in kids]
        cur = aliased[0].select(
            "docid",
            aliased[0]["s"].alias("s_0"),
            aliased[0]["e"].alias("e_0"),
        )
        for i, k in enumerate(aliased[1:], start=1):
            cur = self._fresh(cur).join(
                k.select("docid", k["s"].alias(f"s_{i}"), k["e"].alias(f"e_{i}")),
                "docid",
            )
        n = len(kids)
        mx = F.greatest(*[F.col(f"e_{i}") for i in range(n)])
        mn = F.least(*[F.col(f"s_{i}") for i in range(n)])
        total = None
        for i in range(n):
            w = F.col(f"e_{i}") - F.col(f"s_{i}")
            total = w if total is None else total + w
        return (
            cur.where(mx - mn - total <= slop)
            .select("docid", mn.alias("s"), mx.alias("e"))
            .distinct()
        )

    def docids(self, node) -> DataFrame:
        """(docid) set for any node (booleans compose doc-level)."""
        if isinstance(node, BoolNode) and node.kind != "OR":
            base = self.docids(node.children[0])
            for c in node.children[1:]:
                other = self.docids(c)
                how = "left_semi" if node.kind == "AND" else "left_anti"
                base = base.join(other, "docid", how)
            return base.distinct()
        if isinstance(node, BoolNode):  # OR
            out = self.docids(node.children[0])
            for c in node.children[1:]:
                out = out.unionByName(self.docids(c))
            return out.distinct()
        return self.spans(node).select("docid").distinct()


def surround_docids(
    index: Index,
    query: str,
    field: str | None = None,
) -> DataFrame:
    """Evaluate a surround query -> (docid, n_spans) for span-producing
    roots, or (docid, n_spans=NULL->1) ... n_spans is the count of
    DISTINCT matching spans (the reference scores SpanNear by phrase
    frequency the same way). Boolean roots return n_spans=1 per doc."""
    node = parse_surround(query)
    specs: list[str] = []
    _collect_terms(node, specs)
    tids_of = {s: _expand_spec(index, s, field) for s in set(specs)}
    all_tids = sorted({t for v in tids_of.values() for t in v})
    spark = index.spark
    if not all_tids:
        return spark.createDataFrame([], "docid long, n_spans long")
    ev = _SpanEval(index, index.positions(all_tids), tids_of)
    if isinstance(node, BoolNode) and node.kind != "OR":
        return ev.docids(node).withColumn("n_spans", F.lit(1).cast("long"))
    return (
        ev.spans(node).groupBy("docid").agg(F.count(F.lit(1)).alias("n_spans"))
    )


# ------------------------------------------------------------- oracle

def surround_sql(query: str, analyzed_terms: dict[str, list[str]]) -> str:
    """DuckDB twin over the `documents` view: the same span algebra as
    joins over unnested (docid, term, pos) rows. `analyzed_terms` maps
    each non-truncated term spec in the query to its analyzed token(s)
    (the SQL side has no analyzer); truncated specs translate to SQL
    LIKE/regex matches on the token itself."""
    node = parse_surround(query)
    ctr = [0]

    def spans_sql(n) -> str:
        if isinstance(n, TermNode):
            if "*" in n.spec or "?" in n.spec:
                rx = (
                    "^"
                    + re.escape(n.spec).replace(r"\*", ".*").replace(r"\?", ".")
                    + "$"
                )
                cond = f"regexp_matches(term, '{rx}')"
            else:
                toks = analyzed_terms[n.spec]
                quoted = ", ".join(f"'{t}'" for t in toks)
                cond = f"term IN ({quoted})"
            return (
                f"(SELECT DISTINCT docid, p AS s, p + 1 AS e FROM pos "
                f"WHERE {cond})"
            )
        if isinstance(n, BoolNode):
            if n.kind != "OR":
                raise ValueError("only OR is span-legal")
            return (
                "(SELECT DISTINCT * FROM ("
                + " UNION ALL ".join(f"SELECT * FROM {spans_sql(c)} " for c in n.children)
                + "))"
            )
        assert isinstance(n, NearNode)
        slop = n.dist - 1
        kid_sqls = [spans_sql(c) for c in n.children]
        ctr[0] += 1
        als = [f"k{ctr[0]}_{i}" for i in range(len(kid_sqls))]
        joins = f"{kid_sqls[0]} {als[0]}"
        for i in range(1, len(kid_sqls)):
            joins += (
                f" JOIN {kid_sqls[i]} {als[i]} ON {als[i]}.docid = {als[0]}.docid"
            )
        if n.ordered:
            order_conds = " AND ".join(
                f"{als[i+1]}.s >= {als[i]}.e" for i in range(len(als) - 1)
            )
            gap = " + ".join(
                f"({als[i+1]}.s - {als[i]}.e)" for i in range(len(als) - 1)
            )
            return (
                f"(SELECT DISTINCT {als[0]}.docid, {als[0]}.s AS s, "
                f"{als[-1]}.e AS e FROM {joins} "
                f"WHERE {order_conds} AND ({gap}) <= {slop})"
            )
        mx = "greatest(" + ", ".join(f"{a}.e" for a in als) + ")"
        mn = "least(" + ", ".join(f"{a}.s" for a in als) + ")"
        total = " + ".join(f"({a}.e - {a}.s)" for a in als)
        return (
            f"(SELECT DISTINCT {als[0]}.docid, {mn} AS s, {mx} AS e "
            f"FROM {joins} WHERE {mx} - {mn} - ({total}) <= {slop})"
        )

    def docids_sql(n) -> str:
        if isinstance(n, BoolNode) and n.kind == "AND":
            return " INTERSECT ".join(
                f"SELECT docid FROM ({docids_sql(c)})" for c in n.children
            )
        if isinstance(n, BoolNode) and n.kind == "NOT":
            return " EXCEPT ".join(
                f"SELECT docid FROM ({docids_sql(c)})" for c in n.children
            )
        if isinstance(n, BoolNode):  # OR at doc level
            return " UNION ".join(
                f"SELECT docid FROM ({docids_sql(c)})" for c in n.children
            )
        return f"SELECT docid FROM {spans_sql(n)}"

    from solr_spark.analysis.analyzer import tokens_sql

    if isinstance(node, BoolNode) and node.kind != "OR":
        body = (
            f"SELECT docid, 1::BIGINT AS n_spans FROM ({docids_sql(node)})"
        )
    else:
        body = (
            f"SELECT docid, count(*)::BIGINT AS n_spans FROM "
            f"{spans_sql(node)} GROUP BY docid"
        )
    return f"""
WITH toks AS (SELECT doc_id AS docid, {tokens_sql('text')} AS toks FROM documents),
pos AS (SELECT docid, unnest(toks) AS term,
               unnest(range(1, len(toks) + 1)) AS p FROM toks)
{body}
ORDER BY docid
"""
