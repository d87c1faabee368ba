"""Full search execution: query AST -> scored, filtered top-k.

The Spark shape of the reference's /select component pipeline
(solr/core/src/java/org/apache/solr/handler/component/SearchHandler.java:286
prepare/process; QueryComponent.java:133 parse, :328 execute):

- q clauses score (BM25); field clauses never score and are applied as
  cheap predicates/semi-joins BEFORE aggregation (the filter/query
  separation of search/SolrIndexSearcher.java:956);
- boolean trees (parens, AND/OR/NOT, +/-) execute via matched-count
  checks, unions and anti-joins (BooleanQuery/BooleanScorer semantics,
  parser/SolrQueryParserBase.java); scores of matching clauses add;
- term boosts (term^2.5) multiply the clause's BM25 contribution;
- prefix/fuzzy expansions contribute constant score boost*1.0 per
  matching expansion (multiterm constant-score rewrite);
- range filters type their endpoints (numeric endpoints compare
  numerically, schema/FieldType.java:877), '*' = open end;
- phrase clauses require all words; with a positions index present
  they additionally verify adjacency (slop) through the positions
  table — no corpus re-tokenization;
- two-phase payload fetch: stored columns join only the k winners
  (QueryComponent.java:1213 GET_FIELDS).
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from solr_spark.index.builder import Index
from solr_spark.plans.qparser import (
    MUST,
    MUST_NOT,
    SHOULD,
    BoolNode,
    FieldClause,
    FuzzyNode,
    PhraseNode,
    PrefixNode,
    RangeVal,
    Term,
    parse_ast,
)
from solr_spark.query.engine import _scored_postings
from solr_spark.query.expand_ops import fuzzy_query, prefix_query


def _is_num(s: str) -> bool:
    try:
        float(s)
        return True
    except ValueError:
        return False


#: a range endpoint is date math when it starts with NOW or an ISO-8601
#: instant (trailing math like /DAY-7DAYS rides behind either)
_DATEMATH_START = re.compile(r"^(NOW|\d{4}-\d{2}-\d{2}T[\d:.]+Z)")


def _is_datemath(s: str) -> bool:
    return bool(_DATEMATH_START.match(s))


def _filter_pred(fname: str, op: str, val, now=None) -> Column:
    c = F.col(fname)
    if op == "eq":
        return c.cast("string") == str(val)
    if op == "prefix":
        return c.cast("string").startswith(str(val))
    if op == "range":
        if isinstance(val, tuple):  # legacy (lo, hi) inclusive
            val = RangeVal(val[0], val[1])
        rv: RangeVal = val
        ends = [v for v in (rv.lo, rv.hi) if v is not None]
        numeric = bool(ends) and all(_is_num(v) for v in ends)
        # Solr date fields accept date-math endpoints
        # (ts:[NOW/DAY-7DAYS TO NOW]): evaluate driver-side against the
        # pinned NOW and compare as timestamp LITERALS, so the predicate
        # still pushes down to the parquet scan
        is_date = (
            not numeric and bool(ends) and all(_is_datemath(v) for v in ends)
        )
        if is_date:
            from solr_spark.functions.datemath import datemath_naive

            cc = c.cast("timestamp")
            conv = lambda v: datemath_naive(v, now)  # noqa: E731
        else:
            cc = c.cast("double") if numeric else c.cast("string")
            conv = (lambda v: float(v)) if numeric else (lambda v: v)
        conds = []
        if rv.lo is not None:
            lo = conv(rv.lo)
            conds.append(cc >= lo if rv.lo_inc else cc > lo)
        if rv.hi is not None:
            hi = conv(rv.hi)
            conds.append(cc <= hi if rv.hi_inc else cc < hi)
        if not conds:
            return F.lit(True)
        pred = conds[0]
        for p in conds[1:]:
            pred = pred & p
        return pred
    raise ValueError(op)


def _analyze_term(t: str, index: Index | None = None) -> list[str]:
    if index is not None:
        return index.analyze(t)  # honors index-time stopwords/synonyms
    from solr_spark.analysis.analyzer import tokenize_py

    return tokenize_py(t)


def _scored_tokens(
    index: Index, weights: dict[str, float], must_set: set[str]
) -> tuple[DataFrame | None, int, bool]:
    """One bucket-pruned postings scan scoring all plain tokens of a bool
    level, through the engine's own scoring scan. Returns
    (DF(docid, score, _musts), n_must_tids_present, missing_must) —
    _musts counts distinct required tids matched."""
    if not weights:
        return None, 0, False
    scored, stats = _scored_postings(index, weights)
    missing_must = any(t not in stats for t in must_set)
    if not stats:
        return None, 0, missing_must
    must_tids = sorted({stats[t]["tid"] for t in must_set if t in stats})
    agg = scored.groupBy("docid").agg(
        F.sum("contrib").alias("score"),
        F.sum(F.col("tid").isin(must_tids).cast("int")).alias("_musts"),
    )
    return agg, len(must_tids), missing_must


def _phrase_docids(index: Index, words: list[str], slop: int) -> DataFrame | None:
    """Positional verification through the positions table (if built)."""
    if not index.meta.get("has_positions"):
        return None
    from solr_spark.query.positions import phrase_docids

    return phrase_docids(index, words, slop)


def _eval_bool(index: Index, node: BoolNode, now=None) -> DataFrame:
    """Evaluate a boolean subtree -> DF(docid, score) of matching docs.

    Occur semantics (BooleanQuery): docs must match every MUST child and
    no MUST_NOT child; if there is no MUST child, they must match at
    least one SHOULD child; matching SHOULD scores always add.
    Field clauses are non-scoring restrictions in any positive position.
    """
    def empty() -> DataFrame:  # built only on the paths that return it
        return index.spark.createDataFrame([], "docid long, score double")

    # plain-term children fold into ONE postings scan (weights + occur)
    weights: dict[str, float] = {}
    must_set: set[str] = set()
    filters: list[FieldClause] = []
    should_extras: list[DataFrame] = []
    must_extras: list[DataFrame] = []
    not_parts: list[DataFrame] = []
    not_filters: list[FieldClause] = []
    phrase_checks: list[DataFrame] = []

    def add_tokens(text: str, boost: float, occur: str):
        for tok in _analyze_term(text, index):
            if occur == MUST_NOT:
                continue  # handled by caller via ban scan
            weights[tok] = weights.get(tok, 0.0) + boost
            if occur == MUST:
                must_set.add(tok)

    ban_tokens: set[str] = set()
    for occur, child in node.clauses:
        if isinstance(child, Term):
            if occur == MUST_NOT:
                ban_tokens.update(_analyze_term(child.text, index))
            else:
                add_tokens(child.text, child.boost, occur)
        elif isinstance(child, PhraseNode):
            if occur == MUST_NOT:
                ban = _phrase_docids(index, child.words, child.slop)
                if ban is not None:
                    not_parts.append(ban.select("docid"))
                else:
                    for w in child.words:
                        ban_tokens.update(_analyze_term(w, index))
            else:
                # all words required + positional check when available
                for w in child.words:
                    add_tokens(w, child.boost, MUST)
                chk = _phrase_docids(index, child.words, child.slop)
                if chk is not None:
                    phrase_checks.append(chk.select("docid"))
        elif isinstance(child, (PrefixNode, FuzzyNode)):
            exp = (
                prefix_query(index, child.text)
                if isinstance(child, PrefixNode)
                else fuzzy_query(index, child.text, max_edits=child.max_edits)
            )
            exp = exp.select(
                "docid", (F.col("score") * F.lit(child.boost)).alias("score")
            )
            if occur == MUST_NOT:
                not_parts.append(exp.select("docid"))
            elif occur == MUST:
                must_extras.append(exp)
            else:
                should_extras.append(exp)
        elif isinstance(child, FieldClause):
            if occur == MUST_NOT:
                not_filters.append(child)
            else:
                filters.append(child)
        elif isinstance(child, BoolNode):
            sub = _eval_bool(index, child, now)
            if occur == MUST_NOT:
                not_parts.append(sub.select("docid"))
            elif occur == MUST:
                must_extras.append(sub)
            else:
                should_extras.append(sub)

    base, n_must_tids, missing_must = _scored_tokens(index, weights, must_set)
    if missing_must:
        return empty()  # a required term is absent from the index

    parts: list[DataFrame] = []
    n_required = n_must_tids + len(must_extras)
    if base is not None:
        parts.append(base)
    for p in should_extras:
        parts.append(p.withColumn("_musts", F.lit(0)))
    for p in must_extras:
        parts.append(p.withColumn("_musts", F.lit(1)))

    if not parts:
        if weights:
            return empty()  # scoring terms requested, none resolved
        if filters or not_filters or ban_tokens or not_parts:
            agg = index.docs_live().select("docid", F.lit(1.0).alias("score"))
        else:
            return empty()
    else:
        merged = parts[0]
        for p in parts[1:]:
            merged = merged.unionByName(p)
        agg = merged.groupBy("docid").agg(
            F.sum("score").alias("score"), F.sum("_musts").alias("_m")
        )
        if n_required:
            agg = agg.where(F.col("_m") == n_required)
        agg = agg.select("docid", "score")

    for chk in phrase_checks:
        agg = agg.join(chk, "docid", "left_semi")

    if ban_tokens:
        ban_stats = index.term_stats_for(sorted(ban_tokens))
        ban_tids = [s["tid"] for s in ban_stats.values()]
        if ban_tids:
            banned = index.postings(ban_tids).select("docid").distinct()
            agg = agg.join(banned, "docid", "left_anti")
    for np_ in not_parts:
        agg = agg.join(np_, "docid", "left_anti")

    if filters:
        pred = None
        for fc in filters:
            p = _filter_pred(fc.field, fc.op, fc.value, now)
            pred = p if pred is None else (pred & p)
        keep = index.docs().where(pred).select("docid")
        agg = agg.join(keep, "docid", "left_semi")
    if not_filters:
        pred = None
        for fc in not_filters:
            p = _filter_pred(fc.field, fc.op, fc.value, now)
            pred = p if pred is None else (pred | p)
        drop = index.docs().where(pred).select("docid")
        agg = agg.join(drop, "docid", "left_anti")

    return agg


def _parse_sort(sort: str) -> list[tuple[str, bool]]:
    """Solr sort syntax: 'field1 asc, field2 desc' ('score' allowed)."""
    out = []
    for part in sort.split(","):
        bits = part.split()
        if not bits:
            continue
        fld = bits[0]
        direction = bits[1].lower() if len(bits) > 1 else "asc"
        if direction not in ("asc", "desc"):
            raise ValueError(f"bad sort direction {direction!r} in {sort!r}")
        out.append((fld, direction == "asc"))
    return out


def search(
    index: Index,
    q: str,
    k: int = 10,
    with_payload: bool = False,
    default_op: str = "OR",
    now=None,
    sort: str | None = None,
) -> DataFrame:
    """Execute a lucene-syntax query string against the index.

    `now` pins NOW for date-math range endpoints (the CommonParams.NOW
    analogue a distributed Solr request carries). `sort` is the Solr
    sort param ('price desc, score desc'; default 'score desc'): stored
    fields join in from the docs table before the top-k, so the
    TakeOrderedAndProject heap still bounds the result — never a full
    collect-then-sort."""
    ast = parse_ast(q, default_op)
    agg = _eval_bool(index, ast, now)
    keys = _parse_sort(sort) if sort else [("score", False)]
    need_fields = [f for f, _ in keys if f not in ("score", "docid")]
    scored = agg.select("docid", F.round("score", 4).alias("score"))
    if need_fields:
        scored = scored.join(
            index.docs().select("docid", *need_fields), "docid", "left"
        )
    order = [
        (F.asc(f) if asc else F.desc(f)) for f, asc in keys
    ] + [F.asc("docid")]
    result = scored.orderBy(*order).limit(k).select("docid", "score")
    if with_payload:
        payload_cols = [c for c in index.docs().columns if c != "docid"]
        result = (
            result.join(index.docs(), "docid", "left")
            .select("docid", "score", *payload_cols)
            .orderBy(*order)  # payload brings the sort fields back
        )
    return result
