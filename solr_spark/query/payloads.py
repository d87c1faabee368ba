"""Payload queries over the payload-bearing flat positions layout.

Reference: solr/core/src/java/org/apache/solr/search/
PayloadScoreQParserPlugin.java and PayloadCheckQParserPlugin.java
(Lucene PayloadScoreQuery / SpanPayloadCheckQuery), fed by the
`payloads` fieldType (WhitespaceTokenizer + DelimitedPayloadTokenFilter,
float encoder). Index side: `build_index(..., build_positions=True,
analyzer={"delimited_payloads": "|"})` threads a position-aligned
nullable float `payload` column through the flat (tid, docid, pos)
positions table — ONE extra column that payload-free readers prune at
the parquet scan.

Spark shape: both operators run on the bucket-pruned positions scan of
the query's terms only. Single-term payload_score is a plain
groupBy-agg (map-side partial). Multi-term queries are Lucene's
in-order zero-slop SpanNear: an adjacency self-join chain on
(docid, pos), the same join shape as the surround span algebra —
docid-keyed equi-joins Catalyst plans as shuffled/broadcast hash joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from solr_spark.index.builder import Index

_FUNCS = {
    "min": F.min,
    "max": F.max,
    "avg": F.avg,
    "average": F.avg,
    "sum": F.sum,
}


def _payload_positions(index: Index, terms: list[str]):
    """(tids_per_term, pruned positions scan) or (None, None) when any
    term is absent from the dictionary."""
    if not index.meta.get("has_payloads"):
        raise ValueError("payload queries need a delimited_payloads index")
    stats = index.term_stats_for(sorted(set(terms)))
    if any(t not in stats for t in terms):
        return None, None
    tid_of = {t: stats[t]["tid"] for t in set(terms)}
    tids = sorted(set(tid_of.values()))
    pos = index.positions(tids).select("tid", "docid", "pos", "payload")
    return [tid_of[t] for t in terms], pos


def _span_rows(pos: DataFrame, tids: list[int]) -> DataFrame:
    """Adjacency-chain join for multi-term queries: one row per matched
    in-order zero-slop span, payload_0..payload_{n-1} columns."""
    cur = (
        pos.where(F.col("tid") == tids[0])
        .select("docid", F.col("pos").alias("p"), F.col("payload").alias("payload_0"))
        .alias("pl0")
    )
    for i, tid in enumerate(tids[1:], start=1):
        nxt = (
            pos.where(F.col("tid") == tid)
            .select(
                "docid",
                F.col("pos").alias(f"p_{i}"),
                F.col("payload").alias(f"payload_{i}"),
            )
            .alias(f"pl{i}")
        )
        cur = (
            cur.join(nxt, "docid")
            .where(F.col(f"p_{i}") == F.col("p") + i)
        )
    return cur


def payload_score(
    index: Index, query: str, func: str = "average"
) -> DataFrame:
    """{!payload_score f=... func=...} -> (docid, score): `func` over
    every payload inside every matching span (Lucene's PayloadFunction
    over the SpanTermQuery / in-order zero-slop SpanNearQuery;
    includeSpanScore=false, the default)."""
    if func not in _FUNCS:
        raise ValueError(f"payload_score: unknown func {func!r}")
    terms = index.analyze(query)
    if not terms:
        return index.spark.createDataFrame([], "docid long, score double")
    tids, pos = _payload_positions(index, terms)
    if tids is None:
        return index.spark.createDataFrame([], "docid long, score double")
    if len(tids) == 1:
        rows = pos.select("docid", "payload")
    else:
        spans = _span_rows(pos, tids)
        pay = F.array(*[F.col(f"payload_{i}") for i in range(len(tids))])
        rows = spans.select(
            "docid", F.explode(pay).alias("payload")
        )
    # a matching doc whose positions carry no payloads scores 0, not
    # NULL (Lucene PayloadFunction.docScore with numPayloadsSeen == 0)
    return rows.groupBy("docid").agg(
        F.coalesce(
            _FUNCS[func]("payload").cast("double"), F.lit(0.0)
        ).alias("score")
    )


_OPS = {
    "eq": lambda c, v: c == v,
    "gt": lambda c, v: c > v,
    "gte": lambda c, v: c >= v,
    "lt": lambda c, v: c < v,
    "lte": lambda c, v: c <= v,
}


def payload_check(
    index: Index,
    query: str,
    payloads: list[float],
    op: str = "eq",
) -> DataFrame:
    """{!payload_check f=... payloads='...' op=eq|gt|gte|lt|lte} ->
    (docid, n_spans): docs with at least one in-order zero-slop span of
    the query terms whose i-th position payload satisfies
    `payload_i op payloads[i]` for every i (SpanPayloadCheckQuery
    MatchOperation)."""
    if op not in _OPS:
        raise ValueError(f"payload_check: unknown op {op!r}")
    terms = index.analyze(query)
    if not terms or len(payloads) != len(terms):
        return index.spark.createDataFrame([], "docid long, n_spans long")
    tids, pos = _payload_positions(index, terms)
    if tids is None:
        return index.spark.createDataFrame([], "docid long, n_spans long")
    spans = _span_rows(pos, tids)
    for i, want in enumerate(payloads):
        spans = spans.where(
            _OPS[op](F.col(f"payload_{i}"), F.lit(float(want)))
        )
    return spans.groupBy("docid").agg(F.count(F.lit(1)).alias("n_spans"))
