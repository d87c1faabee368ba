"""Term-expansion (multiterm) queries and re-ranking operators.

Reference surface:
- prefix/wildcard/fuzzy/regex term expansion:
  solr/core/src/java/org/apache/solr/parser/SolrQueryParserBase.java:598,814-832,
  search/PrefixQParserPlugin.java:31. Lucene rewrites these against the
  term dictionary; here the term dictionary IS the term_stats table, so
  expansion is a filter on it followed by a postings semi-join.
  Multiterm queries score as constant-score (Lucene's default
  CONSTANT_SCORE_BLENDED rewrite -> every matching doc scores 1.0).
- re-rank: search/ReRankQParserPlugin.java:36 + ReRankCollector (rescore
  the top N of the main query, blend scores).
- boost: search/BoostQParserPlugin.java:39 (multiply score by a
  function-query value).
- term/terms (set) query: search/TermQParserPlugin.java:42,
  TermsQParserPlugin.java:57 -> exact postings filter / isin semi-join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from solr_spark.index.builder import Index, tid_bucket_col


def _expanded_docs(index: Index, term_pred: Column) -> DataFrame:
    """Docs matching any term satisfying `term_pred` — constant score 1.

    The predicate runs on the term DICTIONARY (term_stats, which carries
    the strings); matching tids broadcast-join the postings — the
    dictionary-scan-then-postings-seek shape of Lucene's multiterm
    rewrite. The dictionary side carries each tid's postings bucket, so
    the join on (tid, bucket) lets dynamic partition pruning skip every
    postings bucket no expanded term lives in, with no collect and no
    cap on the expansion. On multi-field indexes the dictionary scan is
    scoped to the default field (a multiterm query targets one field in
    Solr)."""
    tids = index.term_dictionary().where(term_pred).select(
        "tid", tid_bucket_col("tid", index.meta["num_buckets"]).alias("bucket")
    )
    post = index.postings().join(F.broadcast(tids), ["tid", "bucket"])
    return post.select("docid").distinct().withColumn("score", F.lit(1.0))


def prefix_query(index: Index, prefix: str) -> DataFrame:
    return _expanded_docs(index, F.col("term").startswith(prefix))


def wildcard_query(index: Index, pattern: str) -> DataFrame:
    """Glob pattern: * -> any run, ? -> one char (anchored)."""
    import re

    rx = "^" + "".join(
        ".*" if c == "*" else "." if c == "?" else re.escape(c) for c in pattern
    ) + "$"
    return _expanded_docs(index, F.col("term").rlike(rx))


def regex_query(index: Index, rx: str) -> DataFrame:
    return _expanded_docs(index, F.col("term").rlike(rx))


def fuzzy_query(index: Index, term: str, max_edits: int = 2) -> DataFrame:
    return _expanded_docs(
        index, F.levenshtein(F.col("term"), F.lit(term)) <= max_edits
    )


def term_set_query(index: Index, terms: list[str]) -> DataFrame:
    """{!terms f=content}a,b,c — semi-join against an explicit value set."""
    return _expanded_docs(index, F.col("term").isin(terms))


def rerank(
    main: DataFrame,
    rerank_scores: DataFrame,
    rerank_docs: int = 50,
    rerank_weight: float = 2.0,
    k: int = 10,
) -> DataFrame:
    """Re-rank the top `rerank_docs` of `main` (docid, score) by adding
    rerank_weight * rerank_scores.score (missing -> 0); the tail keeps
    its original order below the re-ranked head."""
    head = main.orderBy(F.desc("score"), F.asc("docid")).limit(rerank_docs)
    rr = rerank_scores.select(
        "docid", F.col("score").alias("_rr")
    )
    blended = (
        head.join(rr, "docid", "left")
        .select(
            "docid",
            (
                F.col("score")
                + F.lit(rerank_weight) * F.coalesce(F.col("_rr"), F.lit(0.0))
            ).alias("score"),
        )
    )
    return blended.orderBy(F.desc("score"), F.asc("docid")).limit(k)


def boost_by(scored: DataFrame, boost: Column, k: int = 10) -> DataFrame:
    """{!boost b=f(x)} — multiply score by a function-query column."""
    return (
        scored.select("docid", (F.col("score") * boost).alias("score"))
        .orderBy(F.desc("score"), F.asc("docid"))
        .limit(k)
    )
