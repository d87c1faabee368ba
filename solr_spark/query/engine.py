"""BM25 top-k query execution over the flat bucketed postings.

Mirrors the reference's two-phase distributed query
(solr/core/src/java/org/apache/solr/handler/component/QueryComponent.java:555-651
EXECUTE_QUERY then GET_FIELDS at :1213, shard-merge at :833):

- phase 1 touches only postings + term stats: score, per-partition top-k
  and a driver merge (Spark's TakeOrderedAndProject gives exactly the
  per-shard-heap + coordinator-merge shape);
- phase 2 joins stored fields (repo/path/lang/sha256) only for the k
  winner docids — the `content`-sized payload never enters the shuffle.

Global IDF comes from the index-wide term_stats table, the Spark
analogue of the distributed stats exchange
(solr/core/src/java/org/apache/solr/search/stats/ExactStatsCache.java:62,118-155):
every partition scores with identical global df/N, so distributed
results are identical to single-node results by construction.

Query terms are analyzed with the SAME chain as indexing and broadcast
as a tiny (term, qtf, idf) relation; a duplicated query term scores once
per occurrence (BooleanQuery-with-repeated-clause semantics). Ties break
by ascending docid (QueryComponent.java:866-868 merge tie-break).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from solr_spark.analysis.analyzer import tokenize_py
from solr_spark.functions.bm25 import idf_py, tf_part_col
from solr_spark.index.builder import Index

#: query-term count up to which the scoring weights inline as a CASE
#: WHEN chain instead of a broadcast qrel join (the chain is linear in
#: terms; past a couple dozen the relation join plans better)
QREL_INLINE_MAX = 24


def norm_mode(mode: str) -> str:
    """Canonicalize the match mode ('or'/'and', any case). Unknown
    values raise — a typo'd mode silently scoring as OR is a wrong
    result set, not a default."""
    m = str(mode).upper()
    if m not in ("OR", "AND"):
        raise ValueError(f"mode must be 'OR' or 'AND', got {mode!r}")
    return m


def analyze_query(qtext: str, index: Index | None = None) -> dict[str, int]:
    """query text -> {term: qtf} via the shared analysis chain.

    Pass `index` to honor its index-time analyzer config (stopwords /
    synonyms stored in meta, round 3) — index and query analysis MUST
    agree or stopworded/synonym terms silently never match."""
    toks = index.analyze(qtext) if index is not None else tokenize_py(qtext)
    counts: dict[str, int] = {}
    for t in toks:
        counts[t] = counts.get(t, 0) + 1
    return counts


def _scored_postings(
    index: Index, qterms: dict[str, float], field: str | None = None
) -> tuple[DataFrame | None, dict[str, dict]]:
    """Postings of the query terms with per-(term,doc) contributions.

    Phase A (tiny, bucket-pruned term_stats scan): resolve term -> (tid,
    df) and compute idf with the GLOBAL df — the Spark shape of the
    distributed-stats exchange
    (solr/core/src/java/org/apache/solr/search/stats/ExactStatsCache.java:62).
    Phase B: scan only the live postings partitions of those tids, with
    the tid IN (...) literal list pushed down to the parquet scan.
    `qterms` maps each term to its query weight (qtf, or a summed boost).

    Returns (DF(tid, docid, contrib) or None, stats of the present terms).
    """
    n_docs = index.meta["n_docs"]
    fld, avgdl = index.scoring_field(field)
    stats = index.term_stats_for(list(qterms), field=fld)
    if not stats:
        return None, stats
    postings = index.postings([s["tid"] for s in stats.values()])
    tp = tf_part_col(F.col("tf"), F.col("dl_q"), avgdl)
    if len(stats) <= QREL_INLINE_MAX:
        # interactive fast path: the per-tid weight qtf*idf is a
        # CONSTANT, so inline it as a chained CASE WHEN on tid instead
        # of materializing a qrel DataFrame + broadcast join — no Py4J
        # createDataFrame round-trip, no broadcast exchange to plan.
        # Identical arithmetic to the join path (same float weights).
        w = None
        for t, s in stats.items():
            weight = F.lit(float(qterms[t]) * idf_py(int(s["df"]), n_docs))
            cond = F.col("tid") == int(s["tid"])
            w = F.when(cond, weight) if w is None else w.when(cond, weight)
        return postings.select("tid", "docid", (w * tp).alias("contrib")), stats
    qrel = index.spark.createDataFrame(
        [
            (s["tid"], float(qterms[t]), idf_py(int(s["df"]), n_docs))
            for t, s in stats.items()
        ],
        "tid long, qtf double, idf double",
    )
    scored = postings.join(F.broadcast(qrel), "tid").select(
        "tid", "docid", (F.col("qtf") * F.col("idf") * tp).alias("contrib")
    )
    return scored, stats


def bm25_scores(
    index: Index, qtext: str, mode: str = "OR", field: str | None = None
) -> DataFrame:
    """(docid, score) for ALL matching docs — no ordering, no limit.

    The value-source form: `query($q)` (ValueSourceParser.java:350-420,
    QueryValueSource) reads a subquery's score per document, so it needs
    the full score frame to join by docid, not a top-k."""
    mode = norm_mode(mode)
    qterms = analyze_query(qtext, index)
    scored, stats = _scored_postings(index, qterms, field)
    n_present = len(stats)
    if n_present == 0 or (mode == "AND" and n_present < len(qterms)):
        return index.spark.createDataFrame([], "docid long, score double")
    agg = scored.groupBy("docid").agg(
        F.sum("contrib").alias("score"),
        F.count(F.lit(1)).alias("_nmatched"),
    )
    if mode == "AND":
        agg = agg.where(F.col("_nmatched") == n_present)
    return agg.select("docid", "score")


def bm25_topk(
    index: Index,
    qtext: str,
    k: int = 10,
    mode: str = "OR",
    with_payload: bool = False,
    field: str | None = None,
) -> DataFrame:
    """Top-k (docid, score) for an analyzed free-text query.

    mode="AND" keeps only docs matching every distinct query term
    (postings-intersection semantics: matched-term count == #terms);
    an AND query with an absent term returns no rows. The main pass is
    ONE job: per-partition heap + driver merge (TakeOrderedAndProject).
    """
    # tie-break on the score ROUNDED to 9 decimals: raw float64 sums
    # differ in the last ulp between plans (aggregation order), so a
    # mathematical tie would otherwise order differently in the flat
    # vs pruned paths; 1e-9 is far below any real BM25 separation
    result = (
        bm25_scores(index, qtext, mode, field)
        .orderBy(F.desc(F.round("score", 9)), F.asc("docid"))
        .limit(k)
    )
    if with_payload:
        payload_cols = [c for c in index.docs().columns if c not in ("docid",)]
        result = (
            result.join(index.docs(), "docid", "left")
            .select("docid", "score", *payload_cols)
            .orderBy(F.desc("score"), F.asc("docid"))
        )
    return result


def realtime_get(
    index: Index,
    docids: list[int],
    tlog: DataFrame | None = None,
    version_col: str = "_version_",
) -> DataFrame:
    """Real-time get: fetch docs by id, seeing UNCOMMITTED updates first.

    The reference answers /get from the in-memory update log before
    falling back to the last commit point
    (solr/core/src/java/org/apache/solr/handler/component/RealTimeGetComponent.java:110-180
    consults UpdateLog.lookup, then the searcher). Spark shape: `tlog` is
    the not-yet-published micro-batch (docid, <doc fields>, _version_);
    the LATEST tlog row per docid (max version) overlays the committed
    docs table, and a tlog row with all payload fields null is a delete
    tombstone. Both sides are pruned to the requested ids before the
    join, so the lookup is k-row work, not a corpus scan.
    """
    from pyspark.sql.window import Window

    # docs_live: a docid tombstoned in the deletes sidecar is gone from
    # /get too (unless the tlog re-adds it below — same as the reference,
    # where a post-delete update makes the doc visible again)
    committed = index.docs_live().where(F.col("docid").isin(list(docids)))
    if tlog is None:
        return committed.orderBy("docid")
    fields = [c for c in committed.columns if c != "docid"]
    deleted = "_deleted_" if "_deleted_" in tlog.columns else None
    latest = (
        tlog.where(F.col("docid").isin(list(docids)))
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("docid").orderBy(F.desc(version_col))
            ),
        )
        .where(F.col("_rn") == 1)
    )
    overlaid = committed.join(
        latest.select(
            "docid",
            F.lit(True).alias("_in_tlog"),
            (F.col(deleted) if deleted else F.lit(False)).alias("_tomb"),
            *[F.col(c).alias(f"_t_{c}") for c in fields],
        ),
        "docid",
        "full",
    )
    in_tlog = F.coalesce(F.col("_in_tlog"), F.lit(False))
    out = (
        overlaid.where(~F.coalesce(F.col("_tomb"), F.lit(False)))
        .select(
            "docid",
            *[
                F.when(in_tlog, F.col(f"_t_{c}")).otherwise(F.col(c)).alias(c)
                for c in fields
            ],
            in_tlog.alias("_from_tlog"),
        )
    )
    return out.orderBy("docid")


def bm25_explain(
    index: Index,
    qtext: str,
    docids: list[int],
    field: str | None = None,
) -> DataFrame:
    """Lucene-style score explanation (debug=true / Explanation.java via
    solr/core/src/java/org/apache/solr/util/SolrPluginUtils.java
    getExplanations): per-(doc, term) BM25 component breakdown for the
    requested docids — (docid, term, qtf, df, idf, tf, dl_q, tf_part,
    contrib), contrib = qtf·idf·tf_part and score = Σ contrib.

    Scan shape: same bucket-pruned tid IN (...) postings read as the
    query path, PLUS docid IN (...) pushed to the scan — explain work is
    O(|terms|·|docids|), never corpus-sized.
    """
    spark = index.spark
    n_docs = index.meta["n_docs"]
    qterms = analyze_query(qtext, index)
    empty = spark.createDataFrame(
        [],
        "docid long, term string, qtf double, df long, idf double, "
        "tf long, dl_q long, tf_part double, contrib double",
    )
    if not qterms:
        return empty
    fld, avgdl = index.scoring_field(field)
    stats = index.term_stats_for(list(qterms), field=fld)
    if not stats:
        return empty
    qrel = spark.createDataFrame(
        [
            (s["tid"], t, float(qterms[t]), int(s["df"]),
             idf_py(int(s["df"]), n_docs))
            for t, s in stats.items()
        ],
        "tid long, term string, qtf double, df long, idf double",
    )
    # the live view: explain agrees with search while deletes are
    # pending (a deleted doc scores nowhere, so it has no breakdown)
    postings = index.postings([s["tid"] for s in stats.values()]).where(
        F.col("docid").isin([int(x) for x in docids])
    )
    tp = tf_part_col(F.col("tf"), F.col("dl_q"), avgdl)
    return (
        postings.join(F.broadcast(qrel), "tid")
        .select(
            "docid",
            "term",
            "qtf",
            "df",
            F.round("idf", 6).alias("idf"),
            F.col("tf").cast("long").alias("tf"),
            F.col("dl_q").cast("long").alias("dl_q"),
            F.round(tp, 6).alias("tf_part"),
            F.round(F.col("qtf") * F.col("idf") * tp, 6).alias("contrib"),
        )
        .orderBy("docid", "term")
    )


def bm25_topk_batch(
    index: Index,
    queries: dict[str, str],
    k: int = 10,
    mode: str = "OR",
    field: str | None = None,
    with_payload: bool = False,
) -> DataFrame:
    """N queries in ONE distributed plan -> (qid, docid, score, rank).

    The bulk-workload shape of the engine (the reference runs each query
    as its own request; at 100 TB with a query LOG to score — relevance
    eval sets, MLT fan-outs, alert subscriptions — per-query driver
    round-trips become the bottleneck, as the round-4 query-throughput
    scaling study measured: concurrent single queries plateaued at
    ~3 qps regardless of cores because analysis/planning serialize on
    the driver). Here the whole batch is data:

    - all queries analyzed driver-side once; ONE dictionary seek for
      the union of their terms;
    - ONE bucket-pruned postings scan with the union tid IN (...) list;
    - a broadcast (qid, tid, qtf, idf) relation fans each posting out
      to the queries that want it;
    - groupBy (qid, docid) + per-qid window top-k: two shuffles TOTAL
      for the entire batch, independent of |queries|.

    Same scoring/tie-break contract as bm25_topk (round(score,9) desc,
    docid asc); AND-mode queries require all their present terms and
    drop entirely when a term is absent from the index.
    """
    from pyspark.sql import Window

    mode = norm_mode(mode)

    spark = index.spark
    n_docs = index.meta["n_docs"]
    per_q = {qid: analyze_query(qt, index) for qid, qt in queries.items()}
    all_terms = sorted({t for qs in per_q.values() for t in qs})
    empty = spark.createDataFrame(
        [], "qid string, docid long, score double, rank int"
    )
    if not all_terms:
        return empty
    fld, avgdl = index.scoring_field(field)
    stats = index.term_stats_for(all_terms, field=fld)
    # CANONICALIZE: real query logs are head-heavy — many qids analyze
    # to the SAME term multiset, and each duplicate would otherwise pay
    # the full postings fan-out (measured: 256 qids over 6 distinct
    # texts exploded to 150M contrib rows; canonical scoring is 6/256
    # of that). Score each distinct term multiset once under an int
    # ordinal; every qid label joins back onto the k result rows.
    canon_of: dict[str, int] = {}
    canon_terms: list[dict[str, int]] = []
    label_rows = []
    for qid, qterms in per_q.items():
        key = tuple(sorted(qterms.items()))
        cid = canon_of.get(key)
        if cid is None:
            cid = canon_of[key] = len(canon_terms)
            canon_terms.append(qterms)
        label_rows.append((cid, qid))
    qrel_rows, req_rows = [], []
    for cid, qterms in enumerate(canon_terms):
        present = [t for t in qterms if t in stats]
        if not qterms or (mode == "AND" and len(present) < len(qterms)):
            continue  # AND with an absent term matches nothing
        for t in present:
            s = stats[t]
            qrel_rows.append(
                (cid, s["tid"], float(qterms[t]),
                 idf_py(int(s["df"]), n_docs))
            )
        req_rows.append((cid, len(present)))
    if not qrel_rows:
        return empty
    qrel = spark.createDataFrame(
        qrel_rows, "qid int, tid long, qtf double, idf double"
    )
    req = spark.createDataFrame(req_rows, "qid int, n_req int")
    labels = spark.createDataFrame(
        label_rows, "qid int, qid_label string"
    )
    postings = index.postings(sorted({r[1] for r in qrel_rows}))
    contrib = postings.join(F.broadcast(qrel), "tid").select(
        "qid",
        "docid",
        (
            F.col("qtf")
            * F.col("idf")
            * tf_part_col(F.col("tf"), F.col("dl_q"), avgdl)
        ).alias("contrib"),
    )
    agg = contrib.groupBy("qid", "docid").agg(
        F.sum("contrib").alias("score"),
        F.count(F.lit(1)).alias("_nm"),
    )
    if mode == "AND":
        agg = agg.join(F.broadcast(req), "qid").where(
            F.col("_nm") == F.col("n_req")
        )
    w = Window.partitionBy("qid").orderBy(
        F.desc(F.round("score", 9)), F.asc("docid")
    )
    out = (
        agg.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
        .join(F.broadcast(labels), "qid")
        .select(
            F.col("qid_label").alias("qid"), "docid", "score", "rank"
        )
    )
    if with_payload:
        # GET_FIELDS phase for the whole batch at once: one join of the
        # k·|queries| winner rows against the docs table (content-free)
        payload_cols = [c for c in index.docs().columns if c != "docid"]
        out = out.join(index.docs(), "docid", "left").select(
            "qid", "docid", "score", "rank", *payload_cols
        )
    return out.orderBy("qid", "rank")


def bm25_topk_maxscore(
    index: Index,
    qtext: str,
    k: int = 10,
    field: str | None = None,
) -> DataFrame:
    """MaxScoreQParser (solr/core/src/java/org/apache/solr/search/
    MaxScoreQParserPlugin.java): OR query scored with MAX over the
    matching clauses' scores instead of SUM ("take the best clause"),
    tie=0. Same single-job shape as bm25_topk — only the aggregate
    changes."""
    qterms = analyze_query(qtext, index)
    scored, stats = _scored_postings(index, qterms, field)
    if not stats:
        return index.spark.createDataFrame([], "docid long, score double")
    return (
        scored.groupBy("docid")
        .agg(F.max("contrib").alias("score"))
        .orderBy(F.desc(F.round("score", 9)), F.asc("docid"))
        .limit(k)
    )
