"""Driver contract for the spark-graft builder (PySpark target).

`queries()` exposes the engine's operator surface (SURVEY.md §2) as
self-contained callables over the harness parquet tables; `oracle_sql()`
pairs each with DuckDB SQL generated from the SAME shared definitions
(analyzer regexes, SmallFloat table, BM25 constants, wordlists) so the
two sides agree exactly. Doubles that involve arithmetic are rounded to
4 decimals on both sides; big sums go through exact DECIMAL components
(solr_spark.functions.det) to be addition-order independent.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from solr_spark.analysis.analyzer import tokens_sql
from solr_spark.functions.smallfloat import DECODE_TABLE as _SF_TABLE
from solr_spark.functions.det import (
    davg_sql,
    dstddev_sql,
    dsum,
    dsum_sql,
)
from solr_spark.operators import collapse as C
from solr_spark.operators import dedup as D
from solr_spark.operators import facets as FA
from solr_spark.operators import graph as GR
from solr_spark.operators import relevance as R
from solr_spark.operators import similarity as SIM
from solr_spark.operators import streams as S
from solr_spark.operators import spatial as SP
from solr_spark.operators import textstats as TS
from solr_spark.oracle import sqlgen as G
from solr_spark.operators import blockjoin as BJ
from solr_spark.operators import ml as ML
from solr_spark.query.inline import (
    bm25_inline_scores,
    bm25_inline_topk,
    doc_tokens,
)

# ------------------------------------------------- real-engine gate index
#
# Round-1 blind spot (VERDICT.md item 2): every bm25_* gate ran the
# index-free inline path, so the driver's external oracle never touched
# the postings layout, bucket pruning, or the WAND path. These helpers
# build a REAL index (builder -> bucketed postings -> blocks -> positions)
# from the harness `documents` table under /tmp and serve it to the
# *_indexed gate entries below. Cached per sf_dir; concurrent builders
# race safely via atomic rename (loser adopts the winner's index).

_GATE_IDX: dict = {}


def _gate_index(spark, sf_dir):
    import hashlib
    import os
    import shutil

    from solr_spark.index.builder import Index, build_index
    from solr_spark.sources.corpus import documents_as_corpus

    if sf_dir in _GATE_IDX:
        return _GATE_IDX[sf_dir]
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    root = f"/tmp/solr_spark_gate/index_{tag}"
    meta = os.path.join(root, "meta.json")
    if not os.path.exists(meta):
        tmp = f"{root}.build_{os.getpid()}"
        build_index(
            spark,
            documents_as_corpus(spark, sf_dir),
            tmp,
            num_buckets=8,
            salt_threshold=200,
            num_salts=4,
            block_size=16,
            build_blocks=True,
            build_positions=True,
        )
        os.makedirs(os.path.dirname(root), exist_ok=True)
        try:
            os.rename(tmp, root)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)  # lost the race
    idx = Index.load(spark, root)
    _GATE_IDX[sf_dir] = idx
    return idx


_PAYLOAD_IDX: dict = {}


def _payload_index(spark, sf_dir):
    """Payload-bearing index over a deterministic DelimitedPayload
    corpus derived from `orders`: every doc carries two 'price' tokens
    (payloads o_totalprice and o_custkey) and one 'seg' token (payload
    o_custkey % 97) — the payloads fieldType shape (WhitespaceTokenizer
    + DelimitedPayloadTokenFilter float encoder)."""
    import hashlib
    import os
    import shutil

    from solr_spark.index.builder import Index, build_index

    if sf_dir in _PAYLOAD_IDX:
        return _PAYLOAD_IDX[sf_dir]
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    root = f"/tmp/solr_spark_gate/payload_{tag}"
    meta = os.path.join(root, "meta.json")
    if not os.path.exists(meta):
        orders = _t(spark, sf_dir, "orders")
        corpus = orders.select(
            F.lit("ord").alias("repo"),
            F.col("o_orderkey").cast("string").alias("path"),
            F.lit("-").alias("commit"),
            F.lit("en").alias("lang"),
            F.concat(
                F.lit("price|"), F.col("o_totalprice").cast("string"),
                F.lit(" price|"), F.col("o_custkey").cast("string"),
                F.lit(" seg|"),
                F.pmod(F.col("o_custkey"), F.lit(97)).cast("string"),
            ).alias("content"),
            F.col("o_orderkey").cast("long").alias("docid"),
        )
        tmp = f"{root}.build_{os.getpid()}"
        build_index(
            spark, corpus, tmp, num_buckets=4, build_blocks=False,
            build_positions=True, analyzer={"delimited_payloads": "|"},
        )
        os.makedirs(os.path.dirname(root), exist_ok=True)
        try:
            os.rename(tmp, root)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)
    idx = Index.load(spark, root)
    _PAYLOAD_IDX[sf_dir] = idx
    return idx


def _gate_index_del(spark, sf_dir):
    """Cached gate index with a delete_by_query APPLIED: docs matching
    'table' are tombstoned in the liveDocs sidecar (stats keep their
    build-time values — Lucene semantics). The end state is
    deterministic and idempotent, so caching is safe."""
    import hashlib
    import os
    import shutil

    from solr_spark.index.builder import Index, build_index
    from solr_spark.index.maintenance import delete_by_query
    from solr_spark.sources.corpus import documents_as_corpus

    key = ("del", sf_dir)
    if key in _GATE_IDX:
        return _GATE_IDX[key]
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    root = f"/tmp/solr_spark_gate/index_del_{tag}"
    done = os.path.join(root, "_deletes_applied")
    if not os.path.exists(done):
        tmp = f"{root}.build_{os.getpid()}"
        build_index(
            spark,
            documents_as_corpus(spark, sf_dir),
            tmp,
            num_buckets=8,
            salt_threshold=200,
            num_salts=4,
        )
        idx_tmp = Index.load(spark, tmp)
        delete_by_query(idx_tmp, "table", mode="AND")
        with open(os.path.join(tmp, "_deletes_applied"), "w") as f:
            f.write("1")
        os.makedirs(os.path.dirname(root), exist_ok=True)
        try:
            shutil.rmtree(root, ignore_errors=True)
            os.rename(tmp, root)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)  # lost the race
    idx = Index.load(spark, root)
    _GATE_IDX[key] = idx
    return idx


def _gate_index_mf(spark, sf_dir):
    """Cached MULTI-FIELD gate index over documents (fields text + lang:
    per-field postings, tid = hash(field, term)) — lets edismax qf run
    against the real index instead of the inline path."""
    import hashlib
    import os
    import shutil

    from solr_spark.index.builder import Index, build_index

    key = ("mf", sf_dir)
    if key in _GATE_IDX:
        return _GATE_IDX[key]
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    # mfb = multi-field WITH blocks (round 3: per-field block-max
    # metadata) — fresh cache tag so pre-blocks caches never serve
    root = f"/tmp/solr_spark_gate/index_mfb_{tag}"
    meta = os.path.join(root, "meta.json")
    if not os.path.exists(meta):
        tmp = f"{root}.build_{os.getpid()}"
        d = _t(spark, sf_dir, "documents")
        corpus = d.select(
            F.col("doc_id").cast("long").alias("docid"),
            "text",
            "lang",
            F.col("source").alias("repo"),
            F.concat(F.lit("doc/"), F.col("doc_id").cast("string")).alias("path"),
        )
        build_index(
            spark, corpus, tmp, num_buckets=8, fields=["text", "lang"],
            build_positions=True, build_blocks=True,
            salt_threshold=200, num_salts=4, block_size=16,
        )
        os.makedirs(os.path.dirname(root), exist_ok=True)
        try:
            os.rename(tmp, root)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)  # lost the race
    idx = Index.load(spark, root)
    _GATE_IDX[key] = idx
    return idx


def _gate_index_stemmed(spark, sf_dir):
    """Cached gate index with the round-4 text_en-style chain: WDGF
    catenation at index time only (the query side never catenates —
    the reference's index/query analyzer asymmetry) plus Porter
    stemming on both sides (meta.analyzer drives Index.analyze)."""
    import hashlib
    import os
    import shutil

    from solr_spark.index.builder import Index, build_index
    from solr_spark.sources.corpus import documents_as_corpus

    key = ("stem", sf_dir)
    if key in _GATE_IDX:
        return _GATE_IDX[key]
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    root = f"/tmp/solr_spark_gate/index_stem_{tag}"
    meta = os.path.join(root, "meta.json")
    if not os.path.exists(meta):
        tmp = f"{root}.build_{os.getpid()}"
        build_index(
            spark,
            documents_as_corpus(spark, sf_dir),
            tmp,
            num_buckets=8,
            salt_threshold=200,
            num_salts=4,
            block_size=16,
            build_blocks=True,
            build_positions=False,
            analyzer={"stem": "porter", "catenate": True},
        )
        os.makedirs(os.path.dirname(root), exist_ok=True)
        try:
            os.rename(tmp, root)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)  # lost the race
    idx = Index.load(spark, root)
    _GATE_IDX[key] = idx
    return idx


def _round4_topk(df, k=10):
    """Gate determinism contract: order by ROUNDED score + docid (cross-
    engine float noise breaks raw-score ties differently)."""
    return (
        df.orderBy(F.desc(F.round("score", 4)), F.asc("docid"))
        .limit(k)
        .select("docid", F.round("score", 4).alias("score"))
    )


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _docs(spark, sf_dir):
    return _t(spark, sf_dir, "documents")


def _tok(spark, sf_dir):
    return doc_tokens(_docs(spark, sf_dir), id_col="doc_id", text_col="text")


def _bm25(qtext, k=10, mode="OR"):
    """Pinned-gate BM25 entries route through the REAL engine: builder ->
    bucketed postings -> block-max metadata -> WAND (round-2 VERDICT item
    #1 — the driver's pinned list previously executed the index-free
    inline path, so the external oracle never verified the core engine).
    bm25_topk_auto picks the pruned path when block metadata can help and
    the exact flat path otherwise; both are proven rank-identical.
    Overfetch at the engine's round-9 ordering, then apply the gate's
    round-4 + docid determinism contract."""

    def run(spark, sf_dir):
        from solr_spark.query.wand import bm25_topk_auto

        idx = _gate_index(spark, sf_dir)
        return _round4_topk(bm25_topk_auto(idx, qtext, k=max(100, 2 * k), mode=mode), k)

    return run


def _bm25_inline(qtext, k=10, mode="OR"):
    """The index-free inline twin (corpus re-tokenize per query) — kept
    for the `*_inline` compare entries and tiny ad-hoc corpora."""

    def run(spark, sf_dir):
        return bm25_inline_topk(
            _docs(spark, sf_dir), qtext, k=k, mode=mode, id_col="doc_id", text_col="text"
        )

    return run


def _qvec(spark, sf_dir):
    row = (
        _t(spark, sf_dir, "embeddings").where(F.col("vec_id") == 0).head()
    )
    return [float(v) for v in row["embedding"]]


# ---------------------------------------------------------------- queries


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: BM25 top-10 through the REAL engine (builder ->
    postings/blocks -> WAND) with payload fetch on sf0.001."""
    from solr_spark.query.wand import bm25_topk_auto

    sf_dir = "/root/testdata/sf0.001"
    idx = _gate_index(spark, sf_dir)
    top = _round4_topk(
        bm25_topk_auto(idx, "spark hash window merge", k=100), 10
    )
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").alias("docid"), "lang", "source", "n_chars"
    )
    return top.join(docs, "docid").orderBy(F.desc("score"), "docid")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable] = {}

    # --- BM25 / search core (SURVEY §2.A) ---
    q["bm25_topk_or"] = _bm25("spark hash window merge", 10)
    q["bm25_topk_and"] = _bm25("table spark vector", 10, "AND")
    q["bm25_single_head"] = _bm25("table", 10)
    q["bm25_topk100"] = _bm25("customer query group", 100)
    q["bm25_absent_term"] = _bm25("zzzqqqnope", 10)
    q["bm25_and_with_absent"] = _bm25("table zzzqqqnope", 10, "AND")
    q["bm25_dup_terms"] = _bm25("spark spark window", 10)
    # the index-free inline path stays externally oracled via its own entry
    q["bm25_inline_or"] = _bm25_inline("spark hash window merge", 10)

    def analysis_filters_entry(s, d):
        """Optional StopFilter + SynonymFilter stages over the base
        chain (three-form parity: Column == Python == DuckDB)."""
        from solr_spark.analysis.analyzer import (
            stop_filter_col, synonym_filter_col,
        )
        from solr_spark.query.inline import doc_tokens

        sw = ["the", "a", "of", "and"]
        syn = {"js": "javascript", "py": "python"}
        toks = doc_tokens(_docs(s, d), id_col="doc_id", text_col="text")
        filtered = synonym_filter_col(
            stop_filter_col(F.col("toks"), sw), syn
        )
        return (
            toks.select(
                "docid",
                F.size(filtered).alias("n_toks"),
                F.element_at(filtered, 1).alias("first_tok"),
            )
            .where(F.col("docid") < 300)
            .orderBy("docid")
        )

    q["analysis_filters"] = analysis_filters_entry

    def analysis_filters_v2(s, d):
        """Round-4 filter tranche: ascii_fold -> length(2..8) ->
        edge_ngram(2,3) and a separate shingle(2) count, all three-form
        (ASCIIFolding/Length/EdgeNGram/ShingleFilterFactory)."""
        from solr_spark.analysis import analyzer as A
        from solr_spark.query.inline import doc_tokens

        toks = doc_tokens(_docs(s, d), id_col="doc_id", text_col="text")
        folded = A.length_filter_col(
            A.ascii_fold_col(F.col("toks")), 2, 8
        )
        grams = A.edge_ngram_col(folded, 2, 3)
        sh = A.shingle_col(F.col("toks"), 2)
        return (
            toks.select(
                "docid",
                F.size(grams).alias("n_grams"),
                F.element_at(grams, 1).alias("first_gram"),
                F.element_at(grams, -1).alias("last_gram"),
                F.size(sh).alias("n_shingles"),
                F.element_at(sh, -1).alias("last_shingle"),
            )
            .where(F.col("docid") < 300)
            .orderBy("docid")
        )

    q["analysis_filters_v2"] = analysis_filters_v2

    def analysis_filters_v3(s, d):
        """Round-4 filter tranche 2: patternReplace(digits->#) ->
        removeDuplicates(consecutive) -> truncate(4) -> ngram(2,2), plus
        reverse on the raw stream (PatternReplace/RemoveDuplicates/
        Truncate/NGram/ReverseStringFilterFactory, three-form)."""
        from solr_spark.analysis import analyzer as A
        from solr_spark.query.inline import doc_tokens

        toks = doc_tokens(_docs(s, d), id_col="doc_id", text_col="text")
        pr = A.pattern_replace_col(F.col("toks"), "[0-9]+", "#")
        rd = A.remove_duplicates_col(pr)
        ng = A.ngram_col(A.truncate_filter_col(rd, 4), 2, 2)
        rev = A.reverse_filter_col(F.col("toks"))
        return (
            toks.select(
                "docid",
                F.size(rd).alias("n_dedup"),
                F.element_at(rd, 1).alias("first_tok"),
                F.size(ng).alias("n_grams"),
                F.element_at(ng, -1).alias("last_gram"),
                F.element_at(rev, 1).alias("first_rev"),
            )
            .where(F.col("docid") < 300)
            .orderBy("docid")
        )

    q["analysis_filters_v3"] = analysis_filters_v3

    # --- term dictionary / relevance ---
    q["terms_top_df"] = lambda s, d: R.terms_component(_tok(s, d), limit=20)
    q["terms_filtered"] = lambda s, d: R.terms_component(
        _tok(s, d), limit=50, prefix="s", regex="^s[a-z]*[kt]$",
        mincount=5, sort="index",
    )
    q["significant_terms"] = lambda s, d: R.significant_terms(
        _tok(s, d), "spark", min_fg=3, limit=15
    )

    # --- facets & stats (SURVEY §2.B) ---
    q["facet_lang"] = lambda s, d: FA.terms_facet(_docs(s, d), "lang", limit=10)
    q["facet_source_min20"] = lambda s, d: FA.terms_facet(
        _docs(s, d), "source", limit=50, mincount=20
    )
    q["facet_source_prefix"] = lambda s, d: FA.terms_facet(
        _docs(s, d), "source", limit=50, prefix="src1", sort_by_count=False
    )
    q["facet_lang_sort_by_stat"] = lambda s, d: FA.terms_facet_stats(
        _docs(s, d),
        "lang",
        [F.round(F.avg("n_chars"), 4).alias("avg_chars"),
         F.max("n_chars").alias("max_chars")],
        sort_stat="avg_chars",
        limit=10,
    )
    q["facet_range_events"] = lambda s, d: FA.range_facet(
        _t(s, d, "events"), "value", 0.0, 500.0, 50.0
    )
    # date-math range facets: NOW pinned (the CommonParams.NOW analogue
    # every distributed Solr request carries) so gate runs are
    # deterministic; bounds evaluate driver-side via the DateMathParser
    # port and fold in as timestamp literals
    from datetime import datetime as _dt, timezone as _tz

    _NOW = _dt(2024, 1, 30, 12, 0, 0, tzinfo=_tz.utc)
    q["facet_range_datemath"] = lambda s, d: FA.date_range_facet(
        _t(s, d, "events"), "ts", "NOW/MONTH", "NOW/DAY+1DAY", "+7DAYS",
        now=_NOW,
    )
    q["facet_range_datemath_month"] = lambda s, d: FA.date_range_facet(
        _t(s, d, "events"), "ts", "NOW/YEAR", "NOW/YEAR+1YEAR", "+1MONTH",
        now=_NOW,
    )

    def update_parse_dates(s, d):
        """ParseDateFieldUpdateProcessor in a chain: string timestamps
        (several formats) parsed back to typed timestamps JVM-side."""
        from solr_spark.operators import updateproc as UP

        ev = _t(s, d, "events").where(F.col("event_id") < 200)
        staged = ev.select(
            "event_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
            F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss").alias("ts_iso"),
            F.lit("not a date").alias("ts_bad"),
        )
        out = UP.apply_chain(
            staged, [UP.parse_date("ts_s", "ts_iso", "ts_bad")]
        )
        return out.select(
            "event_id", "ts_s", "ts_iso", "ts_bad"
        ).orderBy("event_id")

    q["update_parse_dates"] = update_parse_dates

    def update_regex_clone(s, d):
        """CloneField with regex name matching + capture-group dest
        ($1_s dynamic-field style), plus the language-detect processor
        stamped through the same chain."""
        from solr_spark.operators import updateproc as UP

        out = UP.apply_chain(
            _t(s, d, "documents"),
            [
                UP.clone_field_regex(r"(lang|source)", r"$1_s"),
                UP.detect_language("text", "cld_lang"),
            ],
        )
        return (
            out.select(
                F.col("doc_id").cast("long").alias("docid"),
                "lang_s", "source_s", "cld_lang",
            )
            .orderBy("docid")
            .limit(300)
        )

    q["update_regex_clone"] = update_regex_clone

    def update_ttl_expire(s, d):
        """DocExpiration TTL: stamp _expire_at_ = ts + 7d, then the
        reaper predicate at now=2024-01-20 — counts expired/live per
        event_type."""
        from solr_spark.operators import updateproc as UP

        ev = UP.apply_chain(
            _t(s, d, "events"), [UP.doc_expiration(7 * 86400, base_col="ts")]
        )
        exp = UP.expired_filter("2024-01-20 00:00:00")
        return (
            ev.groupBy("event_type")
            .agg(
                F.count(F.when(exp, 1)).alias("n_expired"),
                F.count("*").alias("n_total"),
            )
            .orderBy("event_type")
        )

    q["update_ttl_expire"] = update_ttl_expire

    def update_uuid_assign(s, d):
        """Name-based (v3-shaped, md5) deterministic UUID assignment —
        the replayable strategy replacing the reference's random
        UUIDUpdateProcessorFactory."""
        from solr_spark.operators import updateproc as UP

        out = UP.apply_chain(
            _t(s, d, "orders").where(F.col("o_orderkey") <= 400),
            [UP.uuid_v3_field("doc_uuid", "solr", ["o_orderkey"])],
        )
        return out.select("o_orderkey", "doc_uuid").orderBy("o_orderkey")

    q["update_uuid_assign"] = update_uuid_assign

    def version_merge_entry(s, d):
        """DocBasedVersionConstraints: updates win only on strictly
        greater user-version; equal/stale updates drop (tie -> stored)."""
        from solr_spark.operators import updateproc as UP

        o = _t(s, d, "orders").where(F.col("o_orderkey") <= 100)
        cur = o.select(
            F.col("o_orderkey").alias("id"),
            (F.col("o_orderkey") % 5).cast("long").alias("_version_"),
            F.col("o_orderpriority").alias("body"),
        )
        upd = o.select(
            F.col("o_orderkey").alias("id"),
            (F.col("o_orderkey") % 7).cast("long").alias("_version_"),
            F.concat(F.lit("upd:"), F.col("o_orderpriority")).alias("body"),
        )
        return UP.version_constrained_merge(cur, upd, id_col="id").orderBy("id")

    q["update_version_merge"] = version_merge_entry

    def schemaless_entry(s, d):
        """AddSchemaFields (schemaless): stringified event fields get
        their types back by value inference (long/double/date/boolean;
        unparseable stays text)."""
        from solr_spark.operators import updateproc as UP

        ev = _t(s, d, "events").where(F.col("event_id") < 100)
        staged = ev.select(
            F.col("event_id").cast("string").alias("a"),
            F.col("value").cast("string").alias("b"),
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("c"),
            (F.col("value") > 250).cast("string").alias("d"),
            F.col("event_type").alias("e"),
        )
        typed, _ = UP.infer_schema_fields(staged)
        return typed.orderBy("a")

    q["update_schemaless_infer"] = schemaless_entry

    q["facet_range_other"] = lambda s, d: FA.range_facet_other(
        _t(s, d, "events"), "value", 100.0, 400.0, 50.0
    )
    q["facet_query_events"] = lambda s, d: FA.query_facet(
        _t(s, d, "events"),
        {
            "big_value": F.col("value") > 400.0,
            "clicks": F.col("event_type") == "click",
            "errors": F.col("event_type") == "error",
        },
    )
    q["facet_pivot_nation_segment"] = lambda s, d: FA.pivot_facet(
        _t(s, d, "customer").join(
            _t(s, d, "nation"), F.col("c_nationkey") == F.col("n_nationkey")
        ),
        ["n_name", "c_mktsegment"],
        limit=100,
    )
    q["facet_pivot_stats"] = lambda s, d: FA.pivot_facet(
        _t(s, d, "orders"),
        ["o_orderpriority", "o_orderstatus"],
        limit=100,
        stats=[
            dsum(F.col("o_totalprice"), "sum_price"),
            F.round(F.avg("o_totalprice"), 4).alias("avg_price"),
            F.round(F.min("o_totalprice"), 4).alias("min_price"),
        ],
    )
    q["stats_lineitem_price"] = lambda s, d: FA.stats_facet(
        _t(s, d, "lineitem"), "l_extendedprice"
    )

    # --- collapse / expand / grouping ---
    q["collapse_orders_by_cust"] = lambda s, d: C.collapse(
        _t(s, d, "orders"),
        "o_custkey",
        [F.desc("o_totalprice"), F.asc("o_orderkey")],
    ).select("o_custkey", "o_orderkey", "o_totalprice").orderBy("o_custkey")
    q["grouping_top2_by_priority"] = lambda s, d: C.grouping(
        _t(s, d, "orders"),
        "o_orderpriority",
        [F.desc("o_totalprice"), F.asc("o_orderkey")],
        group_limit=2,
    ).select(
        "o_orderpriority",
        F.col("grp_rank").cast("long").alias("grp_rank"),
        "o_orderkey",
        "o_totalprice",
    ).orderBy("o_orderpriority", "grp_rank")

    q["grouped_facet_priority"] = lambda s, d: C.grouped_facet(
        _t(s, d, "orders"), "o_custkey", "o_orderpriority", limit=10
    )

    # --- joins / set streams (SURVEY §2.C) ---
    q["join_semi_big_spenders"] = lambda s, d: S.intersect_on(
        _t(s, d, "customer"),
        _t(s, d, "orders").where(F.col("o_totalprice") > 490000).select(
            F.col("o_custkey").alias("c_custkey")
        ),
        ["c_custkey"],
    ).select("c_custkey", "c_name").orderBy("c_custkey")
    q["anti_join_no_orders"] = lambda s, d: S.complement_on(
        _t(s, d, "customer"),
        _t(s, d, "orders").select(F.col("o_custkey").alias("c_custkey")),
        ["c_custkey"],
    ).select("c_custkey").orderBy("c_custkey")
    q["timeseries_events_daily"] = lambda s, d: S.timeseries(
        _t(s, d, "events"),
        "ts",
        "day",
        [F.count(F.lit(1)).alias("cnt"), dsum(F.col("value"), "sum_value")],
    )
    def stream_timeseries_daily(s, d):
        """Structured Streaming batch-equivalence gate: the watermarked
        windowed count (streaming/topic.py windowed_counts) drained with
        Trigger.AvailableNow over the same events parquet must equal the
        batch GROUP BY — the driver-runnable correctness check for the
        streaming path (TopicStream/DaemonStream role)."""
        import tempfile
        import uuid

        from solr_spark.streaming.topic import topic_stream, windowed_counts

        import os

        schema = s.read.parquet(f"{d}/events.parquet").schema
        # FileStreamSource wants a directory; expose the table file in one
        src_dir = tempfile.mkdtemp(prefix="gate_ts_src_")
        os.symlink(
            os.path.abspath(f"{d}/events.parquet"),
            os.path.join(src_dir, "events.parquet"),
        )
        stream = topic_stream(s, src_dir, schema).withColumn(
            "ts", F.col("ts").cast("timestamp")  # NTZ -> watermarkable
        )
        agg = windowed_counts(
            stream, "ts", window="1 day", watermark="2 days",
            keys=["event_type"],
        )
        name = "gate_stream_ts_" + uuid.uuid4().hex[:8]
        qy = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", tempfile.mkdtemp(prefix="gate_ts_ckpt_"))
            .trigger(availableNow=True)
            .start()
        )
        qy.awaitTermination()
        return (
            s.table(name)
            .select(
                F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias(
                    "bucket_ts"
                ),
                "event_type",
                "cnt",
            )
            .orderBy("bucket_ts", "event_type")
        )

    q["stream_timeseries_daily"] = stream_timeseries_daily

    q["cursor_page_orders"] = lambda s, d: S.cursor_page(
        _t(s, d, "orders").select("o_orderkey", "o_totalprice"),
        [("o_totalprice", False), ("o_orderkey", True)],
        (400000.0, 0),
        10,
    )
    q["export_sorted_lineitem"] = lambda s, d: S.export_sorted(
        _t(s, d, "lineitem"),
        [F.asc("l_shipdate"), F.asc("l_orderkey"), F.asc("l_linenumber")],
        ["l_orderkey", "l_linenumber", "l_quantity"],
    ).limit(500)

    # --- SQL surface (SURVEY §2.D) ---
    def tpch_q1(s, d):
        _t(s, d, "lineitem").createOrReplaceTempView("lineitem_v")
        return s.sql(
            f"""
            SELECT l_returnflag, l_linestatus,
                   {_SPARK_DSUM('l_quantity')} AS sum_qty,
                   {_SPARK_DSUM('l_extendedprice')} AS sum_base_price,
                   {_SPARK_DSUM('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
                   count(*) AS count_order
            FROM lineitem_v
            WHERE l_shipdate <= '1996-12-01'
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
            """
        )

    q["sql_tpch_q1"] = tpch_q1

    # --- dedup / fingerprints (training-data ops) ---
    q["dedup_exact"] = lambda s, d: D.exact_duplicates(_docs(s, d), "doc_id", "text")
    q["dedup_minhash_sig"] = lambda s, d: D.minhash_signatures(
        _tok(s, d)
    ).orderBy("docid")
    q["dedup_lsh_pairs"] = lambda s, d: D.lsh_candidate_pairs(_tok(s, d))
    q["dedup_clusters"] = lambda s, d: D.near_dup_clusters(
        D.lsh_candidate_pairs(_tok(s, d), ordered=False)
    ).orderBy("docid")
    q["dedup_ngram_jaccard"] = lambda s, d: D.ngram_jaccard_pairs(
        _tok(s, d), n=3, top=20
    )
    q["simhash64"] = lambda s, d: D.simhash64(_tok(s, d)).orderBy("docid")

    q["embedding_near_dups"] = lambda s, d: D.embedding_near_dups_exact(
        _t(s, d, "embeddings"), 0.4
    )

    def embedding_nd_recall(s, d):
        """LSH-bucketed near-dup recall vs the exact pair set (4 planes
        x 8 tables measured 0.81/0.79 at sf0.01/sf0.1 — the harness
        embeddings are isotropic, so threshold-0.4 'dups' are the
        worst case for hyperplane collision; real >0.9 near-dups
        collide far more often). n_exact is value-checked exactly."""
        emb = _t(s, d, "embeddings")
        ex = D.embedding_near_dups_exact(emb, 0.4).select("a", "b")
        lsh = D.embedding_near_dups_lsh(
            emb, 0.4, n_planes=4, n_tables=8
        ).select("a", "b")
        hits = ex.join(lsh, ["a", "b"], "left_semi").count()
        n = ex.count()
        return s.createDataFrame(
            [(n, hits / float(n) >= 0.6)], "n_exact long, recall_ok boolean"
        )

    q["embedding_near_dups_recall"] = embedding_nd_recall

    # --- embedding similarity ---
    q["ann_cosine_topk"] = lambda s, d: SIM.cosine_topk(
        _t(s, d, "embeddings"), _qvec(s, d), k=10
    )
    q["ann_cosine_lsh"] = lambda s, d: SIM.cosine_topk_lsh(
        _t(s, d, "embeddings"), _qvec(s, d), k=10
    )

    def hybrid_rrf(s, d):
        """Hybrid search: BM25 lexical top-50 + embedding-cosine ANN
        top-50 fused by Reciprocal Rank Fusion (1/(60+rank)) — the
        modern lexical+dense retrieval shape; rank-only fusion needs no
        score calibration. Both ranked lists are k-sized, so the fuse
        is trivial at any corpus scale."""
        from solr_spark.operators.similarity import rrf_fuse, with_rank

        lex = bm25_inline_scores(
            _docs(s, d), "table spark", id_col="doc_id", text_col="text"
        ).select("docid", F.round("s", 9).alias("s9"))
        lexr = with_rank(lex, [F.desc("s9"), F.asc("docid")], 50)
        # ANN side: cut = cosine_topk's unrounded order; rank over the
        # 50 survivors by its (rounded sim, vec_id) output — the oracle
        # mirrors both steps
        ann = SIM.cosine_topk(_t(s, d, "embeddings"), _qvec(s, d), k=50)
        annr = with_rank(
            ann.select(F.col("vec_id").alias("docid"), "sim"),
            [F.desc("sim"), F.asc("docid")],
            50,
        )
        return rrf_fuse(
            [lexr.select("docid", "rank"), annr.select("docid", "rank")],
            limit=10,
        )

    q["hybrid_rrf"] = hybrid_rrf

    def bm25_maxscore(s, d):
        """{!maxscore}: OR scored with MAX over clause scores instead of
        SUM — same one-job plan, different aggregate."""
        from solr_spark.query.engine import bm25_topk_maxscore

        return bm25_topk_maxscore(
            _gate_index(s, d), "table spark vector", k=10
        ).select("docid", F.round("score", 4).alias("score"))

    q["bm25_maxscore"] = bm25_maxscore

    def complex_phrase_entry(s, d):
        """{!complexphrase}: wildcard slot inside a phrase — 'table s*'
        expands s* against the dictionary, slot position arrays union
        the expansions, ordered chain matcher unchanged."""
        from solr_spark.query.positions import complex_phrase_docids

        return complex_phrase_docids(
            _gate_index(s, d), ["table", "s*"], slop=1
        ).orderBy("docid")

    q["complex_phrase"] = complex_phrase_entry

    def surround_near_entry(s, d):
        """Surround query parser ({!surround}): infix W/N distance ops
        with boolean composition — `(fast w merge) OR (table 2n spark)`
        compiles to the span-relation algebra over the flat positions
        table (one bucket-pruned scan, docid-equi-joins)."""
        from solr_spark.query.surround import surround_docids

        return surround_docids(
            _gate_index(s, d), "(fast w merge) OR (table 2n spark)"
        ).orderBy("docid")

    q["surround_near"] = surround_near_entry

    def surround_trunc_entry(s, d):
        """Surround prefix form + truncation: `3n(tabl*, spark)` —
        the * slot expands against the term dictionary (SrndTruncQuery)
        and the unordered matcher runs over the expanded span union."""
        from solr_spark.query.surround import surround_docids

        return surround_docids(_gate_index(s, d), "3n(tabl*, spark)").orderBy(
            "docid"
        )

    q["surround_trunc"] = surround_trunc_entry

    def score_join_modes(s, d):
        """{!join score=max|total}: the from-side 'query' is urgent
        open orders scored by o_totalprice; each matching customer
        inherits the per-key MAX and TOTAL aggregate. Exercises the
        packaged score_join operator in two modes plus the none-mode
        semi-join as the row universe."""
        from solr_spark.operators.streams import score_join

        frm = (
            _t(s, d, "orders")
            .where(F.col("o_orderpriority") == "1-URGENT")
            .select("o_custkey", F.col("o_totalprice").alias("score"))
        )
        cust = _t(s, d, "customer").select("c_custkey")
        mx = score_join(frm, cust, "o_custkey", "c_custkey", mode="max")
        tot = score_join(frm, cust, "o_custkey", "c_custkey", mode="total")
        return (
            mx.select("c_custkey", F.round("score", 2).alias("score_max"))
            .join(
                tot.select(
                    "c_custkey", F.round("score", 2).alias("score_total")
                ),
                "c_custkey",
            )
            .orderBy(F.desc("score_total"), "c_custkey")
            .limit(20)
        )

    q["score_join_modes"] = score_join_modes

    def payload_score_sum(s, d):
        """{!payload_score func=sum}: SUM over both 'price' payloads per
        doc — one groupBy-agg on the bucket-pruned payload positions
        scan (PayloadScoreQParserPlugin semantics)."""
        from solr_spark.query.payloads import payload_score

        return (
            payload_score(_payload_index(s, d), "price", "sum")
            .select("docid", F.round("score", 2).alias("score"))
            .orderBy("docid")
        )

    q["payload_score_sum"] = payload_score_sum

    def payload_check_eq(s, d):
        """{!payload_check payloads='42' op=eq}: docs whose 'seg' token
        carries payload 42.0 (SpanPayloadCheckQuery)."""
        from solr_spark.query.payloads import payload_check

        return payload_check(
            _payload_index(s, d), "seg", [42.0]
        ).orderBy("docid")

    q["payload_check_eq"] = payload_check_eq

    def stream_expr_strings(s, d):
        """eval() tranche 4a — string evaluators inside a compiled
        select(): upper/lower/trim/concat(delim)/replace/split/valueAt
        (Lang.java registry, UpperEvaluator & friends)."""
        from solr_spark.plans.streamexpr import eval_expr

        df = eval_expr(
            'select(search(customer, fl="c_custkey,c_name,c_mktsegment"), '
            "c_custkey, "
            "upper(c_name) as name_u, "
            "lower(c_mktsegment) as seg_l, "
            "trim(c_mktsegment) as seg_t, "
            'concat(c_mktsegment, c_name, delim="/") as tag, '
            'replace(c_name, "Customer", "C") as short_name, '
            'valueAt(split(c_name, "#"), 1) as cust_num)',
            {"customer": _t(s, d, "customer")},
        )
        return df.orderBy("c_custkey")

    q["stream_expr_strings"] = stream_expr_strings

    def stream_expr_dates(s, d):
        """eval() tranche 4b — temporal evaluators
        (TemporalEvaluatorYear & friends) in a compiled select ->
        having chain; epoch is Instant.toEpochMilli milliseconds."""
        from solr_spark.plans.streamexpr import eval_expr

        df = eval_expr(
            'having(select(search(events, fl="event_id,ts"), event_id, '
            "year(ts) as y, month(ts) as m, day(ts) as dom, "
            "dayOfYear(ts) as doy, hour(ts) as hh, minute(ts) as mi, "
            "second(ts) as sec, week(ts) as wk, epoch(ts) as ep_ms), "
            "eq(dom, 15))",
            {"events": _t(s, d, "events")},
        )
        return df.orderBy("event_id")

    q["stream_expr_dates"] = stream_expr_dates

    def eval_array_math(s, d):
        """eval() tranche 5 — the math-expression array/statistical
        evaluators (Lang.java math registry: MeanEvaluator,
        VarianceEvaluator, PercentileEvaluator, DotProductEvaluator,
        EuclideanDistanceEvaluator, RankEvaluator, NormEvaluator,
        GeometricMeanEvaluator) compiled to higher-order-function
        Columns. Arrays are built row-wise from integer columns so
        every double op is exact and the DuckDB twin can mirror the
        arithmetic order term by term."""
        from solr_spark.plans.streamexpr import eval_expr

        df = eval_expr(
            'select(select(search(orders, q="o_orderkey:[1 TO 400]", '
            'fl="o_orderkey,o_custkey"), o_orderkey, '
            "array(add(mod(o_orderkey, 7), 1), add(mod(o_custkey, 5), 1), "
            "add(mod(o_orderkey, 3), 1)) as xs), "
            "o_orderkey, precision(mean(xs), 4) as m, "
            "precision(var(xs), 4) as v, "
            "precision(dotProduct(xs, array(1, 2, 3)), 4) as dp, "
            "precision(euclideanDistance(xs, array(2, 2, 2)), 4) as ed, "
            "precision(median(xs), 4) as med, "
            "precision(valueAt(rank(xs), 0), 4) as rk0, "
            "precision(norm(xs), 4) as l2, "
            "precision(geometricMean(xs), 4) as gm)",
            {"orders": _t(s, d, "orders")},
        )
        return df.orderBy("o_orderkey")

    q["eval_array_math"] = eval_array_math

    def eval_regress_describe(s, d):
        """eval() tranche 7 — regression + descriptive-stat evaluators
        (Lang.java: RegressionEvaluator, PredictEvaluator,
        DescribeEvaluator) compiled to closed-form OLS Columns over
        per-group arrays. regress().R is the Pearson correlation, so
        DuckDB's regr_slope/regr_intercept/corr are exact twins; array
        construction pairs (x, y) through ONE collect_list(struct) so
        the two coordinates stay row-aligned."""
        from solr_spark.plans.streamexpr import eval_expr

        li = _t(s, d, "lineitem")
        pairs = li.groupBy("l_returnflag").agg(
            F.collect_list(
                F.struct(
                    F.col("l_quantity").cast("double").alias("x"),
                    (F.col("l_extendedprice") / 1000.0).alias("y"),
                )
            ).alias("p")
        )
        arr = pairs.select(
            "l_returnflag",
            F.transform("p", lambda e: e["x"]).alias("x"),
            F.transform("p", lambda e: e["y"]).alias("y"),
        )
        out = eval_expr(
            "select(search(g), l_returnflag, regress(x, y) as m, "
            "describe(x) as dx, "
            "precision(predict(regress(x, y), 25), 4) as p25)",
            {"g": arr},
        )
        return out.select(
            "l_returnflag",
            F.round(F.col("m.slope"), 4).alias("slope"),
            F.round(F.col("m.intercept"), 4).alias("intercept"),
            F.round(F.col("m.R"), 6).alias("r"),
            F.col("dx.N").alias("n"),
            F.round(F.col("dx.min"), 4).alias("min_x"),
            F.round(F.col("dx.max"), 4).alias("max_x"),
            F.round(F.col("dx.mean"), 4).alias("mean_x"),
            F.round(F.col("dx.stdev"), 4).alias("stdev_x"),
            F.col("p25"),
        ).orderBy("l_returnflag")

    q["eval_regress_describe"] = eval_regress_describe

    def tag_entities(s, d):
        """TaggerRequestHandler (SolrTextTagger,
        solr/core handler/tagger/Tagger.java): dictionary phrase
        tagging over documents — token anchors broadcast-join the
        tokenized dictionary, then one docid-equi-join verifies the
        remaining tokens JVM-side. ALL overlap policy (the twin is pure
        SQL); LONGEST_DOMINANT_RIGHT is pytest-covered."""
        from solr_spark.operators.tagger import tag_text

        docs = _t(s, d, "documents")
        dictionary = s.createDataFrame(
            [
                ("t_hj", "hash join"),
                ("t_ts", "table scan"),
                ("t_smb", "sort merge batch"),
                ("t_win", "window agg"),
            ],
            "tag string, name string",
        )
        out = tag_text(docs, dictionary)
        return (
            out.groupBy("tag")
            .agg(
                F.count(F.lit(1)).alias("occurrences"),
                F.count_distinct("docid").alias("docs"),
                F.sum("start_pos").alias("pos_sum"),
            )
            .orderBy("tag")
        )

    q["tag_entities"] = tag_entities

    def luke_top_terms(s, d):
        """LukeRequestHandler topTerms
        (solr/core handler/admin/LukeRequestHandler.java): top terms by
        document frequency with total term frequency, straight off the
        cached dictionary — one TakeOrderedAndProject, no postings
        scan. Twin recomputes df/ttf from the documents tokens."""
        from solr_spark.index.luke import top_terms

        idx = _gate_index(s, d)
        return top_terms(idx, k=15)

    q["luke_top_terms"] = luke_top_terms

    def cluster_search_page(s, d):
        """ClusteringComponent analogue (rows-only: seeded k-means has
        no SQL twin; determinism + topic-separation are pytest-covered):
        BM25 top-40 page -> tf-idf term vectors -> k-means++ -> clusters
        labeled by centroid top features."""
        from solr_spark.operators.clustering import cluster_results
        from solr_spark.query.engine import bm25_topk

        idx = _gate_index(s, d)
        page = bm25_topk(idx, "spark hash window merge", k=40)
        # the gate index docids ARE the documents doc_ids
        # (documents_as_corpus passes doc_id through)
        docs = _t(s, d, "documents").select(
            F.col("doc_id").cast("long").alias("docid"), "text"
        )
        joined = page.select("docid").join(docs, "docid")
        out = cluster_results(
            joined, n_clusters=3, text_col="text", min_df=0.02, max_df=0.8
        )
        return out.select(
            "cluster", "size", F.array_join("labels", ",").alias("labels")
        )

    q["cluster_search_page"] = cluster_search_page

    def suggest_freetext_bigram(s, d):
        """FreeText suggester (Lucene FreeTextSuggester role): n-gram
        model + stupid backoff. Open context 'window ' resolves at the
        bigram order, so the twin is the plain conditional bigram
        distribution; backoff paths are pytest-covered."""
        from solr_spark.operators.relevance import (
            freetext_model,
            suggest_freetext,
        )

        model = freetext_model(_t(s, d, "documents"), "text", max_order=2)
        return suggest_freetext(model, "window ", limit=10)

    q["suggest_freetext_bigram"] = suggest_freetext_bigram

    def stream_expr_reduce(s, d):
        """Compiled reduce() + group() op (ReducerStream +
        GroupOperation): top-3 orders per priority by price — one
        window, no applyInPandas."""
        from solr_spark.plans.streamexpr import eval_expr

        df = eval_expr(
            'reduce(search(orders, q="o_orderkey:[1 TO 2000]", '
            'fl="o_orderpriority,o_orderkey,o_totalprice"), '
            'by="o_orderpriority", '
            'group(sort="o_totalprice desc, o_orderkey asc", n=3))',
            {"orders": _t(s, d, "orders")},
        )
        return df.select(
            "o_orderpriority", "o_orderkey",
            F.round("o_totalprice", 2).alias("price"),
        ).orderBy("o_orderpriority", "o_orderkey")

    q["stream_expr_reduce"] = stream_expr_reduce

    def stream_expr_features(s, d):
        """Compiled features() (FeaturesSelectionStream): information-
        gain term selection through the expression language — same
        exact-counts math as the igain_terms operator gate."""
        from solr_spark.plans.streamexpr import eval_expr

        docs = _tok(s, d).join(_labels(s, d), "docid")
        return eval_expr(
            'features(docs, field="toks", outcome="label", numTerms=10, '
            "minDocFreq=5)",
            {"docs": docs},
        )

    q["stream_expr_features"] = stream_expr_features

    def stream_expr_classify(s, d):
        """Compiled model() -> classify() (ModelStream/ClassifyStream):
        a FIXED stored logistic model (deterministic weights, no
        training in the gate) scores every document as pure Column
        arithmetic — sigmoid(b + Σ w_t · presence(t)), terms applied in
        sorted order so the oracle mirrors the addition order."""
        from solr_spark.plans.streamexpr import eval_expr

        model = s.createDataFrame(
            [("spark", 1.5), ("table", -0.7), ("window", 0.9),
             ("__intercept__", -0.2)],
            "term_s string, weight_d double",
        )
        toks = _tok(s, d).where(F.col("docid") <= 300)
        out = eval_expr(
            'classify(model(m), search(docs), field="toks")',
            {"m": model, "docs": toks},
        )
        return out.select(
            "docid",
            F.round("probability_d", 4).alias("prob"),
            F.col("prediction_i").alias("pred"),
        ).orderBy("docid")

    q["stream_expr_classify"] = stream_expr_classify

    # --- stream tranche 6 (round 5): facet2D/recNum/sql/hashRollup/knn ---
    def stream_facet2d(s, d):
        """Facet2DStream: top-3 o_orderpriority buckets, each with its
        top-2 o_orderstatus sub-buckets by count — one grouped agg plus
        two window ranks (no per-bucket refinement round-trips)."""
        from solr_spark.plans.streamexpr import eval_expr

        out = eval_expr(
            'facet2D(orders, x="o_orderpriority", y="o_orderstatus", '
            'dimensions="3,2", count(*))',
            {"orders": _t(s, d, "orders")},
        )
        return out.select(
            "o_orderpriority", "o_orderstatus",
            F.col("count(*)").alias("cnt"),
        )

    q["stream_facet2d"] = stream_facet2d

    def stream_recnum(s, d):
        """RecNumStream: 0-based record numbers in explicit stream
        order (by= names the sort; a distributed plan has no implicit
        tuple order, so the window IS the sequential counter)."""
        from solr_spark.plans.streamexpr import eval_expr

        out = eval_expr(
            'recNum(search(orders, q="o_orderpriority:1-URGENT", '
            'fl="o_orderkey,o_totalprice"), by="o_orderkey asc")',
            {"orders": _t(s, d, "orders")},
        )
        return out.where(F.col("recNum") < 100).orderBy("recNum")

    q["stream_recnum"] = stream_recnum

    def stream_sql(s, d):
        """ParallelSQL via the stream registry: sql(stmt=...) exposes
        the bound collections as views and hands the statement to
        Catalyst (the reference routes to Calcite over streams)."""
        from solr_spark.plans.streamexpr import eval_expr

        return eval_expr(
            'sql(stmt="SELECT o_orderstatus, count(*) AS cnt, '
            "round(sum(o_totalprice), 2) AS total FROM orders "
            'GROUP BY o_orderstatus ORDER BY o_orderstatus")',
            {"orders": _t(s, d, "orders")},
        )

    q["stream_sql"] = stream_sql

    def stream_hashrollup(s, d):
        """HashRollupStream == rollup without the sorted-input contract;
        both compile to the same partial+final hash aggregate."""
        from solr_spark.plans.streamexpr import eval_expr

        out = eval_expr(
            'sort(hashRollup(search(lineitem, fl="l_returnflag,l_quantity,'
            'l_extendedprice"), over="l_returnflag", sum(l_quantity), '
            'avg(l_extendedprice), count(*)), by="l_returnflag asc")',
            {"lineitem": _t(s, d, "lineitem")},
        )
        return out.select(
            "l_returnflag",
            F.round(F.col("sum(l_quantity)"), 2).alias("sum_qty"),
            F.round(F.col("avg(l_extendedprice)"), 4).alias("avg_price"),
            F.col("count(*)").alias("cnt"),
        )

    q["stream_hashrollup"] = stream_hashrollup

    def stream_knn_search(s, d):
        """KnnStream (knnSearch): MoreLikeThis over the registry — the
        target doc's idf-weighted top-5 terms pick the query, docs score
        by summed matching-term weight. Two shuffles; the target term
        vector is the only collected (broadcast-sized) piece."""
        from solr_spark.plans.streamexpr import eval_expr

        docs = _docs(s, d).select("doc_id", "text")
        return eval_expr(
            'knnSearch(docs, id="7", qf="text", k=15)', {"docs": docs}
        )

    q["stream_knn_search"] = stream_knn_search

    # --- combined search (q + fq + NOT), MLT, rerank, boost ---
    def search_filtered(s, d):
        docs = _docs(s, d)
        scored = bm25_inline_scores(docs, "table spark", id_col="doc_id", text_col="text")
        toks = doc_tokens(docs, "doc_id", "text")
        banned = toks.where(F.array_contains("toks", "vector")).select("docid")
        keep = docs.where(
            (F.col("lang") == "en") & F.col("n_chars").between(200, 400)
        ).select(F.col("doc_id").cast("long").alias("docid"))
        return (
            scored.join(banned, "docid", "left_anti")
            .join(keep, "docid", "left_semi")
            .orderBy(F.desc(F.round("s", 4)), "docid")
            .limit(10)
            .select("docid", F.round("s", 4).alias("score"))
        )

    q["search_filtered"] = search_filtered

    def mlt_doc0(s, d):
        docs = _docs(s, d)
        toks = doc_tokens(docs, "doc_id", "text")
        post = toks.select("docid", F.explode("toks").alias("term")).groupBy(
            "docid", "term"
        ).agg(F.count(F.lit(1)).alias("tf"))
        n_docs = float(docs.count())
        dfreq = post.groupBy("term").agg(F.count(F.lit(1)).cast("double").alias("df"))
        mine = post.where(F.col("docid") == 0).join(dfreq, "term")
        picked = [
            r["term"]
            for r in mine.select(
                "term",
                F.round(
                    F.col("tf")
                    * F.log(
                        F.lit(1.0)
                        + (F.lit(n_docs) - F.col("df") + 0.5) / (F.col("df") + 0.5)
                    ),
                    6,
                ).alias("w"),
            )
            .orderBy(F.desc("w"), F.asc("term"))
            .limit(5)
            .collect()
        ]
        scores = bm25_inline_scores(docs, " ".join(picked), id_col="doc_id", text_col="text")
        return (
            scores.where(F.col("docid") != 0)
            .orderBy(F.desc(F.round("s", 4)), "docid")
            .limit(10)
            .select("docid", F.round("s", 4).alias("score"))
        )

    q["mlt_doc0"] = mlt_doc0

    def rerank_entry(s, d):
        docs = _docs(s, d)
        main = bm25_inline_scores(docs, "table", id_col="doc_id", text_col="text")
        rr = bm25_inline_scores(docs, "spark", id_col="doc_id", text_col="text")
        head = main.orderBy(F.desc(F.round("s", 4)), "docid").limit(50)
        blended = head.join(
            rr.select("docid", F.col("s").alias("_rr")), "docid", "left"
        ).select(
            "docid",
            (F.col("s") + F.lit(2.0) * F.coalesce(F.col("_rr"), F.lit(0.0))).alias("b"),
        )
        return (
            blended.orderBy(F.desc(F.round("b", 4)), "docid")
            .limit(10)
            .select("docid", F.round("b", 4).alias("score"))
        )

    q["rerank_top50"] = rerank_entry

    def boost_entry(s, d):
        docs = _docs(s, d)
        main = bm25_inline_scores(docs, "table", id_col="doc_id", text_col="text")
        nch = docs.select(
            F.col("doc_id").cast("long").alias("docid"),
            F.log(F.lit(1.0) + F.col("n_chars").cast("double")).alias("_b"),
        )
        boosted = main.join(nch, "docid").select(
            "docid", (F.col("s") * F.col("_b")).alias("b")
        )
        return (
            boosted.orderBy(F.desc(F.round("b", 4)), "docid")
            .limit(10)
            .select("docid", F.round("b", 4).alias("score"))
        )

    q["boost_by_length"] = boost_entry

    def prefix_docs(s, d):
        toks = _tok(s, d)
        return (
            toks.where(
                F.size(F.filter(F.col("toks"), lambda t: t.startswith("wind"))) > 0
            )
            .select("docid", F.lit(1.0).alias("score"))
            .orderBy("docid")
        )

    q["prefix_match_docs"] = prefix_docs

    def func_query_showcase(s, d):
        return (
            _docs(s, d)
            .select(
                F.col("doc_id").cast("long").alias("docid"),
                F.abs(F.col("n_chars") - 300).cast("long").alias("dist300"),
                F.round(F.log(F.lit(1.0) + F.col("n_chars")), 4).alias("logn"),
                F.levenshtein(F.col("lang"), F.lit("en")).alias("lev"),
                F.when(F.col("n_chars") > 300, "long").otherwise("short").alias("bucket"),
            )
            .orderBy("docid")
        )

    q["func_query_showcase"] = func_query_showcase

    # --- graph traversal ---
    def _graph_edges(s, d):
        o = _t(s, d, "orders").select(
            F.col("o_custkey").cast("long").alias("src"),
            (F.col("o_orderkey") + F.lit(10_000_000)).cast("long").alias("dst"),
        )
        li = (
            _t(s, d, "lineitem")
            .select(
                (F.col("l_orderkey") + F.lit(10_000_000)).cast("long").alias("src"),
                (F.col("l_partkey") + F.lit(20_000_000)).cast("long").alias("dst"),
            )
            .distinct()
        )
        return o.unionByName(li)

    def graph_2hop(s, d):
        seeds = (
            _t(s, d, "customer")
            .where(F.col("c_custkey") <= 20)
            .select(F.col("c_custkey").alias("node"))
        )
        return GR.gather_nodes(_graph_edges(s, d), seeds, 2)

    q["graph_gather_2hop"] = graph_2hop

    def facet_domain_chain(s, d):
        """JSON Facet domain-change pipeline (FacetRequest.Domain):
        filter (l_quantity >= 45) -> blockParent (lineitem -> orders)
        -> join domain (o_custkey -> c_custkey) -> terms facet on
        c_mktsegment. Three domain transforms then one grouped count —
        the reference's domain pipeline as DataFrame composition."""
        li = _t(s, d, "lineitem").where(F.col("l_quantity") >= 45)
        orders = FA.domain_to_parent(
            li.withColumnRenamed("l_orderkey", "o_orderkey"),
            _t(s, d, "orders"),
            "o_orderkey",
        )
        custs = FA.join_domain(
            orders, _t(s, d, "customer"), "o_custkey", "c_custkey"
        )
        return (
            custs.groupBy(F.col("c_mktsegment").alias("value"))
            .agg(F.count(F.lit(1)).alias("cnt"))
            .orderBy(F.desc("cnt"), "value")
        )

    q["facet_domain_chain"] = facet_domain_chain

    # --- nested facet / percentiles / unique ---
    q["facet_subfacet_lang_source"] = lambda s, d: FA.subfacet(
        _docs(s, d), "lang", "source", per_bucket=2
    )
    q["percentiles_by_type"] = lambda s, d: FA.percentiles_facet(
        _t(s, d, "events"), "event_type", "value", [0.5, 0.9]
    )
    q["unique_users_by_type"] = lambda s, d: FA.unique_facet(
        _t(s, d, "events"), "event_type", "user_id"
    )
    q["hll_users_by_type"] = lambda s, d: FA.hll_facet(
        _t(s, d, "events"), "event_type", "user_id"
    )

    # --- expand (collapse group members) ---
    def expand_entry(s, d):
        orders = _t(s, d, "orders")
        order = [F.desc("o_totalprice"), F.asc("o_orderkey")]
        collapsed = C.collapse(orders, "o_custkey", order)
        members = C.expand(collapsed, orders, "o_custkey", order, per_group=2)
        return members.select("o_custkey", "o_orderkey", "o_totalprice").orderBy(
            "o_custkey", F.desc("o_totalprice"), "o_orderkey"
        )

    q["expand_members"] = expand_entry

    # --- kNN classify + TPC-H Q3-style join pipeline ---
    q["knn_classify"] = lambda s, d: SIM.knn_classify(
        _t(s, d, "embeddings"), _qvec(s, d), k=10
    )

    def tpch_q3(s, d):
        for t in ("customer", "orders", "lineitem"):
            _t(s, d, t).createOrReplaceTempView(f"{t}_v")
        return s.sql(
            f"""
            SELECT l_orderkey,
                   {_SPARK_DSUM('l_extendedprice * (1 - l_discount)')} AS revenue
            FROM customer_v, orders_v, lineitem_v
            WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
              AND l_orderkey = o_orderkey
              AND o_orderdate < '1995-03-15' AND l_shipdate > '1995-03-15'
            GROUP BY l_orderkey
            ORDER BY revenue DESC, l_orderkey LIMIT 10
            """
        )

    q["sql_tpch_q3"] = tpch_q3

    def tpch_q5(s, d):
        """TPC-H Q5 shape (6-table join + grouped revenue): Parallel
        SQL via spark.sql exactly as SURVEY §2.D prescribes — Catalyst
        owns join order/broadcasts."""
        for t in (
            "customer", "orders", "lineitem", "supplier", "nation", "region"
        ):
            _t(s, d, t).createOrReplaceTempView(f"{t}_v")
        return s.sql(
            f"""
            SELECT n_name,
                   {_SPARK_DSUM('l_extendedprice * (1 - l_discount)')} AS revenue
            FROM customer_v, orders_v, lineitem_v, supplier_v, nation_v,
                 region_v
            WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
              AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
              AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
              AND r_name = 'ASIA'
              AND o_orderdate >= '1996-01-01' AND o_orderdate < '1997-01-01'
            GROUP BY n_name ORDER BY revenue DESC, n_name
            """
        )

    q["sql_tpch_q5"] = tpch_q5

    def tpch_q6(s, d):
        """TPC-H Q6 (pure scan-filter-agg): the pushdown showcase —
        every predicate reaches the parquet scan."""
        _t(s, d, "lineitem").createOrReplaceTempView("lineitem_v")
        return s.sql(
            f"""
            SELECT {_SPARK_DSUM('l_extendedprice * l_discount')} AS revenue
            FROM lineitem_v
            WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
              AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
            """
        )

    q["sql_tpch_q6"] = tpch_q6

    # --- suggest/spellcheck, term vectors, more facet shapes, elevation,
    # --- sampling, atomic update (SURVEY §2.A/§2.B long tail) ---
    def spell_suggest(s, d):
        """DirectSolrSpellChecker-style correction: nearest dictionary
        terms to a misspelling by (edit distance, -df, term)."""
        toks = _tok(s, d)
        post = toks.select("docid", F.explode(F.array_distinct("toks")).alias("term"))
        dfreq = post.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
        return (
            dfreq.withColumn("dist", F.levenshtein(F.col("term"), F.lit("sparc")))
            .where(F.col("dist") <= 2)
            .orderBy("dist", F.desc("df"), "term")
            .limit(5)
            .select("term", "df", "dist")
        )

    q["spell_suggest"] = spell_suggest

    def spell_wordbreak(s, d):
        """WordBreakSolrSpellChecker: split 'sparkhash' into dictionary
        words, combine adjacent ('quer','y') into 'query' — broadcast
        candidate joins against the vocabulary-sized dictionary."""
        post = R.doc_freq_postings(_tok(s, d))
        dict_df = post.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
        return R.word_break_suggest(dict_df, ["sparkhash", "quer", "y"])

    q["spell_wordbreak"] = spell_wordbreak

    def classify_bayes_lang(s, d):
        """ClassificationUpdateProcessor (Bayes): train multinomial NB
        on 80% of documents (label=lang), assign class_s to the held-out
        20% — exact Laplace-smoothed posteriors, SQL-twinned."""
        toks = _tok(s, d)
        docs = _docs(s, d).select(F.col("doc_id").alias("docid"), "lang")
        full = toks.join(docs, "docid")
        train = full.where(F.col("docid") % 5 != 0).select(
            "docid", "toks", F.col("lang").alias("label")
        )
        test = full.where(F.col("docid") % 5 == 0).select("docid", "toks")
        tm, cm = ML.bayes_train(train)
        return ML.bayes_classify(test, tm, cm)

    q["classify_bayes_lang"] = classify_bayes_lang

    def term_vectors_doc(s, d):
        toks = _tok(s, d).where(F.col("docid") == 7)
        return (
            toks.select("docid", F.explode("toks").alias("term"))
            .groupBy("docid", "term")
            .agg(F.count(F.lit(1)).alias("tf"))
            .orderBy(F.desc("tf"), "term")
        )

    q["term_vectors_doc7"] = term_vectors_doc

    def heatmap_facet(s, d):
        ev = _t(s, d, "events")
        gx = F.floor(F.col("value") / 100.0).cast("long")
        gy = F.pmod(F.col("user_id"), F.lit(10)).cast("long")
        return (
            ev.groupBy(gx.alias("gx"), gy.alias("gy"))
            .agg(F.count(F.lit(1)).alias("cnt"))
            .orderBy("gx", "gy")
        )

    q["heatmap_facet"] = heatmap_facet

    def interval_facet(s, d):
        c = F.col("n_chars")
        bucket = (
            F.when(c < 150, "tiny")
            .when(c < 300, "small")
            .when(c < 450, "medium")
            .otherwise("large")
        )
        return (
            _docs(s, d)
            .groupBy(bucket.alias("interval"))
            .agg(F.count(F.lit(1)).alias("cnt"))
            .orderBy("interval")
        )

    q["interval_facet"] = interval_facet

    def elevation(s, d):
        """QueryElevationComponent: pin docs 3 and 5 above organic
        results for this query; exclude doc 7."""
        organic = bm25_inline_scores(_docs(s, d), "table spark", id_col="doc_id", text_col="text")
        pinned = s.createDataFrame([(3, 1), (5, 2)], "docid long, pin int")
        merged = (
            organic.join(pinned, "docid", "left")
            .where(F.col("docid") != 7)
            .select(
                "docid",
                F.round("s", 4).alias("score"),
                F.coalesce("pin", F.lit(999)).alias("pin"),
            )
        )
        return (
            merged.orderBy("pin", F.desc("score"), "docid")
            .limit(10)
            .select("docid", "score")
        )

    q["elevation_pinned"] = elevation

    def deterministic_sample(s, d):
        """random() stream with a portable sampler: md5-hash bucket of the
        key — identical sample set in any engine (seeded, not rand())."""
        ev = _t(s, d, "events")
        h = F.conv(F.substring(F.md5(F.col("event_id").cast("string")), 1, 4), 16, 10)
        return (
            ev.where(F.pmod(h.cast("long"), F.lit(100)) < 5)
            .select("event_id", "event_type")
            .orderBy("event_id")
        )

    q["sample_deterministic"] = deterministic_sample

    def atomic_update_merge(s, d):
        """AtomicUpdateDocumentMerger set/inc semantics as a MERGE-shaped
        join: updates override o_orderstatus and increment o_totalprice."""
        orders = _t(s, d, "orders")
        upd = s.createDataFrame(
            [(1, "X", 100.0), (2, "Y", -50.0), (999999, "Z", 1.0)],
            "o_orderkey long, new_status string, delta double",
        )
        merged = orders.join(F.broadcast(upd), "o_orderkey", "left").select(
            "o_orderkey",
            F.coalesce("new_status", "o_orderstatus").alias("o_orderstatus"),
            F.round(
                F.col("o_totalprice") + F.coalesce("delta", F.lit(0.0)), 4
            ).alias("o_totalprice"),
        )
        return merged.where(F.col("o_orderkey") <= 20).orderBy("o_orderkey")

    q["atomic_update_merge"] = atomic_update_merge

    def atomic_array_ops_entry(s, d):
        """Atomic add/remove/removeregex on a multivalued field (the ops
        beside set/inc): one broadcast join, pure array expressions."""
        from solr_spark.operators.updateproc import (
            arr_add, arr_remove, arr_remove_regex,
        )

        base = (
            _docs(s, d)
            .where(F.col("doc_id") < 20)
            .select(
                F.col("doc_id").cast("long").alias("docid"),
                F.array("lang", "source").alias("tags"),
            )
        )
        upd = s.createDataFrame(
            [(0, "extra", None, None), (1, None, "en", None),
             (2, None, None, "^w"), (3, "en", "en", None)],
            "docid long, add_v string, rem_v string, rex string",
        )
        merged = base.join(F.broadcast(upd), "docid", "left")
        tags = arr_remove_regex(
            arr_remove(arr_add(F.col("tags"), F.col("add_v")), F.col("rem_v")),
            F.col("rex"),
        )
        return merged.select(
            "docid", F.array_join(F.array_sort(tags), "|").alias("tags")
        ).orderBy("docid")

    q["atomic_array_ops"] = atomic_array_ops_entry

    def highlight_entry(s, d):
        from solr_spark.operators.highlight import highlight

        return highlight(_docs(s, d), "vector merge", id_col="doc_id", text_col="text")

    q["highlight_snippets"] = highlight_entry

    def phrase_entry(s, d):
        from solr_spark.operators.phrase import phrase_match

        return phrase_match(_docs(s, d), "fast merge", id_col="doc_id", text_col="text")

    q["phrase_match"] = phrase_entry

    def phrase_slop_entry(s, d):
        from solr_spark.operators.phrase import phrase_match

        return phrase_match(
            _docs(s, d), "fast merge", id_col="doc_id", text_col="text", slop=2
        )

    q["phrase_match_slop2"] = phrase_slop_entry

    def phrase_unordered_entry(s, d):
        from solr_spark.operators.phrase import phrase_match

        return phrase_match(
            _docs(s, d), "merge fast", id_col="doc_id", text_col="text",
            slop=2, ordered=False,
        )

    q["phrase_unordered_slop2"] = phrase_unordered_entry

    def ltr_rescore_entry(s, d):
        """First-pass BM25 top-50, re-ordered by a trained LR model over
        cheap doc features (LTRRescorer role; deterministic features,
        rows-only driver check + pytest accuracy bound)."""
        docs = _docs(s, d)
        head = (
            bm25_inline_scores(docs, "table spark", id_col="doc_id", text_col="text")
            .orderBy(F.desc(F.round("s", 4)), "docid")
            .limit(50)
        )
        feats = head.join(
            docs.select(
                F.col("doc_id").alias("docid"),
                (F.col("lang") == "en").cast("double").alias("label"),
                F.col("n_chars").cast("double").alias("f_len"),
            ),
            "docid",
        ).withColumn("f_s", F.col("s"))
        from pyspark.ml.classification import LogisticRegression
        from pyspark.ml.feature import VectorAssembler

        asm = VectorAssembler(inputCols=["f_s", "f_len"], outputCol="fv")
        lr = LogisticRegression(
            featuresCol="fv", labelCol="label", maxIter=20, regParam=0.1,
            standardization=False,
        )
        model = lr.fit(asm.transform(feats))
        return ML.ltr_rescore(feats, model, ["f_s", "f_len"], k=10)

    q["ltr_rescore_top10"] = ltr_rescore_entry

    def ltr_fixed_entry(s, d):
        """Fixed-weight linear rescorer over the BM25 top-50 — the same
        LTRRescorer shape as ltr_rescore_top10 but with pinned weights,
        so the full rescore pipeline is value-checked by the DuckDB twin
        (trained-model variant keeps the rows-only check)."""
        docs = _docs(s, d)
        head = (
            bm25_inline_scores(docs, "table spark", id_col="doc_id", text_col="text")
            .select("docid", F.round("s", 4).alias("s4"))
            .orderBy(F.desc("s4"), "docid")
            .limit(50)
        )
        feats = head.join(
            docs.select(
                F.col("doc_id").cast("long").alias("docid"),
                F.col("n_chars").cast("double").alias("f_len"),
            ),
            "docid",
        )
        return (
            feats.select(
                "docid",
                F.round(
                    F.col("s4") + F.lit(0.002) * F.col("f_len"), 4
                ).alias("ltr_score"),
            )
            .orderBy(F.desc("ltr_score"), "docid")
            .limit(10)
        )

    q["ltr_fixed_rescore"] = ltr_fixed_entry

    def ltr_feature_log_entry(s, d):
        """[features] transformer: per-doc normalized feature values for
        a managed-store LinearModel (MinMax + Standard normalizers, plus
        an absent feature reading the 0.0 default)."""
        model = {
            "class": "org.apache.solr.ltr.model.LinearModel",
            "features": [
                {"name": "n_chars",
                 "norm": {"class": "MinMaxNormalizer",
                          "params": {"min": "0", "max": "5000"}}},
                {"name": "doc_id",
                 "norm": {"class": "StandardNormalizer",
                          "params": {"avg": "250", "std": "100"}}},
                {"name": "not_extracted"},
            ],
            "params": {"weights": {"n_chars": 1.0, "doc_id": 1.0,
                                   "not_extracted": 1.0}},
        }
        docs = _docs(s, d).where(F.col("doc_id") < 200)
        return (
            ML.ltr_feature_log(model, docs)
            .select("doc_id", "feat_n_chars", "feat_doc_id",
                    "feat_not_extracted")
            .orderBy("doc_id")
        )

    q["ltr_feature_log"] = ltr_feature_log_entry

    def ltr_trees_model_entry(s, d):
        """Solr LTR managed-store JSON scored as Columns: a
        MultipleAdditiveTrees ensemble + slack semantics
        (MultipleAdditiveTreesModel.java:285, boundary goes left) over
        two derived features; whole plan is one CASE-WHEN tree."""
        from solr_spark.operators.ml import ltr_model_score

        model = {
            "class": "org.apache.solr.ltr.model.MultipleAdditiveTreesModel",
            "features": [{"name": "f_len"}, {"name": "f_id"}],
            "params": {"trees": [
                {"weight": 1.0, "root": {
                    "feature": "f_len", "threshold": "300.0",
                    "left": {"feature": "f_id", "threshold": "3.0",
                             "left": {"value": "1.5"},
                             "right": {"value": "0.5"}},
                    "right": {"value": "2.5"}}},
                {"weight": 0.5, "root": {
                    "feature": "f_id", "threshold": "5.0",
                    "left": {"value": "1.0"},
                    "right": {"value": "3.0"}}},
            ]},
        }
        feats = (
            _docs(s, d)
            .where(F.col("doc_id") < 500)
            .select(
                F.col("doc_id").cast("long").alias("docid"),
                F.col("n_chars").cast("double").alias("f_len"),
                (F.col("doc_id") % 7).cast("double").alias("f_id"),
            )
        )
        return (
            feats.select(
                "docid", F.round(ltr_model_score(model), 4).alias("ltr_score")
            )
            .orderBy(F.desc("ltr_score"), "docid")
            .limit(50)
        )

    q["ltr_trees_model"] = ltr_trees_model_entry

    # --- REAL indexed engine (builder -> postings/blocks/positions) ---
    def bm25_indexed(qtext, k=10, mode="OR", wand=False):
        def run(s, d):
            from solr_spark.query.engine import bm25_topk
            from solr_spark.query.wand import bm25_topk_wand

            idx = _gate_index(s, d)
            fn = bm25_topk_wand if wand else bm25_topk
            # overfetch at the engine's round-9 ordering, then apply the
            # gate's round-4 + docid determinism contract (mode forwarded:
            # pre-round-3 it was silently dropped — AND ran as OR)
            return _round4_topk(fn(idx, qtext, k=max(100, k), mode=mode), k)

        return run

    q["bm25_indexed_topk"] = bm25_indexed("table spark", 10)

    def bm25_stemmed_topk(s, d):
        """Round-4 text_en-style chain end-to-end: catenated+stemmed
        index, query analyzed through the index handle (so the query
        terms stem identically but never catenate)."""
        from solr_spark.query.engine import bm25_topk

        idx = _gate_index_stemmed(s, d)
        return _round4_topk(
            bm25_topk(idx, "sparks merging hashing windows", k=100), 10
        )

    q["bm25_stemmed_topk"] = bm25_stemmed_topk

    def synonym_graph_analysis(s, d):
        """Multi-token synonym-graph expansion + catenation + Porter,
        as a pure analysis entry (token stream shape oracled exactly)."""
        from solr_spark.analysis.analyzer import (
            synonym_graph_col, tokens_catenate_col,
        )
        from solr_spark.analysis.porter import porter_stem_col

        g = {"spark": ["apache", "spark"], "js": ["java", "script"]}
        toks = porter_stem_col(
            synonym_graph_col(tokens_catenate_col(F.col("text")), g)
        )
        return (
            _t(s, d, "documents")
            .select(
                F.col("doc_id").cast("long").alias("docid"),
                F.size(toks).alias("n_toks"),
                F.element_at(toks, 1).alias("first_tok"),
                F.element_at(toks, -1).alias("last_tok"),
            )
            .orderBy("docid")
            .limit(300)
        )

    q["synonym_graph_analysis"] = synonym_graph_analysis
    q["bm25_indexed_and"] = bm25_indexed("table spark vector", 10, "AND")
    q["bm25_indexed_wand"] = bm25_indexed("customer query group", 10, wand=True)

    def bm25_mf_wand(s, d):
        """Block-max WAND on a MULTI-FIELD index's text field (round 3:
        per-field block metadata) — the text field of the mf index must
        score exactly like a single-field index, so the plain bm25_sql
        oracle applies."""
        from solr_spark.query.wand import bm25_topk_wand

        idx = _gate_index_mf(s, d)
        return _round4_topk(
            bm25_topk_wand(idx, "customer query group", k=100, field="text"), 10
        )

    q["bm25_indexed_mf_wand"] = bm25_mf_wand

    def search_indexed(s, d):
        from solr_spark.query.search_api import search

        idx = _gate_index(s, d)
        return search(idx, "(table OR spark) AND -vector lang:en", k=10)

    q["search_indexed_boolean"] = search_indexed

    def phrase_indexed(s, d):
        from solr_spark.query.positions import phrase_docids

        idx = _gate_index(s, d)
        return phrase_docids(idx, ["fast", "merge"], slop=0).orderBy("docid")

    q["phrase_indexed"] = phrase_indexed

    def terms_indexed(s, d):
        return R.terms_component_indexed(_gate_index(s, d), limit=20)

    q["terms_indexed"] = terms_indexed

    def sigterms_indexed(s, d):
        return R.significant_terms_indexed(_gate_index(s, d), "spark", 3, 15)

    q["sigterms_indexed"] = sigterms_indexed

    def spell_indexed(s, d):
        return R.spell_suggest_indexed(_gate_index(s, d), "sparc", 2, 5)

    q["spell_indexed"] = spell_indexed

    def spell_collations_entry(s, d):
        """Whole-query collations (SpellCheckCollator.java): 'sparc' is
        misspelled, 'table' is fine; candidate corrections substitute in
        and hit-verify with one batched postings pass over the REAL
        index."""
        return R.spell_collate(
            _gate_index(s, d), "sparc table", max_corrections=3,
            max_collations=5,
        )

    q["spell_collations"] = spell_collations_entry

    def suggest_infix(s, d):
        return R.suggest_infix_indexed(_gate_index(s, d), "or", limit=10)

    q["suggest_infix_indexed"] = suggest_infix

    def facet_meta_entry(s, d):
        """numBuckets/allBuckets/missing facet metadata; nulls are
        synthesized deterministically (the harness tables have none)."""
        ev = _t(s, d, "events").withColumn(
            "props_n",
            F.when(F.col("event_id") % 7 == 0, F.lit(None).cast("string"))
            .otherwise(F.col("event_type")),
        )
        return FA.facet_meta(ev, "props_n")

    q["facet_meta_events"] = facet_meta_entry

    def mlt_indexed(s, d):
        text = (
            _docs(s, d).where(F.col("doc_id") == 0).select("text").head()["text"]
        )
        return _round4_topk(
            R.more_like_this_indexed(
                _gate_index(s, d), text, exclude_docid=0, top_terms=5, k=100
            ),
            10,
        )

    q["mlt_indexed"] = mlt_indexed

    def mlt_interesting(s, d):
        text = (
            _docs(s, d).where(F.col("doc_id") == 0).select("text").head()["text"]
        )
        return R.mlt_interesting_terms(_gate_index(s, d), text, top_terms=5)

    q["mlt_interesting_terms"] = mlt_interesting

    def bm25_explain_entry(s, d):
        """debug=true score explanation: per-(doc, term) BM25 component
        breakdown through the REAL engine (bucket-pruned postings +
        docid IN pushdown), value-checked against a from-first-
        principles SQL recomputation of tf/df/idf/SmallFloat norms."""
        from solr_spark.query.engine import bm25_explain

        return bm25_explain(
            _gate_index(s, d), "table spark", [1, 2, 3, 7, 11]
        )

    q["bm25_explain"] = bm25_explain_entry

    _BATCH_QUERIES = {
        "a": "table spark",
        "b": "hash join window",
        "c": "merge sort",
        "d": "table zzznotaterm",
    }

    def bm25_batch_entry(s, d):
        """Bulk query execution: FOUR queries through ONE postings scan
        (bm25_topk_batch — two shuffles total for the whole batch); the
        per-(qid, docid) results carry the engine's exact scores."""
        from solr_spark.query.engine import bm25_topk_batch

        out = bm25_topk_batch(_gate_index(s, d), _BATCH_QUERIES, k=5)
        return out.select(
            "qid", "docid", F.round("score", 4).alias("score"), "rank"
        ).orderBy("qid", "rank")

    q["bm25_batch_queries"] = bm25_batch_entry

    def delete_by_query_flow(s, d):
        """deleteByQuery -> search: docs matching 'table' are tombstoned
        (liveDocs sidecar); a 'spark hash' top-k over the same index
        must exclude them while scoring with BUILD-TIME statistics
        (Lucene: deleted docs count in df/maxDoc until merge)."""
        from solr_spark.query.engine import bm25_topk

        idx = _gate_index_del(s, d)
        return (
            bm25_topk(idx, "spark hash", k=10)
            .select("docid", F.round("score", 4).alias("score"))
        )

    q["delete_by_query_flow"] = delete_by_query_flow

    def sessionize_events(s, d):
        """Gap-based sessionization (45-min gap) over events — one user
        shuffle, session id = running count of gap breaks inside the
        same window partition; the streaming twin
        (sessions.sessionize_stream) is the applyInPandasWithState
        custom stateful operator, equivalence-tested in pytest."""
        from solr_spark.streaming.sessions import sessionize

        return sessionize(_t(s, d, "events"), gap_minutes=45).select(
            "user_id", "session_id", "n_events", "sum_value"
        )

    q["sessionize_events"] = sessionize_events

    # --- block join / uniqueBlock (nested docs; orders=parents,
    # --- lineitem=children on the o_orderkey root) ---
    def blockjoin_parents(s, d):
        return (
            BJ.parent_query(
                _t(s, d, "orders"),
                _t(s, d, "lineitem").withColumnRenamed("l_orderkey", "o_orderkey"),
                "o_orderkey",
                (F.col("l_quantity") >= 49) & (F.col("l_discount") >= 0.09),
            )
            .where(F.col("o_orderpriority") == "1-URGENT")
            .select("o_orderkey", "o_totalprice")
            .orderBy("o_orderkey")
        )

    q["blockjoin_parents"] = blockjoin_parents

    def blockjoin_children(s, d):
        return (
            BJ.child_query(
                _t(s, d, "orders"),
                _t(s, d, "lineitem"),
                "l_orderkey",
                F.col("o_totalprice") > 450000,
                parent_key="o_orderkey",
            )
            .select("l_orderkey", "l_linenumber", "l_quantity")
            .orderBy("l_orderkey", "l_linenumber")
        )

    q["blockjoin_children"] = blockjoin_children

    def blockjoin_childfield(s, d):
        """childfield(field) sort source over a {!parent} result: each
        order carries the l_extendedprice of its highest-quantity
        lineitem with l_discount >= 0.05 (ChildFieldValueSourceParser;
        explicit max_by pick — see operators/blockjoin.childfield)."""
        out = BJ.childfield(
            _t(s, d, "orders").where(F.col("o_orderkey") <= 2000),
            _t(s, d, "lineitem").withColumnRenamed(
                "l_orderkey", "o_orderkey"
            ),
            "o_orderkey",
            field="l_extendedprice",
            child_pred=F.col("l_discount") >= 0.05,
            order_by="l_quantity",
            alias="top_child_price",
        )
        return (
            out.where(F.col("top_child_price").isNotNull())
            .select("o_orderkey", "top_child_price")
            .orderBy(F.col("top_child_price").desc(), "o_orderkey")
            .limit(50)
        )

    q["blockjoin_childfield"] = blockjoin_childfield

    def uniqueblock_entry(s, d):
        return BJ.unique_block(
            _t(s, d, "lineitem").where(F.col("l_quantity") >= 30),
            "l_returnflag",
            "l_orderkey",
        )

    q["uniqueblock_by_flag"] = uniqueblock_entry

    # --- ML family: IGain feature selection + TextLogit (pyspark.ml) ---
    def _labels(s, d):
        return _docs(s, d).select(
            F.col("doc_id").cast("long").alias("docid"),
            (F.col("lang") == "en").cast("int").alias("label"),
        )

    def igain_entry(s, d):
        return ML.igain_terms(_tok(s, d), _labels(s, d), limit=10, min_df=5)

    q["igain_terms"] = igain_entry

    def textlogit_entry(s, d):
        feats = [
            r["term"]
            for r in ML.igain_terms(
                _tok(s, d), _labels(s, d), limit=8, min_df=5
            ).collect()
        ]
        return ML.textlogit_classify(_tok(s, d), _labels(s, d), feats)

    q["textlogit_confusion"] = textlogit_entry

    def textlogit_stored_entry(s, d):
        """Train -> model_store (parquet, ModelStream.java:49 role) ->
        classify_stored from the parquet ALONE (no pyspark.ml objects):
        returns per-prediction counts. Rows-only driver check (iterative
        LR is not SQL-expressible); store/load fidelity is pytest-bound
        (test_model_store_load_classify)."""
        import hashlib
        import os

        feats = [
            r["term"]
            for r in ML.igain_terms(
                _tok(s, d), _labels(s, d), limit=8, min_df=5
            ).collect()
        ]
        toks = _tok(s, d)
        labels = _docs(s, d).select(
            F.col("doc_id").cast("long").alias("docid"),
            (F.col("lang") == "en").cast("double").alias("label"),
        )
        model, _ = ML.textlogit_train(toks, labels, feats)
        tag = hashlib.md5(d.encode()).hexdigest()[:8]
        path = f"/tmp/solr_spark_gate/model_{tag}"
        os.makedirs(os.path.dirname(path), exist_ok=True)
        ML.model_store(model, feats, path, s)
        return (
            ML.classify_stored(toks, s, path)
            .groupBy("prediction")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .orderBy("prediction")
        )

    q["textlogit_stored"] = textlogit_stored_entry

    def textlogit_totals_entry(s, d):
        """Oracle-able twin of textlogit_confusion: per-label doc totals
        (exactly checkable against the documents table) plus an overall
        accuracy-floor boolean for the trained model."""
        conf = textlogit_entry(s, d)
        overall = conf.agg(
            (
                F.sum(F.when(F.col("label") == F.col("prediction"), F.col("cnt")).otherwise(F.lit(0)))
                / F.sum("cnt")
                >= 0.5
            ).alias("acc_ok")
        )
        return (
            conf.groupBy("label")
            .agg(F.sum("cnt").alias("n_docs"))
            .crossJoin(F.broadcast(overall))
            .orderBy("label")
        )

    q["textlogit_label_totals"] = textlogit_totals_entry

    # --- multi-fragment highlighting (token offsets) ---
    def highlight_frags_entry(s, d):
        from solr_spark.operators.highlight import highlight_fragments

        return highlight_fragments(
            _docs(s, d), "vector merge", id_col="doc_id", text_col="text",
            max_frags=3, window=4,
        )

    q["highlight_fragments"] = highlight_frags_entry

    # --- edismax-lite: minimum-should-match over the scored terms ---
    def edismax_mm2(s, d):
        docs = _docs(s, d)
        toks = doc_tokens(docs, "doc_id", "text")
        matched = toks.select(
            "docid",
            F.size(
                F.array_intersect(
                    F.array_distinct("toks"),
                    F.array(F.lit("table"), F.lit("spark"), F.lit("vector")),
                )
            ).alias("_nm"),
        )
        scored = bm25_inline_scores(
            docs, "table spark vector", id_col="doc_id", text_col="text"
        )
        return (
            scored.join(matched, "docid")
            .where(F.col("_nm") >= 2)
            .orderBy(F.desc(F.round("s", 4)), "docid")
            .limit(10)
            .select("docid", F.round("s", 4).alias("score"))
        )

    q["edismax_mm2"] = edismax_mm2

    # --- oracles for the approximate operators (VERDICT item 9) ---
    def ann_lsh_recall(s, d):
        # planes=4/tables=4 measured recall 0.9 on the (near-isotropic)
        # harness embeddings at sf0.01; 0.6 leaves deterministic margin
        rec = SIM.lsh_recall_at_k(
            _t(s, d, "embeddings"), _qvec(s, d), k=10,
            n_planes=4, n_tables=4, probe_hamming=1,
        )
        return rec.select("k", (F.col("recall") >= 0.6).alias("recall_ok"))

    q["ann_lsh_recall"] = ann_lsh_recall

    def ann_ivf_recall(s, d):
        # IVF coarse quantizer (kmeans cells, probe nearest 4 of 8):
        # measured recall 0.8 at sf0.01 AND sf0.1 (near-isotropic
        # harness embeddings blur cell boundaries); 0.6 leaves margin
        # for kmeans float noise across partitionings
        rec = SIM.ivf_recall_at_k(
            _t(s, d, "embeddings"), _qvec(s, d), k=10,
            n_cells=8, n_probe=4,
        )
        return rec.select("k", (F.col("recall") >= 0.6).alias("recall_ok"))

    q["ann_ivf_recall"] = ann_ivf_recall

    def ann_lsh_persisted_recall(s, d):
        # Round-4: PERSISTED LSH index (lsh_build writes vectors
        # partitioned by (tbl, bucket); lsh_search prunes partitions) —
        # closes the round-3 weak spot of per-query corpus rescans.
        # Bucketing is seed-identical to the inline path, so recall
        # matches ann_lsh_recall's measured 0.9; 0.6 leaves margin.
        import hashlib
        import os

        from solr_spark.operators.similarity import lsh_build, lsh_search

        tag = hashlib.md5(d.encode()).hexdigest()[:8]
        path = f"/tmp/solr_spark_gate/lsh_{tag}"
        if not os.path.exists(f"{path}/meta"):
            lsh_build(
                _t(s, d, "embeddings"), path, n_planes=4, n_tables=4, seed=42
            )
        qv = _qvec(s, d)
        exact = SIM.cosine_topk(_t(s, d, "embeddings"), qv, k=10).select("vec_id")
        approx = lsh_search(s, path, qv, k=10, probe_hamming=1).select("vec_id")
        hits = exact.join(approx, "vec_id", "left_semi").count()
        return s.createDataFrame(
            [(10, hits >= 6)], "k long, recall_ok boolean"
        )

    q["ann_lsh_persisted_recall"] = ann_lsh_persisted_recall

    def ann_int8_recall(s, d):
        # int8 scalar quantization + exact rescore (Lucene byte-vector
        # shape): the rescore set is 4x k, so recall vs exact is 1.0
        # unless quantization reorders past 4x — 0.9 leaves margin
        rec = SIM.int8_recall_at_k(
            _t(s, d, "embeddings"), _qvec(s, d), k=10, rescore=4
        )
        return rec.select("k", (F.col("recall") >= 0.9).alias("recall_ok"))

    q["ann_int8_recall"] = ann_int8_recall

    def ann_pca_recall(s, d):
        # PCA embedding compression: full-rank projection is a pure
        # rotation (orthonormal basis), so cosine top-k recall MUST be
        # exactly 1.0 — a hard contract, not a tuned bound. Truncated
        # 56-of-64 measured 0.8 on the near-isotropic harness
        # embeddings (no low-rank structure to keep; real embedding
        # corpora compress far better) — 0.5 leaves wide margin for
        # eigenvalue-order instability under different partitionings.
        emb = _t(s, d, "embeddings")
        qv = _qvec(s, d)
        full = SIM.pca_recall_at_k(emb, qv, k=10, n_components=64)
        trunc = SIM.pca_recall_at_k(emb, qv, k=10, n_components=56)
        f = full.collect()[0]["recall"]
        t = trunc.collect()[0]["recall"]
        return s.createDataFrame(
            [(10, f == 1.0, t >= 0.5)],
            "k long, full_rank_ok boolean, trunc_ok boolean",
        )

    q["ann_pca_recall"] = ann_pca_recall

    def hll_error_ok(s, d):
        ev = _t(s, d, "events")
        agg = ev.groupBy("event_type").agg(
            F.approx_count_distinct("user_id").alias("_a"),
            F.countDistinct("user_id").alias("_e"),
        )
        return agg.select(
            "event_type",
            (
                F.abs(F.col("_a") - F.col("_e")) / F.col("_e") <= 0.15
            ).alias("within_bound"),
        ).orderBy("event_type")

    q["hll_error_ok"] = hll_error_ok

    # --- function-query registry (parsed ValueSource expressions) ---
    def func_parsed(s, d):
        from solr_spark.functions.valuesources import parse_func

        return (
            _docs(s, d)
            .select(
                F.col("doc_id").cast("long").alias("docid"),
                F.round(
                    parse_func("recip(abs(sub(n_chars,300)),1,1000,1000)"), 4
                ).alias("recip_d"),
                F.round(parse_func("map(n_chars,0,150,0)").cast("double"), 4).alias(
                    "mapped"
                ),
                F.round(
                    parse_func("if(exists(lang),strdist(lang,'en'),-1)").cast(
                        "double"
                    ),
                    4,
                ).alias("sim_en"),
                F.round(parse_func("log(max(n_chars,1))"), 4).alias("log10n"),
            )
            .orderBy("docid")
        )

    q["func_parsed_showcase"] = func_parsed

    def func_parsed_v2(s, d):
        """Round-2b ValueSources: linear/compare/scale (agg-and-fold
        literals, round-3: no single-partition window)/ord (explicit
        rank opt-in)/geodist haversine — all parsed from the public
        function-query syntax."""
        from solr_spark.functions.valuesources import parse_func

        docs = _docs(s, d)
        return (
            docs.select(
                F.col("doc_id").cast("long").alias("docid"),
                F.round(parse_func("linear(n_chars,2,10)").cast("double"), 4).alias("lin"),
                parse_func("gt(n_chars,300)").alias("big"),
                F.round(parse_func("scale(n_chars,0,100)", df=docs), 4).alias("scaled"),
                parse_func("ord(n_chars)", allow_rank=True).cast("long").alias("ordv"),
                F.round(
                    parse_func("geodist(48.8566,2.3522,40.7128,-74.006)"), 2
                ).alias("paris_nyc"),
            )
            .orderBy("docid")
        )

    q["func_parsed_v2"] = func_parsed_v2

    def func_parsed_v3(s, d):
        """Per-doc index value sources (ValueSourceParser.java:350-420)
        through the REAL index: query('spark hash', 0) joins the
        engine's full score frame by docid, tf('text','table') joins
        the pruned postings partition, norm('text') reads the
        SmallFloat-quantized doc length the scorer uses — composed
        inside one boost expression via parse_func_df."""
        from solr_spark.functions.valuesources import parse_func_df

        idx = _gate_index(s, d)
        docs = idx.docs().select("docid")
        df2, col = parse_func_df(
            "add(mul(2,query('spark hash',0)),"
            "mul(0.01,tf('text','table')),"
            "mul(0.0001,norm('text')))",
            docs,
            index=idx,
        )
        return (
            df2.select("docid", F.round(col, 4).alias("boosted"))
            .orderBy(F.desc("boosted"), F.asc("docid"))
            .limit(20)
        )

    q["func_parsed_v3"] = func_parsed_v3

    def func_parsed_v4(s, d):
        """Round-4 ValueSources: payload() JSON-props lookup with
        default, currency() static-rate conversion, hsin() radian
        haversine, literal()/true() constants — all through the public
        function-query syntax."""
        from solr_spark.functions.valuesources import parse_func

        ev = _t(s, d, "events").where(F.col("event_id") < 500)
        return ev.select(
            "event_id",
            F.round(parse_func("payload(props,'k',-1)"), 4).alias("pay_k"),
            F.round(parse_func("currency(value,'EUR')"), 4).alias("eur"),
            F.round(
                parse_func(
                    "hsin(6371,rad(48.8566),rad(2.3522),"
                    "rad(div(value,2)),rad(mod(event_id,90)))"
                ),
                2,
            ).alias("dist_km"),
            parse_func("concat(literal('ev:'),event_type)").alias("tag"),
            parse_func("if(true(),payload(props,'k'),0)").alias("pay_or0"),
        ).orderBy("event_id")

    q["func_parsed_v4"] = func_parsed_v4

    def func_parsed_v5(s, d):
        """Round-4 tranche 5 ValueSources: geohash() 12-char
        bit-interleave encode, ghhsin() haversine between geohash cell
        centers, vector() multi-source array, top() identity wrapper —
        all through the public function-query syntax, all JVM-side
        (ValueSourceParser.java "geohash"/"ghhsin"/"vector"/"top")."""
        from solr_spark.functions.valuesources import parse_func

        c = _t(s, d, "customer").where(F.col("c_custkey") <= 400)
        pts = c.select(
            "c_custkey",
            ((F.col("c_custkey") * 7919 % 17000) / 100.0 - 85.0).alias("lat"),
            ((F.col("c_custkey") * 104729 % 36000) / 100.0 - 180.0).alias("lon"),
        )
        return pts.select(
            "c_custkey",
            parse_func("geohash(lat, lon)").alias("gh"),
            F.round(
                parse_func(
                    "ghhsin(6371.0087714, geohash(lat, lon), "
                    "geohash(40.7, -74.0))"
                ),
                4,
            ).alias("gh_dist_km"),
            F.round(
                F.element_at(parse_func("vector(lat, lon)"), 2), 4
            ).alias("vec_lon"),
            F.round(parse_func("top(add(lat, lon))"), 4).alias("top_sum"),
        ).orderBy("c_custkey")

    q["func_parsed_v5"] = func_parsed_v5

    def agg_funcs_lineitem(s, d):
        """Round-4 tranche 6: the agg_* JSON-Facet aggregation parsers
        (ValueSourceParser.java:944-1088) as groupBy aggregate Columns —
        count/countvals/missing/sum/avg/sumsq/min/max/variance/stddev/
        unique/percentile, inner args through the full scalar function
        parser (sum(mul(...)) composes); corrected variance per
        AggUtil.java:61-64."""
        from solr_spark.functions.valuesources import parse_agg

        li = _t(s, d, "lineitem")
        return (
            li.groupBy("l_returnflag")
            .agg(
                parse_agg("count()").alias("n"),
                parse_agg("countvals(l_shipdate)").alias("cv"),
                parse_agg("missing(l_shipdate)").alias("miss"),
                parse_agg(
                    "sum(mul(l_extendedprice, sub(1, l_discount)))"
                ).alias("rev"),
                parse_agg("avg(l_quantity)").alias("avg_qty"),
                parse_agg("agg(sumsq(l_tax))").alias("ssq_tax"),
                parse_agg("min(l_extendedprice)").alias("min_price"),
                parse_agg("max(l_extendedprice)").alias("max_price"),
                parse_agg("variance(l_extendedprice)").alias("var_price"),
                parse_agg("stddev(l_extendedprice)").alias("sd_price"),
                parse_agg("unique(l_suppkey)").alias("uniq_supp"),
                parse_agg("percentile(l_quantity, 0.5)").alias("p50_qty"),
            )
            .orderBy("l_returnflag")
        )

    q["agg_funcs_lineitem"] = agg_funcs_lineitem

    def func_joindf_lang(s, d):
        """joindf(lang, lang) over the multi-field gate index: per doc,
        the docfreq (in the indexed lang field) of the doc's own stored
        lang value — JoinDocFreqValueSource (ValueSourceParser.java:331)
        as one docs-scan joined to the term dictionary."""
        from solr_spark.functions.valuesources import parse_func_df

        idx = _gate_index_mf(s, d)
        # lang is an INDEXED field on the mf index (not stored in docs),
        # so the caller frame carries the per-doc value
        base = (
            _t(s, d, "documents")
            .select(F.col("doc_id").cast("long").alias("docid"), "lang")
            .where(F.col("docid") < 500)
        )
        out, col = parse_func_df("joindf(lang, lang)", base, index=idx)
        return out.select(
            "docid", col.alias("lang_df")
        ).orderBy("docid")

    q["func_joindf_lang"] = func_joindf_lang

    def update_chain_v3(s, d):
        """Round-4 processor tranche 3 as one chain: Signature (md5 +
        lookup3-width), Template, RegexpBoost (composing multiplies),
        URLClassify, ParseBoolean, FieldNameMutating — every processor
        a pure column transform (update/processor/ factories; see each
        function's docstring for the file cite)."""
        from solr_spark.operators import updateproc as UP

        docs = (
            _t(s, d, "documents")
            .where(F.col("doc_id") < 400)
            .select(
                F.col("doc_id").cast("long").alias("docid"),
                "source",
                "lang",
                "text",
            )
            .withColumn(
                "url",
                F.concat(
                    F.lit("https://"), F.col("source"),
                    F.lit(".example.com/docs/"),
                    F.col("docid").cast("string"), F.lit("/page"),
                ),
            )
            .withColumn(
                "flag",
                F.when(F.col("docid") % 3 == 0, F.lit("Yes"))
                .when(F.col("docid") % 3 == 1, F.lit("off"))
                .otherwise(F.lit("maybe")),
            )
        )
        out = UP.apply_chain(docs, [
            UP.signature_field("sig", ["source", "lang"]),
            UP.signature_field("sig64", ["source", "lang"], algo="lookup3"),
            UP.template_field("label", "{source}:{lang}"),
            UP.regexp_boost("text", "the", 2.0),
            UP.regexp_boost("text", "and", 3.0),
            UP.url_classify("url"),
            UP.parse_boolean("flag"),
            UP.field_name_mutating("^text$", "body"),
        ])
        return out.select(
            "docid", "sig", "sig64", "label",
            F.round("boost_d", 4).alias("boost_d"),
            "url_levels", "url_toplevel", "url_landingpage",
            "url_canonical",
            F.coalesce(F.col("flag").cast("string"), F.lit("null")).alias(
                "flag_s"
            ),
        ).orderBy("docid")

    q["update_chain_v3"] = update_chain_v3

    def update_tolerant_split(s, d):
        """TolerantUpdateProcessor as a quarantine split: rows failing
        any check carry the sorted failed-label set; this gate returns
        the quarantine side (the reference's per-doc error report)."""
        from solr_spark.operators import updateproc as UP

        orders = _t(s, d, "orders").where(F.col("o_orderkey") <= 3000)
        ok, bad = UP.tolerant_split(orders, {
            "big_price": F.col("o_totalprice") <= 400000,
            "low_prio": F.col("o_orderpriority") != "5-LOW",
        })
        return (
            bad.select(
                "o_orderkey",
                F.array_join("_errors_", ",").alias("errors"),
            )
            .orderBy("o_orderkey")
        )

    q["update_tolerant_split"] = update_tolerant_split

    def pii_scrub_docs(s, d):
        """PII scrub + audit counts over documents with deterministic
        planted PII (operators/textstats.PII_PATTERNS; Column and SQL
        twins run the same RE2-safe patterns)."""
        from solr_spark.operators import textstats as TS

        docs = (
            _docs(s, d)
            .where(F.col("doc_id") < 300)
            .withColumn(
                "aug",
                F.concat(
                    F.col("text"),
                    F.when(
                        F.col("doc_id") % 5 == 0,
                        F.concat(
                            F.lit(" contact user"),
                            F.col("doc_id").cast("string"),
                            F.lit("@example.com or 555-123-4567 x"),
                        ),
                    ).otherwise(F.lit("")),
                ),
            )
        )
        counts = TS.pii_counts(docs, "doc_id", "aug")
        scrub = docs.select(
            F.col("doc_id").cast("long").alias("docid"),
            F.md5(TS.pii_scrub_col("aug")).alias("scrubbed_md5"),
        )
        return (
            scrub.join(counts, "docid")
            .select("docid", "scrubbed_md5", "n_email", "n_phone")
            .orderBy("docid")
        )

    q["pii_scrub_docs"] = pii_scrub_docs

    def contamination_docs(s, d):
        """Benchmark-contamination: 5-gram shingle containment of docs
        0..199 against the 'benchmark' slice 200..399 (distinct'd
        benchmark shingles, semi-join on the shingle hash)."""
        from solr_spark.operators import textstats as TS
        from solr_spark.query.inline import doc_tokens

        all_toks = doc_tokens(_docs(s, d), id_col="doc_id", text_col="text")
        docs = all_toks.where(F.col("docid") < 200).select("docid", "toks")
        bench = (
            all_toks.where((F.col("docid") >= 200) & (F.col("docid") < 400))
            .select("docid", "toks")
        )
        return TS.contamination(docs, bench, n=5).orderBy("docid")

    q["contamination_docs"] = contamination_docs

    def dup_spans_docs(s, d):
        """Exact-substring (duplicate-span) dedup profile: per doc, how
        many of its 8-token spans occur >= 2 times anywhere in the
        corpus (the suffix-array-free form of keep-first-occurrence
        training-data dedup). Integer columns only — the frac is
        derivable and float-tie-free gates compare cleanly."""
        from solr_spark.operators import dedup as DD

        toks = _tok(s, d).select("docid", "toks")
        return (
            DD.dup_span_stats(toks, n=8)
            .select("docid", "n_spans", "n_dup")
            .orderBy("docid")
        )

    q["dup_spans_docs"] = dup_spans_docs

    def dedup_span_removal(s, d):
        """Keep-first-occurrence substring dedup APPLIED: tokens covered
        by non-canonical duplicated 8-token spans drop; gate compares
        the md5 of each doc's cleaned token stream + removal count."""
        from solr_spark.operators import dedup as DD

        toks = _tok(s, d).select("docid", "toks")
        return (
            DD.remove_dup_spans(toks, n=8)
            .select(
                "docid",
                F.md5(F.concat_ws(" ", "toks")).alias("kept_md5"),
                F.col("n_removed").cast("long").alias("n_removed"),
            )
            .orderBy("docid")
        )

    q["dedup_span_removal"] = dedup_span_removal

    def lm_logprob_heldout(s, d):
        """Bigram-LM quality signal: stupid-backoff average log-prob of
        held-out docs (doc_id >= 300) under a count model trained on
        doc_id < 300 — the perplexity-filter shape (CCNet/Gopher KenLM
        stage) on a bigram model."""
        from solr_spark.operators import textstats as TS

        toks = _tok(s, d).select("docid", "toks")
        model = toks.where(F.col("docid") < 300)
        score = toks.where(F.col("docid") >= 300)
        return TS.lm_doc_logprob(score, model, alpha=0.4).orderBy("docid")

    q["lm_logprob_heldout"] = lm_logprob_heldout

    def grouping_func_orders(s, d):
        """group.func: top-2 orders per mod(o_custkey,7) bucket, the
        grouped-by-valuesource command compiled via the function-query
        registry."""
        from solr_spark.operators.collapse import grouping_by_func

        orders = _t(s, d, "orders").where(F.col("o_orderkey") <= 2000)
        return (
            grouping_by_func(
                orders,
                "mod(o_custkey,7)",
                [F.desc("o_totalprice"), F.asc("o_orderkey")],
                group_limit=2,
            )
            .select(
                "o_orderkey",
                F.col("group_value").cast("long").alias("group_value"),
                F.col("grp_rank").cast("long").alias("grp_rank"),
            )
            .orderBy("group_value", "grp_rank")
        )

    q["grouping_func_orders"] = grouping_func_orders

    def grouping_query_orders(s, d):
        """group.query: one top-2 group per named predicate (docs may
        appear in both groups, like the reference's query command)."""
        from solr_spark.operators.collapse import grouping_by_queries

        orders = _t(s, d, "orders").where(F.col("o_orderkey") <= 2000)
        return (
            grouping_by_queries(
                orders,
                {
                    "big": F.col("o_totalprice") > 300000,
                    "urgent": F.col("o_orderpriority") == "1-URGENT",
                },
                [F.desc("o_totalprice"), F.asc("o_orderkey")],
                group_limit=2,
            )
            .select(
                "o_orderkey", "group_value",
                F.col("grp_rank").cast("long").alias("grp_rank"),
            )
            .orderBy("group_value", "grp_rank")
        )

    q["grouping_query_orders"] = grouping_query_orders

    def phrase_stats_query(s, d):
        """PhrasesIdentificationComponent stats pass: shingle ttf/df +
        unigram-conjunction doc counts for every window of the query
        'table value part hash' (broadcast candidate lattice, two
        corpus passes)."""
        from solr_spark.operators.phrases import phrase_candidate_stats

        toks = _tok(s, d).select("docid", "toks")
        return phrase_candidate_stats(
            toks, ["table", "value", "part", "hash"],
            max_indexed=3, max_query=4,
        ).orderBy("t")

    q["phrase_stats_query"] = phrase_stats_query

    def phrases_identify(s, d):
        """Full phrase identification: Bayesian computeFieldScore model
        over the stats lattice (driver-side scoring like the reference
        coordinator; no SQL twin — covered by the independent-model
        tests in tests/test_phrases.py and the oracled stats gate)."""
        from solr_spark.operators.phrases import identify_phrases

        toks = _tok(s, d).select("docid", "toks")
        return identify_phrases(
            toks, "table value part hash",
            max_indexed=3, max_query=4, min_score=-1e9,
        )

    q["phrases_identify"] = phrases_identify

    def pack_docs_seqs(s, d):
        """Token-budget packing: documents laid end-to-end by doc_id,
        pack_id = floor(prefix n_chars / 50000) via the two-phase
        prefix sum (no global single-partition window)."""
        from solr_spark.operators import textstats as TS

        docs = _docs(s, d).select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col("n_chars").cast("long").alias("ntok"),
        )
        return (
            TS.pack_sequences(docs, "doc_id", "ntok", budget=50000)
            .select(
                F.col("doc_id").alias("docid"), "token_offset", "pack_id"
            )
            .orderBy("docid")
        )

    q["pack_docs_seqs"] = pack_docs_seqs

    # --- update processor chain over orders ---
    def update_chain(s, d):
        from solr_spark.operators import updateproc as UP

        o = _t(s, d, "orders").where(F.col("o_orderkey") <= 50)
        out = UP.apply_chain(
            o,
            [
                UP.clone_field("o_orderstatus", "status_copy"),
                UP.concat_fields("okey", ["o_orderkey", "o_orderstatus"], sep="|"),
                UP.truncate_field("o_orderpriority", 3),
                UP.uuid_field("uid", ["o_orderkey"]),
                UP.field_length("okey", "okey_len"),
                UP.max_field("o_totalprice", 300000.0),
            ],
        )
        return out.select(
            "o_orderkey",
            "status_copy",
            "okey",
            "o_orderpriority",
            "uid",
            "okey_len",
            F.round("o_totalprice", 4).alias("o_totalprice"),
        ).orderBy("o_orderkey")

    q["update_chain_orders"] = update_chain

    # --- streaming-expression eval() ---
    def stream_expr(s, d):
        from solr_spark.plans.streamexpr import eval_expr

        df = eval_expr(
            'rollup(search(lineitem, q="l_quantity:[30 TO *]", '
            'fl="l_returnflag,l_quantity"), over="l_returnflag", '
            "sum(l_quantity), count(*))",
            {"lineitem": _t(s, d, "lineitem")},
        )
        return df.select(
            "l_returnflag",
            F.round(F.col("sum(l_quantity)"), 4).alias("sum_qty"),
            F.col("count(*)").alias("cnt"),
        ).orderBy("l_returnflag")

    q["stream_expr_rollup"] = stream_expr

    def stream_expr_having(s, d):
        """Round-4 eval() tranche 2 in one composed expression: facet
        source -> having (evaluator tree gt/add) -> sort
        (HavingStream/SortStream/FacetStream via the expression
        compiler)."""
        from solr_spark.plans.streamexpr import eval_expr

        df = eval_expr(
            'sort(having(facet(orders, buckets="o_orderpriority", '
            "sum(o_totalprice), count(*)), "
            'gt(count(*), 100)), by="o_orderpriority asc")',
            {"orders": _t(s, d, "orders")},
        )
        return df.select(
            F.col("o_orderpriority"),
            F.round(F.col("sum(o_totalprice)"), 2).alias("sum_price"),
            F.col("count(*)").alias("cnt"),
        )

    q["stream_expr_having"] = stream_expr_having

    def stream_expr_nodes(s, d):
        """eval() tranche 3: the 2-hop customer->order->part traversal
        of graph_gather_2hop expressed as a compiled nodes() expression
        (GatherNodesStream via the stream compiler) — same recursive-CTE
        oracle."""
        from solr_spark.plans.streamexpr import eval_expr

        seeds = (
            _t(s, d, "customer")
            .where(F.col("c_custkey") <= 20)
            .select(F.col("c_custkey").alias("node"))
        )
        return eval_expr(
            'nodes(edges, search(seeds), walk="src->dst", maxDepth=2)',
            {"edges": _graph_edges(s, d), "seeds": seeds},
        )

    q["stream_expr_nodes"] = stream_expr_nodes

    def stream_expr_timeseries(s, d):
        """eval() tranche 3: timeseries() with Solr gap syntax (+1DAY)
        compiled to the date_trunc grouped agg."""
        from solr_spark.plans.streamexpr import eval_expr

        df = eval_expr(
            'timeseries(events, q="event_type:click", field="ts", '
            'gap="+1DAY", count(*), sum(value))',
            {"events": _t(s, d, "events")},
        )
        return df.select(
            "bucket_ts",
            F.col("count(*)").alias("cnt"),
            F.round(F.col("sum(value)"), 4).alias("sum_value"),
        ).orderBy("bucket_ts")

    q["stream_expr_timeseries"] = stream_expr_timeseries

    def stream_expr_sigterms(s, d):
        """eval() tranche 3: significantTerms() compiled — same scoring
        as the operator API, same SQL twin."""
        from solr_spark.plans.streamexpr import eval_expr

        return eval_expr(
            'significantTerms(toks, q="spark", minDocFreq=3, limit=15)',
            {"toks": _tok(s, d)},
        )

    q["stream_expr_sigterms"] = stream_expr_sigterms

    # --- scoreNodes over a customer->orders traversal ---
    def score_nodes_entry(s, d):
        orders = _t(s, d, "orders")
        n = orders.count()
        nodes = orders.where(F.col("o_orderpriority") == "1-URGENT").groupBy(
            F.col("o_custkey").alias("node")
        ).agg(F.count(F.lit(1)).alias("count"))
        freq = orders.groupBy(F.col("o_custkey").alias("node")).agg(
            F.count(F.lit(1)).alias("df")
        )
        return GR.score_nodes(nodes, freq, n).limit(25)

    q["score_nodes_custs"] = score_nodes_entry

    # --- relatedness() agg (semantic knowledge graph) ---
    q["relatedness_lang"] = lambda s, d: FA.relatedness_facet(
        _docs(s, d), "lang", F.col("n_chars") > 300, limit=10
    )

    # --- realtime get with update-log overlay ---
    def rtg_entry(s, d):
        from solr_spark.query.engine import realtime_get

        idx = _gate_index(s, d)
        base = idx.docs().where(F.col("docid").isin([1, 2]))
        upd = (
            base.where(F.col("docid") == 1)
            .withColumn("lang", F.lit("xx"))
            .withColumn("_version_", F.lit(2))
            .withColumn("_deleted_", F.lit(False))
        )
        tomb = (
            base.where(F.col("docid") == 2)
            .withColumn("_version_", F.lit(1))
            .withColumn("_deleted_", F.lit(True))
        )
        out = realtime_get(idx, [1, 2, 3, 4], upd.unionByName(tomb))
        return out.select("docid", "repo", "lang", "_from_tlog")

    q["rtg_overlay"] = rtg_entry

    # --- merge() of two sorted streams ---
    def merge_entry(s, d):
        orders = _t(s, d, "orders")
        a = orders.where(F.col("o_orderstatus") == "F").select(
            F.col("o_orderkey").alias("k"), F.col("o_totalprice").alias("v")
        )
        b = orders.where(F.col("o_orderstatus") == "O").select(
            F.col("o_orderkey").alias("k"), F.col("o_totalprice").alias("v")
        )
        return (
            S.merge_streams([a, b], [F.asc("k")])
            .limit(200)
            .select("k", F.round("v", 4).alias("v"))
        )

    q["merge_sorted_streams"] = merge_entry

    # --- reduce(): arbitrary per-group op via applyInPandas ---
    def reduce_entry(s, d):
        import pandas as pd

        orders = _t(s, d, "orders").where(F.col("o_custkey") <= 200).select(
            "o_custkey", "o_orderdate"
        )

        def gaps(key, pdf):
            pdf = pdf.sort_values("o_orderdate")
            dts = pd.to_datetime(pdf["o_orderdate"])
            mg = 0
            if len(pdf) > 1:
                mg = int(dts.diff().dt.days.max())
            return pd.DataFrame(
                {
                    "o_custkey": [key[0]],
                    "n_orders": [len(pdf)],
                    "max_gap_days": [mg],
                }
            )

        out = S.reduce_groups(
            orders,
            ["o_custkey"],
            gaps,
            "o_custkey long, n_orders long, max_gap_days long",
        )
        return out.orderBy("o_custkey")

    q["reduce_order_gaps"] = reduce_entry

    # --- edismax: qf field boosts + tiebreaker + mm + boost function ---
    def edismax_entry(s, d):
        from solr_spark.functions.valuesources import parse_func
        from solr_spark.query.edismax import edismax_inline

        return edismax_inline(
            _docs(s, d),
            "table spark en",
            {"text": 1.0, "lang": 3.0, "source": 2.0},
            tie=0.3,
            mm=2,
            bf=parse_func("log(max(n_chars,1))"),
            k=10,
            id_col="doc_id",
        )

    q["edismax_qf_tie"] = edismax_entry

    def edismax_pf_entry(s, d):
        from solr_spark.query.edismax import edismax_inline

        return edismax_inline(
            _docs(s, d),
            "fast merge",
            {"text": 1.0},
            pf={"text": 2.0},
            ps=1,
            k=10,
            id_col="doc_id",
        )

    q["edismax_pf"] = edismax_pf_entry

    def edismax_pf2_entry(s, d):
        from solr_spark.query.edismax import edismax_inline

        return edismax_inline(
            _docs(s, d),
            "fast merge sort",
            {"text": 1.0},
            pf2={"text": 1.5},
            ps=0,
            k=10,
            id_col="doc_id",
        )

    q["edismax_pf2_shingles"] = edismax_pf2_entry

    def edismax_indexed_entry(s, d):
        """edismax qf over the REAL multi-field index (one bucket-pruned
        postings scan, tid = hash(field, term)); oracled by the same
        DuckDB twin as the inline path — indexed and inline per-field
        BM25 must agree exactly."""
        from solr_spark.query.edismax import edismax_indexed

        return edismax_indexed(
            _gate_index_mf(s, d),
            "merge en",
            {"text": 1.0, "lang": 2.0},
            tie=0.1,
            k=10,
        )

    q["edismax_indexed_qf"] = edismax_indexed_entry

    def edismax_indexed_pf_entry(s, d):
        """pf phrase boost on the REAL index: phrase freqs come from the
        bucket-pruned positions table (no corpus re-tokenize), scored
        with the same per-field BM25 shape as the inline twin."""
        from solr_spark.query.edismax import edismax_indexed

        return edismax_indexed(
            _gate_index_mf(s, d),
            "fast merge",
            {"text": 1.0},
            pf={"text": 2.0},
            ps=1,
            k=10,
        )

    q["edismax_indexed_pf"] = edismax_indexed_pf_entry

    # --- text analysis ---
    q["token_counts"] = lambda s, d: TS.token_counts(_tok(s, d))
    q["text_quality"] = lambda s, d: TS.quality_score(
        _docs(s, d), "doc_id", "text", _tok(s, d)
    )
    q["lang_id"] = lambda s, d: TS.lang_id(_tok(s, d))
    q["doc_fingerprint"] = lambda s, d: TS.fingerprint(_tok(s, d))

    def mix_sample_sources(s, d):
        """Deterministic stratified corpus mixing: per-source sampling
        rates applied via md5-bucket hashing — same kept set at any
        parallelism / engine (textstats.mix_sample)."""
        docs = _docs(s, d)
        kept = TS.mix_sample(
            docs,
            "doc_id",
            "source",
            {"src0": 0.75, "src1": 0.25, "src2": 0.5},
            default=0.1,
        )
        return (
            kept.groupBy("source")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_kept"),
                F.sum(F.col("doc_id").cast("long")).alias("id_sum"),
            )
            .orderBy("source")
        )

    q["mix_sample_sources"] = mix_sample_sources

    def repetition_docs(s, d):
        """Gopher-style within-doc repetition signals: top-bigram and
        duplicated-bigram instance fractions per document."""
        return TS.repetition_signals(_tok(s, d)).orderBy("docid")

    q["repetition_docs"] = repetition_docs

    # --- spatial family ({!geofilt} / {!bbox} / rect range / geodist sort)
    # Coordinates are derived from c_custkey with pure integer/decimal
    # arithmetic so the DuckDB oracle reproduces them exactly; the
    # haversine formula is term-for-term identical on both sides.
    def _cust_pts(s, d):
        c = _t(s, d, "customer")
        return c.select(
            "c_custkey",
            ((F.col("c_custkey") * 7919 % 17000) / 100.0 - 85.0).alias("lat"),
            ((F.col("c_custkey") * 104729 % 36000) / 100.0 - 180.0).alias("lon"),
        )

    def geofilt_entry(s, d):
        pts = _cust_pts(s, d)
        hit = SP.geofilt(pts, "lat", "lon", 40.7, -74.0, 3000.0)
        return hit.select(
            "c_custkey",
            F.round(SP.geodist_km("lat", "lon", 40.7, -74.0), 4).alias("dist_km"),
        ).orderBy("c_custkey")

    q["geofilt_customers"] = geofilt_entry

    def bbox_entry(s, d):
        pts = _cust_pts(s, d)
        return (
            pts.where(SP.bbox_predicate("lat", "lon", 40.7, -74.0, 3000.0))
            .select("c_custkey")
            .orderBy("c_custkey")
        )

    q["bbox_customers"] = bbox_entry

    def rect_entry(s, d):
        # wrapped box across the date line exercises the lon1>lon2 branch
        pts = _cust_pts(s, d)
        return (
            SP.rect_query(pts, "lat", "lon", -30.0, 150.0, 30.0, -150.0)
            .select("c_custkey")
            .orderBy("c_custkey")
        )

    q["rect_range_customers"] = rect_entry

    def geodist_sort_entry(s, d):
        # overfetch then re-rank on (rounded dist, key): cross-engine
        # float noise must not flip the boundary (same contract as
        # _round4_topk)
        pts = _cust_pts(s, d)
        top = SP.geodist_sort(pts, "lat", "lon", 48.8566, 2.3522, k=40)
        return (
            top.select(
                "c_custkey", F.round("dist_km", 4).alias("dist_km")
            )
            .orderBy("dist_km", "c_custkey")
            .limit(20)
        )

    q["geodist_sort_top20"] = geodist_sort_entry

    # ---- driver-oracle window rotation (round 4) -------------------
    # The external driver oracles the FIRST 50 entries in insertion
    # order; rounds 1-3 sampled the same leading 50, leaving 52
    # in-repo-oracled entries (indexed BM25/edismax/phrase/highlight/
    # LTR/blockjoin/...) never externally checked (VERDICT r3 item 1).
    # Rotate those into the window, pinning a tiny BM25 core for
    # round-over-round continuity. Names not present are skipped, so
    # the list may safely reference entries added later in the round.
    # Round-4 late swap: six entries with external oracle rows from
    # rounds 1-3 (bm25_topk_and r3, sample_deterministic r1, the four
    # textstats r2) yield their slots to the six newest gates so the
    # round-4 driver run externally checks them too; union coverage
    # only grows.
    # Round-5 rotation: rounds 1-4 externally green-lit 112 distinct
    # entries; the 48 below have NEVER had a driver-oracle row (they
    # landed after the round-4 rotation commit). They take the window,
    # behind a two-entry pinned BM25 core kept for round-over-round
    # continuity. tests/test_entry.py::test_never_oracled_in_window
    # guards this invariant against future late-round gate adds.
    _WINDOW = [
        "bm25_topk_or", "bm25_indexed_topk",          # pinned core
        # round-6 rotation: the 32 entries never seen in any
        # CORRECTNESS_r0*.json take the window (round-5 verdict item 1);
        # ltr_rescore_top10 (no oracle by design) rotates OUT so no
        # window slot can only ever return no_oracle (verdict item 3)
        "analysis_filters_v3", "terms_filtered", "facet_source_prefix",
        "facet_lang_sort_by_stat", "eval_regress_describe", "tag_entities",
        "luke_top_terms", "cluster_search_page", "suggest_freetext_bigram",
        "sigterms_indexed", "spell_indexed", "suggest_infix_indexed",
        "facet_meta_events", "mlt_interesting_terms", "textlogit_confusion",
        "textlogit_stored", "ann_int8_recall", "ann_pca_recall",
        "hll_error_ok", "func_parsed_showcase", "update_tolerant_split",
        "dup_spans_docs", "dedup_span_removal", "lm_logprob_heldout",
        "grouping_func_orders", "grouping_query_orders",
        "phrase_stats_query", "phrases_identify", "update_chain_orders",
        "edismax_pf2_shingles", "mix_sample_sources", "repetition_docs",
        # remaining 16 slots: oldest-green marquee ops re-confirmed
        "hybrid_rrf", "bm25_maxscore", "complex_phrase", "bm25_explain",
        "bm25_batch_queries", "delete_by_query_flow",
        "surround_near", "surround_trunc", "score_join_modes",
        "payload_score_sum", "payload_check_eq",
        "sql_tpch_q5", "sql_tpch_q6", "sessionize_events",
        "geofilt_customers", "ltr_trees_model",
    ]
    _win = {k: q[k] for k in _WINDOW if k in q}
    _rest = {k: v for k, v in q.items() if k not in _win}
    return {**_win, **_rest}


def _SPARK_DSUM(expr: str) -> str:
    return f"round(cast(sum(cast(({expr}) as decimal(30,6))) as double), 4)"


# ------------------------------------------------------------- oracle SQL

_DOC_TOKS_SQL = f"toks AS (SELECT doc_id AS docid, {tokens_sql('text')} AS toks FROM documents)"
_POST_SQL = "post AS (SELECT DISTINCT docid, unnest(toks) AS term FROM toks)"


def oracle_sql() -> dict[str, str]:
    o: dict[str, str] = {}

    o["bm25_topk_or"] = G.bm25_sql("spark hash window merge", 10)
    o["bm25_topk_and"] = G.bm25_sql("table spark vector", 10, "AND")
    o["bm25_single_head"] = G.bm25_sql("table", 10)
    o["bm25_topk100"] = G.bm25_sql("customer query group", 100)
    o["bm25_absent_term"] = G.bm25_sql("zzzqqqnope", 10)
    o["bm25_and_with_absent"] = G.bm25_sql("table zzzqqqnope", 10, "AND")
    o["bm25_dup_terms"] = G.bm25_sql("spark spark window", 10)
    o["bm25_inline_or"] = G.bm25_sql("spark hash window merge", 10)
    from solr_spark.analysis.analyzer import stop_filter_sql, synonym_filter_sql

    _filtered_toks = synonym_filter_sql(
        stop_filter_sql(tokens_sql("text"), ["the", "a", "of", "and"]),
        {"js": "javascript", "py": "python"},
    )
    o["analysis_filters"] = f"""
        SELECT doc_id::BIGINT AS docid,
               len({_filtered_toks})::INT AS n_toks,
               ({_filtered_toks})[1] AS first_tok
        FROM documents WHERE doc_id < 300 ORDER BY docid"""
    from solr_spark.analysis.analyzer import (
        ascii_fold_sql, edge_ngram_sql, length_filter_sql, shingle_sql,
    )

    _v2_grams = edge_ngram_sql(
        length_filter_sql(ascii_fold_sql(tokens_sql("text")), 2, 8), 2, 3
    )
    _v2_sh = shingle_sql(tokens_sql("text"), 2)
    o["analysis_filters_v2"] = f"""
        SELECT doc_id::BIGINT AS docid,
               len({_v2_grams})::INT AS n_grams,
               ({_v2_grams})[1] AS first_gram,
               ({_v2_grams})[-1] AS last_gram,
               len({_v2_sh})::INT AS n_shingles,
               ({_v2_sh})[-1] AS last_shingle
        FROM documents WHERE doc_id < 300 ORDER BY docid"""
    from solr_spark.analysis.analyzer import (
        ngram_sql, pattern_replace_sql, remove_duplicates_sql,
        reverse_filter_sql, truncate_filter_sql,
    )

    _v3_rd = remove_duplicates_sql(
        pattern_replace_sql(tokens_sql("text"), "[0-9]+", "#")
    )
    _v3_ng = ngram_sql(truncate_filter_sql(_v3_rd, 4), 2, 2)
    _v3_rev = reverse_filter_sql(tokens_sql("text"))
    o["analysis_filters_v3"] = f"""
        SELECT doc_id::BIGINT AS docid,
               len({_v3_rd})::INT AS n_dedup,
               ({_v3_rd})[1] AS first_tok,
               len({_v3_ng})::INT AS n_grams,
               ({_v3_ng})[-1] AS last_gram,
               ({_v3_rev})[1] AS first_rev
        FROM documents WHERE doc_id < 300 ORDER BY docid"""

    o["facet_domain_chain"] = """
        SELECT c.c_mktsegment AS value, count(*) AS cnt
        FROM customer c
        WHERE c.c_custkey IN (
          SELECT DISTINCT o.o_custkey FROM orders o
          WHERE o.o_orderkey IN (
            SELECT DISTINCT l_orderkey FROM lineitem
            WHERE l_quantity >= 45))
        GROUP BY c.c_mktsegment ORDER BY cnt DESC, value"""

    o["terms_top_df"] = G.terms_top_df_sql(20)
    o["terms_filtered"] = f"""
        WITH {_DOC_TOKS_SQL}, {_POST_SQL}
        SELECT term, count(*) AS df FROM post
        WHERE starts_with(term, 's') AND regexp_matches(term, '^s[a-z]*[kt]$')
        GROUP BY term HAVING count(*) >= 5
        ORDER BY term LIMIT 50"""
    o["significant_terms"] = G.significant_terms_sql("spark", 3, 15)

    o["facet_lang"] = """
        SELECT lang AS value, count(*) AS cnt FROM documents
        GROUP BY lang ORDER BY cnt DESC, value LIMIT 10"""
    o["facet_source_min20"] = """
        SELECT source AS value, count(*) AS cnt FROM documents
        GROUP BY source HAVING count(*) >= 20
        ORDER BY cnt DESC, value LIMIT 50"""
    o["facet_lang_sort_by_stat"] = """
        SELECT lang AS value, count(*) AS cnt,
               round(avg(n_chars), 4) AS avg_chars,
               max(n_chars) AS max_chars
        FROM documents GROUP BY lang
        ORDER BY avg_chars DESC, value LIMIT 10"""
    o["facet_source_prefix"] = """
        SELECT source AS value, count(*) AS cnt FROM documents
        WHERE starts_with(source, 'src1')
        GROUP BY source ORDER BY value LIMIT 50"""
    o["facet_range_events"] = """
        SELECT 0.0 + floor((value - 0.0) / 50.0) * 50.0 AS bucket_start,
               count(*) AS cnt
        FROM events WHERE value >= 0.0 AND value < 500.0
        GROUP BY 1 ORDER BY bucket_start"""
    from datetime import datetime as _dt, timezone as _tz

    _NOW = _dt(2024, 1, 30, 12, 0, 0, tzinfo=_tz.utc)
    o["facet_range_other"] = """
        SELECT name, cnt FROM (
          SELECT 'before' AS name,
                 sum(CASE WHEN value < 100.0 THEN 1 ELSE 0 END)::BIGINT AS cnt FROM events
          UNION ALL
          SELECT 'between',
                 sum(CASE WHEN value >= 100.0 AND value < 400.0 THEN 1 ELSE 0 END)::BIGINT FROM events
          UNION ALL
          SELECT 'after',
                 sum(CASE WHEN value >= 400.0 THEN 1 ELSE 0 END)::BIGINT FROM events
        ) t ORDER BY name"""
    o["facet_range_datemath"] = FA.date_range_facet_sql(
        "ts", "NOW/MONTH", "NOW/DAY+1DAY", "+7DAYS", now=_NOW
    )
    o["facet_range_datemath_month"] = FA.date_range_facet_sql(
        "ts", "NOW/YEAR", "NOW/YEAR+1YEAR", "+1MONTH", now=_NOW
    )
    o["update_parse_dates"] = """
        SELECT event_id,
               strptime(strftime(ts, '%Y-%m-%d %H:%M:%S'), '%Y-%m-%d %H:%M:%S') AS ts_s,
               strptime(strftime(ts, '%Y-%m-%dT%H:%M:%S'), '%Y-%m-%dT%H:%M:%S') AS ts_iso,
               CAST(NULL AS TIMESTAMP) AS ts_bad
        FROM events WHERE event_id < 200 ORDER BY event_id"""
    from solr_spark.operators.textstats import LANG_WORDS as _LW
    from solr_spark.operators.textstats import _count_in_sql as _cisql
    from solr_spark.operators.updateproc import uuid_v3_sql as _uuid3

    _lw_langs = sorted(_LW)
    _lw_scores = ", ".join(
        f"{_cisql('toks', _LW[lang])} AS s_{lang}" for lang in _lw_langs
    )
    _lw_case = "CASE " + " ".join(
        "WHEN "
        + " AND ".join(f"s_{x} >= s_{y}" for y in _lw_langs if y != x)
        + f" THEN '{x}'"
        for x in _lw_langs
    ) + f" ELSE '{_lw_langs[-1]}' END"
    o["update_regex_clone"] = f"""
        WITH toks AS (SELECT doc_id, lang, source, {tokens_sql('text')} AS toks
                      FROM documents),
        scores AS (SELECT doc_id, lang, source, {_lw_scores} FROM toks)
        SELECT doc_id::BIGINT AS docid, lang AS lang_s, source AS source_s,
               {_lw_case} AS cld_lang
        FROM scores ORDER BY docid LIMIT 300"""
    o["update_ttl_expire"] = """
        SELECT event_type,
               count(*) FILTER (ts + INTERVAL 7 DAY
                                <= TIMESTAMP '2024-01-20 00:00:00')::BIGINT
                   AS n_expired,
               count(*)::BIGINT AS n_total
        FROM events GROUP BY event_type ORDER BY event_type"""
    o["update_uuid_assign"] = f"""
        SELECT o_orderkey, {_uuid3('solr', ['o_orderkey'])} AS doc_uuid
        FROM orders WHERE o_orderkey <= 400 ORDER BY o_orderkey"""
    o["update_version_merge"] = """
        WITH base AS (SELECT o_orderkey AS id, (o_orderkey % 5)::BIGINT AS v,
                             o_orderpriority AS body, 1 AS pref
                      FROM orders WHERE o_orderkey <= 100),
        ups AS (SELECT o_orderkey AS id, (o_orderkey % 7)::BIGINT AS v,
                       'upd:' || o_orderpriority AS body, 0 AS pref
                FROM orders WHERE o_orderkey <= 100),
        allr AS (SELECT * FROM base UNION ALL SELECT * FROM ups),
        r AS (SELECT *, row_number() OVER (
                  PARTITION BY id ORDER BY v DESC, pref DESC) AS rn FROM allr)
        SELECT id, v AS _version_, body FROM r WHERE rn = 1 ORDER BY id"""
    o["update_schemaless_infer"] = """
        SELECT event_id::BIGINT AS a,
               value::DOUBLE AS b,
               date_trunc('second', ts) AS c,
               (value > 250.0) AS d,
               event_type AS e
        FROM events WHERE event_id < 100 ORDER BY a"""
    o["facet_query_events"] = """
        SELECT 'big_value' AS name, count(*) FILTER (value > 400.0) AS cnt FROM events
        UNION ALL
        SELECT 'clicks', count(*) FILTER (event_type = 'click') FROM events
        UNION ALL
        SELECT 'errors', count(*) FILTER (event_type = 'error') FROM events
        ORDER BY name"""
    o["facet_pivot_nation_segment"] = """
        SELECT n_name, c_mktsegment, count(*) AS cnt
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name, c_mktsegment
        ORDER BY cnt DESC, n_name, c_mktsegment LIMIT 100"""
    o["facet_pivot_stats"] = f"""
        SELECT o_orderpriority, o_orderstatus, count(*) AS cnt,
               {dsum_sql('o_totalprice')} AS sum_price,
               round(avg(o_totalprice), 4) AS avg_price,
               round(min(o_totalprice), 4) AS min_price
        FROM orders GROUP BY o_orderpriority, o_orderstatus
        ORDER BY cnt DESC, o_orderpriority, o_orderstatus LIMIT 100"""
    o["stats_lineitem_price"] = f"""
        SELECT round(min(l_extendedprice), 4) AS min_v,
               round(max(l_extendedprice), 4) AS max_v,
               {dsum_sql('l_extendedprice')} AS sum_v,
               count(l_extendedprice) AS count_v,
               sum(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END)::BIGINT AS missing_v,
               {davg_sql('l_extendedprice')} AS mean_v,
               {dstddev_sql('l_extendedprice')} AS stddev_v
        FROM lineitem"""

    o["collapse_orders_by_cust"] = """
        SELECT o_custkey, o_orderkey, o_totalprice FROM (
          SELECT *, row_number() OVER (
            PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey
          ) AS rn FROM orders
        ) AS t WHERE rn = 1 ORDER BY o_custkey"""
    o["grouping_top2_by_priority"] = """
        SELECT o_orderpriority, rn AS grp_rank, o_orderkey, o_totalprice FROM (
          SELECT *, row_number() OVER (
            PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey
          ) AS rn FROM orders
        ) AS t WHERE rn <= 2 ORDER BY o_orderpriority, rn"""
    o["grouped_facet_priority"] = """
        SELECT o_orderpriority AS value,
               count(DISTINCT o_custkey)::BIGINT AS cnt
        FROM orders WHERE o_orderpriority IS NOT NULL
        GROUP BY o_orderpriority HAVING cnt >= 1
        ORDER BY cnt DESC, value LIMIT 10"""

    o["join_semi_big_spenders"] = """
        SELECT c_custkey, c_name FROM customer
        WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 490000)
        ORDER BY c_custkey"""
    o["anti_join_no_orders"] = """
        SELECT c_custkey FROM customer
        WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
        ORDER BY c_custkey"""
    o["timeseries_events_daily"] = f"""
        SELECT strftime(date_trunc('day', ts), '%Y-%m-%d %H:%M:%S') AS bucket_ts,
               count(*) AS cnt,
               {dsum_sql('value')} AS sum_value
        FROM events GROUP BY 1 ORDER BY bucket_ts"""
    o["stream_timeseries_daily"] = """
        SELECT strftime(date_trunc('day', ts), '%Y-%m-%d %H:%M:%S') AS bucket_ts,
               event_type, count(*) AS cnt
        FROM events GROUP BY 1, 2 ORDER BY bucket_ts, event_type"""
    o["cursor_page_orders"] = """
        SELECT o_orderkey, o_totalprice FROM orders
        WHERE o_totalprice < 400000.0
           OR (o_totalprice = 400000.0 AND o_orderkey > 0)
        ORDER BY o_totalprice DESC, o_orderkey LIMIT 10"""
    o["export_sorted_lineitem"] = """
        SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        ORDER BY l_shipdate, l_orderkey, l_linenumber LIMIT 500"""

    o["sql_tpch_q1"] = f"""
        SELECT l_returnflag, l_linestatus,
               {dsum_sql('l_quantity')} AS sum_qty,
               {dsum_sql('l_extendedprice')} AS sum_base_price,
               {dsum_sql('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= '1996-12-01'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus"""

    o["dedup_exact"] = """
        SELECT md5(text) AS sig, count(*) AS cnt, min(doc_id) AS min_id
        FROM documents GROUP BY md5(text) HAVING count(*) >= 2 ORDER BY sig"""

    minhash_cols = ",\n               ".join(
        f"min(md5('{i}' || ':' || term)) AS h{i}" for i in range(D.NUM_HASHES)
    )
    o["dedup_minhash_sig"] = f"""
        WITH {_DOC_TOKS_SQL}, {_POST_SQL}
        SELECT docid, {minhash_cols}
        FROM post GROUP BY docid ORDER BY docid"""

    band_exprs = []
    for bi in range(D.NUM_HASHES // D.BAND_SIZE):
        cols = "||'|'||".join(f"h{bi * D.BAND_SIZE + j}" for j in range(D.BAND_SIZE))
        band_exprs.append(f"({bi}, md5({cols}))")
    _lsh_pairs_ctes = f"""{_DOC_TOKS_SQL}, {_POST_SQL},
        sig AS (SELECT docid, {minhash_cols} FROM post GROUP BY docid),
        bands AS (
          SELECT docid, b.* FROM sig,
          LATERAL (VALUES {",".join(band_exprs)}) AS b(band_idx, band_hash)
        ),
        sized AS (
          SELECT band_idx, band_hash, count(*) AS n, min(docid) AS hub
          FROM bands GROUP BY band_idx, band_hash
        ),
        tagged AS (
          SELECT bands.*, sized.n, sized.hub
          FROM bands JOIN sized USING (band_idx, band_hash)
        ),
        pairs AS (
          SELECT x.docid AS a, y.docid AS b
          FROM tagged x JOIN tagged y USING (band_idx, band_hash)
          WHERE x.n <= {D.MAX_BAND} AND x.docid < y.docid
          UNION ALL
          SELECT hub AS a, docid AS b FROM tagged
          WHERE n > {D.MAX_BAND} AND docid <> hub
        )"""
    o["dedup_lsh_pairs"] = f"""
        WITH {_lsh_pairs_ctes}
        SELECT DISTINCT a, b FROM pairs ORDER BY a, b"""
    # transitive closure of the SAME pair set -> min-docid cluster labels
    o["dedup_clusters"] = f"""
        WITH RECURSIVE {_lsh_pairs_ctes},
        uniq AS (SELECT DISTINCT a, b FROM pairs),
        edges AS (SELECT a AS u, b AS v FROM uniq
                  UNION SELECT b, a FROM uniq),
        reach(u, v) AS (
          SELECT u, v FROM edges
          UNION
          SELECT reach.u, e.v FROM reach JOIN edges e ON reach.v = e.u
        )
        SELECT u AS docid, least(u, min(v)) AS cluster
        FROM reach GROUP BY u ORDER BY docid"""

    o["dedup_ngram_jaccard"] = f"""
        WITH {_DOC_TOKS_SQL},
        sh AS (
          SELECT docid,
                 list_distinct([array_to_string(toks[i:i+2], ' ')
                                FOR i IN range(1, len(toks) - 1)]) AS shingles
          FROM toks WHERE len(toks) >= 3
        ),
        sizes AS (SELECT docid, len(shingles) AS nsh FROM sh),
        ex_all AS (SELECT docid, unnest(shingles) AS s FROM sh),
        rare AS (SELECT s FROM ex_all GROUP BY s
                 HAVING count(*) <= {D.MAX_SHINGLE_DF}),
        ex AS (SELECT docid, ex_all.s FROM ex_all JOIN rare USING (s)),
        pairs AS (
          SELECT x.docid AS a, y.docid AS b, count(*) AS shared
          FROM ex x JOIN ex y ON x.s = y.s AND x.docid < y.docid
          GROUP BY x.docid, y.docid
        )
        SELECT a, b,
               round(shared::DOUBLE / (sa.nsh + sb.nsh - shared)::DOUBLE, 4) AS jaccard
        FROM pairs
        JOIN sizes sa ON sa.docid = a
        JOIN sizes sb ON sb.docid = b
        ORDER BY jaccard DESC, a, b LIMIT 20"""

    o["embedding_near_dups"] = """
        WITH e AS (SELECT vec_id::BIGINT AS id, embedding::DOUBLE[] AS v
                   FROM embeddings)
        SELECT x.id AS a, y.id AS b,
               round(list_cosine_similarity(x.v, y.v), 4) AS sim
        FROM e x JOIN e y ON x.id < y.id
        WHERE round(list_cosine_similarity(x.v, y.v), 4) >= 0.4
        ORDER BY a, b"""
    o["embedding_near_dups_recall"] = """
        WITH e AS (SELECT vec_id::BIGINT AS id, embedding::DOUBLE[] AS v
                   FROM embeddings)
        SELECT count(*)::BIGINT AS n_exact, true AS recall_ok
        FROM e x JOIN e y ON x.id < y.id
        WHERE round(list_cosine_similarity(x.v, y.v), 4) >= 0.4"""
    o["ann_cosine_topk"] = """
        WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
        SELECT vec_id,
               round(list_cosine_similarity(embedding::DOUBLE[], q.qv), 4) AS sim
        FROM embeddings, q
        ORDER BY list_cosine_similarity(embedding::DOUBLE[], q.qv) DESC, vec_id
        LIMIT 10"""

    o["token_counts"] = TS.token_counts_sql()

    # hybrid RRF: defined later (needs scored_cte) — placeholder keeps
    # the insertion point documented; see below after scored_cte.
    o["text_quality"] = TS.quality_score_sql()
    o["lang_id"] = TS.lang_id_sql()
    o["doc_fingerprint"] = TS.fingerprint_sql()
    _mix_where = TS.mix_sample_sql(
        "documents",
        "doc_id",
        "source",
        {"src0": 0.75, "src1": 0.25, "src2": 0.5},
        default=0.1,
    )
    o["mix_sample_sources"] = f"""
        SELECT source, count(*)::BIGINT AS n_kept,
               sum(doc_id::BIGINT)::BIGINT AS id_sum
        FROM documents WHERE {_mix_where}
        GROUP BY source ORDER BY source"""
    o["repetition_docs"] = TS.repetition_signals_sql()
    o["simhash64"] = D.simhash_sql()

    # shared scored-CTE prelude for the combined-search entries
    def scored_cte(terms: list[str]) -> str:
        terms_in = ",".join(f"'{t}'" for t in terms)
        qvals = ",".join(f"('{t}', 1.0)" for t in terms)
        return f"""
{_DOC_TOKS_SQL},
doclens AS (
  SELECT docid, len(toks) AS doclen,
         list_max(list_filter([{",".join(str(v) for v in _SF_TABLE)}], _v -> _v <= len(toks))) AS dl_q
  FROM toks
),
meta AS (SELECT count(*)::DOUBLE AS n_docs, sum(doclen)::DOUBLE / count(*) AS avgdl FROM doclens),
post AS (SELECT docid, unnest(toks) AS term FROM toks),
tf AS (SELECT docid, term, count(*)::DOUBLE AS tf FROM post WHERE term IN ({terms_in}) GROUP BY docid, term),
stats AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term),
q(term, qtf) AS (VALUES {qvals}),
scored AS (
  SELECT tf.docid,
         sum(q.qtf * ln(1.0 + (meta.n_docs - stats.df + 0.5) / (stats.df + 0.5))
             * (tf.tf / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl_q / meta.avgdl)))) AS s
  FROM tf JOIN stats USING (term) JOIN q USING (term)
  JOIN doclens dl USING (docid) CROSS JOIN meta
  GROUP BY tf.docid
)"""

    o["search_filtered"] = f"""
        WITH {scored_cte(['table', 'spark'])},
        banned AS (SELECT DISTINCT docid FROM post WHERE term = 'vector'),
        keep AS (SELECT doc_id::BIGINT AS docid FROM documents
                 WHERE lang = 'en' AND n_chars BETWEEN 200 AND 400)
        SELECT docid, round(s, 4) AS score FROM scored
        WHERE docid NOT IN (SELECT docid FROM banned)
          AND docid IN (SELECT docid FROM keep)
        ORDER BY round(s, 4) DESC, docid LIMIT 10"""

    o["mlt_doc0"] = f"""
        WITH {_DOC_TOKS_SQL},
        postf AS (SELECT docid, term, count(*)::DOUBLE AS tf
                  FROM (SELECT docid, unnest(toks) AS term FROM toks)
                  GROUP BY docid, term),
        n AS (SELECT count(*)::DOUBLE AS n_docs FROM toks),
        dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM postf GROUP BY term),
        picked AS (
          SELECT postf.term
          FROM postf JOIN dfreq USING (term) CROSS JOIN n
          WHERE postf.docid = 0
          ORDER BY round(postf.tf * ln(1.0 + (n.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5)), 6) DESC,
                   postf.term
          LIMIT 5
        ),
        doclens AS (
          SELECT docid, len(toks) AS doclen,
                 list_max(list_filter([{",".join(str(v) for v in _SF_TABLE)}], _v -> _v <= len(toks))) AS dl_q
          FROM toks
        ),
        meta AS (SELECT count(*)::DOUBLE AS n_docs, sum(doclen)::DOUBLE / count(*) AS avgdl FROM doclens),
        tf2 AS (SELECT docid, term, count(*)::DOUBLE AS tf
                FROM (SELECT docid, unnest(toks) AS term FROM toks)
                WHERE term IN (SELECT term FROM picked) GROUP BY docid, term),
        stats AS (SELECT term, count(*)::DOUBLE AS df FROM tf2 GROUP BY term),
        scored AS (
          SELECT tf2.docid,
                 sum(ln(1.0 + (meta.n_docs - stats.df + 0.5) / (stats.df + 0.5))
                     * (tf2.tf / (tf2.tf + 1.2 * (0.25 + 0.75 * dl.dl_q / meta.avgdl)))) AS s
          FROM tf2 JOIN stats USING (term) JOIN doclens dl USING (docid) CROSS JOIN meta
          GROUP BY tf2.docid
        )
        SELECT docid, round(s, 4) AS score FROM scored WHERE docid <> 0
        ORDER BY round(s, 4) DESC, docid LIMIT 10"""

    o["rerank_top50"] = f"""
        WITH {scored_cte(['table'])},
        rr_tf AS (SELECT docid, term, count(*)::DOUBLE AS tf FROM post
                  WHERE term = 'spark' GROUP BY docid, term),
        rr_stats AS (SELECT term, count(*)::DOUBLE AS df FROM rr_tf GROUP BY term),
        rr AS (
          SELECT rr_tf.docid,
                 sum(ln(1.0 + (meta.n_docs - rr_stats.df + 0.5) / (rr_stats.df + 0.5))
                     * (rr_tf.tf / (rr_tf.tf + 1.2 * (0.25 + 0.75 * dl.dl_q / meta.avgdl)))) AS s2
          FROM rr_tf JOIN rr_stats USING (term)
          JOIN doclens dl USING (docid) CROSS JOIN meta
          GROUP BY rr_tf.docid
        ),
        head AS (SELECT docid, s FROM scored ORDER BY round(s, 4) DESC, docid LIMIT 50),
        blended AS (
          SELECT head.docid, head.s + 2.0 * coalesce(rr.s2, 0.0) AS b
          FROM head LEFT JOIN rr ON head.docid = rr.docid
        )
        SELECT docid, round(b, 4) AS score FROM blended
        ORDER BY round(b, 4) DESC, docid LIMIT 10"""

    o["boost_by_length"] = f"""
        WITH {scored_cte(['table'])}
        SELECT s.docid, round(s.s * ln(1.0 + d.n_chars::DOUBLE), 4) AS score
        FROM scored s JOIN documents d ON d.doc_id = s.docid
        ORDER BY round(s.s * ln(1.0 + d.n_chars::DOUBLE), 4) DESC, s.docid
        LIMIT 10"""

    o["prefix_match_docs"] = f"""
        WITH {_DOC_TOKS_SQL}
        SELECT docid, 1.0::DOUBLE AS score FROM toks
        WHERE len(list_filter(toks, _t -> _t LIKE 'wind%')) > 0
        ORDER BY docid"""

    o["func_query_showcase"] = """
        SELECT doc_id::BIGINT AS docid,
               abs(n_chars - 300)::BIGINT AS dist300,
               round(ln(1.0 + n_chars), 4) AS logn,
               levenshtein(lang, 'en')::INT AS lev,
               CASE WHEN n_chars > 300 THEN 'long' ELSE 'short' END AS bucket
        FROM documents ORDER BY docid"""

    o["graph_gather_2hop"] = """
        WITH e AS (
          SELECT o_custkey::BIGINT AS src, (o_orderkey + 10000000)::BIGINT AS dst FROM orders
          UNION ALL
          SELECT DISTINCT (l_orderkey + 10000000)::BIGINT, (l_partkey + 20000000)::BIGINT FROM lineitem
        ),
        h0 AS (SELECT c_custkey::BIGINT AS node FROM customer WHERE c_custkey <= 20),
        h1 AS (SELECT DISTINCT dst AS node FROM e JOIN h0 ON e.src = h0.node
               WHERE dst NOT IN (SELECT node FROM h0)),
        h2 AS (SELECT DISTINCT dst AS node FROM e JOIN h1 ON e.src = h1.node
               WHERE dst NOT IN (SELECT node FROM h0 UNION ALL SELECT node FROM h1))
        SELECT node, 0 AS hop FROM h0
        UNION ALL SELECT node, 1 FROM h1
        UNION ALL SELECT node, 2 FROM h2
        ORDER BY hop, node"""

    o["stream_expr_nodes"] = o["graph_gather_2hop"]
    o["stream_expr_sigterms"] = G.significant_terms_sql("spark", 3, 15)

    # {!maxscore}: the shared scored CTE with MAX in place of SUM (the
    # one aggregate that differs from the BM25 prelude)
    _ms_cte = scored_cte(["table", "spark", "vector"]).replace(
        "sum(q.qtf", "max(q.qtf"
    )
    o["bm25_maxscore"] = f"""
        WITH {_ms_cte}
        SELECT docid, round(s, 4) AS score FROM scored
        ORDER BY round(s, 9) DESC, docid LIMIT 10"""

    from solr_spark.query.positions import chain_match_count_sql

    _cpx_exprs = [
        "[i FOR i IN range(1, len(toks) + 1) IF toks[i] = 'table']",
        "[i FOR i IN range(1, len(toks) + 1) IF regexp_matches(toks[i], '^s.*$')]",
    ]
    o["complex_phrase"] = f"""
        WITH toks AS (SELECT doc_id AS docid, {tokens_sql('text')} AS toks
                      FROM documents),
        hits AS (SELECT docid,
                        ({chain_match_count_sql(_cpx_exprs, 1)}) AS phrase_freq
                 FROM toks)
        SELECT docid, phrase_freq::INT AS phrase_freq FROM hits
        WHERE phrase_freq > 0 ORDER BY docid"""

    from solr_spark.query.surround import surround_sql

    # analyzed_terms: the gate index uses the base chain, so every
    # lowercase single-token spec analyzes to itself (tokenize_py parity
    # is covered by the analyzer twin tests)
    o["surround_near"] = surround_sql(
        "(fast w merge) OR (table 2n spark)",
        {t: [t] for t in ["fast", "merge", "table", "spark"]},
    )
    o["surround_trunc"] = surround_sql("3n(tabl*, spark)", {"spark": ["spark"]})

    # payload twins: the corpus is synthesized FROM orders (two 'price'
    # payloads = o_totalprice, o_custkey; one 'seg' payload = o_custkey
    # % 97), so the oracle reads orders directly. The float casts mirror
    # the index's float32 payload encoding; the sum widens each float to
    # double first, matching Spark's sum-over-float.
    o["payload_score_sum"] = """
        SELECT o_orderkey AS docid,
               round(CAST(CAST(o_totalprice AS FLOAT) AS DOUBLE)
                     + CAST(CAST(o_custkey AS FLOAT) AS DOUBLE), 2) AS score
        FROM orders ORDER BY docid"""

    o["payload_check_eq"] = """
        SELECT o_orderkey AS docid, 1::BIGINT AS n_spans
        FROM orders WHERE o_custkey % 97 = 42 ORDER BY docid"""

    o["stream_expr_strings"] = """
        SELECT c_custkey,
               upper(c_name) AS name_u,
               lower(c_mktsegment) AS seg_l,
               trim(c_mktsegment) AS seg_t,
               concat_ws('/', c_mktsegment, c_name) AS tag,
               replace(c_name, 'Customer', 'C') AS short_name,
               string_split(c_name, '#')[2] AS cust_num
        FROM customer ORDER BY c_custkey"""

    o["stream_expr_dates"] = """
        SELECT event_id,
               year(ts)::INT AS y, month(ts)::INT AS m,
               day(ts)::INT AS dom, dayofyear(ts)::INT AS doy,
               hour(ts)::INT AS hh, minute(ts)::INT AS mi,
               second(ts)::INT AS sec, weekofyear(ts)::INT AS wk,
               epoch_ms(ts)::BIGINT AS ep_ms
        FROM events WHERE day(ts) = 15 ORDER BY event_id"""

    from solr_spark.operators.tagger import tag_text_sql

    o["tag_entities"] = f"""
        WITH hits AS ({tag_text_sql(dict_cte=(
            "dict(tag, name) AS (VALUES ('t_hj', 'hash join'), "
            "('t_ts', 'table scan'), ('t_smb', 'sort merge batch'), "
            "('t_win', 'window agg'))"
        ))})
        SELECT tag, count(*) AS occurrences,
               count(DISTINCT docid) AS docs,
               sum(start_pos) AS pos_sum
        FROM hits GROUP BY tag ORDER BY tag"""

    o["eval_regress_describe"] = """
        SELECT l_returnflag,
               round(regr_slope(l_extendedprice/1000.0, l_quantity), 4)
                 AS slope,
               round(regr_intercept(l_extendedprice/1000.0, l_quantity), 4)
                 AS intercept,
               round(corr(l_extendedprice/1000.0, l_quantity), 6) AS r,
               count(*) AS n,
               round(min(l_quantity::DOUBLE), 4) AS min_x,
               round(max(l_quantity::DOUBLE), 4) AS max_x,
               round(avg(l_quantity::DOUBLE), 4) AS mean_x,
               round(stddev_samp(l_quantity::DOUBLE), 4) AS stdev_x,
               round(regr_intercept(l_extendedprice/1000.0, l_quantity)
                     + regr_slope(l_extendedprice/1000.0, l_quantity) * 25,
                     4) AS p25
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""

    o["eval_array_math"] = """
        WITH t AS (
          SELECT o_orderkey,
                 ((o_orderkey % 7) + 1)::DOUBLE AS a,
                 ((o_custkey % 5) + 1)::DOUBLE AS b,
                 ((o_orderkey % 3) + 1)::DOUBLE AS c
          FROM orders WHERE o_orderkey BETWEEN 1 AND 400)
        SELECT o_orderkey,
               round(((a + b) + c) / 3, 4) AS m,
               round((((a*a + b*b) + c*c)
                      - (3 * (((a + b) + c) / 3)) * (((a + b) + c) / 3)) / 2,
                     4) AS v,
               round(((a * 1.0) + b * 2.0) + c * 3.0, 4) AS dp,
               round(sqrt((((a-2)*(a-2) + (b-2)*(b-2)) + (c-2)*(c-2))), 4)
                 AS ed,
               round(((a + b) + c) - greatest(a, b, c) - least(a, b, c), 4)
                 AS med,
               round((((b < a)::INT + (c < a)::INT) + 1
                      + (1 + (b <= a)::INT + (c <= a)::INT)) / 2.0, 4) AS rk0,
               round(sqrt((a*a + b*b) + c*c), 4) AS l2,
               round(exp(((ln(a) + ln(b)) + ln(c)) / 3), 4) AS gm
        FROM t ORDER BY o_orderkey"""

    o["stream_expr_reduce"] = """
        WITH r AS (
          SELECT o_orderpriority, o_orderkey, o_totalprice,
                 row_number() OVER (PARTITION BY o_orderpriority
                                    ORDER BY o_totalprice DESC,
                                             o_orderkey ASC) AS rn
          FROM orders WHERE o_orderkey BETWEEN 1 AND 2000)
        SELECT o_orderpriority, o_orderkey,
               round(o_totalprice, 2) AS price
        FROM r WHERE rn <= 3 ORDER BY o_orderpriority, o_orderkey"""

    o["stream_expr_features"] = ML.igain_terms_sql("lang = 'en'", 10, 5)

    o["stream_expr_classify"] = f"""
        WITH {_DOC_TOKS_SQL}
        SELECT docid,
               round(1.0 / (1.0 + exp(-(
                 (((-0.2)
                   + CASE WHEN list_contains(toks, 'spark') THEN 1.5
                          ELSE 0.0 END)
                  + CASE WHEN list_contains(toks, 'table') THEN -0.7
                         ELSE 0.0 END)
                 + CASE WHEN list_contains(toks, 'window') THEN 0.9
                        ELSE 0.0 END))), 4) AS prob,
               (1.0 / (1.0 + exp(-(
                 (((-0.2)
                   + CASE WHEN list_contains(toks, 'spark') THEN 1.5
                          ELSE 0.0 END)
                  + CASE WHEN list_contains(toks, 'table') THEN -0.7
                         ELSE 0.0 END)
                 + CASE WHEN list_contains(toks, 'window') THEN 0.9
                        ELSE 0.0 END))) > 0.5)::INT AS pred
        FROM toks WHERE docid <= 300 ORDER BY docid"""

    o["score_join_modes"] = """
        WITH frm AS (
          SELECT o_custkey, o_totalprice AS score FROM orders
          WHERE o_orderpriority = '1-URGENT'
        ),
        agg AS (
          SELECT o_custkey AS c_custkey,
                 round(max(score), 2) AS score_max,
                 round(sum(score), 2) AS score_total
          FROM frm GROUP BY o_custkey
        )
        SELECT c.c_custkey, a.score_max, a.score_total
        FROM customer c JOIN agg a USING (c_custkey)
        ORDER BY a.score_total DESC, c.c_custkey LIMIT 20"""

    o["hybrid_rrf"] = f"""
        WITH {scored_cte(['table', 'spark'])},
        lex AS (
          SELECT docid,
                 row_number() OVER (ORDER BY round(s, 9) DESC, docid) AS rnk
          FROM scored QUALIFY rnk <= 50
        ),
        qv AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 0),
        ann0 AS (
          SELECT vec_id,
                 round(list_cosine_similarity(embedding::DOUBLE[], qv.v), 4) AS sim4,
                 row_number() OVER (
                   ORDER BY list_cosine_similarity(embedding::DOUBLE[], qv.v)
                     DESC, vec_id) AS cutr
          FROM embeddings, qv QUALIFY cutr <= 50
        ),
        ann AS (
          SELECT vec_id AS docid,
                 row_number() OVER (ORDER BY sim4 DESC, vec_id) AS rnk
          FROM ann0
        ),
        u AS (
          SELECT docid, 1.0 / (60 + rnk) AS c FROM lex
          UNION ALL
          SELECT docid, 1.0 / (60 + rnk) FROM ann
        )
        SELECT docid, round(sum(c), 6) AS rrf
        FROM u GROUP BY docid
        ORDER BY round(sum(c), 6) DESC, docid LIMIT 10"""

    o["stream_expr_timeseries"] = f"""
        SELECT strftime(date_trunc('day', ts), '%Y-%m-%d %H:%M:%S') AS bucket_ts,
               count(*) AS cnt,
               {dsum_sql('value')} AS sum_value
        FROM events WHERE event_type = 'click'
        GROUP BY 1 ORDER BY bucket_ts"""

    o["facet_subfacet_lang_source"] = """
        SELECT lang, source, cnt, rnk FROM (
          SELECT lang, source, count(*) AS cnt,
                 row_number() OVER (PARTITION BY lang ORDER BY count(*) DESC, source) AS rnk
          FROM documents GROUP BY lang, source
        ) AS t WHERE rnk <= 2 ORDER BY lang, rnk"""

    o["percentiles_by_type"] = """
        SELECT event_type,
               round(quantile_cont(value, 0.5), 4) AS p50,
               round(quantile_cont(value, 0.9), 4) AS p90
        FROM events GROUP BY event_type ORDER BY event_type"""

    o["unique_users_by_type"] = """
        SELECT event_type, count(DISTINCT user_id) AS uniq
        FROM events GROUP BY event_type ORDER BY event_type"""

    o["expand_members"] = """
        SELECT o_custkey, o_orderkey, o_totalprice FROM (
          SELECT *, row_number() OVER (
            PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey
          ) AS rn FROM orders
        ) AS t WHERE rn BETWEEN 2 AND 3
        ORDER BY o_custkey, o_totalprice DESC, o_orderkey"""

    o["knn_classify"] = """
        WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
        top AS (
          SELECT vec_id, label FROM embeddings, q
          ORDER BY list_cosine_similarity(embedding::DOUBLE[], q.qv) DESC, vec_id
          LIMIT 10
        )
        SELECT label, count(*) AS votes FROM top
        GROUP BY label ORDER BY votes DESC, label"""

    o["sql_tpch_q3"] = f"""
        SELECT l_orderkey,
               {dsum_sql('l_extendedprice * (1 - l_discount)')} AS revenue
        FROM customer, orders, lineitem
        WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
          AND l_orderkey = o_orderkey
          AND o_orderdate < '1995-03-15' AND l_shipdate > '1995-03-15'
        GROUP BY l_orderkey
        ORDER BY revenue DESC, l_orderkey LIMIT 10"""
    o["sql_tpch_q5"] = f"""
        SELECT n_name,
               {dsum_sql('l_extendedprice * (1 - l_discount)')} AS revenue
        FROM customer, orders, lineitem, supplier, nation, region
        WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
          AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
          AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
          AND r_name = 'ASIA'
          AND o_orderdate >= '1996-01-01' AND o_orderdate < '1997-01-01'
        GROUP BY n_name ORDER BY revenue DESC, n_name"""
    o["sql_tpch_q6"] = f"""
        SELECT {dsum_sql('l_extendedprice * l_discount')} AS revenue
        FROM lineitem
        WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
          AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24"""

    o["spell_suggest"] = f"""
        WITH {_DOC_TOKS_SQL}, {_POST_SQL},
        dfreq AS (SELECT term, count(*) AS df FROM post GROUP BY term)
        SELECT term, df, levenshtein(term, 'sparc')::INT AS dist
        FROM dfreq WHERE levenshtein(term, 'sparc') <= 2
        ORDER BY dist, df DESC, term LIMIT 5"""

    o["term_vectors_doc7"] = f"""
        WITH {_DOC_TOKS_SQL}
        SELECT docid, term, count(*) AS tf
        FROM (SELECT docid, unnest(toks) AS term FROM toks WHERE docid = 7)
        GROUP BY docid, term ORDER BY tf DESC, term"""

    o["heatmap_facet"] = """
        SELECT floor(value / 100.0)::BIGINT AS gx,
               (user_id % 10)::BIGINT AS gy, count(*) AS cnt
        FROM events GROUP BY 1, 2 ORDER BY gx, gy"""

    o["interval_facet"] = """
        SELECT CASE WHEN n_chars < 150 THEN 'tiny'
                    WHEN n_chars < 300 THEN 'small'
                    WHEN n_chars < 450 THEN 'medium'
                    ELSE 'large' END AS interval,
               count(*) AS cnt
        FROM documents GROUP BY 1 ORDER BY interval"""

    o["elevation_pinned"] = f"""
        WITH {scored_cte(['table', 'spark'])},
        pinned(docid, pin) AS (VALUES (3, 1), (5, 2))
        SELECT docid, round(s, 4) AS score
        FROM scored LEFT JOIN pinned USING (docid)
        WHERE docid <> 7
        ORDER BY coalesce(pin, 999), round(s, 4) DESC, docid LIMIT 10"""

    o["sample_deterministic"] = """
        SELECT event_id, event_type FROM events
        WHERE (('0x' || substr(md5(event_id::VARCHAR), 1, 4))::BIGINT % 100) < 5
        ORDER BY event_id"""

    from solr_spark.operators.highlight import highlight_sql
    from solr_spark.operators.phrase import phrase_match_sql

    o["highlight_snippets"] = highlight_sql("vector merge")
    o["phrase_match"] = phrase_match_sql("fast merge")
    o["phrase_match_slop2"] = phrase_match_sql("fast merge", slop=2)
    o["phrase_unordered_slop2"] = phrase_match_sql("merge fast", slop=2, ordered=False)

    o["atomic_array_ops"] = """
        WITH upd(docid, add_v, rem_v, rex) AS (
          VALUES (0, 'extra', NULL, NULL), (1, NULL, 'en', NULL),
                 (2, NULL, NULL, '^w'), (3, 'en', 'en', NULL)
        ),
        base AS (
          SELECT doc_id::BIGINT AS docid, [lang, source] AS tags
          FROM documents WHERE doc_id < 20
        ),
        added AS (
          SELECT b.docid,
                 CASE WHEN u.add_v IS NULL THEN b.tags
                      ELSE list_concat(b.tags, [u.add_v]) END AS t1,
                 u.rem_v, u.rex
          FROM base b LEFT JOIN upd u USING (docid)
        ),
        removed AS (
          SELECT docid,
                 CASE WHEN rem_v IS NULL THEN t1
                      ELSE list_filter(t1, x -> x IS DISTINCT FROM rem_v)
                 END AS t2,
                 rex
          FROM added
        )
        SELECT docid,
               array_to_string(
                 list_sort(CASE WHEN rex IS NULL THEN t2
                      ELSE list_filter(t2, x -> NOT regexp_matches(x, rex))
                 END), '|') AS tags
        FROM removed ORDER BY docid"""
    o["atomic_update_merge"] = """
        WITH upd(o_orderkey, new_status, delta) AS (
          VALUES (1, 'X', 100.0), (2, 'Y', -50.0), (999999, 'Z', 1.0)
        )
        SELECT o.o_orderkey,
               coalesce(u.new_status, o.o_orderstatus) AS o_orderstatus,
               round(o.o_totalprice + coalesce(u.delta, 0.0), 4) AS o_totalprice
        FROM orders o LEFT JOIN upd u USING (o_orderkey)
        WHERE o.o_orderkey <= 20 ORDER BY o.o_orderkey"""

    # --- real indexed engine twins (same SQL as the inline path: the
    # --- index is built from the same documents table, scores must agree)
    o["bm25_indexed_topk"] = G.bm25_sql("table spark", 10)

    from collections import Counter as _Counter

    from solr_spark.analysis.analyzer import (
        synonym_graph_sql, tokenize_py, tokens_catenate_sql,
    )
    from solr_spark.analysis.porter import (
        porter_stem_py, porter_stem_sql,
    )

    _stem_qterms = dict(
        _Counter(
            porter_stem_py(t)
            for t in tokenize_py("sparks merging hashing windows")
        )
    )
    o["bm25_stemmed_topk"] = G.bm25_sql(
        "",
        10,
        tok_expr=porter_stem_sql(tokens_catenate_sql("text")),
        qterms=_stem_qterms,
    )

    _sg_toks = porter_stem_sql(
        synonym_graph_sql(
            tokens_catenate_sql("text"),
            {"spark": ["apache", "spark"], "js": ["java", "script"]},
        )
    )
    o["synonym_graph_analysis"] = f"""
        SELECT doc_id::BIGINT AS docid,
               len({_sg_toks})::INT AS n_toks,
               ({_sg_toks})[1] AS first_tok,
               ({_sg_toks})[-1] AS last_tok
        FROM documents ORDER BY docid LIMIT 300
    """
    o["bm25_indexed_and"] = G.bm25_sql("table spark vector", 10, "AND")
    o["bm25_indexed_wand"] = G.bm25_sql("customer query group", 10)
    o["bm25_indexed_mf_wand"] = G.bm25_sql("customer query group", 10)
    o["search_indexed_boolean"] = f"""
        WITH {scored_cte(['table', 'spark'])},
        banned AS (SELECT DISTINCT docid FROM post WHERE term = 'vector'),
        keep AS (SELECT doc_id::BIGINT AS docid FROM documents WHERE lang = 'en')
        SELECT docid, round(s, 4) AS score FROM scored
        WHERE docid NOT IN (SELECT docid FROM banned)
          AND docid IN (SELECT docid FROM keep)
        ORDER BY round(s, 4) DESC, docid LIMIT 10"""
    from solr_spark.operators.phrase import phrase_match_sql as _pm_sql

    o["phrase_indexed"] = _pm_sql("fast merge")
    o["terms_indexed"] = G.terms_top_df_sql(20)
    o["suggest_freetext_bigram"] = f"""
        WITH {_DOC_TOKS_SQL},
        big AS (
          SELECT toks[p.pos] AS ctx, toks[p.pos + 1] AS word
          FROM toks,
               LATERAL (SELECT unnest(generate_series(1, len(toks) - 1))
                        AS pos) p),
        w AS (SELECT word, count(*)::BIGINT AS cnt FROM big
              WHERE ctx = 'window' GROUP BY word),
        tot AS (SELECT sum(cnt)::DOUBLE AS total FROM w)
        SELECT word, round(cnt / tot.total, 6) AS score, cnt
        FROM w CROSS JOIN tot
        ORDER BY score DESC, word LIMIT 10"""

    o["luke_top_terms"] = f"""
        WITH {_DOC_TOKS_SQL},
        all_t AS (SELECT docid, unnest(toks) AS term FROM toks),
        agg AS (SELECT term, count(DISTINCT docid)::BIGINT AS docfreq,
                       count(*)::BIGINT AS totaltf
                FROM all_t GROUP BY term)
        SELECT term, docfreq, totaltf FROM agg
        ORDER BY docfreq DESC, term LIMIT 15"""
    o["sigterms_indexed"] = G.significant_terms_sql("spark", 3, 15)
    # dictionary-backed spell/MLT agree with their corpus-derived twins by
    # construction (term_stats df == per-term distinct-doc count)
    _wb_terms = ["sparkhash", "quer", "y"]
    _wb_sp = ", ".join(
        f"('{t}', '{t[:i]}', '{t[i:]}')"
        for t in _wb_terms
        for i in range(1, len(t))
    )
    _wb_cb = ", ".join(
        f"('{a} {b}', '{a}{b}')" for a, b in zip(_wb_terms, _wb_terms[1:])
    )
    o["spell_wordbreak"] = f"""
        WITH {_DOC_TOKS_SQL}, {_POST_SQL},
        dict AS (SELECT term, count(*) AS df FROM post GROUP BY term),
        sp(original, left_w, right_w) AS (VALUES {_wb_sp}),
        cb(original, joined) AS (VALUES {_wb_cb}),
        brk AS (
          SELECT 'break' AS kind, sp.original,
                 l.term || ' ' || r.term AS suggestion,
                 least(l.df, r.df)::BIGINT AS score_df
          FROM sp JOIN dict l ON l.term = sp.left_w
                  JOIN dict r ON r.term = sp.right_w),
        comb AS (
          SELECT 'combine' AS kind, cb.original, d.term AS suggestion,
                 d.df::BIGINT AS score_df
          FROM cb JOIN dict d ON d.term = cb.joined)
        SELECT * FROM (SELECT * FROM brk UNION ALL SELECT * FROM comb)
        ORDER BY kind, original, score_df DESC, suggestion"""

    o["classify_bayes_lang"] = f"""
        WITH {_DOC_TOKS_SQL},
        lab AS (SELECT t.docid, t.toks, d.lang AS label
                FROM toks t JOIN documents d ON d.doc_id = t.docid),
        train AS (SELECT * FROM lab WHERE docid % 5 != 0),
        test AS (SELECT docid, toks FROM lab WHERE docid % 5 = 0),
        texp AS (SELECT label, unnest(toks) AS term FROM train),
        tc AS (SELECT label, term, count(*)::DOUBLE AS tf FROM texp GROUP BY 1, 2),
        v AS (SELECT count(DISTINCT term)::DOUBLE AS v FROM texp),
        ct AS (SELECT label, sum(tf) AS tok_c FROM tc GROUP BY 1),
        nd AS (SELECT count(*)::DOUBLE AS n FROM train),
        dc AS (SELECT label, count(*)::DOUBLE AS n FROM train GROUP BY 1),
        tm AS (SELECT tc.label, tc.term, ln((tf + 1) / (tok_c + v.v)) AS llik
               FROM tc JOIN ct USING (label), v),
        cm AS (SELECT dc.label, ln(dc.n / nd.n) AS prior,
                      ln(1 / (tok_c + v.v)) AS miss
               FROM dc JOIN ct USING (label), v, nd),
        qe AS (SELECT docid, unnest(toks) AS term FROM test),
        nt AS (SELECT docid, len(toks)::DOUBLE AS n_tok FROM test),
        mt AS (SELECT qe.docid, tm.label, sum(tm.llik) AS s,
                      count(*)::DOUBLE AS m
               FROM qe JOIN tm USING (term) GROUP BY 1, 2),
        grid AS (SELECT nt.docid, nt.n_tok, cm.label, cm.prior, cm.miss
                 FROM nt CROSS JOIN cm),
        sc AS (SELECT g.docid, g.label,
                      round(g.prior + coalesce(mt.s, 0)
                            + (g.n_tok - coalesce(mt.m, 0)) * g.miss, 6) AS score
               FROM grid g LEFT JOIN mt
                 ON mt.docid = g.docid AND mt.label = g.label),
        rk AS (SELECT docid, label, score,
                      row_number() OVER (PARTITION BY docid
                        ORDER BY score DESC, label DESC) AS rn
               FROM sc)
        SELECT docid, label AS class_s, score FROM rk WHERE rn = 1
        ORDER BY docid"""

    o["spell_indexed"] = o["spell_suggest"]
    o["spell_collations"] = f"""
WITH {G.DOC_TOKS},
post AS (SELECT DISTINCT docid, unnest(toks) AS term FROM toks),
dict AS (SELECT term, count(*)::BIGINT AS df FROM post GROUP BY term),
sugg AS (SELECT term FROM (
    SELECT term, levenshtein(term, 'sparc') AS dist, df FROM dict
    WHERE levenshtein(term, 'sparc') <= 2
    ORDER BY dist, df DESC, term LIMIT 3)),
fixed AS (SELECT docid FROM post WHERE term = 'table'),
h AS (SELECT s.term, count(*)::BIGINT AS hits
      FROM sugg s JOIN post p ON p.term = s.term
      JOIN fixed f ON f.docid = p.docid
      GROUP BY s.term)
SELECT term || ' table' AS "collation", hits FROM h
WHERE hits > 0 ORDER BY hits DESC, "collation" LIMIT 5
"""
    o["suggest_infix_indexed"] = f"""
        WITH {_DOC_TOKS_SQL},
        tf AS (SELECT unnest(toks) AS term FROM toks)
        SELECT term, count(*)::BIGINT AS weight FROM tf
        WHERE term LIKE '%or%' GROUP BY term
        ORDER BY weight DESC, term LIMIT 10"""
    o["facet_meta_events"] = """
        SELECT count(DISTINCT CASE WHEN event_id % 7 = 0 THEN NULL
                                   ELSE event_type END) AS num_buckets,
               count(*) AS all_buckets_cnt,
               count(*) FILTER (event_id % 7 = 0)::BIGINT AS missing_cnt
        FROM events"""
    o["mlt_indexed"] = o["mlt_doc0"]
    o["bm25_batch_queries"] = G.bm25_batch_sql(
        {
            "a": "table spark",
            "b": "hash join window",
            "c": "merge sort",
            "d": "table zzznotaterm",
        },
        k=5,
    )

    from solr_spark.streaming.sessions import sessionize_sql

    _sess = sessionize_sql(gap_minutes=45)
    o["sessionize_events"] = f"""
        SELECT user_id, session_id, n_events, sum_value
        FROM ({_sess}) ORDER BY user_id, session_id"""

    o["delete_by_query_flow"] = f"""
        WITH {scored_cte(['spark', 'hash'])}
        SELECT docid, round(s, 4) AS score FROM scored
        WHERE docid NOT IN (
          SELECT docid FROM toks WHERE list_contains(toks, 'table')
        )
        ORDER BY round(s, 9) DESC, docid LIMIT 10"""

    o["bm25_explain"] = f"""
        WITH {_DOC_TOKS_SQL},
        tf AS (SELECT docid, term, count(*)::BIGINT AS tf
               FROM (SELECT docid, unnest(toks) AS term FROM toks)
               WHERE term IN ('table', 'spark') GROUP BY docid, term),
        dfreq AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
        n AS (SELECT count(*)::DOUBLE AS n_docs FROM toks),
        dl AS (SELECT docid, list_max(list_filter(
                 [{",".join(str(v) for v in _SF_TABLE)}],
                 _v -> _v <= len(toks)))::BIGINT AS dl_q FROM toks),
        avg_dl AS (SELECT sum(len(toks))::DOUBLE / count(*) AS avgdl FROM toks)
        SELECT tf.docid, tf.term, 1.0 AS qtf, dfreq.df,
               round(ln(1.0 + (n.n_docs - dfreq.df + 0.5)
                              / (dfreq.df + 0.5)), 6) AS idf,
               tf.tf, dl.dl_q,
               round(tf.tf / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl_q
                     / avg_dl.avgdl)), 6) AS tf_part,
               round(ln(1.0 + (n.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
                     * tf.tf / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl_q
                       / avg_dl.avgdl)), 6) AS contrib
        FROM tf JOIN dfreq USING (term) JOIN dl USING (docid)
             CROSS JOIN n CROSS JOIN avg_dl
        WHERE tf.docid IN (1, 2, 3, 7, 11)
        ORDER BY tf.docid, tf.term"""

    o["mlt_interesting_terms"] = f"""
        WITH {_DOC_TOKS_SQL},
        postf AS (SELECT docid, term, count(*)::DOUBLE AS tf
                  FROM (SELECT docid, unnest(toks) AS term FROM toks)
                  GROUP BY docid, term),
        n AS (SELECT count(*)::DOUBLE AS n_docs FROM toks),
        dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM postf GROUP BY term)
        SELECT postf.term AS term, postf.tf::INT AS tf, dfreq.df::INT AS df,
               round(postf.tf * ln(1.0 + (n.n_docs - dfreq.df + 0.5)
                                         / (dfreq.df + 0.5)), 6) AS boost
        FROM postf JOIN dfreq USING (term) CROSS JOIN n
        WHERE postf.docid = 0
        ORDER BY boost DESC, term LIMIT 5"""

    # --- block join / uniqueBlock ---
    o["blockjoin_parents"] = """
        SELECT o_orderkey, o_totalprice FROM orders
        WHERE o_orderpriority = '1-URGENT'
          AND o_orderkey IN (SELECT l_orderkey FROM lineitem
                             WHERE l_quantity >= 49 AND l_discount >= 0.09)
        ORDER BY o_orderkey"""
    o["blockjoin_children"] = """
        SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        WHERE l_orderkey IN (SELECT o_orderkey FROM orders
                             WHERE o_totalprice > 450000)
        ORDER BY l_orderkey, l_linenumber"""
    o["uniqueblock_by_flag"] = """
        SELECT l_returnflag, count(DISTINCT l_orderkey)::BIGINT AS unique_blocks
        FROM lineitem WHERE l_quantity >= 30
        GROUP BY l_returnflag ORDER BY l_returnflag"""

    # --- ML family ---
    o["igain_terms"] = ML.igain_terms_sql("lang = 'en'", 10, 5)

    # --- multi-fragment highlighting ---
    from solr_spark.operators.highlight import highlight_fragments_sql

    o["highlight_fragments"] = highlight_fragments_sql("vector merge", 3, 4)

    # --- edismax-lite mm=2 ---
    o["edismax_mm2"] = f"""
        WITH {scored_cte(['table', 'spark', 'vector'])},
        matched AS (SELECT docid, count(DISTINCT term) AS nm FROM tf GROUP BY docid)
        SELECT s.docid, round(s.s, 4) AS score
        FROM scored s JOIN matched USING (docid)
        WHERE matched.nm >= 2
        ORDER BY round(s.s, 4) DESC, s.docid LIMIT 10"""

    # --- bounds for the approximate operators (the contract is the
    # --- bound, not the sketch value: VERDICT item 9) ---
    o["ann_lsh_recall"] = "SELECT 10::BIGINT AS k, true AS recall_ok"
    o["ann_ivf_recall"] = "SELECT 10::BIGINT AS k, true AS recall_ok"
    o["ann_lsh_persisted_recall"] = "SELECT 10::BIGINT AS k, true AS recall_ok"
    o["ann_int8_recall"] = "SELECT 10::BIGINT AS k, true AS recall_ok"
    o["ann_pca_recall"] = (
        "SELECT 10::BIGINT AS k, true AS full_rank_ok, true AS trunc_ok"
    )
    o["hll_error_ok"] = """
        SELECT event_type, true AS within_bound
        FROM events GROUP BY event_type ORDER BY event_type"""
    o["textlogit_label_totals"] = """
        SELECT (lang = 'en')::BIGINT AS label, count(*)::BIGINT AS n_docs,
               true AS acc_ok
        FROM documents GROUP BY 1 ORDER BY 1"""
    o["ltr_fixed_rescore"] = f"""
        WITH {scored_cte(['table', 'spark'])},
        head AS (
          SELECT docid, round(s, 4) AS s4 FROM scored
          ORDER BY round(s, 4) DESC, docid LIMIT 50
        )
        SELECT head.docid,
               round(s4 + 0.002 * d.n_chars, 4) AS ltr_score
        FROM head JOIN documents d ON d.doc_id = head.docid
        ORDER BY ltr_score DESC, head.docid LIMIT 10"""

    o["ltr_feature_log"] = """
        SELECT doc_id,
               round(n_chars / 5000.0, 6) AS feat_n_chars,
               round((doc_id - 250.0) / 100.0, 6) AS feat_doc_id,
               0.0 AS feat_not_extracted
        FROM documents WHERE doc_id < 200 ORDER BY doc_id"""

    # --- function-query registry ---
    o["func_parsed_v2"] = """
        SELECT doc_id::BIGINT AS docid,
               round((2.0 * n_chars + 10.0)::DOUBLE, 4) AS lin,
               n_chars > 300 AS big,
               round((n_chars - min(n_chars) OVER ())::DOUBLE
                     / (max(n_chars) OVER () - min(n_chars) OVER ())::DOUBLE
                     * 100.0, 4) AS scaled,
               dense_rank() OVER (ORDER BY n_chars)::BIGINT AS ordv,
               round(2.0 * 6371.0087714 * asin(sqrt(
                   pow(sin(radians(40.7128 - 48.8566) / 2.0), 2)
                   + cos(radians(48.8566)) * cos(radians(40.7128))
                     * pow(sin(radians(-74.006 - 2.3522) / 2.0), 2))), 2)
                 AS paris_nyc
        FROM documents ORDER BY docid"""
    o["func_parsed_v3"] = G.query_tf_norm_boost_sql(
        "spark hash", "table", 2.0, 0.01, 0.0001, 20
    )
    o["func_parsed_v4"] = """
        SELECT event_id,
               round(coalesce(json_extract(props, '$.k')::DOUBLE, -1), 4) AS pay_k,
               round(value * 1.08, 4) AS eur,
               round(2 * 6371 * asin(least(sqrt(
                   pow(sin((radians(value / 2) - radians(48.8566)) / 2), 2)
                   + cos(radians(48.8566)) * cos(radians(value / 2))
                     * pow(sin((radians(event_id % 90) - radians(2.3522)) / 2), 2)
               ), 1.0)), 2) AS dist_km,
               'ev:' || event_type AS tag,
               coalesce(json_extract(props, '$.k')::DOUBLE, 0.0) AS pay_or0
        FROM events WHERE event_id < 500 ORDER BY event_id"""
    from solr_spark.functions.valuesources import geohash_sql, ghhsin_sql

    # the geohashes are bound once as columns and ghhsin decodes the
    # column references: inlining geohash_sql into ghhsin_sql repeats
    # it per decoded bit (a 13.8 MB statement DuckDB needs minutes to
    # bind); the values are the same
    o["func_parsed_v5"] = f"""
        WITH pts AS (
          SELECT c_custkey,
                 (c_custkey * 7919 % 17000) / 100.0 - 85.0 AS lat,
                 (c_custkey * 104729 % 36000) / 100.0 - 180.0 AS lon
          FROM customer WHERE c_custkey <= 400),
        ghs AS (
          SELECT c_custkey, lat, lon,
                 {geohash_sql('lat', 'lon')} AS gh,
                 {geohash_sql('40.7', '-74.0')} AS gh_ref
          FROM pts)
        SELECT c_custkey, gh,
               round({ghhsin_sql(6371.0087714, 'gh', 'gh_ref')}, 4)
                 AS gh_dist_km,
               round(lon, 4) AS vec_lon,
               round(lat + lon, 4) AS top_sum
        FROM ghs ORDER BY c_custkey"""
    o["agg_funcs_lineitem"] = """
        SELECT l_returnflag,
               count(*) AS n,
               count(l_shipdate) AS cv,
               count(*) - count(l_shipdate) AS miss,
               round(cast(sum(cast((l_extendedprice * (1 - l_discount))
                 as DECIMAL(30,6))) as DOUBLE), 4) AS rev,
               round(cast(sum(cast(l_quantity as DECIMAL(30,6))) as DOUBLE)
                 / count(l_quantity)::DOUBLE, 4) AS avg_qty,
               round(cast(sum(cast((l_tax * l_tax) as DECIMAL(30,6)))
                 as DOUBLE), 4) AS ssq_tax,
               min(l_extendedprice) AS min_price,
               max(l_extendedprice) AS max_price,
               round((count(l_extendedprice)::DOUBLE
                   * cast(sum(cast((l_extendedprice * l_extendedprice)
                       as DECIMAL(30,6))) as DOUBLE)
                   - pow(cast(sum(cast(l_extendedprice as DECIMAL(30,6)))
                       as DOUBLE), 2))
                 / (count(l_extendedprice)::DOUBLE
                   * (count(l_extendedprice)::DOUBLE - 1.0)), 4) AS var_price,
               round(sqrt(round((count(l_extendedprice)::DOUBLE
                   * cast(sum(cast((l_extendedprice * l_extendedprice)
                       as DECIMAL(30,6))) as DOUBLE)
                   - pow(cast(sum(cast(l_extendedprice as DECIMAL(30,6)))
                       as DOUBLE), 2))
                 / (count(l_extendedprice)::DOUBLE
                   * (count(l_extendedprice)::DOUBLE - 1.0)), 4)), 4)
                 AS sd_price,
               count(distinct l_suppkey) AS uniq_supp,
               round(quantile_cont(l_quantity, 0.5), 4) AS p50_qty
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""
    o["func_joindf_lang"] = """
        WITH lc AS (SELECT lang, count(*) AS df FROM documents GROUP BY lang)
        SELECT d.doc_id::BIGINT AS docid, cast(lc.df as DOUBLE) AS lang_df
        FROM documents d JOIN lc USING (lang)
        WHERE d.doc_id < 500 ORDER BY docid"""
    o["update_chain_v3"] = """
        SELECT doc_id::BIGINT AS docid,
               md5(source || chr(31) || lang) AS sig,
               substr(md5(source || chr(31) || lang), 1, 16) AS sig64,
               source || ':' || lang AS label,
               round((CASE WHEN regexp_matches(text, 'the')
                           THEN 2.0 ELSE 1.0 END)
                   * (CASE WHEN regexp_matches(text, 'and')
                           THEN 3.0 ELSE 1.0 END), 4) AS boost_d,
               3 AS url_levels,
               'com' AS url_toplevel,
               false AS url_landingpage,
               'https://' || lower(source) || '.example.com/docs/'
                 || doc_id || '/page' AS url_canonical,
               CASE WHEN doc_id % 3 = 0 THEN 'true'
                    WHEN doc_id % 3 = 1 THEN 'false'
                    ELSE 'null' END AS flag_s
        FROM documents WHERE doc_id < 400 ORDER BY docid"""
    from solr_spark.operators.textstats import pii_counts_sql, pii_scrub_sql

    _aug = ("(text || CASE WHEN doc_id % 5 = 0 THEN ' contact user' || doc_id"
            " || '@example.com or 555-123-4567 x' ELSE '' END)")
    _pii_counts = pii_counts_sql(_aug)
    o["pii_scrub_docs"] = f"""
        SELECT doc_id::BIGINT AS docid,
               md5({pii_scrub_sql(_aug)}) AS scrubbed_md5,
               {_pii_counts[0]}, {_pii_counts[2]}
        FROM documents WHERE doc_id < 300 ORDER BY docid"""
    from solr_spark.analysis.analyzer import shingle_sql as _shingle_sql

    _doc_sh = _shingle_sql(tokens_sql("text"), 5, "\x1f", False)
    o["contamination_docs"] = f"""
        WITH dsh AS (
          SELECT doc_id, unnest({_doc_sh}) AS sh
          FROM documents WHERE doc_id < 200),
        bsh AS (
          SELECT DISTINCT unnest({_doc_sh}) AS sh
          FROM documents WHERE doc_id >= 200 AND doc_id < 400),
        tot AS (SELECT doc_id, count(*) AS n_sh FROM dsh GROUP BY doc_id),
        hit AS (SELECT doc_id, count(*) AS n_hit FROM dsh
                WHERE sh IN (SELECT sh FROM bsh) GROUP BY doc_id)
        SELECT d.doc_id::BIGINT AS docid,
               coalesce(tot.n_sh, 0) AS n_sh,
               coalesce(hit.n_hit, 0) AS n_hit,
               round(CASE WHEN coalesce(tot.n_sh, 0) = 0 THEN 0.0
                     ELSE coalesce(hit.n_hit, 0) / tot.n_sh::DOUBLE END, 4)
                 AS contamination
        FROM documents d
        LEFT JOIN tot ON tot.doc_id = d.doc_id
        LEFT JOIN hit ON hit.doc_id = d.doc_id
        WHERE d.doc_id < 200 ORDER BY docid"""
    _span8 = _shingle_sql(tokens_sql("text"), 8, "\x1f", False)
    o["dup_spans_docs"] = f"""
        WITH sh AS (
          SELECT docid, md5(s) AS h FROM (
            SELECT doc_id AS docid, unnest({_span8}) AS s
            FROM documents)),
        cnt AS (SELECT h, count(*) AS c FROM sh GROUP BY h)
        SELECT sh.docid AS docid,
               count(*)::BIGINT AS n_spans,
               sum(CASE WHEN cnt.c >= 2 THEN 1 ELSE 0 END)::BIGINT AS n_dup
        FROM sh JOIN cnt USING (h)
        GROUP BY sh.docid ORDER BY docid"""
    from solr_spark.analysis.analyzer import shingle_sql as _shsql
    from solr_spark.operators.phrases import _candidates as _ph_cands

    _ph_sh = ", ".join(
        _shsql("toks", m, " ", False) for m in range(1, 4)
    )
    _ph_rows = []
    _ph_seen = set()
    for _c in _ph_cands(["table", "value", "part", "hash"], 3, 4):
        if _c.text in _ph_seen:
            continue
        _ph_seen.add(_c.text)
        _terms = ", ".join(f"'{w}'" for w in sorted(set(_c.terms)))
        _ttf = (
            f"(SELECT count(*) FROM sh WHERE s = '{_c.text}')"
            if _c.is_indexed else "0"
        )
        _df = (
            f"(SELECT count(DISTINCT docid) FROM sh WHERE s = '{_c.text}')"
            if _c.is_indexed else "0"
        )
        _ph_rows.append(
            f"SELECT '{_c.text}' AS t, {_c.length}::INTEGER AS length, "
            f"{_ttf}::BIGINT AS ttf, {_df}::BIGINT AS df, "
            f"(SELECT count(*) FROM (SELECT docid FROM post "
            f"WHERE term IN ({_terms}) GROUP BY docid "
            f"HAVING count(DISTINCT term) = {len(set(_c.terms))}))::BIGINT"
            f" AS conj_dc"
        )
    o["phrase_stats_query"] = f"""
        WITH {_DOC_TOKS_SQL}, {_POST_SQL},
        sh AS (SELECT docid,
                      unnest(flatten([{_ph_sh}])) AS s
               FROM toks)
        SELECT * FROM ({" UNION ALL ".join(_ph_rows)}) ORDER BY t"""
    o["grouping_func_orders"] = """
        SELECT o_orderkey, group_value, grp_rank FROM (
          SELECT o_orderkey,
                 (o_custkey % 7)::BIGINT AS group_value,
                 row_number() OVER (
                   PARTITION BY o_custkey % 7
                   ORDER BY o_totalprice DESC, o_orderkey
                 )::BIGINT AS grp_rank
          FROM orders WHERE o_orderkey <= 2000)
        WHERE grp_rank <= 2 ORDER BY group_value, grp_rank"""
    o["grouping_query_orders"] = """
        SELECT o_orderkey, group_value, grp_rank FROM (
          SELECT o_orderkey, group_value,
                 row_number() OVER (
                   PARTITION BY group_value
                   ORDER BY o_totalprice DESC, o_orderkey
                 )::BIGINT AS grp_rank
          FROM (
            SELECT o_orderkey, o_totalprice, 'big' AS group_value
            FROM orders
            WHERE o_orderkey <= 2000 AND o_totalprice > 300000
            UNION ALL
            SELECT o_orderkey, o_totalprice, 'urgent' AS group_value
            FROM orders
            WHERE o_orderkey <= 2000 AND o_orderpriority = '1-URGENT'))
        WHERE grp_rank <= 2 ORDER BY group_value, grp_rank"""
    _US = "\x1f"
    o["dedup_span_removal"] = f"""
        WITH {_DOC_TOKS_SQL},
        spans AS (
          SELECT docid, u.pos AS pos, md5(u.s) AS h FROM (
            SELECT docid,
                   unnest(list_transform(
                     range(1, greatest(len(toks) - 7, 0) + 1),
                     i -> {{'pos': i,
                           's': array_to_string(toks[i:i+7], '{_US}')}}))
                     AS u
            FROM toks)),
        firsts AS (
          SELECT h, count(*) AS c,
                 min(docid * 1000000 + pos) AS firstkey
          FROM spans GROUP BY h),
        occ AS (
          SELECT s.docid, s.pos FROM spans s JOIN firsts f USING (h)
          WHERE f.c >= 2 AND s.docid * 1000000 + s.pos <> f.firstkey),
        covered AS (
          SELECT DISTINCT docid, unnest(range(pos, pos + 8)) AS tokpos
          FROM occ),
        tp AS (
          SELECT docid, u.p AS tokpos, u.t AS tok FROM (
            SELECT docid,
                   unnest(list_transform(range(1, len(toks) + 1),
                          i -> {{'p': i, 't': toks[i]}})) AS u
            FROM toks)),
        kept AS (
          SELECT tp.* FROM tp WHERE NOT EXISTS (
            SELECT 1 FROM covered c
            WHERE c.docid = tp.docid AND c.tokpos = tp.tokpos)),
        rebuilt AS (
          SELECT docid,
                 md5(string_agg(tok, ' ' ORDER BY tokpos)) AS kept_md5,
                 count(*) AS n_kept
          FROM kept GROUP BY docid)
        SELECT t.docid AS docid,
               coalesce(r.kept_md5, md5('')) AS kept_md5,
               (len(t.toks) - coalesce(r.n_kept, 0))::BIGINT AS n_removed
        FROM toks t LEFT JOIN rebuilt r ON r.docid = t.docid
        ORDER BY docid"""
    _LM_TOKS = f"SELECT doc_id AS docid, {tokens_sql('text')} AS toks FROM documents"
    o["lm_logprob_heldout"] = f"""
        WITH toks AS ({_LM_TOKS}),
        model AS (SELECT * FROM toks WHERE docid < 300),
        score AS (SELECT * FROM toks WHERE docid >= 300),
        uni AS (SELECT t, count(*) AS cu
                FROM (SELECT unnest(toks) AS t FROM model) GROUP BY t),
        tot AS (SELECT sum(cu)::DOUBLE AS n_total FROM uni),
        bi AS (SELECT w1, w2, count(*) AS cb FROM (
                 SELECT unnest(toks[1:len(toks) - 1]) AS w1,
                        unnest(toks[2:len(toks)]) AS w2 FROM model)
               GROUP BY w1, w2),
        docbi AS (SELECT docid,
                         unnest(toks[1:len(toks) - 1]) AS w1,
                         unnest(toks[2:len(toks)]) AS w2 FROM score),
        scored AS (
          SELECT d.docid,
                 CASE WHEN b.cb IS NOT NULL
                      THEN ln(b.cb / u1.cu::DOUBLE)
                      ELSE ln(0.4 * coalesce(u2.cu, 1)::DOUBLE
                              / (SELECT n_total FROM tot))
                 END AS lp
          FROM docbi d
          LEFT JOIN bi b ON b.w1 = d.w1 AND b.w2 = d.w2
          LEFT JOIN uni u1 ON u1.t = d.w1
          LEFT JOIN uni u2 ON u2.t = d.w2)
        SELECT docid, count(*)::BIGINT AS n_bigrams,
               round(avg(lp), 4) AS avg_logprob
        FROM scored GROUP BY docid ORDER BY docid"""
    o["pack_docs_seqs"] = """
        SELECT doc_id::BIGINT AS docid,
               coalesce(sum(n_chars::BIGINT) OVER (ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS token_offset,
               coalesce(sum(n_chars::BIGINT) OVER (ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 // 50000 AS pack_id
        FROM documents ORDER BY docid"""
    o["ltr_trees_model"] = """
        WITH f AS (SELECT doc_id,
                          n_chars::DOUBLE AS f_len,
                          (doc_id % 7)::DOUBLE AS f_id
                   FROM documents WHERE doc_id < 500)
        SELECT doc_id::BIGINT AS docid,
               round(1.0 * (CASE WHEN f_len <= 300.000001 THEN
                              (CASE WHEN f_id <= 3.000001 THEN 1.5
                                    ELSE 0.5 END)
                            ELSE 2.5 END)
                   + 0.5 * (CASE WHEN f_id <= 5.000001 THEN 1.0
                            ELSE 3.0 END), 4) AS ltr_score
        FROM f ORDER BY ltr_score DESC, docid LIMIT 50"""
    o["update_tolerant_split"] = """
        SELECT o_orderkey,
               CASE WHEN o_totalprice > 400000 AND o_orderpriority = '5-LOW'
                    THEN 'big_price,low_prio'
                    WHEN o_totalprice > 400000 THEN 'big_price'
                    ELSE 'low_prio' END AS errors
        FROM orders
        WHERE o_orderkey <= 3000
          AND (o_totalprice > 400000 OR o_orderpriority = '5-LOW')
        ORDER BY o_orderkey"""
    o["blockjoin_childfield"] = """
        WITH k AS (
          SELECT l_orderkey, l_extendedprice, row_number() OVER (
                   PARTITION BY l_orderkey
                   ORDER BY l_quantity DESC, l_extendedprice DESC) AS rn
          FROM lineitem WHERE l_discount >= 0.05)
        SELECT o.o_orderkey::BIGINT AS o_orderkey,
               k.l_extendedprice AS top_child_price
        FROM orders o JOIN k ON k.l_orderkey = o.o_orderkey
        WHERE o.o_orderkey <= 2000 AND k.rn = 1
        ORDER BY top_child_price DESC, o_orderkey LIMIT 50"""
    o["func_parsed_showcase"] = """
        SELECT doc_id::BIGINT AS docid,
               round(1000.0 / (abs(n_chars - 300) + 1000.0), 4) AS recip_d,
               round(CASE WHEN n_chars BETWEEN 0 AND 150 THEN 0.0
                          ELSE n_chars::DOUBLE END, 4) AS mapped,
               round(CASE WHEN lang IS NOT NULL THEN
                       CASE WHEN greatest(length(lang), 2) = 0 THEN 1.0
                            ELSE 1.0 - levenshtein(lang, 'en')::DOUBLE
                                 / greatest(length(lang), 2) END
                     ELSE -1.0 END, 4) AS sim_en,
               round(log10(greatest(n_chars, 1)::DOUBLE), 4) AS log10n
        FROM documents ORDER BY docid"""

    # --- update processor chain ---
    o["update_chain_orders"] = """
        SELECT o_orderkey,
               o_orderstatus AS status_copy,
               concat_ws('|', o_orderkey::VARCHAR, o_orderstatus) AS okey,
               substr(o_orderpriority, 1, 3) AS o_orderpriority,
               concat_ws('-', substr(md5(o_orderkey::VARCHAR), 1, 8),
                              substr(md5(o_orderkey::VARCHAR), 9, 4),
                              substr(md5(o_orderkey::VARCHAR), 13, 4),
                              substr(md5(o_orderkey::VARCHAR), 17, 4),
                              substr(md5(o_orderkey::VARCHAR), 21, 12)) AS uid,
               length(concat_ws('|', o_orderkey::VARCHAR, o_orderstatus))::INT
                 AS okey_len,
               round(least(o_totalprice, 300000.0), 4) AS o_totalprice
        FROM orders WHERE o_orderkey <= 50 ORDER BY o_orderkey"""

    # --- streaming-expression eval() ---
    o["stream_expr_rollup"] = """
        SELECT l_returnflag, round(sum(l_quantity), 4) AS sum_qty,
               count(*) AS cnt
        FROM lineitem WHERE l_quantity >= 30
        GROUP BY l_returnflag ORDER BY l_returnflag"""
    o["stream_expr_having"] = """
        SELECT o_orderpriority, round(sum(o_totalprice), 2) AS sum_price,
               count(*) AS cnt
        FROM orders GROUP BY o_orderpriority HAVING count(*) > 100
        ORDER BY o_orderpriority"""

    # --- stream tranche 6 (round 5) ---
    o["stream_facet2d"] = """
        WITH cells AS (
          SELECT o_orderpriority, o_orderstatus, count(*) AS cnt
          FROM orders GROUP BY 1, 2),
        xt AS (
          SELECT o_orderpriority, sum(cnt) AS xtot FROM cells
          GROUP BY 1 ORDER BY xtot DESC, o_orderpriority LIMIT 3),
        r AS (
          SELECT c.o_orderpriority, c.o_orderstatus, c.cnt, xt.xtot,
                 row_number() OVER (PARTITION BY c.o_orderpriority
                                    ORDER BY c.cnt DESC, c.o_orderstatus) AS yr
          FROM cells c JOIN xt USING (o_orderpriority))
        SELECT o_orderpriority, o_orderstatus, cnt FROM r WHERE yr <= 2
        ORDER BY xtot DESC, o_orderpriority, cnt DESC, o_orderstatus"""
    o["stream_recnum"] = """
        SELECT o_orderkey, o_totalprice, recNum FROM (
          SELECT o_orderkey, o_totalprice,
                 cast(row_number() OVER (ORDER BY o_orderkey) - 1 AS integer)
                   AS recNum
          FROM orders WHERE o_orderpriority = '1-URGENT')
        WHERE recNum < 100 ORDER BY recNum"""
    o["stream_sql"] = """
        SELECT o_orderstatus, count(*) AS cnt,
               round(sum(o_totalprice), 2) AS total
        FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"""
    o["stream_hashrollup"] = """
        SELECT l_returnflag, round(sum(l_quantity), 2) AS sum_qty,
               round(avg(l_extendedprice), 4) AS avg_price, count(*) AS cnt
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""
    o["stream_knn_search"] = """
        WITH toks AS (
          SELECT doc_id,
                 unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS term
          FROM documents),
        tk AS (SELECT doc_id, term FROM toks WHERE term <> ''),
        n AS (SELECT count(*) AS n_docs FROM documents),
        dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tk GROUP BY 1),
        target AS (
          SELECT tk.term,
                 count(*) * ln((n.n_docs - dfreq.df + 0.5)
                               / (dfreq.df + 0.5) + 1.0) AS w
          FROM tk JOIN dfreq ON tk.term = dfreq.term CROSS JOIN n
          WHERE tk.doc_id = 7
          GROUP BY tk.term, dfreq.df, n.n_docs
          ORDER BY w DESC, tk.term LIMIT 5)
        SELECT tk.doc_id, round(sum(target.w), 6) AS score
        FROM (SELECT DISTINCT doc_id, term FROM tk) tk
        JOIN target ON tk.term = target.term
        WHERE tk.doc_id <> 7
        GROUP BY tk.doc_id
        ORDER BY score DESC, tk.doc_id LIMIT 15"""

    # --- scoreNodes ---
    o["score_nodes_custs"] = """
        WITH nodes AS (SELECT o_custkey AS node, count(*) AS c FROM orders
                       WHERE o_orderpriority = '1-URGENT' GROUP BY 1),
        freq AS (SELECT o_custkey AS node, count(*) AS df FROM orders GROUP BY 1),
        tot AS (SELECT count(*)::DOUBLE AS n FROM orders)
        SELECT node, c::BIGINT AS "termFreq", df::BIGINT AS "docFreq",
               round((ln(c::DOUBLE) + 1.0)
                     * (ln((n + 1.0) / (df::DOUBLE + 1.0)) + 1.0), 4)
                 AS "nodeScore"
        FROM nodes JOIN freq USING (node), tot
        ORDER BY "nodeScore" DESC, node LIMIT 25"""

    # --- relatedness() (z-score through the reference's sigmoid blend) ---
    o["relatedness_lang"] = """
        WITH sizes AS (
          SELECT count(*)::DOUBLE AS bg,
                 sum(CASE WHEN n_chars > 300 THEN 1 ELSE 0 END)::DOUBLE AS fg
          FROM documents),
        per AS (
          SELECT lang AS value,
                 sum(CASE WHEN n_chars > 300 THEN 1 ELSE 0 END)::BIGINT AS fg_count,
                 count(*)::BIGINT AS bg_count
          FROM documents GROUP BY 1),
        z AS (
          SELECT value, fg_count, bg_count,
                 round(fg_count / bg, 5) AS fg_pop,
                 round(bg_count / bg, 5) AS bg_pop,
                 (fg_count - fg * (bg_count / bg))
                   / (CASE WHEN sqrt(fg * (bg_count / bg) * (1 - bg_count / bg)) = 0
                           THEN 1e-10
                           ELSE sqrt(fg * (bg_count / bg) * (1 - bg_count / bg)) END)
                   AS zv
          FROM per, sizes)
        SELECT value, fg_count, bg_count, fg_pop, bg_pop,
               round(0.2 * ((zv - 80) / (50 + abs(zv - 80))
                          + (zv - 30) / (30 + abs(zv - 30))
                          + (zv) / (30 + abs(zv))
                          + (zv + 30) / (30 + abs(zv + 30))
                          + (zv + 80) / (50 + abs(zv + 80))), 5) AS relatedness
        FROM z ORDER BY relatedness DESC, value LIMIT 10"""

    # --- realtime get overlay (docid == doc_id by corpus construction) ---
    o["rtg_overlay"] = """
        SELECT doc_id::BIGINT AS docid, source AS repo,
               CASE WHEN doc_id = 1 THEN 'xx' ELSE lang END AS lang,
               (doc_id = 1) AS _from_tlog
        FROM documents WHERE doc_id IN (1, 3, 4) ORDER BY docid"""

    # --- merge() of sorted streams ---
    o["merge_sorted_streams"] = """
        SELECT o_orderkey AS k, round(o_totalprice, 4) AS v FROM orders
        WHERE o_orderstatus IN ('F', 'O') ORDER BY k LIMIT 200"""

    # --- reduce() per-group gap stats ---
    o["reduce_order_gaps"] = """
        WITH g AS (
          SELECT o_custkey,
                 date_diff('day',
                           lag(o_orderdate) OVER (PARTITION BY o_custkey
                                                  ORDER BY o_orderdate),
                           o_orderdate) AS gap
          FROM orders WHERE o_custkey <= 200)
        SELECT o_custkey, count(*)::BIGINT AS n_orders,
               coalesce(max(gap), 0)::BIGINT AS max_gap_days
        FROM g GROUP BY 1 ORDER BY o_custkey"""

    # --- edismax ---
    from solr_spark.query.edismax import edismax_sql

    o["edismax_qf_tie"] = edismax_sql(
        "table spark en",
        {"text": 1.0, "lang": 3.0, "source": 2.0},
        tie=0.3,
        mm=2,
        sql_bf="log10(greatest(n_chars, 1)::DOUBLE)",
        k=10,
    )
    o["edismax_pf"] = edismax_sql(
        "fast merge", {"text": 1.0}, pf={"text": 2.0}, ps=1, k=10
    )
    o["edismax_pf2_shingles"] = edismax_sql(
        "fast merge sort", {"text": 1.0}, pf2={"text": 1.5}, ps=0, k=10
    )
    o["edismax_indexed_qf"] = edismax_sql(
        "merge en", {"text": 1.0, "lang": 2.0}, tie=0.1, k=10
    )
    o["edismax_indexed_pf"] = edismax_sql(
        "fast merge", {"text": 1.0}, pf={"text": 2.0}, ps=1, k=10
    )

    # --- spatial family (twin formula via SP.geodist_sql; box constants
    # computed by the same bounding_box() used Spark-side so the two
    # engines test literally identical literals) ---
    _pts_cte = (
        "WITH pts AS (SELECT c_custkey, "
        "(c_custkey * 7919 % 17000) / 100.0 - 85.0 AS lat, "
        "(c_custkey * 104729 % 36000) / 100.0 - 180.0 AS lon FROM customer)"
    )
    _gd_nyc = SP.geodist_sql("lat", "lon", 40.7, -74.0)
    o["geofilt_customers"] = f"""
        {_pts_cte}
        SELECT c_custkey, round({_gd_nyc}, 4) AS dist_km
        FROM pts WHERE {_gd_nyc} <= 3000.0 ORDER BY c_custkey"""
    _bb = SP.bounding_box(40.7, -74.0, 3000.0)
    _bb_pred = (
        f"lat >= {_bb[0]!r} AND lat <= {_bb[1]!r} AND "
        + (
            f"(lon >= {_bb[2]!r} OR lon <= {_bb[3]!r})"
            if _bb[4]
            else f"lon >= {_bb[2]!r} AND lon <= {_bb[3]!r}"
        )
    )
    o["bbox_customers"] = f"""
        {_pts_cte}
        SELECT c_custkey FROM pts WHERE {_bb_pred} ORDER BY c_custkey"""
    o["rect_range_customers"] = f"""
        {_pts_cte}
        SELECT c_custkey FROM pts
        WHERE lat >= -30.0 AND lat <= 30.0
          AND (lon >= 150.0 OR lon <= -150.0)
        ORDER BY c_custkey"""
    _gd_paris = SP.geodist_sql("lat", "lon", 48.8566, 2.3522)
    o["geodist_sort_top20"] = f"""
        {_pts_cte}
        SELECT c_custkey, round(dist, 4) AS dist_km
        FROM (SELECT c_custkey, {_gd_paris} AS dist FROM pts
              ORDER BY dist LIMIT 40)
        ORDER BY dist_km, c_custkey LIMIT 20"""

    # no oracle (rows-only check): ann_cosine_lsh, hll_users_by_type
    # (approximate sketches are engine-specific; their bounded twins
    # ann_lsh_recall / hll_error_ok carry the oracle) and
    # textlogit_confusion (iterative LR training is not SQL-expressible)
    return o
