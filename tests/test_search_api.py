"""Query parser + full search execution semantics."""

import re

import pytest
from pyspark.sql import functions as F

from solr_spark.index.builder import build_index
from solr_spark.plans.qparser import parse_query
from solr_spark.query.engine import bm25_topk
from solr_spark.query.expand_ops import (
    fuzzy_query,
    prefix_query,
    rerank,
    term_set_query,
    wildcard_query,
)
from solr_spark.query.search_api import search
from solr_spark.sources.corpus import synthesize_corpus


def test_parse_query_shapes():
    pq = parse_query('+must -banned plain lang:java n_chars:[10 TO 99] pre* fuz~ "a b"')
    assert pq.must == ["must", "a", "b"]
    assert pq.must_not == ["banned"]
    assert pq.should == ["plain"]
    assert ("lang", "eq", "java") in pq.filters
    assert ("n_chars", "range", ("10", "99")) in pq.filters
    assert ("prefix", "pre") in pq.expansions
    assert ("fuzzy", "fuz") in pq.expansions


def test_parse_boolean_tree():
    from solr_spark.plans.qparser import (
        MUST, MUST_NOT, SHOULD, BoolNode, FieldClause, RangeVal, Term, parse_ast,
    )

    ast = parse_ast("(a OR b) AND -c")
    assert [o for o, _ in ast.clauses] == [MUST, MUST_NOT]
    grp = ast.clauses[0][1]
    assert isinstance(grp, BoolNode)
    assert [(o, n.text) for o, n in grp.clauses] == [(SHOULD, "a"), (SHOULD, "b")]
    assert ast.clauses[1][1].text == "c"

    # boosts, open/exclusive ranges, NOT keyword, q.op=AND adjacency
    ast2 = parse_ast("big^2.5 n:[* TO 5} NOT bad", default_op="AND")
    (o0, t0), (o1, r1), (o2, t2) = ast2.clauses
    assert (o0, t0.text, t0.boost) == (SHOULD, "big", 2.5)
    assert o1 == MUST and isinstance(r1, FieldClause) and r1.op == "range"
    rv: RangeVal = r1.value
    assert rv.lo is None and rv.hi == "5" and rv.hi_inc is False
    assert (o2, t2.text) == (MUST_NOT, "bad")

    # explicit AND binds tighter than OR / adjacency
    ast3 = parse_ast("a b AND c")
    assert ast3.clauses[0][1].text == "a" and ast3.clauses[0][0] == SHOULD
    inner = ast3.clauses[1][1]
    assert isinstance(inner, BoolNode)
    assert [o for o, _ in inner.clauses] == [MUST, MUST]


@pytest.fixture(scope="module")
def index(spark, tmp_path_factory):
    corpus = synthesize_corpus(spark, 300, seed=42, partitions=4)
    out = str(tmp_path_factory.mktemp("sapi") / "index")
    return build_index(spark, corpus, out, num_buckets=4, build_blocks=False)


def test_plain_terms_match_engine(index):
    got = [(r.docid, r.score) for r in search(index, "return import", k=10).collect()]
    # search orders by ROUNDED score; rebuild the same ordering from the
    # engine's full result so k-boundary rounding ties compare stably
    ref = sorted(
        (
            (r.docid, round(r.score, 4))
            for r in bm25_topk(index, "return import", k=1000).collect()
        ),
        key=lambda x: (-x[1], x[0]),
    )[:10]
    assert got == ref


def _docs_with_terms(index, terms):
    """docid -> #distinct of `terms` present, via the tid dictionary."""
    tids = [s["tid"] for s in index.term_stats_for(terms).values()]
    return (
        index.postings()
        .where(F.col("tid").isin(tids))
        .groupBy("docid")
        .agg(F.countDistinct("tid").alias("n"))
    )


def test_must_not_excludes(index):
    banned = {r.docid for r in _docs_with_terms(index, ["import"]).collect()}
    rows = search(index, "return -import", k=300).collect()
    assert rows and all(r.docid not in banned for r in rows)


def test_must_requires(index):
    # "+jsonParser" analyzes to MUST(json) + MUST(parser)
    have_all = {
        r["docid"]
        for r in _docs_with_terms(index, ["json", "parser"]).where("n = 2").collect()
    }
    rows = search(index, "+jsonParser return", k=300).collect()
    assert {r.docid for r in rows} == have_all


def test_metadata_filter_is_nonscoring(index):
    all_rows = search(index, "return", k=300).collect()
    filt = search(index, "return lang:java", k=300).collect()
    langs = {
        r["docid"]: r["lang"] for r in index.docs().select("docid", "lang").collect()
    }
    assert filt and all(langs[r.docid] == "java" for r in filt)
    scores_all = {r.docid: r.score for r in all_rows}
    # same docs keep identical scores — the filter never rescored
    assert all(scores_all[r.docid] == r.score for r in filt if r.docid in scores_all)


def test_range_filter(index):
    rows = search(index, "return path:[src/m1 TO src/m4]", k=300, with_payload=True).collect()
    assert rows and all("src/m1" <= r.path <= "src/m4" for r in rows)


def test_prefix_expansion_constant_score(index):
    rows = prefix_query(index, "json").collect()
    assert rows and all(r.score == 1.0 for r in rows)
    # every returned doc really contains a 'json*' term (resolve via dict)
    terms = [
        r.term
        for r in index.term_stats().where(F.col("term").startswith("json")).collect()
    ]
    with_term = {r.docid for r in _docs_with_terms(index, terms).collect()}
    assert {r.docid for r in rows} == with_term
    # the expansion prunes postings buckets: the dictionary side carries
    # each tid's bucket, so the scan gets a dynamic partition filter
    # instead of reading every bucket, and the rows are those of the
    # unpruned tid-only join
    plan = prefix_query(index, "json")._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"dynamicpruningexpression\(bucket#\d+ IN dynamicpruning", plan)
    tids = index.term_dictionary().where(F.col("term").startswith("json"))
    unpruned = index.postings().join(F.broadcast(tids.select("tid")), "tid")
    assert sorted(r.docid for r in rows) == sorted(
        r.docid for r in unpruned.select("docid").distinct().collect()
    )


def test_wildcard_and_fuzzy_and_set(index):
    w = {r.docid for r in wildcard_query(index, "js?n*").collect()}
    assert w  # jsonparser etc.
    f = {r.docid for r in fuzzy_query(index, "jsan", max_edits=1).collect()}
    assert f  # 'json' is one edit away
    s = {r.docid for r in term_set_query(index, ["json", "nosuchterm"]).collect()}
    assert s


def test_numeric_range_is_typed(index):
    """doclen:[5 TO 99] must compare numerically: lexicographic would
    wrongly admit doclen=100 ('100' <= '99') and reject doclen=5 of a
    multi-digit corpus ('5' < '10' is false lexicographically)."""
    rows = search(index, "return doclen:[5 TO 99]", k=300, with_payload=True).collect()
    assert rows and all(5 <= r.doclen <= 99 for r in rows)
    lens = {r["docid"]: r["doclen"] for r in index.docs().select("docid", "doclen").collect()}
    hit_all = {r.docid for r in search(index, "return", k=300).collect()}
    expect = {d for d in hit_all if 5 <= lens[d] <= 99}
    assert {r.docid for r in rows} == expect


def test_paren_boolean_semantics(index):
    """(json OR window) AND -import == (docs with json or window) minus
    docs with import, scored by the matching terms."""
    got = {r.docid for r in search(index, "(json OR window) AND -import", k=1000).collect()}
    has_any = {r.docid for r in _docs_with_terms(index, ["json", "window"]).collect()}
    has_imp = {r.docid for r in _docs_with_terms(index, ["import"]).collect()}
    assert got == (has_any - has_imp)
    assert got  # non-trivial on this corpus


def test_term_boost_scales_score(index):
    plain = {r.docid: r.score for r in search(index, "return", k=300).collect()}
    boosted = {r.docid: r.score for r in search(index, "return^2", k=300).collect()}
    assert set(plain) == set(boosted)
    for d, s in plain.items():
        assert abs(boosted[d] - 2 * s) < 2e-4  # rounded at 4 decimals


def test_pure_negative_and_unresolved_must(index):
    # all-absent scored term -> empty, even with a filter attached
    assert search(index, "zzzmissingzz lang:java", k=10).count() == 0
    # pure filter query still matches (MatchAllDocs * fq)
    assert search(index, "lang:java", k=10).count() > 0
    # pure negative: everything except docs containing the term
    n_total = index.meta["n_docs"]
    n_imp = _docs_with_terms(index, ["import"]).count()
    assert search(index, "-import", k=10_000).count() == n_total - n_imp


def test_rerank_blends(index):
    main = bm25_topk(index, "return", k=300)
    boost = bm25_topk(index, "jsonParser", k=300)
    rr = rerank(main, boost, rerank_docs=50, rerank_weight=2.0, k=10).collect()
    assert len(rr) == 10
    scores = [r.score for r in rr]
    assert scores == sorted(scores, reverse=True)


def test_datemath_range_filter(spark, tmp_path):
    """ts:[NOW/DAY-2DAYS TO NOW] with a pinned NOW: endpoints evaluate
    driver-side to timestamp literals (pushdown-able) and filter the
    stored ts field; non-matching docs drop even when they score."""
    from datetime import datetime, timezone

    from solr_spark.index.builder import build_index
    from solr_spark.query.search_api import search

    rows = [
        ("r", f"p{i}", "c", f"2024-03-{10 + i:02d}T06:00:00", "common text here")
        for i in range(6)
    ]
    corpus = spark.createDataFrame(
        rows, "repo string, path string, commit string, ts string, content string"
    )
    idx = build_index(spark, corpus, str(tmp_path / "dm"), num_buckets=4,
                      build_blocks=False)
    now = datetime(2024, 3, 14, 18, 0, 0, tzinfo=timezone.utc)
    got = search(idx, "common AND ts:[NOW/DAY-2DAYS TO NOW]", k=10, now=now)
    docs = {r["docid"] for r in got.collect()}
    # window [2024-03-12 00:00, 2024-03-14 18:00]: rows i=2,3,4
    stored = {r["path"]: r["docid"] for r in idx.docs().collect()}
    assert docs == {stored["p2"], stored["p3"], stored["p4"]}
    # open upper end + exclusive lower bracket
    got2 = search(idx, "common AND ts:{2024-03-12T06:00:00Z TO *]", k=10, now=now)
    docs2 = {r["docid"] for r in got2.collect()}
    assert docs2 == {stored[f"p{i}"] for i in range(3, 6)}


def test_search_custom_sort(spark, tmp_path):
    """Solr sort param: stored-field sort joins the docs table before
    the bounded top-k; score remains available as a sort key."""
    from solr_spark.index.builder import build_index
    from solr_spark.query.search_api import search

    rows = [("r", f"p{i}", "c", 100 - i, "alpha beta gamma") for i in range(20)]
    corpus = spark.createDataFrame(
        rows, "repo string, path string, commit string, rank int, content string"
    )
    idx = build_index(spark, corpus, str(tmp_path / "srt"), num_buckets=4,
                      build_blocks=False)
    asc = search(idx, "alpha", k=5, sort="rank asc").collect()
    stored = {r["path"]: (r["docid"], r["rank"]) for r in idx.docs().collect()}
    # rank ascending = paths p19..p15
    assert [r["docid"] for r in asc] == [stored[f"p{i}"][0] for i in (19, 18, 17, 16, 15)]
    two = search(idx, "alpha", k=3, sort="score desc, rank desc").collect()
    # all scores tie -> rank desc decides: p0, p1, p2
    assert [r["docid"] for r in two] == [stored[f"p{i}"][0] for i in (0, 1, 2)]
    # plan still bounds the result (TakeOrderedAndProject, no global sort)
    plan = search(idx, "alpha", k=5, sort="rank asc")._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan
    import pytest

    with pytest.raises(ValueError):
        search(idx, "alpha", sort="rank sideways")
