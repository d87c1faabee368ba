"""Positions table + phrase semantics: indexed == inline == DuckDB."""

import duckdb
import pytest
from pyspark.sql import functions as F

from solr_spark.index.builder import build_index
from solr_spark.operators.phrase import phrase_match, phrase_freq_col
from solr_spark.query.positions import chain_match_count_sql, phrase_docids
from solr_spark.sources.corpus import synthesize_corpus

N_DOCS = 300


@pytest.fixture(scope="module")
def corpus(spark):
    return synthesize_corpus(spark, N_DOCS, seed=7, partitions=4).persist()


@pytest.fixture(scope="module")
def index(spark, corpus, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("pos") / "index")
    return build_index(
        spark, corpus, out, num_buckets=4, build_blocks=False,
        build_positions=True,
    )


def test_derived_postings_equal_invert_path(spark, corpus, index, tmp_path):
    """A positions-enabled build must produce postings/term_stats
    row-identical to a plain build of the same corpus (the positions
    table is strictly additive), blocks metadata included."""
    plain = build_index(
        spark, corpus, str(tmp_path / "plain"), num_buckets=4,
        build_blocks=True, build_positions=False,
    )
    both = build_index(
        spark, corpus, str(tmp_path / "both"), num_buckets=4,
        build_blocks=True, build_positions=True,
    )
    cols = ["tid", "docid", "tf", "dl_q"]
    a = sorted(plain.postings().select(*cols).collect())
    b = sorted(both.postings().select(*cols).collect())
    assert a == b
    ta = sorted(plain.term_stats().select("term", "df", "cttf").collect())
    tb = sorted(both.term_stats().select("term", "df", "cttf").collect())
    assert ta == tb
    # positions from the fused path still match the module index fixture
    pa = sorted(index.positions().select("tid", "docid", "pos").collect())
    pb = sorted(both.positions().select("tid", "docid", "pos").collect())
    assert pa == pb
    assert both.meta["has_blocks"] and both.meta["has_positions"]


def _chain_freq(spark, toks: list[str], terms: list[str], slop: int) -> int:
    df = spark.createDataFrame([(toks,)], "toks array<string>")
    freq = phrase_freq_col(F.col("toks"), terms, slop)
    return df.select(freq.alias("f")).collect()[0]["f"]


def test_chain_semantics_exact(spark):
    toks = "a b c a b x c".split()
    assert _chain_freq(spark, toks, ["a", "b", "c"], 0) == 1  # only pos 1
    assert _chain_freq(spark, toks, ["a", "b"], 0) == 2
    assert _chain_freq(spark, toks, ["b", "a"], 0) == 0       # order matters
    # a null and an empty token array hold no phrase, and do not shift
    # the positions of the rows after them in the same batch
    df = spark.createDataFrame(
        [(["a", "b"],), (None,), ([],), (["x", "a", "b", "a", "b"],)],
        "toks array<string>",
    ).coalesce(1)
    freq = phrase_freq_col(F.col("toks"), ["a", "b"])
    assert [r.f for r in df.select(freq.alias("f")).collect()] == [1, 0, 0, 2]


def test_chain_semantics_slop_needs_dp(spark):
    # greedy-min would pick b@2 and fail to reach c@5; the DP must not
    toks = "a b b x c".split()
    assert _chain_freq(spark, toks, ["a", "b", "c"], 1) == 1
    assert _chain_freq(spark, toks, ["a", "b", "c"], 0) == 0
    # later term may NOT match before an earlier one (ADVICE round 1):
    # 'c b' within slop window but reversed order
    toks2 = "a x c b".split()
    assert _chain_freq(spark, toks2, ["a", "c", "b"], 2) == 1
    assert _chain_freq(spark, toks2, ["a", "b", "c"], 2) == 0


def test_chain_sql_twin_matches(spark):
    cases = [
        ("a b c a b x c", ["a", "b", "c"], 0),
        ("a b b x c", ["a", "b", "c"], 1),
        ("a x c b", ["a", "b", "c"], 2),
        ("q w e r t y", ["q", "e", "y"], 2),
        ("z z z z", ["z", "z"], 0),
    ]
    con = duckdb.connect()
    for text, terms, slop in cases:
        toks = text.split()
        spark_f = _chain_freq(spark, toks, terms, slop)
        pos_exprs = [
            f"[i FOR i IN range(1, len(toks) + 1) IF toks[i] = '{t}']"
            for t in terms
        ]
        arr = "[" + ",".join(f"'{t}'" for t in toks) + "]"
        sql = f"SELECT ({chain_match_count_sql(pos_exprs, slop)}) AS f FROM (SELECT {arr} AS toks)"
        duck_f = con.execute(sql).fetchone()[0]
        assert spark_f == duck_f, (text, terms, slop, spark_f, duck_f)


def test_unordered_window_semantics(spark):
    from solr_spark.operators.phrase import phrase_freq_col

    def wfreq(toks, terms, slop):
        df = spark.createDataFrame([(toks,)], "toks array<string>")
        return df.select(
            phrase_freq_col(F.col("toks"), terms, slop, ordered=False,
                            window=True).alias("f")
        ).collect()[0]["f"]

    toks = "a x c b".split()
    # reversed order matches within the window; ordered would reject
    assert wfreq(toks, ["a", "b", "c"], 2) == 1
    assert wfreq(toks, ["a", "b", "c"], 0) == 0  # b@4 outside [1, 3]
    # anchor 'e'@3, 'q'@1: distance 2 needs slop >= 2 in window terms
    assert wfreq("q w e".split(), ["e", "q"], 2) == 1
    assert wfreq("q w e".split(), ["e", "q"], 1) == 0


def test_unordered_sql_twin(spark):
    import duckdb

    from solr_spark.operators.phrase import phrase_freq_col
    from solr_spark.query.positions import window_match_count_sql

    con = duckdb.connect()
    cases = [("a x c b", ["a", "b", "c"], 2), ("m n o p", ["o", "m"], 1),
             ("z z y", ["z", "y"], 0)]
    for text, terms, slop in cases:
        toks = text.split()
        spark_f = (
            spark.createDataFrame([(toks,)], "toks array<string>")
            .select(phrase_freq_col(F.col("toks"), terms, slop, ordered=False,
                                    window=True).alias("f"))
            .collect()[0]["f"]
        )
        pos_exprs = [
            f"[i FOR i IN range(1, len(toks) + 1) IF toks[i] = '{t}']"
            for t in terms
        ]
        arr = "[" + ",".join(f"'{t}'" for t in toks) + "]"
        sql = f"SELECT ({window_match_count_sql(pos_exprs, slop)}) AS f FROM (SELECT {arr} AS toks)"
        assert spark_f == con.execute(sql).fetchone()[0], (text, terms, slop)


def test_indexed_unordered_equals_inline(spark, corpus, index):
    from solr_spark.operators.phrase import phrase_match

    inline = phrase_match(
        corpus.join(index.docs().select("docid", "repo", "path", "commit"),
                    ["repo", "path", "commit"]),
        "import return", id_col="docid", text_col="content",
        slop=1, ordered=False,
    )
    indexed = phrase_docids(index, ["import", "return"], slop=1, ordered=False)
    a = sorted((r.docid, r.phrase_freq) for r in inline.collect())
    b = sorted((r.docid, r.phrase_freq) for r in indexed.collect())
    assert a == b and a


def test_positions_table_layout(index):
    assert index.meta["has_positions"]
    pos = index.positions()
    # FLAT (tid, docid, pos) rows: 1-based; bucket = tid % num_buckets
    assert pos.where(F.col("pos") < 1).count() == 0
    from solr_spark.index.builder import tid_bucket_py

    sample = pos.select("tid", "bucket").limit(100).collect()
    assert all(r.bucket == tid_bucket_py(r.tid, index.meta["num_buckets"]) for r in sample)
    # one row per TOKEN: per-(tid, docid) row count == the posting's tf,
    # and distinct (tid, docid) == postings cardinality
    per = pos.groupBy("tid", "docid").agg(F.count(F.lit(1)).alias("np"))
    assert per.count() == index.postings().count()
    j = per.join(
        index.postings().select("tid", "docid", "tf"), ["tid", "docid"]
    )
    assert j.where(F.col("np") != F.col("tf")).count() == 0


@pytest.mark.parametrize(
    "phrase,slop",
    [("return import", 0), ("jsonParser", 0), ("buffer size", 1),
     ("parse input", 2), ("value data self", 3), ("nosuch zzz", 0)],
)
def test_indexed_phrase_equals_inline(spark, corpus, index, phrase, slop):
    inline = phrase_match(
        corpus.join(index.docs().select("docid", "repo", "path", "commit"),
                    ["repo", "path", "commit"]),
        phrase, id_col="docid", text_col="content", slop=slop,
    )
    indexed = phrase_docids(index, phrase.split(), slop=slop)
    a = sorted((r.docid, r.phrase_freq) for r in inline.collect())
    b = sorted((r.docid, r.phrase_freq) for r in indexed.collect())
    assert a == b


def test_inline_vectorized_matcher_equals_per_row(spark):
    """Round-6: phrase_match's whole-batch Arrow path (tokenize + the
    row-keyed matcher in _phrase_freq_batches) against the per-row
    pandas path (JVM tokens + phrase_freq_col) — same rows, same freqs,
    for every matcher, on a fuzzed corpus with repeated terms, adjacent
    matches, unicode (fallback-tokenized) rows and empty docs."""
    import random

    from pyspark.sql import functions as F

    from solr_spark.analysis.analyzer import tokens_col
    from solr_spark.operators.phrase import phrase_freq_col, phrase_match

    rng = random.Random(23)
    vocab = ["json", "parser", "read", "write", "Été", "x2go"]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 25))))
        for i in range(400)
    ] + [(400, ""), (401, "json parser json parser"), (402, "Été json parser")]
    docs = spark.createDataFrame(rows, "docid long, content string")
    for phrase, slop, ordered, window in [
        ("json parser", 0, True, False),
        ("json parser read", 2, True, False),
        ("json json", 0, True, False),
        ("parser json", 1, False, True),
        ("parser json", 1, False, False),
        ("json parser json", 2, False, False),  # repeated-term sloppy
        ("ete json", 0, True, False),  # unicode-analyzed term
    ]:
        new = phrase_match(
            docs, phrase, id_col="docid", text_col="content",
            slop=slop, ordered=ordered, window=window,
        )
        from solr_spark.analysis.analyzer import tokenize_py

        terms = tokenize_py(phrase)
        d = docs.select(
            F.col("docid"), tokens_col("content").alias("_toks")
        )
        freq = phrase_freq_col(F.col("_toks"), terms, slop, ordered, window)
        old = (
            d.select("docid", freq.cast("int").alias("phrase_freq"))
            .where(F.col("phrase_freq") > 0)
        )
        a = sorted((r.docid, r.phrase_freq) for r in new.collect())
        b = sorted((r.docid, r.phrase_freq) for r in old.collect())
        assert a == b, (phrase, slop, ordered, window, a[:5], b[:5])


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_indexed_phrase_plan_prunes(index, monkeypatch):
    """Both phrase venues scan positions partitions only — never the
    corpus — and carry the tid IN pushdown to the parquet scan: the
    driver venue fetches `Index.tid_scan` (its result frame is a local
    Arrow relation), the distributed venue plans over the same scan."""
    from solr_spark.query import wand

    tids = [s["tid"] for s in index.term_stats_for(["json", "parser"]).values()]
    scan = _plan(index.tid_scan("positions", tids, ("tid", "docid", "pos")))
    monkeypatch.setattr(wand, "DRIVER_DECODE_MAX_POSTINGS", 0)
    dbg: dict = {}
    dist = _plan(phrase_docids(index, ["jsonParser"], 0, debug=dbg))
    assert dbg["path"] == "distributed"
    for plan in (scan, dist):
        assert "positions" in plan
        assert "docs" not in plan  # no corpus/docs scan anywhere in the plan
        assert "In(tid" in plan  # the tid IN pushed to the parquet scan
    assert "Exchange" not in scan  # the driver venue's fetch is shuffle-free


def _venue_cases():
    from solr_spark.query.positions import complex_phrase_docids

    return {
        "exact": lambda i, d: phrase_docids(i, ["json", "parser"], debug=d),
        "ordered_slop1": lambda i, d: phrase_docids(i, ["buffer", "size"], 1, debug=d),
        "ordered_slop2": lambda i, d: phrase_docids(i, ["parse", "input"], 2, debug=d),
        "sloppy": lambda i, d: phrase_docids(
            i, ["import", "return"], 1, ordered=False, debug=d
        ),
        "sloppy_repeated": lambda i, d: phrase_docids(
            i, ["return", "import", "return"], 3, ordered=False, debug=d
        ),
        "window": lambda i, d: phrase_docids(
            i, ["import", "return"], 1, ordered=False, window=True, debug=d
        ),
        "complex": lambda i, d: complex_phrase_docids(i, ["json", "pars*"], debug=d),
        "complex_sloppy": lambda i, d: complex_phrase_docids(
            i, ["pars*", "json"], 2, ordered=False, debug=d
        ),
    }


def _both_venues(idx, run, monkeypatch) -> tuple[list, list]:
    """(driver, distributed) sorted (docid, phrase_freq) rows of `run`,
    asserting each venue actually ran."""
    from solr_spark.query import wand

    out = []
    for gate, path in ((wand.DRIVER_DECODE_MAX_POSTINGS, "driver"), (0, "distributed")):
        monkeypatch.setattr(wand, "DRIVER_DECODE_MAX_POSTINGS", gate)
        dbg: dict = {}
        out.append(sorted((r.docid, r.phrase_freq) for r in run(idx, dbg).collect()))
        assert dbg["path"] == path
    return out[0], out[1]


@pytest.mark.parametrize("case", list(_venue_cases()))
def test_phrase_venues_agree(index, case, monkeypatch):
    """The driver venue (one pruned fetch + NumPy matcher) and the
    distributed venue (groupBy + mapInArrow) give identical (docid,
    phrase_freq) for every matcher, a repeated-term sloppy phrase and a
    complex phrase whose wildcard slot expands to several tids."""
    if case.startswith("complex"):
        dct = index.term_dictionary().where(F.col("term").startswith("pars"))
        assert dct.count() > 1  # the wildcard slot really is a union
    driver, dist = _both_venues(index, _venue_cases()[case], monkeypatch)
    assert driver == dist and driver


def test_flat_phrase_freqs_equals_per_row():
    """The one matcher entry point, `flat_phrase_freqs`, over flat
    (slot key, id, pos) columns in scrambled row order equals a per-row
    reference — the DuckDB twin of each matcher, and
    `_sloppy_count_anchors` per row for the repeated-term sloppy phrase
    (which has no SQL twin) — with ids that are row indexes, sparse
    docids (as a copied index has) and docids past 2^31 (caller-supplied,
    keyed by their dense rank)."""
    import random

    import numpy as np

    from solr_spark.query.positions import (
        _dup_groups, _sloppy_count_anchors, flat_phrase_freqs,
        sloppy_match_count_sql, window_match_count_sql,
    )

    rng = random.Random(3)
    rows = [[rng.choice("abc") for _ in range(rng.randint(0, 25))] for _ in range(60)]
    con = duckdb.connect()
    con.execute("CREATE TABLE t (r INT, toks VARCHAR[])")
    con.executemany("INSERT INTO t VALUES (?, ?)", list(enumerate(rows)))
    # flat token stream: slot key = the token's letter code
    code = np.array([ord(t) for r in rows for t in r], dtype=np.int64)
    row = np.repeat(np.arange(len(rows)), [len(r) for r in rows])
    pos = np.concatenate([np.arange(1, len(r) + 1) for r in rows])
    order = np.random.default_rng(5).permutation(code.size)
    code, row, pos = code[order], row[order], pos[order]
    for terms, slop, ordered, window in [
        (["a", "b"], 0, True, False),
        (["a", "b", "c"], 2, True, False),
        (["b", "a"], 1, False, False),
        (["a", "b", "a"], 2, False, False),
        (["c", "a"], 1, False, True),
    ]:
        dup = _dup_groups(terms)
        if dup and not ordered:
            ref = [
                _sloppy_count_anchors(
                    [np.flatnonzero(np.asarray(r, dtype=object) == t) + 1 for t in terms],
                    slop, dup,
                )
                for r in rows
            ]
        else:
            pos_exprs = [
                f"[i FOR i IN range(1, len(toks) + 1) IF toks[i] = '{t}']" for t in terms
            ]
            twin = (
                chain_match_count_sql if ordered
                else window_match_count_sql if window
                else sloppy_match_count_sql
            )
            ref = [
                f for _, f in con.execute(
                    f"SELECT r, ({twin(pos_exprs, slop)}) FROM t ORDER BY r"
                ).fetchall()
            ]
        slots = [(ord(t),) for t in terms]
        for id_of in (lambda r: r, lambda r: 7 * r + 2, lambda r: (1 << 40) + 7 * r):
            ids, freqs = flat_phrase_freqs(
                code, id_of(row), pos, slots, slop, ordered, window, dup
            )
            want = {id_of(r): f for r, f in enumerate(ref) if f}
            assert dict(zip(ids.tolist(), freqs.tolist())) == want and want, terms


def _sfreq(spark, toks, terms, slop, **kw):
    df = spark.createDataFrame([(toks,)], "toks array<string>")
    return df.select(
        phrase_freq_col(F.col("toks"), terms, slop, ordered=False, **kw).alias("f")
    ).collect()[0]["f"]


def test_sloppy_exact_edit_budget_semantics(spark):
    """Lucene acceptance: adjusted spread <= slop. "a b"~2 matches
    "b a" but "a b"~1 does not — the case the window approximation
    over-matches (round-2 VERDICT missing #1)."""
    assert _sfreq(spark, "b a".split(), ["a", "b"], 2) == 1
    assert _sfreq(spark, "b a".split(), ["a", "b"], 1) == 0
    # the cheap window mode over-matches the same case (documented)
    assert _sfreq(spark, "b a".split(), ["a", "b"], 1, window=True) == 1
    # three terms fully reversed: adjusted spread 4
    assert _sfreq(spark, "c x a".split(), ["a", "x", "c"], 4) == 1
    assert _sfreq(spark, "c x a".split(), ["a", "x", "c"], 3) == 0
    # in-order with one gap: spread 1
    assert _sfreq(spark, "a z b".split(), ["a", "b"], 1) == 1
    assert _sfreq(spark, "a z b".split(), ["a", "b"], 0) == 0


def test_sloppy_repeated_terms_need_distinct_positions(spark):
    # one 'a' cannot serve both query offsets (SloppyPhraseMatcher repeats)
    assert _sfreq(spark, ["a"], ["a", "a"], 2) == 0
    # "a a": anchor@1 matches exactly; anchor@2 has no distinct partner in budget
    assert _sfreq(spark, "a a".split(), ["a", "a"], 0) == 1
    assert _sfreq(spark, "a x a".split(), ["a", "a"], 1) == 1
    assert _sfreq(spark, "a x a".split(), ["a", "a"], 0) == 0


def test_sloppy_slop0_equals_ordered_chain(spark):
    """Metamorphic: at slop=0 the edit budget admits only the exact
    in-order phrase, so sloppy freq == ordered chain freq."""
    cases = [
        ("a b c a b x c", ["a", "b", "c"]),
        ("q w e r q w", ["q", "w"]),
        ("m n o", ["o", "n"]),
        ("x y x y x", ["x", "y", "x"]),
    ]
    for text, terms in cases:
        toks = text.split()
        s = _sfreq(spark, toks, terms, 0)
        c = _chain_freq(spark, toks, terms, 0)
        assert s == c, (text, terms, s, c)


def test_sloppy_sql_twin(spark):
    import duckdb

    from solr_spark.query.positions import sloppy_match_count_sql

    con = duckdb.connect()
    cases = [("b a", ["a", "b"], 2), ("b a", ["a", "b"], 1),
             ("c x a", ["a", "x", "c"], 4), ("a z b q c", ["a", "b", "c"], 2),
             ("q w e", ["e", "q"], 2), ("q w e", ["e", "q"], 1)]
    for text, terms, slop in cases:
        toks = text.split()
        spark_f = _sfreq(spark, toks, terms, slop)
        pos_exprs = [
            f"[i FOR i IN range(1, len(toks) + 1) IF toks[i] = '{t}']"
            for t in terms
        ]
        arr = "[" + ",".join(f"'{t}'" for t in toks) + "]"
        sql = (
            f"SELECT ({sloppy_match_count_sql(pos_exprs, slop)}) AS f "
            f"FROM (SELECT {arr} AS toks)"
        )
        assert spark_f == con.execute(sql).fetchone()[0], (text, terms, slop)


def test_complex_phrase_wildcard_fuzzy(spark, tmp_path, monkeypatch):
    """ComplexPhrase: wildcard and fuzzy slots expand against the
    dictionary and match positionally — equals the union of the
    expanded plain phrases; absent expansion -> empty; cap raises.
    The corpus brings its own docids past 2^31, which the matcher keys
    by their dense rank: the driver venue answers them, with the same
    rows as the distributed venue."""
    import pytest as _pytest

    from solr_spark.index.builder import build_index
    from solr_spark.query.positions import complex_phrase_docids, phrase_docids

    big = 1 << 40
    rows = [
        (big + 1, "r", "p1", "c", "the json parser reads fast"),
        (big + 2, "r", "p2", "c", "a json parsing engine"),
        (big + 3, "r", "p3", "c", "json compiler here"),
        (big + 4, "r", "p4", "c", "parser json inverted order"),
    ]
    corpus = spark.createDataFrame(
        rows, "docid long, repo string, path string, commit string, content string"
    )
    idx = build_index(
        spark, corpus, str(tmp_path / "cpx"), num_buckets=2,
        build_blocks=False, build_positions=True,
    )
    cpx = lambda i, d: complex_phrase_docids(i, ["json", "pars*"], debug=d)
    driver, dist = _both_venues(idx, cpx, monkeypatch)
    assert driver == dist
    got = dict(driver)
    want = {}
    for w in ("parser", "parsing"):
        for r in phrase_docids(idx, ["json", w]).collect():
            want[r["docid"]] = want.get(r["docid"], 0) + r["phrase_freq"]
    assert got == want and set(got) == {big + 1, big + 2}  # p3/p4 don't
    # fuzzy slot: 'jsan~1' matches 'json'
    fz = {r["docid"] for r in complex_phrase_docids(idx, ["jsan~1", "pars*"]).collect()}
    assert fz == set(got)
    assert complex_phrase_docids(idx, ["zzz*", "pars*"]).count() == 0
    with _pytest.raises(ValueError, match="max_expansions"):
        complex_phrase_docids(idx, ["*", "pars*"], max_expansions=2)


def _ids(df):
    return {r["docid"] for r in df.collect()}


def _live_cases():
    """Every indexed query entry point that returns docids, each with a
    query that matches docs across the corpus."""
    from solr_spark.query.engine import bm25_topk, bm25_topk_batch
    from solr_spark.query.expand_ops import (
        fuzzy_query, prefix_query, regex_query, term_set_query, wildcard_query,
    )
    from solr_spark.query.positions import complex_phrase_docids
    from solr_spark.query.search_api import search
    from solr_spark.query.surround import surround_docids
    from solr_spark.query.wand import bm25_topk_wand

    k = N_DOCS
    return {
        "bm25_topk": lambda i: bm25_topk(i, "jsonParser bufferSize", k=k),
        "bm25_topk_wand": lambda i: bm25_topk_wand(i, "jsonParser bufferSize", k=k),
        "bm25_topk_batch": lambda i: bm25_topk_batch(
            i, {"a": "jsonParser", "b": "bufferSize return"}, k=k
        ),
        "search_term": lambda i: search(i, "jsonParser", k=k),
        "search_bool": lambda i: search(i, "+json (parser OR buffer) -zzzq", k=k),
        "search_filter": lambda i: search(i, "lang:java", k=k),
        "phrase_docids": lambda i: phrase_docids(i, ["json", "parser"]),
        "complex_phrase_docids": lambda i: complex_phrase_docids(i, ["json", "pars*"]),
        "surround_docids": lambda i: surround_docids(i, "json W parser"),
        "prefix_query": lambda i: prefix_query(i, "json"),
        "wildcard_query": lambda i: wildcard_query(i, "js?n*"),
        "regex_query": lambda i: regex_query(i, "^buff.*"),
        "fuzzy_query": lambda i: fuzzy_query(i, "jsan", max_edits=1),
        "term_set_query": lambda i: term_set_query(i, ["json", "buffer"]),
    }


@pytest.fixture(scope="module")
def pending(index, tmp_path_factory):
    """A copy of the module index with every 5th doc deleted (pending,
    not expunged). Returns (index, deleted ids)."""
    import shutil

    from solr_spark.index.builder import Index
    from solr_spark.index.maintenance import delete_by_ids

    root = str(tmp_path_factory.mktemp("pos_del") / "index")
    shutil.copytree(index.paths.root, root)
    idx = Index.load(index.spark, root)
    gone = sorted(_ids(idx.docs().select("docid")))[::5]
    assert delete_by_ids(idx, gone) == len(gone)
    return idx, set(gone)


#: the phrase entry points of `_live_cases`, as venue cases (same queries)
_PHRASE_VENUE_CASE = {"phrase_docids": "exact", "complex_phrase_docids": "complex"}


@pytest.mark.parametrize("entry", [*_live_cases(), "spell_collate"])
def test_pending_deletes_never_come_back(index, pending, entry, monkeypatch):
    """liveDocs in one place: every indexed query entry point drops the
    deleted docs, which it matched before the delete. The phrase entry
    points drop them on both venues (by id on the driver, by the
    anti-join under the distributed scan), with identical results."""
    idx, gone = pending
    if entry == "spell_collate":
        # collation hits count docs, so they count live docs only
        from solr_spark.operators.relevance import spell_collate
        from solr_spark.query.engine import bm25_topk

        (row,) = spell_collate(idx, "jsan parser").collect()
        live = bm25_topk(idx, row.collation, k=N_DOCS, mode="AND")
        assert row.hits == live.count() > 0
        assert not _ids(live) & gone
        return
    run = _live_cases()[entry]
    assert _ids(run(index)) & gone  # the deleted docs matched before
    got = _ids(run(idx))
    assert got and not got & gone
    if entry in _PHRASE_VENUE_CASE:
        case = _venue_cases()[_PHRASE_VENUE_CASE[entry]]
        driver, dist = _both_venues(idx, case, monkeypatch)
        assert driver == dist and {d for d, _ in driver} == got
