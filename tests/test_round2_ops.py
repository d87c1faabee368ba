"""Round-2 breadth operators: function-query registry, update-processor
chain, streaming-expression eval, scoreNodes, relatedness, realtime get."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from solr_spark.functions.valuesources import FuncParseError, frange, parse_func
from solr_spark.operators import updateproc as UP
from solr_spark.operators.facets import relatedness_facet
from solr_spark.operators.graph import score_nodes
from solr_spark.plans.streamexpr import StreamExprError, eval_expr, parse_expr


@pytest.fixture(scope="module")
def nums(spark):
    return spark.createDataFrame(
        [(1, 10.0, "alpha"), (2, -4.0, "beta"), (3, 0.5, None), (4, 100.0, "alpha")],
        "id long, x double, tag string",
    )


# ---- function queries ----

def test_func_arith_and_registry(nums):
    rows = {
        r["id"]: r
        for r in nums.select(
            "id",
            parse_func("add(mul(2,x),1)").alias("a"),
            parse_func("recip(abs(x),1,1000,1000)").alias("r"),
            parse_func("map(x,0,50,0)").alias("m"),
            parse_func("if(exists(tag),strdist(tag,'alpha'),-1)").alias("s"),
            parse_func("max(x,0)").alias("mx"),
            parse_func("def(tag,'missing')").alias("d"),
        ).collect()
    }
    assert rows[1]["a"] == 21.0
    assert rows[2]["a"] == -7.0
    assert abs(rows[1]["r"] - 1000.0 / 1010.0) < 1e-12
    assert rows[1]["m"] == 0.0 and rows[4]["m"] == 100.0  # outside range -> x
    assert rows[1]["s"] == 1.0 and rows[3]["s"] == -1.0
    assert 0.0 < rows[2]["s"] < 1.0  # beta vs alpha
    assert rows[2]["mx"] == 0.0
    assert rows[3]["d"] == "missing"


def test_func_log_is_base10_and_trig(nums):
    r = nums.where(F.col("id") == 1).select(
        parse_func("log(x)").alias("l"),
        parse_func("ln(x)").alias("n"),
        parse_func("hypot(3,4)").alias("h"),
        parse_func("div(pi(),2)").alias("p"),
    ).collect()[0]
    assert abs(r["l"] - 1.0) < 1e-12
    assert abs(r["n"] - math.log(10.0)) < 1e-12
    assert r["h"] == 5.0
    assert abs(r["p"] - math.pi / 2) < 1e-12


def test_func_parse_errors():
    for bad in ("nope(1)", "add(1", "add(1,)", "map(x,1)", "1 2"):
        with pytest.raises(FuncParseError):
            parse_func(bad)


def test_frange(nums):
    got = sorted(
        r["id"]
        for r in nums.where(
            frange(parse_func("abs(x)"), lower=0.5, upper=10.0, incu=False)
        ).collect()
    )
    assert got == [2, 3]  # 10.0 excluded (incu=False), 0.5 included


# ---- update processor chain + copyField ----

def test_copy_fields_and_chain(spark):
    df = spark.createDataFrame(
        [(1, "  <b>Hello</b> ", "en", None), (2, "", "fr", "x")],
        "id long, body string, lang string, note string",
    )
    out = UP.apply_chain(
        df,
        [
            UP.html_strip("body"),
            UP.trim_fields("body"),
            UP.remove_blank("body"),
            UP.clone_field("lang", "lang_copy"),
            UP.concat_fields("key", ["id", "lang"], sep="|"),
            UP.default_value("note", "n/a"),
            UP.field_length("lang", "lang_len"),
            UP.uuid_field("uid", ["id", "lang"]),
        ],
    )
    rows = {r["id"]: r for r in out.collect()}
    assert rows[1]["body"] == "Hello" and rows[2]["body"] is None
    assert rows[1]["lang_copy"] == "en"
    assert rows[1]["key"] == "1|en"
    assert rows[2]["note"] == "x" and rows[1]["note"] == "n/a"
    assert rows[1]["lang_len"] == 2
    import re

    assert re.fullmatch(r"[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}", rows[1]["uid"])
    # deterministic: same key fields -> same uuid
    again = UP.uuid_field("uid", ["id", "lang"])(df).collect()
    assert {r["id"]: r["uid"] for r in again}[1] == rows[1]["uid"]

    fan = UP.copy_fields(df, [("body", "text_all"), ("lang", "text_all"), ("note", "note_copy")])
    r1 = fan.where(F.col("id") == 1).collect()[0]
    assert r1["text_all"] == ["  <b>Hello</b> ", "en"]  # multi-src -> array
    assert r1["note_copy"] is None  # single src copies scalar


def test_chain_clamps_and_arrays(spark):
    df = spark.createDataFrame(
        [(1, 5.0, ["a", "b", "a"]), (2, 50.0, ["c"])],
        "id long, v double, tags array<string>",
    )
    out = UP.apply_chain(
        df,
        [
            UP.min_field("v", 10.0),
            UP.max_field("v", 40.0),
            UP.dedupe_values("tags"),
            UP.count_field_values("tags", "n_tags"),
        ],
    )
    rows = {r["id"]: r for r in out.collect()}
    assert rows[1]["v"] == 10.0 and rows[2]["v"] == 40.0
    assert rows[1]["tags"] == ["a", "b"] and rows[1]["n_tags"] == 2


# ---- streaming expressions ----

def test_stream_expr_search_rollup(spark):
    t = spark.createDataFrame(
        [("a", 1, 10.0), ("a", 2, 20.0), ("b", 3, 5.0), ("b", 4, 7.0), ("c", 5, 1.0)],
        "k string, id long, v double",
    )
    got = eval_expr(
        'rollup(search(t, q="k:[a TO b]", fl="k,v", sort="k asc"), over="k", sum(v), count(*))',
        {"t": t},
    ).orderBy("k").collect()
    assert [(r["k"], r["sum(v)"], r["count(*)"]) for r in got] == [
        ("a", 30.0, 2),
        ("b", 12.0, 2),
    ]


def test_stream_expr_joins_and_top(spark):
    l = spark.createDataFrame([(1, "x"), (2, "y"), (3, "z")], "k long, a string")
    r = spark.createDataFrame([(2, 20), (3, 30), (4, 40)], "k long, b int")
    tables = {"l": l, "r": r}
    inner = eval_expr('innerJoin(search(l), search(r), on="k")', tables)
    assert sorted(x["k"] for x in inner.collect()) == [2, 3]
    comp = eval_expr('complement(search(l), search(r), on="k")', tables)
    assert [x["k"] for x in comp.collect()] == [1]
    topd = eval_expr('top(search(r), n=2, sort="b desc")', tables).collect()
    assert [x["k"] for x in topd] == [4, 3]
    sel = eval_expr('select(search(l), "k", "a as alias")', tables)
    assert sel.columns == ["k", "alias"]
    merged = eval_expr('merge(search(l, fl="k"), select(search(r), "k"), on="k asc")', tables)
    assert [x["k"] for x in merged.collect()] == [1, 2, 2, 3, 3, 4]


def test_stream_expr_priority(spark):
    hi = spark.createDataFrame([(1,)], "id long")
    lo = spark.createDataFrame([(2,), (3,)], "id long")
    rows = eval_expr("priority(search(hi), search(lo))", {"hi": hi, "lo": lo}).collect()
    assert rows[0]["id"] == 1 and rows[0]["_priority"] == 0
    assert {r["id"] for r in rows[1:]} == {2, 3}


def test_stream_expr_errors(spark):
    t = spark.createDataFrame([(1,)], "k long")
    for bad in ('bogus(search(t))', 'search(missing)', 'search(t', 'top(search(t))'):
        with pytest.raises((StreamExprError, KeyError)):
            eval_expr(bad, {"t": t}).collect()
    assert parse_expr('rollup(search(t), over="k", count(*))').name == "rollup"


# ---- scoreNodes ----

def test_score_nodes_formula(spark):
    nodes = spark.createDataFrame([(10, 4), (20, 1)], "node long, count long")
    freq = spark.createDataFrame([(10, 99), (20, 1)], "node long, df long")
    rows = {r["node"]: r for r in score_nodes(nodes, freq, num_docs=1000).collect()}
    exp10 = (math.log(4) + 1.0) * (math.log(1001 / 100) + 1.0)
    exp20 = (math.log(1) + 1.0) * (math.log(1001 / 2) + 1.0)
    assert abs(rows[10]["nodeScore"] - round(exp10, 4)) < 1e-9
    assert abs(rows[20]["nodeScore"] - round(exp20, 4)) < 1e-9


# ---- relatedness ----

def test_relatedness_matches_reference_formula(spark):
    # fg = rows with y=1; buckets over tag
    data = [("a", 1)] * 30 + [("a", 0)] * 10 + [("b", 1)] * 5 + [("b", 0)] * 55
    df = spark.createDataFrame(data, "tag string, y int")
    got = {
        r["value"]: r
        for r in relatedness_facet(df, "tag", F.col("y") == 1, limit=10).collect()
    }

    def ref(fg_c, fg_s, bg_c, bg_s):
        bg_prob = bg_c / bg_s
        num = fg_c - fg_s * bg_prob
        den = math.sqrt(fg_s * bg_prob * (1 - bg_prob)) or 1e-10
        z = num / den
        s = lambda x, off, sc: (x + off) / (sc + abs(x + off))
        return round(
            0.2 * (s(z, -80, 50) + s(z, -30, 30) + s(z, 0, 30) + s(z, 30, 30) + s(z, 80, 50)),
            5,
        )

    assert got["a"]["fg_count"] == 30 and got["a"]["bg_count"] == 40
    assert abs(got["a"]["relatedness"] - ref(30, 35, 40, 100)) < 1e-9
    assert abs(got["b"]["relatedness"] - ref(5, 35, 60, 100)) < 1e-9
    assert got["a"]["relatedness"] > got["b"]["relatedness"]


# ---- realtime get ----

def test_realtime_get_overlay(spark, tmp_path):
    from solr_spark.index.builder import build_index
    from solr_spark.query.engine import realtime_get
    from solr_spark.sources.corpus import synthesize_corpus

    corpus = synthesize_corpus(spark, 50, seed=3)
    idx = build_index(spark, corpus, str(tmp_path / "rtg_idx"), num_buckets=4,
                      build_blocks=False)
    fields = [c for c in idx.docs().columns if c != "docid"]
    base3 = idx.docs().where(F.col("docid") == 3).collect()[0]

    # tlog: update doc 1 twice (v2 wins), delete doc 2, add doc 999
    tlog = idx.docs().where(F.col("docid").isin([1, 2])).select(
        "docid", *fields
    )
    upd1 = tlog.where(F.col("docid") == 1).withColumn("repo", F.lit("tlog_v1")).withColumn("_version_", F.lit(1)).withColumn("_deleted_", F.lit(False))
    upd2 = tlog.where(F.col("docid") == 1).withColumn("repo", F.lit("tlog_v2")).withColumn("_version_", F.lit(2)).withColumn("_deleted_", F.lit(False))
    tomb = tlog.where(F.col("docid") == 2).withColumn("_version_", F.lit(1)).withColumn("_deleted_", F.lit(True))
    new = upd2.withColumn("docid", F.lit(999)).withColumn("repo", F.lit("brand_new"))
    full_tlog = upd1.unionByName(upd2).unionByName(tomb).unionByName(new)

    got = {r["docid"]: r for r in realtime_get(idx, [1, 2, 3, 999], full_tlog).collect()}
    assert got[1]["repo"] == "tlog_v2" and got[1]["_from_tlog"]
    assert 2 not in got  # tombstoned
    assert got[3]["repo"] == base3["repo"] and not got[3]["_from_tlog"]
    assert got[999]["repo"] == "brand_new" and got[999]["_from_tlog"]
    # without a tlog: plain committed lookup
    plain = realtime_get(idx, [1, 2])
    assert sorted(r["docid"] for r in plain.collect()) == [1, 2]


# ---- edismax ----

def test_edismax_tie_and_mm(spark):
    from solr_spark.query.edismax import edismax_inline

    docs = spark.createDataFrame(
        [
            (0, "alpha beta", "alpha"),   # matches alpha in both fields
            (1, "alpha alpha", "other"),  # alpha only in f1
            (2, "gamma", "alpha"),        # alpha only in f2
            (3, "beta", "other"),         # beta only (1 term)
        ],
        "id long, f1 string, f2 string",
    )
    q = "alpha beta"
    # mm=2 keeps only doc 0 (matches both terms across fields)
    got = edismax_inline(docs, q, {"f1": 1.0, "f2": 1.0}, mm=2, id_col="id")
    assert [r["docid"] for r in got.collect()] == [0]
    # tie=0 -> per-term max only; tie=1 -> max + (sum - max) == sum
    t0 = {r["docid"]: r["score"] for r in
          edismax_inline(docs, "alpha", {"f1": 1.0, "f2": 1.0}, tie=0.0, id_col="id").collect()}
    t1 = {r["docid"]: r["score"] for r in
          edismax_inline(docs, "alpha", {"f1": 1.0, "f2": 1.0}, tie=1.0, id_col="id").collect()}
    # doc 0 matches alpha in both fields: tie=1 strictly raises its score
    assert t1[0] > t0[0]
    # docs 1/2 match in one field only: tie has no effect
    assert t1[1] == t0[1] and t1[2] == t0[2]
    # field boost dominates: boosting f2 lifts doc 2 above doc 1
    boosted = edismax_inline(docs, "alpha", {"f1": 1.0, "f2": 10.0}, id_col="id")
    assert boosted.collect()[0]["docid"] in (0, 2)


def test_edismax_pf2_shingles(spark):
    from solr_spark.query.edismax import _shingles, edismax_inline

    assert _shingles(["a", "b", "c"], 2) == [["a", "b"], ["b", "c"]]
    assert _shingles(["a", "b", "c"], None) == [["a", "b", "c"]]
    assert _shingles(["a"], 2) == []
    docs = spark.createDataFrame(
        [(0, "x a b c y"), (1, "a x b x c"), (2, "c b a")],
        "id long, f1 string",
    )
    # doc 0 has both bigrams adjacent; pf2 must rank it first
    got = edismax_inline(
        docs, "a b c", {"f1": 1.0}, pf2={"f1": 5.0}, id_col="id"
    ).collect()
    assert got[0]["docid"] == 0
    base = {r["docid"]: r["score"] for r in
            edismax_inline(docs, "a b c", {"f1": 1.0}, id_col="id").collect()}
    boosted = {r["docid"]: r["score"] for r in got}
    assert boosted[0] > base[0]      # shingle hits add score
    assert boosted[1] == base[1]     # no adjacent bigrams -> unchanged


# ---- multi-field index + indexed edismax ----

def test_multifield_index_edismax(spark, tmp_path, monkeypatch):
    from solr_spark.index.builder import Index, build_index
    from solr_spark.query.edismax import edismax_indexed, edismax_inline
    from solr_spark.query.engine import bm25_topk

    docs = spark.createDataFrame(
        [
            (i, f"r{i}", f"p{i}", f"c{i}",
             ["alpha beta gamma delta", "beta beta epsilon", "gamma alpha",
              "zeta eta theta alpha", "beta gamma"][i % 5] + f" tok{i % 7}",
             ["en alpha", "ja beta", "en gamma", "de zeta", "en beta"][i % 5])
            for i in range(60)
        ],
        "docid long, repo string, path string, commit string, "
        "text string, head string",
    )
    idx = build_index(
        spark, docs, str(tmp_path / "mf"), num_buckets=4,
        fields=["text", "head"], build_positions=True,
    )
    assert idx.meta["fields"] == ["text", "head"]
    assert idx.meta["has_blocks"]  # per-field block metadata since r3
    assert set(idx.meta["avgdl_by_field"]) == {"text", "head"}

    # per-field norms differ: same term scores differently per field
    t = bm25_topk(idx, "alpha", k=5, field="text").collect()
    h = bm25_topk(idx, "alpha", k=5, field="head").collect()
    assert t and h and t[0]["score"] != h[0]["score"]

    # indexed edismax == inline edismax (per-field df/avgdl/dl_q identical);
    # pf tiers read the positions table, never the corpus
    for q, qf, kw in [
        ("alpha beta", {"text": 1.0, "head": 2.0}, {"tie": 0.1}),
        ("alpha zeta", {"text": 1.0, "head": 1.5}, {"mm": 2}),
        ("epsilon", {"text": 3.0}, {}),
        ("alpha beta", {"text": 1.0}, {"pf": {"text": 2.0}, "ps": 1}),
        ("alpha beta gamma", {"text": 1.0}, {"pf2": {"text": 1.5}}),
        ("alpha beta gamma", {"text": 1.0, "head": 1.5},
         {"pf3": {"text": 2.5}, "ps": 1, "tie": 0.05}),
    ]:
        got = [(r["docid"], r["score"])
               for r in edismax_indexed(idx, q, qf, k=8, **kw).collect()]
        ref = [(r["docid"], round(r["score"], 4))
               for r in edismax_inline(docs, q, qf, k=8, id_col="docid",
                                       **kw).collect()]
        assert got == ref, q

    # a field= phrase matches that field's positions only, and both
    # phrase venues agree on it (the driver venue's fetch prunes by the
    # field's tids like the distributed scan)
    from solr_spark.query import wand
    from solr_spark.query.positions import phrase_docids

    by_venue = {}
    venues = ((wand.DRIVER_DECODE_MAX_POSTINGS, "driver"), (0, "distributed"))
    for fld in ("text", "head"):
        for gate, path in venues:
            monkeypatch.setattr(wand, "DRIVER_DECODE_MAX_POSTINGS", gate)
            dbg: dict = {}
            rows = phrase_docids(idx, ["alpha", "beta"], field=fld, debug=dbg).collect()
            assert dbg["path"] == path
            by_venue[fld, path] = sorted((r.docid, r.phrase_freq) for r in rows)
        assert by_venue[fld, "driver"] == by_venue[fld, "distributed"]
    assert by_venue["text", "driver"] and not by_venue["head", "driver"]
    monkeypatch.undo()

    # absent terms -> empty frame, and a reloaded handle answers the same
    assert edismax_indexed(idx, "zzznope", {"text": 1.0}).count() == 0
    idx2 = Index.load(spark, str(tmp_path / "mf"))
    assert (
        edismax_indexed(idx2, "alpha beta", {"text": 1.0, "head": 2.0},
                        tie=0.1, k=8).collect()
        == edismax_indexed(idx, "alpha beta", {"text": 1.0, "head": 2.0},
                           tie=0.1, k=8).collect()
    )


# ---- IVF ANN ----

def test_ivf_cosine_topk(spark):
    import hashlib
    import struct

    from solr_spark.operators import similarity as SIM

    def vec(i, dim=8):
        out = []
        for d in range(dim):
            h = hashlib.md5(f"{i}:{d}".encode()).digest()
            (u,) = struct.unpack("<I", h[:4])
            out.append((u / 2**32) * 2.0 - 1.0)
        return out

    emb = spark.createDataFrame(
        [(i, vec(i)) for i in range(300)], "vec_id long, embedding array<double>"
    )
    q = vec(7)
    cents = SIM.train_ivf_centroids(emb, n_cells=6, seed=1)
    assert len(cents) == 6 and len(cents[0]) == 8
    # every row gets a valid cell
    cells = SIM.ivf_assign(emb, cents).select("cell").distinct().collect()
    assert all(0 <= r["cell"] < 6 for r in cells)
    # probing ALL cells == exact brute force
    exact = SIM.cosine_topk(emb, q, k=10).collect()
    full = SIM.cosine_topk_ivf(emb, q, k=10, centroids=cents, n_probe=6).collect()
    assert [(r["vec_id"], r["sim"]) for r in full] == [
        (r["vec_id"], r["sim"]) for r in exact
    ]
    # partial probe: bounded recall, and the query's own cell is probed
    rec = SIM.ivf_recall_at_k(
        emb, q, k=10, centroids=cents, n_probe=2
    ).collect()[0]
    assert 0.0 <= rec["recall"] <= 1.0
    assert SIM.cosine_topk_ivf(emb, vec(7), k=1, centroids=cents,
                               n_probe=1).collect()[0]["vec_id"] == 7


# ---- round-2b function queries ----

def test_func_linear_compare_ord_scale(nums):
    rows = {
        r["id"]: r
        for r in nums.select(
            "id",
            parse_func("linear(x,2,1)").alias("lin"),
            parse_func("gt(x,0)").alias("g"),
            parse_func("eq(id,2)").alias("q"),
            parse_func("scale(x,0,1)", df=nums).alias("sc"),
            parse_func("ord(x)", allow_rank=True).alias("o"),
            parse_func("rord(x)", allow_rank=True).alias("ro"),
            parse_func("field(x)").alias("fx"),
        ).collect()
    }
    assert rows[1]["lin"] == 21.0 and rows[2]["lin"] == -7.0
    assert rows[1]["g"] is True and rows[2]["g"] is False
    assert rows[2]["q"] is True and rows[1]["q"] is False
    # x: -4, 0.5, 10, 100 -> scale to [0,1]
    assert abs(rows[2]["sc"] - 0.0) < 1e-12 and abs(rows[4]["sc"] - 1.0) < 1e-12
    assert abs(rows[1]["sc"] - (10.0 + 4.0) / 104.0) < 1e-12
    assert [rows[i]["o"] for i in (2, 3, 1, 4)] == [1, 2, 3, 4]
    assert [rows[i]["ro"] for i in (4, 1, 3, 2)] == [1, 2, 3, 4]
    assert rows[1]["fx"] == 10.0


def test_func_geodist_and_ms(spark):
    df = spark.createDataFrame(
        [(1, "2024-01-02 00:00:00", "2024-01-01 00:00:00")], "id long, a string, b string"
    )
    r = df.select(
        parse_func("geodist(48.8566,2.3522,51.5074,-0.1278)").alias("paris_london"),
        parse_func("ms(a,b)").alias("diff"),
        parse_func("ms(a)").alias("ep"),
    ).collect()[0]
    assert abs(r["paris_london"] - 343.5) < 2.0  # km, haversine
    assert r["diff"] == 86400000
    assert r["ep"] == 1704153600000  # 2024-01-02 UTC


def test_func_index_context(spark, tmp_path):
    from solr_spark.index.builder import build_index

    docs = spark.createDataFrame(
        [(i, f"r{i}", f"p{i}", f"c{i}", ["alpha beta", "alpha", "gamma"][i % 3])
         for i in range(9)],
        "docid long, repo string, path string, commit string, content string",
    )
    idx = build_index(spark, docs, str(tmp_path / "ctx"), num_buckets=2,
                      build_blocks=False)
    one = spark.range(1)
    r = one.select(
        parse_func("docfreq(content,'alpha')", index=idx).alias("df"),
        parse_func("ttf(content,'alpha')", index=idx).alias("ttf"),
        parse_func("idf(content,'alpha')", index=idx).alias("idf"),
        parse_func("numdocs()", index=idx).alias("n"),
        parse_func("docfreq(content,'zzz')", index=idx).alias("missing"),
    ).collect()[0]
    assert r["df"] == 6.0 and r["ttf"] == 6.0 and r["n"] == 9.0
    import math as m

    assert abs(r["idf"] - m.log(1.0 + (9 - 6 + 0.5) / (6 + 0.5))) < 1e-9
    assert r["missing"] == 0.0
    with pytest.raises(FuncParseError):
        parse_func("docfreq(content,'alpha')")  # no index context
    with pytest.raises(FuncParseError):
        parse_func("docfreq(add(1,2),'alpha')", index=idx)  # non-literal arg


# ---- atomic array ops ----

def test_atomic_array_ops(spark):
    from solr_spark.operators.updateproc import (
        arr_add, arr_add_distinct, arr_remove, arr_remove_regex,
    )

    df = spark.createDataFrame(
        [(1, ["a", "b", "a"], "c", "a", "^b")],
        "id long, tags array<string>, add_v string, rem_v string, rex string",
    )
    r = df.select(
        arr_add(F.col("tags"), F.col("add_v")).alias("added"),
        arr_add(F.col("tags"), F.lit(None).cast("string")).alias("add_noop"),
        arr_add_distinct(F.col("tags"), F.lit("a")).alias("add_dist"),
        arr_remove(F.col("tags"), F.col("rem_v")).alias("removed"),
        arr_remove_regex(F.col("tags"), F.col("rex")).alias("rexed"),
    ).collect()[0]
    assert r["added"] == ["a", "b", "a", "c"]
    assert r["add_noop"] == ["a", "b", "a"]
    assert r["add_dist"] == ["a", "b"]       # array_union dedups
    assert r["removed"] == ["b"]             # ALL occurrences dropped
    assert r["rexed"] == ["a", "a"]


def test_atomic_add_creates_missing_field(spark):
    """Solr's atomic add on a doc MISSING the field creates it with the
    added value (round-2 ADVICE: F.concat propagated the null base)."""
    from solr_spark.operators.updateproc import arr_add, arr_add_distinct

    df = spark.createDataFrame(
        [(1, None, "x")], "id long, tags array<string>, v string"
    )
    r = df.select(
        arr_add(F.col("tags"), F.col("v")).alias("added"),
        arr_add_distinct(F.col("tags"), F.col("v")).alias("add_dist"),
        arr_add(F.col("tags"), F.lit(None).cast("string")).alias("noop"),
    ).collect()[0]
    assert r["added"] == ["x"]
    assert r["add_dist"] == ["x"]
    assert r["noop"] is None  # null update on a missing field stays a no-op


def test_ord_rord_null_rows_do_not_shift_ranks(spark):
    """Solr ord: missing docs read 0 and do NOT renumber the present
    value space (round-2 ADVICE: nulls sorted first and shifted every
    rank by one)."""
    from solr_spark.functions.valuesources import parse_func

    df = spark.createDataFrame(
        [(1, 10.0), (2, None), (3, 30.0), (4, 20.0)], "id long, x double"
    )
    rows = {
        r["id"]: (r["o"], r["ro"])
        for r in df.select(
            "id",
            parse_func("ord(x)", allow_rank=True).alias("o"),
            parse_func("rord(x)", allow_rank=True).alias("ro"),
        ).collect()
    }
    assert rows[2] == (0, 0)
    assert rows[1] == (1, 3)
    assert rows[4] == (2, 2)
    assert rows[3] == (3, 1)


def test_scale_folds_literals_no_single_partition_exchange(spark):
    """Round-2 VERDICT #5: scale() must not plan a single-partition
    window; the min/max fold in as literals, so the applied plan has NO
    exchange and no Window at all. ord/scale misuse raises."""
    import pytest

    from solr_spark.functions.valuesources import FuncParseError, parse_func

    df = spark.range(1000).select(F.col("id").cast("double").alias("x"))
    col = parse_func("scale(x,0,1)", df=df)
    plan = df.select(col.alias("s"))._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Window" not in plan, plan
    vals = [r["s"] for r in df.select(col.alias("s")).collect()]
    assert min(vals) == 0.0 and max(vals) == 1.0
    with pytest.raises(FuncParseError):
        parse_func("scale(x,0,1)")  # no df context
    with pytest.raises(FuncParseError):
        parse_func("ord(x)")  # rank without opt-in
    # constant column: every row maps to the midpoint
    cdf = spark.range(5).select(F.lit(7.0).alias("x"))
    mids = {r["m"] for r in cdf.select(
        parse_func("scale(x,0,10)", df=cdf).alias("m")).collect()}
    assert mids == {5.0}


# ---- embedding-cosine near-dups ----

def test_embedding_near_dups_planted(spark):
    import hashlib
    import struct

    from solr_spark.operators import dedup as D

    def vec(i, dim=8):
        out = []
        for d in range(dim):
            h = hashlib.md5(f"{i}:{d}".encode()).digest()
            (u,) = struct.unpack("<I", h[:4])
            out.append((u / 2**32) * 2.0 - 1.0)
        return out

    rows = [(i, vec(i)) for i in range(80)]
    # plant two near-dup pairs: tiny perturbations of vectors 3 and 11
    rows.append((100, [v + 0.01 for v in vec(3)]))
    rows.append((101, [v - 0.01 for v in vec(11)]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    ex = D.embedding_near_dups_exact(emb, 0.95)
    got = {(r["a"], r["b"]) for r in ex.collect()}
    assert (3, 100) in got and (11, 101) in got
    # LSH path finds high-sim planted pairs (they collide in nearly
    # every table) and never reports a pair below threshold
    lsh = D.embedding_near_dups_lsh(emb, 0.95, n_planes=4, n_tables=8)
    lg = {(r["a"], r["b"]) for r in lsh.collect()}
    assert (3, 100) in lg and (11, 101) in lg
    assert lg <= got  # exact-rescored: no false positives vs exact set
    assert all(r["sim"] >= 0.95 for r in lsh.collect())


def test_multifield_chunked_build(spark, tmp_path):
    from solr_spark.index.builder import build_index
    from solr_spark.query.edismax import edismax_indexed

    docs = spark.createDataFrame(
        [(i, f"r{i}", f"p{i}", f"c{i}",
          ["alpha beta", "beta gamma", "gamma alpha"][i % 3],
          ["en alpha", "ja beta"][i % 2])
         for i in range(40)],
        "docid long, repo string, path string, commit string, "
        "text string, head string",
    )
    single = build_index(spark, docs, str(tmp_path / "s"), num_buckets=4,
                         fields=["text", "head"])
    chunked = build_index(spark, docs, str(tmp_path / "c"), num_buckets=4,
                          fields=["text", "head"], num_chunks=3)
    assert chunked.meta["avgdl_by_field"] == single.meta["avgdl_by_field"]
    a = edismax_indexed(single, "alpha beta", {"text": 1.0, "head": 2.0},
                        tie=0.1, k=10).collect()
    b = edismax_indexed(chunked, "alpha beta", {"text": 1.0, "head": 2.0},
                        tie=0.1, k=10).collect()
    assert a == b


# ---- round-3 date math ----

def test_datemath_eval():
    from datetime import datetime, timezone

    from solr_spark.functions.datemath import DateMathError, datemath_naive
    import pytest

    now = datetime(2024, 1, 30, 12, 34, 56, 789000, tzinfo=timezone.utc)
    dm = lambda e: datemath_naive(e, now)
    assert dm("NOW/DAY") == datetime(2024, 1, 30)
    assert dm("NOW/DAY-7DAYS") == datetime(2024, 1, 23)
    assert dm("NOW/MONTH") == datetime(2024, 1, 1)
    assert dm("NOW/YEAR+1MONTH") == datetime(2024, 2, 1)
    assert dm("NOW-1HOUR/HOUR") == datetime(2024, 1, 30, 11)
    assert dm("NOW+2MINUTES/MINUTE") == datetime(2024, 1, 30, 12, 36)
    # calendar-aware month add with day clamping (Jan 31 + 1MONTH = Feb 29)
    assert datemath_naive("2024-01-31T10:00:00Z+1MONTH") == datetime(2024, 2, 29, 10)
    assert datemath_naive("2023-01-31T00:00:00Z+1MONTH") == datetime(2023, 2, 28)
    # literal instant with rounding
    assert datemath_naive("2024-06-15T13:45:00Z/DAY+12HOURS") == datetime(2024, 6, 15, 12)
    assert dm("NOW/SECOND") == datetime(2024, 1, 30, 12, 34, 56)
    assert dm("NOW/MILLI") == datetime(2024, 1, 30, 12, 34, 56, 789000)
    with pytest.raises(DateMathError):
        dm("NOW/5DAY")
    with pytest.raises(DateMathError):
        dm("NOW+1FORTNIGHT")
    with pytest.raises(DateMathError):
        dm("NOWsomething")


def test_date_range_facet_fixed_and_calendar(spark):
    from datetime import datetime, timezone

    from solr_spark.operators.facets import date_range_facet

    now = datetime(2024, 1, 30, 12, 0, 0, tzinfo=timezone.utc)
    rows = [(i, datetime(2024, 1, 1 + (i % 30), 6, 0, 0)) for i in range(60)]
    df = spark.createDataFrame(rows, "id long, ts timestamp")
    got = date_range_facet(df, "ts", "NOW/MONTH", "NOW/DAY+1DAY", "+7DAYS", now=now)
    out = [(str(r.bucket_start), r.cnt) for r in got.collect()]
    # 30 distinct days x2 docs each; weekly buckets: 14,14,14,14,4
    assert [c for _, c in out] == [14, 14, 14, 14, 4]
    assert out[0][0].startswith("2024-01-01")
    # calendar gap: 12 month buckets, Jan holds all 60, rest zero
    cal = date_range_facet(df, "ts", "NOW/YEAR", "NOW/YEAR+1YEAR", "+1MONTH", now=now)
    cnts = [r.cnt for r in cal.collect()]
    assert len(cnts) == 12 and cnts[0] == 60 and sum(cnts[1:]) == 0
    # the fixed-gap plan is pure arithmetic: no Window, no cascade join
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan


def test_parse_date_processor(spark):
    from solr_spark.operators.updateproc import apply_chain, parse_date

    df = spark.createDataFrame(
        [(1, "2024-03-05 10:20:30", "2024-03-05"), (2, "garbage", None)],
        "id long, a string, b string",
    )
    out = {r["id"]: r for r in apply_chain(df, [parse_date("a", "b")]).collect()}
    assert str(out[1]["a"]) == "2024-03-05 10:20:30"
    assert str(out[1]["b"]) == "2024-03-05 00:00:00"
    assert out[2]["a"] is None and out[2]["b"] is None


# ---- round-3 per-doc value sources ----

def test_perdoc_value_sources(spark, tmp_path):
    from solr_spark.functions.valuesources import (
        FuncParseError, parse_func, parse_func_df,
    )
    from solr_spark.index.builder import build_index
    from solr_spark.query.engine import bm25_scores
    from solr_spark.sources.corpus import synthesize_corpus

    corpus = synthesize_corpus(spark, 200, seed=11, partitions=2)
    idx = build_index(spark, corpus, str(tmp_path / "vs"), num_buckets=4,
                      build_blocks=False)
    docs = idx.docs().select("docid")
    # query(): joined score equals the engine's score frame; default for misses
    df2, col = parse_func_df("query('jsonParser bufferSize',-1)", docs, index=idx)
    got = {r["docid"]: r["v"] for r in df2.select("docid", col.alias("v")).collect()}
    exp = {r["docid"]: round(r["score"], 9)
           for r in bm25_scores(idx, "jsonParser bufferSize").collect()}
    for d, v in got.items():
        assert v == exp.get(d, -1.0), d
    assert exp  # the subquery matched something
    # a matching-nothing subquery: every doc reads the default
    df2b, colb = parse_func_df("query('zzzqqqnope',-1)", docs, index=idx)
    vals = {r["v"] for r in df2b.select(colb.alias("v")).collect()}
    assert vals == {-1.0}
    # tf(): equals the postings tf, 0 where absent; absent term -> constant 0
    df3, tcol = parse_func_df("tf('content','return')", docs, index=idx)
    tgot = {r["docid"]: r["t"] for r in df3.select("docid", tcol.alias("t")).collect()}
    tex = {r["docid"]: float(r["tf"])
           for r in idx.postings().where(
               F.col("tid") == idx.term_stats_for(["return"])["return"]["tid"]
           ).collect()}
    for d, v in tgot.items():
        assert v == tex.get(d, 0.0), d
    _, zcol = parse_func_df("tf('content','zzzqqqnope')", docs, index=idx)
    assert docs.select(zcol.alias("z")).distinct().collect()[0]["z"] == 0.0
    # norm(): the quantized doc length the scorer uses
    df4, ncol = parse_func_df("norm('content')", docs, index=idx)
    ngot = {r["docid"]: r["n"] for r in df4.select("docid", ncol.alias("n")).collect()}
    ndl = {r["docid"]: float(r["dl_q"])
           for r in idx.docs().select("docid", "dl_q").collect()}
    assert ngot == ndl
    # misuse of the Column-only API raises with guidance
    with pytest.raises(FuncParseError):
        parse_func("query('x')", index=idx)


# ---- round-3 spell collation ----

def test_spell_collate(spark, tmp_path):
    """SpellCheckCollator semantics: absent terms take dictionary
    corrections, collations hit-verify with AND re-query counts; fully
    spelled queries produce no collations; uncorrectable terms none."""
    from solr_spark.index.builder import build_index
    from solr_spark.operators.relevance import spell_collate

    docs = [
        ("r", f"p{i}", "c", " ".join(
            (["spark", "table"] if i < 6 else ["spade", "table"])
            + ["filler", f"pad{i}"]))
        for i in range(10)
    ]
    corpus = spark.createDataFrame(
        docs, "repo string, path string, commit string, content string"
    )
    idx = build_index(spark, corpus, str(tmp_path / "sc"), num_buckets=4,
                      build_blocks=False)
    got = [(r["collation"], r["hits"])
           for r in spell_collate(idx, "sparc table").collect()]
    # 'sparc' -> spark (df 6, dist 1) and spade (df 4, dist 2); both
    # collations verify against docs containing BOTH terms
    assert ("spark table", 6) in got and ("spade table", 4) in got
    assert got[0] == ("spark table", 6)  # ordered by hits desc
    # correctly-spelled query: nothing to collate
    assert spell_collate(idx, "spark table").count() == 0
    # hopeless term: no collation
    assert spell_collate(idx, "qqqqqqzz table").count() == 0


# ---- round-3 update-processor breadth ----

def test_version_constrained_merge(spark):
    from solr_spark.operators.updateproc import version_constrained_merge

    cur = spark.createDataFrame(
        [(1, 5, "v5"), (2, 3, "v3")], "id long, _version_ long, body string"
    )
    upd = spark.createDataFrame(
        [(1, 6, "v6"), (2, 3, "stale-equal"), (2, 2, "stale-lower"),
         (3, 1, "new-doc")],
        "id long, _version_ long, body string",
    )
    rows = {r["id"]: r for r in version_constrained_merge(cur, upd).collect()}
    assert rows[1]["body"] == "v6" and rows[1]["_version_"] == 6
    assert rows[2]["body"] == "v3"  # equal version: stored doc wins
    assert rows[3]["body"] == "new-doc"


def test_infer_schema_fields(spark):
    from solr_spark.operators.updateproc import infer_schema_fields

    df = spark.createDataFrame(
        [("1", "1.5", "2024-01-02", "true", "hello", None),
         ("2", "7", "2024-02-03 04:05:06", "false", "3", "x")],
        "a string, b string, c string, d string, e string, f string",
    )
    typed, chosen = infer_schema_fields(df)
    assert chosen == {"a": "long", "b": "double", "c": "date",
                      "d": "boolean", "e": "string", "f": "string"}
    # 'e' stays text: 'hello' parses as nothing; 'f' all-null stays text
    s = dict(typed.dtypes)
    assert s["a"] == "bigint" and s["b"] == "double"
    assert s["c"] == "timestamp" and s["d"] == "boolean" and s["e"] == "string"
    r = typed.where(F.col("a") == 1).collect()[0]
    assert r["b"] == 1.5 and str(r["c"]).startswith("2024-01-02")


def test_func_dist_family(spark):
    df = spark.createDataFrame([(1, 3.0, 4.0)], "id long, x double, y double")
    r = df.select(
        parse_func("dist(2,x,y,0,0)").alias("euc"),
        parse_func("dist(1,x,y,0,0)").alias("man"),
        parse_func("sqedist(x,y,0,0)").alias("sq"),
        parse_func("deg(pi())").alias("dg"),
        parse_func("rad(180)").alias("rd"),
    ).collect()[0]
    assert abs(r["euc"] - 5.0) < 1e-12
    assert abs(r["man"] - 7.0) < 1e-12
    assert abs(r["sq"] - 25.0) < 1e-12
    assert abs(r["dg"] - 180.0) < 1e-12
    assert abs(r["rd"] - math.pi) < 1e-12
    with pytest.raises(FuncParseError):
        parse_func("dist(2,x,y,0)")  # odd point vector


def test_ctx_maxdoc_sttf_termfreq(spark, tmp_path):
    from solr_spark.functions.valuesources import parse_func, parse_func_df
    from solr_spark.index.builder import build_index
    from solr_spark.sources.corpus import synthesize_corpus

    corpus = synthesize_corpus(spark, 150, seed=9, partitions=2)
    idx = build_index(spark, corpus, str(tmp_path / "cx"), num_buckets=4,
                      build_blocks=False)
    one = spark.range(1)
    r = one.select(
        parse_func("maxdoc()", index=idx).alias("md"),
        parse_func("sumtotaltermfreq('content')", index=idx).alias("st"),
    ).collect()[0]
    assert r["md"] == 150.0
    total_tokens = idx.docs().agg(F.sum("doclen")).collect()[0][0]
    assert r["st"] == float(total_tokens)
    # termfreq == tf (both raw per-doc term frequency)
    docs = idx.docs().select("docid")
    d1, c1 = parse_func_df("termfreq('content','return')", docs, index=idx)
    d2, c2 = parse_func_df("tf('content','return')", docs, index=idx)
    a = sorted((r["docid"], r["v"]) for r in d1.select("docid", c1.alias("v")).collect())
    b = sorted((r["docid"], r["v"]) for r in d2.select("docid", c2.alias("v")).collect())
    assert a == b


def test_dynamic_field_types(spark):
    from solr_spark.operators.updateproc import dynamic_field_types

    df = spark.createDataFrame(
        [("7", "1.5", "true", "2024-01-02 03:04:05", "x", "free")],
        "count_i string, score_d string, ok_b string, seen_dt string, "
        "name_s string, other string",
    )
    typed, chosen = dynamic_field_types(df)
    assert chosen == {"count_i": "int", "score_d": "double",
                      "ok_b": "boolean", "seen_dt": "timestamp",
                      "name_s": "string"}
    s = dict(typed.dtypes)
    assert s["count_i"] == "int" and s["score_d"] == "double"
    assert s["ok_b"] == "boolean" and s["seen_dt"] == "timestamp"
    assert s["other"] == "string"  # no rule matched: untouched
    r = typed.collect()[0]
    assert r["count_i"] == 7 and r["ok_b"] is True


def test_ivf_build_search_persisted(spark, tmp_path):
    """IVF index persistence: build once (partitioned by cell), search
    in a fresh session state from the parquet alone; probing all cells
    must equal exact brute force, and the probed scan must prune cell
    partitions in the plan."""
    import hashlib
    import struct

    from solr_spark.operators.similarity import cosine_topk, ivf_build, ivf_search

    def vec(i, dim=8):
        out = []
        for d in range(dim):
            h = hashlib.md5(f"{i}:{d}".encode()).digest()
            out.append(struct.unpack("<i", h[:4])[0] / 2**31)
        return out

    emb = spark.createDataFrame(
        [(i, vec(i)) for i in range(400)], "vec_id long, embedding array<double>"
    )
    path = str(tmp_path / "ivf")
    ivf_build(emb, path, n_cells=8)
    q = vec(123)
    s2 = spark.newSession()
    # all cells probed == exact
    full = [r["vec_id"] for r in ivf_search(s2, path, q, k=5, n_probe=8).collect()]
    exact = [r["vec_id"] for r in cosine_topk(emb, q, k=5).collect()]
    assert full == exact and exact[0] == 123
    # few probes: the true hit's own cell is always probed first
    few = [r["vec_id"] for r in ivf_search(s2, path, q, k=5, n_probe=1).collect()]
    assert few[0] == 123
    # partition pruning: the scan plan carries the cell IN filter
    plan = (
        ivf_search(s2, path, q, k=5, n_probe=2)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "cell" in plan
