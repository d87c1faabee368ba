"""Round-5 regression tests: the round-4 verdict/advice findings.

- merge/upsert docid collision after an expunged input (advice: high)
- deletes-sidecar broadcast cap degrades to a shuffle anti-join
- bm25_explain agrees with search while deletes pend (low)
- complex-phrase unordered path uses the Lucene-exact sloppy matcher
"""

from pyspark.sql import functions as F

from solr_spark.index.builder import build_index
from solr_spark.sources.corpus import synthesize_corpus


def _payload_results(idx, q, k=15):
    from solr_spark.query.engine import bm25_topk

    return sorted(
        (r["repo"], r["path"], round(r["score"], 6))
        for r in bm25_topk(idx, q, k=k, with_payload=True).collect()
    )


def test_consecutive_upserts_no_docid_collision(spark, tmp_path):
    """The round-4 high-severity repro: two consecutive upserts with
    key collisions. The first upsert leaves an expunged (sparse-docid)
    index; the second merge must base its shift on the real docid space
    or two distinct documents share a docid."""
    from solr_spark.index.maintenance import upsert_documents

    base_c = synthesize_corpus(spark, 120, seed=9, partitions=4).persist()
    rows = base_c.orderBy("repo", "path", "commit").collect()
    kw = dict(num_buckets=4, salt_threshold=80, num_salts=4)
    base = build_index(spark, base_c, str(tmp_path / "b"), **kw)

    def reworded(n, tag, extra_seed):
        changed = spark.createDataFrame(rows[:n], base_c.schema).withColumn(
            "content", F.concat(F.lit(tag + " "), F.col("content"))
        )
        new = synthesize_corpus(spark, 5, seed=extra_seed, partitions=2).withColumn(
            "repo", F.concat(F.lit(f"r{extra_seed}-"), F.col("repo"))
        )
        return changed.unionByName(new)

    d1 = reworded(8, "zzfirstpass", 101)
    up1 = upsert_documents(base, d1, str(tmp_path / "u1"))
    d2 = reworded(8, "zzsecondpass", 202)
    up2 = upsert_documents(up1, d2, str(tmp_path / "u2"))

    # every docid maps to exactly one document
    docs = up2.docs()
    assert docs.count() == docs.select("docid").distinct().count()
    assert up2.meta["n_docs"] == 130  # 120 + 5 + 5

    # and the index equals a fresh build over the logical corpus
    keys1 = {(r["repo"], r["path"], r["commit"]) for r in d1.collect()}
    keys2 = {(r["repo"], r["path"], r["commit"]) for r in d2.collect()}
    remain = [
        r for r in rows if (r["repo"], r["path"], r["commit"]) not in keys1 | keys2
    ]
    d1_live = [
        r for r in d1.collect()
        if (r["repo"], r["path"], r["commit"]) not in keys2
    ]
    logical = (
        spark.createDataFrame(remain + d1_live, base_c.schema).unionByName(d2)
    )
    fresh = build_index(spark, logical, str(tmp_path / "fresh"), **kw)
    for q in ("zzsecondpass", "zzfirstpass", "return import"):
        assert _payload_results(up2, q) == _payload_results(fresh, q), q


def test_deletes_broadcast_guard(spark, tmp_path, monkeypatch):
    """Above DELETES_BROADCAST_CAP the liveDocs anti-join must not
    force a broadcast; results stay identical either way and the
    manifest row counts expose the sidecar size without a Spark job."""
    import solr_spark.index.builder as B
    from solr_spark.query.engine import bm25_topk

    corpus = synthesize_corpus(spark, 200, seed=7, partitions=4)
    idx = build_index(
        spark, corpus, str(tmp_path / "gidx"), num_buckets=4,
        salt_threshold=100,
    )
    all_ids = [r["docid"] for r in idx.docs().select("docid").limit(40).collect()]
    from solr_spark.index.maintenance import delete_by_ids

    assert delete_by_ids(idx, all_ids) == 40
    assert idx.deleted_rows_estimate() == 40

    small_cap = [
        (r["docid"], round(r["score"], 9))
        for r in bm25_topk(idx, "return import", k=10).collect()
    ]
    # now force the shuffle anti-join path and compare
    monkeypatch.setattr(B, "DELETES_BROADCAST_CAP", 5)
    plan = idx.postings()._jdf.queryExecution().optimizedPlan().toString()
    assert "broadcast" not in plan.lower()
    big_cap = [
        (r["docid"], round(r["score"], 9))
        for r in bm25_topk(idx, "return import", k=10).collect()
    ]
    assert small_cap == big_cap and big_cap
    assert not {d for d, _ in big_cap} & set(all_ids)


def test_bm25_explain_respects_deletes(spark, tmp_path):
    """explain must agree with search while deletes pend: a deleted doc
    scores nowhere, so it has no breakdown either (round-4 low)."""
    from solr_spark.index.maintenance import delete_by_ids
    from solr_spark.query.engine import bm25_explain, bm25_topk

    corpus = synthesize_corpus(spark, 150, seed=3, partitions=4)
    idx = build_index(
        spark, corpus, str(tmp_path / "exidx"), num_buckets=4,
        salt_threshold=100,
    )
    top = [r["docid"] for r in bm25_topk(idx, "return import", k=3).collect()]
    assert bm25_explain(idx, "return import", top).select("docid").distinct().count() == len(top)
    delete_by_ids(idx, [top[0]])
    left = {
        r["docid"]
        for r in bm25_explain(idx, "return import", top).collect()
    }
    assert top[0] not in left and set(top[1:]) <= left


def test_complex_phrase_unordered_is_sloppy_exact(spark, tmp_path):
    """With plain single-term slots, complex_phrase_docids(ordered=False)
    must equal phrase_docids(ordered=False) — both now run the
    Lucene-exact sloppy matcher, not the window approximation."""
    from solr_spark.query.positions import complex_phrase_docids, phrase_docids

    corpus = synthesize_corpus(spark, 300, seed=11, partitions=4)
    idx = build_index(
        spark, corpus, str(tmp_path / "cpidx"), num_buckets=4,
        salt_threshold=100, build_positions=True,
    )
    for slop in (1, 2):
        want = {
            (r["docid"], r["phrase_freq"])
            for r in phrase_docids(
                idx, ["import", "return"], slop=slop, ordered=False
            ).collect()
        }
        got = {
            (r["docid"], r["phrase_freq"])
            for r in complex_phrase_docids(
                idx, ["import", "return"], slop=slop, ordered=False
            ).collect()
        }
        assert got == want and want, slop


def test_score_join_modes(spark):
    """{!join score=...}: every ScoreMode against a hand-computed
    fixture (ScoreJoinQParserPlugin.java:73 semantics)."""
    from solr_spark.operators.streams import score_join

    frm = spark.createDataFrame(
        [("k1", 2.0), ("k1", 4.0), ("k2", 10.0), ("kx", 1.0)],
        "fk string, score double",
    )
    to = spark.createDataFrame(
        [("k1", "a"), ("k2", "b"), ("k3", "c")], "tk string, name string"
    )

    def got(mode):
        return {
            (r["tk"], r["score"])
            for r in score_join(frm, to, "fk", "tk", mode=mode).collect()
        }

    assert got("max") == {("k1", 4.0), ("k2", 10.0)}
    assert got("min") == {("k1", 2.0), ("k2", 10.0)}
    assert got("avg") == {("k1", 3.0), ("k2", 10.0)}
    assert got("total") == {("k1", 6.0), ("k2", 10.0)}
    assert got("none") == {("k1", 1.0), ("k2", 1.0)}

    import pytest as _pt

    with _pt.raises(ValueError):
        score_join(frm, to, "fk", "tk", mode="sum")


def test_stream_evaluators_tranche4(spark):
    """String + temporal evaluators inside compiled select()/having()
    (Lang.java registry tranche 4)."""
    from solr_spark.plans.streamexpr import eval_expr

    df = spark.createDataFrame(
        [(1, " Ab-Cd ", "2024-03-15 10:20:30.500"),
         (2, "xy-z", "2023-12-31 23:59:59.000")],
        "id long, name string, ts string",
    )
    out = eval_expr(
        "select(t, id, upper(name) as u, lower(name) as l, "
        "trim(name) as tr, "
        'concat(name, name, delim="+") as c2, '
        'replace(name, "-", "_") as rep, '
        'valueAt(split(name, "-"), 0) as first_part, '
        "year(ts) as y, month(ts) as m, day(ts) as dom, "
        "dayOfYear(ts) as doy, hour(ts) as hh, minute(ts) as mi, "
        "second(ts) as sec, week(ts) as wk, quarter(ts) as qtr, "
        "epoch(ts) as ep)",
        {"t": df},
    )
    r = {row["id"]: row for row in out.collect()}
    assert r[1]["u"] == " AB-CD " and r[1]["l"] == " ab-cd "
    assert r[1]["tr"] == "Ab-Cd"
    assert r[1]["c2"] == " Ab-Cd + Ab-Cd "
    assert r[1]["rep"] == " Ab_Cd " and r[2]["rep"] == "xy_z"
    assert r[1]["first_part"] == " Ab" and r[2]["first_part"] == "xy"
    assert (r[1]["y"], r[1]["m"], r[1]["dom"]) == (2024, 3, 15)
    assert r[1]["doy"] == 75 and r[1]["qtr"] == 1
    assert (r[1]["hh"], r[1]["mi"], r[1]["sec"]) == (10, 20, 30)
    assert r[2]["wk"] == 52 and r[2]["qtr"] == 4
    assert r[1]["ep"] % 1000 == 500  # true milliseconds, not sec*1000

    # having() over an evaluator-computed field
    kept = eval_expr(
        "having(select(t, id, quarter(ts) as qtr), eq(qtr, 4))", {"t": df}
    ).collect()
    assert [row["id"] for row in kept] == [2]


def test_stream_evaluators_tranche5_math(spark):
    """Array/statistical evaluators (Lang.java math registry tranche 5):
    every op checked against a hand-computed value; all compile to
    higher-order-function Columns (no Python in the data path)."""
    import math

    from solr_spark.plans.streamexpr import eval_expr

    df = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0, 4.0], [2.0, 2.0, 2.0, 2.0]),
         (2, [5.0, 1.0, 1.0, 9.0], [1.0, 0.0, 1.0, 0.0])],
        "id long, xs array<double>, ys array<double>",
    )
    out = eval_expr(
        "select(t, id, mean(xs) as m, var(xs) as v, stddev(xs) as sd, "
        "percentile(xs, 50) as med, median(xs) as med2, "
        "dotProduct(xs, ys) as dp, cosineSimilarity(xs, ys) as cs, "
        "euclideanDistance(xs, ys) as ed, manhattanDistance(xs, ys) as md, "
        "l1norm(xs) as l1, norm(xs) as l2, corr(xs, ys) as r, "
        "cov(xs, ys) as cv, rank(xs) as rk, movingAvg(xs, 2) as ma, "
        "diff(xs) as dif, zscores(xs) as zs, scalarAdd(10, xs) as sa, "
        "scalarMultiply(2, xs) as sm, ebeAdd(xs, ys) as ea, "
        "ebeMultiply(xs, ys) as em, ebeDivide(xs, ys) as edv, "
        "unitize(ys) as un, copyOfRange(xs, 1, 3) as cr, rev(xs) as rv, "
        "asc(xs) as srt, desc(xs) as dsrt, length(xs) as n, "
        "addAll(xs, ys) as cat, sequence(4, 2, 3) as sq, zeros(3) as z3, "
        "ones(2) as o2, natural(3) as nat, geometricMean(xs) as gm, "
        "harmonicMean(xs) as hm, if(gt(id, 1), 100, 200) as iff, "
        "eor(gt(id, 1), lt(id, 10)) as xr, notNull(id) as nn, "
        "precision(div(mean(xs), 3.0), 3) as pr)",
        {"t": df},
    )
    r = {row["id"]: row for row in out.collect()}
    a = r[1]
    assert a["m"] == 2.5 and a["med"] == 2.5 == a["med2"]
    assert abs(a["v"] - 5.0 / 3.0) < 1e-12
    assert abs(a["sd"] - math.sqrt(5.0 / 3.0)) < 1e-12
    assert a["dp"] == 20.0 and a["md"] == 4.0 and a["l1"] == 10.0
    assert abs(a["l2"] - math.sqrt(30.0)) < 1e-12
    assert abs(a["ed"] - math.sqrt(6.0)) < 1e-12
    assert math.isnan(a["r"])  # constant ys: commons-math NaN, not abort
    assert a["cv"] == 0.0
    assert a["rk"] == [1.0, 2.0, 3.0, 4.0]
    assert a["ma"] == [1.5, 2.5, 3.5] and a["dif"] == [1.0, 1.0, 1.0]
    assert a["sa"] == [11.0, 12.0, 13.0, 14.0]
    assert a["sm"] == [2.0, 4.0, 6.0, 8.0]
    assert a["ea"] == [3.0, 4.0, 5.0, 6.0]
    assert a["cr"] == [2.0, 3.0] and a["rv"] == [4.0, 3.0, 2.0, 1.0]
    assert a["n"] == 4 and a["sq"] == [2, 5, 8, 11]
    assert a["z3"] == [0.0, 0.0, 0.0] and a["o2"] == [1.0, 1.0]
    assert a["nat"] == [0.0, 1.0, 2.0]
    assert abs(a["gm"] - (24.0 ** 0.25)) < 1e-12
    assert abs(a["hm"] - 4.0 / (1 + 0.5 + 1 / 3 + 0.25)) < 1e-12
    assert a["iff"] == 200 and a["xr"] is True and a["nn"] is True
    assert a["pr"] == 0.833
    b = r[2]
    assert b["rk"] == [3.0, 1.5, 1.5, 4.0]  # ties averaged
    assert b["med"] == 3.0  # legacy pos=2.5 -> 1 + .5*(5-1)... sorted [1,1,5,9]
    assert abs(b["r"] - (-0.30151134457776363)) < 1e-12
    # ebeDivide hits y=0: Java double semantics (Infinity), no ANSI abort
    assert b["edv"][1] == math.inf
    # unitize of a zero-free norm
    nrm = math.sqrt(2.0)
    assert all(abs(u - y / nrm) < 1e-12 for u, y in zip(b["un"], [1, 0, 1, 0]))


def test_stream_functions_tranche4(spark):
    """Compiled reduce/parallel/null/commit/delete/topic — each against
    the reference stream's documented semantics."""
    from pyspark.sql import functions as F

    from solr_spark.plans.streamexpr import eval_expr

    df = spark.createDataFrame(
        [(i, "g%d" % (i % 3), float(i * 7 % 11)) for i in range(1, 31)],
        "docid long, k string, v double",
    )
    t = {"tbl": df}

    # reduce(): top-2 per key under v desc, = window row_number
    red = eval_expr(
        'reduce(search(tbl), by="k", group(sort="v desc, docid asc", n=2))', t
    ).collect()
    assert len(red) == 6
    by_k = {}
    for row in red:
        by_k.setdefault(row["k"], []).append(row["v"])
    import pandas as pd

    pdf = df.toPandas()
    for k, vs in by_k.items():
        expect = sorted(pdf[pdf.k == k].v, reverse=True)[:2]
        assert vs == expect

    # parallel() wraps a stream; sort applies
    par = eval_expr(
        'parallel(tbl, search(tbl, q="k:g0"), workers=4, sort="docid asc")', t
    )
    ids = [r["docid"] for r in par.collect()]
    assert ids == sorted(ids) and all(i % 3 == 0 for i in ids)

    # null() drains and reports the count
    assert eval_expr("null(search(tbl))", t).collect()[0]["nullCount"] == 30

    # commit(update(...)) passes the update summary through
    t2 = {"tbl": df}
    summary = eval_expr(
        'commit(dest, update(dest, search(tbl, q="k:g1")))', t2
    ).collect()
    assert summary[0]["batchIndexed"] == 10 and "dest" in t2

    # delete() anti-joins the id set out of the registered collection
    deleted = eval_expr(
        'delete(tbl, search(tbl, q="k:g2"), id="docid")', t2
    ).collect()
    assert deleted[0]["totalDeleted"] == 10
    assert t2["tbl"].count() == 20
    assert t2["tbl"].where(F.col("k") == "g2").count() == 0

    # topic(): delivers only unseen rows, checkpoint advances
    t3 = {"tbl": df}
    first = eval_expr('topic(ck, tbl, q="k:g0", id="docid")', t3)
    assert first.count() == 10
    again = eval_expr('topic(ck, tbl, q="k:g0", id="docid")', t3)
    assert again.count() == 0
    # new q widens the topic: only the NEW matches deliver
    wider = eval_expr('topic(ck, tbl, q="*:*", id="docid")', t3)
    assert wider.count() == 20


def test_stream_train_model_classify(spark):
    """features() -> train() -> model()/classify() compiled pipeline
    (FeaturesSelectionStream/TextLogitStream/ModelStream/ClassifyStream):
    a linearly separable corpus classifies perfectly end-to-end."""
    from pyspark.sql import functions as F

    from solr_spark.plans.streamexpr import eval_expr

    docs = spark.createDataFrame(
        [(i,
          (["spark", "fast"] if i % 2 == 0 else ["slow", "turtle"])
          + ["common"],
          1 - (i % 2))
         for i in range(1, 41)],
        "docid long, toks array<string>, label int",
    )
    t = {"docs": docs}
    feats = eval_expr(
        'features(docs, field="toks", outcome="label", numTerms=4, '
        "minDocFreq=2)", t
    ).collect()
    assert {r["term"] for r in feats} == {"spark", "fast", "slow", "turtle"}
    # 'common' (in every doc) carries zero gain and is excluded

    model = eval_expr(
        "train(docs, features(docs, field=\"toks\", outcome=\"label\", "
        'numTerms=4, minDocFreq=2), field="toks", outcome="label", '
        "maxIterations=20)", t
    )
    rows = {r["term_s"]: r["weight_d"] for r in model.collect()}
    assert rows["spark"] > 0 and rows["slow"] < 0  # signed the right way
    t["m"] = model

    scored = eval_expr('classify(model(m), search(docs), field="toks")', t)
    ok = scored.where(F.col("prediction_i") == F.col("label")).count()
    assert ok == 40
    probs = scored.select("probability_d").collect()
    assert all(0.0 <= r[0] <= 1.0 for r in probs)


# --- group.func / group.query ---------------------------------------------


def test_grouping_by_func_buckets(spark):
    from pyspark.sql import functions as F

    from solr_spark.operators.collapse import grouping_by_func

    df = spark.range(100).select(
        F.col("id"), (F.col("id") * 7 % 13).alias("score")
    )
    out = grouping_by_func(
        df, "mod(id,4)", [F.desc("score"), F.asc("id")], group_limit=3
    ).collect()
    by_grp = {}
    for r in out:
        by_grp.setdefault(r["group_value"], []).append(r)
    assert set(by_grp) == {0, 1, 2, 3}
    for g, rows in by_grp.items():
        assert len(rows) == 3
        assert all(r["id"] % 4 == g for r in rows)
        scores = [r["score"] for r in rows]
        assert scores == sorted(scores, reverse=True)


def test_grouping_by_queries_overlap(spark):
    from pyspark.sql import functions as F

    from solr_spark.operators.collapse import grouping_by_queries

    df = spark.range(50).select(
        F.col("id"), (F.col("id") % 10).alias("score")
    )
    out = grouping_by_queries(
        df,
        {"even": F.col("id") % 2 == 0, "small": F.col("id") < 10},
        [F.desc("score"), F.asc("id")],
        group_limit=2,
    ).collect()
    grp = {}
    for r in out:
        grp.setdefault(r["group_value"], set()).add(r["id"])
    # id=8 is even AND small AND top-scoring in both -> appears twice
    assert 8 in grp["even"] and 8 in grp["small"]
    assert len(grp["even"]) == 2 and len(grp["small"]) == 2
