"""Extended DisMax (edismax): per-term max-over-fields scoring with a
tiebreaker, minimum-should-match, and additive boost functions.

Role of the reference's default real-world query parser
(solr/core/src/java/org/apache/solr/search/ExtendedDismaxQParser.java:125-329:
per-field DisjunctionMaxQuery per user term over the qf field/boost map,
`tie` controls how much the non-max fields contribute, `mm` drops docs
matching too few terms, `bf` adds function-query boosts). Scoring per
Lucene's DisjunctionMaxQuery semantics:

    score(doc) = sum over matched terms t of
                   [ max_f c_f(t, doc) + tie * (sum_f c_f(t, doc) - max_f) ]
                 (+ each bf function value)
    where c_f(t, doc) = boost_f * BM25_f(t, doc) with PER-FIELD stats
    (df, avgdl, doc length all computed within field f).

Spark shape: one plan — per-field token relations union with a field
tag, one (docid, term) aggregation applies max/sum/tie, one (docid)
aggregation applies the sum + mm filter. Stats subplans are broadcast
joins; no driver loop over fields' data.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from solr_spark.analysis.analyzer import tokens_col, tokens_sql
from solr_spark.functions.bm25 import idf_col, idf_py, idf_sql, tf_part_col, tf_part_sql
from solr_spark.functions.smallfloat import quantize_col, quantize_sql
from solr_spark.query.engine import analyze_query


def edismax_indexed(
    index,
    qtext: str,
    fields: dict[str, float],
    *,
    tie: float = 0.0,
    mm: int = 1,
    bf: Column | None = None,
    pf: dict[str, float] | None = None,
    pf2: dict[str, float] | None = None,
    pf3: dict[str, float] | None = None,
    ps: int = 0,
    k: int = 10,
) -> DataFrame:
    """edismax against a multi-field REAL index (build_index(fields=...)).

    ONE bucket-pruned postings scan covers every (qf field, query term)
    pair — the field lives inside the tid, so no per-field subplan or
    extra scan exists; the broadcast query relation carries each pair's
    boost, idf (per-field df), and per-field avgdl, and the per-(doc,
    term) max-over-fields fold applies the DisjunctionMaxQuery tie
    semantics exactly as edismax_inline. Same dictionary seek cost as a
    single-field query times the number of distinct terms."""
    spark = index.spark
    qterms = analyze_query(qtext, index)
    if not qterms:
        return spark.createDataFrame([], "docid long, score double")
    stats = index.term_stats_fielded(
        [(f, t) for f in fields for t in qterms]
    )
    if not stats:
        return spark.createDataFrame([], "docid long, score double")
    n_docs = index.meta["n_docs"]
    avg = index.meta["avgdl_by_field"]
    rows = [
        (
            s["tid"],
            float(fields[f]) * float(qterms[t]),
            idf_py(int(s["df"]), n_docs),
            t,
            float(avg[f]),
        )
        for (f, t), s in stats.items()
    ]
    qrel = spark.createDataFrame(
        rows, "tid long, w double, idf double, term string, avgdl double"
    )
    postings = index.postings([r[0] for r in rows])
    contrib = postings.join(F.broadcast(qrel), "tid").select(
        "docid",
        "term",
        (
            F.col("w")
            * F.col("idf")
            * tf_part_col(F.col("tf"), F.col("dl_q"), F.col("avgdl"))
        ).alias("c"),
    )
    per_term = contrib.groupBy("docid", "term").agg(
        (
            F.max("c") + F.lit(float(tie)) * (F.sum("c") - F.max("c"))
        ).alias("tscore")
    )
    agg = per_term.groupBy("docid").agg(
        F.sum("tscore").alias("score"), F.count(F.lit(1)).alias("_nm")
    )
    if mm > 1:
        agg = agg.where(F.col("_nm") >= mm)
    out = agg.select("docid", "score")
    pf_specs = _pf_specs(pf, pf2, pf3)
    if pf_specs:
        if not index.meta.get("has_positions"):
            raise ValueError("pf boosts need build_positions=True")
        from solr_spark.analysis.analyzer import tokenize_py
        from solr_spark.query.positions import phrase_docids

        seq = tokenize_py(qtext)
        for fld, boost, ng in pf_specs:
            subs = _shingles(seq, ng)
            if not subs:
                continue
            fst = index.term_stats_fielded(
                [(fld, t) for t in {t for sub in subs for t in sub}]
            )
            avgdl_f = float(avg[fld])
            # per-sub phrase freqs from the positions table, outer-merged
            # per docid (a doc may match only some shingles, as inline)
            hits = None
            idf_of = []
            for i, sub in enumerate(subs):
                idf_of.append(
                    sum(
                        idf_py(int(fst[(fld, t)]["df"]), n_docs)
                        for t in set(sub)
                        if (fld, t) in fst
                    )
                )
                fdf = phrase_docids(index, list(sub), slop=ps, field=fld).select(
                    "docid", F.col("phrase_freq").alias(f"_f{i}")
                )
                hits = fdf if hits is None else hits.join(fdf, "docid", "full")
            # dl_q of each hit doc IN this field (any posting row of the
            # field's phrase terms carries it; phrase hits guarantee one)
            dlq = (
                index.postings([s["tid"] for s in fst.values()])
                .groupBy("docid")
                .agg(F.max("dl_q").alias("dl_q"))
            )
            contrib = F.lit(0.0)
            for i in range(len(subs)):
                contrib = contrib + F.lit(idf_of[i]) * tf_part_col(
                    F.coalesce(F.col(f"_f{i}"), F.lit(0)).cast("double"),
                    F.col("dl_q"),
                    F.lit(avgdl_f),
                )
            pc = hits.join(dlq, "docid").select(
                "docid", (F.lit(float(boost)) * contrib).alias("_pc")
            )
            out = out.join(pc, "docid", "left").select(
                "docid",
                (F.col("score") + F.coalesce(F.col("_pc"), F.lit(0.0))).alias(
                    "score"
                ),
            )
    if bf is not None:
        # additive function boost over stored fields — k-winner-sized
        # lookup against the docs table, same shape as edismax_inline
        bfd = index.docs().select("docid", bf.cast("double").alias("_bf"))
        out = out.join(bfd, "docid").select(
            "docid", (F.col("score") + F.col("_bf")).alias("score")
        )
    return (
        out.orderBy(F.desc(F.round("score", 4)), F.asc("docid"))
        .limit(k)
        .select("docid", F.round("score", 4).alias("score"))
    )


def _shingles(seq: list[str], ng: int | None) -> list[list[str]]:
    """Subphrases for a pf tier: the whole query (pf), or consecutive
    pairs/triples (pf2/pf3, ExtendedDismaxQParser.java addShingledPhraseQueries).
    Phrases need >= 2 terms."""
    if len(seq) < 2:
        return []
    if ng is None or ng >= len(seq):
        return [list(seq)]
    return [list(seq[i : i + ng]) for i in range(len(seq) - ng + 1)]


def _pf_specs(
    pf: dict[str, float] | None,
    pf2: dict[str, float] | None,
    pf3: dict[str, float] | None,
) -> list[tuple[str, float, int | None]]:
    out: list[tuple[str, float, int | None]] = []
    for d, n in ((pf, None), (pf2, 2), (pf3, 3)):
        if d:
            out.extend((fld, boost, n) for fld, boost in d.items())
    return out


def edismax_inline(
    docs: DataFrame,
    qtext: str,
    fields: dict[str, float],
    *,
    tie: float = 0.0,
    mm: int = 1,
    bf: Column | None = None,
    pf: dict[str, float] | None = None,
    pf2: dict[str, float] | None = None,
    pf3: dict[str, float] | None = None,
    ps: int = 0,
    k: int = 10,
    id_col: str = "docid",
) -> DataFrame:
    """Top-k edismax over in-row text fields (index-free gate shape).

    pf/ps: phrase-field boosts (ExtendedDismaxQParser.java pf param) —
    docs where the analyzed query appears as a phrase (slop ps) in a pf
    field gain boost * (sum of the phrase terms' idf in that field)
    * tf_part(phrase_freq), the Lucene PhraseQuery scoring shape."""
    spark = docs.sparkSession
    qterms = analyze_query(qtext)
    if not qterms:
        return spark.createDataFrame([], "docid long, score double")
    qrel = F.broadcast(
        spark.createDataFrame(
            [(t, float(c)) for t, c in qterms.items()], "term string, qtf double"
        )
    )

    per_field = []
    for fld, boost in fields.items():
        tok = docs.select(
            F.col(id_col).cast("long").alias("docid"),
            tokens_col(fld).alias("toks"),
        ).select(
            "docid",
            "toks",
            quantize_col(F.size("toks")).cast("int").alias("dl_q"),
            F.size("toks").alias("doclen"),
        )
        meta = tok.agg(
            F.count(F.lit(1)).cast("double").alias("n_docs"),
            (F.sum("doclen").cast("double") / F.count(F.lit(1))).alias("avgdl"),
        )
        tf = (
            tok.select("docid", "dl_q", F.explode("toks").alias("term"))
            .join(qrel, "term")
            .groupBy("docid", "term", "dl_q", "qtf")
            .agg(F.count(F.lit(1)).cast("double").alias("tf"))
        )
        dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).cast("double").alias("df"))
        contrib = (
            tf.join(F.broadcast(dfreq), "term")
            .crossJoin(F.broadcast(meta))
            .select(
                "docid",
                "term",
                (
                    F.lit(float(boost))
                    * F.col("qtf")
                    * idf_col(F.col("df"), F.col("n_docs"))
                    * tf_part_col(F.col("tf"), F.col("dl_q"), F.col("avgdl"))
                ).alias("c"),
            )
        )
        per_field.append(contrib)

    allc = per_field[0]
    for p in per_field[1:]:
        allc = allc.unionByName(p)
    per_term = allc.groupBy("docid", "term").agg(
        (
            F.max("c") + F.lit(float(tie)) * (F.sum("c") - F.max("c"))
        ).alias("tscore")
    )
    agg = per_term.groupBy("docid").agg(
        F.sum("tscore").alias("score"), F.count(F.lit(1)).alias("_nm")
    )
    if mm > 1:
        agg = agg.where(F.col("_nm") >= mm)
    out = agg.select("docid", "score")
    pf_specs = _pf_specs(pf, pf2, pf3)
    if pf_specs:
        from solr_spark.analysis.analyzer import tokenize_py
        from solr_spark.operators.phrase import phrase_freq_col

        seq = tokenize_py(qtext)
        for fld, boost, ng in pf_specs:
            subs = _shingles(seq, ng)
            if not subs:
                continue
            ptok = docs.select(
                F.col(id_col).cast("long").alias("docid"),
                tokens_col(fld).alias("_toks"),
            ).select(
                "docid",
                "_toks",
                quantize_col(F.size("_toks")).cast("int").alias("dl_q"),
                F.size("_toks").alias("doclen"),
            )
            pmeta = ptok.agg(
                F.count(F.lit(1)).cast("double").alias("n_docs"),
                (F.sum("doclen").cast("double") / F.count(F.lit(1))).alias("avgdl"),
            )
            ptf = (
                ptok.select("docid", F.explode("_toks").alias("term"))
                .join(qrel.select("term"), "term")
                .groupBy("docid", "term")
                .agg(F.count(F.lit(1)).alias("tf"))
            )
            pdf = ptf.groupBy("term").agg(
                F.count(F.lit(1)).cast("double").alias("df")
            )
            freq_cols = [
                phrase_freq_col(F.col("_toks"), sub, ps).alias(f"_f{i}")
                for i, sub in enumerate(subs)
            ]
            any_f = (
                F.greatest(*[F.col(f"_f{i}") for i in range(len(subs))])
                if len(subs) > 1
                else F.col("_f0")
            )
            hits = ptok.select("docid", "dl_q", *freq_cols).where(any_f > 0)
            pc = hits.crossJoin(F.broadcast(pmeta.select("avgdl", "n_docs")))
            contrib = F.lit(0.0)
            for i, sub in enumerate(subs):
                pidf_i = (
                    pdf.where(F.col("term").isin(list(sub)))
                    .crossJoin(pmeta.select(F.col("n_docs").alias("_n")))
                    .agg(
                        F.sum(idf_col(F.col("df"), F.col("_n"))).alias(
                            f"_idf{i}"
                        )
                    )
                )
                pc = pc.crossJoin(F.broadcast(pidf_i))
                contrib = contrib + F.coalesce(
                    F.col(f"_idf{i}"), F.lit(0.0)
                ) * tf_part_col(F.col(f"_f{i}"), F.col("dl_q"), F.col("avgdl"))
            pc = pc.select(
                "docid", (F.lit(float(boost)) * contrib).alias("_pc")
            )
            out = out.join(pc, "docid", "left").select(
                "docid",
                (F.col("score") + F.coalesce(F.col("_pc"), F.lit(0.0))).alias("score"),
            )
    if bf is not None:
        bfd = docs.select(
            F.col(id_col).cast("long").alias("docid"), bf.cast("double").alias("_bf")
        )
        out = out.join(bfd, "docid").select(
            "docid", (F.col("score") + F.col("_bf")).alias("score")
        )
    return (
        out.orderBy(F.desc(F.round("score", 4)), F.asc("docid"))
        .limit(k)
        .select("docid", F.round("score", 4).alias("score"))
    )


def edismax_sql(
    qtext: str,
    fields: dict[str, float],
    *,
    tie: float = 0.0,
    mm: int = 1,
    sql_bf: str | None = None,
    pf: dict[str, float] | None = None,
    pf2: dict[str, float] | None = None,
    pf3: dict[str, float] | None = None,
    ps: int = 0,
    k: int = 10,
    table: str = "documents",
    id_expr: str = "doc_id",
) -> str:
    """DuckDB twin generated from the same analyzer/BM25 definitions."""
    qterms = analyze_query(qtext)
    if not qterms:
        return f"SELECT {id_expr}::BIGINT AS docid, 0.0::DOUBLE AS score FROM {table} WHERE false"
    qvals = ",".join(f"('{t}', {float(c)})" for t, c in qterms.items())
    terms_in = ",".join(f"'{t}'" for t in qterms)
    branches = []
    for fld, boost in fields.items():
        branches.append(
            f"""(
  WITH ftoks AS (
    SELECT {id_expr}::BIGINT AS docid, {tokens_sql(fld)} AS toks FROM {table}
  ),
  fdl AS (
    SELECT docid, {quantize_sql('len(toks)')} AS dl_q, len(toks) AS doclen
    FROM ftoks
  ),
  fmeta AS (
    SELECT count(*)::DOUBLE AS n_docs, sum(doclen)::DOUBLE / count(*) AS avgdl
    FROM fdl
  ),
  ftf AS (
    SELECT docid, term, count(*)::DOUBLE AS tf
    FROM (SELECT docid, unnest(toks) AS term FROM ftoks)
    WHERE term IN ({terms_in}) GROUP BY docid, term
  ),
  fdf AS (SELECT term, count(*)::DOUBLE AS df FROM ftf GROUP BY term)
  SELECT ftf.docid, ftf.term,
         {float(boost)} * q.qtf
           * {idf_sql('fdf.df', 'fmeta.n_docs')}
           * {tf_part_sql('ftf.tf', 'fdl.dl_q', 'fmeta.avgdl')} AS c
  FROM ftf
  JOIN fdf USING (term)
  JOIN (SELECT * FROM (VALUES {qvals}) AS t(term, qtf)) q USING (term)
  JOIN fdl USING (docid)
  CROSS JOIN fmeta
)"""
        )
    union = "\nUNION ALL\n".join(branches)
    bf_join = ""
    extra_add = ""
    if sql_bf is not None:
        bf_join = (
            f"JOIN (SELECT {id_expr}::BIGINT AS docid, ({sql_bf})::DOUBLE AS _bf "
            f"FROM {table}) bfv USING (docid)"
        )
        extra_add += " + bfv._bf"
    pf_joins = []
    pf_specs = _pf_specs(pf, pf2, pf3)
    if pf_specs:
        from solr_spark.analysis.analyzer import tokenize_py
        from solr_spark.query.positions import chain_match_count_sql

        seq = tokenize_py(qtext)
        for j, (fld, boost, ng) in enumerate(pf_specs):
            subs = _shingles(seq, ng)
            if not subs:
                continue
            freq_cols = []
            idf_ctes = []
            contrib_terms = []
            for i, sub in enumerate(subs):
                pos_exprs = [
                    f"[i FOR i IN range(1, len(toks) + 1) IF toks[i] = '{t}']"
                    for t in sub
                ]
                freq_cols.append(f"({chain_match_count_sql(pos_exprs, ps)}) AS f{i}")
                sub_in = ",".join(f"'{t}'" for t in sub)
                idf_ctes.append(
                    f"""pidf{i} AS (
    SELECT sum({idf_sql('df', 'n_docs')}) AS idf_sum{i}
    FROM (SELECT term, count(*)::DOUBLE AS df FROM ptf
          WHERE term IN ({sub_in}) GROUP BY term)
    CROSS JOIN pmeta
  )"""
                )
                contrib_terms.append(
                    f"coalesce(pidf{i}.idf_sum{i}, 0.0) * "
                    + tf_part_sql(f"phits.f{i}", "pdl.dl_q", "pmeta.avgdl")
                )
            idf_cross = " ".join(f"CROSS JOIN pidf{i}" for i in range(len(subs)))
            any_hit = " OR ".join(f"phits.f{i} > 0" for i in range(len(subs)))
            pf_joins.append(
                f"""LEFT JOIN (
  WITH ptoks AS (
    SELECT {id_expr}::BIGINT AS docid, {tokens_sql(fld)} AS toks FROM {table}
  ),
  pdl AS (
    SELECT docid, {quantize_sql('len(toks)')} AS dl_q, len(toks) AS doclen
    FROM ptoks
  ),
  pmeta AS (
    SELECT count(*)::DOUBLE AS n_docs, sum(doclen)::DOUBLE / count(*) AS avgdl
    FROM pdl
  ),
  ptf AS (
    SELECT docid, term FROM (SELECT docid, unnest(toks) AS term FROM ptoks)
    WHERE term IN ({terms_in}) GROUP BY docid, term
  ),
  {",".join(idf_ctes)},
  phits AS (SELECT docid, {", ".join(freq_cols)} FROM ptoks)
  SELECT phits.docid,
         {float(boost)} * ({" + ".join(contrib_terms)}) AS _pc
  FROM phits JOIN pdl USING (docid) CROSS JOIN pmeta {idf_cross}
  WHERE {any_hit}
) pfv{j} USING (docid)"""
            )
            extra_add += f" + coalesce(pfv{j}._pc, 0.0)"
    pf_join_sql = "\n".join(pf_joins)
    return f"""
WITH allc AS (
{union}
),
per_term AS (
  SELECT docid, term,
         max(c) + {float(tie)} * (sum(c) - max(c)) AS tscore
  FROM allc GROUP BY docid, term
),
agg AS (
  SELECT docid, sum(tscore) AS score, count(*) AS nm
  FROM per_term GROUP BY docid
)
SELECT docid, round(score{extra_add}, 4) AS score
FROM agg {bf_join}
{pf_join_sql}
WHERE nm >= {mm}
ORDER BY round(score{extra_add}, 4) DESC, docid LIMIT {k}
"""
