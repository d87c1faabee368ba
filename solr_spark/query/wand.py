"""Block-max pruned BM25 top-k (batch MaxScore over block postings).

The reference exposes max-score collection and early termination
(solr/core/src/java/org/apache/solr/search/MaxScoreCollector.java,
MaxScoreQParserPlugin.java:33, EarlyTerminatingCollector.java); the
underlying skip mechanics are Lucene's block-max impacts (public:
Ding & Suel block-max WAND, WSDM'11). Sequential WAND doesn't map onto a
batch engine, so this is a BATCH-PARALLEL exact variant that runs as a
SINGLE Spark action (round 1 needed three driver round-trips and lost to
the flat path on latency — VERDICT.md item 1):

1. no-job threshold seed: term_stats carries each term's global
   block-max (`mtp` -> upper bound ub_t = qtf*idf_t*mtp) and a capped
   skip list of (block min_tf_part, block n_docs) pairs sorted
   descending. Walking a term's skip list until Σ n_docs >= k yields a
   SOUND lower bound T0 of the final kth score: at least k docs contain
   the term with contribution >= w_t * m_crossing, and OR-mode scores
   only grow when more terms match. T0 = max over query terms.
2. ESSENTIAL-TERM split (MaxScore): order terms by ub; the maximal
   prefix with Σ ub < T0 is "non-essential" — a doc matching only those
   terms cannot reach T0. Non-essential terms are the heads (tiny idf ->
   tiny ub), which is exactly what kills the head-term decode cost.
3. decode ALL blocks of the essential (rare) terms — their partial
   scores s_hat are then EXACT over the essential subset, so the
   candidate bound needs no per-doc covered-ub bookkeeping:
       candidates = docs with s_hat + Σ_{non-essential} ub >= T0.
4. non-essential correction WITHOUT a flat-postings rescan: candidate
   docids range-join the non-essential terms' block metadata
   (first_docid <= d <= max_docid, broadcast nested-loop semi-join), so
   only the ~O(k) blocks that can contain a candidate are decoded —
   the batch analogue of skip-pointer advance over a long posting list.
5. union essential partials + corrections, sum, TakeOrderedAndProject.

All threshold comparisons carry a 1e-9 epsilon: partial sums are float64
and Spark's aggregation order differs from the driver's. Widening the
cut only grows the candidate superset — exactness is unaffected.

Routing is by volume first, then by prunability. A query whose
postings volume (Σ df, read from the dictionary with no job) is at most
DRIVER_DECODE_MAX_POSTINGS runs on the driver (`_wand_driver`) whatever
its shape: OR with or without a MaxScore split, AND, single term, weak
T0, and pending deletes (T0 left unseeded, deleted ids dropped before
scoring). Its one shuffle-free scan undercuts the flat plan even when
nothing can be pruned (measured up to the gate, with the figures at
DRIVER_DECODE_MAX_POSTINGS). Above the gate, a query that
MaxScore can prune takes the distributed formulation above; the rest
(nothing prunable, essential lists most of the volume, pending deletes)
take the flat `bm25_topk`, which stays the reference both venues are
tested against: exactness (pruned == flat) is asserted in
tests/test_wand.py for every shape.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from solr_spark.functions.bm25 import B, K1, idf_py
from solr_spark.index.blocks import decode_blocks
from solr_spark.index.builder import Index
from solr_spark.query.engine import analyze_query, bm25_topk, norm_mode

#: widen every threshold cut by this much — covers float64 sum-order ulp
#: differences between driver-side and executor-side arithmetic
EPS = 1e-9

#: rows budget of the driver venues, counted as the rows their one
#: fetch returns: Σ df postings for a top-k here, Σ cttf positions for a
#: phrase (query/positions.py); beyond it the query runs distributed
#: (pruned), flat, or as the grouped phrase plan. Measured on 4 vCPUs
#: with a 1 GB driver heap, median of 3 after a warm-up, every result
#: identical across venues:
#: - top-k, 1M-doc index, every block decoded (nothing prunable),
#:   local[2] and local[4]: the driver beat flat `bm25_topk` at every
#:   volume up to 4.75M postings (4M: 0.81-0.98 s vs 2.39-3.86 s, with
#:   and without pending deletes); the Python process's peak RSS
#:   (VmHWM) rose from ~160 MB to ~400-420 MB at 4M;
#: - phrase, 100k docs x 100 tokens, local[2]: driver vs distributed
#:   0.25M positions 0.31 vs 0.90 s, 1M 0.49 vs 1.19 s, 2M 1.03 vs
#:   1.86 s, 3.5M 1.58 vs 2.31 s, 4.5M 1.68 vs 3.34 s, 5M 2.14 vs
#:   4.00 s; local[4] 3.5M 1.36 vs 2.39 s, 5M 1.93 vs 3.10 s; 40
#:   deletes pending, local[2], 3.5M 1.76 vs 3.54 s. VmHWM 112 MB idle,
#:   315 MB at 2M, 470 MB at 3.5M, 554 MB at 4.5-5M.
#: The phrase crossover lies past 5M too, so one gate serves both. A
#: scan over more executor cores than 4 may cross over sooner (not
#: measured); sf1's "json parser" (~25M positions at 2M docs) stays
#: distributed
DRIVER_DECODE_MAX_POSTINGS = 4_000_000

#: over the driver gate, the distributed pruned path only runs when the
#: essential lists are at most this fraction of the query's total
#: postings (otherwise the decode skip cannot recoup its plumbing and
#: the flat path wins by construction)
PRUNE_MIN_SKIP_FRACTION = 0.3


def _frame(spark, docids: np.ndarray, scores: np.ndarray) -> DataFrame:
    """(docid, score) frame from driver arrays, shipped as one Arrow
    table (a Python row list costs ~10x more to build and collect)."""
    return spark.createDataFrame(
        pa.table(
            {
                "docid": pa.array(docids, pa.int64()),
                "score": pa.array(scores, pa.float64()),
            }
        )
    )


def _no_rows(spark) -> DataFrame:
    return _frame(spark, np.zeros(0, np.int64), np.zeros(0, np.float64))


def _score_blocks(batch, weights: dict[int, float], avgdl: float):
    """Decode + BM25-score every block row of an Arrow batch in one
    vectorized pass -> per-posting (docids, contribs).

    weights: tid -> qtf*idf (the per-occurrence score multiplier)."""
    docids, tfs, dlqs = decode_blocks(batch)
    tid = np.asarray(batch.column("tid"), dtype=np.int64)
    w = np.zeros(tid.size)
    for g, wg in weights.items():
        w[tid == g] = wg
    w = np.repeat(w, np.asarray(batch.column("n_docs"), dtype=np.int64))
    tfs = tfs.astype(np.float64)
    dlqs = dlqs.astype(np.float64)
    return docids, w * tfs / (tfs + K1 * (1.0 - B + B * dlqs / avgdl))


#: block columns the driver venue reads (no salt/bucket/block-max stats)
_DRIVER_COLS = (
    "tid", "n_docs", "first_docid", "max_docid", "docids_bin", "tfs_bin", "dlqs_bin",
)


def _wand_driver(
    index: Index,
    weights: dict[int, float],
    ub: dict[int, float],
    non_essential: list[int],
    t0: float,
    k: int,
    avgdl: float,
    n_and: int,
    dead: np.ndarray | None,
    debug: dict | None,
) -> DataFrame:
    """Bounded-volume top-k: ONE shuffle-free scan job + driver NumPy.
    All blocks of the query's tids arrive as one Arrow table from a
    pruned parquet scan (the volume gate bounds the transfer); the
    MaxScore algebra then runs on the driver:

    - decode the essential lists -> exact partial scores s_hat, after
      dropping `dead` (pending deletes) docids; n_and > 0 (AND mode,
      every term essential) keeps the docs matching all n_and terms;
    - with no non-essential term, s_hat is the final score;
    - otherwise T = max(T0, kth best s_hat) and the candidates are the
      docs with s_hat + Σ non-essential ub >= T. Only the non-essential
      blocks whose [first_docid, max_docid] range holds a candidate are
      decoded (a vectorized range check on the fetched metadata) — the
      decode-skip that makes pruning pay.

    This is the same role split as a Solr shard executing a top-k
    locally: the distributed path below handles volumes that cannot sit
    on one node, and tests force it to prove both venues agree.
    """
    tbl = index.tid_scan("blocks", list(weights), _DRIVER_COLS).toArrow()
    is_ne = np.isin(np.asarray(tbl.column("tid"), dtype=np.int64), non_essential)
    ess = tbl.filter(pa.array(~is_ne))
    ne = tbl.filter(pa.array(is_ne))
    docids, contribs = _score_blocks(ess, weights, avgdl)
    if dead is not None:
        live = ~np.isin(docids, dead)
        docids, contribs = docids[live], contribs[live]
    uniq, inv = np.unique(docids, return_inverse=True)
    s_hat = np.bincount(inv, weights=contribs, minlength=uniq.size)
    if n_and:
        keep = np.bincount(inv, minlength=uniq.size) == n_and
        uniq, s_hat = uniq[keep], s_hat[keep]

    if non_essential:
        # s_hat is EXACT over the essential terms, so a doc's final
        # score is at most s_hat + Σ non-essential ub
        t1 = 0.0
        if uniq.size >= k:
            t1 = float(np.partition(s_hat, uniq.size - k)[uniq.size - k])
        thresh = max(t0, t1)
        mask = s_hat + sum(ub[g] for g in non_essential) >= thresh - EPS
        uniq, s_hat = uniq[mask], s_hat[mask]
        # a block can hold a candidate iff one lies in its range
        lo = np.searchsorted(uniq, np.asarray(ne.column("first_docid")), "left")
        hi = np.searchsorted(uniq, np.asarray(ne.column("max_docid")), "right")
        ne = ne.filter(pa.array(hi > lo))
        cd, cc = _score_blocks(ne, weights, avgdl)
        pos = np.searchsorted(uniq, cd)
        ok = (pos < uniq.size) & (uniq[np.minimum(pos, uniq.size - 1)] == cd)
        np.add.at(s_hat, pos[ok], cc[ok])

    if debug is not None:
        debug["path"] = "driver"
        debug["pruned"] = bool(non_essential)
        debug["n_candidates"] = int(uniq.size)
        debug["blocks_decoded"] = ess.num_rows + ne.num_rows
        debug["blocks_total"] = tbl.num_rows

    order = np.lexsort((uniq, -np.round(s_hat, 9)))[:k]
    return _frame(index.spark, uniq[order], s_hat[order])


def _decode_score_fn(weights: dict[int, float], avgdl: float):
    """mapInArrow: block rows (+`ubw` col) -> (docid, contrib, ubv) rows.

    `ubw` rides through per posting so the aggregation can track the
    covered upper bound without a join.
    """

    def fn(batches):
        for rb in batches:
            if rb.num_rows == 0:
                continue
            docids, contribs = _score_blocks(rb, weights, avgdl)
            ubv = np.repeat(
                np.asarray(rb.column("ubw"), dtype=np.float64),
                np.asarray(rb.column("n_docs"), dtype=np.int64),
            )
            yield pa.RecordBatch.from_arrays(
                [pa.array(docids), pa.array(contribs), pa.array(ubv)],
                names=["docid", "contrib", "ubv"],
            )

    return fn


def _seed_t0(weights: dict[int, float], skips: dict[int, list], k: int) -> float:
    """Metadata-only lower bound of the final kth score (see module doc)."""
    t0 = 0.0
    for tid, w in weights.items():
        sk = skips.get(tid)
        if not sk:
            continue
        cum = 0
        for m, nd in sk:  # sorted by m descending
            cum += nd
            if cum >= k:
                t0 = max(t0, w * float(m))
                break
    return t0


def bm25_topk_wand(
    index: Index, qtext: str, k: int = 10, mode: str = "OR",
    debug: dict | None = None, field: str | None = None,
) -> DataFrame:
    """Exact top-k via block-max pruning over the encoded postings.

    Pass a dict as `debug` to receive pruning statistics (essential
    terms, blocks decoded vs total, candidate count) — used by tests and
    benchmarks to verify that pruning actually skips work. Debug mode
    runs extra count() jobs; the production path is ONE action.
    """
    mode = norm_mode(mode)
    spark = index.spark
    qterms = analyze_query(qtext, index)
    if not qterms:
        return _no_rows(spark)
    n_docs = index.meta["n_docs"]
    # multi-field: the query targets ONE field; its avgdl feeds both the
    # block metadata (baked per field at build) and the decode
    fld, avgdl = index.scoring_field(field)
    stats = index.term_stats_for(list(qterms), field=fld)
    present = [t for t in qterms if t in stats]
    if not present or (mode == "AND" and len(present) < len(qterms)):
        return _no_rows(spark)

    tid_of = {t: stats[t]["tid"] for t in present}
    weights = {
        tid_of[t]: qterms[t] * idf_py(int(stats[t]["df"]), n_docs)
        for t in present
    }
    mtps = {tid_of[t]: stats[t].get("mtp") for t in present}
    if any(m is None for m in mtps.values()):
        # index built without blocks metadata — flat path
        return bm25_topk(index, qtext, k, mode, field=field)
    skips = {tid_of[t]: stats[t].get("skips") or [] for t in present}
    ub = {g: weights[g] * float(mtps[g]) for g in weights}
    ptids = list(weights)

    # route by volume first: the dictionary's df sum bounds the postings
    # the query can touch, known with no job
    total_volume = sum(int(stats[t]["df"]) for t in present)
    on_driver = total_volume <= DRIVER_DECODE_MAX_POSTINGS
    dead = None
    if index.has_deletes():
        # pending deletes: the driver venue drops the deleted ids before
        # scoring (a broadcast-sized sidecar, cached per version); past
        # the volume gate or the sidecar cap the flat path's liveDocs
        # anti-join is the exact route at any delete ratio
        dead = index.deleted_id_array() if on_driver else None
        if dead is None:
            if debug is not None:
                debug["path"] = "flat_deletes"
            return bm25_topk(index, qtext, k, mode, field=field)

    # the metadata seed T0 counts deleted docs, so with deletes pending
    # it could prune a live doc: leave it unseeded (every term essential)
    t0 = 0.0
    if mode == "OR" and len(ptids) > 1 and dead is None:
        t0 = _seed_t0(weights, skips, k)

    # essential/non-essential split (MaxScore)
    non_essential: list[int] = []
    if t0 > 0.0:
        acc = 0.0
        for g in sorted(ptids, key=lambda x: ub[x])[:-1]:  # keep >=1 essential
            if acc + ub[g] < t0 - EPS:
                acc += ub[g]
                non_essential.append(g)
            else:
                break
    essential = [g for g in ptids if g not in non_essential]
    if debug is not None:
        debug["present"] = list(present)
        debug["essential"] = [t for t in present if tid_of[t] in essential]
        debug["t0"] = t0

    if on_driver:
        # one shuffle-free scan + driver decode serves every shape under
        # the gate (OR, AND, single term, weak T0, pending deletes); it
        # beat the flat plan at every volume measured up to the gate,
        # with every block decoded (see DRIVER_DECODE_MAX_POSTINGS)
        n_and = len(present) if mode == "AND" else 0
        return _wand_driver(
            index, weights, ub, non_essential, t0, k, avgdl, n_and, dead, debug
        )

    # over the gate: prune distributed when MaxScore can skip most of
    # the volume; otherwise the flat scan decodes no more than a pruned
    # formulation would and pays no extra plumbing (known from stats)
    ess_volume = sum(
        int(stats[t]["df"]) for t in present if tid_of[t] in essential
    )
    if not non_essential or ess_volume > PRUNE_MIN_SKIP_FRACTION * total_volume:
        return bm25_topk(index, qtext, k, mode, field=field)

    ne_ub_total = sum(ub[g] for g in non_essential)
    ess_ub_total = sum(ub[g] for g in essential)
    total_ub = ne_ub_total + ess_ub_total
    q_blocks = index.tid_scan("blocks", ptids)

    # (3) block-level pruning within essential terms: block b of term t
    # can contain a top-k doc only if w_t*max_tf_part(b) + Σ_{other} ub
    # reaches T0 (a doc absent from every surviving essential block has
    # score < T0). Pruned essential blocks fall through to the
    # correction set so candidate scores stay exact.
    w_map = F.create_map(
        *[x for g in ptids for x in (F.lit(g), F.lit(weights[g]))]
    )
    rest_map = F.create_map(
        *[x for g in ptids for x in (F.lit(g), F.lit(total_ub - ub[g]))]
    )
    is_ess = F.col("tid").isin(essential)
    survives = is_ess & (
        w_map[F.col("tid")] * F.col("max_tf_part") + rest_map[F.col("tid")]
        >= F.lit(t0 - EPS)
    )
    ess_blocks = q_blocks.where(survives)
    corr_blocks = q_blocks.where(~survives)

    if debug is not None:
        debug["path"] = "distributed"
        debug["blocks_total"] = q_blocks.count()

    # decode surviving essential blocks -> partial scores; covered_ub
    # tracks which terms each doc was SEEN with (its contribution from a
    # seen term is exact — one block per (term, salt, doc))
    ub_map = F.create_map(
        *[x for g in ptids for x in (F.lit(g), F.lit(ub[g]))]
    )
    partial = (
        ess_blocks.withColumn("ubw", ub_map[F.col("tid")])
        .mapInArrow(
            _decode_score_fn({g: weights[g] for g in essential}, avgdl),
            schema="docid long, contrib double, ubv double",
        )
        .groupBy("docid")
        .agg(F.sum("contrib").alias("s_hat"), F.sum("ubv").alias("covered_ub"))
    )

    # collect the candidate superset ONCE (small, bounded): top-C rows
    # by score UPPER BOUND s_hat + missing-essential-ub + ne_ub. A
    # broadcast-subplan formulation re-ran the essential decode once per
    # broadcast (exchange reuse does not span broadcast boundaries —
    # measured 2.3 s vs flat 1.3 s in round 2), so one driver round-trip
    # for a ~4k-row set is the cheaper exact shape. Exactness guard: if
    # the collect fills C AND the smallest collected bound still clears
    # the threshold, candidates may be incomplete -> flat path.
    cap = max(4 * k, 512)
    bound = (
        F.col("s_hat")
        + (F.lit(ess_ub_total) - F.col("covered_ub"))
        + F.lit(ne_ub_total)
    )
    pre = (
        partial.where(bound >= F.lit(t0 - EPS))
        .select("docid", "s_hat", bound.alias("_bound"))
        .orderBy(F.desc("_bound"))
        .limit(cap)
        .collect()
    )
    # T1 refinement: the kth best s_hat lower-bounds the final kth score
    # (partial sums only grow), usually far tighter than the seed T0
    t1 = 0.0
    if len(pre) >= k:
        t1 = sorted((r["s_hat"] for r in pre), reverse=True)[k - 1]
    thresh = max(t0, t1)
    cand_rows = [
        (r["docid"], r["s_hat"]) for r in pre if r["_bound"] >= thresh - EPS
    ]
    if len(pre) == cap and pre[-1]["_bound"] >= thresh - EPS:
        return bm25_topk(index, qtext, k, mode, field=field)  # cap overflow: exact fallback
    if not cand_rows:
        return _no_rows(spark)
    cand = spark.createDataFrame(cand_rows, "docid long, s_hat double")

    # (4) correction WITHOUT a flat-postings rescan: only pruned/non-
    # essential blocks whose docid range can contain a candidate are
    # decoded (broadcast nested-loop semi-join on range containment)
    cand_ids = cand.select("docid")
    hit_blocks = corr_blocks.alias("b").join(
        F.broadcast(cand_ids).alias("c"),
        (F.col("c.docid") >= F.col("b.first_docid"))
        & (F.col("c.docid") <= F.col("b.max_docid")),
        "left_semi",
    )
    if debug is not None:
        debug["blocks_decoded"] = ess_blocks.count() + hit_blocks.count()
        debug["n_candidates"] = cand_ids.count()
    correction = (
        hit_blocks.withColumn("ubw", F.lit(0.0))
        .mapInArrow(
            _decode_score_fn(weights, avgdl),
            schema="docid long, contrib double, ubv double",
        )
        .select("docid", "contrib")
        .join(F.broadcast(cand_ids), "docid", "left_semi")
    )

    # (5) exact scores for the candidate superset -> top-k
    scored = cand.select("docid", F.col("s_hat").alias("contrib")).unionByName(
        correction
    )
    # rounded-score tie-break matches the flat path (see engine.bm25_topk)
    return (
        scored.groupBy("docid")
        .agg(F.sum("contrib").alias("score"))
        .orderBy(F.desc(F.round("score", 9)), F.asc("docid"))
        .limit(k)
    )


def bm25_topk_auto(
    index: Index, qtext: str, k: int = 10, mode: str = "OR",
    field: str | None = None,
) -> DataFrame:
    """Route: pruned path when blocks exist, flat path otherwise."""
    if index.meta.get("has_blocks"):
        return bm25_topk_wand(index, qtext, k, mode, field=field)
    return bm25_topk(index, qtext, k, mode, field=field)
