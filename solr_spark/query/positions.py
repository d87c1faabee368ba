"""Positional queries over the index-side positions table.

Role of the reference's term positions (schema/FieldProperties.java:38
OMIT_TF_POSITIONS flag controls indexing them; phrase queries consume
them via parser/SolrQueryParserBase.java:547-554). Round 1 re-derived
positions from the raw text at query time — a full-corpus scan per
phrase query (VERDICT.md item 3). The positions table removes that:

    positions/(tid long, docid long, pos int, bucket int)

partitioned by bucket = tid % num_buckets like postings, so a phrase
query scans ONLY the partitions of its terms (driver-pruned after the
dictionary seek), never the corpus.

Two venues (`_match_slots`), routed by volume like the term queries of
query/wand.py. The dictionary's cttf summed over the query's tids is
exactly the number of positions rows the scan returns, known with no
job:
- driver (volume at most wand.DRIVER_DECODE_MAX_POSTINGS): ONE
  shuffle-free bucket- and tid-pruned scan of the raw table arrives as
  Arrow (`Index.tid_scan`), pending deletes are dropped from it by id
  (`Index.deleted_id_array`), and the matcher runs in NumPy over every
  doc at once — the way a Lucene shard matches a phrase against the
  postings it holds, with no exchange;
- distributed (above the gate, or a deletes sidecar over its cap): the
  live pruned scan (`Index.positions(tids)`) is grouped per doc into
  one tid list and one pos list, and a mapInArrow flattens each
  batch's lists back into flat columns for the same matcher. A plain
  repartition by docid feeding the raw rows to mapInArrow was measured
  and rejected (the figures are at the decision site).

Every phrase caller — both venues, `phrase_match` and `phrase_freq_col`
(operators/phrase.py) — goes through ONE entry point,
`flat_phrase_freqs`, over flat columns (slot key, id, pos): the key is
the tid here, a term code per token inline. It packs each slot's
positions into sorted composite int64 keys `id << 32 | pos` (id = docid
on the driver, the batch row inside mapInArrow and the inline
operators), and one matching body per semantics (`phrase_freqs`) makes
one vectorized pass over the keys of ALL ids instead of a per-doc loop.
pos is an int32 >= 1 and an id past 2^31 (caller-supplied docids) is
keyed by its dense rank, so no key overflows and every offset a matcher
probes around a key stays inside that key's id.

Matching algebra (1-based token positions):
- exact phrase: start p of term0 with p+j in positions(term_j) for all j
- ordered slop: a strictly increasing chain p < q1 < q2 < ... with each
  step advancing at most slop+1 positions (each term matches AFTER the
  previous term's matched position — the round-1 "independent windows"
  bug let later terms match before earlier ones, ADVICE.md item 2)
- unordered sloppy (round-3): Lucene's exact edit-budget acceptance
  (`_sloppy_keys`, `_sloppy_count_anchors`: adjusted-position spread
  <= slop, repeated terms on distinct positions): `"a b"~2` matches
  "b a" (adjusted spread 2 <= 2) but `"a b"~1` does not; plus the
  cheaper window approximation (`_window_keys`) as an explicit opt-in,
  which over-matches, e.g. "a b"~1 on "b a".
"""

from __future__ import annotations

import itertools
from functools import partial, reduce

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from solr_spark.index.builder import Index

#: schema of the (docid, phrase_freq) frames the phrase matchers return
_PHRASE_SCHEMA = "docid long, phrase_freq int"

#: matcher keys are `id << _ID_SHIFT | pos`
_ID_SHIFT = 32
_POS_MASK = (1 << _ID_SHIFT) - 1


def _chain_keys(keys: list[np.ndarray], slop: int) -> np.ndarray:
    """Slot-0 keys that start a full ordered chain. A start p matches
    iff there is a strictly increasing chain p < q_1 < ... < q_{n-1}
    with q_j in slot j and each gap <= slop+1. Decided EXACTLY by a
    BACKWARD reachability DP (greedy picks are incomplete for this
    window shape):
        B_{n-1} = keys_{n-1}
        B_j     = {q in keys_j : exists x in B_{j+1} with q < x <= q+slop+1}
    two searchsorted calls per slot over the keys of every id at once."""
    s1 = slop + 1
    b = keys[-1]
    for pj in keys[-2::-1]:
        if b.size == 0:
            break
        # elements of b in (q, q+slop+1] exist  <=>  hi > lo
        lo = np.searchsorted(b, pj, side="right")
        hi = np.searchsorted(b, pj + s1, side="right")
        b = pj[hi > lo]
    return b


def _window_keys(keys: list[np.ndarray], slop: int) -> np.ndarray:
    """Slot-0 keys p with every other slot inside [p - slop,
    p + n - 1 + slop]: the order-insensitive WINDOW approximation, the
    documented CHEAP mode (one searchsorted pair per slot instead of the
    edit budget's slop+1)."""
    anchors = keys[0]
    hi_off = len(keys) - 1 + slop
    ok = np.ones(anchors.size, dtype=bool)
    for pj in keys[1:]:
        lo = np.searchsorted(pj, anchors - slop, side="left")
        hi = np.searchsorted(pj, anchors + hi_off, side="right")
        ok &= hi > lo
    return anchors[ok]


def _sloppy_keys(keys: list[np.ndarray], slop: int) -> np.ndarray:
    """Slot-0 keys matching the Lucene edit budget, DISTINCT-term
    phrases: anchor q0 = p_0 matches iff some integer window [w, w+slop]
    with w in [q0-slop, q0] holds an adjusted position p_j - j of EVERY
    slot (see `_sloppy_count_anchors` for the semantics)."""
    adj = [k - j for j, k in enumerate(keys)]
    anchors = adj[0]
    ok = np.zeros(anchors.size, dtype=bool)
    for d in range(slop + 1):
        w = anchors - d
        good = np.ones(anchors.size, dtype=bool)
        for pj in adj[1:]:
            lo = np.searchsorted(pj, w, side="left")
            hi = np.searchsorted(pj, w + slop, side="right")
            good &= hi > lo
        ok |= good
        if ok.all():
            break
    return anchors[ok]


def _sloppy_repeated(
    keys: list[np.ndarray], slop: int, dup_groups: list[list[int]]
) -> tuple[np.ndarray, np.ndarray]:
    """(ids, freqs) of a repeated-term sloppy phrase: the distinctness
    assignment has no whole-array form, so each id holding every slot
    runs `_sloppy_count_anchors` on its own position arrays."""
    id_keys = [k >> _ID_SHIFT for k in keys]
    ids = reduce(np.intersect1d, id_keys)
    spans = [
        (np.searchsorted(ik, ids, "left"), np.searchsorted(ik, ids, "right"))
        for ik in id_keys
    ]
    freqs = np.zeros(ids.size, dtype=np.int64)
    for i in range(ids.size):
        arrs = [k[lo[i]:hi[i]] & _POS_MASK for k, (lo, hi) in zip(keys, spans)]
        freqs[i] = _sloppy_count_anchors(arrs, slop, dup_groups)
    keep = freqs > 0
    return ids[keep], freqs[keep]


def phrase_freqs(
    keys: list[np.ndarray],
    slop: int,
    ordered: bool,
    window: bool = False,
    dup_groups: list[list[int]] | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """(ids, phrase_freq) of every id where the phrase matches, ids
    ascending. keys[j] = sorted composite keys `id << 32 | pos` of slot
    j's positions. freq counts the matching term-0 anchors: the ordered
    chain, the window approximation, or the Lucene-exact sloppy count,
    whose repeated-term distinctness needs `dup_groups`."""
    if not (ordered or window) and dup_groups:
        return _sloppy_repeated(keys, slop, dup_groups)
    if ordered:
        surv = _chain_keys(keys, slop)
    elif window:
        surv = _window_keys(keys, slop)
    else:
        surv = _sloppy_keys(keys, slop)
    return np.unique(surv >> _ID_SHIFT, return_counts=True)


def flat_phrase_freqs(
    slot_key: np.ndarray,
    ids: np.ndarray,
    pos: np.ndarray,
    slots: list[tuple],
    slop: int,
    ordered: bool,
    window: bool = False,
    dup_groups: list[list[int]] | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """The one phrase-matching entry point, over flat columns: row i
    puts a token whose slot key is `slot_key[i]` (a tid, or a term code)
    at position `pos[i]` (1-based) of `ids[i]` (a docid, or a row index);
    slot j matches any key in `slots[j]`. Returns `phrase_freqs`'s
    (ids, phrase_freq) of every matching id, ids ascending.

    Builds the matcher keys `id << 32 | pos` itself. An id outside
    [0, 2^31) (an index built from caller-supplied docids) is keyed by
    its dense rank instead, so no key overflows; ids that fit pay only
    the min/max check, never the rank's sort."""
    ids = np.asarray(ids, dtype=np.int64)
    uniq = None
    if ids.size and (ids.min() < 0 or ids.max() >= 1 << 31):
        uniq, ids = np.unique(ids, return_inverse=True)
    key = (ids << _ID_SHIFT) | np.asarray(pos, dtype=np.int64)
    # rows arrive sorted by id (grouped lists, token streams) or as a
    # few (tid, docid, pos)-sorted runs (parquet files), which the
    # stable sort merges
    by_slot = {
        s: np.sort(key[np.isin(slot_key, s)], kind="stable") for s in set(slots)
    }
    got, freqs = phrase_freqs(
        [by_slot[s] for s in slots], slop, ordered, window, dup_groups
    )
    return (got if uniq is None else uniq[got]), freqs


def _dup_groups(terms: list[str]) -> list[list[int]] | None:
    """Query offsets sharing a repeated term, or None if all distinct."""
    by_term: dict[str, list[int]] = {}
    for j, t in enumerate(terms):
        by_term.setdefault(t, []).append(j)
    groups = [v for v in by_term.values() if len(v) > 1]
    return groups or None


def _sloppy_count_anchors(
    arrs: list, slop: int, dup_groups: list[list[int]]
) -> int:
    """Lucene edit-budget sloppy count over ONE doc's per-offset position
    arrays (numpy int64, 1-based, query order) of a phrase with repeated
    terms. A selection (p_0..p_{n-1}) matches iff
    max_j(p_j - j) - min_j(p_j - j) <= slop — the matchLength <= slop
    acceptance of Lucene's SloppyPhraseMatcher (what `"a b"~N` means via
    parser/SolrQueryParserBase.java:547-554) — with repeated terms
    required to occupy DISTINCT positions (the matcher's repeats
    machinery). freq = number of term-0 occurrences participating in at
    least one such selection (anchor counting, same statistic shape as
    the ordered chain; Lucene's event-by-event freq can differ, the
    match/no-match doc set cannot).

    Equivalent windowed form actually computed: anchor q0 = p_0 matches
    iff some integer window [w, w+slop] with w in [q0-slop, q0] holds an
    adjusted position of EVERY offset (distinct raw positions inside
    repeated-term groups; `_sloppy_keys` is the vectorized distinct-term
    form). Repeated-term groups get a tiny per-anchor exhaustive check
    (the window confines each offset to <= slop+1 candidates, so the
    product is bounded)."""
    adj = [a - j for j, a in enumerate(arrs)]
    in_group = {j for g in dup_groups for j in g}
    singles = [j for j in range(len(arrs)) if j not in in_group and j != 0]
    count = 0
    for p0 in adj[0].tolist():
        matched = False
        for w in range(p0 - slop, p0 + 1):
            hi_w = w + slop
            if not all(
                np.searchsorted(adj[j], hi_w, side="right")
                > np.searchsorted(adj[j], w, side="left")
                for j in singles
            ):
                continue
            feasible = True
            for grp in dup_groups:
                # candidate raw positions per offset inside the window
                cands = [
                    [p0] if j == 0 else [
                        int(p)
                        for p in arrs[j][
                            np.searchsorted(arrs[j], w + j, side="left"):
                            np.searchsorted(arrs[j], hi_w + j, side="right")
                        ]
                    ]
                    for j in grp
                ]
                if not all(cands) or not any(
                    len(set(pick)) == len(pick)
                    for pick in itertools.product(*cands)
                ):
                    feasible = False
                    break
            if feasible:
                matched = True
                break
        if matched:
            count += 1
    return count


def sloppy_match_count_sql(pos_exprs: list[str], slop: int) -> str:
    """DuckDB twin of `_sloppy_keys` (DISTINCT-term phrases):
    anchor p matches iff some window start d in [0, slop] has every
    offset j with an element x of pos_j satisfying
    x - j in [p - d, p - d + slop]. Repeated terms need the distinctness
    assignment, which nested list lambdas cannot express — callers must
    raise before generating SQL for those."""
    n = len(pos_exprs)
    if n == 1:
        return f"len({pos_exprs[0]})"
    ors = []
    for d in range(slop + 1):
        conds = " AND ".join(
            f"len(list_filter({pe}, x -> x - {j} >= p - {d} "
            f"AND x - {j} <= p - {d} + {slop})) > 0"
            for j, pe in enumerate(pos_exprs)
            if j != 0
        )
        ors.append(f"({conds})")
    cond = " OR ".join(ors)
    return f"len(list_filter({pos_exprs[0]}, p -> {cond}))"


def window_match_count_sql(pos_exprs: list[str], slop: int) -> str:
    """DuckDB twin of `_window_keys`."""
    n = len(pos_exprs)
    conds = " AND ".join(
        f"len(list_filter({pe}, x -> x >= p - {slop} AND x <= p + {n - 1 + slop})) > 0"
        for pe in pos_exprs[1:]
    )
    if not conds:
        return f"len({pos_exprs[0]})"
    return f"len(list_filter({pos_exprs[0]}, p -> {conds}))"


def chain_match_count_sql(pos_exprs: list[str], slop: int = 0) -> str:
    """DuckDB twin of `_chain_keys` (nested list lambdas, same
    backward DP)."""
    cur = pos_exprs[-1]
    for pe in reversed(pos_exprs[:-1]):
        cur = (
            f"list_filter({pe}, q -> len(list_filter({cur}, "
            f"x -> x > q AND x <= q + {slop + 1})) > 0)"
        )
    return f"len({cur})"


def _match_slots(
    index: Index,
    slots: list[list[int]],
    cttf: dict[int, int],
    slop: int,
    ordered: bool,
    window: bool = False,
    terms: list[str] | None = None,
    debug: dict | None = None,
) -> DataFrame:
    """(docid, phrase_freq) of docs where the phrase's slots line up.
    Slot j matches any tid in `slots[j]`: one tid for a plain term, a
    dictionary expansion for a complex-phrase slot; `cttf` maps each
    tid to its positions count. `terms` (query order) enables the
    repeated-term distinctness handling of the sloppy matcher.

    Both venues hand `flat_phrase_freqs` flat (tid, id, pos) columns
    (module docstring). With Σ cttf over the tids at most the driver
    gate, the driver fetches the raw positions rows once and drops
    pending deletes by id; otherwise (or with a deletes sidecar over its
    cap) the LIVE scan is grouped per doc into two aligned lists, docs
    missing a slot leave by one `exists` filter per distinct slot, and
    a mapInArrow flattens each batch's lists back into flat columns
    keyed by the batch row. Pass a dict as `debug` to receive the venue
    ("driver" or "distributed") under "path"."""
    from solr_spark.query import wand

    slots = [tuple(sorted(s)) for s in slots]
    tids = sorted({t for s in slots for t in s})
    match = partial(
        flat_phrase_freqs, slots=slots, slop=slop, ordered=ordered,
        window=window, dup_groups=_dup_groups(terms) if terms else None,
    )
    on_driver = sum(cttf[t] for t in tids) <= wand.DRIVER_DECODE_MAX_POSTINGS
    dead = None
    if on_driver and index.has_deletes():
        # pending deletes leave by id; a sidecar over its cap keeps the
        # distributed plan and its liveDocs anti-join
        dead = index.deleted_id_array()
        on_driver = dead is not None
    if debug is not None:
        debug["path"] = "driver" if on_driver else "distributed"
    if on_driver:
        tbl = index.tid_scan("positions", tids, ("tid", "docid", "pos")).toArrow()
        tid, docid, pos = (tbl.column(c).to_numpy() for c in tbl.column_names)
        if dead is not None:
            live = ~np.isin(docid, dead)
            tid, docid, pos = tid[live], docid[live], pos[live]
        ids, freqs = match(tid, docid, pos)
        return index.spark.createDataFrame(
            pa.table(
                {
                    "docid": pa.array(ids, pa.int64()),
                    "phrase_freq": pa.array(freqs, pa.int32()),
                }
            )
        )

    # One groupBy of two lists, flattened back in each batch; both
    # aggregates consume a group's rows in the same order, so the i-th
    # tid and the i-th pos come from the same row. Against
    # the per-slot sort_array(collect_list) arrays + pandas UDF it
    # replaced (synthetic docs x 100 tokens, Zipf 1.3 vocabulary,
    # local[4], 4 GB driver, 4 vCPUs; alternating processes, median
    # seconds, identical results): 200k docs, 7 pairs: 1.0M positions
    # 2.48 -> 1.93, 4.1M 3.43 -> 2.84, 5.9M 3.94 -> 2.71, 3 terms slop
    # 1 7.2M 3.95 -> 3.19, unordered slop 1 5.9M 3.52 -> 3.07; 600k
    # docs, 5 pairs: 17.8M 10.65 -> 8.90, 3 terms slop 1 21.5M 12.16 ->
    # 9.42, unordered 17.8M 10.24 -> 8.38. The groupBy itself stays: a
    # repartition(docid) + mapInArrow over the raw rows measured 10-20%
    # slower than the grouped plan at 1-9M positions, because Arrow then
    # carries every row's docid and tid across the boundary.
    grouped = (
        index.positions(tids)
        .groupBy("docid")
        .agg(F.collect_list("tid").alias("tid"), F.collect_list("pos").alias("pos"))
    )
    for s in dict.fromkeys(slots):
        # F.exists calls the lambda now, so it binds this iteration's s
        grouped = grouped.where(F.exists("tid", lambda t: t.isin(list(s))))

    def batches(it):
        for batch in it:
            tid, pos = batch.column(1), batch.column(2)
            rows, freqs = match(
                tid.flatten().to_numpy(),
                tid.value_parent_indices().to_numpy(),
                pos.flatten().to_numpy(),
            )
            yield pa.RecordBatch.from_arrays(
                [batch.column(0).take(rows), pa.array(freqs, pa.int32())],
                ["docid", "phrase_freq"],
            )

    return grouped.mapInArrow(batches, _PHRASE_SCHEMA)


def phrase_docids(
    index: Index,
    words: list[str],
    slop: int = 0,
    ordered: bool = True,
    field: str | None = None,
    window: bool = False,
    debug: dict | None = None,
) -> DataFrame:
    """(docid, phrase_freq) of docs containing the analyzed phrase,
    computed from the positions table alone (no corpus scan). On a
    multi-field index `field` selects whose positions to match (tid =
    hash(field, term), so the scan prunes to that field's partitions
    for free). ordered=False uses Lucene's exact edit-budget sloppy
    semantics; window=True opts into the cheaper window approximation
    instead. `debug` receives the venue (see `_match_slots`)."""
    spark = index.spark
    terms: list[str] = []
    for w in words:
        terms.extend(index.analyze(w))
    if not terms:
        return spark.createDataFrame([], _PHRASE_SCHEMA)
    stats = index.term_stats_for(sorted(set(terms)), field=field)
    if any(t not in stats for t in terms):
        # a phrase term absent from the corpus
        return spark.createDataFrame([], _PHRASE_SCHEMA)
    return _match_slots(
        index,
        [[stats[t]["tid"]] for t in terms],
        {s["tid"]: s["cttf"] for s in stats.values()},
        slop, ordered, window, terms, debug,
    )


def complex_phrase_docids(
    index: Index,
    slot_specs: list[str],
    slop: int = 0,
    ordered: bool = True,
    field: str | None = None,
    max_expansions: int = 128,
    debug: dict | None = None,
) -> DataFrame:
    """ComplexPhraseQParser (solr/core/src/java/org/apache/solr/search/
    ComplexPhraseQParserPlugin.java): wildcard ('par*', 'p?rse') and
    fuzzy ('spark~1') terms INSIDE a phrase. Each slot expands against
    the term DICTIONARY (vocabulary-sized work, capped at
    `max_expansions` like Lucene's rewrite bound); a slot then matches
    any of its expanded tids (`flat_phrase_freqs`' slot keys), which
    unions the expanded terms' positions for free, and the
    ordered/sloppy matchers run unchanged.
    Each expansion brings its cttf, so the venue is chosen with no
    extra job; `debug` receives it (see `_match_slots`)."""
    import re as _re

    spark = index.spark
    dict_df = index.term_dictionary(field)
    slot_tids: list[list[int]] = []
    cttf: dict[int, int] = {}
    for spec in slot_specs:
        fuzz = _re.fullmatch(r"([^*?~\s]+)~(\d)", spec)
        if "*" in spec or "?" in spec:
            rx = (
                "^"
                + _re.escape(spec).replace(r"\*", ".*").replace(r"\?", ".")
                + "$"
            )
            cand = dict_df.where(F.col("term").rlike(rx))
        elif fuzz:
            cand = dict_df.where(
                F.levenshtein(F.col("term"), F.lit(fuzz.group(1)))
                <= int(fuzz.group(2))
            )
        else:
            toks = index.analyze(spec)
            if len(toks) != 1:
                raise ValueError(
                    f"complex-phrase slot {spec!r} must analyze to one term"
                )
            stats = index.term_stats_for(toks, field=field)
            if toks[0] not in stats:
                return spark.createDataFrame([], _PHRASE_SCHEMA)
            st = stats[toks[0]]
            slot_tids.append([st["tid"]])
            cttf[st["tid"]] = st["cttf"]
            continue
        rows = cand.select("tid", "cttf").limit(max_expansions + 1).collect()
        if len(rows) > max_expansions:
            raise ValueError(
                f"complex-phrase slot {spec!r} expands past "
                f"max_expansions={max_expansions}"
            )
        if not rows:
            return spark.createDataFrame([], _PHRASE_SCHEMA)
        slot_tids.append([r["tid"] for r in rows])
        cttf.update((r["tid"], r["cttf"]) for r in rows)

    # unordered uses the same Lucene-exact sloppy matcher as
    # phrase_docids — it only consumes position arrays, so slot arrays
    # drop in unchanged (round-4 advice: the window approximation
    # over-matched, e.g. "a b"~1 on "b a"). Slots are treated as
    # all-distinct: two slots whose EXPANSIONS overlap on the same
    # position may double-count, matching Lucene's own behavior for
    # overlapping MultiTerm slots.
    return _match_slots(index, slot_tids, cttf, slop, ordered, debug=debug)
