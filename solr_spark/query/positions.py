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
  live scan is grouped per doc into sorted per-slot position arrays and
  a pandas UDF runs the same matcher on each Arrow batch.

One matching body per semantics, called by both venues and by the inline
operator (operators/phrase.py) through `phrase_freqs`: each slot's
positions are packed into sorted composite int64 keys `id << 32 | pos`
(id = docid on the driver, the batch row index in a UDF), and one
vectorized pass over the keys of ALL ids replaces a per-doc loop. pos is
an int32 >= 1 and ids stay below 2^31 (docids are dense ranks,
builder.assign_docids; an index built from caller-supplied docids past
that takes the distributed venue), so no key overflows and every offset
a matcher probes around a key stays inside that key's id.

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
from functools import reduce

import numpy as np
import pandas as pd
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


def row_keys(slot_rows: list[list]) -> list[np.ndarray]:
    """Per-slot matcher keys `row << 32 | pos` over one batch:
    slot_rows[j][r] = the sorted positions of slot j in row r."""
    keys = []
    for arrs in slot_rows:
        lens = np.fromiter((len(a) for a in arrs), np.int64, len(arrs))
        rows = np.repeat(np.arange(len(arrs), dtype=np.int64), lens)
        flat = (
            np.concatenate(arrs).astype(np.int64)
            if lens.sum() else np.zeros(0, dtype=np.int64)
        )
        keys.append((rows << _ID_SHIFT) | flat)
    return keys


def row_phrase_freqs(
    nrows: int, keys: list[np.ndarray], slop: int, ordered: bool,
    window: bool = False, dup_groups: list[list[int]] | None = None,
) -> np.ndarray:
    """`phrase_freqs` over row-index keys, as one int32 freq per row."""
    out = np.zeros(nrows, dtype=np.int32)
    ids, freqs = phrase_freqs(keys, slop, ordered, window, dup_groups)
    out[ids] = freqs
    return out


def _packed_freqs(
    packed: pd.Series, slop: int, ordered: bool, window: bool,
    dup_groups: list[list[int]] | None,
) -> pd.Series:
    """UDF body: one batch of packed rows (row r = per-slot sorted
    position arrays) -> phrase_freq per row, through `phrase_freqs`."""
    n_slots = len(packed.iloc[0]) if len(packed) else 0
    keys = row_keys([[row[j] for row in packed] for j in range(n_slots)])
    return pd.Series(
        row_phrase_freqs(len(packed), keys, slop, ordered, window, dup_groups)
    )


def _freq_udf(
    slop: int, ordered: bool, window: bool = False,
    dup_groups: list[list[int]] | None = None,
):
    """pandas UDF over F.array(slot position arrays) -> int phrase_freq.

    A UDF rather than built-in expressions: Catalyst inlines single-use
    projections into lambda bodies (CollapseProject) and re-evaluates
    nested higher-order-function subtrees PER ELEMENT, making an
    expression-level DP exponential in phrase length (measured: 2 head
    terms over 300 docs already took >60 s)."""
    from pyspark.sql.functions import pandas_udf

    def freq(packed):
        return _packed_freqs(packed, slop, ordered, window, dup_groups)

    # real type objects: `from __future__ import annotations` stringifies
    # inline hints, which pandas_udf cannot introspect
    freq.__annotations__ = {"packed": pd.Series, "return": pd.Series}
    return pandas_udf(freq, "int")


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

    Venue by volume (module docstring): with Σ cttf over the tids at
    most the driver gate, `_match_on_driver` fetches the positions rows
    once and matches them in NumPy; otherwise (or with a deletes sidecar
    over its cap) the distributed plan runs on the bucket-pruned LIVE
    scan: ONE groupBy builds every distinct slot's sorted array
    (collect_list(when) drops the nulls, so each array holds only its
    slot's positions) and drops docs missing any slot; a repeated slot
    reuses its array; the UDF then calls the same `phrase_freqs` per
    batch. Pass a dict as `debug` to receive the venue ("driver" or
    "distributed") under "path"."""
    from solr_spark.query import wand

    slots = [tuple(sorted(s)) for s in slots]
    tids = sorted({t for s in slots for t in s})
    dup_groups = _dup_groups(terms) if terms else None
    on_driver = sum(cttf[t] for t in tids) <= wand.DRIVER_DECODE_MAX_POSTINGS
    dead = None
    if on_driver and index.has_deletes():
        # pending deletes leave by id; a sidecar over its cap keeps the
        # distributed plan and its liveDocs anti-join
        dead = index.deleted_id_array()
        on_driver = dead is not None
    if on_driver:
        got = _match_on_driver(
            index, slots, tids, dead, slop, ordered, window, dup_groups
        )
        if got is not None:
            if debug is not None:
                debug["path"] = "driver"
            return got
    if debug is not None:
        debug["path"] = "distributed"

    col_of = {key: f"_s_{i}" for i, key in enumerate(dict.fromkeys(slots))}
    joined = (
        index.minus_deleted(index.tid_scan("positions", tids))
        .groupBy("docid")
        .agg(
            *[
                F.sort_array(
                    F.collect_list(
                        F.when(F.col("tid").isin(list(key)), F.col("pos"))
                    )
                ).alias(c)
                for key, c in col_of.items()
            ]
        )
        .where(reduce(lambda a, b: a & b, [F.size(c) > 0 for c in col_of.values()]))
    )
    packed = F.array(*[F.col(col_of[s]) for s in slots])
    freq = _freq_udf(slop, ordered, window, dup_groups)(packed)
    return joined.select("docid", freq.cast("int").alias("phrase_freq")).where(
        F.col("phrase_freq") > 0
    )


def _match_on_driver(
    index: Index,
    slots: list[tuple[int, ...]],
    tids: list[int],
    dead: np.ndarray | None,
    slop: int,
    ordered: bool,
    window: bool,
    dup_groups: list[list[int]] | None,
) -> DataFrame | None:
    """The driver venue: ONE shuffle-free scan job fetches the tids'
    raw positions rows as Arrow, `dead` (pending deletes) docids are
    dropped, and `phrase_freqs` runs over docid keys. None when a docid
    falls outside the key's 31-bit id range (an index built from
    caller-supplied docids), which leaves the distributed plan."""
    tbl = index.tid_scan("positions", tids, ("tid", "docid", "pos")).toArrow()
    tid = tbl.column("tid").to_numpy()
    docid = tbl.column("docid").to_numpy()
    pos = tbl.column("pos").to_numpy().astype(np.int64)
    if dead is not None:
        live = ~np.isin(docid, dead)
        tid, docid, pos = tid[live], docid[live], pos[live]
    if docid.size and (docid.min() < 0 or docid.max() >= 1 << 31):
        return None
    key = (docid << _ID_SHIFT) | pos
    # each parquet file is sorted by (tid, docid, pos), so a slot's keys
    # arrive as a few sorted runs, which the stable sort merges
    by_slot = {
        s: np.sort(key[np.isin(tid, s)], kind="stable") for s in set(slots)
    }
    ids, freqs = phrase_freqs(
        [by_slot[s] for s in slots], slop, ordered, window, dup_groups
    )
    return index.spark.createDataFrame(
        pa.table(
            {
                "docid": pa.array(ids, pa.int64()),
                "phrase_freq": pa.array(freqs, pa.int32()),
            }
        )
    )


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
    `max_expansions` like Lucene's rewrite bound), then the flat
    positions scan assembles one array PER SLOT — collect_list over
    `tid IN (slot tids)` unions the expanded terms' positions for free
    — and the ordered/sloppy matchers run unchanged on slot arrays.
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
