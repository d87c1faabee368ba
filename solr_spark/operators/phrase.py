"""Positional phrase matching over tokenized text (inline operator).

Role of the reference's phrase queries (parser/SolrQueryParserBase.java:547-554;
needs positions — the OMIT_TF_POSITIONS flag,
solr/core/src/java/org/apache/solr/schema/FieldProperties.java:38).

This is the INLINE form (positions derived on the fly from the token
arrays) used by the driver gate over the `documents` table; the indexed
form reads the index-side positions table instead
(solr_spark/query/positions.py) — both hand their flat token or
positions columns to the same entry point (`flat_phrase_freqs`), so the
forms agree by construction.

Semantics: a phrase occurrence is a strictly increasing position chain
p < q_1 < ... with q_j in term j's positions and every gap <= slop+1
(exact adjacency at slop=0). Ordered: each term must match AFTER the
previous term's matched position. `phrase_freq` = number of matching
start positions — the statistic Lucene's phrase scorer feeds into BM25.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from solr_spark.analysis.analyzer import tokenize_py, tokens_sql
from solr_spark.query.positions import (
    _dup_groups, chain_match_count_sql, flat_phrase_freqs,
)


def phrase_freq_col(
    toks: Column, terms: list[str], slop: int = 0, ordered: bool = True,
    window: bool = False,
) -> Column:
    """Number of phrase occurrences in the token array (0 for a null or
    empty one).

    One Arrow UDF over the token column's `ListArray`, flattened into
    the token stream `_token_freqs` matches. A UDF rather than built-in
    expressions: Catalyst inlines single-use projections into lambda
    bodies (CollapseProject) and re-evaluates nested higher-order-
    function subtrees PER ELEMENT, so per-term position arrays derived
    with expression-level filters re-run the (inlined) tokenization per
    array element, and an expression-level DP goes exponential in
    phrase length (measured: 2 head terms over 300 docs already took
    >60 s). Referencing the token column exactly once keeps it
    evaluated once per row no matter what CollapseProject inlines.

    ordered=False = Lucene-exact edit-budget sloppy semantics
    (query/positions.py `_sloppy_count_anchors`); window=True opts into the
    cheaper window approximation instead.
    """
    from pyspark.sql.functions import arrow_udf

    terms = list(terms)

    def freq(toks):
        rows = toks.value_parent_indices().to_numpy()
        off = toks.offsets.to_numpy()
        # 1-based position of each token within its row
        pos = np.arange(1, rows.size + 1) - (off[rows] - off[0])
        got, freqs = _token_freqs(
            toks.flatten(), rows, pos, terms, slop, ordered, window
        )
        out = np.zeros(len(toks), dtype=np.int32)
        out[got] = freqs
        return pa.array(out)

    # real type objects: `from __future__ import annotations` stringifies
    # inline hints, which arrow_udf cannot introspect
    freq.__annotations__ = {"toks": pa.Array, "return": pa.Array}
    return arrow_udf(freq, "int")(toks)


def _token_freqs(
    tokens: pa.Array, rows: np.ndarray, pos: np.ndarray, terms: list[str],
    slop: int, ordered: bool, window: bool,
) -> tuple[np.ndarray, np.ndarray]:
    """(rows, phrase_freq) of the rows of a flat token stream where the
    phrase matches: token i sits at `pos[i]` of row `rows[i]`. Its slot
    key is its term's code (the index among the distinct phrase terms,
    -1 for any other token), one hashed lookup per token, and
    `flat_phrase_freqs` keys it by row, so no chain step or window can
    cross a row boundary."""
    uniq = list(dict.fromkeys(terms))
    code = (
        pc.index_in(tokens, value_set=pa.array(uniq, tokens.type))
        .fill_null(-1)
        .to_numpy()
    )
    return flat_phrase_freqs(
        code, rows, pos, [(uniq.index(t),) for t in terms], slop, ordered,
        window, _dup_groups(terms),
    )


def _phrase_freq_batches(
    terms: list[str], slop: int, ordered: bool, window: bool
):
    """mapInArrow body: (docid, text) record batches -> (docid,
    phrase_freq) of the matching docs, tokenization AND matching
    computed with vectorized C kernels over the raw Arrow buffers.

    Replaces the JVM regex tokenize + Arrow->pandas conversion (which
    boxes every token into a Python str) + per-row Python matcher with
    one whole-batch pass (guide §4.2): `tokenize_arrow_batch` emits the
    batch's flat token stream (bytes + offsets + row ids), which is
    wrapped as an Arrow string array without a copy and matched by
    `_token_freqs`. Bit-identical to the per-row matchers (fuzzed in
    tests; the DuckDB twins pin the gate semantics)."""
    from solr_spark.analysis.analyzer import tokenize_arrow_batch

    def batches(it):
        for batch in it:
            nrows = batch.num_rows
            if nrows == 0:
                continue
            values, val_off, tok_rows, _, _ = tokenize_arrow_batch(
                batch.column(1)
            )
            ntok = tok_rows.size
            list_off = np.zeros(nrows + 1, dtype=np.int64)
            np.cumsum(
                np.bincount(tok_rows, minlength=nrows), out=list_off[1:]
            )
            # 1-based position of each token within its row
            pos = np.arange(1, ntok + 1, dtype=np.int64) - list_off[tok_rows]
            tokens = pa.Array.from_buffers(
                pa.large_string(), ntok,
                [None, pa.py_buffer(val_off), pa.py_buffer(values)],
            )
            rows, freqs = _token_freqs(
                tokens, tok_rows, pos, terms, slop, ordered, window
            )
            yield pa.RecordBatch.from_arrays(
                [batch.column(0).take(rows), pa.array(freqs, pa.int32())],
                ["docid", "phrase_freq"],
            )

    return batches


def phrase_match(
    docs: DataFrame,
    phrase: str,
    id_col: str = "docid",
    text_col: str = "content",
    slop: int = 0,
    ordered: bool = True,
    window: bool = False,
) -> DataFrame:
    """(docid, phrase_freq) for docs containing the analyzed phrase.

    ordered=False switches to Lucene's exact edit-budget unordered
    semantics (query/positions.py `_sloppy_count_anchors`); window=True opts
    into the cheaper window approximation instead."""
    terms = tokenize_py(phrase)
    if not terms:
        return docs.sparkSession.createDataFrame([], "docid long, phrase_freq int")
    # JVM-side candidate prefilter: the analysis chain only INSERTS
    # token boundaries (fused-split) and lowercases — it never merges or
    # rewrites characters — so every emitted token is a contiguous
    # substring of lower(text). A doc lacking any term as a substring
    # cannot match the phrase; the contains() conjunction runs inside
    # the scan stage and keeps the expensive tokenize + Arrow transfer
    # + position scan to candidate docs only (bench: q_phrase_inline
    # 6.97 s -> see BENCH/BASELINE.md round-5 table).
    lowered = F.lower(F.col(text_col))
    cand = docs
    for t in set(terms):
        cand = cand.where(lowered.contains(t))
    # Round-6 measured REVERT of a JVM-side position-extraction variant
    # (posexplode + isin + collect_list feeding the shared matchers):
    # that shape pays a full-corpus Generate plus a shuffle, while this
    # one has ZERO exchanges before the final sort — the scan-stage
    # contains() prefilter plus ONE Python-boundary pass over the
    # candidate docs. Interleaved same-window A/B on the 200k bench
    # corpus ("json parser", n=182,428 identical both ways): this shape
    # best 5.0 s vs 8.1 s for the exploded variant (guide §1.2: the
    # job's distributed shape beats shrinking the Python transfer).
    # raw text crosses the boundary and ONE whole-batch Arrow pass
    # tokenizes (tokenize_arrow_batch) and matches — no JVM regex
    # tokenize, no per-token boxing (measured on the bench corpus: the
    # JVM regexp tokenize alone was ~4.9 s of the 5.4 s line)
    d = cand.select(F.col(id_col).cast("long").alias("docid"), F.col(text_col))
    out = d.mapInArrow(
        _phrase_freq_batches(terms, slop, ordered, window),
        schema="docid long, phrase_freq int",
    )
    return out.orderBy("docid")


def phrase_match_sql(
    phrase: str, slop: int = 0, ordered: bool = True, window: bool = False
) -> str:
    """DuckDB twin over the `documents` view (same matching algebra as
    phrase_match for each mode). The exact sloppy twin covers
    distinct-term phrases only (repeated terms need the distinctness
    assignment list lambdas cannot express)."""
    from solr_spark.query.positions import (
        sloppy_match_count_sql,
        window_match_count_sql,
    )

    terms = tokenize_py(phrase)
    pos_exprs = [
        f"[i FOR i IN range(1, len(toks) + 1) IF toks[i] = '{t}']" for t in terms
    ]
    if ordered:
        freq = chain_match_count_sql(pos_exprs, slop)
    elif window:
        freq = window_match_count_sql(pos_exprs, slop)
    else:
        if len(set(terms)) != len(terms):
            raise ValueError(
                "exact sloppy SQL twin requires distinct phrase terms"
            )
        freq = sloppy_match_count_sql(pos_exprs, slop)
    return f"""
WITH toks AS (SELECT doc_id AS docid, {tokens_sql('text')} AS toks FROM documents),
hits AS (SELECT docid, ({freq}) AS phrase_freq FROM toks)
SELECT docid, phrase_freq::INT AS phrase_freq FROM hits
WHERE phrase_freq > 0 ORDER BY docid
"""
