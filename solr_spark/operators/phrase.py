"""Positional phrase matching over tokenized text (inline operator).

Role of the reference's phrase queries (parser/SolrQueryParserBase.java:547-554;
needs positions — the OMIT_TF_POSITIONS flag,
solr/core/src/java/org/apache/solr/schema/FieldProperties.java:38).

This is the INLINE form (positions derived on the fly from the token
arrays) used by the driver gate over the `documents` table; the indexed
form reads the index-side positions table instead
(solr_spark/query/positions.py) — the matching algebra
(`phrase_freqs`) is shared, so both forms agree by construction.

Semantics: a phrase occurrence is a strictly increasing position chain
p < q_1 < ... with q_j in term j's positions and every gap <= slop+1
(exact adjacency at slop=0). Ordered: each term must match AFTER the
previous term's matched position. `phrase_freq` = number of matching
start positions — the statistic Lucene's phrase scorer feeds into BM25.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from solr_spark.analysis.analyzer import tokenize_py, tokens_sql
from solr_spark.query.positions import chain_match_count_sql


def term_positions_col(toks: Column, term: str) -> Column:
    """1-based positions of `term` in the token array."""
    return F.filter(
        F.sequence(F.lit(1), F.size(toks)),
        lambda i: F.element_at(toks, i) == term,
    )


def phrase_freq_col(
    toks: Column, terms: list[str], slop: int = 0, ordered: bool = True,
    window: bool = False,
) -> Column:
    """Number of phrase occurrences in the token array.

    One Arrow UDF over the token array: deriving per-term position
    arrays with expression-level filters re-evaluates the (inlined)
    tokenization per array ELEMENT — Catalyst offers no way to pin the
    intermediate (see `_freq_udf`'s note in query/positions.py);
    referencing the token column exactly once keeps it evaluated once
    per row no matter what CollapseProject inlines.

    ordered=False = Lucene-exact edit-budget sloppy semantics
    (query/positions.py `_sloppy_count_anchors`); window=True opts into the
    cheaper window approximation instead.
    """
    return _phrase_freq_from_toks_udf(list(terms), slop, ordered, window)(toks)


def _phrase_freq_from_toks_udf(
    terms: list[str], slop: int, ordered: bool = True, window: bool = False
):
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from solr_spark.query.positions import _dup_groups, row_keys, row_phrase_freqs

    dup_groups = _dup_groups(terms)

    def freq(toks):
        tks = [np.asarray(tk, dtype=object) for tk in toks]
        keys = row_keys([[np.nonzero(tk == t)[0] + 1 for tk in tks] for t in terms])
        return pd.Series(
            row_phrase_freqs(len(tks), keys, slop, ordered, window, dup_groups)
        )

    # real type objects: `from __future__ import annotations` stringifies
    # inline hints, which pandas_udf cannot introspect
    freq.__annotations__ = {"toks": pd.Series, "return": pd.Series}
    return pandas_udf(freq, "int")


def _phrase_freq_batches(
    terms: list[str], slop: int, ordered: bool, window: bool
):
    """mapInArrow body: (docid, text) record batches -> (docid,
    phrase_freq), tokenization AND matching computed with vectorized C
    kernels over the raw Arrow buffers.

    Replaces the JVM regex tokenize + Arrow->pandas conversion (which
    boxes every token into a Python str) + per-row Python matcher with
    one whole-batch pass (guide §4.2): `tokenize_arrow_batch` emits the
    batch's flat token stream (bytes + offsets + row ids), per-term hits
    come from a vectorized length+bytes comparison, and each hit's
    `row << 32 | position` key feeds the shared whole-batch matcher
    (query/positions.py `phrase_freqs`), so no chain step or window can
    cross a row boundary. Bit-identical to the per-row matchers (fuzzed
    in tests; the DuckDB twins pin the gate semantics)."""
    import numpy as np
    import pyarrow as pa

    from solr_spark.analysis.analyzer import tokenize_arrow_batch
    from solr_spark.query.positions import _dup_groups, row_phrase_freqs

    dup_groups = _dup_groups(terms)

    def batches(it):
        for batch in it:
            nrows = batch.num_rows
            docid = batch.column(0)
            if nrows == 0:
                continue
            values, val_off, tok_rows, _, _ = tokenize_arrow_batch(
                batch.column(1)
            )
            ntok = tok_rows.size
            tok_len = np.diff(val_off)
            list_off = np.zeros(nrows + 1, dtype=np.int64)
            np.cumsum(
                np.bincount(tok_rows, minlength=nrows), out=list_off[1:]
            )
            # 1-based position of each token within its row
            pos = np.arange(1, ntok + 1, dtype=np.int64) - list_off[tok_rows]
            key = (tok_rows << 32) | pos
            hits: dict[str, np.ndarray] = {}
            for t in terms:
                if t in hits:
                    continue
                tb = np.frombuffer(t.encode("utf-8"), dtype=np.uint8)
                cand = np.flatnonzero(tok_len == tb.size)
                if cand.size and tb.size:
                    mat = values[
                        val_off[cand][:, None]
                        + np.arange(tb.size, dtype=np.int64)
                    ]
                    cand = cand[(mat == tb).all(axis=1)]
                hits[t] = key[cand]
            counts = row_phrase_freqs(
                nrows, [hits[t] for t in terms], slop, ordered, window,
                dup_groups,
            )
            yield pa.RecordBatch.from_arrays(
                [docid, pa.array(counts, type=pa.int32())],
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
    return out.where(F.col("phrase_freq") > 0).orderBy("docid")


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
