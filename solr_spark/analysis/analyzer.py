"""The analysis chain — one definition, three executable forms.

Reimplements (from public behavior, not code) the reference's default
code-friendly text analysis: Solr's `text_general` index chain
(standard tokenize -> lowercase; empty stopword set in the `_default`
configset) plus the word-delimiter-graph splitting rules its
`text_en_splitting` type turns on (`splitOnCaseChange=1,
generateWordParts=1, generateNumberParts=1`; ref
solr/server/solr/configsets/_default/conf/managed-schema.xml:295-311,390-423,
solr/core/src/java/org/apache/solr/analysis/TokenizerChain.java).

The chain, applied identically at index and query time (Solr allows
index/query analyzers to differ — FieldTypePluginLoader.java:82-128 — we
deliberately keep them identical):

1. split at acronym boundary:   "HTTPServer"  -> "HTTP Server"
2. split at case change:        "camelCase"   -> "camel Case"
3. split at letter->digit:      "utf8"        -> "utf 8"
4. split at digit->letter:      "2x"          -> "2 x"
5. lowercase
6. tokenize on runs of [^a-z0-9], dropping empties

Rules 1-6 are pure regex, so the SAME chain runs as:
- a JVM-side Spark Column expression (`tokens_col`) — no Python in the
  hot path, stays inside whole-stage codegen;
- a plain Python function (`tokenize_py`) — used by the NumPy oracle;
- a DuckDB SQL expression (`tokens_sql`) — used by the driver's
  correctness oracle.
Parity of the three forms is asserted by tests/test_analyzer.py.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

# (pattern, java_replacement, re_replacement) — patterns are engine-portable
# (no lookarounds, no unicode classes); replacement syntax differs per engine.
_SPLIT_RULES: list[tuple[str, str, str]] = [
    (r"([A-Z]+)([A-Z][a-z])", r"$1 $2", r"\1 \2"),
    (r"([a-z0-9])([A-Z])", r"$1 $2", r"\1 \2"),
    (r"([A-Za-z])([0-9])", r"$1 $2", r"\1 \2"),
    (r"([0-9])([A-Za-z])", r"$1 $2", r"\1 \2"),
]
_TOKEN_SEP = r"[^a-z0-9]+"

_PY_RULES = [(re.compile(p), r) for p, _, r in _SPLIT_RULES]
_PY_SEP = re.compile(_TOKEN_SEP)


# Single-pass fused form of the four split rules for the Spark hot path.
# Java regex supports lookahead (RE2/DuckDB does not, so the SQL twin keeps
# the 4-pass form): insert a space AFTER any char at a split boundary. The
# rules only inspect 1-2 chars of right context, so simultaneous single-pass
# application equals sequential 4-pass application (fuzz-tested vs
# tokenize_py in tests/test_analyzer.py).
_FUSED_SPLIT = (
    r"([a-z0-9](?=[A-Z])"          # case change
    r"|[A-Z](?=[A-Z][a-z])"        # acronym boundary
    r"|[A-Za-z](?=[0-9])"          # letter->digit
    r"|[0-9](?=[A-Za-z]))"         # digit->letter
)


def tokens_col(col: Column | str) -> Column:
    """Analysis chain as a Spark Column -> array<string> (JVM-side only)."""
    c = F.col(col) if isinstance(col, str) else col
    c = F.regexp_replace(c, _FUSED_SPLIT, r"$1 ")
    return F.filter(F.split(F.lower(c), _TOKEN_SEP), lambda x: x != "")


def tokenize_py(text: str) -> list[str]:
    """Same chain in pure Python (oracle / query-side driver use)."""
    s = text
    for pat, repl in _PY_RULES:
        s = pat.sub(repl, s)
    return [t for t in _PY_SEP.split(s.lower()) if t]


def _np_tables():
    """Byte-class and lowercase lookup tables for the vectorized form
    (built lazily so the module keeps zero numpy cost for pure-driver
    imports)."""
    import numpy as np

    cls = np.zeros(256, dtype=np.uint8)
    cls[ord("a"):ord("z") + 1] = 1
    cls[ord("A"):ord("Z") + 1] = 2
    cls[ord("0"):ord("9") + 1] = 3
    lower = np.arange(256, dtype=np.uint8)
    lower[ord("A"):ord("Z") + 1] += 32
    return cls, lower


_NP_TABLES = None


def tokenize_arrow_batch(col):
    """The SAME chain as `tokens_col`/`tokenize_py`, vectorized over one
    Arrow string array (a fourth executable form, used inside mapInArrow
    bodies — guide §4.2: whole-batch native kernels instead of the JVM
    regex or per-row Python).

    Returns (values, val_off, tok_rows, nrows, null_rows):
      values   - uint8 numpy buffer of all token bytes, lowercased,
                 tokens juxtaposed in (row, position) order
      val_off  - int64 numpy array (n_tokens+1): token i occupies
                 values[val_off[i]:val_off[i+1]]
      tok_rows - int64 numpy array: row index of token i (non-decreasing)
      nrows    - number of rows in the batch
      null_rows- int64 indexes of NULL input rows (no tokens; callers
                 must preserve null-ness to match tokens_col(null)=null)

    Exactness: the chain is pure ASCII character-class logic, so the four
    split rules + lowercase + separator split are computed byte-level on
    the flat utf8 buffer (class runs with boundary masks — no regex, no
    per-row Python, no per-token objects). The 1-2 byte lookaheads never
    read across a row edge (the one cross-row artifact, the acronym
    rule's 2-byte lookahead, is cleared surgically; row edges always
    split tokens). Rows containing any non-ASCII byte take a per-row
    `tokenize_py` fallback spliced into the stream — on such text the
    byte-level class map cannot reproduce unicode lowercasing, and the
    fallback keeps the tested tokens_col == tokenize_py parity exactly.
    """
    import numpy as np
    import pyarrow as pa

    global _NP_TABLES
    if _NP_TABLES is None:
        _NP_TABLES = _np_tables()
    _cls_tbl, _lower_tbl = _NP_TABLES

    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    if pa.types.is_dictionary(col.type):
        col = col.dictionary_decode()
    if pa.types.is_string_view(col.type):
        # no string_view -> string cast kernel in pyarrow 16; Spark does
        # not emit views, so the per-row rebuild is a guard, not a path
        col = pa.array(col.to_pylist(), pa.large_string())
    if not (pa.types.is_string(col.type) or pa.types.is_large_string(col.type)):
        raise TypeError(f"tokenize_arrow_batch needs a string column, got {col.type}")
    nrows = len(col)
    empty = (
        np.zeros(0, dtype=np.uint8),
        np.zeros(1, dtype=np.int64),
        np.zeros(0, dtype=np.int64),
        nrows,
        np.zeros(0, dtype=np.int64),
    )
    if nrows == 0:
        return empty
    if col.null_count:
        null_rows = np.flatnonzero(
            ~np.asarray(col.is_valid(), dtype=bool)
        ).astype(np.int64)
        col = col.fill_null("")
    else:
        null_rows = np.zeros(0, dtype=np.int64)
    off_buf = col.buffers()[1]
    odt = np.int64 if pa.types.is_large_string(col.type) else np.int32
    row_off = np.frombuffer(off_buf, dtype=odt)[
        col.offset:col.offset + nrows + 1
    ].astype(np.int64)
    data_buf = col.buffers()[2]
    if data_buf is None:  # only empty strings and nulls: no data buffer
        return empty[:3] + (nrows, null_rows)
    data = np.frombuffer(data_buf, dtype=np.uint8)
    lo = int(row_off[0])
    buf = data[lo:int(row_off[-1])]
    row_starts = row_off - lo
    n = buf.size
    if n == 0:
        return empty[:3] + (nrows, null_rows)

    cls = _cls_tbl[buf]
    alnum = cls != 0
    b = np.zeros(n, dtype=bool)  # b[i] = token boundary BEFORE byte i
    if n > 1:
        c0, c1 = cls[:-1], cls[1:]
        bnd = (
            (((c0 == 1) | (c0 == 3)) & (c1 == 2))      # low/digit -> upper
            | (((c0 == 1) | (c0 == 2)) & (c1 == 3))    # letter -> digit
            | ((c0 == 3) & ((c1 == 1) | (c1 == 2)))    # digit -> letter
        )
        if n > 2:
            # acronym rule: boundary before the LAST upper of a UU...Ul run
            acr = (cls[:-2] == 2) & (cls[1:-1] == 2) & (cls[2:] == 1)
            bnd[:-1] |= acr
        b[1:] = bnd
    interior = row_starts[1:-1]
    interior = interior[(interior > 0) & (interior < n)]
    if interior.size:
        # cross-row artifact: the acronym rule writing b[r-1] always
        # reads cls[r] (the NEXT row's first byte) — recompute b[r-1]
        # from the pair rules alone, whose operands (r-2, r-1) are
        # fully in-row; then force the row-edge split itself
        far = interior[interior >= 2]
        if far.size:
            p = far - 2
            b[far - 1] = (
                (((cls[p] == 1) | (cls[p] == 3)) & (cls[p + 1] == 2))
                | (((cls[p] == 1) | (cls[p] == 2)) & (cls[p + 1] == 3))
                | ((cls[p] == 3) & ((cls[p + 1] == 1) | (cls[p + 1] == 2)))
            )
        b[interior] = True  # row edges always split tokens
    prev_alnum = np.zeros(n, dtype=bool)
    prev_alnum[1:] = alnum[:-1]
    next_alnum = np.zeros(n, dtype=bool)
    next_alnum[:-1] = alnum[1:]
    b_next = np.zeros(n, dtype=bool)
    b_next[:-1] = b[1:]
    s_idx = np.flatnonzero(alnum & (~prev_alnum | b))
    e_idx = np.flatnonzero(alnum & (~next_alnum | b_next)) + 1
    tok_rows = np.searchsorted(row_starts, s_idx, side="right") - 1
    # tokens are maximal alnum runs split at boundaries, so the token
    # bytes in stream order are EXACTLY the alnum bytes in buffer order
    values = _lower_tbl[buf[alnum]]
    val_off = np.zeros(s_idx.size + 1, dtype=np.int64)
    np.cumsum(e_idx - s_idx, out=val_off[1:])

    # non-ASCII rows: per-row exact fallback, spliced into the stream
    hi = np.flatnonzero(buf >= 0x80)
    if hi.size:
        bad = np.unique(
            np.searchsorted(row_starts, hi, side="right") - 1
        )
        values, val_off, tok_rows = _splice_py_rows(
            col, values, val_off, tok_rows, bad, nrows
        )
    return values, val_off, tok_rows, nrows, null_rows


def _splice_py_rows(col, values, val_off, tok_rows, bad, nrows):
    """Replace `bad` rows' tokens in the (values, val_off, tok_rows)
    stream with tokenize_py output (exact unicode semantics). O(total
    bytes) splice; `bad` is expected rare."""
    import numpy as np

    keep = ~np.isin(tok_rows, bad)
    # byte-keep mask expanded from token-keep mask
    lens = np.diff(val_off)
    byte_keep = np.repeat(keep, lens)
    py_toks: dict[int, list[bytes]] = {
        int(r): [
            t.encode("utf-8") for t in tokenize_py(col[int(r)].as_py())
        ]
        for r in bad
    }
    seg_vals: list = []
    seg_lens: list = []
    seg_rows: list = []
    kept_rows = tok_rows[keep]
    kept_lens = lens[keep]
    kept_bytes = values[byte_keep]
    kept_byte_off = np.zeros(kept_lens.size + 1, dtype=np.int64)
    np.cumsum(kept_lens, out=kept_byte_off[1:])
    bounds = np.searchsorted(kept_rows, np.concatenate([bad, [nrows]]))
    prev_tok = 0
    for i, r in enumerate(bad):
        cut = bounds[i]
        if cut > prev_tok:
            seg_vals.append(
                kept_bytes[kept_byte_off[prev_tok]:kept_byte_off[cut]]
            )
            seg_lens.append(kept_lens[prev_tok:cut])
            seg_rows.append(kept_rows[prev_tok:cut])
        toks = py_toks[int(r)]
        if toks:
            seg_vals.append(
                np.frombuffer(b"".join(toks), dtype=np.uint8)
            )
            seg_lens.append(
                np.fromiter((len(t) for t in toks), dtype=np.int64,
                            count=len(toks))
            )
            seg_rows.append(np.full(len(toks), int(r), dtype=np.int64))
        prev_tok = cut
    if prev_tok < kept_rows.size:
        seg_vals.append(kept_bytes[kept_byte_off[prev_tok]:])
        seg_lens.append(kept_lens[prev_tok:])
        seg_rows.append(kept_rows[prev_tok:])
    values = (
        np.concatenate(seg_vals) if seg_vals
        else np.zeros(0, dtype=np.uint8)
    )
    all_lens = (
        np.concatenate(seg_lens) if seg_lens
        else np.zeros(0, dtype=np.int64)
    )
    tok_rows = (
        np.concatenate(seg_rows) if seg_rows
        else np.zeros(0, dtype=np.int64)
    )
    val_off = np.zeros(all_lens.size + 1, dtype=np.int64)
    np.cumsum(all_lens, out=val_off[1:])
    return values, val_off, tok_rows


def tokens_sql(col_expr: str) -> str:
    """Same chain as a DuckDB SQL expression producing VARCHAR[].

    `col_expr` is any SQL expression of type VARCHAR.
    """
    e = col_expr
    for pat, _, re_repl in _SPLIT_RULES:
        e = f"regexp_replace({e}, '{pat}', '{re_repl}', 'g')"
    return (
        f"list_filter(regexp_split_to_array(lower({e}), '{_TOKEN_SEP}'),"
        f" _tok -> _tok <> '')"
    )


# ---- optional filter stages (same three-form contract) ----
#
# Roles of StopFilterFactory and SynonymGraphFilterFactory in the
# reference's analysis chains (managed-schema.xml text_en types; filter
# classes are public Lucene behavior). Both are OPTIONAL stages layered
# over the base chain — the default chain stays filter-free (the
# `_default` configset ships an empty stopword set), so every existing
# index/oracle is unchanged. Synonyms come in two forms: the
# single-token canonical mapping (a -> b) below, and the multi-token
# graph expansion (`synonym_graph_*`, further down) for the
# position-changing case.


_WS = r"\s+"
_LD_SPLITS = [(r"([a-z])([0-9])", r"\1 \2"), (r"([0-9])([a-z])", r"\1 \2")]


def tokens_catenate_col(col: Column | str) -> Column:
    """Base chain + WDGF catenation (index-side `catenateWords=1
    catenateNumbers=1`, ref managed-schema.xml:402): per
    whitespace-delimited chunk, emit the subword parts PLUS the
    catenated maximal letter-runs and digit-runs ("Wi-Fi" -> wi, fi,
    wifi) — skipping catenations identical to an existing part, the
    Lucene behavior for single-part runs. The reference pairs this
    index-side chain with a catenate-free QUERY chain (index != query
    analyzer asymmetry); `Index.analyze` preserves that by never
    catenating. All regexes are RE2-safe so the DuckDB twin matches."""
    c = F.col(col) if isinstance(col, str) else col
    chunks = F.filter(F.split(c, _WS), lambda x: x != "")

    def per_chunk(ch):
        parts = F.filter(
            F.split(
                F.lower(F.regexp_replace(ch, _FUSED_SPLIT, r"$1 ")), _TOKEN_SEP
            ),
            lambda x: x != "",
        )
        joined = F.regexp_replace(F.lower(ch), "[^a-z0-9]", "")
        runs = joined
        for pat, rep in _LD_SPLITS:
            runs = F.regexp_replace(runs, pat, rep.replace("\\1", "$1").replace("\\2", "$2"))
        runs = F.filter(F.split(runs, " "), lambda x: x != "")
        extras = F.filter(runs, lambda r: ~F.array_contains(parts, r))
        return F.concat(parts, extras)

    return F.flatten(F.transform(chunks, per_chunk))


def tokenize_catenate_py(text: str) -> list[str]:
    out: list[str] = []
    for ch in re.split(_WS, text):
        if not ch:
            continue
        parts = tokenize_py(ch)
        joined = re.sub("[^a-z0-9]", "", ch.lower())
        for pat, rep in _LD_SPLITS:
            joined = re.sub(pat, rep, joined)
        runs = [r for r in joined.split(" ") if r]
        out.extend(parts)
        out.extend(r for r in runs if r not in parts)
    return out


def tokens_catenate_sql(col_expr: str) -> str:
    part_e = tokens_sql("_ck")
    joined = "regexp_replace(lower(_ck), '[^a-z0-9]', '', 'g')"
    for pat, rep in _LD_SPLITS:
        joined = f"regexp_replace({joined}, '{pat}', '{rep}', 'g')"
    runs = f"list_filter(regexp_split_to_array({joined}, ' '), _r -> _r <> '')"
    per = (
        f"list_concat({part_e},"
        f" list_filter({runs}, _r -> NOT list_contains({part_e}, _r)))"
    )
    chunks = (
        f"list_filter(regexp_split_to_array({col_expr}, '{_WS}'),"
        f" _ck -> _ck <> '')"
    )
    return f"flatten(list_transform({chunks}, _ck -> {per}))"


def stop_filter_col(toks: Column, stopwords: list[str]) -> Column:
    """Drop stopwords from a token array (JVM-side)."""
    if not stopwords:
        return toks
    return F.filter(toks, lambda t: ~t.isin(*stopwords))


def stop_filter_py(toks: list[str], stopwords: list[str]) -> list[str]:
    sw = set(stopwords)
    return [t for t in toks if t not in sw]


def stop_filter_sql(expr: str, stopwords: list[str]) -> str:
    if not stopwords:
        return expr
    inlist = ",".join(f"'{w}'" for w in stopwords)
    return f"list_filter({expr}, _sf -> _sf NOT IN ({inlist}))"


def synonym_filter_col(toks: Column, mapping: dict[str, str]) -> Column:
    """Map each token to its canonical synonym (JVM-side)."""
    if not mapping:
        return toks
    m = F.create_map(
        *[x for k, v in sorted(mapping.items()) for x in (F.lit(k), F.lit(v))]
    )
    return F.transform(toks, lambda t: F.coalesce(m[t], t))


def synonym_filter_py(toks: list[str], mapping: dict[str, str]) -> list[str]:
    return [mapping.get(t, t) for t in toks]


def synonym_filter_sql(expr: str, mapping: dict[str, str]) -> str:
    if not mapping:
        return expr
    cases = " ".join(
        f"WHEN _sy = '{k}' THEN '{v}'" for k, v in sorted(mapping.items())
    )
    return f"list_transform({expr}, _sy -> CASE {cases} ELSE _sy END)"


# Multi-token synonym graph (SynonymGraphFilterFactory with expansions,
# ref managed-schema.xml text_en query chains; public Lucene behavior):
# one token expands to a multi-token sequence in place ("ml" ->
# "machine learning"). This is the position-changing form the 1:1
# canonical mapping above cannot express; downstream doclen/BM25 see
# the expanded stream, matching Lucene's graph flattening at index
# time. Expansions are applied one pass (no recursive re-expansion).


def synonym_graph_col(toks: Column, graph: dict[str, list[str]]) -> Column:
    if not graph:
        return toks
    m = F.create_map(
        *[
            x
            for k, vs in sorted(graph.items())
            for x in (F.lit(k), F.array(*[F.lit(v) for v in vs]))
        ]
    )
    return F.flatten(F.transform(toks, lambda t: F.coalesce(m[t], F.array(t))))


def synonym_graph_py(toks: list[str], graph: dict[str, list[str]]) -> list[str]:
    out: list[str] = []
    for t in toks:
        out.extend(graph.get(t, [t]))
    return out


def synonym_graph_sql(expr: str, graph: dict[str, list[str]]) -> str:
    if not graph:
        return expr
    cases = " ".join(
        "WHEN _sg = '{}' THEN [{}]".format(
            k, ",".join(f"'{v}'" for v in vs)
        )
        for k, vs in sorted(graph.items())
    )
    return (
        f"flatten(list_transform({expr},"
        f" _sg -> CASE {cases} ELSE [_sg] END))"
    )


# ASCII folding (ASCIIFoldingFilterFactory, Lucene ASCIIFoldingFilter —
# public behavior; ref default schemas expose it as text_general_rev /
# folding variants): accented Latin chars fold to their ASCII base,
# ligatures and special letters expand (AE/ae/OE/oe/ss/TH/th/D/d). The
# 1:1 page is a translate() table (same builtin in Spark, DuckDB and
# Python) and the expansions a short replace chain — all three forms
# share these two module-level tables so they cannot drift.

_FOLD_FROM = (
    "ÀÁÂÃÄÅÈÉÊËÌÍÎÏÒÓÔÕÖØÙÚÛÜÝÇÑ"
    "àáâãäåèéêëìíîïòóôõöøùúûüýÿçñ"
    "ĀāĂăĄąĆćĈĉĊċČčĎďĒēĔĕĖėĘęĚěĜĝĞğĠġĢģĤĥĨĩĪīĬĭĮįİı"
    "ĴĵĶķĹĺĻļĽľŁłŃńŅņŇňŌōŎŏŐőŔŕŖŗŘřŚśŜŝŞşŠšŢţŤťŨũŪūŬŭŮůŰűŲų"
    "ŴŵŶŷŸŹźŻżŽž"
)
_FOLD_TO = (
    "AAAAAAEEEEIIIIOOOOOOUUUUYCN"
    "aaaaaaeeeeiiiioooooouuuuyycn"
    "AaAaAaCcCcCcCcDdEeEeEeEeEeGgGgGgGgHhIiIiIiIiIi"
    "JjKkLlLlLlLlNnNnNnOoOoOoRrRrRrSsSsSsSsTtTtUuUuUuUuUuUu"
    "WwYyYZzZzZz"
)
assert len(_FOLD_FROM) == len(_FOLD_TO)
_FOLD_EXPAND = [
    ("Æ", "AE"), ("æ", "ae"), ("Œ", "OE"), ("œ", "oe"),
    ("ß", "ss"), ("Þ", "TH"), ("þ", "th"), ("Ð", "D"), ("ð", "d"),
]


def ascii_fold_str_col(c: Column) -> Column:
    """String-level fold — the CHAR-FILTER position. Because this
    engine's tokenizer charset is ASCII ([^a-z0-9] separates), folding
    must run BEFORE tokenization (Solr's MappingCharFilter slot) or
    accented chars split tokens apart ("café" -> "caf"); Lucene can
    afford ASCIIFoldingFilter as a token filter only because
    StandardTokenizer keeps Unicode letters together."""
    for a, b in _FOLD_EXPAND:
        c = F.replace(c, F.lit(a), F.lit(b))
    return F.translate(c, _FOLD_FROM, _FOLD_TO)


def ascii_fold_str_py(s: str) -> str:
    for a, b in _FOLD_EXPAND:
        s = s.replace(a, b)
    return s.translate(str.maketrans(_FOLD_FROM, _FOLD_TO))


def ascii_fold_str_sql(expr: str) -> str:
    inner = expr
    for a, b in _FOLD_EXPAND:
        inner = f"replace({inner}, '{a}', '{b}')"
    return f"translate({inner}, '{_FOLD_FROM}', '{_FOLD_TO}')"


def ascii_fold_col(toks: Column) -> Column:
    """Token-array form (post-tokenize); see ascii_fold_str_col for why
    the builder chain uses the string form instead."""
    return F.transform(toks, ascii_fold_str_col)


def ascii_fold_py(toks: list[str]) -> list[str]:
    return [ascii_fold_str_py(t) for t in toks]


def ascii_fold_sql(expr: str) -> str:
    return f"list_transform({expr}, _af -> {ascii_fold_str_sql('_af')})"


# Token length bounds (LengthFilterFactory, min/max inclusive —
# solr/core default schemas gate suggest fields with it)


def length_filter_col(toks: Column, min_len: int, max_len: int) -> Column:
    return F.filter(
        toks,
        lambda t: (F.length(t) >= min_len) & (F.length(t) <= max_len),
    )


def length_filter_py(toks: list[str], min_len: int, max_len: int) -> list[str]:
    return [t for t in toks if min_len <= len(t) <= max_len]


def length_filter_sql(expr: str, min_len: int, max_len: int) -> str:
    return (
        f"list_filter({expr}, _lf -> len(_lf) >= {min_len}"
        f" AND len(_lf) <= {max_len})"
    )


# Edge n-grams (EdgeNGramFilterFactory — the autocomplete/suggester
# index shape): each token emits its prefixes of length
# min_gram..min(max_gram, len); tokens shorter than min_gram emit
# nothing (preserveOriginal=false, the factory default). Index-side
# only — the query side matches its literal prefix against the grams.


def edge_ngram_col(toks: Column, min_gram: int, max_gram: int) -> Column:
    return F.flatten(
        F.transform(
            toks,
            lambda t: F.transform(
                F.filter(
                    F.sequence(F.lit(min_gram), F.lit(max_gram)),
                    lambda n: n <= F.length(t),
                ),
                lambda n: t.substr(F.lit(1), n),
            ),
        )
    )


def edge_ngram_py(toks: list[str], min_gram: int, max_gram: int) -> list[str]:
    return [
        t[:n]
        for t in toks
        for n in range(min_gram, max_gram + 1)
        if n <= len(t)
    ]


def edge_ngram_sql(expr: str, min_gram: int, max_gram: int) -> str:
    return (
        f"flatten(list_transform({expr}, _t -> "
        f"list_transform(list_filter(range({min_gram}, {max_gram + 1}),"
        f" _n -> _n <= len(_t)), _n -> substr(_t, 1, _n))))"
    )


# Shingles (ShingleFilterFactory): word n-grams across adjacent
# positions; outputUnigrams=true (the factory default) keeps the
# original tokens and appends the shingles. The reference interleaves
# by position; tf/df counting is order-independent, and the positions
# index is built from the pre-shingle stream, so append order is the
# faithful-and-cheaper Spark shape.


def shingle_col(
    toks: Column, size: int = 2, sep: str = " ", output_unigrams: bool = True
) -> Column:
    n = F.size(toks)
    count = F.greatest(n - F.lit(size - 1), F.lit(0))
    sh = F.transform(
        F.slice(toks, 1, count),
        lambda t, i: F.concat_ws(
            sep, *[F.element_at(toks, i + F.lit(j + 1)) for j in range(size)]
        ),
    )
    return F.concat(toks, sh) if output_unigrams else sh


def shingle_py(
    toks: list[str], size: int = 2, sep: str = " ", output_unigrams: bool = True
) -> list[str]:
    sh = [sep.join(toks[i : i + size]) for i in range(len(toks) - size + 1)]
    return toks + sh if output_unigrams else sh


def shingle_sql(
    expr: str, size: int = 2, sep: str = " ", output_unigrams: bool = True
) -> str:
    parts = " || '{}' || ".format(sep).join(
        f"({expr})[_i + {j}]" for j in range(size)
    )
    sh = (
        f"list_transform(range(1, greatest(len({expr}) - {size - 1}, 0) + 1),"
        f" _i -> {parts})"
    )
    return f"list_concat({expr}, {sh})" if output_unigrams else sh


# ---- analysis filter tranche 2 (round 4) --------------------------------
# PatternReplace / KeepWord / NGram / Truncate / RemoveDuplicates /
# ReverseString token filters (solr/core/src/java/org/apache/solr/analysis
# and the Lucene factories the default schemas reference). Same
# three-form contract as the tranche-1 filters: a Catalyst Column form
# (JVM, used in builds), a pure-Python form (row-level parity), and a
# DuckDB SQL form (oracle twin). Patterns are restricted to the
# Java/RE2-common subset (no backrefs/lookaround) so the Spark and
# DuckDB regex engines agree.


def pattern_replace_col(toks: Column, pattern: str, repl: str) -> Column:
    return F.transform(toks, lambda t: F.regexp_replace(t, pattern, repl))


def pattern_replace_py(toks: list[str], pattern: str, repl: str) -> list[str]:
    import re as _re

    return [_re.sub(pattern, repl, t) for t in toks]


def pattern_replace_sql(expr: str, pattern: str, repl: str) -> str:
    return (
        f"list_transform({expr}, _t -> "
        f"regexp_replace(_t, '{pattern}', '{repl}', 'g'))"
    )


def keep_word_col(toks: Column, words: list[str]) -> Column:
    return F.filter(toks, lambda t: t.isin(*words))


def keep_word_py(toks: list[str], words: list[str]) -> list[str]:
    keep = set(words)
    return [t for t in toks if t in keep]


def keep_word_sql(expr: str, words: list[str]) -> str:
    lst = ", ".join(f"'{w}'" for w in words)
    return f"list_filter({expr}, _t -> _t IN ({lst}))"


# NGramFilter: every substring of length min_gram..max_gram, emitted by
# start offset then gram length (the Lucene 4.4+ stream order).


def ngram_col(toks: Column, min_gram: int, max_gram: int) -> Column:
    return F.flatten(
        F.transform(
            toks,
            lambda t: F.flatten(
                F.transform(
                    F.sequence(F.lit(1), F.greatest(F.length(t), F.lit(1))),
                    lambda p: F.transform(
                        F.filter(
                            F.sequence(F.lit(min_gram), F.lit(max_gram)),
                            lambda n: p + n - 1 <= F.length(t),
                        ),
                        lambda n: t.substr(p, n),
                    ),
                )
            ),
        )
    )


def ngram_py(toks: list[str], min_gram: int, max_gram: int) -> list[str]:
    return [
        t[p : p + n]
        for t in toks
        for p in range(len(t))
        for n in range(min_gram, max_gram + 1)
        if p + n <= len(t)
    ]


def ngram_sql(expr: str, min_gram: int, max_gram: int) -> str:
    return (
        f"flatten(list_transform({expr}, _t -> "
        f"flatten(list_transform(range(1, greatest(len(_t), 1) + 1), _p -> "
        f"list_transform(list_filter(range({min_gram}, {max_gram + 1}), "
        f"_n -> _p + _n - 1 <= len(_t)), _n -> substr(_t, _p, _n))))))"
    )


def truncate_filter_col(toks: Column, n: int) -> Column:
    return F.transform(toks, lambda t: t.substr(F.lit(1), F.lit(n)))


def truncate_filter_py(toks: list[str], n: int) -> list[str]:
    return [t[:n] for t in toks]


def truncate_filter_sql(expr: str, n: int) -> str:
    return f"list_transform({expr}, _t -> substr(_t, 1, {n}))"


# RemoveDuplicates: the reference drops a token equal to another token
# at the SAME position (posInc 0 stacking). In a flat token stream,
# stacked duplicates are adjacent — so the faithful flat shape removes
# CONSECUTIVE equal tokens only (never distant repeats).


def remove_duplicates_col(toks: Column) -> Column:
    return F.filter(
        toks, lambda t, i: (i == F.lit(0)) | (t != F.element_at(toks, i))
    )


def remove_duplicates_py(toks: list[str]) -> list[str]:
    return [t for i, t in enumerate(toks) if i == 0 or toks[i - 1] != t]


def remove_duplicates_sql(expr: str) -> str:
    return (
        f"list_filter({expr}, (_t, _i) -> _i = 1 OR _t != ({expr})[_i - 1])"
    )


def reverse_filter_col(toks: Column) -> Column:
    return F.transform(toks, lambda t: F.reverse(t))


def reverse_filter_py(toks: list[str]) -> list[str]:
    return [t[::-1] for t in toks]


def reverse_filter_sql(expr: str) -> str:
    return f"list_transform({expr}, _t -> reverse(_t))"
