"""Three-way parity of the analysis chain: Spark Column / Python / DuckDB.

Mirrors the reference's per-analyzer unit tests (e.g. analysis factories
exercised across solr/core/src/test/org/apache/solr/analysis/) plus its
differential-oracle pattern (TestRandomDVFaceting-style: same input,
independent implementations, identical output).
"""

import random
import string

import duckdb
import pytest

from solr_spark.analysis.analyzer import tokenize_py, tokens_col, tokens_sql

SAMPLES = [
    "utf8Parser2 foo_barBaz HTTPServer  x",
    "def snake_case(a1b): return A2",
    "",
    "ALLCAPS mixedUPPERlower a",
    "x.y.z(1,2,3) == [a][b]{c}",
    "parseHTTPResponse readXMLFile2Buffer",
    "a1b2c3 AB2cd _leading __trailing__",
    "newline\nand\ttabs   spaces",
    "UPPER lower 0123 m1xEd",
]


def _rand_strings(n=60, seed=7):
    rng = random.Random(seed)
    alphabet = string.ascii_letters + string.digits + " _().,;:\n\t-+=[]"
    return ["".join(rng.choice(alphabet) for _ in range(rng.randint(0, 120))) for _ in range(n)]


ALL = SAMPLES + _rand_strings()


def test_python_vs_duckdb():
    con = duckdb.connect()
    got = con.execute(
        f"select {tokens_sql('s')} from (select unnest(?::varchar[]) as s)", [ALL]
    ).fetchall()
    for s, (toks,) in zip(ALL, got):
        assert toks == tokenize_py(s), repr(s)


def test_python_vs_spark(spark):
    df = spark.createDataFrame([(s,) for s in ALL], "s string")
    got = df.select(tokens_col("s").alias("t")).collect()
    for s, row in zip(ALL, got):
        assert row.t == tokenize_py(s), repr(s)


def _arrow_rows(col):
    """Per-row token lists (None for a null row) from the
    tokenize_arrow_batch stream."""
    from solr_spark.analysis.analyzer import tokenize_arrow_batch

    values, val_off, tok_rows, nrows, null_rows = tokenize_arrow_batch(col)
    out: list = [[] for _ in range(nrows)]
    for i, r in enumerate(tok_rows.tolist()):
        out[r].append(bytes(values[val_off[i]:val_off[i + 1]]).decode("utf-8"))
    for r in null_rows.tolist():
        out[r] = None
    return out


def test_python_vs_arrow_batch():
    """Fourth executable form (round-6): the vectorized Arrow tokenizer
    used inside mapInArrow bodies — parity incl. unicode-fallback rows,
    null rows, and sliced (non-zero offset) arrays."""
    import pyarrow as pa

    rng = random.Random(11)
    uni = [
        "héllo WÖRLD Ünïcode42X", "mixedÉcase2Go", "K kelvin2x",
        "ascii then ñ", "ÀBÇdé fg",
    ] + [
        "".join(rng.choice("aAé0 ñ1._ÉzZ9Qx-") for _ in range(rng.randint(0, 60)))
        for _ in range(200)
    ]
    cases = ALL + uni
    arr = pa.array(cases, type=pa.string())
    for a, cs in (
        (arr, cases),
        (arr.slice(5), cases[5:]),
        (arr.slice(3, 40), cases[3:43]),
    ):
        got = _arrow_rows(a)
        assert len(got) == len(cs)
        for s, toks in zip(cs, got):
            assert toks == tokenize_py(s), repr(s)
    # null rows are reported (tokens_col(null) = null)
    withnull = pa.array(["a B", None, "", "xY9", None], type=pa.string())
    assert _arrow_rows(withnull) == [
        ["a", "b"], None, [], ["x", "y", "9"], None,
    ]
    # large_string input (Spark useLargeVarTypes)
    big = pa.array(["camelCase x", "HTTPServer"], type=pa.large_string())
    assert _arrow_rows(big) == [["camel", "case", "x"], ["http", "server"]]


def test_arrow_batch_string_view():
    """A string_view column tokenizes like its string twin (it used to
    give an empty stream)."""
    import pyarrow as pa

    view = pa.array(["a B", None, "camelCase"], pa.string_view())
    assert _arrow_rows(view) == [["a", "b"], None, ["camel", "case"]]


def test_arrow_batch_dictionary():
    """A dictionary-encoded column is decoded first (it used to raise
    IndexError)."""
    import pyarrow as pa

    enc = pa.array(["a B", "a B", None, "xY"]).dictionary_encode()
    assert _arrow_rows(enc) == [["a", "b"], ["a", "b"], None, ["x", "y"]]


def test_arrow_batch_rejects_non_string():
    import pyarrow as pa

    for bad in (pa.array([1, 2]), pa.array([b"ab"], pa.binary())):
        with pytest.raises(TypeError, match="string column"):
            _arrow_rows(bad)


def test_arrow_batch_missing_data_buffer():
    """A string column of only empty strings may come without a data
    buffer (the format allows a null buffer of length 0): no tokens."""
    import pyarrow as pa

    class NoDataBuffer:
        """The column as such a producer hands it over."""

        def __init__(self, arr):
            self._arr = arr

        def __getattr__(self, name):
            return getattr(self._arr, name)

        def __len__(self):
            return len(self._arr)

        def buffers(self):
            return self._arr.buffers()[:2] + [None]

    col = NoDataBuffer(pa.array(["", "", ""], pa.string()))
    assert _arrow_rows(col) == [[], [], []]


@pytest.mark.parametrize(
    "text,expected",
    [
        ("utf8Parser2", ["utf", "8", "parser", "2"]),
        ("utf8_parser_2", ["utf", "8", "parser", "2"]),  # delimiter variant, same tokens
        ("HTTPServer", ["http", "server"]),
        ("camelCase", ["camel", "case"]),
        ("", []),
        ("   \n\t ", []),
    ],
)
def test_known_tokens(text, expected):
    assert tokenize_py(text) == expected


def test_filter_stages_three_way_parity(spark):
    """stopword + synonym stages agree across Column / Python / DuckDB
    forms, composed over the base chain."""
    import duckdb

    from solr_spark.analysis.analyzer import (
        stop_filter_col, stop_filter_py, stop_filter_sql,
        synonym_filter_col, synonym_filter_py, synonym_filter_sql,
        tokenize_py, tokens_col, tokens_sql,
    )

    sw = ["the", "a", "of"]
    syn = {"colour": "color", "utilise": "use"}
    texts = [
        "The Colour of a parseTree", "utilise theUtils", "a the of",
        "plainWords only",
    ]
    con = duckdb.connect()
    for txt in texts:
        py = synonym_filter_py(stop_filter_py(tokenize_py(txt), sw), syn)
        df = spark.createDataFrame([(txt,)], "t string")
        col = synonym_filter_col(stop_filter_col(tokens_col("t"), sw), syn)
        jv = df.select(col.alias("x")).collect()[0]["x"]
        sql = synonym_filter_sql(stop_filter_sql(tokens_sql("t"), sw), syn)
        dk = con.execute(
            f"SELECT ({sql}) FROM (SELECT ? AS t)", [txt]
        ).fetchone()[0]
        assert py == jv == list(dk), (txt, py, jv, dk)

def test_tranche2_filters_three_way_parity(spark):
    """patternReplace/keepWord/ngram/truncate/removeDuplicates/reverse
    agree across Column / Python / DuckDB forms on fuzzed token arrays."""
    import duckdb

    from solr_spark.analysis import analyzer as A

    cases = [
        ["abc", "a", "", "abcdef", "xx"],
        ["aa", "aa", "ab", "ab", "aa"],
        [],
        ["x1y2", "foo_bar", "zzzz"],
    ] + [A.tokenize_py(t) for t in ALL[:25]]
    con = duckdb.connect()

    def dk(sql_expr, toks):
        return list(
            con.execute(
                f"SELECT ({sql_expr}) FROM (SELECT ?::VARCHAR[] AS t)", [toks]
            ).fetchone()[0]
        )

    for toks in cases:
        df = spark.createDataFrame([(toks,)], "t array<string>")

        def jv(col):
            return df.select(col.alias("x")).collect()[0]["x"]

        forms = [
            (A.pattern_replace_py(toks, "[0-9]+", "#"),
             jv(A.pattern_replace_col(F_t(), "[0-9]+", "#")),
             dk(A.pattern_replace_sql("t", "[0-9]+", "#"), toks)),
            (A.keep_word_py(toks, ["aa", "abc", "x1y2"]),
             jv(A.keep_word_col(F_t(), ["aa", "abc", "x1y2"])),
             dk(A.keep_word_sql("t", ["aa", "abc", "x1y2"]), toks)),
            (A.ngram_py(toks, 2, 3),
             jv(A.ngram_col(F_t(), 2, 3)),
             dk(A.ngram_sql("t", 2, 3), toks)),
            (A.truncate_filter_py(toks, 3),
             jv(A.truncate_filter_col(F_t(), 3)),
             dk(A.truncate_filter_sql("t", 3), toks)),
            (A.remove_duplicates_py(toks),
             jv(A.remove_duplicates_col(F_t())),
             dk(A.remove_duplicates_sql("t"), toks)),
            (A.reverse_filter_py(toks),
             jv(A.reverse_filter_col(F_t())),
             dk(A.reverse_filter_sql("t"), toks)),
        ]
        for py, jvv, dkk in forms:
            assert py == list(jvv) == dkk, (toks, py, jvv, dkk)


def F_t():
    from pyspark.sql import functions as F

    return F.col("t")
