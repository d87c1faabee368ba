"""Index lifecycle operations keep what the index can do.

A multi-field index with blocks keeps block-max WAND through a chunked
build, a resumed build, expunge_deletes, merge_indexes, add_documents
and upsert_documents: the blocks are re-encoded through the build's own
encode path, with per-field avgdl, so the pruned path stays exact on
every field. Plus regressions for add/upsert on single-field indexes.
"""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from solr_spark.index.builder import Index, build_index
from solr_spark.sources.corpus import synthesize_corpus

FIELDS = ["content", "title"]
MF_KW = dict(
    num_buckets=4, salt_threshold=60, num_salts=4, fields=FIELDS,
    build_blocks=True,
)
QUERIES = ("return import", "jsonParser bufferSize", "return")


def _mf_corpus(spark, n, seed):
    return synthesize_corpus(spark, n, seed=seed, partitions=4).withColumn(
        "title", F.concat_ws(" ", F.col("path"), F.col("lang"))
    ).select("repo", "path", "commit", "content", "title")


def _topk(fn, idx, q, field, k=10):
    return [(r["docid"], round(r["score"], 9))
            for r in fn(idx, q, k=k, field=field).collect()]


def _assert_wand_equals_flat(idx):
    """Blocks present and the pruned path exact on every field; at least
    one query must take the pruned path, so the check is not vacuous."""
    from solr_spark.query.engine import bm25_topk
    from solr_spark.query.wand import bm25_topk_wand

    assert idx.meta["has_blocks"] and os.path.isdir(idx.paths.blocks)
    pruned = 0
    for field in FIELDS:
        for q in QUERIES:
            dbg = {}
            wand = [(r["docid"], round(r["score"], 9))
                    for r in bm25_topk_wand(idx, q, k=10, field=field,
                                            debug=dbg).collect()]
            assert wand == _topk(bm25_topk, idx, q, field), (q, field)
            pruned += "essential" in dbg
    assert pruned


def _blocks(idx):
    return sorted(tuple(r) for r in idx.blocks().select(
        "tid", "salt", "block_id", "n_docs", "first_docid", "max_docid",
        "max_tf", "max_tf_part", "min_tf_part", "docids_bin", "tfs_bin",
        "dlqs_bin",
    ).collect())


def _dictionary(idx):
    return sorted(
        (r["field"], r["term"], r["tid"], r["df"], r["cttf"], r["is_head"],
         r["mtp"], None if r["skips"] is None else tuple(map(tuple, r["skips"])))
        for r in idx.term_stats().collect()
    )


def _docs(idx):
    return sorted(tuple(r) for r in idx.docs().select(
        *sorted(idx.docs().columns)).collect())


def _postings(idx):
    return sorted(tuple(r) for r in idx.postings().select(
        "tid", "docid", "tf", "dl_q", "bucket").collect())


def _assert_blocks_cover_postings(idx):
    """Every live posting sits in exactly one block, and head terms are
    salted across sub-lists."""
    from solr_spark.index.blocks import decode_block

    got = sorted(
        (r["tid"], int(d), int(t), int(q))
        for r in idx.blocks().collect()
        for d, t, q in zip(*decode_block(r))
    )
    want = sorted(
        (r["tid"], r["docid"], r["tf"], r["dl_q"])
        for r in idx.postings().select("tid", "docid", "tf", "dl_q").collect()
    )
    assert got == want
    salts = (
        idx.blocks().groupBy("tid").agg(F.countDistinct("salt").alias("ns"))
        .where("ns > 1").count()
    )
    assert salts > 0


@pytest.fixture(scope="module")
def mf_whole(spark, tmp_path_factory):
    """The reference: one single-chunk build over the whole corpus, plus
    the corpus rows in docid order for the chunked and half builds."""
    corpus = _mf_corpus(spark, 240, seed=9).persist()
    root = str(tmp_path_factory.mktemp("mf") / "whole")
    idx = build_index(spark, corpus, root, **MF_KW)
    rows = corpus.orderBy("repo", "path", "commit").collect()
    return idx, rows, corpus.schema


@pytest.fixture(scope="module")
def mf_halves(spark, mf_whole, tmp_path_factory):
    """Builds over the first and the second half of the corpus rows."""
    _, rows, schema = mf_whole
    root = tmp_path_factory.mktemp("mf_halves")
    return tuple(
        build_index(spark, spark.createDataFrame(part, schema),
                    str(root / name), **MF_KW)
        for name, part in (("a", rows[:120]), ("b", rows[120:]))
    )


def _copy(spark, idx, dst):
    """An independent copy of a built index, for tests that mutate it."""
    shutil.copytree(idx.paths.root, dst)
    return Index.load(spark, dst)


def test_multifield_chunked_and_resumed_builds_keep_blocks(
    spark, mf_whole, tmp_path
):
    whole, rows, schema = mf_whole
    corpus = spark.createDataFrame(rows, schema)
    _assert_wand_equals_flat(whole)
    want = (_blocks(whole), _dictionary(whole), _docs(whole), _postings(whole))

    chunked = build_index(
        spark, corpus, str(tmp_path / "chunked"), num_chunks=3,
        keep_stage=True, **MF_KW
    )
    assert (_blocks(chunked), _dictionary(chunked), _docs(chunked),
            _postings(chunked)) == want
    _assert_wand_equals_flat(chunked)

    # resumed chunked build: chunks 0 and 2 committed (their analysis kept
    # in the stage), chunk 1's manifest and the body's outputs wiped
    out = str(tmp_path / "resumed")
    shutil.copytree(chunked.paths.root, out)
    for d in ("docs", "postings", "term_stats", "blocks"):
        shutil.rmtree(os.path.join(out, d))
    os.remove(os.path.join(out, "meta.json"))
    os.remove(os.path.join(out, "_checkpoints", "chunk_1.json"))
    resumed = build_index(
        spark, corpus, out, num_chunks=3, resume=True, **MF_KW
    )
    assert (_blocks(resumed), _dictionary(resumed), _docs(resumed),
            _postings(resumed)) == want
    _assert_wand_equals_flat(resumed)


def test_multifield_expunge_keeps_blocks(spark, mf_whole, tmp_path):
    """expunge_deletes on a multi-field index re-encodes per-field
    blocks from the live postings (it used to drop them), durably, and
    repeated expunges are no-ops."""
    from solr_spark.index.maintenance import delete_by_ids, expunge_deletes
    from solr_spark.query.engine import bm25_topk

    idx = _copy(spark, mf_whole[0], str(tmp_path / "x"))
    victims = [d for d, _ in _topk(bm25_topk, idx, "return import", "content")[:2]]
    assert delete_by_ids(idx, victims) == 2

    report = expunge_deletes(idx)
    assert report == {"expunged": 2, "blocks_reencoded": True}
    assert not idx.has_deletes()
    assert Index.load(spark, idx.paths.root).meta["has_blocks"] is True
    assert expunge_deletes(idx) == {"expunged": 0}
    _assert_blocks_cover_postings(idx)
    _assert_wand_equals_flat(idx)
    hits = _topk(bm25_topk, idx, "return import", "content")
    assert hits and not {d for d, _ in hits} & set(victims)


def test_multifield_search_scores_with_the_field_norms(mf_whole):
    """search() scores the default field with that field's own avgdl,
    so it equals bm25_topk on every doc, to search's 4 places."""
    from solr_spark.query.engine import bm25_topk
    from solr_spark.query.search_api import search

    whole = mf_whole[0]
    for q in QUERIES:
        want = dict(_topk(bm25_topk, whole, q, None, k=240))
        got = {r["docid"]: r["score"] for r in search(whole, q, k=240).collect()}
        assert set(got) == set(want) and got
        assert got == pytest.approx(want, abs=5e-5), q


def _mf_live_cases():
    from solr_spark.query.edismax import edismax_indexed
    from solr_spark.query.search_api import search
    from solr_spark.query.wand import bm25_topk_wand

    return {
        "edismax_indexed": lambda i: edismax_indexed(
            i, "jsonParser java", {"content": 1.0, "title": 2.0}, k=240
        ),
        "bm25_topk_wand": lambda i: bm25_topk_wand(
            i, "return java", k=240, field="title"
        ),
        "search": lambda i: search(i, "jsonParser bufferSize", k=240),
    }


@pytest.fixture(scope="module")
def mf_pending(spark, mf_whole, tmp_path_factory):
    """A copy of the multi-field index with every 5th doc deleted
    (pending). Returns (index, deleted ids)."""
    from solr_spark.index.maintenance import delete_by_ids

    idx = _copy(spark, mf_whole[0], str(tmp_path_factory.mktemp("mf_del") / "x"))
    gone = sorted(r["docid"] for r in idx.docs().select("docid").collect())[::5]
    assert delete_by_ids(idx, gone) == len(gone)
    return idx, set(gone)


@pytest.mark.parametrize("entry", list(_mf_live_cases()))
def test_multifield_pending_deletes_never_come_back(mf_whole, mf_pending, entry):
    idx, gone = mf_pending
    run = _mf_live_cases()[entry]

    def ids(df):
        return {r["docid"] for r in df.collect()}

    assert ids(run(mf_whole[0])) & gone  # the deleted docs matched before
    got = ids(run(idx))
    assert got and not got & gone


def test_multifield_merge_equals_whole_build(
    spark, mf_whole, mf_halves, tmp_path
):
    """Metamorphic: merge(half1, half2) of a multi-field index has the
    whole build's statistics, dictionary and blocks, byte for byte."""
    from solr_spark.index.maintenance import merge_indexes
    from solr_spark.query.engine import bm25_topk

    whole = mf_whole[0]
    ia, ib = mf_halves
    merged = merge_indexes(ia, ib, str(tmp_path / "m"))

    assert merged.meta["n_docs"] == whole.meta["n_docs"]
    assert merged.meta["avgdl_by_field"] == pytest.approx(
        whole.meta["avgdl_by_field"], abs=1e-9
    )
    assert _dictionary(merged) == _dictionary(whole)
    assert _blocks(merged) == _blocks(whole)
    for field in FIELDS:
        for q in QUERIES:
            assert _topk(bm25_topk, merged, q, field) == _topk(
                bm25_topk, whole, q, field
            ), (q, field)
    _assert_wand_equals_flat(merged)


def test_multifield_add_and_upsert_keep_blocks(
    spark, mf_whole, mf_halves, tmp_path
):
    from solr_spark.index.maintenance import add_documents, upsert_documents
    from solr_spark.query.engine import bm25_topk

    whole, rows, schema = mf_whole
    grown = add_documents(
        mf_halves[0], spark.createDataFrame(rows[120:], schema),
        str(tmp_path / "grown"),
    )
    assert grown.meta["n_docs"] == 240
    assert _blocks(grown) == _blocks(whole)
    for field in FIELDS:
        assert _topk(bm25_topk, grown, "return import", field) == _topk(
            bm25_topk, whole, "return import", field
        )
    _assert_wand_equals_flat(grown)

    changed = spark.createDataFrame(rows[:10], schema).withColumn(
        "title", F.concat(F.lit("zzqqretitled "), F.col("title"))
    )
    up = upsert_documents(grown, changed, str(tmp_path / "up"))
    assert up.meta["n_docs"] == 240
    assert bm25_topk(up, "zzqqretitled", k=20, field="title").count() == 10
    _assert_wand_equals_flat(up)


@pytest.fixture(scope="module")
def stored_base(spark, tmp_path_factory):
    """A single-field store_content index over the first 100 of 120
    corpus rows, plus all 120 rows in key order."""
    corpus = synthesize_corpus(spark, 120, seed=6, partitions=4)
    rows = corpus.orderBy("repo", "path", "commit").collect()
    base = build_index(
        spark, spark.createDataFrame(rows[:100], corpus.schema),
        str(tmp_path_factory.mktemp("stored") / "b"),
        num_buckets=4, store_content=True,
    )
    return base, rows, corpus.schema


def test_upsert_new_keys_with_pending_deletes(spark, stored_base, tmp_path):
    """Earlier pending deletes plus a batch of only NEW keys: the upsert
    must expunge them before merging (merge_indexes refuses an index
    with deletes pending)."""
    from solr_spark.index.maintenance import delete_by_ids, upsert_documents

    base = _copy(spark, stored_base[0], str(tmp_path / "b"))
    victims = [r["docid"] for r in base.docs().select("docid").limit(5).collect()]
    assert delete_by_ids(base, victims) == 5
    new = synthesize_corpus(spark, 8, seed=44, partitions=2).withColumn(
        "repo", F.concat(F.lit("newrepo-"), F.col("repo"))
    )
    up = upsert_documents(base, new, str(tmp_path / "up"))
    assert up.meta["n_docs"] == 103
    assert not up.has_deletes()
    assert not {r["docid"] for r in up.docs().collect()} & set(victims)


def test_add_documents_stored_content(spark, stored_base, tmp_path):
    """add_documents on a store_content=True index builds its delta
    with the stored text too, so the docs union lines up."""
    from solr_spark.index.maintenance import add_documents

    base, rows, schema = stored_base
    grown = add_documents(
        base, spark.createDataFrame(rows[100:], schema), str(tmp_path / "g")
    )
    assert grown.meta["n_docs"] == 120 and grown.meta["stored_content"]
    stored = {r["content"] for r in grown.docs().select("content").collect()}
    assert stored == {r["content"] for r in rows}
