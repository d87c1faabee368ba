"""Block-max pruned path ≡ flat path (exactness of the pruning).

The reference's contract for its pruned collectors is that results match
unpruned search (MaxScoreCollectorTest.java et al.); here: wand == flat
== oracle on every query shape, plus evidence that pruning actually
skips blocks on mixed head+tail queries.
"""

import shutil

import pytest
from pyspark.sql import functions as F

import solr_spark.index.builder as builder
import solr_spark.query.wand as W
from solr_spark.index.builder import Index, build_index
from solr_spark.index.maintenance import (
    delete_by_ids, delete_by_query, expunge_deletes,
)
from solr_spark.query.engine import bm25_topk
from solr_spark.query.wand import bm25_topk_wand
from solr_spark.sources.corpus import synthesize_corpus

N_DOCS = 500

QUERIES = [
    ("return", "OR", 10),
    ("jsonParser", "OR", 10),
    ("import buffer size", "OR", 10),
    ("return import", "AND", 10),
    ("parse build read write", "OR", 25),
    ("httpClient userName", "AND", 10),
    ("return zzzNotAThing", "OR", 10),
    ("return zzzNotAThing", "AND", 10),
    ("return parseShard1 bufferSize", "OR", 5),   # head+tail pruning stress
    ("value data self import return", "OR", 50),
    ("utf8Parser2", "OR", 100),
]

#: an AND query with a handful of matches, all deleted in `deleted`
ALL_DELETED_AND = "parseShard1 bufferSize"


@pytest.fixture(scope="module")
def index(spark, tmp_path_factory):
    # tail_card=5000 gives true tail tokens (df ~ 10 of 500 docs);
    # block_size=16 so posting lists span many blocks at this corpus size
    # — the skip-demonstration below needs real idf spread + granularity
    corpus = synthesize_corpus(spark, N_DOCS, seed=42, partitions=4, tail_card=5000)
    out = str(tmp_path_factory.mktemp("wand") / "index")
    return build_index(
        spark, corpus, out, num_buckets=4, salt_threshold=200, num_salts=4,
        block_size=16,
    )


@pytest.fixture(scope="module")
def deleted(index, tmp_path_factory):
    """A copy of the module index with deletes pending: every 7th doc
    plus every match of ALL_DELETED_AND. Returns (index, deleted ids)."""
    root = str(tmp_path_factory.mktemp("wand_del") / "index")
    shutil.copytree(index.paths.root, root)
    idx = Index.load(index.spark, root)
    ids = sorted(r.docid for r in idx.docs().select("docid").collect())
    delete_by_ids(idx, ids[::7])
    assert delete_by_query(idx, ALL_DELETED_AND, mode="AND") > 0
    return idx, {r.docid for r in idx.deleted_ids().collect()}


def _topk(fn, index, qtext, k, mode="OR", **kw):
    return [(r.docid, round(r.score, 9)) for r in fn(index, qtext, k, mode, **kw).collect()]


@pytest.mark.parametrize("qtext,mode,k", QUERIES)
def test_wand_equals_flat(index, qtext, mode, k):
    dbg: dict = {}
    flat = _topk(bm25_topk, index, qtext, k, mode)
    wand = _topk(bm25_topk_wand, index, qtext, k, mode, debug=dbg)
    assert wand == flat
    # every shape under the volume gate is served by the driver venue
    # (an AND query with an absent term returns before routing)
    assert dbg.get("path") == "driver" or not flat, dbg


@pytest.mark.parametrize("qtext,mode,k", QUERIES)
def test_driver_with_pending_deletes_equals_flat(deleted, qtext, mode, k):
    """Pending deletes: the driver venue (no T0 seed, deleted ids dropped
    before scoring) equals the flat liveDocs anti-join and returns no
    deleted doc."""
    idx, gone = deleted
    dbg: dict = {}
    flat = _topk(bm25_topk, idx, qtext, k, mode)
    wand = _topk(bm25_topk_wand, idx, qtext, k, mode, debug=dbg)
    assert wand == flat
    assert not gone & {d for d, _ in wand}
    if flat:
        assert dbg["path"] == "driver" and dbg["pruned"] is False, dbg


def test_driver_and_all_candidates_deleted(index, deleted, monkeypatch):
    idx, gone = deleted
    assert _topk(bm25_topk_wand, index, ALL_DELETED_AND, 10, "AND")
    dbg: dict = {}
    assert _topk(bm25_topk_wand, idx, ALL_DELETED_AND, 10, "AND", debug=dbg) == []
    assert dbg["path"] == "driver"
    assert _topk(bm25_topk, idx, ALL_DELETED_AND, 10, "AND") == []
    # the id array is collected once per sidecar version
    arr = idx.deleted_id_array()
    assert arr is idx.deleted_id_array() and arr.tolist() == sorted(gone)
    # a sidecar past the broadcast cap keeps the flat anti-join route
    monkeypatch.setattr(builder, "DELETES_BROADCAST_CAP", 0)
    idx._invalidate_deletes()
    dbg = {}
    wand = _topk(bm25_topk_wand, idx, "return import", 10, debug=dbg)
    assert dbg["path"] == "flat_deletes"
    assert wand == _topk(bm25_topk, idx, "return import", 10)


@pytest.mark.parametrize("qtext,mode,k", QUERIES[:6])
def test_wand_distributed_path_equals_flat(index, monkeypatch, qtext, mode, k):
    """Force the over-budget (distributed) formulation: same results."""
    monkeypatch.setattr(W, "DRIVER_DECODE_MAX_POSTINGS", 0)
    flat = _topk(bm25_topk, index, qtext, k, mode)
    wand = _topk(bm25_topk_wand, index, qtext, k, mode)
    assert wand == flat


def test_pruning_skips_work(index, monkeypatch):
    """On a mixed head+tail OR query the head term (tiny idf -> tiny ub)
    must be classified non-essential: its posting blocks are skipped
    during candidate generation, and results stay exact — on the driver
    venue and on the distributed one (forced over the volume gate)."""
    dbg: dict = {}
    qtext, k = "return parseShard1 bufferSize", 5
    wand = _topk(bm25_topk_wand, index, qtext, k, debug=dbg)
    flat = _topk(bm25_topk, index, qtext, k)
    assert wand == flat
    assert dbg["path"] == "driver" and dbg["pruned"], dbg
    assert dbg.get("essential"), dbg
    assert "return" not in dbg["essential"], dbg
    assert dbg["blocks_decoded"] < dbg["blocks_total"], dbg
    monkeypatch.setattr(W, "DRIVER_DECODE_MAX_POSTINGS", 0)
    dbg = {}
    assert _topk(bm25_topk_wand, index, qtext, k, debug=dbg) == flat
    assert dbg["path"] == "distributed", dbg
    assert dbg["blocks_decoded"] < dbg["blocks_total"], dbg


def test_expunge_keeps_block_size(index, tmp_path):
    """The build records its block_size; expunge_deletes re-encodes at
    it (not at the 128-doc default) and WAND still equals flat."""
    root = str(tmp_path / "bs")
    shutil.copytree(index.paths.root, root)
    idx = Index.load(index.spark, root)
    assert idx.meta["block_size"] == 16
    delete_by_ids(idx, [r.docid for r in idx.docs().select("docid").limit(3).collect()])
    expunge_deletes(idx)
    assert idx.blocks().agg(F.max("n_docs")).first()[0] <= 16
    assert Index.load(index.spark, root).meta["block_size"] == 16
    for qtext in ("return import", "return parseShard1 bufferSize"):
        assert _topk(bm25_topk_wand, idx, qtext, 10) == _topk(bm25_topk, idx, qtext, 10)


def test_multifield_wand_equals_flat_and_single_field(spark, tmp_path):
    """Round-3: per-field block-max metadata (fid-aware encoder) — the
    pruned path must equal the flat path on EVERY field of a multi-field
    index, and the content field must score identically to a
    single-field index of the same column (per-field avgdl correct)."""
    from pyspark.sql import functions as F

    from solr_spark.index.builder import build_index
    from solr_spark.query.engine import bm25_topk
    from solr_spark.query.wand import bm25_topk_wand
    from solr_spark.sources.corpus import synthesize_corpus

    corpus = synthesize_corpus(spark, 1500, seed=5, partitions=4).withColumn(
        "title", F.concat_ws(" ", F.col("path"), F.col("lang"))
    )
    mf = build_index(
        spark, corpus.select("repo", "path", "commit", "content", "title"),
        str(tmp_path / "mf"), num_buckets=4, salt_threshold=400, num_salts=4,
        fields=["content", "title"], build_blocks=True,
    )
    assert mf.meta["has_blocks"]
    sf = build_index(
        spark, corpus.select("repo", "path", "commit", "content"),
        str(tmp_path / "sf"), num_buckets=4, salt_threshold=400, num_salts=4,
        build_blocks=True,
    )
    for q in ["jsonParser bufferSize", "return import", "parseShard7 return"]:
        for field in ["content", "title"]:
            flat = [(r.docid, round(r.score, 9))
                    for r in bm25_topk(mf, q, k=10, field=field).collect()]
            dbg: dict = {}
            wand = [(r.docid, round(r.score, 9))
                    for r in bm25_topk_wand(mf, q, k=10, field=field, debug=dbg).collect()]
            assert flat == wand, (q, field)
            assert dbg.get("path") == "driver" or not flat, (q, field)
        mfc = [(r.docid, round(r.score, 9))
               for r in bm25_topk(mf, q, k=10, field="content").collect()]
        sfc = [(r.docid, round(r.score, 9))
               for r in bm25_topk(sf, q, k=10).collect()]
        assert mfc == sfc, q


def test_multifield_batch_equals_single(spark, tmp_path):
    """bm25_topk_batch(field=) on a multi-field index equals per-query
    bm25_topk(field=) for every query in the batch."""
    from pyspark.sql import functions as F

    from solr_spark.index.builder import build_index
    from solr_spark.query.engine import bm25_topk, bm25_topk_batch
    from solr_spark.sources.corpus import synthesize_corpus

    corpus = synthesize_corpus(spark, 800, seed=5, partitions=4).withColumn(
        "title", F.concat_ws(" ", F.col("path"), F.col("lang"))
    )
    mf = build_index(
        spark, corpus.select("repo", "path", "commit", "content", "title"),
        str(tmp_path / "mfb"), num_buckets=4, salt_threshold=400, num_salts=4,
        fields=["content", "title"],
    )
    queries = {"q1": "return import", "q2": "jsonParser", "q3": "java py"}
    for field in ("content", "title"):
        batch = bm25_topk_batch(mf, queries, k=6, field=field).collect()
        got = {}
        for r in batch:
            got.setdefault(r["qid"], []).append((r["docid"], round(r["score"], 9)))
        for qid, qt in queries.items():
            want = [(r["docid"], round(r["score"], 9))
                    for r in bm25_topk(mf, qt, k=6, field=field).collect()]
            assert got.get(qid, []) == want, (field, qid)
