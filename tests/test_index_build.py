"""Index build correctness: determinism, invariants, resume ≡ fresh."""

import glob
import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from solr_spark.index.builder import Index, assign_docids, build_index
from solr_spark.sources.corpus import synthesize_corpus

N_DOCS = 300


@pytest.fixture(scope="module")
def corpus(spark):
    return synthesize_corpus(spark, N_DOCS, seed=42, partitions=4).persist()


@pytest.fixture(scope="module")
def index(spark, corpus, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("idx") / "index")
    return build_index(
        spark, corpus, out, num_buckets=4, salt_threshold=100, num_salts=4
    )


#: the config of `pos_index`: blocks and positions
POS_KW = dict(
    num_buckets=4, salt_threshold=100, num_salts=4, build_blocks=True,
    build_positions=True,
)


@pytest.fixture(scope="module")
def pos_index(spark, corpus, tmp_path_factory):
    """A blocks + positions index; the deletes tests mutate copies."""
    out = str(tmp_path_factory.mktemp("pos_idx") / "index")
    return build_index(spark, corpus, out, **POS_KW)


def _copy(idx, dst):
    """An independent copy of a built index, for tests that mutate it."""
    shutil.copytree(idx.paths.root, dst)
    return Index.load(idx.spark, dst)


def test_corpus_deterministic(spark, corpus):
    again = synthesize_corpus(spark, N_DOCS, seed=42, partitions=2)
    a = sorted(corpus.collect())
    b = sorted(again.collect())
    assert a == b
    # unique doc key
    assert corpus.select("repo", "path", "commit").distinct().count() == N_DOCS


def test_docids_dense_and_deterministic(spark, corpus):
    d1 = assign_docids(corpus)
    ids = [r.docid for r in d1.select("docid").collect()]
    assert sorted(ids) == list(range(N_DOCS))
    # docid == sort rank over the key, independent of partitioning
    rows = d1.select("repo", "path", "commit", "docid").collect()
    by_key = sorted(rows, key=lambda r: (r.repo, r.path, r.commit))
    assert [r.docid for r in by_key] == list(range(N_DOCS))


def test_monotonically_increasing_id_bit_layout(corpus):
    """assign_docids reads a row's partition-local index off
    monotonically_increasing_id() as (partition_id << 33) | local_index,
    dense from 0 in each partition's row order. Pin that Spark-internal
    layout on the shape assign_docids numbers (a range-partitioned,
    partition-sorted key projection), so a Spark upgrade that changes
    it fails here instead of silently assigning wrong docids."""
    keys = [F.col(k) for k in ("repo", "path", "commit")]
    rows = (
        corpus.select(*keys)
        .repartitionByRange(4, *keys)
        .sortWithinPartitions(*keys)
        .select(
            F.spark_partition_id().alias("pid"),
            F.monotonically_increasing_id().alias("mid"),
        )
        .collect()
    )
    per_partition = {}
    for r in rows:
        local = per_partition.get(r.pid, 0)
        assert r.mid == (r.pid << 33) | local, (r.pid, local, r.mid)
        per_partition[r.pid] = local + 1
    assert len(per_partition) > 1 and sum(per_partition.values()) == N_DOCS


def test_sha256_invariant_vs_source(spark, corpus, index):
    src = corpus.select("repo", "path", "commit", F.sha2("content", 256).alias("h"))
    joined = index.docs().join(src, ["repo", "path", "commit"])
    assert joined.count() == N_DOCS
    assert joined.where(F.col("sha256") != F.col("h")).count() == 0


def test_term_stats_consistency(index):
    # sum(df) over terms == number of distinct (term, docid) pairs == |postings|
    n_postings = index.postings().count()
    sum_df = index.term_stats().agg(F.sum("df")).collect()[0][0]
    assert sum_df == n_postings
    # cttf == sum of tfs; total cttf == sum of doclens
    sum_cttf = index.term_stats().agg(F.sum("cttf")).collect()[0][0]
    sum_tf = index.postings().agg(F.sum("tf")).collect()[0][0]
    total_len = index.docs().agg(F.sum("doclen")).collect()[0][0]
    assert sum_cttf == sum_tf == total_len
    assert index.meta["n_docs"] == N_DOCS
    assert abs(index.meta["avgdl"] - total_len / N_DOCS) < 1e-9


def test_bucket_pruning_layout(index):
    # postings dir is partitioned by bucket -> directory names carry values
    parts = glob.glob(os.path.join(index.paths.postings, "bucket=*"))
    assert len(parts) == index.meta["num_buckets"]
    # postings bucket derives from the tid; term_stats bucket from crc32
    from solr_spark.index.builder import bucket_of_py, tid_bucket_py

    sample = index.postings().select("tid", "bucket").limit(200).collect()
    for r in sample:
        assert r.bucket == tid_bucket_py(r.tid, index.meta["num_buckets"])
    ts = index.term_stats().select("term", "tid", "bucket").limit(200).collect()
    for r in ts:
        assert r.bucket == bucket_of_py(r.term, index.meta["num_buckets"])
    # tid really is xxhash64(term) — resolvable via the dictionary
    from pyspark.sql import functions as F

    chk = (
        index.term_stats()
        .select("term", "tid")
        .where(F.xxhash64("term") != F.col("tid"))
        .count()
    )
    assert chk == 0


def test_blocks_cover_postings(index):
    n_postings = index.postings().count()
    n_in_blocks = index.blocks().agg(F.sum("n_docs")).collect()[0][0]
    assert n_in_blocks == n_postings
    # salted head terms: every head term's list is split across salts
    heads = [r.tid for r in index.term_stats().where("is_head").collect()]
    if heads:
        salts = (
            index.blocks()
            .where(F.col("tid").isin(heads))
            .groupBy("tid")
            .agg(F.countDistinct("salt").alias("ns"))
            .collect()
        )
        assert all(r.ns > 1 for r in salts)


def _rows(idx):
    """Every stored table of `idx` as sorted rows, columns in name order,
    for row-for-row build comparisons."""
    tables = {
        "docs": idx.docs(), "postings": idx.postings(),
        "positions": idx.positions(), "blocks": idx.blocks(),
        "term_stats": idx.term_stats(),
    }
    return {
        name: sorted(df.select(*sorted(df.columns)).collect(), key=repr)
        for name, df in tables.items()
    }


def test_resume_equals_fresh(spark, corpus, tmp_path):
    """A chunked build equals the single-chunk build row for row in every
    table (the chunks only checkpoint the analysis; one body builds the
    index), and so does a chunked build resumed after a crash."""
    kw = dict(num_buckets=4, salt_threshold=100, num_salts=4,
              build_positions=True)
    want = _rows(build_index(spark, corpus, str(tmp_path / "fresh"), **kw))
    out2 = str(tmp_path / "resumed")
    chunked = build_index(
        spark, corpus, out2, num_chunks=3, keep_stage=True, **kw
    )
    assert _rows(chunked) == want
    assert all(want[t] for t in ("postings", "positions", "blocks"))
    # simulate a crash: wipe the body's outputs and one chunk's manifest,
    # then resume from the two committed chunks' staged analysis
    import shutil

    for d in ("docs", "postings", "positions", "blocks", "term_stats"):
        shutil.rmtree(os.path.join(out2, d))
    os.remove(os.path.join(out2, "meta.json"))
    os.remove(os.path.join(out2, "_checkpoints", "chunk_2.json"))
    resumed = build_index(
        spark, corpus, out2, num_chunks=3, resume=True, **kw
    )
    assert _rows(resumed) == want
    assert resumed.meta["n_docs"] == N_DOCS


def test_resume_single_chunk(spark, corpus, tmp_path):
    """Round-2 ADVICE (medium): resume=True with num_chunks=1 and the
    chunk already committed crashed with a NoneType subscript — phase 2
    must fall back to the final docs/postings parquet when the (skipped)
    chunk left no live layout shuffle."""
    fresh = build_index(spark, corpus, str(tmp_path / "fresh1"), num_buckets=4)
    out2 = str(tmp_path / "resume1")
    build_index(spark, corpus, out2, num_buckets=4, keep_stage=True)
    # simulate a crash AFTER phase 1 committed (docs/postings/manifest on
    # disk) but BEFORE phase 2 finished: wipe only the phase-2 outputs
    import shutil

    shutil.rmtree(os.path.join(out2, "term_stats"))
    shutil.rmtree(os.path.join(out2, "blocks"))
    os.remove(os.path.join(out2, "meta.json"))
    resumed = build_index(spark, corpus, out2, num_buckets=4, resume=True)
    a = sorted(fresh.postings().select("tid", "docid", "tf").collect())
    b = sorted(resumed.postings().select("tid", "docid", "tf").collect())
    assert a == b
    ta = sorted(fresh.term_stats().select("term", "df", "cttf").collect())
    tb = sorted(resumed.term_stats().select("term", "df", "cttf").collect())
    assert ta == tb
    assert fresh.meta["n_docs"] == resumed.meta["n_docs"]
    assert resumed.meta["has_blocks"]


def test_checkpoint_manifests(spark, corpus, tmp_path):
    # chunked builds carry per-chunk lineage counts in their manifests
    idx = build_index(
        spark, corpus, str(tmp_path / "m"), num_buckets=4, num_chunks=2,
        build_blocks=False,
    )
    mans = sorted(glob.glob(os.path.join(idx.paths.checkpoints, "chunk_*.json")))
    assert len(mans) == 2
    for m in (json.load(open(p)) for p in mans):
        assert m["status"] == "done" and m["docs_out"] > 0


def test_index_time_analyzer_config(spark, tmp_path):
    """Stopwords/synonyms configured at build time persist in meta and
    the query side analyzes through the index handle, so both sides
    agree (Solr's paired index/query analyzers)."""
    from solr_spark.query.engine import bm25_topk
    from solr_spark.query.positions import phrase_docids
    from solr_spark.query.search_api import search

    rows = [
        ("r", "p1", "c", "the colour of the widget"),
        ("r", "p2", "c", "color widget deluxe"),
        ("r", "p3", "c", "unrelated words entirely"),
    ]
    corpus = spark.createDataFrame(
        rows, "repo string, path string, commit string, content string"
    )
    idx = build_index(
        spark, corpus, str(tmp_path / "an"), num_buckets=4,
        build_blocks=False, build_positions=True,
        stopwords=["the", "of"], synonyms={"colour": "color"},
    )
    assert idx.meta["stopwords"] == ["the", "of"]
    assert idx.analyze("The Colour") == ["color"]
    # stopwords never entered the index
    assert idx.term_stats_for(["the", "of"]) == {}
    # querying 'colour' matches BOTH docs (canonicalized to 'color')
    hits = {r["docid"] for r in bm25_topk(idx, "colour", k=10).collect()}
    stored = {r["path"]: r["docid"] for r in idx.docs().collect()}
    assert hits == {stored["p1"], stored["p2"]}
    # search API honors the config too (stopword-only MUST term is gone)
    s_hits = {r["docid"] for r in search(idx, "colour AND widget", k=10).collect()}
    assert s_hits == {stored["p1"], stored["p2"]}
    # phrase through positions: 'colour widget' ~ 'color widget' with
    # stopword removed at index time ('of the' dropped -> adjacent)
    ph = {r["docid"] for r in phrase_docids(idx, ["colour", "widget"], slop=0).collect()}
    assert ph == {stored["p1"], stored["p2"]}


def test_store_content_and_indexed_highlight(spark, corpus, tmp_path):
    """store_content=True keeps the text in the docs table (Solr
    stored=\"true\") and highlight_indexed snippets the k winners only;
    unstored indexes refuse instead of rescanning the corpus."""
    from solr_spark.operators.highlight import highlight_indexed

    idx = build_index(
        spark, corpus, str(tmp_path / "hl"), num_buckets=4,
        build_blocks=False, store_content=True,
    )
    assert idx.meta["stored_content"] and "content" in idx.docs().columns
    out = highlight_indexed(idx, "jsonParser bufferSize", k=5).collect()
    assert len(out) == 5
    assert any(r["snippet"] for r in out)
    for r in out:
        if r["snippet"]:
            assert r["matched_term"] in r["snippet"].lower()
    plain = build_index(
        spark, corpus, str(tmp_path / "hl2"), num_buckets=4,
        build_blocks=False,
    )
    with pytest.raises(ValueError):
        highlight_indexed(plain, "jsonParser", k=5)


def test_bm25_batch_matches_single(spark, index):
    """bm25_topk_batch == per-query bm25_topk for every query in the
    batch, OR and AND modes, including absent-term and empty queries."""
    from solr_spark.query.engine import bm25_topk, bm25_topk_batch

    queries = {
        "q1": "return import",
        "q2": "jsonParser bufferSize",
        "q3": "zzznotaterm",
        "q4": "return zzznotaterm",
        "q5": "",
    }
    for mode in ("OR", "AND"):
        batch = bm25_topk_batch(index, queries, k=7, mode=mode).collect()
        got = {}
        for r in batch:
            got.setdefault(r["qid"], []).append((r["docid"], round(r["score"], 9)))
        for qid, qtext in queries.items():
            want = [
                (r["docid"], round(r["score"], 9))
                for r in bm25_topk(index, qtext, k=7, mode=mode).collect()
            ]
            assert got.get(qid, []) == want, (mode, qid)


def test_delete_by_query_and_expunge(spark, corpus, pos_index, tmp_path):
    """liveDocs contract: delete_by_query removes docs from every query
    path (flat, WAND-guarded, phrase) while keeping build-time stats;
    expunge_deletes compacts the segments, re-encodes blocks, clears the
    sidecar, and the pruned path returns + agrees with flat."""
    from solr_spark.index.maintenance import (
        delete_by_ids, delete_by_query, expunge_deletes,
    )
    from solr_spark.query.engine import bm25_topk
    from solr_spark.query.wand import bm25_topk_wand

    idx = _copy(pos_index, str(tmp_path / "delidx"))
    before = [r["docid"] for r in bm25_topk(idx, "return import", k=10).collect()]
    assert before
    victims = before[:3]
    n = delete_by_ids(idx, victims)
    assert n == 3
    assert delete_by_ids(idx, victims) == 0  # idempotent
    assert idx.has_deletes()

    after = [r["docid"] for r in bm25_topk(idx, "return import", k=10).collect()]
    assert not set(victims) & set(after)
    # under pending deletes WAND serves the query on the driver, with
    # the deleted ids dropped before scoring
    dbg = {}
    wand = [r["docid"] for r in bm25_topk_wand(idx, "return import", k=10, debug=dbg).collect()]
    assert dbg["path"] == "driver" and wand == after
    # stats unchanged until expunge (Lucene semantics)
    assert idx.meta["n_docs"] == corpus.count()

    # phrase path excludes deleted docs
    from solr_spark.query.positions import phrase_docids

    ph_before = {r["docid"] for r in phrase_docids(idx, ["json", "parser"]).collect()}
    if ph_before:
        delete_by_ids(idx, [sorted(ph_before)[0]])
        ph_after = {r["docid"] for r in phrase_docids(idx, ["json", "parser"]).collect()}
        assert sorted(ph_before)[0] not in ph_after

    # delete_by_query marks every matching doc
    n_q = delete_by_query(idx, "jsonParser", mode="AND")
    assert n_q > 0
    assert bm25_topk(idx, "jsonParser", k=5, mode="AND").count() == 0

    report = expunge_deletes(idx)
    assert report["expunged"] >= 4 and report.get("blocks_reencoded")
    assert not idx.has_deletes()
    # postings physically compacted
    deleted_all = set(victims)
    post_ids = {r["docid"] for r in idx.postings().select("docid").distinct().collect()}
    assert not deleted_all & post_ids
    # pruned path is back and agrees with flat
    dbg2 = {}
    w2 = [(r["docid"], round(r["score"], 9))
          for r in bm25_topk_wand(idx, "return import", k=10, debug=dbg2).collect()]
    f2 = [(r["docid"], round(r["score"], 9))
          for r in bm25_topk(idx, "return import", k=10).collect()]
    assert dbg2.get("path") != "flat_deletes" and w2 == f2
    assert w2 and not {d for d, _ in w2} & deleted_all


def test_delete_unknown_ids_is_a_noop(index, tmp_path):
    """Docids the index does not hold never reach the deletes sidecar:
    numDocs, WAND's threshold seed and expunge see no phantom deletes."""
    from solr_spark.index.maintenance import delete_by_ids, expunge_deletes

    idx = _copy(index, str(tmp_path / "unknown"))
    assert delete_by_ids(idx, [10**9, 10**9 + 1]) == 0
    assert not idx.has_deletes()
    assert expunge_deletes(idx) == {"expunged": 0}
    # a mixed batch deletes only the held id, and expunge removes one doc
    assert delete_by_ids(idx, [0, 10**9]) == 1
    assert expunge_deletes(idx)["expunged"] == 1
    assert idx.meta["n_docs"] == idx.docs().count() == N_DOCS - 1


def test_expunge_equals_fresh_build(spark, corpus, pos_index, tmp_path):
    """expunge_deletes(delete(build(C), D)) == build(C minus D): top-k
    (flat and WAND) mapped through the (repo, path, commit) keys,
    phrase hits, n_docs, avgdl and the dictionary's df/cttf. D holds
    every doc of one term, which then leaves the dictionary, so WAND
    serves a query naming it on the driver with its metadata seed."""
    from solr_spark.index.builder import DOC_KEY
    from solr_spark.index.maintenance import delete_by_ids, expunge_deletes
    from solr_spark.query.engine import bm25_scores, bm25_topk
    from solr_spark.query.positions import phrase_docids
    from solr_spark.query.wand import bm25_topk_wand

    idx = _copy(pos_index, str(tmp_path / "x"))
    term = idx.term_stats().orderBy("df", "term").first()["term"]
    gone = {r["docid"] for r in bm25_scores(idx, term).select("docid").collect()}
    gone |= set(range(0, N_DOCS, 9))
    key_of = {
        r["docid"]: tuple(r[k] for k in DOC_KEY)
        for r in idx.docs().select("docid", *DOC_KEY).collect()
    }
    assert delete_by_ids(idx, sorted(gone)) == len(gone)
    assert expunge_deletes(idx)["expunged"] == len(gone)

    gone_keys = spark.createDataFrame(
        [key_of[d] for d in gone], ", ".join(f"{k} string" for k in DOC_KEY)
    )
    fresh = build_index(
        spark, corpus.join(gone_keys, list(DOC_KEY), "left_anti"),
        str(tmp_path / "fresh"), **POS_KW,
    )
    fresh_key = {
        r["docid"]: tuple(r[k] for k in DOC_KEY)
        for r in fresh.docs().select("docid", *DOC_KEY).collect()
    }

    assert idx.meta["n_docs"] == fresh.meta["n_docs"] == N_DOCS - len(gone)
    assert idx.meta["avgdl"] == fresh.meta["avgdl"]

    def dictionary(i):
        return sorted(
            (r["term"], r["df"], r["cttf"])
            for r in i.term_stats().select("term", "df", "cttf").collect()
        )

    assert dictionary(idx) == dictionary(fresh)
    assert idx.term_stats_for([term]) == {}

    def topk(fn, i, keys, q, **kw):
        return [(keys[r["docid"]], round(r["score"], 9))
                for r in fn(i, q, k=12, **kw).collect()]

    for q in ("return import", "jsonParser bufferSize", "return",
              f"return {term}"):
        want = topk(bm25_topk, fresh, fresh_key, q)
        assert want and topk(bm25_topk, idx, key_of, q) == want, q
        dbg = {}
        assert topk(bm25_topk_wand, idx, key_of, q, debug=dbg) == want, q
        assert dbg["path"] == "driver", (q, dbg)

    def phrase(i, keys):
        return sorted(
            (keys[r["docid"]], r["phrase_freq"])
            for r in phrase_docids(i, ["json", "parser"]).collect()
        )

    want = phrase(fresh, fresh_key)
    assert want and phrase(idx, key_of) == want


def test_merge_indexes_equals_whole_build(spark, tmp_path):
    """Metamorphic: build over each half of a corpus, merge — BM25
    results (flat AND pruned) must match the single whole-corpus build
    exactly; positions-backed phrase matching survives the docid
    re-base."""
    from solr_spark.index.maintenance import merge_indexes
    from solr_spark.query.engine import bm25_topk
    from solr_spark.query.positions import phrase_docids
    from solr_spark.query.wand import bm25_topk_wand

    whole = synthesize_corpus(spark, 240, seed=9, partitions=4).persist()
    rows = whole.orderBy("repo", "path", "commit").collect()
    half1 = spark.createDataFrame(rows[:120], whole.schema)
    half2 = spark.createDataFrame(rows[120:], whole.schema)
    kw = dict(num_buckets=4, salt_threshold=80, num_salts=4,
              build_blocks=True, build_positions=True)
    # docid assignment sorts deterministically; building from the same
    # global order keeps half docids == whole docids (offset re-base)
    full = build_index(spark, whole, str(tmp_path / "full"), **kw)
    ia = build_index(spark, half1, str(tmp_path / "a"), **kw)
    ib = build_index(spark, half2, str(tmp_path / "b"), **kw)
    merged = merge_indexes(ia, ib, str(tmp_path / "m"))

    assert merged.meta["n_docs"] == full.meta["n_docs"]
    assert abs(merged.meta["avgdl"] - full.meta["avgdl"]) < 1e-9

    for q in ("return import", "jsonParser bufferSize", "return"):
        want = [(r["docid"], round(r["score"], 9))
                for r in bm25_topk(full, q, k=12).collect()]
        got = [(r["docid"], round(r["score"], 9))
               for r in bm25_topk(merged, q, k=12).collect()]
        assert got == want, q
        gotw = [(r["docid"], round(r["score"], 9))
                for r in bm25_topk_wand(merged, q, k=12).collect()]
        assert gotw == want, ("wand", q)

    ph_full = sorted(
        (r["docid"], r["phrase_freq"])
        for r in phrase_docids(full, ["json", "parser"]).collect()
    )
    ph_m = sorted(
        (r["docid"], r["phrase_freq"])
        for r in phrase_docids(merged, ["json", "parser"]).collect()
    )
    assert ph_m == ph_full

    # guards: mismatched analyzer config and pending deletes refuse
    import pytest as _pytest

    from solr_spark.index.maintenance import delete_by_ids

    delete_by_ids(ia, [0])
    with _pytest.raises(ValueError, match="expunge"):
        merge_indexes(ia, ib, str(tmp_path / "m2"))


def test_backup_restore_roundtrip(spark, corpus, index, tmp_path):
    """Backup -> restore into a new root -> identical query results;
    pending deletes travel with the backup; restore refuses to
    overwrite."""
    from solr_spark.index.maintenance import (
        backup_index, delete_by_ids, restore_index,
    )
    from solr_spark.query.engine import bm25_topk

    want = [(r["docid"], round(r["score"], 9))
            for r in bm25_topk(index, "return import", k=8).collect()]
    bpath = backup_index(index, str(tmp_path / "backups"), "snap1")
    restored = restore_index(spark, bpath, str(tmp_path / "restored"))
    got = [(r["docid"], round(r["score"], 9))
           for r in bm25_topk(restored, "return import", k=8).collect()]
    assert got == want

    # deletes on the RESTORED copy don't touch the original
    delete_by_ids(restored, [want[0][0]])
    got2 = [r["docid"] for r in bm25_topk(restored, "return import", k=8).collect()]
    assert want[0][0] not in got2
    still = [(r["docid"], round(r["score"], 9))
             for r in bm25_topk(index, "return import", k=8).collect()]
    assert still == want

    # a backup taken WITH pending deletes carries them
    b2 = backup_index(restored, str(tmp_path / "backups"), "snap2")
    r2 = restore_index(spark, b2, str(tmp_path / "restored2"))
    assert r2.has_deletes()
    assert want[0][0] not in [
        r["docid"] for r in bm25_topk(r2, "return import", k=8).collect()
    ]

    import pytest as _pytest

    with _pytest.raises(FileExistsError):
        backup_index(index, str(tmp_path / "backups"), "snap1")
    with _pytest.raises(FileExistsError):
        restore_index(spark, bpath, str(tmp_path / "restored"))


def test_add_documents_incremental(spark, tmp_path):
    """add_documents(delta) over a prefix build == one whole build —
    the incremental-commit metamorphic check."""
    from solr_spark.index.maintenance import add_documents
    from solr_spark.query.engine import bm25_topk

    whole = synthesize_corpus(spark, 200, seed=5, partitions=4).persist()
    rows = whole.orderBy("repo", "path", "commit").collect()
    base_c = spark.createDataFrame(rows[:140], whole.schema)
    delta_c = spark.createDataFrame(rows[140:], whole.schema)
    kw = dict(num_buckets=4, salt_threshold=80, num_salts=4, build_blocks=True)
    full = build_index(spark, whole, str(tmp_path / "w"), **kw)
    base = build_index(spark, base_c, str(tmp_path / "base"), **kw)
    grown = add_documents(base, delta_c, str(tmp_path / "grown"))
    assert grown.meta["n_docs"] == 200
    for q in ("return import", "jsonParser"):
        want = [(r["docid"], round(r["score"], 9))
                for r in bm25_topk(full, q, k=10).collect()]
        got = [(r["docid"], round(r["score"], 9))
               for r in bm25_topk(grown, q, k=10).collect()]
        assert got == want, q
    # parent untouched
    assert base.meta["n_docs"] == 140 and base.postings().count() > 0


def test_upsert_documents_overwrites_by_key(spark, tmp_path):
    """Re-adding an existing (repo, path, commit) key replaces the old
    doc (the reference's overwrite-by-uniqueKey add): the upserted index
    equals a fresh build over the post-update corpus."""
    from pyspark.sql import functions as _F

    from solr_spark.index.maintenance import upsert_documents
    from solr_spark.query.engine import bm25_topk

    base_c = synthesize_corpus(spark, 160, seed=3, partitions=4).persist()
    rows = base_c.orderBy("repo", "path", "commit").collect()
    # replace 10 existing docs' content and add 10 brand-new docs
    changed = spark.createDataFrame(rows[:10], base_c.schema).withColumn(
        "content", _F.concat(_F.lit("zzqqreplaced "), _F.col("content"))
    )
    newdocs = synthesize_corpus(spark, 10, seed=77, partitions=2).withColumn(
        "repo", _F.concat(_F.lit("newrepo-"), _F.col("repo"))
    )
    delta = changed.unionByName(newdocs)
    kw = dict(num_buckets=4, salt_threshold=80, num_salts=4, build_blocks=True)
    base = build_index(spark, base_c, str(tmp_path / "b"), **kw)
    up = upsert_documents(base, delta, str(tmp_path / "up"))
    assert up.meta["n_docs"] == 170

    # the replaced content is searchable; exactly the 10 replaced docs hit
    hits = bm25_topk(up, "zzqqreplaced", k=20)
    assert hits.count() == 10
    # a fresh build over the logically-equivalent corpus gives the same
    # results for ordinary queries (docids differ — compare by payload)
    keys = {(r["repo"], r["path"], r["commit"]) for r in delta.collect()}
    remain = [r for r in rows if (r["repo"], r["path"], r["commit"]) not in keys]
    logical = spark.createDataFrame(remain, base_c.schema).unionByName(delta)
    fresh = build_index(spark, logical, str(tmp_path / "fresh"), **kw)
    for q in ("return import", "zzqqreplaced"):
        want = sorted(
            (r["repo"], r["path"], round(r["score"], 6))
            for r in bm25_topk(fresh, q, k=15, with_payload=True).collect()
        )
        got = sorted(
            (r["repo"], r["path"], round(r["score"], 6))
            for r in bm25_topk(up, q, k=15, with_payload=True).collect()
        )
        assert got == want, q


def test_realtime_get_respects_deletes(spark, corpus, tmp_path):
    from solr_spark.index.maintenance import delete_by_ids
    from solr_spark.query.engine import realtime_get

    out = str(tmp_path / "rtgdel")
    idx = build_index(spark, corpus, out, num_buckets=4, salt_threshold=100)
    assert realtime_get(idx, [1, 2, 3]).count() == 3
    delete_by_ids(idx, [2])
    assert [r["docid"] for r in realtime_get(idx, [1, 2, 3]).collect()] == [1, 3]
    # a tlog re-add makes the doc visible again (overlay wins); the tlog
    # row carries the doc's payload fields like a real update would
    tlog = (
        idx.docs()
        .where(F.col("docid") == 2)
        .withColumn("_version_", F.lit(99).cast("long"))
    )
    got = realtime_get(idx, [1, 2, 3], tlog=tlog)
    assert sorted(r["docid"] for r in got.collect()) == [1, 2, 3]


def test_bm25_batch_with_payload(spark, index):
    from solr_spark.query.engine import bm25_topk, bm25_topk_batch

    got = bm25_topk_batch(
        index, {"a": "return import"}, k=5, with_payload=True
    ).collect()
    want = bm25_topk(index, "return import", k=5, with_payload=True).collect()
    assert [(r["docid"], r["repo"], r["path"]) for r in got] == [
        (r["docid"], r["repo"], r["path"]) for r in want
    ]
    assert all(r["sha256"] for r in got)


def test_pre_analyzed_build(spark, corpus, tmp_path):
    """PreAnalyzed: a corpus whose content column already holds the
    token stream indexes WITHOUT running the chain — feeding it the
    default chain's own output must reproduce the normal build's
    results exactly."""
    from solr_spark.analysis.analyzer import tokens_col
    from solr_spark.query.engine import bm25_topk

    normal = build_index(
        spark, corpus, str(tmp_path / "norm"), num_buckets=4,
        salt_threshold=100, num_salts=4,
    )
    pre = corpus.select(
        "repo", "path", "commit",
        tokens_col("content").alias("content"),
    )
    pidx = build_index(
        spark, pre, str(tmp_path / "pre"), num_buckets=4,
        salt_threshold=100, num_salts=4,
        analyzer={"pre_analyzed": True},
    )
    for q in ("return import", "jsonParser bufferSize"):
        want = [(r["docid"], round(r["score"], 9))
                for r in bm25_topk(normal, q, k=8).collect()]
        got = [(r["docid"], round(r["score"], 9))
               for r in bm25_topk(pidx, q, k=8).collect()]
        assert got == want, q
    # custom external tokens index literally (no chain interference)
    ext = spark.createDataFrame(
        [("r", "p1", "c", ["Alpha", "BETA"]), ("r", "p2", "c", ["beta"])],
        "repo string, path string, commit string, content array<string>",
    )
    eidx = build_index(
        spark, ext, str(tmp_path / "ext"), num_buckets=2,
        build_blocks=False, analyzer={"pre_analyzed": True},
    )
    # the externally-produced cased token is in the dictionary verbatim
    assert "Alpha" in eidx.term_stats_for(["Alpha", "alpha"])
