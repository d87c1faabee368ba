"""Index maintenance: delete-by-query (liveDocs) + expungeDeletes.

The reference deletes documents through the update log
(solr/core/src/java/org/apache/solr/update/DirectUpdateHandler2.java
delete / deleteByQuery) and physically reclaims them when segments
merge (forceMerge / expungeDeletes). The Spark shape:

- deletes land in a snapshot-committed `deletes/` sidecar table of
  docids (sources/snapshots.py: atomic manifest commit — a crash never
  publishes a torn delete batch). Every query excludes them in one
  place: `Index.postings()`/`positions()` are live views (a BROADCAST
  anti-join while the sidecar is small), and — faithful to Lucene —
  corpus statistics keep their build-time values until the index is
  compacted, so block-max metadata stays a valid upper bound.
- `expunge_deletes` is the merge: rewrite postings/docs/positions
  without the deleted rows (same bucketed layout), re-encode block-max
  blocks from the live postings through the build's own encode path
  (`builder._encode_blocks`: one salt rule, per-field avgdl on
  multi-field indexes, so the rebuild needs no staged state), refresh
  the dictionary's mtp/skips columns, and clear the sidecar. Statistics
  stay build-time (expungeDeletes semantics); a stats refresh is a
  rebuild — `sources.snapshots.build_index_versioned` is that path.

While deletes are pending, WAND leaves its threshold T0 unseeded (the
metadata seed counts deleted docs, so a live doc below it could be
wrongly pruned): the driver venue drops the deleted ids before scoring,
and past its volume gate or the sidecar's broadcast cap the query runs
on the flat path, whose live postings are exact at any delete ratio.
expunge restores the seeded threshold.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from solr_spark.index.builder import (
    Index,
    IndexPaths,
    _corpus_stats,
    _encode_blocks,
    _term_stats,
    _tid_clustered,
    _write_bucketed,
    _write_term_stats,
)


def delete_by_ids(index: Index, docids: list[int]) -> int:
    """Mark docids deleted (idempotent; unknown ids are harmless).
    Returns the number of NEWLY deleted ids. The explicit-id API — the
    delete set is caller-bounded, so a driver-side list is fine here;
    set-valued deletes go through `delete_by_df`/`delete_by_query`,
    which never collect."""
    spark = index.spark
    ids = sorted({int(d) for d in docids})
    if not ids:
        return 0
    batch = spark.createDataFrame([(d,) for d in ids], "docid long")
    return delete_by_df(index, batch)


def delete_by_df(index: Index, docids_df: DataFrame) -> int:
    """Mark every docid in `docids_df` deleted; returns the count of
    NEWLY deleted ids. Fully distributed: the matched set is published
    straight to the deletes sidecar (snapshots.publish takes the
    DataFrame), never collected to the driver — a delete matching 100M
    docs stays executor-side (round-4 scale finding)."""
    from solr_spark.sources.snapshots import publish

    batch = index.minus_deleted(docids_df.select("docid").distinct()).persist()
    try:
        n = batch.count()
        if n:
            publish(index.paths.deletes, batch, mode="append", n_rows=n)
            # the dictionary/table caches stay valid (stats are
            # build-time) but cached liveDocs + query RESULTS are stale
            index._invalidate_deletes()
        return int(n)
    finally:
        batch.unpersist()


def delete_by_query(
    index: Index, qtext: str, mode: str = "OR", field: str | None = None
) -> int:
    """deleteByQuery: every live doc matching the analyzed query joins
    the deletes sidecar. Matching runs through the same postings scan as
    search (bucket-pruned, term-pushed); the matched docids flow to the
    sidecar as a DataFrame — nothing corpus-proportional touches the
    driver."""
    from solr_spark.query.engine import bm25_scores

    matched = bm25_scores(index, qtext, mode=mode, field=field).select("docid")
    return delete_by_df(index, matched)


def _swap_dir(new_dir: str, live_dir: str) -> None:
    """Replace `live_dir` with `new_dir` via two renames (the window
    without a live dir is between two metadata ops, not a data copy).
    A missing live dir (first-time write, e.g. blocks on a fresh merged
    index) is just a move into place."""
    old = live_dir + ".old"
    shutil.rmtree(old, ignore_errors=True)
    if os.path.isdir(live_dir):
        os.rename(live_dir, old)
    os.rename(new_dir, live_dir)
    shutil.rmtree(old, ignore_errors=True)


def expunge_deletes(index: Index) -> dict:
    """Physically drop deleted docs (expungeDeletes / the merge step).

    Compacts postings, docs and positions (anti-join + the original
    bucketed layout), re-encodes blocks from the live postings and
    refreshes the dictionary's block-max summary (single- and
    multi-field indexes alike), then clears the deletes sidecar, so
    repeated expunges are no-ops. Returns a report dict.
    """
    paths = index.paths
    report: dict = {"expunged": 0}
    if not index.has_deletes():
        return report
    report["expunged"] = index.deleted_ids().count()
    num_buckets = int(index.meta["num_buckets"])

    # the live views are the compacted tables
    tmp_post = paths.postings + ".compact"
    _write_bucketed(index.postings(), tmp_post, num_buckets, ("tid", "docid"))
    _swap_dir(tmp_post, paths.postings)

    tmp_docs = paths.docs + ".compact"
    index.docs_live().write.mode("overwrite").parquet(tmp_docs)
    _swap_dir(tmp_docs, paths.docs)

    if index.meta.get("has_positions") and os.path.isdir(paths.positions):
        tmp_pos = paths.positions + ".compact"
        _write_bucketed(
            index.positions(), tmp_pos, num_buckets, ("tid", "docid", "pos")
        )
        _swap_dir(tmp_pos, paths.positions)

    # the swapped dirs invalidate any memoized table handles NOW, not
    # just at the end — later steps must list the new files
    index._df_cache.clear()

    if index.meta.get("has_blocks"):
        _reencode_blocks(index)
        report["blocks_reencoded"] = True

    shutil.rmtree(paths.deletes, ignore_errors=True)
    # the rewritten files (dictionary mtp/skips included) invalidate
    # every handle cache: the commit-opens-a-new-searcher analogue
    index.invalidate_caches()
    return report


def _reencode_blocks(index: Index) -> None:
    """Rebuild blocks + the dictionary's (mtp, skips) columns from the
    COMPACTED postings through the build's encode path. Salting follows
    the live run length (the one salt rule), not the build-time
    `is_head` flag; no query path reads either — `salt` is an opaque
    part of the block key — so results do not change. Statistics (df,
    avgdl) stay build-time, as expungeDeletes leaves them."""
    spark = index.spark
    paths = index.paths
    ts = spark.read.parquet(paths.term_stats)
    tmp_blocks = paths.blocks + ".compact"
    fold = _encode_blocks(
        _tid_clustered(
            spark.read.parquet(paths.postings), ts, index.meta.get("fields")
        ),
        tmp_blocks, index.meta,
    )
    # the fold reads the new blocks, so the dictionary is rewritten
    # before either directory swaps into place
    tmp_ts = paths.term_stats + ".compact"
    _write_term_stats(
        ts.drop("mtp", "skips").join(fold, "tid", "left"),
        tmp_ts, int(index.meta["num_buckets"]),
    )
    _swap_dir(tmp_blocks, paths.blocks)
    _swap_dir(tmp_ts, paths.term_stats)


def merge_indexes(a: Index, b: Index, out_root: str) -> Index:
    """MERGEINDEXES (solr CoreAdmin MergeIndexes action / Lucene
    IndexWriter.addIndexes): combine two indexes built with the SAME
    analyzer config and fields into one, re-based docids (b's shift by
    a's docid space) and EXACTLY recomputed statistics — the merged
    index is value-identical to an index built over the concatenated
    corpus (asserted by the metamorphic tests: merge(half1, half2) gives
    the same BM25 results and blocks as build(whole), single- and
    multi-field).

    Scale shape: postings/docs/positions are UNIONS written back in the
    original bucketed layout (one shuffle each, no corpus re-tokenize);
    the dictionary is recomputed from a postings aggregation
    (vocabulary-sized); blocks re-encode from the merged postings
    through the build's encode path when either input had them. tid =
    xxhash64([field,] term) is content-derived, so the two dictionaries
    agree by construction.

    Pending deletes must be expunged first (deleted docs would leak
    through the union)."""
    spark = a.spark
    for side in (a, b):
        if side.has_deletes():
            raise ValueError("merge_indexes: expunge_deletes first")
    for key in ("stopwords", "synonyms", "analyzer", "fields", "stored_content"):
        if a.meta.get(key) != b.meta.get(key):
            raise ValueError(f"merge_indexes: index config differs ({key})")

    paths = IndexPaths(out_root)
    os.makedirs(out_root, exist_ok=True)
    num_buckets = int(a.meta["num_buckets"])
    fields = a.meta.get("fields")
    # the shift must clear a's ACTUAL docid space, not its live count:
    # expunge/merge compact rows without renumbering docids, so after
    # an expunged input max(docid) exceeds n_docs-1 and an n_docs-based
    # shift would assign b's docs ids that already exist in a (two
    # documents silently sharing a docid — round-4 advice, high)
    offset = int(
        a.docs().agg(F.max("docid").alias("m")).collect()[0]["m"]
    ) + 1

    def shifted(df: DataFrame) -> DataFrame:
        return df.withColumn("docid", F.col("docid") + F.lit(offset))

    merged_post = a._read(a.paths.postings).unionByName(
        shifted(b._read(b.paths.postings))
    )
    _write_bucketed(merged_post, paths.postings, num_buckets, ("tid", "docid"))

    a.docs().unionByName(shifted(b.docs())).write.mode("overwrite").parquet(
        paths.docs
    )

    has_positions = bool(
        a.meta.get("has_positions") and b.meta.get("has_positions")
    )
    if has_positions:
        _write_bucketed(
            a._read(a.paths.positions).unionByName(
                shifted(b._read(b.paths.positions))
            ),
            paths.positions, num_buckets, ("tid", "docid", "pos"),
        )

    n_docs, avgdl, avgdl_by_field = _corpus_stats(
        spark.read.parquet(paths.docs), fields
    )
    meta = dict(a.meta)
    meta.update(
        {
            "n_docs": n_docs,
            "avgdl": avgdl,
            "num_chunks": 1,
            "has_positions": has_positions,
            "has_blocks": bool(
                a.meta.get("has_blocks") or b.meta.get("has_blocks")
            ),
            "merged_from": [a.paths.root, b.paths.root],
        }
    )
    if fields:
        meta["avgdl_by_field"] = avgdl_by_field
    meta.pop("build_seconds", None)

    # dictionary: exact df/cttf from the merged postings; term strings
    # (and fields) from the union of the input dictionaries (tid-keyed)
    key_cols = ["field", "term"] if fields else ["term"]
    terms = (
        a.term_stats().select("tid", *key_cols)
        .unionByName(b.term_stats().select("tid", *key_cols))
        .distinct()
    )
    post = spark.read.parquet(paths.postings)
    block_meta = None
    if meta["has_blocks"]:
        block_meta = _encode_blocks(
            _tid_clustered(post, terms, fields), paths.blocks, meta
        )
    _write_term_stats(
        _term_stats(
            post, terms, int(meta["salt_threshold"]), num_buckets, block_meta
        ),
        paths.term_stats, num_buckets,
    )
    with open(paths.meta, "w") as f:
        json.dump(meta, f, indent=2)
    return Index(spark, paths, meta)


def backup_index(index: Index, backup_root: str, name: str) -> str:
    """Snapshot backup (the replication handler's backup command,
    solr/core/src/java/org/apache/solr/handler/ReplicationHandler.java
    CMD_BACKUP / SnapShooter): copy the index's committed artifacts
    into `backup_root/name` — parquet files are immutable once
    published, so a file-level copy IS a consistent snapshot as long as
    no maintenance op (expunge/merge swap) runs concurrently, the same
    caveat as the reference's snapshot-while-committing rule. Pending
    deletes travel with the backup (the sidecar is part of the index
    state). Returns the backup path."""
    dest = os.path.join(backup_root, name)
    if os.path.exists(dest):
        raise FileExistsError(f"backup {name!r} already exists in {backup_root}")
    os.makedirs(backup_root, exist_ok=True)
    src = index.paths.root
    tmp = dest + ".inprogress"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for entry in os.listdir(src):
        s = os.path.join(src, entry)
        if entry == "stage" or entry.endswith((".old", ".compact", ".inprogress")):
            continue
        if os.path.isdir(s):
            shutil.copytree(s, os.path.join(tmp, entry))
        else:
            shutil.copy2(s, os.path.join(tmp, entry))
    os.rename(tmp, dest)  # atomic publish of the finished backup
    return dest


def restore_index(spark, backup_path: str, restore_root: str) -> Index:
    """Restore a backup into a NEW index root (CMD_RESTORE) and return
    the loaded handle. The restore target must not exist — restores
    never overwrite a live index (publish via sources.snapshots for
    atomic switch-over semantics)."""
    if os.path.exists(restore_root):
        raise FileExistsError(f"restore target {restore_root!r} exists")
    if not os.path.exists(os.path.join(backup_path, "meta.json")):
        raise FileNotFoundError(f"no index backup at {backup_path!r}")
    os.makedirs(os.path.dirname(restore_root) or ".", exist_ok=True)
    tmp = restore_root + ".inprogress"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.copytree(backup_path, tmp)
    os.rename(tmp, restore_root)
    return Index.load(spark, restore_root)


def add_documents(index: Index, corpus: DataFrame, out_root: str) -> Index:
    """Incremental indexing: the add-docs-then-commit flow
    (DirectUpdateHandler2.addDoc + commit opens a searcher over old and
    new segments). Builds a DELTA index over just the new corpus rows —
    tokenize/invert cost is proportional to the delta, never the
    existing index — with the parent's exact analyzer config, fields,
    stored-content setting and layout knobs, then merges (merge_indexes)
    into `out_root` with re-based docids and exactly recomputed
    statistics. The parent index is untouched (commit-switch via
    sources.snapshots keeps readers on it until the new root is
    published).

    New (repo, path, commit) keys must not collide with existing docs —
    updates go through delete_by_query + add (the reference's
    overwrite-by-uniqueKey is likewise delete+add at the segment level).
    """
    from solr_spark.index.builder import build_index

    delta_root = out_root + ".delta"
    shutil.rmtree(delta_root, ignore_errors=True)
    m = index.meta
    delta = build_index(
        index.spark,
        corpus,
        delta_root,
        num_buckets=int(m["num_buckets"]),
        salt_threshold=int(m["salt_threshold"]),
        num_salts=int(m["num_salts"]),
        # merge_indexes encodes the merged postings' blocks when the
        # parent has them; blocks of the delta alone would be discarded
        build_blocks=False,
        build_positions=bool(m.get("has_positions")),
        fields=m.get("fields"),
        store_content=bool(m.get("stored_content")),
        stopwords=m.get("stopwords"),
        synonyms=m.get("synonyms"),
        analyzer=m.get("analyzer"),
    )
    try:
        return merge_indexes(index, delta, out_root)
    finally:
        shutil.rmtree(delta_root, ignore_errors=True)


def upsert_documents(index: Index, corpus: DataFrame, out_root: str) -> Index:
    """Overwrite-by-uniqueKey (the reference's default add semantics:
    DirectUpdateHandler2.addDoc deletes the previous version of the
    uniqueKey then adds): rows in `corpus` whose (repo, path, commit)
    key already exists REPLACE the old docs; new keys append.

    Shape: one broadcast-friendly join of the delta's keys against the
    docs table finds the colliding docids (delta-sized work), they're
    tombstoned, every pending delete (these and any earlier ones) is
    expunged — merge_indexes refuses an index with deletes pending —
    then add_documents merges the delta in. The returned index lives at
    `out_root`; the parent is left expunged but otherwise intact."""
    from solr_spark.index.builder import DOC_KEY

    keys = corpus.select(*DOC_KEY).distinct()
    colliding = (
        index.docs()
        .join(F.broadcast(keys), list(DOC_KEY), "left_semi")
        .select("docid")
    )
    delete_by_df(index, colliding)
    expunge_deletes(index)  # no-op when nothing is pending
    return add_documents(index, corpus, out_root)
