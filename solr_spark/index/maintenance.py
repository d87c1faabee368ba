"""Index maintenance: delete-by-query (liveDocs) + expungeDeletes + merge.

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
- `expunge_deletes` and `merge_indexes` are the merge: like Lucene,
  which writes a merged segment through the same codec as a flushed
  one, they write through the build's own body
  (`builder._write_tables` + `builder._write_dictionary`): one layout
  exchange of the postings, blocks encoded from it, and statistics
  (n_docs, avgdl, df, cttf) recomputed from the live rows — a merged
  segment's docFreq and maxDoc count only its live docs. A term whose
  every doc was deleted leaves the dictionary.

While deletes are pending, WAND leaves its threshold T0 unseeded (the
metadata seed counts deleted docs, so a live doc below it could be
wrongly pruned): the driver venue drops the deleted ids before scoring,
and past its volume gate or the sidecar's broadcast cap the query runs
on the flat path, whose live postings are exact at any delete ratio.
expunge restores the seeded threshold.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from solr_spark.index.builder import (
    Index,
    IndexPaths,
    _write_dictionary,
    _write_tables,
)

def delete_by_ids(index: Index, docids: list[int]) -> int:
    """Mark docids deleted (idempotent; ids the index does not hold are
    ignored). Returns the number of NEWLY deleted ids. The explicit-id
    API — the delete set is caller-bounded, so a driver-side list is
    fine here; set-valued deletes go through `delete_by_df`/
    `delete_by_query`, which never collect."""
    spark = index.spark
    ids = sorted({int(d) for d in docids})
    if not ids:
        return 0
    batch = spark.createDataFrame([(d,) for d in ids], "docid long")
    return delete_by_df(index, batch)


def delete_by_df(index: Index, docids_df: DataFrame) -> int:
    """Mark every docid in `docids_df` that the index holds deleted;
    returns the count of NEWLY deleted ids. Fully distributed: the
    matched set is published straight to the deletes sidecar
    (snapshots.publish takes the DataFrame), never collected to the
    driver — a delete matching 100M docs stays executor-side (round-4
    scale finding)."""
    from solr_spark.sources.snapshots import publish

    # the docs' docid column semi-joined with the batch: a docid the
    # index does not hold never reaches the sidecar (it would count as
    # deleted in numDocs and unseed WAND's threshold), and the docs side
    # is unique, so no distinct is needed
    held = index.docs().select("docid").join(
        docids_df.select("docid"), "docid", "left_semi"
    )
    batch = index.minus_deleted(held).persist()
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


def _tables(index: Index, offset: int = 0) -> list[DataFrame | None]:
    """The live docs, postings and positions (None when the index keeps
    none) of `index` with docids shifted by `offset`, plus its (tid,
    term[, field]) dictionary: the inputs maintenance writes through
    `_write_index`."""

    def shifted(df: DataFrame) -> DataFrame:
        if not offset:
            return df
        return df.withColumn("docid", F.col("docid") + F.lit(offset))

    key_cols = ["field", "term"] if index.meta.get("fields") else ["term"]
    return [
        shifted(index.docs_live()),
        shifted(index.postings()),
        shifted(index.positions()) if index.meta.get("has_positions") else None,
        index.term_stats().select("tid", *key_cols),
    ]


def _write_index(
    spark: SparkSession, paths: IndexPaths, tables: list, meta: dict
) -> Index:
    """Write an index at `paths` from (docs, postings, positions, terms)
    through the build's body, with `meta`'s config. On a multi-field
    index the postings first take the `fid` ordinal the block encoder
    needs (per-field avgdl) from the dictionary's (tid, field) — a tid
    belongs to exactly one field — so the one layout exchange carries
    it, as the build's does."""
    docs, postings, positions, terms = tables
    fields = meta.get("fields")
    if fields:
        fid = F.array_position(
            F.array(*[F.lit(f) for f in fields]), F.col("field")
        ) - F.lit(1)
        postings = postings.join(
            terms.select("tid", fid.cast("int").alias("fid")), "tid"
        )
    persisted: list[DataFrame] = []
    try:
        laid = _write_tables(paths, docs, postings, positions, meta, persisted)
        return _write_dictionary(spark, paths, laid, terms, meta)
    finally:
        for df in persisted:
            df.unpersist()


def expunge_deletes(index: Index) -> dict:
    """Physically drop deleted docs (expungeDeletes / the merge step).

    Writes the index's live views through the build's body into a
    sibling root — postings, docs and positions in the bucketed layout,
    blocks, and a dictionary and corpus stats counted over the live docs
    only — then swaps each table and meta.json into place, clears the
    deletes sidecar and gives the handle the new meta, so repeated
    expunges are no-ops. Returns a report dict: `expunged` is the number
    of docs removed."""
    report: dict = {"expunged": 0}
    if not index.has_deletes():
        return report
    paths = index.paths
    n_before = index.docs().count()  # a parquet footer read
    tmp = IndexPaths(os.path.normpath(paths.root) + ".expunge")
    shutil.rmtree(tmp.root, ignore_errors=True)
    new = _write_index(index.spark, tmp, _tables(index), dict(index.meta))
    # a table the rewritten index does not keep (the blocks of an
    # emptied index) is removed
    for name in ("docs", "postings", "positions", "blocks", "term_stats"):
        src, live = os.path.join(tmp.root, name), os.path.join(paths.root, name)
        if os.path.isdir(src):
            _swap_dir(src, live)
        else:
            shutil.rmtree(live, ignore_errors=True)
    os.replace(tmp.meta, paths.meta)
    shutil.rmtree(tmp.root, ignore_errors=True)
    shutil.rmtree(paths.deletes, ignore_errors=True)
    # the rewritten files invalidate every handle cache: the
    # commit-opens-a-new-searcher analogue
    index.meta = new.meta
    index.invalidate_caches()
    report["expunged"] = n_before - new.meta["n_docs"]
    if new.meta["has_blocks"]:
        report["blocks_reencoded"] = True
    return report


def merge_indexes(a: Index, b: Index, out_root: str) -> Index:
    """MERGEINDEXES (solr CoreAdmin MergeIndexes action / Lucene
    IndexWriter.addIndexes): combine two indexes built with the SAME
    analyzer config and fields into one, re-based docids (b's shift by
    a's docid space) and EXACTLY recomputed statistics — the merged
    index is value-identical to an index built over the concatenated
    corpus (asserted by the metamorphic tests: merge(half1, half2) gives
    the same BM25 results and blocks as build(whole), single- and
    multi-field).

    Scale shape: the union of the inputs' docs, postings and positions
    is written through the build's body (no corpus re-tokenize): one
    layout exchange of the postings feeds their write, the block encode
    (when either input had blocks) and the dictionary's df/cttf. Term
    strings (and fields) come from the union of the input dictionaries:
    tid = xxhash64([field,] term) is content-derived, so the two agree
    by construction.

    Pending deletes must be expunged first (deleted docs would leak
    through the union)."""
    for side in (a, b):
        if side.has_deletes():
            raise ValueError("merge_indexes: expunge_deletes first")
    for key in ("stopwords", "synonyms", "analyzer", "fields", "stored_content"):
        if a.meta.get(key) != b.meta.get(key):
            raise ValueError(f"merge_indexes: index config differs ({key})")

    # the shift must clear a's ACTUAL docid space, not its live count:
    # expunge/merge compact rows without renumbering docids, so after
    # an expunged input max(docid) exceeds n_docs-1 and an n_docs-based
    # shift would assign b's docs ids that already exist in a (two
    # documents silently sharing a docid — round-4 advice, high)
    offset = int(
        a.docs().agg(F.max("docid").alias("m")).collect()[0]["m"]
    ) + 1
    tables = [
        None if x is None or y is None else x.unionByName(y)
        for x, y in zip(_tables(a), _tables(b, offset))
    ]
    tables[3] = tables[3].distinct()  # a term in both dictionaries
    meta = dict(a.meta)
    meta.update(
        {
            "num_chunks": 1,
            "has_blocks": bool(
                a.meta.get("has_blocks") or b.meta.get("has_blocks")
            ),
            "merged_from": [a.paths.root, b.paths.root],
        }
    )
    meta.pop("build_seconds", None)
    return _write_index(a.spark, IndexPaths(out_root), tables, meta)


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
        if entry == "stage" or entry.endswith((".old", ".inprogress")):
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
