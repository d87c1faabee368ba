"""Interactive query serving: result cache + request micro-batching.

The round-4 throughput study measured the engine's interactive ceiling:
a concurrent client pool plateaus at ~3 qps at ANY core count because
per-query driver work (analysis, dictionary seek, plan build, job
submit) serializes on the driver, while the batched formulation
(`bm25_topk_batch`, one distributed plan for N queries) scales with
cores. This module closes the gap for a SERVING workload:

- `bm25_search` — collected top-k with a per-handle query-result LRU,
  the Solr queryResultCache analogue
  (solr/core/src/java/org/apache/solr/search/SolrIndexSearcher.java:123-124
  caches a DocList window keyed by (query, sort, filters); a commit
  opens a new searcher with cold caches — here maintenance ops drop the
  handle's result LRU, `Index._qr_lru`).
- `QueryBatcher` — a driver-side leader/follower micro-batcher:
  concurrent `search()` callers enqueue; a background loop drains the
  queue every `max_wait_ms` and executes the whole wave as ONE
  `bm25_topk_batch` plan, so P concurrent clients cost one dictionary
  seek + two shuffles instead of P of each. This is the classic
  dynamic-batching server shape; per-query results are rank-identical
  to `bm25_topk` (asserted by tests/test_round5_serving.py).

Term-dictionary seeks themselves are cached one level down
(Index._dict_lru, builder.py — the Lucene TermInfosReader cache
analogue), so even cache-miss queries skip the seek job once their
terms are hot.
"""

from __future__ import annotations

import queue
import threading
from collections import OrderedDict

from pyspark.sql import Row

from solr_spark.index.builder import Index
from solr_spark.query.engine import bm25_topk, bm25_topk_batch

#: query-result LRU capacity per index handle (each entry is a k-sized
#: list of (docid, score) rows — Solr's queryResultCache default is 512)
QR_LRU_CAP = 1024


def _qr_cache(index: Index) -> OrderedDict:
    if index._qr_lru is None:
        index._qr_lru = OrderedDict()
    return index._qr_lru


def _qr_get(index: Index, key) -> list[Row] | None:
    lru = _qr_cache(index)
    if key in lru:
        lru.move_to_end(key)
        return lru[key]
    return None


def _qr_put(index: Index, key, rows: list[Row]) -> None:
    lru = _qr_cache(index)
    lru[key] = rows
    lru.move_to_end(key)
    while len(lru) > QR_LRU_CAP:
        lru.popitem(last=False)


def bm25_search(
    index: Index,
    qtext: str,
    k: int = 10,
    mode: str = "OR",
    field: str | None = None,
    use_cache: bool = True,
) -> list[Row]:
    """Collected top-k `(docid, score)` rows with a query-result cache.

    The interactive serving call: identical results to
    `bm25_topk(...).collect()`, but a repeated (qtext, k, mode, field)
    is served driver-side with zero Spark jobs. Maintenance ops
    (deletes, expunge, merge) drop the handle's result LRU
    (`Index._qr_lru`), so a cached result never survives an index
    mutation."""
    key = (qtext, int(k), mode, field)
    if use_cache:
        hit = _qr_get(index, key)
        if hit is not None:
            return hit
    rows = bm25_topk(index, qtext, k=k, mode=mode, field=field).collect()
    if use_cache:
        _qr_put(index, key, rows)
    return rows


class _Req:
    __slots__ = ("qtext", "event", "rows", "err")

    def __init__(self, qtext: str):
        self.qtext = qtext
        self.event = threading.Event()
        self.rows: list[Row] | None = None
        self.err: BaseException | None = None


_STOP = object()


class QueryBatcher:
    """Dynamic micro-batching front-end over `bm25_topk_batch`.

    Concurrent `search(qtext)` calls from client threads enqueue; a
    daemon loop collects up to `max_batch` requests per `max_wait_ms`
    window and runs the wave as ONE distributed plan. An isolated
    request still executes immediately after at most `max_wait_ms` of
    added latency; under load the batch amortizes driver planning
    across the wave, which is exactly where the per-query driver cost
    dominated. k/mode/field are fixed per batcher (one plan shape).

    Results are rank-identical to `bm25_topk` per query (the batch
    engine shares scoring + tie-break); cached results come from the
    same query-result LRU as `bm25_search`."""

    def __init__(
        self,
        index: Index,
        k: int = 10,
        mode: str = "OR",
        field: str | None = None,
        max_batch: int = 64,
        max_wait_ms: float = 8.0,
        use_cache: bool = True,
        max_inflight: int = 4,
    ):
        from concurrent.futures import ThreadPoolExecutor

        self.index = index
        self.k = int(k)
        self.mode = mode
        self.field = field
        self.max_batch = int(max_batch)
        self.max_wait_ms = float(max_wait_ms)
        self.use_cache = use_cache
        self._queue: queue.Queue = queue.Queue()
        # waves OVERLAP: while one wave's Spark job runs, the loop keeps
        # draining the queue and launches the next wave concurrently
        # (FAIR scheduler shares executors between wave jobs). Without
        # this, every arrival queues behind the in-flight wave and the
        # batcher can only LOSE to independent per-query jobs.
        self._inflight = threading.Semaphore(max(1, int(max_inflight)))
        self._pool = ThreadPoolExecutor(
            max_workers=max(1, int(max_inflight)),
            thread_name_prefix="solr-spark-query-wave",
        )
        self._thread = threading.Thread(
            target=self._loop, name="solr-spark-query-batcher", daemon=True
        )
        self._thread.start()

    # -- client side ----------------------------------------------------
    def search(self, qtext: str, timeout: float | None = None) -> list[Row]:
        if self.use_cache:
            hit = _qr_get(self.index, (qtext, self.k, self.mode, self.field))
            if hit is not None:
                return hit
        req = _Req(qtext)
        self._queue.put(req)
        if not req.event.wait(timeout):
            raise TimeoutError(f"query batcher timed out: {qtext!r}")
        if req.err is not None:
            raise req.err
        return req.rows or []

    def close(self) -> None:
        self._queue.put(_STOP)
        self._thread.join(timeout=30)
        self._pool.shutdown(wait=True)

    # -- batching loop ----------------------------------------------------
    def _loop(self) -> None:
        import time

        while True:
            first = self._queue.get()
            if first is _STOP:
                return
            wave = [first]
            deadline = time.time() + self.max_wait_ms / 1000.0
            while len(wave) < self.max_batch:
                left = deadline - time.time()
                if left <= 0:
                    break
                try:
                    nxt = self._queue.get(timeout=left)
                except queue.Empty:
                    break
                if nxt is _STOP:
                    self._submit(wave)
                    return
                wave.append(nxt)
            self._submit(wave)

    def _submit(self, wave: list[_Req]) -> None:
        # bounded in-flight waves: acquire BEFORE submit so a stalled
        # cluster applies backpressure to the drain loop instead of
        # growing an unbounded job pile
        self._inflight.acquire()
        def go():
            try:
                self._run(wave)
            finally:
                self._inflight.release()
        self._pool.submit(go)

    def _run(self, wave: list[_Req]) -> None:
        # duplicate texts inside a wave collapse to one batch entry
        # (the engine canonicalizes term multisets anyway; this keeps
        # the qid->request fan-out explicit)
        try:
            by_text: dict[str, list[_Req]] = {}
            for r in wave:
                by_text.setdefault(r.qtext, []).append(r)
            qids = {f"q{i}": t for i, t in enumerate(by_text)}
            out = bm25_topk_batch(
                self.index, qids, k=self.k, mode=self.mode, field=self.field
            ).collect()
            rows_by_qid: dict[str, list[Row]] = {}
            for row in out:
                rows_by_qid.setdefault(row["qid"], []).append(row)
            for qid, text in qids.items():
                rows = sorted(
                    rows_by_qid.get(qid, []), key=lambda r: r["rank"]
                )
                slim = [
                    Row(docid=r["docid"], score=r["score"]) for r in rows
                ]
                if self.use_cache:
                    _qr_put(
                        self.index,
                        (text, self.k, self.mode, self.field),
                        slim,
                    )
                for req in by_text[text]:
                    req.rows = slim
        except BaseException as e:  # deliver failures to ALL waiters
            for req in wave:
                req.err = e
        finally:
            for req in wave:
                req.event.set()
