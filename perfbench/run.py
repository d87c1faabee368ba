"""solr_spark benchmark: BM25 search and index updates on local Spark.

Run from the repository root:

    python3 perfbench/run.py --workload search --seed 1 --seconds 10 --trace 0

Workloads (see perfbench/README.md for why each exists):

- ``search``: set-up builds an index (blocks + positions) over a seeded
  synthetic corpus; the timed loop is one closed-loop client issuing
  distinct queries (OR, AND, single head/tail terms and 2-word phrases
  in a fixed rotation) through the public query entry points.
- ``search_deletes``: the same corpus and query stream with DELETES docs
  deleted in set-up (delete_by_ids) and not expunged: every term query
  bypasses block-max WAND for the flat path plus the liveDocs anti-join.

The traced run adds one update round on either workload (delete_by_ids,
queries with the deletes pending, upsert_documents of replaced + new
keys, queries on the new handle) and a like-for-like probe of the
deletes anti-join (the same flat queries on one handle before and after
a delete).

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the same
workload with a span around every public call plus the per-layer probes
and prints the per-layer metrics. Every run checks its answers (BM25
oracle, flat engine, inline phrase matcher, sha256, update visibility)
outside the timed regions. The last stdout line is the result object;
the line before it is a context record (seed, cores, corpus size, sample
counts, contention markers) that is also written to .perfbench_out/.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")

#: local[n] width, chosen by measurement (perfbench/README.md): on a
#: 4-vCPU VM local[2] set up faster than local[4] and matched its query
#: latency, with the JIT and GC threads left a core of their own
CORES = max(1, min(2, os.cpu_count() or 1))
DRIVER_HEAP = "1g"
NUM_BUCKETS = 4
K = 10
WORKLOADS = ("search", "search_deletes")
N_DOCS = 800
#: the document collection is the same in every run; --seed draws the
#: query texts, the deleted docs and the upsert batch. With the corpus
#: drawn from --seed too, query medians spread about twice as wide across
#: seeds as across processes of one seed (23% against 10-14%)
CORPUS_SEED = 42
#: docs deleted (search_deletes, and each update round), live keys
#: replaced and new keys added by an update round's upsert, queries
#: issued with the round's deletes pending and again after the upsert
DELETES, REPLACED, ADDED, ROUND_QUERIES = 40, 40, 40, 3
#: untimed rotations of SHAPES before the timed loop (counted in setup_s)
WARMUP_ROTATIONS = 1
DOC_KEY = ("repo", "path", "commit")
#: one query of each shape per rotation; phrases hold a fixed 1/4 share
SHAPES = ("or3", "phrase", "or2", "and2", "head1", "or4", "tail1", "phrase")
TERM_SHAPES = tuple(s for s in SHAPES if s != "phrase")
#: queries per throughput window: half a rotation, the same shape mix
WINDOW = len(SHAPES) // 2
QUERY_SPAN = {
    "positions": "query.positions.phrase",
    "wand": "query.wand.topk",
    "engine": "query.engine.topk",
}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # the program is imported from the checkout this file lives in, and
    # Spark's Python workers must import it too
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    try:
        import solr_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import solr_spark from {ROOT}: {e}", file=sys.stderr)
        return 2
    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        result, context = bench.run()
    finally:
        bench.close()
    os.makedirs(OUT, exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(OUT, f"{tag}.json"), "w") as f:
        json.dump({"result": result, "context": context}, f, indent=1)
    if bench.trace:
        with open(os.path.join(OUT, f"{tag}-spans.json"), "w") as f:
            json.dump(bench.tracer.dump(), f)
    print(json.dumps({"context": context}))
    print(json.dumps(result))
    return 0


class Bench:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool):
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.rng = random.Random(seed)
        self.work = os.path.join(WORK, f"{workload}-{os.getpid()}")
        self.spark = None
        self.attempted = 0
        self.failed: list[str] = []
        self.samples: dict[str, int] = {}
        self.extra: dict[str, float] = {}
        self.tracer = None

    # ---- lifecycle -------------------------------------------------------

    def run(self) -> tuple[dict, dict]:
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(os.path.join(self.work, "tmp"))
        # every scratch file Spark, the JVM and Python write stays in the
        # private work dir (the default /dev/shm spill dir is shared)
        os.environ["TMPDIR"] = os.path.join(self.work, "tmp")
        os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(self.work, "spark-local")
        markers_before = contention_markers()
        cpu_before = cpu_ticks()
        t_setup = time.perf_counter()
        self.start_session()
        self.tracer = self.make_tracer()
        self.setup()
        setup_s = time.perf_counter() - t_setup
        # untimed bookkeeping: the state every timed op is checked against,
        # and the on-disk size of the freshly built index's sidecars
        self.setup_bytes = {
            part: dir_bytes(os.path.join(self.index.paths.root, part))
            for part in ("blocks", "positions")
        }
        self.states = [self.snapshot(self.index)]
        self.timed_search()
        rss = peak_rss_mb()
        t = time.perf_counter()
        self.check()
        self.extra["check_s"] = time.perf_counter() - t
        if self.trace:
            from layers import layer_metrics  # perfbench/ is sys.path[0]

            metrics = layer_metrics(self)
        else:
            metrics = self.end_to_end(setup_s, rss)
        result = {
            "correct": not self.failed,
            "attempted": self.attempted,
            "failed": len(self.failed),
            "metrics": metrics,
        }
        context = {
            "workload": self.workload, "seed": self.seed, "seconds": self.seconds,
            "trace": int(self.trace), "nproc": os.cpu_count(), "cores": CORES,
            "driver_heap": DRIVER_HEAP, "num_buckets": NUM_BUCKETS,
            "corpus_docs": N_DOCS, "corpus_content_bytes": self.content_bytes,
            "samples": self.samples, "failures": self.failed[:20],
            "markers_before": markers_before, "markers_after": contention_markers(),
            "steal_pct": steal_pct(cpu_before, cpu_ticks()),
            "setup_s": round(setup_s, 4), "peak_rss_mb": round(rss, 1), "loop_s": round(self.busy_s, 4),
            "query_ms": [[q["shape"], q["route"], round(q["ms"], 1)] for q in self.query_ops],
            **{k: round(v, 4) for k, v in self.extra.items()},
        }
        return result, context

    def start_session(self) -> None:
        from solr_spark.session import get_spark

        t = time.perf_counter()
        self.spark = get_spark(
            "perfbench",
            cores=CORES,
            extra_conf={
                "spark.driver.memory": DRIVER_HEAP,
                # a fixed-size heap: no run-to-run difference in how far the
                # collector grew it
                "spark.driver.extraJavaOptions": (
                    f"-Xms{DRIVER_HEAP} -Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
                ),
                "spark.ui.showConsoleProgress": "false",
                # the traced run charges every stage to a span from the
                # status store at the end; keep all of them
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.sql.ui.retainedExecutions": "10000",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.extra["session_s"] = time.perf_counter() - t

    def make_tracer(self):
        from tracer import Tracer  # perfbench/ is sys.path[0]

        tr = Tracer(self.spark, self.trace)
        if self.trace:
            from solr_spark.index import builder, maintenance

            # calls made from inside upsert_documents / add_documents
            for attr, name in (
                ("delete_by_df", "index.maintenance.delete_by_df"),
                ("expunge_deletes", "index.maintenance.expunge"),
                ("add_documents", "index.maintenance.add"),
                ("merge_indexes", "index.maintenance.merge"),
            ):
                tr.patch(maintenance, attr, name)
            tr.patch(builder, "build_index", "index.builder.build")
            tr.patch(builder.Index, "term_stats_for", "index.builder.term_stats_for")
            # the bucketed writes of one build phase each (blocks: the
            # encode runs inside its write; positions); a private helper,
            # wrapped only to label the jobs it runs
            tr.patch(
                builder, "_write_bucketed",
                lambda df, path, *rest: f"index.builder.write.{os.path.basename(path)}",
            )
        return tr

    def close(self) -> None:
        if self.tracer is not None:
            self.tracer.unpatch()
        if self.spark is not None:
            stop_spark(self.spark)
        shutil.rmtree(self.work, ignore_errors=True)
        try:
            os.rmdir(WORK)  # only when no other run is using it
        except OSError:
            pass

    # ---- set-up ------------------------------------------------------------

    def setup(self) -> None:
        from solr_spark.index.builder import build_index
        from solr_spark.sources.corpus import synthesize_corpus

        with self.tracer.span("session.start") as s:
            pass
        if s is not None:  # the session started before the tracer existed
            s.start, s.end = s.start - self.extra["session_s"], s.start
        # synthesize_corpus is lazy: the build's scan generates the rows
        with self.tracer.span("sources.corpus.synth"):
            self.corpus_df = synthesize_corpus(self.spark, N_DOCS, seed=CORPUS_SEED)
        t = time.perf_counter()
        with self.tracer.span("index.builder.build", setup=True):
            self.index = build_index(
                self.spark, self.corpus_df, os.path.join(self.work, "index"),
                num_buckets=NUM_BUCKETS, build_blocks=True, build_positions=True,
            )
        self.build_s = time.perf_counter() - t
        self.extra["setup_build_s"] = self.build_s
        sample = [r["content"] for r in self.corpus_df.select("content").limit(200).collect()]
        self.queries = QueryGen(self.index, sample, random.Random(self.seed + 7))
        if self.workload == "search_deletes":
            from solr_spark.index.maintenance import delete_by_ids

            docid_of = self.snapshot(self.index)["docid_of"]
            deleted = self.rng.sample(sorted(docid_of), DELETES)
            with self.tracer.span("index.maintenance.delete"):
                delete_by_ids(self.index, sorted(docid_of[k] for k in deleted))
            self.attempted += 1
        # warm-up outside the timed loop. The term dictionary is loaded for
        # the whole query vocabulary, as a warmed searcher's would be: a
        # cold seek adds 150-300 ms to a 300-600 ms query, and how many
        # terms a run meets first would otherwise set its median (the cold
        # seek has its own traced metric). Then one query per plan shape
        # (OR, AND, phrase; texts never reused): the first of each shape in
        # a JVM pays code generation, up to twice its steady latency, and
        # the next ones still speed up as the JIT compiles the planner.
        self.index.term_stats_for(self.queries.head + self.queries.mid + self.queries.tail)
        for shape in SHAPES * WARMUP_ROTATIONS:
            self.run_query(self.index, self.queries.next(shape), "warmup")

    def snapshot(self, index) -> dict:
        """Key -> docid of every doc `index` holds (BM25 statistics count
        them all), and the docids deleted but not yet expunged, which no
        answer may contain."""
        docid_of = {
            tuple(r[k] for k in DOC_KEY): r["docid"]
            for r in index.docs().select(*DOC_KEY, "docid").collect()
        }
        gone = frozenset(
            r["docid"] for r in index.deleted_ids().collect()
        ) if index.has_deletes() else frozenset()
        return {"docid_of": docid_of, "gone": gone}

    # ---- timed regions ---------------------------------------------------

    def run_query(self, index, q: dict, phase: str, flat: bool = False) -> dict:
        """One query through the public entry points; returns the op
        record (latency, result, route, phase). `phase` tags the op:
        "warmup" and "check" ops are not counted as ops, "timed" ops make
        the end-to-end figures, the rest belong to the traced run's
        update round and deletes probe. `flat` sends a term query to the
        flat engine (bm25_topk) whatever the index holds."""
        from solr_spark.query.engine import bm25_topk
        from solr_spark.query.positions import phrase_docids
        from solr_spark.query.wand import bm25_topk_auto, bm25_topk_wand

        op = dict(q, phase=phase, deletes=index.has_deletes())
        with self.tracer.span("query") as s:
            t = time.perf_counter()
            try:
                if q["shape"] == "phrase":
                    rows = phrase_docids(index, q["words"]).collect()
                    op["result"] = sorted((r["docid"], r["phrase_freq"]) for r in rows)
                    op["route"] = "positions"
                elif flat:
                    rows = bm25_topk(index, q["text"], k=K, mode=q["mode"]).collect()
                    op["result"] = [(r["docid"], r["score"]) for r in rows]
                    op["route"] = "engine"
                elif self.trace and index.meta.get("has_blocks"):
                    # bm25_topk_auto's own route, with the pruning stats
                    debug: dict = {}
                    rows = bm25_topk_wand(index, q["text"], k=K, mode=q["mode"], debug=debug).collect()
                    op["result"] = [(r["docid"], r["score"]) for r in rows]
                    op["route"] = "wand" if debug.get("path") in ("driver", "distributed") else "engine"
                    op["debug"] = {k: debug[k] for k in ("blocks_decoded", "blocks_total") if k in debug}
                else:
                    rows = bm25_topk_auto(index, q["text"], k=K, mode=q["mode"]).collect()
                    op["result"] = [(r["docid"], r["score"]) for r in rows]
                    op["route"] = "engine" if self.trace else "auto"
            except Exception:  # an op that raises is a failed op, not a crash
                traceback.print_exc()
                op["error"] = True
                op["route"] = "error"
            op["ms"] = (time.perf_counter() - t) * 1000.0
            if s is not None:
                s.name = QUERY_SPAN.get(op["route"], "query.error")
                s.attrs.update(
                    phase=phase, shape=q["shape"], text=q["text"],
                    deletes=op["deletes"], debug=op.get("debug"),
                )
        if phase not in ("warmup", "check"):
            self.attempted += 1
            if op.get("error"):
                self.fail(f"query raised: {q['text']!r}")
        return op

    def timed_search(self) -> None:
        """Closed loop of distinct queries for --seconds, ended on a
        whole window (half a rotation: 4 queries, one of them a phrase) so
        every run's median is taken over the same mix of shapes."""
        self.rounds, self.probe, ops = [], None, []
        marks = [time.perf_counter()]  # the loop's start, then each op's end
        while marks[-1] - marks[0] < self.seconds or len(ops) % WINDOW:
            q = self.queries.next(SHAPES[len(ops) % len(SHAPES)])
            ops.append(self.run_query(self.index, q, "timed"))
            marks.append(time.perf_counter())
        self.busy_s = marks[-1] - marks[0]
        self.window_qps = [
            WINDOW / (marks[i + WINDOW] - marks[i]) for i in range(0, len(ops), WINDOW)
        ]
        self.query_ops = ops
        # untimed: one timed term query again through the flat engine, on
        # the handle and deletes state it ran on (checked in check())
        q = next(q for q in ops if q["shape"] != "phrase" and not q.get("error"))
        self.flat_sample = (q, self.run_query(self.index, q, "check", flat=True))
        if self.trace:
            # one upsert round on every traced workload, so the upsert,
            # expunge, merge and delta-build layers are measured everywhere;
            # it is too slow for the end-to-end time budget (see README)
            self.rounds.append(self.update_round())
            self.probe = self.deletes_probe()

    def update_round(self) -> dict:
        """delete -> queries with the deletes pending -> upsert_documents
        of REPLACED live keys with new content plus ADDED new keys ->
        queries on the new handle."""
        from solr_spark.index.maintenance import delete_by_ids, upsert_documents

        r = len(self.rounds)
        pre = self.states[-1]
        live = sorted(k for k, d in pre["docid_of"].items() if d not in pre["gone"])
        picked = self.rng.sample(live, DELETES + REPLACED)
        deleted = picked[:DELETES]
        batch_rows = self.upsert_batch(r, picked[DELETES:])
        batch = self.spark.createDataFrame(
            batch_rows, "repo string, path string, commit string, lang string, content string"
        )
        rnd = {
            "pre": len(self.states) - 1, "deleted": deleted, "batch": batch,
            "batch_bytes": sum(len(row[4].encode("utf-8")) for row in batch_rows),
            "upserted": {tuple(row[:3]): row[4] for row in batch_rows},
        }
        index = self.index
        with self.tracer.span("index.maintenance.delete"):
            delete_by_ids(index, [pre["docid_of"][k] for k in deleted])
        rnd["pending_ops"] = [
            self.run_query(index, self.queries.next(SHAPES[j + ROUND_QUERIES]), "round_pending")
            for j in range(ROUND_QUERIES)
        ]
        with self.tracer.span("index.maintenance.upsert"):
            self.index = upsert_documents(index, batch, os.path.join(self.work, f"index_r{r}"))
        self.attempted += 2  # the delete and the upsert
        rnd["post_ops"] = [
            self.run_query(self.index, self.queries.next(SHAPES[j]), "round_post")
            for j in range(ROUND_QUERIES)
        ]
        # merge_indexes recomputes the statistics from the live docs
        self.states.append(self.snapshot(self.index))
        return rnd

    def deletes_probe(self) -> dict:
        """The cost of the liveDocs anti-join, like for like: the same
        term queries through the flat engine on one warm handle, first
        with no deletes, then with DELETES docs deleted. Runs on the
        handle the update round left (its upsert expunged every pending
        delete); a warm-up pass of other texts of the same shapes goes
        first, so neither pass pays a first-seen plan or term."""
        from solr_spark.index.maintenance import delete_by_ids

        index, state = self.index, self.states[-1]
        warm = [self.queries.next(s) for s in TERM_SHAPES]
        texts = [self.queries.next(s) for s in TERM_SHAPES]
        index.term_stats_for(sorted({w for q in warm + texts for w in q["words"]}))
        probe = {
            "warm": [self.run_query(index, q, "probe_warm", flat=True) for q in warm],
            "plain": [self.run_query(index, q, "probe_plain", flat=True) for q in texts],
        }
        live = sorted(k for k, d in state["docid_of"].items() if d not in state["gone"])
        probe["deleted"] = self.rng.sample(live, DELETES)
        with self.tracer.span("index.maintenance.delete"):
            delete_by_ids(index, [state["docid_of"][k] for k in probe["deleted"]])
        self.attempted += 1
        probe["pending"] = [self.run_query(index, q, "probe_pending", flat=True) for q in texts]
        return probe

    def upsert_batch(self, r: int, replaced: list[tuple]) -> list[tuple]:
        """REPLACED live keys with fresh content plus ADDED new keys.
        Always replacing live keys keeps the upsert clear of the pending-
        delete defect described in perfbench/README.md."""
        from solr_spark.sources.corpus import synthesize_corpus

        fresh = synthesize_corpus(
            self.spark, REPLACED + ADDED, seed=self.seed * 1000 + r + 1
        ).collect()
        rows = []
        for i, row in enumerate(fresh):
            key = replaced[i] if i < REPLACED else (
                row["repo"], f"upsert/r{r}/{row['path']}", row["commit"]
            )
            rows.append((*key, row["lang"], row["content"]))
        return rows

    # ---- correctness (outside every timed region) ------------------------

    def fail(self, what: str) -> None:
        self.failed.append(what)
        print(f"perfbench: WRONG: {what}", file=sys.stderr)

    def check(self) -> None:
        """Every counted query against the BM25/phrase oracle of the state
        it ran on; the final docs table against the model corpus (keys and
        per-row sha256); the flat re-run of a timed term query against its
        routed answer; after each round, upserted keys live and deleted
        keys gone; in traced runs, one indexed phrase against inline
        phrase_match."""
        base = {
            tuple(r[k] for k in DOC_KEY): r["content"]
            for r in self.corpus_df.select(*DOC_KEY, "content").collect()
        }
        # the model corpus (every doc the index holds) of each state: the
        # generated table, then each round's upsert (which expunges the
        # pending deletes, replaces colliding keys and adds the rest)
        corpora = [base]
        for rnd in self.rounds:
            pre = self.states[rnd["pre"]]
            gone = pre["gone"] | {pre["docid_of"][k] for k in rnd["deleted"]}
            nxt = {k: v for k, v in corpora[-1].items() if pre["docid_of"][k] not in gone}
            nxt.update(rnd["upserted"])
            corpora.append(nxt)
        self.base_content_bytes = sum(len(c.encode("utf-8")) for c in base.values())
        self.content_bytes = sum(len(c.encode("utf-8")) for c in corpora[-1].values())
        last = len(self.states) - 1
        final = self.states[last]
        # the deletes probe leaves its deletes pending on the final handle
        probe_gone = frozenset(
            final["docid_of"][k] for k in self.probe["deleted"]
        ) if self.probe else frozenset()
        final_gone = final["gone"] | probe_gone
        live = {k: corpora[last][k] for k, d in final["docid_of"].items() if d not in final_gone}
        docs = self.index.docs_live().select(*DOC_KEY, "docid", "sha256").collect()
        keys = [tuple(r[k] for k in DOC_KEY) for r in docs]
        if len(set(keys)) != len(keys) or set(keys) != set(live):
            self.fail("live docs table keys differ from the model corpus")
        bad = [
            r["docid"] for k, r in zip(keys, docs)
            if k in live and hashlib.sha256(live[k].encode("utf-8")).hexdigest() != r["sha256"]
        ]
        if bad:
            self.fail(f"sha256 differs from the source content for {len(bad)} docs")
        oracles: dict[int, Oracle] = {}

        def oracle(i: int) -> Oracle:
            """Oracle over every doc state i holds, deleted or not: BM25
            statistics count pending deletes until they are expunged."""
            if i not in oracles:
                oracles[i] = Oracle(
                    [(d, corpora[i][k]) for k, d in self.states[i]["docid_of"].items()]
                )
            return oracles[i]

        checked = list(self.query_ops)
        self.check_against(oracle(0), self.query_ops, self.states[0]["gone"])
        for rnd in self.rounds:
            pre, post = self.states[rnd["pre"]], self.states[rnd["pre"] + 1]
            pending = pre["gone"] | {pre["docid_of"][k] for k in rnd["deleted"]}
            self.check_against(oracle(rnd["pre"]), rnd["pending_ops"], pending)
            self.check_against(oracle(rnd["pre"] + 1), rnd["post_ops"], post["gone"])
            checked += rnd["pending_ops"] + rnd["post_ops"]
            if any(k not in post["docid_of"] for k in rnd["upserted"]):
                self.fail("an upserted key is not searchable after the upsert")
            if any(k in post["docid_of"] for k in rnd["deleted"]):
                self.fail("a deleted key is still live after the upsert")
        if self.probe:
            before = self.probe["warm"] + self.probe["plain"]
            self.check_against(oracle(last), before, final["gone"])
            self.check_against(oracle(last), self.probe["pending"], final_gone)
            checked += before + self.probe["pending"]
        q, flat = self.flat_sample
        if flat.get("error") or not same_ranking(flat["result"], q["result"]):
            self.fail(f"flat engine != routed engine for {q['text']!r}")
        phrases = [q for q in self.query_ops if q["shape"] == "phrase" and not q.get("error")]
        if phrases and self.trace:
            # one more Spark job per run than the time budget allows in
            # the untimed runs; the oracle already checks every phrase
            s0 = self.states[0]
            self.check_inline_phrase(
                {k: d for k, d in s0["docid_of"].items() if d not in s0["gone"]}, base, phrases[0]
            )
        self.samples["oracle_checked"] = len(checked)

    def check_inline_phrase(self, docid_of: dict, content: dict, q: dict) -> None:
        """Indexed phrase_docids == inline phrase_match over the live docs
        the timed phrase ran on. The inline side gets only docs holding
        every phrase word as a substring of the lowered text:
        phrase_match applies that same prefilter first, so no doc left
        out could have matched."""
        from solr_spark.operators.phrase import phrase_match

        docs = self.spark.createDataFrame(
            [
                (d, content[k]) for k, d in docid_of.items()
                if all(w in content[k].lower() for w in q["words"])
            ],
            "docid long, content string",
        )
        inline = sorted(
            (r["docid"], r["phrase_freq"])
            for r in phrase_match(docs, " ".join(q["words"])).collect()
        )
        if inline != q["result"]:
            self.fail(f"indexed phrase != inline phrase_match for {q['words']}")

    def check_against(self, oracle: "Oracle", ops: list[dict], deleted: set) -> None:
        for q in ops:
            if q.get("error"):
                continue
            if q["shape"] == "phrase":
                want = oracle.phrase(q["words"], deleted)
                ok = want == q["result"]
            else:
                want = oracle.topk(q["text"], q["mode"], deleted)
                ok = same_ranking(want, q["result"])
            if not ok:
                self.fail(f"{q['shape']} {q['text']!r}: got {q['result'][:3]} want {want[:3]}")

    # ---- metrics ---------------------------------------------------------

    def end_to_end(self, setup_s: float, rss_mb: float) -> dict:
        lat = [q["ms"] for q in self.query_ops if not q.get("error")]
        # a p95 needs 200 queries for ten samples beyond it and a run
        # holds far fewer, so it goes to the context record; so does the
        # build rate of the one cold build a run makes (its time is part
        # of setup_s, a single sample per run is too noisy to bound)
        self.samples.update(queries=len(lat), rounds=len(self.rounds))
        self.extra["query_p95_ms"] = percentile(lat, 95)
        self.extra["build_docs_per_s"] = N_DOCS / self.build_s
        self.extra["loop_qps"] = len(lat) / self.busy_s
        self.samples["qps_windows"] = len(self.window_qps)
        index_bytes = dir_bytes(self.index.paths.root)
        return {
            "setup_s": m(setup_s, "s"),
            "index_bytes_per_input_byte": m(index_bytes / self.content_bytes, "ratio"),
            "peak_rss_mb": m(rss_mb, "MB"),
            "query_p50_ms": m(statistics.median(lat), "ms"),
            # the median over windows: a query that stalls for 1.5-2 s
            # (about one in 100) moves one window, not the whole loop
            "query_qps": m(statistics.median(self.window_qps), "1/s"),
        }


# ---- query generation ----------------------------------------------------


class QueryGen:
    """Distinct query texts over the index's own vocabulary tiers.

    Tiers are document-frequency ranks in the built dictionary: the
    twelfth of terms with the highest df is head, the third with the
    lowest df is tail, the rest is mid. The synthetic corpus has no rare
    words (its words sit in 80-100% of docs, the numeric identifier
    suffixes in 25-60% depending on corpus size), so ranks, not fixed df
    cut-offs, keep every tier populated at any size.
    Phrases are adjacent (word, tail) token pairs from sampled documents,
    so every phrase has hits and all phrases cost about the same. No text
    is issued twice in a run; once the few head terms are used up, a
    single-term head query takes a mid term instead.
    """

    def __init__(self, index, sample: list[str], rng: random.Random):
        from solr_spark.analysis.analyzer import tokenize_py

        self.rng = rng
        by_df = [t for _, t in sorted(
            (r["df"], r["term"]) for r in index.term_stats().select("term", "df").collect()
        )]
        n_head, n_tail = max(5, len(by_df) // 12), len(by_df) // 3
        self.head, self.tail = by_df[-n_head:], by_df[:n_tail]
        self.mid = by_df[n_tail:-n_head]
        if not (self.head and self.mid and self.tail):
            raise RuntimeError(f"vocabulary tiers empty: {len(self.head)}/{len(self.mid)}/{len(self.tail)}")
        tail = set(self.tail)
        pairs = set()
        for content in sample:
            toks = tokenize_py(content)
            pairs.update((a, b) for a, b in zip(toks, toks[1:]) if a not in tail and b in tail)
        self.pairs = sorted(pairs)
        self.used: set[str] = set()

    def next(self, shape: str) -> dict:
        for _ in range(1000):
            q = self._draw(shape)
            if q["text"] not in self.used:
                self.used.add(q["text"])
                return q
        raise RuntimeError(f"query space exhausted for shape {shape}")

    def _draw(self, shape: str) -> dict:
        c = self.rng.choice
        if shape == "head1":
            fresh = [t for t in self.head if t not in self.used]
            words, mode = [c(fresh or self.mid)], "OR"
        else:
            words, mode = {
                "or3": (lambda: [c(self.head), c(self.mid), c(self.tail)], "OR"),
                "or2": (lambda: [c(self.mid), c(self.tail)], "OR"),
                "or4": (lambda: [c(self.head), c(self.mid), c(self.mid), c(self.tail)], "OR"),
                "and2": (lambda: [c(self.head), c(self.mid)], "AND"),
                "tail1": (lambda: [c(self.tail)], "OR"),
                "phrase": (lambda: list(c(self.pairs)), "PHRASE"),
            }[shape]
            words = words()
        return {"shape": shape, "mode": mode, "words": words, "text": " ".join(words)}


# ---- oracle ----------------------------------------------------------------


class Oracle:
    """BM25 + phrase answers from solr_spark.oracle.bm25_oracle (pure
    Python, no Spark) over explicit (docid, content) pairs."""

    def __init__(self, docs: list[tuple[int, str]]):
        from solr_spark.oracle.bm25_oracle import OracleIndex

        self.docs = docs
        self.index = OracleIndex.build(docs)
        self._bigrams: dict[tuple[str, str], dict[int, int]] | None = None

    def topk(self, text: str, mode: str, deleted: set) -> list[tuple[int, float]]:
        hits = self.index.search(text, k=K + len(deleted) + 8, mode=mode)
        hits = [(d, s) for d, s in hits if d not in deleted]
        hits.sort(key=lambda x: (-round(x[1], 9), x[0]))
        return hits[:K]

    def phrase(self, words: list[str], deleted: set) -> list[tuple[int, int]]:
        """(docid, count of adjacent words[0] words[1]) over analyzed tokens."""
        if self._bigrams is None:
            # every adjacent token pair of every doc, counted once per
            # oracle (a run checks tens of phrases over the same docs)
            from solr_spark.analysis.analyzer import tokenize_py

            self._bigrams = {}
            for d, content in self.docs:
                toks = tokenize_py(content)
                for pair in zip(toks, toks[1:]):
                    per_doc = self._bigrams.setdefault(pair, {})
                    per_doc[d] = per_doc.get(d, 0) + 1
        hits = self._bigrams.get(tuple(words), {})
        return sorted((d, f) for d, f in hits.items() if d not in deleted)


def same_ranking(want: list[tuple], got: list[tuple]) -> bool:
    return len(want) == len(got) and all(
        a[0] == b[0] and abs(a[1] - b[1]) <= 1e-6 * max(1.0, abs(a[1]))
        for a, b in zip(want, got)
    )


# ---- measurement helpers ---------------------------------------------------


def m(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (statistics.quantiles, inclusive)."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[int(p) - 1]


def dir_bytes(root: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(root):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                pass
    return total


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(pid))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def peak_rss_mb() -> float:
    """Sum of per-process peak RSS (VmHWM) over this process tree: the
    driver interpreter, the JVM and the Python workers."""
    total_kb = 0
    for pid in descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024.0


def contention_markers() -> dict:
    """Load average plus `cal_ms`, a fixed single-thread md5 loop, to
    explain a noisy run. Same loop as bench.py's _contention_markers, so
    the two artifacts' figures compare."""
    load1, load5, _ = os.getloadavg()
    blob = b"x" * (1 << 20)
    t = time.perf_counter()
    h = hashlib.md5()
    for _ in range(64):
        h.update(blob)
    return {
        "load_1m": round(load1, 2), "load_5m": round(load5, 2),
        "cal_ms": round((time.perf_counter() - t) * 1000.0, 2),
    }


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs from /proc/stat; (0, 0) where
    the file is missing."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return 0, 0
    # guest time is already counted in user time
    return (fields[7] if len(fields) > 7 else 0), sum(fields[:8])


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of CPU time the hypervisor gave to other guests in between:
    the contention a run cannot see in its own load average."""
    total = after[1] - before[1]
    return round(100.0 * (after[0] - before[0]) / total, 2) if total else 0.0


def stop_spark(spark) -> None:
    """Stop the session, then the JVM and its Python workers, and wait
    until every process this run started has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    mine = set(descendants(os.getpid())) - {os.getpid()}
    if proc is not None:
        try:
            gateway.shutdown()
        except Exception:  # the gateway may already be gone; the JVM exit below still runs
            pass
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 60
    while time.time() < deadline:
        alive = [p for p in mine if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        time.sleep(0.2)
    for p in mine:
        try:
            os.kill(p, 9)
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())
