"""Per-layer metrics of a traced run (`run.py --trace 1`).

After the workload's own traced loop (which ends with one upsert round
and the deletes probe on every workload), a few probes run that the loop
does not exercise on its own: the analyzer into a sum, the docid pass
into a noop sink, a cold dictionary seek on a fresh handle, and the
corpus generation into a noop sink (synthesize_corpus is lazy, so set-up
only plans it). Then the status store is read once and every stage is
charged to its span. The build phases come from the spans of the setup
build's bucketed writes of `blocks/` and `positions/`.

Query figures are taken over the timed loop's queries only (span attr
phase == "timed"); warm-up, update-round and probe queries have their
own phases. perfbench/README.md maps each metric to the end-to-end
metric and workload it should move.
"""

from __future__ import annotations

import statistics
import time

from run import m
from tracer import busy_ms


def layer_metrics(bench) -> dict:
    tr, spark, corpus_df = bench.tracer, bench.spark, bench.corpus_df
    from pyspark.sql import functions as F

    from solr_spark.analysis.analyzer import tokens_col
    from solr_spark.index.builder import Index, assign_docids

    base_bytes = bench.base_content_bytes
    upsert_round = bench.rounds[-1]
    with tr.span("sources.corpus.generate") as s_gen:
        corpus_df.write.format("noop").mode("overwrite").save()
    with tr.span("analysis.analyzer.tokens") as s_tok:
        n_tokens = corpus_df.select(F.sum(F.size(tokens_col("content")))).collect()[0][0]
    with tr.span("index.builder.assign_docids") as s_ids:
        assign_docids(corpus_df).write.format("noop").mode("overwrite").save()
    spark.catalog.clearCache()  # assign_docids leaves its key sort persisted
    seeks = []
    for term in bench.queries.mid[:3]:
        fresh = Index.load(spark, bench.index.paths.root)
        t = time.perf_counter()
        with tr.span("index.builder.term_stats_for_cold"):
            fresh.term_stats_for([term])
        seeks.append((time.perf_counter() - t) * 1000.0)

    t = time.perf_counter()
    counters = tr.stage_counters()
    read_s = time.perf_counter() - t
    roll = tr.rollup(counters)
    spans = tr.spans

    def named(name, **attrs):
        return [
            s for s in spans
            if s.name == name and all(s.attrs.get(k) == v for k, v in attrs.items())
        ]

    def one(name, **attrs):
        found = named(name, **attrs)
        if not found:
            raise RuntimeError(f"traced run has no span {name} {attrs}")
        return found[0]

    setup_build = one("index.builder.build", setup=True)
    b = roll[setup_build.sid]
    in_build = span_descendants(spans, setup_build.sid)

    def phase_s(name):
        return sum(s.wall_s for s in in_build if s.name == name)

    out = {
        "session.start_s": m(one("session.start").wall_s, "s"),
        "sources.corpus.synth_s": m(
            one("sources.corpus.synth").wall_s + s_gen.wall_s, "s"
        ),
        "analysis.analyzer.tokens_per_s": m(n_tokens / s_tok.wall_s, "tokens/s"),
        "index.builder.build_s": m(setup_build.wall_s, "s"),
        "index.builder.exec_cpu_s": m(b["executorCpuTime"] / 1e9, "s"),
        "index.builder.exec_run_s": m(b["executorRunTime"] / 1e3, "s"),
        "index.builder.run_minus_cpu_s": m(
            (b["executorRunTime"] / 1e3) - (b["executorCpuTime"] / 1e9), "s"
        ),
        "index.builder.gc_s": m(b["jvmGcTime"] / 1e3, "s"),
        "index.builder.shuffle_write_mb": m(b["shuffleWriteBytes"] / 2**20, "MB"),
        "index.builder.spill_mb": m(
            (b["memoryBytesSpilled"] + b["diskBytesSpilled"]) / 2**20, "MB"
        ),
        "index.builder.output_mb": m(b["outputBytes"] / 2**20, "MB"),
        "index.builder.jobs": m(b["jobs"], "count"),
        "index.builder.stages": m(b["stages"], "count"),
        "index.builder.tasks": m(b["tasks"], "count"),
        "index.builder.assign_docids_s": m(s_ids.wall_s, "s"),
        "index.builder.term_stats_for_ms": m(statistics.median(seeks), "ms"),
        "index.builder.positions_s": m(phase_s("index.builder.write.positions"), "s"),
        "index.blocks.encode_s": m(phase_s("index.builder.write.blocks"), "s"),
        "index.blocks.bytes_per_input_byte": m(bench.setup_bytes["blocks"] / base_bytes, "ratio"),
        "query.positions.bytes_per_input_byte": m(
            bench.setup_bytes["positions"] / base_bytes, "ratio"
        ),
    }

    queries = [s for s in spans if s.name.startswith("query.")]
    timed = [s for s in queries if s.attrs.get("phase") == "timed"]
    out["query.driver_ms_per_query"] = m(
        statistics.mean(
            s.wall_s * 1000.0 - busy_ms(roll[s.sid]["job_intervals"]) for s in timed
        ),
        "ms",
    )
    wand = [s for s in timed if s.name == "query.wand.topk"]
    for layer, name in (("query.wand", "query.wand.topk"), ("query.engine", "query.engine.topk")):
        out.update(per_query(layer, "topk_ms", [s for s in timed if s.name == name], roll))
    decoded = sum((s.attrs.get("debug") or {}).get("blocks_decoded", 0) for s in wand)
    total = sum((s.attrs.get("debug") or {}).get("blocks_total", 0) for s in wand)
    out["query.wand.blocks_decoded_ratio"] = m(decoded / total if total else 1.0, "ratio")
    # the same texts on the same warm handle, without and with deletes
    plain = {s.attrs["text"]: s for s in queries if s.attrs.get("phase") == "probe_plain"}
    pairs = [
        (s.wall_s - plain[s.attrs["text"]].wall_s) * 1000.0
        for s in queries
        if s.attrs.get("phase") == "probe_pending" and s.attrs["text"] in plain
        and s.attrs["deletes"] and not plain[s.attrs["text"]].attrs["deletes"]
    ]
    if not pairs:
        raise RuntimeError("deletes probe produced no (no deletes, deletes pending) pair")
    out["query.engine.deletes_overhead_ms"] = m(statistics.median(pairs), "ms")
    phrases = [s for s in timed if s.name == "query.positions.phrase"]
    out.update(per_query("query.positions", "phrase_ms", phrases, roll))
    out["query.positions.shuffle_kb_per_query"] = m(
        statistics.mean(roll[s.sid]["shuffleWriteBytes"] / 1024 for s in phrases), "KB"
    )
    # the update round's queries, apart from the timed loop's: with the
    # round's deletes pending, and on the new handle after the upsert
    # (cold dictionary); context record only
    for phase in ("round_pending", "round_post"):
        ph = [s for s in queries if s.attrs.get("phase") == phase]
        if ph:
            bench.extra[f"{phase}_p50_ms"] = median_ms(ph)

    upsert = one("index.maintenance.upsert")
    inside = span_descendants(spans, upsert.sid)
    out.update({
        "index.maintenance.upsert_s": m(upsert.wall_s, "s"),
        "index.maintenance.delete_s": m(
            statistics.median(s.wall_s for s in named("index.maintenance.delete")), "s"
        ),
        "index.maintenance.expunge_s": m(
            statistics.median(s.wall_s for s in named("index.maintenance.expunge")), "s"
        ),
        "index.maintenance.merge_s": m(
            sum(s.wall_s for s in inside if s.name == "index.maintenance.merge"), "s"
        ),
        "index.maintenance.bytes_written_per_upserted_byte": m(
            roll[upsert.sid]["outputBytes"] / upsert_round["batch_bytes"], "ratio"
        ),
        "trace.spans": m(len(spans), "count"),
        "trace.overhead_ms_per_span": m(tr.own_s * 1000.0 / len(spans), "ms"),
        "trace.status_read_s": m(read_s, "s"),
        "trace.query_p50_ms": m(median_ms(timed), "ms"),
    })
    bench.samples.update(
        queries=len(timed), wand_queries=len(wand),
        engine_queries=sum(s.name == "query.engine.topk" for s in timed),
        phrase_queries=len(phrases), deletes_probe_pairs=len(pairs), spans=len(spans),
    )
    return out


def per_query(layer: str, wall_name: str, qs: list, roll: dict) -> dict:
    """Per-query figures of one engine; all 0 when no query took it (with
    deletes pending, every term query bypasses WAND)."""
    if not qs:
        return {
            f"{layer}.{k}": m(0.0, u)
            for k, u in ((wall_name, "ms"), ("stages_per_query", "count"),
                         ("exec_cpu_ms_per_query", "ms"), ("input_kb_per_query", "KB"))
        }
    return {
        f"{layer}.{wall_name}": m(median_ms(qs), "ms"),
        f"{layer}.stages_per_query": m(statistics.mean(roll[s.sid]["stages"] for s in qs), "count"),
        f"{layer}.exec_cpu_ms_per_query": m(
            statistics.mean(roll[s.sid]["executorCpuTime"] / 1e6 for s in qs), "ms"
        ),
        f"{layer}.input_kb_per_query": m(
            statistics.mean(roll[s.sid]["inputBytes"] / 1024 for s in qs), "KB"
        ),
    }


def median_ms(spans: list) -> float:
    return statistics.median(s.wall_s * 1000.0 for s in spans)


def span_descendants(spans: list, sid: int) -> list:
    kids: dict = {}
    for s in spans:
        kids.setdefault(s.parent, []).append(s)
    out, todo = [], [sid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c.sid)
    return out
