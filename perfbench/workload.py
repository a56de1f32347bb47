"""One run of a workload: untraced (end-to-end metrics) or traced
(per-layer metrics and tracing overhead)."""

from __future__ import annotations

import json
import os
import statistics
import time

from phphinder_spark.engine import apply_interactive_conf

import gen
import layers
import serve
from oracle import Oracle
from run import N_DOCS, RssSampler, start_spark, stop_spark, tree_cpu_s
from spans import COUNTERS, Tracer, find_event_log, parse_event_log, rollup

# Bounded end-to-end metrics. Query work is counted in CPU seconds of the
# process tree (driver, JVM, Python workers): on a host with CPU steal,
# wall-clock rates spread far more between runs than CPU seconds do. The
# wall-clock figures are printed alongside. The storage ratios are fixed
# for a seed and a program, so their bound only has to absorb the seed.
E2E_UNITS = {
    "setup_s": "s",
    "setup_cpu_s": "s",
    "query_cpu_s": "s",
    "bm25_batch_cpu_s": "s",
    "peak_rss_mb": "MB",
    "segment_bytes_per_posting": "B",
    "index_bytes_per_content_byte": "ratio",
}
# printed with the end-to-end metrics but not bounded
INFO_UNITS = {
    "setup_total_s": "s",
    "index_open_s": "s",
    "warmup_s": "s",
    "build_docs_per_s": "1/s",
    "query_qps": "1/s",
    "bm25_batch_qps": "1/s",
    "query_p50_s": "s",
    "query_tail_s": "s",
    "query_tail_pct": "percentile",
    "bm25_p50_s": "s",
    "ops_failed_frac": "ratio",
    "rounds": "count",
    "n_single_queries": "count",
    "n_batches": "count",
    "tracing_overhead_frac": "ratio",
    "host_steal_frac": "ratio",
}
# Measured rounds per ``--seconds``: one round (ten single queries, six
# batches) takes about this long on a 4-CPU host. The count is fixed by
# ``--seconds`` alone, so a faster or slower host or program changes the
# window's length, not its makeup.
ROUND_S = 20
SHAPES = gen.SHAPES + ["bm25_batch"]
LAYER_UNITS = {
    "manifest.docs_s": "s", "manifest.chunks_s": "s", "manifest.finalize_s": "s",
    "builder.build_postings_s": "s", "builder.doclens_s": "s",
    "segments.encode_s": "s", "segments.dictionary_s": "s", "typo_ngram.build_s": "s",
    **{f"engine.{m}.{s}": u for s in SHAPES for m, u in (
        ("plan_s", "s"), ("exec_s", "s"), ("jobs", "count"), ("first_minus_warm_s", "s"))},
    "query.parse_s": "s",
    "scoring.bm25_topk_s": "s", "scoring.bm25_topk_batch_s": "s",
    "segments.decode_postings_per_s": "1/s", "segments.bm25_topk_s": "s",
    "segments.bm25_topk_blockmax_s": "s", "segments.segment_rows_read": "count",
    "dedup.minhash_signatures_s": "s", "dedup.minhash_lsh_pairs_s": "s",
    "dedup.simhash_pairs_s": "s", "dedup.minhash_docs_per_s": "1/s",
    "dedup.simhash_docs_per_s": "1/s", "dedup.pairs_out": "count",
    "dedup.planted_recall": "ratio",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.shuffle_read_bytes": "B", "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B", "spark.executor_run_s": "s", "spark.executor_cpu_s": "s",
    "spark.gc_s": "s", "spark.idle_frac": "ratio",
    "python.worker_s": "s", "python.bytes_sent": "B", "python.bytes_received": "B",
    "trace.overhead_frac": "ratio",
}


def measured_rounds(seconds: float) -> int:
    return max(1, round(seconds / ROUND_S))


class Inputs:
    """The seeded corpus, query mix and BM25 batches, with every expected
    result computed by the oracle before any timing starts. Round 0 of the
    mix is the warm-up round; the measured rounds follow it."""

    def __init__(self, seed: int, rounds: int, n_docs: int):
        self.spec = gen.CorpusSpec(n_docs=n_docs)
        self.corpus = gen.rows(seed, self.spec)
        self.digest = gen.digest(self.corpus)
        self.mix = gen.query_mix(seed, self.corpus, (1 + rounds) * len(gen.SHAPES))
        self.batches = gen.bm25_batches(seed, self.corpus, (1 + rounds) * serve.BATCHES_PER_ROUND)
        self.oracle = Oracle(self.corpus)
        self.docs = {q: self.oracle.docs_for(q) for q in self.mix if q.shape != "bm25"}
        self.bm25 = {}
        for terms in [q.terms for q in self.mix if q.shape == "bm25"] + [
            p.split() for b in self.batches for p in b
        ]:
            key = tuple(sorted(set(terms)))
            if key not in self.bm25:
                self.bm25[key] = self.oracle.bm25(key, k=serve.K)
        self.sha256 = self.oracle.content_sha256()
        self.n_postings = self.oracle.n_postings()
        self.content_bytes = sum(len(r["content"].encode()) for r in self.corpus)


def _set_up(args, work, inp: Inputs, tracer, event_log=None):
    """Materialize the corpus, start Spark, build or open the index, apply
    the interactive serving conf and run the warm-up round: mix round 0,
    each shape's first run. Returns the engine, the manifest, the client,
    the warm-up round and the set-up timings. The program's part of
    set-up (``setup_s``, ``setup_cpu_s``) is the build or open plus the
    warm-up round; Spark's start and the corpus write are printed in
    ``setup_total_s`` only."""
    t0 = time.perf_counter()
    corpus_path = os.path.join(work, "corpus")
    gen.write_parquet(inp.corpus, corpus_path)
    spark = start_spark(work, event_log)
    if tracer.enabled:
        tracer.sc = spark.sparkContext
    c1, t1 = tree_cpu_s(), time.perf_counter()
    eng, t_build, manifest = serve.open_engine(
        spark, args.workload, corpus_path, os.path.join(work, "index"), tracer
    )
    apply_interactive_conf(spark)
    t_open, c_open = time.perf_counter() - t1, tree_cpu_s() - c1
    client = serve.Client(eng, inp.docs, inp.bm25, tracer)
    warm = serve.run_rounds(client, inp.mix, inp.batches, 1, "W", tree_cpu_s, n_batches=1)
    t = {
        "setup_s": t_open + warm["wall"],
        "setup_cpu_s": c_open + warm["cpu_single"] + sum(warm["cpu_batch"]),
        "setup_total_s": time.perf_counter() - t0,
        "index_open_s": t_open,
        "warmup_s": warm["wall"],
        "build_docs_per_s": N_DOCS / t_build,
    }
    return spark, eng, manifest, client, warm, t


def _check_build(client, inp: Inputs, work: str, manifest) -> None:
    if manifest is None:
        return
    errs = serve.check_build(
        os.path.join(work, "index"), manifest, inp.sha256, inp.n_postings
    )
    client.check(not errs, "; ".join(errs) or "build")


def untraced(args, work):
    rounds = measured_rounds(args.seconds)
    inp = Inputs(args.seed, rounds, N_DOCS)
    inp.oracle.close()  # every expected result is computed; free its memory
    print(f"{args.workload} seed={args.seed} input sha256={inp.digest} docs={N_DOCS}")
    tracer = Tracer()
    index_dir = os.path.join(work, "index")
    with RssSampler() as rss:
        spark, eng, manifest, client, _, t = _set_up(args, work, inp, tracer)
        # a full collection first, so that where the window's own
        # collections fall does not depend on what set-up left on the heap
        spark.sparkContext._jvm.System.gc()
        # the measured rounds follow the warm-up round (mix round 0)
        w = serve.run_rounds(
            client, inp.mix[len(gen.SHAPES):], inp.batches[serve.BATCHES_PER_ROUND:],
            rounds, "U", tree_cpu_s,
        )
        _check_build(client, inp, work, manifest)
        if manifest is None:
            index_dir = os.path.join(work, "warm_index")
            serve.write_warm_index(eng, index_dir)
        stop_spark(spark)
    wm = serve.window_metrics(w)
    named = {
        **t, **wm,
        **serve.storage_ratios(index_dir, inp.n_postings, inp.content_bytes),
        "peak_rss_mb": rss.peak_kb / 1024,
        "ops_failed_frac": client.failed / client.attempted,
        "rounds": rounds,
        "n_single_queries": len(w["single"]),
        "n_batches": len(w["batch"]),
    }
    metrics = {k: named[k] for k in E2E_UNITS}
    named = {k: named[k] for k in (*E2E_UNITS, *INFO_UNITS) if k in named}
    return client, named, {**E2E_UNITS, **INFO_UNITS}, metrics


def traced(args, work, out_dir):
    inp = Inputs(args.seed, 1, N_DOCS)
    print(f"{args.workload} seed={args.seed} input sha256={inp.digest} docs={N_DOCS}")
    log_dir = os.path.join(work, "eventlog")
    tracer = Tracer(enabled=True)
    with tracer.span("setup"):
        spark, eng, manifest, client, wa, t = _set_up(
            args, work, inp, tracer, event_log=log_dir
        )
    lm: dict[str, float] = {}
    # The warm-up round ran every shape for the first time (Catalyst
    # planning, codegen, lazy caches). The same round then runs once
    # untraced and once traced: traced against warm-up gives
    # engine.first_minus_warm_s, traced against untraced the tracing
    # overhead. Both of those runs have the event log on, so the overhead
    # leaves out the event log's own cost. They hold the warm-up's one
    # batch only: a batch the untraced run met first would fill the
    # engine's caches for the traced run and read as negative overhead.
    tracer.enabled = False
    wu = serve.run_rounds(client, inp.mix, inp.batches, 1, "U", tree_cpu_s, n_batches=1)
    tracer.enabled = True
    with tracer.span("window") as win:
        wt = serve.run_rounds(client, inp.mix, inp.batches, 1, "C", tree_cpu_s, n_batches=1)
    for k, shape in enumerate(gen.SHAPES):  # a round holds each shape once
        lm[f"engine.first_minus_warm_s.{shape}"] = wa["single"][k] - wt["single"][k]
    lm["engine.first_minus_warm_s.bm25_batch"] = wa["batch"][0] - wt["batch"][0]
    lm["trace.overhead_frac"] = wt["wall"] / wu["wall"] - 1

    lm.update(layers.parse_probe(inp.mix))
    corpus_path = os.path.join(work, "corpus")
    index_dir = os.path.join(work, "index")
    if manifest is None:
        lm.update(layers.scoring_probe(eng, inp.mix, inp.batches, client, tracer))
        lm.update(layers.dedup_probe(spark, corpus_path, N_DOCS, inp.oracle, client, tracer))
    else:
        lm.update(layers.segments_probe(spark, index_dir, inp.mix, client, tracer))
        lm.update(layers.build_probe(
            spark, index_dir, os.path.join(work, "probe"), manifest, tracer
        ))
        _check_build(client, inp, work, manifest)
    cores = spark.sparkContext.defaultParallelism
    stop_spark(spark)

    by_group = parse_event_log(find_event_log(log_dir))
    tot = rollup(tracer, by_group)
    window = [s for s in tracer.spans if (s.request or "").startswith("C")]
    for shape in SHAPES:
        plan = [s.dur for s in window if s.name == f"engine.plan.{shape}"]
        exe = [s.dur for s in window if s.name == f"engine.exec.{shape}"]
        qs = [tot[s.id]["jobs"] for s in window if s.name == f"engine.query.{shape}"]
        if plan:
            lm[f"engine.plan_s.{shape}"] = statistics.median(plan)
            lm[f"engine.exec_s.{shape}"] = statistics.median(exe)
            lm[f"engine.jobs.{shape}"] = statistics.mean(qs)
    wtot = tot[win.id]
    for k in COUNTERS:
        lm[k.replace("python_", "python.") if k.startswith("python_") else "spark." + k] = wtot[k]
    lm["spark.idle_frac"] = 1 - wtot["executor_run_s"] / (win.dur * cores)
    metrics = {k: float(lm.get(k, 0.0)) for k in LAYER_UNITS}

    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}.layers.json")
    with open(path, "w") as fh:
        json.dump({
            "workload": args.workload, "seed": args.seed, "input_sha256": inp.digest,
            "setup": t, "first": serve.window_metrics(wa),
            "untraced": serve.window_metrics(wu), "traced": serve.window_metrics(wt),
            "metrics": metrics, "spans": tracer.to_json(by_group),
            "spans_with_descendants": tot,
        }, fh, indent=1, sort_keys=True)
    print(f"{args.workload} seed={args.seed} per-layer file {os.path.relpath(path)}")
    named = {"tracing_overhead_frac": lm["trace.overhead_frac"]}
    return client, named, {**LAYER_UNITS, **INFO_UNITS}, metrics
