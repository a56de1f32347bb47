"""The two serving workloads, driven by one closed-loop client.

``serve_warm``: the engine indexes the corpus in memory
(``index_dataframe``), so postings stay cached and the segment codec is
never touched. ``serve_cold``: set-up builds the on-disk index with
``build_resumable_index`` and serves it with
``from_index_dir(serve="segments")``, so every query decodes segment
payloads from disk.

Both run the same seeded query mix with one closed-loop client, in a fixed
number of whole rounds: one single query per shape, then two batched BM25
calls. Every result is compared with the DuckDB oracle as it arrives.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

from phphinder_spark.engine import SparkSearchEngine
from phphinder_spark.index import segments
from phphinder_spark.index.manifest import build_resumable_index
from phphinder_spark.schema import code_schema

import gen

K = 10
SCORE_TOL = 2e-6
# Batched calls are short (about 1-2 s each) and one call's CPU varies by up
# to a fifth with where JIT compiles and the tail of the previous call's
# work land, so a round holds several and the window reports the median.
BATCHES_PER_ROUND = 6


class Client:
    """Closed loop, one client: the next call is issued only after the
    previous result was collected and checked."""

    def __init__(self, engine, oracle_docs, oracle_bm25, tracer):
        self.engine = engine
        self.expected_docs = oracle_docs  # Query -> frozenset
        self.expected_bm25 = oracle_bm25  # tuple(terms) -> [(doc, score)]
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.errors) < 5:
            self.errors.append(what)

    def check(self, ok: bool, what: str) -> None:
        """Count one checked operation outside the timed loop."""
        self.attempted += 1
        if not ok:
            self.fail(f"{what}: result differs from the oracle")

    def bm25_ok(self, got: list[tuple[int, float]], terms) -> bool:
        want = self.expected_bm25[tuple(sorted(set(terms)))]
        return [d for d, _ in got] == [d for d, _ in want] and all(
            abs(a - b) <= SCORE_TOL for (_, a), (_, b) in zip(got, want)
        )

    def batch_ok(self, rows, phrases: list[str]) -> bool:
        by_q: dict[str, list] = {p: [] for p in phrases}
        for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
            by_q.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
        return len(by_q) == len(phrases) and all(
            self.bm25_ok(by_q[p], p.split()) for p in phrases
        )

    def query(self, q: gen.Query, rid: str | None = None) -> float:
        """Run one single query; returns its latency in seconds."""
        self.attempted += 1
        tr = self.tracer
        t0 = time.perf_counter()
        try:
            with tr.span(f"engine.query.{q.shape}", request=rid):
                with tr.span(f"engine.plan.{q.shape}"):
                    if q.shape == "bm25":
                        df = self.engine.search_topk_bm25(q.text, k=K, field="content")
                    else:
                        df = self.engine.search_df(q.text)
                with tr.span(f"engine.exec.{q.shape}"):
                    rows = df.collect()
        except Exception as e:  # a failed operation is counted, not fatal
            self.fail(f"{q.text!r}: {type(e).__name__}: {e}")
            return time.perf_counter() - t0
        dt = time.perf_counter() - t0
        if q.shape == "bm25":
            ok = self.bm25_ok([(r["doc_id"], r["score"]) for r in rows], q.terms)
        else:
            ok = {r["doc_id"] for r in rows} == self.expected_docs[q]
        if not ok:
            self.fail(f"{q.text!r}: result differs from the oracle")
        return dt

    def batch(self, phrases: list[str], rid: str | None = None) -> float:
        self.attempted += 1
        tr = self.tracer
        t0 = time.perf_counter()
        try:
            with tr.span("engine.query.bm25_batch", request=rid):
                with tr.span("engine.plan.bm25_batch"):
                    df = self.engine.search_topk_bm25_many(phrases, k=K, field="content")
                with tr.span("engine.exec.bm25_batch"):
                    rows = df.collect()
        except Exception as e:
            self.fail(f"batch: {type(e).__name__}: {e}")
            return time.perf_counter() - t0
        dt = time.perf_counter() - t0
        if not self.batch_ok(rows, phrases):
            self.fail("batch: result differs from the oracle")
        return dt


def run_rounds(
    client: Client, mix, batches, rounds: int, tag: str, cpu,
    n_batches: int = BATCHES_PER_ROUND,
) -> dict:
    """``rounds`` whole rounds, from the start of the mix. A round is one
    single query per shape, in shape order, then ``n_batches`` batched BM25
    calls, so a window's makeup depends only on ``rounds``, never on how
    fast the host is. ``cpu()`` reads the CPU seconds the process tree has
    used so far; single queries are charged per round, batched calls one
    by one."""
    n = len(gen.SHAPES)
    single: list[float] = []
    bm25: list[float] = []
    batch: list[float] = []
    cpu_batch: list[float] = []
    cpu_single = 0.0
    t0 = time.perf_counter()
    for r in range(rounds):
        c0 = cpu()
        for j, q in enumerate(mix[r * n : (r + 1) * n]):
            dt = client.query(q, rid=f"{tag}r{r}q{j}")
            single.append(dt)
            if q.shape == "bm25":
                bm25.append(dt)
        c1 = cpu()
        cpu_single += c1 - c0
        for b in range(r * BATCHES_PER_ROUND, r * BATCHES_PER_ROUND + n_batches):
            batch.append(client.batch(batches[b], rid=f"{tag}r{r}b{b}"))
            c2 = cpu()
            cpu_batch.append(c2 - c1)
            c1 = c2
    return {
        "single": single, "bm25": bm25, "batch": batch,
        "cpu_single": cpu_single, "cpu_batch": cpu_batch,
        "wall": time.perf_counter() - t0,
    }


def tail(values: list[float]) -> tuple[float, int]:
    """The highest percentile (in whole percent) with at least ten samples
    above it, and its value; (max, 0) with fewer than 11 samples."""
    xs = sorted(values)
    n = len(xs)
    if n <= 10:
        return xs[-1], 0
    idx = n - 11  # ten samples lie above xs[idx]
    return xs[idx], int(100 * (idx + 1) / n)


def window_metrics(w: dict) -> dict:
    tail_v, tail_p = tail(w["single"])
    return {
        "query_qps": len(w["single"]) / sum(w["single"]),
        "query_p50_s": statistics.median(w["single"]),
        "query_tail_s": tail_v,
        "query_tail_pct": tail_p,
        "bm25_p50_s": statistics.median(w["bm25"]),
        "bm25_batch_qps": len(w["batch"]) * gen.BM25_BATCH / sum(w["batch"])
        if w["batch"] else 0.0,
        "query_cpu_s": w["cpu_single"] / len(w["single"]),
        "bm25_batch_cpu_s": statistics.median(w["cpu_batch"]) / gen.BM25_BATCH,
    }


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, fs in os.walk(path) for f in fs
    )


def storage_ratios(index_dir: str, n_postings: int, content_bytes: int) -> dict:
    """Segment-store bytes per posting, and all index bytes per byte of
    ``content``."""
    return {
        "segment_bytes_per_posting":
            dir_bytes(os.path.join(index_dir, "segments")) / n_postings,
        "index_bytes_per_content_byte": dir_bytes(index_dir) / content_bytes,
    }


def write_warm_index(eng, out_dir: str) -> None:
    """Write the in-memory index's tables in the layout of
    ``build_resumable_index`` (docs, postings, doclens, dictionary, typo
    n-grams, and the postings' segment encoding), so that the storage
    ratios of ``serve_warm`` are read from an index directory too."""
    idx = eng.index
    for name, df in (
        ("docs", idx.docs), ("postings", idx.postings), ("doclens", idx.doclens),
        ("dictionary", idx.dict_df), ("ngram", idx.ngram_df),
    ):
        df.write.mode("overwrite").parquet(os.path.join(out_dir, name))
    segments.write_segments(
        segments.encode_segments(idx.postings), os.path.join(out_dir, "segments")
    )


def open_engine(spark, mode: str, corpus_path: str, index_dir: str, tracer) -> tuple:
    """Index the corpus for ``mode`` and open the engine on it. Returns
    (engine, build seconds, build manifest or None)."""
    schema = code_schema()
    df = spark.read.parquet(corpus_path)
    t0 = time.perf_counter()
    if mode == "serve_warm":
        with tracer.span("engine.index_dataframe"):
            eng = SparkSearchEngine(spark, schema)
            eng.index_dataframe(df)
            # materializes the cached docs, postings and doclens
            eng.index.stats()
        return eng, time.perf_counter() - t0, None
    shutil.rmtree(index_dir, ignore_errors=True)
    with tracer.span("manifest.build_resumable_index"):
        manifest = build_resumable_index(
            spark, df, schema, index_dir, n_chunks=1, resume=False
        )
    t_build = time.perf_counter() - t0
    with tracer.span("engine.from_index_dir"):
        eng = SparkSearchEngine.from_index_dir(spark, index_dir, schema, serve="segments")
    return eng, t_build, manifest


def check_build(index_dir: str, manifest: dict, sha256: dict, n_postings: int) -> list[str]:
    """The input_hint invariants of a built index: every stored row's
    content_sha256 is sha256(content) of its source row, and the postings
    count equals the oracle's distinct (doc, field, term) count."""
    import pyarrow.parquet as pq

    errs = []
    docs = pq.read_table(os.path.join(index_dir, "docs"), columns=["doc_id", "content_sha256"])
    got = dict(zip(docs.column("doc_id").to_pylist(), docs.column("content_sha256").to_pylist()))
    if got != sha256:
        errs.append("content_sha256 differs from sha256(content) of the source")
    if manifest["stats"]["n_postings"] != n_postings:
        errs.append(f"postings count {manifest['stats']['n_postings']} != oracle {n_postings}")
    return errs
