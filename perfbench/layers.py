"""Per-layer probes for the traced run.

Each probe calls one module's public functions directly, inside a span,
on the state the workload already built: the parser over the query mix,
``scoring`` on the warm engine's postings, ``index.segments`` on the cold
index, finalize's build steps re-issued one by one on the written
postings, and ``ops.dedup`` on the corpus. Results are checked against the
oracle where they are results (BM25 top-k, dedup pairs).
"""

from __future__ import annotations

import os
import statistics
import time

from pyspark.sql import functions as F

from phphinder_spark.index import builder, segments, typo_ngram
from phphinder_spark.ops import dedup
from phphinder_spark.query import QueryParser
from phphinder_spark.query.parser import ANY_FIELD
from phphinder_spark.schema import code_schema
from phphinder_spark import scoring

import gen
from serve import K

MINHASH_THRESHOLD = 0.6
SIMHASH_RADIUS = 6
PARSE_REPS = 20  # passes over the mix; parsing one mix takes well under 1 ms


def _timed(tracer, name: str, fn):
    with tracer.span(name):
        t0 = time.perf_counter()
        out = fn()
        return out, time.perf_counter() - t0


def parse_probe(mix) -> dict:
    """``QueryParser.parse`` over every query string of the mix; median
    seconds per pass over the mix."""
    texts = [q.text for q in mix if q.shape != "bm25"]
    parser = QueryParser(ANY_FIELD)
    passes = []
    for _ in range(PARSE_REPS):
        t0 = time.perf_counter()
        for t in texts:
            parser.parse(t)
        passes.append(time.perf_counter() - t0)
    return {"query.parse_s": statistics.median(passes)}


def scoring_probe(eng, mix, batches, client, tracer) -> dict:
    """``scoring.bm25_topk`` / ``bm25_topk_batch`` on the warm engine's
    cached postings and doclens."""
    idx = eng.index
    st = idx.stats()
    n, avgdl = st["n_docs"], st["avgdl"]["content"]
    single, batch = [], []
    for i, q in enumerate(q for q in mix if q.shape == "bm25"):
        rows, dt = _timed(tracer, "scoring.bm25_topk", lambda: scoring.bm25_topk(
            idx.postings, idx.doclens, list(q.terms), "content", n, avgdl, K
        ).collect())
        single.append(dt)
        client.check(client.bm25_ok([(r["doc_id"], r["score"]) for r in rows], q.terms), "scoring.bm25_topk")
    for b in batches[:3]:
        qmap = {p: p.split() for p in b}
        rows, dt = _timed(tracer, "scoring.bm25_topk_batch", lambda: scoring.bm25_topk_batch(
            idx.postings, idx.doclens, qmap, "content", n, avgdl, K
        ).collect())
        batch.append(dt)
        client.check(client.batch_ok(rows, b), "scoring.bm25_topk_batch")
    return {
        "scoring.bm25_topk_s": statistics.median(single),
        "scoring.bm25_topk_batch_s": statistics.median(batch),
    }


def segments_probe(spark, index_dir, mix, client, tracer) -> dict:
    """Decode throughput, segment rows read and the two segment-store BM25
    scorers over the mix's content terms."""
    terms = sorted({t for q in mix for t in q.terms if q.shape != "phrase"})
    seg = spark.read.parquet(os.path.join(index_dir, "segments")).where(
        (F.col("field") == "content") & F.col("term").isin(terms)
    )
    n_rows, _ = _timed(tracer, "segments.segment_rows", seg.count)
    n_post, dt = _timed(
        tracer, "segments.decode_segments",
        lambda: segments.decode_segments(seg, with_positions=True).count(),
    )
    ex, bm = [], []
    for q in [q for q in mix if q.shape == "bm25"][:1]:
        rows, dt1 = _timed(tracer, "segments.segment_bm25_topk", lambda: segments.segment_bm25_topk(
            spark, index_dir, list(q.terms), "content", K
        ).collect())
        ex.append(dt1)
        client.check(client.bm25_ok([(r["doc_id"], r["score"]) for r in rows], q.terms), "segment_bm25_topk")
        rows, dt2 = _timed(tracer, "segments.segment_bm25_topk_blockmax", lambda: segments.segment_bm25_topk_blockmax(
            spark, index_dir, list(q.terms), "content", K
        )[0].collect())
        bm.append(dt2)
        client.check(client.bm25_ok([(r["doc_id"], r["score"]) for r in rows], q.terms), "segment_bm25_topk_blockmax")
    return {
        "segments.decode_postings_per_s": n_post / dt,
        "segments.segment_rows_read": n_rows,
        "segments.bm25_topk_s": statistics.median(ex),
        "segments.bm25_topk_blockmax_s": statistics.median(bm),
    }


def build_probe(spark, index_dir, probe_dir, manifest, tracer) -> dict:
    """Finalize's public calls re-issued one at a time on the written
    index (postings, then doclens, segment encode, dictionary merge and the
    typo n-gram index), each written out so that it fully executes."""
    schema = code_schema()
    docs = spark.read.parquet(os.path.join(index_dir, "docs"))
    p = lambda name: os.path.join(probe_dir, name)  # noqa: E731
    out = {
        "manifest.docs_s": manifest["docs_sec"],
        "manifest.chunks_s": sum(c["sec"] for c in manifest["chunks"].values()),
        "manifest.finalize_s": manifest["stats"]["finalize_sec"],
    }
    _, out["builder.build_postings_s"] = _timed(tracer, "builder.build_postings", lambda: (
        builder.build_postings(docs, schema).write.mode("overwrite").parquet(p("postings"))
    ))
    postings = spark.read.parquet(p("postings"))
    _, out["builder.doclens_s"] = _timed(tracer, "builder.build_doclens", lambda: (
        builder.build_doclens(postings).write.mode("overwrite").parquet(p("doclens"))
    ))
    _, out["segments.encode_s"] = _timed(tracer, "segments.encode_segments", lambda: (
        segments.write_segments(segments.encode_segments(postings), p("segments"))
    ))
    seg = spark.read.parquet(p("segments"))
    _, out["segments.dictionary_s"] = _timed(tracer, "segments.merge_segment_dictionaries", lambda: (
        segments.merge_segment_dictionaries(seg).write.mode("overwrite").parquet(p("dictionary"))
    ))
    dict_df = spark.read.parquet(p("dictionary"))
    _, out["typo_ngram.build_s"] = _timed(tracer, "typo_ngram.build_ngram_index", lambda: (
        typo_ngram.build_ngram_index(dict_df).write.mode("overwrite").parquet(p("ngram"))
    ))
    return out


def dedup_probe(spark, corpus_path, n_docs, oracle, client, tracer) -> dict:
    """MinHash signatures, MinHash-LSH pairs and SimHash pairs over the
    corpus. Every MinHash pair's Jaccard is recomputed exactly; the SimHash
    pairs must equal the brute-force set."""
    df = spark.read.parquet(corpus_path)
    _, t_sig = _timed(tracer, "dedup.minhash_signatures", lambda: (
        dedup.minhash_signatures(df, col="content").write.format("noop").mode("overwrite").save()
    ))
    mh, t_mh = _timed(tracer, "dedup.minhash_lsh_pairs", lambda: dedup.minhash_lsh_pairs(
        df, col="content", threshold=MINHASH_THRESHOLD
    ).collect())
    sh, t_sh = _timed(tracer, "dedup.simhash_pairs", lambda: dedup.simhash_pairs(
        df, col="content", max_hamming=SIMHASH_RADIUS
    ).collect())
    got_mh = {(r["a_id"], r["b_id"]): r["jaccard"] for r in mh}
    exact = oracle.jaccard(got_mh)
    client.check(all(
        j >= MINHASH_THRESHOLD and abs(j - exact.get(p, -1.0)) <= 1e-6
        for p, j in got_mh.items()
    ), "minhash_lsh_pairs")
    client.check(
        {(r["a_id"], r["b_id"], r["hamming"]) for r in sh}
        == oracle.simhash_pairs(SIMHASH_RADIUS),
        "simhash_pairs",
    )
    planted = gen.planted_pairs(n_docs)
    return {
        "dedup.minhash_signatures_s": t_sig,
        "dedup.minhash_lsh_pairs_s": t_mh,
        "dedup.simhash_pairs_s": t_sh,
        "dedup.minhash_docs_per_s": n_docs / t_mh,
        "dedup.simhash_docs_per_s": n_docs / t_sh,
        "dedup.pairs_out": len(mh) + len(sh),
        "dedup.planted_recall": len(planted & set(got_mh)) / len(planted),
    }
