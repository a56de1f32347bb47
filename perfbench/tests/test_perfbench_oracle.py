"""The DuckDB oracle agrees with the engine on a tiny corpus, for every
query shape, BM25 (single and batched) and both dedup operators."""

import os
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import pytest  # noqa: E402

import gen  # noqa: E402
from oracle import Oracle  # noqa: E402

SEED = 3
SPEC = gen.CorpusSpec(n_docs=120, vocab=400)


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[2]")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", str(tmp_path_factory.mktemp("spark-local")))
        .getOrCreate()
    )
    yield s
    s.stop()


@pytest.fixture(scope="module")
def world(spark, tmp_path_factory):
    from phphinder_spark.engine import SparkSearchEngine
    from phphinder_spark.schema import code_schema

    corpus = gen.rows(SEED, SPEC)
    path = str(tmp_path_factory.mktemp("corpus"))
    gen.write_parquet(corpus, path, n_files=2)
    df = spark.read.parquet(path)
    eng = SparkSearchEngine(spark, code_schema())
    eng.index_dataframe(df)
    return corpus, df, eng, Oracle(corpus)


def test_doc_sets_and_bm25_match(world):
    corpus, _, eng, oracle = world
    mix = gen.query_mix(SEED, corpus, 3 * len(gen.SHAPES))
    for q in mix:
        if q.shape == "bm25":
            got = [
                (r["doc_id"], r["score"])
                for r in eng.search_topk_bm25(q.text, k=10, field="content").collect()
            ]
            want = oracle.bm25(q.terms, k=10)
            assert [d for d, _ in got] == [d for d, _ in want], q
            assert all(abs(a - b) <= 2e-6 for (_, a), (_, b) in zip(got, want)), q
        else:
            got = {r["doc_id"] for r in eng.search_df(q.text).collect()}
            assert got == oracle.docs_for(q), q


def test_batched_bm25_matches(world):
    corpus, _, eng, oracle = world
    batch = gen.bm25_batches(SEED, corpus, 1)[0]
    rows = eng.search_topk_bm25_many(batch, k=5, field="content").collect()
    for p in batch:
        got = [
            (r["doc_id"], r["score"])
            for r in sorted(rows, key=lambda r: r["rank"]) if r["query_id"] == p
        ]
        want = oracle.bm25(p.split(), k=5)
        assert [d for d, _ in got] == [d for d, _ in want], p


def test_dedup_pairs_match(world):
    from phphinder_spark.ops.dedup import minhash_lsh_pairs, simhash_pairs

    _, df, _, oracle = world
    mh = minhash_lsh_pairs(df, col="content", threshold=0.6).collect()
    exact = oracle.jaccard([(r["a_id"], r["b_id"]) for r in mh])
    assert mh and all(abs(r["jaccard"] - exact[(r["a_id"], r["b_id"])]) <= 1e-6 for r in mh)
    sh = simhash_pairs(df, col="content", max_hamming=6).collect()
    assert {(r["a_id"], r["b_id"], r["hamming"]) for r in sh} == oracle.simhash_pairs(6)


def test_postings_count_matches_index_build(world, spark, tmp_path):
    from phphinder_spark.index.manifest import build_resumable_index
    from phphinder_spark.schema import code_schema

    corpus, df, _, oracle = world
    m = build_resumable_index(spark, df, code_schema(), str(tmp_path / "idx"), n_chunks=1)
    assert m["stats"]["n_postings"] == oracle.n_postings()
