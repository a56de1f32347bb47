"""The generator is a pure function of the seed: identical across calls
and shard counts, different across seeds."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyarrow.parquet as pq  # noqa: E402

import gen  # noqa: E402

SPEC = gen.CorpusSpec(n_docs=300)


def test_same_seed_same_corpus_and_mix():
    a, b = gen.rows(7, SPEC), gen.rows(7, SPEC)
    assert a == b
    assert gen.digest(a) == gen.digest(b)
    assert gen.query_mix(7, a, 30) == gen.query_mix(7, b, 30)
    assert gen.bm25_batches(7, a, 3) == gen.bm25_batches(7, b, 3)


def test_shard_count_does_not_change_rows():
    whole = gen.rows(7, SPEC)
    for n_shards in (1, 3, 8):
        bounds = [SPEC.n_docs * s // n_shards for s in range(n_shards + 1)]
        shards = [gen.rows(7, SPEC, bounds[s], bounds[s + 1]) for s in range(n_shards)]
        assert [r for shard in shards for r in shard] == whole


def test_parquet_file_count_does_not_change_digest(tmp_path):
    corpus = gen.rows(7, SPEC)
    digests = set()
    for n_files in (1, 4):
        path = str(tmp_path / f"c{n_files}")
        gen.write_parquet(corpus, path, n_files=n_files)
        digests.add(gen.digest(pq.read_table(path).to_pylist()))
    assert digests == {gen.digest(corpus)}


def test_different_seed_different_digest():
    assert gen.digest(gen.rows(7, SPEC)) != gen.digest(gen.rows(8, SPEC))


def test_planted_families():
    pairs = gen.planted_pairs(SPEC.n_docs)
    n_copies = int(SPEC.n_docs * gen.DUP_SHARE) // gen.FAMILY_SIZE * gen.FAMILY_SIZE
    n_families = n_copies // gen.FAMILY_SIZE
    members = gen.FAMILY_SIZE + 1
    assert len(pairs) == n_families * members * (members - 1) // 2
    corpus = gen.rows(7, SPEC)
    for a, b in pairs:
        assert a < b
        assert corpus[a - 1]["content"] != corpus[b - 1]["content"]


def test_mix_covers_every_shape_and_is_ascii():
    corpus = gen.rows(7, SPEC)
    mix = gen.query_mix(7, corpus, 2 * len(gen.SHAPES))
    assert [q.shape for q in mix] == gen.SHAPES * 2
    assert all(r["content"].isascii() for r in corpus)
    for batch in gen.bm25_batches(7, corpus, 2):
        assert len(batch) == len(set(batch)) == gen.BM25_BATCH
