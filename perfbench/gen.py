"""Seeded source-code corpus and query mix for the benchmark.

Everything here is a pure function of ``(seed, i)``: each row is drawn from
its own ``random.Random`` stream, so generating the corpus in one piece or
in any number of shards yields the same rows. The module deliberately does
not import ``phphinder_spark`` -- a change to the program must not be able
to change the workload.

Corpus shape: the ``(repo, path, commit, lang, content)`` table of a code
search engine, plus a dense ``doc_id``. ``content`` is code-like text built
from hot keywords (in nearly every document) and identifiers drawn from a
Zipf(1) rank distribution, so posting-list lengths run from every document
down to one. A fixed share of documents are near-duplicate copies of a
family root (a few tokens replaced, inserted or deleted); the pairs inside a
family are the planted pairs the dedup workload must find.
"""

from __future__ import annotations

import hashlib
import math
import random
from dataclasses import dataclass

LANGS = ["py", "js", "go", "php", "rs"]
KEYWORDS = [
    "def", "return", "import", "class", "self", "if", "else", "for", "in",
    "function", "const", "let", "var", "new", "null", "true", "false",
]
_VERBS = [
    "get", "set", "load", "parse", "make", "read", "write", "build", "find",
    "init", "update", "handle", "compute", "check", "render", "merge",
]
_NOUNS = [
    "user", "item", "node", "token", "buffer", "config", "index", "value",
    "record", "cache", "stream", "event", "query", "segment", "block", "frame",
]
_PUNCT = ["(", ")", "=", "{", "}", ":", ",", "+", "."]

DUP_SHARE = 0.08  # share of documents that are near-duplicate copies
FAMILY_SIZE = 3  # copies per planted family (plus the root)


@dataclass(frozen=True)
class CorpusSpec:
    n_docs: int
    vocab: int = 20000
    n_repos: int = 40


def ident(seed: int, rank: int) -> str:
    """The identifier at Zipf ``rank`` (1 = most frequent), camel-cased as
    code writes it; the index sees it lowercased."""
    h = int.from_bytes(hashlib.blake2b(f"{seed}:{rank}".encode(), digest_size=4).digest(), "little")
    verb, noun = _VERBS[h % len(_VERBS)], _NOUNS[(h >> 8) % len(_NOUNS)]
    return f"{verb}{noun.capitalize()}{rank}"


def _zipf_rank(rng: random.Random, vocab: int) -> int:
    # inverse CDF of P(r) ~ 1/r via the harmonic-sum approximation
    u = rng.random() * (math.log(vocab) + 0.5772)
    return min(vocab, max(1, int(math.exp(u))))


def _content(rng: random.Random, seed: int, spec: CorpusSpec) -> str:
    n_tokens = 60 + rng.randrange(120)
    toks = []
    for _ in range(n_tokens):
        r = rng.random()
        if r < 0.3:
            toks.append(rng.choice(KEYWORDS))
        elif r < 0.38:
            toks.append(rng.choice(_PUNCT))
        else:
            toks.append(ident(seed, _zipf_rank(rng, spec.vocab)))
    return "\n".join(" ".join(toks[j : j + 10]) for j in range(0, len(toks), 10))


def _mutate(rng: random.Random, seed: int, spec: CorpusSpec, text: str) -> str:
    """A near-duplicate: two or three single-token edits of ``text``."""
    lines = [ln.split(" ") for ln in text.split("\n")]
    for _ in range(2 + rng.randrange(2)):
        line = rng.choice(lines)
        j = rng.randrange(len(line))
        op = rng.random()
        new = ident(seed, _zipf_rank(rng, spec.vocab))
        if op < 0.5:
            line[j] = new
        elif op < 0.8 or len(line) < 3:
            line.insert(j, new)
        else:
            del line[j]
    return "\n".join(" ".join(ln) for ln in lines)


def family_root(i: int, n_docs: int) -> int | None:
    """Root doc index of row ``i``'s planted family, or None when row ``i``
    is an original document. Copies sit at the tail of the corpus."""
    n_copies = int(n_docs * DUP_SHARE) // FAMILY_SIZE * FAMILY_SIZE
    first_copy = n_docs - n_copies
    if i < first_copy:
        return None
    # copy k of family f -> root row f * stride, spread over the originals
    f = (i - first_copy) // FAMILY_SIZE
    stride = max(1, first_copy // max(1, n_copies // FAMILY_SIZE))
    return f * stride


def make_row(seed: int, spec: CorpusSpec, i: int) -> dict:
    """Row ``i`` (0-based); ``doc_id`` is ``i + 1``."""
    root = family_root(i, spec.n_docs)
    src = i if root is None else root
    rng = random.Random(f"d{seed}:{src}")
    lang = LANGS[src % len(LANGS)]
    repo = f"org{src % 7}/repo{rng.randrange(spec.n_repos)}"
    path = f"src/pkg{rng.randrange(30)}/mod{src}.{lang}"
    content = _content(rng, seed, spec)
    if root is not None:
        content = _mutate(random.Random(f"m{seed}:{i}"), seed, spec, content)
        path = f"vendor/copy{i}/mod{src}.{lang}"
    commit = hashlib.sha1(f"{seed}:{i}".encode()).hexdigest()
    return {
        "doc_id": i + 1, "repo": repo, "path": path, "commit": commit,
        "lang": lang, "content": content,
    }


def rows(seed: int, spec: CorpusSpec, start: int = 0, stop: int | None = None) -> list[dict]:
    stop = spec.n_docs if stop is None else stop
    return [make_row(seed, spec, i) for i in range(start, stop)]


def digest(corpus: list[dict]) -> str:
    """sha256 over the generated ``content`` column in doc_id order."""
    h = hashlib.sha256()
    for r in sorted(corpus, key=lambda r: r["doc_id"]):
        h.update(r["content"].encode())
        h.update(b"\0")
    return h.hexdigest()


def planted_pairs(n_docs: int) -> set[tuple[int, int]]:
    """All (a_id, b_id) doc-id pairs, a < b, inside a planted family."""
    fams: dict[int, list[int]] = {}
    for i in range(n_docs):
        root = family_root(i, n_docs)
        if root is not None:
            fams.setdefault(root, [root]).append(i)
    out = set()
    for members in fams.values():
        ids = sorted(m + 1 for m in members)
        out.update((a, b) for k, a in enumerate(ids) for b in ids[k + 1 :])
    return out


def write_parquet(corpus: list[dict], path: str, n_files: int = 4) -> None:
    """Materialize ``corpus`` as ``n_files`` parquet files under ``path``."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    bounds = [len(corpus) * s // n_files for s in range(n_files + 1)]
    for s in range(n_files):
        part = corpus[bounds[s] : bounds[s + 1]]
        table = pa.Table.from_pylist(part, schema=pa.schema([
            ("doc_id", pa.int64()), ("repo", pa.string()), ("path", pa.string()),
            ("commit", pa.string()), ("lang", pa.string()), ("content", pa.string()),
        ]))
        pq.write_table(table, os.path.join(path, f"part-{s:05d}.parquet"))


# ---------------------------------------------------------------- query mix

SHAPES = [
    "term_hot", "term_rare", "and", "or", "not", "prefix", "phrase", "typo",
    "field", "bm25",
]
BM25_BATCH = 8  # queries per search_topk_bm25_many call


@dataclass(frozen=True)
class Query:
    """One query of the mix: ``shape``, the engine query string ``text``
    and the structured ``terms`` the oracle evaluates it from."""

    shape: str
    text: str
    terms: tuple


def _term_ranks(corpus: list[dict]) -> list[str]:
    """Content terms by descending document frequency (ties by term)."""
    import re

    df: dict[str, int] = {}
    split = re.compile(r"\W+").split
    for r in corpus:
        for t in {t for t in split(r["content"].lower()) if t}:
            df[t] = df.get(t, 0) + 1
    return sorted(df, key=lambda t: (-df[t], t))


def query_mix(seed: int, corpus: list[dict], n_queries: int) -> list[Query]:
    """``n_queries`` single queries cycling through ``SHAPES`` with terms
    drawn from the corpus's frequency ranks: hot (top 1%), mid and rare
    (the tail, down to df = 1). Phrases repeat with Zipf skew."""
    rng = random.Random(f"q{seed}")
    ranked = _term_ranks(corpus)
    idents = [t for t in ranked if t not in KEYWORDS]
    n = len(idents)
    hot = KEYWORDS + idents[: max(1, n // 100)]
    mid = idents[n // 100 : n // 10] or idents
    rare = idents[n // 2 :] or idents
    typo_src = [t for t in mid if len(t) >= 6]
    vocab = set(ranked)

    # phrase pool: word pairs/triples that occur literally in the content
    pool = []
    for _ in range(40):
        line = rng.choice(rng.choice(corpus)["content"].split("\n")).split(" ")
        w = rng.choice((2, 3))
        starts = [
            j for j in range(len(line) - w + 1)
            if all(tok.isidentifier() for tok in line[j : j + w])
        ]
        if starts:
            j = rng.choice(starts)
            pool.append(" ".join(line[j : j + w]))

    def typo() -> str:
        while True:
            t = rng.choice(typo_src)
            j = rng.randrange(len(t))
            bad = t[:j] + rng.choice("qxz") + t[j + 1 :]
            if bad not in vocab:
                return bad

    out = []
    for q in range(n_queries):
        shape = SHAPES[q % len(SHAPES)]
        h, m, r = rng.choice(hot), rng.choice(mid), rng.choice(rare)
        if shape == "term_hot":
            out.append(Query(shape, h, (h,)))
        elif shape == "term_rare":
            out.append(Query(shape, r, (r,)))
        elif shape == "and":
            a, b = rng.sample(mid, 2) if rng.random() < 0.5 else (h, m)
            out.append(Query(shape, f"{a} {b}", (a, b)))
        elif shape == "or":
            out.append(Query(shape, f"{m} OR {r}", (m, r)))
        elif shape == "not":
            out.append(Query(shape, f"{h} NOT({m})", (h, m)))
        elif shape == "prefix":
            p = m[: max(3, len(m) - 3)]
            out.append(Query(shape, f"{p}*", (p,)))
        elif shape == "phrase":
            ph = pool[min(len(pool) - 1, _zipf_rank(rng, len(pool)) - 1)]
            out.append(Query(shape, f'"{ph}"', (ph,)))
        elif shape == "typo":
            t = typo()
            out.append(Query(shape, t, (t,)))
        elif shape == "field":
            if rng.random() < 0.5:
                lang = rng.choice(LANGS)
                out.append(Query(shape, f"lang:{lang}", ("lang", lang)))
            else:
                out.append(Query(shape, f"content:{m}", ("content", m)))
        else:  # bm25
            terms = (h, m, r)
            out.append(Query(shape, " ".join(terms), terms))
    return out


def bm25_batches(seed: int, corpus: list[dict], n_batches: int) -> list[list[str]]:
    """``n_batches`` lists of ``BM25_BATCH`` distinct BM25 phrases."""
    rng = random.Random(f"b{seed}")
    ranked = [t for t in _term_ranks(corpus) if t not in KEYWORDS]
    n = len(ranked)
    out = []
    for _ in range(n_batches):
        batch: list[str] = []
        while len(batch) < BM25_BATCH:
            ph = " ".join((
                rng.choice(ranked[: max(1, n // 100)]),
                rng.choice(ranked[n // 100 : n // 10] or ranked),
                rng.choice(ranked[n // 2 :] or ranked),
            ))
            if ph not in batch:
                batch.append(ph)
        out.append(batch)
    return out
