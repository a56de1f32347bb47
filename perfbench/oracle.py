"""Independent DuckDB oracle for every result the benchmark times.

It reads only the generated corpus rows, never the engine's artifacts, and
implements the semantics from first principles:

- terms are the non-empty ``\\W+`` pieces of the lowercased field text,
  over the indexed fields ``repo``, ``path``, ``lang`` and ``content``;
- a bare term matches any indexed field; a term absent from those fields
  falls back to dictionary terms within Levenshtein distance 1 (length
  5-8) or 2 (length >= 9), and to nothing when shorter;
- a prefix matches any term starting with it; a phrase is a case-sensitive
  substring of ``content``; AND, OR and NOT are set intersection, union
  and difference;
- BM25 (k1 = 1.2, b = 0.75, idf = ln(1 + (N - df + 0.5) / (df + 0.5)))
  over ``content``, scores rounded to 6 places, ranked by score desc then
  doc_id asc;
- MinHash pairs are re-verified by exact 3-word-shingle Jaccard; SimHash
  pairs are the brute-force set of pairs within the Hamming radius.
"""

from __future__ import annotations

import hashlib

import duckdb
import pyarrow as pa

INDEXED = ("repo", "path", "lang", "content")


def typo_distance(term: str) -> int:
    n = len(term)
    return 2 if n >= 9 else 1 if n >= 5 else 0


class Oracle:
    def __init__(self, corpus: list[dict]):
        self.corpus = corpus
        self.db = duckdb.connect()
        self.db.execute("SET threads TO 1")
        self.db.register("docs_arrow", pa.Table.from_pylist(corpus))
        self.db.execute("CREATE TABLE docs AS SELECT * FROM docs_arrow")
        self.db.unregister("docs_arrow")
        toks = " UNION ALL ".join(
            f"SELECT doc_id, '{f}' AS field, unnest(list_filter("
            f"string_split_regex(lower({f}), '\\W+'), x -> x <> '')) AS term FROM docs"
            for f in INDEXED
        )
        self.db.execute(f"CREATE TABLE toks AS {toks}")
        self.db.execute(
            "CREATE TABLE dict AS SELECT DISTINCT field, term FROM toks"
        )

    # ------------------------------------------------------------ doc sets

    def _ids(self, sql: str, params: list) -> frozenset:
        return frozenset(r[0] for r in self.db.execute(sql, params).fetchall())

    def term(self, t: str, fields=INDEXED) -> frozenset:
        fl = ",".join(f"'{f}'" for f in fields)
        exact = self.db.execute(
            f"SELECT count(*) FROM dict WHERE term = ? AND field IN ({fl})", [t]
        ).fetchone()[0]
        if exact:
            return self._ids(
                f"SELECT DISTINCT doc_id FROM toks WHERE term = ? AND field IN ({fl})",
                [t],
            )
        d = typo_distance(t)
        if d == 0:
            return frozenset()
        return self._ids(
            f"SELECT DISTINCT doc_id FROM toks WHERE field IN ({fl}) AND term IN ("
            f"SELECT term FROM dict WHERE field IN ({fl}) AND levenshtein(term, ?) <= ?)",
            [t, d],
        )

    def prefix(self, p: str) -> frozenset:
        return self._ids(
            "SELECT DISTINCT doc_id FROM toks WHERE starts_with(term, ?)", [p]
        )

    def phrase(self, text: str) -> frozenset:
        return self._ids("SELECT doc_id FROM docs WHERE contains(content, ?)", [text])

    def docs_for(self, q) -> frozenset:
        """Expected doc-id set of a ``gen.Query`` (any shape but bm25)."""
        s, t = q.shape, q.terms
        if s in ("term_hot", "term_rare", "typo"):
            return self.term(t[0])
        if s == "and":
            return self.term(t[0]) & self.term(t[1])
        if s == "or":
            return self.term(t[0]) | self.term(t[1])
        if s == "not":
            return self.term(t[0]) - self.term(t[1])
        if s == "prefix":
            return self.prefix(t[0])
        if s == "phrase":
            return self.phrase(t[0])
        if s == "field":
            return self.term(t[1], (t[0],))
        raise ValueError(f"no doc-set semantics for shape {s!r}")

    # ---------------------------------------------------------------- BM25

    def bm25(self, terms, k: int = 10) -> list[tuple[int, float]]:
        ts = sorted(set(terms))
        return [
            (int(d), float(s))
            for d, s in self.db.execute(
                """
WITH dl AS (
  SELECT doc_id, count(*) AS dl FROM toks WHERE field = 'content' GROUP BY 1
), stats AS (
  SELECT (SELECT count(*) FROM docs) AS n, avg(dl) AS avgdl FROM dl
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM toks
  WHERE field = 'content' AND list_contains(?, term) GROUP BY 1, 2
), dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1)
SELECT tf.doc_id, round(sum(
    ln(1.0 + (stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5)) * tf.tf * 2.2
    / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl))), 6) AS score
FROM tf, stats, dfreq, dl
WHERE tf.term = dfreq.term AND tf.doc_id = dl.doc_id
GROUP BY tf.doc_id ORDER BY score DESC, tf.doc_id LIMIT ?
""",
                [ts, k],
            ).fetchall()
        ]

    # --------------------------------------------------------------- dedup

    def _shingles(self) -> None:
        if "shingles" in {r[0] for r in self.db.execute("SHOW TABLES").fetchall()}:
            return
        self.db.execute(
            """
CREATE TABLE shingles AS
WITH t AS (
  SELECT doc_id, list_filter(string_split_regex(lower(content), '\\W+'),
                             x -> x <> '') AS ts FROM docs
)
SELECT DISTINCT doc_id, unnest(list_transform(
    range(1, greatest(len(ts) - 2, 1) + 1),
    i -> array_to_string(list_slice(ts, i, i + 2), ' '))) AS sh
FROM t
"""
        )

    def jaccard(self, pairs) -> dict[tuple[int, int], float]:
        """Exact 3-word-shingle Jaccard (rounded to 6) of each pair."""
        self._shingles()
        pairs = list(pairs)
        if not pairs:
            return {}
        self.db.register("pairs_arrow", pa.table({
            "a": [int(a) for a, _ in pairs], "b": [int(b) for _, b in pairs],
        }))
        rows = self.db.execute(
            """
WITH n AS (SELECT doc_id, count(*) AS c FROM shingles GROUP BY 1),
i AS (
  SELECT p.a, p.b, count(sb.sh) AS inter
  FROM pairs_arrow p
  JOIN shingles sa ON sa.doc_id = p.a
  LEFT JOIN shingles sb ON sb.doc_id = p.b AND sb.sh = sa.sh
  GROUP BY 1, 2
)
SELECT i.a, i.b, round(i.inter / greatest(na.c + nb.c - i.inter, 1), 6)
FROM i JOIN n na ON na.doc_id = i.a JOIN n nb ON nb.doc_id = i.b
"""
        ).fetchall()
        self.db.unregister("pairs_arrow")
        return {(a, b): j for a, b, j in rows}

    def simhash_pairs(self, max_hamming: int) -> set[tuple[int, int, int]]:
        """All (a, b, hamming), a < b, of 64-bit token SimHash fingerprints
        (token hash = DuckDB md5_number_lower) within ``max_hamming``."""
        rows = self.db.execute(
            """
WITH tok AS (
  SELECT doc_id, unnest(list_filter(string_split_regex(lower(content), '\\W+'),
                                    x -> x <> '')) AS t FROM docs
), bits AS (
  SELECT doc_id, b,
         sum(CASE WHEN (md5_number_lower(t) >> b) & 1 = 1 THEN 1 ELSE -1 END) AS acc
  FROM tok, range(0, 64) r(b) GROUP BY 1, 2
), fp AS (
  SELECT doc_id, CAST(sum(CASE WHEN acc > 0 THEN CAST(1 AS UBIGINT) << b
                          ELSE CAST(0 AS UBIGINT) END) AS UBIGINT) AS h
  FROM bits GROUP BY 1
)
SELECT * FROM (
  SELECT x.doc_id AS a, y.doc_id AS b, bit_count(xor(x.h, y.h)) AS hd
  FROM fp x JOIN fp y ON x.doc_id < y.doc_id
) WHERE hd <= ?
""",
            [max_hamming],
        ).fetchall()
        return {(int(a), int(b), int(h)) for a, b, h in rows}

    # --------------------------------------------------------------- build

    def n_postings(self) -> int:
        """Distinct (doc_id, field, term) rows over the indexed fields."""
        return self.db.execute(
            "SELECT count(*) FROM (SELECT DISTINCT doc_id, field, term FROM toks)"
        ).fetchone()[0]

    def content_sha256(self) -> dict[int, str]:
        return {
            r["doc_id"]: hashlib.sha256(r["content"].encode()).hexdigest()
            for r in self.corpus
        }

    def close(self) -> None:
        self.db.close()
