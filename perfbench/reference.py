"""Independent brute-force BM25 reference (k1=1.2, b=0.75) in DuckDB.

It tokenizes the raw documents with ``analyze.duckdb_tokenize_sql`` and
scores with ``functions.bm25.duckdb_bm25_sql``, sharing no code with the
engine's index, block codec or WAND kernels. The benchmark compares the
engine's results against it outside every timed window.
"""

from __future__ import annotations

import duckdb
import pyarrow as pa

SCORE_DIGITS = 6


class Bm25Reference:
    """Exhaustive BM25 over a document set.

    ``docs`` holds every version of every doc the benchmark may ingest
    (doc_id, content); ``set_state`` picks the live ones a query may
    return. While overwritten versions are tombstoned rather than compacted
    away, the engine keeps counting them in df (the Lucene deleted-docs
    rule, with df clamped to N); ``df_ids`` lists every version still in
    the store to mirror that. N and avgdl always come from the live docs.
    """

    def __init__(self, docs: pa.Table):
        from ariadna_spark.analyze import duckdb_tokenize_sql

        self.con = duckdb.connect()
        self.con.register("docs_in", docs.select(["doc_id", "content"]))
        self.con.execute(
            f"CREATE TABLE toks AS SELECT doc_id, {duckdb_tokenize_sql('content')} AS t "
            "FROM docs_in"
        )
        self.con.execute(
            "CREATE TABLE tf AS SELECT doc_id, term, count(*) AS tf "
            "FROM (SELECT doc_id, unnest(t) AS term FROM toks) GROUP BY doc_id, term"
        )
        self.con.execute(
            "CREATE TABLE dl AS SELECT doc_id, len(t) AS doc_len, "
            "' ' || array_to_string(t, ' ') || ' ' AS txt FROM toks WHERE len(t) > 0"
        )
        self.con.unregister("docs_in")
        self.set_state(docs.column("doc_id").to_pylist())

    def set_state(self, live_ids: list[int], df_ids: list[int] | None = None) -> None:
        from ariadna_spark.functions.bm25 import duckdb_bm25_sql

        for name, ids in (("live", live_ids), ("counted", live_ids if df_ids is None else df_ids)):
            self.con.register("ids_in", pa.table({"doc_id": pa.array(ids, pa.int64())}))
            self.con.execute(f"CREATE OR REPLACE TABLE {name} AS SELECT doc_id FROM ids_in")
            self.con.unregister("ids_in")
        self.con.execute(
            "CREATE OR REPLACE TABLE stats AS SELECT count(*) AS n, avg(doc_len) AS avgdl "
            "FROM dl JOIN live USING (doc_id)"
        )
        self.con.execute(
            "CREATE OR REPLACE TABLE dfreq AS SELECT term, "
            "least(count(*), (SELECT n FROM stats)) AS df FROM tf JOIN counted USING (doc_id) "
            "GROUP BY term"
        )
        self._score = duckdb_bm25_sql(
            "tf.tf", "dfreq.df", "dl.doc_len", "(SELECT n FROM stats)",
            "(SELECT avgdl FROM stats)",
        )

    def _ranked(self, terms: list[str], phrase: str | None) -> list[tuple[int, float]]:
        where = "AND contains(dl.txt, ?)" if phrase else ""
        params = [sorted(set(terms))] + ([f" {phrase} "] if phrase else [])
        rows = self.con.execute(
            f"""SELECT tf.doc_id, sum({self._score}) AS s
                FROM tf JOIN live USING (doc_id) JOIN dfreq USING (term)
                     JOIN dl USING (doc_id)
                WHERE list_contains(?, tf.term) {where}
                GROUP BY tf.doc_id ORDER BY s DESC, tf.doc_id ASC""",
            params,
        ).fetchall()
        return [(int(d), float(s)) for d, s in rows]

    def topk(self, terms: list[str]) -> list[tuple[int, float]]:
        """Every doc matching at least one term, ranked (score desc, doc_id asc)."""
        return self._ranked(terms, None)

    def phrase(self, tokens: list[str]) -> list[tuple[int, float]]:
        """Docs whose token stream holds ``tokens`` consecutively, scored by
        the summed BM25 of the phrase's distinct terms (the engine's
        match_phrase rank semantics)."""
        return self._ranked(tokens, " ".join(tokens))


def same_topk(got: list[tuple[int, float]], ranked: list[tuple[int, float]], k: int) -> bool:
    """True when ``got`` is the top k of the full reference ranking.

    Scores are compared rounded to SCORE_DIGITS and both sides are put in
    (rounded score desc, doc_id asc) order. Docs tied with the k-th score
    may legitimately differ between two top-k cuts, so at the boundary
    score only their number must agree.
    """
    def norm(rows):
        return sorted(((int(d), round(float(s), SCORE_DIGITS)) for d, s in rows),
                      key=lambda r: (-r[1], r[0]))

    full = norm(ranked)
    want, got = full[:k], norm(got)
    if len(got) != len(want):
        return False
    if not want:
        return True
    edge = want[-1][1]
    ref_score = dict(full)
    return ([r for r in got if r[1] != edge] == [r for r in want if r[1] != edge]
            and all(ref_score.get(d) == edge for d, s in got if s == edge))
