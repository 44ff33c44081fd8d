"""Seeded benchmark inputs: the corpus, the append batches and the query set.

Everything here is a pure function of the seed (and of the corpus the seed
generates), so two runs with the same seed see identical inputs.
"""

from __future__ import annotations

import glob
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq


def stage_corpus(spark, seed: int, n_base: int, n_batches: int, batch_docs: int,
                 overwrite_share: float, out_dir: str) -> dict:
    """Generate one corpus with ``corpus.synth_code_corpus_distributed`` and
    stage it as parquet: ``base.parquet`` (doc_id < n_base) plus one file per
    append batch.

    A batch's docs get fresh doc_ids; a seeded ``overwrite_share`` of them
    take the (repo, path) key of a base doc that no earlier batch overwrote,
    so each append tombstones exactly that many live docs.
    Returns {"base": path, "batches": [path, ...]}.
    """
    from ariadna_spark.corpus import synth_code_corpus_distributed

    raw = os.path.join(out_dir, "generated")
    n_total = n_base + n_batches * batch_docs
    synth_code_corpus_distributed(spark, n_total, seed=seed).write.parquet(raw)
    tbl = pq.read_table(raw).sort_by("doc_id")
    base_path = os.path.join(out_dir, "base.parquet")
    pq.write_table(tbl.slice(0, n_base), base_path)

    rng = np.random.default_rng(seed)
    n_over = int(round(batch_docs * overwrite_share))
    victims = rng.permutation(n_base)[: n_batches * n_over]
    base_repo = tbl.column("repo").to_pylist()[:n_base]
    base_path_col = tbl.column("path").to_pylist()[:n_base]
    batches = []
    for j in range(n_batches):
        b = tbl.slice(n_base + j * batch_docs, batch_docs)
        repo = b.column("repo").to_pylist()
        path = b.column("path").to_pylist()
        rows = rng.choice(batch_docs, size=n_over, replace=False)
        for r, v in zip(rows, victims[j * n_over : (j + 1) * n_over]):
            repo[r], path[r] = base_repo[v], base_path_col[v]
        b = b.set_column(b.schema.get_field_index("repo"), "repo", pa.array(repo))
        b = b.set_column(b.schema.get_field_index("path"), "path", pa.array(path))
        p = os.path.join(out_dir, f"batch_{j:03d}.parquet")
        pq.write_table(b, p)
        batches.append(p)
    return {"base": base_path, "batches": batches}


def live_docs(base: pa.Table, batches: list[pa.Table]) -> pa.Table:
    """The latest version of every (repo, path) key after the batches are
    appended in order: an appended doc replaces any older doc with its key."""
    cols = ["doc_id", "repo", "path", "content"]
    tables = [base.select(cols)] + [b.select(cols) for b in batches]
    latest: dict[tuple[str, str], int] = {}
    for t in tables:
        for d, r, p in zip(t.column("doc_id").to_pylist(), t.column("repo").to_pylist(),
                           t.column("path").to_pylist()):
            latest[(r, p)] = d
    keep = pa.array(sorted(latest.values()), type=pa.int64())
    all_docs = pa.concat_tables(tables)
    return all_docs.filter(pc.is_in(all_docs.column("doc_id"), value_set=keep))


def read_terms(index_dir: str, build_id: str) -> dict[str, int]:
    """The index's own terms table (term -> df) read from its parquet files."""
    files = glob.glob(os.path.join(index_dir, "builds", build_id, "terms", "bucket=*", "*.parquet"))
    t = pa.concat_tables([pq.read_table(f, columns=["term", "df"]) for f in sorted(files)])
    return dict(zip(t.column("term").to_pylist(), t.column("df").to_pylist()))


def df_strata(terms: dict[str, int], n_docs: int) -> dict[str, list[str]]:
    """Terms split by document frequency: head (in more than 1/8 of docs,
    the engine's hot-term threshold, where block-max WAND can prune), then
    the rest by df rank into mid (upper two thirds) and tail (lowest third,
    where the fixed per-query cost dominates)."""
    head = sorted(t for t, d in terms.items() if d > n_docs // 8)
    rest = sorted((d, t) for t, d in terms.items() if d <= n_docs // 8)
    cut = len(rest) // 3
    return {
        "head": head,
        "mid": sorted(t for _, t in rest[cut:]),
        "tail": sorted(t for _, t in rest[:cut]),
    }


# (strata to draw from, one entry per term) — head-only queries are where
# block-max WAND can prune once a doc_id range holds many strides (the
# benchmark's 2000-doc corpus is too small for that), tail-only ones show
# the per-query floor, mixed ones both.
_SHAPES = [
    ("head",), ("tail",), ("mid",),
    ("head", "head"), ("head", "tail"), ("mid", "tail"),
    ("head", "mid", "tail"), ("tail", "tail", "mid"),
    ("head", "head", "mid", "tail"), ("mid", "mid", "tail", "tail"),
]


def make_queries(seed: int, terms: dict[str, int], n_docs: int, n_queries: int,
                 phrase_docs: list[str], n_phrases: int) -> dict:
    """Seeded query set: ``singles`` is [(qid, text, k, shape)] with 1-4
    terms drawn across df strata and k in {10, 100}; ``phrases`` is
    [(qid, text)], each 2-3 consecutive tokens of a seeded corpus doc, so
    every phrase has at least one match."""
    from ariadna_spark.analyze import tokenize_py

    rng = np.random.default_rng(seed + 1)
    strata = df_strata(terms, n_docs)
    singles = []
    for qid in range(n_queries):
        shape = _SHAPES[qid % len(_SHAPES)]
        picked: list[str] = []
        for s in shape:
            pool = [t for t in strata[s] if t not in picked] or strata["mid"]
            picked.append(pool[int(rng.integers(len(pool)))])
        k = 10 if qid % 3 else 100
        singles.append((qid, " ".join(picked), k, "+".join(shape)))
    phrases = []
    for j in range(n_phrases):
        toks = tokenize_py(phrase_docs[int(rng.integers(len(phrase_docs)))])
        n = 2 + j % 2
        start = int(rng.integers(len(toks) - n))
        phrases.append((n_queries + j, " ".join(toks[start : start + n])))
    return {"singles": singles, "phrases": phrases}
