"""Driver-contract query registry (SURVEY.md §5.5).

Each entry pairs a Spark implementation (callable (spark, sf_dir) ->
DataFrame) with an equivalent DuckDB oracle SQL string over the
pre-registered views (documents, embeddings, lineitem, orders, customer,
events, ...). Column names and rounding are aligned on both sides because
the driver compares order-insensitive value hashes.

The registry covers SURVEY.md §2 groups:
  B (filters/projections/scalar fns), C (agg/dedup/sort/set),
  D (joins), E (the delegated fulltext surface: tokenize, stats, df/idf,
  BM25 top-k, edge-ngram prefix, posting intersection), plus the
  training-data-pipeline operators (dedup, minhash, jaccard, text quality,
  fingerprints, embedding similarity).

Gate fixtures come from one memoized base store per sf, a full-corpus
8-bucket build_index run once per process. Fixtures that mutate a store
copy it first with segments.snapshot_index. All fixtures live in one memo,
under one per-process gate root that is removed at exit.
"""

from __future__ import annotations

import atexit as _atexit
import os as _os
import shutil as _shutil
import tempfile as _tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .analyze import duckdb_tokenize_sql, edge_ngrams_expr, tokenize_expr, tokenize_py
from .corpus import load_docs
from .functions.bm25 import bm25_expr, duckdb_bm25_sql, idf_expr
from .operators.topk import bm25_topk_from_stats
from .stats import corpus_scalars, doc_freqs, doc_lengths, term_freqs

_GATE: dict[tuple[str, str], object] = {}
_GATE_ROOT: str | None = None


def _gate_memo(name: str, sf_dir: str, make: Callable[[], object]):
    """The gate fixture `name` for sf_dir (a store dir, fitted centroids
    or generated oracle SQL), made on first use in this process."""
    key = (name, sf_dir)
    if key not in _GATE:
        _GATE[key] = make()
    return _GATE[key]


def _gate_dir(prefix: str) -> str:
    """A fresh dir under the per-process gate root, which sits on tmpfs
    when available (see session._local_dir) and is removed at exit."""
    global _GATE_ROOT
    if _GATE_ROOT is None:
        base = "/dev/shm" if _os.path.isdir("/dev/shm") else None
        _GATE_ROOT = _tempfile.mkdtemp(prefix="ariadna_gate_", dir=base)
        _atexit.register(_shutil.rmtree, _GATE_ROOT, ignore_errors=True)
    return _tempfile.mkdtemp(prefix=prefix, dir=_GATE_ROOT)


def _gate_base(spark: SparkSession, sf_dir: str) -> str:
    """The full-corpus 8-bucket store, built once per sf. Content-field
    gate fixtures read it, or copy it before they mutate a store."""
    from .sources.segments import build_index

    def make() -> str:
        out = _gate_dir("base_")
        build_index(spark, load_docs(spark, sf_dir), out, build_id="base", n_buckets=8)
        return out

    return _gate_memo("base", sf_dir, make)


# The reference query set (FIXTURES.md §3): single term, multi-term,
# camelCase (code-aware analysis), stop-word-heavy, absent term.
REFERENCE_QUERIES: list[tuple[int, str, int]] = [
    (1, "merge join", 5),
    (2, "window scan", 5),
    (3, "the", 5),
    (4, "mergeJoin sortTable", 5),
    (5, "spark stream batch", 5),
    (6, "zzznotaterm", 5),
]

FLAGSHIP_QUERY = "merge join sort stream"
FLAGSHIP_K = 10

_TOK = duckdb_tokenize_sql("text")

# Shared DuckDB CTE prelude: tokenize -> tf -> dl -> stats -> df
_SQL_PRELUDE = f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOK}) AS term FROM documents
),
tf AS (
  SELECT doc_id, term, CAST(count(*) AS INT) AS tf FROM toks GROUP BY doc_id, term
),
dl AS (
  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS doc_len FROM tf GROUP BY doc_id
),
stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n, avg(doc_len) AS avgdl FROM dl
),
dfreq AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term
)
"""


def _docs_tf(spark: SparkSession, sf_dir: str):
    docs = load_docs(spark, sf_dir)
    tf = term_freqs(docs)
    return docs, tf


def _tf_capped(spark: SparkSession, sf_dir: str, cap: int):
    """tf restricted to doc_id < cap, with the filter applied to the DOCS
    side BEFORE the tokenize kernel: tf rows are doc-local, so filtering
    before or after tokenization is row-identical, but Catalyst cannot
    push a predicate through the opaque mapInArrow boundary — without
    this the whole corpus is tokenized to keep a few hundred docs
    (guide §4.1/§6: opaque functions defeat pushdown; do it by hand)."""
    docs = load_docs(spark, sf_dir).filter(F.col("doc_id") < cap)
    return term_freqs(docs)


# ---------------------------------------------------------------------------
# E: fulltext surface
# ---------------------------------------------------------------------------
def q_term_counts(spark, sf_dir) -> DataFrame:
    """E1/C1: global term counts, top 100 (count desc, term asc)."""
    _, tf = _docs_tf(spark, sf_dir)
    return (
        tf.groupBy("term")
        .agg(F.sum("tf").cast("long").alias("n_occ"), F.count(F.lit(1)).cast("long").alias("n_docs"))
        .orderBy(F.desc("n_occ"), F.asc("term"))
        .limit(100)
    )


SQL_TERM_COUNTS = (
    _SQL_PRELUDE
    + """
SELECT term, CAST(sum(tf) AS BIGINT) AS n_occ, CAST(count(*) AS BIGINT) AS n_docs
FROM tf GROUP BY term ORDER BY n_occ DESC, term ASC LIMIT 100
"""
)


def q_doc_stats(spark, sf_dir) -> DataFrame:
    """Per-doc length (the dl side of BM25)."""
    _, tf = _docs_tf(spark, sf_dir)
    return doc_lengths(tf).select("doc_id", "doc_len")


SQL_DOC_STATS = _SQL_PRELUDE + "SELECT doc_id, doc_len FROM dl"


def q_corpus_stats(spark, sf_dir) -> DataFrame:
    """N, avgdl, total tokens, vocabulary size — the corpus scalars."""
    _, tf = _docs_tf(spark, sf_dir)
    dl = doc_lengths(tf)
    return dl.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.round(F.avg("doc_len"), 4).alias("avgdl_r"),
        F.sum("doc_len").cast("long").alias("total_tokens"),
    ).crossJoin(tf.agg(F.countDistinct("term").cast("long").alias("vocab")))


SQL_CORPUS_STATS = (
    _SQL_PRELUDE
    + """
SELECT (SELECT n FROM stats) AS n_docs,
       round((SELECT avgdl FROM stats), 4) AS avgdl_r,
       (SELECT CAST(sum(doc_len) AS BIGINT) FROM dl) AS total_tokens,
       (SELECT CAST(count(DISTINCT term) AS BIGINT) FROM tf) AS vocab
"""
)


def q_doc_freq_idf(spark, sf_dir) -> DataFrame:
    """df + BM25 idf per term, top 200 by df."""
    _, tf = _docs_tf(spark, sf_dir)
    dl = doc_lengths(tf)
    n_docs, _ = corpus_scalars(dl)
    return (
        doc_freqs(tf)
        .select("term", "df", F.round(idf_expr(F.col("df"), n_docs), 6).alias("idf_r"))
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(200)
    )


SQL_DOC_FREQ_IDF = (
    _SQL_PRELUDE
    + """
SELECT term, df,
       round(ln(1.0 + ((SELECT n FROM stats) - df + 0.5) / (df + 0.5)), 6) AS idf_r
FROM dfreq ORDER BY df DESC, term ASC LIMIT 200
"""
)


def _bm25_sql(terms: list[str], k: int, extra_select: str = "") -> str:
    tlist = ", ".join(f"'{t}'" for t in sorted(set(terms)))
    score = duckdb_bm25_sql(
        "tf.tf", "dfreq.df", "dl.doc_len", "(SELECT n FROM stats)", "(SELECT avgdl FROM stats)"
    )
    return (
        _SQL_PRELUDE
        + f"""
, scored AS (
  SELECT tf.doc_id, sum({score}) AS s
  FROM tf
  JOIN dfreq USING (term)
  JOIN dl USING (doc_id)
  WHERE tf.term IN ({tlist})
  GROUP BY tf.doc_id
)
SELECT {extra_select}doc_id, round(s, 4) AS score_r
FROM scored ORDER BY s DESC, doc_id ASC LIMIT {k}
"""
    )


def q_bm25_flagship(spark, sf_dir) -> DataFrame:
    """E5/E6: top-k BM25 for the flagship query (brute-force oracle path)."""
    docs, tf = _docs_tf(spark, sf_dir)
    tf.persist()
    dl = doc_lengths(tf)
    dfreq = doc_freqs(tf)
    n_docs, avgdl = corpus_scalars(dl)
    terms = tokenize_py(FLAGSHIP_QUERY)
    out = bm25_topk_from_stats(tf, dfreq, dl, n_docs, avgdl, terms, FLAGSHIP_K)
    return out.select("doc_id", F.round("score", 4).alias("score_r"))


SQL_BM25_FLAGSHIP = _bm25_sql(tokenize_py(FLAGSHIP_QUERY), FLAGSHIP_K)


def q_bm25_queryset(spark, sf_dir) -> DataFrame:
    """E5: the whole reference query set, top-k each, rank column included."""
    docs, tf = _docs_tf(spark, sf_dir)
    tf.persist()
    dl = doc_lengths(tf)
    dfreq = doc_freqs(tf)
    n_docs, avgdl = corpus_scalars(dl)
    parts = []
    for qid, qtext, k in REFERENCE_QUERIES:
        terms = tokenize_py(qtext)
        r = bm25_topk_from_stats(tf, dfreq, dl, n_docs, avgdl, terms, k)
        w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
        r = r.withColumn("rank", F.row_number().over(w)).select(
            F.lit(qid).cast("long").alias("query_id"),
            "rank",
            "doc_id",
            F.round("score", 4).alias("score_r"),
        )
        parts.append(r)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _sql_bm25_queryset() -> str:
    score = duckdb_bm25_sql(
        "tf.tf", "dfreq.df", "dl.doc_len", "(SELECT n FROM stats)", "(SELECT avgdl FROM stats)"
    )
    selects = []
    for qid, qtext, k in REFERENCE_QUERIES:
        terms = sorted(set(tokenize_py(qtext)))
        if not terms:
            continue
        tlist = ", ".join(f"'{t}'" for t in terms)
        selects.append(
            f"""
(SELECT CAST({qid} AS BIGINT) AS query_id,
        CAST(row_number() OVER (ORDER BY s DESC, doc_id ASC) AS INT) AS rank,
        doc_id, round(s, 4) AS score_r
 FROM (SELECT tf.doc_id, sum({score}) AS s
       FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id)
       WHERE tf.term IN ({tlist}) GROUP BY tf.doc_id)
 ORDER BY s DESC, doc_id ASC LIMIT {k})"""
        )
    return _SQL_PRELUDE + "\n" + "\nUNION ALL\n".join(selects)


SQL_BM25_QUERYSET = _sql_bm25_queryset()


def q_prefix_search(spark, sf_dir) -> DataFrame:
    """E1 edge-ngram fallback: terms matching prefix 'sc' with their df,
    found through the ngram expansion (not startswith) on the Spark side."""
    _, tf = _docs_tf(spark, sf_dir)
    dfreq = doc_freqs(tf)
    ng = dfreq.select("term", "df", F.explode(edge_ngrams_expr("term")).alias("ng"))
    return (
        ng.filter(F.col("ng") == "sc")
        .select("term", "df")
        .orderBy(F.desc("df"), F.asc("term"))
    )


SQL_PREFIX_SEARCH = (
    _SQL_PRELUDE
    + """
SELECT term, df FROM dfreq WHERE term LIKE 'sc%' AND length(term) >= 2
ORDER BY df DESC, term ASC
"""
)


def q_posting_intersection(spark, sf_dir) -> DataFrame:
    """C4 analog (ariadna crossroads: >=2 posting lists share a node,
    /root/reference/osm/xroads.go:33-43): docs containing ALL of
    {merge, join, window}."""
    _, tf = _docs_tf(spark, sf_dir)
    terms = ["merge", "join", "window"]
    return (
        tf.filter(F.col("term").isin(terms))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("nt"))
        .filter(F.col("nt") == len(terms))
        .select("doc_id")
        .orderBy("doc_id")
    )


SQL_POSTING_INTERSECTION = (
    _SQL_PRELUDE
    + """
SELECT doc_id FROM tf WHERE term IN ('merge','join','window')
GROUP BY doc_id HAVING count(*) = 3 ORDER BY doc_id
"""
)


# ---------------------------------------------------------------------------
# Training-data pipeline operators
# ---------------------------------------------------------------------------
def q_dedup_exact(spark, sf_dir) -> DataFrame:
    """Exact dedup by content hash (scalar summary)."""
    docs = load_docs(spark, sf_dir)
    return docs.agg(
        F.count(F.lit(1)).cast("long").alias("n_total"),
        F.countDistinct("content_sha").cast("long").alias("n_distinct"),
    )


SQL_DEDUP_EXACT = """
SELECT CAST(count(*) AS BIGINT) AS n_total,
       CAST(count(DISTINCT sha256(text)) AS BIGINT) AS n_distinct
FROM documents
"""


_MINHASH_SEEDS = list(range(8))
_MINHASH_CAP = 300


def q_minhash_signatures(spark, sf_dir) -> DataFrame:
    """MinHash signatures over unigram token sets (doc_id < cap).

    Deterministic cross-engine hash family: h_i(t) = sha256(i || '|' || t),
    minimum taken lexicographically over the doc's distinct terms.
    """
    tf = _tf_capped(spark, sf_dir, _MINHASH_CAP)
    aggs = [
        F.min(F.sha2(F.concat_ws("|", F.lit(str(i)), F.col("term")), 256)).alias(f"mh{i}")
        for i in _MINHASH_SEEDS
    ]
    return tf.groupBy("doc_id").agg(*aggs).orderBy("doc_id")


SQL_MINHASH_SIGNATURES = (
    _SQL_PRELUDE
    + "SELECT doc_id, "
    + ", ".join(
        f"min(sha256('{i}' || '|' || term)) AS mh{i}" for i in _MINHASH_SEEDS
    )
    + f" FROM tf WHERE doc_id < {_MINHASH_CAP} GROUP BY doc_id ORDER BY doc_id"
)


_SHINGLE_W = 3
_SHINGLE_CAP = 200


def q_minhash_shingles(spark, sf_dir) -> DataFrame:
    """MinHash over w=3 token shingles (the canonical near-dup feature for
    text: contiguous token windows, not unigram sets). Shingles are built
    JVM-side from the analyzer's token array; hash family is the same
    portable sha256(i || '|' || shingle)."""
    docs = load_docs(spark, sf_dir)
    toks = docs.filter(F.col("doc_id") < _SHINGLE_CAP).select(
        "doc_id", tokenize_expr("content").alias("t")
    )
    n = F.size("t")
    idx = F.sequence(F.lit(0), n - _SHINGLE_W)
    sh = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at("t", (i + j + 1).cast("int")) for j in range(_SHINGLE_W)]
        ),
    )
    shingles = (
        toks.filter(n >= _SHINGLE_W)
        .select("doc_id", F.explode(sh).alias("shingle"))
        .distinct()
    )
    aggs = [
        F.min(F.sha2(F.concat_ws("|", F.lit(str(i)), F.col("shingle")), 256)).alias(f"mh{i}")
        for i in _MINHASH_SEEDS
    ]
    return shingles.groupBy("doc_id").agg(*aggs).orderBy("doc_id")


def _sql_minhash_shingles() -> str:
    mh = ", ".join(f"min(sha256('{i}' || '|' || shingle)) AS mh{i}" for i in _MINHASH_SEEDS)
    return f"""
WITH d AS (SELECT doc_id, {_TOK} AS t FROM documents WHERE doc_id < {_SHINGLE_CAP}),
sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(0, len(t) - {_SHINGLE_W} + 1),
                i -> t[i + 1] || ' ' || t[i + 2] || ' ' || t[i + 3])) AS shingle
  FROM d WHERE len(t) >= {_SHINGLE_W}
)
SELECT doc_id, {mh} FROM sh GROUP BY doc_id ORDER BY doc_id
"""


SQL_MINHASH_SHINGLES = _sql_minhash_shingles()


_JACC_CAP = 150
_JACC_T = 0.7


def q_jaccard_pairs(spark, sf_dir) -> DataFrame:
    """Exact n-gram (unigram) Jaccard near-dup pairs among doc_id < cap."""
    tf = _tf_capped(spark, sf_dir, _JACC_CAP)
    t = tf.select("doc_id", "term")
    sizes = t.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a = t.alias("a")
    b = t.alias("b")
    inter = (
        a.join(b, (F.col("a.term") == F.col("b.term")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("da"), F.col("b.doc_id").alias("db"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("da"), F.col("sz").alias("sza"))
    sb = sizes.select(F.col("doc_id").alias("db"), F.col("sz").alias("szb"))
    j = (
        inter.join(F.broadcast(sa), "da")
        .join(F.broadcast(sb), "db")
        .withColumn("jacc", F.col("inter") / (F.col("sza") + F.col("szb") - F.col("inter")))
        .filter(F.col("jacc") >= _JACC_T)
        .select("da", "db", F.round("jacc", 4).alias("jacc_r"))
        .orderBy("da", "db")
    )
    return j


_SQL_JACC_CTES = f"""
, t AS (SELECT DISTINCT doc_id, term FROM tf WHERE doc_id < {_JACC_CAP}),
sizes AS (SELECT doc_id, count(*) AS sz FROM t GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS inter
  FROM t a JOIN t b ON a.term = b.term AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)"""

SQL_JACCARD_PAIRS = (
    _SQL_PRELUDE
    + _SQL_JACC_CTES
    + f"""
SELECT da, db, round(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), 4) AS jacc_r
FROM inter JOIN sizes sa ON sa.doc_id = da JOIN sizes sb ON sb.doc_id = db
WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= {_JACC_T}
ORDER BY da, db
"""
)


_STOPWORDS = ["the", "a", "of", "and", "if", "import"]


def q_text_quality(spark, sf_dir) -> DataFrame:
    """Quality scoring: token counts, avg token length, digit/stopword ratios."""
    docs = load_docs(spark, sf_dir)
    # docs with zero tokens are absent on both sides (explode drops them)
    toks = docs.select("doc_id", F.explode(tokenize_expr("content")).alias("term"))
    return (
        toks.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.countDistinct("term").cast("long").alias("n_distinct"),
            F.round(F.avg(F.length("term")), 4).alias("avg_tok_len"),
            F.round(
                F.sum(F.when(F.col("term").rlike("^[0-9]+$"), 1).otherwise(0)) / F.count(F.lit(1)),
                4,
            ).alias("digit_ratio"),
            F.round(
                F.sum(F.when(F.col("term").isin(_STOPWORDS), 1).otherwise(0)) / F.count(F.lit(1)),
                4,
            ).alias("stop_ratio"),
        )
        .orderBy("doc_id")
    )


SQL_TEXT_QUALITY = (
    _SQL_PRELUDE
    + f"""
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(count(DISTINCT term) AS BIGINT) AS n_distinct,
       round(avg(length(term)), 4) AS avg_tok_len,
       round(sum(CASE WHEN regexp_matches(term, '^[0-9]+$') THEN 1 ELSE 0 END) * 1.0 / count(*), 4) AS digit_ratio,
       round(sum(CASE WHEN term IN ({', '.join(repr(s) for s in _STOPWORDS)}) THEN 1 ELSE 0 END) * 1.0 / count(*), 4) AS stop_ratio
FROM toks GROUP BY doc_id ORDER BY doc_id
"""
)


def q_fingerprint(spark, sf_dir) -> DataFrame:
    """Document fingerprint: sha256 over the normalized token stream."""
    docs = load_docs(spark, sf_dir)
    return docs.select(
        "doc_id",
        F.sha2(F.concat_ws(" ", tokenize_expr("content")), 256).alias("fp"),
    ).orderBy("doc_id")


def q_pii_scrub(spark, sf_dir) -> DataFrame:
    """PII scrubbing (training-data hygiene): redact emails + IPv4
    literals, count removals, hash the clean text. PII is seeded
    DETERMINISTICALLY from table columns (doc_id, source) with the
    identical concat expression in the DuckDB oracle — no external data —
    so the gate exercises real, non-zero redaction on every row."""
    from .operators.text import pii_scrub

    raw = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or admin@mail."),
            F.col("source"),
            F.lit(".org from 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".7"),
        ).alias("content"),
    )
    out = pii_scrub(raw)
    return out.select(
        "doc_id", F.sha2("clean", 256).alias("clean_sha"), "n_emails", "n_ips"
    ).orderBy("doc_id")


def _sql_pii_scrub() -> str:
    from .operators.text import PII_EMAIL_RE, PII_IPV4_RE

    return f"""
WITH seeded AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com or admin@mail.' || source
              || '.org from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7'
         AS content
  FROM documents
),
e AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(content, '{PII_EMAIL_RE}')) AS INT) AS n_emails,
         regexp_replace(content, '{PII_EMAIL_RE}', '<EMAIL>', 'g') AS no_email
  FROM seeded
),
i AS (
  SELECT doc_id, n_emails,
         CAST(len(regexp_extract_all(no_email, '{PII_IPV4_RE}')) AS INT) AS n_ips,
         regexp_replace(no_email, '{PII_IPV4_RE}', '<IP>', 'g') AS clean
  FROM e
)
SELECT doc_id, sha256(clean) AS clean_sha, n_emails, n_ips FROM i ORDER BY doc_id
"""


SQL_PII_SCRUB = _sql_pii_scrub()


_CHUNK_SIZE = 32
_CHUNK_OVERLAP = 8


def q_chunk_documents(spark, sf_dir) -> DataFrame:
    """Sliding-window token chunking at the driver gate: every chunk of
    every doc, identified by (doc_id, chunk_id), with its token count and
    content hash — the context-length preprocessing step of a training
    pipeline, chunk boundaries replayed exactly by the oracle."""
    from .corpus import load_docs
    from .operators.text import chunk_documents

    docs = load_docs(spark, sf_dir)
    out = chunk_documents(docs, chunk_size=_CHUNK_SIZE, overlap=_CHUNK_OVERLAP)
    return out.select(
        "doc_id",
        "chunk_id",
        "n_tokens",
        F.sha2("chunk_text", 256).alias("chunk_sha"),
    ).orderBy("doc_id", "chunk_id")


def _sql_chunk_documents() -> str:
    stride = _CHUNK_SIZE - _CHUNK_OVERLAP
    return f"""
WITH tl AS (SELECT doc_id, {_TOK} AS t FROM documents),
nz AS (SELECT doc_id, t, len(t) AS n FROM tl WHERE len(t) > 0),
st AS (SELECT doc_id, t, n, unnest(range(0, n, {stride})) AS start FROM nz),
c AS (
  SELECT doc_id,
         CAST(start // {stride} AS INT) AS chunk_id,
         list_slice(t, start + 1, least(start + {_CHUNK_SIZE}, n)) AS chunk
  FROM st
)
SELECT doc_id, chunk_id, CAST(len(chunk) AS INT) AS n_tokens,
       sha256(array_to_string(chunk, ' ')) AS chunk_sha
FROM c ORDER BY doc_id, chunk_id
"""


SQL_CHUNK_DOCUMENTS = _sql_chunk_documents()

_VAL_PM = 100


def q_train_val_split(spark, sf_dir) -> DataFrame:
    """Deterministic content-hash train/val split: per (split, lang)
    document counts and token mass — the corpus-mixing report a training
    pipeline derives before sampling. Bucketing is portable (first 4 sha
    nibbles mod 1000), replayed bit-identically by the oracle."""
    from .corpus import load_docs
    from .operators.text import train_val_split

    docs = load_docs(spark, sf_dir)
    out = train_val_split(docs, val_per_mille=_VAL_PM)
    return (
        out.select("split", "lang", F.size(tokenize_expr("content")).alias("nt"))
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("nt").cast("long").alias("n_tokens"),
        )
        .orderBy("split", "lang")
    )


def _sql_train_val_split() -> str:
    nib = "(strpos('0123456789abcdef', substr(sha256(text), {i}, 1)) - 1)"
    b = " + ".join(
        f"{nib.format(i=i)} * {16 ** (4 - i)}" for i in range(1, 5)
    )
    return f"""
WITH s AS (
  SELECT lang, {_TOK} AS t,
         CASE WHEN (({b}) % 1000) < {_VAL_PM} THEN 'val' ELSE 'train' END AS split
  FROM documents
)
SELECT split, lang, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(len(t)) AS BIGINT) AS n_tokens
FROM s GROUP BY split, lang ORDER BY split, lang
"""


SQL_TRAIN_VAL_SPLIT = _sql_train_val_split()


_COLL_MIN = 5


def q_collocations(spark, sf_dir) -> DataFrame:
    """Bigram collocation mining with PMI (corpus statistics for phrase
    vocabulary / tokenizer-merge candidates): adjacent analyzer-token
    pairs with count >= min, scored ln(n_pair * N / (n_w1 * n_w2)); the
    oracle replays pairs, unigram counts and the PMI formula exactly."""
    from .corpus import load_docs
    from .operators.text import collocations

    docs = load_docs(spark, sf_dir)
    out = collocations(docs, min_count=_COLL_MIN)
    return out.select(
        "w1", "w2", "n_pair", F.round("pmi", 4).alias("pmi_r")
    ).orderBy("w1", "w2")


def _sql_collocations() -> str:
    return f"""
WITH tl AS (SELECT {_TOK} AS t FROM documents),
nz AS (SELECT t, len(t) AS n FROM tl WHERE len(t) > 0),
uni AS (SELECT unnest(t) AS w FROM nz),
u AS (SELECT w, CAST(count(*) AS BIGINT) AS nw FROM uni GROUP BY w),
tot AS (SELECT CAST(count(*) AS DOUBLE) AS n_uni FROM uni),
pr AS (
  SELECT t[i] AS w1, t[i + 1] AS w2
  FROM nz, UNNEST(range(1, n)) AS r(i)
),
pc AS (
  SELECT w1, w2, CAST(count(*) AS BIGINT) AS n_pair
  FROM pr GROUP BY w1, w2 HAVING count(*) >= {_COLL_MIN}
)
SELECT pc.w1, pc.w2, pc.n_pair,
       round(ln(CAST(pc.n_pair AS DOUBLE) * (SELECT n_uni FROM tot)
                / (CAST(u1.nw AS DOUBLE) * CAST(u2.nw AS DOUBLE))), 4) AS pmi_r
FROM pc
JOIN u u1 ON u1.w = pc.w1
JOIN u u2 ON u2.w = pc.w2
ORDER BY pc.w1, pc.w2
"""


SQL_COLLOCATIONS = _sql_collocations()


_PPL_ALPHA = 0.5


def q_perplexity(spark, sf_dir) -> DataFrame:
    """Bigram-LM perplexity quality scoring (the CCNet-style filter) over
    the documents table, self-trained: per doc the adjacent-pair count
    and mean negative log-likelihood under the add-alpha-smoothed corpus
    bigram model. The oracle re-derives the LM (pair counts, null-padded
    unigram marginal, vocabulary) and replays the smoothing arithmetic."""
    from .operators.text import perplexity_scores

    docs = load_docs(spark, sf_dir)
    return perplexity_scores(docs, alpha=_PPL_ALPHA)


def q_repetition(spark, sf_dir) -> DataFrame:
    """Gopher-style repetition quality signals: per doc, the fraction of
    the token stream covered by its most frequent 2-/3-/4-gram (the Rae
    et al. boilerplate/spam filters). The oracle replays the windowed
    gram construction and the per-doc maxima over the tokenized
    documents."""
    from .operators.text import repetition_metrics

    return repetition_metrics(load_docs(spark, sf_dir))


def _sql_repetition(ns=(2, 3, 4)) -> str:
    branches = []
    for n in ns:
        gram = " || ' ' || ".join(f"t[i + {j}]" for j in range(n))
        branches.append(
            f"""  SELECT doc_id, nt, {n} AS n, {gram} AS gram
  FROM nz, UNNEST(range(1, nt - {n - 2})) AS r(i) WHERE nt >= {n}"""
        )
    union = "\n  UNION ALL\n".join(branches)
    fracs = ",\n  ".join(
        f"round(COALESCE(max(CASE WHEN m.n = {n} THEN m.mx * {n} END), 0)"
        f" / CAST(nz.nt AS DOUBLE), 4) AS top{n}_frac"
        for n in ns
    )
    return f"""
WITH tl AS (SELECT doc_id, {_TOK} AS t FROM documents),
nz AS (SELECT doc_id, t, len(t) AS nt FROM tl WHERE len(t) > 0),
g AS (
{union}
),
c AS (SELECT doc_id, nt, n, gram, count(*) AS c FROM g GROUP BY doc_id, nt, n, gram),
m AS (SELECT doc_id, nt, n, max(c) AS mx FROM c GROUP BY doc_id, nt, n)
SELECT nz.doc_id, CAST(nz.nt AS BIGINT) AS n_tokens,
  {fracs}
FROM nz LEFT JOIN m ON m.doc_id = nz.doc_id
GROUP BY nz.doc_id, nz.nt
"""


SQL_REPETITION = _sql_repetition()


SQL_PERPLEXITY = f"""
WITH tl AS (SELECT doc_id, {_TOK} AS t FROM documents),
nz AS (SELECT doc_id, t, len(t) AS n FROM tl WHERE len(t) > 0),
st AS (
  SELECT t[i] AS w, CASE WHEN i < n THEN t[i + 1] END AS nx
  FROM nz, UNNEST(range(1, n + 1)) AS r(i)
),
c2 AS (SELECT w, nx, CAST(count(*) AS BIGINT) AS c2 FROM st WHERE nx IS NOT NULL GROUP BY w, nx),
c1 AS (SELECT w, CAST(count(*) AS BIGINT) AS c1 FROM st GROUP BY w),
vv AS (SELECT CAST(count(DISTINCT w) AS DOUBLE) AS v FROM st),
pr AS (
  SELECT doc_id, t[i] AS w, t[i + 1] AS nx
  FROM nz, UNNEST(range(1, n)) AS r(i)
),
sc AS (
  SELECT pr.doc_id,
         ln((COALESCE(c1.c1, 0) + {_PPL_ALPHA} * (SELECT v FROM vv))
            / (COALESCE(c2.c2, 0) + {_PPL_ALPHA})) AS nll
  FROM pr
  LEFT JOIN c2 ON pr.w = c2.w AND pr.nx = c2.nx
  LEFT JOIN c1 ON pr.w = c1.w
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams, round(avg(nll), 4) AS nll_r
FROM sc GROUP BY doc_id
"""


def q_training_pipeline(spark, sf_dir) -> DataFrame:
    """The COMPOSED corpus-preparation pipeline as one gate entry:
    keep-first exact dedup -> PII scrub -> token chunking -> quality gate
    -> content-hash train/val split (ariadna_spark.pipeline), verified
    end-to-end: the oracle replays every stage and hash-matches every
    chunk of every surviving doc with its split side."""
    from .corpus import load_docs
    from .pipeline import prepare_training_set

    docs = load_docs(spark, sf_dir)
    out = prepare_training_set(docs, chunk_size=_CHUNK_SIZE, overlap=_CHUNK_OVERLAP, min_tokens=4)
    return out.select(
        "doc_id",
        "chunk_id",
        "split",
        "n_tokens",
        F.sha2("chunk_text", 256).alias("chunk_sha"),
    ).orderBy("doc_id", "chunk_id")


def _sql_training_pipeline() -> str:
    from .operators.text import PII_EMAIL_RE, PII_IPV4_RE

    stride = _CHUNK_SIZE - _CHUNK_OVERLAP
    nib = "(strpos('0123456789abcdef', substr(sha256(text), {i}, 1)) - 1)"
    b = " + ".join(f"{nib.format(i=i)} * {16 ** (4 - i)}" for i in range(1, 5))
    from .analyze import duckdb_tokenize_sql

    tok_clean = duckdb_tokenize_sql("clean")
    return f"""
WITH kept AS (
  SELECT doc_id, text,
         CASE WHEN (({b}) % 1000) < {_VAL_PM} THEN 'val' ELSE 'train' END AS split
  FROM (
    SELECT doc_id, text,
           row_number() OVER (PARTITION BY sha256(text) ORDER BY doc_id) AS rn
    FROM documents
  ) WHERE rn = 1
),
scrubbed AS (
  SELECT doc_id, split,
         regexp_replace(
           regexp_replace(text, '{PII_EMAIL_RE}', '<EMAIL>', 'g'),
           '{PII_IPV4_RE}', '<IP>', 'g') AS clean
  FROM kept
),
tl AS (SELECT doc_id, split, {tok_clean} AS t FROM scrubbed),
nz AS (SELECT doc_id, split, t, len(t) AS n FROM tl WHERE len(t) > 0),
st AS (SELECT doc_id, split, t, n, unnest(range(0, n, {stride})) AS start FROM nz),
c AS (
  SELECT doc_id, split,
         CAST(start // {stride} AS INT) AS chunk_id,
         list_slice(t, start + 1, least(start + {_CHUNK_SIZE}, n)) AS chunk
  FROM st
)
SELECT doc_id, chunk_id, split, CAST(len(chunk) AS INT) AS n_tokens,
       sha256(array_to_string(chunk, ' ')) AS chunk_sha
FROM c WHERE len(chunk) >= 4 ORDER BY doc_id, chunk_id
"""


SQL_TRAINING_PIPELINE = _sql_training_pipeline()

_STRAT_N = 40


def q_stratified_take(spark, sf_dir) -> DataFrame:
    """Deterministic per-language quota (domain mixing): keep the
    hash-first _STRAT_N docs per lang — reproducible across partitionings
    and ingestion order (no random()); the oracle replays the identical
    rank with a window over sha256."""
    from .corpus import load_docs
    from .operators.text import stratified_take

    docs = load_docs(spark, sf_dir)
    out = stratified_take(docs, group_col="lang", n_per_group=_STRAT_N)
    return out.select("lang", "doc_id").orderBy("lang", "doc_id")


SQL_STRATIFIED_TAKE = f"""
SELECT lang, doc_id FROM (
  SELECT lang, doc_id,
         row_number() OVER (PARTITION BY lang ORDER BY sha256(text), doc_id) AS rk
  FROM documents
) WHERE rk <= {_STRAT_N} ORDER BY lang, doc_id
"""

_GREP_PATTERN = r"scan[a-z]*"


def q_regex_search(spark, sf_dir) -> DataFrame:
    """Grep-style regex search over the corpus (code-search staple),
    INDEX-ACCELERATED (VERDICT r3 #1): the pattern's required literal
    ('scan') expands against the index vocabulary and candidates are
    semi-joined through the posting lists before the regexp runs — the
    Zoekt trick over the engine's own index; at 100 TB the content scan
    touches the pruned candidate set, not the corpus. Since r5 a
    SELECTIVITY GATE (VERDICT r4 #2) routes this deliberately Zipf-head
    gate pattern to the flat scan (its candidate set ~= the corpus, so a
    prefilter can't pay); selective patterns keep the semi-join — both
    shapes plan-asserted in test_plans. Result rows are identical either
    way, so the same DuckDB oracle (which has no index and greps
    everything) stays hash-green."""
    from .corpus import load_docs
    from .operators.text import regex_search_indexed

    docs = load_docs(spark, sf_dir)
    reader = _wand_gate_reader(spark, sf_dir)
    out = regex_search_indexed(docs, _GREP_PATTERN, reader)
    return out.orderBy("doc_id")


SQL_REGEX_SEARCH = f"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{_GREP_PATTERN}')) AS INT) AS n_matches,
       regexp_extract(text, '{_GREP_PATTERN}', 0) AS first_match
FROM documents
WHERE len(regexp_extract_all(text, '{_GREP_PATTERN}')) > 0
ORDER BY doc_id
"""


SQL_FINGERPRINT = f"""
SELECT doc_id, sha256(array_to_string({_TOK}, ' ')) AS fp
FROM documents ORDER BY doc_id
"""

# Benchmark decontamination (VERDICT r3 #2). The "benchmark" table is
# seeded deterministically FROM the corpus itself: every 17th doc donates a
# 24-token window (tokens 11..34) as an eval prompt, so contamination
# provably exists and both engines can rebuild the identical fixture.
_DECON_N = 8
_DECON_SLICE = (11, 24)  # 1-based start, length
_DECON_MOD = 17


def _decon_bench(spark, sf_dir) -> DataFrame:
    docs = load_docs(spark, sf_dir)
    t = tokenize_expr("content")
    lo, ln = _DECON_SLICE
    return (
        docs.filter(F.col("doc_id") % _DECON_MOD == 3)
        .select(F.concat_ws(" ", F.slice(t, lo, ln)).alias("text"), F.size(t).alias("nt"))
        .filter(F.col("nt") >= lo + ln - 1)
        .select("text")
    )


def q_decontaminate(spark, sf_dir) -> DataFrame:
    """Benchmark decontamination: corpus docs sharing any 8-token analyzer
    n-gram with the seeded eval-benchmark fixture, with per-doc overlap
    counts and an audit sample n-gram. The benchmark n-gram set is
    broadcast (eval sets are tiny next to a pre-training corpus), so the
    corpus side never shuffles its n-grams."""
    from .corpus import load_docs as _ld
    from .operators.text import decontaminate

    docs = _ld(spark, sf_dir)
    out = decontaminate(docs, _decon_bench(spark, sf_dir), n=_DECON_N)
    return out.orderBy("doc_id")


def _sql_decontaminate() -> str:
    lo, ln = _DECON_SLICE
    return f"""
WITH d AS (SELECT doc_id, {_TOK} AS t FROM documents),
bench AS (
  SELECT array_to_string(t[{lo}:{lo + ln - 1}], ' ') AS text
  FROM d WHERE doc_id % {_DECON_MOD} = 3 AND len(t) >= {lo + ln - 1}
),
bt AS (SELECT {duckdb_tokenize_sql("text")} AS t FROM bench),
bg AS (
  SELECT DISTINCT unnest(list_transform(range(0, len(t) - {_DECON_N} + 1),
         i -> array_to_string(t[i + 1:i + {_DECON_N}], ' '))) AS ngram
  FROM bt WHERE len(t) >= {_DECON_N}
),
dg AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(0, len(t) - {_DECON_N} + 1),
         i -> array_to_string(t[i + 1:i + {_DECON_N}], ' '))) AS ngram
  FROM d WHERE len(t) >= {_DECON_N}
)
SELECT doc_id, CAST(count(*) AS INT) AS n_overlap, min(ngram) AS sample_ngram
FROM dg JOIN bg USING (ngram) GROUP BY doc_id ORDER BY doc_id
"""


SQL_DECONTAMINATE = _sql_decontaminate()


_DUPSPAN_N = 6


def q_duplicate_spans(spark, sf_dir) -> DataFrame:
    """Cross-document duplicated-span detection (exact-substring dedup,
    Lee et al. 2022): per-doc count and fraction of n-token analyzer
    windows occurring verbatim in >= 2 distinct documents. The oracle
    replays the window construction with DuckDB list ops and the
    distinct-doc HAVING — an off-by-one in the window sweep, a
    within-doc-repeat leak into the distinct-doc count, or a fraction
    denominator drift all break the hash."""
    from .corpus import load_docs as _ld
    from .operators.text import duplicate_spans

    docs = _ld(spark, sf_dir)
    return duplicate_spans(docs, n=_DUPSPAN_N).orderBy("doc_id")


def _sql_duplicate_spans() -> str:
    n = _DUPSPAN_N
    return f"""
WITH d AS (SELECT doc_id, {_TOK} AS t FROM documents),
el AS (SELECT doc_id, len(t) AS m, t FROM d WHERE len(t) >= {n}),
w AS (
  SELECT doc_id,
         unnest(list_transform(range(0, m - {n} + 1),
         i -> array_to_string(t[i + 1:i + {n}], ' '))) AS ngram
  FROM el
),
dup AS (SELECT ngram FROM w GROUP BY ngram HAVING count(DISTINCT doc_id) >= 2),
per AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS dup_windows
  FROM w WHERE ngram IN (SELECT ngram FROM dup) GROUP BY doc_id
)
SELECT el.doc_id, CAST(el.m - {n} + 1 AS BIGINT) AS n_windows,
       coalesce(per.dup_windows, 0) AS dup_windows,
       round(CAST(coalesce(per.dup_windows, 0) AS DOUBLE) / (el.m - {n} + 1), 4)
         AS dup_frac
FROM el LEFT JOIN per USING (doc_id) ORDER BY el.doc_id
"""


SQL_DUPLICATE_SPANS = _sql_duplicate_spans()


def q_near_dup_clusters(spark, sf_dir) -> DataFrame:
    """Connected components over the verified Jaccard near-dup pair graph
    (VERDICT r3 #4): (doc_id, cluster_id, cluster_size) with cluster_id =
    min reachable doc_id, via iterative min-label propagation (one shuffle
    per round, O(diameter) rounds). The oracle replays it with a recursive
    CTE over the identical pair set — transitive closure, min per node."""
    from .operators.dedup import cluster_ids

    pairs = q_jaccard_pairs(spark, sf_dir).select("da", "db")
    lab = cluster_ids(pairs)
    size = lab.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("int").alias("cluster_size")
    )
    return (
        lab.join(size, "cluster_id")
        .select("doc_id", "cluster_id", "cluster_size")
        .orderBy("doc_id")
    )


SQL_NEAR_DUP_CLUSTERS = (
    _SQL_PRELUDE.replace("WITH ", "WITH RECURSIVE ", 1)
    + _SQL_JACC_CTES
    + f""",
pairs AS (
  SELECT da, db
  FROM inter JOIN sizes sa ON sa.doc_id = da JOIN sizes sb ON sb.doc_id = db
  WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= {_JACC_T}
),
edges AS (
  SELECT da AS src, db AS dst FROM pairs
  UNION SELECT db AS src, da AS dst FROM pairs
),
reach AS (
  SELECT DISTINCT src AS id, src AS r FROM edges
  UNION
  SELECT e.dst AS id, reach.r FROM edges e JOIN reach ON reach.id = e.src
),
lab AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id),
cs AS (
  SELECT cluster_id, CAST(count(*) AS INT) AS cluster_size
  FROM lab GROUP BY cluster_id
)
SELECT doc_id, cluster_id, cluster_size
FROM lab JOIN cs USING (cluster_id) ORDER BY doc_id
"""
)


def q_lang_profile(spark, sf_dir) -> DataFrame:
    """Per-language corpus profile (language-ID downstream consumer shape)."""
    docs = load_docs(spark, sf_dir)
    return (
        docs.select("lang", F.size(tokenize_expr("content")).alias("nt"), F.length("content").alias("nc"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("nt").cast("long").alias("total_tokens"),
            F.round(F.avg("nc"), 4).alias("avg_chars"),
        )
        .orderBy("lang")
    )


SQL_LANG_PROFILE = f"""
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(len({_TOK})) AS BIGINT) AS total_tokens,
       round(avg(length(text)), 4) AS avg_chars
FROM documents GROUP BY lang ORDER BY lang
"""


_EMB_K = 20


def q_embedding_topk(spark, sf_dir) -> DataFrame:
    """Brute-force cosine top-k against the vec_id=0 embedding (similarity
    search baseline; JVM-side via zip_with/aggregate, no UDF)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("embedding").cast("array<double>").alias("v"),
    )
    q = emb.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    dot = F.aggregate(F.zip_with("v", "qv", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)
    nv = F.sqrt(F.aggregate(F.transform("v", lambda x: x * x), F.lit(0.0), lambda a, x: a + x))
    nq = F.sqrt(F.aggregate(F.transform("qv", lambda x: x * x), F.lit(0.0), lambda a, x: a + x))
    return (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != 0)
        .select("vec_id", (dot / (nv * nq)).alias("cos"))
        .orderBy(F.desc("cos"), F.asc("vec_id"))
        .limit(_EMB_K)
        .select("vec_id", F.round("cos", 4).alias("cos_r"))
    )


SQL_EMBEDDING_TOPK = f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
s AS (
  SELECT vec_id,
         list_dot_product(CAST(embedding AS DOUBLE[]), CAST(qv AS DOUBLE[]))
         / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))
            * sqrt(list_dot_product(CAST(qv AS DOUBLE[]), CAST(qv AS DOUBLE[])))) AS cos
  FROM embeddings CROSS JOIN q WHERE vec_id <> 0
)
SELECT vec_id, round(cos, 4) AS cos_r FROM s ORDER BY cos DESC, vec_id ASC LIMIT {_EMB_K}
"""


_ANNB_K = 5
_ANNB_QIDS = (0, 5, 11)
_ANNB_CENTROIDS = 8


def q_embedding_ann_batch(spark, sf_dir) -> DataFrame:
    """Batch ANN at pipeline shape: a SET of query vectors through the IVF
    index in ONE Spark job (ivf_topk_many — probe assignment via broadcast
    centroid join, candidates via one equi-join, per-qid top-k window).
    Run with n_probe == n_centroids the result is the exact brute-force
    top-k per query regardless of the data-fitted quantizer, so the DuckDB
    oracle is a plain per-query cosine rank; the PRUNED-probe behavior is
    pinned in pytest (batch == per-query ivf_topk for every query)."""
    from .operators.similarity import ivf_index, ivf_topk_many

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("embedding").cast("array<double>").alias("embedding"),
    )
    indexed, centroids = ivf_index(emb, n_centroids=_ANNB_CENTROIDS)
    queries = emb.filter(F.col("vec_id").isin(list(_ANNB_QIDS))).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    out = ivf_topk_many(
        indexed, centroids, queries, k=_ANNB_K, n_probe=_ANNB_CENTROIDS
    )
    return out.select(
        "qid", "rank", "vec_id", F.round("cos", 4).alias("cos_r")
    ).orderBy("qid", "rank")


SQL_EMBEDDING_ANN_BATCH = f"""
WITH qs AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
            WHERE vec_id IN {_ANNB_QIDS}),
s AS (
  SELECT qs.qid, e.vec_id,
         list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(qs.qv AS DOUBLE[]))
         / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
            * sqrt(list_dot_product(CAST(qs.qv AS DOUBLE[]), CAST(qs.qv AS DOUBLE[])))) AS cos
  FROM qs CROSS JOIN embeddings e
),
r AS (SELECT qid, vec_id, cos,
             CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id ASC) AS INT) AS rank
      FROM s)
SELECT qid, rank, vec_id, round(cos, 4) AS cos_r
FROM r WHERE rank <= {_ANNB_K} ORDER BY qid, rank
"""


def q_embedding_ann_incremental(spark, sf_dir) -> DataFrame:
    """Batch ANN across a TWO-BUILD incremental IVF store with overwrites
    (VERDICT r3 #3): build b0 indexes every vector but holds NEGATED
    (stale) versions of vec_id % 5 == 0; an append re-embeds exactly those
    ids with the true vectors, tombstoning the stale versions. Probe-all
    batch top-k over the merged store must equal brute force over the
    CLEAN embeddings table — if merge-on-read failed to mask a single
    overwritten version, its stale row (or its duplicate vec_id) would
    surface in some query's top-k and break the hash."""
    from .operators.similarity import ivf_store_read, ivf_store_write, ivf_topk_many, vector_store_append

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("embedding").cast("array<double>").alias("embedding"),
    )

    def make() -> str:
        store = _gate_dir("ivf_store_")
        stale = F.when(
            F.col("vec_id") % 5 == 0,
            F.transform("embedding", lambda x: -x),
        ).otherwise(F.col("embedding"))
        b0 = emb.select("vec_id", stale.alias("embedding"))
        ivf_store_write(b0, store, build_id="b000000", n_centroids=_ANNB_CENTROIDS)
        vector_store_append(
            emb.filter(F.col("vec_id") % 5 == 0), store, build_id="b000001"
        )
        return store

    merged, centroids = ivf_store_read(spark, _gate_memo("ivf_store", sf_dir, make))
    queries = emb.filter(F.col("vec_id").isin(list(_ANNB_QIDS))).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    out = ivf_topk_many(
        merged, centroids, queries, k=_ANNB_K, n_probe=_ANNB_CENTROIDS
    )
    return out.select(
        "qid", "rank", "vec_id", F.round("cos", 4).alias("cos_r")
    ).orderBy("qid", "rank")


_LSH_CAP = 300
_LSH_BANDS = 4
_LSH_T = 0.7


def q_near_dup_lsh(spark, sf_dir) -> DataFrame:
    """MinHash -> banded LSH candidates -> exact Jaccard verify (the full
    near-dup pipeline) on doc_id < cap."""
    from .operators.dedup import jaccard_verify, lsh_candidate_pairs, minhash_signatures

    t = _tf_capped(spark, sf_dir, _LSH_CAP)
    cand = lsh_candidate_pairs(minhash_signatures(t), n_hashes=8, n_bands=_LSH_BANDS)
    out = jaccard_verify(t, cand, threshold=_LSH_T)
    return out.select("da", "db", F.round("jacc", 4).alias("jacc_r")).orderBy("da", "db")


def _sql_near_dup_lsh() -> str:
    rows_per_band = 8 // _LSH_BANDS
    mh = ", ".join(f"min(sha256('{i}' || '|' || term)) AS mh{i}" for i in range(8))
    band_selects = []
    for b in range(_LSH_BANDS):
        cols = " || '|' || ".join(f"mh{i}" for i in range(b * rows_per_band, (b + 1) * rows_per_band))
        band_selects.append(f"SELECT doc_id, {b} AS band, sha256({cols}) AS bhash FROM sigs")
    return (
        _SQL_PRELUDE
        + f"""
, t AS (SELECT DISTINCT doc_id, term FROM tf WHERE doc_id < {_LSH_CAP}),
sigs AS (SELECT doc_id, {mh} FROM t GROUP BY doc_id),
bands AS ({' UNION ALL '.join(band_selects)}),
cand AS (
  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
  FROM bands a JOIN bands b ON a.band = b.band AND a.bhash = b.bhash AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS sz FROM t GROUP BY doc_id),
inter AS (
  SELECT da, db, count(*) AS inter
  FROM cand JOIN t ta ON ta.doc_id = da JOIN t tb ON tb.doc_id = db AND tb.term = ta.term
  GROUP BY da, db
)
SELECT da, db, round(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), 4) AS jacc_r
FROM inter JOIN sizes sa ON sa.doc_id = da JOIN sizes sb ON sb.doc_id = db
WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= {_LSH_T}
ORDER BY da, db
"""
    )


SQL_NEAR_DUP_LSH = _sql_near_dup_lsh()


def q_dedup_keep_first(spark, sf_dir) -> DataFrame:
    """Exact dedup keeping smallest doc_id per identical content."""
    from .operators.dedup import keep_first_dedup

    docs = load_docs(spark, sf_dir)
    return keep_first_dedup(docs).select("doc_id").orderBy("doc_id")


SQL_DEDUP_KEEP_FIRST = """
SELECT CAST(min(doc_id) AS BIGINT) AS doc_id FROM documents
GROUP BY sha256(text) ORDER BY doc_id
"""


def q_lang_id(spark, sf_dir) -> DataFrame:
    """Stopword-profile language ID over the documents corpus."""
    from .operators.text import language_id

    docs = load_docs(spark, sf_dir)
    return language_id(docs).orderBy("doc_id")


def _sql_lang_id() -> str:
    from .operators.text import LANG_MARKERS

    per_lang = []
    for lang, markers in sorted(LANG_MARKERS.items()):
        lst = ", ".join(f"'{m}'" for m in markers)
        per_lang.append(
            f"SELECT doc_id, '{lang}' AS l, "
            f"len(list_filter(toks, x -> x IN ({lst}))) * 1.0 / greatest(len(toks), 1) AS s "
            f"FROM d"
        )
    return f"""
WITH d AS (SELECT doc_id, {_TOK} AS toks FROM documents),
scores AS ({' UNION ALL '.join(per_lang)}),
ranked AS (
  SELECT doc_id, l, s, row_number() OVER (PARTITION BY doc_id ORDER BY s DESC, l DESC) AS rn
  FROM scores
)
SELECT doc_id, l AS lang_pred, round(s, 4) AS lang_score
FROM ranked WHERE rn = 1 ORDER BY doc_id
"""


SQL_LANG_ID = _sql_lang_id()


def q_token_counts(spark, sf_dir) -> DataFrame:
    from .operators.text import token_counts

    docs = load_docs(spark, sf_dir)
    return token_counts(docs).orderBy("doc_id")


SQL_TOKEN_COUNTS = f"""
SELECT doc_id,
       CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')) AS INT) AS n_ws_tokens,
       CAST(len({_TOK}) AS INT) AS n_code_tokens,
       CAST(ceil(length(text) / 4.0) AS BIGINT) AS n_bpe_est
FROM documents ORDER BY doc_id
"""


def q_quality_metrics(spark, sf_dir) -> DataFrame:
    from .operators.text import quality_metrics

    docs = load_docs(spark, sf_dir)
    return quality_metrics(docs).orderBy("doc_id")


def _sql_quality_metrics() -> str:
    from .operators.text import STOPWORDS

    stop = ", ".join(f"'{s}'" for s in STOPWORDS)
    return f"""
WITH d AS (SELECT doc_id, text AS c, {_TOK} AS toks FROM documents),
n AS (SELECT doc_id, c, toks, greatest(len(toks), 1) AS nt FROM d)
SELECT doc_id,
       CAST(len(toks) AS INT) AS n_tokens,
       CAST(len(list_distinct(toks)) AS INT) AS n_distinct,
       round(list_sum(list_transform(toks, t -> length(t))) * 1.0 / nt, 4) AS avg_tok_len,
       round(len(list_filter(toks, t -> regexp_matches(t, '^[0-9]+$'))) * 1.0 / nt, 4) AS digit_ratio,
       round(len(list_filter(toks, t -> t IN ({stop}))) * 1.0 / nt, 4) AS stop_ratio,
       round(len(list_distinct(toks)) * 1.0 / nt, 4) AS uniq_ratio,
       round((length(c) - length(regexp_replace(c, '[^a-zA-Z0-9\\s]', '', 'g'))) * 1.0 / greatest(length(c), 1), 4) AS punct_density
FROM n ORDER BY doc_id
"""


SQL_QUALITY_METRICS = _sql_quality_metrics()


_WAND_QUERY = "table scan filter group"
_WAND_K = 10


def _wand_gate_reader(spark, sf_dir):
    """A reader over the shared per-sf gate base store."""
    from .operators.wand import IndexReader

    return IndexReader(spark, _gate_base(spark, sf_dir))


def q_wand_topk(spark, sf_dir) -> DataFrame:
    """THE indexed path under the correctness gate: full segment build
    (compressed postings + manifest) then block-max WAND top-k; the oracle
    is the brute-force BM25 SQL — rank AND score identity end-to-end."""
    reader = _wand_gate_reader(spark, sf_dir)
    out = reader.topk(_WAND_QUERY, _WAND_K)
    return out.select("doc_id", F.round("score", 4).alias("score_r"))


SQL_WAND_TOPK = _bm25_sql(tokenize_py(_WAND_QUERY), _WAND_K)


def q_search_after(spark, sf_dir) -> DataFrame:
    """E5 deep pagination (the delegated ES search surface's search_after;
    /root/reference/elastic/elastic.go search passthrough): fetch page 1
    through the pruned WAND path, then page 2 via the (score, doc_id)
    cursor — NOT a from+size over-fetch. The cursor cut runs inside the
    kernel, so page 2 is itself a block-max-pruned top-k job. Oracle:
    brute-force BM25 with OFFSET k — rank AND score identity for the
    second page end-to-end."""
    reader = _wand_gate_reader(spark, sf_dir)
    p1 = reader.topk(_WAND_QUERY, _WAND_K).collect()  # O(k) rows
    last = p1[-1]
    out = reader.topk(_WAND_QUERY, _WAND_K, after=(last["score"], last["doc_id"]))
    return out.select("doc_id", F.round("score", 4).alias("score_r"))


SQL_SEARCH_AFTER = _bm25_sql(tokenize_py(_WAND_QUERY), _WAND_K).replace(
    f"LIMIT {_WAND_K}", f"LIMIT {_WAND_K} OFFSET {_WAND_K}"
)


_FILT_LANG = "fr"


def q_filtered_bm25(spark, sf_dir) -> DataFrame:
    """E5 filter context (the ES bool query's non-scoring `filter` clause;
    /root/reference/elastic/elastic.go search passthrough): BM25 top-k
    restricted to docs whose docmap row passes `lang = 'fr'`. Corpus
    statistics (N, avgdl, df) stay GLOBAL — a filter never changes
    scoring, exactly the ES semantics — so the oracle is the full-corpus
    brute-force BM25 with a WHERE on the documents table."""
    reader = _wand_gate_reader(spark, sf_dir)
    out = reader.filtered_topk(_WAND_QUERY, F.col("lang") == _FILT_LANG, _WAND_K)
    return out.select("doc_id", F.round("score", 4).alias("score_r"))


SQL_FILTERED_BM25 = _bm25_sql(tokenize_py(_WAND_QUERY), _WAND_K).replace(
    "FROM scored ORDER BY",
    f"FROM scored WHERE doc_id IN (SELECT doc_id FROM documents WHERE lang = '{_FILT_LANG}')\nORDER BY",
)


_BOOL_MUST = "table scan"
_BOOL_SHOULD = "filter group merge"
_BOOL_NOT = "window"
_BOOL_MSM = 1


def q_bool_topk(spark, sf_dir) -> DataFrame:
    """E5 composed bool query (ES must/should/must_not +
    minimum_should_match; /root/reference/elastic/elastic.go search
    passthrough): docs containing every must token, >=1 should token and
    no must_not token, BM25-scored over must+should with GLOBAL stats.
    One pruned block read + one rid shuffle + one Arrow kernel pass; the
    kernel's conjunctive stride rule skips strides missing any must
    term's blocks."""
    reader = _wand_gate_reader(spark, sf_dir)
    out = reader.bool_topk(
        _BOOL_MUST, _BOOL_SHOULD, _BOOL_NOT, msm=_BOOL_MSM, k=_WAND_K
    )
    return out.select("doc_id", F.round("score", 4).alias("score_r"))


def _sql_bool_topk(extra_where: str = "") -> str:
    m = sorted(set(tokenize_py(_BOOL_MUST)))
    s = sorted(set(tokenize_py(_BOOL_SHOULD)))
    n = sorted(set(tokenize_py(_BOOL_NOT)))
    score = duckdb_bm25_sql(
        "tf.tf", "dfreq.df", "dl.doc_len", "(SELECT n FROM stats)", "(SELECT avgdl FROM stats)"
    )
    q = lambda ts: ", ".join(f"'{t}'" for t in ts)  # noqa: E731
    return (
        _SQL_PRELUDE
        + f"""
, scored AS (
  SELECT tf.doc_id,
         sum(CASE WHEN tf.term IN ({q(m + s)}) THEN {score} ELSE 0 END) AS s,
         count(DISTINCT CASE WHEN tf.term IN ({q(m)}) THEN tf.term END) AS n_must,
         count(DISTINCT CASE WHEN tf.term IN ({q(s)}) THEN tf.term END) AS n_should,
         max(CASE WHEN tf.term IN ({q(n)}) THEN 1 ELSE 0 END) AS hit_not
  FROM tf
  JOIN dfreq USING (term)
  JOIN dl USING (doc_id)
  WHERE tf.term IN ({q(m + s + n)})
  GROUP BY tf.doc_id
)
SELECT doc_id, round(s, 4) AS score_r
FROM scored
WHERE n_must = {len(m)} AND n_should >= {_BOOL_MSM} AND hit_not = 0{extra_where}
ORDER BY s DESC, doc_id ASC LIMIT {_WAND_K}
"""
    )


SQL_BOOL_TOPK = _sql_bool_topk()


# The ES `_search` request-body dialect the reference actually speaks
# (/root/reference/elastic/elastic.go passes bodies through to ES 7.x):
# one composed body exercising the compiler's bool routing — must +
# should + must_not + minimum_should_match in scoring context, term +
# range clauses in non-scoring filter context, explicit size.
_DSL_BODY = {
    "query": {
        "bool": {
            "must": [{"match": {"content": _BOOL_MUST}}],
            "should": [{"match": {"content": _BOOL_SHOULD}}],
            "must_not": [{"match": {"content": _BOOL_NOT}}],
            "minimum_should_match": _BOOL_MSM,
            "filter": [
                {"term": {"lang": _FILT_LANG}},
                {"range": {"doc_len": {"gte": 30}}},
            ],
        }
    },
    "size": _WAND_K,
}


def q_es_search_dsl(spark, sf_dir) -> DataFrame:
    """The ES `_search` request-body compiler end-to-end (the dialect the
    reference delegates verbatim; /root/reference/elastic/elastic.go
    search passthrough, /root/reference/osm/osm.go:179-186 HTTP routing):
    compile_search turns one composed JSON body — bool must/should/
    must_not + minimum_should_match with term- and range-filter clauses —
    into the engine's pruned bool_topk plan. Filter context is
    non-scoring and stats stay GLOBAL, exactly ES semantics; the oracle
    replays the same body as brute-force SQL with the filters as WHERE
    predicates over the documents/dl views."""
    from .query_dsl import compile_search

    reader = _wand_gate_reader(spark, sf_dir)
    out = compile_search(reader, _DSL_BODY)
    return out.select("doc_id", F.round("score", 4).alias("score_r"))


SQL_ES_SEARCH_DSL = _sql_bool_topk(
    f"""
  AND doc_id IN (SELECT doc_id FROM documents WHERE lang = '{_FILT_LANG}')
  AND doc_id IN (SELECT doc_id FROM dl WHERE doc_len >= 30)"""
)


_PREFIX_Q = "sc"


def q_prefix_topk(spark, sf_dir) -> DataFrame:
    """E1 prefix fallback end-to-end: edge-ngram expansion through the
    segment index, BM25 OR-scored; oracle expands via LIKE."""
    reader = _wand_gate_reader(spark, sf_dir)
    out = reader.prefix_topk(_PREFIX_Q, _WAND_K)
    return out.select("doc_id", F.round("score", 4).alias("score_r"))


def _sql_prefix_topk() -> str:
    score = duckdb_bm25_sql(
        "tf.tf", "dfreq.df", "dl.doc_len", "(SELECT n FROM stats)", "(SELECT avgdl FROM stats)"
    )
    return (
        _SQL_PRELUDE
        + f"""
, matched AS (
  SELECT term FROM dfreq WHERE term LIKE '{_PREFIX_Q}%'
  ORDER BY df DESC, term ASC LIMIT 256
),
scored AS (
  SELECT tf.doc_id, sum({score}) AS s
  FROM tf
  JOIN dfreq USING (term)
  JOIN dl USING (doc_id)
  WHERE tf.term IN (SELECT term FROM matched)
  GROUP BY tf.doc_id
)
SELECT doc_id, round(s, 4) AS score_r
FROM scored ORDER BY s DESC, doc_id ASC LIMIT {_WAND_K}
"""
    )


SQL_PREFIX_TOPK = _sql_prefix_topk()


_FUZZY_Q = "mrege vectr"  # typo'd "merge vector"
_FUZZY_DIST = 2
_FUZZY_PREFIX = 1
_FUZZY_MAX_TERMS = 64


def q_fuzzy_topk(spark, sf_dir) -> DataFrame:
    """E5 typo tolerance (the delegated ES match surface accepts
    `fuzziness`; /root/reference/elastic/elastic.go search passthrough):
    each query token expands to index-vocabulary terms within Levenshtein
    distance <= 2 sharing its first character (ES prefix_length), then the
    union scores as a disjunctive BM25 query through block-max WAND. The
    oracle replays the expansion with DuckDB's levenshtein() over the
    corpus-derived vocabulary and brute-force-scores the same BM25."""
    reader = _wand_gate_reader(spark, sf_dir)
    out = reader.fuzzy_topk(
        _FUZZY_Q,
        _WAND_K,
        max_dist=_FUZZY_DIST,
        prefix_len=_FUZZY_PREFIX,
        max_terms=_FUZZY_MAX_TERMS,
    )
    return out.select("doc_id", F.round("score", 4).alias("score_r"))


def _sql_fuzzy_topk() -> str:
    score = duckdb_bm25_sql(
        "tf.tf", "dfreq.df", "dl.doc_len", "(SELECT n FROM stats)", "(SELECT avgdl FROM stats)"
    )
    per_tok = []
    for t in sorted(set(tokenize_py(_FUZZY_Q))):
        per_tok.append(
            f"""(SELECT term FROM (
      SELECT term, levenshtein(term, '{t}') AS d FROM dfreq
      WHERE term LIKE '{t[:_FUZZY_PREFIX]}%'
        AND abs(length(term) - {len(t)}) <= {_FUZZY_DIST}
    ) WHERE d <= {_FUZZY_DIST}
    ORDER BY d ASC, term ASC LIMIT {_FUZZY_MAX_TERMS})"""
        )
    union = "\n  UNION\n  ".join(per_tok)
    return (
        _SQL_PRELUDE
        + f"""
, fz AS (
  {union}
),
scored AS (
  SELECT tf.doc_id, sum({score}) AS s
  FROM tf
  JOIN dfreq USING (term)
  JOIN dl USING (doc_id)
  WHERE tf.term IN (SELECT term FROM fz)
  GROUP BY tf.doc_id
)
SELECT doc_id, round(s, 4) AS score_r
FROM scored ORDER BY s DESC, doc_id ASC LIMIT {_WAND_K}
"""
    )


SQL_FUZZY_TOPK = _sql_fuzzy_topk()


_SUGG_PREFIXES = ["s", "sm"]  # 1-char = terms-scan path; 2-char = edge-ngram path
_SUGG_TYPO = "smal"  # typo'd "small"; also within 2 of "scan"
_SUGG_K = 10
_SUGG_DIST = 2
_SUGG_PREFIX_LEN = 1


def q_suggest_complete(spark, sf_dir) -> DataFrame:
    """ES completion suggester (suggest surface of the delegated search
    endpoint): vocabulary terms completing each prefix, ranked by document
    frequency. The two prefixes gate BOTH plans — the 1-char prefix runs
    the pushed-startswith terms scan, the 2-char prefix the
    partition-pruned edge-ngram read. The oracle re-derives the
    vocabulary + df from the corpus and replays the prefix match with
    LIKE."""
    reader = _wand_gate_reader(spark, sf_dir)
    parts = [
        reader.suggest_terms(p, size=_SUGG_K).withColumn("prefix", F.lit(p))
        for p in _SUGG_PREFIXES
    ]
    out = parts[0]
    for df in parts[1:]:
        out = out.unionByName(df)
    return out


SQL_SUGGEST_COMPLETE = (
    _SQL_PRELUDE
    + "\nUNION ALL\n".join(
        f"""SELECT * FROM (
  SELECT term, df, '{p}' AS prefix FROM dfreq
  WHERE term LIKE '{p}%'
  ORDER BY df DESC, term ASC LIMIT {_SUGG_K}
)"""
        for p in _SUGG_PREFIXES
    )
)


def q_suggest_fuzzy(spark, sf_dir) -> DataFrame:
    """ES term suggester (did-you-mean): vocabulary terms within
    Levenshtein {dist} of the typo'd token sharing its first character
    (prefix_length), ranked (distance, df desc, term). The oracle replays
    the band + prefix prune and DuckDB's levenshtein over the
    corpus-derived vocabulary."""
    reader = _wand_gate_reader(spark, sf_dir)
    return reader.suggest_corrections(
        _SUGG_TYPO, size=_SUGG_K, max_dist=_SUGG_DIST, prefix_len=_SUGG_PREFIX_LEN
    )


def _sql_suggest_fuzzy() -> str:
    t = tokenize_py(_SUGG_TYPO)[0]
    return (
        _SQL_PRELUDE
        + f"""
SELECT term, CAST(levenshtein(term, '{t}') AS INT) AS dist, df
FROM dfreq
WHERE term LIKE '{t[:_SUGG_PREFIX_LEN]}%'
  AND abs(length(term) - {len(t)}) <= {_SUGG_DIST}
  AND levenshtein(term, '{t}') <= {_SUGG_DIST}
ORDER BY dist ASC, df DESC, term ASC LIMIT {_SUGG_K}
"""
    )


SQL_SUGGEST_FUZZY = _sql_suggest_fuzzy()


_EXPLAIN_Q = "merge join"


def q_explain_score(spark, sf_dir) -> DataFrame:
    """E5/E6 scoring transparency (ES `GET /_explain` over the delegated
    search surface, /root/reference/elastic/elastic.go search
    passthrough): the per-term BM25 breakdown — (term, tf, doc_len, df,
    idf, tf_norm, score) — of the top-1 document for a query. The doc is
    located by the pruned WAND top-k (an O(1) collect of one id), then
    explain_score decodes ONLY the blocks covering that id (pushed
    first/last_doc_id range filter over the already term-pruned blocks).
    The oracle replays both stages: brute-force BM25 picks the same
    winner, then the tf/df/dl CTEs yield the same breakdown."""
    reader = _wand_gate_reader(spark, sf_dir)
    doc_id = reader.topk(_EXPLAIN_Q, 1).collect()[0]["doc_id"]
    out = reader.explain_score(doc_id, _EXPLAIN_Q)
    return out.select(
        "term",
        "tf",
        "doc_len",
        "df",
        F.round("idf", 6).alias("idf_r"),
        F.round("tf_norm", 6).alias("tf_norm_r"),
        F.round("score", 6).alias("score_r"),
    )


def _sql_explain_score() -> str:
    score = duckdb_bm25_sql(
        "tf.tf", "dfreq.df", "dl.doc_len", "(SELECT n FROM stats)", "(SELECT avgdl FROM stats)"
    )
    idf = "ln(1.0 + ((SELECT n FROM stats) - dfreq.df + 0.5) / (dfreq.df + 0.5))"
    from . import B, K1

    tfn = f"(tf.tf * {K1 + 1.0}) / (tf.tf + {K1} * ({1.0 - B} + {B} * dl.doc_len / (SELECT avgdl FROM stats)))"
    terms = ", ".join(f"'{t}'" for t in sorted(set(tokenize_py(_EXPLAIN_Q))))
    return (
        _SQL_PRELUDE
        + f"""
, win AS (
  SELECT tf.doc_id FROM tf
  JOIN dfreq USING (term) JOIN dl USING (doc_id)
  WHERE tf.term IN ({terms})
  GROUP BY tf.doc_id
  ORDER BY sum({score}) DESC, tf.doc_id ASC LIMIT 1
)
SELECT tf.term, CAST(tf.tf AS BIGINT) AS tf, dl.doc_len, dfreq.df,
  round({idf}, 6) AS idf_r,
  round({tfn}, 6) AS tf_norm_r,
  round(({idf}) * ({tfn}), 6) AS score_r
FROM tf
JOIN dfreq USING (term) JOIN dl USING (doc_id)
WHERE tf.doc_id = (SELECT doc_id FROM win) AND tf.term IN ({terms})
ORDER BY tf.term
"""
    )


SQL_EXPLAIN_SCORE = _sql_explain_score()


_HL_WINDOW = 5


def q_highlight_topk(spark, sf_dir) -> DataFrame:
    """E5 highlight surface (ES highlighting over the delegated search
    endpoint): pruned WAND top-k, then ONLY the k winners join back to
    the corpus (broadcast semi) and re-analyze to cut a deterministic
    snippet — the 5 tokens either side of the first query-term
    occurrence. The oracle recomputes ranking brute-force and cuts the
    same snippet with DuckDB list ops."""
    from .corpus import load_docs

    docs = load_docs(spark, sf_dir)
    reader = _wand_gate_reader(spark, sf_dir)
    out = reader.highlight_topk(docs, _WAND_QUERY, _WAND_K, window=_HL_WINDOW)
    return out.select(
        "doc_id", F.round("score", 4).alias("score_r"), "first_term", "snippet"
    )


def _sql_highlight_topk() -> str:
    terms = sorted(set(tokenize_py(_WAND_QUERY)))
    score = duckdb_bm25_sql(
        "tf.tf", "dfreq.df", "dl.doc_len", "(SELECT n FROM stats)", "(SELECT avgdl FROM stats)"
    )
    poss = ", ".join(f"list_position(toks, '{t}')" for t in terms)
    tlist = ", ".join(f"'{t}'" for t in terms)
    w = _HL_WINDOW
    return (
        _SQL_PRELUDE
        + f"""
, scored AS (
  SELECT tf.doc_id, sum({score}) AS s
  FROM tf
  JOIN dfreq USING (term)
  JOIN dl USING (doc_id)
  WHERE tf.term IN ({tlist})
  GROUP BY tf.doc_id
),
winners AS (
  SELECT doc_id, s FROM scored ORDER BY s DESC, doc_id ASC LIMIT {_WAND_K}
),
tok_docs AS (
  SELECT doc_id, {_TOK} AS toks FROM documents
  WHERE doc_id IN (SELECT doc_id FROM winners)
),
cut AS (
  SELECT doc_id, toks,
         list_min(list_filter([{poss}], x -> x > 0)) AS fp
  FROM tok_docs
)
SELECT w.doc_id, round(w.s, 4) AS score_r,
       toks[fp] AS first_term,
       array_to_string(toks[greatest(fp - {w}, 1) : fp + {w}], ' ') AS snippet
FROM winners w JOIN cut USING (doc_id)
ORDER BY w.s DESC, w.doc_id ASC
"""
    )


SQL_HIGHLIGHT_TOPK = _sql_highlight_topk()


_MLT_DOC = 42
_MLT_TERMS = 10


def q_more_like_this(spark, sf_dir) -> DataFrame:
    """ES more_like_this (delegated search surface): the source doc's
    terms rank by tf x BM25-idf, the top 10 form a disjunctive query,
    the source doc is excluded. Index path: pushed-id content fetch +
    terms-table df metadata + WAND; oracle replays the identical
    selection and brute-force BM25 in DuckDB."""
    from .corpus import load_docs

    docs = load_docs(spark, sf_dir)
    reader = _wand_gate_reader(spark, sf_dir)
    out = reader.more_like_this(docs, _MLT_DOC, _WAND_K, max_query_terms=_MLT_TERMS)
    return out.select("doc_id", F.round("score", 4).alias("score_r"))


def _sql_more_like_this() -> str:
    score = duckdb_bm25_sql(
        "tf.tf", "dfreq.df", "dl.doc_len", "(SELECT n FROM stats)", "(SELECT avgdl FROM stats)"
    )
    sel_score = (
        "src.tf * ln(1.0 + ((SELECT n FROM stats) - dfreq.df + 0.5) / (dfreq.df + 0.5))"
    )
    return (
        _SQL_PRELUDE
        + f"""
, src AS (
  SELECT term, tf FROM tf WHERE doc_id = {_MLT_DOC}
),
sel AS (
  SELECT src.term FROM src JOIN dfreq USING (term)
  ORDER BY {sel_score} DESC, src.term ASC LIMIT {_MLT_TERMS}
),
scored AS (
  SELECT tf.doc_id, sum({score}) AS s
  FROM tf
  JOIN dfreq USING (term)
  JOIN dl USING (doc_id)
  WHERE tf.term IN (SELECT term FROM sel) AND tf.doc_id != {_MLT_DOC}
  GROUP BY tf.doc_id
)
SELECT doc_id, round(s, 4) AS score_r
FROM scored ORDER BY s DESC, doc_id ASC LIMIT {_WAND_K}
"""
    )


SQL_MORE_LIKE_THIS = _sql_more_like_this()


_FACET_Q = "merge join"


def q_facet_counts(spark, sf_dir) -> DataFrame:
    """ES terms-aggregation over a match query (the facet surface of the
    delegated search endpoint): count matching docs per lang bucket.
    Index path: candidate ids straight off the pruned posting blocks
    (only doc_ids_varint decoded), then an id-only join to the lang
    column — the content column is never read. Oracle counts the same
    OR-match per lang over the raw corpus."""
    from .corpus import load_docs

    docs = load_docs(spark, sf_dir)
    reader = _wand_gate_reader(spark, sf_dir)
    terms = sorted(set(tokenize_py(_FACET_Q)))
    cands = reader.candidate_doc_ids(terms)
    return (
        docs.select("doc_id", "lang")
        .join(cands, "doc_id", "left_semi")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .orderBy("lang")
    )


def _sql_facet_counts() -> str:
    tlist = ", ".join(f"'{t}'" for t in sorted(set(tokenize_py(_FACET_Q))))
    return (
        _SQL_PRELUDE
        + f"""
SELECT d.lang AS lang, CAST(count(*) AS BIGINT) AS n_docs
FROM documents d
WHERE d.doc_id IN (SELECT DISTINCT doc_id FROM tf WHERE term IN ({tlist}))
GROUP BY d.lang ORDER BY lang
"""
    )


SQL_FACET_COUNTS = _sql_facet_counts()


def q_sorted_search(spark, sf_dir) -> DataFrame:
    """ES sort-by-field + search_after on the field sort key: page 2 of
    the OR-match result set ordered by (doc_len desc, doc_id asc). The
    Spark side pages via the (sort_value, doc_id) cursor (a pushed row
    filter over the TakeOrdered plan — no from+size over-fetch); the
    oracle replays it as ORDER BY ... OFFSET k."""
    reader = _wand_gate_reader(spark, sf_dir)
    p1 = reader.sorted_topk(_FACET_Q, "doc_len", asc=False, k=_WAND_K).collect()
    last = p1[-1]
    return reader.sorted_topk(
        _FACET_Q, "doc_len", asc=False, k=_WAND_K, after=(last["doc_len"], last["doc_id"])
    )


def _sql_sorted_search() -> str:
    tlist = ", ".join(f"'{t}'" for t in sorted(set(tokenize_py(_FACET_Q))))
    return (
        _SQL_PRELUDE
        + f"""
, md AS (
  SELECT d.doc_id, 'corpus/' || d.source AS repo,
         'docs/' || d.lang || '/doc_' || d.doc_id || '.txt' AS path,
         d.lang, dl.doc_len
  FROM documents d JOIN dl ON d.doc_id = dl.doc_id
  WHERE d.doc_id IN (SELECT DISTINCT doc_id FROM tf WHERE term IN ({tlist}))
)
SELECT * FROM md ORDER BY doc_len DESC, doc_id ASC LIMIT {_WAND_K} OFFSET {_WAND_K}
"""
    )


SQL_SORTED_SEARCH = _sql_sorted_search()


def q_match_count(spark, sf_dir) -> DataFrame:
    """ES `_count`: exact OR-match doc count off the pruned blocks —
    no scoring, no sort, one partial-aggregated scalar."""
    reader = _wand_gate_reader(spark, sf_dir)
    return reader.match_count(_FACET_Q)


def _sql_match_count() -> str:
    tlist = ", ".join(f"'{t}'" for t in sorted(set(tokenize_py(_FACET_Q))))
    return (
        _SQL_PRELUDE
        + f"""
SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM tf WHERE term IN ({tlist})
"""
    )


SQL_MATCH_COUNT = _sql_match_count()


_TV_DOC = 42


def q_term_vectors(spark, sf_dir) -> DataFrame:
    """ES `_termvectors` parity for one doc: (term, tf, df, positions).
    The source doc is re-analyzed (ES's own behavior for non-stored
    fields) via a pushed point lookup; df rides a pushed `term IN` over
    the index's bucket-pruned terms tables."""
    from .corpus import load_docs

    docs = load_docs(spark, sf_dir)
    reader = _wand_gate_reader(spark, sf_dir)
    tv = reader.term_vectors(docs, _TV_DOC)
    # the driver's canonicalizer sorts/hashes pandas values, which can't
    # order list cells — serialize positions to a csv string on BOTH sides
    return tv.select(
        "term", "tf", "df",
        F.concat_ws(",", F.col("positions").cast("array<string>")).alias("positions"),
    ).orderBy("term")


def _sql_term_vectors() -> str:
    return (
        _SQL_PRELUDE
        + f"""
, one AS (
  SELECT {_TOK} AS tok FROM documents WHERE doc_id = {_TV_DOC}
),
tp AS (
  SELECT unnest(tok) AS term, unnest(range(len(tok))) AS pos FROM one
)
SELECT tp.term, CAST(count(*) AS BIGINT) AS tf,
       CAST(coalesce(any_value(dfreq.df), 0) AS BIGINT) AS df,
       array_to_string(list_sort(list(tp.pos)), ',') AS positions
FROM tp LEFT JOIN dfreq ON tp.term = dfreq.term
GROUP BY tp.term ORDER BY tp.term
"""
    )


SQL_TERM_VECTORS = _sql_term_vectors()


def q_match_aggs(spark, sf_dir) -> DataFrame:
    """ES aggregation suite over an OR-match (range + histogram + stats +
    cardinality — the non-terms half of the aggs surface; terms aggs =
    facet_counts). Index path: candidate ids off the pruned posting
    blocks, one id-only semi-join to the docmap, then ONE GROUPING SETS
    shuffle computes every agg — the candidate pass never re-runs per
    agg (the identical exchange is reused across the union branches)."""
    reader = _wand_gate_reader(spark, sf_dir)
    return reader.match_aggs(_FACET_Q)


def _sql_match_aggs() -> str:
    tlist = ", ".join(f"'{t}'" for t in sorted(set(tokenize_py(_FACET_Q))))
    return (
        _SQL_PRELUDE
        + f"""
, md AS (
  SELECT d.lang, dl.doc_len
  FROM documents d JOIN dl ON d.doc_id = dl.doc_id
  WHERE d.doc_id IN (SELECT DISTINCT doc_id FROM tf WHERE term IN ({tlist}))
)
SELECT * FROM (
  SELECT 'range' AS agg,
         CASE WHEN doc_len < 40 THEN 'short'
              WHEN doc_len >= 40 AND doc_len < 80 THEN 'medium'
              WHEN doc_len >= 80 THEN 'long' END AS bucket,
         CAST(count(*) AS BIGINT) AS n_docs, CAST(NULL AS DOUBLE) AS metric
  FROM md GROUP BY 2
  UNION ALL
  SELECT 'histogram', CAST(CAST(floor(doc_len / 25) * 25 AS BIGINT) AS VARCHAR),
         CAST(count(*) AS BIGINT), CAST(NULL AS DOUBLE)
  FROM md GROUP BY 2
  UNION ALL
  SELECT 'stats', 'min', CAST(count(*) AS BIGINT), CAST(min(doc_len) AS DOUBLE) FROM md
  UNION ALL
  SELECT 'stats', 'max', CAST(count(*) AS BIGINT), CAST(max(doc_len) AS DOUBLE) FROM md
  UNION ALL
  SELECT 'stats', 'sum', CAST(count(*) AS BIGINT), CAST(sum(doc_len) AS DOUBLE) FROM md
  UNION ALL
  SELECT 'stats', 'avg', CAST(count(*) AS BIGINT), round(avg(doc_len), 4) FROM md
  UNION ALL
  SELECT 'cardinality', 'lang', CAST(count(*) AS BIGINT),
         CAST(count(DISTINCT lang) AS DOUBLE) FROM md
)
ORDER BY agg, bucket
"""
    )


SQL_MATCH_AGGS = _sql_match_aggs()


_SIGT_SIZE = 15
_SIGT_MIN_DC = 3


def q_significant_terms(spark, sf_dir) -> DataFrame:
    """ES significant_terms agg (JLH heuristic) over the OR-match
    foreground (the "what is unusual about the matching docs" aggs verb;
    /root/reference/elastic/elastic.go search passthrough). Index path:
    candidate ids off the pruned posting blocks, foreground-only content
    re-analysis (id-semi prunes the scan), background df straight from
    the terms METADATA tables — no second corpus pass. Oracle replays
    fg/bg rates and the JLH formula over the raw corpus."""
    from .corpus import load_docs

    docs = load_docs(spark, sf_dir)
    reader = _wand_gate_reader(spark, sf_dir)
    return reader.significant_terms(
        docs, _FACET_Q, size=_SIGT_SIZE, min_doc_count=_SIGT_MIN_DC
    )


def _sql_significant_terms() -> str:
    tlist = ", ".join(f"'{t}'" for t in sorted(set(tokenize_py(_FACET_Q))))
    fg_pct = "(fg_df / (SELECT fn FROM fgn))"
    bg_pct = "(df / CAST((SELECT n FROM stats) AS DOUBLE))"
    return (
        _SQL_PRELUDE
        + f"""
, fg AS (
  SELECT DISTINCT doc_id FROM tf WHERE term IN ({tlist})
),
fgn AS (SELECT CAST(count(*) AS DOUBLE) AS fn FROM fg),
fgdf AS (
  SELECT term, CAST(count(*) AS BIGINT) AS fg_df
  FROM tf WHERE doc_id IN (SELECT doc_id FROM fg) GROUP BY term
)
SELECT term, fg_df, df AS bg_df,
       round(({fg_pct} - {bg_pct}) * ({fg_pct} / {bg_pct}), 6) AS score_r
FROM fgdf JOIN dfreq USING (term)
WHERE fg_df >= {_SIGT_MIN_DC} AND {fg_pct} > {bg_pct}
ORDER BY score_r DESC, term ASC LIMIT {_SIGT_SIZE}
"""
    )


SQL_SIGNIFICANT_TERMS = _sql_significant_terms()


# ES percolator registry: (query_id, query text, minimum_should_match or
# None = all terms). Deterministic, corpus-vocabulary terms; query 3 is
# the never-matches negative control (absent term under AND semantics).
_PERC_QUERIES: list[tuple[int, str, int | None]] = [
    (0, "merge join", None),
    (1, "spark stream batch", 2),
    (2, "dup window", 1),
    (3, "hash zzznotaterm", None),
]


def q_percolate(spark, sf_dir) -> DataFrame:
    """ES percolate: the stored-query registry matched against the whole
    incoming corpus (reverse search / alerting surface). The registry is
    the broadcast dim; docs explode to distinct (doc_id, term) pairs
    pre-filtered by the broadcast vocabulary, one partial-agg tally per
    (doc, query). Gate output aggregates the match pairs per query —
    count + id checksum — so the row volume stays O(|registry|)."""
    from .corpus import load_docs
    from .operators.percolate import percolate

    docs = load_docs(spark, sf_dir)
    qrows = [
        (qid, sorted(set(tokenize_py(q))), msm) for qid, q, msm in _PERC_QUERIES
    ]
    queries = spark.createDataFrame(
        qrows, "query_id long, terms array<string>, msm int"
    )
    pairs = percolate(docs, queries)
    return (
        pairs.groupBy("query_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("doc_id").cast("long").alias("sum_ids"),
            F.min("doc_id").cast("long").alias("min_id"),
            F.max("doc_id").cast("long").alias("max_id"),
        )
        .orderBy("query_id")
    )


def _sql_percolate() -> str:
    qvals, reqs = [], []
    for qid, q, msm in _PERC_QUERIES:
        terms = sorted(set(tokenize_py(q)))
        qvals += [f"({qid}, '{t}')" for t in terms]
        reqs.append(f"({qid}, {msm if msm is not None else len(terms)})")
    return (
        _SQL_PRELUDE
        + f"""
, q AS (SELECT * FROM (VALUES {", ".join(qvals)}) AS t(query_id, term)),
qn AS (SELECT * FROM (VALUES {", ".join(reqs)}) AS t(query_id, req)),
m AS (
  SELECT tf.doc_id, q.query_id, count(*) AS matched
  FROM tf JOIN q USING (term) GROUP BY 1, 2
),
p AS (
  SELECT m.doc_id, m.query_id FROM m JOIN qn USING (query_id)
  WHERE matched >= req
)
SELECT query_id, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(doc_id) AS BIGINT) AS sum_ids,
       CAST(min(doc_id) AS BIGINT) AS min_id,
       CAST(max(doc_id) AS BIGINT) AS max_id
FROM p GROUP BY query_id ORDER BY query_id
"""
    )


SQL_PERCOLATE = _sql_percolate()


_RRF_QVEC = 7
_RRF_WINDOW = 20
_RRF_K = 10
_RRF_CONST = 60


def q_rrf_hybrid(spark, sf_dir) -> DataFrame:
    """ES 8.x `rrf` retriever — hybrid search fusing the lexical BM25
    top-k (block-max WAND) with the dense cosine top-k over the
    embeddings table (vec_id aligns 1:1 with doc_id in the testdata),
    fused score = sum 1/(60 + rank) per retriever window. Both windows
    are pruned top-k jobs; the fusion stage moves 2 x window rows. The
    query-doc vector (vec_id 7) is excluded from the dense window, ES
    exclude-self semantics; the lexical half has no source doc."""
    from .operators.similarity import rrf_fuse

    reader = _wand_gate_reader(spark, sf_dir)
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    lex = (
        reader.topk(_FACET_Q, _RRF_WINDOW)
        .withColumn("rank", F.row_number().over(w))
        .select("doc_id", "rank")
    )
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        F.col("vec_id").cast("long").alias("doc_id"),
        F.col("embedding").cast("array<double>").alias("v"),
    )
    q = emb.filter(F.col("doc_id") == _RRF_QVEC).select(F.col("v").alias("qv"))
    dot = F.aggregate(F.zip_with("v", "qv", lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x)
    nv = F.sqrt(F.aggregate(F.transform("v", lambda x: x * x), F.lit(0.0), lambda a, x: a + x))
    nq = F.sqrt(F.aggregate(F.transform("qv", lambda x: x * x), F.lit(0.0), lambda a, x: a + x))
    wd = Window.orderBy(F.desc("cos"), F.asc("doc_id"))
    den = (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("doc_id") != _RRF_QVEC)
        .select("doc_id", (dot / (nv * nq)).alias("cos"))
        .orderBy(F.desc("cos"), F.asc("doc_id"))
        .limit(_RRF_WINDOW)
        .withColumn("rank", F.row_number().over(wd))
        .select("doc_id", "rank")
    )
    fused = rrf_fuse([lex, den], k=_RRF_K, rank_const=_RRF_CONST)
    return fused.select("doc_id", F.round("rrf_score", 6).alias("rrf_r")).orderBy(
        F.desc("rrf_r"), F.asc("doc_id")
    )


def _sql_rrf_hybrid() -> str:
    tlist = ", ".join(f"'{t}'" for t in sorted(set(tokenize_py(_FACET_Q))))
    score = duckdb_bm25_sql(
        "tf.tf", "dfreq.df", "dl.doc_len", "(SELECT n FROM stats)", "(SELECT avgdl FROM stats)"
    )
    return (
        _SQL_PRELUDE
        + f"""
, scored AS (
  SELECT tf.doc_id, sum({score}) AS s
  FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id)
  WHERE tf.term IN ({tlist}) GROUP BY tf.doc_id
),
lex AS (
  SELECT doc_id, row_number() OVER (ORDER BY s DESC, doc_id ASC) AS r
  FROM scored ORDER BY s DESC, doc_id ASC LIMIT {_RRF_WINDOW}
),
qv AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {_RRF_QVEC}),
cs AS (
  SELECT vec_id AS doc_id,
         list_dot_product(CAST(embedding AS DOUBLE[]), CAST(qv AS DOUBLE[]))
         / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))
            * sqrt(list_dot_product(CAST(qv AS DOUBLE[]), CAST(qv AS DOUBLE[])))) AS c
  FROM embeddings CROSS JOIN qv WHERE vec_id <> {_RRF_QVEC}
),
den AS (
  SELECT doc_id, row_number() OVER (ORDER BY c DESC, doc_id ASC) AS r
  FROM cs ORDER BY c DESC, doc_id ASC LIMIT {_RRF_WINDOW}
),
u AS (
  SELECT doc_id, 1.0 / ({_RRF_CONST} + r) AS c FROM lex
  UNION ALL
  SELECT doc_id, 1.0 / ({_RRF_CONST} + r) AS c FROM den
)
SELECT doc_id, round(sum(c), 6) AS rrf_r
FROM u GROUP BY doc_id ORDER BY rrf_r DESC, doc_id ASC LIMIT {_RRF_K}
"""
    )


SQL_RRF_HYBRID = _sql_rrf_hybrid()


# aggs half of the _search body compiler: caller-named aggs of BOTH
# families — a terms agg (id-only docmap semi-join) and the doc_len
# suite (range with explicit ES from/to bounds + stats) which must share
# ONE grouping-sets pass no matter how many aggs the body asks for.
_AGGS_DSL_BODY = {
    "size": 0,
    "query": {"match": {"content": _FACET_Q}},
    "aggs": {
        "by_lang": {"terms": {"field": "lang"}},
        "len_ranges": {
            "range": {
                "field": "doc_len",
                "ranges": [
                    {"key": "short", "to": 40},
                    {"key": "medium", "from": 40, "to": 80},
                    {"key": "long", "from": 80},
                ],
            }
        },
        "len_stats": {"stats": {"field": "doc_len"}},
    },
}


def q_es_aggs_dsl(spark, sf_dir) -> DataFrame:
    """The aggregations half of the `_search` body compiler end-to-end
    (ES aggs envelope the reference's UI surface issues; /root/reference/
    elastic/elastic.go search passthrough): one body with a caller-named
    terms agg + range agg (explicit from/to bounds) + stats agg over a
    match query. compile_aggs must route the doc_len family through ONE
    match_aggs grouping-sets pass, rename every row to the caller's agg
    names, and union the terms agg's semi-join counts; the oracle
    replays all three as independent SQL aggregations."""
    from .query_dsl import compile_search

    reader = _wand_gate_reader(spark, sf_dir)
    return compile_search(reader, _AGGS_DSL_BODY)


def _sql_es_aggs_dsl() -> str:
    tlist = ", ".join(f"'{t}'" for t in sorted(set(tokenize_py(_FACET_Q))))
    return (
        _SQL_PRELUDE
        + f"""
, md AS (
  SELECT d.lang, dl.doc_len
  FROM documents d JOIN dl ON d.doc_id = dl.doc_id
  WHERE d.doc_id IN (SELECT DISTINCT doc_id FROM tf WHERE term IN ({tlist}))
)
SELECT * FROM (
  SELECT 'by_lang' AS agg, lang AS bucket,
         CAST(count(*) AS BIGINT) AS n_docs, CAST(NULL AS DOUBLE) AS metric
  FROM md GROUP BY 2
  UNION ALL
  SELECT 'len_ranges',
         CASE WHEN doc_len < 40 THEN 'short'
              WHEN doc_len >= 40 AND doc_len < 80 THEN 'medium'
              WHEN doc_len >= 80 THEN 'long' END,
         CAST(count(*) AS BIGINT), CAST(NULL AS DOUBLE)
  FROM md GROUP BY 2
  UNION ALL
  SELECT 'len_stats', 'min', CAST(count(*) AS BIGINT), CAST(min(doc_len) AS DOUBLE) FROM md
  UNION ALL
  SELECT 'len_stats', 'max', CAST(count(*) AS BIGINT), CAST(max(doc_len) AS DOUBLE) FROM md
  UNION ALL
  SELECT 'len_stats', 'sum', CAST(count(*) AS BIGINT), CAST(sum(doc_len) AS DOUBLE) FROM md
  UNION ALL
  SELECT 'len_stats', 'avg', CAST(count(*) AS BIGINT), round(avg(doc_len), 4) FROM md
)
ORDER BY agg, bucket
"""
    )


SQL_ES_AGGS_DSL = _sql_es_aggs_dsl()


def q_wand_queryset(spark, sf_dir) -> DataFrame:
    """The whole reference query set through the compressed index in ONE
    Spark job (IndexReader.topk_many) — must equal the brute-force
    queryset oracle exactly."""
    reader = _wand_gate_reader(spark, sf_dir)
    out = reader.topk_many([(qid, q, k) for qid, q, k in REFERENCE_QUERIES])
    return out.select(
        "query_id", "rank", "doc_id", F.round("score", 4).alias("score_r")
    ).orderBy("query_id", "rank")


_PHRASE_Q = "merge join"


def q_phrase_topk(spark, sf_dir) -> DataFrame:
    """E5 match_phrase half (the delegated ES surface indexes positions by
    default, /root/reference/elastic/elastic.go:37-44): exact-phrase top-k
    through the positional index (adjacency verified on decoded position
    streams inside the kernel); the oracle verifies adjacency with list
    ops over the tokenized documents and scores the same BM25."""
    reader = _wand_gate_reader(spark, sf_dir)
    out = reader.phrase_topk(_PHRASE_Q, _WAND_K)
    return out.select("doc_id", F.round("score", 4).alias("score_r"))


def _sql_phrase_topk(filter_sql: str = "") -> str:
    terms = list(tokenize_py(_PHRASE_Q))
    m = len(terms)
    uniq = ", ".join(f"'{t}'" for t in sorted(set(terms)))
    conds = " AND ".join(f"t[i + {j}] = '{w}'" for j, w in enumerate(terms))
    score = duckdb_bm25_sql(
        "tf.tf", "dfreq.df", "dl.doc_len", "(SELECT n FROM stats)", "(SELECT avgdl FROM stats)"
    )
    # filter context (when filter_sql is set) restricts WHICH docs may
    # match but never the statistics — BM25 df/N/avgdl stay global,
    # exactly the engine's non-scoring ES filter semantics
    flt_clause = f" AND doc_id IN (SELECT doc_id FROM documents WHERE {filter_sql})" if filter_sql else ""
    return (
        _SQL_PRELUDE
        + f"""
, tl AS (SELECT doc_id, {_TOK} AS t FROM documents),
matched AS (
  SELECT doc_id FROM tl WHERE len(t) >= {m} AND
  list_contains(list_transform(range(1, len(t) - {m} + 2), i -> {conds}), true){flt_clause}
),
scored AS (
  SELECT tf.doc_id, sum({score}) AS s
  FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id)
  WHERE tf.term IN ({uniq}) AND tf.doc_id IN (SELECT doc_id FROM matched)
  GROUP BY tf.doc_id
)
SELECT doc_id, round(s, 4) AS score_r
FROM scored ORDER BY s DESC, doc_id ASC LIMIT {_WAND_K}
"""
    )


SQL_PHRASE_TOPK = _sql_phrase_topk()

_FILT_PHRASE_LANG = "fr"


def q_filtered_phrase(spark, sf_dir) -> DataFrame:
    """ES bool query: match_phrase in `must` + a non-scoring `filter`
    term (r6: filter context now rides every expansion path's rid
    shuffle as allow-list pseudo-rows and narrows the positional
    candidate set BEFORE positions decode). BM25 statistics stay global
    — the oracle scores with full-corpus df/N/avgdl and only restricts
    the match set, so a stats leak OR a filter leak breaks the hash."""
    reader = _wand_gate_reader(spark, sf_dir)
    out = reader.phrase_topk(
        _PHRASE_Q, _WAND_K, flt=(F.col("lang") == _FILT_PHRASE_LANG)
    )
    return out.select("doc_id", F.round("score", 4).alias("score_r"))


SQL_FILTERED_PHRASE = _sql_phrase_topk(f"lang = '{_FILT_PHRASE_LANG}'")


# _msearch gate: two plain match bodies (gathered into ONE topk_many
# batch — blocks fetched/shuffled once) sandwiching a match_phrase body
# (the per-body compile_search path), so one driver query pins BOTH
# msearch routes plus the order-preservation contract.
_MSEARCH_BODIES = [
    {"query": {"match": {"content": _WAND_QUERY}}, "size": _WAND_K},
    {"query": {"match_phrase": {"content": _PHRASE_Q}}, "size": _WAND_K},
    {"query": {"match": {"content": FLAGSHIP_QUERY}}, "size": 5},
]


def q_es_msearch(spark, sf_dir) -> DataFrame:
    """ES `_msearch` end-to-end (the batched request surface of the
    delegated ES API; /root/reference/elastic/elastic.go search
    passthrough): three request bodies answered in order — the two plain
    match bodies ride ONE topk_many job, the phrase body compiles
    individually — and the flattened (body, rank, doc_id, score) rows
    must equal three independent brute-force oracles stitched by body
    index. A batching bug (cross-body block mixup, wrong k, reordered
    results) breaks the hash."""
    from .query_dsl import msearch

    reader = _wand_gate_reader(spark, sf_dir)
    res = msearch(reader, _MSEARCH_BODIES)
    rows = [
        (body, rank, int(h["doc_id"]), float(h["score"]))
        for body, hits in enumerate(res)
        for rank, h in enumerate(hits, start=1)
    ]
    return (
        spark.createDataFrame(rows, "body int, rank int, doc_id long, score double")
        .select("body", "rank", "doc_id", F.round("score", 4).alias("score_r"))
        .orderBy("body", "rank")
    )


def _sql_es_msearch() -> str:
    score = duckdb_bm25_sql(
        "tf.tf", "dfreq.df", "dl.doc_len", "(SELECT n FROM stats)", "(SELECT avgdl FROM stats)"
    )
    parts = []
    for body, b in enumerate(_MSEARCH_BODIES):
        kind, spec = next(iter(b["query"].items()))
        text = next(iter(spec.values()))
        k = b["size"]
        terms = list(tokenize_py(text))
        tlist = ", ".join(f"'{t}'" for t in sorted(set(terms)))
        if kind == "match_phrase":
            m = len(terms)
            conds = " AND ".join(f"t[i + {j}] = '{w}'" for j, w in enumerate(terms))
            matched = (
                f"(SELECT doc_id FROM (SELECT doc_id, {_TOK} AS t FROM documents) "
                f"WHERE len(t) >= {m} AND "
                f"list_contains(list_transform(range(1, len(t) - {m} + 2), i -> {conds}), true))"
            )
            match_clause = f" AND tf.doc_id IN {matched}"
        else:
            match_clause = ""
        parts.append(
            f"""
(SELECT {body} AS body,
        CAST(row_number() OVER (ORDER BY s DESC, doc_id ASC) AS INT) AS rank,
        doc_id, round(s, 4) AS score_r
 FROM (SELECT tf.doc_id, sum({score}) AS s
       FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id)
       WHERE tf.term IN ({tlist}){match_clause} GROUP BY tf.doc_id)
 ORDER BY s DESC, doc_id ASC LIMIT {k})"""
        )
    return _SQL_PRELUDE + "\n" + "\nUNION ALL\n".join(parts)


SQL_ES_MSEARCH = _sql_es_msearch()


# _mget gate: four live ids + one absent id; the absent id must come back
# found=false with null attributes (and a stale/tombstoned version must
# never surface — the same docmap mask every query path uses).
_MGET_IDS = [2, 98, 290, 428, 999_999_999]


def q_es_mget(spark, sf_dir) -> DataFrame:
    """ES `_mget` end-to-end (the delegated ES document surface;
    /root/reference/elastic/elastic.go doc-API passthrough): fetch a
    batch of ids through the tombstone-masked docmap in one pruned read,
    including the content_sha ingest invariant per returned doc. The
    oracle recomputes every derived column (repo/path/commit synthesis,
    doc_len, sha256) from the raw documents table — a drift in ANY of
    the ingest derivations breaks the hash, not just the id lookup.
    Missing-doc attributes are coalesced to sentinels ('' / -1) on BOTH
    sides — harness canonicalizers sort every column and mixed null/str
    cells break that (the r5 term_vectors lesson); the true null
    contract is pinned in pytest (test_mget_masks_dead_versions)."""
    reader = _wand_gate_reader(spark, sf_dir)
    out = reader.mget(_MGET_IDS)
    return out.select(
        "doc_id",
        "found",
        F.coalesce("repo", F.lit("")).alias("repo"),
        F.coalesce("path", F.lit("")).alias("path"),
        F.coalesce("commit", F.lit("")).alias("commit"),
        F.coalesce("lang", F.lit("")).alias("lang"),
        F.coalesce("doc_len", F.lit(-1)).alias("doc_len"),
        F.coalesce("content_sha", F.lit("")).alias("content_sha"),
    )


def _sql_es_mget() -> str:
    ids = ", ".join(str(i) for i in _MGET_IDS)
    return (
        _SQL_PRELUDE
        + f"""
, asked AS (SELECT CAST(unnest([{ids}]) AS BIGINT) AS doc_id),
md AS (
  SELECT d.doc_id, 'corpus/' || d.source AS repo,
         'docs/' || d.lang || '/doc_' || d.doc_id || '.txt' AS path,
         substr(sha256(d.source || '|' || CAST(d.doc_id AS VARCHAR)), 1, 40) AS cmt,
         d.lang, dl.doc_len, sha256(d.text) AS content_sha
  FROM documents d JOIN dl USING (doc_id)
)
SELECT a.doc_id, md.repo IS NOT NULL AS found,
       coalesce(md.repo, '') AS repo, coalesce(md.path, '') AS path,
       coalesce(md.cmt, '') AS "commit", coalesce(md.lang, '') AS lang,
       coalesce(md.doc_len, -1) AS doc_len,
       coalesce(md.content_sha, '') AS content_sha
FROM asked a LEFT JOIN md USING (doc_id) ORDER BY a.doc_id
"""
    )


SQL_ES_MGET = _sql_es_mget()

_PPX_Q = "merge s"  # fixed token 'merge' + prefix 's' (6 completions)
_PPX_MAXEXP = 50


def q_phrase_prefix(spark, sf_dir) -> DataFrame:
    """ES match_phrase_prefix (query-as-you-type): the last token is a
    prefix expanded to the df-top completions; docs match the fixed
    tokens followed by ANY completion; rank = fixed terms' BM25 sum +
    best matched completion's BM25. The oracle replays the expansion
    (LIKE + df ranking), the positional adjacency, and the max-completion
    scoring over the tokenized documents."""
    reader = _wand_gate_reader(spark, sf_dir)
    out = reader.phrase_prefix_topk(_PPX_Q, _WAND_K, max_expansions=_PPX_MAXEXP)
    return out.select("doc_id", F.round("score", 4).alias("score_r"))


def _sql_phrase_prefix() -> str:
    terms = list(tokenize_py(_PPX_Q))
    fixed, last = terms[:-1], terms[-1]
    assert fixed, "oracle generator assumes at least one fixed token"
    m = len(terms)
    uniq_fixed = ", ".join(f"'{t}'" for t in sorted(set(fixed)))
    conds = " AND ".join(f"t[i + {j}] = '{w}'" for j, w in enumerate(fixed))
    score = duckdb_bm25_sql(
        "tf.tf", "dfreq.df", "dl.doc_len", "(SELECT n FROM stats)", "(SELECT avgdl FROM stats)"
    )
    return (
        _SQL_PRELUDE
        + f"""
, exp AS (
  SELECT term FROM dfreq WHERE term LIKE '{last}%'
  ORDER BY df DESC, term ASC LIMIT {_PPX_MAXEXP}
),
tl AS (SELECT doc_id, {_TOK} AS t FROM documents),
occ AS (
  SELECT doc_id, t[i + {m - 1}] AS lt
  FROM tl, UNNEST(range(1, len(t) - {m} + 2)) AS r(i)
  WHERE {conds} AND list_contains((SELECT list(term) FROM exp), t[i + {m - 1}])
),
md AS (SELECT DISTINCT doc_id, lt FROM occ),
fixed_sc AS (
  SELECT tf.doc_id, sum({score}) AS s1
  FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id)
  WHERE tf.term IN ({uniq_fixed})
    AND tf.doc_id IN (SELECT DISTINCT doc_id FROM md)
  GROUP BY tf.doc_id
),
last_sc AS (
  SELECT md.doc_id, max({score}) AS s2
  FROM md
  JOIN tf ON tf.doc_id = md.doc_id AND tf.term = md.lt
  JOIN dfreq ON dfreq.term = tf.term
  JOIN dl ON dl.doc_id = tf.doc_id
  GROUP BY md.doc_id
)
SELECT f.doc_id, round(f.s1 + l.s2, 4) AS score_r
FROM fixed_sc f JOIN last_sc l ON l.doc_id = f.doc_id
ORDER BY f.s1 + l.s2 DESC, f.doc_id ASC LIMIT {_WAND_K}
"""
    )


SQL_PHRASE_PREFIX = _sql_phrase_prefix()

_NEAR_Q = "scan group"
_NEAR_W = 6


def q_near_topk(spark, sf_dir) -> DataFrame:
    """Proximity search through the positional index: all query terms
    within a window of consecutive analyzed-token positions, any order
    (IndexReader.near_topk — the unordered counterpart of phrase_topk);
    the oracle replays the window test with list_slice/list_has_all over
    the tokenized documents and scores the same distinct-term BM25 sum."""
    reader = _wand_gate_reader(spark, sf_dir)
    out = reader.near_topk(_NEAR_Q, window=_NEAR_W, k=_WAND_K)
    return out.select("doc_id", F.round("score", 4).alias("score_r"))


def _sql_near_topk() -> str:
    terms = sorted(set(tokenize_py(_NEAR_Q)))
    uniq = ", ".join(f"'{t}'" for t in terms)
    score = duckdb_bm25_sql(
        "tf.tf", "dfreq.df", "dl.doc_len", "(SELECT n FROM stats)", "(SELECT avgdl FROM stats)"
    )
    return (
        _SQL_PRELUDE
        + f"""
, tl AS (SELECT doc_id, {_TOK} AS t FROM documents),
matched AS (
  SELECT doc_id FROM tl WHERE list_contains(
    list_transform(range(1, len(t) + 1),
                   i -> list_has_all(list_slice(t, i, i + {_NEAR_W} - 1), [{uniq}])),
    true)
),
scored AS (
  SELECT tf.doc_id, sum({score}) AS s
  FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id)
  WHERE tf.term IN ({uniq}) AND tf.doc_id IN (SELECT doc_id FROM matched)
  GROUP BY tf.doc_id
)
SELECT doc_id, round(s, 4) AS score_r
FROM scored ORDER BY s DESC, doc_id ASC LIMIT {_WAND_K}
"""
    )


SQL_NEAR_TOPK = _sql_near_topk()


_OVR_MOD = 7
_OVR_SUFFIX = " zebra overwrite telemetry"
_OVR_QUERY = "merge join zebra telemetry"


def q_overwrite_reindex(spark, sf_dir) -> DataFrame:
    """Per-doc overwrite end to end (the ES _id contract,
    /root/reference/osm/addresses.go:24): build, re-ingest every 7th doc
    with changed content under the SAME (repo, path) key (tombstoning the
    old versions), compact, then top-k BM25. The oracle scores a corpus
    where each doc appears exactly once, in its newest version — so any
    leaked old posting or stats drift breaks the hash match."""
    from .operators.wand import IndexReader
    from .sources.segments import append_segment, compact, snapshot_index

    def make() -> str:
        out = _gate_dir("ovr_gate_")
        snapshot_index(_gate_base(spark, sf_dir), out)
        updated = (
            load_docs(spark, sf_dir)
            .filter(F.col("doc_id") % _OVR_MOD == 0)
            .withColumn("content", F.concat(F.col("content"), F.lit(_OVR_SUFFIX)))
            .withColumn("content_sha", F.sha2(F.col("content"), 256))
        )
        append_segment(spark, updated, out, build_id="upd", n_buckets=8)
        compact(spark, out, build_id="final", n_buckets=8)
        return out

    reader = IndexReader(spark, _gate_memo("overwrite_reindex", sf_dir, make))
    out = reader.topk(_OVR_QUERY, _WAND_K)
    return out.select("doc_id", F.round("score", 4).alias("score_r"))


def _sql_overwrite_reindex() -> str:
    terms = sorted(set(tokenize_py(_OVR_QUERY)))
    tlist = ", ".join(f"'{t}'" for t in terms)
    tok2 = duckdb_tokenize_sql("text2")
    score = duckdb_bm25_sql(
        "tf.tf", "dfreq.df", "dl.doc_len", "(SELECT n FROM stats)", "(SELECT avgdl FROM stats)"
    )
    return f"""
WITH docs2 AS (
  SELECT doc_id,
         CASE WHEN doc_id % {_OVR_MOD} = 0 THEN text || '{_OVR_SUFFIX}' ELSE text END AS text2
  FROM documents
),
toks AS (SELECT doc_id, unnest({tok2}) AS term FROM docs2),
tf AS (SELECT doc_id, term, CAST(count(*) AS INT) AS tf FROM toks GROUP BY doc_id, term),
dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS doc_len FROM tf GROUP BY doc_id),
stats AS (SELECT CAST(count(*) AS BIGINT) AS n, avg(doc_len) AS avgdl FROM dl),
dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id, sum({score}) AS s
  FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id)
  WHERE tf.term IN ({tlist}) GROUP BY tf.doc_id
)
SELECT doc_id, round(s, 4) AS score_r
FROM scored ORDER BY s DESC, doc_id ASC LIMIT {_WAND_K}
"""


SQL_OVERWRITE_REINDEX = _sql_overwrite_reindex()


def _masked_then_compacted(
    spark, sf_dir, name: str, mutate: Callable[[str], None], query: str
) -> DataFrame:
    """Top-k of `query` over a copy of the gate base store in both
    lifecycle phases: 'masked' is merge-on-read after mutate(store),
    collected before compaction; 'compacted' is read after compact()
    physically drops the shadowed versions. The compacted store and the
    masked rows are memoized under `name`."""
    from .operators.wand import IndexReader
    from .sources.segments import compact, snapshot_index

    def topk(out: str) -> DataFrame:
        return (
            IndexReader(spark, out)
            .topk(query, _WAND_K)
            .select("doc_id", F.round("score", 4).alias("score_r"))
        )

    def make() -> tuple[str, list]:
        out = _gate_dir(f"{name}_")
        snapshot_index(_gate_base(spark, sf_dir), out)
        mutate(out)
        masked = [(r["doc_id"], r["score_r"]) for r in topk(out).collect()]
        compact(spark, out, build_id="final", n_buckets=8)
        return out, masked

    out, masked = _gate_memo(name, sf_dir, make)
    pre = spark.createDataFrame(masked, "doc_id long, score_r double").withColumn(
        "phase", F.lit("masked")
    )
    return pre.unionByName(topk(out).withColumn("phase", F.lit("compacted")))


_DEL_MOD = 7
_DEL_MATCH = "merge"
_DEL_QUERY = "merge join window"


def q_delete_by_query(spark, sf_dir) -> DataFrame:
    """ES _delete_by_query end to end (the maintenance verb on the
    delegated search surface, /root/reference/main.go:26): build, delete
    every doc that BOTH matches the analyzed term '{merge}' AND has
    doc_id % 7 == 2 (filter + match, AND semantics) as a tombstone-only
    build, then top-k BM25 in BOTH lifecycle phases:

      phase='masked'    — merge-on-read, pre-compaction: deleted docs must
                          never score; N/avgdl corrected immediately from
                          the marker; per-term df stays the full-corpus
                          count (documented Lucene deleted-docs drift,
                          clamped at N) — the oracle replays EXACTLY that
                          drifted statistics regime in SQL;
      phase='compacted' — after compact() physically drops the dead docs:
                          statistics equal a corpus that never held them.

    A leaked posting, a stats mis-subtraction, or a drift mismatch in
    either phase breaks the hash."""
    from .sources.segments import delete_by_query

    def mutate(out: str) -> None:
        delete_by_query(
            spark,
            out,
            flt=(F.col("doc_id") % _DEL_MOD == 2),
            query=_DEL_MATCH,
            build_id="del",
        )

    return _masked_then_compacted(spark, sf_dir, "delete_by_query", mutate, _DEL_QUERY)


def _sql_delete_by_query() -> str:
    del_terms = sorted(set(tokenize_py(_DEL_MATCH)))
    q_terms = sorted(set(tokenize_py(_DEL_QUERY)))
    del_tlist = ", ".join(f"'{t}'" for t in del_terms)
    q_tlist = ", ".join(f"'{t}'" for t in q_terms)
    tok = duckdb_tokenize_sql("text")
    # masked phase: df from the FULL corpus (blocks untouched by the
    # delete), clamped at live N exactly as the kernel clamps; N/avgdl
    # from live docs only
    score_masked = duckdb_bm25_sql(
        "tf.tf",
        "LEAST(dff.df, (SELECT n FROM stats_live))",
        "dl.doc_len",
        "(SELECT n FROM stats_live)",
        "(SELECT avgdl FROM stats_live)",
    )
    score_compacted = duckdb_bm25_sql(
        "tf.tf",
        "dfl.df",
        "dl.doc_len",
        "(SELECT n FROM stats_live)",
        "(SELECT avgdl FROM stats_live)",
    )
    return f"""
WITH toks AS (SELECT doc_id, unnest({tok}) AS term FROM documents),
del AS (
  SELECT DISTINCT doc_id FROM toks
  WHERE doc_id % {_DEL_MOD} = 2 AND term IN ({del_tlist})
),
tf_full AS (SELECT doc_id, term, CAST(count(*) AS INT) AS tf FROM toks GROUP BY doc_id, term),
dff AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf_full GROUP BY term),
tf AS (SELECT * FROM tf_full WHERE doc_id NOT IN (SELECT doc_id FROM del)),
dfl AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS doc_len FROM tf GROUP BY doc_id),
stats_live AS (SELECT CAST(count(*) AS BIGINT) AS n, avg(doc_len) AS avgdl FROM dl),
masked AS (
  SELECT tf.doc_id, sum({score_masked}) AS s
  FROM tf JOIN dff USING (term) JOIN dl USING (doc_id)
  WHERE tf.term IN ({q_tlist}) GROUP BY tf.doc_id
),
compacted AS (
  SELECT tf.doc_id, sum({score_compacted}) AS s
  FROM tf JOIN dfl USING (term) JOIN dl USING (doc_id)
  WHERE tf.term IN ({q_tlist}) GROUP BY tf.doc_id
)
SELECT * FROM (
  SELECT doc_id, round(s, 4) AS score_r, 'masked' AS phase
  FROM masked ORDER BY s DESC, doc_id ASC LIMIT {_WAND_K}
)
UNION ALL
SELECT * FROM (
  SELECT doc_id, round(s, 4) AS score_r, 'compacted' AS phase
  FROM compacted ORDER BY s DESC, doc_id ASC LIMIT {_WAND_K}
)
"""


SQL_DELETE_BY_QUERY = _sql_delete_by_query()


def q_multifield_bm25(spark, sf_dir) -> DataFrame:
    """E8 multi-field search: BM25 over content plus a boosted BM25 over
    the path field (each field with its own df/dl/avgdl statistics, the
    Lucene per-field model)."""
    docs = load_docs(spark, sf_dir)
    boost = 2.0
    terms = sorted(set(tokenize_py("doc en merge join")))
    parts = []
    for field, weight in (("content", 1.0), ("path", boost)):
        tf = term_freqs(docs.select("doc_id", F.col(field).alias("content")))
        tf.persist()
        dl = doc_lengths(tf)
        dfreq = doc_freqs(tf)
        n_docs, avgdl = corpus_scalars(dl)
        matched = tf.filter(F.col("term").isin(terms))
        scored = (
            matched.join(F.broadcast(dfreq.filter(F.col("term").isin(terms))), "term")
            .join(dl, "doc_id")
            .withColumn(
                "contrib",
                bm25_expr(F.col("tf"), F.col("df"), F.col("doc_len"), n_docs, avgdl) * weight,
            )
            .groupBy("doc_id")
            .agg(F.sum("contrib").alias("s"))
        )
        parts.append(scored)
    total = parts[0].unionByName(parts[1]).groupBy("doc_id").agg(F.sum("s").alias("s"))
    return (
        total.orderBy(F.desc("s"), F.asc("doc_id"))
        .limit(10)
        .select("doc_id", F.round("s", 4).alias("score_r"))
    )


def _sql_multifield() -> str:
    terms = sorted(set(tokenize_py("doc en merge join")))
    tlist = ", ".join(f"'{t}'" for t in terms)
    path_expr = (
        "'docs/' || lang || '/doc_' || doc_id || '.txt'"
    )  # load_docs' synthesized path
    tok_path = duckdb_tokenize_sql(path_expr)
    score = duckdb_bm25_sql("tf", "df", "doc_len", "n", "avgdl")
    per_field = []
    for field_tok, weight in ((_TOK, 1.0), (tok_path, 2.0)):
        per_field.append(
            f"""
SELECT doc_id, sum({score}) * {weight} AS s FROM (
  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df, dl.doc_len,
         (SELECT count(*) FROM dl_{'c' if weight == 1.0 else 'p'}) AS n,
         (SELECT avg(doc_len) FROM dl_{'c' if weight == 1.0 else 'p'}) AS avgdl
  FROM tf_{'c' if weight == 1.0 else 'p'} tf
  JOIN dfreq_{'c' if weight == 1.0 else 'p'} dfreq USING (term)
  JOIN dl_{'c' if weight == 1.0 else 'p'} dl USING (doc_id)
  WHERE tf.term IN ({tlist})
) GROUP BY doc_id"""
        )
    return f"""
WITH toks_c AS (SELECT doc_id, unnest({_TOK}) AS term FROM documents),
tf_c AS (SELECT doc_id, term, CAST(count(*) AS INT) AS tf FROM toks_c GROUP BY 1, 2),
dl_c AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS doc_len FROM tf_c GROUP BY 1),
dfreq_c AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf_c GROUP BY 1),
toks_p AS (SELECT doc_id, unnest({tok_path}) AS term FROM documents),
tf_p AS (SELECT doc_id, term, CAST(count(*) AS INT) AS tf FROM toks_p GROUP BY 1, 2),
dl_p AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS doc_len FROM tf_p GROUP BY 1),
dfreq_p AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf_p GROUP BY 1),
both_f AS ({' UNION ALL '.join(per_field)})
SELECT doc_id, round(sum(s), 4) AS score_r FROM both_f GROUP BY doc_id
ORDER BY sum(s) DESC, doc_id ASC LIMIT 10
"""


SQL_MULTIFIELD_BM25 = _sql_multifield()


def _mf_store(spark, sf_dir: str, field: str) -> str:
    """One physical segment store per searchable field (Lucene's
    per-field inverted-index model), cached per (sf_dir, field); the
    content field is the gate base store itself."""
    from .sources.segments import build_index

    if field == "content":
        return _gate_base(spark, sf_dir)

    def make() -> str:
        out = _gate_dir(f"mf_{field}_")
        docs = load_docs(spark, sf_dir).withColumn("content", F.col(field))
        build_index(spark, docs, out, build_id=field[0], n_buckets=8)
        return out

    return _gate_memo(f"mf_{field}", sf_dir, make)


def q_multifield_indexed(spark, sf_dir) -> DataFrame:
    """E8 through the INDEX (not brute force): one physical segment store
    per field (content, path) — Lucene's per-field inverted-index model —
    composed by multifield_topk's combined-bound BM25F WAND (r5: strides
    prune against the summed per-(field,term) block-max bound; only
    survivor blocks decode — VERDICT r4 #1 replaced the exhaustive
    per-field scores() union). Same oracle as multifield_bm25."""
    from .operators.wand import IndexReader, multifield_topk

    rc = IndexReader(spark, _mf_store(spark, sf_dir, "content"))
    rp = IndexReader(spark, _mf_store(spark, sf_dir, "path"))
    out = multifield_topk([(rc, 1.0), (rp, 2.0)], "doc en merge join", 10)
    return out.select("doc_id", F.round("score", 4).alias("score_r"))


_MF3_QUERY = "doc en merge join src13"
_MF3_FIELDS = (("content", 1.0), ("path", 2.0), ("repo", 1.5))


def q_multifield3(spark, sf_dir) -> DataFrame:
    """E8 at 3 fields (VERDICT r5 #4: the Address model has 9 searchable
    text fields, /root/reference/model/model.go:3-15 — evidence beyond 2):
    content + path + repo, each its own segment store with per-field
    df/dl/avgdl, composed by the SAME combined-bound BM25F WAND kernel —
    the stride bound is the weighted sum over all three fields' block-max
    metadata, so pruning stays sound at any field count. The query hits
    all three fields ('merge join' content, 'doc en' path, 'src13' repo)."""
    from .operators.wand import IndexReader, multifield_topk

    readers = [
        (IndexReader(spark, _mf_store(spark, sf_dir, f)), w) for f, w in _MF3_FIELDS
    ]
    out = multifield_topk(readers, _MF3_QUERY, 10)
    return out.select("doc_id", F.round("score", 4).alias("score_r"))


def _sql_multifield_n(query: str, fields: list[tuple[str, str, float]], k: int = 10) -> str:
    """Generalized BM25F oracle: per-field tf/dl/df/stats CTEs, weighted
    sum across fields. `fields` = (suffix, duckdb token-list expr, weight)."""
    terms = sorted(set(tokenize_py(query)))
    tlist = ", ".join(f"'{t}'" for t in terms)
    score = duckdb_bm25_sql("tf", "df", "doc_len", "n", "avgdl")
    ctes, parts = [], []
    for sfx, tok_expr, weight in fields:
        ctes.append(
            f"""toks_{sfx} AS (SELECT doc_id, unnest({tok_expr}) AS term FROM documents),
tf_{sfx} AS (SELECT doc_id, term, CAST(count(*) AS INT) AS tf FROM toks_{sfx} GROUP BY 1, 2),
dl_{sfx} AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS doc_len FROM tf_{sfx} GROUP BY 1),
dfreq_{sfx} AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf_{sfx} GROUP BY 1)"""
        )
        parts.append(
            f"""
SELECT doc_id, sum({score}) * {weight} AS s FROM (
  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df, dl.doc_len,
         (SELECT count(*) FROM dl_{sfx}) AS n,
         (SELECT avg(doc_len) FROM dl_{sfx}) AS avgdl
  FROM tf_{sfx} tf
  JOIN dfreq_{sfx} dfreq USING (term)
  JOIN dl_{sfx} dl USING (doc_id)
  WHERE tf.term IN ({tlist})
) GROUP BY doc_id"""
        )
    return f"""
WITH {', '.join(ctes)},
allf AS ({' UNION ALL '.join(parts)})
SELECT doc_id, round(sum(s), 4) AS score_r FROM allf GROUP BY doc_id
ORDER BY sum(s) DESC, doc_id ASC LIMIT {k}
"""


SQL_MULTIFIELD3 = _sql_multifield_n(
    _MF3_QUERY,
    [
        ("c", _TOK, 1.0),
        ("p", duckdb_tokenize_sql("'docs/' || lang || '/doc_' || doc_id || '.txt'"), 2.0),
        ("r", duckdb_tokenize_sql("'corpus/' || source"), 1.5),
    ],
)


def q_multifield_onepass(spark, sf_dir) -> DataFrame:
    """E8, single-store layout (r6): ALL three fields built into ONE
    segment store in ONE corpus pass + ONE posting shuffle
    (build_index(fields=...) — secondary fields' terms stored
    "<field>:<term>", per-field doc_len/df/avgdl/block-max throughout),
    queried by the same combined-bound BM25F WAND over field-tagged
    blocks (multifield_topk_single). Shares SQL_MULTIFIELD3 — the oracle
    requires rank AND score identity with the one-store-per-field layout,
    so any stats bleed between fields breaks the hash."""
    from .operators.wand import IndexReader, multifield_topk_single
    from .sources.segments import build_index

    def make() -> str:
        out = _gate_dir("mf_single_")
        docs = load_docs(spark, sf_dir)
        build_index(
            spark, docs, out, fields=("content", "path", "repo"),
            build_id="mf", n_buckets=8,
        )
        return out

    reader = IndexReader(spark, _gate_memo("mf_single", sf_dir, make))
    out = multifield_topk_single(reader, list(_MF3_FIELDS), _MF3_QUERY, 10)
    return out.select("doc_id", F.round("score", 4).alias("score_r"))


_UPD_MOD = 9
_UPD_REM = 4
_UPD_SUFFIX = " flume retrofit merge"
_UPD_QUERY = "merge join flume"


def q_update_by_query(spark, sf_dir) -> DataFrame:
    """ES `_update_by_query` end to end (VERDICT r5 #2): build, re-ingest
    every doc with doc_id % 9 == 4 from the source-of-truth table with a
    content transform appended (the set_cols contract), then top-k BM25 in
    BOTH lifecycle phases:

      phase='masked'    — merge-on-read: the update segment's (repo, path)
                          keys tombstone the old versions; new content is
                          searchable immediately ('flume' only exists in
                          updated docs); N/avgdl corrected from the marker;
                          per-term df double-counts updated docs (old blocks
                          + new blocks, the documented Lucene deleted-docs
                          drift, clamped at live N) — the oracle replays
                          exactly that drifted regime;
      phase='compacted' — statistics equal a corpus that always held the
                          newest versions.

    A stale old-version posting, a missing new posting, or a drift
    mismatch in either phase breaks the hash."""
    from .sources.segments import update_by_query

    def mutate(out: str) -> None:
        update_by_query(
            spark,
            out,
            load_docs(spark, sf_dir),
            flt=(F.col("doc_id") % _UPD_MOD == _UPD_REM),
            set_cols={"content": F.concat(F.col("content"), F.lit(_UPD_SUFFIX))},
            build_id="upd",
            n_buckets=8,
        )

    return _masked_then_compacted(spark, sf_dir, "update_by_query", mutate, _UPD_QUERY)


def _sql_update_by_query() -> str:
    q_terms = sorted(set(tokenize_py(_UPD_QUERY)))
    q_tlist = ", ".join(f"'{t}'" for t in q_terms)
    tok2 = duckdb_tokenize_sql("text2")
    # masked: df = base-corpus blocks (old versions still counted) + the
    # update segment's blocks (new versions), clamped at live N — exactly
    # the reader's merged-df regime pre-compaction
    score_masked = duckdb_bm25_sql(
        "tf.tf",
        "LEAST(dfm.df, (SELECT n FROM stats_live))",
        "dl.doc_len",
        "(SELECT n FROM stats_live)",
        "(SELECT avgdl FROM stats_live)",
    )
    score_compacted = duckdb_bm25_sql(
        "tf.tf",
        "dfl.df",
        "dl.doc_len",
        "(SELECT n FROM stats_live)",
        "(SELECT avgdl FROM stats_live)",
    )
    return f"""
WITH docs2 AS (
  SELECT doc_id,
         CASE WHEN doc_id % {_UPD_MOD} = {_UPD_REM}
              THEN text || '{_UPD_SUFFIX}' ELSE text END AS text2
  FROM documents
),
toks AS (SELECT doc_id, unnest({tok2}) AS term FROM docs2),
tf AS (SELECT doc_id, term, CAST(count(*) AS INT) AS tf FROM toks GROUP BY doc_id, term),
dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS doc_len FROM tf GROUP BY doc_id),
stats_live AS (SELECT CAST(count(*) AS BIGINT) AS n, avg(doc_len) AS avgdl FROM dl),
dfl AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
toks_base AS (SELECT doc_id, unnest({_TOK}) AS term FROM documents),
df_base AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM toks_base GROUP BY term),
toks_upd AS (
  SELECT doc_id, unnest({tok2}) AS term FROM docs2
  WHERE doc_id % {_UPD_MOD} = {_UPD_REM}
),
df_upd AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM toks_upd GROUP BY term),
dfm AS (
  SELECT coalesce(df_base.term, df_upd.term) AS term,
         coalesce(df_base.df, 0) + coalesce(df_upd.df, 0) AS df
  FROM df_base FULL OUTER JOIN df_upd ON df_base.term = df_upd.term
),
masked AS (
  SELECT tf.doc_id, sum({score_masked}) AS s
  FROM tf JOIN dfm USING (term) JOIN dl USING (doc_id)
  WHERE tf.term IN ({q_tlist}) GROUP BY tf.doc_id
),
compacted AS (
  SELECT tf.doc_id, sum({score_compacted}) AS s
  FROM tf JOIN dfl USING (term) JOIN dl USING (doc_id)
  WHERE tf.term IN ({q_tlist}) GROUP BY tf.doc_id
)
SELECT * FROM (
  SELECT doc_id, round(s, 4) AS score_r, 'masked' AS phase
  FROM masked ORDER BY s DESC, doc_id ASC LIMIT {_WAND_K}
)
UNION ALL
SELECT * FROM (
  SELECT doc_id, round(s, 4) AS score_r, 'compacted' AS phase
  FROM compacted ORDER BY s DESC, doc_id ASC LIMIT {_WAND_K}
)
"""


SQL_UPDATE_BY_QUERY = _sql_update_by_query()


_SNAP_MOD = 5
_SNAP_MATCH = "window"
_SNAP_QUERY = "window scan stream"


def q_snapshot_restore(spark, sf_dir) -> DataFrame:
    """ES `_snapshot` + `_restore` end to end (VERDICT r5 #2): build,
    delete_by_query (tombstone-only build — the hardest artifact to
    round-trip), snapshot the live set into a repository, restore into a
    FRESH store, and answer top-k from the restored store merge-on-read.
    The oracle replays the masked-deletion regime (live N/avgdl, full-
    corpus df clamped at live N), so a snapshot that drops the tombstone
    build, restores a stale live list, or corrupts a segment breaks the
    hash."""
    from .operators.wand import IndexReader
    from .sources.segments import delete_by_query, restore_index, snapshot_index

    def make() -> str:
        out = _gate_dir("snap_src_")
        snap = _gate_dir("snap_repo_")
        restored = _gate_dir("snap_dst_")
        snapshot_index(_gate_base(spark, sf_dir), out)
        delete_by_query(
            spark,
            out,
            flt=(F.col("doc_id") % _SNAP_MOD == 1),
            query=_SNAP_MATCH,
            build_id="del",
        )
        snapshot_index(out, snap)
        restore_index(snap, restored)
        return restored

    reader = IndexReader(spark, _gate_memo("snapshot_restore", sf_dir, make))
    out = reader.topk(_SNAP_QUERY, _WAND_K)
    return out.select("doc_id", F.round("score", 4).alias("score_r"))


def _sql_snapshot_restore() -> str:
    del_terms = sorted(set(tokenize_py(_SNAP_MATCH)))
    q_terms = sorted(set(tokenize_py(_SNAP_QUERY)))
    del_tlist = ", ".join(f"'{t}'" for t in del_terms)
    q_tlist = ", ".join(f"'{t}'" for t in q_terms)
    score = duckdb_bm25_sql(
        "tf.tf",
        "LEAST(dff.df, (SELECT n FROM stats_live))",
        "dl.doc_len",
        "(SELECT n FROM stats_live)",
        "(SELECT avgdl FROM stats_live)",
    )
    return f"""
WITH toks AS (SELECT doc_id, unnest({_TOK}) AS term FROM documents),
del AS (
  SELECT DISTINCT doc_id FROM toks
  WHERE doc_id % {_SNAP_MOD} = 1 AND term IN ({del_tlist})
),
tf_full AS (SELECT doc_id, term, CAST(count(*) AS INT) AS tf FROM toks GROUP BY doc_id, term),
dff AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf_full GROUP BY term),
tf AS (SELECT * FROM tf_full WHERE doc_id NOT IN (SELECT doc_id FROM del)),
dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS doc_len FROM tf GROUP BY doc_id),
stats_live AS (SELECT CAST(count(*) AS BIGINT) AS n, avg(doc_len) AS avgdl FROM dl),
scored AS (
  SELECT tf.doc_id, sum({score}) AS s
  FROM tf JOIN dff USING (term) JOIN dl USING (doc_id)
  WHERE tf.term IN ({q_tlist}) GROUP BY tf.doc_id
)
SELECT doc_id, round(s, 4) AS score_r
FROM scored ORDER BY s DESC, doc_id ASC LIMIT {_WAND_K}
"""


SQL_SNAPSHOT_RESTORE = _sql_snapshot_restore()


_ATT_QUERY = "sort stream table"


def q_attach_index(spark, sf_dir) -> DataFrame:
    """Federated multi-index search end to end (VERDICT r5 #2, the ES
    `GET /idx1,idx2/_search` shape): the corpus is split into two
    DISJOINT doc_id ranges, each half indexed into its OWN store (as two
    shards of a sharded corpus would be), then attach_index federates the
    second store into the first and one reader answers top-k over both.
    The oracle is a plain whole-corpus top-k — so the merged global
    statistics (N summed, avgdl from total token mass, df summed per
    term) must be rank- AND score-identical to having built one index
    over the union corpus; any stats drift breaks the hash."""
    from .operators.wand import IndexReader
    from .sources.segments import attach_index, build_index

    def make() -> str:
        dir_a = _gate_dir("att_a_")
        dir_b = _gate_dir("att_b_")
        docs = load_docs(spark, sf_dir)
        lo, hi = docs.agg(F.min("doc_id"), F.max("doc_id")).collect()[0]
        mid = (int(lo) + int(hi)) // 2
        build_index(
            spark, docs.filter(F.col("doc_id") <= mid), dir_a, build_id="shard_a", n_buckets=8
        )
        build_index(
            spark, docs.filter(F.col("doc_id") > mid), dir_b, build_id="shard_b", n_buckets=8
        )
        attach_index(spark, dir_b, dir_a)
        return dir_a

    reader = IndexReader(spark, _gate_memo("attach_index", sf_dir, make))
    out = reader.topk(_ATT_QUERY, _WAND_K)
    return out.select("doc_id", F.round("score", 4).alias("score_r"))


SQL_ATTACH_INDEX = _bm25_sql(tokenize_py(_ATT_QUERY), _WAND_K)


def q_alias_rotation(spark, sf_dir) -> DataFrame:
    """Zero-downtime alias rotation end-to-end — the reference's exact
    production flow (/root/reference/elastic/elastic.go:33-97: create
    `<base>-<ts>`, PutAlias the serving name at it, DeleteIndices every
    other `<base>-*`): phase 1 queries the serving alias while it points
    at the v1 store; a v2 store (the even-doc_id half, a deterministic
    reindex) is built, the alias atomically swaps, and the old store is
    GC'd; phase 2 queries the SAME alias name again. Phase-2 scores must
    equal a brute-force BM25 computed with the v2 subset's OWN stats —
    a stale alias read, a half-applied swap, or a leaked v1 statistic
    all break the hash. The gc result is asserted in-query (exactly the
    v1 store removed) so a rotation that silently keeps serving the old
    index fails the gate rather than passing on lucky scores."""
    from .sources.aliases import AliasRegistry
    from .sources.segments import build_index, snapshot_index

    root = _gate_dir("alias_gate_")
    reg = AliasRegistry(root)
    idx1 = _os.path.join(root, "idx-1")
    snapshot_index(_gate_base(spark, sf_dir), idx1)
    reg.put_alias("serving", idx1)
    p1 = reg.reader(spark, "serving").topk(_WAND_QUERY, _WAND_K).collect()

    idx2 = _os.path.join(root, "idx-2")
    docs = load_docs(spark, sf_dir)
    build_index(
        spark, docs.filter(F.col("doc_id") % 2 == 0), idx2, build_id="v2", n_buckets=8
    )
    reg.put_alias("serving", idx2)  # atomic add-new + remove-old
    removed = reg.gc_stores("idx")  # DeleteIndices analog
    if removed != [_os.path.abspath(idx1)] or reg.get_alias("serving") != [
        _os.path.abspath(idx2)
    ]:
        raise RuntimeError(f"rotation left wrong state: {removed}, {reg.aliases()}")
    p2 = reg.search(spark, "serving", _WAND_QUERY, _WAND_K).collect()

    rows = [(1, int(r["doc_id"]), float(r["score"])) for r in p1] + [
        (2, int(r["doc_id"]), float(r["score"])) for r in p2
    ]
    return (
        spark.createDataFrame(rows, "phase int, doc_id long, score double")
        .select("phase", "doc_id", F.round("score", 4).alias("score_r"))
        .orderBy("phase", "doc_id")
    )


def _sql_alias_rotation() -> str:
    tlist = ", ".join(f"'{t}'" for t in sorted(set(tokenize_py(_WAND_QUERY))))
    s1 = duckdb_bm25_sql(
        "tf.tf", "dfreq.df", "dl.doc_len", "(SELECT n FROM stats)", "(SELECT avgdl FROM stats)"
    )
    s2 = duckdb_bm25_sql(
        "tf2.tf", "dfreq2.df", "dl2.doc_len", "(SELECT n FROM stats2)",
        "(SELECT avgdl FROM stats2)",
    )
    return (
        _SQL_PRELUDE
        + f"""
, dv2 AS (SELECT * FROM documents WHERE doc_id % 2 = 0),
toks2 AS (SELECT doc_id, unnest({_TOK}) AS term FROM dv2),
tf2 AS (SELECT doc_id, term, CAST(count(*) AS INT) AS tf FROM toks2 GROUP BY doc_id, term),
dl2 AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS doc_len FROM tf2 GROUP BY doc_id),
stats2 AS (SELECT CAST(count(*) AS BIGINT) AS n, avg(doc_len) AS avgdl FROM dl2),
dfreq2 AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf2 GROUP BY term)
SELECT * FROM (
  (SELECT 1 AS phase, doc_id, round(s, 4) AS score_r
   FROM (SELECT tf.doc_id, sum({s1}) AS s
         FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id)
         WHERE tf.term IN ({tlist}) GROUP BY tf.doc_id)
   ORDER BY s DESC, doc_id ASC LIMIT {_WAND_K})
  UNION ALL
  (SELECT 2, doc_id, round(s, 4)
   FROM (SELECT tf2.doc_id, sum({s2}) AS s
         FROM tf2 JOIN dfreq2 USING (term) JOIN dl2 USING (doc_id)
         WHERE tf2.term IN ({tlist}) GROUP BY tf2.doc_id)
   ORDER BY s DESC, doc_id ASC LIMIT {_WAND_K})
)
ORDER BY phase, doc_id
"""
    )


SQL_ALIAS_ROTATION = _sql_alias_rotation()


_TIERS = [(0.0, 2000.0, "low"), (2000.0, 6000.0, "mid"), (6000.0, 1e18, "high")]


def q_theta_containment(spark, sf_dir) -> DataFrame:
    """D5 analog (broadcast nested-loop containment join,
    /root/reference/osm/utils.go:60-88: every point tested against every
    polygon): every customer tested against every balance tier interval."""
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    tiers = spark.createDataFrame(_TIERS, "lo double, hi double, tier string")
    joined = c.crossJoin(F.broadcast(tiers)).filter(
        (F.col("c_acctbal") >= F.col("lo")) & (F.col("c_acctbal") < F.col("hi"))
    )
    return (
        joined.groupBy("tier")
        .agg(F.count(F.lit(1)).cast("long").alias("n_cust"), F.round(F.avg("c_acctbal"), 4).alias("avg_bal"))
        .orderBy("tier")
    )


SQL_THETA_CONTAINMENT = f"""
WITH tiers(lo, hi, tier) AS (VALUES {', '.join(f"({lo}, {hi}, '{t}')" for lo, hi, t in _TIERS)})
SELECT tier, CAST(count(*) AS BIGINT) AS n_cust, round(avg(c_acctbal), 4) AS avg_bal
FROM customer JOIN tiers ON c_acctbal >= lo AND c_acctbal < hi
GROUP BY tier ORDER BY tier
"""


_SIMHASH_CAP = 200


# (name, xs, ys) open rings; vertices end in .005 so no synthetic point
# (a .01 grid) lies exactly on an edge endpoint, and the pentagon is
# concave to exercise the parity logic.
_POLYS = [
    ("quad", [-80.005, -20.005, -10.005, -70.005], [10.005, 5.005, 70.005, 80.005]),
    ("pent", [10.005, 70.005, 80.005, 40.005, 5.005], [-80.005, -70.005, -10.005, 20.005, -20.005]),
    ("tri", [-60.005, 40.005, 0.005], [-50.005, -40.005, 60.005]),
]


def q_polygon_contains(spark, sf_dir) -> DataFrame:
    """D5 for real: point-in-polygon broadcast nested-loop join
    (utils.go:60-88) via a division-free ray cast in pure Catalyst;
    the oracle runs the identical expression as DuckDB list SQL."""
    from .operators.geo import polygon_containment_join, with_synth_coords

    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    pts = with_synth_coords(c)
    polys = spark.createDataFrame(_POLYS, "name string, xs array<double>, ys array<double>")
    j = polygon_containment_join(pts, polys)
    return (
        j.groupBy("name")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pts"), F.round(F.avg("lat"), 4).alias("avg_lat"))
        .orderBy("name")
    )


def _sql_polygon_contains() -> str:
    from .operators.geo import duckdb_point_in_polygon_sql, duckdb_synth_coords_sql

    vals = ", ".join(
        f"('{name}', CAST({xs} AS DOUBLE[]), CAST({ys} AS DOUBLE[]))" for name, xs, ys in _POLYS
    )
    pip = duckdb_point_in_polygon_sql("lon", "lat", "xs", "ys")
    return f"""
WITH pts AS ({duckdb_synth_coords_sql("c_custkey")} FROM customer),
polys(name, xs, ys) AS (VALUES {vals})
SELECT name, CAST(count(*) AS BIGINT) AS n_pts, round(avg(lat), 4) AS avg_lat
FROM pts CROSS JOIN polys
WHERE {pip}
GROUP BY name ORDER BY name
"""


SQL_POLYGON_CONTAINS = _sql_polygon_contains()

_GEO_K = 10
_GEO_QLAT, _GEO_QLON = 17.25, 42.5
_GEO_CELL = 20.0


def q_geo_knn(spark, sf_dir) -> DataFrame:
    """E7 reverse-geocode analog: exact haversine k-NN found via grid-cell
    ring probing (osm.go:182 / elastic.go:41 geo_point); the oracle is a
    plain full-scan haversine ORDER BY LIMIT k."""
    from .operators.geo import geo_knn, with_synth_coords

    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    pts = with_synth_coords(c)
    out = geo_knn(pts, _GEO_QLAT, _GEO_QLON, k=_GEO_K, cell_deg=_GEO_CELL)
    return out.select("id", F.round("dist_km", 4).alias("dist_km_r"))


def _sql_geo_knn() -> str:
    from .operators.geo import duckdb_haversine_sql, duckdb_synth_coords_sql

    return f"""
WITH pts AS ({duckdb_synth_coords_sql("c_custkey")} FROM customer),
d AS (SELECT id, {duckdb_haversine_sql("lat", "lon", _GEO_QLAT, _GEO_QLON)} AS dist
      FROM pts)
SELECT id, round(dist, 4) AS dist_km_r FROM d ORDER BY dist ASC, id ASC LIMIT {_GEO_K}
"""


SQL_GEO_KNN = _sql_geo_knn()

_GEO_BATCH_K = 5


def q_geo_knn_batch(spark, sf_dir) -> DataFrame:
    """E7 at pipeline shape (VERDICT r2 missing-item 4): a SET of query
    points k-NN-enriched in one cell-join per ring round (geo_knn_many),
    not a per-query driver loop. Query points are the 25 nation keys run
    through the same synth-coords expression, so the DuckDB oracle replays
    them exactly; the oracle is the brute-force per-query top-k."""
    from .operators.geo import geo_knn_many, with_synth_coords

    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    pts = with_synth_coords(c)
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    qs = with_synth_coords(n, "n_nationkey").select(
        F.col("id").alias("qid"),
        F.col("lat").alias("qlat"),
        F.col("lon").alias("qlon"),
    )
    out = geo_knn_many(pts, qs, k=_GEO_BATCH_K, cell_deg=_GEO_CELL)
    return out.select(
        "qid", "rank", "id", F.round("dist_km", 4).alias("dist_km_r")
    ).orderBy("qid", "rank")


def _sql_geo_knn_batch() -> str:
    from .operators.geo import duckdb_haversine_sql, duckdb_synth_coords_sql

    hav = duckdb_haversine_sql("pts.lat", "pts.lon", "qs.qlat", "qs.qlon")
    return f"""
WITH pts AS ({duckdb_synth_coords_sql("c_custkey")} FROM customer),
qs AS (SELECT id AS qid, lat AS qlat, lon AS qlon
       FROM ({duckdb_synth_coords_sql("n_nationkey")} FROM nation)),
d AS (SELECT qs.qid, pts.id, {hav} AS dist FROM qs CROSS JOIN pts),
r AS (SELECT qid, id, dist,
             CAST(row_number() OVER (PARTITION BY qid ORDER BY dist ASC, id ASC) AS INT) AS rank
      FROM d)
SELECT qid, rank, id, round(dist, 4) AS dist_km_r
FROM r WHERE rank <= {_GEO_BATCH_K} ORDER BY qid, rank
"""


SQL_GEO_KNN_BATCH = _sql_geo_knn_batch()


def q_simhash(spark, sf_dir) -> DataFrame:
    """SimHash signatures over a portable sha256-derived bit family —
    reproduced exactly by the DuckDB oracle (duckdb_simhash_sql)."""
    from .operators.dedup import simhash_signatures

    tf = _tf_capped(spark, sf_dir, _SIMHASH_CAP)
    return simhash_signatures(tf).orderBy("doc_id")


def _sql_simhash() -> str:
    from .operators.dedup import duckdb_simhash_sql

    return (
        _SQL_PRELUDE
        + ", sigs AS ("
        + duckdb_simhash_sql(f"(SELECT * FROM tf WHERE doc_id < {_SIMHASH_CAP})")
        + ") SELECT doc_id, simhash FROM sigs ORDER BY doc_id"
    )


SQL_SIMHASH = _sql_simhash()

_SIMHASH_MAXH = 3


def q_simhash_pairs(spark, sf_dir) -> DataFrame:
    """SimHash near-dup pairs: 16-bit chunk-collision candidates (recall
    guaranteed for hamming <= 3), exact hamming verify — the full simhash
    dedup pipeline, oracle-paired end to end."""
    from .operators.dedup import simhash_near_pairs, simhash_signatures

    sigs = simhash_signatures(_tf_capped(spark, sf_dir, _SIMHASH_CAP))
    return simhash_near_pairs(sigs, max_hamming=_SIMHASH_MAXH).orderBy("da", "db")


def _sql_simhash_pairs() -> str:
    from .operators.dedup import duckdb_simhash_sql

    return (
        _SQL_PRELUDE
        + ", sigs AS ("
        + duckdb_simhash_sql(f"(SELECT * FROM tf WHERE doc_id < {_SIMHASH_CAP})")
        + f"""),
chunks AS (
  SELECT doc_id, simhash, c.ci, (simhash >> (c.ci * 16)) & 65535 AS chunk
  FROM sigs, (VALUES (0), (1), (2), (3)) c(ci)
),
cand AS (
  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db, a.simhash AS sa, b.simhash AS sb
  FROM chunks a JOIN chunks b ON a.ci = b.ci AND a.chunk = b.chunk AND a.doc_id < b.doc_id
)
SELECT da, db, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
FROM cand WHERE bit_count(xor(sa, sb)) <= {_SIMHASH_MAXH} ORDER BY da, db"""
    )


SQL_SIMHASH_PAIRS = _sql_simhash_pairs()


_LSH_QVEC = 3
_LSH_PLANES = 8
_LSH_TABLES = 4


def q_embedding_lsh(spark, sf_dir) -> DataFrame:
    """Multi-table LSH ANN over a PHYSICALLY (table,bucket)-partitioned
    parquet store — the query reads only probed partition dirs. Oracle-
    paired: the hyperplanes are deterministic constants (splitmix64), so
    the oracle SQL inlines them and replays the exact bucket assignment,
    multi-probe candidate generation, and cosine re-score."""
    from .operators.similarity import lsh_store_read, lsh_store_write, lsh_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")

    def make() -> str:
        out = _gate_dir("ann_lsh_")
        lsh_store_write(emb, out, n_planes=_LSH_PLANES, n_tables=_LSH_TABLES)
        return out

    indexed, tables = lsh_store_read(spark, _gate_memo("ann_lsh", sf_dir, make))
    q = list(emb.filter(F.col("vec_id") == _LSH_QVEC).select("embedding").first()[0])
    return lsh_topk(indexed, tables, q, k=10, probe_hamming=1).select(
        "vec_id", F.round("cos", 4).alias("cos_r")
    )


def _sql_embedding_lsh(sf_dir: str = "/root/testdata/sf0.01") -> str:
    """Replays the engine's LSH end to end in SQL: per-table bucket id from
    the inlined deterministic planes (left-fold dot via list_dot_product —
    the 4-decimal rounding and the fixed driver dataset make the hard sign
    threshold reproducible), query bucket + 1-bit multi-probe ring,
    candidate union across tables, exact cosine top-k."""
    import numpy as np

    from .operators.similarity import _planes

    dim = 64  # driver embeddings are 64-dim at every sf
    tables = [_planes(dim, _LSH_PLANES, 1234 + 7919 * t) for t in range(_LSH_TABLES)]

    def plane_lit(p: np.ndarray) -> str:
        return "[" + ", ".join(repr(float(x)) for x in p) + "]::DOUBLE[]"

    bucket_exprs = []
    for planes in tables:
        bits = [
            f"CASE WHEN list_dot_product(v, {plane_lit(p)}) > 0 THEN {1 << i} ELSE 0 END"
            for i, p in enumerate(planes)
        ]
        bucket_exprs.append("(" + " + ".join(bits) + ")")

    probe_conds = []
    for t, be in enumerate(bucket_exprs):
        # query bucket + all 1-bit flips, as literals (computed at q time)
        probe_conds.append(
            f"({be} IN (SELECT qb FROM qbuckets WHERE t = {t}))"
        )
    qb_rows = []
    for t, be in enumerate(bucket_exprs):
        qbe = be.replace("list_dot_product(v,", "list_dot_product(qv,")
        qb_rows.append(f"SELECT {t} AS t, {qbe} AS qb0 FROM q")
    flips = ", ".join(str(1 << i) for i in range(_LSH_PLANES))
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT v AS qv FROM e WHERE vec_id = {_LSH_QVEC}),
qb0s AS ({' UNION ALL '.join(qb_rows)}),
qbuckets AS (
  SELECT t, qb0 AS qb FROM qb0s
  UNION ALL
  SELECT t, xor(qb0, f.f) AS qb FROM qb0s, (SELECT unnest([{flips}]) AS f) f
),
cand AS (
  SELECT DISTINCT vec_id, v FROM e WHERE {' OR '.join(probe_conds)}
),
scored AS (
  SELECT vec_id,
         list_dot_product(v, (SELECT qv FROM q))
         / (sqrt(list_dot_product(v, v)) * sqrt((SELECT list_dot_product(qv, qv) FROM q))) AS cos
  FROM cand
)
SELECT vec_id, round(cos, 4) AS cos_r FROM scored ORDER BY cos DESC, vec_id ASC LIMIT 10
"""


SQL_EMBEDDING_LSH = _sql_embedding_lsh()


_EMB_DUP_T = 0.45  # random 64-dim embeddings: top pair similarities ~0.5


_IVF_QVEC = 11
_IVF_NPROBE = 4
_IVF_K = 16


def _ivf_gate_data(sf_dir: str):
    """(X sorted by vec_id, vec_ids) read driver-side from the embeddings
    parquet — the canonical fit input shared bit-for-bit by the Spark
    gate query and the DuckDB oracle generator."""
    import numpy as np
    import pyarrow.parquet as pq

    t = pq.read_table(
        f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"]
    ).to_pandas()
    t = t.sort_values("vec_id").reset_index(drop=True)
    X = np.asarray([list(v) for v in t["embedding"]], dtype=np.float64)
    return X, list(t["vec_id"])


def _ivf_gate_centroids(sf_dir: str):
    """Frozen quantizer for the gate store: deterministic numpy k-means on
    the (sorted, <=100k-row) embeddings — a pure function of the table
    bytes, so the oracle can re-fit identically (VERDICT r4 #6)."""
    from .operators.similarity import kmeans_fit_numpy

    def make():
        X, _ = _ivf_gate_data(sf_dir)
        return kmeans_fit_numpy(X[:100_000], _IVF_K, seed=42)

    return _gate_memo("ivf_centroids", sf_dir, make)


def q_embedding_ivf(spark, sf_dir) -> DataFrame:
    """IVF ANN through the centroid-partitioned frozen store. Oracle-
    paired since r5: the coarse quantizer is a deterministic driver-side
    numpy k-means (kmeans_fit_numpy — FAISS-style train-on-sample), so
    the oracle re-runs the identical fit and inlines the frozen centroids
    as SQL literals, exactly as the LSH planes are inlined. Store
    assignment is the map-side ivf_centroid_expr; the n_probe candidate
    fetch partition-prunes against the store layout."""
    from .operators.similarity import ivf_store_read, ivf_store_write, ivf_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")

    def make() -> str:
        out = _gate_dir("ann_ivf_")
        ivf_store_write(emb, out, centroids=_ivf_gate_centroids(sf_dir))
        return out

    indexed, centroids = ivf_store_read(spark, _gate_memo("ann_ivf", sf_dir, make))
    q = list(emb.filter(F.col("vec_id") == _IVF_QVEC).select("embedding").first()[0])
    return ivf_topk(indexed, centroids, q, k=10, n_probe=_IVF_NPROBE).select(
        "vec_id", F.round("cos", 4).alias("cos_r")
    )


def sql_embedding_ivf(sf_dir: str | None = None) -> str:
    """DuckDB oracle for q_embedding_ivf, generated LAZILY per gate sf
    (the centroids are data-fitted, so the SQL literals depend on which
    embeddings table the gate runs against — default: the driver's
    sf0.01; local runs parameterize via SPARK_GRAFT_TEST_SF_DIR).
    Replays: identical numpy k-means fit -> per-vector argmin assignment
    over the inlined centroid literals (same (d2, centroid) tie-break as
    ivf_centroid_expr) -> probe filter with the SAME probe ids
    (ivf_probe_ids on the same fit) -> exact cosine top-k."""
    import numpy as np

    from .operators.similarity import ivf_probe_ids

    if sf_dir is None:
        sf_dir = _os.environ.get(
            "SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01"
        )

    def make() -> str:
        cents = np.asarray(_ivf_gate_centroids(sf_dir))
        X, vec_ids = _ivf_gate_data(sf_dir)
        qv = X[vec_ids.index(_IVF_QVEC)]
        probes = ivf_probe_ids(cents, qv, _IVF_NPROBE)

        def vec_lit(c) -> str:
            return "[" + ", ".join(repr(float(x)) for x in c) + "]::DOUBLE[]"

        cent_rows = ",\n  ".join(
            f"({i}, {vec_lit(c)})" for i, c in enumerate(cents)
        )
        return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cent(cid, cv) AS (VALUES
  {cent_rows}
),
d AS (
  SELECT vec_id, v, cid,
         list_sum(list_transform(list_zip(v, cv), s -> (s[1]-s[2])*(s[1]-s[2]))) AS d2
  FROM e, cent
),
a AS (
  SELECT vec_id, v, cid FROM d
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cid ASC) = 1
),
q AS (SELECT v AS qv FROM e WHERE vec_id = {_IVF_QVEC}),
cand AS (SELECT vec_id, v FROM a WHERE cid IN ({", ".join(map(str, probes))})),
scored AS (
  SELECT vec_id,
         list_dot_product(v, (SELECT qv FROM q))
         / (sqrt(list_dot_product(v, v)) * sqrt((SELECT list_dot_product(qv, qv) FROM q))) AS cos
  FROM cand
)
SELECT vec_id, round(cos, 4) AS cos_r FROM scored ORDER BY cos DESC, vec_id ASC LIMIT 10
"""

    return _gate_memo("ivf_sql", sf_dir, make)


def q_embedding_near_dup(spark, sf_dir) -> DataFrame:
    """Exact embedding-cosine near-dup pairs (vec_id < 300)."""
    from .operators.similarity import cosine_near_dup_pairs

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").filter(F.col("vec_id") < 300)
    return (
        cosine_near_dup_pairs(emb, threshold=_EMB_DUP_T)
        .select("va", "vb", F.round("cos", 4).alias("cos_r"))
        .orderBy("va", "vb")
    )


SQL_EMBEDDING_NEAR_DUP = f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
  FROM embeddings WHERE vec_id < 300
)
SELECT a.vec_id AS va, b.vec_id AS vb,
       round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 4) AS cos_r
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= {_EMB_DUP_T}
ORDER BY va, vb
"""


def q_embedding_near_dup_lsh(spark, sf_dir) -> DataFrame:
    """LSH-accelerated near-dup pairs; the oracle replays the identical
    deterministic bucket assignment (inlined planes) and candidate
    self-join, so the approximate result is checked EXACTLY."""
    from .operators.similarity import lsh_near_dup_pairs

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").filter(F.col("vec_id") < 300)
    return (
        lsh_near_dup_pairs(emb, threshold=_EMB_DUP_T, n_planes=6, n_tables=6)
        .select("va", "vb", F.round("cos", 4).alias("cos_r"))
        .orderBy("va", "vb")
    )


def _sql_embedding_near_dup_lsh() -> str:
    import numpy as np

    from .operators.similarity import _planes

    tables = [_planes(64, 6, 1234 + 7919 * t) for t in range(6)]

    def plane_lit(p: np.ndarray) -> str:
        return "[" + ", ".join(repr(float(x)) for x in p) + "]::DOUBLE[]"

    buckets = []
    for t, planes in enumerate(tables):
        bits = [
            f"CASE WHEN list_dot_product(v, {plane_lit(p)}) > 0 THEN {1 << i} ELSE 0 END"
            for i, p in enumerate(planes)
        ]
        buckets.append(f"SELECT {t} AS tbl, (" + " + ".join(bits) + ") AS bucket, vec_id, v FROM e")
    return f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id < 300
),
idx AS ({' UNION ALL '.join(buckets)}),
cand AS (
  SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb, a.v AS xa, b.v AS xb
  FROM idx a JOIN idx b ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id
),
scored AS (
  SELECT va, vb,
         list_dot_product(xa, xb)
         / (sqrt(list_dot_product(xa, xa)) * sqrt(list_dot_product(xb, xb))) AS cos
  FROM cand
)
SELECT va, vb, round(cos, 4) AS cos_r FROM scored WHERE cos >= {_EMB_DUP_T} ORDER BY va, vb
"""


SQL_EMBEDDING_NEAR_DUP_LSH = _sql_embedding_near_dup_lsh()


def q_media_features(spark, sf_dir) -> DataFrame:
    """Multimodal feature extraction (rows-only entry: real binary codec
    work has no SQL analog). 90% of rows now REALLY decode — PCM16 WAV,
    P6 PPM and 8-bit PNG via the pure-numpy/stdlib codecs — and their
    features are grounded in the decoded signal; the remaining 10% are
    explicit unknown-mime video/mp4 rows exercising the documented
    deterministic fallback (coverage pinned in test_multimodal)."""
    from .operators.multimodal import extract_features, synth_media

    media = synth_media(spark, n=48)
    feats = extract_features(media)
    return (
        feats.select("asset_id", "kind", F.round(F.aggregate("feature", F.lit(0.0), lambda a, x: a + x), 4).alias("feat_sum"))
        .orderBy("asset_id")
    )


# ---------------------------------------------------------------------------
# B/C/D analogs on the relational tables
# ---------------------------------------------------------------------------
def q_pricing_summary(spark, sf_dir) -> DataFrame:
    """C5/C7 analog (TPC-H Q1 shape): grouped aggregates with map-side
    partial aggregation."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


SQL_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       CAST(count(*) AS BIGINT) AS n_rows
FROM lineitem GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus
"""


def q_semi_join_filter(spark, sf_dir) -> DataFrame:
    """B1 analog (dictionary semi-join filter,
    /root/reference/osm/handler/handler.go:94-103): customers with >=1
    order, counted per nation."""
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return (
        c.join(o.select(F.col("o_custkey").alias("c_custkey")).distinct(), "c_custkey", "left_semi")
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).cast("long").alias("n_cust"))
        .orderBy("c_nationkey")
    )


SQL_SEMI_JOIN_FILTER = """
SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_cust
FROM customer WHERE c_custkey IN (SELECT o_custkey FROM orders)
GROUP BY c_nationkey ORDER BY c_nationkey
"""


def q_join_enrich(spark, sf_dir) -> DataFrame:
    """D1/D3 analog (hash-lookup enrichment join,
    /root/reference/osm/xroads.go:38-40): revenue per market segment via
    lineitem -> orders -> customer, dims broadcast."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count(F.lit(1)).cast("long").alias("n_items"),
        )
        .orderBy("c_mktsegment")
    )


SQL_JOIN_ENRICH = """
SELECT c_mktsegment,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       CAST(count(*) AS BIGINT) AS n_items
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment ORDER BY c_mktsegment
"""


def q_having_groups(spark, sf_dir) -> DataFrame:
    """C4 analog (HAVING over collect_set cardinality): users with >= 3
    distinct event types."""
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        e.groupBy("user_id")
        .agg(F.countDistinct("event_type").cast("long").alias("n_types"))
        .filter(F.col("n_types") >= 3)
        .orderBy("user_id")
    )


SQL_HAVING_GROUPS = """
SELECT user_id, CAST(count(DISTINCT event_type) AS BIGINT) AS n_types
FROM events GROUP BY user_id HAVING count(DISTINCT event_type) >= 3 ORDER BY user_id
"""


def q_dedup_sort_concat(spark, sf_dir) -> DataFrame:
    """C2+C3+B9 analog (ariadna's uniqString + sort + join-with-space,
    /root/reference/osm/xroads.go:33-51): per user, sorted distinct event
    types concatenated."""
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        e.groupBy("user_id")
        .agg(F.concat_ws(" ", F.array_sort(F.collect_set("event_type"))).alias("types"))
        .orderBy("user_id")
    )


SQL_DEDUP_SORT_CONCAT = """
SELECT user_id, array_to_string(list_sort(list_distinct(list(event_type))), ' ') AS types
FROM events GROUP BY user_id ORDER BY user_id
"""


def q_union_fanout(spark, sf_dir) -> DataFrame:
    """C6 analog (3 concurrent sub-pipelines into one sink,
    /root/reference/osm/osm.go:84-86): three filtered projections unioned,
    counted per source tag."""
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    a = e.filter(F.col("value") > 50).select(F.lit("hot").alias("src"), "event_id")
    b = e.filter(F.col("event_type") == "click").select(F.lit("clicks").alias("src"), "event_id")
    c = e.filter(F.col("user_id") % 10 == 0).select(F.lit("decile").alias("src"), "event_id")
    return (
        a.unionByName(b).unionByName(c)
        .groupBy("src")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy("src")
    )


SQL_UNION_FANOUT = """
SELECT src, CAST(count(*) AS BIGINT) AS n FROM (
  SELECT 'hot' AS src, event_id FROM events WHERE value > 50
  UNION ALL SELECT 'clicks', event_id FROM events WHERE event_type = 'click'
  UNION ALL SELECT 'decile', event_id FROM events WHERE user_id % 10 = 0
) GROUP BY src ORDER BY src
"""


def q_prefix_norm(spark, sf_dir) -> DataFrame:
    """B5 analog (street-prefix dictionary rewrite,
    /root/reference/osm/utils.go:42-59): extract a leading dictionary token
    into its own column, keep the remainder length."""
    docs = load_docs(spark, sf_dir)
    pat = "^(the|a|spark) "
    return (
        docs.select(
            "doc_id",
            F.regexp_extract("content", pat, 1).alias("prefix"),
            F.length(F.regexp_replace("content", pat, "")).alias("rest_len"),
        )
        .filter(F.col("prefix") != "")
        .orderBy("doc_id")
    )


SQL_PREFIX_NORM = """
SELECT doc_id, regexp_extract(text, '^(the|a|spark) ', 1) AS prefix,
       CAST(length(regexp_replace(text, '^(the|a|spark) ', '')) AS INT) AS rest_len
FROM documents WHERE regexp_extract(text, '^(the|a|spark) ', 1) <> '' ORDER BY doc_id
"""


def q_window_agg(spark, sf_dir) -> DataFrame:
    """Tumbling event-time window aggregation (the batch face of the
    streaming windowed-agg operator; F.window aligns to epoch, so 1-hour
    tumbling == date_trunc('hour'))."""
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(F.sum("value"), 2).alias("sum_v"),
        )
        .select(F.col("w.start").alias("w_start"), "event_type", "n", "sum_v")
        .orderBy("w_start", "event_type")
    )


SQL_WINDOW_AGG = """
SELECT date_trunc('hour', ts) AS w_start, event_type,
       CAST(count(*) AS BIGINT) AS n, round(sum(value), 2) AS sum_v
FROM events GROUP BY 1, 2 ORDER BY 1, 2
"""


def q_json_extract(spark, sf_dir) -> DataFrame:
    """JSON property extraction (B7's inverse: parse, not serialize):
    props is a JSON string column; group by a derived key."""
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        e.groupBy(F.pmod(k, F.lit(10)).alias("k_mod"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(F.avg("value"), 4).alias("avg_v"),
        )
        .orderBy("k_mod")
    )


SQL_JSON_EXTRACT = """
SELECT CAST(props->>'$.k' AS INT) % 10 AS k_mod,
       CAST(count(*) AS BIGINT) AS n, round(avg(value), 4) AS avg_v
FROM events GROUP BY 1 ORDER BY 1
"""


def q_window_rank(spark, sf_dir) -> DataFrame:
    """Window function: top-balance customer per nation."""
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    w = Window.partitionBy("c_nationkey").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return (
        c.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("c_nationkey", "c_custkey", F.round("c_acctbal", 2).alias("bal_r"))
        .orderBy("c_nationkey")
    )


SQL_WINDOW_RANK = """
SELECT c_nationkey, c_custkey, round(c_acctbal, 2) AS bal_r FROM (
  SELECT *, row_number() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey ASC) AS rn
  FROM customer
) WHERE rn = 1 ORDER BY c_nationkey
"""


# ---------------------------------------------------------------------------
# r6 late surface: simple_query_string / collapse / top_hits / dis_max /
# rank_eval — the remaining ES result-shaping verbs of the delegated
# `_search` surface (/root/reference/elastic/elastic.go passthrough)
# ---------------------------------------------------------------------------
_BM25_SCORE_SQL = duckdb_bm25_sql(
    "tf.tf", "dfreq.df", "dl.doc_len", "(SELECT n FROM stats)", "(SELECT avgdl FROM stats)"
)


def _scored_cte(terms: list[str]) -> str:
    tlist = ", ".join(f"'{t}'" for t in sorted(set(terms)))
    return f"""
  SELECT tf.doc_id, sum({_BM25_SCORE_SQL}) AS s
  FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id)
  WHERE tf.term IN ({tlist}) GROUP BY tf.doc_id"""


# one string exercising the whole simple_query_string dialect in term
# mode: a must (+), a default-operator should, a must_not (-), and a
# non-scoring field filter
_QS_STRING = "+table scan -window lang:fr"


def q_query_string(spark, sf_dir) -> DataFrame:
    """ES `simple_query_string` (the one-line dialect of the delegated
    `_search` surface; /root/reference/elastic/elastic.go passthrough):
    `+table scan -window lang:fr` parses to must=table, should=scan
    (default_operator or, minimum_should_match 1), must_not=window and a
    non-scoring lang filter, compiling onto the pruned bool_topk plan —
    one block read, one rid shuffle, filter ids riding it as pseudo-rows.
    Stats stay GLOBAL (ES filter context). Oracle: the bool brute-force
    SQL with the filter as a WHERE over documents."""
    from .query_dsl import compile_search

    reader = _wand_gate_reader(spark, sf_dir)
    body = {
        "query": {"simple_query_string": {"query": _QS_STRING, "default_operator": "or"}},
        "size": _WAND_K,
    }
    out = compile_search(reader, body)
    return out.select("doc_id", F.round("score", 4).alias("score_r"))


def _sql_query_string() -> str:
    m, s, n = ["table"], ["scan"], ["window"]
    q = lambda ts: ", ".join(f"'{t}'" for t in ts)  # noqa: E731
    return (
        _SQL_PRELUDE
        + f"""
, scored AS (
  SELECT tf.doc_id,
         sum(CASE WHEN tf.term IN ({q(m + s)}) THEN {_BM25_SCORE_SQL} ELSE 0 END) AS s,
         count(DISTINCT CASE WHEN tf.term IN ({q(m)}) THEN tf.term END) AS n_must,
         count(DISTINCT CASE WHEN tf.term IN ({q(s)}) THEN tf.term END) AS n_should,
         max(CASE WHEN tf.term IN ({q(n)}) THEN 1 ELSE 0 END) AS hit_not
  FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id)
  WHERE tf.term IN ({q(m + s + n)})
  GROUP BY tf.doc_id
)
SELECT doc_id, round(s, 4) AS score_r
FROM scored
WHERE n_must = {len(m)} AND n_should >= 1 AND hit_not = 0
  AND doc_id IN (SELECT doc_id FROM documents WHERE lang = 'fr')
ORDER BY s DESC, doc_id ASC LIMIT {_WAND_K}
"""
    )


SQL_QUERY_STRING = _sql_query_string()


def q_collapse_topk(spark, sf_dir) -> DataFrame:
    """ES `collapse`: the relevance ranking deduplicated by repo — each
    repo's best hit only, cut to k (the "one hit per repository" result
    shape a code-search UI wants). Exhaustive disjunctive Arrow kernel
    (pruning can't cut early: any repo may still need its
    representative), docmap equi-join for the group key, ONE window
    shuffle partitioned by repo, TakeOrdered k."""
    from .operators.ranking import collapse_topk
    from .query_dsl import compile_search

    reader = _wand_gate_reader(spark, sf_dir)
    body = {
        "query": {"match": {"content": _WAND_QUERY}},
        "collapse": {"field": "repo"},
        "size": _WAND_K,
    }
    out = compile_search(reader, body)
    return out.select("repo", "doc_id", F.round("score", 4).alias("score_r"))


SQL_COLLAPSE_TOPK = (
    _SQL_PRELUDE
    + f"""
, scored AS ({_scored_cte(tokenize_py(_WAND_QUERY))}
), g AS (
  SELECT 'corpus/' || d.source AS repo, s.doc_id, s.s,
         row_number() OVER (PARTITION BY d.source ORDER BY s.s DESC, s.doc_id ASC) AS rn
  FROM scored s JOIN documents d USING (doc_id)
)
SELECT repo, doc_id, round(s, 4) AS score_r
FROM g WHERE rn = 1 ORDER BY s DESC, doc_id ASC LIMIT {_WAND_K}
"""
)


def q_top_hits(spark, sf_dir) -> DataFrame:
    """ES `terms` agg with a `top_hits` sub-agg: every lang bucket's top-3
    hits by BM25, through the `_search` body compiler. Same plan family
    as collapse (exhaustive scores + docmap join) with the window keeping
    rank <= 3 per bucket instead of 1."""
    from .query_dsl import compile_search

    reader = _wand_gate_reader(spark, sf_dir)
    body = {
        "size": 0,
        "query": {"match": {"content": _WAND_QUERY}},
        "aggs": {"by_lang": {"terms": {"field": "lang"}, "aggs": {"top": {"top_hits": {"size": 3}}}}},
    }
    out = compile_search(reader, body)
    return out.select("bucket", "rank", "doc_id", F.round("score", 4).alias("score_r"))


SQL_TOP_HITS = (
    _SQL_PRELUDE
    + f"""
, scored AS ({_scored_cte(tokenize_py(_WAND_QUERY))}
), g AS (
  SELECT d.lang AS bucket, s.doc_id, s.s,
         CAST(row_number() OVER (PARTITION BY d.lang ORDER BY s.s DESC, s.doc_id ASC) AS INT) AS rank
  FROM scored s JOIN documents d USING (doc_id)
)
SELECT bucket, rank, doc_id, round(s, 4) AS score_r
FROM g WHERE rank <= 3 ORDER BY bucket, rank
"""
)


_DISMAX_CLAUSES = ["merge join", "window scan", "table group"]
_DISMAX_TIE = 0.3


def q_dis_max(spark, sf_dir) -> DataFrame:
    """ES `dis_max`: score = best clause + tie_breaker * (sum of the
    rest), three match clauses. ONE block read for the union of all
    clauses' terms, one rid shuffle, per-clause exhaustive scores from
    the multiquery Arrow kernel, map-side-partial groupBy(doc_id)
    combine, TakeOrdered k."""
    from .query_dsl import compile_search

    reader = _wand_gate_reader(spark, sf_dir)
    body = {
        "query": {
            "dis_max": {
                "queries": [{"match": {"content": c}} for c in _DISMAX_CLAUSES],
                "tie_breaker": _DISMAX_TIE,
            }
        },
        "size": _WAND_K,
    }
    out = compile_search(reader, body)
    return out.select("doc_id", F.round("score", 4).alias("score_r"))


def _sql_dis_max() -> str:
    parts = []
    for i, c in enumerate(_DISMAX_CLAUSES):
        parts.append(f"SELECT {i} AS cid, doc_id, s FROM (\n{_scored_cte(tokenize_py(c))})")
    u = "\nUNION ALL\n".join(parts)
    return (
        _SQL_PRELUDE
        + f"""
, cs AS (
{u}
), comb AS (
  SELECT doc_id, max(s) AS best, sum(s) AS total FROM cs GROUP BY doc_id
)
SELECT doc_id, round(best + {_DISMAX_TIE} * (total - best), 4) AS score_r
FROM comb
ORDER BY best + {_DISMAX_TIE} * (total - best) DESC, doc_id ASC LIMIT {_WAND_K}
"""
    )


SQL_DIS_MAX = _sql_dis_max()


_BOOSTING_POS = "table scan"
_BOOSTING_NEG = "window"
_BOOSTING_NB = 0.4
# k=12 for the rescoring verbs, NOT _WAND_K: the synthetic corpus has
# exact-duplicate docs, and at k=10 both queries' raw cut lands ON a
# bit-identical score tie (function_score docs 129/218, boosting
# 226/407 at sf0.01). The engine breaks ties by doc_id, but the
# oracle's parallel DuckDB sum() can differ in the last ULP and break
# the SAME tie the other way — a flaky hash. k=12 puts each tie pair
# strictly inside the cut (11->12 gaps are 3.5e-3 / 5.5e-3, far above
# ULP noise).
_RESCORE_K = 12


def q_boosting(spark, sf_dir) -> DataFrame:
    """ES `boosting` query (must_not's softer sibling on the delegated
    `_search` surface; /root/reference/elastic/elastic.go passthrough):
    positive-match docs score BM25; those ALSO matching the negative
    clause are demoted by negative_boost instead of excluded. One block
    read for both clauses' terms through the multiquery kernel, map-side
    partial combine."""
    from .query_dsl import compile_search

    reader = _wand_gate_reader(spark, sf_dir)
    body = {
        "query": {
            "boosting": {
                "positive": {"match": {"content": _BOOSTING_POS}},
                "negative": {"match": {"content": _BOOSTING_NEG}},
                "negative_boost": _BOOSTING_NB,
            }
        },
        "size": _RESCORE_K,
    }
    return compile_search(reader, body).select(
        "doc_id", F.round("score", 4).alias("score_r")
    )


def _sql_boosting() -> str:
    return (
        _SQL_PRELUDE
        + f"""
, cs AS (
SELECT 0 AS cid, doc_id, s FROM (
{_scored_cte(tokenize_py(_BOOSTING_POS))})
UNION ALL
SELECT 1 AS cid, doc_id, s FROM (
{_scored_cte(tokenize_py(_BOOSTING_NEG))})
), comb AS (
  SELECT doc_id,
         max(CASE WHEN cid = 0 THEN s END) AS pos,
         max(CASE WHEN cid = 1 THEN s END) AS neg
  FROM cs GROUP BY doc_id
)
SELECT doc_id,
       round(pos * CASE WHEN neg IS NOT NULL THEN CAST({_BOOSTING_NB} AS DOUBLE) ELSE 1.0 END, 4) AS score_r
FROM comb WHERE pos IS NOT NULL
ORDER BY pos * CASE WHEN neg IS NOT NULL THEN CAST({_BOOSTING_NB} AS DOUBLE) ELSE 1.0 END DESC,
         doc_id ASC
LIMIT {_RESCORE_K}
"""
    )


SQL_BOOSTING = _sql_boosting()


_FVF_FACTOR = 0.1


def q_function_score(spark, sf_dir) -> DataFrame:
    """ES `function_score` + `field_value_factor` (the delegated `_search`
    surface's rescoring verb): score' = bm25 * log10(1 + 0.1 * doc_len) —
    longer docs boosted on a log scale. Rescoring reorders, so WAND's
    bm25-only bound can't prune: exhaustive candidate pass + docmap join
    + TakeOrdered (the collapse/top_hits cost class)."""
    from .query_dsl import compile_search

    reader = _wand_gate_reader(spark, sf_dir)
    body = {
        "query": {
            "function_score": {
                "query": {"match": {"content": _WAND_QUERY}},
                "field_value_factor": {
                    "field": "doc_len",
                    "factor": _FVF_FACTOR,
                    "modifier": "log1p",
                },
                "boost_mode": "multiply",
            }
        },
        "size": _RESCORE_K,
    }
    return compile_search(reader, body).select(
        "doc_id", F.round("score", 4).alias("score_r")
    )


SQL_FUNCTION_SCORE = (
    _SQL_PRELUDE
    + f"""
, scored AS ({_scored_cte(tokenize_py(_WAND_QUERY))}
)
SELECT s.doc_id,
       round(s.s * log10(1.0 + CAST({_FVF_FACTOR} AS DOUBLE) * dl.doc_len), 4) AS score_r
FROM scored s JOIN dl ON s.doc_id = dl.doc_id
ORDER BY s.s * log10(1.0 + CAST({_FVF_FACTOR} AS DOUBLE) * dl.doc_len) DESC, s.doc_id ASC
LIMIT {_RESCORE_K}
"""
)


_WILDCARD_PAT = "*er*"


def q_wildcard(spark, sf_dir) -> DataFrame:
    """ES `wildcard` query (edge-anchored; the delegated `_search`
    surface): `*er*` expands against the index vocabulary in ONE
    terms-table scan (the accelerated-grep expansion — 5 terms at the
    gate sf) and the union scores as a disjunctive BM25 query through
    the block-max WAND kernel, each term with its own df/idf. Oracle:
    the scored CTE with the expansion replayed as `term LIKE '%er%'`
    over the df table — engine vocabulary == oracle vocabulary by
    construction."""
    from .query_dsl import compile_search

    reader = _wand_gate_reader(spark, sf_dir)
    body = {"query": {"wildcard": {"content": {"value": _WILDCARD_PAT}}}, "size": _WAND_K}
    return compile_search(reader, body).select(
        "doc_id", F.round("score", 4).alias("score_r")
    )


SQL_WILDCARD = (
    _SQL_PRELUDE
    + f"""
, scored AS (
  SELECT tf.doc_id, sum({_BM25_SCORE_SQL}) AS s
  FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id)
  WHERE tf.term IN (SELECT term FROM dfreq WHERE term LIKE '%er%')
  GROUP BY tf.doc_id
)
SELECT doc_id, round(s, 4) AS score_r
FROM scored ORDER BY s DESC, doc_id ASC LIMIT {_WAND_K}
"""
)


_REGEXP_PAT = "s(can|ort)"


def q_regexp_topk(spark, sf_dir) -> DataFrame:
    """ES `regexp` query (term-level, whole-term anchored; the delegated
    `_search` surface): the pattern matches against the primary-field
    vocabulary in ONE terms-table scan ({scan, sort} at the gate sf) and
    the expansion scores as a disjunctive BM25 WAND query. Oracle
    replays the anchor with DuckDB regexp_full_match over the df table —
    Java-regex and RE2 agree on this dialect subset by construction of
    the gate pattern."""
    from .query_dsl import compile_search

    reader = _wand_gate_reader(spark, sf_dir)
    body = {"query": {"regexp": {"content": {"value": _REGEXP_PAT}}}, "size": _WAND_K}
    return compile_search(reader, body).select(
        "doc_id", F.round("score", 4).alias("score_r")
    )


SQL_REGEXP_TOPK = (
    _SQL_PRELUDE
    + f"""
, scored AS (
  SELECT tf.doc_id, sum({_BM25_SCORE_SQL}) AS s
  FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id)
  WHERE tf.term IN (SELECT term FROM dfreq WHERE regexp_full_match(term, '{_REGEXP_PAT}'))
  GROUP BY tf.doc_id
)
SELECT doc_id, round(s, 4) AS score_r
FROM scored ORDER BY s DESC, doc_id ASC LIMIT {_WAND_K}
"""
)


_RESCORE_WINDOW = 20
_RESCORE_RQ = "merge join"
_RESCORE_RQW = 0.7
# 1.99 sits mid-gap between combined ranks 7/8 (1.9928 / 1.9869 at
# sf0.01) so the floor REALLY cuts (8 of 10 rows survive) and no value
# is within ULP reach of the threshold on either engine
_RESCORE_MIN = 1.99


def q_rescore_topk(spark, sf_dir) -> DataFrame:
    """ES `rescore` + `min_score` (the delegated `_search` surface's
    window rescoring): the primary match keeps its block-max pruning (a
    top-window WAND job, NOT an exhaustive pass), then only the window's
    docs are rescored by the secondary match — combined = 1.0 * primary
    + 0.7 * secondary — cut to k and floored by min_score. The secondary
    pass decodes only the rid ranges containing window ids. Oracle
    replays window -> left-join -> combine -> floor in SQL."""
    from .query_dsl import compile_search

    reader = _wand_gate_reader(spark, sf_dir)
    body = {
        "query": {"match": {"content": _WAND_QUERY}},
        "rescore": {
            "window_size": _RESCORE_WINDOW,
            "query": {
                "rescore_query": {"match": {"content": _RESCORE_RQ}},
                "query_weight": 1.0,
                "rescore_query_weight": _RESCORE_RQW,
            },
        },
        "size": _WAND_K,
        "min_score": _RESCORE_MIN,
    }
    return compile_search(reader, body).select(
        "doc_id", F.round("score", 4).alias("score_r")
    )


def _sql_rescore_topk() -> str:
    return (
        _SQL_PRELUDE
        + f"""
, scored AS ({_scored_cte(tokenize_py(_WAND_QUERY))}
), win AS (
  SELECT doc_id, s FROM scored ORDER BY s DESC, doc_id ASC LIMIT {_RESCORE_WINDOW}
), sec AS (
  SELECT doc_id, s AS s2 FROM ({_scored_cte(tokenize_py(_RESCORE_RQ))})
), fin AS (
  SELECT w.doc_id,
         1.0 * w.s + CAST({_RESCORE_RQW} AS DOUBLE) * coalesce(x.s2, 0.0) AS c
  FROM win w LEFT JOIN sec x ON w.doc_id = x.doc_id
)
SELECT doc_id, round(c, 4) AS score_r
FROM fin WHERE c >= CAST({_RESCORE_MIN} AS DOUBLE)
ORDER BY c DESC, doc_id ASC LIMIT {_WAND_K}
"""
    )


SQL_RESCORE_TOPK = _sql_rescore_topk()


_RANKEVAL_K = 5


def q_rank_eval(spark, sf_dir) -> DataFrame:
    """ES `_rank_eval`: the whole reference query set runs through ONE
    topk_many job; graded relevance judgments (rating = the doc's tf of
    each query's first analyzed token — deterministic from the corpus,
    both sides derive them identically) broadcast-join the <= k hit rows;
    per-query precision@k, MRR and DCG@k. The absent-term query (id 6)
    reports zeros, never a dropped row."""
    from .operators.ranking import rank_eval

    reader = _wand_gate_reader(spark, sf_dir)
    _, tf = _docs_tf(spark, sf_dir)
    jt = spark.createDataFrame(
        [(qid, tokenize_py(q)[0]) for qid, q, _ in REFERENCE_QUERIES],
        "query_id long, term string",
    )
    ratings = tf.join(F.broadcast(jt), "term").select(
        "query_id", "doc_id", F.col("tf").cast("double").alias("rating")
    )
    return rank_eval(
        reader, [(qid, q) for qid, q, _ in REFERENCE_QUERIES], ratings, k=_RANKEVAL_K
    )


def _sql_rank_eval() -> str:
    ranked = []
    judge = []
    for qid, qtext, _ in REFERENCE_QUERIES:
        terms = sorted(set(tokenize_py(qtext)))
        judge.append(f"({qid}, '{tokenize_py(qtext)[0]}')")
        if not terms:
            continue
        tlist = ", ".join(f"'{t}'" for t in terms)
        ranked.append(
            f"""
(SELECT CAST({qid} AS BIGINT) AS query_id,
        CAST(row_number() OVER (ORDER BY s DESC, doc_id ASC) AS INT) AS rank, doc_id
 FROM (SELECT tf.doc_id, sum({_BM25_SCORE_SQL}) AS s
       FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id)
       WHERE tf.term IN ({tlist}) GROUP BY tf.doc_id)
 ORDER BY s DESC, doc_id ASC LIMIT {_RANKEVAL_K})"""
        )
    ids = ", ".join(f"({qid})" for qid, _, _ in REFERENCE_QUERIES)
    return (
        _SQL_PRELUDE
        + f"""
, ranked AS ({" UNION ALL ".join(ranked)}
), ratings AS (
  SELECT jt.query_id, tf.doc_id, CAST(tf.tf AS DOUBLE) AS rating
  FROM tf JOIN (VALUES {", ".join(judge)}) AS jt(query_id, term) ON tf.term = jt.term
), j AS (
  SELECT r.query_id, r.rank, coalesce(rt.rating, 0.0) AS rating
  FROM ranked r LEFT JOIN ratings rt ON r.query_id = rt.query_id AND r.doc_id = rt.doc_id
), m AS (
  SELECT query_id,
         round(sum(CASE WHEN rating >= 1 THEN 1.0 ELSE 0.0 END) / {_RANKEVAL_K}, 4) AS p_at_k,
         round(coalesce(max(CASE WHEN rating >= 1 THEN 1.0 / rank END), 0.0), 4) AS mrr,
         round(sum(rating / log2(rank + 1)), 4) AS dcg
  FROM j GROUP BY query_id
)
SELECT CAST(q.query_id AS BIGINT) AS query_id,
       coalesce(m.p_at_k, 0.0) AS p_at_k,
       coalesce(m.mrr, 0.0) AS mrr,
       coalesce(m.dcg, 0.0) AS dcg
FROM (VALUES {ids}) AS q(query_id) LEFT JOIN m ON m.query_id = q.query_id
ORDER BY query_id
"""
    )


SQL_RANK_EVAL = _sql_rank_eval()


# ---------------------------------------------------------------------------
# Registry
# ---------------------------------------------------------------------------
# ORDER MATTERS: the driver checks the FIRST 50 entries each round.
# Keep every query that is new this round, or whose underlying operator
# code changed this round, inside positions 0-49; long-stable hash-green
# queries with unchanged code rotate to the tail (their last green round
# is recorded in VERDICT history).
QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    # -- new in r6: significant_terms / percolate / RRF hybrid --
    "significant_terms": q_significant_terms,  # r6: JLH aggs verb
    "percolate": q_percolate,  # r6: reverse search (stored queries)
    "rrf_hybrid": q_rrf_hybrid,  # r6: BM25 (+) dense RRF retriever
    "query_string": q_query_string,  # r6: simple_query_string dialect
    "collapse_topk": q_collapse_topk,  # r6: ES collapse (best hit per repo)
    "top_hits": q_top_hits,  # r6: terms agg + top_hits sub-agg
    "dis_max": q_dis_max,  # r6: dis_max tie_breaker scoring
    "rank_eval": q_rank_eval,  # r6: _rank_eval metrics (p@k, MRR, DCG)
    "boosting": q_boosting,  # r6: demote-don't-exclude negative clause
    "function_score": q_function_score,  # r6: field_value_factor rescore
    "rescore_topk": q_rescore_topk,  # r6: window rescore + min_score
    "wildcard": q_wildcard,  # r6: edge-anchored vocabulary expansion
    "regexp_topk": q_regexp_topk,  # r6: whole-term regexp expansion
    # -- core fulltext surface (cheap, anchor the window) --
    "bm25_flagship": q_bm25_flagship,
    "bm25_queryset": q_bm25_queryset,
    "wand_topk": q_wand_topk,
    "search_after": q_search_after,
    "filtered_bm25": q_filtered_bm25,
    "bool_topk": q_bool_topk,
    "es_search_dsl": q_es_search_dsl,  # r6: _search body compiler
    "es_msearch": q_es_msearch,  # r6: batched _msearch (one topk_many job)
    "es_mget": q_es_mget,  # r6: _mget through the tombstone-masked docmap
    "es_aggs_dsl": q_es_aggs_dsl,  # r6: aggs half of the body compiler
    "prefix_topk": q_prefix_topk,
    "fuzzy_topk": q_fuzzy_topk,
    "match_aggs": q_match_aggs,
    "sorted_search": q_sorted_search,  # r6: flt-before-narrow fix
    "term_vectors": q_term_vectors,  # r6: csv positions (canonicalizer fix)
    "match_count": q_match_count,
    "phrase_topk": q_phrase_topk,
    "filtered_phrase": q_filtered_phrase,  # r6: NEW (filter context on positional paths)
    "phrase_prefix": q_phrase_prefix,
    "near_topk": q_near_topk,
    # -- lifecycle / maintenance verbs --
    "delete_by_query": q_delete_by_query,  # r6: replay republish fix
    "update_by_query": q_update_by_query,  # r6: NEW
    "snapshot_restore": q_snapshot_restore,  # r6: NEW
    "attach_index": q_attach_index,  # r6: NEW
    "alias_rotation": q_alias_rotation,  # r6: alias swap + GC lifecycle
    # -- multifield --
    "multifield_bm25": q_multifield_bm25,
    "multifield_indexed": q_multifield_indexed,
    "multifield3": q_multifield3,  # r6: NEW (3-field BM25F WAND)
    "multifield_onepass": q_multifield_onepass,  # r6: NEW (single-store BM25F)
    # -- training-pipeline ops changed in r5, never driver-checked since --
    "chunk_documents": q_chunk_documents,
    "collocations": q_collocations,
    "perplexity_quality": q_perplexity,
    "repetition_metrics": q_repetition,
    "training_pipeline": q_training_pipeline,
    "regex_search": q_regex_search,
    "near_dup_clusters": q_near_dup_clusters,
    "duplicate_spans": q_duplicate_spans,  # r6: exact-substring dedup signal
    # -- stable pipeline ops kept in-window as regression anchors --
    "dedup_exact": q_dedup_exact,
    "dedup_keep_first": q_dedup_keep_first,
    "pii_scrub": q_pii_scrub,
    "decontaminate": q_decontaminate,
    "stratified_take": q_stratified_take,
    "doc_stats": q_doc_stats,  # rotated out r6: r1 scalar, unchanged since
    "train_val_split": q_train_val_split,
    "fingerprint": q_fingerprint,
    # ---- position 50+: rotated out (hash-green in a prior round, code
    # unchanged since) ----
    # rotated out r6 for the five new verbs: all r5 hash-green, and their
    # wand.py paths (suggest_terms/suggest_corrections/explain_score/
    # more_like_this/highlight_topk) are untouched by the r6 diff
    "suggest_complete": q_suggest_complete,
    "suggest_fuzzy": q_suggest_fuzzy,
    "explain_score": q_explain_score,
    "highlight_topk": q_highlight_topk,
    "more_like_this": q_more_like_this,
    # rotated out r6 for boosting/function_score: wand_queryset gates the
    # same _topk_terms path as the in-window wand_topk/search_after rows
    # (shared oracle with bm25_queryset); prefix_search's edge-ngram
    # expansion rides analyze.py, untouched since r1 (prefix_topk stays)
    "wand_queryset": q_wand_queryset,
    "prefix_search": q_prefix_search,
    # rotated out r6 for rescore_topk: r5 green; the facets path is
    # superseded in-window by match_aggs/es_aggs_dsl (grouping-sets) and
    # its own wand.py code is untouched by the r6 diff
    "facet_counts": q_facet_counts,
    # rotated out r6 for regexp_topk: r1-green brute-force posting
    # intersection over tf (stats.py scalar path, unchanged; the INDEXED
    # posting machinery is gated in-window by wand_topk/phrase/bool)
    "posting_intersection": q_posting_intersection,
    # rotated out r6 for wildcard: r5 green; its append/tombstone/compact
    # machinery is gated in-window by delete_by_query, update_by_query,
    # snapshot_restore, attach_index and alias_rotation
    "overwrite_reindex": q_overwrite_reindex,
    "near_dup_lsh": q_near_dup_lsh,
    "minhash_signatures": q_minhash_signatures,
    "minhash_shingles": q_minhash_shingles,
    "simhash": q_simhash,
    "simhash_pairs": q_simhash_pairs,
    "lang_id": q_lang_id,
    "token_counts": q_token_counts,
    "quality_metrics": q_quality_metrics,
    "theta_containment": q_theta_containment,
    "geo_knn": q_geo_knn,
    "geo_knn_batch": q_geo_knn_batch,
    "embedding_ann_batch": q_embedding_ann_batch,
    "embedding_ann_incremental": q_embedding_ann_incremental,
    "polygon_contains": q_polygon_contains,
    "embedding_lsh": q_embedding_lsh,
    "embedding_ivf": q_embedding_ivf,
    "embedding_near_dup": q_embedding_near_dup,
    "embedding_near_dup_lsh": q_embedding_near_dup_lsh,
    "media_features": q_media_features,
    "jaccard_pairs": q_jaccard_pairs,
    "text_quality": q_text_quality,
    "lang_profile": q_lang_profile,
    "embedding_topk": q_embedding_topk,
    "pricing_summary": q_pricing_summary,
    "semi_join_filter": q_semi_join_filter,
    "join_enrich": q_join_enrich,
    "having_groups": q_having_groups,
    "dedup_sort_concat": q_dedup_sort_concat,
    "union_fanout": q_union_fanout,
    "prefix_norm": q_prefix_norm,
    "window_rank": q_window_rank,
    "window_agg": q_window_agg,
    "json_extract": q_json_extract,
    # rotated out of the check window in r6 (hash-green since r1,
    # underlying stats.py path unchanged; term_counts last green r5)
    "term_counts": q_term_counts,
    "corpus_stats": q_corpus_stats,
    "doc_freq_idf": q_doc_freq_idf,
}

ORACLES: dict[str, str] = {
    "significant_terms": SQL_SIGNIFICANT_TERMS,
    "percolate": SQL_PERCOLATE,
    "rrf_hybrid": SQL_RRF_HYBRID,
    "query_string": SQL_QUERY_STRING,
    "collapse_topk": SQL_COLLAPSE_TOPK,
    "top_hits": SQL_TOP_HITS,
    "dis_max": SQL_DIS_MAX,
    "rank_eval": SQL_RANK_EVAL,
    "boosting": SQL_BOOSTING,
    "function_score": SQL_FUNCTION_SCORE,
    "rescore_topk": SQL_RESCORE_TOPK,
    "wildcard": SQL_WILDCARD,
    "regexp_topk": SQL_REGEXP_TOPK,
    "term_counts": SQL_TERM_COUNTS,
    "doc_stats": SQL_DOC_STATS,
    "corpus_stats": SQL_CORPUS_STATS,
    "doc_freq_idf": SQL_DOC_FREQ_IDF,
    "bm25_flagship": SQL_BM25_FLAGSHIP,
    "bm25_queryset": SQL_BM25_QUERYSET,
    "prefix_search": SQL_PREFIX_SEARCH,
    "posting_intersection": SQL_POSTING_INTERSECTION,
    "dedup_exact": SQL_DEDUP_EXACT,
    "dedup_keep_first": SQL_DEDUP_KEEP_FIRST,
    "near_dup_lsh": SQL_NEAR_DUP_LSH,
    "minhash_signatures": SQL_MINHASH_SIGNATURES,
    "minhash_shingles": SQL_MINHASH_SHINGLES,
    "simhash": SQL_SIMHASH,
    "simhash_pairs": SQL_SIMHASH_PAIRS,
    "embedding_lsh": SQL_EMBEDDING_LSH,
    "embedding_near_dup_lsh": SQL_EMBEDDING_NEAR_DUP_LSH,
    # media_features: rows-only (real WAV/PPM decode has no SQL analog;
    # video features are a documented deterministic fake)
    "lang_id": SQL_LANG_ID,
    "token_counts": SQL_TOKEN_COUNTS,
    "quality_metrics": SQL_QUALITY_METRICS,
    "wand_topk": SQL_WAND_TOPK,
    "search_after": SQL_SEARCH_AFTER,
    "filtered_bm25": SQL_FILTERED_BM25,
    "bool_topk": SQL_BOOL_TOPK,
    "es_search_dsl": SQL_ES_SEARCH_DSL,
    "es_msearch": SQL_ES_MSEARCH,
    "es_mget": SQL_ES_MGET,
    "es_aggs_dsl": SQL_ES_AGGS_DSL,
    "prefix_topk": SQL_PREFIX_TOPK,
    "fuzzy_topk": SQL_FUZZY_TOPK,
    "explain_score": SQL_EXPLAIN_SCORE,
    "highlight_topk": SQL_HIGHLIGHT_TOPK,
    "more_like_this": SQL_MORE_LIKE_THIS,
    "facet_counts": SQL_FACET_COUNTS,
    "match_aggs": SQL_MATCH_AGGS,
    "sorted_search": SQL_SORTED_SEARCH,
    "term_vectors": SQL_TERM_VECTORS,
    "match_count": SQL_MATCH_COUNT,
    "phrase_topk": SQL_PHRASE_TOPK,
    "filtered_phrase": SQL_FILTERED_PHRASE,
    "phrase_prefix": SQL_PHRASE_PREFIX,
    "near_topk": SQL_NEAR_TOPK,
    "wand_queryset": SQL_BM25_QUERYSET,
    "overwrite_reindex": SQL_OVERWRITE_REINDEX,
    "delete_by_query": SQL_DELETE_BY_QUERY,
    "update_by_query": SQL_UPDATE_BY_QUERY,
    "snapshot_restore": SQL_SNAPSHOT_RESTORE,
    "attach_index": SQL_ATTACH_INDEX,
    "alias_rotation": SQL_ALIAS_ROTATION,
    "multifield3": SQL_MULTIFIELD3,
    "multifield_onepass": SQL_MULTIFIELD3,
    "suggest_complete": SQL_SUGGEST_COMPLETE,
    "suggest_fuzzy": SQL_SUGGEST_FUZZY,
    "embedding_near_dup": SQL_EMBEDDING_NEAR_DUP,
    "multifield_bm25": SQL_MULTIFIELD_BM25,
    "multifield_indexed": SQL_MULTIFIELD_BM25,
    "theta_containment": SQL_THETA_CONTAINMENT,
    "geo_knn": SQL_GEO_KNN,
    "geo_knn_batch": SQL_GEO_KNN_BATCH,
    "embedding_ann_batch": SQL_EMBEDDING_ANN_BATCH,
    "embedding_ann_incremental": SQL_EMBEDDING_ANN_BATCH,
    "polygon_contains": SQL_POLYGON_CONTAINS,
    "jaccard_pairs": SQL_JACCARD_PAIRS,
    "text_quality": SQL_TEXT_QUALITY,
    "fingerprint": SQL_FINGERPRINT,
    "pii_scrub": SQL_PII_SCRUB,
    "chunk_documents": SQL_CHUNK_DOCUMENTS,
    "collocations": SQL_COLLOCATIONS,
    "perplexity_quality": SQL_PERPLEXITY,
    "repetition_metrics": SQL_REPETITION,
    "training_pipeline": SQL_TRAINING_PIPELINE,
    "stratified_take": SQL_STRATIFIED_TAKE,
    "regex_search": SQL_REGEX_SEARCH,
    "decontaminate": SQL_DECONTAMINATE,
    "near_dup_clusters": SQL_NEAR_DUP_CLUSTERS,
    "duplicate_spans": SQL_DUPLICATE_SPANS,
    "train_val_split": SQL_TRAIN_VAL_SPLIT,
    "lang_profile": SQL_LANG_PROFILE,
    "embedding_topk": SQL_EMBEDDING_TOPK,
    "pricing_summary": SQL_PRICING_SUMMARY,
    "semi_join_filter": SQL_SEMI_JOIN_FILTER,
    "join_enrich": SQL_JOIN_ENRICH,
    "having_groups": SQL_HAVING_GROUPS,
    "dedup_sort_concat": SQL_DEDUP_SORT_CONCAT,
    "union_fanout": SQL_UNION_FANOUT,
    "prefix_norm": SQL_PREFIX_NORM,
    "window_rank": SQL_WINDOW_RANK,
    "window_agg": SQL_WINDOW_AGG,
    "json_extract": SQL_JSON_EXTRACT,
}
