"""Benchmark of the ariadna_spark engine: seeded workloads, end-to-end
metrics, an independent BM25 correctness check and a traced per-layer run.

    python3 perfbench/run.py --workload search --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. It prints a table of the engine's
end-to-end figures (correct_ratio and error_ratio included) and, as the last
line of stdout, one JSON object: {"correct", "attempted", "failed",
"metrics"}. With ``--trace 0`` the metrics are the end-to-end ones below,
measured with tracing off; with ``--trace 1`` they are the per-layer ones,
and the spans are written to ``.perfbench_out/``. The exit code is non-zero
when any checked result differs from the reference or any operation fails.

Workloads (closed loop, one client, one Spark session of ``CORES`` cores,
a 2000-doc base corpus from ``corpus.synth_code_corpus_distributed``):

* ``search``: a seeded query set drawn from the base index's own terms
  table across df strata (1-4 terms, k in {10, 100}) runs for ``--seconds``
  as a cycle of one ``topk``, one ``phrase_topk`` and one ``topk_many`` over
  the whole set. Only the query layers (``operators.wand``,
  ``functions.varint``) work.
* ``ingest``: one seeded 100-doc ``append_segment`` per 10 s of
  ``--seconds`` (at least one), 30% of whose docs overwrite base keys, each
  followed by the whole query set and a phrase query on the reopened
  reader, merge-on-read across the tombstoned segments; then ``compact``
  and a query and a phrase query on the compacted index, which are checked
  but not timed. Small segment builds, tombstones and merge-on-read work.

End-to-end metrics (every workload reports every one):

* ``setup_s``: session start, corpus generation, the base build, reader open
  and the discarded warm-up queries (a pass over the query set and one
  query of each other plan shape the workload times).
* ``build_docs_per_s``: base docs / wall time of the base ``build_index``,
  the first build of the process.
* ``query_p50_ms``: one ``IndexReader.topk(...).collect()``; on ingest,
  on the reader reopened after an append.
* ``op_p50_ms``: the workload's own operation. search: one
  ``phrase_topk(...).collect()``; ingest: one ``append_segment``.
* ``bulk_s``: the workload's bulk operation. search: ``topk_many`` over the
  whole query set; ingest: ``compact`` over the live set.
* ``peak_pss_mb``: peak PSS of this process, its JVM and the Python workers.
* ``index_bytes_per_input_byte``: live store bytes / input content bytes.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import subprocess
import sys
import time
import traceback
import uuid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CORES = min(4, len(os.sched_getaffinity(0)))
JVM_HEAP = "2g"
N_BASE = 2000
BATCH_DOCS = 100
OVERWRITE_SHARE = 0.3
N_BUCKETS = 16
N_QUERIES = 8
N_PHRASES = 3
APPEND_SLOT_S = 10  # ingest makes one append per this many --seconds, at least one


def remove_run_dir(run_dir: str) -> None:
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(run_dir))
    except OSError:
        pass  # another run still uses it


def pin_environment(run_dir: str) -> None:
    """Fix everything the engine reads from the environment, then re-exec
    so that the hash seed also holds for this interpreter."""
    if os.environ.get("PERFBENCH_RUN_DIR") == run_dir:
        return
    env = {k: v for k, v in os.environ.items()
           if not k.startswith(("ARIADNA_", "SPARK_GRAFT_", "SPARK_DRIVER_MEM", "SPARK_GC_OPTS"))}
    tmp = os.path.join(run_dir, "tmp")
    env.update({
        "PERFBENCH_RUN_DIR": run_dir,
        "PYTHONHASHSEED": "0",
        "SPARK_DRIVER_MEM": JVM_HEAP,
        "SPARK_GRAFT_CPUS": str(CORES),
        "SPARK_GRAFT_LOCAL_DIR": os.path.join(run_dir, "local"),
        # the engine's default collector, with the heap committed up front
        # so that its growth does not depend on GC timing
        "SPARK_GC_OPTS": f"-XX:+UseParallelGC -Xms{JVM_HEAP} -Djava.io.tmpdir={tmp}",
        "TMPDIR": tmp,
    })
    for d in (tmp, env["SPARK_GRAFT_LOCAL_DIR"]):
        os.makedirs(d, exist_ok=True)
    os.execve(sys.executable, [sys.executable, *sys.argv], env)


class Run:
    """State of one benchmark run: the session, the tracer, timings, the
    results kept for the correctness check and the operation counts."""

    def __init__(self, args, run_dir: str, tracer):
        self.args = args
        self.dir = run_dir
        self.tr = tracer
        self.idx = os.path.join(run_dir, "index")
        self.t = {"query": [], "phrase": [], "many": [], "append": [], "compact": []}
        self.checks: list[tuple] = []  # (state, kind, text, k, rows)
        self.attempted = 0
        self.failed = 0
        self.state = "base"
        self.appended = 0  # batches appended so far

    def op(self, fn, *a, **kw):
        """One timed operation: returns (seconds, result); a failure is
        counted and yields (None, None)."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            out = fn(*a, **kw)
        except Exception:  # noqa: BLE001 — counted in error_ratio, run continues
            self.failed += 1
            traceback.print_exc()
            return None, None
        return time.perf_counter() - t0, out

    def store_attrs(self) -> dict:
        """Live segment count and tombstoned docs, recorded on traced queries."""
        if not self.tr.enabled:
            return {}
        from ariadna_spark.sources.segments import SegmentStore

        store = SegmentStore(self.idx)
        dead = 0
        for b in store.live_builds():
            p = os.path.join(store.build_dir(b), "_tombstones.json")
            if os.path.exists(p):
                with open(p) as f:
                    dead += json.load(f)["n"]
        return {"live_segments": len(store.live_builds()), "tombstoned_docs": dead}

    def open_reader(self):
        from ariadna_spark.operators.wand import IndexReader

        with self.tr.span("wand.open"):
            return self.op(IndexReader, self.spark, self.idx)[1]

    def topk(self, reader, qid, text, k, phase):
        def plan_collect():
            with self.tr.span("wand.plan", phase=phase):
                df = reader.topk(text, k)
            with self.tr.span("wand.collect", phase=phase):
                return df.collect()

        with self.tr.span("wand.query", qid=qid, phase=phase, **self.store_attrs()):
            dt, rows = self.op(plan_collect)
        if dt is None:
            return
        self.checks.append((self.state, "topk", text, k, [(r["doc_id"], r["score"]) for r in rows]))
        if phase == "timed":
            self.t["query"].append(dt)

    def phrase(self, reader, qid, text, phase, k=10):
        with self.tr.span("wand.phrase", qid=qid, phase=phase):
            dt, rows = self.op(lambda: reader.phrase_topk(text, k).collect())
        if dt is None:
            return
        self.checks.append((self.state, "phrase", text, k, [(r["doc_id"], r["score"]) for r in rows]))
        if phase == "timed":
            self.t["phrase"].append(dt)

    def many(self, reader, singles, phase):
        with self.tr.span("wand.topk_many", phase=phase):
            dt, rows = self.op(
                lambda: reader.topk_many([(q, text, k) for q, text, k, _ in singles]).collect())
        if dt is None:
            return
        by_q: dict[int, list] = {q: [] for q, *_ in singles}
        for r in rows:
            by_q[r["query_id"]].append((r["rank"], r["doc_id"], r["score"]))
        for q, text, k, _ in singles:
            hits = sorted(by_q[q])
            self.checks.append((self.state, "topk", text, k, [(d, s) for _, d, s in hits]))
        if phase == "timed":
            self.t["many"].append(dt)


def setup(run: Run, n_batches: int) -> None:
    import pyarrow.parquet as pq

    from ariadna_spark.session import get_spark
    from ariadna_spark.sources import segments

    from perfbench.inputs import make_queries, read_terms, stage_corpus

    tr = run.tr
    with tr.span("session.start"):
        run.spark = get_spark("perfbench", cores=CORES,
                              extra_conf={"spark.ui.showConsoleProgress": "false"})
    tr.attach(run.spark)
    with tr.span("corpus.generate"):
        run.staged = stage_corpus(run.spark, run.args.seed, N_BASE, n_batches, BATCH_DOCS,
                                  OVERWRITE_SHARE, os.path.join(run.dir, "corpus"))
    run.base = pq.read_table(run.staged["base"])
    run.batches = [pq.read_table(p) for p in run.staged["batches"]]
    docs = run.spark.read.parquet(run.staged["base"])
    # traced runs record the arguments the build passes to its tokenize and
    # posting-encode kernels, so that the layer probes replay them exactly
    run.build_calls = {"term_freqs_dl": [], "build_postings": []}
    with contextlib.ExitStack() as patches:
        for attr, calls in run.build_calls.items():
            patches.enter_context(tr.wrap(segments, attr, calls=calls))
        with tr.span("segments.base_build"):
            dt, run.manifest = run.op(segments.build_index, run.spark, docs, run.idx,
                                      build_id="b0", n_buckets=N_BUCKETS)
    if dt is None:
        raise RuntimeError("base build failed")
    run.base_build_s = dt
    run.reader = run.open_reader()
    n = run.manifest["stats"]["N"]
    run.queries = make_queries(run.args.seed, read_terms(run.idx, "b0"), n, N_QUERIES,
                               run.base.column("content").to_pylist(), N_PHRASES)
    # warm-up, checked but not timed: a full pass over the query set, plus
    # each other plan shape the workload times (2- and 3-token phrases,
    # topk_many). Query time falls by about a fifth over the first pass
    # while the JVM compiles the query path, and varies by about a tenth
    # after it.
    search = run.args.workload == "search"
    for q, text, k, _ in run.queries["singles"]:
        run.topk(run.reader, q, text, k, "warmup")
    for q, text in run.queries["phrases"][: 2 if search else 1]:
        run.phrase(run.reader, q, text, "warmup")
    if search:
        run.many(run.reader, run.queries["singles"], "warmup")


def workload_search(run: Run) -> None:
    singles, phrases = run.queries["singles"], run.queries["phrases"]
    # closed-loop cycle: topk, phrase, topk_many over the whole set
    deadline = time.perf_counter() + run.args.seconds
    i = 0
    while time.perf_counter() < deadline:
        n, step = divmod(i, 3)
        if step == 0:
            q, text, k, _ = singles[n % len(singles)]
            run.topk(run.reader, q, text, k, "timed")
        elif step == 1:
            q, text = phrases[n % len(phrases)]
            run.phrase(run.reader, q, text, "timed")
        else:
            run.many(run.reader, singles, "timed")
        i += 1


def append(run: Run, j: int) -> None:
    from ariadna_spark.corpus import DOCS_COLUMNS
    from ariadna_spark.sources import segments

    docs = run.spark.read.parquet(run.staged["batches"][j]).select(*DOCS_COLUMNS)
    tr = run.tr
    with contextlib.ExitStack() as patches:
        # traced runs time the three calls append_segment makes, one span each
        for owner, attr, name in ((segments, "build_index", "segments.append_build"),
                                  (segments, "write_tombstones", "segments.tombstones"),
                                  (segments.SegmentStore, "append_live", "segments.publish")):
            patches.enter_context(tr.wrap(owner, attr, span=name))
        with tr.span("segments.append", qid=j):
            dt, _ = run.op(segments.append_segment, run.spark, docs, run.idx,
                           build_id=f"a{j:03d}", n_buckets=N_BUCKETS)
    if dt is not None:
        run.t["append"].append(dt)
    run.appended = j + 1
    run.state = f"after_{j}"


def compact_store(run: Run) -> None:
    from ariadna_spark.sources.segments import SegmentStore, compact

    with run.tr.span("segments.compact"):
        dt, _ = run.op(compact, run.spark, run.idx, n_buckets=N_BUCKETS)
    if dt is not None:
        run.t["compact"].append(dt)
    store = SegmentStore(run.idx)
    run.compact_bytes = dir_bytes(store.build_dir(store.live_build()))
    run.state = "compacted"


def n_appends(args) -> int:
    return max(1, args.seconds // APPEND_SLOT_S)


def workload_ingest(run: Run) -> None:
    singles, phrases = run.queries["singles"], run.queries["phrases"]
    for j in range(n_appends(run.args)):
        append(run, j)
        # the whole query set, merge-on-read across the tombstoned segments
        reader = run.open_reader()
        for q, text, k, _ in singles:
            run.topk(reader, q, text, k, "timed")
        q, text = phrases[j % len(phrases)]
        run.phrase(reader, q, text, "timed")
    compact_store(run)
    # the compacted index: checked against the reference, not timed
    reader = run.open_reader()
    q, text, k, _ = singles[0]
    run.topk(reader, q, text, k, "post")
    q, text = phrases[-1]
    run.phrase(reader, q, text, "post")


WORKLOADS = {
    "search": (workload_search, lambda args: 1),
    "ingest": (workload_ingest, n_appends),
}


def verify(run: Run) -> tuple[int, int]:
    """Every kept result against the DuckDB reference: (equal, checked)."""
    import pyarrow as pa

    from ariadna_spark.analyze import tokenize_py

    from perfbench.inputs import live_docs
    from perfbench.reference import Bm25Reference, same_topk

    ref = Bm25Reference(pa.concat_tables([run.base.select(["doc_id", "content"])]
                                         + [b.select(["doc_id", "content"]) for b in run.batches]))
    base_ids = run.base.column("doc_id").to_pylist()
    equal = checked = 0
    current = None
    cache: dict = {}
    for state, kind, text, k, rows in run.checks:
        if state != current:
            if state == "base":
                ref.set_state(base_ids)
            else:
                j = run.appended - 1 if state == "compacted" else int(state.split("_")[1])
                live = live_docs(run.base, run.batches[: j + 1]).column("doc_id").to_pylist()
                stored = base_ids + [d for b in run.batches[: j + 1]
                                     for d in b.column("doc_id").to_pylist()]
                ref.set_state(live, None if state == "compacted" else stored)
            current, cache = state, {}
        key = (kind, text)
        if key not in cache:
            toks = tokenize_py(text)
            cache[key] = ref.phrase(toks) if kind == "phrase" else ref.topk(toks)
        checked += 1
        if same_topk(rows, cache[key], k):
            equal += 1
        else:
            print(f"perfbench: MISMATCH state={state} {kind} {text!r} k={k}", file=sys.stderr)
    return equal, checked


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(path) for f in fs)


def index_ratio(run: Run) -> float:
    """Live store bytes / input content bytes of the live docs."""
    from ariadna_spark.sources.segments import SegmentStore

    from perfbench.inputs import live_docs

    store = SegmentStore(run.idx)
    stored = sum(dir_bytes(store.build_dir(b)) for b in store.live_builds())
    docs = live_docs(run.base, run.batches[: run.appended])
    return stored / sum(len(c.encode()) for c in docs.column("content").to_pylist())


def read_blocks(index_dir: str, build_id: str, terms: list[str], range_size: int):
    """The posting blocks of ``terms`` read from the index files, shaped like
    the rows the reader ships to its kernel: one row per (block, doc_id
    range), with the term's df summed over its blocks."""
    import glob

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from ariadna_spark.sources.segments import term_bucket_py

    bdir = os.path.join(index_dir, "builds", build_id)
    with open(os.path.join(bdir, "stats.json")) as f:
        nb = json.load(f)["n_buckets"]
    files = sorted(f for b in {term_bucket_py(t, nb) for t in terms}
                   for f in glob.glob(os.path.join(bdir, f"bucket={b}", "*.parquet")))
    tbl = pa.concat_tables([pq.read_table(f) for f in files])
    pdf = tbl.filter(pc.is_in(tbl.column("term"), value_set=pa.array(terms))).to_pandas()
    pdf["df"] = pdf.groupby("term")["n_docs"].transform("sum")
    pdf["is_tomb"] = False
    pdf["rid"] = [list(range(a // range_size, b // range_size + 1))
                  for a, b in zip(pdf["first_doc_id"], pdf["last_doc_id"])]
    return pdf.explode("rid").astype({"rid": "int64"}).reset_index(drop=True)


def probe_layers(run: Run) -> dict:
    """Traced run only: time the build layers and the query kernels in
    isolation, on the run's own corpus and index. The tokenize and encode
    probes replay the arguments the base build passed to those kernels.
    At N_BASE docs a doc_id range holds 2 WAND strides, too few for
    block-max pruning to skip any, so the blocks-decoded ratios read 1.0."""
    import numpy as np
    import pandas as pd

    from ariadna_spark.functions.varint import delta_decode_ids, positions_decode, varint_decode
    from ariadna_spark.operators.postings import build_postings
    from ariadna_spark.operators.wand import RANGE_SIZE_DEFAULT, wand_kernel
    from ariadna_spark.sources.segments import SegmentStore
    from ariadna_spark.stats import term_freqs_dl

    from perfbench.inputs import df_strata, read_terms

    spark, tr, out = run.spark, run.tr, {}
    # the base build's own kernel calls, replayed on the same input
    (tok_args, tok_kw), = run.build_calls["term_freqs_dl"]
    (enc_args, enc_kw), = run.build_calls["build_postings"]
    with tr.span("stats.tokenize") as sp:
        term_freqs_dl(*tok_args, **tok_kw).write.format("noop").mode("overwrite").save()
    out["stats.tokenize_s"] = sp["end"] - sp["start"]
    out["stats.tokens_per_s"] = run.manifest["stats"]["total_tokens"] / out["stats.tokenize_s"]

    ckpt = os.path.join(run.dir, "tf_probe")
    term_freqs_dl(*tok_args, **tok_kw).write.parquet(ckpt)
    tf = spark.read.parquet(ckpt)
    with tr.span("postings.encode") as sp:
        build_postings(tf, *enc_args[1:], **enc_kw).write.format("noop").mode("overwrite").save()
    out["postings.encode_s"] = sp["end"] - sp["start"]
    out["postings.shuffle_write_mb"] = sp["shuffle_write_bytes"] / 2**20

    store = SegmentStore(run.idx)
    bid = store.live_build()
    with open(os.path.join(store.build_dir(bid), "stats.json")) as f:
        cst = json.load(f)
    head = set(df_strata(read_terms(run.idx, bid), cst["N"])["head"])
    ratios = {"head": [0, 0], "tail": [0, 0]}
    kernel_s, blocks = [], []
    for q, text, k, _ in run.queries["singles"]:
        terms = sorted(set(text.split()))
        group = "head" if set(terms) <= head else "tail" if not set(terms) & head else None
        pdf = read_blocks(run.idx, bid, terms, RANGE_SIZE_DEFAULT)
        blocks.append(pdf)
        t0 = time.perf_counter()
        for _, part in pdf.groupby("rid"):
            d: dict = {}
            wand_kernel(part.reset_index(drop=True), cst["N"], cst["avgdl"], k,
                        RANGE_SIZE_DEFAULT, prune_stats=d)
            if group:
                ratios[group][0] += d["n_blocks_decoded"]
                ratios[group][1] += d["n_blocks_total"]
        kernel_s.append(time.perf_counter() - t0)
    for g, (dec, tot) in ratios.items():
        out[f"wand.blocks_decoded_ratio.{g}"] = dec / tot
    out["wand.kernel_ms"] = float(np.median(kernel_s)) * 1000

    allb = pd.concat(blocks).drop_duplicates(["term", "block_id"])
    nbytes = sum(len(b) for c in ("doc_ids_varint", "tfs_varint", "dls_varint", "pos_varint")
                 for b in allb[c])
    reps, t0 = 0, time.perf_counter()
    while reps < 3 or time.perf_counter() - t0 < 0.2:
        for ids, tfs, dls, pos in zip(allb["doc_ids_varint"], allb["tfs_varint"],
                                      allb["dls_varint"], allb["pos_varint"]):
            delta_decode_ids(ids)
            varint_decode(dls)
            positions_decode(pos, varint_decode(tfs))
        reps += 1
    out["varint.decode_mb_per_s"] = nbytes * reps / (time.perf_counter() - t0) / 2**20

    if run.appended == 0:  # search makes no appends: probe one, then compact
        append(run, 0)
        compact_store(run)
    return out


def ms(values: list[float]) -> float:
    from perfbench.measure import median

    return median(values) * 1000


def e2e_metrics(run: Run, setup_s: float, peak_mb: float) -> dict:
    from perfbench.measure import median

    search = run.args.workload == "search"
    return {
        "setup_s": (setup_s, "s"),
        "build_docs_per_s": (run.manifest["stats"]["N"] / run.base_build_s, "docs/s"),
        "query_p50_ms": (ms(run.t["query"]), "ms"),
        "op_p50_ms": (ms(run.t["phrase"] if search else run.t["append"]), "ms"),
        "bulk_s": (median(run.t["many"] if search else run.t["compact"]), "s"),
        "peak_pss_mb": (peak_mb, "MB"),
        "index_bytes_per_input_byte": (run.index_bytes_per_input_byte, "ratio"),
    }


def layer_metrics(run: Run, probes: dict, setup_s: float, box: dict) -> dict:
    import numpy as np

    tr = run.tr

    def dur(name, phase=None):
        return [s["end"] - s["start"] for s in tr.named(name)
                if phase is None or s.get("phase") == phase]

    def one(name):
        return dur(name)[0]

    build = tr.named("segments.base_build")[0]
    timed = [s for s in tr.named("wand.query") if s["phase"] == "timed"]
    warm = [s for s in tr.named("wand.query") if s["phase"] == "warmup"]
    compact = tr.named("segments.compact")[0]
    m = {
        "session.start_s": (one("session.start"), "s"),
        "corpus.generate_s": (one("corpus.generate"), "s"),
        "segments.base_build_s": (one("segments.base_build"), "s"),
        "stats.tokenize_s": (probes["stats.tokenize_s"], "s"),
        "stats.tokens_per_s": (probes["stats.tokens_per_s"], "tokens/s"),
        "postings.encode_s": (probes["postings.encode_s"], "s"),
        "postings.shuffle_write_mb": (probes["postings.shuffle_write_mb"], "MB"),
        "segments.other_s": (one("segments.base_build") - probes["stats.tokenize_s"]
                             - probes["postings.encode_s"], "s"),
        "segments.jobs_per_build": (build["jobs"], "count"),
        "segments.tasks_per_build": (build["tasks"], "count"),
        "segments.shuffle_write_mb": (build["shuffle_write_bytes"] / 2**20, "MB"),
        "segments.spill_mb": (build["spill_bytes"] / 2**20, "MB"),
        "segments.append_build_ms": (ms(dur("segments.append_build")), "ms"),
        "segments.tombstones_ms": (ms(dur("segments.tombstones")), "ms"),
        "segments.publish_ms": (ms(dur("segments.publish")), "ms"),
        "segments.compact_jobs": (compact["jobs"], "count"),
        "segments.compact_rewritten_mb": (run.compact_bytes / 2**20, "MB"),
        "wand.open_ms": (ms(dur("wand.open")), "ms"),
        # timings over the timed queries; counts over the warm-up pass,
        # which runs the same queries on the same index in every run
        "wand.plan_ms": (ms(dur("wand.plan", "timed")), "ms"),
        "wand.collect_ms": (ms(dur("wand.collect", "timed")), "ms"),
        "wand.exec_run_ms": (float(np.median([s["exec_run_ms"] for s in timed])), "ms"),
        "wand.jobs_per_query": (float(np.mean([s["jobs"] for s in warm])), "count"),
        "wand.stages_per_query": (float(np.mean([s["stages"] for s in warm])), "count"),
        "wand.tasks_per_query": (float(np.mean([s["tasks"] for s in warm])), "count"),
        "wand.shuffle_kb_per_query": (
            float(np.mean([s["shuffle_write_bytes"] for s in warm])) / 1024, "kB"),
        "wand.blocks_decoded_ratio.head": (probes["wand.blocks_decoded_ratio.head"], "ratio"),
        "wand.blocks_decoded_ratio.tail": (probes["wand.blocks_decoded_ratio.tail"], "ratio"),
        "wand.kernel_ms": (probes["wand.kernel_ms"], "ms"),
        "varint.decode_mb_per_s": (probes["varint.decode_mb_per_s"], "MB/s"),
        "wand.live_segments": (max(s["live_segments"] for s in timed), "count"),
        "wand.tombstoned_docs": (max(s["tombstoned_docs"] for s in timed), "count"),
        "box.py_loop_ms.before": (box["before"]["py_loop_ms"], "ms"),
        "box.py_loop_ms.after": (box["after"]["py_loop_ms"], "ms"),
        "box.numpy_ms.before": (box["before"]["numpy_ms"], "ms"),
        "box.numpy_ms.after": (box["after"]["numpy_ms"], "ms"),
        "trace.setup_s": (setup_s, "s"),
        "trace.query_p50_ms": (ms(run.t["query"]), "ms"),
        "trace.overhead_ms_per_span": (tr.overhead_s * 1000 / len(tr.spans), "ms"),
    }
    return m


def print_table(run: Run, e2e: dict, equal: int, checked: int, box: dict) -> None:
    """The engine's end-to-end figures by name, with units; n/a where the
    workload does not run the operation. The box probes come last."""
    from perfbench.measure import highest_tail

    search = run.args.workload == "search"
    tail = highest_tail(run.t["query"])
    rows = [
        ("setup_s", e2e["setup_s"][0], "s"),
        ("build_docs_per_s", e2e["build_docs_per_s"][0], "docs/s"),
        ("index_bytes_per_input_byte", e2e["index_bytes_per_input_byte"][0], "ratio"),
        ("query_p50_ms", e2e["query_p50_ms"][0], f"ms (n={len(run.t['query'])})"),
        (f"query_p{tail[0]}_ms" if tail else "query_p95_ms", tail[1] * 1000 if tail else None,
         f"ms (n={len(run.t['query'])}; a tail needs 10 samples beyond it)"),
        ("phrase_p50_ms", ms(run.t["phrase"]), f"ms (n={len(run.t['phrase'])})"),
        ("batch_qps", len(run.queries["singles"]) / (e2e["bulk_s"][0]) if search else None,
         "1/s"),
        ("append_p50_ms", None if search else e2e["op_p50_ms"][0], "ms"),
        ("compact_s", None if search else e2e["bulk_s"][0], "s"),
        ("peak_pss_mb", e2e["peak_pss_mb"][0], "MB"),
        ("correct_ratio", equal / checked if checked else 0.0, f"ratio ({checked} checked)"),
        ("error_ratio", run.failed / run.attempted, f"ratio ({run.attempted} attempted)"),
    ]
    print(f"# perfbench {run.args.workload} seed={run.args.seed} seconds={run.args.seconds} "
          f"trace={run.args.trace} cores={CORES}")
    rows += [(f"box.{k}.{when}", box[when][k], "ms (diagnostic)")
             for when in ("before", "after") for k in ("py_loop_ms", "numpy_ms")]
    for name, v, unit in rows:
        print(f"{name:28s} {'n/a' if v is None else f'{v:.4f}':>14s}  {unit}")


def shutdown(spark) -> None:
    """Stop the session and the JVM, and wait until every process this
    run started has ended."""
    from pyspark import SparkContext

    from perfbench.measure import descendants

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        try:
            gateway.proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            gateway.proc.kill()
            gateway.proc.wait(timeout=30)
    deadline = time.time() + 30
    while len(descendants(os.getpid())) > 1 and time.time() < deadline:
        time.sleep(0.2)
    for p in descendants(os.getpid())[1:]:
        try:
            os.kill(p, 9)
        except ProcessLookupError:
            pass


def main() -> int:
    t_start = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    run_dir = os.environ.get("PERFBENCH_RUN_DIR") or os.path.join(
        ROOT, ".perfbench_run", uuid.uuid4().hex[:12])
    pin_environment(run_dir)
    sys.path.insert(0, ROOT)
    try:
        import ariadna_spark  # noqa: F401
    except ImportError as e:
        remove_run_dir(run_dir)
        print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2

    from perfbench.measure import PeakPss, box_probe
    from perfbench.tracing import Tracer

    fn, batches_for = WORKLOADS[args.workload]
    run = Run(args, run_dir, Tracer(bool(args.trace)))
    box = {"before": box_probe()}
    t_checked = None
    try:
        # peak PSS covers the engine's work only: the reference and the
        # layer probes below run after the sampler stops
        with PeakPss() as pss:
            setup(run, batches_for(args))
            setup_s = time.perf_counter() - t_start
            fn(run)
            t_work = time.perf_counter()
        peak_mb = pss.peak_mb
        run.index_bytes_per_input_byte = index_ratio(run)
        equal, checked = verify(run)
        probes = probe_layers(run) if run.tr.enabled else {}
        t_checked = time.perf_counter()
        box["after"] = box_probe()
        e2e = e2e_metrics(run, setup_s, peak_mb)
        print_table(run, e2e, equal, checked, box)
        if run.tr.enabled:
            metrics = layer_metrics(run, probes, setup_s, box)
            os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
            run.tr.dump(os.path.join(ROOT, ".perfbench_out",
                                     f"trace_{args.workload}_seed{args.seed}.json"))
        else:
            metrics = e2e
        correct = checked > 0 and equal == checked and run.failed == 0
        print(json.dumps({
            "correct": correct, "attempted": run.attempted, "failed": run.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }))
        return 0 if correct else 1
    finally:
        if getattr(run, "spark", None) is not None:
            shutdown(run.spark)
        remove_run_dir(run_dir)
        if t_checked is not None:
            print(f"perfbench: wall setup {setup_s:.1f}s, workload {t_work - t_start - setup_s:.1f}s, "
                  f"checks {t_checked - t_work:.1f}s, total {time.perf_counter() - t_start:.1f}s",
                  file=sys.stderr)


if __name__ == "__main__":
    sys.exit(main())
