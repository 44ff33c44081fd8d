"""Incremental indexing via Structured Streaming (SURVEY.md §F).

The reference is one-shot batch with re-import + alias swap
(/root/reference/main.go:24-29, /root/reference/elastic/elastic.go:34-63).
Our streaming analog follows the Lucene/ES segment model:

    readStream(docs) -> foreachBatch:
        each micro-batch becomes its OWN immutable segment build
        (build_id = seg_<batch_id>), committed with the normal per-bucket
        markers, then APPENDED to the live segment list with one atomic
        MANIFEST swap.

Query side: IndexReader merges-on-read across the live segment list with
query-time-global BM25 stats (N and df summed, avgdl from total token
mass, per-segment block-max bounds rescaled) — so results are identical
to having indexed everything in one build (rank-identity asserted in
tests/test_streaming.py).

Exactly-once: Structured Streaming's checkpoint guarantees each batch_id
is delivered once; if a batch is retried after a crash, the deterministic
build_id plus the per-bucket idempotent commits make the re-run converge
on the same segment (same property as the batch resume test). Compaction
(merging many small segments into one) decodes the live segments' posting
blocks back into tf rows, drops tombstoned versions, re-encodes them as
one build and swaps it in with publish_many (segments.compact).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..corpus import DOCS_COLUMNS
from ..sources.segments import SegmentStore, append_segment, maybe_compact, write_tombstones

DOCS_DDL = (
    "doc_id long, repo string, path string, commit string, lang string, "
    "content string, content_sha string"
)


def start_incremental_index(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    n_buckets: int = 8,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    auto_compact: bool = False,
    max_segments: int = 8,
    max_tomb_ratio: float = 0.25,
):
    """Stream parquet files from source_dir into per-batch segments.

    available_now=True drains the current backlog then stops (test/batch
    catch-up mode); False runs continuously.

    auto_compact=True runs the compaction policy after each batch goes
    live: merge all live segments into one when the segment count reaches
    max_segments or the tombstoned-doc ratio reaches max_tomb_ratio — the
    Lucene/ES background-merge analog, keeping both per-query segment
    fan-in and the merge-on-read df overcount bounded in a long-running
    stream. Compaction is itself crash-safe (publish_many swap + GC), and
    a compacted index re-tombstones correctly on later overwrites."""
    reader = spark.readStream.schema(DOCS_DDL)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(source_dir)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        import json
        import os
        import shutil

        from pyspark.sql import functions as F

        if batch_df.isEmpty():
            return
        build_id = f"seg_{batch_id:06d}"
        store = SegmentStore(out_dir)
        bdir = store.build_dir(build_id)

        # Idempotence guard. A replay with an intact checkpoint re-delivers
        # the SAME rows for a batch_id, so a content fingerprint lets us
        # (a) skip segments that already committed (crash between segment
        # commit and checkpoint commit), and (b) fail fast if batch
        # numbering restarted against an existing index (checkpoint loss)
        # instead of silently double-indexing the corpus.
        row = batch_df.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.sum(F.crc32(F.col("content_sha").cast("binary"))), F.lit(0)).alias("h"),
        ).collect()[0]
        fp = {"n": int(row["n"]), "h": int(row["h"])}
        fp_path = os.path.join(bdir, "_ingest_fp.json")
        if os.path.exists(fp_path):
            with open(fp_path) as f:
                prev = json.load(f)
            complete = os.path.exists(os.path.join(bdir, "manifest.json"))
            if prev == fp:
                if complete:  # segment done, only the live-list append was lost
                    write_tombstones(
                        batch_df.sparkSession, out_dir, build_id, batch_df.select(*DOCS_COLUMNS)
                    )  # idempotent (marker short-circuits if already written)
                    store.append_live(build_id)
                    return
                # else: crashed mid-build with identical content -> resume
            else:
                if complete:
                    raise RuntimeError(
                        f"batch {batch_id} replayed with different content than "
                        f"committed segment {build_id}: streaming checkpoint was "
                        f"lost or points at a different source. Restore the "
                        f"checkpoint or ingest into a fresh index directory."
                    )
                shutil.rmtree(bdir)  # partial build of different content: restart clean

        os.makedirs(bdir, exist_ok=True)
        with open(fp_path, "w") as f:
            json.dump(fp, f)
        # per-doc overwrite: a re-delivered (repo, path) key REPLACES the
        # version in any older live segment (the ES _id contract)
        append_segment(batch_df.sparkSession, batch_df, out_dir, build_id, n_buckets=n_buckets)
        if auto_compact:
            maybe_compact(
                batch_df.sparkSession,
                out_dir,
                max_segments=max_segments,
                max_tomb_ratio=max_tomb_ratio,
                n_buckets=n_buckets,
            )

    writer = stream.writeStream.foreachBatch(process).option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def ingest_available(spark, source_dir: str, out_dir: str, checkpoint_dir: str, **kw) -> list[str]:
    """Drain everything currently in source_dir; returns the live builds."""
    q = start_incremental_index(
        spark, source_dir, out_dir, checkpoint_dir, available_now=True, **kw
    )
    q.awaitTermination()
    return SegmentStore(out_dir).live_builds()
