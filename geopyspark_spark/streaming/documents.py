"""Streaming document-pipeline operators (r14): the daily-ingest dedup
shape over Structured Streaming.

Reference surface: none — the reference has no streaming engine; this
is green-field capability for the LLM-data-pipeline side (SURVEY §2.12
extension), built the way Spark documents for logic the streaming
planner cannot express inline: ``dedup_against_corpus`` puts a
bucket-size window count (a non-time window, which streaming
DataFrames do not support) ahead of the band-bucket join, the
gram-array verify join and the per-doc min aggregate — so each
micro-batch runs the FULL batch operator via ``foreachBatch`` against
the persisted corpus signature artifact and writes its verdicts to a
``batch_id``-partitioned parquet sink with dynamic partition overwrite.
That is exactly the production shape: the corpus side is a pre-built
artifact scan (O(batch) work per micro-batch — :func:`...functions.dedup.
corpus_signatures`), and the per-batch overwrite makes foreachBatch's
at-least-once replays idempotent (ADVICE r14) — a replayed micro-batch
rewrites its own partition instead of appending duplicates.

Correctness contract: every micro-batch document is judged
independently against the (static) corpus, so the union of micro-batch
outputs equals the one-shot batch output row-for-row — the oracle
query pins this by sharing ``text_dedup_incremental``'s SQL verbatim.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DOCUMENTS_SCHEMA = ("doc_id long, text string, lang string, "
                    "source string, n_chars long")


def read_documents_stream(spark: SparkSession, path: str) -> DataFrame:
    """``readStream`` over a documents parquet directory (the driver
    testdata layout). Schema is pinned (streaming reads cannot infer),
    matching ``/root/testdata/sf*/documents.parquet``."""
    return (spark.readStream.schema(DOCUMENTS_SCHEMA)
            .parquet(str(path).rstrip("/")))


def stream_dedup_against_corpus(docs_stream: DataFrame,
                                corpus_sigs: DataFrame,
                                out_path: str,
                                checkpoint: str | None = None,
                                query_name: str = "dedup_stream",
                                **dedup_kwargs):
    """Run incremental near-dup detection on a document STREAM: each
    micro-batch is checked against the persisted corpus-signature
    artifact with the full batch operator
    (:func:`...functions.dedup.dedup_against_corpus`) inside
    ``foreachBatch``, and ``(doc_id, is_dup, match_doc_id)`` verdicts
    append to ``out_path`` as parquet.

    Returns the started StreamingQuery; callers drain with
    ``Trigger.AvailableNow`` semantics by awaiting termination (the
    default trigger here) or keep it running for continuous ingest.

    100 TB shape: the corpus side never recomputes — ``corpus_sigs``
    is a parquet scan per micro-batch (cache it for hot loops); all
    per-batch work is O(micro-batch). ``foreachBatch`` is AT-LEAST-ONCE
    (a restarted query replays the last uncommitted micro-batch), so
    each batch writes to its own ``batch_id=N`` partition with dynamic
    partition OVERWRITE (ADVICE r14; the documented foreachBatch dedup
    pattern) — a replay rewrites its partition instead of appending
    duplicate verdict rows, making the sink effectively exactly-once
    per (batch_id, doc)."""
    from ..core.checkpoint import pinned_batch
    from ..functions.dedup import check_corpus_sigs, dedup_against_corpus

    # the artifact is static: validate its (num_hashes, bands, n) once,
    # before start(), not with a one-row job per micro-batch
    check_corpus_sigs(corpus_sigs, **{
        k: v for k, v in dedup_kwargs.items()
        if k in ("num_hashes", "bands", "n")})

    def judge(batch_df: DataFrame, batch_id: int) -> None:
        # one scan of the micro-batch: the operator's three reads of the
        # batch (band signatures, gram arrays, doc ids) hit the pin
        with pinned_batch(batch_df) as batch_df:
            if batch_df.isEmpty():
                return
            out = dedup_against_corpus(batch_df, corpus_sigs=corpus_sigs,
                                       check_sigs=False, **dedup_kwargs)
            (out.withColumn("batch_id", F.lit(int(batch_id)))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("batch_id")
                .parquet(out_path))

    ckpt = checkpoint or tempfile.mkdtemp(prefix="dedup_stream_ckpt_")
    return (docs_stream.writeStream
            .foreachBatch(judge)
            .queryName(query_name)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start())
