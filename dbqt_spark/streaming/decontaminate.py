"""Streaming benchmark-decontamination — the ingest-time twin of
``operators.contamination``.

No reference analog (dbqt has no streaming surface). Each micro-batch
drops documents sharing a word n-gram with the STATIC eval set, via
``foreachBatch`` + the batch operator: the eval n-gram hash set is tiny
and broadcast per batch, the batch side is one scan + generate (see
``operators/contamination.py`` for the plan contract), and — unlike the
near-dup gate — there is NO cross-batch state to maintain, so the sink
is a pure filter and batch retries are naturally idempotent under the
same per-batch-partition publish used by ``streaming_minhash_dedup``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .publish import publish_batch

from ..operators.contamination import decontaminate, eval_ngram_hashes


def streaming_decontaminate(
    stream_df: DataFrame,
    eval_df: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    n: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Wire decontamination into a stream: every micro-batch's clean
    rows land in ``out_dir/batch_id=N``, committed via the manifest
    marker (``publish.publish_batch`` — crash-safe on local
    filesystems, a retry REPLACES a half-published batch). The eval set's n-gram hashes are
    computed ONCE and persisted for the stream's lifetime — a
    long-running stream must not re-tokenize the static benchmark on
    every trigger. Returns the StreamingQuery; read the output with
    ``publish.read_published`` (crash-consistent) or plain
    ``spark.read.parquet(out_dir)`` after a clean finish (partition
    discovery surfaces ``batch_id``)."""
    eval_hashes = eval_ngram_hashes(eval_df, n, text_col).persist()

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        clean = decontaminate(
            batch_df,
            n=n,
            text_col=text_col,
            id_col=id_col,
            eval_hashes=eval_hashes,
        )
        publish_batch(clean, out_dir, batch_id)

    return (
        stream_df.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
