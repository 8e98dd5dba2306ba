"""Streaming corpus curation — the ingest-time twin of
``operators.pipeline.curate``.

No reference analog (dbqt has no streaming surface). Each micro-batch
runs the batch curation chain via ``foreachBatch`` with two
stream-specific substitutions:

- the quality gate uses FIXED per-group thresholds (computed once from
  a calibration frame, or given literally) — a per-batch quantile would
  make a doc's fate depend on which batch it arrived in, destroying
  retry determinism and auditability;
- within-batch exact dedup keeps the min id per fingerprint exactly as
  batch does; CROSS-batch near-dup control is the separate
  ``streaming/neardup.py`` gate (stateful), composable upstream;
- decontamination (``config.eval_df``) hashes the static eval set ONCE
  and persists it for the stream's lifetime.

Everything else (PII redaction, hash-split) is already a pure per-row
function, so the sink is deterministic per batch and the
marker-committed publish (``publish.publish_batch`` — crash-safe on
local filesystems, no renames) makes retries REPLACE a half-published batch (same
contract as ``streaming_decontaminate``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.pipeline import CurateConfig
from ..operators.textstats import _quality_exprs
from .publish import publish_batch


def group_quality_thresholds(
    calibration_df: DataFrame,
    quantile: float = 0.5,
    group_col: str = "lang",
    text_col: str = "text",
) -> "dict[str, float]":
    """Per-group quality thresholds from a (bounded) calibration frame —
    computed ONCE before the stream starts. Returns {group: threshold}."""
    scored = calibration_df.select(
        F.col(group_col).alias("g"),
        F.round(_quality_exprs(text_col)["score"], 4).alias("q"),
    )
    rows = (
        scored.groupBy("g")
        .agg(F.percentile("q", F.lit(quantile)).alias("t"))
        .collect()
    )
    return {r["g"]: r["t"] for r in rows}


def streaming_curate(
    stream_df: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    thresholds: "dict[str, float]",
    config: CurateConfig | None = None,
):
    """Wire the curation chain into a stream: every micro-batch's
    surviving rows (quality-gated by the FIXED ``thresholds``, exact-
    deduped within the batch, redacted, split-assigned) land in
    ``out_dir/batch_id=N`` atomically. Returns the StreamingQuery; read
    the output with ``spark.read.parquet(out_dir)``."""
    from ..operators.dedup import dedup_exact
    from ..operators.redact import redact_pii
    from ..operators.sampling import hash_split

    from ..operators.contamination import (
        decontaminate,
        eval_ngram_hashes,
    )

    cfg = config or CurateConfig()
    if cfg.dedup not in ("exact", "none"):
        raise ValueError(
            "streaming curate supports dedup='exact'|'none' within a "
            "batch; use streaming/neardup.py upstream for cross-batch "
            f"near-dup control (got {cfg.dedup!r})"
        )
    # the eval set is static: hash its n-grams ONCE for the stream's
    # lifetime (same contract as streaming_decontaminate)
    eval_hashes = (
        eval_ngram_hashes(cfg.eval_df, cfg.decontam_n, cfg.text_col).persist()
        if cfg.eval_df is not None
        else None
    )
    # KEEP a NULL-group threshold (group_quality_thresholds aggregates
    # the NULL group into a None key) for parity with the batch twin
    # (textstats.quality_quantile_filter gates NULL-group docs against
    # the NULL-group threshold via a null-safe join). Sort with a
    # None-first key so determinism survives the None entry.
    spark_thresholds = sorted(
        thresholds.items(), key=lambda kv: (kv[0] is not None, kv[0] or "")
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # blocklist pre-gate first (batch-twin order): stateless, so
        # the stream inherits the batch stage unchanged
        if cfg.blocklist is not None:
            from ..operators.redact import blocklist_drop

            batch_df = blocklist_drop(
                batch_df, cfg.blocklist, text_col=cfg.text_col,
                id_col=cfg.id_col, mode=cfg.blocklist_mode,
            )
        thr = spark.createDataFrame(
            spark_thresholds, "__g string, __thr double"
        )
        scored = batch_df.withColumn(
            "quality_score",
            F.round(_quality_exprs(cfg.text_col)["score"], 4),
        )
        kept = (
            # null-SAFE group match (batch-twin parity): NULL-group docs
            # gate against the NULL-group calibrated threshold instead
            # of always passing
            scored.join(
                F.broadcast(thr),
                F.col(cfg.group_col).eqNullSafe(F.col("__g")),
                "left",
            )
            # unseen groups pass (no calibrated threshold to apply)
            .filter(
                F.col("__thr").isNull()
                | (F.col("quality_score") >= F.col("__thr"))
            )
            .drop("__g", "__thr")
        )
        # optional model-based quality band — stateless per batch, so
        # the stream inherits the batch stage unchanged (span surgery
        # is deliberately NOT offered here: its duplicate counts are
        # corpus-wide state a micro-batch cannot see)
        if cfg.classifier_weights is not None:
            from ..operators.classifier import classifier_filter

            kept = classifier_filter(
                kept,
                cfg.classifier_weights,
                threshold=cfg.classifier_threshold,
                bias=cfg.classifier_bias,
                text_col=cfg.text_col,
                id_col=cfg.id_col,
            )
        if cfg.dedup == "exact":
            kept = dedup_exact(
                kept, text_col=cfg.text_col, id_col=cfg.id_col
            )
        if eval_hashes is not None:
            kept = decontaminate(
                kept,
                n=cfg.decontam_n,
                text_col=cfg.text_col,
                id_col=cfg.id_col,
                eval_hashes=eval_hashes,
            )
        if cfg.redact:
            kept = redact_pii(kept, text_col=cfg.text_col, id_col=cfg.id_col)
        out = hash_split(
            kept,
            id_col=cfg.id_col,
            weights=cfg.split_weights,
            seed=cfg.seed,
        )
        publish_batch(out, out_dir, batch_id)

    return (
        stream_df.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
