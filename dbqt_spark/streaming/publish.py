"""Crash-safe micro-batch publication for foreachBatch sinks.

The streaming sinks (``neardup``, ``semgate``, ``curate``,
``decontaminate``) land each micro-batch's rows in
``out_dir/batch_id=N`` and commit them with a MARKER instead of a
directory rename:

1. write the batch's files directly into ``out_dir/batch_id=N``
   (mode("overwrite") — a retry truncates and rewrites the same dir);
2. commit by creating the empty marker ``out_dir/_committed/N`` LAST
   (``store.write_marker``; its existence is the commit).

A crash between (1) and (2) leaves data files without a marker: not
corruption, just an uncommitted batch the retry overwrites. Readers
that must be crash-consistent resolve through the manifest with
``read_published`` (only committed batch dirs are loaded; ``batch_id``
still surfaces via partition-style dir names). Plain
``spark.read.parquet(out_dir)`` remains correct whenever the stream
finished cleanly — the manifest is the contract for reading WHILE a
stream runs or after a crash. The marker is written through Python
file I/O, so ``out_dir`` is local-filesystem only.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from .. import store

_COMMITTED = "_committed"


def publish_batch(df: DataFrame, out_dir: str, batch_id: int) -> None:
    """Write one micro-batch to ``out_dir/batch_id=N`` and commit it in
    the manifest. Idempotent under foreachBatch retries: the data write
    overwrites the whole dir, then the marker write (the commit point)
    is last — every crash window re-runs into the same final state."""
    store.require_local(out_dir)
    final = os.path.join(out_dir, f"batch_id={batch_id}")
    df.write.mode("overwrite").parquet(final)
    store.write_marker(os.path.join(out_dir, _COMMITTED), str(batch_id))


def committed_batches(out_dir: str) -> list[int]:
    """Batch ids with a commit marker, ascending."""
    out = []
    for name in store.marker_names(os.path.join(out_dir, _COMMITTED)):
        try:
            out.append(int(name))
        except ValueError:
            continue
    return sorted(out)


def read_published(spark: SparkSession, out_dir: str) -> DataFrame:
    """Read ONLY manifest-committed batches (crash-consistent view).
    ``batch_id`` surfaces as a column exactly as with whole-dir
    partition discovery."""
    ids = committed_batches(out_dir)
    if not ids:
        raise ValueError(
            f"no committed batches under {out_dir} — nothing published, "
            "or the sink never ran"
        )
    return spark.read.option("basePath", out_dir).parquet(
        *[os.path.join(out_dir, f"batch_id={i}") for i in ids]
    )
