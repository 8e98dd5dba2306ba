"""The commit protocol and generational data API shared by every
persisted store.

The MinHash band index (``operators/minhash_index.py``), the LSH and IVF
vector indexes (``operators/similarity.py``), the foreachBatch publish
markers (``streaming/publish.py``) and the bloom-filter sidecar all keep
their state the same way (the streaming gates hold no store code of
their own: ``streaming/neardup.py`` keeps a MinHash index, its stored
texts included, ``streaming/semgate.py`` an IVF index, and both record
finished micro-batches with markers): data lands under generation-named
directories, one family per kind of row (a ``Layout``: ``bands-<N>``
and ``docs-<N>``, or ``vectors-<N>`` plus a ``centroids-<N>.json``
sidecar), and one small JSON manifest (``meta.json``) says which
generation is live. This module is the only code that reads or commits
a manifest, reads a live generation or compacts one:

- **Commit** (``commit_json``/``commit_manifest``): the JSON goes to a
  temp file in the same directory, is flushed and fsynced, and replaces
  the target with ``os.replace``. The committed file is always the old
  or the new content, never a prefix, so a writer that dies at any
  point leaves the previous manifest in force. Data directories are
  never renamed.
- **Sweep** (in ``commit_manifest``): after a commit, the entries of
  the layout's families the manifest does not reference (old
  generations, the leftovers of a crashed rebuild, compaction or
  delete) and stale temp files go.
- **Tombstones** (``delete``/``live``): a delete commits a new
  tombstone generation holding the live set plus the new ids; ``live``
  reads a family minus them, so one delete hides a doc in every family
  (its bands and its stored text), until a compaction retires them.
- **Compaction** (``compact``): every family's live rows go to the
  next generation, so a deleted row is physically gone from each.
  Appends write into ``Layout.live_dir`` with the store's own writer.
- **Markers** (``write_marker``/``has_marker``/``marker_names``): empty
  files whose existence records a finished step (a published batch, a
  gated micro-batch).

Store I/O is local-filesystem only: every path goes through Python
``os``/``open``, so a path with a URI scheme (``s3a://``, ``hdfs://``)
is refused up front instead of creating a local ``s3a:`` directory
beside data Spark wrote elsewhere.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import tempfile
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, DataFrameWriter
from pyspark.sql import functions as F

_MANIFEST = "meta.json"
_TMP = ".tmp"


def require_local(*paths: str) -> None:
    """Raise ``ValueError`` for a store path that carries a URI scheme."""
    for path in paths:
        if "://" in str(path):
            raise ValueError(
                f"store path {path!r} has a URI scheme — stores are "
                "local-filesystem only"
            )


def _fsync_dir(directory: str) -> None:
    fd = os.open(directory, os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)


def read_json(file_path: str):
    with open(file_path) as f:
        return json.load(f)


def commit_json(file_path: str, obj) -> None:
    """Atomically replace ``file_path`` with ``obj`` as JSON: temp file
    in the same directory, flush, fsync, ``os.replace``, then fsync the
    directory so the replace itself is durable."""
    directory, name = os.path.split(file_path)
    fd, tmp = tempfile.mkstemp(prefix=f".{name}.", suffix=_TMP, dir=directory)
    try:
        with os.fdopen(fd, "w") as f:
            json.dump(obj, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, file_path)
    except BaseException:
        with contextlib.suppress(FileNotFoundError):
            os.remove(tmp)
        raise
    _fsync_dir(directory)


def read_manifest(path: str, missing: str | None = None) -> dict:
    """The committed manifest of the store at ``path``, or ``{}`` when it
    has none. With ``missing`` set, a store without a manifest raises
    ``ValueError`` ending in that hint instead. A manifest that does not
    parse raises: commits are atomic, so it can only mean outside
    damage."""
    require_local(path)
    file_path = os.path.join(path, _MANIFEST)
    if not os.path.exists(file_path):
        if missing:
            raise ValueError(
                f"no store at {path} ({_MANIFEST} missing) — {missing}"
            )
        return {}
    return read_json(file_path)


def generation(meta: dict) -> int:
    return int(meta.get("generation", 0))


def _name(base: str, gen: int, legacy: bool, ext: str = "") -> str:
    return base + ext if legacy and gen == 0 else f"{base}-{gen}{ext}"


@dataclass(frozen=True)
class Layout:
    """The generation-named entries of one store kind. ``families``
    are its data directory families, resolved through the manifest's
    ``generation`` and filtered by one tombstone set on ``key`` (or the
    manifest's ``tombstone_id_col``). With ``legacy`` set, generation 0
    keeps the plain un-suffixed names, so stores written before
    generations existed read unchanged. ``sidecar`` is an optional
    per-generation JSON file family (IVF centroids). Any store may hold
    one live ``tombstones-<T>`` directory."""

    families: tuple[str, ...]
    key: str
    legacy: bool = True
    sidecar: str | None = None

    def data_dir(self, path: str, family: str, gen: int) -> str:
        return os.path.join(path, _name(family, gen, self.legacy))

    def live_dir(self, path: str, family: str, meta: dict) -> str:
        """``family``'s directory in the live generation: where appends
        land and ``live`` reads."""
        return self.data_dir(path, family, generation(meta))

    def sidecar_file(self, path: str, gen: int) -> str:
        return os.path.join(path, _name(self.sidecar, gen, self.legacy, ".json"))

    def next_generation(self, meta: dict) -> int:
        """Generation for a (re)build: a rebuild over a committed
        manifest bumps it, so the live generation is never overwritten
        in place; a fresh store starts at the first generation."""
        return generation(meta) + 1 if meta else int(not self.legacy)

    def live(self, meta: dict) -> set[str]:
        gen = generation(meta)
        names = {_name(f, gen, self.legacy) for f in self.families}
        if self.sidecar:
            names.add(_name(self.sidecar, gen, self.legacy, ".json"))
        t = int(meta.get("tombstone_generation", 0))
        if t:
            names.add(f"tombstones-{t}")
        return names


def _family(name: str) -> str:
    """``bands-3`` -> ``bands``, ``centroids-2.json`` -> ``centroids``."""
    stem = name.split(".", 1)[0]
    base, _, suffix = stem.rpartition("-")
    return base if base and suffix.isdigit() else stem


def _sweep(path: str, layout: Layout, meta: dict) -> None:
    """Remove the entries of ``layout``'s families (and tombstones) that
    ``meta`` does not reference, plus stale commit temp files. Only
    ever run with the manifest just committed, so it never touches the
    live generation."""
    families = {*layout.families, layout.sidecar, "tombstones"}
    live = layout.live(meta)
    for name in os.listdir(path):
        if not (
            name.endswith(_TMP)
            or (_family(name) in families and name not in live)
        ):
            continue
        full = os.path.join(path, name)
        if os.path.isdir(full):
            shutil.rmtree(full, ignore_errors=True)
        else:
            with contextlib.suppress(FileNotFoundError):
                os.remove(full)


def commit_manifest(path: str, meta: dict, layout: Layout) -> None:
    """Commit ``meta`` as the store's manifest — the single commit
    point of every store mutation — then sweep what it no longer
    references."""
    os.makedirs(path, exist_ok=True)
    commit_json(os.path.join(path, _MANIFEST), meta)
    _sweep(path, layout, meta)


def compacted(meta: dict) -> dict:
    """The manifest that publishes a compacted next generation: the
    compaction wrote it without tombstoned rows, so the same commit
    retires the tombstone set."""
    out = {k: v for k, v in meta.items() if not k.startswith("tombstone_")}
    out["generation"] = generation(meta) + 1
    return out


def _tombstones_dir(path: str, t: int) -> str:
    return os.path.join(path, f"tombstones-{t}")


def delete(spark, path: str, meta: dict, layout: Layout, ids) -> None:
    """Record ``ids`` as tombstones of the store at ``path`` (manifest
    ``meta``). ``ids`` is a DataFrame (first column) or an iterable of
    id values; an empty iterable is a no-op.

    The union of the live tombstone set and the new ids lands under the
    NEXT tombstone-generation directory, then the manifest commits it.
    A crash before the commit leaves the old manifest pointing at the
    old complete set, and ids re-submitted after a crash union in
    idempotently. Exactly one live tombstone directory exists, so a
    probe pays one bounded broadcast anti-join.

    Deletion wins over later appends of the same id: to re-admit an id,
    compact first (which clears the tombstones), then append."""
    if isinstance(ids, DataFrame):
        ids_df = ids.select(F.col(ids.columns[0]).alias("deleted_id"))
    else:
        vals = list(ids)
        if not vals:
            return
        ids_df = spark.createDataFrame([(v,) for v in vals], ["deleted_id"])
    t_old = int(meta.get("tombstone_generation", 0))
    if t_old:
        ids_df = ids_df.unionByName(
            spark.read.parquet(_tombstones_dir(path, t_old))
        )
    t_new = t_old + 1
    ids_df.distinct().coalesce(1).write.mode("overwrite").parquet(
        _tombstones_dir(path, t_new)
    )
    commit_manifest(path, {**meta, "tombstone_generation": t_new}, layout)


def live(
    spark, path: str, meta: dict, layout: Layout, family: str
) -> DataFrame | None:
    """The rows of ``family`` in the live generation, anti-joined
    against the live tombstone set (none: no join), or ``None`` while
    the family has no directory in that generation (an index opened
    before its first append, a pointer-mode gate's texts). The
    tombstone side broadcasts: deletes are tiny next to the store,
    whose scan never shuffles for them."""
    family_dir = layout.live_dir(path, family, meta)
    if not os.path.exists(family_dir):
        return None
    df = spark.read.parquet(family_dir)
    t = int(meta.get("tombstone_generation", 0))
    if not t:
        return df
    key = meta.get("tombstone_id_col", layout.key)
    tombs = spark.read.parquet(_tombstones_dir(path, t)).select(
        F.col("deleted_id").alias(key)
    )
    return df.join(F.broadcast(tombs), key, "left_anti")


def compact(
    spark,
    path: str,
    meta: dict,
    layout: Layout,
    rewrite: Callable[[str, DataFrame], DataFrameWriter],
) -> None:
    """Rewrite every family's ``live`` rows into the next generation
    through the caller's writer ``rewrite(family, rows)``, carry the
    sidecar forward, commit ``compacted(meta)`` (which retires the
    tombstones) and sweep the old generation. Offline maintenance, not
    concurrent with ingest. A crash anywhere, the commit included,
    leaves the manifest on the complete old generation; the
    half-written next one is swept by the next commit. A store with no
    data directory in its live generation is left as it is."""
    new = compacted(meta)
    gen, new_gen = generation(meta), generation(new)
    rows = {
        family: live(spark, path, meta, layout, family)
        for family in layout.families
    }
    if all(df is None for df in rows.values()):
        return
    for family, df in rows.items():
        if df is not None:
            rewrite(family, df).mode("overwrite").parquet(
                layout.data_dir(path, family, new_gen)
            )
    # the new manifest must never point at a missing sidecar
    if layout.sidecar and os.path.exists(layout.sidecar_file(path, gen)):
        commit_json(
            layout.sidecar_file(path, new_gen),
            read_json(layout.sidecar_file(path, gen)),
        )
    commit_manifest(path, new, layout)


def write_marker(directory: str, name: str) -> None:
    """Create the empty marker ``directory/name`` durably."""
    os.makedirs(directory, exist_ok=True)
    open(os.path.join(directory, name), "w").close()
    _fsync_dir(directory)


def has_marker(directory: str, name: str) -> bool:
    return os.path.exists(os.path.join(directory, name))


def marker_names(directory: str) -> list[str]:
    return os.listdir(directory) if os.path.isdir(directory) else []
