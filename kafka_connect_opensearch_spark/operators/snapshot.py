"""Index lifecycle operations: aliases and snapshot/restore.

OpenSearch counterparts: the ``_aliases`` API (atomic alias swap — the
zero-downtime reindex pattern the connector's users rely on when a
mapping changes) and the ``_snapshot`` API (point-in-time copies).
Spark-first re-cast: an index is a directory whose manifest names its
active segments, so

- an **alias** is a one-line JSON pointer file; ``swap_alias`` writes it
  atomically (tmp + rename), so readers resolving the alias see either
  the old or the new index, never a torn state — exactly the _aliases
  atomicity contract;
- a **snapshot** pins the committed manifest set FIRST (one atomic
  point-in-time read), copies exactly the immutable segment files that
  pinned set names, and finally writes the pinned manifests into the
  snapshot. Segments are immutable once committed and never deleted, so
  the copy cannot observe a torn state even with live concurrent
  writers: a manifest commit landing mid-copy is simply not in the
  pinned set, and its segment files are never walked — same contract as
  an OpenSearch snapshot of committed segments. Restore materializes
  the copy at a target path; the restored index is independent (later
  merges/deletes on the source don't touch it).

No per-row data movement happens on the driver — these are metadata /
filesystem ops, O(index files), exactly like the reference's delegated
cluster APIs.
"""

from __future__ import annotations

import json
import os
import shutil


def create_alias(aliases_dir: str, alias: str, index_dir: str) -> None:
    """Point ``alias`` at ``index_dir`` (atomic create-or-replace)."""
    os.makedirs(aliases_dir, exist_ok=True)
    path = os.path.join(aliases_dir, f"{alias}.json")
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"index": os.path.abspath(index_dir)}, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)


def resolve_alias(aliases_dir: str, alias: str) -> str:
    """The index dir an alias points at (KeyError if absent)."""
    path = os.path.join(aliases_dir, f"{alias}.json")
    if not os.path.exists(path):
        raise KeyError(f"alias {alias!r} does not exist")
    with open(path) as f:
        return json.load(f)["index"]


def swap_alias(aliases_dir: str, alias: str, new_index_dir: str) -> str:
    """Atomically repoint ``alias``; returns the previous target (the
    _aliases remove+add action pair, one atomic rename here)."""
    old = resolve_alias(aliases_dir, alias)
    create_alias(aliases_dir, alias, new_index_dir)
    return old


def list_aliases(aliases_dir: str) -> dict[str, str]:
    if not os.path.isdir(aliases_dir):
        return {}
    out = {}
    for fn in sorted(os.listdir(aliases_dir)):
        if fn.endswith(".json"):
            with open(os.path.join(aliases_dir, fn)) as f:
                out[fn[:-5]] = json.load(f)["index"]
    return out


def snapshot_index(index_dir: str, snapshot_dir: str) -> dict:
    """Point-in-time copy of a committed index; returns a small summary.

    Manifest-pinned: the committed manifest set is read ONCE up front
    (each manifest file is an atomic rename, so the listing is a
    consistent commit point), then only the immutable segment files that
    pinned set names are copied, and the pinned manifests themselves are
    written last. A concurrent writer committing mid-copy cannot tear
    the snapshot — its manifest is not in the pinned set and its segment
    files are never walked."""
    from kafka_connect_opensearch_spark.operators.segments import SegmentStore

    if os.path.exists(snapshot_dir):
        raise FileExistsError(f"snapshot target exists: {snapshot_dir}")
    if not os.path.exists(os.path.join(index_dir, "meta.json")):
        raise FileNotFoundError(f"not an index: {index_dir}")

    store = SegmentStore(index_dir)
    batches = store.committed_batches()          # <-- the pin
    active = store.active_segments(batches)

    os.makedirs(snapshot_dir)
    shutil.copy2(os.path.join(index_dir, "meta.json"),
                 os.path.join(snapshot_dir, "meta.json"))
    for m in active:
        # copy only this segment's seg=<name> partition dirs — in-flight
        # partitions being written into the same root are never touched
        rel = os.path.relpath(m.path, index_dir)
        for sub in ("docs.parquet", "postings.parquet", "positions.parquet"):
            src = os.path.join(m.path, sub, f"seg={m.name}")
            if os.path.isdir(src):
                shutil.copytree(
                    src, os.path.join(snapshot_dir, rel, sub, f"seg={m.name}"))
    # Manifests last: the snapshot becomes a valid index only once the
    # files it references are all in place (same write-then-commit
    # ordering as the live store).
    # Segment entries are rewritten to SNAPSHOT-RELATIVE paths (the same
    # ``rel`` the file copy used): readers resolve them against the
    # snapshot's own dir (SegmentStore.active_segments), so the snapshot
    # is self-contained — it never references the source index's files,
    # and restore_index copies keep working wherever they land.
    snap_store = SegmentStore(snapshot_dir)
    os.makedirs(snap_store.manifest_dir, exist_ok=True)
    for batch_id, entry in batches.items():
        pinned = dict(entry)
        pinned["segments"] = [
            {**seg, "path": os.path.relpath(
                os.path.join(index_dir, seg["path"]), index_dir)}
            for seg in entry.get("segments", [])
        ]
        snap_store.commit_batch(batch_id, pinned)
    n_files = sum(len(fs) for _, _, fs in os.walk(snapshot_dir))
    return {"source": os.path.abspath(index_dir),
            "snapshot": os.path.abspath(snapshot_dir),
            "files": n_files,
            "segments": len(active),
            "batches": len(batches)}


def restore_index(snapshot_dir: str, target_dir: str) -> str:
    """Materialize a snapshot as an independent index at ``target_dir``."""
    if os.path.exists(target_dir):
        raise FileExistsError(f"restore target exists: {target_dir}")
    if not os.path.exists(os.path.join(snapshot_dir, "meta.json")):
        raise FileNotFoundError(f"not a snapshot: {snapshot_dir}")
    shutil.copytree(snapshot_dir, target_dir)
    return target_dir


def rollover_index(
    aliases_dir: str,
    alias: str,
    max_docs: int | None = None,
) -> str | None:
    """OpenSearch ``_rollover`` analog: when the alias's current write
    index meets a condition (``max_docs`` here — the common ILM
    trigger), create a fresh empty index named ``<base>-<NNNNNN>`` with
    the SAME meta (mapping/analyzer config carry over) and atomically
    repoint the alias. Returns the new index dir, or None when no
    condition fired. Driver-side metadata op: one manifest read, one
    mkdir, one atomic rename — O(1) regardless of index size."""
    from kafka_connect_opensearch_spark.operators.segments import (
        SegmentStore,
    )

    cur = resolve_alias(aliases_dir, alias)
    store = SegmentStore(cur)
    n_docs = store.global_stats()[0]
    if max_docs is None or n_docs < max_docs:
        return None
    base, _, suffix = cur.rpartition("-")
    if base and suffix.isdigit():
        nxt = int(suffix) + 1
    else:
        base, nxt = cur, 1
    new_dir = f"{base}-{nxt:06d}"
    SegmentStore(new_dir).create_if_absent(store.meta())
    swap_alias(aliases_dir, alias, new_dir)
    return new_dir


def reindex(
    spark,
    src_index_dir: str,
    source,
    dst_index_dir: str,
    config,
    content_col: str = "text",
    id_col: str = "doc_id",
):
    """OpenSearch ``_reindex`` analog — the other half of the
    zero-downtime remap pattern (reindex under a new mapping, then
    ``swap_alias``): rebuild ``dst`` from exactly the docs LIVE in
    ``src`` (latest-wins applied, deletes respected). The index stores
    identity + stats, never content, so text comes from the source
    table keyed by doc id — the same source-of-truth shape as the
    connector, where re-delivery reads Kafka, not OpenSearch
    (OpenSearchSinkTask re-consumes the topic). One keyed left-semi
    join + a normal index build; returns the build metrics."""
    from pyspark.sql import functions as F

    from kafka_connect_opensearch_spark.operators.bm25 import IndexReader
    from kafka_connect_opensearch_spark.operators.indexer import build_index

    live = IndexReader(spark, src_index_dir).docs().select(
        F.col("doc_id").alias("__live_id")
    )
    docs = source.join(
        live, source[id_col] == F.col("__live_id"), "left_semi"
    )
    return build_index(
        spark, docs, dst_index_dir, config,
        content_col=content_col, doc_id_col=id_col,
    )
