"""Segment store: layout, lineage manifest, and log-structured merge.

The reference's durability contract — contiguous-prefix offset commit
(OffsetTracker.java:120-156) and bulk-flush batching (OpenSearchClient.java:
145-155) — is re-cast as: each input micro-batch becomes one immutable
segment; the batch is *committed* by atomically renaming its manifest JSON
into ``manifest/``. Resume = skip batches whose manifest file exists
(SURVEY.md O1-O5). Lucene-style log-structured merge (SURVEY.md D3)
compacts many small segments into one, preserving latest-wins document
identity (W1/W4).

Every write — a build wave, a bulk load, a streamed micro-batch, a merge —
goes to a fresh *root* and lays its segments out as Hive partitions, so
one reader serves every segment. Layout::

    index_dir/
      meta.json                        # analyzer + BM25 config, created once (S4/S5)
      bulk_<tag>/                      # one root per write
        docs.parquet/seg=<name>/       # doc_id, doc_key, content_sha256, dl
        postings.parquet/seg=<name>/   # term, df, max_tf, doc_ids, tfs, dls, block_max
        positions.parquet/seg=<name>/rb=<c>/   # index_positions only
      manifest/<batch_id>.json         # commit point (written last, atomic rename)

A manifest entry lists its segments' stats (doc_count, sum_dl, n_terms,
n_postings, generation) and root (``path``); roots are never rewritten
once a segment in them is committed. A segment without docs writes no
partitions.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field

POSTINGS_SCHEMA = (
    "term string, seg string, df long, max_tf long, "
    "doc_ids binary, tfs binary, dls binary, block_max binary"
)

POSITIONS_SCHEMA = (
    "term string, seg string, part long, n_docs long, doc_ids binary, "
    "pos_counts binary, positions binary, blk_max_doc binary, "
    "blk_lens binary"
)

DOCS_COLUMNS = ["doc_id", "doc_key", "content_sha256", "dl"]
DOCS_SCHEMA = (
    "doc_id long, doc_key string, content_sha256 string, dl int, seg string"
)


@dataclass
class SegmentMeta:
    name: str
    generation: int
    doc_count: int
    sum_dl: int
    n_terms: int
    n_postings: int
    # root of the write holding this segment's seg=<name> partitions;
    # relative paths resolve against the index dir (snapshots)
    path: str = ""


@dataclass
class BuildMetrics:
    """North-rule build metrics: docs indexed, postings written, segments merged."""

    docs_indexed: int = 0
    postings_written: int = 0
    segments_built: int = 0
    segments_merged: int = 0
    batches_skipped: int = 0  # resume: batches whose manifest already existed
    wall_secs: float = 0.0
    details: dict = field(default_factory=dict)


class SegmentStore:
    """Driver-side catalog of an index directory (cheap metadata ops only)."""

    def __init__(self, index_dir: str):
        self.index_dir = index_dir
        self.manifest_dir = os.path.join(index_dir, "manifest")

    # -- DDL (idempotent create-if-absent, reference S4: OpenSearchClient.java:441-481)
    def create_if_absent(self, meta: dict) -> bool:
        created = not os.path.exists(os.path.join(self.index_dir, "meta.json"))
        os.makedirs(self.manifest_dir, exist_ok=True)
        if created:
            self._atomic_write_json(os.path.join(self.index_dir, "meta.json"), meta)
        return created

    def meta(self) -> dict:
        with open(os.path.join(self.index_dir, "meta.json")) as f:
            return json.load(f)

    # -- manifest / lineage (reference O1-O4: OffsetTracker.java:46-156)
    def committed_batches(self) -> dict[str, dict]:
        out = {}
        if not os.path.isdir(self.manifest_dir):
            return out
        for fn in sorted(os.listdir(self.manifest_dir)):
            if fn.endswith(".json"):
                with open(os.path.join(self.manifest_dir, fn)) as f:
                    out[fn[: -len(".json")]] = json.load(f)
        return out

    def commit_batch(self, batch_id: str, entry: dict) -> None:
        """Atomic commit: temp-write + rename — the segment becomes visible
        only after its data files are fully written (mirrors the reference's
        offset-after-success ordering, OpenSearchClient.java:370-375)."""
        self._atomic_write_json(
            os.path.join(self.manifest_dir, f"{batch_id}.json"), entry
        )

    def _atomic_write_json(self, path: str, obj: dict) -> None:
        tmp = f"{path}.tmp.{os.getpid()}.{time.monotonic_ns()}"
        with open(tmp, "w") as f:
            json.dump(obj, f, indent=1, sort_keys=True)
            f.flush()
            os.fsync(f.fileno())
        os.rename(tmp, path)

    # -- segments
    def active_segments(self, batches: dict | None = None) -> list[SegmentMeta]:
        """Segments referenced by committed manifests (default: the ones on
        disk now; ``batches``: a pinned :meth:`committed_batches` result),
        minus merged-away ones.

        A relative ``path`` resolves against THIS store's index dir:
        snapshots write their pinned manifests with snapshot-relative
        paths, so a snapshot (and anything restored from it) reads its
        own copied files — never the source index's — and survives the
        source being moved or deleted."""
        batches = self.committed_batches() if batches is None else batches
        live: dict[str, SegmentMeta] = {}
        dead: set[str] = set()
        for entry in batches.values():
            for seg in entry.get("segments", []):
                m = SegmentMeta(**seg)
                if not m.path:
                    raise ValueError(
                        f"segment {m.name!r} of {self.index_dir} uses the "
                        "retired per-segment layout (segments/<name>/); "
                        "rebuild the index from its source"
                    )
                if not os.path.isabs(m.path):
                    m.path = os.path.join(self.index_dir, m.path)
                live[m.name] = m
            dead.update(entry.get("replaces", []))
        return [m for n, m in sorted(live.items()) if n not in dead]

    def next_generation(self) -> int:
        """Generation of a freshly ingested segment: above every active
        segment's (merged ones included), so its docs win latest-wins
        against any copy already committed."""
        return 1 + max((m.generation for m in self.active_segments()),
                       default=-1)

    def bulk_path(self, tag: str) -> str:
        return os.path.join(self.index_dir, f"bulk_{tag}")

    @staticmethod
    def roots(metas: list[SegmentMeta]) -> dict[str, list[str]]:
        """root → names of its segments that hold docs (a segment without
        docs has no partitions to read)."""
        out: dict[str, list[str]] = {}
        for m in metas:
            if m.doc_count:
                out.setdefault(m.path, []).append(m.name)
        return out

    def _read(self, spark, kind: str, metas, schema: str):
        """Union one ``kind`` store of the given (default: active)
        segments: one read per root, pruned to its segments by the
        ``seg`` partition column. The store's schema is passed, not
        inferred: inference costs a footer-reading Spark job per root
        (~90 ms each on local[4]), paid by every merge and reconcile."""
        from pyspark.sql import functions as F

        metas = self.active_segments() if metas is None else metas
        dfs = [
            spark.read.schema(schema).parquet(f"{root}/{kind}.parquet")
            .filter(F.col("seg").isin(names))
            for root, names in self.roots(metas).items()
        ]
        if not dfs:
            return spark.createDataFrame([], schema)
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d)
        return out

    def read_postings(self, spark, metas: list[SegmentMeta] | None = None):
        return self._read(spark, "postings", metas, POSTINGS_SCHEMA)

    def read_positions(self, spark, metas: list[SegmentMeta] | None = None):
        # "rb" is a file-clustering partition column (term prefix), not data
        return self._read(
            spark, "positions", metas, f"{POSITIONS_SCHEMA}, rb string"
        ).drop("rb")

    def read_docs(self, spark, metas: list[SegmentMeta] | None = None,
                  with_seg: bool = False):
        """Union docs tables; ``with_seg`` keeps each row's segment name."""
        d = self._read(spark, "docs", metas, DOCS_SCHEMA)
        return d if with_seg else d.drop("seg")

    def global_stats(self) -> tuple[int, float]:
        """(N docs, avgdl) across active segments — driver-side, O(#segments)."""
        segs = self.active_segments()
        n = sum(s.doc_count for s in segs)
        total_dl = sum(s.sum_dl for s in segs)
        return n, (total_dl / n if n else 0.0)
