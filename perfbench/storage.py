"""Storage-state readings shared by the storage workloads (untimed)."""

from __future__ import annotations

import os


def disk_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total


def collect_garbage(repo) -> None:
    """Hard-delete every unreferenced segment: the first pass
    soft-deletes, the second removes the trash it left."""
    repo.gc(timeout=0.0, staging_timeout=0.0)
    repo.gc(timeout=0.0, staging_timeout=0.0)


def log_state(coll) -> dict:
    """Revisions, checkpoints and live segments of a collection."""
    revs = coll.changelog.revisions()
    ckpt = sum(r.read().get("kind") != "delta" for r in revs)
    snap = coll.snapshot()
    return {
        "revisions": len(revs),
        "checkpoints": ckpt,
        "segments": sum(1 for s in snap.segments if s.path),
    }


def memo_sizes() -> dict:
    """The program's own memos, to set next to working-set sizes: the
    revision payload memo (entries), the hot revision window kept by
    archiving, and the snapshot cache of one `Collection` object."""
    from lakota_spark.changelog import KEEP_HOT, Revision

    return {
        "revision_payload_memo": getattr(Revision, "_PAYLOADS_MAX", None),
        "keep_hot": KEEP_HOT,
        "collection_snapshot_cache": 1,
    }
