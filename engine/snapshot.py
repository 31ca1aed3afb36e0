"""ES `_snapshot` / `_restore`: repository-based index backup and recovery.

The reference's only recovery story is "replay the topic from committed
offsets"; ES adds snapshot repositories — point-in-time copies of an
index's immutable segments plus its metadata, restorable into a new index.
This module implements the same model over the on-disk IndexStore:

  - a REPOSITORY is a directory holding a shared `segments/` pool and a
    `snapshots/` manifest dir;
  - `snapshot()` is INCREMENTAL exactly the way ES's is: segments are
    immutable, so a segment directory already present in the repository
    pool is skipped — a daily snapshot of a slowly-growing index copies
    only the new segments (the manifest records which segments the
    snapshot needs, copied or shared);
  - `restore()` materializes a new store: metadata + aliases + the
    snapshot's live segments + a single synthetic ledger entry that
    replays the source's committed per-partition offsets, so an ingest
    loop resumed against the restored index continues from the snapshot
    point (the reference's offset-commit semantics carried through
    backup/restore).

100 TB shape: snapshotting is file-level copy of immutable segment data —
no Spark job, no decode, O(new segment bytes) per snapshot; on a real
cluster the copy is `hadoop distcp`/object-store copy of the same layout.
Restore cost is the same file copy; queries on the restored index are
identical because segments are byte-identical.
"""

from __future__ import annotations

import json
import os
import shutil

from engine.segments import IndexStore, LedgerEntry, _atomic_write_json


def _repo_dirs(repo: str) -> tuple[str, str]:
    seg_pool = os.path.join(repo, "segments")
    manifests = os.path.join(repo, "snapshots")
    os.makedirs(seg_pool, exist_ok=True)
    os.makedirs(manifests, exist_ok=True)
    return seg_pool, manifests


def snapshot(store: IndexStore, repo: str, name: str) -> dict:
    """Snapshot `store`'s current live state into repository `repo` under
    `name`. Returns the manifest. Fails if the snapshot name exists
    (snapshots are immutable, like ES's)."""
    seg_pool, manifests = _repo_dirs(repo)
    mpath = os.path.join(manifests, f"{name}.json")
    if os.path.exists(mpath):
        raise ValueError(f"snapshot {name!r} already exists in repository")

    view = store.view()
    copied, shared = [], []
    for seg in view.segments:
        dst = os.path.join(seg_pool, seg)
        if os.path.exists(dst):
            shared.append(seg)  # incremental: immutable segment already in pool
            continue
        shutil.copytree(store.segment_path(seg), dst + ".tmp")
        os.rename(dst + ".tmp", dst)
        copied.append(seg)

    with open(os.path.join(store.path, "_meta.json")) as f:
        meta = json.load(f)
    try:
        with open(os.path.join(store.path, "_aliases.json")) as f:
            aliases = json.load(f)
    except FileNotFoundError:
        aliases = {}
    # active delete_by_query tombstones are part of the commit point (the
    # Lucene live-docs-bitset analog): copy their parquet dirs so a restore
    # does not resurrect deleted docs
    deletes = []
    for e in view.active_deletes:
        rel = e.metrics["deletes_dir"]
        dst = os.path.join(seg_pool, f"{name}__{os.path.basename(rel)}")
        if not os.path.exists(dst):
            shutil.copytree(os.path.join(store.path, rel), dst + ".tmp")
            os.rename(dst + ".tmp", dst)
        deletes.append({
            "pool_dir": os.path.basename(dst),
            "n_deleted": int(e.metrics.get("n_deleted", 0)),
        })

    manifest = {
        "name": name,
        "index": store.name,
        "segments": list(view.segments),
        "segments_copied": copied,
        "segments_shared": shared,
        "deletes": deletes,
        "meta": meta,
        "aliases": aliases,
        "committed_offsets": {
            str(p): int(o) for p, o in view.committed_offsets.items()
        },
        "doc_id_hwm": view.doc_id_hwm,
    }
    _atomic_write_json(mpath, manifest)
    return manifest


def list_snapshots(repo: str) -> list[str]:
    _, manifests = _repo_dirs(repo)
    return sorted(
        fn[:-5] for fn in os.listdir(manifests) if fn.endswith(".json")
    )


def restore(
    repo: str, name: str, root: str, index_name: str | None = None
) -> IndexStore:
    """Restore snapshot `name` from `repo` into a NEW index at
    root/index_name (defaults to the snapshotted index's name). Refuses to
    restore onto an existing index (ES requires the target closed/absent)."""
    seg_pool, manifests = _repo_dirs(repo)
    mpath = os.path.join(manifests, f"{name}.json")
    if not os.path.exists(mpath):
        raise ValueError(f"snapshot {name!r} not found in repository")
    with open(mpath) as f:
        manifest = json.load(f)

    target = index_name or manifest["index"]
    store = IndexStore(root, target)
    if store.exists():
        raise ValueError(f"restore target index {target!r} already exists")

    os.makedirs(os.path.join(store.path, "segments"), exist_ok=True)
    os.makedirs(os.path.join(store.path, "ledger"), exist_ok=True)
    meta = dict(manifest["meta"])
    meta["name"] = target
    _atomic_write_json(os.path.join(store.path, "_meta.json"), meta)
    _atomic_write_json(
        os.path.join(store.path, "_aliases.json"), manifest["aliases"]
    )
    for seg in manifest["segments"]:
        shutil.copytree(
            os.path.join(seg_pool, seg), store.segment_path(seg)
        )
    # one synthetic ledger entry: the snapshot's live set becomes the
    # restored index's, and the committed offsets replay so a resumed
    # ingest loop continues from the snapshot point
    store.commit(LedgerEntry(
        entry_id=0,
        kind="restore",
        segments_added=list(manifest["segments"]),
        partition_offsets={
            str(p): int(o)
            for p, o in manifest.get("committed_offsets", {}).items()
        },
        metrics={"restored_from": name},
    ))
    # replay tombstones AFTER the restore entry so they stay active
    # (StoreView.active_deletes requires entry_id > the segments' creator)
    for i, d in enumerate(manifest.get("deletes", [])):
        rel = os.path.join("deletes", f"del-{i + 1:08d}")
        shutil.copytree(
            os.path.join(seg_pool, d["pool_dir"]),
            os.path.join(store.path, rel),
        )
        store.commit(LedgerEntry(
            entry_id=i + 1,
            kind="delete",
            segments_added=[],
            metrics={"deletes_dir": rel,
                     "n_deleted": int(d.get("n_deleted", 0)),
                     "restored_from": name},
        ))
    return store
