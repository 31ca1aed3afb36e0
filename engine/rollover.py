"""ES `_rollover`: alias-driven index rotation.

ES's answer to the unbounded-index problem — a WRITE ALIAS points at the
current generation; when that index crosses a size condition, a new
generation `<base>-NNNNNN` is created and the alias atomically moves to
it. Readers keep querying the alias; the old generation becomes an
immutable, merge-compacted, snapshot-able segment of history. With the
reference's ingest loop this is how a 10^12-doc corpus stays operable:
per-generation indexes bound merge tiers, snapshot sizes and deletion
granularity.

Driver-side metadata only (alias files + the ledger-derived doc count);
no Spark job, O(indexes) directory work.
"""

from __future__ import annotations

import re

from engine.fanout import discover_indexes
from engine.segments import IndexStore

_GEN = re.compile(r"^(?P<base>.*)-(?P<n>\d{6})$")


def _next_generation(name: str) -> str:
    m = _GEN.match(name)
    if m:
        return f"{m.group('base')}-{int(m.group('n')) + 1:06d}"
    return f"{name}-000001"


def find_alias_index(root: str, alias: str) -> IndexStore | None:
    """The index an alias currently points at (None if unattached)."""
    for name in discover_indexes(root):
        st = IndexStore(root, name)
        if alias in st._aliases():
            return st
    return None


def rollover(
    root: str, alias: str, max_docs: int | None = None,
    max_segments: int | None = None, dry_run: bool = False,
) -> dict:
    """Roll the alias to a new generation if the current index meets ANY
    given condition (ES rollover conditions semantics; at least one must
    be supplied). Returns the ES-shaped response: old/new index, the
    per-condition verdicts, and `rolled_over`."""
    if max_docs is None and max_segments is None:
        raise ValueError("need at least one condition (max_docs/max_segments)")
    cur = find_alias_index(root, alias)
    if cur is None:
        raise ValueError(f"alias {alias!r} is not attached to any index")

    view = cur.view()
    segs = view.segments
    n_docs = int(view.stats()["n_docs"])
    conditions = {}
    if max_docs is not None:
        conditions[f"max_docs={max_docs}"] = n_docs >= max_docs
    if max_segments is not None:
        conditions[f"max_segments={max_segments}"] = len(segs) >= max_segments
    do_roll = any(conditions.values())

    out = {
        "old_index": cur.name,
        "new_index": _next_generation(cur.name),
        "rolled_over": bool(do_roll and not dry_run),
        "dry_run": dry_run,
        "conditions": conditions,
        "n_docs": n_docs,
        "n_segments": len(segs),
    }
    if do_roll and not dry_run:
        spec = cur.alias_spec(alias)
        # ES rollover creates the target like any new index: matching
        # index templates drive its settings. Template settings are applied
        # OVER the current generation's PERSISTED settings (_meta.json via
        # persisted_config — cur.cfg is just the in-memory default; the
        # old generation's codec/routing/positions must carry over unless
        # a template overrides them: the hot->warm tiering move).
        from dataclasses import replace

        from engine.templates import template_settings_for

        base_cfg = cur.persisted_config()
        tpl = template_settings_for(root, out["new_index"])
        new_cfg = replace(base_cfg, **tpl) if tpl else base_cfg
        if tpl:
            out["template_settings"] = tpl
        new = IndexStore(root, out["new_index"], cfg=new_cfg).create()
        # atomic enough for a single-writer metadata dir: new index gets
        # the alias first, then the old one drops it (a reader mid-swap
        # sees the alias on one or both generations, never on none)
        new.add_alias(alias, filter_col=spec.get("filter_col"),
                      filter_val=spec.get("filter_val"),
                      routing=spec.get("routing"))
        cur.remove_alias(alias)
    return out
