"""ES index templates: create-time settings applied by index-name pattern.

The reference creates indexes through the ES client
(/root/reference/src/main/java/org/elasticsearch/kafka/indexer/service/
ElasticSearchClientService.java:115-123); operationally ES pairs that with
index TEMPLATES — `PUT _template/<name> {"template": "logs-*",
"settings": ...}` — so every index a rolling workflow creates (e.g.
_rollover generations, engine/rollover.py) picks up its codec/analyzer
settings without the caller repeating them.

Storage: one `_templates.json` per index root (the cluster-state analog),
written atomically like every other manifest. Matching: ES 5.x orders by
the template's `order` value (higher wins per-setting); this engine keeps
the subset that matters for its settings surface: every matching
template applies, lowest `order` first (ties by name), so a higher-order
template overrides per setting; explicit create-time settings always win
(exactly ES's request-over-template precedence).
"""

from __future__ import annotations

import fnmatch
import json
import os

from engine.segments import _atomic_write_json


def _is_num(v) -> bool:
    return isinstance(v, (int, float)) and not isinstance(v, bool)


def _is_pos_int(v) -> bool:
    return isinstance(v, int) and not isinstance(v, bool) and v > 0


# the settings a template may carry — the IndexConfig surface that is
# recorded at create time (segments.py _meta.json + store behavior flags) —
# each with its value check and what it accepts, mirroring index_admin's
# argparse choices and the IndexConfig field types
TEMPLATE_SETTINGS = {
    "codec": (lambda v: v in ("varint", "pfor"), "'varint' or 'pfor'"),
    "routing_col": (lambda v: v is None or isinstance(v, str), "a str or null"),
    "store_positions": (lambda v: isinstance(v, bool), "a bool"),
    "store_source": (lambda v: isinstance(v, bool), "a bool"),
    "block_size": (_is_pos_int, "an int > 0"),
    "k1": (_is_num, "a number"),
    "b": (_is_num, "a number"),
}


def _path(root: str) -> str:
    return os.path.join(root, "_templates.json")


def put_template(
    root: str, name: str, pattern: str, settings: dict, order: int = 0
) -> dict:
    """Create/replace template `name`. Unknown settings and bad values
    are rejected up front (a typo'd template would otherwise silently do
    nothing, and a bad value would only fail at ingest or decode time)."""
    bad = sorted(set(settings) - set(TEMPLATE_SETTINGS))
    if bad:
        raise ValueError(
            f"unknown template settings {bad}; allowed: {list(TEMPLATE_SETTINGS)}"
        )
    for key, value in settings.items():
        ok, want = TEMPLATE_SETTINGS[key]
        if not ok(value):
            raise ValueError(
                f"template setting {key}={value!r}: expected {want}"
            )
    tpls = get_templates(root)
    tpls = [t for t in tpls if t["name"] != name]
    entry = {
        "name": name, "pattern": pattern,
        "settings": dict(settings), "order": int(order),
    }
    tpls.append(entry)
    os.makedirs(root, exist_ok=True)
    _atomic_write_json(_path(root), {"templates": sorted(
        tpls, key=lambda t: t["name"]
    )})
    return entry


def delete_template(root: str, name: str) -> bool:
    tpls = get_templates(root)
    kept = [t for t in tpls if t["name"] != name]
    if len(kept) == len(tpls):
        return False
    _atomic_write_json(_path(root), {"templates": kept})
    return True


def get_templates(root: str) -> list[dict]:
    try:
        with open(_path(root)) as f:
            return json.load(f).get("templates", [])
    except FileNotFoundError:
        return []


def template_settings_for(root: str, index_name: str) -> dict:
    """Merged settings for a new index: matching templates applied lowest
    order first, so a higher-order template overrides per setting (ES 5.x
    merge semantics); ties break by name for determinism."""
    matches = [
        t for t in get_templates(root)
        if fnmatch.fnmatchcase(index_name, t["pattern"])
    ]
    merged: dict = {}
    for t in sorted(matches, key=lambda t: (int(t.get("order", 0)), t["name"])):
        merged.update(t["settings"])
    return merged


def resolve_create_config(root: str, index_name: str, overrides: dict):
    """IndexConfig for a new index: template settings as defaults, explicit
    `overrides` (the create request) winning — ES request-over-template
    precedence. Returns (cfg, applied) where `applied` records which
    settings actually came from templates (for the create response)."""
    from dataclasses import replace

    from engine.config import DEFAULT_CONFIG

    tpl = template_settings_for(root, index_name)
    applied = {
        k: v for k, v in tpl.items()
        if k not in overrides or overrides[k] is None
    }
    merged = {**applied, **{k: v for k, v in overrides.items() if v is not None}}
    return replace(DEFAULT_CONFIG, **merged), applied
