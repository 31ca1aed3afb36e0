"""ES index templates (engine/templates.py + index_admin CLI)."""

from __future__ import annotations

import json

import pytest

from engine.templates import (
    delete_template,
    get_templates,
    put_template,
    resolve_create_config,
    template_settings_for,
)


def test_put_match_order_and_delete(tmp_path):
    root = str(tmp_path)
    put_template(root, "base", "logs-*", {"codec": "varint"}, order=0)
    put_template(root, "pfor", "logs-hot-*", {"codec": "pfor"}, order=1)
    put_template(root, "routed", "logs-*", {"routing_col": "lang"}, order=0)
    # lowest order applied first, higher order wins per setting; both
    # matching order-0 templates contribute their disjoint settings
    assert template_settings_for(root, "logs-hot-000001") == {
        "codec": "pfor", "routing_col": "lang",
    }
    assert template_settings_for(root, "logs-cold-01") == {
        "codec": "varint", "routing_col": "lang",
    }
    assert template_settings_for(root, "web") == {}
    assert delete_template(root, "pfor")
    assert not delete_template(root, "pfor")
    assert {t["name"] for t in get_templates(root)} == {"base", "routed"}


def test_unknown_setting_rejected(tmp_path):
    with pytest.raises(ValueError, match="unknown template settings"):
        put_template(str(tmp_path), "bad", "x-*", {"codekk": "pfor"})


@pytest.mark.parametrize("settings", [
    {"codec": "zstd"},
    {"block_size": "128"},
    {"block_size": 0},
    {"block_size": True},
    {"k1": "1.2"},
    {"b": None},
    {"store_positions": "yes"},
    {"store_source": 1},
    {"routing_col": 7},
])
def test_bad_setting_value_rejected_at_put(tmp_path, settings):
    root = str(tmp_path)
    with pytest.raises(ValueError, match="template setting"):
        put_template(root, "bad", "x-*", settings)
    assert get_templates(root) == []  # nothing persisted


def test_valid_setting_values_accepted(tmp_path):
    entry = put_template(str(tmp_path), "ok", "x-*", {
        "codec": "pfor", "block_size": 64, "k1": 1, "b": 0.5,
        "store_positions": False, "store_source": True, "routing_col": None,
    })
    assert entry["settings"]["block_size"] == 64


def test_request_overrides_template(tmp_path):
    root = str(tmp_path)
    put_template(root, "t", "idx-*", {"codec": "pfor", "store_source": True})
    cfg, applied = resolve_create_config(root, "idx-1", {"codec": "varint"})
    assert cfg.codec == "varint"  # explicit request wins
    assert cfg.store_source is True  # template default applied
    assert applied == {"store_source": True}


def test_create_cli_applies_template(tmp_path, capsys):
    from engine.segments import IndexStore
    from jobs.index_admin import main

    root = str(tmp_path)
    rc = main(["put-template", "--index-root", root, "--name", "hot",
               "--pattern", "hot-*", "--settings", '{"codec": "pfor"}'])
    assert rc == 0
    capsys.readouterr()
    rc = main(["create", "--index-root", root, "--index", "hot-000001"])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["template_settings"] == {"codec": "pfor"}
    assert IndexStore(root, "hot-000001").codec == "pfor"
    # non-matching index: no template, default codec
    rc = main(["create", "--index-root", root, "--index", "web"])
    assert rc == 0
    assert IndexStore(root, "web").codec == "varint"


def test_rollover_generation_consults_templates(spark, tmp_path):
    from engine.corpus import webpages
    from engine.ingest import EARLIEST, as_partitioned_source, run_ingest_loop
    from engine.rollover import rollover
    from engine.segments import IndexStore

    root = str(tmp_path)
    put_template(root, "warm", "gen-*", {"codec": "pfor"})
    store = IndexStore(root, "gen-000001").create()
    src = as_partitioned_source(webpages(spark, 60, partitions=2), 2)
    run_ingest_loop(spark, store, src, rows_per_partition=30,
                    start_option=EARLIEST)
    store.add_alias("writes")
    out = rollover(root, "writes", max_docs=1)
    assert out["rolled_over"]
    assert out["template_settings"] == {"codec": "pfor"}
    assert IndexStore(root, out["new_index"]).codec == "pfor"
    # old generation untouched
    assert IndexStore(root, "gen-000001").codec == "varint"
