"""ColBERTConfig persistence: configs written by older versions keep
loading after fields are removed."""

from __future__ import annotations

import json
from dataclasses import fields

from colbert_spark.plans.config import ColBERTConfig


def test_load_ignores_removed_bm25_and_cache_keys(tmp_path):
    # a config JSON as written before k1, b and cache_tokens were removed
    legacy = {
        "b": 0.75, "block_size": 64, "cache_tokens": False,
        "doc_maxlen": 180, "iceberg_catalog": "", "index_name": "old",
        "index_partitions": 16, "index_root": "/indexes", "k1": 2.0,
        "max_group_postings": 1 << 20, "max_purge_pids": 1 << 20,
        "purge_fallback_file_fraction": 0.8, "query_maxlen": 32,
        "shuffle_partitions": 8,
    }
    path = tmp_path / "config.json"
    path.write_text(json.dumps(legacy))
    cfg = ColBERTConfig.load(str(path))
    names = {f.name for f in fields(ColBERTConfig)}
    assert not names & {"k1", "b", "cache_tokens"}
    assert len(names) == 11
    assert {n: getattr(cfg, n) for n in names} == {
        n: v for n, v in legacy.items() if n in names}

