"""Reference A1 parity: config attribute parsing (no Spark needed)."""

from __future__ import annotations

import pytest

from hbase_observer_es_spark.sources.config import SyncConfig, parse_client_info


def test_reference_example_format():
    # the install doc's format: hosts joined by '-', host:port by ':'
    assert parse_client_info("es1:9300-es2:9300-es3:9301") == [
        ("es1", 9300),
        ("es2", 9300),
        ("es3", 9301),
    ]


def test_single_host():
    assert parse_client_info("localhost:9300") == [("localhost", 9300)]


@pytest.mark.parametrize(
    "bad", ["", "  ", "host", "host:", ":9300", "h:abc", "h:0", "h:70000", "h:1:2"]
)
def test_malformed_raises(bad):
    with pytest.raises((ValueError,)):
        parse_client_info(bad)


def test_from_attrs_roundtrip():
    cfg = SyncConfig.from_attrs(
        {
            "cluster.name": "my-cluster",
            "indexName": "region_idx",
            "indexType": "doc",
            "esClientInfo": "a:9300-b:9301",
        }
    )
    assert cfg.cluster_name == "my-cluster"
    assert cfg.index_name == "region_idx"
    assert cfg.index_type == "doc"
    assert cfg.hosts == (("a", 9300), ("b", 9301))


def test_from_attrs_missing_key():
    with pytest.raises(KeyError):
        SyncConfig.from_attrs({"indexName": "x"})
