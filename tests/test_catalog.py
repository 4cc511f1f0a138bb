import pytest

from agensgraph_spark.catalog import GraphCatalog


def test_create_and_descendants():
    cat = GraphCatalog("g")
    cat.create_vlabel("v1")
    cat.create_vlabel("v2")
    cat.create_vlabel("v3", parents=["v2"])
    assert cat.descendants("v2") == ["v2", "v3"]
    assert cat.ancestors("v3") == ["v2"]


def test_diamond_ancestors():
    cat = GraphCatalog("g")
    cat.create_vlabel("b")
    cat.create_vlabel("c")
    cat.create_vlabel("d", parents=["b", "c"])
    assert set(cat.ancestors("d")) == {"b", "c"}


def test_kind_mismatch():
    cat = GraphCatalog("g")
    cat.create_vlabel("v")
    with pytest.raises(ValueError):
        cat.create_elabel("e", parents=["v"])


def test_json_roundtrip():
    cat = GraphCatalog("g")
    cat.create_vlabel("v", props={"x": "bigint"})
    cat.create_elabel("e")
    cat.labels["v"].next_locid = 42
    cat2 = GraphCatalog.from_json(cat.to_json())
    assert cat2.labels["v"].props == {"x": "bigint"}
    assert cat2.labels["v"].next_locid == 42 and cat2.labels["e"].next_locid is None
    assert cat2.labels["e"].kind == "e"
    assert cat2.labels["v"].labid == cat.labels["v"].labid


def test_drop_with_children_fails():
    cat = GraphCatalog("g")
    cat.create_vlabel("p")
    cat.create_vlabel("c", parents=["p"])
    with pytest.raises(ValueError):
        cat.drop_label("p")
    cat.drop_label("c")
    cat.drop_label("p")
    assert not cat.labels
