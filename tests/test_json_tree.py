"""Unit tests for the JSON-tree helpers — mirrors the reference's
utility test shapes (reference lambdas/tests/test_core.py:96-155)."""

from defenda_data_lake_spark.utils.json_tree import (
    deep_merge,
    dict_match,
    enum_keys,
    get_by_path,
    lowercase_keys_into,
)


def test_lowercase_keys_recursive():
    event = {"KEY1": "v", "Nested": {"SubKey": [{"DeepKey": 1}]}, "ok": 2}
    assert lowercase_keys_into(event, set()) == {
        "key1": "v",
        "nested": {"subkey": [{"deepkey": 1}]},
        "ok": 2,
    }


def test_deep_merge_right_wins_on_leaves():
    base = {"a": 1, "b": {"x": 1, "y": 2}, "c": 3}
    override = {"b": {"y": 9, "z": 10}, "c": 4}
    assert deep_merge(base, override) == {
        "a": 1,
        "b": {"x": 1, "y": 9, "z": 10},
        "c": 4,
    }
    # base untouched
    assert base["b"] == {"x": 1, "y": 2}


def test_enum_keys_and_values():
    tree = {"a": 1, "b": {"c": [{"d": 2}]}}
    assert sorted(enum_keys(tree)) == ["a", "b", "c", "d"]


def test_get_by_path_with_list_index():
    tree = {"details": {"events": [{"name": "login_success"}], "user": "u"}}
    assert get_by_path(tree, "details.user") == "u"
    assert get_by_path(tree, "details.events.0.name") == "login_success"
    assert get_by_path(tree, "details.missing", "dflt") == "dflt"
    assert get_by_path(tree, "details.events.5.name") is None


def test_dict_match_subset_equality():
    assert dict_match(
        {"boolvalue": True, "name": "is_suspicious"},
        {"name": "is_suspicious", "boolvalue": True, "extra": 1},
    )
    assert not dict_match(
        {"boolvalue": True, "name": "is_suspicious"},
        {"name": "is_suspicious", "boolvalue": False},
    )
    assert not dict_match({"a": 1}, "not-a-dict")
