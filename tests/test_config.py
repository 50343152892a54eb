"""Config-layer tests — mirror the reference's model unit tests
(reference: tests/test_models.py:20-223) plus the rule parser grammar
(src/drune/utils/parsers.py) and profile/type-default/inheritance merges."""

import pytest
from hypothesis import given, strategies as st
from pydantic import ValidationError

from drune_spark.config.models import (
    ColumnSpec,
    ConstraintSpec,
    PipelineModel,
    ProjectModel,
    deep_merge,
    interpolate_vars,
    to_snake_case,
)
from drune_spark.config.parsers import parse_rules


class TestRuleParser:
    def test_single_rule(self):
        assert parse_rules("not_null") == [{"function": "not_null", "params": {}}]

    def test_chain(self):
        rules = parse_rules("not_null|unique")
        assert [r["function"] for r in rules] == ["not_null", "unique"]

    def test_positional_params(self):
        rules = parse_rules("isbetween:[1, 5]")
        assert rules[0]["params"]["positional"] == [[1, 5]]

    def test_named_params(self):
        rules = parse_rules("pattern:regex='^a.*$'")
        assert rules[0]["params"]["regex"] == "^a.*$"

    def test_quoted_commas_and_pipes(self):
        rules = parse_rules("isin:['a,b', 'c|d']|not_null")
        assert rules[0]["params"]["positional"] == [["a,b", "c|d"]]
        assert rules[1]["function"] == "not_null"

    def test_mixed(self):
        rules = parse_rules("f:1,k='v',2")
        params = rules[0]["params"]
        assert params["k"] == "v"
        assert params["positional"] == [1, 2]


class TestColumnSpec:
    def test_reserved_id_rejected(self):
        with pytest.raises(ValidationError):
            ColumnSpec(name="id")

    def test_underscore_prefix_rejected(self):
        with pytest.raises(ValidationError):
            ColumnSpec(name="_hidden")

    def test_constraint_default_on_fail_is_fail(self):
        c = ConstraintSpec(rule="not_null")
        assert c.on_fail == "fail"

    def test_source_name_falls_back_to_name(self):
        assert ColumnSpec(name="a").source_name == "a"
        assert ColumnSpec(name="a", **{"from": "b"}).source_name == "b"


class TestPipelineModel:
    def _pipeline(self, **overrides):
        base = {
            "pipeline_name": "p",
            "defaults": {"types": {"str": {"expression": "trim({col})"}}},
            "sources": [{
                "name": "s1",
                "type": "file",
                "path": "/tmp/x.csv",
                "schema": {"columns": [
                    {"name": "a", "type": "str"},
                    {"name": "b", "type": "int"},
                    {"name": "c", "type": "str", "expression": "upper({col})"},
                ]},
            }],
            "target": {
                "name": "t", "type": "file", "path": "/tmp/out",
                "schema": {
                    "inherits": {"source": "s1", "exclude": ["b"]},
                    "columns": [{"name": "d", "type": "str",
                                 "expression": "concat(a, c)"}],
                },
            },
        }
        base.update(overrides)
        return PipelineModel.model_validate(base)

    def test_type_defaults_injected(self):
        m = self._pipeline()
        cols = {c.name: c for c in m.sources[0].schema_.columns}
        assert cols["a"].expression == "trim({col})"
        assert cols["b"].expression is None          # not a str
        assert cols["c"].expression == "upper({col})"  # explicit wins

    def test_inheritance_excludes_and_appends(self):
        m = self._pipeline()
        names = [c.name for c in m.target.schema_.columns]
        assert names == ["a", "c", "d"]  # b excluded, d appended

    def test_inheritance_unknown_source_fails(self):
        with pytest.raises(ValidationError):
            self._pipeline(target={
                "name": "t", "type": "file", "path": "/tmp/out",
                "schema": {"inherits": {"source": "nope"}},
            })

    def test_sink_mode_enum(self):
        with pytest.raises(ValidationError):
            self._pipeline(target={"name": "t", "type": "file",
                                   "path": "/x", "mode": "bogus"})


class TestProjectModel:
    def test_profile_deep_merge(self):
        p = ProjectModel.model_validate({
            "name": "x",
            "defaults": {"engine": {"name": "spark",
                                    "options": {"a": 1, "b": 2}}},
            "profiles": {"prod": {"engine": {"options": {"b": 3}}}},
        })
        merged = p.merge_defaults("prod")
        assert merged.engine.options == {"a": 1, "b": 3}
        assert p.merge_defaults(None).engine.options == {"a": 1, "b": 2}

    def test_unknown_profile(self):
        p = ProjectModel.model_validate({"name": "x"})
        with pytest.raises(ValueError):
            p.merge_defaults("nope")


class TestHelpers:
    def test_snake_case(self):
        assert to_snake_case("camelCaseCol") == "camel_case_col"
        assert to_snake_case("HTTPStatus") == "http_status"
        assert to_snake_case("already_snake") == "already_snake"

    def test_interpolate_vars_leaves_col_placeholder(self):
        out = interpolate_vars("{env}/data/{col}", {"env": "dev"})
        assert out == "dev/data/{col}"

    @given(st.dictionaries(st.text(min_size=1, max_size=5),
                           st.integers(), max_size=5),
           st.dictionaries(st.text(min_size=1, max_size=5),
                           st.integers(), max_size=5))
    def test_deep_merge_overlay_wins(self, base, overlay):
        merged = deep_merge(base, overlay)
        for key, value in overlay.items():
            assert merged[key] == value
        for key in base:
            assert key in merged


class TestDriverMemory:
    @pytest.mark.parametrize("gib, want", [
        (128, "32768m"), (256, "32768m"), (16, "4096m"), (2, "512m")])
    def test_default_is_a_quarter_of_ram_capped_at_32g(
        self, monkeypatch, gib, want
    ):
        """No JVM starts: the default is plain arithmetic on sysconf."""
        import os

        from drune_spark.session import default_driver_mem

        pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": (gib << 30) // 4096}
        monkeypatch.setattr(os, "sysconf", pages.__getitem__)
        assert default_driver_mem() == want
