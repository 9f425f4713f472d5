"""Pin the reference's serialization unit snapshots
(/root/reference/src/serialization/snapshots, tests in
serialization/mod.rs:596-1314) — render_top_k at fixed k with fixed
configs, including the YAML template."""

from __future__ import annotations

import re

import pytest

from conftest import REFERENCE, requires_reference
from headson_spark.kernel import arena as ar
from headson_spark.kernel.order import build_order
from headson_spark.kernel.render import RenderConfig, render_top_k

SNAP = REFERENCE / "src" / "serialization" / "snapshots"


def read_snap(name: str) -> str:
    raw = (SNAP / f"headson__serialization__tests__{name}.snap").read_text()
    return re.match(r"(?s)^---\n.*?\n---\n(.*)$", raw).group(1).rstrip("\n")


def render(json_text: str, k: int, template: str, style: str,
           array_cap: int = 10**9, string_cap: int = 10**9,
           prefer_tail: bool = False, sampler: str = "balanced",
           indent: str = "  ", newline: str = "\n") -> str:
    a = ar.build_json_arena(json_text, array_cap, sampler)
    po = build_order(a, string_cap, prefer_tail_arrays=prefer_tail)
    cfg = RenderConfig(template=template, style=style, indent_unit=indent,
                       space=" ", newline=newline,
                       prefer_tail_arrays=prefer_tail)
    return render_top_k(po, k, cfg)


CASES = [
    # (snapshot, json, k, template, style, kwargs)
    ("arena_render_empty", "[]", 10, "json", "strict", {}),
    ("arena_render_single", '["ab"]', 10, "json", "strict", {}),
    ("arena_render_empty_yaml", "[]", 10, "yaml", "default", {}),
    ("arena_render_single_yaml", '["ab"]', 10, "yaml", "default", {}),
    ("array_omitted_pseudo_head", "[1,2,3]", 2, "pseudo", "default",
     {"array_cap": 1}),
    ("array_omitted_pseudo_tail", "[1,2,3]", 2, "pseudo", "default",
     {"array_cap": 1, "prefer_tail": True}),
    ("array_omitted_js_head", "[1,2,3]", 2, "js", "detailed",
     {"array_cap": 1}),
    ("array_omitted_js_tail", "[1,2,3]", 2, "js", "detailed",
     {"array_cap": 1, "prefer_tail": True}),
    ("array_omitted_yaml_head", "[1,2,3]", 2, "yaml", "detailed",
     {"array_cap": 1}),
    ("array_omitted_yaml_tail", "[1,2,3]", 2, "yaml", "detailed",
     {"array_cap": 1, "prefer_tail": True}),
    ("inline_open_array_in_object_yaml", '{"a":[1,2,3]}', 4, "yaml",
     "detailed", {"array_cap": 2}),
    ("inline_open_array_in_object_json", '{"a":[1,2,3]}', 4, "json",
     "strict", {"array_cap": 2}),
]


@pytest.mark.parametrize("snap,json_text,k,template,style,kwargs",
                         CASES, ids=[c[0] for c in CASES])
@requires_reference
def test_unit_snapshot(snap, json_text, k, template, style, kwargs):
    got = render(json_text, k, template, style, **kwargs)
    assert got.rstrip("\n") == read_snap(snap)


def test_string_parts_never_rendered_but_affect_truncation():
    # serialization/mod.rs:1064-1097: k=6 over "abcdefghij", compact json
    got = render('"abcdefghij"', 6, "json", "strict", indent="",
                 newline="")
    assert got == '"abcde…"'


def test_yaml_parses_and_quotes():
    import yaml as pyyaml
    out = render('{"true":1,"a:b":"a:b","multiline":"l1\\nl2"}',
                 10**6, "yaml", "default")
    v = pyyaml.safe_load(out)
    assert v == {"true": 1, "a:b": "a:b", "multiline": "l1\nl2"}
