"""Property tests mirroring the reference's invariants (SURVEY.md §5):

- monotonicity:      /root/reference/tests/monotonicity.rs:23-85
- budget zero:       /root/reference/tests/budget_zero.rs:4-27
- object ordering:   /root/reference/tests/object_ordering.rs:8-40
- array caps:        /root/reference/tests/array_caps.rs:14-46
- strict JSON:       /root/reference/tests/e2e_json_parse.rs:13-27
- unicode strings:   /root/reference/tests/unicode_strings.rs:21-40
- string escaping:   /root/reference/tests/string_escaping.rs:10-40
- text mode:         /root/reference/src/text_ingest/mod.rs:150-192
"""

from __future__ import annotations

import json

import pytest

from conftest import REFERENCE, reference_cases, requires_reference
from headson_spark.kernel import summarize
from headson_spark.kernel.graphemes import graphemes, take_n_graphemes

EXPLICIT = REFERENCE / "tests" / "fixtures" / "explicit"
PARAMETRIC = REFERENCE / "tests" / "fixtures" / "parametric"

TEMPLATES = {
    "json": {"format": "json", "style": "strict"},
    "pseudo": {"format": "json", "style": "default"},
    "js": {"format": "json", "style": "detailed"},
}


def run(text, template, budget, skew="balanced"):
    a = TEMPLATES[template]
    return summarize(text, format=a["format"], style=a["style"],
                     character_budget=budget, skew=skew)


# --- monotonicity ------------------------------------------------------------

@pytest.mark.parametrize("fixture", ["object_small.json",
                                     "array_numbers_50.json"])
@pytest.mark.parametrize("template", list(TEMPLATES))
@requires_reference
def test_monotonic_and_within_budget(fixture, template):
    text = (EXPLICIT / fixture).read_text()
    budgets = [0, 1, 5, 10, 20, 30, 50, 60, 100, 120, 1000]
    lens = []
    for b in budgets:
        out = run(text, template, b)
        lens.append(len(out.rstrip("\r\n").encode("utf-8")))
    for i in range(1, len(lens)):
        assert lens[i] >= lens[i - 1], (budgets[i], lens)
    min_len = lens[0]
    for b, ln in zip(budgets, lens):
        if min_len <= b:
            assert ln <= b, (b, ln, template)
        else:
            assert ln == min_len, (b, ln, template)


# --- budget zero --------------------------------------------------------------

@pytest.mark.parametrize("inp,expected", [
    ("[]", "[]"), ("{}", "{}"), ('"x"', '"…"'),
    ("0", "0"), ("true", "true"), ("null", "null"),
])
@pytest.mark.parametrize("template", list(TEMPLATES))
def test_budget_zero_minimal_output(inp, expected, template):
    assert run(inp, template, 0) == expected


# --- object ordering ----------------------------------------------------------

@pytest.mark.parametrize("template", list(TEMPLATES))
def test_object_key_order_input_independent(template):
    a = '{"b":1,"a":2,"c":0}'
    b = '{"c":0,"b":1,"a":2}'
    out_a = run(a, template, 1000)
    assert out_a == run(b, template, 1000)
    pa, pb, pc = (out_a.find(f'"{k}"') for k in "abc")
    assert pa < pb < pc


@pytest.mark.parametrize("template", list(TEMPLATES))
@pytest.mark.parametrize("budget", [10, 30, 60])
def test_object_key_order_stable_under_truncation(template, budget):
    a = '{"b":1,"a":2,"c":0,"d":3}'
    b = '{"d":3,"c":0,"b":1,"a":2}'
    assert run(a, template, budget) == run(b, template, budget)


# --- array caps: kept + omitted == total --------------------------------------

@requires_reference
def test_array_kept_plus_omitted_is_total_js():
    text = (EXPLICIT / "array_numbers_50.json").read_text()
    total = len(json.loads(text))
    import re
    for budget in [20, 30, 40, 80, 200, 1000]:
        out = run(text, "js", budget)
        comments = re.findall(r"/\*\s*(\d+) more items \*/", out)
        stripped = re.sub(r"/\*.*?\*/", "", out)
        kept_vals = [int(m) for m in re.findall(r"\d+", stripped)]
        kept = len(kept_vals)
        if kept == total:
            assert not comments, (budget, out)
            continue
        # the final marker reports total - kept (serialization/mod.rs:71-90)
        assert comments and int(comments[-1]) == total - kept, (budget, out)
        # internal gap markers report exact index gaps (core.rs:24-35)
        gaps = [int(c) for c in comments[:-1]]
        idx_gaps = [b - a - 1 for a, b in zip(kept_vals, kept_vals[1:])
                    if b - a > 1]
        assert gaps == idx_gaps, (budget, out)


# --- strict JSON parses at every budget ----------------------------------------

@pytest.mark.parametrize("fixture", reference_cases(
    sorted(p.name for p in PARAMETRIC.glob("*.json")), "fixture"))
@pytest.mark.parametrize("budget", [0, 1, 3, 10, 33, 100, 250, 1000, 10000])
def test_strict_output_parses_as_json(fixture, budget):
    text = (PARAMETRIC / fixture).read_text()
    out = run(text, "json", budget)
    json.loads(out)


# --- unicode: grapheme-boundary truncation -------------------------------------

UNICODE_SAMPLES = [
    "👍🏽👍🏽👍🏽👍🏽",          # skin-tone modifier
    "👨‍👩‍👧‍👦x👨‍👩‍👧‍👦",      # ZWJ family
    "🇺🇸🇫🇷🇯🇵🇩🇪",            # flag pairs (regional indicators)
    "éé́éé",  # combining marks
    "한국어조선말",               # hangul
]


@pytest.mark.parametrize("s", UNICODE_SAMPLES)
def test_grapheme_truncation_never_splits_clusters(s):
    gs = graphemes(s)
    assert "".join(gs) == s
    for n in range(len(gs) + 1):
        assert take_n_graphemes(s, n) == "".join(gs[:n])


@pytest.mark.parametrize("s", UNICODE_SAMPLES)
def test_unicode_string_previews_are_valid_json(s):
    doc = json.dumps([s], ensure_ascii=False)
    for budget in [3, 5, 8, 12, 20, 100]:
        out = run(doc, "json", budget)
        val = json.loads(out)
        assert isinstance(val, list)
        if val and isinstance(val[0], str) and val[0].endswith("…"):
            prefix = val[0][:-1]
            assert s.startswith(prefix)
            # prefix must end on a grapheme boundary
            gs = graphemes(s)
            acc = ""
            boundaries = {""}
            for g in gs:
                acc += g
                boundaries.add(acc)
            assert prefix in boundaries


# --- escaping round-trips -------------------------------------------------------

def test_string_escaping_roundtrip():
    tricky = "quote\" backslash\\ newline\n tab\t nul\x00 ctrl\x1f"
    doc = json.dumps({"k": tricky}, ensure_ascii=False)
    out = run(doc, "json", 10000)
    assert json.loads(out) == {"k": tricky}


@pytest.mark.parametrize("doc", ['["\\ud800"]', '["a\\udc00b"]',
                                 '{"\\ud83d": 1}', '{"k": [["x", "\\ude00"]]}',
                                 '["\\ude00\\ud83d"]'])
def test_unpaired_surrogate_is_a_parse_error(doc):
    # serde_json rejects an unpaired UTF-16 surrogate escape at parse
    # time; the string has no UTF-8 form, so no template can render it
    from headson_spark.kernel import summarize_many
    for fmt in ("json", "yaml", "text"):
        with pytest.raises(ValueError, match=r"unpaired surrogate U\+D"):
            summarize(doc, format=fmt)
    with pytest.raises(ValueError, match=r"unpaired surrogate U\+D"):
        summarize_many([("a.json", doc)], format="auto")


@pytest.mark.parametrize("text,input_format,point", [
    ('"\\ud800"', "yaml", "D800"),
    ('k: "\\udc00x"', "yaml", "DC00"),
    ('- a\n- b\n- "\\udfff"', "yaml", "DFFF"),  # sampled away below
    ("a\ud800b", "text", "D800"),
], ids=["yaml-scalar", "yaml-value", "yaml-sampled-away", "text"])
def test_unpaired_surrogate_in_yaml_and_text_input(text, input_format,
                                                   point):
    # a YAML "\u" escape or a text line can carry an unpaired surrogate
    # past its parser; ingest rejects it, naming the code point, as JSON
    # parsing does, whether or not the array cap keeps its element
    from headson_spark.kernel import summarize_many
    match = rf"unpaired surrogate U\+{point}"
    with pytest.raises(ValueError, match=match):
        summarize(text, input_format=input_format, character_budget=2)
    name = "a.yaml" if input_format == "yaml" else "a.txt"
    with pytest.raises(ValueError, match=match):
        summarize_many([(name, text)], input_format="auto")


@pytest.mark.parametrize("fmt,want", [("json", '[\n  "😀"\n]'),
                                      ("yaml", "- 😀\n"), ("text", "😀\n")])
def test_escaped_surrogate_pair_renders(fmt, want):
    assert summarize('["\\ud83d\\ude00"]', format=fmt) == want


# --- text mode (text_ingest/mod.rs tests) ---------------------------------------

def test_text_roundtrip_basic():
    out = summarize("a\nb\nc", format="text", input_format="text",
                    character_budget=100)
    assert out == "a\nb\nc\n"


def test_text_omission_marker_default():
    text = "\n".join(f"line{i}" for i in range(10))
    out = summarize(text, format="text", input_format="text",
                    character_budget=20)
    assert "…\n" in out


def test_text_omission_marker_detailed():
    text = "\n".join(f"line{i}" for i in range(10))
    out = summarize(text, format="text", style="detailed",
                    input_format="text", character_budget=30)
    assert "more lines" in out


def test_text_strict_no_omission_line():
    # strict style emits no omission LINE for omitted lines
    # (templates/text.rs:4-19); truncated strings still render "…" suffixes.
    text = "\n".join(f"line{i}" for i in range(10))
    out = summarize(text, format="text", style="strict",
                    input_format="text", character_budget=30)
    assert "more lines" not in out
    big = summarize(text, format="text", style="strict",
                    input_format="text", character_budget=10000)
    assert big == text + "\n"


# --- combined limits (summarize_many) --------------------------------------------

def test_summarize_many_fileset_headers():
    from headson_spark.kernel import summarize_many
    out = summarize_many(
        [("a.json", '{"x": 1}'), ("b.json", '[1,2,3]')],
        format="auto", style="default", character_budget=200)
    assert "==> a.json <==" in out
    assert "==> b.json <==" in out


def test_duplicate_object_keys_preserved():
    # json.loads with object_pairs_hook keeps duplicate keys like the
    # reference's streaming map visitor (builder.rs:253-275)
    out = run('{"a":1,"a":2}', "json", 1000)
    assert out.count('"a"') == 2


# --- lazy expansion equivalence --------------------------------------------------

def test_lazy_order_matches_eager_byte_for_byte():
    """build_order(lazy=True) + find_largest_render_under_budget must
    reproduce the eager path byte-for-byte: identical pop prefixes,
    identical hi (count_assignable == eager total_nodes when below the
    pop limit), identical renders — across budgets, skews and shapes."""
    import random
    from headson_spark.kernel import arena as ar
    from headson_spark.kernel.order import build_order, count_assignable
    from headson_spark.kernel.render import (RenderConfig,
                                             find_largest_render_under_budget)

    random.seed(13)

    def rnd(depth=0):
        r = random.random()
        if depth > 3 or r < 0.3:
            return random.choice(
                [None, True, 12345,
                 "x" * random.randrange(0, 300),
                 "héllo…👋" * random.randrange(0, 10)])
        if r < 0.65:
            return [rnd(depth + 1) for _ in range(random.randrange(0, 9))]
        return {f"k{i}": rnd(depth + 1)
                for i in range(random.randrange(0, 9))}

    cfg = RenderConfig(template="pseudo", style="default")
    checked = 0
    for _ in range(120):
        doc = rnd()
        for budget in (0, 1, 17, 120, 500, 5000):
            for tail in (False, True):
                a = ar.build_value_arena(doc, 500)
                eager = build_order(a, 500, prefer_tail_arrays=tail,
                                    max_pops=max(budget, 1))
                a2 = ar.build_value_arena(doc, 500)
                lazy = build_order(a2, 500, prefer_tail_arrays=tail,
                                   max_pops=max(budget, 1), lazy=True)
                # hi agreement: exact when below the pop limit
                cap = max(budget, 1)
                assert (min(eager.total_nodes, cap)
                        == min(lazy.assignable_capped, cap))
                out_e = find_largest_render_under_budget(eager, cfg, budget)
                out_l = find_largest_render_under_budget(lazy, cfg, budget)
                assert out_e == out_l
                # the lazy pop sequence is a prefix of the eager one
                npops = len(lazy.by_priority)
                assert lazy.by_priority == eager.by_priority[:npops]
                checked += 1
    assert checked > 1000


def test_lazy_order_out_of_contract_budget_falls_back():
    """find_largest_render_under_budget with budget > pop_limit on a
    lazy order must fall back to the eager expansion and still match."""
    from headson_spark.kernel import arena as ar
    from headson_spark.kernel.order import build_order
    from headson_spark.kernel.render import (RenderConfig,
                                             find_largest_render_under_budget)
    doc = {"k%d" % i: ["x" * 40, i, None] for i in range(12)}
    cfg = RenderConfig(template="pseudo", style="default")
    eager = build_order(ar.build_value_arena(doc, 500), 500, max_pops=50)
    lazy = build_order(ar.build_value_arena(doc, 500), 500, max_pops=50,
                       lazy=True)
    # budget 400 > pop_limit 50: out of the lazy contract
    out_e = find_largest_render_under_budget(eager, cfg, 400)
    out_l = find_largest_render_under_budget(lazy, cfg, 400)
    assert out_e == out_l
    # after the fallback pump the lazy order popped exactly the limit
    assert len(lazy.by_priority) == len(eager.by_priority)


@pytest.mark.parametrize("sampler", ["balanced", "head", "tail"])
def test_keep_rule_matches_samplers(sampler):
    """KeepRule.shown over the positions of an n-position conversation
    is exactly the sampler's keep-set of a length-n array, one position
    at a time and as one numpy mask."""
    import numpy as np
    from headson_spark.kernel.arena import KeepRule, sample_indices
    for cap in (1, 2, 3, 5, 10):
        rule = KeepRule(sampler, cap)
        for n in range(0, 40):
            want = sample_indices(sampler, cap, n)
            shown = [i for i in range(n) if rule.shown(i, n)]
            assert shown == want, (cap, n)
            mask = rule.shown(np.arange(n), np.full(n, n))
            assert np.flatnonzero(mask).tolist() == want, (cap, n)
