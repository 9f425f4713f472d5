"""The transcript document's closed-form order
(kernel.order.build_conversation_order) against the generic heap over
the pre-sampled arena (build_order over build_conversation_arena):
by_priority after every pump step, assignable_capped, and the bytes
render_conversation returns, for every template, skew and budget. Plus
the guards that render_conversation takes the closed form in contract
and the generic builder when ids could reach SAFETY_CAP."""

from __future__ import annotations

import pytest
from hypothesis import example, given, settings, strategies as st

from headson_spark.kernel import api, arena as ar, order
from headson_spark.kernel.api import make_configs, render_conversation
from headson_spark.kernel.render import find_largest_render_under_budget

# (format, style): the five templates strict, pseudo, js, yaml and text
TEMPLATES = [("json", "strict"), ("json", "default"), ("json", "detailed"),
             ("yaml", "default"), ("text", "default")]
SKEWS = ["balanced", "head", "tail"]

# printable ASCII, JSON escapes, CRLF, a control character, a 2-byte
# letter, a combining mark, a ZWJ sequence, a non-BMP grapheme and "…"
ALPHABET = ["a", "b", "Z", "0", " ", "lorem ", '"', "\\", "\r\n", "\n",
            "\x01", "\t", "é", "́", "👩‍💻", "😀", "👍🏽", "…"]

fields = st.one_of(
    st.none(),
    st.just(""),
    st.lists(st.sampled_from(ALPHABET), max_size=12).map("".join),
    # longer than the 500-grapheme string cap: truncated
    st.builds(lambda n, c: c * n, st.integers(495, 620),
              st.sampled_from(["x", "é", "😀"])),
)


@st.composite
def conversations(draw):
    """(roles, texts, tools, kept, total): kept is an ascending set of
    positions in [0, total), possibly with gaps, possibly empty."""
    total = draw(st.integers(0, 40))
    kept = sorted(draw(st.sets(st.integers(0, max(total - 1, 0)),
                               max_size=min(total, 24))))
    cols = [[draw(fields) for _ in kept] for _ in range(3)]
    return (*cols, kept, total)


def _generic(roles, texts, tools, kept, total, prio, budget):
    a = ar.build_conversation_arena(roles, texts, tools,
                                    prio["array_max_items"], prio["sampler"],
                                    pre_sampled_indices=kept,
                                    pre_sampled_total=total)
    return order.build_order(a, prio["max_string_graphemes"],
                             prio["prefer_tail_arrays"], max(budget, 1),
                             lazy=True)


def _closed(roles, texts, tools, kept, total, prio, budget):
    return order.build_conversation_order(
        roles, texts, tools, kept, total, prio["max_string_graphemes"],
        prio["prefer_tail_arrays"], max(budget, 1))


@given(conv=conversations(), template=st.sampled_from(TEMPLATES),
       skew=st.sampled_from(SKEWS), budget=st.integers(0, 10_000),
       steps=st.lists(st.integers(1, 400), min_size=1, max_size=8))
@example(conv=([], [], [], [], 0), template=TEMPLATES[1], skew="balanced",
         budget=500, steps=[1, 5])
@example(conv=(["user", None, "tool"], ["x" * 600, "", "a\r\nb"],
               [None, "é😀", '"q"'], [0, 3, 7], 9),
         template=TEMPLATES[2], skew="tail", budget=10_000, steps=[700, 400])
@settings(derandomize=True, max_examples=400, deadline=None)
def test_closed_form_order_equals_generic(conv, template, skew, budget,
                                          steps):
    fmt, style = template
    cfg, prio, budget = make_configs(format=fmt, style=style,
                                     character_budget=budget, skew=skew)
    generic = _generic(*conv, prio, budget)
    closed = _closed(*conv, prio, budget)
    assert closed.assignable_capped == generic.assignable_capped
    target = 0
    for step in steps:
        target += step
        generic.pump(target)
        closed.pump(target)
        assert closed.by_priority == generic.by_priority
    expected = find_largest_render_under_budget(
        _generic(*conv, prio, budget), cfg, budget)
    assert find_largest_render_under_budget(
        _closed(*conv, prio, budget), cfg, budget) == expected
    roles, texts, tools, kept, total = conv
    assert render_conversation(roles, texts, tools, cfg, prio, budget,
                               kept=kept, total=total) == expected


CONV = (["user", "assistant", "tool"],
        ["hello there", "a longer answer with \"quotes\"\r\n", None],
        ["", "", "search"], [0, 1, 4], 6)


def test_render_conversation_takes_the_closed_form(monkeypatch):
    """In contract, render_conversation builds neither an arena nor a
    heap order: a silent fallback would keep the bytes and lose the
    speed."""
    cfg, prio, budget = make_configs(format="json", character_budget=500)
    roles, texts, tools, kept, total = CONV
    expected = render_conversation(roles, texts, tools, cfg, prio, budget,
                                   kept=kept, total=total)

    def boom(*a, **kw):
        raise AssertionError("generic builder called")

    for module in (ar, order, api):
        for name in ("build_conversation_arena", "build_order"):
            if hasattr(module, name):
                monkeypatch.setattr(module, name, boom)
    out = render_conversation(roles, texts, tools, cfg, prio, budget,
                              kept=kept, total=total)
    assert out == expected and "hello there" in out


@pytest.mark.parametrize("skew", SKEWS)
def test_ids_near_safety_cap_take_the_generic_builder(monkeypatch, skew):
    """When ids could reach SAFETY_CAP, build_conversation_order hands
    the conversation to build_order, whose truncation at the cap it
    reproduces byte for byte."""
    monkeypatch.setattr(order, "SAFETY_CAP", 40)
    calls = []
    build_order = order.build_order

    def spy(*a, **kw):
        calls.append(1)
        return build_order(*a, **kw)

    monkeypatch.setattr(order, "build_order", spy)
    cfg, prio, budget = make_configs(format="json", character_budget=500,
                                     skew=skew)
    roles, texts, tools, kept, total = CONV
    out = render_conversation(roles, texts, tools, cfg, prio, budget,
                              kept=kept, total=total)
    assert calls
    assert out == find_largest_render_under_budget(
        _generic(*CONV, prio, budget), cfg, budget)
