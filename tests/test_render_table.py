"""The budget search's byte-length table (kernel/render._LengthTable).

For the json-family templates the search answers each probe from a table
of render_top_k byte lengths built in pop order, then renders once. Two
properties pin it on random value trees, every skew, eager and lazy
orders, small string caps (truncated strings), escapes, non-BMP
graphemes, empty strings and containers, and sampled arrays (gaps):
- the table equals len(render_top_k(po, k, cfg).encode()) for every k;
- the search returns what a render-per-probe search returns (the loop
  below is the kernel's search before the table, kept here as oracle).
"""

from __future__ import annotations

from hypothesis import example, given, settings, strategies as st

from headson_spark.kernel import arena as ar
from headson_spark.kernel.order import build_order
from headson_spark.kernel.render import (RenderConfig, RenderSet,
                                         _LengthTable,
                                         find_largest_render_under_budget,
                                         render_top_k)

SKEWS = ["balanced", "head", "tail"]
TEMPLATES = ["json", "pseudo", "js"]
# (indent_unit, space, newline): the api's layout, the compact one and
# a wider one
LAYOUTS = [("  ", " ", "\n"), ("", "", ""), ("\t", "  ", "\r\n")]

# ASCII, JSON escapes, a 2-byte letter, a combining mark, a ZWJ emoji
# sequence and a non-BMP grapheme
ALPHABET = ["a", "b", "Z", "0", " ", '"', "\\", "\n", "\r", "\x01", "\t",
            "é", "́", "😀", "‍", "👍🏽", "…", " "]

texts = st.lists(st.sampled_from(ALPHABET), max_size=10).map("".join)
scalars = st.one_of(st.none(), st.booleans(),
                    st.integers(min_value=-10**12, max_value=10**12),
                    texts)
values = st.recursive(
    scalars,
    lambda kids: st.one_of(
        st.lists(kids, max_size=13),
        st.dictionaries(texts, kids, max_size=12)),
    max_leaves=30)

TWELVE = list(range(12))  # js "/* N more items */" goes 12 .. 10 .. 0


def make_order(value, skew, array_cap, string_cap, budget, lazy):
    a = ar.build_value_arena(value, array_cap, skew)
    return build_order(a, string_cap, prefer_tail_arrays=skew == "tail",
                       max_pops=max(budget, 1), lazy=lazy)


def make_cfg(template, skew, layout):
    ind, sp, nl = layout
    return RenderConfig(template=template, indent_unit=ind, space=sp,
                        newline=nl, prefer_tail_arrays=skew == "tail")


def render_per_probe(po, cfg, budget):
    """The search as it was before the table: render every probe."""
    pump = po.pump
    lazy = (pump is not None and po.assignable_capped is not None
            and max(budget, 1) <= po.pop_limit)
    if lazy:
        total = po.assignable_capped
    else:
        if pump is not None:
            pump(po.pop_limit)
        total = po.total_nodes
    if total == 0:
        return ""
    rset = RenderSet(po)
    escaped: dict[int, str] = {}
    lo, hi = 1, min(total, max(budget, 1))
    best_render = None
    while lo <= hi:
        mid = (lo + hi) // 2
        if lazy and len(po.by_priority) < mid:
            pump(mid)
            rset.sync()
        s = render_top_k(po, mid, cfg, rset, escaped)
        if len(s.encode("utf-8")) <= budget:
            best_render = s
            lo = mid + 1
        else:
            hi = mid - 1
    if best_render is not None:
        return best_render
    return render_top_k(po, 1, cfg, rset, escaped)


common = dict(
    value=values,
    template=st.sampled_from(TEMPLATES),
    skew=st.sampled_from(SKEWS),
    layout=st.sampled_from(LAYOUTS),
    array_cap=st.integers(min_value=1, max_value=8),
    string_cap=st.sampled_from([0, 1, 2, 5, 500]),
)


@given(lazy=st.booleans(), step=st.integers(min_value=1, max_value=40),
       **common)
@example(value=TWELVE, template="js", skew="head", layout=LAYOUTS[0],
         array_cap=12, string_cap=500, lazy=False, step=1)
@example(value={f"k{i}": i for i in range(12)}, template="js",
         skew="balanced", layout=LAYOUTS[0], array_cap=4, string_cap=500,
         lazy=True, step=3)
@example(value=[[], {}, "", ["x"] * 30, "ab\"c\\"], template="pseudo",
         skew="balanced", layout=LAYOUTS[0], array_cap=4, string_cap=2,
         lazy=False, step=1)
@settings(max_examples=200, deadline=None, derandomize=True)
def test_table_equals_render_bytes(value, template, skew, layout, array_cap,
                                   string_cap, lazy, step):
    po = make_order(value, skew, array_cap, string_cap, 10**6, lazy)
    cfg = make_cfg(template, skew, layout)
    table = _LengthTable(po, cfg)
    checked = 0
    while True:
        if lazy:  # fold across pumps, as the lazy search does
            po.pump(checked + step)
        n = len(po.by_priority)
        if n == checked:
            break
        for k in range(checked + 1, n + 1):
            want = len(render_top_k(po, k, cfg).encode("utf-8"))
            assert table.length(k) == want, (k, render_top_k(po, k, cfg))
        checked = n


@given(budget=st.integers(min_value=0, max_value=400), **common)
@example(value=TWELVE, template="js", skew="tail", layout=LAYOUTS[0],
         array_cap=12, string_cap=500, budget=60)
@settings(max_examples=200, deadline=None, derandomize=True)
def test_search_equals_render_per_probe(value, template, skew, layout,
                                        array_cap, string_cap, budget):
    cfg = make_cfg(template, skew, layout)
    want = render_per_probe(
        make_order(value, skew, array_cap, string_cap, budget, True),
        cfg, budget)
    got = find_largest_render_under_budget(
        make_order(value, skew, array_cap, string_cap, budget, True),
        cfg, budget)
    assert got == want
    eager = make_order(value, skew, array_cap, string_cap, budget, False)
    assert find_largest_render_under_budget(eager, cfg, budget) == want
