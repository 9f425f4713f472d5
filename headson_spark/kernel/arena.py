"""Document tree arena — struct-of-arrays encoding of a parsed document.

Python re-expression of the reference arena + ingest samplers:
- arena layout:      /root/reference/src/utils/tree_arena.rs:3-33
- JSON ingest:       /root/reference/src/json_ingest/{mod.rs,builder.rs}
- samplers:          /root/reference/src/json_ingest/samplers/{default,head,tail}.rs
- text ingest:       /root/reference/src/text_ingest/mod.rs:8-16,101-148

Array sampling happens during tree construction (the reference's
"limit pushdown into the parse"): kept indices are chosen by a
deterministic per-index rule, so the same rule can also be evaluated as a
vectorized Spark column filter ahead of the shuffle (see
headson_spark.operators.sampling).
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field

import numpy as np

# NodeKind codes (reference order/types.rs:28-35)
NULL, BOOL, NUMBER, STRING, ARRAY, OBJECT = 0, 1, 2, 3, 4, 5

# --- deterministic default-sampler hash (samplers/default.rs:5-34) ----------
_RANDOM_ACCEPT_SEED = 0x9E3779B97F4A7C15
_RANDOM_ACCEPT_THRESHOLD = 0x8000_0000
KEEP_FIRST_COUNT = 3
_GREEDY_PORTION_DIVISOR = 2
_U64 = (1 << 64) - 1


def mix64(x: int) -> int:
    x &= _U64
    x ^= x >> 30
    x = (x * 0xBF58476D1CE4E5B9) & _U64
    x ^= x >> 27
    x = (x * 0x94D049BB133111EB) & _U64
    return x ^ (x >> 31)


def accept_index(i: int) -> bool:
    return (mix64(i ^ _RANDOM_ACCEPT_SEED) >> 32) < _RANDOM_ACCEPT_THRESHOLD


def default_sample_indices(cap: int, total: int) -> list[int]:
    """Kept original indices for the 3-phase default sampler.

    Phases (samplers/default.rs:131-217): keep the first
    min(3, cap); then greedily keep the next (cap-3)//2; then accept
    remaining indices by the deterministic mix64 test until cap is reached.
    """
    if cap <= 0 or total <= 0:
        return []
    kept: list[int] = []
    keep_first = min(KEEP_FIRST_COUNT, cap)
    greedy = (cap - keep_first) // _GREEDY_PORTION_DIVISOR
    idx = 0
    while len(kept) < cap and idx < keep_first and idx < total:
        kept.append(idx)
        idx += 1
    while len(kept) < cap and greedy > 0 and idx < total:
        kept.append(idx)
        greedy -= 1
        idx += 1
    while len(kept) < cap and idx < total:
        if accept_index(idx):
            kept.append(idx)
        idx += 1
    return kept


def head_sample_indices(cap: int, total: int) -> list[int]:
    return list(range(min(max(cap, 0), total)))


def tail_sample_indices(cap: int, total: int) -> list[int]:
    if cap <= 0:
        return []
    return list(range(max(total - cap, 0), total))


_SAMPLERS = {
    "balanced": default_sample_indices,
    "head": head_sample_indices,
    "tail": tail_sample_indices,
}


def sample_indices(sampler: str, cap: int, total: int) -> list[int]:
    return _SAMPLERS[sampler](cap, total)


# longest stream a position-only keep-set is listed for: positions at or
# past it are never kept by the keep rule or the Spark keep-set filter,
# and no preview path counts them (operators.sampling.counted_turns)
KEPT_POSITIONS_MAX = 1 << 20


class KeepRule:
    """The sampler keep-set as a rule over a turn's position i (its
    turn_idx) in a conversation of n positions (max turn_idx + 1; a
    missing position is omitted). Balanced and head keep a fixed
    position set K = K(cap), whatever n is; tail keeps the last cap
    positions, i >= n - cap, and n only grows as turns arrive, so a turn
    tail no longer shows is never shown again. `shown` works elementwise
    on numpy arrays."""

    def __init__(self, sampler: str, cap: int):
        self.cap = cap
        self.tail = sampler == "tail"
        self.positions = ([] if self.tail else
                          sample_indices(sampler, cap, KEPT_POSITIONS_MAX))

    def shown(self, i, n):
        if self.tail:
            return i >= n - self.cap
        return np.isin(i, self.positions)


# --- arena -------------------------------------------------------------------


@dataclass
class Node:
    kind: int
    # exact atomic token text (null/bool/number) — numbers stay tokens,
    # never binary values (builder.rs:64-73,195-206)
    token: str | None = None
    string_value: str | None = None
    children: list[int] = field(default_factory=list)
    keys: list[str] | None = None
    # original indices of kept array children (None => contiguous 0..kept)
    arr_indices: list[int] | None = None
    array_len: int | None = None   # total pre-sampling length
    object_len: int | None = None


@dataclass
class Arena:
    nodes: list[Node] = field(default_factory=list)
    root_id: int = 0
    is_fileset: bool = False

    def push(self, node: Node) -> int:
        self.nodes.append(node)
        return len(self.nodes) - 1


def format_number_token(v) -> str:
    """Number -> token text, matching serde_json's formatting.

    Integers print as-is; floats use shortest-roundtrip formatting.
    Python repr() is also shortest-roundtrip; only the exponent shape
    differs from Ryu ('1e+30' vs '1e30', '1.5e-07' vs '1.5e-7').
    """
    if isinstance(v, bool):  # guard: bool is int subclass
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    r = repr(float(v))
    if "e" in r or "E" in r:
        mant, _, exp = r.lower().partition("e")
        sign = "-" if exp.startswith("-") else ""
        digits = exp.lstrip("+-").lstrip("0") or "0"
        return f"{mant}e{sign}{digits}"
    return r


_SURROGATE = re.compile("[\ud800-\udfff]")


class _ObjectPairs(list):
    """json.loads object_pairs_hook marker preserving duplicate keys."""


def _reject_constant(name: str):
    # strict JSON: NaN/Infinity/-Infinity are invalid (the reference's
    # simd-json parser rejects them; JSONTestSuite n_number_* cases)
    raise ValueError(f"invalid JSON constant: {name}")


def reject_lone_surrogate(s: str, kind: str) -> None:
    """Raise ValueError naming the first unpaired surrogate in `s`: such a
    string has no UTF-8 form, so no template can render it."""
    if not s.isascii():
        m = _SURROGATE.search(s)
        if m:
            raise ValueError(
                f"invalid {kind} string: unpaired surrogate "
                f"U+{ord(m.group()):04X}")


def _reject_lone_surrogates(value) -> None:
    # json.loads joins an escaped surrogate pair into one code point and
    # leaves an unpaired one as is; reject that at parse time as the
    # reference's serde_json does
    stack = [value]
    while stack:
        v = stack.pop()
        if isinstance(v, _ObjectPairs):
            for k, cv in v:
                stack.append(k)
                stack.append(cv)
        elif isinstance(v, list):
            stack.extend(v)
        elif isinstance(v, str):
            reject_lone_surrogate(v, "JSON")


def parse_json(text: str | bytes):
    value = json.loads(text, object_pairs_hook=_ObjectPairs,
                       parse_constant=_reject_constant)
    _reject_lone_surrogates(value)
    return value


def build_value_arena(value, array_cap: int, sampler: str = "balanced"
                      ) -> Arena:
    """Build an arena from a parsed value tree, sampling arrays inline.

    Mirrors json_ingest/builder.rs NodeVisitor + finish_array/finish_object.
    """
    a = Arena()

    def build(v) -> int:
        if isinstance(v, (_ObjectPairs, dict)):
            pairs = v if isinstance(v, _ObjectPairs) else list(v.items())
            node = Node(kind=OBJECT)
            nid = a.push(node)
            keys: list[str] = []
            children: list[int] = []
            for k, cv in pairs:
                children.append(build(cv))
                keys.append(k)
            node.keys = keys
            node.children = children
            node.object_len = len(keys)
            return nid
        if isinstance(v, list):
            node = Node(kind=ARRAY)
            nid = a.push(node)
            total = len(v)
            idxs = sample_indices(sampler, array_cap, total)
            children = [build(v[i]) for i in idxs]
            node.children = children
            node.array_len = total
            contiguous = idxs == list(range(len(idxs)))
            node.arr_indices = None if contiguous else idxs
            return nid
        if isinstance(v, str):
            return a.push(Node(kind=STRING, string_value=v))
        if v is None:
            return a.push(Node(kind=NULL, token="null"))
        if isinstance(v, bool):
            return a.push(Node(kind=BOOL, token="true" if v else "false"))
        if isinstance(v, (int, float)):
            return a.push(Node(kind=NUMBER, token=format_number_token(v)))
        raise TypeError(f"unsupported value type: {type(v)!r}")

    a.root_id = build(value)
    return a


def build_json_arena(text: str | bytes, array_cap: int,
                     sampler: str = "balanced") -> Arena:
    return build_value_arena(parse_json(text), array_cap, sampler)


def _normalize_newlines(s: str) -> str:
    if "\r" in s:
        s = s.replace("\r\n", "\n").replace("\r", "\n")
    return s


def _text_lines(text: str | bytes) -> list[str]:
    if isinstance(text, bytes):
        text = text.decode("utf-8", errors="replace")
    reject_lone_surrogate(text, "text")
    norm = _normalize_newlines(text)
    # split_terminator semantics: no trailing empty line for trailing \n
    lines = norm.split("\n")
    if lines and lines[-1] == "":
        lines.pop()
    return lines


def build_text_arena(text: str | bytes, array_cap: int,
                     sampler: str = "balanced") -> Arena:
    """Text document = Array[String] of lines (text_ingest/mod.rs:101-118).

    NOTE: the reference's text ingest always keeps the first `cap` lines
    (head behavior) regardless of sampler (push_array_of_lines), so we do
    the same.
    """
    a = Arena()
    lines = _text_lines(text)
    total = len(lines)
    kept = min(total, max(array_cap, 0))
    node = Node(kind=ARRAY, array_len=total)
    nid = a.push(node)
    node.children = [a.push(Node(kind=STRING, string_value=ln))
                     for ln in lines[:kept]]
    a.root_id = nid
    return a


def build_conversation_arena(roles, texts, tools, array_cap: int,
                             sampler: str = "balanced",
                             pre_sampled_indices: list[int] | None = None,
                             pre_sampled_total: int | None = None) -> Arena:
    """Fast path for the canonical transcript document
    {"turns": [{"role","text","tool"}, ...]} (FIXTURES.md §2): the turns
    array is sampled BEFORE any per-turn node is built, so a 50k-turn
    conversation only materializes `array_cap` turn objects. Produces the
    identical arena to build_value_arena on the full document.

    When the sampler filter already ran upstream (Spark-side pushdown,
    operators/sampling.py), pass the kept rows' original positions via
    pre_sampled_indices and the pre-filter conversation length via
    pre_sampled_total: the keep-sets are position-deterministic, so the
    resulting arena is identical to sampling here."""
    if pre_sampled_indices is None:
        total = len(roles)
        orig = sample_indices(sampler, array_cap, total)
        rows = orig
    else:
        total = (pre_sampled_total if pre_sampled_total is not None
                 else len(roles))
        orig = list(pre_sampled_indices)
        rows = range(len(roles))  # rows are already the kept set
    a = Arena()
    arr_node = Node(kind=ARRAY, array_len=total)
    # arena node ids don't affect output ordering (pq ids do), so layout
    # here may differ from the recursive builder's — only structure matters
    arr_id = a.push(arr_node)

    def leaf(v) -> int:
        if v is None:
            return a.push(Node(kind=NULL, token="null"))
        return a.push(Node(kind=STRING, string_value=v))

    children = []
    for i in rows:
        t = Node(kind=OBJECT, keys=["role", "text", "tool"], object_len=3)
        tid = a.push(t)
        t.children = [leaf(roles[i]), leaf(texts[i]), leaf(tools[i])]
        children.append(tid)
    arr_node.children = children
    arr_node.arr_indices = (None if orig == list(range(len(orig)))
                            else orig)
    root = Node(kind=OBJECT, keys=["turns"], children=[arr_id],
                object_len=1)
    a.root_id = a.push(root)
    return a


def build_fileset_arena(inputs: list[tuple[str, object]], array_cap: int,
                        sampler: str = "balanced",
                        ingest: str = "json") -> Arena:
    """Multi-input fileset: synthetic root object keyed by input name
    (json_ingest/mod.rs:36-58, text_ingest/mod.rs:124-148). A payload
    that is already an Arena (built with the same cap and sampler) is
    merged as-is."""
    a = Arena()
    keys: list[str] = []
    children: list[int] = []
    for name, payload in inputs:
        if isinstance(payload, Arena):
            sub = payload
        elif ingest == "text":
            sub = build_text_arena(payload, array_cap, sampler)
        elif ingest == "yaml":
            from .yaml_ingest import build_yaml_arena
            sub = build_yaml_arena(payload, array_cap, sampler)
        else:
            val = parse_json(payload) if isinstance(
                payload, (str, bytes)) else payload
            sub = build_value_arena(val, array_cap, sampler)
            # merge: rebuild into shared arena
        base = len(a.nodes)
        for n in sub.nodes:
            shifted = Node(
                kind=n.kind, token=n.token, string_value=n.string_value,
                children=[c + base for c in n.children], keys=n.keys,
                arr_indices=n.arr_indices, array_len=n.array_len,
                object_len=n.object_len)
            a.nodes.append(shifted)
        keys.append(name)
        children.append(sub.root_id + base)
    root = Node(kind=OBJECT, keys=keys, children=children,
                object_len=len(keys))
    a.root_id = a.push(root)
    a.is_fileset = True
    return a
