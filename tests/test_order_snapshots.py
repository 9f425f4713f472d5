"""Pin the reference's priority-order snapshots
(/root/reference/src/order/snapshots, tests at order/build.rs:472-543):
node ids + pop order must match exactly."""

from __future__ import annotations

import re

from conftest import REFERENCE, requires_reference
from headson_spark.kernel import arena as ar
from headson_spark.kernel.order import (build_order, K_ARRAY, K_OBJECT,
                                        K_STRING, K_ATOMIC, K_PART)

pytestmark = requires_reference

SNAP = REFERENCE / "src" / "order" / "snapshots"

_KIND_REPR = {K_ARRAY: "Array", K_OBJECT: "Object",
              K_STRING: "SplittableLeaf", K_PART: "LeafPart",
              K_ATOMIC: "AtomicLeaf"}


def rust_repr(po, pq_id: int) -> str:
    kind = po.kind[pq_id]
    name = _KIND_REPR[kind]
    key = po.key[pq_id]
    key_repr = "None" if key is None else f'Some("{key}")'
    if kind == K_STRING:
        return (f'{name} {{ node_id: NodeId({pq_id}), '
                f'key_in_object: {key_repr}, '
                f'value: "{po.value[pq_id]}" }}')
    if kind == K_ATOMIC:
        return (f'{name} {{ node_id: NodeId({pq_id}), '
                f'key_in_object: {key_repr}, '
                f'token: "{po.value[pq_id]}" }}')
    return (f'{name} {{ node_id: NodeId({pq_id}), '
            f'key_in_object: {key_repr} }}')


def order_lines(json_text: str) -> str:
    a = ar.build_json_arena(json_text, 10**9, "balanced")
    po = build_order(a, 10**9)
    # snapshot lists nodes sorted by by_priority rank (build.rs:489-508)
    lines = [f"len={po.total_nodes}"]
    for pq_id in po.by_priority:
        lines.append(rust_repr(po, pq_id))
    return "\n".join(lines)


def read_snap(name: str) -> str:
    raw = (SNAP / f"headson__order__build__tests__{name}.snap").read_text()
    return re.match(r"(?s)^---\n.*?\n---\n(.*)$",
                    raw).group(1).rstrip("\n")


def test_order_empty_array():
    assert order_lines("[]") == read_snap("order_empty_array_order")


def test_order_single_string_array():
    assert order_lines('["ab"]') == read_snap(
        "order_single_string_array_order")
