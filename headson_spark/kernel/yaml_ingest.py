"""YAML ingest — arena construction from YAML documents.

Re-expression of /root/reference/src/yaml_ingest/mod.rs (yaml-rust2
semantics) on top of PyYAML's *compose* layer (raw scalar text + style,
no value construction), so we control scalar typing exactly:

- plain scalars resolve like yaml_rust2::Yaml::from_str: 0x/0o ints,
  +int, "~"/"null", "true"/"false", i64, then f64 (keeping the RAW string
  token for floats — Real(s)); everything else is a string
- quoted/block scalars are always strings
- aliases become the literal string "*alias" (mod.rs:208-216)
- multi-doc inputs wrap in an array root (mod.rs:16-28)
- arrays keep the first `cap` children (head sampling during ingest,
  mod.rs:101-108,152-159) with exact totals
- non-string mapping keys canonicalize deterministically (mod.rs:221-248)
- duplicate mapping keys: last value wins, first position kept
  (LinkedHashMap insert semantics)
"""

from __future__ import annotations

import yaml
from yaml.composer import Composer
from yaml.events import AliasEvent
from yaml.nodes import MappingNode, ScalarNode, SequenceNode

from .arena import (Arena, Node, ARRAY, BOOL, NULL, NUMBER, OBJECT, STRING,
                    reject_lone_surrogate)

_ALIAS_TAG = "!__headson_alias__"
_IMPLICIT_TAG = "!__headson_implicit__"


class _AliasComposer(Composer):
    def compose_node(self, parent, index):
        if self.check_event(AliasEvent):
            event = self.get_event()
            return ScalarNode(_ALIAS_TAG, "*alias", event.start_mark,
                              event.end_mark)
        return super().compose_node(parent, index)


class _SentinelResolver(yaml.resolver.BaseResolver):
    """Implicit (untagged) nodes get a sentinel tag so scalar typing stays
    ours (yaml-rust2 from_str), while explicit !!tags pass through."""

    def resolve(self, kind, value, implicit):
        if kind is ScalarNode:
            return _IMPLICIT_TAG
        return super().resolve(kind, value, implicit)


class _Loader(yaml.reader.Reader, yaml.scanner.Scanner, yaml.parser.Parser,
              _AliasComposer, _SentinelResolver):
    def __init__(self, stream):
        yaml.reader.Reader.__init__(self, stream)
        yaml.scanner.Scanner.__init__(self)
        yaml.parser.Parser.__init__(self)
        _AliasComposer.__init__(self)
        _SentinelResolver.__init__(self)


_INT64_MIN, _INT64_MAX = -(1 << 63), (1 << 63) - 1

_F64_SPECIAL = {
    ".inf": True, ".Inf": True, ".INF": True,
    "+.inf": True, "+.Inf": True, "+.INF": True,
    "-.inf": True, "-.Inf": True, "-.INF": True,
    ".nan": True, "NaN": True, ".NAN": True,
}


def _parse_i64(s: str) -> int | None:
    try:
        v = int(s, 10)
    except ValueError:
        return None
    if not (_INT64_MIN <= v <= _INT64_MAX):
        return None
    # Rust i64 parse rejects inner underscores/spaces; int() rejects
    # them too except underscores — guard those
    if "_" in s:
        return None
    return v


def _parses_f64(s: str) -> bool:
    if s in _F64_SPECIAL:
        return True
    if "_" in s:
        return False  # Rust f64 parse rejects underscores
    try:
        float(s)
    except ValueError:
        return False
    # Rust accepts "inf"/"infinity"/"nan" (any case) like Python
    return True


def _resolve_plain(value: str) -> tuple[int, str | None]:
    """(kind, token) for a plain scalar — yaml_rust2::Yaml::from_str."""
    if value.startswith("0x"):
        try:
            return NUMBER, str(int(value[2:], 16))
        except ValueError:
            pass
    if value.startswith("0o"):
        try:
            return NUMBER, str(int(value[2:], 8))
        except ValueError:
            pass
    if value.startswith("+"):
        v = _parse_i64(value[1:])
        if v is not None:
            return NUMBER, str(v)
    if value in ("~", "null"):
        return NULL, "null"
    if value == "true":
        return BOOL, "true"
    if value == "false":
        return BOOL, "false"
    v = _parse_i64(value)
    if v is not None:
        return NUMBER, str(v)
    if _parses_f64(value):
        return NUMBER, value  # Real keeps the raw token (mod.rs:186-192)
    return STRING, None


def _scalar_node(a: Arena, node: ScalarNode) -> int:
    if node.tag == _ALIAS_TAG:
        return a.push(Node(kind=STRING, string_value="*alias"))
    v = node.value
    if node.tag and node.tag.startswith("tag:yaml.org,2002:"):
        # explicit core-schema tag (yaml-rust2 loader tag handling)
        t = node.tag.rsplit(":", 1)[-1]
        if t == "str":
            return a.push(Node(kind=STRING, string_value=v))
        if t == "bool":
            if v in ("true", "false"):
                return a.push(Node(kind=BOOL, token=v))
            return a.push(Node(kind=NULL, token="null"))  # BadValue
        if t == "int":
            iv = _parse_i64(v)
            if iv is not None:
                return a.push(Node(kind=NUMBER, token=str(iv)))
            return a.push(Node(kind=NULL, token="null"))
        if t == "float":
            if _parses_f64(v):
                return a.push(Node(kind=NUMBER, token=v))
            return a.push(Node(kind=NULL, token="null"))
        if t == "null":
            return a.push(Node(kind=NULL, token="null"))
        return a.push(Node(kind=STRING, string_value=v))
    if node.style is None:
        kind, token = _resolve_plain(v)
        if kind == STRING:
            return a.push(Node(kind=STRING, string_value=v))
        return a.push(Node(kind=kind, token=token))
    return a.push(Node(kind=STRING, string_value=v))


def _canon_key(node) -> str:
    """Deterministic key text for non-string keys (mod.rs:221-248)."""
    if isinstance(node, ScalarNode):
        if node.tag == _ALIAS_TAG:
            return "*alias"
        if node.style is None:
            kind, token = _resolve_plain(node.value)
            if kind == STRING:
                return node.value
            return token
        return node.value
    if isinstance(node, SequenceNode):
        return "[" + ", ".join(_canon_key(c) for c in node.value) + "]"
    if isinstance(node, MappingNode):
        items = sorted((_canon_key(k), _canon_key(v))
                       for k, v in node.value)
        return "{" + ", ".join(f"{k}: {v}" for k, v in items) + "}"
    return "null"


def _build(a: Arena, node, array_cap: int) -> int:
    if isinstance(node, SequenceNode):
        total = len(node.value)
        kept = min(total, array_cap)
        arr = Node(kind=ARRAY, array_len=total)
        nid = a.push(arr)
        arr.children = [_build(a, c, array_cap)
                        for c in node.value[:kept]]
        return nid
    if isinstance(node, MappingNode):
        keys: list[str] = []
        children: list[int] = []
        pos: dict[str, int] = {}
        for k, v in node.value:
            key = _canon_key(k)
            cid = _build(a, v, array_cap)
            if key in pos:  # last value wins, first position kept
                children[pos[key]] = cid
            else:
                pos[key] = len(keys)
                keys.append(key)
                children.append(cid)
        obj = Node(kind=OBJECT, keys=keys, children=children,
                   object_len=len(keys))
        return a.push(obj)
    if isinstance(node, ScalarNode):
        return _scalar_node(a, node)
    return a.push(Node(kind=NULL, token="null"))


def compose_documents(text: str | bytes):
    if isinstance(text, bytes):
        text = text.decode("utf-8")
    loader = _Loader(text)
    docs = []
    try:
        while loader.check_node():
            docs.append(loader.get_node())
    finally:
        loader.dispose()
    # the reader rejects a raw surrogate, but a double-quoted "\ud800"
    # escape composes to one; check every scalar, sampled or not, as JSON
    # ingest checks the whole document
    stack = list(docs)
    while stack:
        node = stack.pop()
        if isinstance(node, ScalarNode):
            reject_lone_surrogate(node.value, "YAML")
        elif isinstance(node, SequenceNode):
            stack.extend(node.value)
        elif isinstance(node, MappingNode):
            for k, v in node.value:
                stack.append(k)
                stack.append(v)
    return docs


def build_yaml_arena(text: str | bytes, array_cap: int,
                     sampler: str = "balanced") -> Arena:
    """sampler is accepted for API symmetry; YAML ingest always keeps the
    head prefix like the reference (mod.rs:101-108)."""
    docs = compose_documents(text)
    a = Arena()
    if len(docs) == 0:
        nid = a.push(Node(kind=ARRAY, array_len=0))
        a.root_id = nid
        return a
    if len(docs) == 1:
        a.root_id = _build(a, docs[0], array_cap)
        return a
    total = len(docs)
    kept = min(total, array_cap)
    arr = Node(kind=ARRAY, array_len=total)
    nid = a.push(arr)
    arr.children = [_build(a, d, array_cap) for d in docs[:kept]]
    a.root_id = nid
    return a
