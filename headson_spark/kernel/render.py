"""Serialization templates + top-k marking + budget binary search.

Re-expression of the reference's render path:
- render set marking:  /root/reference/src/utils/graph.rs:41-61
- recursive serialize: /root/reference/src/serialization/mod.rs:92-299,531-592
- templates:           /root/reference/src/serialization/templates/{json,pseudo,js,text}.rs
- fileset sections:    /root/reference/src/serialization/fileset.rs:21-106
- budget search:       /root/reference/src/lib.rs:117-179, utils/search.rs:2-18

Budgets are measured in BYTES of the rendered UTF-8 string (Rust
`String::len`), not characters.

The budget search probes k in exactly the reference's binary_search_max
order. For the json-family templates (strict/pseudo/js) on a non-fileset
root, each probe is answered from a byte-length table built in pop order
(`_LengthTable`) and the preview is rendered once, at the chosen k; the
yaml and text templates and fileset roots render every probe.
"""

from __future__ import annotations

import json
from bisect import bisect_left
from dataclasses import dataclass

from .order import (PriorityOrder, K_ARRAY, K_OBJECT, K_STRING, K_ATOMIC,
                    K_PART)

OMISSION = "…"
_UNPOPPED = 1 << 60   # rank of a node outside by_priority

_STYLE_TO_JSON_TEMPLATE = {
    "strict": "json", "default": "pseudo", "detailed": "js"}


@dataclass(frozen=True)
class RenderConfig:
    template: str = "pseudo"
    style: str = "default"
    indent_unit: str = "  "
    space: str = " "
    newline: str = "\n"
    prefer_tail_arrays: bool = False


import re as _re

_NEEDS_ESCAPE = _re.compile(r'["\\\x00-\x1f]')
_KEY_CACHE: dict[str, str] = {}


def json_string(s: str) -> str:
    """JSON string literal, serde_json-compatible (utils/json.rs:4-11)."""
    if _NEEDS_ESCAPE.search(s) is None:
        return f'"{s}"'
    return json.dumps(s, ensure_ascii=False)


def json_key(s: str) -> str:
    v = _KEY_CACHE.get(s)
    if v is None:
        if len(_KEY_CACHE) > 10_000:
            _KEY_CACHE.clear()
        v = _KEY_CACHE[s] = json_string(s)
    return v


class RenderSet:
    """Per-conversation inclusion index: a node is in the render set for
    any k iff its pop rank is below k.

    Equivalent to the reference's top-k + ancestor-closure marking
    (graph.rs:41-61) but computed ONCE: because children enter the heap
    only after their parent pops (build_order's lazy pushes), every
    node's ancestors pop strictly earlier, so the subtree-min pop rank IS
    the node's own pop rank and the ancestor closure is automatic
    (property-tested in test_kernel_props: ancestors-pop-first
    invariant). A string's LeafParts hold a contiguous id block and pop
    in id order, so their ranks ascend along the block and the kept-part
    count for k is a bisect over it.
    """

    __slots__ = ("eff_rank", "_po", "_synced")

    def __init__(self, po: PriorityOrder):
        self._po = po
        self._synced = 0
        self.eff_rank: dict[int, int] = {}   # popped id -> pop rank
        self.sync()

    def rank(self, node: int) -> int:
        return self.eff_rank.get(node, _UNPOPPED)

    def sync(self):
        """Fold pops appended since the last sync (lazy pumping extends
        by_priority between probes; rank order is append-only)."""
        bp = self._po.by_priority
        n = len(bp)
        self.eff_rank.update(zip(bp[self._synced:], range(self._synced, n)))
        self._synced = n

    def kept_parts_for(self, string_id: int, k: int) -> int:
        po = self._po
        start = po.part_start[string_id]
        if start < 0:
            return 0
        end = start + po.part_count[string_id]
        if self.rank(end - 1) < k:
            return end - start
        return bisect_left(range(start, end), k, key=self.rank)


class _Renderer:
    def __init__(self, po: PriorityOrder, cfg: RenderConfig,
                 rset: RenderSet, k: int,
                 escaped_cache: dict[int, str] | None = None):
        self.po = po
        self.cfg = cfg
        self.rset = rset
        self.k = k
        # escaped full-string literals are probe-invariant: cache per node
        self.escaped = escaped_cache if escaped_cache is not None else {}

    # ---- string / atomic leaves ----

    def _string_omitted(self, pq_id: int, kept: int) -> int:
        po = self.po
        orig = po.string_len[pq_id]
        if orig > kept:
            return orig - kept
        return 1 if po.string_truncated[pq_id] else 0

    def _take_graphemes(self, pq_id: int, n: int) -> str:
        s = self.po.value[pq_id] or ""
        brks = self.po.breaks[pq_id]
        if brks is None:
            return s[: max(n, 0)]  # ASCII fast path: 1 char == 1 grapheme
        if n >= len(brks) - 1:
            return s
        return s[: brks[max(n, 0)]]

    def serialize_string(self, pq_id: int, template: str) -> str:
        kept = self.rset.kept_parts_for(pq_id, self.k)
        omitted = self._string_omitted(pq_id, kept)
        full = self.po.value[pq_id] or ""
        if template == "text":
            if omitted == 0:
                return full
            return self._take_graphemes(pq_id, kept) + OMISSION
        if omitted == 0:
            esc = self.escaped.get(pq_id)
            if esc is None:
                esc = self.escaped[pq_id] = json_string(full)
            return esc
        return json_string(self._take_graphemes(pq_id, kept) + OMISSION)

    # ---- structural helpers ----

    def _included_children(self, pq_id: int) -> list[int]:
        kids = self.po.children[pq_id]
        if not kids:
            return []
        rank = self.rset.eff_rank.get
        k = self.k
        return [c for c in kids if rank(c, _UNPOPPED) < k]

    def _omitted_for(self, pq_id: int, kept: int) -> int:
        total = self.po.total_len[pq_id]
        if total is not None and total > kept:
            return total - kept
        return 0

    # ---- array rendering ----

    def render_array(self, pq_id: int, depth: int, inline: bool,
                     template: str) -> str:
        cfg = self.cfg
        inc = self._included_children(pq_id)
        kept = len(inc)
        omitted = self._omitted_for(pq_id, kept)
        children = []
        for c in inc:
            rendered = self.render_node(c, depth + 1, False, template)
            oi = self.po.orig_index[c]
            children.append((oi if oi is not None else 0,
                             self.po.kind[c], rendered))
        if template == "text":
            return self._render_array_text(children, omitted)
        if template == "yaml":
            if self.cfg.newline == "" and self.cfg.indent_unit == "":
                return self._render_array_marked(
                    children, kept, omitted, depth, inline, None, None)
            return self._render_array_yaml(children, kept, omitted, depth,
                                           inline)
        if template in ("pseudo", "auto"):
            return self._render_array_marked(
                children, kept, omitted, depth, inline,
                gap_marker=lambda gap: OMISSION,
                omit_marker=lambda n: OMISSION)
        if template == "js":
            return self._render_array_marked(
                children, kept, omitted, depth, inline,
                gap_marker=lambda gap: f"/* {gap} more items */",
                omit_marker=lambda n: f"/* {n} more items */")
        # strict json: no markers
        return self._render_array_marked(
            children, kept, omitted, depth, inline, None, None)

    def _render_array_text(self, children, omitted: int) -> str:
        cfg = self.cfg
        out = []

        def omission_line():
            if cfg.style == "strict":
                return
            if cfg.style == "default":
                out.append(OMISSION)
                out.append(cfg.newline)
            else:
                out.append(f"{OMISSION} {omitted} more lines {OMISSION}")
                out.append(cfg.newline)

        if cfg.prefer_tail_arrays and omitted > 0:
            omission_line()
        for _, _, item in children:
            out.append(item)
            out.append(cfg.newline)
        if not cfg.prefer_tail_arrays and omitted > 0:
            omission_line()
        return "".join(out)

    def _render_array_marked(self, children, kept, omitted, depth, inline,
                             gap_marker, omit_marker) -> str:
        cfg = self.cfg
        ind = cfg.indent_unit
        nl = cfg.newline
        out = []
        if kept == 0:
            if not inline:
                out.append(ind * depth)
            if omit_marker is not None and omitted > 0:
                out.append("[ " + omit_marker(omitted) + " ]")
            else:
                out.append("[]")
            return "".join(out)
        if not inline:
            out.append(ind * depth)
        out.append("[")
        out.append(nl)

        def push_omitted():
            if omit_marker is not None and omitted > 0:
                out.append(ind * (depth + 1))
                out.append(omit_marker(omitted))
                if kept > 0 and cfg.prefer_tail_arrays:
                    out.append(",")
                out.append(nl)

        if cfg.prefer_tail_arrays:
            push_omitted()
        prev_index = None
        for i, (orig_index, ckind, item) in enumerate(children):
            if (gap_marker is not None and prev_index is not None
                    and orig_index > prev_index + 1):
                out.append(ind * (depth + 1))
                out.append(gap_marker(orig_index - prev_index - 1))
                out.append(nl)
            if "\n" in item or "\r" in item:
                out.append(item)
            elif ckind in (K_ARRAY, K_OBJECT):
                out.append(item)
            else:
                out.append(ind * (depth + 1))
                out.append(item)
            if i + 1 < kept:
                out.append(",")
            out.append(nl)
            prev_index = orig_index
        if not cfg.prefer_tail_arrays:
            push_omitted()
        out.append(ind * depth)
        out.append("]")
        return "".join(out)

    # ---- yaml template (templates/yaml.rs) ----

    _YAML_RESERVED = {"true", "false", "null", "~", "yes", "no", "on",
                      "off", "y", "n"}
    _YAML_PUNCT = set(":#{}[],&*?|>@%!")

    def _yaml_needs_quotes_value(self, s: str) -> bool:
        if (s == "" or "\n" in s or "\r" in s
                or s[:1].isspace() or s[-1:].isspace()
                or s.lower() in self._YAML_RESERVED):
            return True
        c0 = s[0]
        if c0 in "-+" or c0.isdigit():
            if c0.isascii():
                has_digit = False
                ok = True
                for ch in s:
                    if ch.isascii() and ch.isdigit():
                        has_digit = True
                    elif ch in ".eE+-":
                        pass
                    else:
                        ok = False
                        break
                if ok and has_digit and (c0 in "-+" or c0.isdigit()):
                    return True
        return any(ch in self._YAML_PUNCT for ch in s)

    def _yaml_needs_quotes_key(self, s: str) -> bool:
        if not s:
            return True
        first = s[0]
        if (first.isascii() and first.isdigit()) or first == "-" \
                or first.isspace():
            return True
        if s.lower() in self._YAML_RESERVED:
            return True
        if s[-1:].isspace():
            return True
        return not all(
            (c.isascii() and (c.isalnum())) or c in "_-" for c in s)

    def _yaml_scalar(self, token: str) -> str:
        # token is a rendered leaf: JSON string literal or atomic token
        if token.startswith('"'):
            try:
                raw = json.loads(token)
            except Exception:
                return token
            if isinstance(raw, str) and not self._yaml_needs_quotes_value(
                    raw):
                return raw
            return token
        return token

    def _render_array_yaml(self, children, kept, omitted, depth,
                           inline) -> str:
        cfg = self.cfg
        ind = cfg.indent_unit
        nl = cfg.newline
        out: list[str] = []
        if kept == 0:
            if not inline:
                out.append(ind * depth)
            out.append("[]")
            return "".join(out)

        def omitted_comment():
            if cfg.style == "strict" or omitted <= 0:
                return
            out.append(ind * depth)
            if cfg.style == "default":
                out.append("# …")
            else:
                out.append(f"# {omitted} more items")
            out.append(nl)

        if cfg.prefer_tail_arrays:
            omitted_comment()
        for _, _, item in children:
            if "\n" not in item and "\r" not in item:
                out.append(ind * depth)
                out.append("- ")
                out.append(self._yaml_scalar(item.strip()))
                out.append(nl)
            else:
                lines = item.splitlines()
                if lines:
                    out.append(ind * depth)
                    out.append("- ")
                    out.append(lines[0].lstrip())
                    out.append(nl)
                for rest in lines[1:]:
                    out.append(ind * depth)
                    out.append("  ")
                    out.append(rest.lstrip())
                    out.append(nl)
        if not cfg.prefer_tail_arrays:
            omitted_comment()
        return "".join(out)

    def _render_object_yaml(self, inc, kept, omitted, depth, inline,
                            fileset_root) -> str:
        cfg = self.cfg
        ind = cfg.indent_unit
        nl = cfg.newline
        out: list[str] = []
        if kept == 0:
            if not inline:
                out.append(ind * depth)
            out.append("{}")
            return "".join(out)
        for c in inc:
            raw_key = self.po.key[c] or ""
            key_text = (raw_key if not self._yaml_needs_quotes_key(raw_key)
                        else json_key(raw_key))
            v = self.render_node(c, depth + 1, True, "yaml")
            out.append(ind * depth)
            out.append(key_text)
            if "\n" not in v and "\r" not in v:
                out.append(": ")
                out.append(self._yaml_scalar(v))
                out.append(nl)
            else:
                out.append(":")
                out.append(nl)
                out.append(v)
                if not v.endswith(("\n", "\r")):
                    out.append(nl)
        if omitted > 0 and cfg.style != "strict":
            out.append(ind * depth)
            if cfg.style == "default":
                out.append("# …")
            else:
                label = "files" if fileset_root else "properties"
                out.append(f"# {omitted} more {label}")
            out.append(nl)
        return "".join(out)

    # ---- object rendering ----

    def render_object(self, pq_id: int, depth: int, inline: bool,
                      template: str) -> str:
        cfg = self.cfg
        if pq_id == 0 and self.po.is_fileset and cfg.newline != "":
            return self.render_fileset_sections(depth)
        # Auto resolves by style for objects (serialization/mod.rs:139-152)
        if template == "auto":
            template = _STYLE_TO_JSON_TEMPLATE[cfg.style]
        if template == "text":
            template = "pseudo"  # templates/text.rs:36-43 delegates
        inc = self._included_children(pq_id)
        kept = len(inc)
        omitted = self._omitted_for(pq_id, kept)
        fileset_root = pq_id == 0 and self.po.is_fileset
        if template == "yaml":
            if not (cfg.newline == "" and cfg.indent_unit == ""):
                return self._render_object_yaml(inc, kept, omitted, depth,
                                                inline, fileset_root)
            template = "json"  # compact yaml falls back (yaml.rs:256-259)
        label = "files" if fileset_root else "properties"
        ind = cfg.indent_unit
        nl = cfg.newline
        out = []
        if kept == 0:
            if not inline:
                out.append(ind * depth)
            if template == "pseudo" and omitted > 0:
                out.append("{" + cfg.space + OMISSION + cfg.space + "}")
            elif template == "js" and omitted > 0:
                out.append("{" + cfg.space
                           + f"/* {omitted} more {label} */"
                           + cfg.space + "}")
            else:
                out.append("{}")
            return "".join(out)
        if not inline:
            out.append(ind * depth)
        out.append("{")
        out.append(nl)
        for i, c in enumerate(inc):
            out.append(ind * (depth + 1))
            out.append(json_key(self.po.key[c] or ""))
            out.append(":")
            out.append(cfg.space)
            out.append(self.render_node(c, depth + 1, True, template))
            if i + 1 < kept:
                out.append(",")
            out.append(nl)
        if omitted > 0:
            if template == "pseudo":
                out.append(ind * (depth + 1))
                out.append(OMISSION)
                out.append(nl)
            elif template == "js":
                out.append(ind * (depth + 1))
                out.append(f"/* {omitted} more {label} */")
                out.append(nl)
        out.append(ind * depth)
        out.append("}")
        return "".join(out)

    # ---- fileset sections (fileset.rs:21-106) ----

    def render_fileset_sections(self, depth: int) -> str:
        cfg = self.cfg
        po = self.po
        out = []
        kids = po.children[0] or []
        kept = 0
        for c in kids:
            if self.rset.rank(c) >= self.k:
                continue
            if kept > 0:
                out.append(cfg.newline)
                out.append(cfg.newline)
            kept += 1
            key = po.key[c] or ""
            out.append(cfg.indent_unit * depth)
            out.append(f"==> {key} <==")
            out.append(cfg.newline)
            tmpl = self._fileset_child_template(key)
            out.append(self.render_node(c, depth, False, tmpl))
        total = po.total_len[0]
        if total is None:
            total = len(kids)
        if total > kept and cfg.newline != "":
            out.append(cfg.newline)
            out.append(cfg.newline)
            out.append(cfg.indent_unit * depth)
            out.append(f"==> {total - kept} more files <==")
        return "".join(out)

    def _fileset_child_template(self, name: str) -> str:
        if self.cfg.template != "auto":
            return self.cfg.template
        lower = name.lower()
        if lower.endswith((".yaml", ".yml")):
            return "yaml"
        if lower.endswith(".json"):
            return _STYLE_TO_JSON_TEMPLATE[self.cfg.style]
        return "text"

    # ---- dispatch ----

    def render_node(self, pq_id: int, depth: int, inline: bool,
                    template: str) -> str:
        kind = self.po.kind[pq_id]
        if kind == K_ARRAY:
            return self.render_array(pq_id, depth, inline, template)
        if kind == K_OBJECT:
            return self.render_object(pq_id, depth, inline, template)
        if kind == K_STRING:
            return self.serialize_string(pq_id, template)
        if kind == K_ATOMIC:
            return self.po.value[pq_id] or ""
        raise AssertionError("LeafPart should never be rendered")


def render_top_k(po: PriorityOrder, k: int, cfg: RenderConfig,
                 rset: RenderSet | None = None,
                 escaped_cache: dict | None = None) -> str:
    if rset is None:
        rset = RenderSet(po)
    k = min(k, len(po.by_priority))
    r = _Renderer(po, cfg, rset, k, escaped_cache)
    return r.render_node(0, 0, False, cfg.template)


# templates whose probes are answered from a _LengthTable (non-fileset
# roots); yaml, text and auto keep the render-per-probe search
_TABLE_TEMPLATES = ("json", "pseudo", "js")
_OMISSION_BYTES = len(OMISSION.encode("utf-8"))


def _escaped_bytes(g: str) -> int:
    """UTF-8 bytes of `g` inside a JSON string literal (json_string escapes
    per character, so literal lengths add up grapheme by grapheme)."""
    if _NEEDS_ESCAPE.search(g) is None:
        return len(g.encode("utf-8"))
    return len(json.dumps(g, ensure_ascii=False).encode("utf-8")) - 2


class _LengthTable:
    """Exact UTF-8 byte length of `render_top_k(po, k, cfg)` for every k up
    to the pops folded so far, for the json-family templates on a
    non-fileset root.

    Built in pop order: pop i adds the (i+1)-th node to the render set, so
    lens[i] = lens[i-1] + what that node changes. A LeafPart pop changes
    only its string's literal (one more grapheme; the "…" goes when an
    untruncated string completes). Any other pop adds the node's own
    opening form (a leaf, or an empty container's "[]" / "{ … }"), its
    indent, key and newline, and changes only its parent's frame: the kept
    count (commas, the empty form), the omitted marker and, in arrays, the
    gap markers between included neighbours. Every length is in bytes, so
    the search predicate `lens[k-1] <= budget` is the render's own."""

    __slots__ = ("po", "lens", "_ind", "_nl", "_sp", "_tail", "_arr_mark",
                 "_obj_mark", "_depth", "_kept", "_frame", "_orig", "_gaps",
                 "_fast", "_slow", "_keylen", "_span")

    def __init__(self, po: PriorityOrder, cfg: RenderConfig):
        self.po = po
        self.lens: list[int] = []
        self._ind = len(cfg.indent_unit.encode("utf-8"))
        self._nl = len(cfg.newline.encode("utf-8"))
        self._sp = len(cfg.space.encode("utf-8"))
        self._tail = 1 if cfg.prefer_tail_arrays else 0
        t = cfg.template
        # marker byte lengths as a function of the count they name; the
        # array's gap and omitted markers share one form (_render_array)
        if t == "pseudo":
            self._arr_mark = self._obj_mark = lambda n: _OMISSION_BYTES
        elif t == "js":
            self._arr_mark = lambda n: len(f"/* {n} more items */")
            self._obj_mark = lambda n: len(f"/* {n} more properties */")
        else:
            self._arr_mark = self._obj_mark = None
        self._depth: dict[int, int] = {}    # container -> depth
        self._kept: dict[int, int] = {}     # container -> included children
        self._frame: dict[int, int] = {}    # container -> frame bytes
        self._orig: dict[int, list[int]] = {}  # array -> included orig idx
        self._gaps: dict[int, int] = {}     # array -> gap-line bytes
        # string -> id of the part that completes it untruncated (or -1),
        # for printable ASCII with no escapes: each part adds one byte
        self._fast: dict[int, int] = {}
        # other strings -> (that id, value, grapheme breaks, first part id)
        self._slow: dict[int, tuple] = {}
        self._keylen: dict[str | None, int] = {}
        self._span = 0   # first part span not yet folded past

    def length(self, k: int) -> int:
        """Byte length of render_top_k(k); k <= len(by_priority)."""
        if len(self.lens) < k:
            self._fold(k)
        return self.lens[k - 1]

    def _fold(self, upto: int):
        """Fold the pops up to `upto`: a part span (PriorityOrder.part_spans)
        per run of its strings, any other pop one at a time."""
        spans = self.po.part_spans
        lens = self.lens
        while len(lens) < upto:
            i = len(lens)
            j = self._span
            while j < len(spans) and spans[j][1] <= i:
                j += 1
            self._span = j
            if j == len(spans):
                self._fold_pops(i, upto)
            elif spans[j][0] <= i:
                self._fold_span(spans[j], i, min(upto, spans[j][1]))
            else:
                self._fold_pops(i, min(upto, spans[j][0]))

    def _fold_pops(self, a: int, b: int):
        po = self.po
        bp = po.by_priority
        kind = po.kind
        parent = po.parent
        fast = self._fast
        lens = self.lens
        total = lens[-1] if lens else 0
        for i in range(a, b):
            x = bp[i]
            kx = kind[x]
            if kx == K_PART:
                s = parent[x]
                last = fast.get(s)
                if last is not None:
                    total += 1 - _OMISSION_BYTES if x == last else 1
                else:
                    total += self._slow_part(s, x)
            else:
                p = parent[x]
                own = self._open(x, kx, p)
                total = own if p < 0 else total + own + self._attach(p, x, kx)
            lens.append(total)

    def _fold_span(self, span: tuple, a: int, b: int):
        """Fold positions [a, b) of one part span. When every string in it
        is printable ASCII with no escapes, each part adds one byte and an
        untruncated string's last part drops the "…": one range per run."""
        start, _, r, lvl0, sids, firsts = span
        lens = self.lens
        total = lens[-1]
        fast = self._fast
        lasts = [fast.get(sid) for sid in sids]
        if None not in lasts:
            # a string's last part falls in this span only at its last
            # level, so the ones in [a, b) come in run order
            pos = a
            for j, last in enumerate(lasts):
                c = start + (last - firsts[j] - lvl0) * r + j
                if last >= 0 and a <= c < b:
                    lens.extend(range(total + 1, total + 1 + c - pos))
                    total += c - pos + 1 - _OMISSION_BYTES
                    lens.append(total)
                    pos = c + 1
            lens.extend(range(total + 1, total + 1 + b - pos))
            return
        for i in range(a, b):
            lvl, j = divmod(i - start, r)
            x = firsts[j] + lvl0 + lvl
            last = lasts[j]
            if last is not None:
                total += 1 - _OMISSION_BYTES if x == last else 1
            else:
                total += self._slow_part(sids[j], x)
            lens.append(total)

    def _slow_part(self, s: int, x: int) -> int:
        """Bytes part x adds to string s, which needs escapes or is not
        printable ASCII: its grapheme's escaped bytes, less the "…" at the
        part that completes an untruncated string."""
        last, value, brks, start = self._slow[s]
        j = x - start
        g = value[j] if brks is None else value[brks[j]:brks[j + 1]]
        n = _escaped_bytes(g)
        return n - _OMISSION_BYTES if x == last else n

    def _open(self, x: int, kx: int, p: int) -> int:
        """Bytes of node x as it renders on entering the set (no children
        or parts yet), without its indent; registers its state."""
        po = self.po
        if kx == K_ATOMIC:
            return len((po.value[x] or "").encode("utf-8"))
        if kx == K_STRING:
            count = po.string_len[x]
            trunc = po.string_truncated[x]
            n = po.part_count[x]
            if n:
                start = po.part_start[x]
                value = po.value[x]
                brks = po.breaks[x]
                last = start + count - 1 if n == count and not trunc else -1
                if brks is None and _NEEDS_ESCAPE.search(value) is None:
                    self._fast[x] = last
                else:
                    self._slow[x] = (last, value, brks, start)
            # '""' for an empty string, else '"…"' until parts arrive
            return 2 if count == 0 and not trunc else 2 + _OMISSION_BYTES
        self._depth[x] = 0 if p < 0 else self._depth[p] + 1
        self._kept[x] = 0
        if kx == K_ARRAY:
            self._orig[x] = []
            self._gaps[x] = 0
        f = self._frame[x] = self._frame_bytes(x, kx, 0)
        return f

    def _frame_bytes(self, c: int, kc: int, m: int) -> int:
        """Bytes of container c with m included children, excluding its
        leading indent and its children's own lines."""
        total = self.po.total_len[c]
        omitted = total - m if total is not None and total > m else 0
        mark = self._arr_mark if kc == K_ARRAY else self._obj_mark
        marked = mark is not None and omitted > 0
        if m == 0:
            if not marked:
                return 2  # "[]" / "{}"
            # "[ " + marker + " ]" / "{" + space + marker + space + "}"
            return (4 if kc == K_ARRAY else 2 + 2 * self._sp) + mark(omitted)
        d = self._depth[c]
        f = 2 + self._nl + (m - 1) + self._ind * d
        if kc == K_ARRAY:
            f += self._gaps[c]
        if marked:
            f += self._ind * (d + 1) + mark(omitted) + self._nl
            if kc == K_ARRAY:
                f += self._tail  # head-side marker line takes a comma
        return f

    def _attach(self, p: int, x: int, kx: int) -> int:
        """Bytes that adding child x changes outside x's own form: its
        indent, key and newline, and the parent's frame."""
        po = self.po
        d = self._depth[p] + 1
        kp = po.kind[p]
        add = self._nl + self._ind * d
        if kp == K_OBJECT:
            key = po.key[x]
            kl = self._keylen.get(key)
            if kl is None:
                kl = self._keylen[key] = len(
                    json_key(key or "").encode("utf-8"))
            add += kl + 1 + self._sp  # key + ":" + space
        else:
            if kx == K_ATOMIC:
                tok = po.value[x] or ""
                if "\n" in tok or "\r" in tok:
                    add -= self._ind * d  # multi-line items skip the indent
            if self._arr_mark is not None:
                self._add_gap(p, d, po.orig_index[x])
        m = self._kept[p] = self._kept[p] + 1
        old = self._frame[p]
        new = self._frame[p] = self._frame_bytes(p, kp, m)
        return add + new - old

    def _add_gap(self, p: int, d: int, oi: int | None):
        """Insert child index oi into array p's included indexes and update
        the bytes of the gap-marker lines between included neighbours."""
        oi = oi if oi is not None else 0
        lst = self._orig[p]
        pos = bisect_left(lst, oi)
        prev = lst[pos - 1] if pos else None
        nxt = lst[pos] if pos < len(lst) else None
        delta = 0
        if prev is not None:
            delta += self._gap_line(prev, oi, d)
            if nxt is not None:
                delta -= self._gap_line(prev, nxt, d)
        if nxt is not None:
            delta += self._gap_line(oi, nxt, d)
        lst.insert(pos, oi)
        self._gaps[p] += delta

    def _gap_line(self, a: int, b: int, d: int) -> int:
        if b <= a + 1:
            return 0
        return self._ind * d + self._arr_mark(b - a - 1) + self._nl


def find_largest_render_under_budget(po: PriorityOrder, cfg: RenderConfig,
                                     budget: int) -> str:
    """Binary-search max k whose rendered BYTE length fits (lib.rs:117-179).

    For the json-family templates (strict/pseudo/js) on a non-fileset
    root, each probe is answered from a _LengthTable, the exact byte
    length of render_top_k(k) built incrementally in pop order, and
    render_top_k runs once, at the chosen k. The yaml, text and auto
    templates and fileset roots render every probe, sharing the flag
    array and escaped-string cache across probes (the reference's
    epoch-stamped inclusion flags, lib.rs:132-136). Either way the
    output is the render at the same k.

    NOTE: the probe sequence must be EXACTLY the reference's
    binary_search_max (utils/search.rs:2-18). The fits-predicate is not
    monotone in k (a truncated string's "…" can be longer than the
    content a larger k restores), so on non-monotone stretches the search
    result depends on the probe order — any "smarter" search (galloping,
    hints) can land on a different locally-maximal k and diverge from the
    reference byte-for-byte.
    """
    pump = po.pump
    lazy = (pump is not None and po.assignable_capped is not None
            and max(budget, 1) <= po.pop_limit)
    if lazy:
        # hi without popping: total_nodes after a full bounded expansion
        # is min-clamped by budget anyway once >= budget ids exist, and
        # count_assignable is exact below pop_limit (>= budget here) —
        # see the proof in build_order's docstring / count_assignable
        total = po.assignable_capped
    else:
        if pump is not None:
            pump(po.pop_limit)  # lazy order, out-of-contract budget:
            #                     fall back to the eager expansion
        total = po.total_nodes
    if total == 0:
        return ""
    bp = po.by_priority
    table = (_LengthTable(po, cfg) if cfg.template in _TABLE_TEMPLATES
             and not po.is_fileset else None)
    rset = None if table is not None else RenderSet(po)
    escaped: dict[int, str] = {}
    lo, hi = 1, min(total, max(budget, 1))
    best, best_render = 1, None
    while lo <= hi:
        mid = (lo + hi) // 2
        if lazy and len(bp) < mid:
            pump(mid)
        if table is not None:
            s = None
            size = table.length(min(mid, len(bp)))
        else:
            rset.sync()
            s = render_top_k(po, mid, cfg, rset, escaped)
            size = len(s.encode("utf-8"))
        if size <= budget:
            best, best_render = mid, s
            lo = mid + 1
        else:
            hi = mid - 1
    if best_render is not None:
        return best_render
    return render_top_k(po, best, cfg, rset, escaped)
