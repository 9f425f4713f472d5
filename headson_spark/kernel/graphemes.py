"""UAX #29 extended grapheme cluster segmentation (pure Python).

Mirrors the reference's use of the Rust `unicode-segmentation` crate
(/root/reference/src/order/build.rs:107-114, src/utils/text.rs:5-14):
string priority expansion, string metrics, and truncation all operate on
extended grapheme clusters, never code points.

Tables in `_gcb_data` are generated from public Unicode data by
scripts/gen_gcb_tables.py.
"""

from __future__ import annotations

from bisect import bisect_right

from . import _gcb_data as _d

# Grapheme_Cluster_Break classes
OTHER = 0
CR = 1
LF = 2
CONTROL = 3
EXTEND = 4
ZWJ = 5
RI = 6
PREPEND = 7
SPACINGMARK = 8
L = 9
V = 10
T = 11
LV = 12
LVT = 13

_CLASS_TABLES = (
    (CONTROL, _d.CONTROL),
    (EXTEND, _d.EXTEND),
    (SPACINGMARK, _d.SPACINGMARK),
    (PREPEND, _d.PREPEND),
    (L, _d.HANGUL_L),
    (V, _d.HANGUL_V),
    (T, _d.HANGUL_T),
    (RI, _d.RI),
    (ZWJ, _d.ZWJ),
)

# Build one merged (starts, ends, classes) lookup for bisect
_starts: list[int] = []
_ends: list[int] = []
_classes: list[int] = []
_all: list[tuple[int, int, int]] = []
for _cls, _flat in _CLASS_TABLES:
    for _i in range(0, len(_flat), 2):
        _all.append((_flat[_i], _flat[_i + 1], _cls))
_all.sort()
for _a, _b, _c in _all:
    _starts.append(_a)
    _ends.append(_b)
    _classes.append(_c)

_EP_STARTS = list(_d.EXT_PICT[0::2])
_EP_ENDS = list(_d.EXT_PICT[1::2])

_HANGUL_SYL_BASE = 0xAC00
_HANGUL_SYL_END = 0xD7A3


def _gcb_class(cp: int) -> int:
    if cp == 0x000D:
        return CR
    if cp == 0x000A:
        return LF
    if _HANGUL_SYL_BASE <= cp <= _HANGUL_SYL_END:
        return LV if (cp - _HANGUL_SYL_BASE) % 28 == 0 else LVT
    i = bisect_right(_starts, cp) - 1
    if i >= 0 and cp <= _ends[i]:
        return _classes[i]
    return OTHER


def _is_ext_pict(cp: int) -> bool:
    i = bisect_right(_EP_STARTS, cp) - 1
    return i >= 0 and cp <= _EP_ENDS[i]


# ASCII fast path: printable ASCII (0x20..0x7E) are all class OTHER and
# never combine with a following printable ASCII char.
_ASCII_SAFE = frozenset(chr(c) for c in range(0x20, 0x7F))

import re as _re

_ASCII_UNSAFE_RE = _re.compile(r"[\x00-\x1f\x7f]")


def ascii_printable(s: str) -> bool:
    """C-speed equivalent of all(c in _ASCII_SAFE for c in s): ASCII with
    no control chars (0x00-0x1F, 0x7F). Hot path — called once per
    string node."""
    return s.isascii() and _ASCII_UNSAFE_RE.search(s) is None


def grapheme_breaks(s: str) -> list[int]:
    """Return break offsets (code-point indices) including 0 and len(s)."""
    n = len(s)
    breaks = [0]
    if n == 0:
        return breaks
    prev_cp = ord(s[0])
    prev_cls = _gcb_class(prev_cp)
    # GB11 state: `ep` — does the consumed text end with ExtPict Extend*?
    # `ep_before_prev` — same property just before the previous char.
    ep = _is_ext_pict(prev_cp)
    ep_before_prev = False
    ri_run = 1 if prev_cls == RI else 0
    for i in range(1, n):
        cp = ord(s[i])
        cls = _gcb_class(cp)
        brk = True
        if prev_cls == CR and cls == LF:
            brk = False  # GB3
        elif prev_cls in (CONTROL, CR, LF):
            brk = True  # GB4
        elif cls in (CONTROL, CR, LF):
            brk = True  # GB5
        elif prev_cls == L and cls in (L, V, LV, LVT):
            brk = False  # GB6
        elif prev_cls in (LV, V) and cls in (V, T):
            brk = False  # GB7
        elif prev_cls in (LVT, T) and cls == T:
            brk = False  # GB8
        elif cls in (EXTEND, ZWJ):
            brk = False  # GB9
        elif cls == SPACINGMARK:
            brk = False  # GB9a
        elif prev_cls == PREPEND:
            brk = False  # GB9b
        elif prev_cls == ZWJ and ep_before_prev and _is_ext_pict(cp):
            brk = False  # GB11: ExtPict Extend* ZWJ x ExtPict
        elif prev_cls == RI and cls == RI and ri_run % 2 == 1:
            brk = False  # GB12/GB13: pair regional indicators
        if brk:
            breaks.append(i)
        # advance GB11 state
        ep_before_prev = ep
        if _is_ext_pict(cp):
            ep = True
        elif cls == EXTEND and ep:
            ep = True
        else:
            ep = False
        # advance RI state
        ri_run = ri_run + 1 if cls == RI else 0
        prev_cls = cls
    breaks.append(n)
    return breaks


def graphemes(s: str) -> list[str]:
    """Split `s` into extended grapheme clusters."""
    if not s:
        return []
    if ascii_printable(s):
        return list(s)
    b = grapheme_breaks(s)
    return [s[b[i]:b[i + 1]] for i in range(len(b) - 1)]


def take_n_graphemes(s: str, n: int) -> str:
    """First n grapheme clusters of s — reference utils/text.rs:5-14."""
    if n <= 0:
        return ""
    if all(c in _ASCII_SAFE for c in s):
        return s[:n]
    b = grapheme_breaks(s)
    if n >= len(b) - 1:
        return s
    return s[: b[n]]
