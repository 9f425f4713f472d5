"""Best-first priority ordering of document-tree nodes.

Re-expression of the reference's `build_order` heap expansion
(/root/reference/src/order/build.rs:377-470) with two engineering changes
that preserve bit-exact pop order while bounding work by the budget:

1. **Eager id assignment, lazy heap pushes.** The reference assigns PQ ids
   to ALL children when their parent pops and pushes every child onto the
   heap. We assign ids identically (so tie-breaks and the SAFETY_CAP
   truncation point match exactly) but push only each parent's next-best
   child — a k-way-merge: pop order over (score, id) is unchanged because
   each parent's children are pushed in its own ascending (score, id)
   order.
2. **Budget-bounded popping.** The binary search over k only ever probes
   k <= min(total, budget) (src/lib.rs:129-131), so by_priority beyond
   position `budget` is never read; we stop popping there.

Scores are exact Python ints (the reference uses u128; cubic array weights
overflow u64 — SURVEY §7.3).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from heapq import heappush, heappop

from . import arena as ar
from .graphemes import grapheme_breaks, ascii_printable

SAFETY_CAP = 2_000_000          # order/scoring.rs:3
ROOT_BASE_SCORE = 1             # scoring.rs:6
ARRAY_CHILD_BASE_INCREMENT = 1  # scoring.rs:9
ARRAY_INDEX_CUBIC_WEIGHT = 1_000_000_000_000  # scoring.rs:12
OBJECT_CHILD_BASE_INCREMENT = 1  # scoring.rs:15
STRING_CHILD_BASE_INCREMENT = 1  # scoring.rs:18
STRING_CHILD_LINEAR_WEIGHT = 1   # scoring.rs:20
STRING_INDEX_INFLECTION = 20     # scoring.rs:23
STRING_INDEX_QUADRATIC_WEIGHT = 1  # scoring.rs:26

# ranked-node kinds (order/types.rs:60-87)
K_ARRAY, K_OBJECT, K_STRING, K_ATOMIC, K_PART = 0, 1, 2, 3, 4


@dataclass
class PriorityOrder:
    """Parallel arrays indexed by PQ id (order/types.rs:129-143)."""
    kind: list[int] = field(default_factory=list)
    key: list[str | None] = field(default_factory=list)      # key_in_object
    value: list[str | None] = field(default_factory=list)    # string / token
    parent: list[int] = field(default_factory=list)          # -1 = root
    children: list[list[int] | None] = field(default_factory=list)
    orig_index: list[int | None] = field(default_factory=list)
    # metrics (order/types.rs:121-127); None until the node pops
    total_len: list[int | None] = field(default_factory=list)
    string_len: list[int | None] = field(default_factory=list)
    string_truncated: list[bool] = field(default_factory=list)
    # for strings: grapheme break offsets (cached for truncation renders)
    breaks: list[list[int] | None] = field(default_factory=list)
    # for strings: contiguous id block of LeafParts [part_start, part_start+n)
    part_start: list[int] = field(default_factory=list)
    part_count: list[int] = field(default_factory=list)
    by_priority: list[int] = field(default_factory=list)     # pop order
    total_nodes: int = 0
    is_fileset: bool = False
    # lazy expansion (build_order lazy=True): pump(n) extends by_priority
    # to >= n pops (or exhaustion); assignable_capped = count_assignable
    # result used by the budget search to pin hi without popping
    pump = None
    pop_limit: int = 0
    assignable_capped: int | None = None

    def _push_part_block(self, parent: int, n: int):
        """Reserve n LeafPart rows in one bulk extend (hot path)."""
        self.kind.extend([K_PART] * n)
        self.key.extend([None] * n)
        self.value.extend([None] * n)
        self.parent.extend([parent] * n)
        self.children.extend([None] * n)
        self.orig_index.extend([None] * n)
        self.total_len.extend([None] * n)
        self.string_len.extend([None] * n)
        self.string_truncated.extend([False] * n)
        self.breaks.extend([None] * n)
        self.part_start.extend([-1] * n)
        self.part_count.extend([0] * n)


_KIND_FROM_ARENA = {
    ar.ARRAY: K_ARRAY,
    ar.OBJECT: K_OBJECT,
    ar.STRING: K_STRING,
    ar.NULL: K_ATOMIC,
    ar.BOOL: K_ATOMIC,
    ar.NUMBER: K_ATOMIC,
}


def count_assignable(a: ar.Arena, max_string_graphemes: int,
                     cap: int) -> int:
    """Total PQ ids a full (budget-bounded) expansion would assign,
    counted straight off the arena with early exit at `cap` (returns
    `cap` meaning ">= cap"; exact below it). Mirrors build_order's id
    assignment: one id per structural/atomic/string node + per string
    min(graphemes, max_string_graphemes) LeafPart ids. Assignment counts
    are order-independent, so a plain stack walk reproduces the heap
    expansion's total — this is what lets the lazy path know
    hi = min(total, budget) without popping (see build_order lazy=True).
    SAFETY_CAP truncation can only bite when the total exceeds cap
    anyway, so cap-exactness is unaffected."""
    nodes = a.nodes
    stack = [a.root_id]
    total = 0
    while stack:
        n = nodes[stack.pop()]
        total += 1
        if total >= cap:
            return cap
        k = n.kind
        if k == ar.STRING:
            s = n.string_value or ""
            if s:
                if ascii_printable(s):
                    g = len(s)
                else:
                    g = len(grapheme_breaks(s)) - 1
                total += min(g, max_string_graphemes)
                if total >= cap:
                    return cap
        elif n.children:
            stack.extend(n.children)
    return total


def build_order(a: ar.Arena, max_string_graphemes: int,
                prefer_tail_arrays: bool = False,
                max_pops: int | None = None,
                lazy: bool = False) -> PriorityOrder:
    """Heap expansion producing by_priority pop order.

    max_pops bounds |by_priority| (see module docstring); pass None for the
    reference's full expansion.

    lazy=True defers popping: the returned order carries po.pump(n)
    (extend by_priority to >= n pops) and po.assignable_capped (the
    count_assignable walk, exact below max_pops). The budget search then
    pops only as far as its largest probed k — typically hi/2 instead of
    max_pops when the first probe over-shoots the byte budget — while
    producing the identical pop prefix, so every render is byte-equal to
    the eager path."""
    po = PriorityOrder()
    po.is_fileset = a.is_fileset
    nodes = a.nodes

    # Heap entries: (score, pq_id, arena_id, source_list, source_pos)
    # where source_list/source_pos identify the parent's lazy iterator so a
    # popped child can trigger the push of its next sibling.
    heap: list = []

    # Per-parent lazy child streams:
    #   structural parents: sorted [(score, pq_id, arena_id), ...] + cursor
    #   string parents:     closed-form part scores generated on demand
    next_id = 0

    # prebound per-column appends: assign() is the hottest allocation site
    # (one call per node) and per-call attribute lookups dominate its cost
    _ap_kind = po.kind.append
    _ap_key = po.key.append
    _ap_value = po.value.append
    _ap_parent = po.parent.append
    _ap_children = po.children.append
    _ap_orig = po.orig_index.append
    _ap_tlen = po.total_len.append
    _ap_slen = po.string_len.append
    _ap_strunc = po.string_truncated.append
    _ap_breaks = po.breaks.append
    _ap_pstart = po.part_start.append
    _ap_pcount = po.part_count.append

    def assign(kind, key, value, parent, orig_index):
        nonlocal next_id
        _ap_kind(kind)
        _ap_key(key)
        _ap_value(value)
        _ap_parent(parent)
        _ap_children(None)
        _ap_orig(orig_index)
        _ap_tlen(None)
        _ap_slen(None)
        _ap_strunc(False)
        _ap_breaks(None)
        _ap_pstart(-1)
        _ap_pcount(0)
        pid = next_id
        next_id = pid + 1
        return pid

    def push_stream_head(stream):
        """Push the stream's current head entry onto the heap."""
        lst, pos = stream
        if pos < len(lst):
            score, pq_id, arena_id = lst[pos]
            heappush(heap, (score, pq_id, arena_id, stream))

    # --- seed root (build.rs:392-437) ---
    root_arena = nodes[a.root_id]
    root_kind = _KIND_FROM_ARENA[root_arena.kind]
    root_val = (root_arena.string_value if root_kind == K_STRING
                else root_arena.token)
    assign(root_kind, None, root_val, -1, None)
    root_stream = ([(ROOT_BASE_SCORE, 0, a.root_id)], 0)
    push_stream_head(root_stream)

    def expand_array(pq_id, an: ar.Node, parent_score):
        nonlocal next_id
        kept = len(an.children)
        po.total_len[pq_id] = (an.array_len if an.array_len is not None
                               else kept)
        kids: list[int] = []
        entries: list[tuple[int, int, int]] = []
        for i in range(kept):
            if next_id >= SAFETY_CAP:
                break
            child_arena_id = an.children[i]
            cn = nodes[child_arena_id]
            orig = an.arr_indices[i] if an.arr_indices else i
            # array-child scoring (build.rs:130-150,156-213)
            if prefer_tail_arrays:
                ii = max(kept - 1 - i, 0)
                extra = ii * ii * ii * ARRAY_INDEX_CUBIC_WEIGHT
            else:  # head_mid_tail
                mid = max(kept - 1, 0) // 2
                d = min(i, (kept - 1) - i, abs(i - mid))
                d = abs(d)
                extra = d * d * d * ARRAY_INDEX_CUBIC_WEIGHT
            score = parent_score + ARRAY_CHILD_BASE_INCREMENT + extra
            ck = _KIND_FROM_ARENA[cn.kind]
            cval = cn.string_value if ck == K_STRING else cn.token
            cid = assign(ck, None, cval, pq_id, orig)
            kids.append(cid)
            entries.append((score, cid, child_arena_id))
        po.children[pq_id] = kids
        entries.sort()
        push_stream_head((entries, 0))

    def expand_object(pq_id, an: ar.Node, parent_score):
        nonlocal next_id
        keys = an.keys or []
        po.total_len[pq_id] = (an.object_len if an.object_len is not None
                               else len(keys))
        # sort by (key, original key index) — build.rs:228-235; a fileset
        # input named None (a NULL conversation) sorts first as `null`
        items = sorted(range(len(keys)), key=lambda i: (
            keys[i] is not None, keys[i] or "", i))
        kids: list[int] = []
        entries: list[tuple[int, int, int]] = []
        score = parent_score + OBJECT_CHILD_BASE_INCREMENT
        for i in items:
            if next_id >= SAFETY_CAP:
                break
            child_arena_id = an.children[i]
            cn = nodes[child_arena_id]
            ck = _KIND_FROM_ARENA[cn.kind]
            cval = cn.string_value if ck == K_STRING else cn.token
            cid = assign(ck, "null" if keys[i] is None else keys[i], cval,
                         pq_id, None)
            kids.append(cid)
            entries.append((score, cid, child_arena_id))
        po.children[pq_id] = kids
        # equal scores + ascending ids => already sorted
        push_stream_head((entries, 0))

    def expand_string(pq_id, parent_score):
        nonlocal next_id
        s = po.value[pq_id] or ""
        # ASCII fast path: 1 char == 1 grapheme; breaks stays None and the
        # renderer slices directly
        if s and ascii_printable(s):
            n_actual = len(s)
        else:
            brks = grapheme_breaks(s) if s else [0]
            po.breaks[pq_id] = brks
            n_actual = len(brks) - 1
        count = min(n_actual, max_string_graphemes)
        po.string_len[pq_id] = count
        po.string_truncated[pq_id] = n_actual > count
        if count == 0:
            return
        n = min(count, max(SAFETY_CAP - next_id, 0))
        if n == 0:
            return
        start = next_id
        po.part_start[pq_id] = start
        po.part_count[pq_id] = n
        po._push_part_block(pq_id, n)
        next_id += n
        # parts push lazily with closed-form scores (build.rs:291-331):
        # parent + 1 + i + max(0, i-20)^2, strictly increasing in i
        heappush(heap, (parent_score + STRING_CHILD_BASE_INCREMENT,
                        start, -1, (parent_score, start, n, 0)))

    limit = max_pops if max_pops is not None else SAFETY_CAP
    by_priority = po.by_priority
    _bp_append = by_priority.append
    _kind = po.kind
    state = {"n": 0, "stopped": False}

    def pump(target: int):
        """Pop until >= min(target, limit) pops or exhaustion. Resumable:
        the heap and id counter persist in this closure."""
        if state["stopped"]:
            return
        n_popped = state["n"]
        stop_at = min(target, limit)
        while heap and n_popped < stop_at:
            score, pq_id, arena_id, stream = heappop(heap)
            # advance this entry's sibling stream
            if len(stream) == 4:  # LeafPart stream: (base, start, n, i)
                base, start, n, i = stream
                i += 1
                if i < n:
                    # inlined part score (closed-form, build.rs:291-331);
                    # keep the named tuning constants so this stays in
                    # lockstep with expand_string's initial push
                    d = i - STRING_INDEX_INFLECTION
                    extra = d * d * STRING_INDEX_QUADRATIC_WEIGHT if d > 0 \
                        else 0
                    heappush(heap, (base + STRING_CHILD_BASE_INCREMENT
                                    + i * STRING_CHILD_LINEAR_WEIGHT
                                    + extra,
                                    start + i, -1, (base, start, n, i)))
                _bp_append(pq_id)
                n_popped += 1
                continue  # parts never expand
            lst, pos = stream
            pos += 1
            if pos < len(lst):
                nscore, nid_, naid = lst[pos]
                heappush(heap, (nscore, nid_, naid, (lst, pos)))
            _bp_append(pq_id)
            n_popped += 1
            kind = _kind[pq_id]
            if kind == K_ARRAY:
                expand_array(pq_id, nodes[arena_id], score)
            elif kind == K_OBJECT:
                expand_object(pq_id, nodes[arena_id], score)
            elif kind == K_STRING:
                expand_string(pq_id, score)
            if next_id >= SAFETY_CAP:
                state["stopped"] = True
                break
        state["n"] = n_popped
        if n_popped >= limit:
            state["stopped"] = True
        po.total_nodes = next_id

    po.pump = pump
    po.pop_limit = limit
    if lazy:
        po.assignable_capped = count_assignable(a, max_string_graphemes,
                                                limit)
        po.total_nodes = next_id
    else:
        pump(limit)
    return po
