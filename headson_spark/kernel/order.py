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

`build_conversation_order` is the same lazy order for the one shape every
preview path renders, the transcript document {"turns": [{role, text,
tool}, ...]}, in closed form: the turns pop in tiers of equal array
distance, and within a tier the turn objects, then their leaves, then
their strings' parts round-robin by level. It builds no arena and no
heap, and a part exists only as its id in by_priority: each run of part
pops is one `part_spans` entry, which the budget search's length table
folds per string, not per part. `build_order` (with `count_assignable`)
stays the general builder: summarize*, fileset roots and conversations
whose ids could reach SAFETY_CAP go through it.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from heapq import heappush, heappop
from itertools import chain, islice

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
    # build_conversation_order only: the columns above are dicts keyed
    # by the ids of non-part nodes (a part is only its id in
    # by_priority), and each run of part pops is one span (start, end,
    # r, lvl0, string ids, first part ids): the pop at position i in
    # [start, end) is part lvl0 + (i - start) // r of string
    # (i - start) % r
    part_spans: list[tuple] = field(default_factory=list)
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


def _graphemes(s: str) -> tuple[int, list[int] | None]:
    """(grapheme count, break offsets) of a string value. Printable ASCII
    has no breaks list: one char is one grapheme, and the renderer slices
    it directly."""
    if s and ascii_printable(s):
        return len(s), None
    brks = grapheme_breaks(s) if s else [0]
    return len(brks) - 1, brks


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
                total += min(_graphemes(s)[0], max_string_graphemes)
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
        n_actual, po.breaks[pq_id] = _graphemes(po.value[pq_id] or "")
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


def _part_score_above_leaf(level: int) -> int:
    """Score of a string's part at `level` minus its string's score."""
    d = level - STRING_INDEX_INFLECTION
    return (STRING_CHILD_BASE_INCREMENT + level * STRING_CHILD_LINEAR_WEIGHT
            + (d * d * STRING_INDEX_QUADRATIC_WEIGHT if d > 0 else 0))


# build_conversation_order pops all of a tier's parts before the next
# tier's turns. That holds while a turn's last part (its leaf scores one
# above the turn) stays under one cubic step, for every string cap the
# closed form takes: a larger cap can assign SAFETY_CAP ids from one turn,
# and the builder hands such conversations to build_order. The api's
# DEFAULT_STRING_CAP (500) gives 1 + 1 + 499 + 479**2 = 229,942.
assert (OBJECT_CHILD_BASE_INCREMENT + _part_score_above_leaf(SAFETY_CAP // 3)
        < ARRAY_INDEX_CUBIC_WEIGHT)

_TURN_KEYS = ("role", "text", "tool")


def build_conversation_order(roles, texts, tools, kept: list[int],
                             total: int, max_string_graphemes: int,
                             prefer_tail_arrays: bool,
                             max_pops: int) -> PriorityOrder:
    """The lazy order of the transcript document {"turns": [{role, text,
    tool}, ...]} in closed form: equal to build_order(
    build_conversation_arena(roles, texts, tools, ...,
    pre_sampled_indices=kept, pre_sampled_total=total),
    max_string_graphemes, prefer_tail_arrays, max_pops, lazy=True) in
    by_priority after every pump, in assignable_capped and so in every
    budget search up to max_pops, without an arena, a heap or a row per
    string part. total_nodes counts the ids of the tiers reached so far.

    The heap's order on this shape: the root (id 0), "turns" (id 1), then
    the turn objects (ids 2..K+1) in tiers of equal array distance d
    (expand_array's head-mid-tail or tail rule), d ascending, and within a
    tier:
    - the tier's turn objects, by index;
    - their leaves (role, text, tool) in id order, a NULL field being the
      atomic `null`;
    - the parts of the tier's strings round-robin by level: all level-L
      parts score the same (base + 1 + L + max(0, L - 20)**2) and tie by
      id, which is string order.
    A phase is m whole levels over the r strings that reach all of them;
    it is emitted as one C-level chain over r id ranges and recorded in
    po.part_spans, which _LengthTable folds per run, not per part.

    A conversation whose ids could reach SAFETY_CAP takes build_order."""
    n_turns = len(roles)
    if 2 + n_turns * (4 + 3 * max_string_graphemes) >= SAFETY_CAP:
        a = ar.build_conversation_arena(roles, texts, tools, n_turns,
                                        pre_sampled_indices=kept,
                                        pre_sampled_total=total)
        return build_order(a, max_string_graphemes, prefer_tail_arrays,
                           max_pops, lazy=True)
    turn_ids = range(2, n_turns + 2)
    po = PriorityOrder()
    kind = po.kind = {0: K_OBJECT, 1: K_ARRAY}
    key = po.key = {0: None, 1: "turns"}
    value = po.value = {0: None, 1: None}
    parent = po.parent = {0: -1, 1: 0}
    children = po.children = {0: [1], 1: list(turn_ids)}
    po.orig_index = {0: None, 1: None}
    po.orig_index.update(zip(turn_ids, kept))
    total_len = po.total_len = {0: 1, 1: total}
    string_len = po.string_len = {}
    truncated = po.string_truncated = {}
    breaks = po.breaks = {}
    part_start = po.part_start = {}
    part_count = po.part_count = {}
    kind.update(dict.fromkeys(turn_ids, K_OBJECT))
    key.update(dict.fromkeys(turn_ids))
    value.update(dict.fromkeys(turn_ids))
    parent.update(dict.fromkeys(turn_ids, 1))
    total_len.update(dict.fromkeys(turn_ids, 3))
    fields = (roles, texts, tools)
    # (graphemes, breaks) per string: the id count and the tiers share it
    metrics: dict[str, tuple[int, list[int] | None]] = {}

    def measure(s: str) -> tuple[int, list[int] | None]:
        m = metrics.get(s)
        if m is None:
            m = metrics[s] = _graphemes(s)
        return m

    # count_assignable's value without the arena: one id per node plus
    # min(graphemes, cap) per string, exact below max_pops
    assignable = 2 + 4 * n_turns
    for s in chain(roles, texts, tools):
        if assignable >= max_pops:
            break
        if s is not None:
            assignable += min(measure(s)[0], max_string_graphemes)
    po.assignable_capped = min(assignable, max_pops)

    if prefer_tail_arrays:
        tiers = [[i] for i in range(n_turns - 1, -1, -1)]
    else:
        mid = max(n_turns - 1, 0) // 2
        dist = [min(i, n_turns - 1 - i, abs(i - mid))
                for i in range(n_turns)]
        by_dist: dict[int, list[int]] = {}
        for i in sorted(range(n_turns), key=dist.__getitem__):
            by_dist.setdefault(dist[i], []).append(i)
        tiers = list(by_dist.values())

    bp = po.by_priority
    spans = po.part_spans
    next_id = n_turns + 2

    def segments():
        """(ids, count) in pop order, one tier at a time; registers the
        tier's leaves, strings and part spans as it reaches them."""
        nonlocal next_id
        yield [0, 1], 2
        for tier in tiers:
            leaf0 = next_id
            strings = []
            for i in tier:
                tid = 2 + i
                children[tid] = [next_id, next_id + 1, next_id + 2]
                for f, col in enumerate(fields):
                    s = col[i]
                    lid = next_id
                    next_id += 1
                    key[lid] = _TURN_KEYS[f]
                    parent[lid] = tid
                    if s is None:
                        kind[lid] = K_ATOMIC
                        value[lid] = "null"
                    else:
                        kind[lid] = K_STRING
                        value[lid] = s
                        strings.append((lid, s))
            runs = []   # (string id, first part id, part count)
            for lid, s in strings:
                g, brks = measure(s)
                count = min(g, max_string_graphemes)
                string_len[lid] = count
                truncated[lid] = g > count
                breaks[lid] = brks
                if count:
                    part_start[lid] = next_id
                    part_count[lid] = count
                    runs.append((lid, next_id, count))
                    next_id += count
                else:
                    part_start[lid] = -1
                    part_count[lid] = 0
            yield [2 + i for i in tier], len(tier)
            yield range(leaf0, leaf0 + 3 * len(tier)), 3 * len(tier)
            lvl = 0
            for end in sorted({c for _, _, c in runs}):
                r = len(runs)
                start = len(bp)
                sids = [sid for sid, _, _ in runs]
                firsts = [p for _, p, _ in runs]
                spans.append((start, start + r * (end - lvl), r, lvl, sids,
                              firsts))
                yield (chain.from_iterable(zip(*[range(p + lvl, p + end)
                                                 for p in firsts])),
                       r * (end - lvl))
                lvl = end
                runs = [run for run in runs if run[2] > end]

    segs = segments()
    cur = [iter(()), 0]   # the segment being emitted, ids left in it

    def pump(target: int):
        """Extend by_priority to min(target, max_pops) pops or the end."""
        need = min(target, max_pops) - len(bp)
        while need > 0:
            if not cur[1]:
                seg = next(segs, None)
                if seg is None:
                    break
                cur[0], cur[1] = iter(seg[0]), seg[1]
            if cur[1] <= need:
                bp.extend(cur[0])
                need -= cur[1]
                cur[1] = 0
            else:
                bp.extend(islice(cur[0], need))
                cur[1] -= need
                need = 0
        po.total_nodes = next_id

    po.pump = pump
    po.pop_limit = max_pops
    po.total_nodes = next_id
    return po
