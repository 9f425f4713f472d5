"""Plan inspection helpers: assert the physical plan has the shape we
designed for (pushed filters, broadcast joins, single shuffle)."""

from __future__ import annotations


def formatted_plan(df) -> str:
    import contextlib
    import io
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def count_exchanges(df) -> int:
    import re
    # count operator entries "(N) Exchange" in the detail section only
    return len(re.findall(r"^\(\d+\) Exchange", formatted_plan(df),
                          flags=re.MULTILINE))


def has_broadcast_join(df) -> bool:
    return "BroadcastHashJoin" in formatted_plan(df)
