"""Generate tests/fixtures/golden_previews.json — the FIXTURES.md §3
golden matrix: per-conversation previews across budgets × styles × skews,
produced by the kernel (which is byte-verified against the reference's
own snapshot corpus) and committed as regression pins.

Two families of pins:
- `conversations()` × STYLES × SKEWS × BUDGETS through `summarize_value`
  (the json-family templates), keyed `{conv_id}__{style}__{skew}__n{b}`;
- `fallback_cases()`: one conversation per tag through `summarize` with
  the yaml template (JSON input) and the text template (CRLF-joined turn
  texts as text input), keyed `{conv_id}__{format}__{style}__{skew}__n{b}`.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pandas as pd

from headson_spark.kernel import summarize, summarize_value
from headson_spark.sources.transcripts import generate_rows

BUDGETS = [0, 1, 10, 100, 250, 500, 1000, 10000]
STYLES = ["strict", "default", "detailed"]
SKEWS = ["balanced", "head", "tail"]
TAGS = ["plain", "uni", "esc", "big", "long", "empty"]
CONVS_PER_TAG = 2
FALLBACK_FORMATS = ["yaml", "text"]
FALLBACK_BUDGETS = [0, 100, 500, 10000]


def conversations():
    cols = generate_rows(0.01, tags=TAGS)
    pdf = pd.DataFrame({k: cols[k] for k in
                        ("conv_id", "turn_idx", "role", "text", "tool")})
    for tag in TAGS:
        sub = pdf[pdf.conv_id.str.startswith(f"c{tag}_")]
        for conv_id in sorted(sub.conv_id.unique())[:CONVS_PER_TAG]:
            grp = sub[sub.conv_id == conv_id].sort_values("turn_idx")
            doc = {"turns": [
                {"role": r, "text": t, "tool": tl}
                for r, t, tl in zip(grp.role, grp.text, grp.tool)]}
            yield conv_id, doc


def fallback_input(doc: dict, fmt: str) -> tuple[str, str]:
    """(input text, input_format) for a yaml or text template pin."""
    if fmt == "yaml":
        return json.dumps(doc, ensure_ascii=False), "json"
    return "\r\n".join(t["text"] or "" for t in doc["turns"]), "text"


def fallback_cases():
    """(key, text, format, input_format, style, skew, budget) for the
    yaml and text template pins: the first conversation of each tag."""
    seen = set()
    for conv_id, doc in conversations():
        tag = conv_id.split("_")[0]
        if tag in seen:
            continue
        seen.add(tag)
        for fmt in FALLBACK_FORMATS:
            text, input_format = fallback_input(doc, fmt)
            for style in STYLES:
                for skew in SKEWS:
                    for budget in FALLBACK_BUDGETS:
                        key = f"{conv_id}__{fmt}__{style}__{skew}__n{budget}"
                        yield (key, text, fmt, input_format, style, skew,
                               budget)


def main():
    out = {}
    for conv_id, doc in conversations():
        for style in STYLES:
            for skew in SKEWS:
                for budget in BUDGETS:
                    key = f"{conv_id}__{style}__{skew}__n{budget}"
                    out[key] = summarize_value(
                        doc, format="json", style=style,
                        character_budget=budget, skew=skew)
    for key, text, fmt, input_format, style, skew, budget in \
            fallback_cases():
        out[key] = summarize(text, format=fmt, style=style,
                             character_budget=budget, skew=skew,
                             input_format=input_format)
    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "tests", "fixtures",
        "golden_previews.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(out, f, ensure_ascii=False, indent=1, sort_keys=True)
    print(f"wrote {path}: {len(out)} golden previews")


if __name__ == "__main__":
    main()
