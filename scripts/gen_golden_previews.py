"""Generate tests/fixtures/golden_previews.json — the FIXTURES.md §3
golden matrix: per-conversation previews across budgets × styles × skews,
produced by the kernel (which is byte-verified against the reference's
own snapshot corpus) and committed as regression pins.

Two families of pins:
- `conversations()` × STYLES × SKEWS × BUDGETS through `summarize_value`
  (the json-family templates), keyed `{conv_id}__{style}__{skew}__n{b}`;
- `fallback_cases()`: one conversation per tag through `summarize` with
  the yaml template (JSON input) and the text template (CRLF-joined turn
  texts as text input), keyed `{conv_id}__{format}__{style}__{skew}__n{b}`;
- `fileset_cases()`: two-file filesets through `summarize_many` with the
  auto template and ingest picked from the file extensions (`.json`,
  `.yaml`, `.txt`), keyed `fileset__{name}__{ingest}__{style}__{skew}__n{b}`;
- `shape_cases()`: small documents (an empty array, a one-item array, an
  object holding an empty array, yaml flow sequences) through `summarize`
  with the json-family and yaml templates, keyed
  `shape__{name}__{format}__{style}__{skew}__n{b}`.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pandas as pd

from headson_spark.kernel import summarize, summarize_many, summarize_value
from headson_spark.sources.transcripts import generate_rows

BUDGETS = [0, 1, 10, 100, 250, 500, 1000, 10000]
STYLES = ["strict", "default", "detailed"]
SKEWS = ["balanced", "head", "tail"]
TAGS = ["plain", "uni", "esc", "big", "long", "empty"]
CONVS_PER_TAG = 2
FALLBACK_FORMATS = ["yaml", "text"]
FALLBACK_BUDGETS = [0, 100, 500, 10000]
FILESET_INGESTS = {"json": ".json", "yaml": ".yaml", "text": ".txt"}
FILESET_TAG_PAIRS = [("plain", "uni"), ("esc", "big"), ("long", "empty")]
SHAPES = [
    ("empty_array", "[]", "json"),
    ("one_item_array", '["only"]', "json"),
    ("object_empty_array", '{"items": []}', "json"),
    ("yaml_inline_arrays", "tags: [a, b, c]\nnone: []\nnested: {k: [1, 2]}\n",
     "yaml"),
]
SHAPE_FORMATS = ["json", "yaml"]
SHAPE_BUDGETS = [0, 1, 10, 500]


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


def yaml_doc(doc: dict) -> str:
    """A turns document as block-style YAML, scalars written as JSON
    (valid YAML double-quoted scalars) and an empty list inline."""
    if not doc["turns"]:
        return "turns: []\n"
    lines = ["turns:"]
    for t in doc["turns"]:
        for j, k in enumerate(("role", "text", "tool")):
            lead = "- " if j == 0 else "  "
            lines.append(f"{lead}{k}: {json.dumps(t[k], ensure_ascii=False)}")
    return "\n".join(lines) + "\n"


def fileset_payload(doc: dict, ingest: str) -> str:
    if ingest == "json":
        return json.dumps(doc, ensure_ascii=False)
    if ingest == "yaml":
        return yaml_doc(doc)
    return fallback_input(doc, "text")[0]


def fileset_cases():
    """(key, inputs, style, skew, budget) for the fileset pins: for each
    tag pair, the first conversation of each tag as one file."""
    first = {}
    for conv_id, doc in conversations():
        first.setdefault(conv_id.split("_")[0][1:], (conv_id, doc))
    for tags in FILESET_TAG_PAIRS:
        name = "_".join(tags)
        for ingest, ext in FILESET_INGESTS.items():
            inputs = [(first[t][0] + ext, fileset_payload(first[t][1], ingest))
                      for t in tags]
            for style in STYLES:
                for skew in SKEWS:
                    for budget in FALLBACK_BUDGETS:
                        key = (f"fileset__{name}__{ingest}__{style}__{skew}"
                               f"__n{budget}")
                        yield key, inputs, style, skew, budget


def shape_cases():
    """(key, text, format, input_format, style, skew, budget) for the
    small-shape pins."""
    for name, text, input_format in SHAPES:
        for fmt in SHAPE_FORMATS:
            for style in STYLES:
                for skew in SKEWS:
                    for budget in SHAPE_BUDGETS:
                        key = (f"shape__{name}__{fmt}__{style}__{skew}"
                               f"__n{budget}")
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
    for key, inputs, style, skew, budget in fileset_cases():
        out[key] = summarize_many(inputs, format="auto", style=style,
                                  character_budget=budget, skew=skew,
                                  input_format="auto")
    for key, text, fmt, input_format, style, skew, budget in shape_cases():
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
