"""Byte-equality against the committed golden preview matrix
(FIXTURES.md §3): budgets × styles × skews over the fixture conversations.
Regenerate with scripts/gen_golden_previews.py ONLY when a semantic
change is intended — any diff is a kernel behavior change."""

from __future__ import annotations

import json
from pathlib import Path

import pytest

from scripts.gen_golden_previews import (conversations, fallback_cases,
                                         fileset_cases, shape_cases,
                                         BUDGETS, STYLES, SKEWS)
from headson_spark.kernel import summarize, summarize_many, summarize_value

GOLDEN = json.loads(
    (Path(__file__).parent / "fixtures" / "golden_previews.json")
    .read_text())


def all_cases():
    for conv_id, doc in conversations():
        for style in STYLES:
            for skew in SKEWS:
                for budget in BUDGETS:
                    yield conv_id, doc, style, skew, budget


CASES = list(all_cases())
FALLBACK_CASES = list(fallback_cases())
FILESET_CASES = list(fileset_cases())
SHAPE_CASES = list(shape_cases())


@pytest.mark.parametrize(
    "conv_id,doc,style,skew,budget", CASES,
    ids=[f"{c}-{s}-{k}-n{b}" for c, _, s, k, b in CASES])
def test_golden_preview(conv_id, doc, style, skew, budget):
    key = f"{conv_id}__{style}__{skew}__n{budget}"
    got = summarize_value(doc, format="json", style=style,
                          character_budget=budget, skew=skew)
    assert got == GOLDEN[key], key


@pytest.mark.parametrize(
    "key,text,fmt,input_format,style,skew,budget", FALLBACK_CASES,
    ids=[c[0] for c in FALLBACK_CASES])
def test_golden_fallback_preview(key, text, fmt, input_format, style, skew,
                                 budget):
    """The yaml and text templates (render-per-probe budget search)."""
    got = summarize(text, format=fmt, style=style, character_budget=budget,
                    skew=skew, input_format=input_format)
    assert got == GOLDEN[key], key


@pytest.mark.parametrize(
    "key,inputs,style,skew,budget", FILESET_CASES,
    ids=[c[0] for c in FILESET_CASES])
def test_golden_fileset_preview(key, inputs, style, skew, budget):
    """Fileset roots (the auto template, ingest by file extension), whose
    budget search renders every probe."""
    got = summarize_many(inputs, format="auto", style=style,
                         character_budget=budget, skew=skew,
                         input_format="auto")
    assert got == GOLDEN[key], key


@pytest.mark.parametrize(
    "key,text,fmt,input_format,style,skew,budget", SHAPE_CASES,
    ids=[c[0] for c in SHAPE_CASES])
def test_golden_shape_preview(key, text, fmt, input_format, style, skew,
                              budget):
    """Empty and one-item arrays, an object holding an empty array, and
    yaml flow sequences."""
    got = summarize(text, format=fmt, style=style, character_budget=budget,
                    skew=skew, input_format=input_format)
    assert got == GOLDEN[key], key


def test_matrix_complete():
    assert len(CASES) == 864 and len(FALLBACK_CASES) == 432
    assert len(FILESET_CASES) == 324 and len(SHAPE_CASES) == 288
    assert len(GOLDEN) == (len(CASES) + len(FALLBACK_CASES)
                           + len(FILESET_CASES) + len(SHAPE_CASES)) == 1908


@pytest.mark.parametrize("skew", SKEWS)
@pytest.mark.parametrize("field", ["role", "text", "tool"])
def test_render_conversation_null_field_matches_value_arena(field, skew):
    """The conversation arena renders a NULL role, text or tool as the
    value arena does (a JSON null), fed the shown turns and their
    positions."""
    from headson_spark.kernel.api import make_configs, render_conversation
    from headson_spark.kernel.arena import sample_indices
    turns = [{"role": "user", "text": f"turn {i}", "tool": "t"}
             for i in range(300)]  # more than the cap of 250
    for t in turns[::2]:
        t[field] = None
    cfg, prio, budget = make_configs(format="json", style="detailed",
                                     character_budget=500, skew=skew)
    want = summarize_value({"turns": turns}, format="json",
                           style="detailed", character_budget=500, skew=skew)
    assert "null" in want
    cols = [[t[k] for t in turns] for k in ("role", "text", "tool")]
    kept = sample_indices(skew, prio["array_max_items"], len(turns))
    picked = [[c[i] for i in kept] for c in cols]
    assert render_conversation(*picked, cfg, prio, budget, kept=kept,
                               total=len(turns)) == want
