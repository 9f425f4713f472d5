"""Pin the reference's text + fileset snapshots
(/root/reference/tests/text_snapshots.rs, fileset_*.rs)."""

from __future__ import annotations

import re

from conftest import REFERENCE, requires_reference
from headson_spark.kernel import summarize, summarize_many

pytestmark = requires_reference

SNAP = REFERENCE / "tests" / "snapshots"
EXPLICIT = REFERENCE / "tests" / "fixtures" / "explicit"


def read_snap(name: str) -> str:
    raw = (SNAP / f"{name}.snap").read_text()
    return re.match(r"(?s)^---\n.*?\n---\n(.*)$", raw).group(1)


def norm(s: str) -> str:
    return s.rstrip("\n") + "\n"


def test_text_stdin_snapshot():
    # CLI: -i text -f text, stdin "a\r\nb\r\nc\r\n" (CRLF normalization)
    out = summarize(b"a\r\nb\r\nc\r\n", format="text", input_format="text")
    assert norm(out) == norm(read_snap("text_snapshots__text_stdin_snapshot"))


def test_fileset_text_files_snapshot():
    # CLI: -n 10000 -f auto a.txt b.log (per-file budget => effective 20000)
    out = summarize_many(
        [("a.txt", b"one\ntwo\n"), ("b.log", b"alpha\nbeta\n")],
        format="auto", input_format="text", per_input_budget=10000)
    assert norm(out) == norm(
        read_snap("text_snapshots__fileset_text_files_snapshot"))


def test_combined_limits_single_file_snapshot():
    # CLI: -n 80 -N 200 => effective 80 (tests/combined_limits.rs:57-66)
    p = EXPLICIT / "string_escaping.json"
    out = summarize(p.read_text(), format="json", style="default",
                    character_budget=80)
    assert norm(out) == norm(read_snap(
        "combined_limits__combined_limits_single_file_pseudo_min80"))


def test_combined_limits_min_semantics():
    # -n 300 -N 120 across two files == -N 120 (combined_limits.rs:46-56)
    p1 = EXPLICIT / "object_small.json"
    p2 = EXPLICIT / "array_numbers_50.json"
    inputs = [(str(p1), p1.read_text()), (str(p2), p2.read_text())]
    both = summarize_many(inputs, format="json", style="strict",
                          character_budget=120, per_input_budget=300)
    min_only = summarize_many(inputs, format="json", style="strict",
                              character_budget=120)
    assert both == min_only


def test_pseudo_fileset_headers_and_summary():
    p1 = EXPLICIT / "object_small.json"
    p2 = EXPLICIT / "array_numbers_50.json"
    out = summarize_many(
        [(str(p1), p1.read_text()), (str(p2), p2.read_text())],
        format="json", style="default", per_input_budget=100_000)
    assert "==> " in out
    small = summarize_many(
        [(str(p1), p1.read_text()), (str(p2), p2.read_text())],
        format="json", style="default", per_input_budget=25)
    assert "more files" in small or "…" in small
