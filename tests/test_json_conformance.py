"""JSONTestSuite conformance (SURVEY.md §5.4): every vendored n_* case
must be rejected, every y_* case accepted — mirroring the reference's
simd-json parser behavior on its own corpus."""

from __future__ import annotations

import glob

import pytest

from conftest import REFERENCE, reference_cases, requires_reference
from headson_spark.kernel import summarize

DIR = REFERENCE / "tests/fixtures/json/JSONTestSuite/test_parsing"
N_FILES = sorted(glob.glob(f"{DIR}/n_*.json"))
Y_FILES = sorted(glob.glob(f"{DIR}/y_*.json"))


def _cases(paths):
    return reference_cases(
        [pytest.param(p, id=p.rsplit("/", 1)[-1]) for p in paths], "path")


@pytest.mark.parametrize("path", _cases(N_FILES))
def test_malformed_json_rejected(path):
    data = open(path, "rb").read()
    with pytest.raises(Exception):
        summarize(data, character_budget=100)


@pytest.mark.parametrize("path", _cases(Y_FILES))
def test_valid_json_accepted(path):
    data = open(path, "rb").read()
    out = summarize(data, character_budget=10000)
    assert isinstance(out, str)


@requires_reference
def test_corpus_present():
    assert len(N_FILES) >= 180 and len(Y_FILES) >= 90
