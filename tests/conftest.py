from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# The reference implementation's checkout: its snapshot corpus, explicit
# and parametric fixtures, JSONTestSuite and yaml-test-suite. Every test
# that reads it is gated on REF_AVAILABLE and, without it, skips with
# REF_SKIP_REASON; the in-repo golden pins carry the byte gate then.
REFERENCE = Path("/root/reference")
REF_AVAILABLE = REFERENCE.is_dir()
REF_SKIP_REASON = f"reference checkout not found at {REFERENCE}"
requires_reference = pytest.mark.skipif(not REF_AVAILABLE,
                                        reason=REF_SKIP_REASON)


def reference_cases(cases: list, argnames: str) -> list:
    """Parameters read from the reference checkout. Without it, one
    explicitly skipped case, so the test is reported rather than
    collecting zero cases."""
    if REF_AVAILABLE:
        return cases
    width = len(argnames.split(","))
    return [pytest.param(*[None] * width, id="no-reference",
                         marks=requires_reference)]


def pytest_terminal_summary(terminalreporter):
    n = sum(REF_SKIP_REASON in str(r.longrepr)
            for r in terminalreporter.stats.get("skipped", []))
    if n:
        terminalreporter.write_line(f"{n} skipped: {REF_SKIP_REASON}")


def write_stream_file(path, pdf) -> None:
    """Write `pdf` as one parquet file of a file-stream source, with an
    mtime 1 s after the newest file already in its directory.

    Spark's file source replays files in mtime order, and files written
    within the same second come back in listing order, so a test that
    writes its source files back to back would otherwise see them
    replayed in arbitrary order."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    path = str(path)
    d = os.path.dirname(path)
    prev = [os.stat(os.path.join(d, n)).st_mtime_ns for n in os.listdir(d)]
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path)
    if prev:
        t = max(prev) + 10**9
        os.utime(path, ns=(t, t))


@pytest.fixture(scope="session")
def spark():
    from headson_spark.session import get_spark
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    s = get_spark("headson_spark_tests", master="local[8]",
                  shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def transcripts_path(tmp_path_factory):
    from headson_spark.sources.transcripts import write_transcripts
    p = tmp_path_factory.mktemp("data") / "transcripts_sf001.parquet"
    return write_transcripts(str(p), sf=0.001)
