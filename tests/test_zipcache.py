"""The worker-side zipimporter patch (headson_spark/_zipcache.py): an
unchanged archive is not re-read by `importlib.invalidate_caches()`, a
rewritten one is, and only Python workers get the patch."""

from __future__ import annotations

import importlib
import json
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

from headson_spark import _zipcache

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

needs_eager_reread = pytest.mark.skipif(
    "_read_directory"
    not in _zipcache._stdlib_invalidate.__code__.co_names,
    reason="this CPython's zipimporter does not re-read eagerly")


def _write_zip(path, value: int) -> None:
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("zc_probe_mod.py", f"VALUE = {value!r}\n")


@pytest.fixture()
def fresh_patch(monkeypatch):
    """Run install() against the stdlib method and undo it afterwards, so
    this process (the test driver) is left unpatched."""
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        _zipcache._stdlib_invalidate)
    monkeypatch.setattr(_zipcache, "_read_at", {})
    yield
    sys.modules.pop("zc_probe_mod", None)


@needs_eager_reread
def test_unchanged_zip_is_not_reread_and_rewritten_zip_is(
        tmp_path, monkeypatch, fresh_patch):
    archive = str(tmp_path / "probe.zip")
    _write_zip(archive, 1)
    monkeypatch.syspath_prepend(archive)
    import zc_probe_mod
    assert zc_probe_mod.VALUE == 1

    reads = []
    real_read = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return real_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    assert _zipcache.install()
    assert _zipcache.install()  # idempotent
    assert reads.count(archive) == 1  # the one read that signs it
    for _ in range(5):
        importlib.invalidate_caches()
    assert reads.count(archive) == 1

    _write_zip(archive, 22)
    st = os.stat(archive)
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    importlib.invalidate_caches()
    assert reads.count(archive) == 2
    del sys.modules["zc_probe_mod"]
    import zc_probe_mod  # noqa: F811
    assert zc_probe_mod.VALUE == 22
    importlib.invalidate_caches()
    assert reads.count(archive) == 2


def test_install_leaves_a_lazy_stdlib_alone(monkeypatch, fresh_patch):
    def lazy(self):
        zipimport._zip_directory_cache.pop(self.archive, None)

    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", lazy)
    assert not _zipcache.install()
    assert zipimport.zipimporter.invalidate_caches is lazy


_SESSION_PROBE = textwrap.dedent("""
    import json, os, sys, zipimport
    from pyspark.sql import SparkSession

    def task(it):
        import headson_spark  # a kernel closure imports it on unpickle
        from headson_spark import _zipcache
        st = zipimport.__dict__.setdefault("_probe_reads", {})
        first = "n" not in st
        if first:
            st["n"] = 0
            real = zipimport._read_directory

            def counting(path):
                st["n"] += 1
                return real(path)
            zipimport._read_directory = counting
        reads, st["n"] = st["n"], 0
        zips = sum(isinstance(f, zipimport.zipimporter)
                   for f in sys.path_importer_cache.values())
        patched = (zipimport.zipimporter.invalidate_caches
                   is _zipcache._checked_invalidate_caches)
        yield os.getpid(), first, reads, zips, patched

    spark = (SparkSession.builder.master("local[2]")
             .config("spark.ui.enabled", "false").getOrCreate())
    sc = spark.sparkContext
    rows = []
    for _ in range(3):
        rows += sc.parallelize(range(8), 8).mapPartitions(task).collect()
    import headson_spark
    from headson_spark import _zipcache
    driver = {"worker_module": "pyspark.worker" in sys.modules,
              "patched": zipimport.zipimporter.invalidate_caches
              is _zipcache._checked_invalidate_caches}
    spark.stop()
    print(json.dumps({"rows": rows, "driver": driver}))
""")


@needs_eager_reread
def test_reused_workers_skip_directory_reads(tmp_path):
    """24 tasks over 3 jobs on local[2]: every task after a worker's first
    reads no zip directory, and the driver is not patched."""
    script = tmp_path / "probe.py"
    script.write_text(_SESSION_PROBE)
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p))
    out = subprocess.run([sys.executable, str(script)], cwd=REPO, env=env,
                         capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-2000:]
    got = json.loads(out.stdout.strip().splitlines()[-1])
    rows = got["rows"]
    assert len(rows) == 24
    later = [r for r in rows if not r[1]]
    assert len(later) >= 24 - 4, "workers were not reused"
    assert all(r[3] > 0 for r in rows), "no zipimporter in the worker"
    assert all(r[4] for r in rows), "worker not patched"
    assert [r[2] for r in later] == [0] * len(later)
    assert got["driver"] == {"worker_module": False, "patched": False}


_UNPICKLE_PROBE = textwrap.dedent("""
    import json, pickle, sys
    seen = {}
    for name, blob in pickle.loads(sys.stdin.buffer.read()).items():
        for m in [m for m in sys.modules if m.startswith("headson_spark")]:
            del sys.modules[m]
        pickle.loads(blob)
        seen[name] = "headson_spark" in sys.modules
    print(json.dumps(seen))
""")

# registry queries that run a Python kernel, one per kernel closure
_KERNEL_QUERIES = ("conv_preview", "lsh_pairs", "ngram_jaccard",
                   "emb_near_dup_banded", "rolling_fp", "multimodal_features",
                   "multimodal_audio_stats", "ivf_assign")


def test_every_python_kernel_imports_the_package_when_unpickled(
        spark, monkeypatch):
    """The patch is installed by importing headson_spark in a worker, so
    it reaches a kernel's tasks only if unpickling the kernel's closure
    imports the package. Checked for every closure the registry's Python
    kernels hand to Spark, the stateful streaming function and the window
    render UDF, each unpickled in a process where the package is not yet
    imported."""
    import pickle

    import __spark_entry__ as em
    from pyspark import cloudpickle
    from test_entry_correctness import SF_DIR
    from pyspark.sql.group import GroupedData

    from headson_spark.streaming.engine import make_bucketed_preview_fn
    from headson_spark.streaming.windows import make_presampled_render_udf

    blobs = {}

    def capture(cls, name):
        real = getattr(cls, name)

        def recording(self, fn, *args, **kw):
            blobs[f"{name}:{fn.__qualname__}"] = cloudpickle.dumps(fn)
            return real(self, fn, *args, **kw)
        monkeypatch.setattr(cls, name, recording)

    df_cls = type(spark.range(1))
    for cls, name in ((df_cls, "mapInPandas"), (df_cls, "mapInArrow"),
                      (GroupedData, "applyInPandas")):
        capture(cls, name)
    queries = em.queries()
    for q in _KERNEL_QUERIES:
        queries[q](spark, SF_DIR)
    blobs["stateful"] = cloudpickle.dumps(make_bucketed_preview_fn())
    blobs["window_udf"] = cloudpickle.dumps(make_presampled_render_udf().func)
    assert len(blobs) >= 10, sorted(blobs)

    env = dict(os.environ, PYTHONPATH=os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p))
    out = subprocess.run([sys.executable, "-c", _UNPICKLE_PROBE],
                         input=pickle.dumps(blobs), cwd="/", env=env,
                         capture_output=True, timeout=120)
    assert out.returncode == 0, out.stderr.decode()[-2000:]
    seen = json.loads(out.stdout)
    assert set(seen) == set(blobs)
    assert [k for k, v in seen.items() if not v] == []
