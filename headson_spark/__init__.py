"""headson_spark — a PySpark-native streaming preview/analytics engine with
the query and data-processing capabilities of kantord/headson, re-expressed
Spark-first (DataFrame/SQL + Arrow-vectorized kernels + Structured
Streaming)."""

__version__ = "0.1.0"

import sys

# Every Python kernel's closure imports this package when a worker
# unpickles it, so this one call covers all of them; the driver is left
# alone (see _zipcache).
if "pyspark.worker" in sys.modules:
    from ._zipcache import install as _install_zipcache
    _install_zipcache()

from .kernel import summarize, summarize_value  # noqa: F401
