"""The session get_spark builds fits its host and its Python workers
import this package whatever the driver's working directory."""

from __future__ import annotations

import os

import xova_spark


def test_session_heap_fits_the_host(spark):
    """The default driver heap is no larger than physical memory: a
    larger one lets a long-lived session grow until the host kills it."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert spark._jvm.java.lang.Runtime.getRuntime().maxMemory() <= phys


def test_python_workers_see_the_package(spark):
    """Python workers get the package's parent directory on their
    PYTHONPATH, not only the driver's sys.path."""
    import pandas as pd

    def worker_path(batches):
        for _ in batches:
            yield pd.DataFrame({"p": [os.environ.get("PYTHONPATH", "")]})

    (row,) = spark.range(1, numPartitions=1).mapInPandas(worker_path, "p string").collect()
    root = os.path.dirname(os.path.dirname(os.path.abspath(xova_spark.__file__)))
    assert root in row["p"].split(os.pathsep)
