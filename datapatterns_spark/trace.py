"""Job names.

A phase is a named stretch of the library's work.  Every Spark job
submitted inside :func:`phase` carries the name twice: as its
description (``spark.job.description``, shown by the Spark UI and the
event log's job-start properties) and as the ``dp.phase`` local
property, which a listener can read without parsing descriptions.
"""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import SparkSession

PHASE_KEY = "dp.phase"
_KEYS = ("spark.job.description", PHASE_KEY)


@contextmanager
def phase(spark: SparkSession, name: str) -> Iterator[None]:
    """Name every job this thread submits inside the block ``name``;
    restore both properties on exit."""
    sc = spark.sparkContext
    old = [sc.getLocalProperty(k) for k in _KEYS]
    for k in _KEYS:
        sc.setLocalProperty(k, name)
    try:
        yield
    finally:
        for k, v in zip(_KEYS, old):
            sc.setLocalProperty(k, v)
