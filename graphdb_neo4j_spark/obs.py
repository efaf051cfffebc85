"""Observability helpers shared by the operators and the service.

:func:`job_label` names the Spark jobs a block submits (the event log and
the Spark UI show it as the job description), so a slow job can be tied
to the query, loop round or service call that started it.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import SparkSession


@contextmanager
def job_label(spark: SparkSession, text: str):
    """Label the jobs submitted inside the block, then restore the
    caller's description."""
    sc = spark.sparkContext
    prior = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(text)
    try:
        yield
    finally:
        sc.setJobDescription(prior)
