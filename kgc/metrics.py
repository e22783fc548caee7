"""C4/G9 — triple-count metrics.

The reference's observability is a mutex-guarded logger with doc/chunk
progress counters (internal/logger/logger.go:73-106).  The distributed
analog: a metrics *table* — triple counts per predicate and
distinct-subject cardinalities — cheap aggregates computed on the same
pass cache.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def triple_metrics(triples: DataFrame) -> DataFrame:
    """Per-predicate counts + distinct-subject estimates (G9).

    approx_count_distinct (HLL) keeps this a single pass at any scale;
    rsd 1% is plenty for QA dashboards.
    """
    return triples.groupBy("pred").agg(
        F.count(F.lit(1)).alias("n_triples"),
        F.approx_count_distinct("subj", 0.01).alias("approx_subjects"),
        F.approx_count_distinct("obj", 0.01).alias("approx_objects"),
    )
