"""Query plan registry.

Importing this package registers every declared query.  ``__spark_entry__``
reads :data:`REGISTRY` to build its ``queries()`` / ``oracle_sql()`` maps.
"""

from eecs485_p4_mapreduce_spark.plans.registry import REGISTRY, QuerySpec, query

# Import for side effect: each operators module registers its queries.
from eecs485_p4_mapreduce_spark.operators import (  # noqa: F401
    analytics,
    corpus,
    dedup,
    graph,
    joins,
    linalg,
    mixing,
    multimodal,
    pii,
    pipeline,
    relational,
    relational2,
    relational3,
    relational4,
    relational5,
    relational6,
    relational7,
    relational8,
    sampling,
    search,
    semdedup,
    similarity,
    sourcesink,
    text,
    timeseries,
    timeseries2,
    textstats,
    udx,
    windows,
)
from eecs485_p4_mapreduce_spark.operators import mapreduce  # noqa: F401
from eecs485_p4_mapreduce_spark import streaming  # noqa: F401

__all__ = ["REGISTRY", "QuerySpec", "query"]
