"""Query registry — the single source of truth for the declared inventory.

Every operator in SURVEY.md §2B registers itself here via the ``@query``
decorator; ``__spark_entry__.py`` re-exports ``QUERIES`` / ``ORACLE``
verbatim. Keys registered with ``oracle=None`` get the driver's weaker
rows-only check (reserved for genuinely non-SQL-expressible ops).
"""

from __future__ import annotations

import functools
from collections.abc import Callable
from typing import Any

from spark_clustering_spark.io import query_scope

QUERIES: dict[str, Callable[..., Any]] = {}
ORACLE: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    """Register ``fn(spark, sf_dir) -> DataFrame`` under ``name``.

    ``oracle`` is the equivalent DuckDB SQL over the pre-registered views
    (region nation customer supplier part orders lineitem events
    documents embeddings). Column names/aliases MUST match the Spark
    result — the driver sorts columns by name before value-hashing.
    Each call runs in ``io.query_scope``, which owns the frames it pins.
    """

    def deco(fn):
        @functools.wraps(fn)
        def scoped(*args, **kwargs):
            with query_scope():
                return fn(*args, **kwargs)

        QUERIES[name] = scoped
        if oracle is not None:
            ORACLE[name] = oracle.strip()
        return scoped

    return deco


def load_all_queries() -> None:
    """Import every module that registers queries (idempotent)."""
    from spark_clustering_spark.operators import (  # noqa: F401
        aggregates,
        clustering,
        filters,
        graph,
        joins,
        olap,
        scalars,
        scans,
        setops,
        spatial,
        timeseries,
        vectors,
        windows,
    )
    from spark_clustering_spark.ml import fits  # noqa: F401
    from spark_clustering_spark.sources import bucketed  # noqa: F401
    from spark_clustering_spark.sources import multimodal  # noqa: F401
    from spark_clustering_spark.pipeline import (  # noqa: F401
        chunking,
        dedup,
        quality,
        sampling,
        similarity,
        textstats,
    )
    from spark_clustering_spark.streaming import stateful  # noqa: F401
    from spark_clustering_spark.streaming import windows as stream_windows  # noqa: F401
