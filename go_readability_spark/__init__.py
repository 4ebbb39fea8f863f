"""go_readability_spark — PySpark-native main-content extraction engine.

Layout:
- ``readability/``: pure-Python per-document extraction core (no Spark
  imports; ship via --py-files).
- ``spans``/``corpus``: the span codec (golden invariant) and the
  deterministic interleaved corpus generator.
- ``sources/``: table loaders, executor-side corpus build, native
  reshaping into the north-rule spans schema.
- ``operators/``: extraction UDF (mapInArrow), render sinks, dedup,
  similarity search, text analysis, multimodal plumbing, relational ops.
- ``functions/``: paired Spark-Column + DuckDB-SQL formula builders.
- ``plans/``: session, skew handling, checkpoint/resume.
- ``streaming/``: Structured Streaming wrappers.
- ``queries``: the (query, oracle) registry behind __spark_entry__.

Spark-free imports (``readability``, ``spans``, ``corpus``) work without
pyspark installed; everything else needs a Spark runtime.
"""

__version__ = "0.1.0"

# Spark-free surface, safe to import eagerly
from .corpus import generate_corpus, generate_doc  # noqa: F401
from .spans import element_to_spans, spans_to_html  # noqa: F401


def __getattr__(name):
    """Lazy re-exports of the Spark-dependent surface."""
    if name in ("extract_documents", "metrics_rollup"):
        from .operators import extract as _m

        return getattr(_m, name)
    if name in ("corpus_df", "documents_as_spans_df", "load_table"):
        from .sources import tables as _m

        return getattr(_m, name)
    if name in ("get_spark",):
        from .plans.session import get_spark

        return get_spark
    if name in ("queries", "oracle_sql"):
        from . import queries as _m

        return getattr(_m, name)
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
