"""Layer A: Spark-native recreation of the reference generator.

Public API (mirrors the reference surface, Spark-first):

- :class:`PatternConfig` / :class:`StreamConfig` — the reference's
  parameter vocabulary as config objects.
- :func:`patterns_df` — A5/A6 pattern set as a broadcastable DataFrame.
- :func:`stream_df_exact` — bit-compatible single stream (golden path).
- :func:`stream_df_sharded` — the parallel 100 TB path.
- :func:`stream_df_cached` — A7 config-hash materialization.
- :func:`to_numpy` / :func:`write_csv` / :func:`stream_iter` — A9-A11 export surface.
- :mod:`compat` — drop-in ``generate_patterns`` / ``PatternSet`` /
  ``EventStream`` with the reference's exact signatures and defaults
  (bit-identical output in exact mode); a reference user switches by
  changing one import.
"""

from eventstream_benchmark_spark.generator.config import (
    PatternConfig,
    StreamConfig,
    cache_key,
)
from eventstream_benchmark_spark.generator.spark_gen import (
    PATTERN_SCHEMA,
    STREAM_SCHEMA,
    patterns_df,
    stream_df_cached,
    stream_df_exact,
    stream_df_sharded,
    stream_iter,
    to_numpy,
    write_csv,
)

__all__ = [
    "PatternConfig",
    "StreamConfig",
    "cache_key",
    "PATTERN_SCHEMA",
    "STREAM_SCHEMA",
    "patterns_df",
    "stream_df_cached",
    "stream_df_exact",
    "stream_df_sharded",
    "stream_iter",
    "to_numpy",
    "write_csv",
]
