"""Spark surface of the Layer A generator (SURVEY.md §2.1, §4.2).

Three generation paths, one schema:

- **exact** — driver NumPy (:mod:`core`), bit-compatible with the
  reference, wrapped in ``createDataFrame``. The golden-test path;
  right whenever one logical stream must match the reference
  draw-for-draw (reference ``eventstream.py:288-409``).
- **sharded** — the 100 TB path: S independent sub-streams, each
  generated sequentially inside one ``applyInPandas`` task with a
  SeedSequence-spawned RNG. Embarrassingly parallel (the only shuffle
  is the `spark.range(S)` groupBy, S rows); per-shard throughput is
  the reference's single-core rate, so total rate scales with cores.
  Shard streams preserve every distributional invariant (ratio,
  interval laws, contiguous patterns, density profile) but are not
  the reference's single global sequence — SURVEY §4.2.
- **cached** — either path materialized to parquet keyed by
  md5(config) — the reference's pickle-cache semantics
  (``eventstream.py:249-284``) re-expressed as a warehouse table.

Export surface mirrors A9-A11: ``to_numpy`` ([N,3] int array, bool
upcast — ``eventstream.py:413-415``), ``write_csv`` (header
``timestamp,event_type,is_pattern``, ints — ``:417-427``),
``stream_iter`` (ordered row generator — ``:429-432``).
"""

from __future__ import annotations

import dataclasses
import os
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from eventstream_benchmark_spark.generator import core
from eventstream_benchmark_spark.generator.config import PatternConfig, StreamConfig, cache_key

PATTERN_SCHEMA = StructType(
    [
        StructField("pattern_id", IntegerType(), nullable=False),
        StructField("types", ArrayType(IntegerType(), containsNull=False), nullable=False),
        StructField("gaps", ArrayType(IntegerType(), containsNull=False), nullable=False),
    ]
)

# event_id carries the total order (timestamps tie at random->pattern
# boundaries — SURVEY §1.2); shard identifies the independent sub-stream
# (always 0 in exact mode).
STREAM_SCHEMA = StructType(
    [
        StructField("event_id", LongType(), nullable=False),
        StructField("shard", IntegerType(), nullable=False),
        StructField("ts", LongType(), nullable=False),
        StructField("event_type", IntegerType(), nullable=False),
        StructField("is_pattern", BooleanType(), nullable=False),
    ]
)


def patterns_df(spark: SparkSession, pcfg: PatternConfig) -> DataFrame:
    """PatternSet as a (broadcastable) DataFrame — A5/A6. Pattern sets
    are n_patterns × L ints, always tiny; generated driver-side for
    exact reference parity, then parallelized."""
    types, gaps = core.build_patterns(pcfg)
    rows = [
        (pid, [int(x) for x in types[pid]], [int(x) for x in gaps[pid]])
        for pid in range(pcfg.n_patterns)
    ]
    return spark.createDataFrame(rows, PATTERN_SCHEMA)


def _arrays_to_pdf(ts: np.ndarray, ty: np.ndarray, label: np.ndarray,
                   shard: int, id_offset: int) -> pd.DataFrame:
    n = ts.shape[0]
    return pd.DataFrame(
        {
            "event_id": np.arange(id_offset, id_offset + n, dtype=np.int64),
            "shard": np.full(n, shard, dtype=np.int32),
            "ts": ts,
            "event_type": ty,
            "is_pattern": label,
        }
    )


def stream_df_exact(spark: SparkSession, pcfg: PatternConfig, scfg: StreamConfig) -> DataFrame:
    """Exact-parity stream: single driver-NumPy sequence, identical to
    the reference for the same config (golden-tested)."""
    types, gaps = core.build_patterns(pcfg)
    ts, ty, label = core.build_stream(scfg, types, gaps)
    return spark.createDataFrame(_arrays_to_pdf(ts, ty, label, shard=0, id_offset=0), STREAM_SCHEMA)


def stream_df_sharded(
    spark: SparkSession,
    pcfg: PatternConfig | None,
    scfg: StreamConfig,
    n_shards: int = 32,
    pattern_arrays: tuple[np.ndarray, np.ndarray] | None = None,
) -> DataFrame:
    """Scale-mode stream: ``n_shards`` independent sub-streams, each a
    sequential NumPy generation inside one ``applyInPandas`` task.

    Pattern matrices are built once on the driver and shipped in the
    task closure (tiny). Each shard gets a SeedSequence-spawned RNG —
    deterministic, non-overlapping — and its own event-id range
    ``[shard * ceil(N/S), ...)`` so (shard, event_id) is a total order
    aligned with each shard's timeline.
    """
    if pattern_arrays is not None:
        types, gaps = pattern_arrays  # compat facade: user-supplied PatternSet
    else:
        types, gaps = core.build_patterns(pcfg)
    sizes = core.shard_sizes(scfg.total_events, n_shards)
    stride = -(-scfg.total_events // n_shards)  # ceil
    cfg = scfg

    def gen_one(pdf: pd.DataFrame) -> pd.DataFrame:
        shard = int(pdf["shard"].iloc[0])
        n_events = sizes[shard]
        if n_events == 0:
            return _arrays_to_pdf(
                np.empty(0, np.int64), np.empty(0, np.int32), np.empty(0, bool), shard, 0
            )
        shard_cfg = dataclasses.replace(cfg, total_events=n_events)
        rng = core.shard_rng(cfg.seed, shard)
        # fast path: same laws/schedule/clamps, batched draws (§4.2
        # scale-mode fidelity is distributional, not draw-for-draw)
        ts, ty, label = core.build_stream_fast(shard_cfg, types, gaps, rng=rng)
        return _arrays_to_pdf(ts, ty, label, shard, id_offset=shard * stride)

    shards = spark.range(n_shards).select(F.col("id").cast("int").alias("shard"))
    return shards.repartition(n_shards, "shard").groupBy("shard").applyInPandas(
        gen_one, STREAM_SCHEMA
    )


def stream_df_cached(
    spark: SparkSession,
    pcfg: PatternConfig,
    scfg: StreamConfig,
    cache_dir: str,
    mode: str = "exact",
    n_shards: int = 32,
    regenerate: bool = False,
) -> DataFrame:
    """Config-hash parquet materialization — A7's cache re-expressed.

    ``mode('ignore')`` gives the write-through-once semantics: first
    call generates + writes ``stream_<md5>.parquet``, later calls with
    the same config read the materialization (unless ``regenerate``).
    The path carries the shard count in sharded mode — shard layout
    changes the emitted stream, so it is part of the cache identity.
    """
    variant = mode if mode == "exact" else f"{mode}{n_shards}"
    path = os.path.join(cache_dir, f"stream_{cache_key(pcfg, scfg)}-{variant}.parquet")
    if regenerate or not os.path.exists(path):
        df = (
            stream_df_exact(spark, pcfg, scfg)
            if mode == "exact"
            else stream_df_sharded(spark, pcfg, scfg, n_shards)
        )
        df.write.mode("overwrite" if regenerate else "ignore").parquet(path)
    return spark.read.parquet(path)


def to_numpy(df: DataFrame) -> np.ndarray:
    """A9's ``[N, 3]`` int array (reference ``eventstream.py:413-415``):
    columns ``(timestamp, event_type, is_pattern)`` in stream order,
    the bool label upcast to int exactly as ``np.stack`` does in the
    reference. Driver-side materialization — test/demo scale only, like
    the reference's own ``to_numpy``."""
    pdf = (
        df.orderBy("shard", "event_id")
        .select("ts", "event_type", F.col("is_pattern").cast("long"))
        .toPandas()
    )
    return pdf.to_numpy(dtype=np.int64)


def write_csv(df: DataFrame, path: str) -> None:
    """CSV sink with the reference's header and %d value formatting
    (``eventstream.py:417-427``): one ordered file, bool as 0/1.
    Writes a Spark output DIRECTORY at ``path`` (part file +
    ``_SUCCESS``); ``write_csv_file`` below delivers the reference's
    single-file contract."""
    (
        df.orderBy("shard", "event_id")
        .select(
            F.col("ts").alias("timestamp"),
            F.col("event_type"),
            F.col("is_pattern").cast("int").alias("is_pattern"),
        )
        .coalesce(1)
        .write.mode("overwrite")
        .option("header", True)
        .csv(path)
    )


def write_csv_file(df: DataFrame, path: str) -> None:
    """The reference's single-CSV-file semantics on top of the Spark
    sink: write the coalesced directory next to ``path``, then move
    the one part file INTO ``path`` — so a drop-in caller gets exactly
    the file the reference API would have written."""
    import glob
    import shutil

    tmp = path + ".__spark_csv_tmp__"
    write_csv(df, tmp)
    part = glob.glob(os.path.join(tmp, "part-*.csv"))[0]
    os.replace(part, path)
    shutil.rmtree(tmp)


def stream_iter(df: DataFrame) -> Iterator[tuple[int, int, bool]]:
    """A11's pull-based one-event-at-a-time iterator
    (``eventstream.py:429-432``): ordered ``toLocalIterator`` so the
    consumer loop (``main.py:44-46``) works unchanged against Spark."""
    for row in df.orderBy("shard", "event_id").select("ts", "event_type", "is_pattern").toLocalIterator():
        yield int(row.ts), int(row.event_type), bool(row.is_pattern)
