"""The benchmark's workloads: the inputs each one builds from its seed, the
operations it times, and how each operation's output is checked.

- ``generate``: the paper's canonical generator config with the run's seed,
  through every generation and export path. Generator kernels, the
  ``applyInPandas`` Arrow boundary and the sinks do the work; ``io``,
  ``operators`` and ``streaming`` sit idle.
- ``analytics``: a query mix over the seed-42 sf0.01 fixture tables whose
  rows the run's seed permutes. Scans, shuffles, windows and a pandas-UDF
  query do the work; the generator sits idle.
- ``stream``: three ``streaming.queries`` functions drain a 10x replay of the
  events table, rows permuted by the seed. State stores, the file source and
  memory sinks do the work; the generator and ``operators`` sit idle.

Permuting rows changes the physical input but not the declared result, so
one stored digest per query checks every seed.
"""

from __future__ import annotations

import dataclasses
import functools
import hashlib
import json
import shutil
import statistics
import time
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench.harness import Op
from perfbench.results import digest

HERE = Path(__file__).resolve().parent
FIXTURE_DIR = HERE / "fixtures" / "sf0.01"
DIGESTS_PATH = HERE / "digests.json"
DEFAULT_SEED = 2025  # the stream seed of the paper's canonical config

# generate: fixed at 8 shards so outputs, and so digests, do not depend on the machine
SHARDS = 8
# the exact stream at 40k events with the default seed is the paper's canonical stream
GEN_SIZES = {"sharded": 2_000_000, "exact": 40_000, "csv": 100_000, "parquet": 200_000, "iter": 20_000}

# analytics: light aggregation, join and window queries beside heavy MinHash-LSH
# dedup, a pandas UDF behind a shared persist
ANALYTICS_QUERIES = (
    "agg_groupby_q1",
    "sql_tpch_q8",
    "join_asof",
    "dedup_minhash_lsh",
)

STREAM_QUERIES = (
    "streaming_replay_tumbling",
    "streaming_dedup_watermark",
    "streaming_pattern_state",
)
REPLAY_COPIES = 10


def load_digests() -> dict:
    return json.loads(DIGESTS_PATH.read_text())


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _mismatch(what: str, got: str, want: str) -> list[str]:
    return [] if got == want else [f"{what} digest {got[:12]} != expected {want[:12]}"]


# ---------------------------------------------------------------- inputs


def permuted_copy(src: Path, dst: Path, seed: int, tables: dict[str, pa.Table] | None = None) -> None:
    """Write every parquet table of ``src`` (or the given tables) to ``dst``
    with its rows in a seed-dependent order."""
    dst.mkdir(parents=True, exist_ok=True)
    rng = np.random.default_rng(seed)
    if tables is None:
        tables = {p.stem: pq.read_table(p) for p in sorted(src.glob("*.parquet"))}
    for name, table in tables.items():
        pq.write_table(table.take(rng.permutation(table.num_rows)), dst / f"{name}.parquet")


def replay_events(copies: int = REPLAY_COPIES) -> pa.Table:
    """The events fixture replicated ``copies`` times, each copy's event_id
    shifted by copy * (max id + 1) and its ts into a disjoint range one hour
    after the previous copy -- the events transform of ``sf_scale_up``."""
    events = pq.read_table(FIXTURE_DIR / "events.parquet")
    ids = events.column("event_id").to_numpy()
    ts = events.column("ts").cast(pa.int64()).to_numpy()
    id_step = int(ids.max()) + 1
    ts_step = int(ts.max() - ts.min()) + 3_600_000_000  # µs
    parts = []
    for c in range(copies):
        cols = {n: events.column(n) for n in events.column_names}
        cols["event_id"] = pa.array(ids + c * id_step)
        cols["ts"] = pa.array(ts + c * ts_step).cast(events.schema.field("ts").type)
        parts.append(pa.table(cols, schema=events.schema))
    return pa.concat_tables(parts)


# ---------------------------------------------------------------- generate


def generator_configs():
    from eventstream_benchmark_spark.generator.queries import GOLDEN_PATTERNS, GOLDEN_STREAM

    return GOLDEN_PATTERNS, GOLDEN_STREAM


@functools.lru_cache(maxsize=4)
def expected_sharded(scfg, n_shards: int = SHARDS) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """The sharded stream in (shard, event_id) order, from the kernel each
    shard task runs: ``build_stream_fast`` with the shard's spawned RNG."""
    from eventstream_benchmark_spark.generator import core

    pcfg, _ = generator_configs()
    types, gaps = core.build_patterns(pcfg)
    parts = [
        core.build_stream_fast(dataclasses.replace(scfg, total_events=n), types, gaps,
                               rng=core.shard_rng(scfg.seed, shard))
        for shard, n in enumerate(core.shard_sizes(scfg.total_events, n_shards)) if n
    ]
    return tuple(np.concatenate([p[i] for p in parts]) for i in range(3))


def expected_exact(scfg) -> np.ndarray:
    """``to_numpy`` of the exact stream, from ``core.build_stream``."""
    from eventstream_benchmark_spark.generator import core

    pcfg, _ = generator_configs()
    ts, ty, label = core.build_stream(scfg, *core.build_patterns(pcfg))
    return np.stack([ts, ty, label], axis=1).astype(np.int64)


def array_digest(*arrays: np.ndarray) -> str:
    h = hashlib.sha256()
    for a in arrays:
        h.update(np.ascontiguousarray(a.astype(np.int64)).tobytes())
    return h.hexdigest()


def shard_summary_numpy(scfg) -> pa.Table:
    """Per-shard summary of the expected sharded stream (digest derivation)."""
    from eventstream_benchmark_spark.generator import core

    ts, ty, label = expected_sharded(scfg)
    sizes = core.shard_sizes(scfg.total_events, SHARDS)
    stride = -(-scfg.total_events // SHARDS)
    rows, lo = [], 0
    for shard, n in enumerate(sizes):
        t, y, p = ts[lo:lo + n], ty[lo:lo + n], label[lo:lo + n]
        lo += n
        rows.append({
            "shard": shard, "n": n, "first_id": shard * stride, "last_id": shard * stride + n - 1,
            "ts_min": int(t.min()), "ts_max": int(t.max()), "ts_sum": int(t.sum()),
            "type_min": int(y.min()), "type_max": int(y.max()), "type_sum": int(y.sum()),
            "n_pattern": int(p.sum()), "n_decrease": int((np.diff(t) < 0).sum()),
        })
    return pa.Table.from_pylist(rows)


def shard_summary_spark(df) -> pa.Table:
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = Window.partitionBy("shard").orderBy("event_id")
    step = df.withColumn("dec", (F.col("ts") < F.lag("ts").over(w)).cast("int"))
    return step.groupBy("shard").agg(
        F.count("*").alias("n"), F.min("event_id").alias("first_id"), F.max("event_id").alias("last_id"),
        F.min("ts").alias("ts_min"), F.max("ts").alias("ts_max"), F.sum("ts").alias("ts_sum"),
        F.min("event_type").alias("type_min"), F.max("event_type").alias("type_max"),
        F.sum("event_type").alias("type_sum"), F.sum(F.col("is_pattern").cast("int")).alias("n_pattern"),
        F.coalesce(F.sum("dec"), F.lit(0)).alias("n_decrease"),
    ).toArrow()


def check_shard_summary(summary: pa.Table, scfg) -> list[str]:
    """Invariants every seed must meet."""
    from eventstream_benchmark_spark.generator import core

    rows = sorted(summary.to_pylist(), key=lambda r: r["shard"])
    sizes = core.shard_sizes(scfg.total_events, SHARDS)
    stride = -(-scfg.total_events // SHARDS)
    problems = []
    if [r["n"] for r in rows] != sizes:
        problems.append(f"shard counts {[r['n'] for r in rows]} != {sizes}")
    for r in rows:
        if r["first_id"] != r["shard"] * stride or r["last_id"] != r["first_id"] + r["n"] - 1:
            problems.append(f"shard {r['shard']} event ids not contiguous from {r['shard'] * stride}")
        if r["n_decrease"]:
            problems.append(f"shard {r['shard']}: ts decreases {r['n_decrease']} times")
        if r["type_min"] < 0 or r["type_max"] >= scfg.n_types:
            problems.append(f"shard {r['shard']}: event_type outside [0, {scfg.n_types})")
    fraction = sum(r["n_pattern"] for r in rows) / max(1, scfg.total_events)
    if abs(fraction - (1 - scfg.random_ratio)) > 0.01:
        problems.append(f"pattern fraction {fraction:.4f} not near {1 - scfg.random_ratio:.2f}")
    return problems


def expected_csv(arrays) -> bytes:
    ts, ty, label = arrays
    body = np.char.add(np.char.add(np.char.add(ts.astype(str), ","), np.char.add(ty.astype(str), ",")),
                       label.astype(np.int64).astype(str))
    return ("timestamp,event_type,is_pattern\n" + "\n".join(body.tolist()) + "\n").encode()


class Generate:
    name = "generate"
    # its operations take about 1 s each and vary by about 0.2 s between
    # passes, so two passes are timed where one does for the others
    min_passes = 2

    def __init__(self, scratch: Path, seed: int, digests: dict):
        self.out = scratch / "generate"
        self.seed = seed
        self.digests = digests["generate"]
        self.pcfg, base = generator_configs()
        self.cfg = {k: dataclasses.replace(base, total_events=n, seed=seed) for k, n in GEN_SIZES.items()}
        self.cache_dirs = 0

    def prepare(self, spark, rep: int) -> None:
        shutil.rmtree(self.out, ignore_errors=True)
        self.out.mkdir(parents=True)

    def ops(self) -> list[Op]:
        from eventstream_benchmark_spark.generator import (
            stream_df_cached,
            stream_df_exact,
            stream_df_sharded,
            stream_iter,
            to_numpy,
            write_csv,
        )

        pcfg, cfg = self.pcfg, self.cfg

        def sharded(spark):
            return stream_df_sharded(spark, pcfg, cfg["sharded"], n_shards=SHARDS)

        def check_sharded(spark):
            summary = shard_summary_spark(sharded(spark))
            problems = check_shard_summary(summary, cfg["sharded"])
            if self.seed == DEFAULT_SEED:
                problems += _mismatch("shard summary", digest(summary), self.digests["sharded_summary"])
            return problems

        def check_exact(spark):
            got = array_digest(to_numpy(stream_df_exact(spark, pcfg, cfg["exact"])))
            problems = _mismatch("to_numpy", got, array_digest(expected_exact(cfg["exact"])))
            if self.seed == DEFAULT_SEED:
                problems += _mismatch("to_numpy", got, self.digests["exact_to_numpy"])
            return problems

        csv_dir = self.out / "csv"

        def csv(spark):
            write_csv(stream_df_sharded(spark, pcfg, cfg["csv"], n_shards=SHARDS), str(csv_dir))

        def check_csv(spark):
            csv(spark)
            parts = sorted(csv_dir.glob("part-*.csv"))
            if len(parts) != 1:
                return [f"{len(parts)} part files, expected 1"]
            got = hashlib.sha256(parts[0].read_bytes()).hexdigest()
            want = hashlib.sha256(expected_csv(expected_sharded(cfg["csv"]))).hexdigest()
            return _mismatch("csv bytes", got, want)

        def cached(spark, miss: bool):
            if miss:
                self.cache_dirs += 1
            cache = self.out / f"cache{self.cache_dirs}"
            if miss == cache.exists():
                raise RuntimeError(f"cache dir {cache} {'exists before a miss' if miss else 'missing for a hit'}")
            return stream_df_cached(spark, pcfg, cfg["parquet"], str(cache), mode="sharded", n_shards=SHARDS)

        def check_cached(spark, miss: bool):
            table = cached(spark, miss).toArrow().sort_by([("shard", "ascending"), ("event_id", "ascending")])
            got = array_digest(*(table.column(c).to_numpy() for c in ("ts", "event_type", "is_pattern")))
            return _mismatch("cached stream", got, array_digest(*expected_sharded(cfg["parquet"])))

        def run_iter(spark):
            for _ in stream_iter(stream_df_sharded(spark, pcfg, cfg["iter"], n_shards=SHARDS)):
                pass

        def check_iter(spark):
            rows = list(stream_iter(stream_df_sharded(spark, pcfg, cfg["iter"], n_shards=SHARDS)))
            got = array_digest(np.array(rows, dtype=np.int64).reshape(-1, 3))
            return _mismatch("stream_iter", got, array_digest(np.stack(expected_sharded(cfg["iter"]), axis=1)))

        return [
            Op("sharded", "generator", lambda s: _noop(sharded(s)), check_sharded),
            Op("exact", "generator", lambda s: _noop(stream_df_exact(s, pcfg, cfg["exact"])), check_exact),
            Op("csv", "export", csv, check_csv),
            Op("parquet_miss", "export", lambda s: cached(s, True), lambda s: check_cached(s, True)),
            Op("parquet_hit", "export", lambda s: _noop(cached(s, False)), lambda s: check_cached(s, False)),
            Op("iter", "export", run_iter, check_iter),
        ]

    def headline(self, op_s: dict[str, float], e2e: dict[str, float]) -> list[tuple[str, float, str]]:
        rates = [
            ("gen_sharded_ev_per_s", "sharded", "sharded", "ev/s"),
            ("gen_exact_ev_per_s", "exact", "exact", "ev/s"),
            ("export_csv_rows_per_s", "csv", "csv", "rows/s"),
            ("export_parquet_rows_per_s", "parquet_miss", "parquet", "rows/s"),
            ("iter_ev_per_s", "iter", "iter", "ev/s"),
        ]
        return [(name, GEN_SIZES[size] / op_s[op], unit) for name, op, size, unit in rates if op in op_s]

    def trace_extras(self) -> list[tuple[str, float, str]]:
        """Kernel rates on one core with no Spark, beside the Spark paths."""
        from eventstream_benchmark_spark.generator import core

        types, gaps = core.build_patterns(self.pcfg)
        shard_cfg = dataclasses.replace(self.cfg["sharded"], total_events=GEN_SIZES["sharded"] // SHARDS)
        t = time.perf_counter()
        core.build_stream_fast(shard_cfg, types, gaps, rng=core.shard_rng(self.seed, 0))
        fast = shard_cfg.total_events / (time.perf_counter() - t)
        t = time.perf_counter()
        core.build_stream(self.cfg["exact"], types, gaps)
        exact = GEN_SIZES["exact"] / (time.perf_counter() - t)
        return [("generator.kernel_fast_ev_per_s", fast, "ev/s"), ("generator.kernel_exact_ev_per_s", exact, "ev/s")]


# ---------------------------------------------------------------- analytics


class Analytics:
    name = "analytics"
    min_passes = 1

    def __init__(self, scratch: Path, seed: int, digests: dict):
        self.root = scratch / "analytics"
        self.seed = seed
        self.digests = digests["analytics"]
        self.sf = ""

    def prepare(self, spark, rep: int) -> None:
        sf = self.root / f"rep{rep}"
        shutil.rmtree(sf, ignore_errors=True)
        permuted_copy(FIXTURE_DIR, sf, self.seed)
        self.sf = str(sf)

    def ops(self) -> list[Op]:
        from eventstream_benchmark_spark.io import TABLES, load_table
        from eventstream_benchmark_spark.operators import all_queries

        queries = all_queries()

        def scan(spark):
            for name in TABLES:
                _noop(load_table(spark, self.sf, name))

        def check_scan(spark):
            problems = []
            for name in TABLES:
                got = digest(load_table(spark, self.sf, name).toArrow())
                problems += _mismatch(f"table {name}", got, self.digests["tables"][name])
            return problems

        def query_op(name):
            fn = queries[name]
            return Op(name, "operators", lambda s: _noop(fn(s, self.sf)),
                      lambda s: _mismatch(name, digest(fn(s, self.sf).toArrow()), self.digests["queries"][name]))

        return [Op("scan", "io", scan, check_scan)] + [query_op(n) for n in ANALYTICS_QUERIES]

    def headline(self, op_s: dict[str, float], e2e: dict[str, float]) -> list[tuple[str, float, str]]:
        p50 = statistics.median(op_s[q] for q in ANALYTICS_QUERIES if q in op_s)
        return [("analytics_pass_s", e2e["pass_s"], "s"), ("analytics_query_p50_s", p50, "s")]

    def trace_extras(self) -> list[tuple[str, float, str]]:
        return []


# ---------------------------------------------------------------- stream


class Stream:
    name = "stream"
    min_passes = 1

    def __init__(self, scratch: Path, seed: int, digests: dict):
        self.root = scratch / "stream"
        self.seed = seed
        self.digests = digests["stream"]
        self.dir = ""
        self.n_events = 0
        self.materialize_s = 0.0

    def prepare(self, spark, rep: int) -> None:
        t = time.perf_counter()
        d = self.root / f"rep{rep}"
        shutil.rmtree(d, ignore_errors=True)
        events = replay_events()
        permuted_copy(FIXTURE_DIR, d, self.seed, tables={"events": events})
        self.dir, self.n_events = str(d), events.num_rows
        self.materialize_s = time.perf_counter() - t

    def ops(self) -> list[Op]:
        from eventstream_benchmark_spark.streaming.queries import QUERIES

        def query_op(name):
            fn = QUERIES[name]
            return Op(name, "streaming", lambda s: _noop(fn(s, self.dir)),
                      lambda s: _mismatch(name, digest(fn(s, self.dir).toArrow()), self.digests[name]))

        return [query_op(n) for n in STREAM_QUERIES]

    def headline(self, op_s: dict[str, float], e2e: dict[str, float]) -> list[tuple[str, float, str]]:
        return [("stream_drain_ev_per_s", len(STREAM_QUERIES) * self.n_events / e2e["pass_s"], "ev/s")]

    def trace_extras(self) -> list[tuple[str, float, str]]:
        return [("streaming.replay_materialize_s", self.materialize_s, "s")]


WORKLOADS = {w.name: w for w in (Generate, Analytics, Stream)}
