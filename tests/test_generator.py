"""Layer A generator tests (SURVEY §5.2.2-4).

The golden tests pin exact mode to the reference generator bit for bit
through committed SHA-256 digests of its output (pattern matrices,
``to_numpy()`` of the 40k golden stream, the CSV bytes), plus facts
measured on the reference itself (BASELINE.md). When the reference
checkout is present they also run the ACTUAL reference implementation
(tqdm stubbed) and assert element-wise equality. Property tests pin the
§1.2 ordering semantics; Spark tests cover the sharded scale path, the
parquet cache, and the CSV/iterator export surface.
"""

from __future__ import annotations

import dataclasses
import hashlib
import importlib.util
import json
import os
import sys
import types

import numpy as np
import pytest

from eventstream_benchmark_spark.generator import (
    PatternConfig,
    StreamConfig,
    core,
    patterns_df,
    stream_df_cached,
    stream_df_exact,
    stream_df_sharded,
    stream_iter,
    to_numpy,
    write_csv,
)
from eventstream_benchmark_spark.generator.spark_gen import STREAM_SCHEMA, _in_stream_order

PCFG = PatternConfig(n_patterns=8, pattern_length=10, n_types=6,
                     gap_dist="uniform", gap_low=3, gap_high=9, seed=137)
SCFG = StreamConfig(
    n_types=6, total_events=40_000, random_ratio=0.7, seed=2025,
    pattern_jitter="uniform", pattern_jitter_amount=2,
    rand_interval_dist="poisson", rand_interval_base=6,
    rand_interval_low=None, rand_interval_high=None,
    rand_jitter="uniform", rand_jitter_amount=1,
    density_mode="sin", density_period=8000, density_amp=0.6,
)

# SHA-256 of exact-mode output for (PCFG, SCFG), taken from a tree whose
# exact mode passed the live element-wise comparison with the reference.
# Arrays hash as C-ordered int64 bytes; "to_numpy" is the [N, 3] array of
# ``to_numpy()`` (the benchmark's ``generate.exact_to_numpy`` digest);
# "csv" is the file the reference ``to_csv`` writes.
GOLDEN_SHA256 = {
    "pattern_types": "e607be907fbb04334ac84217f8718b6692ce1fb39df8603c4930a593a37f0d18",
    "pattern_gaps": "890ef8aabe313c26b4e690889f1ff2013a6418db02486ef7799f814968443f34",
    "to_numpy": "46a51013f92a0912439811818640ab52d06104ff89f77ac5fb2411673f15bd87",
    "csv": "bd70106ceecea7d27d87a1a3849051b0efe0064ead3b6b5aad6875a01d4eb78b",
}


def _array_sha256(a: np.ndarray) -> str:
    return hashlib.sha256(np.ascontiguousarray(a.astype(np.int64)).tobytes()).hexdigest()


@pytest.fixture(scope="module")
def reference():
    """Import the read-only reference with its tqdm dependency stubbed,
    or None when the reference checkout is absent."""
    class _Bar:
        def __init__(self, *a, **k):
            self.n = 0

        def __enter__(self):
            return self

        def __exit__(self, *a):
            return False

        def update(self, n):
            self.n += n

    sys.modules.setdefault("tqdm", types.SimpleNamespace(tqdm=_Bar))
    spec = importlib.util.spec_from_file_location("ref_eventstream", "/root/reference/eventstream.py")
    if not os.path.exists(spec.origin):
        return None
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture(scope="module")
def golden(reference):
    if reference is None:
        return None
    pats = reference.generate_patterns(
        n_patterns=8, pattern_length=10, n_types=6,
        gap_dist="uniform", gap_low=3, gap_high=9, seed=137,
    )
    stream = reference.EventStream(
        patterns=pats, n_types=6, total_events=40_000, random_ratio=0.7,
        seed=2025, pattern_jitter="uniform", pattern_jitter_amount=2,
        rand_interval_dist="poisson", rand_interval_base=6,
        rand_interval_low=None, rand_interval_high=None,
        rand_jitter="uniform", rand_jitter_amount=1,
        density_mode="sin", density_period=8000, density_amp=0.6,
        density_base_rate=1.0, cache_dir=None,
    )
    return pats, stream


def test_golden_patterns_bit_equal(golden):
    types, gaps = core.build_patterns(PCFG)
    assert _array_sha256(types) == GOLDEN_SHA256["pattern_types"]
    assert _array_sha256(gaps) == GOLDEN_SHA256["pattern_gaps"]
    if golden is not None:
        pats, _ = golden
        np.testing.assert_array_equal(types, pats.types)
        np.testing.assert_array_equal(gaps, pats.gaps)


def test_golden_stream_bit_equal(golden):
    """The golden stream's digest, plus three facts BASELINE.md measured
    on the reference: the pattern fraction is exactly 0.300 at
    random_ratio 0.7, density off gives one timestamp tie per pattern
    instance (1,200 at N=40k), and N=1M ends at t_max = 5,882,460."""
    from tests.conftest import REPO

    with open(f"{REPO}/perfbench/digests.json") as f:
        bench = json.load(f)["generate"]
    assert bench["seed"] == SCFG.seed
    assert bench["exact_to_numpy"] == GOLDEN_SHA256["to_numpy"]

    types, gaps = core.build_patterns(PCFG)
    ts, ty, label = core.build_stream(SCFG, types, gaps)
    assert _array_sha256(np.stack([ts, ty, label], axis=1)) == GOLDEN_SHA256["to_numpy"]
    assert int(label.sum()) * 1000 == 300 * SCFG.total_events

    flat_ts, _, _ = core.build_stream(dataclasses.replace(SCFG, density_mode="none"), types, gaps)
    assert int((np.diff(flat_ts) == 0).sum()) == 1_200

    big = dataclasses.replace(SCFG, total_events=1_000_000)
    big_ts, _, big_label = core.build_stream(big, types, gaps)
    assert int(big_ts[-1]) == 5_882_460
    assert int(big_label.sum()) == 300_000

    if golden is not None:
        _, ref_stream = golden
        np.testing.assert_array_equal(ts, ref_stream.timestamps)
        np.testing.assert_array_equal(ty, ref_stream.types)
        np.testing.assert_array_equal(label, ref_stream.is_pattern)


def _invariants(ts: np.ndarray, ty: np.ndarray, label: np.ndarray, cfg: StreamConfig, L: int):
    n = ts.shape[0]
    assert n == cfg.total_events
    # timestamps never decrease (gap clamp >= 1 at every stage)
    assert (np.diff(ts) >= 0).all()
    # achieved random fraction is exact (closed-loop controller)
    assert int((~label).sum()) == int(round(n * cfg.random_ratio))
    # type codes in range
    assert ty.min() >= 0 and ty.max() < cfg.n_types
    # pattern instances are contiguous blocks of exactly L (last may truncate)
    changes = np.flatnonzero(np.diff(label.astype(np.int8)))
    bounds = np.concatenate(([0], changes + 1, [n]))
    runs = [(label[a], b - a) for a, b in zip(bounds[:-1], bounds[1:])]
    pat_runs = [r for flag, r in runs if flag]
    assert all(r % L == 0 for r in pat_runs[:-1])
    if pat_runs:
        assert pat_runs[-1] % L == 0 or runs[-1][0]  # truncation only at the stream end
    # ties only where a pattern block starts right after a random event
    tie_idx = np.flatnonzero(np.diff(ts) == 0)
    assert all((not label[i]) and label[i + 1] for i in tie_idx)


def test_golden_csv_byte_match(golden, spark, tmp_path):
    """SURVEY §5.2.2: the exported CSV byte-matches the reference's
    ``to_csv`` output — same header, same %d row formatting, same
    values, row for row."""
    import glob

    ours = tmp_path / "ours_csv"
    write_csv(stream_df_exact(spark, PCFG, SCFG), str(ours))
    part = glob.glob(str(ours / "part-*.csv"))[0]
    with open(part, "rb") as f:
        our_bytes = f.read()
    assert our_bytes.startswith(b"timestamp,event_type,is_pattern\n")
    assert hashlib.sha256(our_bytes).hexdigest() == GOLDEN_SHA256["csv"]

    if golden is not None:
        _, ref_stream = golden
        ref_csv = tmp_path / "ref.csv"
        ref_stream.to_csv(str(ref_csv))
        assert our_bytes.decode().splitlines() == ref_csv.read_text().splitlines()


def test_exact_mode_invariants():
    types, gaps = core.build_patterns(PCFG)
    ts, ty, label = core.build_stream(SCFG, types, gaps)
    _invariants(ts, ty, label, SCFG, PCFG.pattern_length)


def test_interval_laws_match_numpy():
    """Distribution draws agree with NumPy's own samplers draw-for-draw."""
    rng_a, rng_b = core.make_rng(9), np.random.default_rng(9)
    for _ in range(200):
        assert core.interval(6, "poisson", rng_a) == max(1, int(rng_b.poisson(6.0)))
    rng_a, rng_b = core.make_rng(10), np.random.default_rng(10)
    for _ in range(200):
        assert core.interval(5, "geometric", rng_a) == int(rng_b.geometric(1 / 5))


def test_uniform_interval_validation():
    with pytest.raises(ValueError):
        core.interval(5, "uniform", core.make_rng(0), low=0, high=9)
    with pytest.raises(ValueError):
        PatternConfig(n_patterns=1, pattern_length=1, n_types=2)
    with pytest.raises(ValueError):
        StreamConfig(n_types=2, total_events=10, random_ratio=1.5)


def test_sharded_stream_invariants(spark):
    """Every shard meets the §1.2 invariants of a whole stream: monotone
    clock, exact random ratio, type range, contiguous length-L pattern
    blocks, ties only at random->pattern boundaries."""
    scfg = StreamConfig(
        n_types=6, total_events=8_000, random_ratio=0.7, seed=2025,
        pattern_jitter="uniform", pattern_jitter_amount=2,
        rand_interval_dist="poisson", rand_interval_base=6,
        rand_interval_low=None, rand_interval_high=None,
        density_mode="sin", density_period=8000, density_amp=0.6,
    )
    df = stream_df_sharded(spark, PCFG, scfg, n_shards=8)
    pdf = df.toPandas().sort_values(["shard", "event_id"])
    assert len(pdf) == scfg.total_events
    sizes = core.shard_sizes(scfg.total_events, 8)
    for shard, grp in pdf.groupby("shard"):
        _invariants(
            grp["ts"].to_numpy(),
            grp["event_type"].to_numpy(),
            grp["is_pattern"].to_numpy(),
            dataclasses.replace(scfg, total_events=sizes[shard]),
            PCFG.pattern_length,
        )
    # different shards draw different streams
    s0 = pdf[pdf["shard"] == 0]["ts"].to_numpy()
    s1 = pdf[pdf["shard"] == 1]["ts"].to_numpy()
    assert not np.array_equal(s0[: min(len(s0), len(s1))], s1[: min(len(s0), len(s1))])


def _executed_plan(df) -> str:
    """The plan ``df`` actually ran: collect first, then read the same
    query execution (the final plan, when adaptive execution wraps it)."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    return plan.toString()


@pytest.mark.parametrize("n_shards", [1, 3, 8, 32])
def test_sharded_layout_one_block_per_core(spark, n_shards):
    """One Python task per core, each generating a contiguous ascending
    block of shard ids, and no shuffle: every event is generated once,
    by the task that emits it."""
    scfg = dataclasses.replace(SCFG, total_events=40 * n_shards)
    df = stream_df_sharded(spark, PCFG, scfg, n_shards=n_shards)
    plan = _executed_plan(df)
    assert plan.count("MapInPandas") == 1
    assert "Exchange" not in plan
    n_tasks = min(n_shards, spark.sparkContext.defaultParallelism)
    parts = df.select("shard").rdd.glom().map(lambda rows: [r.shard for r in rows]).collect()
    assert len(parts) == n_tasks
    assert all(rows and rows == sorted(rows) for rows in parts)
    blocks = [list(dict.fromkeys(rows)) for rows in parts]
    assert [s for block in blocks for s in block] == list(range(n_shards))


def test_sharded_fewer_events_than_shards(spark):
    """N < n_shards: the empty shards emit nothing, the rest one event
    each at their own event-id offset, in the unchanged schema."""
    scfg = dataclasses.replace(SCFG, total_events=5)
    df = stream_df_sharded(spark, PCFG, scfg, n_shards=8)
    assert df.schema == STREAM_SCHEMA
    rows = sorted((r.shard, r.event_id) for r in df.collect())
    assert rows == [(s, s) for s in range(5)]


def test_exports_sort_in_one_partition(spark):
    """The export order is one single-partition exchange plus a local
    sort: no range-partitioning sampler, which would run the Python
    generator a second time."""
    scfg = dataclasses.replace(SCFG, total_events=4_000)
    df = _in_stream_order(stream_df_sharded(spark, PCFG, scfg, n_shards=8))
    plan = _executed_plan(df)
    assert "rangepartitioning" not in plan
    exchanges = [line for line in plan.splitlines() if "Exchange" in line]
    assert len(exchanges) == 1 and "SinglePartition" in exchanges[0]
    assert plan.count("MapInPandas") == 1


def test_type_draw_integers_equals_choice():
    """core.build_stream draws the noise type with ``integers(0, n)``
    where the reference calls ``choice(n)``: the two give the same
    values and leave the bit generator in the same state, also when
    interleaved with the interval and jitter draws around them."""
    for seed in range(5):
        for n in (2, 6, 1000):
            ref, ours = core.make_rng(seed), core.make_rng(seed)
            for _ in range(2_000):
                assert ref.poisson(6.0) == ours.poisson(6.0)
                assert ref.integers(-1, 2) == ours.integers(-1, 2)
                assert int(ref.choice(n)) == int(ours.integers(0, n))
            assert ref.bit_generator.state == ours.bit_generator.state


def test_patterns_df_matches_numpy(spark):
    pdf = patterns_df(spark, PCFG).toPandas().sort_values("pattern_id")
    types, gaps = core.build_patterns(PCFG)
    for pid in range(PCFG.n_patterns):
        assert list(pdf.iloc[pid]["types"]) == list(types[pid])
        assert list(pdf.iloc[pid]["gaps"]) == list(gaps[pid])


def test_cache_roundtrip(spark, tmp_path):
    scfg = StreamConfig(n_types=4, total_events=2_000, random_ratio=0.5, seed=3,
                        rand_interval_dist="fixed", rand_interval_base=3)
    first = stream_df_cached(spark, PCFG, scfg, str(tmp_path), mode="exact").toPandas()
    again = stream_df_cached(spark, PCFG, scfg, str(tmp_path), mode="exact").toPandas()
    assert len(first) == 2_000
    assert first.sort_values("event_id").equals(again.sort_values("event_id"))


def test_csv_and_iterator_surface(spark, tmp_path):
    scfg = StreamConfig(n_types=4, total_events=500, random_ratio=0.4, seed=11,
                        rand_interval_dist="geometric", rand_interval_base=4)
    df = stream_df_exact(spark, PCFG, scfg)
    out = tmp_path / "stream_csv"
    write_csv(df, str(out))
    import glob

    files = glob.glob(str(out / "part-*.csv"))
    assert len(files) == 1
    with open(files[0]) as fh:
        header = fh.readline().strip()
        assert header == "timestamp,event_type,is_pattern"
        first = fh.readline().strip().split(",")
        assert all(tok.lstrip("-").isdigit() for tok in first)
    it = stream_iter(df)
    t0, e0, p0 = next(it)
    assert isinstance(t0, int) and isinstance(e0, int) and isinstance(p0, bool)
    # A9: [N,3] int array, bool upcast, same order as the iterator
    arr = to_numpy(df)
    assert arr.shape == (500, 3) and arr.dtype == np.int64
    assert (arr[0] == np.array([t0, e0, int(p0)])).all()
    assert set(np.unique(arr[:, 2])) <= {0, 1}
    assert (np.diff(arr[:, 0]) >= 0).all()


def test_exact_summary_oracle_constants_pinned():
    """The generate_stream_exact oracle is a precomputed VALUES table
    (a pure function of the golden config); recompute it from core so
    any NumPy/bit-stream drift fails here before the driver hashes a
    stale constant."""
    from eventstream_benchmark_spark.generator.queries import (
        GOLDEN_PATTERNS,
        GOLDEN_STREAM,
        _EXACT_SUMMARY_ROWS,
    )

    types, gaps = core.build_patterns(GOLDEN_PATTERNS)
    ts, ty, label = core.build_stream(GOLDEN_STREAM, types, gaps)
    got = {}
    for t, p in {(int(a), bool(b)) for a, b in zip(ty, label)}:
        sel = ts[(ty == t) & (label == p)]
        got[(t, str(p).lower())] = (
            len(sel), int(sel.min()), int(sel.max()), int(sel.sum())
        )
    want = {(t, p): (n, lo, hi, s) for t, p, n, lo, hi, s in _EXACT_SUMMARY_ROWS}
    assert got == want


def test_pattern_recovery_constants_pinned():
    """The pattern_recovery_scored oracle is a precomputed constant
    row (deterministic sharded generation + a deterministic matcher);
    recompute the whole score from core's NumPy path so any RNG or
    matcher drift fails here before the driver hashes a stale
    constant."""
    from eventstream_benchmark_spark.generator.queries import (
        GOLDEN_PATTERNS,
        PATTERN_RECOVERY_ROW,
        SCALE_SHARDS,
        SCALE_STREAM,
    )
    import dataclasses

    types, gaps = core.build_patterns(GOLDEN_PATTERNS)
    seq = types[0]
    L = len(seq)
    sizes = core.shard_sizes(SCALE_STREAM.total_events, SCALE_SHARDS)
    n_matches = n_true = n_pattern = 0
    for shard, n_events in enumerate(sizes):
        cfg = dataclasses.replace(SCALE_STREAM, total_events=n_events)
        rng = core.shard_rng(SCALE_STREAM.seed, shard)
        _ts, ty, label = core.build_stream_fast(cfg, types, gaps, rng=rng)
        n_pattern += int(label.sum())
        windows = np.lib.stride_tricks.sliding_window_view(ty, L)
        hits = (windows == seq).all(axis=1)
        n_matches += int(hits.sum())
        lab_win = np.lib.stride_tricks.sliding_window_view(label, L)
        n_true += int((hits & lab_win.all(axis=1)).sum())
    got = (n_matches, n_true, n_matches - n_true, n_pattern)
    assert got == PATTERN_RECOVERY_ROW


def test_pattern_rows_constants_pinned():
    """The generate_patterns_spark oracle is a precomputed VALUES table
    of the GOLDEN_PATTERNS set as scalar rows; recompute from core so
    RNG drift fails here before the driver hashes a stale constant."""
    from eventstream_benchmark_spark.generator.queries import (
        GOLDEN_PATTERNS,
        _PATTERN_ROWS,
    )

    types, gaps = core.build_patterns(GOLDEN_PATTERNS)
    got = tuple(
        (pid, pos, int(types[pid][pos]),
         int(gaps[pid][pos]) if pos < gaps.shape[1] else None)
        for pid in range(types.shape[0])
        for pos in range(types.shape[1])
    )
    assert got == _PATTERN_ROWS


def test_sharded_summary_constants_pinned():
    """The generate_stream_sharded oracle is a precomputed VALUES table
    of per-shard (n, n_pattern, span) summaries; recompute each
    shard from core's NumPy path (same SeedSequence spawning as the
    applyInPandas task) so RNG drift fails here first. n_pattern is an
    exact integer count — no rounding-mode dependence (Spark HALF_UP
    vs Python half-even) can split the test from the driver check."""
    import dataclasses

    from eventstream_benchmark_spark.generator.queries import (
        GOLDEN_PATTERNS,
        SCALE_SHARDS,
        SCALE_STREAM,
        _SHARDED_SUMMARY_ROWS,
    )

    types, gaps = core.build_patterns(GOLDEN_PATTERNS)
    sizes = core.shard_sizes(SCALE_STREAM.total_events, SCALE_SHARDS)
    got = []
    for shard, n_events in enumerate(sizes):
        cfg = dataclasses.replace(SCALE_STREAM, total_events=n_events)
        rng = core.shard_rng(SCALE_STREAM.seed, shard)
        ts, _ty, label = core.build_stream_fast(cfg, types, gaps, rng=rng)
        got.append(
            (shard, len(ts), int(label.sum()), int(ts.max()))
        )
    assert tuple(got) == _SHARDED_SUMMARY_ROWS


def test_compat_facade_bit_equal(golden, tmp_path):
    """The drop-in facade (compat.generate_patterns / compat.EventStream,
    reference signatures and defaults) reproduces the reference
    bit-for-bit through the same call shape a reference user writes —
    including to_numpy, the CSV format, and the stream() iterator —
    with no SparkSession attached."""
    from eventstream_benchmark_spark.generator import compat

    pats = compat.generate_patterns(
        n_patterns=8, pattern_length=10, n_types=6,
        gap_dist="uniform", gap_low=3, gap_high=9, seed=137,
    )
    assert _array_sha256(pats.types) == GOLDEN_SHA256["pattern_types"]
    assert _array_sha256(pats.gaps) == GOLDEN_SHA256["pattern_gaps"]
    assert (pats.n_patterns, pats.length, len(pats)) == (8, 10, 8)

    es = compat.EventStream(
        patterns=pats, n_types=6, total_events=40_000, random_ratio=0.7,
        seed=2025, pattern_jitter="uniform", pattern_jitter_amount=2,
        rand_interval_dist="poisson", rand_interval_base=6,
        rand_interval_low=None, rand_interval_high=None,
        rand_jitter="uniform", rand_jitter_amount=1,
        density_mode="sin", density_period=8000, density_amp=0.6,
        density_base_rate=1.0, cache_dir=None,
    )
    arr = es.to_numpy()
    assert _array_sha256(arr) == GOLDEN_SHA256["to_numpy"]
    assert next(es.stream()) == (int(arr[0, 0]), int(arr[0, 1]), bool(arr[0, 2]))
    out = tmp_path / "compat.csv"
    es.to_csv(str(out))
    assert hashlib.sha256(out.read_bytes()).hexdigest() == GOLDEN_SHA256["csv"]

    if golden is not None:
        ref_pats, ref_stream = golden
        np.testing.assert_array_equal(pats.types, ref_pats.types)
        np.testing.assert_array_equal(pats.gaps, ref_pats.gaps)
        np.testing.assert_array_equal(arr[:, 0], ref_stream.timestamps)
        np.testing.assert_array_equal(arr[:, 1], ref_stream.types)
        np.testing.assert_array_equal(arr[:, 2], ref_stream.is_pattern.astype(np.int64))
        ref_out = tmp_path / "ref_compat.csv"
        ref_stream.to_csv(str(ref_out))
        assert out.read_text().splitlines() == ref_out.read_text().splitlines()


def test_compat_sharded_df(spark, tmp_path):
    """Sharded compat mode: DataFrame surface + parquet config cache."""

    from eventstream_benchmark_spark.generator import compat

    pats = compat.generate_patterns(
        n_patterns=4, pattern_length=5, n_types=4, seed=11
    )
    cache = str(tmp_path / "compat_cache")  # pytest-managed, no leak
    es = compat.EventStream(
        patterns=pats, n_types=4, total_events=8_000, random_ratio=0.5,
        seed=7, spark=spark, mode="sharded", n_shards=8, cache_dir=cache,
    )
    assert es.df.count() == 8_000
    # cache hit: a second instance reads the parquet materialization
    es2 = compat.EventStream(
        patterns=pats, n_types=4, total_events=8_000, random_ratio=0.5,
        seed=7, spark=spark, mode="sharded", n_shards=8, cache_dir=cache,
    )
    assert es2.df.count() == 8_000
    assert es.to_numpy().shape == (8_000, 3)


def test_compat_exact_to_csv_single_file_even_with_spark(spark, tmp_path):
    """Round-4 advice: with a session attached, exact-mode to_csv must
    still produce the reference's single CSV FILE at ``path`` — not a
    Spark output directory — and byte-match the no-spark output."""
    from eventstream_benchmark_spark.generator import compat

    pats = compat.generate_patterns(n_patterns=4, pattern_length=5, n_types=4, seed=11)
    kw = dict(patterns=pats, n_types=4, total_events=5_000, random_ratio=0.5, seed=7)
    with_spark = tmp_path / "with_spark.csv"
    compat.EventStream(spark=spark, **kw).to_csv(str(with_spark))
    no_spark = tmp_path / "no_spark.csv"
    compat.EventStream(**kw).to_csv(str(no_spark))
    assert with_spark.is_file()
    assert with_spark.read_bytes() == no_spark.read_bytes()


def test_compat_sharded_to_csv_single_file(spark, tmp_path):
    from eventstream_benchmark_spark.generator import compat

    pats = compat.generate_patterns(n_patterns=4, pattern_length=5, n_types=4, seed=11)
    es = compat.EventStream(
        patterns=pats, n_types=4, total_events=5_000, random_ratio=0.5,
        seed=7, spark=spark, mode="sharded", n_shards=8,
    )
    out = tmp_path / "sharded.csv"
    es.to_csv(str(out))
    assert out.is_file()
    lines = out.read_text().splitlines()
    assert lines[0] == "timestamp,event_type,is_pattern"
    assert len(lines) == 5_001


def test_compat_exact_cache_without_spark(tmp_path, monkeypatch):
    """Round-4 advice: cache_dir must be honored in the no-spark exact
    path (the reference pickles and reloads). Second instance must
    answer from the npz without regenerating — proven by poisoning
    core.build_stream after the first materialization."""
    from eventstream_benchmark_spark.generator import compat, core

    pats = compat.generate_patterns(n_patterns=4, pattern_length=5, n_types=4, seed=11)
    kw = dict(patterns=pats, n_types=4, total_events=5_000, random_ratio=0.5,
              seed=7, cache_dir=str(tmp_path))
    first = compat.EventStream(**kw).to_numpy()
    assert any(p.suffix == ".npz" for p in tmp_path.iterdir())

    def boom(*a, **k):
        raise AssertionError("cache miss: build_stream re-ran")

    monkeypatch.setattr(core, "build_stream", boom)
    again = compat.EventStream(**kw).to_numpy()
    np.testing.assert_array_equal(first, again)
    # regenerate=True must bypass the cache (and hit the poison)
    import pytest as _pytest

    with _pytest.raises(AssertionError, match="cache miss"):
        compat.EventStream(**{**kw, "regenerate": True}).to_numpy()
