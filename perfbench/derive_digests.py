"""Derive the digests the benchmark checks outputs against.

- analytics and stream queries: each query's DuckDB oracle
  (``operators.all_oracles()``) run over the fixture tables, or over the
  10x events replay, with no Spark involved;
- analytics tables: the fixture files as pyarrow reads them;
- generate, for the default seed: the per-shard summary of the sharded
  stream and the exact stream's ``to_numpy`` bytes, from the generator's
  NumPy kernels.

Run from the repository root to print the digests, or to rewrite
``perfbench/digests.json`` with ``--write``:

    python3 perfbench/derive_digests.py [--write]
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import sys
import tempfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))

import pyarrow.parquet as pq  # noqa: E402

from perfbench import workloads as W  # noqa: E402
from perfbench.results import digest, duckdb_digests  # noqa: E402


def derive() -> dict:
    from eventstream_benchmark_spark.io import TABLES
    from eventstream_benchmark_spark.operators import all_oracles

    oracles = all_oracles()
    fixture_views = {t: str(W.FIXTURE_DIR / f"{t}.parquet") for t in TABLES}
    with tempfile.TemporaryDirectory() as tmp:
        replay = Path(tmp) / "events.parquet"
        pq.write_table(W.replay_events(), replay)
        stream = duckdb_digests({"events": str(replay)}, oracles, W.STREAM_QUERIES)
    _, base = W.generator_configs()
    cfg = {k: dataclasses.replace(base, total_events=n, seed=W.DEFAULT_SEED) for k, n in W.GEN_SIZES.items()}
    return {
        "generate": {
            "seed": W.DEFAULT_SEED,
            "sharded_summary": digest(W.shard_summary_numpy(cfg["sharded"])),
            "exact_to_numpy": W.array_digest(W.expected_exact(cfg["exact"])),
        },
        "analytics": {
            "tables": {t: digest(pq.read_table(W.FIXTURE_DIR / f"{t}.parquet")) for t in TABLES},
            "queries": duckdb_digests(fixture_views, oracles, W.ANALYTICS_QUERIES),
        },
        "stream": stream,
    }


def main(argv=None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    parser.add_argument("--write", action="store_true", help="rewrite perfbench/digests.json")
    args = parser.parse_args(argv)
    text = json.dumps(derive(), indent=2, sort_keys=True) + "\n"
    if args.write:
        W.DIGESTS_PATH.write_text(text)
    print(text, end="")
    return 0


if __name__ == "__main__":
    sys.exit(main())
