"""Round-6 hardening: the verdict/advice items that graduate from
"empirically green" to "pinned invariant".

- ``agg_approx_topk_contract``'s oracle hardcodes TRUE for in_sketch:
  that is only guaranteed when the 5th exact count strictly exceeds the
  (TOPK_SKETCH+1)-th — then at most TOPK_SKETCH items have count ≥ the
  5th's, so ANY width-10 exact top-k selection must include the top 5
  regardless of engine-internal tie order (pigeonhole).  The test makes
  the gap an explicit fixture invariant at both test SFs.
- ``events_weekday_contrast`` must survive a zero-weekend regime: the
  display ratio goes NULL (both engines), never ±Infinity.
- COVERAGE.md must track the registry: every ``all_queries()`` name
  appears in the doc (this covers doc drift).
"""

from __future__ import annotations

import re

import duckdb
import pandas as pd
import pytest

from tests.conftest import REPO, SF_ORACLE, SF_SMALL


@pytest.mark.parametrize("sf_dir", [SF_SMALL, SF_ORACLE])
def test_topk_tie_gap_invariant(sf_dir):
    from eventstream_benchmark_spark.operators.relational import (
        TOPK_EXACT,
        TOPK_SKETCH,
    )

    con = duckdb.connect()
    try:
        counts = [
            r[0]
            for r in con.execute(
                f"""
                SELECT count(*) AS n
                FROM read_parquet('{sf_dir}/lineitem.parquet')
                GROUP BY l_partkey ORDER BY n DESC
                LIMIT {TOPK_SKETCH + 1}
                """
            ).fetchall()
        ]
    finally:
        con.close()
    assert len(counts) == TOPK_SKETCH + 1, "fixture narrower than the sketch"
    # strict gap: the 5th-ranked count beats the 11th-ranked, so at most
    # 10 items tie at-or-above it and the sketch MUST contain the top 5
    assert counts[TOPK_EXACT - 1] > counts[TOPK_SKETCH], (
        f"tie plateau spans the sketch boundary at {sf_dir}: "
        f"5th={counts[TOPK_EXACT - 1]} 11th={counts[TOPK_SKETCH]} — "
        "in_sketch=TRUE is no longer pigeonhole-guaranteed"
    )


def test_weekday_contrast_zero_regime_guard(spark, tmp_path):
    """An event type with zero weekend events yields a NULL display
    ratio (not Infinity / an engine-dependent cast) and still
    hash-matches the oracle."""
    from eventstream_benchmark_spark.operators import eventstream as es
    from tests.oracle_harness import compare

    # wd_only: 40 events all on a Wednesday; mixed: both regimes
    rows = [(i, "wd_only", pd.Timestamp("2024-01-03 10:00:00") + pd.Timedelta(minutes=i)) for i in range(40)]
    rows += [(100 + i, "mixed", pd.Timestamp("2024-01-03 10:00:00") + pd.Timedelta(minutes=i)) for i in range(7)]
    rows += [(200 + i, "mixed", pd.Timestamp("2024-01-06 10:00:00") + pd.Timedelta(minutes=i)) for i in range(5)]
    pdf = pd.DataFrame(rows, columns=["event_id", "event_type", "ts"])
    pdf.to_parquet(tmp_path / "events.parquet", index=False)

    out = es.events_weekday_contrast(spark, str(tmp_path)).toPandas()
    wd_only = out[out.event_type == "wd_only"]
    assert len(wd_only) == 1
    assert pd.isna(wd_only.rate_ratio_micro.iloc[0])
    mixed = out[out.event_type == "mixed"]
    # NaN is not None, so an `is not None` check would be vacuous here
    assert not pd.isna(mixed.rate_ratio_micro.iloc[0])

    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW events AS SELECT * FROM "
            f"read_parquet('{tmp_path / 'events.parquet'}')"
        )
        duck = con.execute(es.ORACLES["events_weekday_contrast"]).fetchdf()
    finally:
        con.close()
    issues = compare(es.events_weekday_contrast(spark, str(tmp_path)), duck)
    assert not issues, "; ".join(issues)


def test_coverage_doc_tracks_registry():
    from eventstream_benchmark_spark.operators import all_queries

    doc = open(f"{REPO}/COVERAGE.md").read()
    documented = set(re.findall(r"`([a-z][a-z0-9_]+)`", doc))
    undocumented = sorted(set(all_queries()) - documented)
    assert not undocumented, (
        f"registry queries missing from COVERAGE.md: {undocumented}"
    )


def test_every_query_is_oracled():
    """As of round 5 every registered query carries a DuckDB value-hash
    oracle; hold the line — a new query landing without one would
    silently downgrade itself to the driver's weaker rows-only check."""
    from eventstream_benchmark_spark.operators import all_oracles, all_queries

    q, o = set(all_queries()), set(all_oracles())
    assert q == o, (
        f"unoracled queries: {sorted(q - o)}; orphan oracles: {sorted(o - q)}"
    )
