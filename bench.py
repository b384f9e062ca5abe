#!/usr/bin/env python3
"""Per-round benchmark: headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

``value`` is the sum of per-query wall seconds (each measured as a
full collect after a shared-session warmup scan). Reference baseline
context in BASELINE.md; the generator throughput metric is appended
once Layer A lands so the ev/s comparison is like-for-like.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

# headline set: one per operator family, heaviest variants, plus the
# LLM-pipeline (north-star) lane so its perf is tracked round-over-round
HEADLINE = (
    "agg_groupby_q1",
    "join_broadcast_dims",
    "join_range_interval",
    "join_asof",
    "win_frame_running",
    "stream_sessionize",
    "stream_sliding_rate",
    "pattern_match_fixed",
    "dedup_exact",
    "scalar_json",
    "dedup_minhash_lsh",
    "text_tfidf_topterms",
    "knn_bruteforce_topk",
    "pipeline_corpus_prep",
    "dedup_cluster_cc",
    "decontaminate_ngram_overlap",
    "sql_tpch_q8",
    "graph_pagerank",
)

# runs per query: report min (the VM downclocks idle cores and first
# runs absorb JIT/cache warmup — see BASELINE.md variance note); the
# max-min spread is recorded so round-over-round deltas are
# distinguishable from clock noise
RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
# the persist/localCheckpoint heavyweights are 3-10x noisier than the
# rest of the sweep (r3 spreads up to 10 s); more samples make their
# min a real floor instead of a lottery ticket.  knn_bruteforce_topk
# joined the set in round 5: its r4 delta (1.06 -> 1.61 s) came with a
# 0.5-0.7 s run-to-run spread, so its min needs the same flooring.
HEAVY_RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_HEAVY_RUNS", "5"))
HEAVY = {"dedup_minhash_lsh", "pipeline_corpus_prep", "dedup_cluster_cc",
         "decontaminate_ngram_overlap", "graph_pagerank",
         "knn_bruteforce_topk"}

# single-pass sf1 subset: one per family; the LSH lane is the
# interesting one (10x exact duplicates make every band bucket hot)
SF1_QUERIES = (
    # round-10 (r9 verdict #3): the graph pair runs FIRST IN LANE —
    # isolated from the LSH/CC heavyweights' storage-memory pressure
    # and disk churn that kept its spread noise-bound for two rounds
    # (r9: triangle spread 11.9 s > median 8.0 s at n=5). triangle
    # still pays the one-time co-purchase edge aggregate; pagerank
    # rides the family-shared persist (the round-6 handoff measurement
    # is the adjacency, not the lane position).
    "graph_triangle_count",
    "graph_pagerank",
    "agg_groupby_q1",
    "join_broadcast_dims",
    "join_asof",
    "win_frame_running",
    "stream_sessionize",
    "pattern_match_fixed",
    "dedup_exact",
    "text_tfidf_topterms",
    "dedup_minhash_lsh",
    # the mitigation twin: exact-dedup-first collapses the 10x copies
    # before MinHash — its sf1 delta vs dedup_minhash_lsh is the
    # measured value of the pipeline ordering
    "pipeline_dedup_ordered",
    # round-5 additions: the two remaining iterative/LSH families get a
    # 10x probe — banded hyperplane-LSH under duplicate-flooded
    # embeddings, and the iterative numeric loop over a 10x edge set
    "dedup_embedding_cosine",
    # round-5 operator additions with corpus-scale shuffles: span-level
    # dedup (the 10x-replicated corpus floods the keep-first window's
    # span-key partitions) and BPE pair counting (its char work should
    # NOT grow 10x — it rides the vocabulary, which replication barely
    # grows)
    "text_line_dedup",
    "corpus_bpe_pair_counts",
    # the composed gate->span-dedup->PII->manifest pipeline: the 10x
    # duplicate-flooded corpus stresses its span-dedup stage end to end
    "pipeline_pretrain_corpus",
    # late round-5 additions: posting assembly sits behind the top-k
    # cut, so the index build should track the stats aggregate (near-
    # linear), and the skip matcher's exploded-delta equi-joins should
    # scale with the per-type event counts
    "index_inverted_postings",
    "pattern_match_skip",
    # round-6 addition: the sf1 lane covered joins/LSH/iterative but no
    # frame-window family — the prequential scorer (per-user lag +
    # 5-row frame counts + argmax) probes per-user window state under
    # the 10x user set
    "pattern_online_prequential",
    # round-6 queries, flood-probed at birth: the 10x-duplicated
    # embeddings overflow every SemDeDup cluster past its cap (the
    # bound, not the corpus, must govern pair work — overflow is a
    # hash-checked output), and the sorted export's sample/split-point
    # machinery rides a 10x fact
    "dedup_semantic_cluster",
    "export_range_partitioned",
    # round-7 probe: the iterative label-propagation loop under a 10x
    # duplicate flood (dedup_cluster_cc was the heaviest sf0.1 headline
    # item with no 10x probe — verdict item 6)
    "dedup_cluster_cc",
    # round-8 addition, flood-probed at birth: the cluster-aware split
    # rides the shared cc_labels + pair set the cc pass leaves behind
    # (consumer semantics — marginal cost of the split-hygiene check)
    "sample_cluster_aware_split",
    # round-9 probe: the RFM rewrite (global ntile windows -> scalar
    # percentile cut points + broadcast) under a 10x orders fact —
    # the exact shape the rewrite exists to survive
    "orders_rfm_segmentation",
    # round-9 addition, flood-probed at birth: the batch-vs-corpus
    # asymmetric probe under the 10x duplicate flood — the collapse
    # in front of the band join is what keeps a dup-flooded INCREMENT
    # from re-creating the quadratic the full pass retired
    "dedup_minhash_incremental",
    # round-10 additions, flood-probed at birth: the 10x flood marks
    # EVERY span duplicated (maximal intervals become whole documents
    # — the worst case for the island merge), and the Bloom
    # decontamination probes a 10x train gram stream against the
    # unchanged-size filter while its exact contract side re-pays the
    # full join
    "text_substring_dedup",
    "decontaminate_bloom",
    # third round-10 addition: the removal half of ExactSubstr — under
    # the flood, 9 of every 10 copies lose all their spans, so the
    # per-token anti-join and the reassembly run at full tilt
    "text_substring_removal",
    # round-10 consumer probes (ride the shared artifacts the emitters
    # leave behind, like sample_cluster_aware_split): keeper-policy
    # comparison over the cc_labels persist, tau sweep over the
    # emb_cosine_pairs persist — marginal cost of each decision lane
    "dedup_keeper_policies",
    "dedup_threshold_sweep",
    # round-11 additions, flood-probed at birth: fuzzy decontamination
    # probes the 10x-duplicated eval split against the train split
    # through the shared asymmetric builder (the collapse in front of
    # the band join is what keeps the flood from re-creating the hot-
    # bucket quadratic), and the Gopher battery is the single-scan
    # floor — its sf1 number should track the corpus scan, nothing else
    "decontaminate_fuzzy_minhash",
    "text_quality_gopher",
    # the binary-quant eval's 10-query broadcast scan over the 10x
    # embedding set — should track the corpus scan like the other
    # broadcast-kNN probes
    "embed_binary_quantize",
    # second round-11 batch: semantic decontamination probes the 10x
    # eval-vector flood against the train side — both sides collapse
    # exact-dup vectors first, so the flood's work is the two
    # collapse shuffles plus a representative-sized band probe
    "decontaminate_semantic_embed",
    # soft-weight consumer rides the cc_labels persist like the
    # keeper-policy probe: marginal cost = one size groupBy + the
    # documents left join over the 10x corpus
    "dedup_soft_weights",
    # round-12 additions, flood-probed at birth: paragraph dedup rides
    # the same partial-aggregable keep-first as line dedup (the 10x
    # flood reduces map-side); harmonic packing's layout window is
    # sharded (cls, len, doc_id % shards) and its 10x number should
    # track the tokenize scan; the BPE merge loop's 8 rounds ride the
    # VOCABULARY, which 10x replication barely grows — its sf1 delta
    # vs sf0.1 is the measured proof of the scale argument
    "text_paragraph_dedup",
    "pack_sequences_harmonic",
    "corpus_bpe_merge_loop",
    # the apply half: corpus-scale explode + vocab-map join + per-doc
    # aggregate — its 10x number should track the corpus scan while
    # the embedded retrain stays vocabulary-flat
    "corpus_bpe_apply",
    # BM25 over the 10x corpus: one distinct-term explode (docfreqs),
    # one scoring explode + 12-row broadcast join — should track the
    # tfidf lane, with the panel cut staying a heap merge
    "index_bm25_topk",
    # round-13 additions, flood-probed at birth: the vocab curve rides
    # the same vocabulary-bound loop as the merge loop (its 10x delta
    # should track the one corpus word-count shuffle only); RRF
    # consumes two already-bounded top-k frames, so its 10x number is
    # the two retrievers' cost and nothing else; hashed-ngram langid
    # is one corpus-scale trigram explode, map-side combined — the
    # heaviest new scan
    "corpus_bpe_vocab_curve",
    "retrieval_fusion_rrf",
    "text_langid_hash_ngram",
    # fifth round-13 addition, flood-probed at birth: the CCNet LM
    # filter's 10x number should track its one corpus bigram explode
    # (broadcast lookups + map-side-combined sums); the reference
    # slice, LM tables, and thresholds are bounded by design and
    # contribute nothing that grows with the flood
    "text_perplexity_bucket",
)

# round-7: the host VM's minute-to-minute CPU contention swings single
# -pass sf1 numbers up to 4-6x (measured 2026-08-14: identical warm
# pagerank work 6 s in one session, 40 s in the next, idle steal
# <1%), so the heavy lane items get a second pass and report the MIN
# with the max-min spread alongside — same flooring rationale as the
# sf0.1 HEAVY set. Note the changed semantics vs rounds <=6 (single
# pass): for the shared-build graph family the min is the warm
# steady state and the spread carries the one-time build.
SF1_HEAVY_RUNS = int(os.environ.get("SPARK_GRAFT_SF1_HEAVY_RUNS", "2"))

# Queries whose measured WORK is itself a family-shared artifact build
# (round-7 shared-build extension): with min-of-N, their second pass
# would read the persisted artifact back and report a cache-read time
# as the query's cost. Before EVERY timed pass of an emitter, its own
# family entries are dropped (selectively — other families' builds,
# like the graph lane's edge aggregate mid-handoff, stay) so each pass
# pays the real build; the LAST pass still leaves the artifact behind,
# which is what downstream consumer queries (cluster CC, corpus prep,
# the recall evals) deliberately ride — that asymmetry is the honest
# split: emitters report build cost, consumers report marginal cost.
EMITTER_FAMILIES = {
    # round 10: the collapsed chain's rep-level blocks became shared
    # artifacts of their own (CC consumes them directly); the LSH
    # emitter pays the whole build — blocks AND expansion — per pass
    "dedup_minhash_lsh": (
        "minhash_pairs",
        "minhash_rep_pairs",
        "minhash_membership",
    ),
    "dedup_embedding_cosine": ("emb_cosine_pairs",),
    "dedup_semantic_cluster": ("semdedup_victims", "ivf_assigned", "ivf_refined"),
    # round 8: CC labels became a shared artifact (the cluster-aware
    # split consumes them); cluster_cc emits it, so each measured pass
    # re-pays the CC iteration while still riding the pair-set persist
    "dedup_cluster_cc": ("cc_labels",),
    # round 13: the BPE training artifacts (merge table + per-step
    # vocabularies) became family-shared; the merge loop emits them,
    # apply/vocab-curve consume — the emitter re-pays the word-count
    # shuffle and the 8 driver-barrier rounds on every measured pass
    "corpus_bpe_merge_loop": ("bpe_merges", "bpe_hist"),
    # round 13: the BM25 retrieval panel became family-shared (the RRF
    # fusion consumes it); the retriever re-pays its docfreq explode +
    # scoring pass per measured pass
    "index_bm25_topk": ("bm25_topk",),
}

# Round 14 (r13 verdict "What's wrong #1"): the round-13 family shares
# changed what the BPE/RRF consumers' sf1 numbers MEAN — marginal
# (post-emitter) cost instead of the full build a pre-r13 reader would
# assume. So each of these consumers records ONE extra timed pass with
# its consumed family released first, emitted as
# ``sf1_<name>_cold_build``: both numbers now exist in the artifact
# (cold = build + marginal, the r12-comparable figure; the unchanged
# ``sf1_<name>`` stats stay marginal). The cold pass itself leaves the
# artifacts behind, so the marginal samples that follow are unchanged
# in meaning.
CONSUMER_FAMILIES = {
    "corpus_bpe_apply": ("bpe_merges", "bpe_hist"),
    "corpus_bpe_vocab_curve": ("bpe_merges", "bpe_hist"),
    "retrieval_fusion_rrf": ("bm25_topk",),
}
SF1_HEAVY = {
    "dedup_minhash_lsh",
    "dedup_embedding_cosine",
    "graph_triangle_count",
    "graph_pagerank",
    "text_line_dedup",
    "pipeline_pretrain_corpus",
    "dedup_semantic_cluster",
    "dedup_cluster_cc",
    # single-pass 5.4/6.0/19.96 s across three same-code runs — the
    # write+read-back shape is the most disk-contention-sensitive item
    "export_range_partitioned",
    # round-10 additions: all in the >5 s band at the flood, so they
    # get the multi-pass median treatment from birth
    "text_substring_dedup",
    "decontaminate_bloom",
    "text_substring_removal",
    # round-11 addition: the fuzzy decon probe carries the same
    # collapse+band build as dedup_minhash_incremental (sf1 median
    # ~6 s there), so it gets multi-pass stats from birth
    "decontaminate_fuzzy_minhash",
    # round-11 second batch: the semantic probe's collapse + band +
    # verify chain measured ~5.7 s warm at the flood — same band
    "decontaminate_semantic_embed",
}
# round-8 (verdict item 6): the graph pair was the worst-conditioned
# sf1 number (triangle min 7.37 s with a 10.7 s spread — the spread
# larger than the min), so it gets a third pass; with min-of-3 the
# warm floor is real and the median is reported alongside for every
# multi-sample sf1 item, same as the headline set.
SF1_EXTRA_HEAVY_RUNS = {
    "graph_triangle_count": 3,
    "graph_pagerank": 3,
    # round-9: with base n=2 the gate can stop on two slow samples
    # whose spread happens to sit under their (inflated) median —
    # the chronically noisy embedding lane gets a third base pass
    "dedup_embedding_cosine": 3,
}

# Items whose chronological FIRST sf1 pass pays a structural one-time
# cost — the family-shared co-purchase edge build (triangle emits it,
# pagerank cold-reads it when run in a fresh lane) or the lane-cold
# persist/JIT stack of the embedding pair build. Only for THESE does
# the recorded min/median/spread drop the first sample (preserved as
# `_cold`): a round-10 review found the unconditional drop could
# discard a base item's genuinely fastest pass when a contention
# spike tripped the gate (samples [2.0, 6.0, 6.1] would record 6.0 as
# the floor), so everything outside this set keeps full-sample stats.
SF1_COLD_BUILD = {
    "graph_triangle_count",
    "graph_pagerank",
    "dedup_embedding_cosine",
}

# the sf1 re-run gate (round-8 verdict #4): a multi-sample item whose
# dispersion exceeds its median is noise-bound evidence — take extra
# passes (to this many total) until the dispersion drops under the
# median or the budget is spent. Targets the chronically
# ill-conditioned items (triangle_count, embedding_cosine) without
# taxing quiet runs. The gated dispersion is the BEST-3 spread, not
# max-min (round-9 advice): max-min is monotone nondecreasing as
# samples accumulate, so one early outlier forced every remaining
# pass to the cap with no way to converge; the spread of the three
# fastest samples SHRINKS when new samples land near the floor, which
# is the convergence the gate is waiting for. Both dispersions are
# recorded: ``_spread`` is max-min and ``_spread3`` the best-3 spread,
# each over the SAME sample set every other stat uses (full samples;
# warm samples for SF1_COLD_BUILD items — ``_n`` counts that set).
SF1_MAX_RUNS = int(os.environ.get("SPARK_GRAFT_SF1_MAX_RUNS", "5"))


def _core_spread(srt: list[float]) -> float:
    """Dispersion of the three fastest samples of a SORTED list (all
    of them when n < 3) — a dispersion that can DECREASE as samples
    accumulate, unlike max-min."""
    core = srt[: min(3, len(srt))]
    return round(core[-1] - core[0], 3)


# ---------------------------------------------------------------------------
# Machine-state calibration (round-13, r12 verdict "What's wrong #1"):
# the one artifact the driver keeps per round is a single sample on a
# VM whose minute-to-minute contention swings same-code walls 1.5-2x
# (r12: four archived runs 16.6-25.7 s, driver capture 28.1 s, judge
# re-run 19.9 s). Two fixed-cost probes — a pure-CPU NumPy pass and a
# 32-task Spark shuffle — are timed at session start AND end; their
# ratio to nominals pinned from a quiet window (2026-08-16, idle VM:
# cpu 0.33 s, shuffle 0.75 s fresh / 0.45 s warm — see the per-phase
# note at SHUFFLE_NOMINAL_START) is emitted as ``contention_index`` in
# the one-line JSON, so a 28-vs-19 discrepancy is adjudicable from the
# artifact alone: index ~1 => the walls are the code; index >> 1 =>
# the walls are the machine.
# ---------------------------------------------------------------------------
def _nominal(env: str, default: float) -> float:
    """Env-overridable probe nominal; a non-positive override falls
    back to the pinned default instead of crashing the contention-
    index division AFTER the multi-minute sweep (the round-12
    measurement-loss ordering, applied to the calibration too)."""
    try:
        val = float(os.environ.get(env, default))
    except ValueError:
        return default
    return val if val > 0 else default


CPU_PROBE_NOMINAL = _nominal("SPARK_GRAFT_CPU_NOMINAL", 0.33)
# The shuffle probe's quiet-window cost is PHASE-dependent: at session
# start the JVM's shuffle/codegen paths are still JIT-cold even after
# the probe's own warmup pass (measured 0.79 s quiet), while after a
# full sweep the same probe runs 0.42 s — one nominal would read every
# warm session as "quieter than quiet" and dilute real contention.
# Nominals pinned per phase from the round-13 quiet run (cpu ratios
# 0.97/0.98 in the same session corroborate the window was quiet).
SHUFFLE_NOMINAL_START = _nominal("SPARK_GRAFT_SHUFFLE_NOMINAL_START", 0.75)
SHUFFLE_NOMINAL_END = _nominal("SPARK_GRAFT_SHUFFLE_NOMINAL_END", 0.45)


def _cpu_probe_sec() -> float:
    """Fixed-cost pure-CPU probe: sort + rFFT of 6M deterministic
    doubles. One untimed warmup absorbs allocator/twiddle-cache
    cold-start (measured 3.3 s cold vs 0.33 s warm); min of 2 timed
    passes is the machine's current capability."""
    import numpy as np

    def one() -> float:
        rng = np.random.default_rng(20260816)
        a = rng.standard_normal(6_000_000)
        t0 = time.perf_counter()
        np.sort(a)
        np.fft.rfft(a)
        return time.perf_counter() - t0

    one()
    return min(one(), one())


def _shuffle_probe_sec(spark) -> float:
    """Fixed-cost Spark probe: 32 map tasks -> one hash shuffle ->
    count. Same warmup + min-of-2 shape as the CPU probe."""
    from pyspark.sql import functions as F

    def one() -> float:
        t0 = time.perf_counter()
        (
            spark.range(0, 2_000_000, 1, 32)
            .groupBy((F.col("id") % 4096).alias("k"))
            .count()
            .count()
        )
        return time.perf_counter() - t0

    one()
    return min(one(), one())


def _median(srt: list[float]) -> float:
    """True median of a sorted sample — for even n the mean of the two
    middle values (srt[n//2] alone is the UPPER middle: with n=2 that
    mislabeled the max as the median, round-8 advice)."""
    n = len(srt)
    mid = srt[n // 2] if n % 2 else (srt[n // 2 - 1] + srt[n // 2]) / 2.0
    return round(mid, 3)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)

    from eventstream_benchmark_spark.session import get_spark
    from eventstream_benchmark_spark.operators import all_queries

    spark = get_spark("esb-bench")
    queries = all_queries()
    extras: dict[str, float] = {}

    # machine-state calibration, session start (see probe docstrings)
    extras["probe_cpu_start_sec"] = round(_cpu_probe_sec(), 3)
    extras["probe_shuffle_start_sec"] = round(_shuffle_probe_sec(spark), 3)

    # Layer-A generator + CSV-sink throughput (vs BASELINE.md's
    # 98k ev/s generation and 385k rows/s export) — measured FIRST, in
    # a clean session: r3 measured it after the LSH/CC heavyweights and
    # their storage-memory pressure cost it ~37% (6.78M -> 4.26M ev/s)
    from eventstream_benchmark_spark.generator.bench import (
        csv_export_rows_per_sec,
        generator_events_per_sec,
    )

    for key, probe in (
        ("generator_events_per_sec", generator_events_per_sec),
        ("csv_export_rows_per_sec", csv_export_rows_per_sec),
    ):
        rates = sorted(probe(spark))
        extras[key] = rates[-1]
        extras[f"{key}_median"] = _median(rates)
        extras[f"{key}_n"] = len(rates)

    # MEASURED AND REJECTED (round 11): re-staging the sf0.1 headline
    # fixture into a 32-file splittable copy (the sf1 writer fix,
    # SCALE.md "Scan layer") before timing. The single-file layout
    # does serialize every query's pre-shuffle map side onto one core
    # — but at sf0.1 volumes the headline queries are sub-second, and
    # 32-way task scheduling overhead beat the freed parallelism:
    # headline 14.98 → 17.52 s, with the small queries hit hardest
    # (dedup_exact 0.30 → 0.93, stream_sliding_rate 0.32 → 0.78).
    # The split layout pays exactly where it was kept: the sf1 lane,
    # whose 10× CPU-dense map work amortizes the tasks (94 → 70 s).
    # warm the JVM + parquet footers so per-query numbers measure the
    # queries, not session start
    from eventstream_benchmark_spark.io import TABLES, load_table

    for name in TABLES:
        load_table(spark, sf_dir, name).count()
    # untimed warm pass: JIT/codegen caches + CPU frequency ramp (this
    # VM runs the first ~2s of fresh work at a fraction of full clock)
    for name in ("agg_groupby_q1", "join_broadcast_dims"):
        queries[name](spark, sf_dir).count()

    from eventstream_benchmark_spark.operators._cache import (
        release_scoped_persists,
        release_shared_families,
        release_shared_persists,
    )

    timings: dict[str, float] = {}
    for name in HEADLINE:
        fn = queries[name]
        samples = []
        for _ in range(HEAVY_RUNS if name in HEAVY else RUNS):
            if name in EMITTER_FAMILIES:
                release_shared_families(EMITTER_FAMILIES[name])
            t0 = time.perf_counter()
            n = fn(spark, sf_dir).count()
            samples.append(time.perf_counter() - t0)
        if name in HEAVY and len(samples) > 1:
            # the heavies' first run absorbs cold persist/checkpoint
            # builds (r4: spreads up to 11 s from run 1 alone) — drop
            # it so min AND spread describe the warm steady state
            # (kept when HEAVY_RUNS=1: a single cold sample beats none)
            samples = samples[1:]
        srt = sorted(samples)
        timings[name] = round(srt[0], 3)
        extras[f"{name}_rows"] = n
        extras[f"{name}_spread"] = round(srt[-1] - srt[0], 3)
        # median + sample count alongside the min: four same-code
        # rounds swung the headline 21.0->25.0 s on VM scheduling noise
        # alone, so round-over-round regression calls gate on the
        # median, not a single pass (round-6 verdict item 7)
        extras[f"{name}_median"] = _median(srt)
        extras[f"{name}_n"] = len(srt)
        # storage hygiene between queries: one query's persisted
        # intermediates must not tax the next one's timing (every
        # persist in the package goes through the scoped registry;
        # family-SHARED builds — the graph family's edge aggregate —
        # deliberately survive until the lane boundary below, which is
        # the point of sharing them)
        release_scoped_persists()
    release_shared_persists()
    spark.catalog.clearCache()

    # machine-state calibration, mid-sweep (round-13 follow-up: the
    # second r13 run hit a contention window that inflated the LSH
    # lane 1.7x while the START/END probes both read quiet — two
    # endpoint samples cannot see a mid-run spike; this point sits
    # between the headline and sf1 lanes, where the heavyweights run).
    # The session is fully warm here, so the shuffle probe compares
    # against the warm nominal.
    extras["probe_cpu_mid_sec"] = round(_cpu_probe_sec(), 3)
    extras["probe_shuffle_mid_sec"] = round(_shuffle_probe_sec(spark), 3)

    # sf1 lane: 10x scale-up synthesized once into /tmp (key-shifted
    # fact copies over unchanged dims), a single pass over a headline
    # subset — surfaces skew/scale behavior sf0.1 can't (e.g. the LSH
    # band join under 10x exact-duplicate buckets). Disable with
    # SPARK_GRAFT_SF1=0.
    if os.environ.get("SPARK_GRAFT_SF1", "1") != "0":
        from sf_scale_up import ensure_scaled_dir

        t0 = time.perf_counter()
        sf1_dir = ensure_scaled_dir(spark, src=sf_dir, copies=10)
        extras["sf1_build_sec"] = round(time.perf_counter() - t0, 3)
        for name in SF1_QUERIES:
            if name in CONSUMER_FAMILIES:
                # one timed cold pass per family-share consumer (see
                # CONSUMER_FAMILIES): release what it consumes, pay
                # build + marginal once, record it separately — the
                # marginal samples below are untouched
                release_shared_families(CONSUMER_FAMILIES[name])
                t0 = time.perf_counter()
                queries[name](spark, sf1_dir).count()
                extras[f"sf1_{name}_cold_build"] = round(
                    time.perf_counter() - t0, 3
                )
                release_scoped_persists()
            samples = []
            # round-10 (r9 verdict #6): no sf1 item is single-sample
            # any more — a lone pass on this VM is a lottery ticket,
            # and the _median/_n fields are what round-over-round
            # comparisons gate on, so every item records at least 2
            n_runs = SF1_EXTRA_HEAVY_RUNS.get(
                name, SF1_HEAVY_RUNS if name in SF1_HEAVY else 2
            )
            while True:
                if name in EMITTER_FAMILIES:
                    release_shared_families(EMITTER_FAMILIES[name])
                t0 = time.perf_counter()
                n = queries[name](spark, sf1_dir).count()
                samples.append(time.perf_counter() - t0)
                # scoped release only — the family-shared edge build
                # must survive from triangle_count to pagerank (that
                # handoff IS the measurement); everything else is
                # scoped and released
                release_scoped_persists()
                if len(samples) < n_runs:
                    continue
                # conditioning gate: best-3 spread > median ⇒ the
                # floor isn't corroborated yet — keep sampling up to
                # SF1_MAX_RUNS (see _core_spread for why not max-min).
                # For SF1_COLD_BUILD items the gate (like the recorded
                # stats below) sees only the warm samples — their
                # first pass pays a structural one-time build, not
                # noise, and must not keep the gate tripped (the
                # sf0.1 HEAVY first-sample drop, scoped to the items
                # where it is justified)
                warm = (
                    samples[1:]
                    if name in SF1_COLD_BUILD and len(samples) >= 3
                    else samples
                )
                # with the default knobs n_runs >= 2, so the gate sees
                # two samples — but SF1_HEAVY_RUNS is env-derived and a
                # legitimate =1 override must record its single sample
                # instead of crashing the lane (r11 review)
                if len(samples) < 2:
                    break
                srt = sorted(warm)
                if (
                    len(samples) >= SF1_MAX_RUNS
                    or _core_spread(srt) <= _median(srt)
                ):
                    break
            # for cold-build items the recorded stats describe the
            # warm steady state; the first pass is preserved as _cold
            # so the build cost stays visible instead of polluting the
            # spread. All other items record full-sample stats — their
            # min must stay the genuinely fastest pass.
            cold_drop = name in SF1_COLD_BUILD and len(samples) >= 3
            warm = samples[1:] if cold_drop else samples
            if cold_drop:
                extras[f"sf1_{name}_cold"] = round(samples[0], 3)
            srt = sorted(warm)
            extras[f"sf1_{name}"] = round(srt[0], 3)
            extras[f"sf1_{name}_rows"] = n
            if len(srt) > 1:
                extras[f"sf1_{name}_spread"] = round(srt[-1] - srt[0], 3)
                extras[f"sf1_{name}_spread3"] = _core_spread(srt)
                extras[f"sf1_{name}_median"] = _median(srt)
                extras[f"sf1_{name}_n"] = len(srt)
        release_shared_persists()
        spark.catalog.clearCache()
        extras["sf1_total"] = round(
            sum(v for k, v in extras.items()
                if k.startswith("sf1_")
                and not k.endswith(
                    ("_rows", "_sec", "_spread", "_spread3", "_median",
                     "_n", "_cold", "_cold_build")
                )),
            3,
        )
        # round 14 (r13 verdict "What's wrong #3"): the sf0.1 headline
        # is per-action-overhead bound for its heavies, so the lane
        # that actually carries scale signal is sf1 — promote its
        # MEDIAN total (min total rides along) into the one-line JSON
        # so PERF comparisons can gate on it. Median falls back to the
        # recorded min for any item without multi-sample stats.
        extras["sf1_total_median"] = round(
            sum(
                extras.get(f"sf1_{name}_median", extras[f"sf1_{name}"])
                for name in SF1_QUERIES
                if f"sf1_{name}" in extras
            ),
            3,
        )

    # machine-state calibration, session end: the mean of the four
    # probe/nominal ratios is the run's contention index (start AND
    # end sampled so a mid-run contention shift is visible in the
    # per-probe extras even though the index averages over it)
    extras["probe_cpu_end_sec"] = round(_cpu_probe_sec(), 3)
    extras["probe_shuffle_end_sec"] = round(_shuffle_probe_sec(spark), 3)
    extras["probe_cpu_nominal_sec"] = CPU_PROBE_NOMINAL
    extras["probe_shuffle_nominal_start_sec"] = SHUFFLE_NOMINAL_START
    extras["probe_shuffle_nominal_end_sec"] = SHUFFLE_NOMINAL_END
    ratios = [
        extras["probe_cpu_start_sec"] / CPU_PROBE_NOMINAL,
        extras["probe_cpu_mid_sec"] / CPU_PROBE_NOMINAL,
        extras["probe_cpu_end_sec"] / CPU_PROBE_NOMINAL,
        extras["probe_shuffle_start_sec"] / SHUFFLE_NOMINAL_START,
        extras["probe_shuffle_mid_sec"] / SHUFFLE_NOMINAL_END,
        extras["probe_shuffle_end_sec"] / SHUFFLE_NOMINAL_END,
    ]
    contention_index = round(sum(ratios) / len(ratios), 2)
    # the MAX ratio is the spike detector the mean can dilute: a
    # mid-run contention burst shows here even when the endpoints
    # read quiet
    extras["contention_index_max"] = round(max(ratios), 2)
    extras["contention_index"] = contention_index

    total = round(sum(timings.values()), 3)
    payload = {
        "metric": "headline_query_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "contention_index": contention_index,
        "extras": extras,
    }
    # first-class sf1 lane totals in the one-line JSON (r13 verdict
    # "What's wrong #3": the sf0.1 headline cannot see parallelism for
    # its heavies; the sf1 lane carries the scale signal, so PERF can
    # now gate on it from the compact artifact alone). Absent when the
    # lane is disabled (SPARK_GRAFT_SF1=0).
    if "sf1_total" in extras:
        payload["sf1_total"] = extras["sf1_total"]
        payload["sf1_total_median"] = extras["sf1_total_median"]
    # Persist the complete JSON in-repo FIRST (latest snapshot + an
    # append-only history line) — the stdout step below must never be
    # able to destroy a multi-minute run's measurements (round-12
    # review: an assert placed before these writes would have lost the
    # whole sweep on an oversize line).
    try:
        stamped = dict(payload, ts=time.strftime("%Y-%m-%dT%H:%M:%S"))
        with open(os.path.join(REPO, "bench_full.json"), "w") as f:
            json.dump(stamped, f, indent=2, sort_keys=True)
            f.write("\n")
        with open(os.path.join(REPO, "bench_history.jsonl"), "a") as f:
            f.write(json.dumps(stamped, sort_keys=True) + "\n")
    except OSError:
        pass  # a read-only checkout must not fail the bench
    # The driver's BENCH_rN capture truncates stdout to ~2000 chars —
    # rounds 10 and 11 both recorded "parsed": null because the full
    # payload (with the sf1 extras dict) blew past the cap and only a
    # tail survived. stdout therefore carries ONE compact JSON line
    # (metric + per-query headline timings, ~600 chars at 18 queries);
    # if the headline set ever grows past the cap, degrade to the
    # totals-only line rather than an unparseable one (never raise:
    # the measurements are already on disk above).
    compact = dict(payload)
    compact.pop("extras")
    line = json.dumps(compact)
    if len(line) >= 1800:
        compact["queries"] = "see bench_full.json"
        line = json.dumps(compact)
    if len(line) >= 1800:
        # second degradation (round-13 advice): if the non-queries
        # metadata itself ever grows past the cap, fall back to a
        # minimal fixed key set that can't — never an unparseable line
        line = json.dumps(
            {
                "metric": payload["metric"],
                "value": total,
                "unit": "sec",
                "sf": sf,
                "contention_index": contention_index,
                "queries": "see bench_full.json",
            }
        )
    print(line)
    print(
        f"[bench] full payload ({len(extras)} extras keys) -> "
        "bench_full.json / bench_history.jsonl",
        file=sys.stderr,
    )
    spark.stop()


if __name__ == "__main__":
    main()
