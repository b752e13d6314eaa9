"""Benchmark harness: runs the headline query set at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from voter_gateway_spark.queries import QUERIES  # noqa: E402
from voter_gateway_spark.session import build_spark, codegen_stats  # noqa: E402

# The r1 driver baseline: the 16 queries bench.py measured in round 1
# and their recorded total (BENCH_r01.json, sf0.1). The operative
# perf bar is 2.0x of this total; r10->r11 showed the single-trial
# wall drifting 1.47x -> 1.81x on byte-identical plans (shared-box
# noise), so the ratio is computed and published IN the artifact from
# best-of-N trials rather than eyeballed across rounds.
R1_BASELINE_TOTAL = 11.223
R1_BASELINE_QUERIES = [
    "q1_pricing_summary",
    "q3_top_revenue_orders",
    "q5_region_revenue",
    "audit_coverage_customer",
    "match_cascade_orders_customers",
    "merge_upsert_customers",
    "dedup_documents_lang_source",
    "fuzzy_top1_documents",
    "text_token_stats",
    "text_langid",
    "text_fingerprint",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "embed_topk_cosine",
    "events_hourly",
    "events_sessionized",
]

BENCH_QUERIES = [
    "q1_pricing_summary",
    "q3_top_revenue_orders",
    "q5_region_revenue",
    "audit_coverage_customer",
    "match_cascade_orders_customers",
    "merge_upsert_customers",
    "dedup_documents_lang_source",
    "fuzzy_top1_documents",
    "text_token_stats",
    "text_langid",
    "text_fingerprint",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "embed_topk_cosine",
    "events_hourly",
    "events_sessionized",
    # r2 operator families (VERDICT r2 item 5: regressions in new code
    # must show up in wall-clock, not just plan-shape tests)
    "scd2_customers",
    "asof_order_revenue_events",
    "interval_join_events_windows",
    "dedup_incremental_batch",
    "pack_sequences_documents",
    # r3 families: CDC fold, tf-idf, funnel, span contamination,
    # quota admission
    "cdc_apply_orders",
    "text_tfidf_top_terms",
    "events_funnel",
    "contamination_span_pairs",
    "events_value_cap",
    # r4 families: oracle-checked Lloyd IVF, two-phase training shuffle
    "embed_ivf_lloyd_topk",
    # auto-√N cell count — the scale form; the fixed-16 Lloyd above is
    # the oracle-pinned correctness form and goes quadratic by design
    # when |Q| grows with N (skip it at big replicas via
    # SPARK_GRAFT_BENCH_SKIP)
    "embed_ivf_auto_topk",
    "docs_training_shuffle",
    # corpus-frequency boilerplate removal (segment dedup + reassembly)
    "text_boilerplate_scrub",
    # SemDeDup cluster-blocked semantic dedup over embeddings
    "embed_semantic_dedup",
    # r6: substring-span scrub — the pair-free span-level dedup; its
    # whole point is the flat decade curve (3.5/3.7/12.6 s at
    # sf0.1/10x/100x measured at introduction), so it stays in the
    # bench to keep that shape pinned
    "dedup_substring_scrub",
    # r7: bloom-prefiltered exact admission — steady-state dedup
    # ingestion; tracked so the probe/verify split stays cheap
    "dedup_bloom_admission",
    # r9: trigram Stupid-Backoff LM scoring (the CCNet-ladder rung —
    # three count joins over one shared scan) and the two-batch
    # daily-ingest composite (bloom admission → band probe →
    # incremental components → split refresh; the steady-state path
    # whose batch-sized-shuffle claim the decade runs check)
    "text_trigram_logprob",
    "pipeline_daily_ingest",
    # r10: paragraph-granularity exact dedup (the Dolma middle
    # granularity between whole-doc dedup and substring scrub) and
    # the perplexity-gated curation composite (gopher -> trigram-LM
    # floor -> encoding -> exact+near dedup, per-source attrition)
    "dedup_paragraph_scrub",
    "pipeline_quality_gate",
]


def _stage_totals(spark) -> tuple[int, int, int, int] | None:
    """Cumulative (shuffle_read, shuffle_write, mem_spill, disk_spill)
    bytes over all retained stages, from the JVM AppStatusStore. The
    100 TB story is shuffle-volume-shaped: per-query byte deltas make a
    quadratic visible even when wall-clock noise hides it. Returns None
    if the (version-specific) py4j surface is unavailable — the bench
    then reports seconds only instead of failing."""
    try:
        sc = spark.sparkContext
        # drain the listener bus so the store has seen the job's last
        # stage-completed events before we snapshot
        try:
            sc._jsc.sc().listenerBus().waitUntilEmpty(5000)
        except Exception:
            time.sleep(0.2)
        store = sc._jsc.sc().statusStore()
        empty = sc._jvm.java.util.Collections.emptyList()
        no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
        it = store.stageList(empty, False, False, no_quantiles, empty).iterator()
        read = write = mem = disk = 0
        while it.hasNext():
            s = it.next()
            read += s.shuffleReadBytes()
            write += s.shuffleWriteBytes()
            mem += s.memoryBytesSpilled()
            disk += s.diskBytesSpilled()
        return read, write, mem, disk
    except Exception:
        return None


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # retain enough stage history that per-query deltas never lose a
    # stage to eviction mid-snapshot (default retainedStages is 1000)
    spark = build_spark(
        app_name="vgs-bench",
        extra_conf={"spark.ui.retainedStages": "100000"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    # JVM warm-up: the first job pays class loading. It warms no other
    # query's generated code — each query compiles its own classes in
    # its first trial (trial_compiles in the detail file)
    QUERIES["q1_pricing_summary"](spark, sf_dir).count()

    # best-of-N per query: this box shows multi-second scheduler noise
    # spikes; the min is the reproducible engine cost. Default 3 (r11
    # verdict ask #5: best-of-2 left a 15% wall swing on byte-identical
    # plans — one extra trial costs ~1 min at sf0.1 and tightens the
    # gate the 2.0x bar is judged on).
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    # SPARK_GRAFT_BENCH_SKIP: comma-separated queries to exclude — used
    # by the 100x decade run to drop the brute-force cosine baseline,
    # whose O(queries x corpus) contract is quadratic BY DESIGN (25B
    # pairs at 100x; the scale paths are the IVF/LSH/int8 variants)
    skip = set(
        s for s in os.environ.get("SPARK_GRAFT_BENCH_SKIP", "").split(",") if s
    )
    # SPARK_GRAFT_BENCH_EXTRA: comma-separated catalog queries appended
    # for THIS run only — used by the decade runs to measure queries
    # that aren't part of the stable 33-query headline (adding them to
    # BENCH_QUERIES would shift the sf0.1 total every round and break
    # the baseline comparison)
    extra = []
    for s in os.environ.get("SPARK_GRAFT_BENCH_EXTRA", "").split(","):
        if not s:
            continue
        if s in QUERIES and s not in BENCH_QUERIES:
            extra.append(s)
        else:
            # no silent caps: a typo'd extra must be visible before the
            # (long) decade run, not after it
            print(f"bench: ignoring unknown/duplicate extra {s!r}", file=sys.stderr)
    timings: dict[str, float] = {}
    trial_sec: dict[str, list[float]] = {}
    shuffle_bytes: dict[str, int] = {}
    spill_bytes: dict[str, int] = {}
    trial_compiles: dict[str, list[int]] = {}
    trial_compile_ms: dict[str, list[float]] = {}
    for name in BENCH_QUERIES + extra:
        if name in skip:
            continue
        best = float("inf")
        trials: list[float] = []
        best_delta: tuple[int, int, int, int] | None = None
        compiles: list[int] = []
        compile_ms: list[float] = []
        for _ in range(runs):
            before = _stage_totals(spark)
            cg0 = codegen_stats(spark)
            t0 = time.time()
            # the noop v2 sink forces FULL evaluation of every column.
            # count() (used through r3) lets Catalyst eliminate any
            # operator that can't change row multiplicity — final
            # windows (asof, pack_sequences, funnel, training_shuffle)
            # and unique-key joins dropped out of those timings, so
            # r4+ numbers are honest but slightly higher than r1-r3's
            # on the same plans
            QUERIES[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            elapsed = time.time() - t0
            cg1 = codegen_stats(spark)
            after = _stage_totals(spark)
            trials.append(round(elapsed, 3))
            # classes compiled (codegen cache misses) and their compile
            # time: nonzero in a later trial means the cache thrashes
            compiles.append(cg1[0] - cg0[0])
            compile_ms.append(round(cg1[1] - cg0[1], 1))
            if elapsed < best:
                best = elapsed
                if before is not None and after is not None:
                    best_delta = tuple(a - b for a, b in zip(after, before))
        timings[name] = round(best, 3)
        trial_sec[name] = trials
        trial_compiles[name] = compiles
        trial_compile_ms[name] = compile_ms
        if best_delta is not None:
            # shuffle volume = bytes WRITTEN to shuffle (each byte
            # counted once); spill = bytes that actually hit disk
            shuffle_bytes[name] = best_delta[1]
            spill_bytes[name] = best_delta[3]
        # eager localCheckpoints pin block-manager memory until the
        # async ContextCleaner reclaims them; across a 28-query session
        # that backlog inflates later queries' GC time, so nudge the
        # cleaner between queries to keep per-query numbers independent
        spark.sparkContext._jvm.System.gc()

    # extras are reported per-query but EXCLUDED from the headline sum —
    # the whole point of the env hook is that the total stays comparable
    # to the stable 33-query baseline across rounds
    total = round(sum(v for k, v in timings.items() if k not in extra), 3)
    out = {
        "metric": "headline_queries_wall_clock",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "runs_per_query": runs,
    }
    # publish the perf-bar ratio in the artifact itself: best-of-N
    # total over the r1-comparable 16-query subset / the r1 baseline.
    # Only meaningful at the baseline's scale factor and with the full
    # subset measured (decade runs skip/replace queries).
    if out["sf"] == 0.1 and all(q in timings for q in R1_BASELINE_QUERIES):
        r1_sub = round(sum(timings[q] for q in R1_BASELINE_QUERIES), 3)
        out["r1_comparable_sec"] = r1_sub
        out["r1_ratio"] = round(r1_sub / R1_BASELINE_TOTAL, 3)
    if shuffle_bytes:
        # totals stay in the summary line (2 short ints); the per-query
        # byte maps go to a side file — the driver captures only the
        # LAST 2000 chars of stdout and parses the final line, and the
        # full byte maps pushed the wall-clock numbers out of that
        # window in r6/r7 (BENCH_r0{6,7}.json "parsed": null).
        # SCALING.md's decade tables read the maps from the detail file.
        out["shuffle_bytes_total"] = sum(shuffle_bytes.values())
        out["spill_bytes_total"] = sum(spill_bytes.values())
        detail = {
            "sf": out["sf"],
            "shuffle_bytes": shuffle_bytes,
            "spill_bytes": spill_bytes,
            # every trial's wall time, so a noisy round is diagnosable
            # from the artifact (which trial spiked) instead of only
            # from a rerun
            "trial_sec": trial_sec,
            "trial_compiles": trial_compiles,
            "trial_compile_ms": trial_compile_ms,
        }
        detail_path = os.environ.get(
            "SPARK_GRAFT_BENCH_DETAIL",
            str(Path(__file__).resolve().parent / "BENCH_detail.json"),
        )
        try:
            with open(detail_path, "w") as fh:
                json.dump(detail, fh)
        except OSError:
            pass  # detail is best-effort; the summary line must print
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
