"""Engine benchmark — one JSON line for the driver (BENCH_r{N}.json).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1) on
local[$SPARK_GRAFT_CPUS]. Each query executes against the noop sink so we
measure full distributed compute without driver-side result collection.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

from data_pipelines_course_spark.queries import SCALE_TWINS, all_queries
from data_pipelines_course_spark.session import get_spark

# Headline set: one per operator family, weighted toward the shapes that
# dominate at 100 TB (scan+agg, big join, shuffle-heavy text ops, LSH).
HEADLINE = (
    "flagship_grouped_agg",
    "join_multiway_revenue",
    "wordcount",
    "topk_words",
    "value_counts",
    "grouped_hour_sum",
    "window_first_last_ratio",
    "rank_customers",
    "json_group_by_key",
    "text_quality",
    "dedup_exact",
    "ngram_jaccard_topk",
    "ngram_jaccard_threshold",
    "minhash_lsh_pairs",
    "simhash_pairs",
    "knn_brute_force",
    "ann_lsh_topk",
    "ivf_topk",
    "media_feature_extract",
)

# New-in-r2 operator families, benched OUTSIDE the headline metric so the
# frozen 19-query headline stays round-over-round comparable; reported in
# the JSON under "extra_queries".
EXTRA = (
    "sessionize_events",
    "decontaminate_exact",
    "decontaminate_lsh",
    "mixture_sample_events",
    "corpus_curation",
    "dedup_clusters",
    "tpch_q3_unshipped_revenue",
    "tpch_q6_forecast_revenue",
    "price_quantiles",
    # r3 additions
    "price_quantiles_approx",
    "tpch_q1_pricing_summary",
    "tpch_q4_late_shipment_priority",
    "tpch_q5_local_supplier_volume",
    "tpch_q18_large_orders",
    "repetition_ratio",
    "type_token_ratio_by_source",
    "contamination_report",
    "stratified_sample_per_source",
    "embedding_norm_stats",
    "event_funnel",
    "retention_cohorts",
    "tpch_q13_order_distribution",
    "tpch_q17_small_quantity_revenue",
    "tpch_q21_waiting_suppliers",
    "tpch_q9_product_profit",
    "pii_redaction",
    "boilerplate_ngrams",
    # late-r3 additions. embedding_kmeans / semdedup_candidates are
    # EXCLUDED on purpose: they train eagerly at query construction
    # (driver-loop Lloyd iterations), so a cold/warm split here would
    # mis-attribute the training cost — their wall-clock lives in
    # NOTES_r03.md instead.
    "decontaminate_ngram_hit",
    "dedup_keep_best",
    "corpus_curation_full",
    "cogroup_conversion_lag",
    "conversion_lag_native",  # JVM twin of the cogroup exemplar (same oracle)
    # quality/audit family (late r3)
    "gopher_quality_flags",
    "unigram_logprob_score",
    "quality_mixture_sample",
    "ngram_novelty_report",
    "scd2_user_state_intervals",
    "snapshot_diff_orders",
    "table_profile_orders",
    "media_dedup_hash",
    "pq_topk",
    "ivf_pq_topk",
    "media_feature_extract_arrow",  # mapInArrow twin of the pandas path
    "weighted_sample_docs",
    "encode_docs_to_ids",
    "pack_sequences",
    "vocab_typo_pairs",
    "vocab_typo_pairs_symspell",
    "value_outliers_by_type",
    # r5: the two registered scale twins that were in neither list, so
    # their numbers never appeared in a bench artifact (the prefix
    # AllPairs twin is lazy; two-star is an eager driver loop like
    # dedup_clusters, and extras deliberately re-time construction).
    "ngram_jaccard_threshold_prefix",
    "dedup_clusters_twostar",
    # r4 additions
    "dup_span_report",
    "temperature_resample_docs",
    "dedup_cluster_size_histogram",
    "quantity_quantiles_by_flag_approx",
    "context_windows_report",
    "lang_confusion_report",
    "dup_span_trim",
    "curation_attrition_report",
    # bpe_merge_table / bpe_token_stats are EXCLUDED like embedding_kmeans:
    # they train eagerly at construction (driver merge-loop), so a
    # cold/warm split would mis-attribute the training cost. The three
    # *_stream_convergence hooks are EXCLUDED too: each drives a
    # maintenance sink end-to-end (multi-batch writes + a replay), so
    # they measure sink I/O, not a query plan — their wall-clock lives
    # in NOTES_r04.md.
)


def run_query(df) -> None:
    """Force full execution without collecting results to the driver."""
    df.write.format("noop").mode("overwrite").save()


def loadavg() -> float:
    """Host 1-minute load average — the bench-noise tell (VERDICT r6 #3).

    This machine's ambient load cycles 0.2 -> 5+ with nothing of ours
    running; r5/r6 adjudicated "regression or noise?" via NOTES prose
    and judge reruns. Recording load per rep makes a noisy run
    self-labeling: a warm number taken at load 5 explains itself.

    One decimal, deliberately: the headline JSON line must stay well
    under the driver's 2000-char tail-capture window (BENCH_r06.json
    shows `tail` is the last 2000 chars; a line that doesn't fit whole
    parses to null, the BENCH_r03 failure mode), and 95 trace values
    at 2 decimals plus two-digit loads would crowd it."""
    try:
        with open("/proc/loadavg") as f:
            return round(float(f.read().split()[0]), 1)
    except OSError:
        return round(os.getloadavg()[0], 1)


def page_cache_mb() -> int | None:
    """Host page-cache size (Buffers+Cached, MB) — the sf1 cache-state
    marker (VERDICT r8 #3): three same-HEAD sf1 runs spanned 47.5-54.9 s
    purely from host I/O retention, so the wall total cannot detect a
    real regression unless the artifact records what the cache held."""
    try:
        vals = {}
        with open("/proc/meminfo") as f:
            for line in f:
                k = line.split(":")[0]
                if k in ("Buffers", "Cached"):
                    vals[k] = int(line.split()[1])
        return (vals.get("Buffers", 0) + vals.get("Cached", 0)) // 1024
    except OSError:
        return None


def reread_probe_mb_s(sf_dir: str) -> float | None:
    """Re-read throughput of the tier's largest parquet file, plain file
    I/O — the direct cache-state tell: multi-GB/s = the working set is
    page-cache-resident; disk-speed = a cold cache. Recorded AFTER the
    timed queries so it cannot perturb them."""
    try:
        files = [os.path.join(sf_dir, f) for f in os.listdir(sf_dir)
                 if f.endswith(".parquet")]
        if not files:
            return None
        path = max(files, key=os.path.getsize)
        size = os.path.getsize(path)
        t0 = time.perf_counter()
        with open(path, "rb") as f:
            while f.read(1 << 22):
                pass
        dt = time.perf_counter() - t0
        return round(size / dt / (1 << 20), 1) if dt > 0 else None
    except OSError:
        return None


def wait_for_quiet(gate: float, max_wait_sec: float = 600.0,
                   poll_sec: float = 10.0) -> dict:
    """Block until 1-min load < gate, with bounded retries.

    Returns metadata for the JSON: whether the gate was met, how long we
    waited, and the load on exit. On timeout the bench RUNS ANYWAY
    (a number labeled noisy beats no number) — `met: false` in the JSON
    tells the reader to trust cold_total's inflation ratio instead."""
    t0 = time.perf_counter()
    load_entry = load = loadavg()
    while load >= gate and (time.perf_counter() - t0) < max_wait_sec:
        print(f"  quiet-gate: load {load} >= {gate}, waiting...",
              file=sys.stderr, flush=True)
        time.sleep(poll_sec)
        load = loadavg()
    # Both loads recorded (ADVICE r7): on a timed-out gate the exit load
    # is NOT the load the gate saw at entry, and the persisted JSON is
    # what readers adjudicate noise from.
    return {"gate": gate, "met": load < gate,
            "waited_sec": round(time.perf_counter() - t0, 1),
            "load_at_entry": load_entry, "load_at_exit": load}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    # --quiet-gate=<load> (or SPARK_GRAFT_QUIET_GATE): wait for an
    # ambient-load window before timing, bounded at 10 min. The driver
    # invokes bench.py bare, so per-rep load fields below appear in the
    # JSON regardless of whether the gate is used.
    gate_env = os.environ.get("SPARK_GRAFT_QUIET_GATE")
    gate: float | None = float(gate_env) if gate_env else None
    for a in sys.argv[1:]:
        if a.startswith("--quiet-gate="):
            gate = float(a.split("=", 1)[1])
    quiet = wait_for_quiet(gate) if gate is not None else None
    cache_start = page_cache_mb()
    spark = get_spark(app_name="engine-bench")
    spark.sparkContext.setLogLevel("ERROR")
    queries = all_queries()

    # JVM/codegen warmup on a trivial plan so q1 isn't charged for startup.
    from pyspark.sql import functions as F
    run_query(spark.range(1000).groupBy(F.col("id") % 10).count())

    # Each query runs cold once (one-time engine costs: whole-stage
    # codegen compilation, Python-worker pool spawn, parquet footer
    # caching — amortized to zero on a long-lived 100 TB cluster), then
    # WARM_REPS warm runs of the same plan with the MIN reported — the
    # standard noise-floor protocol (VERDICT r4 #8: same-code warm runs
    # banded 1.06–1.55 s on the shingle path across four runs, so a
    # single warm sample chases machine-load ghosts in cross-round
    # comparisons; the min is the reproducible number).
    # Warm reps re-run the CONSTRUCTED frame (protocol unchanged since
    # r2, so rounds stay comparable): one-time work at construction or
    # first execution — probe-vector collects (knn/ann/ivf), quantizer
    # training, and (new r5) the lazy digest checkpoints in the
    # LSH/Jaccard family — is excluded from the steady-state number and
    # carried by `cold`. A rebuilt-frame protocol was tried and
    # rejected: it charges every probe query its construction-time
    # driver jobs and breaks cross-round comparability (NOTES_r05).
    warm_reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))
    timings: dict[str, float] = {}
    cold: dict[str, float] = {}
    # Per-query loadavg trace: [cold-start, each warm-rep start..., end].
    # Self-labeling noise (VERDICT r6 #3): a rep that overlapped an
    # ambient-load spike carries the spike in its own row.
    loads: dict[str, list[float]] = {}
    for name in HEADLINE:
        trace = [loadavg()]
        t0 = time.perf_counter()
        df = queries[name](spark, sf_dir)  # plan construction + analysis
        run_query(df)
        cold[name] = round(time.perf_counter() - t0, 3)
        best = float("inf")
        for _ in range(warm_reps):
            trace.append(loadavg())
            t0 = time.perf_counter()
            run_query(df)
            best = min(best, time.perf_counter() - t0)
        trace.append(loadavg())
        loads[name] = trace
        timings[name] = round(best, 3)
        print(f"  {name}: {timings[name]:.3f}s (cold {cold[name]:.3f}s, "
              f"min of {warm_reps}, load {trace[0]}->{trace[-1]})",
              file=sys.stderr)

    # The headline JSON is printed TWICE — immediately after the headline
    # loop AND as the very last line — and kept short (extras go to a
    # separate stderr line). BENCH_r03.json came back `parsed: null`
    # because the driver's tail capture truncated one long final line
    # mid-string; duplicating a short line makes the capture window
    # irrelevant: any whole copy of it parses to the same dict.
    # Subtotal split (VERDICT r8 #3): the registry-tagged quadratic GT
    # twins (HEADLINE ∩ SCALE_TWINS keys: the two ngram_jaccard shapes)
    # are shuffle-spill-I/O-bound at sf1 and inherit the host's
    # page-cache state; the remaining 17 are CPU-bound and round-over-
    # round comparable regardless of cache. Cross-round comparisons at
    # sf1 use cpu_bound_subtotal, not value.
    quad = {n for n in HEADLINE if n in SCALE_TWINS}
    cpu_subtotal = round(sum(t for n, t in timings.items()
                             if n not in quad), 3)
    quad_subtotal = round(sum(t for n, t in timings.items()
                              if n in quad), 3)
    headline_payload = json.dumps({
        "metric": "headline_queries_total_wall",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "cold_total": round(sum(cold.values()), 3),
        "cpu_bound_subtotal": cpu_subtotal,
        "quadratic_subtotal": quad_subtotal,
        # Cache-state markers: page cache at bench entry vs here, plus a
        # plain-I/O re-read probe of the tier's largest parquet file
        # (multi-GB/s = cache-resident working set; disk-speed = cold).
        "page_cache_mb": [cache_start, page_cache_mb()],
        "reread_mb_s": reread_probe_mb_s(sf_dir),
        "sf": sf,
        # Protocol self-description (VERDICT r5 #7): warm number = min of
        # `reps` re-runs of the constructed frame; one-time work carried
        # by cold. `staging` is the digest-materialization mode in force
        # (staging.py) so cross-round artifacts are comparable.
        "reps": warm_reps,
        "staging": os.environ.get("SPARK_GRAFT_STAGING", "checkpoint"),
        # Noise self-labeling (VERDICT r6 #3): per-query 1-min loadavg
        # trace [cold-start, warm-rep starts..., end] + the quiet-gate
        # outcome (null when ungated). Reading: quiet floor lives at
        # load <~1; traces >~3 explain an inflated warm/cold total.
        "load": loads,
        "quiet_gate": quiet,
    })
    print(headline_payload, flush=True)

    # Extras time CONSTRUCTION + execution, rebuilding the frame for the
    # warm run: dedup_clusters' convergence loop runs eagerly (per-round
    # localCheckpoint + count) at construction, so timing only a re-run
    # of the returned frame would measure a scan of its checkpointed
    # result, not the query (the r2 numbers did exactly that). For lazy
    # queries construction is ~ms and the change is noise.
    # NOTE (r5): queries with session-scoped training/build memos
    # (dedup_clusters and its consumers, pq/ivf_pq, kmeans-backed ones)
    # pay their build in the COLD run; the warm rebuild hits the memo —
    # which is the product behavior, but means the warm number measures
    # serving cost only. extra_cold keeps the build cost visible.
    extra: dict[str, float] = {}
    extra_cold: dict[str, float] = {}
    for name in EXTRA:
        t0 = time.perf_counter()
        run_query(queries[name](spark, sf_dir))  # cold
        extra_cold[name] = round(time.perf_counter() - t0, 3)
        t0 = time.perf_counter()
        run_query(queries[name](spark, sf_dir))
        extra[name] = round(time.perf_counter() - t0, 3)
        print(f"  (extra) {name}: {extra[name]:.3f}s "
              f"(cold {extra_cold[name]:.3f}s)", file=sys.stderr)

    # Cold breakdown per staged family (VERDICT r12 #3): the cold pass
    # carries every one-time staging build (serving indexes, LSH/vocab
    # digests), so the per-family subtotal prices the staging budget a
    # reader would otherwise have to reconstruct from 80 cold numbers.
    # Groupings are the queries whose cold pays each family's build;
    # queries not listed are ordinary cold (codegen + scan warmup).
    # Each value sums WHOLE-QUERY cold times (codegen + scan warmup +
    # staging), so it is an upper bound on the staging build alone.
    # Family members absent from both cold dicts contribute nothing and
    # are listed under staging_cold_missing, so a gap is never silent.
    staged_families = {
        "ann_serving_index": ("ann_lsh_topk", "ivf_topk", "pq_topk",
                              "ivf_pq_topk"),
        "lsh_digests": ("minhash_lsh_pairs", "simhash_pairs",
                        "ngram_jaccard_threshold_prefix",
                        "decontaminate_lsh", "decontaminate_exact",
                        "decontaminate_ngram_hit"),
        "curation_digests": ("corpus_curation", "corpus_curation_full",
                             "contamination_report",
                             "curation_attrition_report",
                             "quality_mixture_sample"),
        "vocab_digests": ("encode_docs_to_ids", "unigram_logprob_score"),
        "span_words": ("dup_span_report", "dup_span_trim"),
    }
    both_cold = dict(cold)
    both_cold.update(extra_cold)
    staging_cold = {
        fam: round(sum(both_cold.get(q, 0.0) for q in qs_), 3)
        for fam, qs_ in staged_families.items()
    }
    staging_missing = {
        fam: [q for q in qs_ if q not in both_cold]
        for fam, qs_ in staged_families.items()
    }
    # Full detail (cold per-query + extras) on stderr for NOTES/PLAN_AUDIT.
    print(json.dumps({"cold_queries": cold, "extra_queries": extra,
                      "extra_cold_queries": extra_cold,
                      "staging_cold_families": staging_cold,
                      "staging_cold_missing": staging_missing}),
          file=sys.stderr, flush=True)
    spark.stop()
    # LAST line on stdout: the same short headline dict.
    print(headline_payload, flush=True)


if __name__ == "__main__":
    main()
