"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS]; prints ONE JSON line.

Materialization is via the noop sink (full computation, no collect/IO
skew), so timings measure the distributed plan, not driver transfer.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: headline set: flagship reconciliation + fingerprint, the composite
#: analytics, and one of each extension family (dedup / ANN / text /
#: multimodal / event-time)
HEADLINE = [
    "j2_count_reconcile",
    "a3_table_fingerprint",
    "a4_deterministic_sample",
    "q1_pricing_summary",
    "q2_revenue_by_nation",
    "x_dedup_fingerprint",
    "x_dedup_minhash_lsh",
    "x_ann_brute_topk",
    "x_text_token_count",
    "x_multimodal_decode_meta",
    "x_events_hourly",
    "x_events_sessionize",
]

#: timed and reported SEPARATELY (queries_extra / total_extra) so the
#: 12-query HEADLINE total stays byte-comparable across every round's
#: BENCH_r{N}.json. Pairs worth reading against each other in one run:
#: x_ann_ivf_topk (probe-pruned scale path) vs x_ann_brute_topk;
#: x_decontaminate_bloom vs x_decontaminate (same answer); the PQ rows
#: vs x_ann_ivf_topk; the persisted-index rows (time includes the index
#: build + write) vs their recompute twins; x_embed_near_dup (declared
#: O(n^2) exactness baseline) vs the LSH-blocked x_ann_lsh_pairs; the
#: codec rows (JPEG / PNG / GIF) against each other; and
#: x_digit_quantiles (includes its histogram build) vs x_digit_hist.
EXTRA = [
    "x_ann_ivf_topk",
    "x_dedup_lines",
    "x_text_entropy",
    "x_doc_chunk",
    "x_decontaminate",
    "x_decontaminate_bloom",
    "x_dedup_cross",
    "x_train_val_split",
    "x_ann_pq_topk",
    "x_ann_ivfpq_topk",
    "x_ann_ivfpq_index_search",
    "x_quality_model",
    "x_mixture_temperature",
    "x_corpus_ngram_topk",
    "x_ann_ivf_cell_stats",
    "x_quality_gate_report",
    "x_strip_boilerplate",
    "x_dedup_semantic",
    "x_decontaminate_embedding",
    "x_dedup_intradoc_lines",
    "x_dedup_repeated_spans",
    "x_ann_lsh_pairs",
    "x_dedup_simhash",
    "x_dedup_ngram_jaccard",
    "x_embed_near_dup",
    "x_multimodal_resize_jpeg",
    "x_multimodal_frames",
    "x_multimodal_resize_png",
    "x_audio_zero_crossings",
    "x_validate_expectations",
    "x_multimodal_resize_gif",
    "x_text_bigram_logprob",
    "x_url_canonical",
    "x_merge_upsert",
    "x_scd2_apply",
    "x_kmv_distinct",
    "x_kmv_grouped",
    "x_countmin_heavy",
    "x_digit_hist",
    "x_digit_quantiles",
    "x_robots_decisions",
]


def main() -> None:
    from hive_scripts_spark.plans.registry import QUERIES
    from hive_scripts_spark.session import get_spark

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    # warm the JVM + parquet footers once (not counted)
    QUERIES["a1_count_star"](spark, SF_DIR).write.format("noop").mode(
        "overwrite"
    ).save()
    # warm the Python worker pool + Arrow/pandas imports (not counted):
    # the first pandas-UDF task otherwise pays ~1.5s of interpreter
    # startup that has nothing to do with the measured plan
    import pandas as _pd  # noqa: F401

    spark.range(0, 64, 1, 32).mapInPandas(
        lambda it: it, "id long"
    ).write.format("noop").mode("overwrite").save()

    # per-query failure isolation (VERDICT r4 item 3): one broken query
    # must never zero the whole round's timing artifact. Failures record
    # null + the error string; the JSON line always prints.
    errors: dict[str, str] = {}

    # CPU-steal telemetry (r10): this box is a VM whose host steals CPU
    # in multi-second bursts (measured: 11 CPU-seconds taken in one 5s
    # window while the guest was the only thing running) — enough to
    # turn a 0.9s query into a 9s rep while loadavg and the pre-bench
    # probes both look healthy, because the bursts are transient and
    # land mid-run. /proc/stat's steal counter is the ground truth the
    # hypervisor exposes; recording its delta PER REP makes every
    # contaminated number self-explaining from the artifact alone:
    # a slow rep with steal_s ≈ the excess is the host, not the plan.
    _clk_tck = float(os.sysconf("SC_CLK_TCK")) if hasattr(os, "sysconf") else 100.0

    def _steal_ticks() -> int:
        try:
            with open("/proc/stat") as fh:
                parts = fh.readline().split()
            return int(parts[8]) if parts and parts[0] == "cpu" else 0
        except Exception:  # noqa: BLE001 — telemetry must never fail a run
            return 0

    def run_once(name: str) -> tuple[float | None, float]:
        steal0 = _steal_ticks()
        start = time.perf_counter()
        try:
            QUERIES[name](spark, SF_DIR).write.format("noop").mode(
                "overwrite"
            ).save()
        except Exception as exc:  # noqa: BLE001 — isolate, report, go on
            errors[name] = f"{type(exc).__name__}: {exc}"[:500]
            return None, 0.0
        elapsed = round(time.perf_counter() - start, 3)
        steal_s = round((_steal_ticks() - steal0) / _clk_tck, 2)
        return elapsed, steal_s

    # Steal-aware rep RETRY (r18, VERDICT r17 item 2): three consecutive
    # driver captures committed 6.70 -> 7.54 -> 10.04 s "best" while the
    # code was provably flat — the steal telemetry recorded the
    # contamination (16.3 CPU-seconds stolen in the r17 headline region)
    # but the committed headline still carried it, so every round spent
    # judge+builder effort re-litigating host noise the artifact had
    # already measured. Now a rep whose recorded steal exceeds 10% of
    # its wall (with a 0.3 s floor so sub-second reps don't retry on
    # scheduler dust) is DISCARDED and re-run, so queries_best converges
    # to the quiet number by construction. Retries are bounded (per-query
    # budget across its 3 reps — a persistently stolen box must not turn
    # a 10-minute bench into an unbounded loop) and every discarded
    # attempt is recorded under queries_rep_retries as [elapsed, steal_s]
    # so the artifact still shows what the contended reps measured. If
    # the budget exhausts, the last attempt stands and its nonzero
    # steal_s in queries_steal_s remains self-explaining.
    RETRY_STEAL_FRAC = 0.10
    RETRY_STEAL_FLOOR_S = 0.3
    RETRY_BUDGET_PER_QUERY = 4

    def _contaminated(elapsed: float | None, steal_s: float) -> bool:
        if elapsed is None:
            return False
        return steal_s > max(RETRY_STEAL_FRAC * elapsed, RETRY_STEAL_FLOOR_S)

    # Wait-for-quiet gate (r19, VERDICT r18 item 4): bounded retries
    # cannot outwait a persistently-stealing host (r18's capture kept
    # 1.7-3.3 s steal in best reps after exhausting the budget at
    # loadavg 6.98), so the timed region now STARTS only once the box
    # looks quiet — 1-min loadavg under the limit AND a sub-threshold
    # steal delta over a 10 s probe window — or after a bounded total
    # wait, in which case the artifact carries started_loaded=true so
    # the reader knows the numbers were taken under contention. The
    # timing methodology inside the region is unchanged.
    QUIET_LOAD_LIMIT = 4.0
    QUIET_STEAL_CPUS_PER_S = 0.5  # CPU-seconds stolen per wall-second
    QUIET_WINDOW_S = 10.0
    QUIET_MAX_WAIT_S = 300.0

    def _wait_for_quiet() -> tuple[bool, float]:
        """Returns (started_loaded, waited_s)."""
        t_start = time.monotonic()
        while True:
            waited = time.monotonic() - t_start
            if waited >= QUIET_MAX_WAIT_S:
                return True, round(waited, 1)
            if os.getloadavg()[0] >= QUIET_LOAD_LIMIT:
                time.sleep(5.0)
                continue
            s0 = time.monotonic()
            st0 = _steal_ticks()
            time.sleep(QUIET_WINDOW_S)
            dt = time.monotonic() - s0
            steal_rate = (_steal_ticks() - st0) / _clk_tck / dt
            if (
                steal_rate < QUIET_STEAL_CPUS_PER_S
                and os.getloadavg()[0] < QUIET_LOAD_LIMIT
            ):
                return False, round(time.monotonic() - t_start, 1)

    def run(
        names: list[str],
    ) -> tuple[
        dict[str, float | None],
        dict[str, float | None],
        dict[str, list[float | None]],
        dict[str, list[float]],
        dict[str, list[list[float]]],
    ]:
        """Each query executes THREE times, back to back. The FIRST
        timing is the historical cold series (`value`/`queries` stay
        byte-comparable with every prior BENCH_r{N}.json); the SECOND is
        the warm series — the r6 judge measured cold first-execution
        noise at 1-2 s/query on this box (enough to manufacture a
        phantom 31% regression) vs ~0.2 s warm, so round-over-round
        comparisons should read the warm numbers. The full rep list
        (r8 judge directive: measurement integrity) is emitted under
        `queries_reps`/`queries_extra_reps` so a reader can tell
        environmental contamination (rep2 ≉ rep1, high variance) from a
        genuine plan regression (all reps uniformly slower); the
        per-rep CPU-steal list (`queries_steal_s`, CPU-seconds the
        hypervisor took from the guest during that rep) pins which of
        the two it was."""
        cold: dict[str, float | None] = {}
        warm: dict[str, float | None] = {}
        reps: dict[str, list[float | None]] = {}
        steals: dict[str, list[float]] = {}
        retries: dict[str, list[list[float]]] = {}

        def rep(name: str, budget: list[int]) -> tuple[float | None, float]:
            r, s = run_once(name)
            while _contaminated(r, s) and budget[0] > 0:
                budget[0] -= 1
                retries.setdefault(name, []).append([r, s])
                r2, s2 = run_once(name)
                if r2 is None:
                    # a flaky retry must not discard a VALID measurement
                    # (ADVICE r19): keep the last successful attempt
                    # (its contamination stays self-explaining via the
                    # steal telemetry); the retry's failure is already
                    # noted in errors[name]
                    return r, s
                r, s = r2, s2
            return r, s

        for name in names:
            budget = [RETRY_BUDGET_PER_QUERY]
            # rep 0: the COMMITTED COLD VALUE IS ALWAYS THE FIRST
            # ATTEMPT (r19, ADVICE r18 item 1) — a retried rep 0 runs
            # after the query warmed JIT/page-cache/broadcast state, so
            # recording the retry as "cold" silently mixed warm-ish
            # numbers into the historical cold series. The steal-retry
            # still runs (its quiet result feeds reps[0]/best, which ARE
            # min-of-attempt series), but `queries`/`value` stay
            # like-for-like first-execution numbers; a contaminated
            # first attempt remains self-explaining via queries_steal_s
            # + queries_rep_retries.
            first0, firsts0 = run_once(name)
            r0, s0 = first0, firsts0
            while _contaminated(r0, s0) and budget[0] > 0:
                budget[0] -= 1
                retries.setdefault(name, []).append([r0, s0])
                rn, sn = run_once(name)
                if rn is None:
                    # flaky retry after a successful first attempt: keep
                    # the successful measurement (ADVICE r19) — reps 1-2
                    # still run and the retry error stays in errors[]
                    break
                r0, s0 = rn, sn
            r1, s1 = rep(name, budget) if r0 is not None else (None, 0.0)
            r2, s2 = rep(name, budget) if r1 is not None else (None, 0.0)
            cold[name], warm[name] = first0, r1
            # reps[0]/steals[0] are the post-retry attempt (the best-
            # series input); the first attempt is cold[name] and, when
            # retried, its [elapsed, steal] pair sits in retries[name]
            reps[name] = [r0, r1, r2]
            steals[name] = [s0, s1, s2]
        return cold, warm, reps, steals, retries

    # Machine-speed yardsticks (r9): the r8→r9 artifacts showed EVERY
    # query uniformly +20-80% vs r7 with no per-query plan change and a
    # near-idle loadavg — the signature of the HOST being slower (rounds
    # can land on different/throttled boxes), which load averages can't
    # show. Two fixed workloads whose time scales with machine speed:
    # a single-thread pure-Python loop (interpreter+core clock) and a
    # fixed JVM aggregation (codegen throughput across all cores).
    # Cross-round comparisons should read query_time/probe_time ratios.
    def _cpu_probe() -> float:
        start = time.perf_counter()
        acc = 0
        for i in range(3_000_000):
            acc = (acc * 31 + i) & 0xFFFFFFFF
        return round(time.perf_counter() - start, 3)

    def _jvm_probe() -> float:
        start = time.perf_counter()
        spark.range(0, 200_000_000, 1, int(os.cpu_count() or 8)).selectExpr(
            "sum(id * 3 + 1) as s"
        ).write.format("noop").mode("overwrite").save()
        return round(time.perf_counter() - start, 3)

    _cpu_probe()  # warm (first loop pays allocator/branch-predictor cost)
    cpu_probe_s = min(_cpu_probe() for _ in range(3))
    _jvm_probe()  # warm (first run pays codegen compile)
    jvm_probe_s = min(_jvm_probe() for _ in range(3))

    started_loaded, waited_quiet_s = _wait_for_quiet()
    load_before = os.getloadavg()
    t_bench_start = time.perf_counter()
    timings, timings_warm, timings_reps, timings_steal, timings_retries = run(
        HEADLINE
    )
    extra, extra_warm, extra_reps, extra_steal, extra_retries = run(EXTRA)
    load_after = os.getloadavg()
    bench_wall_s = round(time.perf_counter() - t_bench_start, 1)
    # re-probe AFTER the timed region (VERDICT r14: the upfront probe is
    # a point sample — r14's min-of-3 caught an idle slice while the run
    # itself was contended, so the _norm fields OVERSTATED 1.4-2.5x; the
    # inverse of r13, where normalization corrected an understated box).
    # Convention: trust the _norm series only when cpu_probe_s,
    # cpu_probe_after_s, and the loadavg pair AGREE the box was quiet
    # (probes within ~15% and loadavg well under the core count);
    # otherwise read min-of-reps raw and the steal/loadavg telemetry.
    cpu_probe_after_s = min(_cpu_probe() for _ in range(3))

    def total_of(d: dict[str, float | None]) -> float:
        return round(sum(t for t in d.values() if t is not None), 3)

    # Min-of-reps "best" series (r10): the steal counter proved this
    # box's interference is bursty but NOT always CPU-steal (same-run
    # tries show one random query 3-6x slow with steal~0 — host IO /
    # memory-bandwidth noise the guest can't attribute). min over the
    # 3 back-to-back reps is the same load-robust statistic
    # tools/sweep.py already ranks by; it is the right series for
    # round-over-round comparison on a shared host. warm (rep 2) stays
    # for continuity with r7-r9 artifacts.
    def best_of(reps: dict[str, list[float | None]]) -> dict[str, float | None]:
        return {
            name: (min(v for v in rs if v is not None) if any(v is not None for v in rs) else None)
            for name, rs in reps.items()
        }

    timings_best = best_of(timings_reps)
    extra_best = best_of(extra_reps)

    total = total_of(timings)
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    # Sidecar (r11): BENCH_r09/r10 recorded "parsed": null because the
    # full payload (per-query extras, 3-rep series, steal telemetry)
    # overflowed the driver's stdout tail capture. The rich record now
    # goes to bench_detail.json next to this script; stdout carries ONE
    # COMPACT final line with the contract fields (metric/value/unit/
    # queries/sf) plus the small cross-round totals and host yardsticks.
    detail = {
        "queries": timings,
        "queries_warm": timings_warm,
        "queries_extra": extra,
        "queries_extra_warm": extra_warm,
        "queries_reps": timings_reps,
        "queries_extra_reps": extra_reps,
        # min-of-3-reps: the load-robust series (see best_of).
        "queries_best": timings_best,
        "queries_extra_best": extra_best,
        # per-rep CPU-seconds stolen by the hypervisor during
        # that rep (from /proc/stat; 0.0 when the guest had the
        # CPUs to itself). A slow rep whose steal_s accounts for
        # the excess is host contention, not a plan regression.
        "queries_steal_s": timings_steal,
        "queries_extra_steal_s": extra_steal,
        # steal-aware retry log (r18): each [elapsed, steal_s] attempt
        # DISCARDED because its steal exceeded max(10% of wall, 0.3 s)
        # — the reps above are the retried quiet measurements; these
        # show what the contended attempts read. Empty dicts = no rep
        # needed a retry (quiet box).
        "queries_rep_retries": timings_retries,
        "queries_extra_rep_retries": extra_retries,
        # contamination telemetry (r8 judge: the artifact must let
        # a reader tell noise from regression): 1/5/15-min load
        # average BEFORE the first timed query and AFTER the last,
        # plus wall time of the timed region. On an idle local[32]
        # box load_before[0] should be ~0; a large value means the
        # numbers were taken on a loaded machine and the warm
        # series should be read with suspicion.
        "loadavg_before": [round(x, 2) for x in load_before],
        "loadavg_after": [round(x, 2) for x in load_after],
        "cpu_probe_after_s": cpu_probe_after_s,
        "bench_wall_s": bench_wall_s,
        # wait-for-quiet gate (r19): seconds spent waiting for the box
        # to go quiet before the timed region; started_loaded=true means
        # the bounded wait expired and the capture ran under contention
        "wait_for_quiet_s": waited_quiet_s,
        "started_loaded": started_loaded,
        # probe-normalized best series (r14, VERDICT r13 item 5): the
        # committed r13 capture read 1.25-1.31x raw vs r12 while its
        # own cpu_probe said the HOST ran 1.41x slower — every noisy
        # capture re-litigates that division. Recording best/cpu_probe
        # per query makes the round-over-round comparison one lookup:
        # if this ratio is flat, the plan didn't change, the box did.
        # kept as two maps mirroring queries_best / queries_extra_best
        # (a merged dict would silently prefer the EXTRA measurement if
        # a name ever appeared in both lists)
        "queries_best_per_cpu_probe": {
            n: (round(v / cpu_probe_s, 2) if v is not None else None)
            for n, v in timings_best.items()
        },
        "queries_extra_best_per_cpu_probe": {
            n: (round(v / cpu_probe_s, 2) if v is not None else None)
            for n, v in extra_best.items()
        },
        **({"errors": errors} if errors else {}),
    }
    detail_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "bench_detail.json")
    try:
        with open(detail_path, "w") as fh:
            json.dump(detail, fh, indent=1)
    except OSError:
        detail_path = None  # read-only checkout: summary still prints
    summary = {
        "metric": "total seconds for 12 headline queries (reconcile, "
        "fingerprint, TPC-H-ish aggs/joins, dedup, ANN, text, "
        "multimodal, event-time)",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "total_warm": total_of(timings_warm),
        # min-of-3-reps: the load-robust cross-round series.
        "total_best": total_of(timings_best),
        "total_extra": total_of(extra),
        "total_extra_warm": total_of(extra_warm),
        "total_extra_best": total_of(extra_best),
        # machine-speed yardsticks: fixed single-thread Python
        # loop + fixed JVM agg, min-of-3 warm. Read cross-round
        # deltas as RATIOS to these — if the probes moved the
        # same way the queries did, the host changed, not the code.
        "cpu_probe_s": cpu_probe_s,
        "jvm_probe_s": jvm_probe_s,
        # load context on the SUMMARY line (VERDICT r14 item 6): the
        # probe is a point sample, contention is sustained — read the
        # _norm fields only when the before/after probes agree and
        # loadavg stayed low; full telemetry is in bench_detail.json
        "cpu_probe_after_s": cpu_probe_after_s,
        "loadavg_before": [round(x, 2) for x in load_before],
        "loadavg_after": [round(x, 2) for x in load_after],
        # r19 quiet gate: true = the bounded pre-bench wait expired on a
        # loaded box and the timed region ran under contention anyway
        "started_loaded": started_loaded,
        # probe-normalized totals (VERDICT r13 item 5): total_best and
        # total_warm divided by cpu_probe_s — the host-speed-free
        # series to compare round over round; per-query ratios live in
        # bench_detail.json (queries_best_per_cpu_probe)
        "total_best_norm": round(total_of(timings_best) / cpu_probe_s, 2),
        "total_warm_norm": round(total_of(timings_warm) / cpu_probe_s, 2),
        "cpus": os.cpu_count(),
        "sf": float(sf),
        "detail": detail_path,
        **({"errors": errors} if errors else {}),
    }
    print(json.dumps(summary, separators=(",", ":")))
    spark.stop()


if __name__ == "__main__":
    main()
