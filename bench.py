"""Benchmark runner: headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS], plus a
10x tier (sf1 when the base is sf0.1) built once into /tmp so
round-over-round scaling regressions are visible, not anecdotal.

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...},
   "queries_cold": {...}, "queries_10x": {...}, "scale_10x": {...},
   "sf": ...}

The 10x ratios are gated against the written claims in
scale_claims.json (``check_scale_claims``); the result ships in the
detail file as ``scale_claims_check``.

Set SPARK_GRAFT_10X=0 to skip the 10x tier.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import string
import sys
import time
from functools import reduce

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pipeline_dataengineer_spark.contract import QUERIES
from pipeline_dataengineer_spark.session import get_spark

# 10x tier: replicate the base tables 10x with shifted keys (join
# integrity preserved: lineitem and orders shift o_orderkey by the
# same per-replica offset) and per-replica alphabet-rotated document
# text (replicas are DISTINCT documents, not 10-way near-dup clusters
# — the honest scaling case for the dedup family; identical copies
# would collapse into giant LSH buckets and measure the cap, not the
# operator).
REPLICAS = 10
KEY_OFFSET = 10_000_000


def ensure_10x(spark, base_dir: str, out_dir: str) -> None:
    ready = os.path.join(out_dir, "_READY")
    if os.path.exists(ready):
        return
    from pyspark.sql import functions as F

    from pipeline_dataengineer_spark.catalog import table

    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir, exist_ok=True)

    def replicate(name: str, shift_cols: list[str], text_col: str | None = None):
        base = table(spark, base_dir, name)
        parts = []
        alpha = string.ascii_lowercase
        for i in range(REPLICAS):
            rep = base
            for c in shift_cols:
                rep = rep.withColumn(c, F.col(c) + F.lit(i * KEY_OFFSET))
            if text_col is not None and i:
                rot = alpha[i:] + alpha[:i]
                rep = rep.withColumn(text_col, F.translate(F.col(text_col), alpha, rot))
            parts.append(rep)
        out = reduce(lambda a, b: a.unionByName(b), parts)
        out.write.mode("overwrite").parquet(os.path.join(out_dir, f"{name}.parquet"))

    replicate("lineitem", ["l_orderkey"])
    replicate("orders", ["o_orderkey"])
    replicate("events", ["event_id"])
    replicate("documents", ["doc_id"], text_col="text")
    replicate("embeddings", ["vec_id"])
    for dim in ("region", "nation", "customer", "supplier", "part"):
        src = os.path.join(base_dir, f"{dim}.parquet")
        dst = os.path.join(out_dir, f"{dim}.parquet")
        if os.path.isdir(src):
            shutil.copytree(src, dst)
        else:
            shutil.copyfile(src, dst)
    with open(ready, "w") as fh:
        fh.write("ok")

# Headline set: one per operator family, heaviest variants included.
HEADLINE = [
    "q_agg_group",
    "q_anti_join",
    "q_inner_join",
    "q_broadcast_join",
    "q_window_rank",
    "q_dedup_lastwins",
    "q_sort_limit",
    "q_tumbling_window",
    "q_asof_join",
    "q_range_join",
    "q_cosine_topk",
    "q_text_stats",
    "q_minhash_neardup",
    "q_tfidf",
    "q_corpus_clean",
    "q_dup_spans",
    "q_winsorize",
    "q_tpch_q9_shape",
    "q_tpch_q21_shape",
    # round 2 additions (new operator families)
    "q_boilerplate_segments",
    "q_chunk_docs",
    "q_inverted_index",
    "q_mad_outliers",
    "q_incremental_agg",
    "q_url_normalize",
    "q_variant",
    "q_zorder_layout",
    # round 3 additions
    "q_interval_join_full",
    "q_prune_semi_join",
    "q_lateral_topn",
    "q_heavy_hitters",
    "q_approx_topk",
    "q_event_sequences",
    "q_weighted_sample",
    # round 3 continuation (new operator families)
    "q_skyline",
    "q_cep_pattern",
    "q_recursive_cte",
    "q_haversine_join",
    "q_hamming_neardup",
    "q_group_sample",
    "q_kmv_distinct",
    "q_pca_cov",
    "q_seasonal_decompose",
    "q_clustering_coeff",
    "q_mutual_info",
    "q_cuped",
    "q_ks_test",
    "q_kaplan_meier",
    "q_quantile_normalize",
    "q_pareto_share",
    "q_rfm",
    "q_interpolate",
    "q_debounce",
    "q_cusum",
    "q_concentration",
    "q_weighted_median",
    "q_profile_hist",
    "q_bm25",
    # round 3 continuation (sixth batch)
    "q_rrf_fusion",
    "q_shuffle_index",
    "q_bitmap_distinct",
    "q_time_weighted_avg",
    "q_session_dynamic_gap",
    "q_sentence_chunks",
    "q_gopher_filter",
    "q_int8_quantize",
    "q_rag_chunks",
    "q_inner_repetition",
    "q_tpcds_q51_shape",
    # round 3 continuation (seventh batch)
    "q_global_quantiles",
    "q_psi_drift",
    "q_phrase_search",
    "q_interval_join_anti",
    "q_training_matrix",
    "q_mahalanobis",
    "q_rolling_distinct",
    "q_time_decay_attr",
    # round 4 additions. q_jaccard_join is deliberately NOT here: its
    # output is quadratic in the synthetic corpus's template-cluster
    # size (416k pairs / 23s at sf0.1 — answer-bound, see SCALE_NOTES);
    # it stays a correctness-contract query. q_ivfpq_exact is
    # fixed-size by construction (250-vector lossless config) and its
    # perf story lives in the pytest recall floors instead.
    "q_countmin",
    "q_bloom_prune",
    "q_mmr_rerank",
    # round 4 second batch. q_exif/q_spectral_band stay contract-only:
    # their cost is the synthetic payload literal, not the operator.
    "q_ppl_buckets",
    "q_table_diff",
    "q_frequent_seq",
    "q_point_in_polygon",
    "q_cusum_chart",
    "q_oov_rate",
    # round 4 third batch
    "q_hilbert",
    "q_record_linkage",
    "q_dataset_card",
    "q_shapley_attr",
    "q_merge_intervals",
    # round 4 fourth batch
    "q_kn_ppl",
    "q_generalize_dates",
    "q_mann_kendall",
    "q_grouped_ols",
    "q_jaro",
    # round 6: packing / inequality / preference / rank-corr
    "q_pack_chunks",
    "q_gini_global",
    "q_preference_pairs",
    "q_spearman",
    # round 7: distributed/grouped rank stats + streaming drift
    # (all measured ~1.0-1.3x at the 10x tier — fixed job-count
    # overhead dominates; no claims rows needed)
    "q_kendall_dist",
    "q_kendall_cont",
    "q_cliffs_delta_dist",
    "q_grouped_spearman",
    "q_grouped_cliffs",
    "q_grouped_ks",
    "q_windowed_psi",
    # round 7 continuation: verification-hardened additions — the
    # star-contraction DBSCAN composition, contrastive hard-negative
    # mining, greedy k-center selection, debiased Sinkhorn drift.
    "q_dbscan",
    "q_hard_negatives",
    "q_kcenter",
    "q_sinkhorn_drift",
    # round 7 continuation, second batch: eval/causal/monitoring
    "q_eb_shrink",
    "q_markov_attr",
    "q_aipw_ate",
    "q_windowed_ot",
    # round 8: window-free Brunner-Munzel twin + cluster-rooted
    # contamination-safe split (CC on the pair set + one equi-join)
    "q_brunner_munzel_dist",
    "q_leakage_safe_split",
    # round 9: the iterative-clustering family enters the headline
    # bench (VERDICT r8 item 3) now that kmeans persists its
    # projected input — previously q_semantic_dedup sat untracked at
    # 174 s (sf0.01) because every Lloyd iteration re-evaluated the
    # derived union+transform lineage (~40 corpus recomputes)
    "q_kmeans_sizes",
    "q_semantic_dedup",
    # round 9: 8-range regexp script histogram — the heaviest of the
    # new scan-riding quality projections (mojibake repair shares the
    # plan shape; one representative in the headline is enough)
    "q_script_detect",
]


# The 19 round-1 headline queries — the set BASELINE.md / BENCH_r01
# report, kept by name in the compact driver line so round-over-round
# baseline comparison survives the detail file split.
BASELINE_SET = HEADLINE[:19]

# The base and 10x tiers each run as BASE_CHUNKS fresh-JVM children
# (see run_child); a flagged 10x ratio gets REMEASURE_REPS more paired
# reps before the claims gate may turn red.
BASE_CHUNKS = 3
REMEASURE_REPS = 3


def _warm_session(spark, warm_dir: str) -> None:
    """Warm codegen AND the Arrow Python workers: the warmup UDF job
    must have as many partitions as the session has cores — a
    narrower job leaves the remaining workers cold and the first wide
    UDF stage pays ~2.5 s of pandas-import per cold worker."""
    QUERIES["q_agg_group"](spark, warm_dir).collect()
    n_cores = spark.sparkContext.defaultParallelism
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    @F.pandas_udf(T.DoubleType())
    def _warm(v):
        return v * 1.0

    spark.range(0, n_cores * 100, 1, n_cores).select(
        _warm(F.col("id").cast("double"))
    ).count()


def _run_queries(spark, names, data_dir: str):
    """Two reps per query (cache-clean, GC-hinted): rep 1 ships as
    cold, rep 2 as warm — the warm number measures the PLAN
    re-executed end-to-end, not cache residency accidents."""
    times: dict[str, float] = {}
    cold: dict[str, float] = {}
    for name in names:
        per_run = []
        for _ in range(2):
            spark.catalog.clearCache()
            spark._jvm.System.gc()
            t0 = time.time()
            QUERIES[name](spark, data_dir).count()
            per_run.append(round(time.time() - t0, 3))
        cold[name] = per_run[0]
        times[name] = per_run[1]
    return times, cold


def run_child(params: dict) -> None:
    """Child-process entry (``bench.py --child JSON``): measure
    ``params["names"]`` in a FRESH JVM and write the JSON payload to
    ``params["out"]``. Three kinds, told apart by the parameters:

    - base tier (``data_dir``): {"times", "cold"};
    - 10x tier (``data_dir`` plus ``base_dir``): builds the 10x
      tables from base_dir when missing, and ships the base tier
      re-timed in this JVM as "paired_base" next to times/cold;
    - re-measure (``remeasure`` too): tagged min-leg evidence per
      query (see ``_remeasure``).

    Why children at all: in-sequence numbers inherit heap/GC state
    from the queries before them — round 3 measured up to 3x
    inflation on the 10x tier, and round 4 measured +13% drift across
    the 96-query base tier. Fresh JVMs per chunk make the shipped
    numbers reproducible in isolation (round-4 VERDICT item 3)."""
    names, data_dir = params["names"], params["data_dir"]
    base_dir = params.get("base_dir")
    spark = get_spark(f"bench-{params['label']}")
    if base_dir:
        ensure_10x(spark, base_dir, data_dir)
    if params.get("remeasure"):
        payload = _remeasure(spark, names, base_dir, data_dir)
    else:
        payload = {}
        if base_dir:
            # PAIRED ratio measurement: time the base tier again IN
            # THIS JVM, seconds before the 10x timing, so the ratio's
            # numerator and denominator share the same host state.
            # Three idle canonical runs measured the ratio from
            # CROSS-process base times at 18.6 / 4.48 / 0.84 for the
            # same sub-second query — host drift between tiers an hour
            # apart swamps the signal; pairing cancels it.
            _warm_session(spark, base_dir)
            payload["paired_base"], _ = _run_queries(spark, names, base_dir)
        _warm_session(spark, data_dir)
        payload["times"], payload["cold"] = _run_queries(spark, names, data_dir)
    with open(params["out"], "w") as fh:
        json.dump(payload, fh)


def _spawn(**params) -> dict:
    """Run ``run_child(params)`` in a fresh child process; returns its
    payload ({} on failure — a re-measure then falls back to the
    shipped ratio alone)."""
    import subprocess
    import tempfile

    with tempfile.TemporaryDirectory() as tmp:
        params["out"] = os.path.join(tmp, "out.json")
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--child", json.dumps(params)],
            capture_output=True,
            text=True,
        )
        if proc.returncode != 0 or not os.path.exists(params["out"]):
            sys.stderr.write(
                f"{params['label']} subprocess failed rc={proc.returncode}\n"
                f"{proc.stderr[-2000:]}\n"
            )
            return {}
        with open(params["out"]) as fh:
            return json.load(fh)


def min_leg_ratio(tbs: list[float], t10s: list[float]) -> float:
    """The re-measure's DECIDED evidence: min(10x legs)/min(base
    legs). A paired per-rep ratio is wrong whenever either of ITS
    legs was hit by host noise — and a contaminated BASE leg DEFLATES
    it, so pooling raw paired ratios into a min() would let one bad
    base rep fake-clear a genuine regression (the false-green
    direction). Per-leg minima only ever remove inflation: each min
    approximates that leg's clean time as long as ANY rep of the leg
    ran clean."""
    return round(min(t10s) / max(min(tbs), 1e-3), 2)


def _remeasure(spark, names, base_dir: str, dir_10x: str) -> dict:
    """Claims-gate re-measure (round-8 gate redesign, VERDICT r7 item
    1b): REMEASURE_REPS more paired base+10x warm reps per flagged
    query, shipped as TAGGED evidence (round-10 ADVICE) —
    {name: {"min_leg": [ratio], "reps_detail": {"base", "tenx"}}} —
    so an offline replay recomputes the min-leg ratio from the raw
    legs instead of trusting a bare number whose kind it cannot
    verify.

    Min-leg, not paired: host-state contamination (GC tails, /tmp
    writeback after the tier children) inflates one LEG at a time.
    Observed on the r9 canonical run: q_dup_spans paired reps
    [15.81, 6.01] in the post-tier window, while the same query
    minutes later paired 1.57-1.63 — per-leg minima recover the
    latter from mixed reps. A settle pause after the GC lets the
    kernel's post-tier writeback drain outside the timed window."""
    _warm_session(spark, base_dir)
    legs: dict[str, tuple[list[float], list[float]]] = {
        n: ([], []) for n in names
    }
    for name in names:  # one warmup pass per dir (codegen + cache)
        QUERIES[name](spark, base_dir).count()
        QUERIES[name](spark, dir_10x).count()
    for _ in range(REMEASURE_REPS):
        for name in names:
            spark.catalog.clearCache()
            spark._jvm.System.gc()
            time.sleep(1.0)
            t0 = time.time()
            QUERIES[name](spark, base_dir).count()
            tb = time.time() - t0
            t0 = time.time()
            QUERIES[name](spark, dir_10x).count()
            t10 = time.time() - t0
            legs[name][0].append(tb)
            legs[name][1].append(t10)
    return {
        n: {
            "min_leg": [min_leg_ratio(tbs, t10s)],
            "reps_detail": {
                "base": [round(b, 3) for b in tbs],
                "tenx": [round(t, 3) for t in t10s],
            },
        }
        for n, (tbs, t10s) in legs.items()
    }


def decided_ratio(shipped: float, evidence) -> tuple[float, list[float]]:
    """The 10x ratio a claim is judged on, and the re-measure reps
    behind it: ``shipped`` lowered by ``evidence`` (one entry of
    ``scale_claims_check.remeasured``, or None). The only code that
    reads the evidence format, which is TAGGED (round-10 ADVICE):

    - a dict {"min_leg": [...], "reps_detail": {...}} is the
      ``_remeasure`` output; the min-leg ratio is recomputed from the
      raw legs when present (min per LEG only removes inflation, so
      pooling it into min() with shipped is safe — a true regression
      is slow in every 10x leg);
    - an untagged plain list is legacy PAIRED per-rep ratios (r8-era
      artifacts): a contaminated BASE leg DEFLATES a paired ratio, so
      min() over them has a false-green direction — they enter as
      their MEDIAN instead (conservative; a replayed legacy artifact
      cannot be re-measured)."""
    if isinstance(evidence, dict):
        det = evidence.get("reps_detail") or {}
        if det.get("base") and det.get("tenx"):
            reps = [min_leg_ratio(det["base"], det["tenx"])]
        else:
            reps = [float(x) for x in evidence.get("min_leg") or []]
        return round(min([shipped] + reps), 2), reps
    reps = [float(x) for x in evidence or []]
    if not reps:
        return round(shipped, 2), reps
    return round(min(shipped, statistics.median(reps)), 2), reps


CLAIMS_PATH = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "scale_claims.json"
)


def load_scale_claims(path: str = CLAIMS_PATH) -> dict:
    """The written 10x-ratio claims, the single source of truth for
    expected 10x ratios: {"claims_cores": N, "claims": {query:
    {"ratio": r, "why": "..."}}}. claims_cores is the core count the
    ratios were measured at (round-11, VERDICT r10 item 9)."""
    with open(path) as fh:
        return json.load(fh)


UNCLAIMED_MIN_BASE_SEC = 0.75
# after the min-of-(shipped+reps) re-measure, sub-second-base queries keep a
# LOOSER bound instead of the old blanket exemption (a real
# sub-second 10x blow-up can still red the gate — round-7 ADVICE):
# paired medians of two sub-second timings wobble ~2-3x even idle.
SUBSEC_CLAIM_TOL = 3.0
SUBSEC_UNCLAIMED_BOUND = 5.0
CLAIM_TOL = 2.0
UNCLAIMED_BOUND = 2.5


def check_scale_claims(
    scale_10x: dict[str, float],
    base_times: dict[str, float] | None = None,
    remeasure=None,
    remeasured: dict | None = None,
    cpus: int | None = None,
) -> dict:
    """Bench <-> scale_claims.json consistency, round-8 structural redesign
    (VERDICT r7 item 1 — the gate itself was the defect three rounds
    running, each time a different false-red mode):

    (a) ASYMMETRIC mismatch rule: a written claim only fails when the
        shipped ratio is SLOWER than claim x 2. Shipping FASTER than
        claim / 2 is reported under ``stale_claim_improvement``
        (visible, never red) — getting faster must never fail the
        suite (r7 shipped 4 improvement-direction reds after the AQE
        grouped-map fix outran its claims).
    (b) RE-MEASURE before declaring red: each flagged query gets
        REMEASURE_REPS (3) more paired base+10x reps in one fresh
        child JVM (``remeasure`` callable, bench-time), distilled to
        the MIN-LEG ratio min(t10)/min(tb), and the MIN of
        shipped + that evidence decides (round-9 fix, VERDICT r8 item 1:
        wall-clock contention is strictly inflationary on a
        deterministic plan, so the least-contaminated observation is
        the smallest one; the r8 median kept the suspect shipped
        value in the statistic and with only 2 reps — one itself
        contended, q_dup_spans reps [17.63, 1.46] — median(shipped+
        reps) stayed at the contended 3.39 vs bound 3.3, a 4th
        consecutive driver red on an idle-verified claim). A true
        regression still reds: when EVERY rep is slow, the min is
        slow. The reps ship in the artifact under ``remeasured`` so
        tests/test_scale_claims.py replays the identical decision
        offline (pass them back via the ``remeasured`` parameter).
        ``decided_ratio`` reads the format-tagged evidence (round-10
        ADVICE: untagged legacy lists enter as their MEDIAN).
    (c) Sub-second-base queries are re-measured like everything else
        but judged against looser bounds (claim x 3 / backstop 5.0)
        instead of the r7 blanket exemption — a real sub-second
        blow-up can red the gate again, while paired-median wobble
        on 0.3 s timings cannot.

    With no re-measure evidence available (no callable, no stored
    reps) a flagged query confirms red on the shipped ratio alone —
    conservative, and keeps the pure-unit path deterministic."""
    doc = load_scale_claims()
    claims = {q: c["ratio"] for q, c in doc["claims"].items()}
    base_times = base_times or {}
    remeasured = dict(remeasured or {})
    # Core-aware bounds (round-11, VERDICT r10 item 9: the driver's
    # 8-core leg red-flagged q_dup_spans against a bound written at
    # 32 cores). A 10x-tier ratio is core-count-dependent: the 10x
    # leg is compute-bound (slows by up to the core deficit) while
    # the sf0.1 base leg is overhead-bound (PERF_r10 scaling block:
    # every 8c/32c base ratio ≈ 1), so the honest envelope scales the
    # bound by claims_cores / cpus. Capped at 2x so a true
    # >= 4x-the-claim regression still reds at ANY core count
    # (empirically the 8-core inflation was ~2.1x for the worst
    # query, q_dup_spans 1.35 -> 3.52 pre-fix). Applies only when
    # the caller states its core count (bench-time, or the pytest
    # replay reading the artifact's `cpus`) — legacy callers/
    # artifacts keep the exact old behavior.
    claims_cores = doc.get("claims_cores")
    core_factor = 1.0
    if cpus and claims_cores and cpus < claims_cores:
        core_factor = min(claims_cores / cpus, 2.0)

    def _bounds(name: str, claim: float | None) -> float:
        base = base_times.get(name)
        subsec = base is not None and base < UNCLAIMED_MIN_BASE_SEC
        if claim is not None:
            return claim * (
                SUBSEC_CLAIM_TOL if subsec else CLAIM_TOL
            ) * core_factor
        return (
            SUBSEC_UNCLAIMED_BOUND if subsec else UNCLAIMED_BOUND
        ) * core_factor

    stale_improvement = []
    flagged: list[tuple[str, float, float | None]] = []
    for name, shipped in scale_10x.items():
        c = claims.get(name)
        if c is not None and shipped > 0 and c / shipped > CLAIM_TOL:
            stale_improvement.append(
                {"query": name, "shipped": shipped, "claimed": c}
            )
        if shipped > _bounds(name, c):
            flagged.append((name, shipped, c))

    need = [n for n, _, _ in flagged if n not in remeasured]
    if need and remeasure is not None:
        remeasured.update(remeasure(need) or {})

    mismatched = []
    unclaimed = []
    cleared = []
    for name, shipped, c in flagged:
        decided, reps = decided_ratio(shipped, remeasured.get(name))
        bound = _bounds(name, c)
        entry = {
            "query": name,
            "shipped": shipped,
            "decided_min": decided,
            "reps": reps,
            "bound": round(bound, 2),
        }
        if c is not None:
            entry["claimed"] = c
        if decided > bound:
            (mismatched if c is not None else unclaimed).append(entry)
        else:
            cleared.append(entry)
    result = {
        "claims": len(claims),
        "core_factor": core_factor,
        "mismatched": mismatched,
        "unclaimed_over_2_5": unclaimed,
        "stale_claim_improvement": stale_improvement,
        "remeasured_ok": cleared,
        "remeasured": {
            k: v for k, v in remeasured.items() if v
        },
        "ok": not mismatched and not unclaimed,
    }
    if not result["ok"]:
        sys.stderr.write(
            f"scale claims check FAILED: {json.dumps(result)}\n"
        )
    return result


def main() -> None:
    """Parent process: spawns every tier in fresh child JVMs and
    assembles the detail/compact artifacts. The parent itself never
    opens a SparkSession, so no measurement inherits another tier's
    heap/GC state (round-4 item 3: the 96-query in-sequence base
    tier drifted +13% vs isolated; chunked fresh-JVM children bound
    the in-sequence window to ~1/3 of the suite)."""
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")

    size = (len(HEADLINE) + BASE_CHUNKS - 1) // BASE_CHUNKS
    chunks = [HEADLINE[i : i + size] for i in range(0, len(HEADLINE), size)]
    times: dict[str, float] = {}
    cold: dict[str, float] = {}
    for i, chunk in enumerate(chunks):
        d = _spawn(label=f"base{i}", names=chunk, data_dir=sf_dir)
        times.update(d.get("times", {}))
        cold.update(d.get("cold", {}))
    total = sum(times.values())

    times_10x: dict[str, float] = {}
    scale_10x: dict[str, float] = {}
    if os.environ.get("SPARK_GRAFT_10X", "1") != "0":
        dir_10x = os.path.join(
            "/tmp",
            f"spark_graft_10x_{os.path.basename(sf_dir.rstrip('/'))}",
        )
        # chunk the 10x tier EXACTLY like the base tier: the ratio's
        # numerator and denominator must share the same in-sequence
        # drift window, else late-suite ratios divide a drift-prone
        # numerator by a drift-bounded denominator (round-5 ADVICE)
        paired_base: dict[str, float] = {}
        for i, chunk in enumerate(chunks):
            d = _spawn(
                label=f"10x{i}", names=chunk, data_dir=dir_10x, base_dir=sf_dir
            )
            times_10x.update(d.get("times", {}))
            paired_base.update(d.get("paired_base", {}))
        for name, t in times_10x.items():
            # wall-clock ratio for 10x the data, from the PAIRED
            # same-JVM base measurement (falls back to the base tier
            # if absent); > ~2.5 needs a written claim in
            # scale_claims.json
            den = paired_base.get(name, times.get(name, 0))
            scale_10x[name] = round(t / max(den, 1e-3), 2)

    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    # flagged ratios get paired re-measure reps in a fresh
    # child JVM before the gate may turn red (round-8 redesign);
    # skipped automatically when the 10x tier is off.
    remeasure_fn = None
    if scale_10x:
        remeasure_fn = lambda names: _spawn(  # noqa: E731
            label="remeasure",
            names=names,
            data_dir=dir_10x,
            base_dir=sf_dir,
            remeasure=True,
        )
    from pipeline_dataengineer_spark.session import default_parallelism

    detail = {
        "metric": "headline_queries_total",
        "value": round(total, 3),
        "unit": "sec",
        "queries": times,
        "queries_cold": cold,
        "queries_10x": times_10x,
        "scale_10x": scale_10x,
        "scale_claims_check": check_scale_claims(
            scale_10x,
            times,
            remeasure=remeasure_fn,
            cpus=default_parallelism(),
        ),
        # the core count this artifact ran at — the pytest replay
        # passes it back so an 8-core artifact is judged against
        # core-scaled bounds, never against raw 32-core claims
        "cpus": default_parallelism(),
        "sf": sf_val,
    }
    # Full per-query detail goes to a repo file; the driver's tail
    # capture is ~2000 chars, which the full 77-query line outgrew in
    # round 3 (BENCH_r03 parsed:null). The printed line stays compact:
    # totals + the 19 baseline-comparable queries + worst-5 offenders.
    repo_root = os.path.dirname(os.path.abspath(__file__))
    # Non-canonical runs (smokes at other SFs, contended debugging)
    # can redirect the artifact so they don't clobber the shipped
    # canonical detail (round 10: an sf0.01 smoke overwrote the
    # gate-green r9 artifact and had to be restored from git).
    detail_path = os.environ.get(
        "SPARK_GRAFT_DETAIL_PATH", os.path.join(repo_root, "BENCH_DETAIL.json")
    )
    with open(detail_path, "w") as fh:
        json.dump(detail, fh, indent=1)

    compact_queries = {k: times[k] for k in BASELINE_SET if k in times}
    worst_warm = sorted(times, key=times.get, reverse=True)[:5]
    for k in worst_warm:
        compact_queries[k] = times[k]
    worst_scale = {
        k: scale_10x[k]
        for k in sorted(scale_10x, key=scale_10x.get, reverse=True)[:5]
    }
    line = json.dumps(
        {
            "metric": "headline_queries_total",
            "value": round(total, 3),
            "unit": "sec",
            "queries": compact_queries,
            "cold_total": round(sum(cold.values()), 3),
            "n_queries": len(times),
            "worst_scale_10x": worst_scale,
            "detail": "BENCH_DETAIL.json",
            "sf": sf_val,
        },
        separators=(",", ":"),
    )
    assert len(line) < 1900, f"compact bench line too long: {len(line)}"
    print(line)


if __name__ == "__main__":
    if sys.argv[1:2] == ["--child"]:
        run_child(json.loads(sys.argv[2]))
    else:
        main()
