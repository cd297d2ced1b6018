"""Bench <-> scale_claims.json consistency gate (round-4 VERDICT item
2; structurally redesigned round 8 after three consecutive false-red
rounds — VERDICT r7 item 1): the shipped BENCH_DETAIL.json scale_10x
ratios must agree with the written claims in scale_claims.json under
the asymmetric + re-measured rule:

  (a) a claim only fails when the ratio ships SLOWER than claim x 2
      (improvements are reported, never red);
  (b) a flagged ratio is judged by the MIN of the shipped value
      plus the TAGGED min-leg re-measure evidence bench.py ran in a
      fresh child JVM at artifact time (shipped under ``remeasured``
      with the raw legs so this test replays — and recomputes — the
      identical decision offline). Min-leg, because wall-clock
      contention is strictly inflationary per LEG on a deterministic
      plan, while a contaminated BASE leg DEFLATES a paired ratio;
      untagged legacy paired lists therefore enter as their MEDIAN,
      never the min (round-10 ADVICE — a true regression with one
      base-deflated rep must stay red);
  (c) sub-second-base queries get looser bounds (claim x 3 /
      backstop 5.0) instead of a blanket exemption.
"""

from __future__ import annotations

import json
import os

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load():
    import sys

    sys.path.insert(0, REPO)
    from bench import check_scale_claims, load_scale_claims

    def parse_scale_claims():
        return {q: c["ratio"] for q, c in load_scale_claims()["claims"].items()}

    return parse_scale_claims, check_scale_claims


def test_claims_table_parses():
    parse_scale_claims, _ = _load()
    claims = parse_scale_claims()
    assert len(claims) >= 5
    assert "q_interval_join_anti" in claims
    assert all(0 < v < 50 for v in claims.values())


def test_parser_stops_at_first_table():
    """The claims loader must yield ONLY the 10x claims: the sf10 spot
    tier's q_tpch_q21_shape (measured 19.69 at sf10) is unclaimed, and
    q_minhash_neardup keeps its 10x claim (2.0), never the sf10 spot
    tier's sf1-leg time (6.05)."""
    parse_scale_claims, _ = _load()
    claims = parse_scale_claims()
    # q21 was only ever measured by the sf10 spot tier; it is no claim
    assert "q_tpch_q21_shape" not in claims
    # minhash: the 10x claim (2.0) wins, never the sf10 sf1-leg time
    assert claims.get("q_minhash_neardup") == 2.0


def test_shipped_ratios_match_claims():
    """Replay the shipped artifact's gate decision against the
    CURRENT claims table, reusing the re-measure evidence bench.py
    stored at artifact time. Red only when a flagged query's median
    ratio (shipped + paired re-measure reps) exceeds its bound.
    Skips when BENCH_DETAIL.json has no scale_10x tier (e.g. an
    sf0.01 smoke run with SPARK_GRAFT_10X=0)."""
    _, check_scale_claims = _load()
    path = os.path.join(REPO, "BENCH_DETAIL.json")
    detail = json.load(open(path))
    scale = detail.get("scale_10x") or {}
    if not scale:
        pytest.skip("BENCH_DETAIL.json has no scale_10x tier")
    result = check_scale_claims(
        scale,
        detail.get("queries") or {},
        remeasured=(detail.get("scale_claims_check") or {}).get(
            "remeasured"
        ),
        cpus=detail.get("cpus"),
    )
    assert result["ok"], json.dumps(result, indent=1)


def test_asymmetric_rule_improvements_never_red():
    """Shipping FASTER than claim / 2 must never fail — it ships as
    stale_claim_improvement (the r7 false-red mode: the AQE
    grouped-map fix outran four claims)."""
    parse_scale_claims, check_scale_claims = _load()
    # take any real claim row and ship a 3x improvement
    name, claim = next(iter(parse_scale_claims().items()))
    result = check_scale_claims({name: claim / 3}, {name: 2.0})
    assert result["ok"]
    assert [s["query"] for s in result["stale_claim_improvement"]] == [
        name
    ]


def test_remeasure_clears_contention():
    """One contended shipped rep must not condemn the artifact when
    the tagged min-leg re-measure evidence lands back inside the
    bound (the r7 q_minhash_neardup mode: shipped 10.42, idle paired
    2.1-2.4, claim 3.0). The fake mirrors the real child's tagged
    output; the decision must RECOMPUTE min-leg from the raw legs,
    not trust the shipped scalar."""
    _, check_scale_claims = _load()
    calls = []

    def fake_remeasure(names):
        calls.append(list(names))
        # min-leg from legs: 5.06/2.2 = 2.3 (the stored scalar 9.9 is
        # a decoy — legs are authoritative when present)
        return {
            n: {
                "min_leg": [9.9],
                "reps_detail": {
                    "base": [2.2, 2.4, 2.3],
                    "tenx": [5.28, 5.06, 5.52],
                },
            }
            for n in names
        }

    result = check_scale_claims(
        {"q_minhash_neardup": 10.42},
        {"q_minhash_neardup": 2.4},
        remeasure=fake_remeasure,
    )
    assert calls == [["q_minhash_neardup"]]
    assert result["ok"], result
    assert result["remeasured_ok"][0]["decided_min"] == 2.3
    # the tagged evidence ships for offline replay
    assert result["remeasured"]["q_minhash_neardup"]["reps_detail"][
        "base"
    ] == [2.2, 2.4, 2.3]
    # and replaying from stored evidence (no callable) reaches the
    # same verdict — the pytest path against the artifact
    replay = check_scale_claims(
        {"q_minhash_neardup": 10.42},
        {"q_minhash_neardup": 2.4},
        remeasured=result["remeasured"],
    )
    assert replay["ok"]
    assert replay["remeasured_ok"][0]["decided_min"] == 2.3


def test_remeasure_confirms_real_regression():
    """When the re-measure agrees the query got slower, the gate
    stays red — re-measuring is noise control, not amnesty."""
    _, check_scale_claims = _load()
    result = check_scale_claims(
        {"q_minhash_neardup": 9.0},
        {"q_minhash_neardup": 2.4},
        remeasure=lambda names: {
            n: {
                "min_leg": [8.5],
                "reps_detail": {"base": [2.0, 2.1], "tenx": [17.0, 18.4]},
            }
            for n in names
        },
    )
    assert not result["ok"]
    assert result["mismatched"][0]["query"] == "q_minhash_neardup"
    assert result["mismatched"][0]["decided_min"] == 8.5


def test_untagged_paired_lists_median_not_min():
    """Round-10 ADVICE: an UNTAGGED evidence list is legacy r8-era
    PAIRED per-rep ratios — a contaminated BASE leg DEFLATES a paired
    ratio, so pooling them into min() has a false-green direction.
    They must enter as their MEDIAN: a true 8x regression with one
    base-deflated rep ([8.0, 0.8, 8.1]) stays red."""
    _, check_scale_claims = _load()
    result = check_scale_claims(
        {"q_fake_regressed": 8.2},
        {"q_fake_regressed": 2.0},
        remeasured={"q_fake_regressed": [8.0, 0.8, 8.1]},
    )
    assert not result["ok"]
    assert result["unclaimed_over_2_5"][0]["decided_min"] == 8.0


def test_unclaimed_rule_with_subsecond_backstop():
    """Unclaimed ratios over 2.5 red with a second-scale base;
    sub-second bases keep a 5.0 backstop — looser, not exempt
    (round-7 ADVICE: the old exemption could never fire)."""
    _, check_scale_claims = _load()
    # sub-second base, ratio 3.1 -> within backstop, ok
    assert check_scale_claims(
        {"q_fake_subsecond": 3.1}, {"q_fake_subsecond": 0.3}
    )["ok"]
    # sub-second base, genuine blow-up past the backstop -> red
    blow = check_scale_claims(
        {"q_fake_subsecond": 7.0},
        {"q_fake_subsecond": 0.3},
        remeasure=lambda names: {n: [6.8, 7.2] for n in names},
    )
    assert not blow["ok"]
    # second-scale base, unclaimed 3.1, re-measure agrees -> red
    slow = check_scale_claims(
        {"q_fake_slow": 3.1},
        {"q_fake_slow": 2.4},
        remeasure=lambda names: {n: [3.0, 3.2] for n in names},
    )
    assert not slow["ok"]
    assert slow["unclaimed_over_2_5"][0]["query"] == "q_fake_slow"
    # no base time recorded -> conservative strict bound; with no
    # re-measure evidence either, shipped alone confirms red
    assert not check_scale_claims({"q_fake_unknown": 3.1}, {})["ok"]


def test_r8_legacy_paired_artifact_judges_conservatively():
    """Semantics fixture for the round-10 ADVICE hardening: the
    round-8 driver artifact carries UNTAGGED paired re-measure lists
    (q_dup_spans shipped 3.39 vs bound 3.3, reps [17.63, 1.46]) and
    NO raw legs, so its deflation-prone 1.46 rep may no longer
    min-pool the gate green. Median of the paired pool keeps the
    decided value at the shipped 3.39 → the legacy replay is RED —
    conservative by design, because a replayed artifact cannot be
    re-measured and paired ratios alone cannot distinguish a clean
    rep from a base-deflated one. (The live gate is unaffected:
    bench.py's child has shipped tagged min-leg evidence with raw
    legs since round 9, and the r9 driver run cleared green on it —
    q_dup_spans decided 1.76 from legs.)"""
    _, check_scale_claims = _load()
    path = os.path.join(
        REPO, "tests", "fixtures", "bench_detail_r8_driver.json"
    )
    detail = json.load(open(path))
    result = check_scale_claims(
        detail["scale_10x"],
        detail.get("queries") or {},
        remeasured=(detail.get("scale_claims_check") or {}).get(
            "remeasured"
        ),
    )
    assert not result["ok"]
    flagged = {e["query"]: e for e in result["mismatched"]}
    assert flagged["q_dup_spans"]["decided_min"] == 3.39


def test_core_aware_bounds_scale_for_low_core_artifacts():
    """Round-11 (VERDICT r10 item 9): the driver's 8-core leg decided
    q_dup_spans at 4.18 against the 32-core bound 3.3 — a false red
    caused purely by the core deficit (the 10x leg is compute-bound,
    the base leg overhead-bound). With the artifact's core count
    passed in, bounds scale by claims_cores/cpus capped at 2x: the
    8-core replay of that exact decision goes green, a genuine
    blow-up past the scaled bound stays red, and a 32-core artifact
    keeps the exact unscaled bounds."""
    import sys

    sys.path.insert(0, REPO)
    from bench import load_scale_claims

    def parse_claims_cores():
        return load_scale_claims()["claims_cores"]

    _, check_scale_claims = _load()
    assert parse_claims_cores() == 32
    # the r10 driver's exact 8-core evidence: shipped 5.74, min-leg
    # 4.18 from tagged legs -> bound 1.65*2*2 = 6.6 at 8 cores
    ev = {
        "q_dup_spans": {
            "min_leg": [4.18],
            "reps_detail": {
                "base": [4.734, 3.563, 2.861],
                "tenx": [22.092, 13.103, 11.952],
            },
        }
    }
    red_at_32 = check_scale_claims(
        {"q_dup_spans": 5.74}, {"q_dup_spans": 2.588}, remeasured=ev
    )
    assert not red_at_32["ok"]  # unscaled: the historical false red
    green_at_8 = check_scale_claims(
        {"q_dup_spans": 5.74},
        {"q_dup_spans": 2.588},
        remeasured=ev,
        cpus=8,
    )
    assert green_at_8["ok"], green_at_8
    assert green_at_8["core_factor"] == 2.0
    # a true regression clears no bound: every leg ~5x the claim
    blown = check_scale_claims(
        {"q_dup_spans": 9.0},
        {"q_dup_spans": 2.588},
        remeasured={
            "q_dup_spans": {
                "min_leg": [8.6],
                "reps_detail": {"base": [2.6, 2.7], "tenx": [22.4, 23.9]},
            }
        },
        cpus=8,
    )
    assert not blown["ok"]
    # >= claims_cores: no scaling at all
    at_32 = check_scale_claims(
        {"q_dup_spans": 5.74}, {"q_dup_spans": 2.588}, remeasured=ev,
        cpus=32,
    )
    assert at_32["core_factor"] == 1.0 and not at_32["ok"]


def test_true_regression_still_reds_under_min():
    """The min statistic is noise control, not amnesty: when the
    shipped ratio AND every re-measured leg agree it got slower,
    the gate stays red."""
    _, check_scale_claims = _load()
    result = check_scale_claims(
        {"q_dup_spans": 8.0},
        {"q_dup_spans": 2.0},
        remeasure=lambda names: {
            n: {
                "min_leg": [7.5],
                "reps_detail": {"base": [2.0, 2.2], "tenx": [15.0, 16.8]},
            }
            for n in names
        },
    )
    assert not result["ok"]
    assert result["mismatched"][0]["query"] == "q_dup_spans"
    assert result["mismatched"][0]["decided_min"] == 7.5


def test_min_leg_ratio_resists_base_leg_deflation():
    """The re-measure's decided evidence is min(t10)/min(tb), never a
    pool of paired per-rep ratios: with a true 8x regression where
    one rep's BASE leg was contaminated 10x (paired ratios
    [8.0, 0.8, 8.1]), the min-leg ratio still reads ~8 and the gate
    stays red — while min over the paired pool would have cleared it
    at 0.8. Inflated 10x legs are still discounted (min leg)."""
    import sys

    sys.path.insert(0, REPO)
    from bench import check_scale_claims, min_leg_ratio

    tbs = [2.0, 20.0, 2.1]     # rep 1's base leg contaminated
    t10s = [16.0, 16.2, 17.0]  # genuinely ~8x slower at 10x
    r = min_leg_ratio(tbs, t10s)
    assert r == 8.0
    result = check_scale_claims(
        {"q_fake_regressed": 8.1},
        {"q_fake_regressed": 2.0},
        remeasured={"q_fake_regressed": [r]},
    )
    assert not result["ok"]
    # and a clean-legged contended window still clears: every pairing
    # was wrong but each leg has one clean rep
    tbs2, t10s2 = [2.0, 9.5, 2.7], [19.0, 14.9, 5.9]  # true ~2.9x
    assert min_leg_ratio(tbs2, t10s2) == 2.95


def test_sync_tool_decides_tagged_evidence(tmp_path, monkeypatch):
    """tools/sync_scale_claims.py judges each ratio with the gate's
    own bench.decided_ratio, so the tagged {"min_leg", "reps_detail"}
    evidence bench.py has shipped since round 9 syncs instead of
    crashing (it used to take min() over the dict's keys). Runs the
    sync policy on a temp copy of the claims file, with an artifact
    holding the round-10 8-core run's q_dup_spans evidence."""
    import importlib.util
    import shutil

    spec = importlib.util.spec_from_file_location(
        "sync_scale_claims", os.path.join(REPO, "tools", "sync_scale_claims.py")
    )
    sync = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(sync)
    claims_path = tmp_path / "scale_claims.json"
    shutil.copy(os.path.join(REPO, "scale_claims.json"), claims_path)
    monkeypatch.setattr(sync, "CLAIMS_PATH", str(claims_path))
    artifact = tmp_path / "bench_detail.json"
    artifact.write_text(json.dumps({
        "scale_10x": {
            "q_dup_spans": 5.74,
            "q_interval_join_full": 5.0,
            "q_tfidf": 1.2,
            "q_fake_new": 3.1,
        },
        "scale_claims_check": {"remeasured": {
            "q_dup_spans": {
                "min_leg": [4.18],
                "reps_detail": {
                    "base": [4.734, 3.563, 2.861],
                    "tenx": [22.092, 13.103, 11.952],
                },
            },
            "q_interval_join_full": {
                "min_leg": [9.9],
                "reps_detail": {"base": [1.0, 1.2], "tenx": [2.5, 2.7]},
            },
            "q_fake_new": {
                "min_leg": [2.6],
                "reps_detail": {"base": [1.0, 1.1], "tenx": [2.6, 2.8]},
            },
        }},
    }))
    assert sync.main([str(artifact)]) == 0
    after = json.loads(claims_path.read_text())
    claims = after["claims"]
    # decided 4.18 from the legs: an upward move is never re-anchored
    assert claims["q_dup_spans"]["ratio"] == 1.65
    # decided 2.5 from the legs (shipped 5.0): re-anchored down from 4.5
    assert claims["q_interval_join_full"]["ratio"] == 2.5
    assert "[re-anchored" in claims["q_interval_join_full"]["why"]
    # no evidence, shipped 1.2 < 1.6: the stale row is dropped
    assert "q_tfidf" not in claims
    # unclaimed, decided 2.6 > 2.0: a row is added at the decided ratio
    assert claims["q_fake_new"]["ratio"] == 2.6
    assert after["claims_cores"] == 32
