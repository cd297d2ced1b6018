"""Regenerate scale_claims.json, the written 10x-ratio claims the
bench gate checks, from a measured BENCH_DETAIL.json artifact
(round-8 VERDICT item 1c — the same cure sync_readme_counts.py applied
to count drift: claims must FOLLOW artifacts via a tool, not hand
edits that go stale whenever the engine gets faster).

Policy, applied to each headline query's EFFECTIVE ratio — the ratio
the gate decides on, ``bench.decided_ratio`` of the artifact's shipped
scale_10x value and its stored re-measure evidence (contention only
inflates, so the smallest clean observation wins):

- effective > 2.0  -> the query needs a claim row (margin under the
  gate's 2.5 unclaimed bound); a new row's claim is the effective
  ratio, its why comes from WHYS (or a generic measured-at line).
- existing row     -> re-anchor the claim DOWN to the effective ratio
  when the claim is more than 1.5x above it (small wobble doesn't
  churn the claims); the original why is preserved with a dated
  re-anchor note.
- effective < 1.6  -> an existing row is DROPPED: the query no
  longer needs a claim and a stale high claim is dead weight.

Usage:
  python tools/sync_scale_claims.py [artifact.json] [--dry-run]
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import CLAIMS_PATH, decided_ratio, load_scale_claims  # noqa: E402

# why-text for queries likely to cross the claim threshold; keyed by
# query name. Everything else gets the generic measured-at line.
WHYS = {
    "q_mahalanobis": (
        "one-pass moments + d^2 driver inverse, Arrow scoring linear "
        "in rows - the scoring pass dominates at 10x"
    ),
    "q_kn_ppl": (
        "KN LM tables are vocab-bounded broadcasts but the bigram "
        "table BUILD grows with observed vocab at 10x; corpus scoring "
        "rides the scan"
    ),
    "q_hard_negatives": (
        "10 anchors broadcast over an unshuffled corpus - scoring "
        "and per-anchor top-k linear in corpus rows"
    ),
    "q_minhash_neardup": (
        "signatures + exact-verify linear in docs/pairs"
    ),
}
GENERIC_WHY = "linear-in-input plan; claim set from the paired 10x tier"


def sync(claims: dict, detail: dict, stamp: dt.date) -> list[str]:
    """Apply the policy to ``claims`` ({query: {"ratio", "why"}}) in
    place from the ``detail`` artifact; returns the change log."""
    remeasured = (detail.get("scale_claims_check") or {}).get(
        "remeasured"
    ) or {}
    effective = {
        q: decided_ratio(r, remeasured.get(q))[0]
        for q, r in detail["scale_10x"].items()
    }
    changes = []
    for q, row in list(claims.items()):
        eff = effective.get(q)
        if eff is None:
            continue  # not in this artifact's set
        c = row["ratio"]
        if eff < 1.6:
            changes.append(f"drop   {q}: claim {c} -> (effective {eff})")
            del claims[q]
        # DOWNWARD only: the engine getting faster re-anchors the
        # claim; a claim drifting UP is either contention (the
        # re-measure gate handles it) or a real regression (which
        # must red the gate and be investigated, not silently
        # re-anchored away — that would be claim laundering).
        elif eff < c and c / eff > 1.5:
            # strip the previous tag WHEREVER it sits — hand edits
            # sometimes append prose after it, and an end-anchored
            # strip would stack a second tag instead of replacing
            why = re.sub(r"\s*\[re-anchored.*?\]", "", row["why"]).strip()
            row["why"] = f"{why} [re-anchored {stamp} tool: min {eff}]"
            row["ratio"] = eff
            changes.append(f"anchor {q}: claim {c} -> {eff}")
        elif eff > c * 1.5:
            changes.append(
                f"KEEP   {q}: claim {c} vs effective {eff} — upward "
                "re-anchor requires investigation, not automation"
            )
    for q, eff in sorted(effective.items()):
        if q in claims or eff <= 2.0:
            continue
        why = WHYS.get(q, GENERIC_WHY) + f" [added {stamp} tool: min {eff}]"
        claims[q] = {"ratio": eff, "why": why}
        changes.append(f"add    {q}: claim {eff}")
    return changes


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument(
        "artifact", nargs="?", default=os.path.join(REPO, "BENCH_DETAIL.json")
    )
    ap.add_argument("--dry-run", action="store_true")
    args = ap.parse_args(argv)
    with open(args.artifact) as fh:
        detail = json.load(fh)
    if not detail.get("scale_10x"):
        raise SystemExit(f"{args.artifact} has no scale_10x tier")
    doc = load_scale_claims(CLAIMS_PATH)
    stamp = dt.date.fromtimestamp(os.path.getmtime(args.artifact))
    changes = sync(doc["claims"], detail, stamp)
    for ch in changes:
        print(ch)
    if not changes:
        print("claims already in sync")
    elif not args.dry_run:
        with open(CLAIMS_PATH, "w") as fh:
            json.dump(doc, fh, indent=1, ensure_ascii=False)
            fh.write("\n")
        print(f"{CLAIMS_PATH} updated: {len(doc['claims'])} claim rows")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
