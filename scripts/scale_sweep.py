#!/usr/bin/env python
"""Full-registry 10× scale sweep: time EVERY fine-grained registry
entry at sf0.1 and at the synthesized ~sf1 dataset
(``scripts/make_scale10x.py``) in one session and flag super-linear
outliers.

The headline-only 10× rehearsal (SCALE.md, "Full-suite 10× rehearsal")
caught a real scale bug (the shuffled multi-query sort-merge join); this
sweep applies the same test to all 208 entries — anything whose wall
grows much faster than the data is either genuinely super-linear work
(the documented O(n²) baselines) or a plan bug worth reading.

Entries documented as exact-quadratic correctness baselines are skipped
at sf1 with the reason printed (their cost IS the point — the scaled
production twin runs instead): ``dedup_embedding_cosine`` (all-pairs
cosine), ``ann_knn_graph`` (exact k-NN graph), ``dedup_embedding_suite``
/ ``dedup_embedding_recall`` (embed the all-pairs member as ground
truth), ``ann_ivf_suite`` (embeds ann_knn_graph). Recall-family entries
scale the exact side O(corpus × queries) by design and carry
``sample_fraction`` for that; they stay IN the sweep so the cost is
visible.

Usage: python scripts/scale_sweep.py [sf1_dir] [ratio_flag]
Writes scale_sweep.json: {entry: {sf01, sf1, ratio}} + flagged list.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF01 = "/root/testdata/sf0.1"
SF1 = sys.argv[1] if len(sys.argv) > 1 else "/dev/shm/sparkgraft-sf1.0"
FLAG_RATIO = float(sys.argv[2]) if len(sys.argv) > 2 else 5.0

# 10x the rows on the same 32 cores: PERFECTLY linear compute scales the
# wall ~10x once past the scheduling floor, so the >FLAG_RATIO net also
# catches healthy entries transitioning from floor-dominated (sf0.1 wall
# mostly per-job overhead) to compute-dominated. Anything flagged at or
# below this bound and not otherwise annotated is auto-annotated
# within_linear — the flag list stays a zero-unexplained-entries contract
# (r9): every row carries by_design, within_linear, or is a real finding.
LINEAR_BAND = 10.5

# exact-quadratic correctness baselines: O(n²) at sf1 is their documented
# nature, not a finding (production twins are the banded/LSH variants)
SKIP_AT_SF1 = {
    "dedup_embedding_cosine": "exact all-pairs cosine baseline (O(n²))",
    "ann_knn_graph": "exact k-NN graph baseline (O(n²))",
    "dedup_embedding_recall": "embeds the all-pairs baseline as truth",
    "dedup_embedding_suite": "folds the all-pairs baseline member",
    "ann_ivf_suite": "folds the exact knn-graph member",
    "ann_knn_graph_recall": "embeds the exact knn-graph baseline as truth "
    "(r9 recall dial for the capped variant)",
}

# entries whose super-linear ratio is BY DESIGN — they pin the exact
# (uncapped) pair set, and a generation-bounding star-capped twin is
# the production mode (added in r8 after this sweep first flagged
# them); a flag on these is expected, not a finding
QUADRATIC_WITH_CAPPED_TWIN = {
    "multimodal_image_dedup": "multimodal_image_dedup_capped",
    "multimodal_video_dedup": "multimodal_video_dedup_capped",
    "dedup_embedding_lsh": "max_bucket on embedding_dup_pairs_lsh",
    "dedup_embedding_lsh_multiband": "dedup_embedding_lsh_multiband_capped",
    "multimodal_frame_sample": "folds the uncapped pair members "
    "(capped twins ride the same fold)",
    # r9: the uncapped registry baselines now pass max_bucket=None
    # EXPLICITLY (operator defaults flipped to 1000) — their growth stays
    # by-design; library callers get the capped plan by default
    # r10: knn_graph_lsh itself now DEFAULTS to the rank-window-bounded
    # plan (cand_per_bucket="auto" -> 8·k); this registry entry passes
    # cand_per_bucket=None explicitly to pin the uncapped oracle baseline
    "ann_knn_graph_lsh": "knn_graph_lsh default since r10 "
    "(rank-window bound; uncapped requires cand_per_bucket=None)",
    "multimodal_audio_dedup": "same banded join as the image family; "
    "max_bucket on band_hash_pairs",
}


def main() -> int:
    if not os.path.isdir(SF1):
        raise SystemExit(f"{SF1} missing — run scripts/make_scale10x.py")
    from similarity_search_with_hadoop_mapreduce_spark.registry import QUERIES
    from similarity_search_with_hadoop_mapreduce_spark.session import get_session

    spark = get_session("scale-sweep", master="local[32]", shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")

    def run_once(fn, sf_dir) -> float | None:
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        return round(time.perf_counter() - t0, 3)

    out: dict[str, dict] = {}
    for name, fn in QUERIES.items():
        rec: dict = {}
        try:
            rec["sf01"] = run_once(fn, SF01)
        except Exception as e:  # noqa: BLE001
            rec["sf01_error"] = f"{type(e).__name__}: {e}"[:200]
            out[name] = rec
            print(f"ERR  {name} @sf0.1: {rec['sf01_error']}", flush=True)
            continue
        if name in SKIP_AT_SF1:
            rec["sf1_skipped"] = SKIP_AT_SF1[name]
            print(f"skip {name}: {rec['sf1_skipped']}", flush=True)
        else:
            try:
                rec["sf1"] = run_once(fn, SF1)
                rec["ratio"] = round(rec["sf1"] / max(rec["sf01"], 0.001), 1)
            except Exception as e:  # noqa: BLE001
                rec["sf1_error"] = f"{type(e).__name__}: {e}"[:200]
            print(
                f"ok   {name}: sf0.1={rec.get('sf01')}s "
                f"sf1={rec.get('sf1', rec.get('sf1_error'))}s "
                f"ratio={rec.get('ratio')}",
                flush=True,
            )
        out[name] = rec

    flagged = sorted(
        (
            (n, r["ratio"])
            for n, r in out.items()
            if r.get("ratio", 0) > FLAG_RATIO and r.get("sf1", 0) > 1.0
        ),
        key=lambda t: -t[1],
    )

    # Prior-round baseline ratios (ADVICE r9): a blanket within_linear
    # band would silently explain away a 6-10x regression in an entry
    # that previously scaled sub-linearly (floor-dominated). Compare
    # each in-band entry against the committed prior sweep: if its
    # ratio grew materially vs last round, it STAYS a finding
    # (ratio_regression_vs_prior) instead of being auto-annotated.
    prior_path = os.path.join(os.path.dirname(__file__), "..",
                              "scale_sweep.json")
    prior_ratios: dict[str, float] = {}
    try:
        with open(prior_path) as f:
            prior = json.load(f)
        prior_ratios = {
            n: e["ratio"]
            for n, e in prior.get("entries", {}).items()
            if isinstance(e, dict) and isinstance(e.get("ratio"), (int, float))
        }
    except (OSError, ValueError):
        pass  # first run / missing artifact: fall back to the band alone

    def _annotate(n: str, r: float) -> dict:
        if n in QUADRATIC_WITH_CAPPED_TWIN:
            return {"by_design": QUADRATIC_WITH_CAPPED_TWIN[n]}
        if r > LINEAR_BAND:
            return {}  # super-linear: always a finding
        pr = prior_ratios.get(n)
        if pr is not None and r > pr * 1.5 and r - pr > 1.0:
            # in the linear band, but materially worse than last round —
            # keep it visible as a potential new slowdown
            return {"ratio_regression_vs_prior": pr}
        ann = {"within_linear": "<=10x wall for 10x rows on fixed cores"}
        if pr is not None:
            ann["prior_ratio"] = pr
        return ann

    record = {
        "artifact": "scale_sweep",
        "sf1_dir": SF1,
        "flag_ratio": FLAG_RATIO,
        "n_entries": len(out),
        "flagged": [
            {"entry": n, "ratio": r, **_annotate(n, r)} for n, r in flagged
        ],
        "entries": out,
    }
    with open("scale_sweep.json", "w") as f:
        json.dump(record, f, indent=1)
    print(f"\nflagged (>{FLAG_RATIO}x and >1s at sf1): {flagged}")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
