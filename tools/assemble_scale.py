#!/usr/bin/env python3
"""Assemble BENCH_r<round>_scale.json from the per-point bench JSONs in
bench_points_r<round>/ (written by tools/scale_chain.sh <round>).

Usage: python3 tools/assemble_scale.py <round> [description]

Points: bench_r<round>_sf{0.1,1,3,10}.json at 1x/10x/30x/100x data.
sf0.1, sf1 and sf10 are required; sf3 runs last in the chain and is
optional. Every point must have failed == 0.
"""
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def assemble(rnd, description=None):
    pdir = os.path.join(ROOT, f"bench_points_r{rnd}")
    points = [(key, os.path.join(pdir, f"bench_r{rnd}_{sf}.json"), mult)
              for key, sf, mult in [("sf0_1", "sf0.1", 1), ("sf1", "sf1", 10),
                                    ("sf3", "sf3", 30), ("sf10", "sf10", 100)]]
    points = [p for p in points if p[0] != "sf3" or os.path.exists(p[1])]
    missing = [path for _, path, _ in points if not os.path.exists(path)]
    if missing:
        sys.exit(f"required bench points missing: {missing}")

    blocks = {}
    for key, path, _ in points:
        with open(path) as f:
            blocks[key] = json.load(f)
        if blocks[key]["failed"] != 0:
            sys.exit(f"{key} had failures")

    curve = []
    prev = None
    for key, _, mult in points:
        total = blocks[key]["value"]
        curve.append({
            "point": key, "data_multiple": mult,
            "suite_total_sec": round(total, 3),
            "step_ratio_vs_prev": None if prev is None else round(total / prev, 3),
            "failed": blocks[key]["failed"],
            "reps": blocks[key]["reps"],
        })
        prev = total

    q0, q10 = blocks["sf0_1"]["queries"], blocks["sf10"]["queries"]
    n = len(q0)
    total0, total10 = blocks["sf0_1"]["value"], blocks["sf10"]["value"]
    out = {
        "metric": f"scale_curve_r{rnd}",
        "description": description or (
            f"Full {n}-entry suite (end-of-round r{rnd} build, frozen "
            "classes across all points) at sf0.1 and 10x/30x/100x scaled "
            "copies (tools/gen_scaled_sf.py), same machine, local[32]. "
            "sf0.1: interleaved median-of-3 (also the tracked "
            "BENCH_local.json). sf1/sf3/sf10: WARM reps=1 (sf3 runs LAST "
            "and is optional)."),
        "generated_round": rnd,
        **blocks,
        "scale_curve": curve,
        "per_entry_sf10_over_sf0_1_ratio": {
            k: round(q10[k] / q0[k], 2) for k in sorted(q0) if k in q10},
        "summary": (
            f"{n}-entry suite, 100x data in {round(total10 / total0, 1)}x "
            f"time ({round(total0, 1)}s -> {round(total10, 1)}s), failed=0 "
            f"at all {len(points)} points (sf1/sf3/sf10 at reps=1-warm)."),
    }
    with open(os.path.join(ROOT, f"BENCH_r{rnd}_scale.json"), "w") as f:
        json.dump(out, f, indent=1)
    return out


if __name__ == "__main__":
    if len(sys.argv) not in (2, 3):
        sys.exit(__doc__)
    print(assemble(int(sys.argv[1]), sys.argv[2] if len(sys.argv) == 3 else None)["summary"])
