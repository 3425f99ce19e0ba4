"""Scale ladder: the same ER job at fixed parallelism over growing corpora.

The scaling bench (bench_scaling.py) answers "more cores, same data"; this
answers the other scale axis — "same cores, more data": throughput
(pairs/s) should hold roughly constant as the corpus grows, i.e. per-pair
cost is independent of corpus size (no super-linear stage hiding in the
plan). Writes BENCH/LADDER.md.

Note on pair growth: the synthetic corpus has a fixed token vocabulary, so
candidate pairs grow ~quadratically with turns at fixed blocking settings;
production corpora use the df-cap (``--max-token-df``) and block-size cap
to keep pair counts linear in turns. The ladder measures per-PAIR cost,
which is the invariant that matters.

Usage: python tools/bench_ladder.py [--cpus N] [--scales 0.002 0.008 0.016]

``--cpus`` defaults to the host's core count.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_once(cpus: int, scale: float, seed: int = 42) -> dict:
    workdir = f"/tmp/pilsner_ladder_{scale}"
    shutil.rmtree(workdir, ignore_errors=True)
    entities = max(200, int(scale * 1_000_000))
    cmd = [
        sys.executable, "-m", "pilsner_spark.plans.pipeline",
        "--scale", str(scale), "--cpus", str(cpus), "--workdir", workdir,
        "--dictionary", "synthetic", "--entities", str(entities), "--seed", str(seed),
    ]
    out = subprocess.run(cmd, cwd=REPO, capture_output=True, text=True, check=True)
    report = json.loads(out.stdout.strip().splitlines()[-1])
    shutil.rmtree(workdir, ignore_errors=True)
    return report


def main() -> None:
    parser = argparse.ArgumentParser()
    parser.add_argument("--cpus", type=int, default=os.cpu_count() or 4)
    parser.add_argument("--scales", type=float, nargs="+", default=[0.002, 0.008, 0.016])
    parser.add_argument("--out", default=os.path.join(REPO, "BENCH", "LADDER.md"))
    args = parser.parse_args()

    rows = []
    for s in args.scales:
        r = run_once(args.cpus, s)
        rows.append((s, r))
        print(json.dumps({"scale": s, "turns": r["n_turns"], "pairs": r["pairs_scored"],
                          "wall": r["wall_seconds"], "pairs_per_s": r["pairs_per_second"],
                          "f1": r["f1"]}), flush=True)

    base_thr = rows[0][1]["pairs_per_second"]
    lines = [
        "# BENCH/LADDER — same cores, growing corpus",
        "",
        f"ER pipeline at local[{args.cpus}], corpus scaled "
        f"{'/'.join(str(s) for s in args.scales)} (seeded synthetic, entities = turns-proportional).",
        "Throughput per pair should hold as load grows — the 'same cores, more data' axis",
        "complementing BASELINE.md's 'more cores, same data' run.",
        "",
        "| scale | turns | pairs scored | wall (s) | pairs/s | vs smallest | F1 |",
        "|---|---|---|---|---|---|---|",
    ]
    for s, r in rows:
        ratio = r["pairs_per_second"] / base_thr
        lines.append(
            f"| {s} | {r['n_turns']} | {r['pairs_scored']} | {r['wall_seconds']} | "
            f"{r['pairs_per_second']} | {ratio:.2f}x | {r['f1']} |"
        )
    lines += [
        "",
        "Stage walls (largest run; `stage_wall_seconds`: the whole stage, its",
        "driver-side work and eager jobs included, not only the checkpoint write job):",
        "",
        "| stage | wall (s) |",
        "|---|---|",
    ]
    for k, v in rows[-1][1]["stages"].items():
        if "stage_wall_seconds" in v:
            lines.append(f"| {k} | {v['stage_wall_seconds']} |")
    lines += [
        "",
        "Raw reports:",
        "",
        "```json",
        *[json.dumps(r) for _, r in rows],
        "```",
        "",
    ]
    # preserve hand-curated sections (largest-run records, protocol notes):
    # everything from the CURATED marker onward survives regeneration
    curated = ""
    if os.path.exists(args.out):
        old = open(args.out).read()
        idx = old.find("<!-- CURATED -->")
        if idx >= 0:
            curated = "\n" + old[idx:]
    os.makedirs(os.path.dirname(args.out), exist_ok=True)
    with open(args.out, "w") as f:
        f.write("\n".join(lines) + curated)
    print(f"wrote {args.out}")


if __name__ == "__main__":
    main()
