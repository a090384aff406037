"""Empirical scaling evidence: run the headline bench at two scale
factors on the same VM and report the per-query scaling ratio.

Runs ``bench.py`` as a subprocess per scale factor (fresh JVM each, so
neither run inherits the other's warmed caches), parses the ONE JSON
line each emits, and writes ``SCALE_BENCH.md`` with a ratio table.
Queries whose ratio exceeds ``--flag-ratio`` (default 12x for 10x
data, i.e. allows ~n log n plus constant noise) are flagged for
explanation.

Usage: python scripts/scale_bench.py \
    [--small <testdata>/sf0.1] [--large <checkout>/.scratch/sf1] \
    [--runs-small 2] [--runs-large 1] [--flag-ratio 12]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_bench(sf_dir: str, runs: int) -> dict:
    env = dict(os.environ)
    env["SPARK_GRAFT_SF_DIR"] = sf_dir
    env["SPARK_GRAFT_BENCH_RUNS"] = str(runs)
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")],
        env=env,
        capture_output=True,
        text=True,
        check=True,
    ).stdout
    for line in out.splitlines():
        line = line.strip()
        if line.startswith('{"metric"'):
            return json.loads(line)
    raise RuntimeError(f"no bench JSON in output for {sf_dir}:\n{out[-2000:]}")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--small", default="/root/testdata/sf0.1")
    ap.add_argument("--large", default=os.path.join(REPO, ".scratch/sf1"))
    ap.add_argument("--runs-small", type=int, default=2)
    ap.add_argument("--runs-large", type=int, default=1)
    ap.add_argument("--flag-ratio", type=float, default=12.0)
    ap.add_argument("--out", default=os.path.join(REPO, "SCALE_BENCH.md"))
    args = ap.parse_args()

    # the intermediate dumps always land in .scratch even when
    # --small/--large point elsewhere; create it or the crash lands
    # AFTER the expensive small leg finishes
    os.makedirs(os.path.join(REPO, ".scratch"), exist_ok=True)
    print(f"== bench @ {args.small} (runs={args.runs_small})", flush=True)
    small = run_bench(args.small, args.runs_small)
    with open(os.path.join(REPO, ".scratch/bench_small.json"), "w") as f:
        json.dump(small, f)
    print(json.dumps(small)[:400], flush=True)
    print(f"== bench @ {args.large} (runs={args.runs_large})", flush=True)
    large = run_bench(args.large, args.runs_large)
    with open(os.path.join(REPO, ".scratch/bench_large.json"), "w") as f:
        json.dump(large, f)
    print(json.dumps(large)[:400], flush=True)

    factor = (large.get("sf") or 1.0) / (small.get("sf") or 0.1)
    # the two legs run back-to-back but co-tenant CPU contention can
    # shift between them; normalizing the large leg by the calib delta
    # separates data scaling from machine drift
    drift = large["calib_sec"] / small["calib_sec"]
    sq, lq = small["queries"], large["queries"]
    rows = []
    for q in sq:
        if q not in lq:
            continue
        s, l = sq[q], lq[q]
        ratio = l / s if s > 0 else float("inf")
        rows.append((q, s, l, ratio, ratio / drift))
    rows.sort(key=lambda r: -r[4])
    flagged = [r for r in rows if r[4] > args.flag_ratio]

    lines = [
        "# SCALE_BENCH — empirical scaling evidence",
        "",
        f"Same VM, same session config (local[32]); sf{small['sf']} "
        f"(best of {args.runs_small}) vs sf{large['sf']} "
        f"(best of {args.runs_large}), {factor:.0f}x data.",
        f"CPU calibration: calib_sec {small['calib_sec']} (small leg) / "
        f"{large['calib_sec']} (large leg) — the adj column divides the "
        f"raw ratio by the {drift:.2f}x machine drift between legs.",
        "",
        f"Suite total: {small['value']}s -> {large['value']}s "
        f"({large['value'] / small['value']:.2f}x raw, "
        f"{large['value'] / small['value'] / drift:.2f}x adj "
        f"for {factor:.0f}x data).",
        f"Queries flagged (adj > {args.flag_ratio}x): {len(flagged)} "
        f"of {len(rows)}.",
        "",
        "| query | sf0.1 s | sf1 s | ratio | adj |",
        "|---|---|---|---|---|",
    ]
    for q, s, l, ratio, adj in rows:
        mark = " **FLAG**" if adj > args.flag_ratio else ""
        lines.append(
            f"| {q}{mark} | {s:.3f} | {l:.3f} | {ratio:.1f}x | {adj:.1f}x |"
        )
    lines += [
        "",
        "## Flagged queries",
        "",
        "(explanations added by hand after investigation)",
        "",
    ]
    with open(args.out, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {args.out}; flagged: {[r[0] for r in flagged]}", flush=True)


if __name__ == "__main__":
    main()
