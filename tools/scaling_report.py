"""Pooled N→4N scaling report over the round-5 3 M-row tmpfs leg files.

Pooling rule (documented in BENCH/BASELINE.md, unchanged since round 4):
every benched phase (append / compact / cluster / merge / scan) takes its
per-level minimum over the final-code leg set (`BENCH_SCALING.jsonl`,
round-5: interleaved set 2 plus two extra local[8] draws) plus the other
round-5 set (`BENCH/scaling_r5_3M_set1.jsonl`) — bench phases are
code-identical across those commits (only docs/bench-data commits sit
between them). Per-phase min-of-N is the noise-resistant estimator for
the shared, externally-loaded host; a `rows` filter keeps legs from other
scales out of the pool. Leg counts per level are printed so asymmetric
draws (the 8-cpu side is ~3× cheaper per leg) stay visible.

Usage: python tools/scaling_report.py [final.jsonl [extra.jsonl ...]]

With no arguments it reproduces the banked round-5 pooled table. Given a
leg file, it pools only the extra files named after it, so a fresh run
(``tools/run_scaling.sh``) is never pooled with legs of older code.
"""

from __future__ import annotations

import json
import sys

PHASES = ["append_s", "compact_s", "cluster_s", "merge_s", "scan_s"]
POOLED = {"append_s", "compact_s", "cluster_s", "merge_s", "scan_s"}  # code-identical
FINAL_ONLY: set = set()  # (round 3: no benched operator changed between leg sets)


def load(path: str) -> list[dict]:
    return [json.loads(l) for l in open(path) if l.strip()]


def main() -> None:
    final_path = sys.argv[1] if len(sys.argv) > 1 else "BENCH_SCALING.jsonl"
    pre_paths = sys.argv[2:] if len(sys.argv) > 1 else ["BENCH/scaling_r5_3M_set1.jsonl"]
    final = load(final_path)
    pre = [r for p in pre_paths for r in load(p)]
    pre = [r for r in pre if r.get("rows") == final[0].get("rows")]

    def mins(runs: list[dict], phase: str) -> dict[int, float]:
        out: dict[int, float] = {}
        for r in runs:
            c = r["cpus"]
            out[c] = min(out.get(c, float("inf")), r[phase])
        return out

    lo_sum = hi_sum = 0.0
    print("| phase | local[2] s | local[8] s | speedup | efficiency | legs |")
    print("|---|---|---|---|---|---|")
    for p in PHASES:
        pool = final + pre if p in POOLED else final
        m = mins(pool, p)
        lo, hi = m[2], m[8]
        lo_sum += lo
        hi_sum += hi
        n2 = sum(1 for r in pool if r["cpus"] == 2)
        n8 = sum(1 for r in pool if r["cpus"] == 8)
        tag = f"{n2}+{n8}" + ("" if p in POOLED else " (final only)")
        print(
            f"| {p:10} | {lo:.1f} | {hi:.1f} | {lo / hi:.2f}x | "
            f"{lo / hi / 4:.2f} | {tag} |"
        )
    print(
        f"| {'TOTAL':10} | {lo_sum:.1f} | {hi_sum:.1f} | "
        f"{lo_sum / hi_sum:.2f}x | {lo_sum / hi_sum / 4:.2f} | |"
    )
    hi_runs = [r for r in final + pre if r["cpus"] == 8]
    print()
    print(
        "Best local[8] scan throughput:",
        f"{max(r['scan_seq_per_sec'] for r in hi_runs):,.0f} sequences/sec",
    )
    print(
        "Best local[8] compaction throughput:",
        f"{max(r['compact_gb_per_hr'] for r in hi_runs):,.1f} GB/hr",
    )


if __name__ == "__main__":
    main()
