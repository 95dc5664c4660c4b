#!/usr/bin/env bash
# Evidence for the north rule's N→4N scaling-efficiency criterion: the same
# maintenance suite on the SAME input at local[8] vs local[32] (the sandbox
# stand-in for N vs 4N executors). The host carries background load from
# other tenants, so each level runs ITERS times in a fresh JVM and the
# per-phase MINIMUM is used (min-of-N is the standard noise-resistant
# estimator for shared machines). Raw runs land in BENCH_SCALING.jsonl.
set -euo pipefail
cd "$(dirname "$0")/.."
SF_DIR="${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}"
ITERS="${ITERS:-2}"
OUT="BENCH_SCALING.jsonl"
# CPU-scaling isolation: table + shuffle scratch on tmpfs so the shared
# host's contended /tmp disk (other tenants) doesn't alias into the
# parallelism comparison. Unset both to measure disk-backed throughput.
export SPARK_GRAFT_BENCH_DIR="${SPARK_GRAFT_BENCH_DIR:-/dev/shm/cts-bench}"
export SPARK_GRAFT_LOCAL_DIR="${SPARK_GRAFT_LOCAL_DIR:-/dev/shm/cts-shuffle}"
# one pass per leg: the interleaved ITERS loop below already provides the
# min-of-N estimate (bench.py's own in-process repeat default would double
# every leg's wall time for no extra information)
export SPARK_GRAFT_BENCH_REPEATS="${SPARK_GRAFT_BENCH_REPEATS:-1}"
: > "$OUT"
# levels INTERLEAVED (2,8,2,8,...) so drifting background load samples both
# legs alike; min-of-N per phase is the noise-resistant estimator.
for I in $(seq 1 "$ITERS"); do
  for CPUS in ${LEVELS:-2 8}; do  # no inner quotes: must word-split
    echo "=== cpus=$CPUS iter=$I sf_dir=$SF_DIR $(date -u +%H:%M:%S) loadavg=$(cut -d' ' -f1-3 /proc/loadavg) ===" >&2
    SPARK_GRAFT_SF_DIR="$SF_DIR" python bench.py --cpus "$CPUS" --skip-queries 2>/dev/null \
      | tail -1 >> "$OUT"
    rm -rf "$SPARK_GRAFT_BENCH_DIR"/* 2>/dev/null || true
  done
done
# report this run alone: its legs must not pool with banked old-commit legs
python tools/scaling_report.py "$OUT"
