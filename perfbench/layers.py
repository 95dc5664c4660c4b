"""Per-layer metrics of a traced run.

Layer names are the package's module names. ``install`` wraps the package
functions each layer is entered through; ``cycle_metrics`` folds the spans
of one traced cycle into ``<layer>.<metric>`` values. A layer a workload
does not enter reads 0. BENCHMARK.json lists the metrics with their units.
"""

from __future__ import annotations

from collections import defaultdict

from perfbench import stats
from perfbench.trace import SPARK_SET, Span, Tracer

CATALOG = "meta.catalog"
BINPACK = "operators.binpack"
COMPACT = "operators.compact"
CLUSTER = "operators.cluster"
MERGE = "operators.merge"
DELETE = "operators.delete"
EXPIRE = "operators.expire"
REWRITE = "operators.manifest_rewrite"

# span names: <layer>.<function>
ENTRIES = f"{CATALOG}.manifest_entries"
FILE_PATHS = f"{CATALOG}.file_paths"
COMMIT = f"{CATALOG}.commit"
APPEND = f"{CATALOG}.append"
DIGEST = f"{CATALOG}.table_digest"
PLAN = f"{BINPACK}.plan_compaction_groups"
COMPACT_FN = f"{COMPACT}.compact"
CLUSTER_FN = f"{CLUSTER}.cluster"
MERGE_FN = f"{MERGE}.merge_into"
DELETE_FN = f"{DELETE}.delete_where"
EXPIRE_FN = f"{EXPIRE}.expire_snapshots"
REWRITE_FN = f"{REWRITE}.rewrite_manifests"

LOOKUP_OPS = ("lookup", "pruned_lookup")
OVERHEAD = "perfbench.trace_overhead_frac"
STAGE_FRAC = "perfbench.spark_stage_frac"


def _plan_attrs(args, kwargs, groups) -> dict:
    target = args[1] if len(args) > 1 else kwargs["target_bytes"]
    fills = [g.total_bytes / target for g in groups]
    return {"groups": len(groups), "fill_sum": sum(fills)}


def install(tracer: Tracer) -> None:
    """Wrap the entry points of every layer. Undo with ``tracer.restore``."""
    from circus_train_spark.meta.catalog import TokenTable
    from circus_train_spark.operators import binpack, cluster, compact, delete, expire
    from circus_train_spark.operators import manifest_rewrite, merge

    w = tracer.wrap
    w(TokenTable, "manifest_entries", ENTRIES)
    w(TokenTable, "file_paths", FILE_PATHS, attrs=lambda a, k, r: {"files": len(r)})
    w(TokenTable, "commit", COMMIT)
    w(TokenTable, "append", APPEND, spark=True)
    w(TokenTable, "table_digest", DIGEST, spark=True)
    # compact imported the planner by name, so patch both bindings
    w(binpack, "plan_compaction_groups", PLAN, attrs=_plan_attrs)
    w(compact, "plan_compaction_groups", PLAN, attrs=_plan_attrs)
    w(
        compact, "compact", COMPACT_FN, spark=True,
        attrs=lambda a, k, r: {
            "files_in": r.files_in, "files_out": r.files_out, "bytes_rewritten": r.bytes_in,
        },
    )
    w(cluster, "cluster", CLUSTER_FN, spark=True)
    w(merge, "merge_into", MERGE_FN, spark=True,
      attrs=lambda a, k, r: {"files_touched": r.files_touched})
    w(delete, "delete_where", DELETE_FN, spark=True,
      attrs=lambda a, k, r: {"files_rewritten": r.files_rewritten})
    w(
        expire, "expire_snapshots", EXPIRE_FN,
        attrs=lambda a, k, r: {
            "snapshots_expired": len(r.expired_snapshots),
            "files_deleted": r.data_files_deleted + r.manifest_files_deleted,
        },
    )
    w(
        manifest_rewrite, "rewrite_manifests", REWRITE_FN,
        attrs=lambda a, k, r: {"manifests_in": r.manifests_before, "manifests_out": r.manifests_after},
    )


def cycle_metrics(spans: list[Span], notes: dict) -> dict[str, float]:
    """Every per-layer metric for the spans of one traced cycle."""
    by_name: dict[str, list[Span]] = defaultdict(list)
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        by_name[s.name].append(s)
        if s.parent is not None:
            children[s.parent].append((s.start, s.end))

    def wall_ms(name: str) -> float:
        return 1e3 * sum(s.end - s.start for s in by_name[name])

    def attr(name: str, key: str) -> float:
        return sum(s.attrs.get(key, 0) for s in by_name[name])

    def self_ms(layer: str) -> float:
        return 1e3 * sum(
            stats.self_time(s.start, s.end, children[s.span_id])
            for s in spans
            if s.layer == layer
        )

    lookups = [
        s.attrs["files"]
        for s in by_name[FILE_PATHS]
        if s.op_id.split(".")[1] in LOOKUP_OPS and "files" in s.attrs
    ]
    plans = attr(PLAN, "groups")
    live = notes.get("merge_files_live")
    m = {
        f"{CATALOG}.manifest_entries_ms": wall_ms(ENTRIES),
        f"{CATALOG}.file_paths_ms": wall_ms(FILE_PATHS),
        f"{CATALOG}.commit_ms": wall_ms(COMMIT),
        f"{CATALOG}.entries_live": notes.get("entries_live", 0),
        f"{CATALOG}.manifests_live": notes.get("manifests_live", 0),
        f"{CATALOG}.files_per_lookup": sum(lookups) / len(lookups) if lookups else 0,
        f"{BINPACK}.plan_ms": wall_ms(PLAN),
        f"{BINPACK}.groups": plans,
        f"{BINPACK}.fill_ratio": attr(PLAN, "fill_sum") / plans if plans else 0,
        f"{COMPACT}.wall_ms": wall_ms(COMPACT_FN),
        f"{COMPACT}.files_in": attr(COMPACT_FN, "files_in"),
        f"{COMPACT}.files_out": attr(COMPACT_FN, "files_out"),
        f"{COMPACT}.bytes_rewritten": attr(COMPACT_FN, "bytes_rewritten"),
        f"{CLUSTER}.wall_ms": wall_ms(CLUSTER_FN),
        f"{MERGE}.wall_ms": wall_ms(MERGE_FN),
        f"{MERGE}.files_rewritten_frac": attr(MERGE_FN, "files_touched") / live if live else 0,
        f"{DELETE}.wall_ms": wall_ms(DELETE_FN),
        f"{DELETE}.jobs": attr(DELETE_FN, "jobs"),
        f"{DELETE}.files_rewritten": attr(DELETE_FN, "files_rewritten"),
        f"{EXPIRE}.wall_ms": wall_ms(EXPIRE_FN),
        f"{EXPIRE}.snapshots_expired": attr(EXPIRE_FN, "snapshots_expired"),
        f"{EXPIRE}.files_deleted": attr(EXPIRE_FN, "files_deleted"),
        f"{REWRITE}.wall_ms": wall_ms(REWRITE_FN),
        f"{REWRITE}.manifests_in": attr(REWRITE_FN, "manifests_in"),
        f"{REWRITE}.manifests_out": attr(REWRITE_FN, "manifests_out"),
    }
    for layer in (CATALOG, COMPACT, CLUSTER, MERGE, DELETE):
        m[f"{layer}.self_ms"] = self_ms(layer)
    for prefix, fn in ((f"{CATALOG}.append", APPEND), (f"{CATALOG}.table_digest", DIGEST),
                       (COMPACT, COMPACT_FN), (CLUSTER, CLUSTER_FN), (MERGE, MERGE_FN)):
        for k in SPARK_SET:
            m[f"{prefix}.{k}"] = attr(fn, k)
    return m


def stage_busy_s(spans: list[Span]) -> float:
    """Wall time in which at least one Spark stage ran, summed over the
    outermost spans that read Spark counters (nested ones are inside them)."""
    by_id = {s.span_id: s for s in spans}

    def counted(s: Span) -> bool:
        return "driver_gap_s" in s.attrs

    busy = 0.0
    for s in spans:
        if not counted(s):
            continue
        p = by_id.get(s.parent)
        while p is not None and not counted(p):
            p = by_id.get(p.parent)
        if p is None:
            busy += (s.end - s.start) - s.attrs["driver_gap_s"]
    return busy


def run_metrics(tracer: Tracer, cycles: list[dict]) -> dict[str, float]:
    """Median over the traced cycles of each per-layer metric, the share of
    the timed cycle in which a Spark stage ran, and the tracing overhead:
    traced over untraced median cycle time, minus one."""
    traced = [c for c in cycles if c["traced"]]
    per_cycle = []
    for c in traced:
        spans = [s for s in tracer.spans if s.cycle == c["cycle"]]
        m = cycle_metrics(spans, c["notes"])
        m[STAGE_FRAC] = stage_busy_s(spans) / c["cycle_s"]
        per_cycle.append(m)
    out = {name: stats.median([m[name] for m in per_cycle]) for name in (per_cycle or [{}])[0]}
    t = stats.median([c["cycle_s"] for c in traced])
    u = stats.median([c["cycle_s"] for c in cycles if not c["traced"]])
    out[OVERHEAD] = t / u - 1 if t and u else 0.0
    return out
