"""MERGE INTO — one copy-on-write plan behind two entry points.

``merge_conditional`` takes SQL-style clauses:

  WHEN MATCHED [AND <cond>] THEN UPDATE SET col = <expr>, ...
  WHEN MATCHED [AND <cond>] THEN DELETE
  WHEN NOT MATCHED [AND <cond>] THEN INSERT [(col = <expr>, ...)]

Conditions/expressions are Spark SQL over the TARGET row's columns by name
plus the SOURCE row's columns as ``s_<col>`` (e.g. ``"s_n_tok > n_tok"``).
Clause order is significant: the first clause whose condition holds wins for
each row (ANSI MERGE semantics); a matched row matching no clause is left
untouched, a source row matching no NOT MATCHED clause is ignored. Reference
analogue: the per-partition create-vs-alter classification of
``core/replica/Replica.java:177-204`` generalized to row granularity.

``merge_into`` is a clause preset over the same core for a change set of the
data columns plus ``_op`` ∈ {``upsert``, ``delete``}:

  WHEN MATCHED AND s__op = 'delete' THEN DELETE
  WHEN MATCHED THEN UPDATE SET *
  WHEN NOT MATCHED AND s__op = 'upsert' THEN INSERT

Plan (all joins on ``doc_id``):
1. **pre-pass** — one bounded pass over the source. Up to
   ``DRIVER_PRUNE_THRESHOLD_KEYS`` keys are collected and checked for
   duplicates driver-side; a larger source pays one aggregation instead.
   Each source row's NOT MATCHED clause is evaluated here (it can only see
   the source row).
2. **file pruning** — manifest entries whose [min_doc_id, max_doc_id] range
   could contain a source key survive: a driver-side binary search over the
   collected keys, or a distributed prefix-bucket join for large sources.
3. **probe** — ONE pass joins the candidate files against the source and
   evaluates the matched-clause cascade. Catalyst prunes the target read to
   ``doc_id`` plus the condition columns. Per file it yields the clause
   counts (hence the touched files), how many rows of each NOT MATCHED
   clause did match, and for a collected source the matched keys themselves
   (a large source keeps them cached instead), so the candidates are scanned
   once.
4. **copy-on-write write** — touched files are rewritten through the
   cascade (DELETE rows dropped, UPDATE columns reassigned) and unioned with
   the insert rows (source anti-join the matched keys — the reference's
   propagate-deletes anti-join, ``core/replica/DestructiveReplica.java:
   83-127``). Untouched files are not rewritten — byte-identical, the
   copy-on-write minimality contract.
5. one lineage record and one atomic commit: remove touched files, add the
   rewritten ones.

The source side is broadcast up to ``BROADCAST_THRESHOLD_ROWS`` rows, else
Catalyst/AQE picks a sort-merge or shuffled-hash join. Pending merge-on-read
deletes are honored throughout (probe and rewrite read through the
delete-aware scan).
"""

from __future__ import annotations

import time
from collections import Counter
from dataclasses import dataclass

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from circus_train_spark.ids import new_event_id
from circus_train_spark.meta.catalog import TokenTable, _strip_uri
from circus_train_spark.meta.lineage import STATUS_DONE, LineageRecord

OP = "merge"
# size selections made from the source's row count
BROADCAST_THRESHOLD_ROWS = 1_000_000
DRIVER_PRUNE_THRESHOLD_KEYS = 200_000


@dataclass
class MergeResult:
    snapshot_id: int | None
    files_touched: int
    files_pruned: int
    files_out: int
    inserted: int
    updated: int
    deleted: int
    clause_rows: list[int]  # actionable rows per clause, clause order
    strategy: str
    duration_s: float


def _lcp_len(a: str, b: str) -> int:
    n = 0
    for x, y in zip(a, b):
        if x != y:
            break
        n += 1
    return n


def _prune_by_stats_local(
    entries: list[dict], sorted_keys: list[str]
) -> tuple[list[dict], int]:
    """Driver-side stats pruning for SMALL change sets: binary-search the
    sorted key list against each file's [min, max] range. O(files · log
    keys), zero Spark jobs — the size-adaptive fast path (a 10^4-key merge
    shouldn't pay a distributed-join's scheduling latency just to plan)."""
    from bisect import bisect_left

    kept = []
    for e in entries:
        mn, mx = e["min_doc_id"], e["max_doc_id"]
        if mn is None or mx is None:
            kept.append(e)  # no stats: conservative keep
            continue
        i = bisect_left(sorted_keys, mn)
        if i < len(sorted_keys) and sorted_keys[i] <= mx:
            kept.append(e)
    return kept, len(entries) - len(kept)


def _prune_by_stats(entries: list[dict], keys_df: DataFrame) -> tuple[list[dict], int]:
    """Keep manifest entries whose doc_id range may contain a change key.

    Scale-safe plan: a bare range-containment theta join is a
    broadcast-nested-loop (O(files x keys) — 10^12 comparisons at 10^6
    files x 10^6 keys). Instead, files whose [min_doc_id, max_doc_id] share
    a common prefix of length L are **equi-joined on that prefix** (hash
    join with the range check as a residual filter; truncation is monotone
    in lexicographic order, so a key inside the range must carry the same
    prefix). L is the median LCP over the manifest, so at least half the
    files take the equi path; range-spanning files are conservatively kept
    (they proceed to the column-pruned probe, which is the real filter).
    """
    if not entries:
        return [], 0
    spark = keys_df.sparkSession
    lcps = sorted(
        _lcp_len(e["min_doc_id"] or "", e["max_doc_id"] or "")
        for e in entries
    )
    L = lcps[len(lcps) // 2]
    spanning, bucketed = [], []
    for e in entries:
        mn, mx = e["min_doc_id"], e["max_doc_id"]
        if mn is None or mx is None or L == 0 or mn[:L] != mx[:L]:
            spanning.append(e)  # conservative keep (no stats / wide range)
        else:
            bucketed.append(e)
    hit_set: set[str] = set()
    if bucketed:
        m = spark.createDataFrame(
            [
                (e["file_path"], e["min_doc_id"], e["max_doc_id"], e["min_doc_id"][:L])
                for e in bucketed
            ],
            "file_path string, min_doc_id string, max_doc_id string, pfx string",
        )
        keyed = keys_df.withColumn("pfx", F.substring("doc_id", 1, L))
        # stream the (large) key side, broadcast the (small) manifest side:
        # hash join on pfx, range containment as residual, distinct file set
        hit = (
            keyed.join(
                F.broadcast(m),
                (keyed.pfx == m.pfx)
                & (keyed.doc_id >= m.min_doc_id)
                & (keyed.doc_id <= m.max_doc_id),
                "inner",
            )
            .select("file_path")
            .distinct()
            .collect()
        )
        hit_set = {r["file_path"] for r in hit}
    kept = spanning + [e for e in bucketed if e["file_path"] in hit_set]
    return kept, len(entries) - len(kept)


@dataclass
class MergeClause:
    when: str                                 # "matched" | "not_matched"
    action: str                               # "update" | "delete" | "insert"
    condition: str | None = None              # None = always applies
    assignments: dict[str, str] | None = None  # update/insert column exprs

    def validate(self, data_cols: list[str]) -> None:
        if self.when not in ("matched", "not_matched"):
            raise ValueError(f"bad when: {self.when!r}")
        allowed = {"matched": ("update", "delete"), "not_matched": ("insert",)}
        if self.action not in allowed[self.when]:
            raise ValueError(f"WHEN {self.when} cannot {self.action}")
        if self.action == "update" and not self.assignments:
            raise ValueError("UPDATE clause needs assignments")
        bad = set(self.assignments or {}) - set(data_cols)
        if bad:
            raise ValueError(f"unknown columns in SET: {sorted(bad)}")


def _clause_action_idx(clauses: list[tuple[int, MergeClause]]):
    """First-matching-clause index as a column cascade; -1 = no clause."""
    expr = F.lit(-1)
    for i, c in reversed(clauses):
        cond = F.lit(True) if c.condition is None else F.expr(c.condition)
        expr = F.when(cond, F.lit(i)).otherwise(expr)
    return expr


def _assign(clauses, data_cols: list[str], action_col: str, default) -> list:
    """Per data column: the assignment of the clause whose index is in
    ``action_col``, else ``default(col)``."""
    proj = []
    for col in data_cols:
        expr = default(col)
        for i, c in clauses:
            if col in (c.assignments or {}):
                expr = F.when(
                    F.col(action_col) == i, F.expr(c.assignments[col])
                ).otherwise(expr)
        proj.append(expr.alias(col))
    return proj


def _merge(
    table: TokenTable,
    source: DataFrame,
    clauses: list[MergeClause],
    operation: str,
    run_id: str | None = None,
    extra_summary: dict | None = None,
) -> MergeResult:
    """The copy-on-write MERGE core (plan in the module docstring)."""
    t0 = time.monotonic()
    event_id = run_id or new_event_id()
    base = table.current_snapshot()
    data_cols = [f.name for f in table.data_schema().fields]
    for c in clauses:
        c.validate(data_cols)
    matched = [(i, c) for i, c in enumerate(clauses) if c.when == "matched"]
    inserts = [(i, c) for i, c in enumerate(clauses) if c.when == "not_matched"]
    # source columns as s_<col>, plus the NOT MATCHED clause each row takes
    # if its key turns out absent (_ins, -1 = none)
    src_cols = data_cols + [c for c in source.columns if c not in data_cols]
    srcd = (
        source.select(*[F.col(c).alias(f"s_{c}") for c in src_cols])
        .withColumn("_ins", _clause_action_idx(inserts))
        .cache()
    )

    # 1. single bounded pre-pass. CollectLimit executes incrementally, so
    # the small-path peek never scans a huge source; only an over-threshold
    # source pays the aggregation.
    head = (
        srcd.select("s_doc_id", "_ins")
        .limit(DRIVER_PRUNE_THRESHOLD_KEYS + 1)
        .collect()
    )
    if len(head) <= DRIVER_PRUNE_THRESHOLD_KEYS:
        sorted_keys: list[str] | None = sorted({r["s_doc_id"] for r in head})
        n_source, n_distinct = len(head), len(sorted_keys)
        ins_rows = Counter(r["_ins"] for r in head)
    else:
        pre = srcd.agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct("s_doc_id").alias("nd"),
            *[F.count(F.when(F.col("_ins") == i, 1)).alias(str(i)) for i, _ in inserts],
        ).collect()[0]
        sorted_keys = None
        n_source, n_distinct = pre["n"], pre["nd"]
        ins_rows = Counter({i: pre[str(i)] for i, _ in inserts})
    if n_distinct != n_source:
        srcd.unpersist()
        raise ValueError(
            f"ambiguous MERGE: {n_source - n_distinct} duplicate doc_id keys in "
            "the source (each key may appear at most once)"
        )
    use_broadcast = n_source <= BROADCAST_THRESHOLD_ROWS
    strategy = "broadcast" if use_broadcast else "sort_merge"

    def keyside(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if use_broadcast else df

    # 2. stats-based file pruning, size-adaptive
    entries = table.manifest_entries(base.snapshot_id)
    if sorted_keys is not None:
        candidates, n_pruned = _prune_by_stats_local(entries, sorted_keys)
    else:
        candidates, n_pruned = _prune_by_stats(
            entries, srcd.select(F.col("s_doc_id").alias("doc_id"))
        )

    # 3. probe. Per-file grouped aggregate (NOT one global collect_set): the
    # reduction stays parallel and each result row is tiny. The matched keys
    # of rows a NOT MATCHED clause would take come back with the counts for
    # a small source; a large one keeps them cached instead of funnelling
    # them through the driver.
    touched: list[str] = []
    clause_rows = [ins_rows[i] for i in range(len(clauses))]  # inserts: minus matched
    hits = matched_keys = None
    if candidates:
        # one row per matched (target, source) pair; Catalyst prunes the
        # target read to doc_id plus the condition columns
        hits = (
            table.scan_tagged([e["file_path"] for e in candidates])
            .join(keyside(srcd), F.col("doc_id") == F.col("s_doc_id"))
            .select(
                "_file", "s_doc_id", "_ins", _clause_action_idx(matched).alias("_action")
            )
        )
        aggs = [
            F.count(F.when(F.col(col) == i, 1)).alias(str(i))
            for col, group in (("_action", matched), ("_ins", inserts))
            for i, _ in group
        ]
        if sorted_keys is None:
            hits = hits.cache()
            matched_keys = hits.select("s_doc_id")
        else:
            key = F.when(F.col("_ins") >= 0, F.col("s_doc_id"))
            aggs.append(F.collect_list(key).alias("_keys"))
        per_file = hits.groupBy("_file").agg(*aggs).collect()
        for r in per_file:
            if any(r[str(i)] for i, _ in matched):
                touched.append(_strip_uri(r["_file"]))
            for i, _ in matched:
                clause_rows[i] += r[str(i)]
            for i, _ in inserts:
                clause_rows[i] -= r[str(i)]
        touched.sort()
        keys = [k for r in per_file for k in r["_keys"]] if matched_keys is None else []
        if keys:  # an Arrow table becomes a LocalRelation: no Python RDD, no job
            matched_keys = table.spark.createDataFrame(pa.table({"s_doc_id": keys}))

    # 4. copy-on-write rewrite of touched files through the cascade
    out = None
    if touched:
        rows = table.scan(files=touched).join(
            keyside(srcd), F.col("doc_id") == F.col("s_doc_id"), "left"
        )
        action = F.when(
            F.col("s_doc_id").isNotNull(), _clause_action_idx(matched)
        ).otherwise(F.lit(-1))
        rows = rows.withColumn("_action", action)
        dropped = [i for i, c in matched if c.action == "delete"]
        if dropped:
            rows = rows.filter(~F.col("_action").isin(dropped))
        updates = [(i, c) for i, c in matched if c.action == "update"]
        out = rows.select(*_assign(updates, data_cols, "_action", F.col))

    # ... plus the insert rows: source keys matched nowhere in the
    # candidates (keys outside every candidate's range are unmatched by
    # construction)
    n_inserted = sum(clause_rows[i] for i, _ in inserts)
    if n_inserted:
        ins = srcd.filter(F.col("_ins") >= 0)
        if matched_keys is not None:
            ins = ins.join(keyside(matched_keys), "s_doc_id", "left_anti")
        # squeeze the (small) insert side into few source-sorted partitions,
        # without an exchange, so the union doesn't fan tiny writer files
        # across every (task, source)
        ins = (
            ins.select(*_assign(inserts, data_cols, "_ins", lambda c: F.col(f"s_{c}")))
            .coalesce(max(1, n_inserted // 100_000))
            .sortWithinPartitions("source")
        )
        out = ins if out is None else out.unionByName(ins)

    # shuffle-free write: the scan of touched (single-source) files already
    # groups rows by source within tasks, so the dynamic-partition writer
    # streams them straight out — no exchange of the wide token rows. Stray
    # small files are the compaction operator's job, not the merge's.
    added: list[dict] = []
    if out is not None:
        added = table.write_data_files(
            out, event_id, num_files=None, sub_dir="merged", shuffle=False
        )

    # 5. one lineage record, one atomic commit
    touched_set = set(touched)
    table.lineage.append(
        LineageRecord(
            run_id=event_id,
            operation=operation,
            group_id=event_id,
            partition=None,
            files_in=touched,
            files_out=[e["file_path"] for e in added],
            rows=sum(e["n_rows"] for e in added),
            bytes_in=sum(
                e["file_size"] for e in candidates if e["file_path"] in touched_set
            ),
            bytes_out=sum(e["file_size"] for e in added),
            status=STATUS_DONE,
            duration_s=time.monotonic() - t0,
        )
    )
    n_updated = sum(clause_rows[i] for i, c in matched if c.action == "update")
    n_deleted = sum(clause_rows[i] for i, c in matched if c.action == "delete")
    snap = table.commit(
        operation=operation,
        added=added,
        removed_paths=touched_set,
        summary={
            "strategy": strategy,
            "inserted": n_inserted,
            "updated": n_updated,
            "deleted": n_deleted,
            "clauses": [
                f"WHEN {c.when} AND {c.condition or 'TRUE'} THEN {c.action}"
                for c in clauses
            ],
            "files_pruned_by_stats": n_pruned,
            **(extra_summary or {}),
        },
        expected_parent_id=base.snapshot_id,
        event_id=event_id,
    )
    if hits is not None:
        hits.unpersist()
    srcd.unpersist()
    return MergeResult(
        snapshot_id=snap.snapshot_id,
        files_touched=len(touched),
        files_pruned=n_pruned,
        files_out=len(added),
        inserted=n_inserted,
        updated=n_updated,
        deleted=n_deleted,
        clause_rows=clause_rows,
        strategy=strategy,
        duration_s=time.monotonic() - t0,
    )


def merge_into(
    table: TokenTable,
    changes: DataFrame,
    verify: bool = True,
    run_id: str | None = None,
    extra_summary: dict | None = None,
) -> MergeResult:
    """Upsert/delete a change set (data columns plus ``_op``): the clause
    preset over the MERGE core. ``verify`` checks the row-level
    postconditions against the committed snapshot."""
    data_cols = [f.name for f in table.data_schema().fields]
    changes = changes.select(*data_cols, "_op")
    if verify:
        changes = changes.cache()
    preset = [
        MergeClause("matched", "delete", condition="s__op = 'delete'"),
        MergeClause("matched", "update", assignments={c: f"s_{c}" for c in data_cols}),
        MergeClause("not_matched", "insert", condition="s__op = 'upsert'"),
    ]
    res = _merge(table, changes, preset, OP, run_id, extra_summary)
    if verify:
        parent = table.snapshot(res.snapshot_id).parent_id
        _verify_merge(table, parent, res.snapshot_id, changes)
        changes.unpersist()
    return res


def merge_conditional(
    table: TokenTable,
    source: DataFrame,
    clauses: list[MergeClause],
    run_id: str | None = None,
) -> MergeResult:
    """Copy-on-write conditional MERGE of ``source`` through ``clauses``
    (semantics and plan in the module docstring)."""
    return _merge(table, source, clauses, "merge_conditional", run_id)


def _verify_merge(
    table: TokenTable, before_sid: int, after_sid: int, changes: DataFrame
) -> None:
    """Row-level MERGE postconditions, computed distributed (no collect):
    upsert rows present with exactly the new content, deleted keys absent,
    untouched rows byte-identical (via digest of the complement)."""
    after = table.scan(after_sid)
    upserts = changes.filter(F.col("_op") == "upsert")
    # every upsert key appears exactly once with matching content
    bad_upserts = (
        upserts.alias("c")
        .join(after.alias("t"), "doc_id", "left")
        .filter(
            F.col("t.n_tok").isNull()
            | (F.col("t.tokens") != F.col("c.tokens"))
            | (F.col("t.source") != F.col("c.source"))
        )
        .count()
    )
    if bad_upserts:
        raise AssertionError(f"{bad_upserts} upserted rows missing or wrong after merge")
    deleted_present = (
        changes.filter(F.col("_op") == "delete").join(after, "doc_id", "left_semi").count()
    )
    if deleted_present:
        raise AssertionError(f"{deleted_present} deleted keys still present after merge")
    # complement (rows not referenced by any change) digest-stable
    from circus_train_spark.functions.digest import table_digest

    keys = changes.select("doc_id")
    before_rest = table.scan(before_sid).join(keys, "doc_id", "left_anti")
    after_rest = after.join(keys, "doc_id", "left_anti")
    if table_digest(before_rest) != table_digest(after_rest):
        raise AssertionError("rows not referenced by the change set were modified")
