"""MERGE INTO: insert/update/delete semantics, copy-on-write minimality."""

import re

import pytest
from pyspark.sql import functions as F

from circus_train_spark.functions.digest import table_digest
from circus_train_spark.meta.catalog import TokenTable
from circus_train_spark.operators import merge as merge_mod
from circus_train_spark.operators.merge import MergeClause, merge_conditional, merge_into
from circus_train_spark.sources.generator import generate_changes


@pytest.fixture()
def loaded(spark, tmp_path, tokens_df):
    t = TokenTable.create(spark, str(tmp_path / "tbl"))
    t.append(tokens_df, num_files=12)
    return t


def test_merge_semantics(spark, loaded, tokens_df):
    t = loaded
    n0 = tokens_df.count()
    changes = generate_changes(spark, n0, seed=42).cache()
    n_ins_expected = changes.filter(F.col("_op") == "upsert").join(
        tokens_df, "doc_id", "left_anti"
    ).count()
    n_del_expected = changes.filter(F.col("_op") == "delete").join(
        tokens_df, "doc_id", "left_semi"
    ).count()
    # note: generator may upsert-and-delete distinct keys; verify via counts
    res = merge_into(t, changes, verify=True)  # verify raises on violation
    assert res.snapshot_id is not None
    assert res.inserted == n_ins_expected
    assert res.deleted == n_del_expected
    assert res.updated > 0
    after = t.scan()
    assert after.count() == n0 + res.inserted - res.deleted
    # updated rows carry the NEW token arrays
    upd = changes.filter(F.col("_op") == "upsert").join(tokens_df, "doc_id", "left_semi")
    j = upd.alias("c").join(after.alias("t"), "doc_id").filter(
        F.col("t.tokens") != F.col("c.tokens")
    )
    assert j.count() == 0


def test_merge_copy_on_write_minimality(spark, loaded, tokens_df):
    """Files without any matching change key must survive untouched."""
    t = loaded
    before_entries = {e["file_path"]: e for e in t.manifest_entries()}
    changes = generate_changes(spark, tokens_df.count(), seed=42)
    res = merge_into(t, changes, verify=False)
    after_paths = set(e["file_path"] for e in t.manifest_entries())
    untouched_live = set(before_entries) & after_paths
    # untouched files are the SAME physical files (not rewritten)
    assert len(untouched_live) == len(before_entries) - res.files_touched
    assert res.files_pruned + res.files_touched <= len(before_entries)


def test_merge_insert_only(spark, loaded):
    t = loaded
    n0 = t.scan().count()
    new_rows = (
        t.spark.range(0, 50)
        .select(
            F.format_string("new-%04d", F.col("id")).alias("doc_id"),
            F.array(F.lit(1), F.lit(2)).cast("array<int>").alias("tokens"),
            F.lit(2).alias("n_tok").cast("int"),
            F.lit("books").alias("source"),
            F.lit("upsert").alias("_op"),
        )
    )
    res = merge_into(t, new_rows, verify=True)
    assert res.inserted == 50 and res.updated == 0 and res.deleted == 0
    assert res.files_touched == 0  # pure insert rewrites nothing
    assert t.scan().count() == n0 + 50


def test_merge_delete_only(spark, loaded, tokens_df):
    t = loaded
    n0 = tokens_df.count()
    victims = tokens_df.limit(37).select(
        "doc_id",
        F.lit(None).cast("array<int>").alias("tokens"),
        F.lit(None).cast("int").alias("n_tok"),
        F.lit(None).cast("string").alias("source"),
        F.lit("delete").alias("_op"),
    )
    res = merge_into(t, victims, verify=True)
    assert res.deleted == 37 and res.inserted == 0 and res.updated == 0
    assert t.scan().count() == n0 - 37


def test_prune_by_stats_bucketed_equijoin(spark):
    """Stats pruning keeps exactly the candidate files via the prefix-bucket
    equi-join (no O(files x keys) nested loop); spanning files are kept
    conservatively."""
    from circus_train_spark.operators.merge import _prune_by_stats

    entries = [
        {"file_path": "f1", "min_doc_id": "doc-00000001", "max_doc_id": "doc-00000999"},
        {"file_path": "f2", "min_doc_id": "doc-00001000", "max_doc_id": "doc-00001999"},
        {"file_path": "f3", "min_doc_id": "doc-00002000", "max_doc_id": "doc-00002999"},
        # spanning file: min/max share no useful prefix -> conservative keep
        {"file_path": "f4", "min_doc_id": "doc-00000000", "max_doc_id": "zzz"},
        # no stats -> conservative keep
        {"file_path": "f5", "min_doc_id": None, "max_doc_id": None},
    ]
    keys = spark.createDataFrame([("doc-00001500",)], "doc_id string")
    kept, n_pruned = _prune_by_stats(entries, keys)
    kept_paths = {e["file_path"] for e in kept}
    assert "f2" in kept_paths            # range hit
    assert {"f4", "f5"} <= kept_paths    # conservative keeps
    assert "f1" not in kept_paths and "f3" not in kept_paths
    assert n_pruned == 2


def test_prune_by_stats_local_bisect():
    from circus_train_spark.operators.merge import _prune_by_stats_local

    entries = [
        {"file_path": "f1", "min_doc_id": "doc-000", "max_doc_id": "doc-099"},
        {"file_path": "f2", "min_doc_id": "doc-100", "max_doc_id": "doc-199"},
        {"file_path": "f3", "min_doc_id": "doc-200", "max_doc_id": "doc-299"},
        {"file_path": "f4", "min_doc_id": None, "max_doc_id": None},
    ]
    kept, pruned = _prune_by_stats_local(entries, ["doc-150", "doc-400"])
    assert {e["file_path"] for e in kept} == {"f2", "f4"}
    assert pruned == 2
    # boundary containment
    kept, _ = _prune_by_stats_local(entries, ["doc-099"])
    assert "f1" in {e["file_path"] for e in kept}


# ------------------------------------------------------- conditional MERGE


def _cond_source(tokens_df):
    """Source rows: every 3rd key (longer tokens) + brand-new keys."""
    existing = (
        tokens_df.filter(F.crc32("doc_id") % 3 == 0)
        .select(
            "doc_id",
            F.concat("tokens", F.array(F.lit(1), F.lit(2))).alias("tokens"),
            (F.col("n_tok") + 2).alias("n_tok"),
            "source",
        )
    )
    new = tokens_df.filter(F.crc32("doc_id") % 7 == 1).select(
        F.concat(F.lit("new-"), "doc_id").alias("doc_id"),
        "tokens",
        "n_tok",
        "source",
    )
    return existing.unionByName(new)


def _cascade_clauses():
    return [
        MergeClause(
            "matched",
            "update",
            condition="s_n_tok > n_tok AND n_tok % 4 <> 0",
            assignments={"tokens": "s_tokens", "n_tok": "s_n_tok"},
        ),
        MergeClause("matched", "delete", condition="n_tok % 4 = 0"),
        MergeClause("not_matched", "insert"),
    ]


def test_merge_conditional_clause_cascade(spark, tmp_path, tokens_df):
    t = TokenTable.create(spark, str(tmp_path / "tbl"))
    t.append(tokens_df, num_files=12)
    src = _cond_source(tokens_df).cache()
    res = merge_conditional(t, src, _cascade_clauses())
    after = t.scan().cache()

    # expected sets computed driver-side with FRESH lineage (src derives
    # from tokens_df; re-joining them trips the ambiguous-self-join check)
    src_rows = {r["doc_id"]: r["n_tok"] for r in src.select("doc_id", "n_tok").collect()}
    tgt_rows = {
        r["doc_id"]: r["n_tok"] for r in tokens_df.select("doc_id", "n_tok").collect()
    }
    matched_keys = set(src_rows) & set(tgt_rows)
    exp_upd = sum(1 for k in matched_keys if tgt_rows[k] % 4 != 0)  # s_n_tok > n_tok always
    exp_del = sum(1 for k in matched_keys if tgt_rows[k] % 4 == 0)
    exp_ins = len(set(src_rows) - set(tgt_rows))
    assert (res.updated, res.deleted, res.inserted) == (exp_upd, exp_del, exp_ins)

    after_rows = {r["doc_id"]: r["n_tok"] for r in after.select("doc_id", "n_tok").collect()}
    # updated rows carry the source n_tok (partial-column SET)
    for k in matched_keys:
        if tgt_rows[k] % 4 != 0:
            assert after_rows[k] == src_rows[k], f"{k} not updated"
        else:
            assert k not in after_rows, f"{k} not deleted"
    assert sum(1 for k in after_rows if k.startswith("new-")) == exp_ins
    # untouched rows: rows matching no source key are byte-identical
    keys_df = spark.createDataFrame([(k,) for k in src_rows], "doc_id string")
    untouched_before = tokens_df.join(keys_df, "doc_id", "left_anti")
    untouched_after = after.join(keys_df, "doc_id", "left_anti")
    assert table_digest(untouched_before) == table_digest(untouched_after)
    after.unpersist()
    src.unpersist()


def test_merge_conditional_first_clause_wins(spark, tmp_path, tokens_df):
    t = TokenTable.create(spark, str(tmp_path / "tbl"))
    t.append(tokens_df, num_files=6)
    # both clauses match every source row: the first (update) must win
    src = tokens_df.limit(50).select(
        "doc_id", "tokens", "n_tok", F.lit("clause1").alias("source")
    )
    clauses = [
        MergeClause("matched", "update", assignments={"source": "s_source"}),
        MergeClause("matched", "delete"),
    ]
    res = merge_conditional(t, src, clauses)
    assert res.updated == 50 and res.deleted == 0
    assert t.scan().filter("source = 'clause1'").count() == 50


def test_merge_conditional_noop_rows_untouched(spark, tmp_path, tokens_df):

    t = TokenTable.create(spark, str(tmp_path / "tbl"))
    t.append(tokens_df, num_files=6)
    d0 = table_digest(t.scan())
    # condition never true -> no touched file is rewritten, no commit changes rows
    src = tokens_df.limit(20).select("doc_id", "tokens", "n_tok", "source")
    res = merge_conditional(
        t,
        src,
        [MergeClause("matched", "update", condition="n_tok < 0",
                     assignments={"n_tok": "s_n_tok"})],
    )
    assert res.files_touched == 0 and res.updated == 0
    assert table_digest(t.scan()) == d0


def test_merge_conditional_rejects_bad_clauses(spark, tmp_path, tokens_df):
    t = TokenTable.create(spark, str(tmp_path / "tbl"))
    t.append(tokens_df.limit(100), num_files=2)
    src = tokens_df.limit(5)
    with pytest.raises(ValueError, match="cannot"):
        merge_conditional(t, src, [MergeClause("not_matched", "update",
                                               assignments={"n_tok": "1"})])
    with pytest.raises(ValueError, match="assignments"):
        merge_conditional(t, src, [MergeClause("matched", "update")])
    with pytest.raises(ValueError, match="unknown columns"):
        merge_conditional(
            t, src, [MergeClause("matched", "update", assignments={"nope": "1"})]
        )


# ------------------------------------------------- one core, two entry points

PRESET = [
    MergeClause("matched", "delete", condition="s__op = 'delete'"),
    MergeClause(
        "matched",
        "update",
        assignments={c: f"s_{c}" for c in ("doc_id", "tokens", "n_tok", "source")},
    ),
    MergeClause("not_matched", "insert", condition="s__op = 'upsert'"),
]

# Spark jobs one merge launched on the ``loaded`` fixture before the two
# entry points shared a core (local[8], 8 shuffle partitions).
MERGE_INTO_JOBS_BEFORE = 11
MERGE_CONDITIONAL_JOBS_BEFORE = 18


def _jobs(spark, label, fn) -> int:
    """Number of Spark jobs ``fn()`` launches, counted through a job group."""
    sc = spark.sparkContext
    sc.setJobGroup(label, label)
    try:
        fn()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(key, None)
    return len(sc.statusTracker().getJobIdsForGroup(label))


def test_merge_into_is_the_conditional_preset(spark, loaded, tmp_path, tokens_df):
    changes = generate_changes(spark, tokens_df.count(), seed=42).cache()
    a = merge_into(loaded, changes, verify=False)
    other = TokenTable.create(spark, str(tmp_path / "preset"))
    other.append(tokens_df, num_files=12)
    b = merge_conditional(other, changes, PRESET)
    assert (a.inserted, a.updated, a.deleted) == (b.inserted, b.updated, b.deleted)
    assert a.clause_rows == b.clause_rows == [a.deleted, a.updated, a.inserted]
    assert a.inserted and a.updated and a.deleted
    assert table_digest(loaded.scan()) == table_digest(other.scan())
    changes.unpersist()


def _sql_plans(spark) -> dict[int, str]:
    """Physical plan description of every retained SQL execution, by id."""
    it = spark._jsparkSession.sharedState().statusStore().executionsList().iterator()
    plans = {}
    while it.hasNext():
        e = it.next()
        plans[e.executionId()] = e.physicalPlanDescription()
    return plans


def test_conditional_probe_reads_only_key_and_condition_columns(spark, loaded, tokens_df):
    """Catalyst narrows the probe's target read to ``doc_id`` plus the
    columns the matched conditions use, with no column list passed in."""
    before = set(_sql_plans(spark))
    res = merge_conditional(loaded, _cond_source(tokens_df), _cascade_clauses())
    assert res.files_touched > 0
    # the probe is the only plan that tags target rows with their file AND
    # joins the source (the written-file stats read tags, but joins nothing)
    probes = [
        p for i, p in _sql_plans(spark).items()
        if i not in before and "input_file_name" in p and "s_doc_id" in p
    ]
    reads = {r for p in probes for r in re.findall(r"ReadSchema: (struct<[^>]*>)", p)}
    assert probes and reads == {"struct<doc_id:string,n_tok:int>"}


def test_merge_job_counts_do_not_grow(spark, loaded, tmp_path, tokens_df):
    changes = generate_changes(spark, tokens_df.count(), seed=42)
    n = _jobs(spark, "merge-into-jobs", lambda: merge_into(loaded, changes, verify=False))
    assert 0 < n <= MERGE_INTO_JOBS_BEFORE

    t = TokenTable.create(spark, str(tmp_path / "cond"))
    t.append(tokens_df, num_files=12)
    src = _cond_source(tokens_df).cache()
    n = _jobs(
        spark, "merge-cond-jobs", lambda: merge_conditional(t, src, _cascade_clauses())
    )
    assert 0 < n < MERGE_CONDITIONAL_JOBS_BEFORE
    src.unpersist()


def test_large_source_path_matches_small(spark, tmp_path, tokens_df, monkeypatch):
    """Over the driver-prune and broadcast thresholds the core takes the
    aggregation pre-pass, the distributed stats prune, cached matched keys
    and a shuffled join; the table it commits must not change."""
    changes = generate_changes(spark, tokens_df.count(), seed=7).cache()
    src = _cond_source(tokens_df).cache()
    digests = []
    for small in (True, False):
        if not small:
            monkeypatch.setattr(merge_mod, "DRIVER_PRUNE_THRESHOLD_KEYS", 4)
            monkeypatch.setattr(merge_mod, "BROADCAST_THRESHOLD_ROWS", 0)
        t = TokenTable.create(spark, str(tmp_path / f"t{small}"))
        t.append(tokens_df, num_files=6)
        a = merge_into(t, changes, verify=not small)
        b = merge_conditional(t, src, _cascade_clauses())
        assert a.strategy == b.strategy == ("broadcast" if small else "sort_merge")
        digests.append(
            (a.clause_rows, b.clause_rows, table_digest(t.scan()))
        )
    assert digests[0] == digests[1]
    changes.unpersist()
    src.unpersist()
