"""``maintain``: bulk maintenance of a deliberately fragmented token table.

One cycle, on a fresh table, runs the maintenance sequence over the same
staged input: append (fragmented into many files), a single-key
merge-on-read delete, compact (which purges that delete), Z-order cluster,
MERGE INTO with ~1% churn, a time-travel point read, snapshot expiry plus
manifest rewrite, a full-decode scan, and a few stats-pruned point lookups.
It loads the row/token data plane (decode, shuffle, Arrow UDFs, parquet
encode) while the metadata plane stays at a few dozen entries.

The inputs are generated with numpy from the seed, shaped like the
package's own generator, and staged as parquet during set-up. Every output
is checked, outside the timed calls, against values set-up worked out from
the staged rows.
"""

from __future__ import annotations

import functools
import operator
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from circus_train_spark.functions.digest import row_hash
from circus_train_spark.meta import schema as S
from circus_train_spark.meta.catalog import TokenTable
from circus_train_spark.operators import cluster as cluster_mod
from circus_train_spark.operators import compact as compact_mod
from circus_train_spark.operators import delete as delete_mod
from circus_train_spark.operators import expire as expire_mod
from circus_train_spark.operators import manifest_rewrite as rewrite_mod
from circus_train_spark.operators import merge as merge_mod
from circus_train_spark.sources.generator import SOURCES, VOCAB

from perfbench import harness, stats

ROWS = 4_000
# ~250 rows (~1 MB) per appended file, near the ~390 rows per file of a
# 100k-row, 256-file append
APPEND_FILES = 16
TARGET_BYTES = 4 << 20
LOOKUPS = 10

COLS = [f.name for f in S.DATA_SCHEMA.fields]
_CUM = np.array([50, 65, 75, 83, 89, 93, 96, 98, 99])  # generator's source skew, %
_DATA = pa.schema(
    [
        pa.field("doc_id", pa.string(), False),
        pa.field("tokens", pa.list_(pa.field("element", pa.int32(), False)), False),
        pa.field("n_tok", pa.int32(), False),
        pa.field("source", pa.string(), False),
    ]
)
_CHANGES = pa.schema([*(f.with_nullable(True) for f in _DATA), pa.field("_op", pa.string())])


def _key(i: int) -> str:
    return f"doc-{i:016x}"


def _row(r) -> tuple:
    return (r["doc_id"], list(r["tokens"]), r["n_tok"], r["source"])


def _tokens(rng: np.random.Generator, ids: np.ndarray) -> dict:
    """Rows shaped like ``sources.generator.generate_tokens``: n_tok skewed
    small in [8, 3977], ~10 sources with half the rows in the hot one."""
    n = len(ids)
    n_tok = (8 + rng.integers(0, 64, n) * rng.integers(0, 64, n)).astype(np.int32)
    offsets = np.concatenate([[0], np.cumsum(n_tok)]).astype(np.int32)
    values = rng.integers(0, VOCAB, int(offsets[-1]), dtype=np.int32)
    return {
        "doc_id": [_key(int(i)) for i in ids],
        "tokens": pa.ListArray.from_arrays(offsets, values),
        "n_tok": n_tok,
        "source": np.array(SOURCES)[np.searchsorted(_CUM, rng.integers(0, 100, n), "right")],
    }


def generate_inputs(seed: int, rows: int) -> tuple[pa.Table, pa.Table]:
    """The base rows and a ~1% change set shaped like
    ``sources.generator.generate_changes``: 0.4% updates (new tokens), 0.3%
    deletes of other existing keys, 0.3% inserts of new keys."""
    rng = np.random.default_rng(seed)
    base = pa.table(_tokens(rng, np.arange(rows)), schema=_DATA)
    n_upd, n_del, n_ins = (max(1, int(rows * f)) for f in (0.004, 0.003, 0.003))
    picked = rng.choice(rows, n_upd + n_del, replace=False)
    upserts = np.concatenate([picked[:n_upd], np.arange(rows, rows + n_ins)])
    ups = pa.table({**_tokens(rng, upserts), "_op": ["upsert"] * len(upserts)}, schema=_CHANGES)
    dels = pa.table(
        {
            "doc_id": [_key(int(i)) for i in picked[n_upd:]],
            "tokens": pa.nulls(n_del, _DATA.field("tokens").type),
            "n_tok": pa.nulls(n_del, pa.int32()),
            "source": pa.nulls(n_del, pa.string()),
            "_op": ["delete"] * n_del,
        },
        schema=_CHANGES,
    )
    return base, pa.concat_tables([ups, dels])


def _digest(hashes: list[int]) -> dict:
    """``TokenTable.table_digest`` of rows with these row hashes."""
    return {
        "n_rows": len(hashes),
        "xor_digest": functools.reduce(operator.xor, hashes, 0),
        "sum_digest": sum(hashes),
    }


class Inputs:
    """One staged input and the outputs expected from a cycle over it,
    worked out by set arithmetic over the staged rows: the digest folds
    per-row hashes (count, bit-xor, exact sum), so the expected table's
    digest needs no second table."""

    def __init__(self, spark, stage: str, seed: int, rows: int) -> None:
        os.makedirs(stage)
        base, changes = generate_inputs(seed, rows)
        pq.write_table(base, f"{stage}/base.parquet")
        pq.write_table(changes, f"{stage}/changes.parquet")
        self.rows = rows
        self.base = spark.read.schema(S.DATA_SCHEMA).parquet(f"{stage}/base.parquet")
        self.changes = spark.read.parquet(f"{stage}/changes.parquet")

        rng = random.Random(seed)
        ch = {r["doc_id"]: r["_op"] for r in self.changes.select("doc_id", "_op").collect()}
        untouched = [k for k in (_key(i) for i in rng.sample(range(rows), 64)) if k not in ch]
        self.mor_key = untouched[0]
        hashes = self.base.select("doc_id", row_hash().alias("h")).collect()
        upserts = (
            self.changes.filter(F.col("_op") == "upsert")
            .select(*COLS)
            .withColumn("h", row_hash())
            .collect()
        )
        kept = [r["h"] for r in hashes if r["doc_id"] != self.mor_key]
        self.digest_after_delete = _digest(kept)
        self.digest_merged = _digest(
            [r["h"] for r in hashes if r["doc_id"] != self.mor_key and r["doc_id"] not in ch]
            + [r["h"] for r in upserts]
        )
        n_upd = sum(1 for r in upserts if int(r["doc_id"][4:], 16) < rows)
        self.merge_counts = (len(upserts) - n_upd, n_upd, len(ch) - len(upserts))
        # timed lookups read rows the merge left alone, so every lookup does
        # the same work; changed keys are checked untimed after the merge
        self.lookup_keys = untouched[1 : LOOKUPS + 1]
        self.changed_keys = rng.sample(sorted(ch), 6)
        want = [self.mor_key, *self.lookup_keys]
        self.expected_rows = {
            r["doc_id"]: _row(r) for r in self.base.filter(F.col("doc_id").isin(*want)).collect()
        }
        self.mor_row = self.expected_rows.pop(self.mor_key)
        self.expected_rows.update({r["doc_id"]: _row(r) for r in upserts})


class Maintain:
    uses_spark = True
    # A traced run alternates untraced and traced cycles starting untraced, so
    # three cycles give the overhead as traced against the untraced cycles on
    # either side, which cancels the last of the JIT warm-up trend.
    min_cycles = {0: 2, 1: 3}

    def __init__(self, seed: int, root: harness.RunRoot, cores: int) -> None:
        self.seed, self.root, self.cores = seed, root, cores
        self.spark = None
        self._setups = 0

    # -- set-up ------------------------------------------------------------
    def setup(self) -> None:
        """Start (or restart) the session, stage the inputs as parquet and
        work out the expected outputs from the staged rows."""
        if self.spark is not None:
            self.spark.stop()
        self.spark = harness.start_spark(self.root, self.cores)
        self._setups += 1
        stage = os.path.join(self.root.path, f"stage-{self._setups}")
        self.inputs = Inputs(self.spark, stage, self.seed, ROWS)

    def warm_up(self, rec: harness.Recorder) -> None:
        """One unmeasured cycle: compiles the query plans and starts the
        Python workers. It runs at full size, as the JIT's work depends on
        the data volume too."""
        self.cycle(rec)

    # -- one cycle ---------------------------------------------------------
    def _lookup(self, table: TokenTable, key: str, snapshot_id: int | None = None):
        df = table.scan(snapshot_id=snapshot_id, doc_id_range=(key, key))
        return [_row(r) for r in df.filter(F.col("doc_id") == key).collect()]

    def cycle(self, rec: harness.Recorder) -> None:
        table = TokenTable.create(
            self.spark, os.path.join(self.root.tables, f"c{rec.cycle}-{rec.measuring:d}")
        )
        try:
            self._cycle(rec, table, self.inputs)
        finally:
            table.drop()

    def _cycle(self, rec: harness.Recorder, table: TokenTable, inp: Inputs) -> None:
        fast = table.table_digest
        snap = rec.timed("append", table.append, inp.base, num_files=APPEND_FILES)
        rec.check(snap.summary["added_rows"] == inp.rows, "append row count")
        append_sid, appended_bytes = snap.snapshot_id, snap.summary["added_bytes"]

        res = rec.timed(
            "delete", delete_mod.delete_where, table, f"doc_id = '{inp.mor_key}'",
            doc_id_range=(inp.mor_key, inp.mor_key), mode="mor", verify=False,
        )
        rec.check(res.rows_deleted == 1 and res.delete_files_written == 1, "MOR delete")

        res = rec.timed(
            "compact", compact_mod.compact, table, target_file_bytes=TARGET_BYTES,
            max_concurrency=self.cores, verify=False,
        )
        rec.note("compact_bytes_in", res.bytes_in)
        rec.check(fast() == inp.digest_after_delete, "digest after compact")
        rec.check(not table.delete_entries(), "compact purges MOR deletes")

        rec.timed("cluster", cluster_mod.cluster, table, target_file_bytes=TARGET_BYTES, verify=False)
        rec.check(fast() == inp.digest_after_delete, "digest after cluster")

        live = len(table.manifest_entries())
        rec.note("entries_live", live)
        rec.note("manifests_live", len(table.current_snapshot().manifests))
        rec.note("merge_files_live", live)
        res = rec.timed("merge", merge_mod.merge_into, table, inp.changes, verify=False)
        rec.check((res.inserted, res.updated, res.deleted) == inp.merge_counts, "merge counts")
        merged_fast = fast()
        rec.check(merged_fast == inp.digest_merged, "digest after merge")
        got = {
            r["doc_id"]: _row(r)
            for r in table.scan().filter(F.col("doc_id").isin(*inp.changed_keys)).collect()
        }
        want = {k: inp.expected_rows[k] for k in inp.changed_keys if k in inp.expected_rows}
        rec.check(got == want, "merged keys carry new tokens, deleted keys are absent")
        written = sum(
            table.log.get(sid).summary.get("added_bytes", 0)
            for sid in table.log.all_snapshot_ids()
        )
        rec.note("write_amp", written / appended_bytes)

        rows = rec.timed("time_travel", self._lookup, table, inp.mor_key, append_sid)
        rec.check(rows == [inp.mor_row], "time travel returns the pre-delete row")

        res = rec.timed("expire", expire_mod.expire_snapshots, table, keep_last=1)
        head = table.current_snapshot().snapshot_id
        rec.check(table.log.all_snapshot_ids() == [head], "expiry keeps only the head")
        res = rec.timed("rewrite_manifests", rewrite_mod.rewrite_manifests, table, target_manifests=1)
        rec.check(len(table.current_snapshot().manifests) == 1, "one manifest after rewrite")

        full = rec.timed("scan", table.table_digest, fast=False)
        rec.check(full == merged_fast, "full-decode digest equals fast digest")
        rec.note("scan_rows", full["n_rows"])

        for key in inp.lookup_keys:
            rows = rec.timed("lookup", self._lookup, table, key)
            want = inp.expected_rows.get(key)
            rec.check(rows == ([want] if want else []), f"lookup {key}")

    # -- reporting ---------------------------------------------------------
    def details(self, rec: harness.Recorder) -> dict:
        """The per-operation figures behind the cycle, named as in the
        benchmark's README."""
        med = rec.op_median
        per_cycle = [
            (dict(c["ops"]), c["notes"]) for c in rec.cycles if not c["traced"]
        ]
        gb_hr = [n["compact_bytes_in"] / 1e9 / (ops["compact"] / 3600) for ops, n in per_cycle]
        seq_s = [n["scan_rows"] / ops["scan"] for ops, n in per_cycle]
        return {
            "rows": ROWS,
            "append_files": APPEND_FILES,
            "target_file_bytes": TARGET_BYTES,
            "append_s": med("append"),
            "delete_ms": _ms(med("delete")),
            "compact_gb_per_hr": stats.median(gb_hr),
            "cluster_s": med("cluster"),
            "merge_s": med("merge"),
            "time_travel_ms": _ms(med("time_travel")),
            "expire_ms": _ms(med("expire")),
            "rewrite_manifests_ms": _ms(med("rewrite_manifests")),
            "scan_seq_per_sec": stats.median(seq_s),
            "write_amp": stats.median([n["write_amp"] for _, n in per_cycle]),
        }

    def close(self) -> None:
        if self.spark is not None:
            harness.stop_spark(self.spark)
            self.spark = None


def _ms(seconds: float | None) -> float | None:
    return None if seconds is None else seconds * 1e3
