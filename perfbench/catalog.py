"""``catalog``: the driver-only metadata plane at design-point scale.

Set-up commits a seeded synthetic history of ``HISTORY_COMMITS`` appends of
``ENTRIES_PER_COMMIT`` manifest entries each through the public
``TokenTable.commit``. No data file exists and no Spark session is started:
every path lives under the run's own scratch root, so expiry can never
delete anything outside it.

Every entry is a compaction candidate, as in a table fed only by fragmented
appends: sizes are drawn uniformly from ``FILE_BYTES``, centred on the ~4 MB
files of ``bench.py``'s append (~1 GB of tokens written as 256 files), and
the planner runs with compaction's defaults (a 512 MB target, candidates
below it). Partitions follow the generator's source skew. One cycle then
runs:

1. a metadata-only append of ``APPEND_FILES`` new small files, about one
   planned group's worth, so the live entry count holds steady;
2. a compaction-shaped transaction: ``manifest_entries`` of the fresh head,
   ``plan_compaction_groups`` over all of them, a ``commit`` that replaces
   the first planned group with one entry (as ``compact(max_groups=1)``
   would), and a stats-pruned ``file_paths(doc_id_range=...)`` on the new
   head;
3. ``LOOKUPS`` stats-pruned lookups on a cached head: half after the entry
   read of step 2, half after its pruned lookup;
4. ``expire_snapshots(keep_last=KEEP_SNAPSHOTS)``, which must read every
   live manifest of the retained snapshots to find the unreachable files.

The unmeasured warm-up cycle's expiry removes the synthetic history, so
every measured cycle meets the same steady state.

The benchmark keeps its own model of the live file set and checks every
result against it, outside the timed calls.
"""

from __future__ import annotations

import os
import random
import uuid

from pyspark import SparkContext

from circus_train_spark.meta.catalog import TokenTable
from circus_train_spark.operators import binpack as binpack_mod
from circus_train_spark.operators import expire as expire_mod
from circus_train_spark.sources.generator import SOURCES

from perfbench import harness, stats

HISTORY_COMMITS = 100
ENTRIES_PER_COMMIT = 1_000
FILE_BYTES = (2 << 20, 6 << 20)
TARGET_BYTES = 512 << 20  # compact()'s default target_file_bytes
APPEND_FILES = 128
LOOKUPS = 10
KEEP_SNAPSHOTS = 4
ROWS_PER_FILE = 1_000
# the steps of one compaction-shaped transaction
TXN_OPS = ("manifest_entries", "plan", "commit", "pruned_lookup")
# the generator's skew: half the files in the hot partition
_WEIGHTS = [50, 15, 10, 8, 6, 4, 3, 2, 1, 1]


def _doc(i: int) -> str:
    return f"doc-{i:016x}"


class Catalog:
    uses_spark = False
    # measured cycles after the warm-up one, traced or not
    min_cycles = {0: 3, 1: 3}

    def __init__(self, seed: int, root: harness.RunRoot, cores: int) -> None:  # noqa: ARG002
        self.seed, self.root = seed, root
        self.table: TokenTable | None = None
        self._setups = 0

    # -- synthetic entries -------------------------------------------------
    def _entry(self) -> dict:
        rng = self.rng
        i = self.next_file
        self.next_file += 1
        lo = i * ROWS_PER_FILE
        return {
            "file_path": os.path.join(self.data_dir, f"f-{i:08d}.parquet"),
            "partition": rng.choices(SOURCES, _WEIGHTS)[0],
            "file_size": rng.randint(*FILE_BYTES),
            "n_rows": ROWS_PER_FILE,
            "min_doc_id": _doc(lo),
            "max_doc_id": _doc(lo + ROWS_PER_FILE - 1),
            "min_n_tok": 8,
            "max_n_tok": 4096,
            "min_zkey": None,
            "max_zkey": None,
            "xor_digest": rng.getrandbits(63),
            "added_snapshot_id": -1,
        }

    def _add(self, entries: list[dict]) -> None:
        for e in entries:
            self.live[e["file_path"]] = e

    # -- set-up ------------------------------------------------------------
    def setup(self) -> None:
        """Create a table and commit the synthetic history."""
        if self.table is not None:
            self.table.drop()
        self.rng = random.Random(self.seed)
        self.next_file = 0
        self.live: dict[str, dict] = {}
        root = os.path.join(self.root.tables, f"t{self._setups}")
        self._setups += 1
        self.data_dir = os.path.join(root, "data", "synthetic")
        self.table = TokenTable.create(None, root)
        for _ in range(HISTORY_COMMITS):
            batch = [self._entry() for _ in range(ENTRIES_PER_COMMIT)]
            self.table.commit(operation="append", added=batch)
            self._add(batch)

    def warm_up(self, rec: harness.Recorder) -> None:
        """One unmeasured cycle. Its expiry removes the synthetic history, and
        the first cycle after set-up runs ~10% faster than later ones, while
        the entries cache and the heap still grow."""
        self.cycle(rec)

    # -- one cycle ---------------------------------------------------------
    def _expected_lookup(self, key: str) -> list[str]:
        return sorted(
            p for p, e in self.live.items() if e["min_doc_id"] <= key <= e["max_doc_id"]
        )

    def _output_entry(self, group) -> dict:
        members = [self.live[p] for p in group.files]
        return {
            "file_path": os.path.join(self.data_dir, f"compacted-{uuid.uuid4().hex}.parquet"),
            "partition": group.partition,
            "file_size": group.total_bytes,
            "n_rows": group.total_rows,
            "min_doc_id": min(e["min_doc_id"] for e in members),
            "max_doc_id": max(e["max_doc_id"] for e in members),
            "min_n_tok": min(e["min_n_tok"] for e in members),
            "max_n_tok": max(e["max_n_tok"] for e in members),
            "min_zkey": None,
            "max_zkey": None,
            "xor_digest": self.rng.getrandbits(63),
            "added_snapshot_id": -1,
        }

    def _key(self) -> str:
        return _doc(self.rng.randrange(self.next_file * ROWS_PER_FILE))

    def _lookups(self, rec: harness.Recorder, n: int) -> None:
        """``n`` stats-pruned lookups on the head, whose entries are cached.
        Their speed depends on where the cached entries landed in memory, so
        the cycle's lookups are split over the two heads it caches."""
        for _ in range(n):
            key = self._key()
            found = rec.timed("lookup", self.table.file_paths, doc_id_range=(key, key))
            rec.check(sorted(found) == self._expected_lookup(key), f"lookup {key}")

    def cycle(self, rec: harness.Recorder) -> None:
        table = self.table
        batch = [self._entry() for _ in range(APPEND_FILES)]
        rec.timed("append", table.commit, operation="append", added=batch)
        self._add(batch)

        entries = rec.timed("manifest_entries", table.manifest_entries)
        rec.check(
            {e["file_path"] for e in entries} == self.live.keys(), "live entries match the model"
        )
        rec.note("entries_live", len(entries))
        rec.note("manifests_live", len(table.current_snapshot().manifests))
        self._lookups(rec, LOOKUPS // 2)

        groups = rec.timed("plan", binpack_mod.plan_compaction_groups, entries, TARGET_BYTES)
        rec.check(
            all(
                g.total_bytes <= TARGET_BYTES
                and len(g.files) >= 2
                and {self.live[p]["partition"] for p in g.files} == {g.partition}
                for g in groups
            ),
            "planned groups fit the target inside one partition",
        )
        removed = set(groups[0].files)
        added = [self._output_entry(groups[0])]
        rec.timed("commit", table.commit, operation="compact", removed_paths=removed, added=added)
        for p in removed:
            del self.live[p]
        self._add(added)

        key = self._key()
        found = rec.timed("pruned_lookup", table.file_paths, doc_id_range=(key, key))
        rec.check(sorted(found) == self._expected_lookup(key), "pruned lookup after commit")
        self._lookups(rec, LOOKUPS - LOOKUPS // 2)

        before = table.log.all_snapshot_ids()
        res = rec.timed("expire", expire_mod.expire_snapshots, table, keep_last=KEEP_SNAPSHOTS)
        kept = before[-KEEP_SNAPSHOTS:]
        rec.check(
            table.log.all_snapshot_ids() == kept
            and res.expired_snapshots == before[:-KEEP_SNAPSHOTS],
            "expiry retains exactly the newest snapshots",
        )
        rec.check(SparkContext._active_spark_context is None, "no Spark session or job")

    # -- reporting ---------------------------------------------------------
    def details(self, rec: harness.Recorder) -> dict:
        txn = [
            sum(dt for op, dt in c["ops"] if op in TXN_OPS)
            for c in rec.cycles
            if not c["traced"]
        ]
        med = rec.op_median
        return {
            "history_entries": HISTORY_COMMITS * ENTRIES_PER_COMMIT,
            "history_commits": HISTORY_COMMITS,
            "catalog_txn_ms_p50": _ms(stats.median(txn)),
            "catalog_expire_s": med("expire"),
            "manifest_entries_ms": _ms(med("manifest_entries")),
            "plan_ms": _ms(med("plan")),
            "commit_ms": _ms(med("commit")),
            "pruned_lookup_ms": _ms(med("pruned_lookup")),
            "append_commit_ms": _ms(med("append")),
        }

    def close(self) -> None:
        if self.table is not None:
            self.table.drop()
            self.table = None


def _ms(seconds: float | None) -> float | None:
    return None if seconds is None else seconds * 1e3
