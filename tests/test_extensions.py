"""Extension points: writer-strategy registry (CopierFactory analogue),
pluggable catalog adapter (MetaStoreClientFactory analogue), metrics
listener (JobMetrics/MetricsListener analogue)."""

import pytest

from circus_train_spark.meta.adapter import CatalogAdapter, InMemoryCatalog
from circus_train_spark.meta.catalog import TokenTable
from circus_train_spark.meta.metrics import (
    MetricsListener,
    file_sender,
    render_graphite,
)
from circus_train_spark.meta.writers import (
    ParquetWriter,
    register_writer,
    unregister_writer,
    writer_for,
)


class RecordingWriter(ParquetWriter):
    """Alternate strategy: lower order wins for dirs carrying a marker."""

    name = "recording"
    order = 10

    def __init__(self):
        self.calls = []

    def accepts(self, dest_dir: str) -> bool:
        return "alt-writes" in dest_dir

    def write(self, req) -> None:
        self.calls.append(req.dest_dir)
        super().write(req)


def test_writer_registry_precedence_and_routing(spark, tmp_path, tokens_df):
    alt = RecordingWriter()
    register_writer(alt)
    try:
        # default path: ParquetWriter (universal fallback)
        assert writer_for(str(tmp_path / "plain")).name == "parquet"
        # marked path: the lower-order alternate wins
        assert writer_for(str(tmp_path / "alt-writes" / "x")).name == "recording"

        # every operator write routes through the registry: a table rooted
        # under the marker uses the alternate for append AND compaction
        from circus_train_spark.operators.compact import compact

        t = TokenTable.create(spark, str(tmp_path / "alt-writes" / "tbl"))
        t.append(tokens_df.limit(300), num_files=3)
        assert alt.calls, "append did not route through the registry"
        n_before = len(alt.calls)
        compact(t, target_file_bytes=512 * 1024 * 1024, small_file_threshold=None)
        assert len(alt.calls) > n_before, "compact did not route through the registry"
        assert t.scan().count() == 300
    finally:
        unregister_writer("recording")


def test_in_memory_catalog_adapter(spark, tmp_path, tokens_df):
    """A table running entirely against the non-filesystem catalog: commits,
    conflict detection, scans and maintenance all go through the adapter."""
    from circus_train_spark.operators.compact import compact

    cat = InMemoryCatalog()
    assert isinstance(cat, CatalogAdapter)
    t = TokenTable.create(spark, str(tmp_path / "mem"), catalog=cat)
    t.append(tokens_df.limit(200), num_files=2)
    digest = t.table_digest()
    compact(t, target_file_bytes=512 * 1024 * 1024, small_file_threshold=None)
    assert t.table_digest() == digest
    # no snapshot JSONs were ever written to disk
    import os

    assert not os.path.exists(os.path.join(str(tmp_path / "mem"), "metadata/snapshots"))
    # optimistic concurrency still enforced
    import pytest

    from circus_train_spark.meta.snapshot import CommitConflictError

    with pytest.raises(CommitConflictError):
        cat.commit(
            expected_parent_id=0,
            event_id="x",
            operation="append",
            manifests=[],
            summary={},
        )


def test_metrics_listener_emits_per_commit(spark, tmp_path, tokens_df):
    t = TokenTable.create(spark, str(tmp_path / "mtbl"))
    sink = str(tmp_path / "metrics" / "graphite.txt")
    lst = MetricsListener(t, sender=file_sender(sink))
    t.append(tokens_df.limit(100), num_files=1)
    t.append(tokens_df.limit(150).subtract(tokens_df.limit(100)), num_files=1)
    assert [m.operation for m in lst.emitted] == ["append", "append"]
    assert all(m.completion_code == 1 for m in lst.emitted)
    assert lst.emitted[0].bytes_replicated > 0
    assert lst.emitted[0].counters["added_rows"] == 100
    lines = open(sink).read().splitlines()
    assert any(line.startswith("circus_train.append.completion_code 1 ") for line in lines)
    # graphite rendering is '<prefix>.<op>.<name> <value> <ts>'
    assert all(len(line.split(" ")) == 3 for line in lines)
    sample = render_graphite("p", lst.emitted[0])
    assert any(s.startswith("p.append.added_rows 100 ") for s in sample)


def test_failing_sender_never_fails_commit(spark, tmp_path, tokens_df):
    t = TokenTable.create(spark, str(tmp_path / "mtbl2"))

    def boom(_m):
        raise RuntimeError("graphite down")

    lst = MetricsListener(t, sender=boom)
    snap = t.append(tokens_df.limit(50), num_files=1)  # must not raise
    assert snap.snapshot_id >= 1 and lst.emitted


def test_socket_sender_emits_graphite_lines(spark, tmp_path, tokens_df):
    """Raw-socket metrics emission: commit events render plaintext Graphite
    lines onto a real TCP socket (mirrors the reference's socket-level
    assertions, CircusTrainHdfsHdfsIntegrationTest.java:205-225)."""
    import socket
    import threading

    from circus_train_spark.meta.metrics import MetricsListener, socket_sender

    received: list[bytes] = []
    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    srv.bind(("127.0.0.1", 0))
    srv.listen(4)
    port = srv.getsockname()[1]
    done = threading.Event()

    def serve():
        while not done.is_set():
            try:
                srv.settimeout(5)
                conn, _ = srv.accept()
            except TimeoutError:
                break
            with conn:
                buf = b""
                while chunk := conn.recv(4096):
                    buf += chunk
                received.append(buf)
            if len(received) >= 2:
                break

    th = threading.Thread(target=serve, daemon=True)
    th.start()
    t = TokenTable.create(spark, str(tmp_path / "socktbl"))
    MetricsListener(t, sender=socket_sender("127.0.0.1", port))
    t.append(tokens_df.limit(100), num_files=1)
    t.append(tokens_df.limit(150).subtract(tokens_df.limit(100)), num_files=1)
    th.join(timeout=10)
    done.set()
    srv.close()

    assert len(received) == 2
    lines = (received[0] + received[1]).decode().splitlines()
    assert any(l.startswith("circus_train.append.added_rows 100 ") for l in lines)
    # plaintext protocol: '<path> <value> <epoch-sec>' per line
    for l in lines:
        path, value, ts = l.split(" ")
        assert path.startswith("circus_train.append.")
        int(value); int(ts)


def test_compare_cli_renders_report(spark, tmp_path, tokens_df, capsys):
    """`compare` verb — the compare-tables.sh analogue: identical tables →
    rc 0 + explicit no-difference line; diverged tables → rc 1 + per-
    partition difference lines (TableComparator.java:39-71)."""
    from circus_train_spark.cli import main
    from circus_train_spark.operators.replicate import replicate

    src = TokenTable.create(spark, str(tmp_path / "cmp_src"))
    src.append(tokens_df.limit(300), num_files=2)
    rep = TokenTable.create(spark, str(tmp_path / "cmp_rep"))
    replicate(src, rep)

    rc = main(
        ["compare", "--source", str(tmp_path / "cmp_src"),
         "--replica", str(tmp_path / "cmp_rep")]
    )
    out = capsys.readouterr().out
    assert rc == 0 and "no differences" in out

    # diverge: append extra rows at the source only
    src.append(tokens_df.limit(400).subtract(tokens_df.limit(300)), num_files=1)
    report_file = str(tmp_path / "cmp.txt")
    rc = main(
        ["compare", "--source", str(tmp_path / "cmp_src"),
         "--replica", str(tmp_path / "cmp_rep"), "--output", report_file]
    )
    out = capsys.readouterr().out
    assert rc == 1 and ("CHANGED" in out or "NEW" in out)
    assert "difference(s) across" in out
    assert open(report_file).read().strip() == out.strip()


@pytest.mark.parametrize(
    "mapping", ["db.tok", "db.tok=tok", "tok=db.tok", "db.tok=db.a.b"]
)
def test_replicate_cli_rejects_malformed_table_mapping(tmp_path, capsys, mapping):
    """A ``--table-mapping`` without '=' or without two-part names on both
    sides is a usage error before any Spark work starts."""
    from circus_train_spark.cli import main

    with pytest.raises(SystemExit) as exc:
        main(
            ["replicate", "--source", str(tmp_path / "s"),
             "--replica", str(tmp_path / "r"), "--table-mapping", mapping]
        )
    assert exc.value.code == 2
    err = capsys.readouterr().err
    assert "--table-mapping" in err and "src_db.src_tbl=dst_db.dst_tbl" in err
