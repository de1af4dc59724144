"""Replication-socket client conformance, driven by the in-repo replay
server over socketpairs (no mysqld exists in this environment — the
server speaks the public MySQL client/server protocol and ships binlog
files built by ``encode_binlog_file``, so the stream bytes are exactly
what a real server sends: handshake v10, mysql_native_password auth,
COM_QUERY text results, COM_BINLOG_DUMP, 0x00-marked CRC32-checksummed
events, rotation).

Covers the reference's socket-path semantics (Greeting.java:29-57,
BinlogChannel.java:43-236, BinlogClient.java:86-228): auth scramble,
checksum negotiation, head-position query, event-loop position tracking,
timeout/disconnect reconnect-and-resume from the latest position, and the
spool bridge whose on-disk segments are byte-identical to the server's
own binlog files.
"""

import datetime as dt
import os
from decimal import Decimal

import pytest

from mysql_secure_agent_spark.sources.binlog_file import encode_binlog_file
from mysql_secure_agent_spark.sources.binlog_packets import (
    EXT_WRITE_ROWS,
    FORMAT_DESCRIPTION_EVENT,
    TABLE_MAP_EVENT,
    XID_EVENT,
    packets_to_changelog,
)
from mysql_secure_agent_spark.sources.binlog_replay_server import (
    BinlogReplayServer,
)
from mysql_secure_agent_spark.sources.binlog_socket import (
    BinlogSocketClient,
    BinlogSocketError,
    ServerError,
)

from test_binlog_packets import _row, _rows_body, _synthetic_table_map

COLS = ["id", "name", "amount", "day"]


def _events(ids):
    evs = [(TABLE_MAP_EVENT, _synthetic_table_map())]
    for i in ids:
        evs.append(
            (
                EXT_WRITE_ROWS,
                _rows_body(
                    [_row(i, f"n{i}", Decimal(f"{i}.25"), dt.date(2026, 1, 2))]
                ),
            )
        )
    evs.append((XID_EVENT, (1).to_bytes(8, "little")))
    return evs


@pytest.fixture()
def two_files():
    f1 = encode_binlog_file(
        _events([1, 2, 3]), checksum=True, next_file="mysql-bin.000002"
    )
    f2 = encode_binlog_file(_events([4, 5]), checksum=True)
    return {"mysql-bin.000001": f1, "mysql-bin.000002": f2}


def _client(srv: BinlogReplayServer, password: str = "secret"):
    return BinlogSocketClient(srv.connect_factory(), "repl", password)


def test_auth_scramble_accepted_and_rejected(two_files):
    srv = BinlogReplayServer(two_files)
    _client(srv).connect().close()
    with pytest.raises(ServerError, match="Access denied"):
        _client(srv, password="wrong").connect()


def test_current_position_clamped(two_files):
    srv = BinlogReplayServer(two_files, head=("mysql-bin.000002", 0))
    assert _client(srv).current_position() == ("mysql-bin.000002", 4)


def test_dump_decodes_across_rotation(two_files):
    srv = BinlogReplayServer(two_files)
    c = _client(srv)
    packets = [(t, body) for t, _h, body in c.events("mysql-bin.000001")]
    assert c.checksum_length == 4  # negotiated CRC32
    rows = packets_to_changelog(
        packets, "s", "t", COLS, checksum_length=c.checksum_length
    )
    assert list(rows["id"]) == [1, 2, 3, 4, 5]
    # final position: inside the successor file, past its magic
    assert c.position[0] == "mysql-bin.000002"
    assert c.position[1] > 4
    assert srv.error is None


def test_reconnect_resumes_without_duplicates(two_files):
    # every connection drops after 3 streamed packets; the client must
    # resume from its tracked position and deliver each event ONCE
    srv = BinlogReplayServer(two_files, drop_after=3)
    c = _client(srv)
    packets = [(t, b) for t, _h, b in c.events("mysql-bin.000001")]
    rows = packets_to_changelog(
        packets, "s", "t", COLS, checksum_length=c.checksum_length
    )
    assert list(rows["id"]) == [1, 2, 3, 4, 5]
    assert srv.error is None


def test_reconnect_budget_exhausts(two_files):
    srv = BinlogReplayServer(two_files, drop_after=0)
    c = _client(srv)
    with pytest.raises(Exception, match="stream lost|closed"):
        list(c.events("mysql-bin.000001", max_reconnects=2))


def test_checksum_none_negotiation(two_files):
    nocrc = {
        "mysql-bin.000001": encode_binlog_file(_events([7, 8]), checksum=False)
    }
    srv = BinlogReplayServer(nocrc, checksum="NONE")
    c = _client(srv)
    packets = [(t, b) for t, _h, b in c.events("mysql-bin.000001")]
    assert c.checksum_length == 0
    rows = packets_to_changelog(packets, "s", "t", COLS, checksum_length=0)
    assert list(rows["id"]) == [7, 8]


def test_spool_segments_byte_identical(two_files, tmp_path):
    srv = BinlogReplayServer(two_files)
    c = _client(srv)
    out = str(tmp_path / "spool")
    paths = c.spool(out, "mysql-bin.000001")
    assert [os.path.basename(p) for p in paths] == list(two_files)
    for p in paths:
        with open(p, "rb") as f:
            assert f.read() == two_files[os.path.basename(p)]
    assert srv.error is None


def test_spool_refuses_content_before_start_rotate(two_files, tmp_path):
    """Without start_file, the server's start ROTATE names the first
    segment; file content before it has no segment to land in."""
    c = _client(BinlogReplayServer(two_files))
    c.events = lambda *a, **k: iter([(FORMAT_DESCRIPTION_EVENT, bytes(19), b"")])
    with pytest.raises(BinlogSocketError, match="start ROTATE"):
        c.spool(str(tmp_path / "spool"))


def test_server_from_directory(two_files, tmp_path):
    # the export-sink interop shape: files on disk → replay server → client
    d = str(tmp_path / "logs")
    os.makedirs(d)
    for name, data in two_files.items():
        with open(os.path.join(d, name), "wb") as f:
            f.write(data)
    srv = BinlogReplayServer(d)
    c = _client(srv)
    packets = [(t, b) for t, _h, b in c.events("mysql-bin.000001")]
    rows = packets_to_changelog(
        packets, "s", "t", COLS, checksum_length=c.checksum_length
    )
    assert list(rows["id"]) == [1, 2, 3, 4, 5]


def test_spooled_segments_feed_directory_tail(two_files, tmp_path, spark):
    """End-to-end bridge: socket → spool → the existing DISTRIBUTED
    directory-tail ingest (binaryFile stream, CRC verified, bucketed
    merge) — the socket path terminates in the same lake table as every
    other transport."""
    from mysql_secure_agent_spark.lake.table import LakeTable
    from mysql_secure_agent_spark.streaming.binlog_tail import (
        BinlogDirectoryTail,
    )
    from pyspark.sql import types as T

    srv = BinlogReplayServer(two_files)
    c = _client(srv)
    log_dir = str(tmp_path / "spool")
    c.spool(log_dir, "mysql-bin.000001")

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("amount", T.DecimalType(10, 2)),
            T.StructField("day", T.DateType()),
        ]
    )
    tbl = LakeTable.create(
        str(tmp_path / "tbl"), schema, ["id"], n_buckets=4, overwrite=True
    )
    tail = BinlogDirectoryTail(tbl, log_dir, "s", "t", verify_checksum=True)
    tail.run(spark, str(tmp_path / "ck"))
    got = {r["id"] for r in tbl.read(spark).collect()}
    assert got == {1, 2, 3, 4, 5}


def test_gtid_auto_positioning(tmp_path):
    """COM_BINLOG_DUMP_GTID: the client states gtid_executed and the
    server auto-positions — whole-file pruning off PREVIOUS_GTIDS heads
    (file i skipped iff file i+1's head is covered), the replay analog of
    binlog_file.prune_binlog_files."""
    from mysql_secure_agent_spark.sources.binlog_file import (
        encode_previous_gtids,
        parse_gtid_set_string,
    )
    from mysql_secure_agent_spark.sources.binlog_packets import (
        PREVIOUS_GTIDS_EVENT,
    )

    sid = "3e11fa47-71ca-11e1-9e33-c80aa9429562"

    def gfile(ids, prev, next_file=None):
        evs = [
            (
                PREVIOUS_GTIDS_EVENT,
                encode_previous_gtids(parse_gtid_set_string(prev) if prev else {}),
            )
        ] + _events(ids)
        return encode_binlog_file(evs, checksum=True, next_file=next_file)

    files = {
        "mysql-bin.000001": gfile([1, 2], "", next_file="mysql-bin.000002"),
        "mysql-bin.000002": gfile(
            [3, 4], f"{sid}:1-3", next_file="mysql-bin.000003"
        ),
        "mysql-bin.000003": gfile([5, 6], f"{sid}:1-6"),
    }
    srv = BinlogReplayServer(files)

    # executed 1-3 covers file2's head but not file3's: files 2+3 served
    c = _client(srv)
    packets = [
        (t, b) for t, _h, b in c.events(gtid_executed=f"{sid}:1-3")
    ]
    rows = packets_to_changelog(
        packets, "s", "t", COLS, checksum_length=c.checksum_length
    )
    assert list(rows["id"]) == [3, 4, 5, 6]
    assert srv.error is None

    # executed 1-6 covers file3's head too: only the last file served
    c2 = _client(srv)
    packets2 = [
        (t, b) for t, _h, b in c2.events(gtid_executed=f"{sid}:1-6")
    ]
    rows2 = packets_to_changelog(
        packets2, "s", "t", COLS, checksum_length=c2.checksum_length
    )
    assert list(rows2["id"]) == [5, 6]

    # nothing executed: everything from the first file
    c3 = _client(srv)
    packets3 = [(t, b) for t, _h, b in c3.events(gtid_executed="")]
    rows3 = packets_to_changelog(
        packets3, "s", "t", COLS, checksum_length=c3.checksum_length
    )
    assert list(rows3["id"]) == [1, 2, 3, 4, 5, 6]


def test_spool_through_reconnect_yields_decodable_segments(two_files, tmp_path):
    """Chaos spool: every connection drops after 3 streamed packets. The
    replayed FDE on each resume must NOT be written mid-segment (it would
    break the end_log_pos chain), the cursor must never rewind to the
    replayed FDE's original offset (duplicate re-delivery), and the final
    segments must decode cleanly with every row exactly once."""
    from mysql_secure_agent_spark.sources.binlog_file import (
        binlog_file_to_packets,
    )

    srv = BinlogReplayServer(two_files, drop_after=3)
    c = _client(srv)
    out = str(tmp_path / "spool")
    paths = c.spool(out, "mysql-bin.000001")
    assert [os.path.basename(p) for p in paths] == list(two_files)
    ids = []
    for p in paths:
        with open(p, "rb") as f:
            data = f.read()
        rows = packets_to_changelog(
            binlog_file_to_packets(data, verify_checksum=True), "s", "t", COLS
        )
        ids.extend(rows["id"])
    assert ids == [1, 2, 3, 4, 5]
    assert srv.error is None
