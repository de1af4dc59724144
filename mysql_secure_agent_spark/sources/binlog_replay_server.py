"""Binlog REPLAY SERVER — serve recorded/exported binlog files over the
public MySQL replication protocol (handshake v10, mysql_native_password,
COM_QUERY text results, COM_BINLOG_DUMP, 0x00-marked event stream).

The inverse of ``binlog_socket.BinlogSocketClient`` and the conformance
harness for it: any replication client (this repo's, Debezium's, a real
replica) can point at this server and consume binlog files produced by
``sinks.binlog_export.write_binlog_changelog`` or archived off a real
server — which makes the export sink + this server a full replication
LOOP: lake changefeed → binlog files → replication protocol → any
consumer. No mysqld exists in this sandbox, so this is also how the
socket client is tested end-to-end (over a socketpair).

Protocol layout mirrors what the client parses (reference semantics:
``Greeting.java:29-57``, ``BinlogChannel.java:43-236``,
``BinlogClient.java:86-228``); events are shipped BYTE-FAITHFULLY from
the files (CRCs intact), preceded by the dump's artificial start ROTATE
(timestamp 0, log_pos 0, LOG_EVENT_ARTIFICIAL_F) exactly as a server
synthesizes it.
"""

from __future__ import annotations

import glob
import os
import socket
import struct
import threading
import zlib
from pathlib import Path

from .binlog_file import iter_binlog_events
from .binlog_packets import FORMAT_DESCRIPTION_EVENT, ROTATE_EVENT
from .binlog_socket import (
    LOG_EVENT_ARTIFICIAL_F,
    PacketChannel,
    native_password_scramble,
)

_OK = b"\x00\x00\x00\x02\x00\x00\x00"
_EOF = b"\xfe\x00\x00\x02\x00"


def _raw_events(data: bytes):
    """(offset, raw_header, body_with_checksum) per event — byte-faithful
    re-framing of one binlog file for the wire."""
    out = []
    off = 4
    for h, body in iter_binlog_events(data):
        header = struct.pack(
            "<IBIIIH",
            h.timestamp,
            h.type_code,
            h.server_id,
            h.event_length,
            h.next_position,
            h.flags,
        )
        out.append((off, header, body))
        off += h.event_length
    return out


class BinlogReplayServer:
    """Serve one replication connection from recorded binlog files.

    ``files``: ordered ``{name: bytes}`` or a directory holding
    ``mysql-bin.*`` files (lexicographic order = rotation order).
    ``drop_after``: close the socket after that many streamed event
    packets — chaos knob for exercising client reconnect/resume.
    """

    SCRAMBLE = b"0123456789abcdefghij"  # fixed 20-byte salt (test server)

    def __init__(
        self,
        files: "dict[str, bytes] | str",
        *,
        user: str = "repl",
        password: str = "secret",
        server_id: int = 123,
        checksum: str = "CRC32",
        head: tuple[str, int] | None = None,
        drop_after: int | None = None,
    ):
        if isinstance(files, str):
            files = {
                os.path.basename(p): Path(p).read_bytes()
                for p in sorted(glob.glob(os.path.join(files, "mysql-bin.*")))
            }
        if not files:
            raise ValueError("no binlog files to serve")
        self.files = files
        self.user = user
        self.password = password
        self.server_id = server_id
        self.checksum = checksum
        self.head = head or (next(iter(files)), 4)
        self.drop_after = drop_after
        self.error: Exception | None = None

    # ---------------------------------------------------------------- wire
    def _greeting(self, ch: PacketChannel) -> None:
        payload = (
            bytes([10])
            + b"8.0.36-replay\x00"
            + (7).to_bytes(4, "little")
            + self.SCRAMBLE[:8]
            + b"\x00"
            + (0xFFFF).to_bytes(2, "little")
            + bytes([45])
            + (2).to_bytes(2, "little")
            + bytes(13)
            + self.SCRAMBLE[8:]
            + b"\x00"
            + b"mysql_native_password\x00"
        )
        ch.write_packet(payload, 0)
        resp = ch.read_packet()
        # HandshakeResponse41: caps(4) maxpkt(4) collation(1) zeros(23),
        # user NUL, 1-byte token length + token
        user_end = resp.index(0, 32)
        user = resp[32:user_end].decode()
        tlen = resp[user_end + 1]
        token = resp[user_end + 2 : user_end + 2 + tlen]
        expected = native_password_scramble(self.password, self.SCRAMBLE)
        if user != self.user or token != expected:
            ch.write_packet(
                b"\xff"
                + (1045).to_bytes(2, "little")
                + b"#28000"
                + f"Access denied for user '{user}'".encode(),
                2,
            )
            raise PermissionError("authentication failed")
        ch.write_packet(_OK, 2)

    def _send_rows(
        self, ch: PacketChannel, rows: list[tuple[str, ...]], n_cols: int
    ) -> None:
        ch.write_packet(bytes([n_cols]), 1)
        for _ in range(n_cols):
            ch.write_packet(b"\x03def", 0)
        ch.write_packet(_EOF, 0)
        for row in rows:
            out = b""
            for v in row:
                b = v.encode()
                out += bytes([len(b)]) + b
            ch.write_packet(out, 0)
        ch.write_packet(_EOF, 0)

    def _serve_query(self, ch: PacketChannel, sql: str) -> None:
        s = sql.lower().strip()
        if s.startswith("set "):
            ch.write_packet(_OK, 1)
        elif "binlog_checksum" in s:
            if self.checksum == "NONE":
                self._send_rows(ch, [("binlog_checksum", "NONE")], 2)
            else:
                self._send_rows(ch, [("binlog_checksum", "CRC32")], 2)
        elif "@@server_id" in s:
            self._send_rows(ch, [(str(self.server_id),)], 1)
        elif "master status" in s:
            self._send_rows(ch, [(self.head[0], str(self.head[1]))], 2)
        else:
            raise ValueError(f"replay server has no answer for {sql!r}")

    def _serve_dump(self, ch: PacketChannel, payload: bytes) -> None:
        if self.drop_after == 0:
            ch.close()
            return
        pos, _flags, _sid = struct.unpack("<IHI", payload[1:11])
        fname = payload[11:].decode() or next(iter(self.files))
        if fname not in self.files:
            raise ValueError(f"unknown binlog file {fname!r}")
        self._stream_from(ch, fname, pos)

    def _serve_dump_gtid(self, ch: PacketChannel, payload: bytes) -> None:
        """COM_BINLOG_DUMP_GTID: auto-position from the client's
        gtid_executed set. Whole-file granularity (the replay analog of
        ``binlog_file.prune_binlog_files``): file *i* is skippable iff
        file *i+1*'s PREVIOUS_GTIDS head is covered by the executed set;
        serve from the first non-skippable file. Clients must tolerate
        replayed covered transactions from that file's head — GTID
        consumers are idempotent by contract."""
        from .binlog_file import gtid_set_covers
        from .binlog_packets import (
            PREVIOUS_GTIDS_EVENT,
            parse_previous_gtids,
        )

        if self.drop_after == 0:
            ch.close()
            return
        flags, _sid = struct.unpack("<HI", payload[1:7])
        off = 7
        name_len = int.from_bytes(payload[off : off + 4], "little")
        off += 4 + name_len
        off += 8  # position — auto-positioning ignores it
        executed: dict = {}
        if flags & 0x04:  # BINLOG_THROUGH_GTID
            data_len = int.from_bytes(payload[off : off + 4], "little")
            off += 4
            executed = parse_previous_gtids(
                payload[off : off + data_len]
            ).intervals

        def head_gtids(data: bytes):
            crc = 4 if self.checksum == "CRC32" else 0
            for i, (h, body) in enumerate(iter_binlog_events(data)):
                if h.type_code == PREVIOUS_GTIDS_EVENT:
                    return parse_previous_gtids(
                        body[:-crc] if crc else body
                    ).intervals
                if i >= 3:
                    break
            return None

        names = list(self.files)
        start = names[-1]
        for i, name in enumerate(names):
            nxt = (
                head_gtids(self.files[names[i + 1]])
                if i + 1 < len(names)
                else None
            )
            if not (nxt is not None and gtid_set_covers(executed, nxt)):
                start = name
                break
        self._stream_from(ch, start, 4)

    def _stream_from(self, ch: PacketChannel, fname: str, pos: int) -> None:
        # artificial start rotate: ts 0, log_pos 0, ARTIFICIAL flag — then
        # the requested file from pos (its FDE always re-sent first, the
        # way a server replays it), then every successor in order
        body = int(pos).to_bytes(8, "little") + fname.encode()
        crc = 4 if self.checksum == "CRC32" else 0
        header = struct.pack(
            "<IBIIIH",
            0,
            ROTATE_EVENT,
            self.server_id,
            19 + len(body) + crc,
            0,
            LOG_EVENT_ARTIFICIAL_F,
        )
        art = header + body
        if crc:
            art += zlib.crc32(art).to_bytes(4, "little")
        ch.write_packet(b"\x00" + art, 1)
        names = list(self.files)
        served = 0
        seq = 2
        # batch the stream frames: one sendall per ~256 KiB instead of per
        # event — a syscall per small packet caps the tail's throughput
        out = bytearray()

        def frame(payload: bytes) -> None:
            nonlocal seq
            out.extend(len(payload).to_bytes(3, "little"))
            out.append(seq & 0xFF)
            out.extend(payload)
            seq += 1

        for name in names[names.index(fname):]:
            start = pos if name == fname else 4
            for off, rh, rbody in _raw_events(self.files[name]):
                if rh[4] != FORMAT_DESCRIPTION_EVENT and off < start:
                    continue
                frame(b"\x00" + rh + rbody)
                if len(out) >= 1 << 18:
                    ch._sock.sendall(bytes(out))
                    out.clear()
                served += 1
                if self.drop_after is not None and served >= self.drop_after:
                    if out:
                        ch._sock.sendall(bytes(out))
                    ch.close()
                    return
        frame(_EOF)
        ch._sock.sendall(bytes(out))

    # ------------------------------------------------------------- lifecycle
    def handle(self, sock) -> None:
        """Serve ONE connection synchronously until dump end/disconnect."""
        ch = PacketChannel(sock)
        try:
            self._greeting(ch)
            while True:
                pkt = ch.read_packet()
                if not pkt:
                    return
                if pkt[0] == 0x03:  # COM_QUERY
                    self._serve_query(ch, pkt[1:].decode())
                elif pkt[0] == 0x12:  # COM_BINLOG_DUMP
                    self._serve_dump(ch, pkt)
                    return
                elif pkt[0] == 0x1E:  # COM_BINLOG_DUMP_GTID
                    self._serve_dump_gtid(ch, pkt)
                    return
                else:
                    raise ValueError(f"unexpected command {pkt[0]:#x}")
        except (PermissionError, EOFError, OSError, BrokenPipeError):
            pass
        except Exception as e:  # surface protocol bugs to the caller
            self.error = e
        finally:
            ch.close()

    def connect_factory(self):
        """A ``BinlogSocketClient`` connect_factory: each call opens a
        fresh socketpair served by a new daemon thread of THIS server
        (same files/credentials), so client reconnects just work."""

        def connect():
            a, b = socket.socketpair()
            t = threading.Thread(target=self.handle, args=(b,), daemon=True)
            t.start()
            return a

        return connect
