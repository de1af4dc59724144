"""Live replication-socket binlog client — the packet-layer state machine
of the reference's raw socket path, driven here over ANY byte-stream
transport (a real TCP socket against mysqld, or a socketpair fed by a
recorded/synthetic server fixture in tests — no MySQL server exists in
this environment, so the fixture IS the conformance harness).

Reference parity (semantics, not code — everything below is the public
MySQL client/server protocol, documented in the MySQL Internals manual):

* handshake-v10 parse — ``client/shyiko/Greeting.java:29-57`` (protocol
  version, NUL server version, thread id, split scramble, capabilities,
  collation, status, 13 reserved bytes, optional plugin name);
* auth response + mysql_native_password scramble
  ``SHA1(pw) XOR SHA1(salt · SHA1(SHA1(pw)))`` —
  ``client/shyiko/BinlogChannel.java:229-262``;
* packet framing (3-byte little-endian length + sequence byte, 16 MiB
  continuation), COM_QUERY text results (column definitions skipped to
  EOF, rows of length-encoded strings to EOF), OK/ERR/EOF classification —
  ``BinlogChannel.java:43-236``;
* session setup + dump request — checksum negotiation
  (``show global variables like 'binlog_checksum'`` +
  ``set @master_binlog_checksum = @@global.binlog_checksum``),
  ``select @@server_id``, ``show master status`` (position clamped to the
  4-byte magic floor), COM_BINLOG_DUMP payload (pos:4, flags:2,
  server_id:4, filename) — ``client/BinlogClient.java:86-228``;
* event stream loop — 0x00-marked packets carrying (19-byte header +
  body), ROTATE/FDE position tracking, timeout → reconnect from the
  latest position — ``BinlogClient.java:104-190``.

Spark-first integration: the socket is inherently a single-connection,
driver-side tail (the reference agent reads it on one node too). The
client SPOOLS the stream into on-disk ``mysql-bin.NNNNNN`` segments —
byte-identical to server binlog files (magic + FDE + the events exactly
as received, CRCs preserved) — and the existing distributed path
(``streaming.binlog_tail.BinlogDirectoryTail`` → binaryFile readStream →
one decode task per file → bucketed merge) takes it from there. One
tailer per source shard; all heavy decode/merge work stays distributed.
"""

from __future__ import annotations

import hashlib
import os
import socket
import struct
from typing import Any, Callable, Iterator

from .binlog_packets import (
    FORMAT_DESCRIPTION_EVENT,
    HEARTBEAT_EVENT,
    ROTATE_EVENT,
    parse_event_header,
)

BINLOG_MAGIC = b"\xfebin"

# public command bytes (MySQL Internals: COM_* command phase)
COM_QUERY = 0x03
COM_BINLOG_DUMP = 0x12
COM_BINLOG_DUMP_GTID = 0x1E

# COM_BINLOG_DUMP_GTID flags
BINLOG_THROUGH_GTID = 0x04

# public capability flags (HandshakeResponse41)
CLIENT_LONG_FLAG = 0x0004
CLIENT_PROTOCOL_41 = 0x0200
CLIENT_SECURE_CONNECTION = 0x8000
CLIENT_PLUGIN_AUTH = 0x00080000

MAX_PACKET = 0xFFFFFF  # 3-byte length ceiling → continuation packets

# public event-header flag: the server marks synthesized (non-file-content)
# events — the dump's artificial start ROTATE — with this bit; such events
# also carry log_pos 0
LOG_EVENT_ARTIFICIAL_F = 0x20

BINLOG_STARTING_POSITION = 4  # first byte after the file magic


class BinlogSocketError(RuntimeError):
    """Protocol violation or server-reported error on the socket."""


class ServerError(BinlogSocketError):
    def __init__(self, code: int, sqlstate: str, message: str):
        super().__init__(f"MySQL error {code} ({sqlstate}): {message}")
        self.code = code
        self.sqlstate = sqlstate
        self.message = message


def native_password_scramble(password: str, salt: bytes) -> bytes:
    """mysql_native_password token:
    ``SHA1(pw) XOR SHA1(salt + SHA1(SHA1(pw)))`` (empty password → empty
    token). Public algorithm; semantics per BinlogChannel.java:252-262."""
    if password == "":
        return b""
    h1 = hashlib.sha1(password.encode()).digest()
    h2 = hashlib.sha1(salt + hashlib.sha1(h1).digest()).digest()
    return bytes(a ^ b for a, b in zip(h1, h2))


class Greeting:
    """Parsed handshake-v10 packet (layout per Greeting.java:40-55)."""

    def __init__(self, payload: bytes):
        pos = 0

        def z_str() -> bytes:
            nonlocal pos
            end = payload.index(0, pos)
            out = payload[pos:end]
            pos = end + 1
            return out

        self.protocol_version = payload[pos]
        pos += 1
        self.server_version = z_str().decode("latin1")
        self.thread_id = int.from_bytes(payload[pos : pos + 4], "little")
        pos += 4
        scramble_prefix = z_str()
        self.capabilities = int.from_bytes(payload[pos : pos + 2], "little")
        pos += 2
        self.collation = payload[pos]
        pos += 1
        self.status = int.from_bytes(payload[pos : pos + 2], "little")
        pos += 2
        pos += 13  # capability-high/auth-len/reserved block
        self.scramble = scramble_prefix + z_str()
        self.auth_plugin = None
        if pos < len(payload):
            try:
                self.auth_plugin = z_str().decode("latin1")
            except ValueError:
                self.auth_plugin = (
                    payload[pos:].rstrip(b"\x00").decode("latin1")
                )


class PacketChannel:
    """MySQL packet framing over a connected socket-like object (needs
    ``recv(n) -> bytes`` and ``sendall(bytes)``). Reads are buffered —
    the event stream is tens of thousands of small packets, and a recv
    syscall per 4-byte header would cap the tail's throughput far below
    what the downstream file-parallel decode sustains."""

    READ_CHUNK = 1 << 16

    def __init__(self, sock: Any):
        self._sock = sock
        self._rbuf = bytearray()

    # ----------------------------------------------------------- transport
    def _read_exact(self, n: int) -> bytes:
        buf = self._rbuf
        while len(buf) < n:
            b = self._sock.recv(max(self.READ_CHUNK, n - len(buf)))
            if not b:
                raise EOFError(
                    f"socket closed mid-read ({len(buf)}/{n} bytes received)"
                )
            buf += b
        out = bytes(buf[:n])
        del buf[:n]
        return out

    def read_packet(self) -> bytes:
        """One logical packet, reassembled across 16 MiB continuations."""
        payload = b""
        while True:
            header = self._read_exact(4)
            length = int.from_bytes(header[:3], "little")
            part = self._read_exact(length) if length else b""
            payload += part
            if length < MAX_PACKET:
                return payload

    def write_packet(self, payload: bytes, seq: int) -> None:
        out = bytearray()
        off = 0
        while True:
            part = payload[off : off + MAX_PACKET]
            out += len(part).to_bytes(3, "little") + bytes([seq & 0xFF]) + part
            seq += 1
            off += len(part)
            if len(part) < MAX_PACKET:
                break
        self._sock.sendall(bytes(out))

    def close(self) -> None:
        try:
            self._sock.close()
        except OSError:
            pass

    # ----------------------------------------------------------- packets
    @staticmethod
    def _raise_if_err(payload: bytes) -> bytes:
        if payload and payload[0] == 0xFF:
            code = int.from_bytes(payload[1:3], "little")
            sqlstate, msg_off = "", 3
            if len(payload) > 3 and payload[3:4] == b"#":
                sqlstate = payload[4:9].decode("latin1", "replace")
                msg_off = 9
            raise ServerError(
                code, sqlstate, payload[msg_off:].decode("utf-8", "replace")
            )
        return payload

    def expect_ok(self, context: str) -> None:
        payload = self._raise_if_err(self.read_packet())
        if not payload or payload[0] != 0x00:
            raise BinlogSocketError(
                f"{context}: expected OK packet, got lead byte "
                f"{payload[:1].hex() or '<empty>'}"
            )

    # ------------------------------------------------------------- queries
    def query_ok(self, sql: str) -> None:
        """COM_QUERY expecting a bare OK (SET-style statements)."""
        self.write_packet(bytes([COM_QUERY]) + sql.encode(), 0)
        self.expect_ok(f"query {sql!r}")

    def query_rows(self, sql: str) -> list[list[str | None]]:
        """COM_QUERY text resultset: column definitions are skipped to the
        first EOF, then rows of length-encoded strings to the second EOF
        (BinlogChannel.readResultSet). An immediate OK means zero rows
        (statement produced no resultset)."""
        self.write_packet(bytes([COM_QUERY]) + sql.encode(), 0)
        first = self._raise_if_err(self.read_packet())
        if first and first[0] == 0x00:
            return []
        while not self._is_eof(self._raise_if_err(self.read_packet())):
            pass  # column definitions
        rows: list[list[str | None]] = []
        while True:
            payload = self._raise_if_err(self.read_packet())
            if self._is_eof(payload):
                return rows
            rows.append(self._parse_text_row(payload))

    @staticmethod
    def _is_eof(payload: bytes) -> bool:
        return len(payload) > 0 and payload[0] == 0xFE and len(payload) < 9

    @staticmethod
    def _parse_text_row(payload: bytes) -> list[str | None]:
        vals: list[str | None] = []
        pos = 0
        while pos < len(payload):
            lead = payload[pos]
            pos += 1
            if lead == 0xFB:
                vals.append(None)
                continue
            if lead < 0xFB:
                n = lead
            elif lead == 0xFC:
                n = int.from_bytes(payload[pos : pos + 2], "little")
                pos += 2
            elif lead == 0xFD:
                n = int.from_bytes(payload[pos : pos + 3], "little")
                pos += 3
            else:
                n = int.from_bytes(payload[pos : pos + 8], "little")
                pos += 8
            vals.append(payload[pos : pos + n].decode("utf-8", "replace"))
            pos += n
        return vals


class BinlogSocketClient:
    """The replication client state machine. ``connect_factory`` returns a
    connected socket-like object — ``BinlogSocketClient.tcp(host, port,
    ...)`` builds the real-TCP flavor; tests pass a socketpair end wired
    to a fixture server."""

    def __init__(
        self,
        connect_factory: Callable[[], Any],
        user: str,
        password: str = "",
        *,
        collation: int = 45,  # utf8mb4_general_ci
    ):
        self._connect = connect_factory
        self.user = user
        self.password = password
        self.collation = collation
        self.greeting: Greeting | None = None
        # latest stream position — the reconnect/checkpoint cursor
        self.position: tuple[str, int] | None = None
        self.checksum_length = 0

    @classmethod
    def tcp(
        cls, host: str, port: int, user: str, password: str = "", **kw
    ) -> "BinlogSocketClient":
        def factory() -> socket.socket:
            s = socket.create_connection((host, port), timeout=60)
            s.settimeout(60)
            return s

        return cls(factory, user, password, **kw)

    # ------------------------------------------------------------ handshake
    def connect(self) -> PacketChannel:
        """Greeting → HandshakeResponse41 (mysql_native_password) → OK."""
        ch = PacketChannel(self._connect())
        greeting = Greeting(ch._raise_if_err(ch.read_packet()))
        self.greeting = greeting
        token = native_password_scramble(self.password, greeting.scramble)
        caps = (
            CLIENT_LONG_FLAG
            | CLIENT_PROTOCOL_41
            | CLIENT_SECURE_CONNECTION
            | CLIENT_PLUGIN_AUTH
        )
        payload = (
            struct.pack("<II", caps, 0)
            + bytes([self.collation])
            + bytes(23)
            + self.user.encode()
            + b"\x00"
            + bytes([len(token)])
            + token
            + b"mysql_native_password\x00"
        )
        ch.write_packet(payload, 1)
        ch.expect_ok("handshake response")
        return ch

    # ------------------------------------------------------------- metadata
    def current_position(self) -> tuple[str, int]:
        """``show master status`` head position, clamped to the 4-byte
        magic floor (BinlogClient.currentPosition)."""
        ch = self.connect()
        try:
            rows = ch.query_rows("show master status")
            if not rows:
                raise BinlogSocketError(
                    "show master status returned no rows (binlog disabled?)"
                )
            fname, pos = rows[0][0], int(rows[0][1])
            return fname, max(pos, BINLOG_STARTING_POSITION)
        finally:
            ch.close()

    # ----------------------------------------------------------- dump setup
    def _negotiate_checksum(self, ch: PacketChannel) -> int:
        rows = ch.query_rows("show global variables like 'binlog_checksum'")
        if not rows:
            return 0
        ch.query_ok("set @master_binlog_checksum = @@global.binlog_checksum")
        value = (rows[0][1] or "NONE").upper()
        if value == "CRC32":
            return 4
        if value == "NONE":
            return 0
        raise BinlogSocketError(f"unknown binlog_checksum type {value!r}")

    def _server_id(self, ch: PacketChannel) -> int:
        rows = ch.query_rows("select @@server_id")
        if len(rows) != 1:
            raise BinlogSocketError("unable to read @@server_id")
        return int(rows[0][0])

    def _request_dump(
        self, ch: PacketChannel, fname: str, pos: int
    ) -> None:
        payload = (
            bytes([COM_BINLOG_DUMP])
            + struct.pack("<IHI", pos, 0, self._server_id(ch))
            + fname.encode()
        )
        ch.write_packet(payload, 0)

    def _request_dump_gtid(self, ch: PacketChannel, executed) -> None:
        """GTID auto-positioning (COM_BINLOG_DUMP_GTID, public layout:
        flags:2 server_id:4 name_len:4 name pos:8 data_len:4 sid-block):
        the client states what it already HAS (gtid_executed) and the
        server chooses the start — no (file, pos) bookkeeping across
        failover. The SID block is the same wire layout as a
        PREVIOUS_GTIDS body (``encode_previous_gtids``)."""
        from .binlog_file import encode_previous_gtids, parse_gtid_set_string

        if isinstance(executed, str):
            executed = parse_gtid_set_string(executed)
        sid_block = encode_previous_gtids(executed)
        payload = (
            bytes([COM_BINLOG_DUMP_GTID])
            + struct.pack("<HI", BINLOG_THROUGH_GTID, self._server_id(ch))
            + struct.pack("<I", 0)  # empty filename: auto-position
            + struct.pack("<Q", BINLOG_STARTING_POSITION)
            + struct.pack("<I", len(sid_block))
            + sid_block
        )
        ch.write_packet(payload, 0)

    # --------------------------------------------------------- event stream
    def events(
        self,
        start_file: str | None = None,
        start_pos: int = BINLOG_STARTING_POSITION,
        *,
        gtid_executed=None,
        reconnect: bool = True,
        max_reconnects: int = 8,
        reconnect_backoff: float = 0.05,
    ) -> Iterator[tuple[int, bytes, bytes]]:
        """The replication stream as ``(type_code, raw_header, body)``
        triples; ``body`` INCLUDES the negotiated checksum tail (strip with
        ``self.checksum_length``, the same contract as
        ``binlog_file.iter_binlog_events``). ROTATE and FDE update
        ``self.position`` exactly like the reference's event loop; a
        timeout or dropped connection reconnects from the latest position
        (EventReader.readEvent semantics) up to ``max_reconnects`` times.
        The stream ends only on a server EOF packet (or reconnect budget
        exhaustion when ``reconnect`` is off it raises instead).

        With ``gtid_executed`` (a ``sid:1-5,...`` string or parsed
        intervals) the INITIAL request is GTID auto-positioning
        (COM_BINLOG_DUMP_GTID) — the server picks the start and its
        artificial ROTATE tells us where we are; ``start_file`` may be
        omitted. Whole-file granularity here: the stream may replay
        already-covered transactions from the head of the chosen file —
        GTID consumers are idempotent by contract (this engine's merges
        dedupe on lsn regardless). After any progress, a reconnect
        resumes from the concrete tracked (file, pos)."""
        if start_file is None and gtid_executed is None:
            raise ValueError("need start_file or gtid_executed")
        self.position = (
            start_file or "",
            max(start_pos, BINLOG_STARTING_POSITION),
        )
        attempts = 0
        use_gtid = gtid_executed is not None
        while True:
            if attempts:
                # exponential backoff between reconnects: a
                # heartbeat-then-drop upstream (alive but flaky — its
                # heartbeats keep resetting the budget, which is correct:
                # the reference reconnects such streams forever too) must
                # retry slowly, never busy-spin through connect/auth
                import time as _time

                _time.sleep(min(reconnect_backoff * (2 ** attempts), 2.0))
            ch = None
            try:
                # connect() inside the try: a refused/reset RE-connection
                # must consume the reconnect budget like any mid-stream
                # drop, not escape as a raw exception
                ch = self.connect()
                self.checksum_length = self._negotiate_checksum(ch)
                if use_gtid and not self.position[0]:
                    self._request_dump_gtid(ch, gtid_executed)
                else:
                    self._request_dump(ch, self.position[0], self.position[1])
                while True:
                    payload = ch._raise_if_err(ch.read_packet())
                    if PacketChannel._is_eof(payload):
                        return
                    if not payload or payload[0] != 0x00:
                        raise BinlogSocketError(
                            "unexpected stream packet lead byte "
                            f"{payload[:1].hex() or '<empty>'}"
                        )
                    raw = payload[1:]
                    header = parse_event_header(raw[:19])
                    body = raw[19:]
                    before = self.position
                    self._track_position(header.type_code, header, body)
                    if (
                        self.position != before
                        or header.type_code == HEARTBEAT_EVENT
                    ):
                        # position ADVANCEMENT or a live heartbeat resets
                        # the reconnect budget. Heartbeats don't move the
                        # cursor but prove a healthy idle upstream — an
                        # hourly LB drop on a quiet table must never
                        # exhaust the budget cumulatively over days. A
                        # server looping on FDE-replay-then-drop still
                        # exhausts it (neither signal fires).
                        attempts = 0
                    yield header.type_code, raw[:19], body
            except (socket.timeout, ConnectionError, EOFError, OSError) as e:
                if not reconnect or attempts >= max_reconnects:
                    raise BinlogSocketError(
                        f"binlog stream lost at {self.position}: {e}"
                    ) from e
                attempts += 1
            finally:
                if ch is not None:
                    ch.close()

    def _track_position(self, type_code: int, header, body: bytes) -> None:
        fname, cur = self.position
        if type_code == ROTATE_EVENT:
            # body: 8-byte next position + successor filename (+ checksum)
            tail = self.checksum_length
            next_pos = int.from_bytes(body[:8], "little")
            next_name = body[8 : len(body) - tail if tail else len(body)]
            self.position = (next_name.decode("latin1"), next_pos)
        elif header.next_position > cur:
            # forward only: after a mid-file reconnect the server replays
            # the file's FDE byte-faithfully, whose next_position is its
            # ORIGINAL head offset — adopting it would rewind the cursor
            # and re-deliver most of the file on the next drop
            self.position = (fname, header.next_position)

    # --------------------------------------------------------------- spool
    def spool(
        self,
        out_dir: str,
        start_file: str | None = None,
        start_pos: int = BINLOG_STARTING_POSITION,
        *,
        max_events: int | None = None,
        **kw,
    ) -> list[str]:
        """Tail the stream into on-disk ``mysql-bin.NNNNNN`` segments that
        are BYTE-COMPATIBLE with server binlog files (magic + FDE + events
        exactly as received — CRCs preserved, so the distributed
        ``BinlogDirectoryTail`` read verifies them end-to-end). The
        server's artificial start ROTATE (timestamp 0) names the first
        segment and is not file content; a real ROTATE is written, closes
        its segment, and its successor opens at the next FDE. Heartbeats
        are keepalives, never file content. Returns the paths written, in
        order. This is THE bridge from the single-connection driver-side
        tail to the file-parallel distributed decode path."""
        os.makedirs(out_dir, exist_ok=True)
        paths: list[str] = []
        fh = None
        current = start_file
        n = 0
        try:
            for type_code, raw_header, body in self.events(
                start_file, start_pos, **kw
            ):
                flags = int.from_bytes(raw_header[17:19], "little")
                log_pos = int.from_bytes(raw_header[13:17], "little")
                if type_code == HEARTBEAT_EVENT:
                    continue
                if type_code == ROTATE_EVENT and (
                    flags & LOG_EVENT_ARTIFICIAL_F or log_pos == 0
                ):
                    # the dump's synthesized start rotate: names the first
                    # segment, is not file content
                    tail = self.checksum_length
                    current = body[8 : len(body) - tail if tail else None
                                   ].decode("latin1")
                    continue
                if fh is None:
                    if current is None:
                        raise BinlogSocketError(
                            f"event type {type_code:#x} arrived before the "
                            "start ROTATE: no segment name (pass start_file)"
                        )
                    path = os.path.join(out_dir, current)
                    fh = open(path, "wb")
                    fh.write(BINLOG_MAGIC)
                    paths.append(path)
                    if type_code != FORMAT_DESCRIPTION_EVENT:
                        # mid-file resume: the server replays the FDE first;
                        # anything else means the dump started past it and
                        # the segment would be undecodable standalone
                        raise BinlogSocketError(
                            "segment must open with a FORMAT_DESCRIPTION "
                            f"event, got type {type_code:#x}"
                        )
                elif type_code == FORMAT_DESCRIPTION_EVENT:
                    # an FDE while a segment is open is the server replaying
                    # the file head after a mid-segment reconnect — file
                    # content has exactly one FDE; writing this one mid-file
                    # would break the segment's end_log_pos chain
                    continue
                fh.write(raw_header)
                fh.write(body)
                if type_code == ROTATE_EVENT:
                    fh.close()
                    fh = None
                    current = self.position[0]
                n += 1
                if max_events is not None and n >= max_events:
                    break
        finally:
            if fh is not None:
                fh.close()
        return paths
