"""Minimal PostgreSQL v3 wire client: startup handshake and simple queries
over a raw socket (no PostgreSQL client library is installed). Framing
follows the server in ``sydradb_spark/compat/wire.py``: every backend
message is a 1-byte tag plus a 4-byte big-endian length that counts
itself."""

from __future__ import annotations

import socket
import struct


class PgError(Exception):
    pass


class PgConnection:
    def __init__(self, addr: tuple[str, int], timeout: float = 60.0):
        self.sock = socket.create_connection(addr, timeout=timeout)
        params = b"user\x00bench\x00database\x00sydra\x00\x00"
        body = struct.pack("!I", 196608) + params  # protocol 3.0
        self.sock.sendall(struct.pack("!I", len(body) + 4) + body)
        while True:
            tag, payload = self._read_msg()
            if tag == b"R" and struct.unpack("!I", payload[:4])[0] != 0:
                raise PgError("server asked for authentication")
            if tag == b"E":
                raise PgError(_fields(payload).get("M", "startup failed"))
            if tag == b"Z":
                return

    def _recv_exact(self, n: int) -> bytes:
        buf = bytearray()
        while len(buf) < n:
            chunk = self.sock.recv(n - len(buf))
            if not chunk:
                raise PgError("server closed the connection")
            buf += chunk
        return bytes(buf)

    def _read_msg(self) -> tuple[bytes, bytes]:
        tag = self._recv_exact(1)
        (length,) = struct.unpack("!I", self._recv_exact(4))
        return tag, self._recv_exact(length - 4)

    def query(self, sql: str) -> tuple[list[str], list[list[str | None]]]:
        """Run one simple query; returns (column names, text rows). A
        server ErrorResponse raises PgError after the connection is back
        at ReadyForQuery."""
        payload = sql.encode() + b"\x00"
        self.sock.sendall(b"Q" + struct.pack("!I", len(payload) + 4) + payload)
        cols: list[str] = []
        rows: list[list[str | None]] = []
        err = None
        while True:
            tag, payload = self._read_msg()
            if tag == b"T":
                (n,) = struct.unpack("!H", payload[:2])
                off = 2
                for _ in range(n):
                    end = payload.index(b"\x00", off)
                    cols.append(payload[off:end].decode())
                    off = end + 1 + 18  # fixed-size field descriptor
            elif tag == b"D":
                (n,) = struct.unpack("!H", payload[:2])
                off, vals = 2, []
                for _ in range(n):
                    (ln,) = struct.unpack("!i", payload[off : off + 4])
                    off += 4
                    if ln == -1:
                        vals.append(None)
                    else:
                        vals.append(payload[off : off + ln].decode())
                        off += ln
                rows.append(vals)
            elif tag == b"E":
                err = _fields(payload).get("M", "error")
            elif tag == b"Z":
                if err is not None:
                    raise PgError(err)
                return cols, rows

    def close(self) -> None:
        try:
            self.sock.sendall(b"X" + struct.pack("!I", 4))
        finally:
            self.sock.close()


def _fields(payload: bytes) -> dict[str, str]:
    return {chr(p[0]): p[1:].decode() for p in payload.split(b"\x00") if p}
