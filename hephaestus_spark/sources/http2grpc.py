"""gRPC over HTTP/2 on raw sockets, stdlib only — client AND server.

The reference's ingress is a gRPC poll loop
(internal/client/hermes/client.go:11-35). grpcio is not available
(COVERAGE.md "environmental blocks"), so the transport seam was first
exercised through an in-process fake. This module closes the remaining
distance WITHOUT grpcio: a from-the-spec implementation of the slice
of HTTP/2 (RFC 7540) + HPACK (RFC 7541) + gRPC framing (the
length-prefixed message protocol) that unary gRPC needs, speaking over
a REAL TCP socket. The bytes on the wire are genuine gRPC/HTTP-2 — connection
preface, SETTINGS exchange, HPACK-coded HEADERS, DATA frames carrying
5-byte-prefixed protobuf messages, grpc-status trailers — so the
`SocketGrpcTransport` in sources/grpc_source.py drives the SAME poll
loop the reference runs, over an actual network channel.

Deliberate subset (documented, spec-legal):
- unary-unary only (all three reference RPCs are unary);
- HPACK string Huffman coding is fully supported (hpack_huffman.py):
  the decoder accepts Huffman-coded strings (every real gRPC peer
  emits them by default — the interop-critical direction) and the encoder Huffman-codes whenever it saves octets,
  falling back to raw otherwise (grpc-go/nghttp2 behavior);
- PRIORITY/PUSH_PROMISE/CONTINUATION are not emitted; CONTINUATION is
  rejected, and PADDED/PRIORITY flags on incoming HEADERS/DATA are
  rejected loudly rather than silently mis-parsed as payload
  (our header blocks are far below the 16 KB frame limit);
- flow control: BOTH directions are real — senders account the peer's
  connection and stream windows and block until WINDOW_UPDATEs arrive;
  receivers replenish after every DATA frame. Bodies far beyond the
  65535-byte initial window stream through in 16 KB frames without
  ever overrunning a window (exercised in tests, including a
  window-starved peer on either end).

Latency: both ends set TCP_NODELAY, and each group of frames that
leaves together (a request's HEADERS + DATA, a reply's HEADERS + DATA +
trailers, a WINDOW_UPDATE pair) goes out in one write. With Nagle's
algorithm on, the second small write of a group waits for the peer's
delayed ACK (~40 ms on Linux), once per direction on every call.

Interop with a grpcio peer is still untestable here (no such peer can
exist in this image); what this removes is the "never left one
process / never crossed a socket" caveat.
"""

from __future__ import annotations

import socket
import struct
import threading

# ---------------------------------------------------------------------------
# HPACK (RFC 7541)
# ---------------------------------------------------------------------------

# Appendix A static table, 1-indexed.
HPACK_STATIC = [
    (":authority", ""), (":method", "GET"), (":method", "POST"),
    (":path", "/"), (":path", "/index.html"), (":scheme", "http"),
    (":scheme", "https"), (":status", "200"), (":status", "204"),
    (":status", "206"), (":status", "304"), (":status", "400"),
    (":status", "404"), (":status", "500"), ("accept-charset", ""),
    ("accept-encoding", "gzip, deflate"), ("accept-language", ""),
    ("accept-ranges", ""), ("accept", ""), ("access-control-allow-origin", ""),
    ("age", ""), ("allow", ""), ("authorization", ""), ("cache-control", ""),
    ("content-disposition", ""), ("content-encoding", ""),
    ("content-language", ""), ("content-length", ""), ("content-location", ""),
    ("content-range", ""), ("content-type", ""), ("cookie", ""), ("date", ""),
    ("etag", ""), ("expect", ""), ("expires", ""), ("from", ""), ("host", ""),
    ("if-match", ""), ("if-modified-since", ""), ("if-none-match", ""),
    ("if-range", ""), ("if-unmodified-since", ""), ("last-modified", ""),
    ("link", ""), ("location", ""), ("max-forwards", ""),
    ("proxy-authenticate", ""), ("proxy-authorization", ""), ("range", ""),
    ("referer", ""), ("refresh", ""), ("retry-after", ""), ("server", ""),
    ("set-cookie", ""), ("strict-transport-security", ""),
    ("transfer-encoding", ""), ("user-agent", ""), ("vary", ""), ("via", ""),
    ("www-authenticate", ""),
]
_STATIC_PAIR = {pair: i + 1 for i, pair in enumerate(HPACK_STATIC)}
_STATIC_NAME = {}
for i, (n, _) in enumerate(HPACK_STATIC):
    _STATIC_NAME.setdefault(n, i + 1)


def _int_encode(value: int, prefix_bits: int, first_byte: int) -> bytes:
    """RFC 7541 5.1 prefix integer."""
    limit = (1 << prefix_bits) - 1
    if value < limit:
        return bytes([first_byte | value])
    out = bytearray([first_byte | limit])
    value -= limit
    while value >= 128:
        out.append((value & 0x7F) | 0x80)
        value >>= 7
    out.append(value)
    return bytes(out)


def _int_decode(data: bytes, pos: int, prefix_bits: int) -> tuple[int, int]:
    limit = (1 << prefix_bits) - 1
    v = data[pos] & limit
    pos += 1
    if v < limit:
        return v, pos
    shift = 0
    while True:
        if pos >= len(data):
            raise ValueError("truncated HPACK integer")
        b = data[pos]
        pos += 1
        v += (b & 0x7F) << shift
        shift += 7
        if not b & 0x80:
            return v, pos


def _str_encode(s: str) -> bytes:
    b = s.encode("utf-8")
    # Huffman-code when it actually saves octets (what grpc-go /
    # nghttp2 do); otherwise raw with the H bit clear. Both are legal;
    # the shorter wins. The decoder accepts either way regardless.
    from hephaestus_spark.sources.hpack_huffman import huffman_encode

    h = huffman_encode(b)
    if len(h) < len(b):
        return _int_encode(len(h), 7, 0x80) + h
    return _int_encode(len(b), 7, 0x00) + b  # H bit clear: raw octets


def _str_decode(data: bytes, pos: int) -> tuple[str, int]:
    huff = data[pos] & 0x80
    ln, pos = _int_decode(data, pos, 7)
    if pos + ln > len(data):
        raise ValueError("truncated HPACK string")
    raw = data[pos:pos + ln]
    if huff:
        from hephaestus_spark.sources.hpack_huffman import huffman_decode

        raw = huffman_decode(raw)
    return raw.decode("utf-8"), pos + ln


class HpackEncoder:
    """Static-table-only encoder: exact matches use indexed fields,
    known names use literal-without-indexing with a name index, novel
    names use literal-without-indexing with a raw name. Never touches
    the dynamic table — peers need no state to track us."""

    def encode(self, headers: list[tuple[str, str]]) -> bytes:
        out = bytearray()
        for name, value in headers:
            idx = _STATIC_PAIR.get((name, value))
            if idx:
                out += _int_encode(idx, 7, 0x80)
                continue
            nidx = _STATIC_NAME.get(name)
            if nidx:
                out += _int_encode(nidx, 4, 0x00)
            else:
                out += b"\x00" + _str_encode(name)
            out += _str_encode(value)
        return bytes(out)


def _hpack_entry_size(name: str, value: str) -> int:
    """RFC 7541 section 4.1: 32 bytes of per-entry overhead."""
    return len(name.encode("utf-8")) + len(value.encode("utf-8")) + 32


class HpackDecoder:
    """Full decoding of the four representations incl. incremental
    indexing into a dynamic table WITH the RFC 7541 section 4 size
    accounting — insertion evicts from the oldest end, and
    dynamic-table-size-update instructions resize and evict. Without
    eviction the decoder's indices desynchronize from a conforming peer
    as soon as the peer's table evicts, resolving dynamic indices to the
    WRONG header silently."""

    def __init__(self) -> None:
        self.dynamic: list[tuple[str, str]] = []
        self.max_size = 4096
        self.size = 0

    def _evict_to(self, limit: int) -> None:
        while self.dynamic and self.size > limit:
            n, v = self.dynamic.pop()  # oldest entry is at the END
            self.size -= _hpack_entry_size(n, v)

    def _insert(self, name: str, value: str) -> None:
        entry = _hpack_entry_size(name, value)
        # an entry larger than the table empties it (section 4.4)
        self._evict_to(max(self.max_size - entry, 0))
        if entry <= self.max_size:
            self.dynamic.insert(0, (name, value))
            self.size += entry

    def _lookup(self, idx: int) -> tuple[str, str]:
        if idx == 0:
            raise ValueError("HPACK index 0")
        if idx <= len(HPACK_STATIC):
            return HPACK_STATIC[idx - 1]
        d = idx - len(HPACK_STATIC) - 1
        if d >= len(self.dynamic):
            raise ValueError(f"HPACK dynamic index {idx} out of range")
        return self.dynamic[d]

    def decode(self, data: bytes) -> list[tuple[str, str]]:
        headers: list[tuple[str, str]] = []
        pos = 0
        while pos < len(data):
            b = data[pos]
            if b & 0x80:  # indexed
                idx, pos = _int_decode(data, pos, 7)
                headers.append(self._lookup(idx))
            elif b & 0x40:  # literal, incremental indexing
                idx, pos = _int_decode(data, pos, 6)
                name = self._lookup(idx)[0] if idx else None
                if name is None:
                    name, pos = _str_decode(data, pos)
                value, pos = _str_decode(data, pos)
                self._insert(name, value)
                headers.append((name, value))
            elif b & 0x20:  # dynamic table size update (section 6.3)
                new_max, pos = _int_decode(data, pos, 5)
                self.max_size = new_max
                self._evict_to(new_max)
            else:  # literal without indexing / never indexed (4-bit prefix)
                idx, pos = _int_decode(data, pos, 4)
                name = self._lookup(idx)[0] if idx else None
                if name is None:
                    name, pos = _str_decode(data, pos)
                value, pos = _str_decode(data, pos)
                headers.append((name, value))
        return headers


# ---------------------------------------------------------------------------
# HTTP/2 frames (RFC 7540 section 4)
# ---------------------------------------------------------------------------

PREFACE = b"PRI * HTTP/2.0\r\n\r\nSM\r\n\r\n"
F_DATA, F_HEADERS, F_RST, F_SETTINGS, F_PING, F_GOAWAY, F_WINDOW = (
    0x0, 0x1, 0x3, 0x4, 0x6, 0x7, 0x8,
)
FLAG_END_STREAM, FLAG_END_HEADERS, FLAG_ACK = 0x1, 0x4, 0x1
FLAG_PADDED, FLAG_PRIORITY = 0x8, 0x20
MAX_FRAME = 16384


def _frame(ftype: int, flags: int, stream_id: int, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))[1:]
        + bytes([ftype, flags])
        + struct.pack(">I", stream_id & 0x7FFFFFFF)
        + payload
    )


def _recv_exact(sock: socket.socket, n: int) -> bytes:
    buf = bytearray()
    while len(buf) < n:
        chunk = sock.recv(n - len(buf))
        if not chunk:
            raise ConnectionError("peer closed mid-frame")
        buf += chunk
    return bytes(buf)


def _read_frame(sock: socket.socket) -> tuple[int, int, int, bytes]:
    head = _recv_exact(sock, 9)
    length = int.from_bytes(head[:3], "big")
    ftype, flags = head[3], head[4]
    stream_id = struct.unpack(">I", head[5:9])[0] & 0x7FFFFFFF
    if length > MAX_FRAME:
        raise ValueError("frame exceeds SETTINGS_MAX_FRAME_SIZE")
    # PADDED/PRIORITY are legal for any peer without negotiation, but
    # this subset does not parse the extra octets — feeding them into
    # HPACK or the message body would be a SILENT mis-parse, so reject
    # loudly like the other unsupported feature (CONTINUATION).
    if ftype in (F_DATA, F_HEADERS) and flags & FLAG_PADDED:
        raise ValueError("PADDED frames not supported by this subset")
    if ftype == F_HEADERS and flags & FLAG_PRIORITY:
        raise ValueError("PRIORITY flag on HEADERS not supported by this subset")
    return ftype, flags, stream_id, _recv_exact(sock, length) if length else b""


INITIAL_WINDOW = 65535


class _SendWindows:
    """Sender-side flow-control accounting (RFC 7540 section 6.9): DATA
    sent past the peer's windows is a FLOW_CONTROL_ERROR against any
    conforming peer once a body exceeds 65535 bytes. One per connection;
    per-stream windows created on first use."""

    def __init__(self) -> None:
        self.conn = INITIAL_WINDOW
        self.streams: dict[int, int] = {}

    def stream(self, sid: int) -> int:
        return self.streams.setdefault(sid, INITIAL_WINDOW)

    def consume(self, sid: int, n: int) -> None:
        self.conn -= n
        self.streams[sid] = self.stream(sid) - n

    def replenish(self, stream_id: int, inc: int) -> None:
        if stream_id == 0:
            self.conn += inc
        else:
            self.streams[stream_id] = (
                self.streams.get(stream_id, INITIAL_WINDOW) + inc
            )


def _window_updates(sid: int, n: int) -> bytes:
    """The connection and stream WINDOW_UPDATE pair crediting ``n``
    received DATA octets, as one write."""
    inc = struct.pack(">I", n)
    return _frame(F_WINDOW, 0, 0, inc) + _frame(F_WINDOW, 0, sid, inc)


def _pump_body(
    sock: socket.socket,
    sid: int,
    body: bytes,
    windows: _SendWindows,
    out: bytearray,
    end_stream: bool,
) -> None:
    """Append ``body`` to ``out`` as DATA frames WITHIN the peer's
    advertised connection and stream windows; the caller writes ``out``.
    When blocked, write ``out`` first — a peer that replenishes only
    once its window is dry must see the frames that dried it — then
    read frames (control frames and WINDOW_UPDATEs — the only traffic a
    synchronous unary peer produces mid-body) until the window opens."""
    if not body:
        if end_stream:
            out += _frame(F_DATA, FLAG_END_STREAM, sid, b"")
        return
    off = 0
    while off < len(body):
        allow = min(
            MAX_FRAME, windows.conn, windows.stream(sid), len(body) - off
        )
        if allow <= 0:
            sock.sendall(out)
            out.clear()
            ftype, flags, stream_id, payload = _read_frame(sock)
            if ftype == F_WINDOW:
                (inc,) = struct.unpack(">I", payload)
                windows.replenish(stream_id, inc & 0x7FFFFFFF)
            elif ftype == F_SETTINGS:
                if not flags & FLAG_ACK:
                    sock.sendall(_frame(F_SETTINGS, FLAG_ACK, 0, b""))
            elif ftype == F_PING:
                if not flags & FLAG_ACK:
                    sock.sendall(_frame(F_PING, FLAG_ACK, 0, payload))
            elif ftype in (F_RST, F_GOAWAY):
                raise ConnectionError("peer aborted while window-blocked")
            else:
                raise ValueError(
                    f"unexpected frame type {ftype} while window-blocked"
                )
            continue
        last = end_stream and off + allow >= len(body)
        out += _frame(
            F_DATA, FLAG_END_STREAM if last else 0, sid, body[off:off + allow]
        )
        windows.consume(sid, allow)
        off += allow


def grpc_wrap(message: bytes) -> bytes:
    """gRPC length-prefixed message: compressed flag 0 + u32 length."""
    return b"\x00" + struct.pack(">I", len(message)) + message


def grpc_unwrap(body: bytes) -> bytes:
    if len(body) < 5:
        raise ValueError("short gRPC message frame")
    if body[0] != 0:
        raise ValueError("compressed gRPC messages unsupported")
    (ln,) = struct.unpack(">I", body[1:5])
    if len(body) != 5 + ln:
        raise ValueError("gRPC length prefix mismatch")
    return body[5:]


# ---------------------------------------------------------------------------
# client
# ---------------------------------------------------------------------------


class Http2GrpcClient:
    """Synchronous unary gRPC client on one real TCP connection."""

    def __init__(self, host: str, port: int, authority: str | None = None):
        self._sock = socket.create_connection((host, port))
        self._sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        self._authority = authority or f"{host}:{port}"
        self._enc = HpackEncoder()
        self._dec = HpackDecoder()
        self._windows = _SendWindows()
        self._next_stream = 1
        self._sock.sendall(PREFACE + _frame(F_SETTINGS, 0, 0, b""))
        # server preface: its SETTINGS, which we ACK; it ACKs ours.
        ftype, flags, _, _ = _read_frame(self._sock)
        if ftype != F_SETTINGS or flags & FLAG_ACK:
            raise ValueError("expected server SETTINGS")
        self._sock.sendall(_frame(F_SETTINGS, FLAG_ACK, 0, b""))

    def close(self) -> None:
        try:
            self._sock.sendall(_frame(F_GOAWAY, 0, 0, b"\x00" * 8))
        except OSError:
            pass
        self._sock.close()

    def call(self, path: str, request: bytes) -> bytes:
        sid = self._next_stream
        self._next_stream += 2
        headers = [
            (":method", "POST"),
            (":scheme", "http"),
            (":path", path),
            (":authority", self._authority),
            ("content-type", "application/grpc"),
            ("te", "trailers"),
        ]
        out = bytearray(
            _frame(F_HEADERS, FLAG_END_HEADERS, sid, self._enc.encode(headers))
        )
        _pump_body(
            self._sock, sid, grpc_wrap(request), self._windows, out,
            end_stream=True,
        )
        self._sock.sendall(out)

        body = bytearray()
        status = grpc_status = None
        while True:
            ftype, flags, stream_id, payload = _read_frame(self._sock)
            if ftype == F_SETTINGS:
                if not flags & FLAG_ACK:
                    self._sock.sendall(_frame(F_SETTINGS, FLAG_ACK, 0, b""))
            elif ftype == F_PING:
                if not flags & FLAG_ACK:
                    self._sock.sendall(_frame(F_PING, FLAG_ACK, 0, payload))
            elif ftype == F_WINDOW:
                (inc,) = struct.unpack(">I", payload)
                self._windows.replenish(stream_id, inc & 0x7FFFFFFF)
            elif ftype == F_RST:
                raise ConnectionError(f"stream {stream_id} reset by server")
            elif ftype == F_GOAWAY:
                raise ConnectionError("server GOAWAY")
            elif stream_id != sid:
                raise ValueError(f"unexpected stream {stream_id}")
            elif ftype == F_HEADERS:
                if not flags & FLAG_END_HEADERS:
                    raise ValueError("CONTINUATION unsupported (subset)")
                for name, value in self._dec.decode(payload):
                    if name == ":status":
                        status = value
                    elif name == "grpc-status":
                        grpc_status = value
                if flags & FLAG_END_STREAM:
                    break
            elif ftype == F_DATA:
                body += payload
                if payload:  # replenish flow-control windows
                    try:
                        self._sock.sendall(_window_updates(sid, len(payload)))
                    except OSError:
                        # a peer that half-closed after its final
                        # frames no longer needs the credit
                        pass
                if flags & FLAG_END_STREAM:
                    break
        if status != "200":
            raise ConnectionError(f"HTTP/2 :status {status}")
        if grpc_status not in (None, "0"):
            raise ConnectionError(f"grpc-status {grpc_status}")
        return grpc_unwrap(bytes(body))


# ---------------------------------------------------------------------------
# server
# ---------------------------------------------------------------------------


class Http2GrpcServer:
    """Threaded unary gRPC server: ``handlers`` maps a full method path
    (e.g. "/olympus.ScraperService/GetEmployees") to a
    ``bytes -> bytes`` function. A handler raising ValueError becomes a
    non-zero grpc-status trailer (the client surfaces it)."""

    def __init__(self, handlers: dict):
        self.handlers = handlers
        self._lsock = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        self._lsock.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        self._lsock.bind(("127.0.0.1", 0))
        self._lsock.listen(4)
        self.port = self._lsock.getsockname()[1]
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._serve, daemon=True)

    def start(self) -> "Http2GrpcServer":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        try:
            self._lsock.close()
        except OSError:
            pass

    def _serve(self) -> None:
        while not self._stop.is_set():
            try:
                conn, _ = self._lsock.accept()
            except OSError:
                return
            t = threading.Thread(
                target=self._connection, args=(conn,), daemon=True
            )
            t.start()

    def _connection(self, conn: socket.socket) -> None:
        try:
            conn.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
            if _recv_exact(conn, len(PREFACE)) != PREFACE:
                conn.close()
                return
            conn.sendall(_frame(F_SETTINGS, 0, 0, b""))
            dec = HpackDecoder()
            enc = HpackEncoder()
            windows = _SendWindows()
            streams: dict[int, dict] = {}
            while True:
                ftype, flags, sid, payload = _read_frame(conn)
                if ftype == F_SETTINGS:
                    if not flags & FLAG_ACK:
                        conn.sendall(_frame(F_SETTINGS, FLAG_ACK, 0, b""))
                elif ftype == F_PING:
                    if not flags & FLAG_ACK:
                        conn.sendall(_frame(F_PING, FLAG_ACK, 0, payload))
                elif ftype == F_GOAWAY:
                    return
                elif ftype == F_WINDOW:
                    (inc,) = struct.unpack(">I", payload)
                    windows.replenish(sid, inc & 0x7FFFFFFF)
                elif ftype == F_HEADERS:
                    if not flags & FLAG_END_HEADERS:
                        raise ValueError("CONTINUATION unsupported (subset)")
                    hdrs = dict(dec.decode(payload))
                    streams[sid] = {"path": hdrs.get(":path"), "body": bytearray()}
                    if flags & FLAG_END_STREAM:
                        self._respond(conn, enc, windows, sid, streams.pop(sid))
                elif ftype == F_DATA:
                    st = streams.get(sid)
                    if st is None:
                        conn.sendall(
                            _frame(F_RST, 0, sid, struct.pack(">I", 1))
                        )
                        continue
                    st["body"] += payload
                    if payload:
                        conn.sendall(_window_updates(sid, len(payload)))
                    if flags & FLAG_END_STREAM:
                        self._respond(conn, enc, windows, sid, streams.pop(sid))
        except (ConnectionError, ValueError, OSError):
            pass
        finally:
            conn.close()

    def _respond(
        self, conn, enc: HpackEncoder, windows: _SendWindows, sid: int, st: dict
    ) -> None:
        handler = self.handlers.get(st["path"])
        resp_headers = [(":status", "200"), ("content-type", "application/grpc")]
        out = bytearray(
            _frame(F_HEADERS, FLAG_END_HEADERS, sid, enc.encode(resp_headers))
        )
        if handler is None:
            status, msg = "12", "unimplemented"
        else:
            try:
                reply = handler(grpc_unwrap(bytes(st["body"])))
                status, msg = "0", ""
            except ValueError as e:
                status, msg = "13", str(e)
        if status == "0":
            # gRPC responses end on the trailers HEADERS, not the last
            # DATA frame, hence end_stream=False
            _pump_body(
                conn, sid, grpc_wrap(reply), windows, out, end_stream=False
            )
        trailers = [("grpc-status", status)]
        if msg:
            trailers.append(("grpc-message", msg))
        end = FLAG_END_HEADERS | FLAG_END_STREAM
        out += _frame(F_HEADERS, end, sid, enc.encode(trailers))
        conn.sendall(out)

