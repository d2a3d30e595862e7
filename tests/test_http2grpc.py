"""gRPC over raw-socket HTTP/2 (sources/http2grpc.py): the wire
protocol implemented from RFC 7540/7541 + the gRPC framing spec, with
no grpcio anywhere. These tests pin HPACK both ways, both ends' wire
bytes, the frame layer's flow control on >64 KB bodies against strict
peers on either side, error trailers, the hash-skip call's latency,
and the REAL reference poll loop (FeedPoller) crossing an actual TCP
connection."""

from __future__ import annotations

import socket
import statistics
import struct
import threading
import time

import pytest

from hephaestus_spark.sources.http2grpc import (
    FLAG_ACK,
    FLAG_END_HEADERS,
    FLAG_END_STREAM,
    F_DATA,
    F_HEADERS,
    F_SETTINGS,
    F_WINDOW,
    INITIAL_WINDOW,
    PREFACE,
    HpackDecoder,
    HpackEncoder,
    Http2GrpcClient,
    Http2GrpcServer,
    _frame,
    _int_decode,
    _int_encode,
    _read_frame,
    _recv_exact,
    grpc_unwrap,
    grpc_wrap,
)
from hephaestus_spark.sources.grpc_source import (
    InProcessTransport,
    SocketGrpcTransport,
    serve_transport,
)
from hephaestus_spark.sources import protodecode as pc


def test_hpack_integer_prefix_coding():
    for value in [0, 1, 30, 31, 126, 127, 128, 300, 16_383, 2_000_000]:
        for prefix in (4, 5, 6, 7):
            enc = _int_encode(value, prefix, 0)
            got, pos = _int_decode(enc, 0, prefix)
            assert (got, pos) == (value, len(enc)), (value, prefix)


def test_hpack_round_trip_request_headers():
    headers = [
        (":method", "POST"),
        (":scheme", "http"),
        (":path", "/olympus.ScraperService/GetEmployees"),
        (":authority", "127.0.0.1:50051"),
        ("content-type", "application/grpc"),
        ("te", "trailers"),
        ("x-custom-header", "some value"),
    ]
    block = HpackEncoder().encode(headers)
    assert HpackDecoder().decode(block) == headers
    # exact static matches compress to ONE byte (indexed representation)
    assert len(HpackEncoder().encode([(":method", "POST")])) == 1


def test_hpack_decoder_handles_incremental_indexing():
    """Our encoder never uses the dynamic table, but a conforming peer
    may: literal-with-incremental-indexing (0x40) must be stored and
    then resolvable by dynamic index."""
    name, value = b"x-tok", b"abc"
    block = (
        bytes([0x40, len(name)]) + name + bytes([len(value)]) + value
        + bytes([0x80 | 62])  # dynamic table slot 1 = static size + 1
    )
    dec = HpackDecoder()
    assert dec.decode(block) == [("x-tok", "abc"), ("x-tok", "abc")]


def test_hpack_decoder_accepts_huffman_coded_strings():
    """r8 (VERDICT r7 item 2): real gRPC peers Huffman-code response
    header strings by default; the decoder now decodes them. Build a
    literal-header block with H bit set on both name and value."""
    from hephaestus_spark.sources.hpack_huffman import huffman_encode

    def hstr(s: str) -> bytes:
        b = huffman_encode(s.encode())
        from hephaestus_spark.sources.http2grpc import _int_encode

        return _int_encode(len(b), 7, 0x80) + b

    block = bytes([0x00]) + hstr("grpc-status") + hstr("0")
    assert HpackDecoder().decode(block) == [("grpc-status", "0")]


def test_huffman_table_is_the_rfc_7541_code():
    """Three independent pins on the Appendix B table: Kraft equality
    (complete prefix code), canonical reconstruction from lengths alone
    (the RFC assigns codes canonically over (length, symbol)), and the
    RFC 7541 Appendix C example vectors byte-for-byte."""
    from hephaestus_spark.sources.hpack_huffman import (
        HUFFMAN_TABLE,
        huffman_decode,
        huffman_encode,
    )

    assert len(HUFFMAN_TABLE) == 257
    assert sum(1 << (30 - ln) for _, ln in HUFFMAN_TABLE) == 1 << 30
    lengths = [ln for _, ln in HUFFMAN_TABLE]
    code, prev = 0, None
    for s in sorted(range(257), key=lambda s: (lengths[s], s)):
        if prev is not None:
            code = (code + 1) << (lengths[s] - prev)
        prev = lengths[s]
        assert HUFFMAN_TABLE[s][0] == code, s

    vectors = [
        ("www.example.com", "f1e3c2e5f23a6ba0ab90f4ff"),
        ("no-cache", "a8eb10649cbf"),
        ("custom-key", "25a849e95ba97d7f"),
        ("custom-value", "25a849e95bb8e8b4bf"),
        ("302", "6402"),
        ("private", "aec3771a4b"),
        ("Mon, 21 Oct 2013 20:13:21 GMT",
         "d07abe941054d444a8200595040b8166e082a62d1bff"),
        ("https://www.example.com", "9d29ad171863c78f0b97c8e9ae82ae43d3"),
        ("307", "640eff"),
        ("gzip", "9bd9ab"),
        ("foo=ASDJKHQKBZXOQWEOPIUAXQWEOIU; max-age=3600; version=1",
         "94e7821dd7f2e6c7b335dfdfcd5b3960d5af27087f3672c1ab270fb5291f9587"
         "316065c003ed4ee5b1063d5007"),
    ]
    for text, hx in vectors:
        assert huffman_encode(text.encode()).hex() == hx, text
        assert huffman_decode(bytes.fromhex(hx)).decode() == text


def test_huffman_padding_rules_enforced():
    from hephaestus_spark.sources.hpack_huffman import huffman_decode

    # padding must be the EOS prefix (all ones)
    with pytest.raises(ValueError, match="padding"):
        huffman_decode(bytes.fromhex("f1e3c2e5f23a6ba0ab90f400"))
    # more than 7 bits of padding is an error even if all ones
    with pytest.raises(ValueError):
        huffman_decode(bytes([0xFF, 0xFF, 0xFF, 0xFF]))
    # EOS never appears in well-formed input (30 one-bits + pad)
    with pytest.raises(ValueError):
        huffman_decode(bytes([0xFF, 0xFF, 0xFF, 0xFF, 0xFF]))


def test_grpc_framing_round_trip():
    for msg in (b"", b"x", b"payload" * 1000):
        assert grpc_unwrap(grpc_wrap(msg)) == msg
    with pytest.raises(ValueError, match="compressed"):
        grpc_unwrap(b"\x01\x00\x00\x00\x01x")
    with pytest.raises(ValueError, match="mismatch"):
        grpc_unwrap(b"\x00\x00\x00\x00\x05abc")


@pytest.fixture()
def socket_pair():
    upstream = InProcessTransport(
        employee_payloads=[
            pc.encode_message(
                {"id": i, "fullname": f"Emp {i}", "shortname": f"e{i}",
                 "position": "eng", "email": f"e{i}@x.com", "phone": "123"},
                pc.EMPLOYEE_FIELDS,
            )
            for i in range(5)
        ],
        task_payloads_by_date={
            "2024-03-01": [
                pc.encode_message(
                    {"id": 7, "type": "repair", "description": "d",
                     "executors": [1, 2], "is_closed": False},
                    pc.TASK_FIELDS,
                )
            ]
        },
        task_types=["repair", "install"],
    )
    server = serve_transport(upstream)
    transport = SocketGrpcTransport("127.0.0.1", server.port)
    yield upstream, transport
    transport.close()
    server.stop()


def test_unary_calls_over_real_socket(socket_pair):
    upstream, transport = socket_pair
    # employees: full feed, then hash short-circuit ON THE WIRE
    r1 = transport.get_employees(None)
    assert len(r1.payloads) == 5 and r1.new_hash
    assert pc.decode_message(r1.payloads[0], pc.EMPLOYEE_FIELDS)["fullname"] == "Emp 0"
    r2 = transport.get_employees(r1.new_hash)
    assert r2.payloads == [] and r2.new_hash == r1.new_hash
    # tasks by date + types
    t = transport.get_daily_tasks(None, "2024-03-01")
    assert len(t.payloads) == 1
    assert pc.decode_message(t.payloads[0], pc.TASK_FIELDS)["type"] == "repair"
    assert transport.get_daily_tasks(None, "2099-01-01").payloads == []
    assert transport.get_task_types() == ["repair", "install"]


def test_large_body_streams_through_flow_control(socket_pair):
    """A feed bigger than the 65535-byte initial window AND the 16 KB
    frame size: multi-frame DATA + WINDOW_UPDATE replenishment both
    directions."""
    upstream, transport = socket_pair
    big = [b"\x12" + bytes([200]) + bytes(200) for _ in range(900)]  # ~180 KB
    upstream.employee_payloads = big
    r = transport.get_employees(None)
    assert len(r.payloads) == 900
    assert all(p == big[0] for p in r.payloads)


def test_unknown_method_surfaces_grpc_status(socket_pair):
    _, transport = socket_pair
    with pytest.raises(ConnectionError, match="grpc-status 12"):
        transport._client.call("/olympus.ScraperService/NoSuchMethod", b"")


def test_feed_poller_end_to_end_over_socket(spark, tmp_path, socket_pair):
    """The reference poll loop (A1) across a real TCP connection:
    retry-wrapped RPC -> wire decode -> parquet feed file, second poll
    hash-skips without landing a file."""
    import datetime

    from hephaestus_spark.sources.grpc_source import FeedPoller

    _, transport = socket_pair
    poller = FeedPoller(
        transport=transport, employee_feed_dir=str(tmp_path / "feed")
    )
    n = poller.poll_employees_once(spark, feed_date=datetime.date(2024, 3, 1))
    assert n == 5
    df = spark.read.parquet(str(tmp_path / "feed"))
    assert df.count() == 5
    assert {r["fullname"] for r in df.collect()} == {f"Emp {i}" for i in range(5)}
    assert poller.poll_employees_once(spark, feed_date=datetime.date(2024, 3, 2)) == 0
    assert df.count() == 5  # no second file landed


# --------------------------------------------------------------------------
# property fuzz: HPACK + prefix integers under hypothesis
# --------------------------------------------------------------------------
from hypothesis import given, settings, strategies as st

_header_name = st.one_of(
    st.sampled_from([n for n, _ in __import__(
        "hephaestus_spark.sources.http2grpc", fromlist=["HPACK_STATIC"]
    ).HPACK_STATIC]),
    st.text(
        alphabet="abcdefghijklmnopqrstuvwxyz0123456789-", min_size=1, max_size=24
    ),
)
_header_value = st.text(
    alphabet=st.characters(min_codepoint=0x20, max_codepoint=0x7E),
    max_size=64,
)


@given(headers=st.lists(st.tuples(_header_name, _header_value), max_size=12))
@settings(max_examples=300, deadline=None)
def test_hpack_encode_decode_round_trips_any_headers(headers):
    block = HpackEncoder().encode(headers)
    assert HpackDecoder().decode(block) == headers


@given(value=st.integers(min_value=0, max_value=2**40), prefix=st.integers(4, 8))
@settings(max_examples=500, deadline=None)
def test_prefix_integer_round_trips(value, prefix):
    enc = _int_encode(value, prefix, 0)
    got, pos = _int_decode(enc, 0, prefix)
    assert (got, pos) == (value, len(enc))


def test_hpack_dynamic_table_evicts_like_a_conforming_peer():
    """RFC 7541 section 4 size accounting (review fix): with a 4096-byte
    table, inserting entries past the limit evicts the OLDEST, exactly
    mirroring a conforming encoder's index arithmetic."""
    dec = HpackDecoder()
    # each entry: name 4 + value 60 + 32 overhead = 96 bytes
    def ins(i):
        name = f"h{i:03d}".encode()
        val = bytes([0x61 + i % 26]) * 60
        return bytes([0x40, len(name)]) + name + bytes([len(val)]) + val

    n = 60  # 60 * 96 = 5760 > 4096 -> must evict
    block = b"".join(ins(i) for i in range(n))
    dec.decode(block)
    assert dec.size <= dec.max_size
    assert len(dec.dynamic) == 4096 // 96
    # newest entry is dynamic index static+1; oldest inserted are gone
    assert dec._lookup(62) == (f"h{n-1:03d}", chr(0x61 + (n - 1) % 26) * 60)
    with pytest.raises(ValueError, match="out of range"):
        dec._lookup(62 + len(dec.dynamic))
    # size update shrinks the table and future lookups shift accordingly
    dec.decode(bytes([0x20 | 0x1F, 96 - 31 if 96 >= 31 else 0]))  # max=96+... 
    # (prefix-5 integer: 0x3F then continuation 65 -> 31+65=96)
    assert dec.max_size == 96 and len(dec.dynamic) == 1


def test_hpack_oversized_entry_empties_table():
    dec = HpackDecoder()
    name, val = b"x", b"y" * 30
    dec.decode(bytes([0x40, len(name)]) + name + bytes([len(val)]) + val)
    assert len(dec.dynamic) == 1
    big = b"z" * 120
    dec.max_size = 100
    dec._evict_to(dec.max_size)
    dec.decode(bytes([0x40, 1]) + b"b" + bytes([len(big)]) + big)
    assert dec.dynamic == [] and dec.size == 0  # section 4.4


def test_sender_respects_a_strict_window_peer():
    """A raw strict-accounting server: it verifies every DATA frame
    fits its advertised connection AND stream windows (a conforming
    peer treats an overrun as FLOW_CONTROL_ERROR), and it replenishes
    LAZILY — only once the client has fully exhausted the window — so
    a 200 KB request forces the client to block on WINDOW_UPDATEs at
    least twice. A sender that ignores the windows fails this peer on
    the fourth frame; one that blocks without writing the frames it
    buffered starves it, and the socket timeouts turn that deadlock into
    a failure."""
    lsock = socket.socket()
    lsock.bind(("127.0.0.1", 0))
    lsock.listen(1)
    port = lsock.getsockname()[1]
    violations: list = []
    starved = [0]

    def strict_server():
        conn, _ = lsock.accept()
        conn.settimeout(10)
        try:
            assert _recv_exact(conn, len(PREFACE)) == PREFACE
            conn.sendall(_frame(F_SETTINGS, 0, 0, b""))
            cw = sw = INITIAL_WINDOW
            body = bytearray()
            sid = None
            while True:
                ftype, flags, stream_id, payload = _read_frame(conn)
                if ftype == F_SETTINGS and not flags & FLAG_ACK:
                    conn.sendall(_frame(F_SETTINGS, FLAG_ACK, 0, b""))
                elif ftype == F_HEADERS:
                    sid = stream_id
                elif ftype == F_DATA:
                    if len(payload) > cw or len(payload) > sw:
                        violations.append((len(payload), cw, sw))
                    cw -= len(payload)
                    sw -= len(payload)
                    body += payload
                    if flags & FLAG_END_STREAM:
                        break
                    if cw <= 0 or sw <= 0:  # replenish only when dry
                        starved[0] += 1
                        inc = struct.pack(">I", INITIAL_WINDOW)
                        conn.sendall(_frame(F_WINDOW, 0, 0, inc))
                        conn.sendall(_frame(F_WINDOW, 0, stream_id, inc))
                        cw = sw = INITIAL_WINDOW
            # minimal unary gRPC response: echo the byte count back
            enc = HpackEncoder()
            conn.sendall(
                _frame(
                    F_HEADERS,
                    FLAG_END_HEADERS,
                    sid,
                    enc.encode(
                        [(":status", "200"), ("content-type", "application/grpc")]
                    ),
                )
            )
            reply = grpc_wrap(str(len(body)).encode())
            conn.sendall(_frame(F_DATA, 0, sid, reply))
            conn.sendall(
                _frame(
                    F_HEADERS,
                    FLAG_END_HEADERS | FLAG_END_STREAM,
                    sid,
                    enc.encode([("grpc-status", "0")]),
                )
            )
        finally:
            conn.close()

    th = threading.Thread(target=strict_server, daemon=True)
    th.start()
    client = Http2GrpcClient("127.0.0.1", port)
    client._sock.settimeout(10)
    try:
        request = bytes(200_000)
        reply = client.call("/x/Echo", request)
        assert int(reply) == len(grpc_wrap(request))
        assert not violations, violations[:3]
        assert starved[0] >= 2  # the client genuinely blocked and resumed
    finally:
        client.close()
        lsock.close()


# --------------------------------------------------------------------------
# golden wire bytes: every frame both ends write, pinned octet for octet
# --------------------------------------------------------------------------

# Http2GrpcClient(authority="golden").call("/x/Echo", b"abc"), one frame a
# line, everything after the connection preface up to the GOAWAY of close().
_GOLDEN_REQUEST = bytes.fromhex(
    # HEADERS (END_HEADERS): POST http /x/Echo golden application/grpc te
    "00002a010400000001"
    "8386048663cb180939ff018598f4485abf0f108b1d75d0620d263d4c4d6564"
    "00027465864d833505b11f"
    # DATA (END_STREAM): grpc_wrap(b"abc")
    "0000080001000000010000000003616263"
)
_GOLDEN_CLIENT = (
    bytes.fromhex(
        "000000040000000000"  # SETTINGS
        "000000040100000000"  # SETTINGS ACK
    )
    + _GOLDEN_REQUEST
    + bytes.fromhex(
        "00000408000000000000000008"  # WINDOW_UPDATE connection +8
        "00000408000000000100000008"  # WINDOW_UPDATE stream 1 +8
        "0000080700000000000000000000000000"  # GOAWAY NO_ERROR
    )
)
# Http2GrpcServer's bytes for preface + SETTINGS + _GOLDEN_REQUEST with a
# handler that reverses its input, up to the trailers.
_GOLDEN_SERVER = bytes.fromhex(
    "000000040000000000"  # SETTINGS
    "000000040100000000"  # SETTINGS ACK
    "00000408000000000000000008"  # WINDOW_UPDATE connection +8
    "00000408000000000100000008"  # WINDOW_UPDATE stream 1 +8
    # HEADERS (END_HEADERS): :status 200, content-type application/grpc
    "00000f010400000001880f108b1d75d0620d263d4c4d6564"
    # DATA: grpc_wrap(b"cba")
    "0000080000000000010000000003636261"
    # HEADERS (END_HEADERS | END_STREAM): grpc-status 0
    "00000c01050000000100889acac8b21234da8f0130"
)


class _Tap:
    """Socket stand-in for ``_read_frame`` that keeps every octet read."""

    def __init__(self, sock):
        self.sock, self.seen = sock, bytearray()

    def recv(self, n: int) -> bytes:
        chunk = self.sock.recv(n)
        self.seen += chunk
        return chunk


def test_client_wire_bytes_are_golden():
    """The HPACK encoder uses the static table only, so the client's
    frames are a pure function of the call: pinning them shows that
    how the client groups its writes never changes what it writes."""
    lsock = socket.socket()
    lsock.bind(("127.0.0.1", 0))
    lsock.listen(1)
    seen: list = []

    def recording_server():
        conn, _ = lsock.accept()
        conn.settimeout(10)
        tap = _Tap(conn)
        try:
            assert _recv_exact(conn, len(PREFACE)) == PREFACE
            conn.sendall(_frame(F_SETTINGS, 0, 0, b""))
            while True:
                try:
                    ftype, flags, sid, _ = _read_frame(tap)
                except ConnectionError:  # the client closed
                    break
                if ftype == F_SETTINGS and not flags & FLAG_ACK:
                    conn.sendall(_frame(F_SETTINGS, FLAG_ACK, 0, b""))
                if ftype == F_DATA and flags & FLAG_END_STREAM:
                    enc = HpackEncoder()
                    conn.sendall(
                        _frame(
                            F_HEADERS,
                            FLAG_END_HEADERS,
                            sid,
                            enc.encode(
                                [(":status", "200"),
                                 ("content-type", "application/grpc")]
                            ),
                        )
                        + _frame(F_DATA, 0, sid, grpc_wrap(b"cba"))
                        + _frame(
                            F_HEADERS,
                            FLAG_END_HEADERS | FLAG_END_STREAM,
                            sid,
                            enc.encode([("grpc-status", "0")]),
                        )
                    )
            seen.append(bytes(tap.seen))
        finally:
            conn.close()

    th = threading.Thread(target=recording_server, daemon=True)
    th.start()
    try:
        client = Http2GrpcClient(
            "127.0.0.1", lsock.getsockname()[1], authority="golden"
        )
        assert client.call("/x/Echo", b"abc") == b"cba"
        client.close()
        th.join(timeout=10)
    finally:
        lsock.close()
    assert seen == [_GOLDEN_CLIENT]


def test_server_wire_bytes_are_golden():
    server = Http2GrpcServer({"/x/Echo": lambda req: req[::-1]}).start()
    sock = socket.create_connection(("127.0.0.1", server.port), timeout=10)
    tap = _Tap(sock)
    try:
        sock.sendall(PREFACE + _frame(F_SETTINGS, 0, 0, b"") + _GOLDEN_REQUEST)
        while True:
            ftype, flags, _, _ = _read_frame(tap)
            if ftype == F_HEADERS and flags & FLAG_END_STREAM:
                break
    finally:
        sock.close()
        server.stop()
    assert bytes(tap.seen) == _GOLDEN_SERVER


def test_hash_skip_rpc_is_off_the_delayed_ack_floor(socket_pair):
    """Both ends set TCP_NODELAY and write each frame group at once. An
    end that writes two small frames back to back with Nagle's algorithm
    on holds the second until the peer's delayed ACK (~40 ms on Linux):
    such a transport reads ~88 ms per hash-skip call, this one a few
    ms. The bound is half of one delayed ACK."""
    upstream, transport = socket_pair
    sock = transport._client._sock
    assert sock.getsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY)
    known = transport.get_employees(None).new_hash
    elapsed = []
    for _ in range(20):
        t0 = time.perf_counter()
        assert transport.get_employees(known).payloads == []
        elapsed.append(time.perf_counter() - t0)
    assert statistics.median(elapsed) < 0.020, elapsed


def test_server_sender_respects_a_strict_window_client():
    """The mirror of the strict-window server below: a raw client that
    checks every reply DATA frame against its connection and stream
    windows and replenishes only when one is dry. A server that buffered
    its frames and then blocked for a WINDOW_UPDATE without writing them
    would starve this client; the socket timeout turns that deadlock
    into a failure."""
    from hephaestus_spark.sources.grpc_source import (
        EMPLOYEES_REQUEST_FIELDS,
        FEED_RESPONSE_FIELDS,
        METHOD_EMPLOYEES,
    )

    upstream = InProcessTransport(
        employee_payloads=[bytes([i % 251]) * 250 for i in range(1000)]
    )
    server = serve_transport(upstream)
    sock = socket.create_connection(("127.0.0.1", server.port), timeout=10)
    headers = HpackEncoder().encode(
        [(":method", "POST"), (":scheme", "http"), (":path", METHOD_EMPLOYEES),
         (":authority", "strict"), ("content-type", "application/grpc"),
         ("te", "trailers")]
    )
    request = pc.encode_message({"known_hash": ""}, EMPLOYEES_REQUEST_FIELDS)
    violations: list = []
    starved = 0
    body = bytearray()
    trailers = None
    try:
        sock.sendall(
            PREFACE
            + _frame(F_SETTINGS, 0, 0, b"")
            + _frame(F_HEADERS, FLAG_END_HEADERS, 1, headers)
            + _frame(F_DATA, FLAG_END_STREAM, 1, grpc_wrap(request))
        )
        dec = HpackDecoder()
        cw = sw = INITIAL_WINDOW
        while trailers is None:
            ftype, flags, sid, payload = _read_frame(sock)
            if ftype == F_SETTINGS and not flags & FLAG_ACK:
                sock.sendall(_frame(F_SETTINGS, FLAG_ACK, 0, b""))
            elif ftype == F_HEADERS:
                headers_seen = dict(dec.decode(payload))
                if flags & FLAG_END_STREAM:
                    trailers = headers_seen
            elif ftype == F_DATA:
                if len(payload) > cw or len(payload) > sw:
                    violations.append((len(payload), cw, sw))
                cw -= len(payload)
                sw -= len(payload)
                body += payload
                if cw <= 0 or sw <= 0:  # replenish only when dry
                    starved += 1
                    inc = struct.pack(">I", INITIAL_WINDOW)
                    sock.sendall(
                        _frame(F_WINDOW, 0, 0, inc)
                        + _frame(F_WINDOW, 0, sid, inc)
                    )
                    cw = sw = INITIAL_WINDOW
    finally:
        sock.close()
        server.stop()
    assert trailers == {"grpc-status": "0"}
    assert not violations, violations[:3]
    assert len(body) >= 200_000 and starved >= 3
    reply = pc.decode_message(grpc_unwrap(bytes(body)), FEED_RESPONSE_FIELDS)
    assert reply["payloads"] == upstream.employee_payloads
