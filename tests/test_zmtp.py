"""ZMTP 3.0 PAIR wire format (reference StreamZeroMQ.cpp re-expressed as a
pure-Python ZMTP peer): greeting layout, NULL-mechanism READY handshake,
short/long/multi-part frames, and handshake failure modes."""

import socket
import struct
import threading

import pytest

from openlogreplicator_spark.sinks.zmtp import (
    FLAG_COMMAND,
    FLAG_MORE,
    ZmtpError,
    ZmtpPair,
    _greeting,
    encode_frame,
    encode_ready,
    parse_command,
)


def _pair(client_kw=None, server_kw=None):
    """Handshake two ZmtpPair peers over a socketpair; returns (client,
    server) or raises the first side's error."""
    a, b = socket.socketpair()
    result = {}

    def serve():
        try:
            result["server"] = ZmtpPair(b, as_server=True, **(server_kw or {}))
        except Exception as e:  # noqa: BLE001 - surfaced by the main thread
            result["server_err"] = e

    t = threading.Thread(target=serve)
    t.start()
    try:
        client = ZmtpPair(a, **(client_kw or {}))
    finally:
        t.join()
    if "server_err" in result:
        raise result["server_err"]
    return client, result["server"]


def test_greeting_layout():
    g = _greeting(as_server=True)
    assert len(g) == 64
    assert g[0] == 0xFF and g[9] == 0x7F          # signature
    assert g[10] == 3 and g[11] == 0              # version 3.0
    assert g[12:32].rstrip(b"\x00") == b"NULL"    # mechanism field
    assert g[32] == 1                              # as-server octet
    assert g[33:] == b"\x00" * 31


def test_ready_round_trip():
    body = encode_ready(b"PAIR", Identity=b"w1")
    name, meta = parse_command(body)
    assert name == "READY"
    assert meta == {"Socket-Type": b"PAIR", "Identity": b"w1"}


def test_frame_encoding_short_and_long():
    short = encode_frame(b"x" * 255)
    assert short[0] == 0 and short[1] == 255
    long_ = encode_frame(b"x" * 256)
    assert long_[0] & 0x02
    assert struct.unpack(">Q", long_[1:9])[0] == 256


def test_handshake_and_messages_both_directions():
    client, server = _pair()
    client.send(b"hello")
    server.send(b"x" * 100_000)  # long frame
    assert server.recv() == b"hello"
    assert client.recv() == b"x" * 100_000
    assert server.peer_metadata["Socket-Type"] == b"PAIR"
    client.close()
    assert server.recv() is None  # orderly close between messages
    server.close()


def test_multipart_reassembly_and_command_skip():
    client, server = _pair()
    # hand-rolled multi-part message with an interleaved benign command —
    # recv() must concatenate the MORE parts and skip the command
    raw = (
        encode_frame(b"\x04PING", FLAG_COMMAND)
        + encode_frame(b"ab", FLAG_MORE)
        + encode_frame(b"cd", FLAG_MORE)
        + encode_frame(b"ef")
    )
    client.sock.sendall(raw)
    assert server.recv() == b"abcdef"
    client.close(), server.close()


def test_socket_type_mismatch_rejected():
    with pytest.raises(ZmtpError, match="[Ss]ocket-[Tt]ype|mismatch"):
        _pair(client_kw={"socket_type": b"PUSH"})


def test_bad_signature_rejected():
    a, b = socket.socketpair()
    # joined before the sockets close: ZmtpPair sends its greeting first,
    # so the peer's recv returns
    peer = threading.Thread(
        target=lambda: (a.sendall(b"\x00" * 64), a.recv(64)), daemon=True
    )
    peer.start()
    with pytest.raises(ZmtpError, match="signature"):
        ZmtpPair(b)
    peer.join()
    a.close(), b.close()


def test_old_version_rejected():
    a, b = socket.socketpair()

    def peer():
        g = bytearray(_greeting(False))
        g[10] = 2  # ZMTP 2.x
        a.sendall(bytes(g))
        a.recv(4096)

    t = threading.Thread(target=peer, daemon=True)
    t.start()
    with pytest.raises(ZmtpError, match="version"):
        ZmtpPair(b)
    t.join()
    a.close(), b.close()
