"""Network client-confirm transport (SURVEY.md §3.2; reference
src/stream/StreamNetwork.cpp + src/writer/WriterStream.cpp).

The reference streams serialized change messages to ONE client over a
length-prefixed TCP (or ZeroMQ) socket and advances its confirmed-(scn,idx)
watermark only when the client's CONFIRM request arrives
(WriterStream::processConfirm, WriterStream.cpp:185-195); on reconnect the
client drives the resume position through INFO/START
(WriterStream::processInfo/processStart/processContinue).

Spark-native mapping (this module):

* framing — 4-byte big-endian length prefix + payload, the StreamNetwork
  wire shape. Control frames are JSON ({"code": ...}); data frames carry the
  already-built message bytes (build_json_messages / build_protobuf_messages
  output) verbatim.
* scale-out — the reference's single socket serializes the whole stream
  through one fd. Here each PARTITION opens its own connection and streams
  its frames (``send_epoch`` → ``foreachPartition``), so the transport
  scales with the cluster; per-frame (epoch, partition, seq) headers give
  the consumer a total order per partition.
* confirm gate — the driver performs the epoch handshake on a control
  connection: BEGIN(epoch) → [partitions stream data] → END(epoch), then
  waits for the client's CONFIRM(epoch). Only a confirmed epoch advances
  the durable watermark (``confirmed_path``), which is the resume position
  the next run's INFO exchange reports — the exactly-once contract the
  snapshot gate provides for table sinks, restated for push transports.

ZeroMQ (StreamZeroMQ.cpp) is a framing variant of the same protocol:
``framing="zmtp"`` speaks ZMTP 3.0 PAIR (the wire protocol of the
reference's ``zmq_socket(context, ZMQ_PAIR)``) via the pure-Python
implementation in ``zmtp.py`` — same control/data payloads, ZMTP message
frames instead of 4-byte length prefixes.
"""

from __future__ import annotations

import json
import os
import socket
import struct
import threading

from openlogreplicator_spark.sinks.zmtp import ZmtpPair, _recv_exact


def send_frame(sock: socket.socket, payload: bytes) -> None:
    sock.sendall(struct.pack(">I", len(payload)) + payload)


def recv_frame(sock: socket.socket) -> bytes | None:
    head = _recv_exact(sock, 4)
    if head is None:
        return None
    (n,) = struct.unpack(">I", head)
    return _recv_exact(sock, n)


class _RawTransport:
    """4-byte-length-prefix framing over a plain TCP socket (the
    StreamNetwork wire shape)."""

    def __init__(self, sock: socket.socket):
        self.sock = sock

    def send(self, payload: bytes) -> None:
        send_frame(self.sock, payload)

    def recv(self) -> bytes | None:
        return recv_frame(self.sock)

    def close(self) -> None:
        self.sock.close()

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.close()


def open_transport(host: str, port: int, timeout: float, framing: str):
    """Connect one data/control channel: ``raw`` (length-prefixed TCP) or
    ``zmtp`` (ZMTP 3.0 PAIR handshake + frames)."""
    if framing == "zmtp":
        return ZmtpPair.connect(host, port, timeout)
    sock = socket.create_connection((host, port), timeout)
    sock.settimeout(timeout)
    return _RawTransport(sock)


def _control(chan, msg: dict) -> dict:
    chan.send(json.dumps(msg).encode())
    resp = chan.recv()
    if resp is None:
        raise ConnectionError("client closed during control exchange")
    return json.loads(resp)


class ConfirmWatermark:
    """The durable confirmed-epoch watermark both push sinks gate on: one
    integer in ``confirmed_path`` (-1 before any confirm; no path keeps no
    watermark), advanced by an atomic replace only after the peer confirmed
    the epoch."""

    confirmed_path: str | None

    def last_confirmed_epoch(self) -> int:
        if self.confirmed_path and os.path.exists(self.confirmed_path):
            with open(self.confirmed_path) as f:
                return int(f.read().strip())
        return -1

    def _advance_watermark(self, epoch_id: int) -> None:
        if not self.confirmed_path:
            return
        tmp = self.confirmed_path + ".tmp"
        with open(tmp, "w") as f:
            f.write(str(int(epoch_id)))
        os.replace(tmp, self.confirmed_path)

    def _already_confirmed(self, epoch_id: int) -> bool:
        """True for the re-delivery of a confirmed epoch (a no-op send).
        Sequential-epoch contract: a max-epoch watermark cannot represent a
        hole, so jumping past an epoch that was never confirmed raises
        instead of silently marking it confirmed forever (a fresh sink
        accepts any starting epoch)."""
        last = self.last_confirmed_epoch()
        if epoch_id <= last:
            return True
        if last >= 0 and epoch_id > last + 1:
            raise ValueError(
                f"non-sequential epoch {epoch_id} (last confirmed {last}): "
                f"epoch {last + 1} was never confirmed and would be lost"
            )
        return False


class NetworkConfirmSink(ConfirmWatermark):
    """Push change messages to a confirming TCP client, exactly-once by
    confirmed-epoch watermark.

    The consumer is a server socket speaking the frame protocol above; the
    test suite ships a reference consumer (tests/test_network_sink.py).
    """

    def __init__(self, host: str, port: int, database: str = "db",
                 confirmed_path: str | None = None, timeout: float = 30.0,
                 framing: str = "raw"):
        if framing not in ("raw", "zmtp"):
            raise ValueError(f"unknown framing {framing!r}")
        self.host = host
        self.port = port
        self.database = database
        self.confirmed_path = confirmed_path
        self.timeout = timeout
        self.framing = framing

    # ------------------------------------------------------------- protocol
    def handshake_info(self) -> dict:
        """INFO exchange: report our durable watermark, learn the client's
        confirmed position (reference processInfo — the client can be ahead
        of us after a crash between its confirm and our watermark write)."""
        with open_transport(self.host, self.port, self.timeout,
                            self.framing) as chan:
            return _control(chan, {
                "code": "INFO", "database": self.database,
                "confirmed_epoch": self.last_confirmed_epoch(),
            })

    def send_epoch(self, messages, epoch_id: int) -> bool:
        """Stream one epoch of built messages, then wait for the client's
        CONFIRM. ``messages``: DataFrame with a ``message`` column (string or
        binary). Returns True when the epoch was confirmed (watermark
        advanced); an already-confirmed epoch is skipped idempotently."""
        epoch_id = int(epoch_id)
        if self._already_confirmed(epoch_id):
            return True
        host, port, timeout, framing = (
            self.host, self.port, self.timeout, self.framing
        )

        def _send_partition(rows) -> None:
            # partition id rides in every header: a Spark task RETRY re-streams
            # the same partition on a fresh connection, and the consumer must
            # be able to collapse the two deliveries (commit-on-PARTITION_END,
            # last complete delivery of (epoch, part) wins) — without the id,
            # retried frames are indistinguishable from another partition's
            # and the epoch double-counts, breaking exactly-once
            from pyspark import TaskContext

            ctx = TaskContext.get()
            part = int(ctx.partitionId()) if ctx is not None else 0
            chan = open_transport(host, port, timeout, framing)
            try:
                seq = 0
                for row in rows:
                    m = row["message"]
                    if m is None:
                        continue
                    if isinstance(m, str):
                        m = m.encode()
                    head = json.dumps(
                        {"code": "REDO", "epoch": epoch_id,
                         "part": part, "seq": seq}
                    ).encode()
                    chan.send(head)
                    chan.send(bytes(m))
                    seq += 1
                chan.send(json.dumps(
                    {"code": "PARTITION_END", "epoch": epoch_id,
                     "part": part, "n": seq}
                ).encode())
            finally:
                chan.close()

        with open_transport(host, port, timeout, framing) as ctl:
            begin = _control(ctl, {
                "code": "BEGIN", "database": self.database, "epoch": epoch_id,
            })
            if begin.get("code") != "READY":
                raise ConnectionError(f"client refused epoch: {begin}")
            messages.select("message").foreachPartition(_send_partition)
            end = _control(ctl, {"code": "END", "epoch": epoch_id})
            confirmed = (
                end.get("code") == "CONFIRM" and int(end.get("epoch", -1)) == epoch_id
            )
        if confirmed:
            self._advance_watermark(epoch_id)
        return confirmed


class ReferenceConsumer:
    """Reference consumer: accepts control + data connections, buffers REDO
    frames per (epoch, partition) and COMMITS the buffer at PARTITION_END —
    the last complete delivery of a partition wins, which is what makes a
    Spark task retry (same partition re-streamed on a new connection)
    idempotent. Confirms an epoch at END (optionally refuses).
    ``framing="zmtp"`` performs the server side of the ZMTP 3.0 PAIR
    handshake on every accepted connection. Lives in the package (not
    the tests) as THE reference consumer spelling — the pytest transport
    suite and the engine_network_replay value gate must exercise the
    same consumer semantics (last complete partition delivery wins,
    confirm at END)."""

    def __init__(self, confirm: bool = True, framing: str = "raw"):
        self.confirm = confirm
        self.framing = framing
        self.redo: dict[int, dict[int, list[bytes]]] = {}
        self.infos: list[dict] = []
        self.lock = threading.Lock()
        self.srv = socket.create_server(("127.0.0.1", 0))
        self.port = self.srv.getsockname()[1]
        self._stop = False
        self.thread = threading.Thread(target=self._accept_loop, daemon=True)
        self.thread.start()

    def _accept_loop(self):
        while not self._stop:
            try:
                conn, _ = self.srv.accept()
            except OSError:
                return
            threading.Thread(
                target=self._serve, args=(conn,), daemon=True
            ).start()

    def _serve(self, conn: socket.socket):
        with conn:
            if self.framing == "zmtp":
                try:
                    chan = ZmtpPair(conn, as_server=True)
                except ConnectionError:
                    return
            else:
                chan = _RawTransport(conn)
            pending: dict[tuple, list[bytes]] = {}
            while True:
                try:
                    frame = chan.recv()
                except ConnectionError:
                    return
                if frame is None:
                    return
                msg = json.loads(frame)
                code = msg["code"]
                if code == "INFO":
                    self.infos.append(msg)
                    chan.send(json.dumps(
                        {"code": "INFO_OK", "client_confirmed": -1}
                    ).encode())
                elif code == "BEGIN":
                    chan.send(json.dumps({"code": "READY"}).encode())
                elif code == "REDO":
                    payload = chan.recv()
                    pending.setdefault(
                        (msg["epoch"], msg.get("part", 0)), []
                    ).append(payload)
                elif code == "PARTITION_END":
                    key = (msg["epoch"], msg.get("part", 0))
                    with self.lock:
                        self.redo.setdefault(key[0], {})[key[1]] = (
                            pending.pop(key, [])
                        )
                elif code == "END":
                    code_out = "CONFIRM" if self.confirm else "REFUSED"
                    chan.send(json.dumps(
                        {"code": code_out, "epoch": msg["epoch"]}
                    ).encode())

    def close(self):
        self._stop = True
        self.srv.close()
