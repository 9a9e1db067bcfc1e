"""Kafka delivery-confirm transport, from the wire up (SURVEY.md §3.2;
reference src/writer/WriterKafka.cpp).

The reference produces each built change message to a Kafka topic and
advances its confirmed watermark ONLY from the async delivery report:
``dr_msg_cb`` → ``writer->confirmMessage(msg)`` on success, a warning (and
no confirm — the message is re-sent after restart) on failure
(WriterKafka.cpp:97-125).  librdkafka is not available in this
environment, so — exactly as ``zmtp.py`` hand-implements ZMTP 3.0 from RFC
23 — this module implements the minimal slice of the PUBLIC Apache Kafka
wire protocol (https://kafka.apache.org/protocol) needed to prove the same
confirm-gate semantics against a real protocol peer:

* ``ApiVersions`` (api_key 18, v0) — the bootstrap handshake;
* ``Metadata``   (api_key 3,  v0) — topic/partition discovery;
* ``Produce``    (api_key 0,  v0, acks=1) — v0 MessageSet framing
  (offset + size + CRC32-checked message, magic 0), the broker ack being
  the delivery report that drives the confirm.

Spark-native mapping (mirrors ``network.NetworkConfirmSink``):

* each Spark PARTITION opens its own producer connection and produces its
  messages to topic-partition ``spark_partition % n_partitions`` — the
  transport scales with the cluster instead of serializing through one
  producer handle;
* per-partition delivery accounting rides back through ``mapInPandas``
  (one (partition, n_sent, n_acked) row per task — bounded collect);
* an epoch is CONFIRMED — durable watermark advanced — only when every
  message of every partition was acked (the all-messages-confirmed
  analogue of the reference's per-message confirmMessage watermark);
  an unconfirmed epoch is re-produced on the next run, and the consumer
  side dedupes by content (Kafka is at-least-once from the producer; the
  reference relies on the identical contract).

``KafkaBrokerStub`` is the in-process protocol peer (the test/catalog
consumer): it speaks the three APIs above, appends values per
(topic, partition) with monotone offsets, and can refuse the first N
produce requests to exercise the not-confirmed path.
"""

from __future__ import annotations

import socket
import struct
import threading
import zlib

from .network import ConfirmWatermark
from .zmtp import _recv_exact

API_PRODUCE = 0
API_METADATA = 3
API_API_VERSIONS = 18

ERR_NONE = 0
ERR_REQUEST_TIMED_OUT = 7
ERR_UNKNOWN_TOPIC = 3


# ---------------------------------------------------------------- primitives
def _enc_str(s: str | None) -> bytes:
    if s is None:
        return struct.pack(">h", -1)
    b = s.encode()
    return struct.pack(">h", len(b)) + b


def _enc_bytes(b: bytes | None) -> bytes:
    if b is None:
        return struct.pack(">i", -1)
    return struct.pack(">i", len(b)) + b


class _Reader:
    """Cursor over one request/response body."""

    def __init__(self, buf: bytes):
        self.buf = buf
        self.off = 0

    def i8(self) -> int:
        (v,) = struct.unpack_from(">b", self.buf, self.off)
        self.off += 1
        return v

    def i16(self) -> int:
        (v,) = struct.unpack_from(">h", self.buf, self.off)
        self.off += 2
        return v

    def i32(self) -> int:
        (v,) = struct.unpack_from(">i", self.buf, self.off)
        self.off += 4
        return v

    def i64(self) -> int:
        (v,) = struct.unpack_from(">q", self.buf, self.off)
        self.off += 8
        return v

    def string(self) -> str | None:
        n = self.i16()
        if n < 0:
            return None
        v = self.buf[self.off:self.off + n].decode()
        self.off += n
        return v

    def raw(self, n: int) -> bytes:
        v = self.buf[self.off:self.off + n]
        self.off += n
        return v


def _message_v0(value: bytes) -> bytes:
    """One Kafka v0 message: CRC32 over magic..value; null key."""
    body = struct.pack(">bb", 0, 0) + _enc_bytes(None) + _enc_bytes(value)
    return struct.pack(">I", zlib.crc32(body) & 0xFFFFFFFF) + body


def _message_set(values: list[bytes]) -> bytes:
    """v0 MessageSet: [offset int64 (producer sends anything), size, msg]."""
    out = b""
    for v in values:
        m = _message_v0(v)
        out += struct.pack(">qi", 0, len(m)) + m
    return out


def _parse_message_set(buf: bytes) -> list[bytes]:
    """MessageSet → values, CRC-verified (a corrupt frame must not ack)."""
    values: list[bytes] = []
    off = 0
    while off + 12 <= len(buf):
        (_offset, size) = struct.unpack_from(">qi", buf, off)
        off += 12
        m = buf[off:off + size]
        off += size
        (crc,) = struct.unpack_from(">I", m, 0)
        body = m[4:]
        if zlib.crc32(body) & 0xFFFFFFFF != crc:
            raise ValueError("Kafka message CRC mismatch")
        r = _Reader(body)
        r.i8()  # magic
        r.i8()  # attributes
        klen = r.i32()
        if klen > 0:
            r.raw(klen)
        vlen = r.i32()
        values.append(r.raw(vlen) if vlen >= 0 else b"")
    return values


def _send_framed(sock: socket.socket, payload: bytes) -> None:
    sock.sendall(struct.pack(">i", len(payload)) + payload)


def _recv_framed(sock: socket.socket) -> bytes | None:
    head = _recv_exact(sock, 4)
    if head is None:
        return None
    (n,) = struct.unpack(">i", head)
    return _recv_exact(sock, n)


# ------------------------------------------------------------------ producer
class KafkaWireProducer:
    """Minimal Kafka producer speaking Produce v0 with acks=1: the broker
    response IS the delivery report (reference dr_msg_cb — success confirms,
    error leaves the message unconfirmed for re-delivery)."""

    def __init__(self, host: str, port: int, timeout: float = 30.0,
                 client_id: str = "openlogreplicator_spark"):
        self.sock = socket.create_connection((host, port), timeout)
        self.sock.settimeout(timeout)
        self.client_id = client_id
        self._corr = 0
        versions = self.api_versions()
        for key in (API_PRODUCE, API_METADATA):
            lo, hi = versions.get(key, (None, None))
            if lo is None or lo > 0:
                raise ConnectionError(
                    f"broker does not speak api {key} v0: {versions}"
                )

    def _request(self, api_key: int, api_version: int, body: bytes) -> _Reader:
        self._corr += 1
        head = struct.pack(">hhi", api_key, api_version, self._corr)
        head += _enc_str(self.client_id)
        _send_framed(self.sock, head + body)
        resp = _recv_framed(self.sock)
        if resp is None:
            raise ConnectionError("broker closed connection")
        r = _Reader(resp)
        corr = r.i32()
        if corr != self._corr:
            raise ConnectionError(f"correlation mismatch: {corr} != {self._corr}")
        return r

    def api_versions(self) -> dict[int, tuple[int, int]]:
        r = self._request(API_API_VERSIONS, 0, b"")
        err = r.i16()
        if err != ERR_NONE:
            raise ConnectionError(f"ApiVersions error {err}")
        out = {}
        for _ in range(r.i32()):
            key, lo, hi = r.i16(), r.i16(), r.i16()
            out[key] = (lo, hi)
        return out

    def metadata(self, topic: str) -> dict:
        """Topic metadata: {"partitions": [ids...], "brokers": n}."""
        body = struct.pack(">i", 1) + _enc_str(topic)
        r = self._request(API_METADATA, 0, body)
        n_brokers = r.i32()
        for _ in range(n_brokers):
            r.i32(); r.string(); r.i32()
        parts: list[int] = []
        for _ in range(r.i32()):
            terr = r.i16()
            tname = r.string()
            for _ in range(r.i32()):
                r.i16()
                pid = r.i32()
                r.i32()  # leader
                for _ in range(r.i32()):
                    r.i32()  # replicas
                for _ in range(r.i32()):
                    r.i32()  # isr
                parts.append(pid)
            if terr != ERR_NONE:
                raise ConnectionError(f"Metadata error {terr} for {tname!r}")
        return {"partitions": sorted(parts), "brokers": n_brokers}

    def produce(
        self, topic: str, partition: int, values: list[bytes],
        acks: int = 1, timeout_ms: int = 10_000,
    ) -> tuple[int, int]:
        """Produce one batch; returns (error_code, base_offset) — the
        delivery report. error_code != 0 ⇒ NOTHING in the batch confirmed."""
        ms = _message_set(values)
        body = struct.pack(">hi", acks, timeout_ms)
        body += struct.pack(">i", 1) + _enc_str(topic)
        body += struct.pack(">i", 1) + struct.pack(">i", partition)
        body += struct.pack(">i", len(ms)) + ms
        r = self._request(API_PRODUCE, 0, body)
        err, base = ERR_REQUEST_TIMED_OUT, -1
        for _ in range(r.i32()):
            r.string()
            for _ in range(r.i32()):
                r.i32()  # partition id
                err = r.i16()
                base = r.i64()
        return err, base

    def close(self) -> None:
        self.sock.close()

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.close()


# ---------------------------------------------------------------- confirm sink
class KafkaConfirmSink(ConfirmWatermark):
    """Produce change messages to a Kafka-protocol peer, exactly-once by
    confirmed-epoch watermark — the Kafka twin of NetworkConfirmSink.

    An epoch advances the durable watermark only when EVERY message of
    every Spark partition received a successful delivery report (broker
    ack, acks=1). A failed/partial epoch leaves the watermark untouched
    and is re-produced whole on the next run — at-least-once into the
    topic, consumer dedupes by content (the reference's contract: an
    unconfirmed BuilderMsg is re-sent after restart)."""

    def __init__(self, host: str, port: int, topic: str = "olr-changes",
                 confirmed_path: str | None = None, timeout: float = 30.0):
        self.host = host
        self.port = port
        self.topic = topic
        self.confirmed_path = confirmed_path
        self.timeout = timeout

    def send_epoch(self, messages, epoch_id: int) -> bool:
        """Stream one epoch (DataFrame with a ``message`` column) and gate
        the watermark on the delivery reports. Returns True iff confirmed;
        an already-confirmed epoch is skipped idempotently."""
        epoch_id = int(epoch_id)
        if self._already_confirmed(epoch_id):
            return True
        host, port, topic, timeout = self.host, self.port, self.topic, self.timeout
        with KafkaWireProducer(host, port, timeout) as probe:
            n_parts = len(probe.metadata(topic)["partitions"])
        if n_parts < 1:
            raise ConnectionError(f"topic {topic!r} has no partitions")

        def _produce(frames):
            import pandas as pd
            from pyspark import TaskContext

            ctx = TaskContext.get()
            part = int(ctx.partitionId()) if ctx is not None else 0
            sent = acked = 0
            with KafkaWireProducer(host, port, timeout) as prod:
                for pdf in frames:
                    values = [
                        m.encode() if isinstance(m, str) else bytes(m)
                        for m in pdf["message"].dropna()
                    ]
                    if not values:
                        continue
                    sent += len(values)
                    err, _base = prod.produce(
                        topic, part % n_parts, values
                    )
                    if err == ERR_NONE:
                        acked += len(values)
            yield pd.DataFrame(
                {"part": [part], "n_sent": [sent], "n_acked": [acked]}
            )

        # bounded collect: ONE accounting row per Spark partition — the
        # delivery-report roll-up, never the data
        reports = (
            messages.select("message")
            .mapInPandas(_produce, "part int, n_sent long, n_acked long")
            .collect()
        )
        confirmed = all(r["n_acked"] == r["n_sent"] for r in reports)
        if confirmed:
            self._advance_watermark(epoch_id)
        return confirmed


# ----------------------------------------------------------------- broker stub
class KafkaBrokerStub:
    """In-process Kafka-protocol peer: ApiVersions/Metadata/Produce v0.

    Appends produced values per (topic, partition) under monotone offsets —
    the system of record the catalog's value gate reassembles state from.
    ``refuse_produces=N`` makes the first N Produce requests fail with
    REQUEST_TIMED_OUT *without appending* (the delivery-failed path:
    the producer must leave those messages unconfirmed and re-deliver)."""

    def __init__(self, topics: dict[str, int] | None = None,
                 refuse_produces: int = 0):
        self.topics = dict(topics or {"olr-changes": 4})
        self.refuse_produces = refuse_produces
        self.log: dict[tuple[str, int], list[bytes]] = {}
        for t, n in self.topics.items():
            for p in range(n):
                self.log[(t, p)] = []
        self.produce_requests = 0
        self.lock = threading.Lock()
        self.srv = socket.create_server(("127.0.0.1", 0))
        self.port = self.srv.getsockname()[1]
        self._stop = False
        self.thread = threading.Thread(target=self._accept_loop, daemon=True)
        self.thread.start()

    # ------------------------------------------------------------- serving
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
            while True:
                try:
                    req = _recv_framed(conn)
                except (OSError, ConnectionError):
                    return
                if req is None:
                    return
                r = _Reader(req)
                api_key, api_version, corr = r.i16(), r.i16(), r.i32()
                r.string()  # client_id
                if api_version != 0:
                    return  # v0-only peer: drop the connection
                if api_key == API_API_VERSIONS:
                    body = struct.pack(">h", ERR_NONE)
                    body += struct.pack(">i", 3)
                    for key in (API_PRODUCE, API_METADATA, API_API_VERSIONS):
                        body += struct.pack(">hhh", key, 0, 0)
                elif api_key == API_METADATA:
                    body = self._metadata_response(r)
                elif api_key == API_PRODUCE:
                    body = self._produce_response(r)
                else:
                    return
                _send_framed(conn, struct.pack(">i", corr) + body)

    def _metadata_response(self, r: _Reader) -> bytes:
        n = r.i32()
        names = [r.string() for _ in range(n)] or list(self.topics)
        body = struct.pack(">i", 1)  # brokers
        body += struct.pack(">i", 0) + _enc_str("127.0.0.1")
        body += struct.pack(">i", self.port)
        body += struct.pack(">i", len(names))
        for name in names:
            known = name in self.topics
            body += struct.pack(">h", ERR_NONE if known else ERR_UNKNOWN_TOPIC)
            body += _enc_str(name)
            n_parts = self.topics.get(name, 0)
            body += struct.pack(">i", n_parts)
            for pid in range(n_parts):
                body += struct.pack(">hii", ERR_NONE, pid, 0)
                body += struct.pack(">ii", 1, 0)  # replicas [0]
                body += struct.pack(">ii", 1, 0)  # isr [0]
        return body

    def _produce_response(self, r: _Reader) -> bytes:
        r.i16()  # acks
        r.i32()  # timeout
        results: list[tuple[str, int, int, int]] = []
        for _ in range(r.i32()):
            topic = r.string()
            for _ in range(r.i32()):
                pid = r.i32()
                ms = r.raw(r.i32())
                with self.lock:
                    self.produce_requests += 1
                    if self.refuse_produces > 0:
                        self.refuse_produces -= 1
                        results.append(
                            (topic, pid, ERR_REQUEST_TIMED_OUT, -1)
                        )
                        continue
                    key = (topic, pid)
                    if key not in self.log:
                        results.append((topic, pid, ERR_UNKNOWN_TOPIC, -1))
                        continue
                    try:
                        values = _parse_message_set(ms)
                    except (ValueError, struct.error):
                        results.append(
                            (topic, pid, ERR_REQUEST_TIMED_OUT, -1)
                        )
                        continue
                    base = len(self.log[key])
                    self.log[key].extend(values)
                    results.append((topic, pid, ERR_NONE, base))
        body = struct.pack(">i", len(results))
        for topic, pid, err, base in results:
            body += _enc_str(topic)
            body += struct.pack(">i", 1)
            body += struct.pack(">ihq", pid, err, base)
        return body

    # ------------------------------------------------------------ inspection
    def values(self, topic: str) -> list[bytes]:
        """All produced values of a topic, partition-major then offset
        order (deterministic for the value gate)."""
        with self.lock:
            return [
                v
                for p in range(self.topics[topic])
                for v in self.log[(topic, p)]
            ]

    def close(self):
        self._stop = True
        self.srv.close()
