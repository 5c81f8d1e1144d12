"""Network inputs: tcp_input / udp_input / syslog receiver / stdin
analogues (reference: pkg/stanza/operator/input/tcp/input.go,
pkg/stanza/operator/input/udp/input.go, receiver/syslogreceiver/syslog.go,
pkg/stanza/operator/input/stdin).

A Spark cluster is a pull engine, so network listeners are edge concerns:

- **TCP (newline-framed)** maps onto the built-in `socket` streaming
  source — the executor is the connecting client, one row per line, the
  same framing `tcp/input.go` uses by default (bufio line scanner).
  Octet-counted framing (RFC 6587) cannot ride the socket source (it
  splits on newlines); spool such feeds to files and use
  `split_octet_frames` (operators/parse.py) on the file stream instead.
- **UDP and stdin** have no Spark source, so `UdpSpoolListener` /
  `stdin_to_spool` bridge frames into rotating spool files for a
  checkpointed text file stream (`spark.readStream.text`;
  streaming/pipeline.transcripts_stream is the same pattern for parquet).
  The reference's receive-goroutine → entry-pipeline handoff
  (udp/input.go:112-160 readLoop) becomes receive-thread → durable spool
  → exactly-once file stream: frames hit disk *before* entering the
  engine, which is strictly stronger delivery than the reference's
  in-memory handoff (its UDP drops on backpressure).

Spool files are written to a `.tmp` name and atomically renamed so the
streaming file lister never observes a partial file.
"""

from __future__ import annotations

import os
import socket
import threading
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


# --- TCP: built-in socket streaming source ---------------------------------
def tcp_text_stream(spark: SparkSession, host: str, port: int, peer_col: bool = True) -> DataFrame:
    """Newline-framed TCP text input (`tcp/input.go` default framing) as a
    streaming DataFrame: one row per line in a `line` column plus the
    remote endpoint attribute (`net.peer` semantic convention, mirroring
    the receiver's add_attributes option)."""
    df = (
        spark.readStream.format("socket")
        .option("host", host)
        .option("port", port)
        .load()
        .select(F.col("value").alias("line"))
    )
    if peer_col:
        df = df.withColumn("net_peer", F.lit(f"{host}:{port}"))
    return df


def tcp_syslog_stream(spark: SparkSession, host: str, port: int, rfc: str = "rfc5424") -> DataFrame:
    """syslogreceiver over TCP: socket lines → the RFC 5424/3164 parser
    (receiver/syslogreceiver/syslog.go wires tcp input → syslog_parser;
    we compose the same two stages as streaming transformations)."""
    from ..operators.parse import syslog_rfc3164_parser, syslog_rfc5424_parser

    lines = tcp_text_stream(spark, host, port)
    parser = syslog_rfc5424_parser if rfc == "rfc5424" else syslog_rfc3164_parser
    return parser(lines, "line")


class TcpSpoolListener:
    """Octet-counted TCP framing (RFC 6587, `syslog/input.go` octet_counting
    mode) cannot ride the socket source — it splits on newlines and a frame
    may contain them. This listener accepts connections and spools each
    connection's raw byte stream to one atomically-published file; read the
    spool with ``spark.read.text(dir, wholetext=True)`` (one row per
    connection) and split with ``operators.parse.split_octet_frames`` —
    the same parser the batch path uses, corrupt-frame guards included."""

    def __init__(self, host: str = "127.0.0.1", port: int = 0, spool_dir: str = "/tmp/tcp_spool") -> None:
        os.makedirs(spool_dir, exist_ok=True)
        self.spool_dir = spool_dir
        self._srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        self._srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        self._srv.bind((host, port))
        self._srv.listen(16)
        self._srv.settimeout(0.2)
        self.port = self._srv.getsockname()[1]
        self._stop = threading.Event()
        self._conns: list[threading.Thread] = []
        self._thread = threading.Thread(target=self._accept_loop, daemon=True)
        self._thread.start()

    def _accept_loop(self) -> None:
        while not self._stop.is_set():
            try:
                conn, _addr = self._srv.accept()
            except socket.timeout:
                continue
            except OSError:
                break
            t = threading.Thread(target=self._drain, args=(conn,), daemon=True)
            t.start()
            self._conns.append(t)

    def _drain(self, conn: socket.socket) -> None:
        chunks: list[bytes] = []
        try:
            while True:
                data = conn.recv(65536)
                if not data:
                    break
                chunks.append(data)
        finally:
            conn.close()
        if not chunks:
            return
        name = f"conn-{uuid.uuid4().hex}.log"
        tmp = os.path.join(self.spool_dir, f".{name}.tmp")
        with open(tmp, "wb") as f:
            f.write(b"".join(chunks))
        os.rename(tmp, os.path.join(self.spool_dir, name))

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=2)
        for t in self._conns:
            t.join(timeout=2)
        self._srv.close()


# --- UDP / stdin: spool-file bridge ----------------------------------------
class UdpSpoolListener:
    """Bind a UDP socket and append one line per datagram to rotating
    spool files in `spool_dir` (atomic tmp→rename publishes). One message
    per datagram is the syslog-over-UDP convention (RFC 5426 §3.1);
    embedded newlines are escaped so the line-oriented reader can't split
    a datagram. Runs on a daemon thread; `stop()` closes the socket and
    flushes the tail batch."""

    def __init__(
        self,
        host: str = "127.0.0.1",
        port: int = 0,
        spool_dir: str = "/tmp/udp_spool",
        batch_datagrams: int = 512,
        max_datagram: int = 65536,
    ) -> None:
        os.makedirs(spool_dir, exist_ok=True)
        self.spool_dir = spool_dir
        self.batch = batch_datagrams
        self.max_datagram = max_datagram
        self._sock = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
        self._sock.bind((host, port))
        self._sock.settimeout(0.2)
        self.port = self._sock.getsockname()[1]
        self._buf: list[str] = []
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        while not self._stop.is_set():
            try:
                data, _addr = self._sock.recvfrom(self.max_datagram)
            except socket.timeout:
                continue
            except OSError:
                break
            line = data.decode("utf-8", errors="replace").rstrip("\n").replace("\n", "\\n")
            with self._lock:
                self._buf.append(line)
                if len(self._buf) >= self.batch:
                    self._publish_locked()

    def _publish_locked(self) -> None:
        if not self._buf:
            return
        name = f"spool-{uuid.uuid4().hex}.log"
        tmp = os.path.join(self.spool_dir, f".{name}.tmp")
        with open(tmp, "w", encoding="utf-8") as f:
            f.write("\n".join(self._buf) + "\n")
        os.rename(tmp, os.path.join(self.spool_dir, name))
        self._buf = []

    def flush(self) -> None:
        with self._lock:
            self._publish_locked()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=2)
        self._sock.close()
        with self._lock:
            self._publish_locked()


def stdin_to_spool(stream, spool_dir: str, batch_lines: int = 4096) -> int:
    """stdin input analogue: drain a text stream into atomic spool files;
    returns lines written. Pair with file_source / a file stream over
    `spool_dir` (stdin has no distributed analogue — the bridge makes the
    handoff durable instead of pretending the driver is a source)."""
    os.makedirs(spool_dir, exist_ok=True)
    buf: list[str] = []
    total = 0

    def publish() -> None:
        nonlocal buf
        if not buf:
            return
        name = f"stdin-{uuid.uuid4().hex}.log"
        tmp = os.path.join(spool_dir, f".{name}.tmp")
        with open(tmp, "w", encoding="utf-8") as f:
            f.write("\n".join(buf) + "\n")
        os.rename(tmp, os.path.join(spool_dir, name))
        buf = []

    for raw in stream:
        buf.append(raw.rstrip("\n"))
        total += 1
        if len(buf) >= batch_lines:
            publish()
    publish()
    return total
