"""Network-input bridges (sources/network.py): TCP syslog over the socket
streaming source, UDP datagrams through the spool-file bridge, and the
stdin spool drain — each verified end-to-end into parsed rows."""

import io
import socket
import threading
import time

from pyspark.sql import functions as F

SYSLOG_LINES = [
    "<34>1 2024-01-02T03:04:05Z host1 app 77 ID47 - critical event one",
    "<165>1 2024-01-02T03:04:06Z host2 app 78 ID48 - notice event two",
    "<14>1 2024-01-02T03:04:07Z host3 app 79 ID49 - info event three",
]


def test_tcp_syslog_stream(spark, tmp_path):
    from opentelemetry_collector_contrib_spark.sources.network import tcp_syslog_stream

    server = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    server.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    server.bind(("127.0.0.1", 0))
    server.listen(1)
    port = server.getsockname()[1]
    stop = threading.Event()

    def serve():
        conn, _ = server.accept()
        conn.sendall(("\n".join(SYSLOG_LINES) + "\n").encode())
        stop.wait(timeout=30)  # keep the socket open until the query drains
        conn.close()

    t = threading.Thread(target=serve, daemon=True)
    t.start()
    try:
        parsed = tcp_syslog_stream(spark, "127.0.0.1", port, rfc="rfc5424")
        q = (
            parsed.writeStream.format("memory")
            .queryName("tcp_syslog_rows")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(processingTime="200 milliseconds")
            .start()
        )
        try:
            deadline = time.time() + 60
            while time.time() < deadline:
                if spark.sql("select count(*) c from tcp_syslog_rows").collect()[0]["c"] >= 3:
                    break
                time.sleep(0.5)
            rows = spark.sql("select * from tcp_syslog_rows").collect()
        finally:
            stop.set()
            q.stop()
    finally:
        server.close()
    got = {r["syslog_hostname"]: (r["syslog_severity"], r["net_peer"]) for r in rows}
    assert len(got) == 3
    assert got["host1"] == (2, f"127.0.0.1:{port}")   # <34> → severity 34 & 7
    assert got["host2"][0] == 5
    assert got["host3"][0] == 6


def test_udp_spool_bridge(spark, tmp_path):
    from opentelemetry_collector_contrib_spark.sources.network import UdpSpoolListener

    spool = str(tmp_path / "udp")
    listener = UdpSpoolListener(spool_dir=spool, batch_datagrams=100)
    client = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
    for line in SYSLOG_LINES:
        client.sendto(line.encode(), ("127.0.0.1", listener.port))
    client.sendto(b"multi\nline datagram", ("127.0.0.1", listener.port))
    deadline = time.time() + 10
    while time.time() < deadline:  # datagrams land on the listener thread
        time.sleep(0.2)
        listener.flush()
        import glob

        if glob.glob(spool + "/spool-*.log"):
            break
    listener.stop()

    lines = {r["line"] for r in spark.read.text(spool).withColumnRenamed("value", "line").collect()}
    assert set(SYSLOG_LINES) <= lines
    assert "multi\\nline datagram" in lines  # embedded newline escaped, datagram stays one row


def test_udp_spool_waits_for_all_datagrams(spark, tmp_path):
    """All datagrams (not just the first spool file) must be recoverable
    after stop() — the tail batch publishes on close."""
    from opentelemetry_collector_contrib_spark.sources.network import UdpSpoolListener

    spool = str(tmp_path / "udp2")
    listener = UdpSpoolListener(spool_dir=spool, batch_datagrams=2)
    client = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
    n = 7
    for i in range(n):
        client.sendto(f"msg-{i}".encode(), ("127.0.0.1", listener.port))
    deadline = time.time() + 10
    while time.time() < deadline:
        listener.flush()
        if spark.read.text(spool).count() >= n:
            break
        time.sleep(0.2)
    listener.stop()
    got = sorted(r["value"] for r in spark.read.text(spool).collect())
    assert got == sorted(f"msg-{i}" for i in range(n))


def test_stdin_spool_drain(spark, tmp_path):
    from opentelemetry_collector_contrib_spark.sources.network import stdin_to_spool

    spool = str(tmp_path / "stdin")
    src = io.StringIO("".join(f"line {i}\n" for i in range(10)))
    assert stdin_to_spool(src, spool, batch_lines=4) == 10
    df = spark.read.text(spool)
    assert df.count() == 10
    assert df.filter(F.col("value") == "line 7").count() == 1


def test_tcp_octet_spool_bridge(spark, tmp_path):
    """RFC 6587 octet-counted TCP: frames (including embedded newlines)
    survive the spool bridge intact and split with the batch frame parser."""
    from opentelemetry_collector_contrib_spark.operators.parse import split_octet_frames
    from opentelemetry_collector_contrib_spark.sources.network import TcpSpoolListener

    spool = str(tmp_path / "tcp_octet")
    listener = TcpSpoolListener(spool_dir=spool)
    frames = ["<34>1 first frame", "second\nwith newline", "third"]
    payload = "".join(f"{len(f.encode())} {f}" for f in frames)
    client = socket.create_connection(("127.0.0.1", listener.port))
    client.sendall(payload.encode())
    client.close()
    deadline = time.time() + 10
    import glob as _glob

    while time.time() < deadline and not _glob.glob(spool + "/conn-*.log"):
        time.sleep(0.2)
    listener.stop()

    df = spark.read.text(spool, wholetext=True).withColumnRenamed("value", "payload")
    out = split_octet_frames(df, "payload")
    got = [r["frame"] for r in out.orderBy("frame_idx").collect()]
    assert got == frames

