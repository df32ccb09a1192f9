"""StatsD metrics publisher (DeclaredMetrics + DataDog.UdsPublisher analog,
reference main.scala:111-114)."""

from __future__ import annotations

import os
import socket

from arcane_stream_microsoft_synapse_link_spark.streaming.observability import (
    METRIC_BATCH_DURATION,
    METRIC_ROWS_INCOMING,
    METRIC_ROWS_MERGED,
    MetricsRecorder,
    StatsdPublisher,
)


def test_udp_publisher_emits_dogstatsd_lines():
    srv = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
    srv.bind(("127.0.0.1", 0))
    srv.settimeout(5)
    port = srv.getsockname()[1]

    pub = StatsdPublisher(f"udp:127.0.0.1:{port}", tags={"entity": "orders", "env": "test"})
    pub.count("arcane.stream.rows.incoming", 120)
    pub.timing_ms("arcane.stream.batch.duration", 45.5)
    pub.gauge("arcane.stream.lag", 3)

    got = sorted(srv.recv(4096).decode() for _ in range(3))
    assert got == [
        "arcane.stream.batch.duration:45.5|ms|#entity:orders,env:test",
        "arcane.stream.lag:3|g|#entity:orders,env:test",
        "arcane.stream.rows.incoming:120|c|#entity:orders,env:test",
    ]
    pub.close()
    srv.close()


def test_uds_publisher_and_dead_socket_is_harmless(tmp_path):
    path = os.path.join(str(tmp_path), "dsd.sock")
    srv = socket.socket(socket.AF_UNIX, socket.SOCK_DGRAM)
    srv.bind(path)
    srv.settimeout(5)

    pub = StatsdPublisher(f"uds:{path}")
    pub.count("arcane.stream.rows.merged", 7)
    assert srv.recv(4096).decode() == "arcane.stream.rows.merged:7|c"
    srv.close()
    os.unlink(path)
    pub.count("arcane.stream.rows.merged", 8)  # agent died: must not raise
    pub.close()


def test_recorder_emits_one_merged_batch_metrics():
    srv = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
    srv.bind(("127.0.0.1", 0))
    srv.settimeout(5)
    port = srv.getsockname()[1]

    rec = MetricsRecorder(tags={"entity": "orders"}, statsd_address=f"udp:127.0.0.1:{port}")
    # 250 rows read; 40 took effect — the rest were stale re-uploads
    rec.record("2021-06-01T12.00.00Z", rows=250, seconds=0.5, inserts=10, updates=25, deletes=5)

    lines = sorted(srv.recv(4096).decode() for _ in range(3))
    assert lines == [
        f"{METRIC_BATCH_DURATION}:500|ms|#entity:orders",
        f"{METRIC_ROWS_INCOMING}:250|c|#entity:orders",
        f"{METRIC_ROWS_MERGED}:40|c|#entity:orders",
    ]
    assert rec.total_rows == 250
    srv.close()
