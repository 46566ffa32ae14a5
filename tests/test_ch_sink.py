"""ClickHouseSink HTTP-transport contract tests against a mock CH server.

The mock implements the two server behaviors the transport contract leans
on: transient 500s (exercising bounded retry) and token block dedup
(ClickHouse's ``insert_deduplication_token`` + ``insert_deduplicate=1`` —
a re-sent insert identity is acknowledged but not re-applied; real CH
never dedups by query_id, so the mock keys on the token the way the
server does). No real ClickHouse exists in this
environment; these tests pin the non-parquet codepath end-to-end through
real executor-side POSTs.
"""

from __future__ import annotations

import json
import threading
import urllib.parse
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest

from canal_clickhouse_spark.sinks.clickhouse import ClickHouseSink


class _MockCH(BaseHTTPRequestHandler):
    def do_POST(self):  # noqa: N802 (http.server API)
        q = urllib.parse.parse_qs(urllib.parse.urlparse(self.path).query)
        body = self.rfile.read(int(self.headers["Content-Length"])).decode()
        srv = self.server
        with srv.lock:
            if srv.fail_budget > 0:
                srv.fail_budget -= 1
                self.send_response(500)
                self.end_headers()
                return
            # CH's dedup contract: insert_deduplicate=1 + the explicit
            # token. A POST without both is applied unconditionally.
            tok = q.get("insert_deduplication_token", [None])[0]
            srv.requests.append((tok, q["query"][0], body))
            if (
                tok is not None
                and q.get("insert_deduplicate", ["0"])[0] == "1"
                and tok in srv.seen
            ):  # CH block dedup: ack, don't re-apply
                pass
            else:
                if tok is not None:
                    srv.seen.add(tok)
                srv.rows.extend(ln for ln in body.splitlines() if ln)
        self.send_response(200)
        self.end_headers()

    def log_message(self, *args):  # silence per-request stderr noise
        pass


@pytest.fixture()
def mock_ch():
    srv = ThreadingHTTPServer(("127.0.0.1", 0), _MockCH)
    srv.lock = threading.Lock()
    srv.requests, srv.rows, srv.seen = [], [], set()
    srv.fail_budget = 0
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield srv
    srv.shutdown()
    t.join(timeout=5)


def _frame(spark):
    return spark.range(10).selectExpr("id", "id * 2 AS v").repartition(2)


def _url(srv) -> str:
    return f"http://127.0.0.1:{srv.server_address[1]}"


def _delivered(srv) -> set[tuple[int, int]]:
    return {(d["id"], d["v"]) for d in map(json.loads, srv.rows)}


def test_http_sink_batches_and_delivers(spark, mock_ch):
    sink = ClickHouseSink(_url(mock_ch), "t1", mode="http", batch_rows=3)
    sink.write_batch(_frame(spark), batch_id=0)
    assert _delivered(mock_ch) == {(i, 2 * i) for i in range(10)}
    # 2 partitions × 5 rows at ≤3 rows/POST → 2 chunks per partition.
    assert len(mock_ch.requests) == 4
    assert all(
        len(body.splitlines()) <= 3 for _, _, body in mock_ch.requests
    ), "chunking must respect batch_rows"
    assert all(
        q == "INSERT INTO t1 FORMAT JSONEachRow" for _, q, _ in mock_ch.requests
    )


def test_http_sink_retries_transient_failures(spark, mock_ch):
    mock_ch.fail_budget = 2  # first two POSTs 500; retries must recover
    sink = ClickHouseSink(
        _url(mock_ch), "t2", mode="http", batch_rows=100, backoff_s=0.01
    )
    sink.write_batch(_frame(spark), batch_id=0)
    assert _delivered(mock_ch) == {(i, 2 * i) for i in range(10)}
    assert len(mock_ch.seen) == 2  # one chunk per partition, exactly once


def test_http_sink_replay_is_deduplicated(spark, mock_ch):
    """A foreachBatch replay re-sends the same (batch, partition, chunk)
    dedup tokens; the server acks but keeps one copy — CH
    insert_deduplication_token + insert_deduplicate."""
    sink = ClickHouseSink(_url(mock_ch), "t3", mode="http", batch_rows=3)
    df = _frame(spark)
    sink.write_batch(df, batch_id=7)
    first = list(mock_ch.rows)
    sink.write_batch(df, batch_id=7)  # at-least-once redelivery
    assert mock_ch.rows == first, "replayed blocks must not duplicate rows"
    assert len(mock_ch.requests) == 8 and len(mock_ch.seen) == 4


def test_http_sink_gives_up_after_max_retries(spark, mock_ch):
    mock_ch.fail_budget = 10**6
    sink = ClickHouseSink(
        _url(mock_ch), "t4", mode="http", batch_rows=100,
        max_retries=1, backoff_s=0.01,
    )
    with pytest.raises(Exception):
        sink.write_batch(_frame(spark), batch_id=0)
    assert not mock_ch.rows


def test_streaming_foreachbatch_to_http_sink(spark, mock_ch, tmp_path):
    """End-to-end composition: Structured Streaming micro-batches delivered
    through the HTTP transport — the actual CDC→ClickHouse user path
    (readStream → foreachBatch(sink.write_batch) → chunked POSTs with
    per-chunk token dedup). availableNow drains the source and the
    delivered row set must equal it exactly."""
    src = str(tmp_path / "src")
    _frame(spark).write.parquet(src)
    sink = ClickHouseSink(_url(mock_ch), "t5", mode="http", batch_rows=4)
    sdf = spark.readStream.schema(_frame(spark).schema).parquet(src)
    q = (
        sdf.writeStream.foreachBatch(sink.write_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert _delivered(mock_ch) == {(i, 2 * i) for i in range(10)}
    assert all(
        q0 == "INSERT INTO t5 FORMAT JSONEachRow" for _, q0, _ in mock_ch.requests
    )


def test_collapsing_stream_restart_to_http_sink(spark, sf_dir, mock_ch, tmp_path):
    """The full reference composition (VERDICT r3 task 7): collapsing-mode
    TableSync ← checkpointed micro-batches, with a MID-STREAM RESTART (a new
    pipeline object + stream query over the same checkpoint picks up only
    the unseen files), then the FINAL read delivered through the mock-HTTP
    ClickHouse sink with token dedup. Delivered rows must equal the
    replacing-mode truth, and a sink replay must not duplicate them."""
    from pyspark.sql import functions as F

    from canal_clickhouse_spark.cdc.envelope import ORDERS_MAPPING
    from canal_clickhouse_spark.pipeline import CdcPipeline, TableSync
    from tests.test_pipeline import envelopes, expected_final, rows_set

    rule = TableSync(
        "shop", "orders", pk="o_orderkey", mapping=dict(ORDERS_MAPPING),
        mode="collapsing",
    )
    root, src = str(tmp_path / "state"), str(tmp_path / "msgs")
    stream_df = lambda: spark.readStream.schema("msg string").json(src)  # noqa: E731

    # Run 1: INSERT everything, then stop (availableNow drains and exits).
    envelopes(spark, sf_dir, "INSERT", "true").coalesce(1).write.mode("append").json(src)
    pipe1 = CdcPipeline(spark, [rule], root)
    pipe1.stream(stream_df()).awaitTermination()

    # Mid-stream restart: drop two more files, then a FRESH pipeline object
    # over the same state+checkpoint roots processes only the new ones.
    envelopes(
        spark, sf_dir, "UPDATE", "o_orderkey % 10 = 0", status="F", day_offset=1
    ).coalesce(1).write.mode("append").json(src)
    envelopes(
        spark, sf_dir, "DELETE", "o_orderkey % 100 = 0", day_offset=2
    ).coalesce(1).write.mode("append").json(src)
    pipe2 = CdcPipeline(spark, [rule], root)
    pipe2.stream(stream_df()).awaitTermination()

    final = pipe2.read_table("shop", "orders").select(*ORDERS_MAPPING)
    assert rows_set(final) == rows_set(expected_final(spark, sf_dir))

    # Deliver the synced table through the HTTP transport; replay dedupes.
    sink = ClickHouseSink(_url(mock_ch), "orders_sync", mode="http", batch_rows=5000)
    out = final.select(
        "o_orderkey", F.col("o_orderstatus").alias("st")
    )
    sink.write_batch(out, batch_id=0)
    want = {(r.o_orderkey, r.st) for r in out.collect()}
    got = {(d["o_orderkey"], d["st"]) for d in map(json.loads, mock_ch.rows)}
    assert got == want
    sink.write_batch(out, batch_id=0)  # at-least-once redelivery
    assert len(mock_ch.rows) == len(want), "sink replay must not duplicate"

    # A third stream run with nothing new is a no-op (checkpoint holds).
    v_before = pipe2._latest_version(rule)
    CdcPipeline(spark, [rule], root).stream(stream_df()).awaitTermination()
    assert pipe2._latest_version(rule) == v_before


def test_jsoneachrow_wire_format_roundtrips_through_ddl_parser(
    spark, sf_dir, mock_ch, tmp_path
):
    """Wire-protocol self-consistency: the body the HTTP sink POSTs (as
    the mock server received it) is byte for byte what INTO OUTFILE …
    FORMAT JSONEachRow writes for the same SELECT — CH's date-time
    spelling, NULL fields kept — and parses back to the identical rows
    through the DDL interpreter's FORMAT JSONEachRow path, so either side
    can interoperate with a real ClickHouse server that speaks it."""
    from canal_clickhouse_spark.chsql_ddl import ChSession

    ch = ChSession(spark, sf_dir)
    select = (
        "SELECT o_orderkey, o_orderstatus,"
        " toFloat64(o_totalprice) AS o_totalprice,"
        " toDate(o_orderdate) AS o_orderdate,"
        " addSeconds(toDateTime(o_orderdate), 3723) AS o_ts,"
        " if(o_orderkey % 3 = 0, NULL, o_custkey) AS o_cust"
        " FROM orders ORDER BY o_orderkey LIMIT 50"
    )
    src = ch.execute(select).coalesce(1)
    sink = ClickHouseSink(_url(mock_ch), "sink_rt", mode="http",
                          batch_rows=100)
    sink.write_batch(src, batch_id=0)
    [(_, _, body)] = mock_ch.requests  # one partition, one chunk
    out = tmp_path / "o.jsonl"
    ch.execute(f"{select} INTO OUTFILE '{out}' FORMAT JSONEachRow")
    assert body == out.read_text()
    first = json.loads(body.splitlines()[0])
    assert first["o_orderdate"] == first["o_ts"][:10]
    assert first["o_ts"].endswith(" 01:02:03") and first["o_cust"] is None

    ch.execute(
        "CREATE TABLE sink_rt (o_orderkey Int64, o_orderstatus String, "
        "o_totalprice Float64, o_orderdate Date, o_ts DateTime, "
        "o_cust Nullable(Int64)) ENGINE = MergeTree() ORDER BY o_orderkey"
    )
    ch.execute("INSERT INTO sink_rt FORMAT JSONEachRow\n" + body)
    got = sorted(tuple(r) for r in ch.tables["sink_rt"].collect())
    want = sorted(tuple(r) for r in src.collect())
    assert got == want and len(want) == 50
