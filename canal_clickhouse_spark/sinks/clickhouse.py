"""ClickHouse sink: batched, retried, idempotent inserts — transport-pluggable.

The reference's consumer batches N messages or T ms, then issues buffered
INSERTs to ClickHouse over JDBC/HTTP, acking offsets only after a durable
write (at-least-once ⇒ the sink must tolerate replays) [P-canal][P-ch].

This writer keeps that contract with three transports:
- ``jdbc``: real `df.write.format("jdbc")` against a ClickHouse URL —
  integration-only (no server in this environment), every option plumbed.
- ``http``: ClickHouse's native HTTP interface — per-partition POSTs of
  ``INSERT INTO t FORMAT JSONEachRow`` bodies in ``batch_rows`` chunks,
  bounded exponential-backoff retry, and a DETERMINISTIC
  ``insert_deduplication_token`` per (batch, partition, chunk) plus
  ``insert_deduplicate=1`` so a replayed or retried chunk dedupes
  server-side. The token is CH's EXPLICIT dedup mechanism — the server
  never dedups by query_id; content-hash block dedup only covers
  Replicated tables, while the token works on any MergeTree (and makes
  the identity independent of row-formatting drift). query_id is still
  sent, but only as a trace handle. Contract-tested against a mock HTTP
  server (tests/test_ch_sink.py) keyed on the token.
- ``parquet`` (default fallback): an append-only parts directory, one part
  per (batch_id, attempt) like MergeTree parts; replays of the same
  batch_id overwrite their own part → idempotent exactly like a
  deduplicating CH insert with insert_deduplicate=1.

At 100 TB the relevant knobs are batch size (rows per INSERT — too small
thrashes MergeTree parts; the reference default order is 10k-100k rows) and
per-partition parallel writes (each Spark task is an independent insert
stream — the http transport does exactly this via mapPartitionsWithIndex,
never collecting to the driver).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

from .. import chformats


class ClickHouseSink:
    """Batched insert sink with replay idempotency.

    ``write_batch(df, batch_id)`` is the ``foreachBatch`` contract: calling
    it twice with the same batch_id leaves exactly one copy of the data —
    the semantics a Canal consumer needs under at-least-once delivery.
    """

    def __init__(
        self,
        target: str,
        table: str,
        mode: str = "parquet",
        batch_rows: int = 50_000,
        jdbc_options: dict[str, str] | None = None,
        max_retries: int = 3,
        backoff_s: float = 0.05,
        timeout_s: float = 30.0,
    ) -> None:
        if mode not in ("parquet", "jdbc", "http"):
            raise ValueError(f"unknown transport: {mode}")
        self.target = target
        self.table = table
        self.mode = mode
        self.batch_rows = batch_rows
        self.jdbc_options = jdbc_options or {}
        self.max_retries = max_retries
        self.backoff_s = backoff_s
        self.timeout_s = timeout_s

    def _part_dir(self, batch_id: int) -> str:
        return os.path.join(self.target, self.table, f"batch_id={batch_id}")

    def write_batch(self, df: DataFrame, batch_id: int) -> None:
        if self.mode == "http":
            self._write_http(df, batch_id)
        elif self.mode == "jdbc":
            (
                df.write.format("jdbc")
                .option("url", self.target)
                .option("dbtable", self.table)
                .option("batchsize", str(self.batch_rows))
                .option("isolationLevel", "NONE")  # CH has no txns; parts are atomic
                .options(**self.jdbc_options)
                .mode("append")
                .save()
            )
        else:
            # Overwrite-own-part: a replayed batch_id replaces its previous
            # attempt instead of duplicating it.
            df.write.mode("overwrite").parquet(self._part_dir(batch_id))

    def _write_http(self, df: DataFrame, batch_id: int) -> None:
        """Per-partition chunked POSTs to the CH HTTP endpoint.

        Each Spark task streams its partition in ``batch_rows``-row
        JSONEachRow bodies, each row encoded by `chformats.encode_sql` as
        INTO OUTFILE writes it. Idempotency is CH's explicit token dedup:
        ``insert_deduplication_token`` is a pure function of (table,
        batch_id, partition, chunk) and ``insert_deduplicate=1`` is set, so
        a Spark task retry, a foreachBatch replay, or our own
        transport-level retry re-sends the SAME insert identity and the
        server drops the duplicate block. Retries back off exponentially
        and re-raise after ``max_retries`` — at-least-once upstream plus
        dedup downstream.
        """
        url, table = self.target, self.table
        rows_per, retries = max(self.batch_rows, 1), self.max_retries
        backoff, timeout = self.backoff_s, self.timeout_s

        def send(pidx: int, it):
            # Imported inside the task: cloudpickle rebinds module globals on
            # the worker as bare `import urllib`, which does not load the
            # `request`/`parse` submodules.
            import itertools
            import time
            import urllib.parse
            import urllib.request

            sent = 0
            for chunk in itertools.count():
                buf = [line for (line,) in itertools.islice(it, rows_per)]
                if not buf:
                    break
                ident = f"ccs-{table}-b{batch_id}-p{pidx}-c{chunk}"
                params = urllib.parse.urlencode(
                    {
                        "query": f"INSERT INTO {table} FORMAT JSONEachRow",
                        # The dedup identity (what CH actually keys on):
                        "insert_deduplication_token": ident,
                        "insert_deduplicate": "1",
                        # Trace handle only — CH never dedups by query_id:
                        "query_id": ident,
                    }
                )
                body = ("\n".join(buf) + "\n").encode("utf-8")
                for attempt in range(retries + 1):
                    try:
                        req = urllib.request.Request(
                            f"{url}/?{params}", data=body, method="POST"
                        )
                        with urllib.request.urlopen(req, timeout=timeout) as r:
                            r.read()
                        break
                    except Exception:
                        if attempt == retries:
                            raise
                        time.sleep(backoff * (2**attempt))
                sent += len(buf)
            yield sent

        # mapPartitionsWithIndex (not collect): every executor is its own
        # insert stream, the driver only sums row counts.
        enc = chformats.encode_sql(chformats.FORMATS["jsoneachrow"], df.dtypes)
        df.selectExpr(enc).rdd.mapPartitionsWithIndex(send).sum()

    def read_back(self, spark) -> DataFrame:
        """All durably-written parts (parquet transport only)."""
        return spark.read.option("basePath", os.path.join(self.target, self.table)).parquet(
            os.path.join(self.target, self.table, "batch_id=*")
        ).drop("batch_id")
