"""Streaming ingest over a Debezium-envelope WAL: JSONL tail → in-stream
decode → dead-letter quarantine → exactly-once lake upsert."""
from __future__ import annotations

import duckdb
from pyspark.sql import functions as F

from arlas_proc_spark.sources.changefeed import changefeed_sql
from arlas_proc_spark.sources.debezium import write_debezium_batches
from arlas_proc_spark.streaming.ingest import StreamingIngest

N = 2000
FAULT_MOD = 97


def _oracle_state(n):
    """Converged final state over the decodable events. The fault injector
    breaks exactly seq % 97 ∈ {3, 5} (all deliveries of those seqs), so
    the oracle is LWW over the feed minus those seqs."""
    feed = changefeed_sql(n, dialect="duckdb")
    df = duckdb.sql(f"""
        SELECT repo, path, seq, sha256(content) AS sha FROM (
          SELECT *, row_number() OVER (
              PARTITION BY repo, path ORDER BY seq DESC, commit DESC) rn
          FROM ({feed}) f
          WHERE seq % {FAULT_MOD} NOT IN (3, 5)
        ) ranked WHERE rn = 1 AND op <> 'delete'""").fetchdf()
    return {(r.repo, r.path): (int(r.seq), r.sha) for r in df.itertuples()}


def test_debezium_stream_converges_and_quarantines(spark, tmp_path):
    wal = str(tmp_path / "wal")
    write_debezium_batches(spark, wal, N, n_batches=4, fault_mod=FAULT_MOD)
    qdir = str(tmp_path / "dlq")
    ing = StreamingIngest(spark, str(tmp_path / "t"), n_buckets=8,
                          wal_format="debezium",
                          quarantine_dir=qdir)
    ing.run_to_completion(wal, str(tmp_path / "ckpt"),
                          max_files_per_trigger=1)
    got = {(r.repo, r.path): (r.seq, r.content_sha256)
           for r in ing.state().collect()}
    assert got == _oracle_state(N)

    # DLQ: one row per distinct broken envelope (duplicate deliveries of
    # the same seq are byte-identical and collapse in the stream dedup)
    dlq = ing.engine.quarantine()
    counts = {r["_reason"]: r["n"] for r in
              dlq.groupBy("_reason").agg(F.count("*").alias("n")).collect()}
    n_malformed = sum(1 for s in range(N) if s % FAULT_MOD == 3)
    n_bad_op = sum(1 for s in range(N) if s % FAULT_MOD == 5)
    assert counts == {"malformed": n_malformed, "bad_op": n_bad_op}
    # raw lines are preserved and replayable
    raws = dlq.where(F.col("_reason") == "bad_op") \
        .select("_raw_value").collect()
    assert all('"op":"x' in r[0] for r in raws)


def test_debezium_wal_is_plain_jsonl(spark, tmp_path):
    """The segments really are line-delimited envelope text (any Kafka
    Connect consumer could have written them)."""
    import glob
    import json
    wal = str(tmp_path / "wal")
    write_debezium_batches(spark, wal, 60, n_batches=2)
    files = [f for f in glob.glob(f"{wal}/*/part-*") if "crc" not in f]
    assert files
    line = open(files[0]).readline().strip()
    doc = json.loads(line)
    assert doc["payload"]["op"] in ("c", "u", "d")
