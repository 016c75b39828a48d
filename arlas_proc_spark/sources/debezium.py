"""Debezium-envelope CDC decode: the standard public change-event JSON
(op c/r/u/d, before/after images, source.lsn sequencing, ts_ms) → this
engine's WAL rows ``(seq, op, key..., ts_s, payload...)``.

Real deployments rarely hand you a clean typed change feed: they hand you
a Kafka topic (or JSONL WAL segments) of Debezium envelopes. This module
is the boundary adapter — one ``from_json`` over the envelope schema plus
pure column expressions, so the decode is MAP-ONLY (zero shuffle, no
Python on the hot path; ``from_json`` runs JVM-side per partition and
Catalyst prunes unused envelope fields). Undecodable records are never
dropped silently: every row carries a ``_dlq_reason`` and the caller
splits good rows from the dead-letter queue with :func:`split_debezium`.

Classification rules (deterministic, engine-independent — the DuckDB
oracle replays them with ``json_valid``/``json_extract_string``):

- unparseable JSON, or JSON without the expected envelope  → ``malformed``
- ``op`` missing or not one of c/r/u/d                      → ``bad_op``
- delete (``d``) without a ``before`` image                 → ``missing_before``
- c/r/u without an ``after`` image                          → ``missing_after``
- no sequence number under ``source.<seq_field>``           → ``missing_seq``

Op mapping: ``c`` (create) and ``r`` (snapshot read) → ``insert``;
``u`` → ``update`` (row from ``after``); ``d`` → ``delete`` (row from
``before``). ``ts_s = ts_ms div 1000``.

Reference analog: the incremental ScyllaDB source
(``/root/reference/src/main/scala/io/arlas/data/sql/DataFrameReader.scala:48-55``)
assumes its driver already typed the rows; here the typed boundary is the
public Debezium contract instead.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from arlas_proc_spark.lake.lww import latest_by_max

DLQ_REASON = "_dlq_reason"
RAW_VALUE = "_raw_value"

_VALID_OPS = ("c", "r", "u", "d")


def envelope_schema(row_schema: T.StructType, *, seq_field: str = "lsn",
                    wrapped: bool = True,
                    txid_field: str | None = None) -> T.StructType:
    """The ``from_json`` schema for a Debezium envelope whose before/after
    images have ``row_schema``. ``wrapped=True`` is the on-the-wire shape
    with the ``payload`` wrapper (Kafka Connect JSON converter with
    schemas disabled still wraps); ``wrapped=False`` decodes a bare
    payload (``unwrap``/ExtractNewRecordState NOT applied — this module
    replaces that transform). ``txid_field`` additionally decodes a
    transaction id under ``source`` (Debezium's connector-specific
    ``txId``; :func:`emit_debezium` stamps the producing commit version
    there so consumers can order transitions within one drained
    range)."""
    src_fields = [T.StructField(seq_field, T.LongType(), True)]
    if txid_field:
        src_fields.append(T.StructField(txid_field, T.LongType(), True))
    payload = T.StructType([
        T.StructField("before", row_schema, True),
        T.StructField("after", row_schema, True),
        T.StructField("source", T.StructType(src_fields), True),
        T.StructField("op", T.StringType(), True),
        T.StructField("ts_ms", T.LongType(), True),
    ])
    if not wrapped:
        return payload
    return T.StructType([T.StructField("payload", payload, True)])


def decode_debezium(df: DataFrame, row_schema: T.StructType, *,
                    value_col: str = "value", seq_field: str = "lsn",
                    wrapped: bool = True,
                    txid_field: str | None = None) -> DataFrame:
    """Decode a DataFrame of Debezium envelope strings into WAL rows.

    Output columns: ``seq`` (bigint, from ``source.<seq_field>``), ``op``
    (insert/update/delete), every field of ``row_schema`` (from ``after``,
    or ``before`` for deletes), ``ts_s`` (bigint), plus the markers
    ``_dlq_reason`` (null = good row) and ``_raw_value`` (the original
    envelope — kept so dead-letter rows stay replayable). All event
    columns are null on DLQ rows.

    With ``txid_field``, a ``_txid`` column (bigint, nullable) rides
    along — the producer's transaction/commit id, needed to order
    transitions within a multi-commit drain (see
    :func:`compact_debezium_batch`).

    Works identically on batch and streaming DataFrames (pure projection,
    no state)."""
    parsed = F.from_json(F.col(value_col),
                         envelope_schema(row_schema, seq_field=seq_field,
                                         wrapped=wrapped,
                                         txid_field=txid_field))
    pay = parsed.getField("payload") if wrapped else parsed
    op = pay.getField("op")
    before, after = pay.getField("before"), pay.getField("after")
    seq = pay.getField("source").getField(seq_field)
    ts_ms = pay.getField("ts_ms")
    reason = (
        F.when(F.col(value_col).isNull() | pay.isNull(), "malformed")
        .when(op.isNull() | ~op.isin(*_VALID_OPS), "bad_op")
        .when((op == "d") & before.isNull(), "missing_before")
        .when((op != "d") & after.isNull(), "missing_after")
        .when(seq.isNull(), "missing_seq")
        .otherwise(F.lit(None).cast("string")))
    row = F.when(op == "d", before).otherwise(after)
    mapped_op = (F.when(op == "u", F.lit("update"))
                 .when(op == "d", F.lit("delete"))
                 .otherwise(F.lit("insert")))

    def good(col: Column) -> Column:
        return F.when(reason.isNull(), col)

    # floor(ts_ms / 1000) is exact here: epoch-ms magnitudes sit far below
    # 2^53, so the double quotient of an exact-multiple numerator rounds
    # to the exact integer and floor() never crosses it.
    cols = [good(seq).alias("seq"), good(mapped_op).alias("op")]
    cols += [good(row.getField(f.name)).alias(f.name)
             for f in row_schema.fields]
    cols += [good(F.floor(ts_ms / F.lit(1000)).cast("long")).alias("ts_s")]
    if txid_field:
        txid = pay.getField("source").getField(txid_field)
        cols += [good(txid).alias("_txid")]
    cols += [reason.alias(DLQ_REASON),
             F.col(value_col).alias(RAW_VALUE)]
    return df.select(*cols)


def split_debezium(decoded: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(clean WAL rows without the markers, dead-letter rows).

    DLQ rows keep ``_raw_value`` + ``_dlq_reason`` plus whatever event
    columns decoded (nulls) so they union-by-name into the engine's
    null-key quarantine store."""
    good = (decoded.where(F.col(DLQ_REASON).isNull())
            .drop(DLQ_REASON, RAW_VALUE))
    bad = decoded.where(F.col(DLQ_REASON).isNotNull())
    return good, bad


def emit_debezium(table, from_version: int, to_version: int | None = None,
                  *, seq_field: str = "lsn", txid_field: str = "txid",
                  ts_col: str = "ts_s",
                  value_col: str = "value") -> DataFrame:
    """The OUTBOUND half of the Debezium boundary: render a lake table's
    change feed between two versions as Debezium envelope strings, so the
    table acts as a CDC *producer* for consumers outside this engine
    (Kafka sinks, other lakes, search indexes) — the closing of the relay
    loop whose inbound half is :func:`decode_debezium`.

    Envelope mapping (exactly what the decoder expects back):

    - ``insert`` → op ``c`` with ``after`` only; ``update_postimage`` →
      op ``u`` with ``after``; ``delete`` → op ``d`` with ``before`` =
      the deleted row's pre-image (nulls omitted by ``to_json``, which
      ``from_json`` reads back as null — Debezium's own wire shape).
    - ``source.<seq_field>`` carries the row's sequence number;
      ``source.<txid_field>`` carries the PRODUCING COMMIT VERSION —
      required because a delete row reuses its pre-image's seq, so seq
      alone cannot order a key's transitions within a drained range
      (see ``read_change_log(with_version=True)``).
    - ``ts_ms = ts_col * 1000`` when the table has ``ts_col``, else 0.
      ``ts_col`` and the seq column ride envelope metadata, NOT the row
      images — the decoder re-injects both, so a round trip restores
      every table column exactly. (Tables without ``ts_col``: the
      decoder manufactures ``ts_s = 0``; drop it before merging into a
      replica that lacks the column.)

    Pure projection over ``read_change_log`` — map-only after the feed
    read, O(changed rows), batch or ``foreachBatch`` alike. Round-trip
    replication = emit → decode → :func:`compact_debezium_batch` →
    ``merge_batch`` (byte-parity test-pinned in
    tests/test_debezium_relay.py)."""
    snap = table.snapshot()
    ch = table.read_change_log(from_version, to_version, with_version=True)
    return debezium_envelopes(
        ch, table_cols=[f.name for f in table.schema.fields],
        seq_col=snap["seq_col"], seq_field=seq_field,
        txid_field=txid_field, ts_col=ts_col, value_col=value_col)


def debezium_envelopes(ch: DataFrame, *, table_cols: list[str],
                       seq_col: str, seq_field: str = "lsn",
                       txid_field: str = "txid", ts_col: str = "ts_s",
                       value_col: str = "value") -> DataFrame:
    """The envelope projection :func:`emit_debezium` applies to a version
    range, factored over ANY change frame (table columns + ``change_type``
    + ``_change_version``, update pre-images already excluded) so a
    STREAMING relay can render each drained micro-batch without a feed
    re-read (streaming/consume.py DebeziumStreamRelay). Map-only."""
    row_cols = [c for c in table_cols if c not in (seq_col, ts_col)]
    image = F.struct(*[F.col(c) for c in row_cols])
    is_del = F.col("change_type") == "delete"
    op = (F.when(is_del, F.lit("d"))
          .when(F.col("change_type") == "insert", F.lit("c"))
          .otherwise(F.lit("u")))
    ts_ms = (F.col(ts_col).cast("long") * F.lit(1000)
             if ts_col in table_cols else F.lit(0).cast("long"))
    payload = F.struct(
        F.when(is_del, image).alias("before"),
        F.when(~is_del, image).alias("after"),
        F.struct(F.col(seq_col).cast("long").alias(seq_field),
                 F.col("_change_version").alias(txid_field)).alias("source"),
        op.alias("op"),
        ts_ms.alias("ts_ms"))
    return ch.select(
        F.to_json(F.struct(payload.alias("payload"))).alias(value_col))


def compact_debezium_batch(decoded: DataFrame,
                           key_cols: list[str]) -> DataFrame:
    """One drained envelope range may span several producer commits
    touching the same key; keep each key's NEWEST transition by ``_txid``
    (from ``decode_debezium(txid_field=...)``) so the batch is mergeable
    as one action per key. The narrow LWW kernel (``lake/lww.py``
    latest_by_max): numeric max + left-semi join-back; ``(key, _txid)``
    is unique because one commit emits at most one non-preimage
    transition per key, so the semi join keeps exactly one row. The same
    compaction the lake-to-lake replicator applies to its change files
    (streaming/replicate.py _compact_changes), at the Debezium
    boundary.

    A null ``_txid`` raises AT EXECUTION (row-wise raise_error, no extra
    pass): a connector that omits source.txId gives this compaction no
    order for the key's transitions, and the max+semi-join would
    otherwise silently DROP every all-null key's row (null never
    equi-joins) — the replica would diverge without a trace. Feeds
    without a usable transaction id must compact upstream or pass a
    populated ``txid_field`` to decode_debezium."""
    if "_txid" not in decoded.columns:
        raise ValueError("compact_debezium_batch needs the _txid column — "
                         "decode with decode_debezium(txid_field=...)")
    decoded = decoded.where(
        F.when(F.col("_txid").isNotNull(), F.lit(True))
         .otherwise(F.raise_error(F.lit(
             "compact_debezium_batch: null _txid — the envelope's "
             "transaction id field is missing/unset for some rows, so "
             "transitions cannot be ordered; fix txid_field= on "
             "decode_debezium or compact upstream"))))
    return latest_by_max(decoded, key_cols, "_txid").drop("_txid")


def encode_debezium_sql(row_cols: tuple[str, ...] = (
        "repo", "path", "commit", "lang", "content"), *,
        dialect: str = "spark", op_col: str = "op", seq_col: str = "seq",
        ts_col: str = "ts_s") -> str:
    """SQL expression rendering a feed row as a Debezium envelope string.

    The SAME expression text runs in Spark and DuckDB (`||` concat, CASE,
    cast) — it exists so tests and the DuckDB oracle can manufacture
    byte-identical envelope corpora from the deterministic change feed
    without any engine-specific JSON writer (whose key ordering would
    differ). ``row_cols`` must be STRING columns whose values contain no
    ``"`` or ``\\`` (true of the generator; real producers escape
    upstream). ``op_col`` holds insert/update/delete."""
    str_t = "string" if dialect == "spark" else "varchar"
    row_json = " || ".join(
        [f"'{{\"{row_cols[0]}\":\"' || {row_cols[0]}"] +
        [f"'\",\"{c}\":\"' || {c}" for c in row_cols[1:]] +
        ["'\"}'"])
    op_letter = (f"CASE {op_col} WHEN 'insert' THEN 'c' "
                 f"WHEN 'update' THEN 'u' ELSE 'd' END")
    return (
        f"'{{\"payload\":{{\"op\":\"' || {op_letter} || "
        f"'\",\"ts_ms\":' || cast({ts_col} * 1000 AS {str_t}) || "
        f"',\"source\":{{\"lsn\":' || cast({seq_col} AS {str_t}) || "
        f"'}},\"before\":' || "
        f"CASE WHEN {op_col} = 'delete' THEN {row_json} ELSE 'null' END || "
        f"',\"after\":' || "
        f"CASE WHEN {op_col} = 'delete' THEN 'null' ELSE {row_json} END || "
        f"'}}}}'")


def faulty_envelope_sql(env_expr: str, *, seq_col: str = "seq",
                        fault_mod: int = 97) -> str:
    """Deterministic fault injector over an envelope expression — the SAME
    text runs in Spark and DuckDB, so oracle and engine agree on exactly
    which records are broken and how:

    - ``seq % fault_mod = 3``: last byte truncated → ``malformed``
    - ``seq % fault_mod = 5``: op letter prefixed with x → ``bad_op``
    """
    return (f"CASE WHEN {seq_col} % {fault_mod} = 3 "
            f"THEN substr(({env_expr}), 1, length(({env_expr})) - 1) "
            f"WHEN {seq_col} % {fault_mod} = 5 "
            f"THEN replace(({env_expr}), '\"op\":\"', '\"op\":\"x') "
            f"ELSE ({env_expr}) END")


def write_debezium_batches(spark, out_dir: str, n_events: int,
                           n_batches: int, *, fault_mod: int | None = None,
                           **gen_kw) -> list[str]:
    """Materialize the deterministic change feed as ordered JSONL WAL
    segments of Debezium envelopes (the directory a
    ``StreamingIngest(wal_format='debezium')`` tails). Mirrors
    ``changefeed.write_changefeed_batches``: each segment generates only
    its own seq range (O(n_events) total). ``fault_mod`` injects
    deterministic undecodable records via :func:`faulty_envelope_sql` to
    exercise the dead-letter path."""
    import os

    from arlas_proc_spark.sources.changefeed import changefeed_df
    os.makedirs(out_dir, exist_ok=True)
    env = encode_debezium_sql(dialect="spark")
    if fault_mod:
        env = faulty_envelope_sql(env, fault_mod=fault_mod)
    sz = (n_events + n_batches - 1) // n_batches
    paths = []
    for b in range(n_batches):
        part = changefeed_df(spark, min((b + 1) * sz, n_events),
                             start=b * sz, **gen_kw)
        p = os.path.join(out_dir, f"batch_{b:05d}")
        (part.selectExpr(f"{env} AS value")
         .coalesce(1).write.mode("overwrite").text(p))
        paths.append(p)
    return paths
