"""Correctness gate: independent oracles for every workload's output.

CDC tables are checked against the last-writer-wins final state that
DuckDB computes from the same parquet WAL files the engine ingested:
per (repo, path) the event with the highest (seq, commit) wins and a
delete winner drops the key. Both sides reduce their table to a row
count plus an order-independent checksum, the bit-xor of a 60-bit md5
prefix of ``repo|path|commit|seq|ts_s|lang|content_sha256`` per row, so
one flipped hash or one resurrected key changes the verdict.

Consumer outputs of the index_refresh workload are checked against the
program's one-shot operators recomputed on the final source state.
"""

from __future__ import annotations

_ROW_COLS = ["repo", "path", "commit", "seq", "ts_s", "lang",
             "content_sha256"]


_FINAL: dict = {}


def duck_final_state(con, wal_paths: list[str]) -> tuple[int, int]:
    """(rows, checksum) of the LWW final state of the given WAL files.
    Computed once per connection and list of files: a run replays each
    of its WALs many times."""
    key = (id(con), tuple(wal_paths))
    if key not in _FINAL:
        _FINAL[key] = _duck_final_state(con, wal_paths)
    return _FINAL[key]


def _duck_final_state(con, wal_paths: list[str]) -> tuple[int, int]:
    files = ", ".join(f"'{p}/*.parquet'" for p in wal_paths)
    row = "concat_ws('|', " + ", ".join(
        f"CAST({c} AS VARCHAR)" for c in _ROW_COLS) + ")"
    got = con.execute(f"""
        WITH feed AS (SELECT * FROM read_parquet([{files}])),
        ranked AS (
          SELECT *, row_number() OVER (PARTITION BY repo, path
                                       ORDER BY seq DESC, commit DESC) rn
          FROM feed),
        final AS (
          SELECT repo, path, commit, seq, ts_s, lang,
                 sha256(content) AS content_sha256
          FROM ranked WHERE rn = 1 AND op <> 'delete')
        SELECT count(*),
               coalesce(bit_xor(('0x' || substr(md5({row}), 1, 15))::BIGINT), 0)
        FROM final""").fetchone()
    return int(got[0]), int(got[1])


def spark_checksum(df) -> tuple[int, int]:
    """(rows, checksum) of a table state, same scheme as the oracle."""
    from pyspark.sql import functions as F
    row = F.concat_ws("|", *[F.col(c).cast("string") for c in _ROW_COLS])
    got = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.bit_xor(F.conv(F.substring(F.md5(row), 1, 15), 16, 10)
                             .cast("long")), F.lit(0)).alias("x")).collect()[0]
    return int(got["n"]), int(got["x"])


def check_table(con, df, wal_paths: list[str]) -> dict:
    want = duck_final_state(con, wal_paths)
    got = spark_checksum(df)
    return {"ok": want == got, "rows": got[0], "oracle_rows": want[0]}


def same_rows(got, want, cols: list[str], float_cols=(),
              digits: int = 6) -> bool:
    """Multiset equality of two small DataFrames on ``cols``; float
    columns are compared rounded to ``digits``."""
    from pyspark.sql import functions as F

    def norm(df):
        return df.select(*[F.round(F.col(c).cast("double"), digits).alias(c)
                           if c in float_cols else F.col(c) for c in cols])
    a, b = norm(got), norm(want)
    return a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()
