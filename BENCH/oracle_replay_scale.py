"""Oracle-checked replay at scaling-run size (r3 VERDICT Next #4).

The 16M/48M-event scaling runs were bench-only: wall-clock measured, but
final-state correctness only ever oracle-checked at ≤16M via the driver
gate's 4k-event feeds. This closes the gap: replay N events through the
FULL engine (LWW compact → Arrow sha256 → bucketed lake MERGE → read
back), and independently compute the converged final state in DuckDB
from the same deterministic generator SQL (sources/changefeed.py emits
both dialects). Compare:

  - row count, and
  - bit_xor over a 60-bit md5 prefix of every row's
    repo|path|commit|seq|ts_s|lang|content_sha256 — an order-independent
    whole-table checksum both engines compute from their OWN md5, so a
    single flipped row, a lost tombstone, or one wrong sha256 flips it.

Usage: python BENCH/oracle_replay_scale.py [n_events] [cpus]
Prints one JSON line with match booleans; exits non-zero on mismatch.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

# connect BEFORE the pyspark import loads the heavy native stack: a
# DuckDB instance created afterwards can fail worker-thread spawn on
# this sandbox's glibc (static-TLS surplus exhausted by the DSOs) —
# see tests/conftest.py for the full story.
import duckdb

_DUCK = duckdb.connect()
_DUCK.execute("select sum(range) from range(1000000)").fetchall()

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from arlas_proc_spark.config import build_session  # noqa: E402

GEN = dict(n_repos=200, files_per_repo=2000)
_ROW = ("repo, '|', path, '|', commit, '|', CAST(seq AS {T}), '|', "
        "CAST(ts_s AS {T}), '|', lang, '|', content_sha256")


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 16_000_000
    cpus = int(sys.argv[2]) if len(sys.argv) > 2 else 32
    out: dict = {"n_events": n}

    # ---- DuckDB side: generator SQL → LWW final state → checksum
    from arlas_proc_spark.sources.changefeed import final_state_sql
    con = _DUCK.cursor()
    con.execute(f"PRAGMA threads={cpus}")
    t0 = time.time()
    row_expr = "concat(" + _ROW.format(T="VARCHAR") + ")"
    ob = con.execute(f"""
        SELECT count(*),
               bit_xor(('0x' || substr(md5({row_expr}), 1, 15))::BIGINT)
        FROM ({final_state_sql(n, **GEN)})""").fetchone()
    out["oracle_rows"], out["oracle_xor"] = int(ob[0]), int(ob[1])
    out["oracle_wall_s"] = round(time.time() - t0, 3)

    # ---- engine side: replay into a lake table, read back, checksum
    spark = build_session(app_name="oracle-replay-scale",
                          master=f"local[{cpus}]", shuffle_partitions=cpus)
    from pyspark.sql import functions as F

    from arlas_proc_spark.cdc.engine import CdcEngine
    from arlas_proc_spark.sources.changefeed import changefeed_df

    tmp = tempfile.mkdtemp(prefix="oracle_replay_")
    try:
        eng = CdcEngine(spark, f"{tmp}/t", n_buckets=cpus)
        t0 = time.time()
        eng.replay(changefeed_df(spark, n, parallelism=cpus * 2, **GEN))
        out["replay_wall_s"] = round(time.time() - t0, 3)
        out["replay_events_per_sec"] = round(n / out["replay_wall_s"], 1)
        t0 = time.time()
        state = eng.state()
        row_str = F.concat(*[
            F.col(c).cast("string") if not lit else F.lit("|")
            for c, lit in [("repo", False), ("x", True), ("path", False),
                           ("x", True), ("commit", False), ("x", True),
                           ("seq", False), ("x", True), ("ts_s", False),
                           ("x", True), ("lang", False), ("x", True),
                           ("content_sha256", False)]])
        sb = state.agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.conv(F.substring(F.md5(row_str), 1, 15), 16, 10)
                      .cast("long")).alias("x")).collect()[0]
        out["spark_rows"], out["spark_xor"] = int(sb["n"]), int(sb["x"])
        out["checksum_wall_s"] = round(time.time() - t0, 3)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        spark.stop()

    out["rows_match"] = out["spark_rows"] == out["oracle_rows"]
    out["xor_match"] = out["spark_xor"] == out["oracle_xor"]
    print(json.dumps(out))
    if not (out["rows_match"] and out["xor_match"]):
        sys.exit(1)


if __name__ == "__main__":
    main()
