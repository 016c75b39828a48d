"""Point-lookup file-skipping A/B: manifest blooms + min/max vs none.

Builds two identical merge-on-read tables (N_GENS append generations of
K keys each over B buckets — interleaved key names, so key RANGES
overlap and min/max alone cannot tell generations apart), one with
bloom sidecars, one without. Measures, per lookup:

- files scanned (deterministic — the actual pruning effect; file sizes
  are uniform here, so the bytes ratio equals the files ratio)
- wall time, interleaved min-of-R (host-noise protocol from
  BENCH/BASELINE.md; at local scale wall is job-overhead-bound, so the
  honest headline is the IO reduction, not the wall ratio)

Run: python BENCH/profile_lookup.py
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from arlas_proc_spark.config import build_session  # noqa: E402
from arlas_proc_spark.lake.table import LakeTable  # noqa: E402

N_GENS = 32      # append generations (files per bucket)
K = 20_000       # keys per generation
B = 8            # buckets
REPS = 5

from pyspark.sql import types as T  # noqa: E402

SCHEMA = T.StructType([
    T.StructField("repo", T.StringType(), False),
    T.StructField("path", T.StringType(), False),
    T.StructField("commit", T.StringType(), True),
    T.StructField("seq", T.LongType(), True),
    T.StructField("content", T.StringType(), True),
])


def build(spark, path, bloom):
    t = LakeTable.create(spark, path, SCHEMA, ["repo", "path"], "seq",
                         n_buckets=B, bloom_bits_per_key=10 if bloom else 0)
    for g in range(N_GENS):
        df = (spark.range(K)
              .selectExpr(
                  f"concat('repo-', lpad(cast(id * {N_GENS} + {g} as string), 8, '0')) AS repo",
                  "'src/main.py' AS path",
                  f"concat('c', cast(id + {g * K} as string)) AS commit",
                  f"cast(id + {g * K} as long) AS seq",
                  f"concat('content-gen{g}-', cast(id as string)) AS content",
                  "'insert' AS op"))
        t.append_batch(df, g)
    return t


def probe(t, gen, i):
    repo = f"repo-{i * N_GENS + gen:08d}"
    df = t.lookup(repo=repo, path="src/main.py")
    t0 = time.time()
    rows = df.collect()
    wall = time.time() - t0
    assert len(rows) == 1 and rows[0].content.startswith(f"content-gen{gen}-")
    return wall, len(df.inputFiles())


def main():
    spark = build_session(master="local[8]", shuffle_partitions=8)
    base = tempfile.mkdtemp(prefix="lookup_ab_")
    t_bloom = build(spark, f"{base}/bloom", bloom=True)
    t_plain = build(spark, f"{base}/plain", bloom=False)
    total_files = len(t_plain.read().inputFiles())
    walls_b, walls_p, files_b, files_p = [], [], [], []
    for r in range(REPS):
        for t, walls, files in ((t_bloom, walls_b, files_b),
                                (t_plain, walls_p, files_p)):
            w, nf = probe(t, gen=r % N_GENS, i=100 + r)
            walls.append(w)
            files.append(nf)
    snap_b = t_bloom.snapshot()
    per_bucket = total_files // B
    print(f"table: {N_GENS} generations x {K} keys, {B} buckets, "
          f"{total_files} files ({per_bucket}/bucket)")
    print(f"bloom lookup:  files {max(files_b)}/{per_bucket} in-bucket, "
          f"wall min {min(walls_b):.3f}s  all {['%.2f' % w for w in walls_b]}")
    print(f"plain lookup:  files {max(files_p)}/{per_bucket} in-bucket, "
          f"wall min {min(walls_p):.3f}s  all {['%.2f' % w for w in walls_p]}")
    side_bytes = sum(
        os.path.getsize(os.path.join(t_bloom.data_dir, e["bloom"]["file"]))
        for fs in snap_b["buckets"].values() for e in fs)
    data_bytes = sum(e["bytes"]
                     for fs in snap_b["buckets"].values() for e in fs)
    print(f"bloom sidecar overhead: {side_bytes/1e6:.2f} MB over "
          f"{data_bytes/1e6:.1f} MB data ({100*side_bytes/data_bytes:.1f}%)")


if __name__ == "__main__":
    main()
