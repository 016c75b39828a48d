"""Vectorized UDFs: sha256 invariant (== JVM sha2 bytes), lang canon."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from arlas_proc_spark.functions.content import (
    normalize_lang,
    sha256_content,
    with_content_hash,
)


def test_sha256_matches_jvm_builtin(spark):
    df = spark.createDataFrame(
        [("hello",), ("",), ("def f(): return 1",), (None,)], ["content"])
    got = df.select(
        sha256_content("content").alias("py"),
        F.sha2(F.col("content"), 256).alias("jvm"),
    ).collect()
    for r in got:
        assert r["py"] == r["jvm"]
    assert got[0]["py"] == hashlib.sha256(b"hello").hexdigest()


def test_with_content_hash_both_paths(spark):
    """The Arrow UDF column against the JVM built-in, byte for byte."""
    df = spark.createDataFrame([("abc",)], ["content"])
    r = with_content_hash(df).select(
        "content_sha256", F.sha2(F.col("content"), 256).alias("jvm"))
    a, b = r.collect()[0]
    assert a == b == hashlib.sha256(b"abc").hexdigest()


def test_normalize_lang(spark):
    df = spark.createDataFrame(
        [("PY",), (" C++ ",), ("Golang",), ("python3",), ("weird",), (None,)],
        ["lang"])
    got = [r[0] for r in df.select(normalize_lang("lang")).collect()]
    assert got == ["python", "cpp", "go", "python", "weird", None]
