"""Vectorized (Arrow/pandas) row-level transforms for code payloads.

These are the engine's analog of the reference's JVM scalar UDF layer
(``utils/GeoTool.scala:54-398`` — trail/distance/geohash UDFs invoked inside
window projections, ``fragments/FlowFragmentMapper.scala:189-200``): the
payload here is source code, not geometry, so the row-level kernel is
content hashing + language canonicalization. Per the engine contract, all
of it is Arrow-batched pandas UDFs — never per-row Python.

``sha256_content`` honors the vectorized-pandas-UDF contract and is verified
byte-identical to the JVM built-in ``F.sha2(col, 256)`` in tests.
"""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

# canonical language names; keys are lowercase/stripped aliases
_LANG_CANON = {
    "py": "python", "python": "python", "python3": "python",
    "java": "java",
    "scala": "scala", "sc": "scala",
    "go": "go", "golang": "go",
    "rs": "rust", "rust": "rust",
    "c++": "cpp", "cpp": "cpp", "cxx": "cpp",
    "c": "c",
    "js": "javascript", "javascript": "javascript", "node": "javascript",
    "ts": "typescript", "typescript": "typescript",
}


@pandas_udf(T.StringType())
def sha256_content(s: pd.Series) -> pd.Series:
    """sha256 hex digest of UTF-8 content, Arrow-batched.

    Byte-identical to ``F.sha2(col, 256)`` (verified in
    tests/test_functions.py) — the per-row invariant the correctness gate
    checks against the reference replay.
    """
    return s.map(
        lambda v: hashlib.sha256(v.encode("utf-8")).hexdigest() if v is not None else None
    )


@pandas_udf(T.StringType())
def normalize_lang(s: pd.Series) -> pd.Series:
    """Canonicalize dirty language tags ('PY', ' C++ ', 'Golang' → python/cpp/go).

    Unknown tags pass through lowercased/stripped (never nulled) so the
    transform is total and idempotent.
    """
    low = s.str.strip().str.lower()
    return low.map(lambda v: _LANG_CANON.get(v, v) if v is not None else None)


def with_content_hash(df: DataFrame, content_col: str = "content",
                      out_col: str = "content_sha256") -> DataFrame:
    """Append the sha256(content) invariant column, computed by the Arrow
    pandas UDF (engine contract; the same bytes as the JVM ``sha2``)."""
    return df.withColumn(out_col, sha256_content(F.col(content_col)))


def with_normalized_lang(df: DataFrame, lang_col: str = "lang",
                         out_col: str | None = None) -> DataFrame:
    return df.withColumn(out_col or lang_col, normalize_lang(F.col(lang_col)))
