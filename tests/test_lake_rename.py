"""Metadata-only column renames (Iceberg ALTER TABLE … RENAME COLUMN):
one snapshot commit, zero data rewritten; files written before the
rename keep old parquet names and project forward at read time via the
snapshot's rename log. Key/seq/stats lists follow the rename; retired
names are refused on later batches; time travel shows each snapshot's
own names."""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from arlas_proc_spark.lake.table import LakeTable

SCHEMA = T.StructType([
    T.StructField("repo", T.StringType(), False),
    T.StructField("path", T.StringType(), False),
    T.StructField("seq", T.LongType(), True),
    T.StructField("commit", T.StringType(), True),
    T.StructField("lang", T.StringType(), True),
])


def _batch(spark, rows, cols="repo path seq commit lang".split()):
    ddl = {"repo": "string", "path": "string", "seq": "long",
           "commit": "string", "lang": "string", "language": "string",
           "tongue": "string", "file_path": "string",
           "version_seq": "long"}
    schema = ", ".join(f"{c} {ddl[c]}" for c in cols) + ", op string"
    return spark.createDataFrame([r + ("insert",) for r in rows], schema)


def _make(spark, tmp_path, name="t", **kw):
    t = LakeTable.create(spark, str(tmp_path / name), SCHEMA,
                         ["repo", "path"], "seq", n_buckets=4, **kw)
    t.merge_batch(_batch(spark, [
        (f"r{i % 3}", f"f{i}.py", i, f"c{i}", "python" if i % 2 else "go")
        for i in range(12)]), 0)
    return t


def test_rename_is_metadata_only_and_values_survive(spark, tmp_path):
    t = _make(spark, tmp_path)
    files_before = t.file_counts()
    m = t.rename_column("lang", "language")
    assert m["renamed"] == {"from": "lang", "to": "language"}
    assert t.file_counts() == files_before  # zero data rewritten
    got = {(r.repo, r.path): r.language for r in t.read().collect()}
    assert len(got) == 12 and set(got.values()) == {"python", "go"}
    assert "lang" not in t.read().columns


def test_merge_after_rename_lww_across_old_files(spark, tmp_path):
    t = _make(spark, tmp_path)
    t.rename_column("lang", "language")
    t.merge_batch(_batch(spark, [("r0", "f0.py", 100, "cx", "rust")],
                         "repo path seq commit language".split()), 1)
    got = {r.path: (r.seq, r.language)
           for r in t.read().where("repo = 'r0'").collect()}
    assert got["f0.py"] == (100, "rust")      # updated, not duplicated
    assert got["f3.py"] == (3, "python")      # old-file row intact
    assert t.read().count() == 12


def test_retired_name_refused(spark, tmp_path):
    t = _make(spark, tmp_path)
    t.rename_column("lang", "language")
    with pytest.raises(ValueError, match="renamed-away"):
        t.merge_batch(_batch(spark, [("r0", "f0.py", 100, "cx", "zig")]), 2)
    # append path guards too
    with pytest.raises(ValueError, match="renamed-away"):
        t.append_batch(_batch(spark, [("r0", "f0.py", 100, "cx", "zig")]), 3)
    # and overwrite: a full replace carrying the old name would commit the
    # schema [..., language, lang] with every language value null
    with pytest.raises(ValueError, match="renamed-away"):
        t.overwrite(_batch(spark, [("r0", "f0.py", 100, "cx", "zig")])
                    .drop("op"), "ow")
    assert t.schema.fieldNames() == ["repo", "path", "seq", "commit",
                                     "language"]
    assert t.read().count() == 12


def test_key_column_rename_keeps_buckets_and_lookup(spark, tmp_path):
    t = _make(spark, tmp_path)
    t.rename_column("path", "file_path")
    assert t.snapshot()["key_cols"] == ["repo", "file_path"]
    got = t.lookup(repo="r1", file_path="f1.py").collect()
    assert len(got) == 1 and got[0].seq == 1
    # a merge under the new key name updates in place (same bucket)
    t.merge_batch(_batch(spark, [("r1", "f1.py", 50, "cy", "rust")],
                         "repo file_path seq commit lang".split()), 1)
    assert t.read().count() == 12
    assert t.lookup(repo="r1", file_path="f1.py").collect()[0].seq == 50


def test_seq_column_rename(spark, tmp_path):
    t = _make(spark, tmp_path)
    t.rename_column("seq", "version_seq")
    assert t.snapshot()["seq_col"] == "version_seq"
    # LWW still works through the renamed seq
    t.merge_batch(_batch(spark, [("r0", "f0.py", 99, "cz", "zig")],
                         "repo path version_seq commit lang".split()), 1)
    assert t.read().where("path = 'f0.py'").collect()[0].version_seq == 99
    # a stale event loses
    t.merge_batch(_batch(spark, [("r0", "f0.py", 1, "ca", "perl")],
                         "repo path version_seq commit lang".split()), 2)
    assert t.read().where("path = 'f0.py'").collect()[0].lang == "zig"


def test_chained_renames_project_each_epoch(spark, tmp_path):
    t = _make(spark, tmp_path)                      # epoch A: lang
    t.rename_column("lang", "language")
    t.merge_batch(_batch(spark, [("r9", "a.py", 1, "c", "scala")],
                         "repo path seq commit language".split()), 1)
    t.rename_column("language", "tongue")           # epoch B files exist
    t.merge_batch(_batch(spark, [("r9", "b.py", 2, "c", "ruby")],
                         "repo path seq commit tongue".split()), 2)
    got = {r.path: r.tongue for r in t.read().collect()}
    assert got["f0.py"] == "go" and got["a.py"] == "scala" \
        and got["b.py"] == "ruby"


def test_filter_pruning_translates_renamed_stats(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA,
                         ["repo", "path"], "seq", n_buckets=2,
                         stats_cols=["seq", "lang"])
    t.merge_batch(_batch(spark, [
        (f"r{i}", f"f{i}.py", i, f"c{i}", "python" if i < 6 else "go")
        for i in range(12)]), 0)
    t.rename_column("lang", "language")
    rows = t.read(filters=[("language", "=", "go")]).collect()
    assert {r.path for r in rows} == {f"f{i}.py" for i in range(6, 12)}
    assert all(r.language == "go" for r in rows)
    rows = t.read(filters=[("seq", ">=", 10)]).collect()
    assert len(rows) == 2


def test_time_travel_shows_old_names(spark, tmp_path):
    t = _make(spark, tmp_path)
    v0 = t.snapshot()["version"]
    t.rename_column("lang", "language")
    old = t.read_version(v0)
    assert "lang" in old.columns and "language" not in old.columns
    assert old.count() == 12
    assert "language" in t.read().columns


def test_changefeed_across_rename(spark, tmp_path):
    t = _make(spark, tmp_path, changefeed=True)
    t.rename_column("lang", "language")             # data-free version
    t.merge_batch(_batch(spark, [("r0", "f0.py", 100, "cx", "rust")],
                         "repo path seq commit language".split()), 1)
    v = t.snapshot()["version"]
    # log spans the pre-rename commit, the rename, and the post-rename
    # commit — all under the to-version's names
    ch = t.read_change_log(0, v).collect()
    assert all(hasattr(r, "language") for r in ch)
    assert {r.change_type for r in ch} <= {
        "insert", "update_postimage", "delete"}
    langs = {r.language for r in ch if r.change_type == "insert"}
    assert "python" in langs and "go" in langs
    # snapshot diff across the rename sees exactly the one update — a
    # null-filled rename projection would have churned every row
    diff = t.read_changes(v - 2, v).collect()
    assert [r.change_type for r in diff] == ["update_postimage"]
    assert diff[0].language == "rust" and diff[0].path == "f0.py"


def test_rename_validations(spark, tmp_path):
    t = _make(spark, tmp_path)
    with pytest.raises(ValueError, match="no column"):
        t.rename_column("nope", "x")
    with pytest.raises(ValueError, match="already exists"):
        t.rename_column("lang", "seq")
    with pytest.raises(ValueError, match="reserved"):
        t.rename_column("lang", "_tombstone")
    with pytest.raises(ValueError, match="identical"):
        t.rename_column("lang", "lang")


def test_compact_after_rename_rewrites_current_names(spark, tmp_path):
    t = _make(spark, tmp_path)
    t.rename_column("lang", "language")
    t.merge_batch(_batch(spark, [("r0", "f0.py", 100, "cx", "rust")],
                         "repo path seq commit language".split()), 1)
    t.compact(max_files_per_bucket=1)
    got = {r.path: r.language for r in t.read().collect()}
    assert got["f0.py"] == "rust" and got["f3.py"] == "python"
    assert t.read().count() == 12
