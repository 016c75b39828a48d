"""LakeTable — an Iceberg-style snapshot table over parquet + JSON manifests.

Why it exists: the sandbox has no Iceberg runtime jar and no network, so the
engine ships its own thin lakehouse layer with the Iceberg semantics the
north rule needs — immutable data files, atomic snapshot commits, schema
evolution without rewrite, MERGE as copy-on-write over only the buckets a
batch touches, and an exactly-once batch ledger stored *in the same atomic
commit* as the data (Iceberg stores this in snapshot summary properties;
same trick here).

Layout::

    table_dir/
      data/v{N}-b{bucket}-{i}.parquet   # immutable; never rewritten in place
      meta/v{N:010d}.json               # snapshot N (atomic O_EXCL create)
      meta/CURRENT                      # name of latest snapshot (rename swap)

Partitioning: rows hash into ``n_buckets`` buckets by key — Iceberg's
``bucket(N, key)`` transform. Hash-bucketing by the FULL key (repo, path) is
the skew defense: a hot repo's files spread uniformly across all buckets, so
no single reducer owns repo_0000 (the reference's ``WithTraversingMission``
``reduceByKey`` on raw id is the anti-pattern this avoids,
``timeseries/WithTraversingMission.scala:81-206``).

Exactly-once: ``merge_batch(batch_id=...)`` is a no-op if that batch_id is
already in the committed ledger; the ledger travels inside the snapshot JSON,
and the snapshot file is created with O_CREAT|O_EXCL then CURRENT is swapped
via atomic rename — a crash between data-file write and snapshot commit
leaves only unreferenced orphan files (reference analog: idempotent ES
doc-id upsert, ``sql/WritableDataFrame.scala:83-86``).

At 100 TB: buckets are the unit of copy-on-write; size ``n_buckets`` so one
bucket ≈ a few GB. The ledger keeps a high-watermark plus recent ids so it
stays O(1) per commit.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import shutil
import time
import uuid
from collections.abc import MutableMapping
from functools import reduce

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel
from pyspark.sql.types import (
    BooleanType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from arlas_proc_spark.lake.cas import DEFAULT_CAS, CasConflict, CommitCAS
from arlas_proc_spark.lake.io import TableIO
from arlas_proc_spark.lake.lww import latest_by_seq
from arlas_proc_spark.lake.schema_evolution import align_to_schema, evolve_schema

_BUCKET = "_bucket"
_TOMB = "_tombstone"
# deletion-vector position columns (internal; exposed by
# read(with_positions=True) so the dv merge can address existing rows)
_DV_FILE = "_dv_file"
_DV_POS = "_dv_pos"
# row-lineage columns (Iceberg v3): exposed by read(with_row_ids=True),
# physically materialized into files on every rewrite
_ROW_ID = "_row_id"
_LUV = "_last_updated_version"
_SKETCH_LG_K = 12  # HLL lgConfigK for ndv sketches (every sidecar uses the
                   # same value so unions never need allowDifferentLgConfigK)
_LEDGER_KEEP = 1024  # retain this many most-recent batch ids below the watermark
_LINEAGE_KEEP = 4096  # lineage files referenced by a snapshot (older ones GC)


class ConcurrentCommitError(RuntimeError):
    """Another writer advanced CURRENT between snapshot read and commit."""


def bucket_expr(key_cols: list[str], n_buckets: int):
    """Iceberg-style bucket transform: pmod(hash(key...), N).

    Deliberately Spark's OWN Murmur3 ``hash`` (not xxhash64): a
    ``repartition(n_buckets, *key_cols)`` then partitions rows by
    pmod(murmur3(key), n_buckets) — the EXACT same expression — so each
    shuffle partition holds exactly one bucket and the partitioned write
    emits one file per bucket with no stragglers. (Hashing the derived
    bucket VALUE instead double-hashes: murmur3(bucket) % P collides,
    leaving some tasks two buckets and some zero.)"""
    return F.pmod(F.hash(*[F.col(c) for c in key_cols]), F.lit(n_buckets))


def routed_bucket_expr(snap: dict):
    """The bucket router every WRITE path must use: ``bucket_expr``
    under the table's bucket count — unless an incremental rebucket
    (``begin_rebucket``/``migrate_buckets``) is in progress, in which
    case keys whose OLD bucket has already been migrated route to their
    new-spec bucket, stored under the transitional id ``old_n + new_b``
    (ids >= old_n are unambiguous: old ids are < old_n; the finalize
    step shifts them down). Migration proceeds over a CONTIGUOUS
    frontier — old buckets ``[0, frontier)`` are migrated — so the
    router is one comparison, not a membership test over thousands of
    bucket ids."""
    kc, n = snap["key_cols"], snap["n_buckets"]
    old = bucket_expr(kc, n)
    mig = snap.get("rebucket")
    if not mig or not int(mig.get("frontier", 0)):
        return old
    new = bucket_expr(kc, int(mig["to_n"])) + F.lit(int(n))
    return F.when(old < F.lit(int(mig["frontier"])), new).otherwise(old)


class _LazyBuckets(MutableMapping):
    """The in-memory view of a sharded manifest: ``snap["buckets"]`` with
    Iceberg's manifest-list storage shape underneath.

    On disk a snapshot holds only a tiny ``manifest_list`` —
    ``{bucket: {manifest, files, rows, bytes}}`` — and each bucket's file
    entries live in their own content-addressed manifest file
    (``meta/m-<sha256[:20]>.json``). This class keeps every existing call
    site working unchanged (``snap["buckets"][b]``, ``.items()``,
    ``.values()``, ``set(snap["buckets"])`` …) while making commit
    metadata IO O(touched buckets):

    - a bucket's entries load lazily on first access and never load for
      buckets a commit doesn't touch;
    - ``clean_ref`` lets the committer carry an untouched bucket's
      manifest reference forward verbatim — zero reads, zero writes;
    - content addressing makes reuse exact: equal entries serialize to
      the same manifest name, so an accidentally re-serialized unchanged
      bucket dedups to a no-op write instead of a duplicate file.

    Why this matters: the r3 layout rewrote ONE whole-table JSON manifest
    per commit — at 100-TB file counts (10^5-10^6 entries) that is a
    multi-hundred-MB driver-side serialize on EVERY commit. Iceberg's
    answer is per-partition manifest files plus a manifest list
    (reference analog: the keyed sink's per-batch incremental index
    writes, ``sql/WritableDataFrame.scala:83-86``); this mirrors it."""

    def __init__(self, meta_dir: str, listing: dict[str, dict]):
        self._meta_dir = meta_dir
        self._listing = dict(listing)   # bucket -> clean on-disk list entry
        self._cache: dict[str, list] = {}   # loaded (or newly set) entries
        self._deleted: set[str] = set()

    # -- mapping protocol ------------------------------------------------
    def __getitem__(self, k: str) -> list:
        if k in self._cache:
            return self._cache[k]
        if k in self._deleted or k not in self._listing:
            raise KeyError(k)
        ref = self._listing[k]
        if not ref.get("manifest"):
            v: list = []
        else:
            with open(os.path.join(self._meta_dir, ref["manifest"])) as f:
                v = json.load(f)["entries"]
        self._cache[k] = v
        return v

    def __setitem__(self, k: str, v: list) -> None:
        self._deleted.discard(k)
        self._cache[k] = v

    def __delitem__(self, k: str) -> None:
        if k not in self:
            raise KeyError(k)
        self._cache.pop(k, None)
        self._deleted.add(k)

    def __iter__(self):
        seen = set(self._cache) | (set(self._listing) - self._deleted)
        return iter(sorted(seen, key=lambda x: (len(x), x)))

    def __len__(self) -> int:
        return len(set(self._cache) | (set(self._listing) - self._deleted))

    def __contains__(self, k) -> bool:
        # the Mapping default probes __getitem__, which would LOAD the
        # manifest just to answer a membership test — keys are known
        return k in self._cache or (k in self._listing
                                    and k not in self._deleted)

    # -- committer fast paths --------------------------------------------
    def clean_ref(self, k: str) -> dict | None:
        """The on-disk list entry for a bucket that provably cannot have
        been mutated in this process (never loaded into the cache) — the
        committer carries it forward without any IO. Loaded buckets
        return None and are re-serialized; content addressing turns the
        unchanged ones into no-op writes."""
        if k in self._cache or k in self._deleted or k not in self._listing:
            return None
        return self._listing[k]

    def summary(self, k: str) -> dict | None:
        """{files, rows, bytes} for a bucket from the manifest LIST alone
        (no manifest load) when the bucket is clean; None otherwise."""
        ref = self.clean_ref(k)
        if ref is None:
            return None
        s = {"files": int(ref.get("files", 0)),
             "rows": int(ref.get("rows", 0)),
             "bytes": int(ref.get("bytes", 0))}
        for opt in ("live", "dead", "max_file_rows"):
            # stats newer than the list entry are OMITTED, never guessed
            # — an absent key means "load the manifest to know"
            if opt in ref:
                s[opt] = int(ref[opt])
        return s


# ---- driver-side Murmur3 replica (Spark's `hash` expression) ----------
# Spark's Murmur3Hash (sql/catalyst HashExpression, seed 42) chains
# per-column hashes: h = hash(col_i, seed=h). Longs hash as two mixed
# 32-bit halves, ints as one, strings as UTF-8 bytes via
# Murmur3_x86_32.hashUnsafeBytes — whose TAIL processes each trailing
# byte individually (sign-extended) through mixK1/mixH1, unlike standard
# murmur3. Replicating it exactly makes `lookup()` bucket computation a
# pure driver-side function: zero Spark jobs before the pruned read.
# Pinned byte-identical against bucket_expr in tests/test_lake_manifest.py.
_M3_C1, _M3_C2 = 0xCC9E2D51, 0x1B873593


def _m3_mix_k1(k1: int) -> int:
    k1 = (k1 * _M3_C1) & 0xFFFFFFFF
    k1 = ((k1 << 15) | (k1 >> 17)) & 0xFFFFFFFF
    return (k1 * _M3_C2) & 0xFFFFFFFF


def _m3_mix_h1(h1: int, k1: int) -> int:
    h1 = (h1 ^ k1) & 0xFFFFFFFF
    h1 = ((h1 << 13) | (h1 >> 19)) & 0xFFFFFFFF
    return (h1 * 5 + 0xE6546B64) & 0xFFFFFFFF


def _m3_fmix(h1: int, length: int) -> int:
    h1 = (h1 ^ length) & 0xFFFFFFFF
    h1 ^= h1 >> 16
    h1 = (h1 * 0x85EBCA6B) & 0xFFFFFFFF
    h1 ^= h1 >> 13
    h1 = (h1 * 0xC2B2AE35) & 0xFFFFFFFF
    return (h1 ^ (h1 >> 16)) & 0xFFFFFFFF


def _m3_hash_int(value: int, seed: int) -> int:
    return _m3_fmix(_m3_mix_h1(seed, _m3_mix_k1(value & 0xFFFFFFFF)), 4)


def _m3_hash_long(value: int, seed: int) -> int:
    v = value & 0xFFFFFFFFFFFFFFFF
    h1 = _m3_mix_h1(seed, _m3_mix_k1(v & 0xFFFFFFFF))
    h1 = _m3_mix_h1(h1, _m3_mix_k1(v >> 32))
    return _m3_fmix(h1, 8)


def _m3_hash_bytes(data: bytes, seed: int) -> int:
    h1 = seed & 0xFFFFFFFF
    n4 = len(data) - len(data) % 4
    for i in range(0, n4, 4):
        h1 = _m3_mix_h1(h1, _m3_mix_k1(int.from_bytes(data[i:i + 4],
                                                      "little")))
    for i in range(n4, len(data)):
        b = data[i]
        if b > 127:           # Java's getByte sign-extends
            b -= 256
        h1 = _m3_mix_h1(h1, _m3_mix_k1(b & 0xFFFFFFFF))
    return _m3_fmix(h1, len(data))


_M3_SUPPORTED = {"long", "integer", "short", "byte", "string"}


def py_bucket(values: list, type_names: list[str], n_buckets: int) -> int | None:
    """pmod(hash(values...), n_buckets) computed driver-side, identical
    to ``bucket_expr``. Returns None when any value's type is outside
    the replicated set (caller falls back to the Spark-job path) —
    never a wrong bucket. Null values hash as pass-through (Spark skips
    them, leaving the running seed unchanged)."""
    h = 42
    for v, t in zip(values, type_names):
        if v is None:
            continue
        if t not in _M3_SUPPORTED:
            return None
        if t == "string":
            h = _m3_hash_bytes(str(v).encode("utf-8"), h)
        elif t == "long":
            h = _m3_hash_long(int(v), h)
        else:  # integer / short / byte all hash via hashInt
            h = _m3_hash_int(int(v), h)
    signed = h - 0x100000000 if h >= 0x80000000 else h
    return ((signed % n_buckets) + n_buckets) % n_buckets


def _manifest_body(entries: list[dict]) -> str:
    """Canonical serialization — the content address must be a pure
    function of the entries, so key order is pinned."""
    return json.dumps({"entries": entries}, sort_keys=True,
                      separators=(",", ":"))


def _buckets_differ(b1, b2, k: str) -> bool:
    """Did bucket ``k``'s file list change between two snapshots? With
    sharded manifests on both sides this is a pure manifest-NAME compare
    (content addressing: same name ⇔ same entries) — the change-feed
    fallback diff stays O(buckets) driver-side dict math with zero
    manifest loads for quiet buckets."""
    in1, in2 = k in b1, k in b2
    if in1 != in2:
        return True
    if not in1:
        return False
    if isinstance(b1, _LazyBuckets) and isinstance(b2, _LazyBuckets):
        r1, r2 = b1.clean_ref(k), b2.clean_ref(k)
        if r1 is not None and r2 is not None:
            return r1.get("manifest") != r2.get("manifest")
    return b1[k] != b2[k]


class LakeTable(TableIO):
    """Snapshot table over parquet + JSON manifests — the bundled
    ``TableIO`` backend (Plan B; ``lake/iceberg.py`` is the real-runtime
    Plan A). All reads are lazy DataFrames."""

    def __init__(self, spark: SparkSession, path: str,
                 cas: "CommitCAS | None" = None):
        self.spark = spark
        self.path = path
        self.meta_dir = os.path.join(path, "meta")
        self.data_dir = os.path.join(path, "data")
        self.lineage_dir = os.path.join(path, "lineage")
        self.changes_dir = os.path.join(path, "changes")
        self.stats_dir = os.path.join(path, "stats")
        # the injectable commit primitive (lake/cas.py): every atomicity
        # decision — snapshot CAS, WAP stage/publish, branch chain, seal
        # — routes through it. Default = posix; an object-store
        # deployment injects conditional-PUT semantics here. All handles
        # on one table must share an equivalent implementation.
        self.cas = cas if cas is not None else DEFAULT_CAS

    # ---------------------------------------------------------------- create
    @classmethod
    def create(cls, spark: SparkSession, path: str, schema: StructType,
               key_cols: list[str], seq_col: str, n_buckets: int = 16,
               changefeed: bool = False,
               stats_cols: list[str] | None = None,
               bloom_bits_per_key: int = 0,
               sketch_cols: list[str] | None = None,
               row_lineage: bool = False,
               cas: "CommitCAS | None" = None) -> "LakeTable":
        """``changefeed=True`` (Delta's delta.enableChangeDataFeed): every
        ``merge_batch`` ALSO writes its change rows (insert /
        update_preimage / update_postimage / delete) as a per-commit file,
        emitted from the merge join itself — so ``read_change_log`` costs
        O(changed rows) instead of a two-snapshot diff over the touched
        buckets. Worth it whenever downstream consumers (incremental
        views, replication) tail the table.

        ``stats_cols`` (default: key columns + seq column) are the columns
        whose per-FILE min/max are recorded in the manifest at write time
        (from the parquet footers the commit already reads for lineage —
        no extra IO). ``read(filters=...)`` / ``lookup`` use them to skip
        whole files before Spark ever plans a scan — Iceberg's
        manifest-level pruning, one tier above parquet row-group stats.
        Pass ``[]`` to disable.

        ``bloom_bits_per_key`` > 0 additionally writes a per-file bloom
        SIDECAR over the key tuple (built by one distributed key-column
        pass per commit, stored next to the data file — Iceberg's puffin
        pattern; the manifest holds only the reference, never the bits).
        Point lookups probe the sidecars to skip files the key cannot be
        in — the LSM per-SSTable bloom, and the defense min/max can't
        give: hash-bucketed keys make every file's key RANGE span the
        alphabet, so range stats never prune them. Worth it on
        merge-on-read tables where a bucket accumulates generations;
        costs one key-column scan + ~bits_per_key bits per row at commit
        time, so it defaults off. Scope note: sidecar bitmaps are
        written executor-side with plain ``open()`` on the table path —
        like the rest of Plan B, the table must live on a
        posix-reachable shared filesystem (the jobs/ CLI documents the
        same constraint); the Iceberg backend (Plan A) has no such
        limit.

        ``sketch_cols``: columns whose per-FILE HLL sketches are written
        to a ``stats/`` sidecar at commit time (Iceberg's puffin
        ``apache-datasketches-theta-v1`` stats, re-expressed with Spark's
        native ``hll_sketch_agg``). ``ndv()`` then answers
        distinct-count questions by UNIONING the live files' sketches —
        a metadata-sized job, no table scan — which a planner uses for
        broadcast/skew decisions. Costs one column-pruned read-back of
        each commit's new files (~the sketch columns' bytes); defaults
        off.

        ``row_lineage=True`` (Iceberg v3 row lineage): every row carries
        a STABLE ``_row_id`` for its whole life — assigned at first
        insert, preserved across updates, deletes (the tombstone keeps
        it), revivals, copy-on-write rewrites, deletion-vector merges
        and compaction — plus ``_last_updated_version``, the commit that
        last CHANGED the row. Read them with
        ``read(with_row_ids=True)``. Mechanics are exactly Iceberg's:
        ids are allocated as per-FILE ranges from a monotone
        ``next_row_id`` counter in the snapshot (each new data file's
        manifest entry records ``first_row_id``; a row's id is its
        materialized ``_row_id`` column if the file carries one, else
        ``first_row_id + row position``), so assignment costs zero
        shuffles and no global ordering; rewrites materialize the
        column, and ranges may be sparse (a rewritten row's slot in its
        new file's range goes unused — Iceberg's documented behavior).
        ``_last_updated_version`` is always materialized at write.
        Downstream, stable row ids are what let a consumer track a row
        across key-preserving updates without diffing payloads.
        Unsupported combinations fail loudly: merge-on-read appends
        (``append_batch``) — a read-time LWW winner from a newer
        generation cannot know its predecessor's id without the merge
        join this mode exists to avoid."""
        if stats_cols is None:
            stats_cols = list(dict.fromkeys(list(key_cols) + [seq_col]))
        if row_lineage:
            # same reserved-name guard read() applies to _dv_file/_dv_pos:
            # a user column named _row_id/_last_updated_version would
            # collide with the materialized lineage columns at every
            # merge and with_row_ids read
            clash = [f.name for f in schema.fields
                     if f.name in (_ROW_ID, _LUV)]
            if clash:
                raise ValueError(
                    f"schema contains reserved row-lineage column(s) "
                    f"{clash}: rename them or create without "
                    f"row_lineage=True")
        t = cls(spark, path, cas=cas)
        os.makedirs(t.meta_dir, exist_ok=True)
        os.makedirs(t.data_dir, exist_ok=True)
        snap = {
            "version": 0,
            "schema": json.loads(schema.json()),
            "key_cols": key_cols,
            "seq_col": seq_col,
            "n_buckets": n_buckets,
            "stats_cols": list(stats_cols),
            "sketch_cols": list(sketch_cols or []),
            "bloom_bits_per_key": int(bloom_bits_per_key),
            "changefeed": bool(changefeed),
            **({"row_lineage": True, "next_row_id": 0}
               if row_lineage else {}),
            "buckets": {},          # bucket -> [{file, schema_v}]
            # scopes: per-stream exactly-once watermarks (Delta txnAppId)
            "ledger": {"scopes": {}, "recent": [], "metrics": {}},
            "schemas": {"0": json.loads(schema.json())},  # schema history
        }
        t._commit_snapshot(snap, expected_version=None)
        return t

    @classmethod
    def exists(cls, spark: SparkSession, path: str) -> bool:
        return os.path.exists(os.path.join(path, "meta", "CURRENT"))

    @classmethod
    def shallow_clone(cls, spark: SparkSession, src_path: str,
                      dest_path: str, *,
                      pin_source_tag: bool = True) -> "LakeTable":
        """Zero-copy clone (Delta ``SHALLOW CLONE``): a NEW table whose
        first snapshot references the source's data files in place —
        one metadata commit, no data IO, however large the source. The
        clone then lives its own life: merges copy-on-write ONLY the
        buckets they touch into the clone's own storage (per-bucket
        divergence), compaction localizes whole buckets, and the
        clone's GC walks only its own data dir, so it can never delete
        source bytes. The sandbox primitive at 100 TB: test a risky
        backfill/migration against the full table for the cost of one
        JSON write, then throw the clone away.

        The source is protected the other way by ``pin_source_tag``
        (default on): clone creation tags the source snapshot, so the
        source's own ``expire_snapshots`` keeps every referenced file
        until the operator explicitly drops the tag — the same
        source-retention hazard Delta documents, made explicit instead
        of implicit. Schema history, evolution logs, ledger (replaying
        an already-applied batch onto the clone stays a no-op — the
        whole point of a convergence sandbox), bucket spec, and any
        in-flight incremental rebucket all carry over; tags do not
        (they pin versions the clone's fresh history doesn't have), and
        on a changefeed source the clone starts with a durable log-gap
        marker (its change history begins at clone time).

        Clones chain: cloning a clone re-points every entry at the root
        that actually stores it."""
        src = cls(spark, src_path)
        s = src.snapshot()
        if cls.exists(spark, dest_path):
            raise ValueError(f"destination {dest_path!r} already holds "
                             f"a table")
        src_roots = s.get("external_roots", {})
        roots: dict[str, str] = {}

        def _root_id(p: str) -> str:
            for k, v in roots.items():
                if v == p:
                    return k
            k = str(len(roots))
            roots[k] = p
            return k

        buckets: dict[str, list[dict]] = {}
        for b in s["buckets"]:
            out = []
            for e in s["buckets"][b]:
                e = dict(e)
                base = (src_roots[e["root"]] if "root" in e
                        else src.data_dir)
                e["root"] = _root_id(base)
                if e.get("dv"):
                    # dv parts carry PER-PART roots (the clone's own
                    # later dv merges will append clone-local parts to
                    # source-rooted entries) — re-point each at the root
                    # that actually stores it
                    ref = dict(e["dv"])
                    parts = []
                    for part in ref.get("files", []):
                        if isinstance(part, str):
                            rel, pbase = part, src.data_dir
                        else:
                            r = part.get("root")
                            rel = part["file"]
                            pbase = (src_roots[str(r)] if r is not None
                                     else src.data_dir)
                        parts.append({"file": rel,
                                      "root": _root_id(pbase)})
                    ref["files"] = parts
                    e["dv"] = ref
                out.append(e)
            buckets[str(b)] = out
        if pin_source_tag:
            # version-qualified: two clones sharing a destination
            # basename must not collide on one tag name (set_tag
            # replaces — the older clone would silently lose its pin)
            name = ("clone-" + "".join(
                c if c.isalnum() or c in "._-" else "-"
                for c in os.path.basename(os.path.abspath(dest_path)))
                + f"-v{s['version']}")
            src.set_tag(name, s["version"])
        t = cls(spark, dest_path)
        os.makedirs(t.meta_dir, exist_ok=True)
        os.makedirs(t.data_dir, exist_ok=True)
        snap = {
            "version": 0,
            "schema": s["schema"],
            "key_cols": list(s["key_cols"]),
            "seq_col": s["seq_col"],
            "n_buckets": s["n_buckets"],
            "stats_cols": list(s.get("stats_cols") or []),
            "bloom_bits_per_key": int(s.get("bloom_bits_per_key", 0)),
            "changefeed": bool(s.get("changefeed")),
            "buckets": buckets,
            "external_roots": roots,
            "mor_buckets": list(s.get("mor_buckets", [])),
            "ledger": json.loads(json.dumps(s["ledger"])),
            "schemas": s["schemas"],
        }
        for opt in ("rename_log", "drop_log", "rebucket", "properties"):
            if s.get(opt):
                snap[opt] = s[opt]
        if snap["changefeed"]:
            # raw-file feed tailers must see that pre-clone changes are
            # unservable (same marker append_batch uses for its gap)
            snap["log_gap_version"] = 0
        t._commit_snapshot(snap, expected_version=None)
        return t

    # ------------------------------------------------------------- snapshots
    def _current_name(self) -> str:
        return self.cas.read_pointer(os.path.join(self.meta_dir, "CURRENT"))

    def snapshot(self) -> dict:
        with open(os.path.join(self.meta_dir, self._current_name())) as f:
            return self._wrap_snap(json.load(f))

    def _wrap_snap(self, raw: dict) -> dict:
        """Materialize the in-memory snapshot view: sharded snapshots
        (``manifest_list``) get a lazy buckets mapping; legacy inline
        snapshots pass through and are sharded by their next commit."""
        ml = raw.pop("manifest_list", None)
        if ml is not None:
            raw["buckets"] = _LazyBuckets(self.meta_dir, ml)
        return raw

    def _manifest_for(self, entries: list[dict]) -> tuple[str | None, dict]:
        """Write-or-reuse the content-addressed manifest file for one
        bucket's entries; returns (manifest name | None, summary). An
        existing file with the same address IS the same content — reuse
        without writing (also makes racing same-content writers
        convergent). Empty buckets store no manifest at all."""
        summary = {"files": len(entries),
                   "rows": sum(int(e.get("rows") or 0) for e in entries),
                   "bytes": sum(int(e.get("bytes") or 0) for e in entries),
                   # dv dead-row total + largest single file ride the
                   # manifest LIST so compact()'s dv_dead_ratio /
                   # target_rows_per_file victim selection stays
                   # O(buckets) metadata — without them every scheduled
                   # maintenance run would load EVERY bucket's manifest
                   # just to discover nothing qualifies
                   "dead": sum(int((e.get("dv") or {}).get("dead", 0))
                               for e in entries),
                   "max_file_rows": max(
                       (int(e.get("rows") or 0) for e in entries),
                       default=0)}
        if all("live" in e for e in entries):
            # live (non-tombstone) row total rides the manifest LIST, so
            # count_rows() on a cow table is one small JSON read; omitted
            # when any entry predates the stat (omission = "scan instead")
            summary["live"] = sum(int(e["live"]) for e in entries)
        if not entries:
            return None, summary
        body = _manifest_body(entries)
        name = f"m-{hashlib.sha256(body.encode()).hexdigest()[:20]}.json"
        target = os.path.join(self.meta_dir, name)
        if not os.path.exists(target):
            tmp = os.path.join(self.meta_dir,
                               f".{name}.tmp.{uuid.uuid4().hex}")
            with open(tmp, "w") as f:
                f.write(body)
                f.flush()
                os.fsync(f.fileno())
            os.replace(tmp, target)
        return name, summary

    def _serialized(self, snap: dict) -> dict:
        """Flatten the in-memory snapshot to its on-disk form: per-bucket
        manifest files written (content-addressed, unchanged buckets
        dedup to no-op writes, clean buckets carry their reference
        forward with zero IO) and ``buckets`` replaced by the
        ``manifest_list``. Shared by the normal commit path and WAP
        staging."""
        buckets = snap.get("buckets", {})
        listing: dict[str, dict] = {}
        for k in list(buckets):
            ref = buckets.clean_ref(k) \
                if isinstance(buckets, _LazyBuckets) else None
            if ref is None:
                mname, summary = self._manifest_for(buckets[k])
                ref = {"manifest": mname, **summary}
            listing[k] = ref
        snap = {k: v for k, v in snap.items() if k != "buckets"}
        snap["manifest_list"] = listing
        return snap

    def _commit_snapshot(self, snap: dict, expected_version: int | None) -> None:
        """Atomic durable commit: O_EXCL-create v{N}.json (fsynced), then
        rename-swap CURRENT (tmp fsynced before the rename, directory
        fsynced after — the classic rename-without-fsync power-loss hole).
        ``expected_version`` is an optimistic-concurrency check: the swap
        only proceeds if CURRENT still names that version (the O_EXCL
        create already serializes same-version writers; this catches a
        competing writer that advanced CURRENT underneath us).

        Commit metadata IO is O(touched buckets), not O(table): buckets
        the commit never loaded carry their manifest reference forward
        verbatim (``clean_ref``); only loaded/assigned buckets are
        re-serialized, and content addressing dedups the unchanged ones
        to zero writes. A failed commit's fresh manifests are orphans —
        ``expire_snapshots`` GCs unreferenced ``m-*.json``."""
        snap = self._serialized(snap)
        # wall-clock commit stamp for TIMESTAMP-AS-OF time travel
        # (version_as_of); raw clock value — a skewed/stepped clock is
        # clamped monotone at READ time, not rewritten here, so the
        # stamp stays an honest record of what the committing host saw
        snap["committed_at"] = round(time.time(), 6)
        name = f"v{snap['version']:010d}.json"
        target = os.path.join(self.meta_dir, name)
        try:
            self.cas.create_exclusive(target, json.dumps(snap))
        except CasConflict:
            # the common conflict ordering: a competitor FULLY committed this
            # version before we got here — same retryable situation as the
            # CURRENT-moved check below, so surface it as the same error
            raise ConcurrentCommitError(
                f"snapshot {name} already exists: another writer committed "
                f"this version; re-read and retry") from None
        try:
            self.cas.swing_pointer(
                os.path.join(self.meta_dir, "CURRENT"), name,
                expected=(f"v{expected_version:010d}.json"
                          if expected_version is not None else None))
        except CasConflict as e:
            self.cas.remove(target)
            raise ConcurrentCommitError(
                f"expected CURRENT=v{expected_version}, found {e.found}: "
                f"another writer committed; re-read and retry") from None

    @property
    def schema(self) -> StructType:
        return StructType.fromJson(self.snapshot()["schema"])

    # ------------------------------------------------------------------ read
    def read(self, buckets: list[int] | None = None,
             snapshot: dict | None = None,
             with_tombstones: bool = False,
             filters: list[tuple] | None = None,
             with_positions: bool = False,
             with_row_ids: bool = False) -> DataFrame:
        """Current table state (optionally restricted to buckets) as the
        live schema. Files written under older schemas are read with their
        own schema and projected up (Iceberg read-time projection).

        Delete tombstones (rows whose latest change was a delete, kept with
        their seq so later-arriving stale inserts lose) are filtered out
        unless ``with_tombstones`` — the merge path needs them.

        Buckets written by ``append_batch`` (merge-on-read mode) may hold
        SEVERAL generations of a key; those buckets are resolved at read
        time with per-key LWW (max (seq, commit)) before tombstone
        filtering — the Iceberg-v2 merge-on-read pattern, with the
        equality-delete implicit in LWW. ``compact()`` collapses the
        generations back to one.

        ``filters`` — conjunctive ``(col, op, value)`` triples, op in
        ``= < <= > >= in`` — prune whole FILES against the manifest's
        per-file min/max stats before Spark plans the scan (Iceberg
        manifest pruning), then apply row-wise to the result. A file is
        skipped only when its stats PROVE no row can match; files without
        stats (older manifests, non-stats columns) are never skipped.
        Merge-on-read buckets prune on KEY-column filters only: a key's
        generations share key values, so key-range pruning can never hide
        a generation from LWW resolution — but a value/seq filter could,
        so those apply only after the resolve.

        Rows masked by a DELETION VECTOR (``merge_batch(dv=True)``) are
        filtered out by a broadcast anti-join on (file, position) before
        any tombstone/LWW/filter logic — a dv-dead row is physically
        absent from the logical table, at every snapshot that references
        that dv state. ``with_positions``: append ``_dv_file`` (the
        manifest-relative file name) and ``_dv_pos`` (the row's
        ``_metadata.row_index``) to every row — the address a dv merge
        needs to supersede it."""
        # callers may hand a raw json.load'ed snapshot — wrap it so a
        # sharded manifest_list materializes as the lazy buckets mapping
        # (idempotent: an already-wrapped snap passes through untouched)
        snap = self._wrap_snap(snapshot) if snapshot else self.snapshot()
        filters = _normalize_filters(filters)
        key_filters = [f for f in filters if f[0] in snap["key_cols"]]
        # a fully-specified key equality additionally probes the per-file
        # bloom sidecars (when the table records them) — key-scoped, so
        # safe for merge-on-read generations like any key filter. Probe
        # only when the caller already bucket-restricted the read (lookup
        # does): each probe is a sidecar open, and an unrestricted read
        # would pay one per file across ALL buckets when the key hashes
        # to exactly one. Values must be str or non-bool int — the only
        # types whose Python str() equals Spark's cast-to-string used at
        # build time (a float probe like 5.0 against a long key would
        # hash '5.0' vs the built '5': a manufactured false negative).
        sel = None if buckets is None else {str(b) for b in buckets}
        eq = {c: v for c, op, v in filters if op == "="}
        probe = None
        if (filters and sel is not None
                and all(k in eq for k in snap["key_cols"])
                and all(type(eq[k]) in (str, int)
                        for k in snap["key_cols"])):
            probe = "|".join(str(eq[k]) for k in snap["key_cols"])
        bloom_cache: dict = {}
        table_schema = StructType.fromJson(snap["schema"])
        tomb_schema = StructType(list(table_schema.fields) +
                                 [StructField(_TOMB, BooleanType(), True)])
        out_schema = tomb_schema if with_tombstones else table_schema
        if with_positions:
            clash = [c for c in (_DV_FILE, _DV_POS)
                     if c in {f.name for f in table_schema.fields}]
            if clash:
                raise ValueError(f"table schema contains reserved "
                                 f"position column(s) {clash}")
            out_schema = StructType(list(out_schema.fields) + [
                StructField(_DV_FILE, StringType(), True),
                StructField(_DV_POS, LongType(), True)])
        if with_row_ids:
            if not snap.get("row_lineage"):
                raise ValueError(
                    "with_row_ids requires a table created with "
                    "row_lineage=True")
            clash = [c for c in (_ROW_ID, _LUV)
                     if c in {f.name for f in table_schema.fields}]
            if clash:
                raise ValueError(f"table schema contains reserved "
                                 f"row-lineage column(s) {clash}")
            out_schema = StructType(list(out_schema.fields) + [
                StructField(_ROW_ID, LongType(), True),
                StructField(_LUV, LongType(), True)])
        mor = {str(b) for b in snap.get("mor_buckets", [])}
        roots = snap.get("external_roots", {})
        cow_entries: list[dict] = []
        mor_entries: list[dict] = []
        # iterate keys, load entries only for selected buckets — on a
        # sharded-manifest snapshot a bucket-restricted read (merge's
        # touched set, lookup's single bucket) opens only those buckets'
        # manifests
        for b in snap["buckets"]:
            if sel is None or b in sel:
                for e in snap["buckets"][b]:
                    # manifest min/max first (free dict math), bloom
                    # second (a sidecar read per surviving file). Stats
                    # are keyed by at-write column names — translate
                    # current-name filters back through any renames
                    # newer than the file.
                    flt = key_filters if b in mor else filters
                    if snap.get("rename_log"):
                        flt = _filters_at(flt, e.get("schema_v", 0),
                                          snap["rename_log"])
                    if not _entry_may_match(e, flt):
                        continue
                    if probe is not None and \
                            not self._bloom_contains(e, probe, bloom_cache,
                                                     roots=roots):
                        continue
                    (mor_entries if b in mor else cow_entries).append(e)
        if not cow_entries and not mor_entries:
            return _provably_empty(self.spark, out_schema)
        dv_entries = [e for e in cow_entries + mor_entries if e.get("dv")]
        need_pos = with_positions or bool(dv_entries) or with_row_ids
        pos_map = None
        if need_pos:
            # (normalized absolute path → manifest identity), built from
            # the SAME _entry_path the scan uses, so the match is exact —
            # never inferred by path surgery over unknown roots. O(selected
            # files) rows, broadcast. with_row_ids adds the per-file
            # first_row_id so lazy ids resolve in the same join.
            pos_map = self.spark.createDataFrame(
                [(os.path.abspath(_entry_path(self.data_dir, roots, e)),
                  e["file"],
                  *((int(e["first_row_id"]),
                     *(e.get("luv_clamp") or (None, None)))
                    if with_row_ids else ()))
                 for e in cow_entries + mor_entries],
                f"_abs string, {_DV_FILE} string"
                + (", _frid long, _luv_a long, _luv_t long"
                   if with_row_ids else ""))
        pos_schema = StructType(list(tomb_schema.fields) + [
            StructField(_DV_FILE, StringType(), True),
            StructField(_DV_POS, LongType(), True)] + ([
            StructField(_ROW_ID, LongType(), True),
            StructField(_LUV, LongType(), True)] if with_row_ids else []))

        def _scan(entries: list[dict]) -> DataFrame:
            # group files by the schema version they were written under so
            # each group scans with a consistent parquet schema, project up
            by_sv: dict[str, list[str]] = {}
            for e in entries:
                by_sv.setdefault(str(e["schema_v"]), []).append(
                    _entry_path(self.data_dir, roots, e))
            parts = []
            for sv, paths in by_sv.items():
                file_schema = StructType.fromJson(snap["schemas"][sv])
                scan_schema = StructType(
                    list(file_schema.fields)
                    + [StructField(_TOMB, BooleanType(), True)]
                    # rewritten files carry materialized lineage columns;
                    # first-write files read them as null and fall back
                    # to first_row_id + position below
                    + ([StructField(_ROW_ID, LongType(), True),
                        StructField(_LUV, LongType(), True)]
                       if with_row_ids else []))
                df = self.spark.read.schema(scan_schema).parquet(*paths)
                if need_pos:
                    # _metadata.file_path is a URI; normalize to a plain
                    # absolute posix path and resolve to the manifest
                    # identity via the exact broadcast map. An unmatched
                    # path raises rather than silently escaping the dv
                    # mask. row_index is the row's physical position —
                    # stable across scans regardless of filters.
                    df = (df.withColumn("_abs", F.regexp_replace(
                              F.col("_metadata.file_path"),
                              "^file:/+", "/"))
                          .withColumn(_DV_POS,
                                      F.col("_metadata.row_index"))
                          .join(F.broadcast(pos_map), "_abs", "left")
                          .withColumn(_DV_FILE, F.coalesce(
                              F.col(_DV_FILE),
                              F.raise_error(F.concat(
                                  F.lit("scanned file missing from the "
                                        "position map: "),
                                  F.col("_abs")))))
                          .drop("_abs"))
                    if with_row_ids:
                        # luv_clamp (set by a multi-commit branch squash):
                        # stamps above the fork base are branch-local
                        # version numbers — rewrite them to the published
                        # version so they never alias later main commits
                        df = (df.withColumn(_ROW_ID, F.coalesce(
                                  F.col(_ROW_ID),
                                  F.col("_frid") + F.col(_DV_POS)))
                              .withColumn(_LUV, F.when(
                                  F.col("_luv_a").isNotNull()
                                  & (F.col(_LUV) > F.col("_luv_a")),
                                  F.col("_luv_t")).otherwise(F.col(_LUV)))
                              .drop("_frid", "_luv_a", "_luv_t"))
                df = _apply_renames(df, int(sv),
                                    snap.get("rename_log", []),
                                    snap.get("drop_log", []))
                parts.append(align_to_schema(
                    df, pos_schema if need_pos else tomb_schema))
            return reduce(lambda a, b: a.unionByName(b), parts)

        if dv_entries:
            # deletion-vector mask: dv parts are per-commit parquet of
            # (file, pos[, tomb]); per-file position sets are MONOTONE
            # supersets across commits (each touching commit's parts are
            # appended to the entry's list), so the union over every
            # referenced part is exactly the current mask — stale rows
            # for files no longer carrying a dv ref are filtered by the
            # semi-join. Broadcast anti-join: the table side never
            # shuffles (the reader holds the mask in memory, the Delta/
            # Iceberg DV reader shape).
            seen: set = set()
            dv_paths: list[str] = []
            for e in dv_entries:
                for part in e["dv"].get("files", []):
                    p = _dv_part_path(self.data_dir, roots, part)
                    if p not in seen:
                        seen.add(p)
                        dv_paths.append(p)
            dv_files = self.spark.createDataFrame(
                [(e["file"],) for e in dv_entries], f"{_DV_FILE} string")
            dvd = (self.spark.read.parquet(*dv_paths)
                   .select(F.col("file").alias(_DV_FILE),
                           F.col("pos").alias(_DV_POS))
                   .join(F.broadcast(dv_files), _DV_FILE, "left_semi"))

            def _mask(df: DataFrame) -> DataFrame:
                return df.join(F.broadcast(dvd), [_DV_FILE, _DV_POS],
                               "left_anti")
        else:
            def _mask(df: DataFrame) -> DataFrame:
                return df

        parts = []
        if cow_entries:
            parts.append(_mask(_scan(cow_entries)))
        if mor_entries:
            # mask BEFORE LWW: a dv-dead generation must never win
            parts.append(latest_by_seq(_mask(_scan(mor_entries)),
                                       snap["key_cols"], snap["seq_col"]))
        df = reduce(lambda a, b: a.unionByName(b), parts)
        if not with_tombstones:
            df = df.where(~F.coalesce(F.col(_TOMB), F.lit(False))).drop(_TOMB)
        if need_pos and not with_positions:
            df = df.drop(_DV_FILE, _DV_POS)
        if filters:
            df = df.where(_filters_to_column(filters))
        return df

    # ---------------------------------------------------------- change feed
    def snapshot_at(self, version: int) -> dict:
        """Snapshot dict for a committed version, for time travel and the
        change feed. Raises ValueError when the version was never
        committed or its manifest was expired by expire_snapshots."""
        p = os.path.join(self.meta_dir, f"v{version:010d}.json")
        if not os.path.exists(p):
            raise ValueError(f"snapshot v{version} not found (never "
                             f"committed, or expired by expire_snapshots)")
        with open(p) as f:
            return self._wrap_snap(json.load(f))

    def bucket_stats(self) -> list[dict]:
        """Per-bucket file/row/byte totals of the CURRENT snapshot, from
        the manifest's recorded parquet-footer stats — a pure driver-side
        JSON read, no Spark job, no data scan. The operational skew
        check: a bucket whose rows dwarf the mean means the bucket
        transform is fighting a pathological key distribution (or
        n_buckets is overdue for ``rebucket``)."""
        snap = self.snapshot()
        mor = {str(b) for b in snap.get("mor_buckets", [])}
        buckets = snap["buckets"]
        out = []
        for b in sorted(buckets, key=int):
            s = buckets.summary(b) if isinstance(buckets, _LazyBuckets) \
                else None
            if s is None:
                files = buckets[b]
                s = {"files": len(files),
                     "rows": sum(int(e.get("rows", 0)) for e in files),
                     "bytes": sum(int(e.get("bytes", 0)) for e in files)}
                if files and all("live" in e for e in files):
                    s["live"] = sum(int(e["live"]) for e in files)
            out.append({"bucket": int(b), **s, "mor": b in mor})
        return out

    def count_rows(self) -> int:
        """Exact live-row count of the current snapshot — Iceberg's
        metadata-only ``SELECT count(*)`` (manifests carry per-file
        record counts, so a bare count never scans data). Here every
        commit records per-file LIVE rows (non-tombstone, from the same
        footer pass lineage already does — see ``_footer_stats``), rolled
        up into the manifest list, so on an all-cow table this is one
        small JSON read: no Spark job, no manifest loads, no data IO, at
        ANY table size.

        Two bucket classes can't be counted from metadata and fall back
        to a (bucket-restricted, column-pruned) Spark count:
        merge-on-read buckets — their generations overlap per key, so
        per-file sums double-count until ``compact()`` folds them — and
        buckets whose manifests predate the ``live`` stat. The fallback
        reads ONLY those buckets; everything else still comes from the
        list."""
        total, fallback = self._count_rows_detail()
        if fallback:
            total += self.read(buckets=fallback).count()
        return total

    def _count_rows_detail(self) -> tuple[int, list[int]]:
        """(metadata-counted live rows, buckets needing a scan) — split
        out so tests can pin WHICH buckets fell back."""
        snap = self.snapshot()
        mor = {str(b) for b in snap.get("mor_buckets", [])}
        buckets = snap["buckets"]
        total = 0
        fallback: list[int] = []
        for b in buckets:
            if b in mor:
                fallback.append(int(b))
                continue
            s = buckets.summary(b) if isinstance(buckets, _LazyBuckets) \
                else None
            if s is not None and "live" in s:
                total += s["live"]
                continue
            entries = buckets[b]
            if all("live" in e for e in entries):
                total += sum(int(e["live"]) for e in entries)
            else:
                fallback.append(int(b))
        return total, sorted(fallback)

    def file_counts(self) -> dict[str, int]:
        """Per-bucket live file counts from the manifest LIST alone — one
        small JSON read, no per-bucket manifest loads. The cheap input
        for operational triggers (e.g. streaming auto-compaction checks
        this every micro-batch)."""
        snap = self.snapshot()
        buckets = snap["buckets"]
        out = {}
        for b in buckets:
            s = buckets.summary(b) if isinstance(buckets, _LazyBuckets) \
                else None
            out[b] = s["files"] if s is not None else len(buckets[b])
        return out

    def lookup(self, **key) -> DataFrame:
        """Point lookup: prune to the ONE bucket the key hashes to, then
        let the key predicate push into that bucket's parquet scan — at
        any table size the read touches 1/n_buckets of the data, and the
        pushed filter skips row groups inside it. The bucket id comes
        from the driver-side Murmur3 replica (``py_bucket``, test-pinned
        byte-identical against ``bucket_expr`` across types) — a point
        lookup launches ZERO Spark jobs before the pruned read; key
        types outside the replicated set fall back to the original
        one-row Spark-expression job, never to a guessed bucket."""
        snap = self.snapshot()
        kc, n = snap["key_cols"], snap["n_buckets"]
        missing = [k for k in kc if k not in key]
        if missing:
            raise ValueError(f"lookup needs all key columns {kc}; "
                             f"missing {missing}")
        if any(key[k] is None for k in kc):
            # SQL equality with NULL matches nothing; preserve the
            # empty-result semantics instead of tripping the filter
            # validator (whose "filter row-wise" advice a lookup caller
            # cannot follow)
            return _provably_empty(self.spark,
                                   StructType.fromJson(snap["schema"]))
        fields = {f.name: f for f in StructType.fromJson(snap["schema"])}
        types = [fields[k].dataType.typeName() for k in kc]
        vals = [key[k] for k in kc]
        mig = snap.get("rebucket")
        b = py_bucket(vals, types, n)
        if b is not None and mig and b < int(mig.get("frontier", 0)):
            # mid-rebucket: the key's old bucket is behind the frontier,
            # so its state lives at the transitional new-spec id
            nb = py_bucket(vals, types, int(mig["to_n"]))
            b = None if nb is None else n + nb
        if b is None:  # unreplicated key type: exact Spark-expression path
            row = self.spark.createDataFrame(
                [tuple(key[k] for k in kc)],
                StructType([fields[k] for k in kc]))
            b = row.select(routed_bucket_expr(snap).alias("b")) \
                   .collect()[0]["b"]
        # key-equality filters prune FILES inside the bucket via manifest
        # min/max (selective after key-sorted compaction), then push into
        # the surviving parquet scans for row-group skipping
        return self.read(buckets=[int(b)], snapshot=snap,
                         filters=[(k, "=", key[k]) for k in kc])

    def rebucket(self, new_n_buckets: int, *,
                 batch_id: str | None = None,
                 target_rows_per_file: int | None = None,
                 cluster_by: list[str] | None = None,
                 cluster_mode: str = "linear") -> dict:
        """Bucket-count evolution: rewrite the table under a new bucket
        transform in one atomic snapshot commit (Iceberg's partition-spec
        evolution, restricted to the bucket width). The day-1 bucket
        count never fits year 2 at 10^10-event scale — this is the
        operational escape hatch. One full read + one clustered write;
        ledger, schema history and changefeed flag carry over, so
        exactly-once ingest continues across the rewrite. Merge-on-read
        generations are LWW-resolved on the way through (the rewrite is
        also a full compaction). ``cluster_by`` / ``cluster_mode``: see
        ``compact`` — rebucket-with-same-count + cluster_by is the way to
        re-layout an ENTIRE table for range pruning (compact only
        rewrites victim buckets)."""
        if target_rows_per_file is not None and target_rows_per_file < 1:
            raise ValueError(f"target_rows_per_file must be >= 1, got "
                             f"{target_rows_per_file}")
        if new_n_buckets < 1:
            raise ValueError("new_n_buckets must be >= 1")
        snap = self.snapshot()
        bid = batch_id or f"rebucket-{snap['version'] + 1}"
        if _ledger_contains(snap["ledger"], bid):
            return {"batch_id": bid, "skipped": True}
        key_cols = snap["key_cols"]
        lineage = bool(snap.get("row_lineage"))
        # read() already resolves mor generations and applies dv masks,
        # and a key lives in one bucket: one row per key, no second LWW
        df = self.read(snapshot=snap, with_tombstones=True,
                       with_row_ids=lineage)
        sort_cols, stats_cols = _clustered_layout(
            snap, cluster_by, df, cluster_mode=cluster_mode)
        out = df.withColumn(_BUCKET, bucket_expr(key_cols, new_n_buckets))
        token = uuid.uuid4().hex[:12]
        staged = self._write_bucket_files(
            snap, out, token, n_buckets=new_n_buckets, sort_cols=sort_cols,
            stats_cols=stats_cols, max_records_per_file=target_rows_per_file)
        snap["buckets"] = {str(b): fs for b, fs in staged.items()}
        snap["mor_buckets"] = []
        snap["n_buckets"] = new_n_buckets
        # a full rewrite supersedes any in-progress incremental rebucket
        snap.pop("rebucket", None)
        metrics = {"batch_id": bid, "rebucketed_to": new_n_buckets}
        # logical no-op for the change log, like compaction
        self._commit_stage(snap, staged, bid, metrics, token=token,
                           changes=_noop_changes(snap))
        self._publish(snap)
        return metrics

    def begin_rebucket(self, to_n_buckets: int) -> dict:
        """Start an INCREMENTAL bucket-count migration (Iceberg
        partition-spec evolution done progressively): a metadata-only
        commit that arms the router; ``migrate_buckets`` then moves K
        old buckets per maintenance pass while ingest continues.

        ``rebucket`` rewrites the whole table in one commit — the right
        call at test scale and a non-starter at 100 TB, where a full
        rewrite is days of cluster time during which ingest must not
        stall. The incremental path keeps every commit O(step):
        migration moves ``frontier`` old buckets at the operator's own
        cadence, and every concurrent merge/append routes each key by
        the CURRENT frontier — old bucket if not yet migrated, new-spec
        bucket (stored under the transitional id ``old_n + new_b``)
        once it is. Because a key's state lives in exactly one bucket
        under the router at all times, LWW/exactly-once semantics are
        untouched mid-migration; the final step shifts transitional ids
        down and flips ``n_buckets``.

        No cancel: the escape hatches are driving ``migrate_buckets``
        to completion, a full ``rebucket`` (which supersedes the
        migration in one rewrite), or ``overwrite`` (full replace)."""
        to_n_buckets = int(to_n_buckets)
        if to_n_buckets < 1:
            raise ValueError("to_n_buckets must be >= 1")

        def _mut(snap: dict) -> tuple[dict, bool]:
            if snap.get("rebucket"):
                raise ValueError(
                    f"a rebucket to {snap['rebucket']['to_n']} buckets "
                    f"is already in progress (frontier "
                    f"{snap['rebucket']['frontier']}/{snap['n_buckets']})"
                    f"; drive migrate_buckets to completion first")
            if to_n_buckets == snap["n_buckets"]:
                raise ValueError(
                    f"table already has {to_n_buckets} buckets; to "
                    f"re-layout in place use rebucket(cluster_by=...)")
            snap["rebucket"] = {"to_n": to_n_buckets, "frontier": 0}
            return {"rebucket_to": to_n_buckets, "frontier": 0,
                    "version": snap["version"] + 1}, True

        return self._metadata_commit(_mut)

    def migrate_buckets(self, count: int = 1, *,
                        batch_id: str | None = None,
                        target_rows_per_file: int | None = None) -> dict:
        """One incremental-rebucket step: move the next ``count`` old
        buckets (the contiguous frontier) to the new spec. Reads ONLY
        those buckets (merge-on-read generations LWW-resolve on the way
        through, tombstones travel — they still out-rank stale late
        arrivals after the move), writes their rows under transitional
        new-spec ids, and commits: O(step) data IO, O(touched-manifest)
        metadata, one CAS snapshot commit that concurrent writers
        either precede or retry against. Different steps carry disjoint
        keys, so a transitional bucket's files never overlap — plain
        cow union at read time.

        The step that moves the LAST old bucket also finalizes in the
        SAME commit: transitional ids shift down by old_n, ``n_buckets``
        becomes the new count, the router disarms. Idempotent per
        ``batch_id`` (default ties to the target version). Returns the
        new frontier; call in a loop (or from the maintenance job) to
        drain."""
        if count < 1:
            raise ValueError("count must be >= 1")
        snap = self.snapshot()
        # ledger FIRST: a redelivered step id (CLI retry after the
        # commit landed — possibly the finalizing step, after which no
        # migration is "in progress" anymore) must be the exactly-once
        # no-op, not an error
        if batch_id is not None and _ledger_contains(snap["ledger"],
                                                     str(batch_id)):
            return {"batch_id": str(batch_id), "skipped": True}
        mig = snap.get("rebucket")
        if not mig:
            raise ValueError("no rebucket in progress; call "
                             "begin_rebucket(to_n) first")
        n, to_n = snap["n_buckets"], int(mig["to_n"])
        fr = int(mig["frontier"])
        bid = batch_id or f"rebucket-step-{snap['version'] + 1}"
        if _ledger_contains(snap["ledger"], bid):
            return {"batch_id": bid, "skipped": True}
        step = list(range(fr, min(fr + count, n)))
        if not step:
            return {"batch_id": bid, "frontier": fr, "done": True,
                    "skipped": True}
        t0 = time.time()
        key_cols = snap["key_cols"]
        df = self.read(step, snapshot=snap, with_tombstones=True,
                       with_row_ids=bool(snap.get("row_lineage")))
        out = df.withColumn(_BUCKET,
                            bucket_expr(key_cols, to_n) + F.lit(int(n)))
        token = uuid.uuid4().hex[:12]
        # repartition(to_n, keys) partitions by pmod(hash(key), to_n) —
        # exactly the new-spec transform — so each task writes exactly
        # one transitional bucket (same alignment trick as merge_batch)
        staged = self._write_bucket_files(
            snap, out, token, n_buckets=to_n,
            max_records_per_file=target_rows_per_file)
        for b in step:
            if str(b) in snap["buckets"]:
                del snap["buckets"][str(b)]
        for b, files in staged.items():
            snap["buckets"][str(b)] = \
                snap["buckets"].get(str(b), []) + files
        # the moved buckets' generations were LWW-resolved by the read;
        # transitional buckets stay cow unless appends marked them mor
        step_set = {str(b) for b in step}
        mor = {str(x) for x in snap.get("mor_buckets", [])} - step_set
        new_frontier = step[-1] + 1
        done = new_frontier >= n
        if done:
            # finalize in the SAME commit: every old bucket is migrated,
            # so all remaining int keys are transitional — shift down
            for k in sorted(list(snap["buckets"]), key=int):
                entries = snap["buckets"][k]
                del snap["buckets"][k]
                snap["buckets"][str(int(k) - n)] = entries
            mor = {str(int(b) - n) for b in mor}
            snap["n_buckets"] = to_n
            snap.pop("rebucket", None)
        else:
            snap["rebucket"] = {"to_n": to_n, "frontier": new_frontier}
        snap["mor_buckets"] = sorted(mor, key=int)
        metrics = {"batch_id": bid, "migrated_buckets": len(step),
                   "frontier": new_frontier if not done else n,
                   "done": done,
                   "wall_s": round(time.time() - t0, 3)}
        # migration never changes logical state: a change-log no-op
        self._commit_stage(snap, staged, bid, metrics, token=token,
                           changes=_noop_changes(snap))
        self._publish(snap)
        return metrics

    def read_version(self, version: int,
                     filters: list[tuple] | None = None) -> DataFrame:
        """Time travel: the table exactly as of a committed snapshot
        (Iceberg ``VERSION AS OF``). Same pruned/lazy read path as
        ``read()`` — including manifest min/max file skipping via
        ``filters`` — just against the historical manifest."""
        return self.read(snapshot=self.snapshot_at(version), filters=filters)

    def version_as_of(self, ts) -> int:
        """The last version committed at or before ``ts`` (epoch seconds,
        ``datetime``, or ISO-8601 string; naive datetimes/strings are
        UTC) — Delta/Iceberg ``TIMESTAMP AS OF`` resolution over the
        retained snapshots. Commit stamps are taken from each committing
        host's clock, so a stepped clock could record a LATER version
        with an EARLIER stamp; resolution clamps stamps monotone by
        version (a version is never "as of" a moment before its
        predecessor — Delta's rule, applied at read instead of rewriting
        history at commit). O(retained versions) driver-side JSON reads,
        no data IO. Raises when ``ts`` predates every retained stamped
        commit — an expired prefix is GONE, not silently rounded up."""
        t = _to_epoch(ts)
        best = None
        eff = None
        for p in sorted(glob.glob(os.path.join(self.meta_dir, "v*.json"))):
            try:
                v = int(os.path.basename(p)[1:-5])
            except ValueError:
                continue
            with open(p) as f:
                ca = json.load(f).get("committed_at")
            if ca is None:
                continue  # pre-feature commit: not addressable by time
            eff = float(ca) if eff is None else max(eff, float(ca))
            if eff <= t:
                best = v
            else:
                break  # effective stamps are monotone in version
        if best is None:
            raise ValueError(
                f"no retained snapshot committed at or before {ts!r} "
                f"(earlier versions were expired, or the table predates "
                f"commit stamps)")
        return best

    def read_as_of(self, ts,
                   filters: list[tuple] | None = None) -> DataFrame:
        """Time travel by wall clock (``TIMESTAMP AS OF``): the table as
        the last commit at or before ``ts`` left it. See
        ``version_as_of`` for stamp semantics."""
        return self.read_version(self.version_as_of(ts), filters=filters)

    def restore(self, version: int | None = None, *,
                timestamp=None) -> dict:
        """Delta ``RESTORE TABLE``: ONE metadata-only commit making the
        table's current state exactly a retained snapshot's — the bad
        deploy's batches are undone without rewriting a byte of data.
        History is preserved: the restore is a NEW version, the undone
        versions stay readable (and expirable) behind it, and a
        re-restore "forward" to any of them is the same operation.
        Zero data IO at any table size: the old snapshot's per-bucket
        manifests are content-addressed and still on disk (``snapshot_at``
        refuses if expired), so the commit carries their references
        forward verbatim.

        The restored snapshot includes the LEDGER as of that version —
        deliberately: keeping the current ledger would make every undone
        batch id a silent no-op on redelivery, losing it forever.
        Restoring the ledger means undone batches re-apply when a
        producer re-sends them (a Structured Streaming checkpoint does
        NOT re-send by itself — resume with a fresh checkpoint to
        re-ingest the undone range). Tags are kept from the CURRENT
        snapshot (they are refs to versions, not state — and they keep
        protecting the undone versions from GC).

        On a changefeed table the restore stamps ``log_gap_version``
        (the state jump has no change file): ``read_change_log`` serves
        it by snapshot diff, while raw-file tailers
        (ChangeLogReplicator / ChangeFeedConsumer) refuse and must
        re-seed — silently skipping an undo would diverge every
        replica."""
        if (version is None) == (timestamp is None):
            raise ValueError(
                "restore: pass exactly one of version= / timestamp=")
        if version is None:
            version = self.version_as_of(timestamp)
        version = int(version)
        last_err: Exception | None = None
        for _ in range(4):
            cur = self.snapshot()
            if version == int(cur["version"]):
                return {"restored_to": version,
                        "version": version, "noop": True}
            old = self.snapshot_at(version)
            new = dict(old)
            new["version"] = int(cur["version"]) + 1
            if new.get("row_lineage"):
                # the id counter must stay MONOTONE across a rollback
                # (Iceberg v3 keeps next-row-id in table metadata for
                # exactly this): restoring the old counter would make
                # post-restore writes re-issue _row_id ranges already
                # assigned by the undone — but retained and taggable —
                # versions, so two different rows would share a "stable"
                # id on the same history line
                new["next_row_id"] = max(int(old.get("next_row_id", 0)),
                                         int(cur.get("next_row_id", 0)))
            if cur.get("tags"):
                new["tags"] = cur["tags"]
            else:
                new.pop("tags", None)
            new.pop("changes", None)
            if new.get("changefeed"):
                new["log_gap_version"] = new["version"]
            try:
                self._commit_snapshot(
                    new, expected_version=int(cur["version"]))
                return {"restored_to": version,
                        "version": int(new["version"])}
            except ConcurrentCommitError as e:
                last_err = e
        raise last_err

    # --------------------------------------------------- metadata commits
    def _metadata_commit(self, mutate, branch: str | None = None) -> dict:
        """Retried metadata-only commit (tags, config flags, empty
        batches). Each of 4 attempts re-reads the snapshot (the
        ``branch`` head when given) fresh and applies
        ``mutate(snap) -> (result, commit)``: mutate edits ``snap`` in
        place and returns the caller-facing result plus whether a commit
        is needed (``False`` short-circuits — the no-op case). On commit,
        the version bumps and an EMPTY ``changes`` entry is stamped so
        CDF tailers see a data-free version step instead of a log gap.
        No data file is written, so no lineage file either; only the
        publish step is shared with the data writers."""
        last_err: Exception | None = None
        for _ in range(4):
            snap = self._branch_head(branch) if branch is not None \
                else self.snapshot()
            result, commit = mutate(snap)
            if not commit:
                return result
            snap["changes"] = _noop_changes(snap)
            snap["version"] += 1
            try:
                self._publish(snap, branch=branch)
                return result
            except ConcurrentCommitError as e:
                last_err = e
        raise last_err

    # ------------------------------------------------------------------ tags
    def set_tag(self, name: str, version: int | None = None) -> dict:
        """Pin a committed snapshot under a name (Iceberg tag refs): the
        tagged manifest — and every data file it references — SURVIVES
        ``expire_snapshots`` until the tag is dropped. The way to freeze
        a released corpus/table version while routine retention keeps
        GCing the rest. Metadata-only commit; concurrency-retried like
        any data-free commit. ``version=None`` resolves "current" ONCE,
        before the retry loop — a lost CAS must re-attempt tagging the
        version the caller observed, not silently pin whatever a
        concurrent writer committed meanwhile."""
        v = (self.snapshot()["version"] if version is None
             else int(version))

        def _pin(snap: dict) -> tuple[dict, bool]:
            self.snapshot_at(v)  # must exist (and not be expired)
            tags = dict(snap.get("tags", {}))
            tags[name] = v
            snap["tags"] = tags
            return {"tag": name, "version": v}, True

        return self._metadata_commit(_pin)

    def drop_tag(self, name: str) -> dict:
        """Remove a tag; the pinned snapshot becomes expirable again."""

        def _drop(snap: dict) -> tuple[dict, bool]:
            tags = dict(snap.get("tags", {}))
            if name not in tags:
                raise ValueError(f"tag {name!r} does not exist "
                                 f"(tags: {sorted(tags)})")
            v = tags.pop(name)
            snap["tags"] = tags
            return {"tag": name, "version": v, "dropped": True}, True

        return self._metadata_commit(_drop)

    def tags(self) -> dict[str, int]:
        return dict(self.snapshot().get("tags", {}))

    def rename_column(self, old: str, new: str) -> dict:
        """Metadata-only column rename (Iceberg ``ALTER TABLE … RENAME
        COLUMN``): one snapshot commit, zero data rewritten. Files
        written before the rename keep the old parquet column name and
        are projected forward at read time through the snapshot's
        rename log (the name-mapping analog of Iceberg's field-id
        indirection); manifest min/max pruning translates current-name
        filters back to each file's at-write names. Key/seq/stats
        column lists follow the rename — bucket assignment hashes
        VALUES, so renaming a key column never moves a row.

        Time travel is exact: each snapshot carries only the renames
        committed at or before it, so ``read_version`` of an older
        version shows the old name. After the rename, batches must use
        the NEW name — a batch still carrying a retired name fails
        loudly (it would otherwise evolve the old name back in as a
        fresh null-filled column and silently fork the data).

        Reference analog: the reference renames columns eagerly with
        ``withColumnRenamed`` per frame (transform/WithCols.scala-style
        lineage); a lake table must do it in metadata or rewrite
        everything."""
        if old == new:
            raise ValueError("rename_column: old and new are identical")
        if new in (_TOMB, _BUCKET) or new.startswith("_"):
            raise ValueError(f"rename_column: {new!r} is reserved "
                             f"(underscore-prefixed names are internal)")

        def _mut(snap: dict) -> tuple[dict, bool]:
            schema = StructType.fromJson(snap["schema"])
            names = [f.name for f in schema.fields]
            if old not in names:
                raise ValueError(f"rename_column: no column {old!r} "
                                 f"(have {names})")
            if new in names:
                raise ValueError(f"rename_column: column {new!r} "
                                 f"already exists")
            new_schema = StructType([
                StructField(new, f.dataType, f.nullable, f.metadata)
                if f.name == old else f for f in schema.fields])
            sv = _schema_v(snap) + 1
            snap["schemas"][str(sv)] = json.loads(new_schema.json())
            snap["schema"] = json.loads(new_schema.json())
            log = list(snap.get("rename_log", []))
            log.append({"from": old, "to": new, "schema_v": sv})
            snap["rename_log"] = log
            snap["key_cols"] = [new if k == old else k
                                for k in snap["key_cols"]]
            if snap.get("seq_col") == old:
                snap["seq_col"] = new
            if snap.get("stats_cols"):
                snap["stats_cols"] = [new if c == old else c
                                      for c in snap["stats_cols"]]
            if snap.get("sketch_cols"):
                # sidecar rows are keyed by the WRITE-TIME name, so files
                # sketched under the old name drop out of ndv coverage
                # until compaction rewrites them (same convergence rule
                # as enabling sketches on an existing table)
                snap["sketch_cols"] = [new if c == old else c
                                       for c in snap["sketch_cols"]]
            return {"renamed": {"from": old, "to": new},
                    "schema_v": sv, "version": snap["version"] + 1}, True

        return self._metadata_commit(_mut)

    def add_column(self, name: str, dtype) -> dict:
        """Explicit metadata-only column add (Iceberg ``ALTER TABLE …
        ADD COLUMN``): one snapshot commit, zero data rewritten. The
        new column is nullable — every existing row reads NULL (the
        same projection batch-driven evolution uses). ``dtype`` is a
        DDL type string (``"double"``, ``"array<string>"``) or a
        ``DataType``. Adding a name retired by a rename is refused (it
        would fork the renamed column's history); adding a name freed
        by ``drop_column`` is a brand-new column — the drop log keeps
        the old bytes masked."""
        if isinstance(dtype, str):
            dtype = StructType.fromDDL(f"`{name}` {dtype}")[0].dataType
        if name.startswith("_"):
            raise ValueError(f"add_column: {name!r} is reserved "
                             f"(underscore-prefixed names are internal)")

        def _mut(snap: dict) -> tuple[dict, bool]:
            schema = StructType.fromJson(snap["schema"])
            if name in [f.name for f in schema.fields]:
                raise ValueError(f"add_column: column {name!r} "
                                 f"already exists")
            _check_retired_names([name], snap)
            new_schema = StructType(list(schema.fields) +
                                    [StructField(name, dtype, True)])
            sv = _schema_v(snap) + 1
            snap["schemas"][str(sv)] = json.loads(new_schema.json())
            snap["schema"] = json.loads(new_schema.json())
            return {"added": {"name": name,
                              "type": dtype.simpleString()},
                    "schema_v": sv, "version": snap["version"] + 1}, True

        return self._metadata_commit(_mut)

    def drop_column(self, name: str) -> dict:
        """Metadata-only column drop (Iceberg ``ALTER TABLE … DROP
        COLUMN``): one snapshot commit, zero data rewritten. Files
        written before the drop keep the physical parquet column; the
        read path masks it through the snapshot's drop log (the
        field-id-retirement analog of Iceberg's drop), so it never
        surfaces — and, crucially, never RESURRECTS: a later batch may
        reuse the name, which evolves in as a brand-new column whose
        value is NULL for every row written before the re-add, exactly
        Iceberg's drop-then-add semantics. ``compact()`` rewrites under
        the current schema, so the bytes physically disappear at the
        table's own maintenance cadence instead of in a synchronous
        100-TB rewrite.

        Key and sequence columns cannot be dropped (they define row
        identity and LWW ordering for every existing file). Time travel
        is exact: each snapshot carries only the drops committed at or
        before it, so ``read_version`` of an older version still shows
        the column with its values.

        Reference analog: the reference narrows frames eagerly with
        ``drop`` per transformer (``transform/ArlasTransformer.scala``
        lineage); a lake table must retire the column in metadata or
        rewrite everything."""
        def _mut(snap: dict) -> tuple[dict, bool]:
            schema = StructType.fromJson(snap["schema"])
            names = [f.name for f in schema.fields]
            if name not in names:
                raise ValueError(f"drop_column: no column {name!r} "
                                 f"(have {names})")
            if name in snap["key_cols"]:
                raise ValueError(f"drop_column: {name!r} is a key column")
            if name == snap.get("seq_col"):
                raise ValueError(f"drop_column: {name!r} is the sequence "
                                 f"column")
            new_schema = StructType([f for f in schema.fields
                                     if f.name != name])
            sv = _schema_v(snap) + 1
            snap["schemas"][str(sv)] = json.loads(new_schema.json())
            snap["schema"] = json.loads(new_schema.json())
            log = list(snap.get("drop_log", []))
            log.append({"name": name, "schema_v": sv})
            snap["drop_log"] = log
            if snap.get("stats_cols"):
                snap["stats_cols"] = [c for c in snap["stats_cols"]
                                      if c != name]
            if snap.get("sketch_cols"):
                snap["sketch_cols"] = [c for c in snap["sketch_cols"]
                                       if c != name]
            return {"dropped": name, "schema_v": sv,
                    "version": snap["version"] + 1}, True

        return self._metadata_commit(_mut)

    def set_bloom_bits(self, bits_per_key: int) -> dict:
        """Change the table's bloom-sidecar density (metadata-only commit).
        Takes effect on FUTURE data commits: every write path reads the
        flag from the current snapshot, so new files gain sidecars at the
        new density while existing files keep (or lack) theirs — a file
        without a sidecar is simply never skipped, so flipping the flag
        is always safe. This is how blooms are enabled on a table that
        was created without them."""
        bits_per_key = int(bits_per_key)
        if bits_per_key < 0:
            raise ValueError("bits_per_key must be >= 0")

        def _flip(snap: dict) -> tuple[dict, bool]:
            if int(snap.get("bloom_bits_per_key", 0)) == bits_per_key:
                return {"bloom_bits_per_key": bits_per_key,
                        "changed": False}, False
            snap["bloom_bits_per_key"] = bits_per_key
            return {"bloom_bits_per_key": bits_per_key,
                    "changed": True}, True

        return self._metadata_commit(_flip)

    def set_sketch_cols(self, cols: list[str]) -> dict:
        """Change which columns get per-file NDV sketches (metadata-only
        commit; same enable-anytime rule as ``set_bloom_bits``). Takes
        effect on FUTURE data commits — files written before enablement
        simply have no sketch rows, so ``ndv()`` reports them as
        uncovered; coverage converges as cow ingest rewrites buckets
        (every write path re-sketches whatever it writes), or
        immediately after a full re-layout — ``rebucket(n_buckets)`` —
        which rewrites (and therefore sketches) every file. Pass ``[]``
        to disable."""
        cols = list(cols)
        schema_names = [f.name for f in self.schema.fields]
        for c in cols:
            if c.startswith("_"):
                raise ValueError(f"set_sketch_cols: {c!r} is reserved")
            if c not in schema_names:
                raise ValueError(f"set_sketch_cols: no column {c!r} "
                                 f"(have {schema_names})")

        def _flip(snap: dict) -> tuple[dict, bool]:
            if list(snap.get("sketch_cols") or []) == cols:
                return {"sketch_cols": cols, "changed": False}, False
            snap["sketch_cols"] = cols
            return {"sketch_cols": cols, "changed": True}, True

        return self._metadata_commit(_flip)

    def ndv(self, cols: list[str] | None = None,
            version: int | None = None) -> dict:
        """Approximate distinct counts from the sketch sidecars alone —
        no table scan. Returns ``{col: {"ndv", "covered_files",
        "live_files"}}``; when ``covered_files == live_files`` the
        estimate covers the whole table.

        How: every commit wrote one HLL sketch per (new file, sketch
        column) into ``stats/``; this unions the sketches of the
        snapshot's LIVE files (``hll_union_agg``). Accuracy is the
        HLL lgK=12 bound (~1.6% RSE) regardless of how values spread
        across files — and EXACT while total cardinality stays in the
        sparse/coupon regime (small dimension columns). Note a full-scan
        ``hll_sketch_agg`` is itself a union of per-partition partials,
        so it is no more canonical than this metadata path; both are
        estimates of the same live multiset (tolerance-pinned in
        tests/test_lake_sketch.py against exact counts).
        Work is O(live files × sketch cols) metadata rows;
        at 10^6 files that is one small shuffle, never a data read —
        Iceberg's puffin-stats read path (reference analog: the engine
        keeps no stats at all and re-scans,
        ``sql/WritableDataFrame.scala:83-86`` is write-only).

        Semantics at the edges: tombstoned rows are excluded at sketch
        time; copy-on-write rewrites re-sketch the whole touched bucket,
        so a cow table's estimate tracks current content. Merge-on-read
        generations each carry their own sketch — the union counts
        values OVERWRITTEN by later generations too (HLL cannot
        retract), an overcount bounded by update churn that compaction
        resets. Files written before sketches were enabled (or under a
        since-renamed column) show up in ``live_files - covered_files``
        rather than silently skewing the estimate."""
        snap = self.snapshot() if version is None else self.snapshot_at(version)
        configured = list(snap.get("sketch_cols") or [])
        cols = list(cols) if cols is not None else configured
        if not cols:
            raise ValueError("ndv: no columns requested and no "
                             "sketch_cols configured")
        live = sorted({e["file"] for fs in snap["buckets"].values()
                       for e in fs})
        out = {c: {"ndv": 0, "covered_files": 0, "live_files": len(live)}
               for c in cols}
        dirs = sorted(glob.glob(os.path.join(self.stats_dir, "sk-*")))
        if not live or not dirs:
            return out
        sk = (self.spark.read.parquet(*dirs)
              .where(F.col("column").isin(cols)))
        live_df = self.spark.createDataFrame([(f,) for f in live],
                                             "file string")
        rows = (sk.join(F.broadcast(live_df), "file")
                  .groupBy("column")
                  .agg(F.hll_sketch_estimate(
                           F.hll_union_agg("sketch", F.lit(False))
                       ).alias("ndv"),
                       F.countDistinct("file").alias("covered"))
                  .collect())
        for r in rows:
            out[r["column"]]["ndv"] = int(r["ndv"])
            out[r["column"]]["covered_files"] = int(r["covered"])
        return out

    def read_tag(self, name: str,
                 filters: list[tuple] | None = None) -> DataFrame:
        """The table as of the tagged snapshot (same pruned read path)."""
        tags = self.snapshot().get("tags", {})
        if name not in tags:
            raise ValueError(f"tag {name!r} does not exist "
                             f"(tags: {sorted(tags)})")
        return self.read_version(int(tags[name]), filters=filters)

    def read_changes(self, from_version: int,
                     to_version: int | None = None, *,
                     include_update_preimages: bool = False) -> DataFrame:
        """Row-level change feed between two committed snapshots — the
        downstream half of a CDC engine (Delta CDF / Iceberg
        changelog-scan analog): what would a consumer at ``from_version``
        have to apply to reach ``to_version``?

        Output: the live table columns plus ``change_type`` ∈
        {'insert', 'update_postimage', 'delete'} — the post-image for
        inserts/updates, the pre-image row for deletes (projected up to
        the current schema; dropped-in-between values read as null).
        With ``include_update_preimages`` each updated key ALSO emits its
        old row as 'update_preimage' (Delta CDF's four-type feed) — the
        retraction stream that lets a downstream consumer maintain
        additive aggregates in O(delta) (see lake/ivm.py).
        Unchanged keys emit nothing; a key whose winner is identical in
        both snapshots (same seq/commit) emits nothing even if its
        bucket was rewritten in between.

        Scale shape: both snapshot reads are pruned to the buckets whose
        file lists DIFFER between the manifests (driver-side JSON
        compare — no data touched for quiet buckets), then one
        key-partitioned full-outer join over just those buckets. Cost is
        O(changed buckets), not O(table)."""
        cur_v = self.snapshot()["version"]
        if to_version is None:
            to_version = cur_v
        if not 0 <= from_version <= to_version <= cur_v:
            raise ValueError(f"need 0 <= from {from_version} <= to "
                             f"{to_version} <= current {cur_v}")
        s2 = self.snapshot_at(to_version)
        table_schema = StructType.fromJson(s2["schema"])
        out_schema = StructType(list(table_schema.fields) +
                                [StructField("change_type", StringType(),
                                             True)])
        if from_version == to_version:
            return (self.spark.createDataFrame([], out_schema)
                    .where(F.lit(False)))
        s1 = self.snapshot_at(from_version)
        # snapshots persist mor_buckets as JSON (strings or ints depending
        # on writer) — normalize to int so the membership test below is
        # live, not vacuously False
        mor1 = {int(x) for x in s1.get("mor_buckets", [])}
        mor2 = {int(x) for x in s2.get("mor_buckets", [])}
        changed = sorted(
            (int(b) for b in set(s1["buckets"]) | set(s2["buckets"])
             if _buckets_differ(s1["buckets"], s2["buckets"], b)
             or (int(b) in mor1) != (int(b) in mor2)),
        )
        if not changed:
            return (self.spark.createDataFrame([], out_schema)
                    .where(F.lit(False)))
        kc, seq_col = s2["key_cols"], s2["seq_col"]
        tomb_schema = StructType(list(table_schema.fields) +
                                 [StructField(_TOMB, BooleanType(), True)])
        # a rename between the snapshots leaves the from-side frame under
        # its old names — project it forward before aligning, or the
        # renamed column null-fills and every row looks "changed"
        old_f = self.read(buckets=changed, snapshot=s1,
                          with_tombstones=True)
        s1_top = max((int(v) for v in s1.get("schemas", {})), default=0)
        old_f = _apply_renames(old_f, s1_top, s2.get("rename_log", []),
                               s2.get("drop_log", []))
        old = align_to_schema(old_f, tomb_schema)
        new = self.read(buckets=changed, snapshot=s2, with_tombstones=True)
        non_key = [f.name for f in table_schema.fields if f.name not in kc]
        pack = [*non_key, _TOMB]
        o = old.select(*kc, F.struct(*pack).alias("_o"))
        n = new.select(*kc, F.struct(*pack).alias("_n"))
        j = o.join(n, kc, "full_outer")
        alive_o = (F.col("_o").isNotNull()
                   & ~F.coalesce(F.col(f"_o.{_TOMB}"), F.lit(False)))
        alive_n = (F.col("_n").isNotNull()
                   & ~F.coalesce(F.col(f"_n.{_TOMB}"), F.lit(False)))
        # "changed" mirrors the LWW winner rule: (seq, commit) when the
        # table carries a commit column, else seq alone
        moved = ~F.col(f"_o.{seq_col}").eqNullSafe(F.col(f"_n.{seq_col}"))
        if "commit" in non_key:
            moved = moved | ~F.col("_o.commit").eqNullSafe(
                F.col("_n.commit"))
        ct = (F.when(alive_n & ~alive_o, F.lit("insert"))
              .when(alive_o & alive_n & moved, F.lit("update_postimage"))
              .when(alive_o & ~alive_n, F.lit("delete")))
        # one pass over the join: each key yields 0-2 output rows built as
        # an array of structs and exploded (explode drops the null array
        # of unchanged keys), so the pre-image variant never re-reads or
        # re-joins the snapshots
        post = F.struct(
            *[F.when(ct == "delete", F.col(f"_o.{c}"))
              .otherwise(F.col(f"_n.{c}")).alias(c) for c in non_key],
            ct.alias("change_type"))
        rows = F.when(ct.isNotNull(), F.array(post))
        if include_update_preimages:
            pre = F.struct(
                *[F.col(f"_o.{c}").alias(c) for c in non_key],
                F.lit("update_preimage").alias("change_type"))
            rows = (F.when(ct == "update_postimage", F.array(pre, post))
                    .otherwise(rows))
        return (j.select(*kc, F.explode(rows).alias("_r"))
                .select(*kc,
                        *[F.col(f"_r.{c}").alias(c) for c in non_key],
                        F.col("_r.change_type").alias("change_type"))
                .select(*[f.name for f in out_schema.fields]))

    # ----------------------------------------------------------------- merge
    def merge_batch(self, batch: DataFrame, batch_id: int | str, *,
                    commit_retries: int = 0, **kwargs) -> dict:
        """Exactly-once keyed MERGE — see :meth:`_merge_batch_attempt`
        for the full semantics and keyword surface.

        ``commit_retries``: when another writer wins the snapshot CAS
        mid-merge, re-run the WHOLE merge against the fresh snapshot up
        to this many times instead of surfacing
        ``ConcurrentCommitError`` — concurrent writers then CONVERGE
        (each retry re-reads current state, and the loser's batch id
        never reached the ledger, so the re-merge stays exactly-once;
        its staged files are GC-able orphans). Default 0 keeps the
        fail-fast contract for callers that coordinate externally.
        WAP staging collisions (same ``wap_id`` already staged) are
        NEVER retried — an id conflict cannot resolve by retrying.

        Each retry FIRST attempts a metadata-only commit rebase
        (:meth:`_try_rebase`): when every commit that landed since this
        merge's base snapshot touched a provably DISJOINT set of buckets
        (and nothing global — schema, bucket spec, rename/drop logs —
        moved), the loser's already-staged files are still exactly
        right, so it re-commits by attaching its per-bucket manifests to
        the winner's snapshot: zero recompute, zero data IO. Only when
        the conflict is not provably disjoint does the retry fall back
        to the full re-merge. Each rebase attempt (like each re-merge)
        consumes one retry."""
        attempt = 0
        while True:
            ctx: dict = {}
            try:
                return self._merge_batch_attempt(batch, batch_id,
                                                 _rebase_ctx=ctx, **kwargs)
            except ConcurrentCommitError:
                if kwargs.get("wap_id") is not None:
                    raise
                attempt += 1
                if attempt > commit_retries:
                    raise
                while ctx.get("armed"):
                    try:
                        got = self._try_rebase(ctx)
                    except ConcurrentCommitError:
                        attempt += 1
                        if attempt > commit_retries:
                            raise
                        continue
                    if got is not None:
                        return got
                    break  # not provably disjoint -> full re-merge

    # snapshot keys a commit rebase may legitimately rewrite on top of
    # the winner's snapshot; every OTHER key (schema, schemas, key_cols,
    # n_buckets, stats/sketch/bloom config, changefeed flag, rebucket
    # frontier, rename/drop logs, and anything added later) must be
    # IDENTICAL between the loser's base and the current snapshot or the
    # rebase refuses — unknown-key-means-refuse keeps future snapshot
    # fields safe by default.
    _REBASEABLE_KEYS = frozenset({
        "version", "buckets", "ledger", "lineage_files", "properties",
        "changes", "mor_buckets", "tags",
        # every commit's wall-clock stamp differs by construction; it
        # carries no state a rebase could conflict with
        "committed_at"})

    @staticmethod
    def _bucket_token(snap: dict, b: str):
        """A comparable identity for one bucket's committed state. For
        sharded snapshots this is the manifest-LIST reference — the
        manifest name is content-addressed (sha256 of the entries), so
        equal refs mean byte-equal file lists with zero manifest reads.
        Legacy inline snapshots compare the entry lists directly."""
        bk = snap["buckets"]
        if isinstance(bk, _LazyBuckets):
            return bk._listing.get(b)
        return bk.get(b) if hasattr(bk, "get") else None

    def _try_rebase(self, ctx: dict) -> dict | None:
        """Metadata-only commit rebase after a lost snapshot CAS — the
        Delta/Iceberg optimistic-concurrency fast path (Delta's
        WriteSerializable conflict check; Iceberg's validation +
        manifest reattachment on retry). When every commit that landed
        since this merge's base snapshot touched a DISJOINT set of
        buckets and no global table state moved, the loser's staged
        data files, content-addressed manifests and change files are
        still exactly right: re-commit by attaching its per-bucket
        manifests to the WINNER's snapshot. Zero recompute, zero data
        IO, O(touched buckets) metadata — at 100 TB this is the
        difference between N concurrent writers converging in N commits
        versus N full merge re-runs.

        Reference analog: the keyed sink serializes writers externally
        (``sql/WritableDataFrame.scala:83-86`` assumes one writer per
        index); this gives the same convergence WITHOUT coordination
        for the common disjoint-partition case.

        Returns the commit metrics on success, ``None`` when the
        competing commits are not provably disjoint (caller falls back
        to a full re-merge), and raises ``ConcurrentCommitError`` if
        yet another writer wins the re-commit CAS (ctx stays valid —
        the caller may try again)."""
        import copy
        bid, scope = ctx["bid"], ctx["ledger_scope"]
        cur = self.snapshot()
        if _ledger_contains(cur["ledger"], bid, scope):
            # the competing commit WAS this very batch (another worker
            # of the same stream won): exactly-once says no-op, exactly
            # as a fresh attempt would
            return {"batch_id": bid, "skipped": True,
                    **cur["ledger"]["metrics"].get(
                        _ledger_key(scope, bid), {})}
        if cur.get("row_lineage"):
            # the unknown-key refusal below is NOT enough here: a
            # metadata-only rival (empty batch, set_tag) leaves
            # next_row_id untouched, so base == cur passes — but this
            # rebase would attach files whose first_row_id ranges were
            # allocated from that counter WITHOUT advancing it, and the
            # next commit would re-issue the same ids (duplicate
            # _row_id = broken stable identity). Lineage tables always
            # repay the full re-merge, which re-reads the counter.
            return None
        try:
            base = self.snapshot_at(ctx["base_version"])
        except ValueError:
            # a concurrent expire_snapshots reclaimed the base manifest —
            # disjointness is unprovable without it, but the full
            # re-merge reads only CURRENT, so fall back instead of
            # failing the whole merge with retries left
            return None
        for k in (set(base) | set(cur)) - self._REBASEABLE_KEYS \
                - {"buckets"}:
            if base.get(k) != cur.get(k):
                return None
        for b in ctx["touched"]:
            if self._bucket_token(base, str(b)) != \
                    self._bucket_token(cur, str(b)):
                return None
        reb = dict(cur)
        snap_b = ctx["snap"]["buckets"]
        for b in ctx["touched"]:
            reb["buckets"][str(b)] = snap_b[str(b)]
        if not ctx["dv"]:
            # the cow rewrite collapsed each touched bucket to one
            # generation — same mor_buckets drop the attempt applies,
            # rebased onto the winner's membership set
            ts = {str(b) for b in ctx["touched"]}
            reb["mor_buckets"] = sorted(
                (x for x in {str(m) for m in cur.get("mor_buckets", [])}
                 if x not in ts), key=int)
        entry = ctx["snap"].get("changes")
        if entry is not None:
            # change FILES need no rewrite: read_change_log reads them
            # under a pinned schema and stamps _change_version from the
            # snapshot entry, so re-pointing the entry at the rebased
            # version relabels every transition correctly
            entry = {**entry, "version": int(cur["version"]) + 1}
        reb["ledger"] = copy.deepcopy(cur["ledger"])
        reb["lineage_files"] = list(cur.get("lineage_files", []))
        metrics = {**ctx["metrics"], "rebased_commit": True,
                   "rebased_over_versions":
                       int(cur["version"]) - int(ctx["base_version"])}
        self._commit_stage(reb, ctx["staged"], bid, metrics,
                           token=ctx["token"], changes=entry, scope=scope,
                           set_properties=ctx["set_properties"])
        self._publish(reb)
        return metrics

    def delete_where(self, condition, batch_id: int | str, *,
                     filters: list[tuple] | None = None,
                     commit_retries: int = 0, **kwargs) -> dict:
        """Predicate delete over the CURRENT live state (retention /
        GDPR erasure — Iceberg ``DELETE FROM t WHERE …``): every live
        row matching ``condition`` (a Column or SQL string) is
        tombstoned in one exactly-once merge commit.

        Out-of-band rank: the WAL is the source of truth, so the
        tombstone must out-rank the victim's stored event AND any
        at-least-once re-delivery of it, while still losing to any
        genuinely later event. With a ``commit`` tie-break column the
        tombstone reuses the victim's seq and appends ``'~'`` (ASCII
        0x7E, > every hex digit) to its commit — strictly above the
        victim at the same seq, strictly below seq+1. Without one it
        must take seq+1 (the only rank above the victim), which
        occupies that seq slot: a later WAL event AT exactly seq+1
        would tie and lose, so feeds without a commit column should
        not interleave out-of-band deletes with in-flight events.

        ``filters`` — optional (col, op, value) triples handed to
        :meth:`read` for manifest min/max file pruning, so a retention
        delete (e.g. ``[('ts', '<', cutoff)]``) plans a scan over only
        the files that can hold victims. ``condition`` is still applied
        row-wise — filters need not be equivalent, only implied.

        Rows whose key is already tombstoned are untouched (the read is
        of live rows). Returns the merge metrics (``rows_deleted`` =
        victims). All merge kwargs (wap_id, ledger_scope,
        set_properties, …) pass through — with ``branch=`` the victims
        are read from (and the tombstones committed onto) the BRANCH
        head, not main."""
        br = kwargs.get("branch")
        snap = self._branch_head(br) if br else self.snapshot()
        key_cols, seq_col = snap["key_cols"], snap["seq_col"]
        cond = F.expr(condition) if isinstance(condition, str) else condition
        has_commit = any(f["name"] == "commit"
                         for f in snap["schema"]["fields"])
        victims = self.read(snapshot=snap, filters=filters).where(cond)
        if has_commit:
            victims = victims.withColumn(
                "commit", F.concat(F.coalesce(F.col("commit"), F.lit("")),
                                   F.lit("~")))
        else:
            victims = victims.withColumn(
                seq_col, F.coalesce(F.col(seq_col) + F.lit(1),
                                    F.lit(0).cast("long")))
        cols = [*key_cols, seq_col] + (["commit"] if has_commit else [])
        op_col = kwargs.get("op_col", "op")
        delete_value = kwargs.get("delete_value", "delete")
        batch = victims.select(*cols).withColumn(
            op_col, F.lit(delete_value))
        # live state holds ≤1 row per key, so the batch is pre-compacted
        return self.merge_batch(batch, batch_id,
                                commit_retries=commit_retries,
                                batch_compacted=True, **kwargs)

    def _merge_batch_attempt(
            self, batch: DataFrame, batch_id: int | str, *,
            op_col: str = "op", delete_value: str = "delete",
            assume_all_buckets: bool = False,
            batch_compacted: bool = False,
            touched_buckets: list[int] | None = None,
            ledger_scope: str = "default",
            extra_metrics: dict | None = None,
            additive_cols: list[str] | None = None,
            patch_cols: list[str] | None = None,
            delete_condition=None,
            set_properties: dict | None = None,
            wap_id: str | None = None,
            branch: str | None = None,
            dv: bool = False,
            dv_prune: str | None = "auto",
            _rebase_ctx: dict | None = None) -> dict:
        """Exactly-once keyed MERGE (upsert + delete) of a change batch.

        The merge runs six stages, one method each; every option below
        is a choice made inside one of them:

        1. validate + evolve (:meth:`_merge_validate`);
        2. resolve: in-batch LWW compaction, patch fold
           (:meth:`_merge_resolve`);
        3. locate: touched buckets, current state, dv prune
           (:meth:`_merge_locate`);
        4. join: the winner rule plus the dv, row-lineage and change-feed
           columns (:meth:`_merge_join`);
        5. write: data files, dv mask, change files (:meth:`_merge_write`);
        6. commit: ledger, lineage, properties (:meth:`_commit_stage`),
           then the CAS, WAP stage or branch append (:meth:`_publish`).

        ``dv=True``: DELETION-VECTOR merge (Delta deletion vectors /
        Iceberg v2 positional deletes). Identical logical semantics to
        the copy-on-write default, different physical shape: only the
        CHANGED rows (batch winners, including delete tombstones) are
        written to new files, and each superseded existing row is masked
        by its (file, position) address in a per-commit deletion-vector
        parquet — untouched rows in touched buckets are NOT rewritten.
        Write amplification drops from O(touched-bucket rows) to
        O(changed rows); reads stay LWW-free (unlike merge-on-read) at
        the cost of one broadcast anti-join against the mask, and
        ``compact()`` folds masks back to clean files. Refused on
        merge-on-read buckets (compact them first). In dv mode
        ``keys_considered`` counts only CHANGED keys (unchanged rows
        never flow through the plan — that is the point), and the
        metrics add ``rows_dv_masked``. ``dv_prune``: how to prune the
        table side to the batch's key set before the join ('broadcast'
        = explicit broadcast semi-join, callers guard key-set size;
        'auto' = unhinted semi-join, AQE decides; None = no pruning).

        ``wap_id``: write-audit-publish (Iceberg's WAP pattern). The
        merge runs fully — files written, change feed emitted, ledger
        entry prepared — but the resulting snapshot is STAGED under
        ``meta/wap-<id>.json`` instead of becoming CURRENT: readers keep
        seeing the pre-merge state. Audit the staged state with
        ``read_wap(id)`` (row counts, null checks, contract queries),
        then ``publish_wap(id)`` to atomically make it CURRENT, or
        ``abandon_wap(id)`` to drop it (its files become GC-able
        orphans). Publishing requires the table to still be at the
        staged snapshot's parent version — a commit that landed in
        between invalidates the staged file list, so publish refuses
        with ``ConcurrentCommitError`` and the caller re-merges (the
        batch id is still unledgered, so the re-merge is exactly-once).

        ``extra_metrics``: caller-supplied metrics (e.g. quarantine
        counts) folded into the batch's ledger entry so they are visible
        through ``lineage()``. The entry always carries the merge's own
        counts (``rows_upserted``, ``rows_deleted``, ``keys_considered``),
        observed on the write action itself.

        ``set_properties``: table properties committed ATOMICALLY with
        this merge (Iceberg snapshot-summary-property pattern; persisted
        under the snapshot's ``properties`` key and carried forward by
        every later commit). This is how a consumer records its own
        progress marker (e.g. lake/ivm.py's source cursor) such that no
        crash window can separate "merge applied" from "cursor advanced".

        ``additive_cols``: columns merged as RUNNING TOTALS instead of
        replaced — winner value = old + batch contribution (tombstoned
        old rows contribute zero; a batch-less key keeps its old value).
        This is what lets an incremental-view consumer (lake/ivm.py)
        fold per-group deltas in the merge's OWN join instead of
        pre-joining old values — one key-partitioned join per refresh,
        not two. Additive merges are NOT per-row idempotent: exactly-once
        depends on the ledger layer (layer 2), so callers must use
        strictly-increasing ``seq`` per batch and never bypass batch ids.
        ``delete_condition``: callable mapping {column: merged-value
        Column} → boolean Column; a matched key whose merged values
        satisfy it is deleted (e.g. a counter folding to zero) — only
        knowable POST-merge, which is why it is not an op value.

        ``patch_cols``: columns merged as SPARSE UPDATES (Iceberg
        ``MERGE … UPDATE SET col``, Debezium partial events): a null
        batch value means "unchanged" and inherits the prior value
        instead of overwriting with null. The in-batch fold is
        event-level, not winner-row-level — per key the merged value is
        the latest non-null value by (seq, commit) among the batch's
        events, falling back to the table's stored value; an in-batch
        delete resets inheritance (events at-or-before the latest
        delete, and the pre-batch stored value, never leak through it),
        as does a stored tombstone (a revived key starts fresh).
        Consequences, documented and tested: (a) a patch column can
        never be explicitly set TO null — that is inherent to
        null-means-unchanged encodings; (b) batches must be applied in
        per-key non-decreasing event order (the ordered-WAL contract) —
        a batch whose winner loses LWW is discarded whole, including
        its patch contributions, so cross-batch reordering of a key's
        events is NOT reconciled the way full-row LWW reconciles it;
        within a batch, event order is irrelevant (the fold is
        order-free). Incompatible with ``batch_compacted`` (the fold IS
        the compaction) and disjoint from ``additive_cols``.

        Semantics (Iceberg ``MERGE INTO t USING s ON key``):
          WHEN MATCHED AND s.seq > t.seq AND s.op =  'delete' THEN DELETE
          WHEN MATCHED AND s.seq > t.seq AND s.op <> 'delete' THEN UPDATE *
          WHEN NOT MATCHED AND s.op <> 'delete'               THEN INSERT *
        Last-writer-wins inside the batch by (seq desc, commit desc) — a
        deterministic replacement for the reference's arbitrary
        ``dropDuplicates`` (SURVEY.md §2.6).

        Physical shape: current state FULL OUTER JOIN batch on the key —
        the Iceberg MERGE INTO plan. Both sides carry ≤1 row per key (the
        table by invariant, the batch after compaction), the winner is
        picked with scalar when/coalesce expressions, so the whole merge
        stays in whole-stage codegen and no payload ever travels through
        an aggregation buffer; AQE broadcasts the batch side when small.
        ``batch_compacted=True`` skips the in-merge compaction when the
        caller already guarantees one row per key (CdcEngine.apply_batch).

        ``branch``: commit onto a named branch (see the branches section)
        instead of main — the merge computes against the BRANCH head
        (state, ledger, schema), stages its snapshot on the chain, and
        CURRENT never moves; ``fast_forward`` later publishes the whole
        chain atomically. Mutually exclusive with ``wap_id`` (a branch IS
        multi-commit WAP).

        Copy-on-write touches only the hash-buckets present in the batch.
        Idempotent per ``batch_id`` (replays/retries converge).
        """
        if branch is not None and wap_id is not None:
            raise ValueError(
                "branch and wap_id are mutually exclusive — a branch is "
                "the multi-commit form of write-audit-publish")
        snap = self._branch_head(branch) if branch is not None \
            else self.snapshot()
        led = snap["ledger"]
        bid = str(batch_id)
        if _ledger_contains(led, bid, ledger_scope):
            return {"batch_id": bid, "skipped": True,
                    **led["metrics"].get(_ledger_key(ledger_scope, bid), {})}
        t0 = time.time()
        fold = dict(op_col=op_col, delete_value=delete_value,
                    patch_cols=patch_cols)
        schema, changed = self._merge_validate(
            snap, batch, additive_cols=additive_cols,
            batch_compacted=batch_compacted, **fold)
        tagged, resolved = self._merge_resolve(
            snap, batch, batch_compacted=batch_compacted, **fold)
        touched, cur = self._merge_locate(
            snap, tagged, resolved, touched_buckets=touched_buckets,
            assume_all_buckets=assume_all_buckets, dv=dv, dv_prune=dv_prune)
        merged = self._merge_join(
            snap, schema, resolved, cur, additive_cols=additive_cols,
            delete_condition=delete_condition, dv=dv, **fold)
        metrics = {"batch_id": bid, "buckets_touched": len(touched),
                   **(extra_metrics or {})}
        token = uuid.uuid4().hex[:12]
        staged, changes = self._merge_write(
            snap, schema, merged, touched, metrics, token=token, dv=dv,
            staged_changes=wap_id is not None or branch is not None)
        metrics["wall_s"] = round(time.time() - t0, 3)
        self._commit_stage(snap, staged, bid, metrics, token=token,
                           changes=changes, scope=ledger_scope,
                           set_properties=set_properties)
        try:
            self._publish(snap, wap_id=wap_id, branch=branch)
        except ConcurrentCommitError:
            # a lost CAS on main leaves every staged file valid work: hand
            # merge_batch what a metadata-only rebase needs — UNLESS this
            # commit depends on table state beyond its touched buckets
            # (schema evolution pins a new global schema; delete_condition
            # evaluated victims against the stale snapshot; an active
            # rebucket frontier routes keys), where only a full re-merge
            # is sound
            if (_rebase_ctx is not None and wap_id is None
                    and branch is None and not changed
                    and not _mid_rebucket(snap) and delete_condition is None):
                _rebase_ctx.update(
                    armed=True, snap=snap, base_version=snap["version"] - 1,
                    touched=[int(b) for b in touched], staged=staged,
                    token=token, bid=bid, ledger_scope=ledger_scope,
                    metrics=metrics, set_properties=set_properties, dv=dv)
            raise
        if wap_id is not None:
            metrics["staged_wap"] = wap_id
        elif branch is not None:
            metrics["branch"] = branch
        return metrics

    @staticmethod
    def _evolve_stage(snap: dict, batch: DataFrame,
                      op_col: str | None = None) -> tuple[StructType, bool]:
        """The validate + evolve stage every writer that takes a batch
        shares: every key column must be present (an ABSENT key column
        would write every row under a null key; the per-row guard in
        :func:`_batch_col` covers null VALUES), no batch column may carry
        a renamed-away name, and the batch's data columns (all but
        ``op_col``) evolve the live schema — a new schema version in
        ``snap``. Returns (table schema, evolved)."""
        missing = [k for k in snap["key_cols"] if k not in batch.columns]
        if missing:
            raise ValueError(
                f"batch is missing key column(s) {missing}; key "
                f"columns are required on every batch")
        _check_retired_names(batch.columns, snap)
        schema, changed = evolve_schema(
            StructType.fromJson(snap["schema"]),
            StructType([f for f in batch.schema.fields
                        if f.name != op_col]))
        if changed:
            schema_v = _schema_v(snap) + 1
            snap["schemas"][str(schema_v)] = json.loads(schema.json())
            snap["schema"] = json.loads(schema.json())
        return schema, changed

    def _merge_validate(self, snap: dict, batch: DataFrame, *, op_col: str,
                        delete_value: str, patch_cols: list[str] | None,
                        additive_cols: list[str] | None,
                        batch_compacted: bool) -> tuple[StructType, bool]:
        """Merge stage 1: the shared validate + evolve stage
        (:meth:`_evolve_stage`), then the merge's own refusals — a data
        column shadowing ``op_col``, an invalid ``patch_cols`` set,
        batch-fed row-lineage columns. Returns (table schema, evolved)."""
        schema, changed = self._evolve_stage(snap, batch, op_col)
        if op_col in schema.fieldNames():
            # a DATA column named like the op marker makes the join's
            # _n_-prefixed projection ambiguous — fail with the cause
            # instead of an AMBIGUOUS_REFERENCE analysis error. (Usually
            # the table was loaded via overwrite() from an EVENT-shaped
            # frame whose op column evolved into the schema.)
            raise ValueError(
                f"table schema contains a data column named {op_col!r}, "
                f"which collides with this merge's op_col; pass a "
                f"different op_col (or rebuild the table without the "
                f"column — overwrite() loads STATE rows, so event frames "
                f"should drop their op column first)")
        if patch_cols:
            if batch_compacted:
                raise ValueError(
                    "patch_cols requires the merge's own in-batch fold; "
                    "batch_compacted=True bypasses it")
            reserved = set(snap["key_cols"]) | {snap["seq_col"], op_col,
                                                "commit"}
            bad = [c for c in patch_cols if c in reserved]
            if bad:
                raise ValueError(
                    f"patch_cols may not include key/seq/commit/op "
                    f"columns: {bad}")
            absent = [c for c in patch_cols if c not in batch.columns]
            if absent:
                raise ValueError(
                    f"patch_cols {absent} not present in the batch")
            overlap = sorted(set(patch_cols) & set(additive_cols or []))
            if overlap:
                raise ValueError(
                    f"columns cannot be both additive and patch: {overlap}")
        if snap.get("row_lineage"):
            bad = [c for c in (_ROW_ID, _LUV) if c in batch.columns]
            if bad:
                raise ValueError(
                    f"batch carries reserved row-lineage column(s) {bad}: "
                    f"ids are table-assigned, never fed in")
        return schema, changed

    @staticmethod
    def _merge_resolve(snap: dict, batch: DataFrame, *, op_col: str,
                       delete_value: str, patch_cols: list[str] | None,
                       batch_compacted: bool) -> tuple[DataFrame, DataFrame]:
        """Merge stage 2: tag every event with its routed bucket, then
        compact to one row per key (the join needs unique keys on both
        sides) with the LWW window (``lww.latest_by_seq``) — safe at any
        size, no broadcast limit — unless the caller already did. Returns
        (tagged, resolved): bucket discovery reads the uncompacted
        ``tagged``.

        With ``patch_cols`` the same window partition also folds, per key,
        (a) the latest in-batch delete's (seq, commit) and (b) per patch
        column the latest non-null value's (seq, commit, value). The
        latest non-null overall IS the latest non-null after the delete
        whenever it ranks above the delete, so one max per column
        suffices — no second pass."""
        tagged = batch.withColumn(_BUCKET, routed_bucket_expr(snap))
        if batch_compacted:
            return tagged, tagged
        key_cols, seq_col = snap["key_cols"], snap["seq_col"]
        if not patch_cols:
            return tagged, latest_by_seq(tagged, key_cols, seq_col)
        rank = [F.col(seq_col).alias("s"),
                (F.col("commit") if "commit" in tagged.columns
                 else F.lit("")).alias("c")]
        folds = {"_ld": F.max(F.when(F.col(op_col) == F.lit(delete_value),
                                     F.struct(*rank)))}
        for c in patch_cols:
            folds[f"_pf_{c}"] = F.max(F.when(
                F.col(c).isNotNull(), F.struct(*rank, F.col(c).alias("v"))))
        compacted = latest_by_seq(tagged, key_cols, seq_col, folds)

        def _folded(c):
            p = F.col(f"_pf_{c}")
            live = F.col("_ld").isNull() | (
                F.struct(p["s"].alias("s"), p["c"].alias("c"))
                > F.col("_ld"))
            return F.when(p.isNotNull() & live, p["v"])
        return tagged, compacted.select(
            *[(_folded(c) if c in patch_cols else F.col(c)).alias(c)
              for c in tagged.columns],
            F.col("_ld").isNotNull().alias("_had_del"))

    def _merge_locate(self, snap: dict, tagged: DataFrame,
                      resolved: DataFrame, *,
                      touched_buckets: list[int] | None,
                      assume_all_buckets: bool, dv: bool,
                      dv_prune: str | None) -> tuple[list[int], DataFrame]:
        """Merge stage 3: the touched buckets and the current state of
        exactly those (tombstones included — they out-rank later-arriving
        stale inserts). Returns (touched, current state).

        Bucket discovery is a tiny aggregation (≤ n_buckets groups,
        map-side partials, no wide shuffle). Full-log replays skip it
        (``assume_all_buckets``); callers that already know the set
        (CdcEngine derives it from its narrow max-seq winners) pass
        ``touched_buckets`` so the batch plan is consumed exactly once.
        Mid-rebucket, caller-computed sets (engine and IVM use the plain
        old-spec transform) don't know the router, so discovery always
        runs over the routed ids, and a full replay also rewrites every
        bucket the manifest currently has."""
        if _mid_rebucket(snap):
            ids = {r[0] for r in tagged.select(_BUCKET).distinct().collect()}
            if assume_all_buckets:
                ids |= {int(b) for b in snap["buckets"]}
            touched = sorted(ids)
        elif assume_all_buckets:
            touched = list(range(snap["n_buckets"]))
        elif touched_buckets is not None:
            touched = list(touched_buckets)
        else:
            touched = [r[0] for r in
                       tagged.select(_BUCKET).distinct().collect()]
        if dv:
            bad = sorted(set(int(b) for b in touched) &
                         {int(b) for b in snap.get("mor_buckets", [])})
            if bad:
                raise ValueError(
                    f"dv=True cannot merge into merge-on-read bucket(s) "
                    f"{bad}: generations there resolve by read-time LWW, "
                    f"not positions; compact() them first")
        cur = self.read(touched, snapshot=snap, with_tombstones=True,
                        with_positions=dv,
                        with_row_ids=bool(snap.get("row_lineage")))
        if dv and dv_prune:
            # a dv merge only ever ACTS on existing rows whose key appears
            # in the batch (winners mask/supersede them; every other row
            # stays byte-identical on disk) — so prune the table side to
            # the batch's key set BEFORE it is shuffled into the join.
            # This is what makes sparse batches O(changed rows) end-to-end
            # instead of O(touched-bucket rows): the scan still reads the
            # buckets, but untouched rows die at the semi-join instead of
            # being shuffled, hashed wide, and carried through the merge.
            # 'broadcast' pins the key set map-side (callers guard size —
            # CdcEngine uses broadcast_key_limit); 'auto' leaves the hint
            # to AQE for giant batches.
            keys = resolved.select(*snap["key_cols"])
            if dv_prune == "broadcast":
                keys = F.broadcast(keys)
            cur = cur.join(keys, snap["key_cols"], "left_semi")
        return touched, cur

    def _merge_join(self, snap: dict, schema: StructType,
                    resolved: DataFrame, cur: DataFrame, *, op_col: str,
                    delete_value: str, patch_cols: list[str] | None,
                    additive_cols: list[str] | None, delete_condition,
                    dv: bool) -> DataFrame:
        """Merge stage 4: current state FULL OUTER JOIN batch on the key,
        both sides prefix-renamed (``_e_``/``_n_``) so same-named payload
        columns never collide, the winner picked with scalar expressions
        (codegen end-to-end). Alongside the winning row the output
        carries ``_tombstone``, ``_is_new``, ``_is_del`` and, per table
        feature, the row-lineage ids, the superseded row's dv address
        and the change-feed pre-image and type."""
        key_cols, seq_col = snap["key_cols"], snap["seq_col"]
        lineage = bool(snap.get("row_lineage"))
        has = set(resolved.columns)
        incoming = resolved.select(
            *[_batch_col(f, has, key_cols).alias(f"_n_{f.name}")
              for f in schema.fields],
            F.col(op_col).alias(f"_n_{op_col}"),
            (F.col("_had_del") if patch_cols else F.lit(False))
            .alias("_n__had_del"))
        existing = cur.select(
            *[F.col(f.name).alias(f"_e_{f.name}") for f in schema.fields],
            F.coalesce(F.col(_TOMB), F.lit(False)).alias(f"_e_{_TOMB}"),
            *([F.col(_DV_FILE).alias(f"_e_{_DV_FILE}"),
               F.col(_DV_POS).alias(f"_e_{_DV_POS}")] if dv else []),
            *([F.col(_ROW_ID).alias("_e__rid"),
               F.col(_LUV).alias("_e__luv")] if lineage else []))
        join_cond = reduce(
            lambda a, b: a & b,
            [F.col(f"_e_{k}") == F.col(f"_n_{k}") for k in key_cols])
        # SHUFFLE_HASH on the batch side: a full-outer shuffled hash join
        # hashes the (bounded) micro-batch per task instead of sort-merging
        # — neither the table side nor the batch gets sorted. On bootstrap
        # (empty table → empty LocalRelation) the join is eliminated
        # entirely, hint and all.
        #
        # Shuffle-once write: both join inputs are exchanged by the key hash
        # at width w, the smallest divisor of n_buckets that is >= P =
        # spark.sql.shuffle.partitions (n_buckets when none is). The hash
        # partitioning is exactly the bucket transform (see bucket_expr)
        # and w | n, so bucket b lands whole in partition b mod w
        # (pmod(h,w) = pmod(h,n) mod w): every join output task holds
        # whole buckets and the bucketed write skips its own repartition,
        # still one file per bucket, the merged payload crossing the wire
        # once. These exchanges ARE the join's (one per side,
        # REPARTITION_BY_NUM, never coalesced by AQE); on BOOTSTRAP the
        # empty table side eliminates the join and the incoming exchange
        # alone clusters the write. Mid-rebucket the router breaks the
        # partition↔bucket identity (transitional ids aren't pmod(h, n)),
        # so that write keeps its repartition.
        n_buckets = snap["n_buckets"]
        p_shuffle = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
        width = next((w for w in range(p_shuffle, n_buckets)
                      if n_buckets % w == 0), n_buckets)
        existing = existing.repartition(
            width, *[F.col(f"_e_{k}") for k in key_cols])
        incoming = incoming.repartition(
            width, *[F.col(f"_n_{k}") for k in key_cols])
        j = existing.join(incoming.hint("SHUFFLE_HASH"),
                          on=join_cond, how="full_outer")

        # winner rule: new row wins iff (seq, commit) >= existing's; ties
        # go to the batch (idempotent re-apply of the same event converges).
        # Null seqs (rows predating a seq column, or evolved-in keys) lose
        # to any real seq; new-null beats existing-null.
        has_commit = "commit" in schema.fieldNames()
        has_n = F.col(f"_n_{key_cols[0]}").isNotNull()
        has_e = F.col(f"_e_{key_cols[0]}").isNotNull()
        n_seq = F.coalesce(F.col(f"_n_{seq_col}"), F.lit(-1).cast("long"))
        e_seq = F.coalesce(F.col(f"_e_{seq_col}"), F.lit(-2).cast("long"))
        newer = n_seq > e_seq
        # the row's (seq, commit) moved: an idempotent re-apply of the same
        # event is NOT a change (change feed and row lineage agree on it)
        moved = ~F.col(f"_n_{seq_col}").eqNullSafe(F.col(f"_e_{seq_col}"))
        if has_commit:
            newer = newer | ((n_seq == e_seq) &
                             (F.coalesce(F.col("_n_commit"), F.lit("")) >=
                              F.coalesce(F.col("_e_commit"), F.lit(""))))
            moved = moved | ~F.col("_n_commit").eqNullSafe(
                F.col("_e_commit"))
        use_new = has_n & (~has_e | newer)
        e_tomb = F.col(f"_e_{_TOMB}")

        def _val(f):
            n_val, e_val = F.col(f"_n_{f.name}"), F.col(f"_e_{f.name}")
            if f.name in key_cols:
                return F.coalesce(n_val, e_val)
            if additive_cols and f.name in additive_cols:
                # running-total merge: winner = old + batch contribution,
                # with a tombstoned old row (a previously-deleted key being
                # revived) contributing zero, not its stale stored value
                zero = F.lit(0).cast(f.dataType)
                live_e = F.when(~e_tomb, e_val).otherwise(zero)
                summed = F.coalesce(live_e, zero) + F.coalesce(n_val, zero)
                return F.when(use_new, summed).otherwise(e_val)
            if patch_cols and f.name in patch_cols:
                # sparse update: null batch value inherits the stored
                # value — unless an in-batch delete or a stored tombstone
                # sits between them (a revived key starts fresh)
                inherit = F.when(~e_tomb & ~F.col("_n__had_del"), e_val)
                return F.when(use_new, F.coalesce(n_val, inherit)) \
                        .otherwise(e_val)
            return F.when(use_new, n_val).otherwise(e_val)

        vals = {f.name: _val(f) for f in schema.fields}
        del_now = F.col(f"_n_{op_col}") == F.lit(delete_value)
        if delete_condition is not None:
            # value-derived deletion (e.g. a counter folding to zero),
            # evaluated over the MERGED values — only additive consumers
            # can know deletion post-merge
            del_now = del_now | F.coalesce(delete_condition(vals),
                                           F.lit(False))
        extra = _feature_cols(snap, schema, use_new=use_new, has_e=has_e,
                              del_now=del_now, moved=moved, dv=dv)
        merged = j.select(*[v.alias(k) for k, v in vals.items()],
                          F.when(use_new, del_now).otherwise(e_tomb)
                          .alias(_TOMB),
                          use_new.alias("_is_new"),
                          (use_new & del_now).alias("_is_del"), *extra)
        if dv:
            # dv writes ONLY the changed rows; several actions consume
            # this small (O(batch)) frame — data-file write, dv write,
            # per-file dead counts, change feed — so persist it
            return merged.where(F.col("_is_new")) \
                         .persist(StorageLevel.MEMORY_AND_DISK)
        if snap.get("changefeed"):
            # two actions consume the join (state write, change write);
            # cache it so the second reads O(touched buckets) from local
            # storage instead of re-running the merge
            return merged.persist(StorageLevel.MEMORY_AND_DISK)
        return merged

    def _merge_write(self, snap: dict, schema: StructType, merged: DataFrame,
                     touched: list[int], metrics: dict, *, token: str,
                     dv: bool, staged_changes: bool
                     ) -> tuple[dict[int, list[dict]], dict | None]:
        """Merge stage 5: write the touched buckets' files through the
        shared write stage (one file per bucket, see the join width),
        the dv mask and the change files, and point the touched buckets'
        manifest entries at them. The row counts ride the data write as
        an ``Observation`` — a separate ``.agg()`` would re-execute the
        whole merge plan, including any upstream streaming state-store
        scan. Returns (staged files, change-log entry or None)."""
        obs = Observation()
        observed = merged.observe(
            obs,
            F.sum(F.when(F.col("_is_new") & ~F.col("_is_del"), 1)
                  .otherwise(0)).alias("rows_upserted"),
            F.sum(F.when(F.col("_is_del"), 1).otherwise(0)
                  ).alias("rows_deleted"),
            F.count(F.lit(1)).alias("keys_considered"))
        # deletes persist as tombstone rows (compaction may drop them once
        # no lower-seq event can still arrive)
        out = observed.select(
            *schema.fieldNames(), _TOMB,
            *([_ROW_ID, _LUV] if snap.get("row_lineage") else []),
            routed_bucket_expr(snap).alias(_BUCKET))
        staged = self._write_bucket_files(
            snap, out, token, already_clustered=not _mid_rebucket(snap))
        got = obs.get
        metrics.update({k: int(got[k] or 0) for k in
                        ("rows_upserted", "rows_deleted", "keys_considered")})
        version = snap["version"] + 1
        changes = None
        try:
            if dv:
                dead_by_file = self._write_dv_mask(merged, version, token)
                metrics["rows_dv_masked"] = sum(
                    d for _, d, _ in dead_by_file.values())
            if snap.get("changefeed"):
                changes = self._write_change_files(
                    _change_rows(merged, schema, version), version,
                    _schema_v(snap), token, staged=staged_changes)
                metrics["changes_rows"] = changes["rows"]
        finally:
            if dv or snap.get("changefeed"):
                merged.unpersist()
        if dv:
            # keep the touched buckets' existing entries (patched with
            # the new dv parts + adjusted live counts — COPIES, the lazy
            # manifest listing may share the loaded objects) and APPEND
            # the changed-row files; a file whose every physical row is
            # now masked drops out of the manifest entirely (its bytes
            # become GC-able once retention passes)
            for b in touched:
                bstr = str(b)
                kept = []
                for e in (snap["buckets"][bstr]
                          if bstr in snap["buckets"] else []):
                    if e["file"] in dead_by_file:
                        parts, d, dl = dead_by_file[e["file"]]
                        e = dict(e)
                        ref = dict(e.get("dv") or {})
                        ref["files"] = list(ref.get("files") or []) + parts
                        ref["dead"] = int(ref.get("dead", 0)) + d
                        e["dv"] = ref
                        if "live" in e:
                            e["live"] = int(e["live"]) - dl
                        if "rows" in e and ref["dead"] >= int(e["rows"]):
                            continue  # fully dead file: unreference it
                    kept.append(e)
                snap["buckets"][bstr] = kept + staged.get(int(b), [])
        else:
            for b in touched:
                snap["buckets"][str(b)] = staged.get(int(b), [])
            # the cow rewrite collapsed each touched bucket to one
            # generation — it must drop out of mor_buckets or reads would
            # keep paying (and a later overwrite/append interleave could
            # silently LWW-collapse)
            ts = {str(b) for b in touched}
            snap["mor_buckets"] = sorted(
                (b for b in {str(x) for x in snap.get("mor_buckets", [])}
                 if b not in ts), key=int)
        return staged, changes

    def _write_dv_mask(self, merged: DataFrame, version: int,
                       token: str) -> dict[str, tuple[list[str], int, int]]:
        """The dv merge's mask delta: every superseded row's (file, pos),
        written as ONE per-commit parquet set; each touched file's entry
        references these parts IN ADDITION to its earlier ones (per-file
        sets are monotone until compaction rewrites the file), so no old
        dv part is ever read or rewritten here. Returns, per masked file,
        (new parts, rows masked, live rows masked)."""
        dead = (merged.where(F.col("_dead_f").isNotNull())
                .select(F.col("_dead_f").alias("file"),
                        F.col("_dead_p").alias("pos"),
                        F.coalesce(F.col("_dead_t"),
                                   F.lit(False)).alias("tomb")))
        per_file = (dead.groupBy("file")
                    .agg(F.count(F.lit(1)).alias("dead"),
                         F.sum(F.when(~F.col("tomb"), 1).otherwise(0))
                         .alias("dead_live")).collect())
        if not per_file:
            return {}
        dv_rel = f"c{version}-{token}/dv"
        # few large parts, not one per shuffle partition: every read of a
        # masked file opens every referenced part, so part count is
        # read-path fan-out. ~4M positions/part (~50 MB) — sized from the
        # ALREADY-collected dead total, no extra action.
        nparts = max(1, -(-sum(int(r["dead"]) for r in per_file)
                          // 4_000_000))
        dead.select("file", "pos").coalesce(nparts).write.parquet(
            os.path.join(self.data_dir, dv_rel))
        parts = sorted(os.path.join(dv_rel, os.path.basename(p))
                       for p in glob.glob(os.path.join(
                           self.data_dir, dv_rel, "part-*.parquet")))
        return {r["file"]: (parts, int(r["dead"]), int(r["dead_live"]))
                for r in per_file}

    # ------------------------------------------------------------- commit
    def _commit_stage(self, snap: dict, staged: dict[int, list[dict]],
                      bid: str, metrics: dict, *, token: str,
                      changes: dict | None = None, scope: str = "default",
                      set_properties: dict | None = None) -> None:
        """The commit stage every data writer shares, up to the publish:
        advance the version, stamp this commit's change-log entry, fold
        ``set_properties`` in, ledger ``metrics`` under ``bid`` and
        record the commit's lineage file. Mutates ``snap``;
        :meth:`_publish` then makes it visible.

        ``changes``: the entry for this commit's change files, or a
        logical no-op entry (:func:`_noop_changes`). ``None`` means the
        commit wrote none: the previous version's entry must not be
        inherited, and on a change-feed table a durable gap marker is
        stamped (carried forward by every later commit) — raw-file feed
        tailers (ChangeLogReplicator) cannot serve across a log-less
        commit and must detect one even long after it happened."""
        snap["version"] += 1
        if changes is not None:
            snap["changes"] = changes
        else:
            snap.pop("changes", None)
            if snap.get("changefeed"):
                snap["log_gap_version"] = snap["version"]
        if set_properties:
            snap["properties"] = {**snap.get("properties", {}),
                                  **set_properties}
        _ledger_add(snap["ledger"], bid, metrics, scope)
        self._record_lineage(snap, self._write_lineage(
            snap["version"], bid, staged, token=token))

    def _publish(self, snap: dict, *, wap_id: str | None = None,
                 branch: str | None = None) -> None:
        """Make ``snap`` (already at its new version) visible: the CURRENT
        CAS on main, a staged WAP snapshot, or a branch-chain append.
        Raises ``ConcurrentCommitError`` when another writer got there
        first."""
        base = snap["version"] - 1
        if wap_id is not None:
            self._stage_wap(wap_id, snap, parent=base)
        elif branch is not None:
            self._branch_append(branch, snap, base_version=base)
        else:
            self._commit_snapshot(snap, expected_version=base)

    # --------------------------------------------------- write-audit-publish
    @staticmethod
    def _wap_name(wap_id: str) -> str:
        if not wap_id or not all(
                c.isalnum() or c in "._-" for c in wap_id):
            raise ValueError(
                f"wap_id {wap_id!r} must be non-empty [A-Za-z0-9._-]")
        return f"wap-{wap_id}.json"

    def _stage_wap(self, wap_id: str, snap: dict, parent: int) -> None:
        """Persist a fully-built snapshot under ``meta/wap-<id>.json``
        instead of committing it: manifests are written (content-
        addressed, so a later publish re-serializes nothing), the parent
        version is recorded for the publish-time CAS, and CURRENT is
        untouched. O_EXCL — staging an id twice is an error, not a
        silent overwrite of someone's audit subject."""
        raw = self._serialized(snap)
        raw["wap_parent"] = int(parent)
        target = os.path.join(self.meta_dir, self._wap_name(wap_id))
        # exclusive create (CommitCAS): the id can only be staged once,
        # and a crash mid-write can never leave a truncated wap-<id>.json
        # that would wedge expire_snapshots' staged-snapshot scan and
        # block restaging the id
        try:
            self.cas.create_exclusive(target, json.dumps(raw))
        except CasConflict:
            raise ConcurrentCommitError(
                f"wap id {wap_id!r} is already staged; publish or abandon "
                f"it first") from None

    def _load_wap(self, wap_id: str) -> dict:
        p = os.path.join(self.meta_dir, self._wap_name(wap_id))
        if not os.path.exists(p):
            raise ValueError(f"no staged snapshot for wap id {wap_id!r}")
        with open(p) as f:
            return json.load(f)

    def wap_ids(self) -> list[str]:
        """Currently staged (unpublished) WAP ids."""
        return sorted(f[len("wap-"):-len(".json")]
                      for f in os.listdir(self.meta_dir)
                      if f.startswith("wap-") and f.endswith(".json"))

    def read_wap(self, wap_id: str, **kwargs) -> DataFrame:
        """The staged snapshot's table state, for auditing before
        publish — same read path as the committed table (LWW, tombstone
        filtering, file skipping via ``filters=``)."""
        raw = self._load_wap(wap_id)
        raw.pop("wap_parent", None)
        return self.read(snapshot=raw, **kwargs)

    def publish_wap(self, wap_id: str) -> dict:
        """Atomically make a staged snapshot CURRENT (Iceberg's
        cherrypick of a WAP snapshot). CAS: the table must still be at
        the staged snapshot's parent — an intervening commit invalidates
        the staged file lists (they embody the parent's state), so this
        refuses with ``ConcurrentCommitError`` and the caller re-merges
        the batch (still unledgered — exactly-once holds)."""
        raw = self._load_wap(wap_id)
        parent = raw.pop("wap_parent")
        cur = self.snapshot()["version"]
        if cur != parent:
            raise ConcurrentCommitError(
                f"staged wap {wap_id!r} has parent v{parent} but the "
                f"table is at v{cur}: a commit landed since staging; "
                f"abandon_wap and re-merge the batch")
        moved: list = []
        if (raw.get("changes") or {}).get("staged"):
            raw["changes"], moved = self._publish_staged_changes(
                raw["changes"])
        try:
            self._commit_snapshot(self._wrap_snap(raw),
                                  expected_version=parent)
        except ConcurrentCommitError:
            self._unpublish_staged_changes(moved)
            raise
        os.remove(os.path.join(self.meta_dir, self._wap_name(wap_id)))
        return {"published_version": raw["version"], "wap_id": wap_id}

    def abandon_wap(self, wap_id: str) -> None:
        """Drop a staged snapshot. Its data/change/lineage files become
        unreferenced orphans, GC'd by ``expire_snapshots`` after the
        grace; its manifests may be shared with committed snapshots
        (content addressing) and are GC'd only when nothing references
        them."""
        p = os.path.join(self.meta_dir, self._wap_name(wap_id))
        if not os.path.exists(p):
            raise ValueError(f"no staged snapshot for wap id {wap_id!r}")
        os.remove(p)

    # --------------------------------------------------------------- branches
    # A branch is the MULTI-COMMIT form of write-audit-publish (Iceberg
    # branch refs; Iceberg's own WAP is "write to an audit branch, then
    # fast-forward main"): a named chain of staged snapshots forked from a
    # committed version. merge_batch(branch=...) commits stack on the
    # chain without moving CURRENT; read_branch() audits any time;
    # fast_forward() publishes the whole chain as ONE atomic commit
    # (squash semantics — main's history gains one version) with the same
    # parent CAS as publish_wap; drop_branch() abandons it (files become
    # GC-able orphans). Storage: meta/branch-<name>-<k>.json — entry 0 is
    # the fork marker {"parent": P}, entries 1..k are serialized
    # snapshots. Appending entry k via O_EXCL hard-link IS the branch's
    # commit CAS: two writers that both computed from head k-1 race for
    # the same file name and exactly one wins (the loser re-merges from
    # the new head — merge_batch(commit_retries=...) does this
    # automatically, and its batch id never reached the chain's ledger,
    # so the retry is exactly-once).

    @staticmethod
    def _branch_file(name: str, idx: int) -> str:
        if not name or not all(c.isalnum() or c in "._-" for c in name):
            raise ValueError(
                f"branch name {name!r} must be non-empty [A-Za-z0-9._-]")
        return f"branch-{name}-{idx}.json"

    def _branch_chain_names(self, name: str) -> list[str]:
        """Ordered chain files of one branch ([] when absent): index 0 is
        the fork marker, 1..k the branch's committed snapshots."""
        self._branch_file(name, 0)  # validate the name
        pre, suf = f"branch-{name}-", ".json"
        found: dict[int, str] = {}
        for f in os.listdir(self.meta_dir):
            if f.startswith(pre) and f.endswith(suf):
                tail = f[len(pre):-len(suf)]
                if tail.isdigit():
                    found[int(tail)] = f
        if not found:
            return []
        idxs = sorted(found)
        if idxs != list(range(len(idxs))):
            raise RuntimeError(
                f"branch {name!r} chain has holes ({idxs}): a concurrent "
                f"drop_branch is mid-flight, or meta/ was hand-edited")
        return [found[i] for i in idxs]

    def _load_branch_docs(self, name: str) -> list[dict]:
        chain = self._branch_chain_names(name)
        if not chain:
            raise ValueError(f"no branch named {name!r}")
        docs = []
        for f in chain:
            with open(os.path.join(self.meta_dir, f)) as fh:
                docs.append(json.load(fh))
        return docs

    def create_branch(self, name: str, version: int | None = None) -> dict:
        """Fork a named branch at ``version`` (default: CURRENT). The fork
        base's snapshot is GC-pinned while the branch exists. Branch
        writes go through ``merge_batch(..., branch=name)`` (and
        ``delete_where``); ``append_batch``/``overwrite``/maintenance
        operate on main only. Single logical writer per branch is the
        intended usage, but concurrent appends are safe — the chain-file
        O_EXCL link makes one writer lose with
        ``ConcurrentCommitError`` and retry from the new head."""
        cur = self.snapshot()["version"]
        v = cur if version is None else int(version)
        if v != cur:
            self.snapshot_at(v)  # must be a retained, committed version
        doc = {"branch": name, "parent": int(v),
               "created_at": round(time.time(), 6)}
        target = os.path.join(self.meta_dir, self._branch_file(name, 0))
        try:
            self.cas.create_exclusive(target, json.dumps(doc))
        except CasConflict:
            raise ValueError(f"branch {name!r} already exists") from None
        return {"branch": name, "parent": int(v)}

    def branches(self) -> dict[str, dict]:
        """Existing branches: name -> {parent, commits, head_version}."""
        names = []
        for f in os.listdir(self.meta_dir):
            if f.startswith("branch-") and f.endswith(".json") \
                    and ".tmp-" not in f:
                stem, sep, idx = f[len("branch-"):-len(".json")] \
                    .rpartition("-")
                if sep and idx.isdigit() and int(idx) == 0 and stem:
                    names.append(stem)
        out = {}
        for n in sorted(names):
            raw = self._load_branch_docs(n)
            docs = self._data_docs(raw)
            out[n] = {"parent": int(docs[0]["parent"]),
                      "commits": len(docs) - 1,
                      "head_version": int(docs[-1]["version"])
                      if len(docs) > 1 else int(docs[0]["parent"]),
                      **({"sealed": True} if len(raw) > len(docs)
                         else {})}
        return out

    @staticmethod
    def _data_docs(docs: list[dict]) -> list[dict]:
        """Chain docs minus a trailing publish seal (see fast_forward)."""
        return docs[:-1] if docs and docs[-1].get("sealed") else docs

    def _branch_head(self, name: str) -> dict:
        """The branch head as a wrapped in-memory snapshot — the base a
        branch merge computes against (chain head, or the fork base for
        a commit-less branch). A publish seal is transparent to reads."""
        docs = self._data_docs(self._load_branch_docs(name))
        if len(docs) == 1:
            return self.snapshot_at(int(docs[0]["parent"]))
        raw = {k: v for k, v in docs[-1].items() if k != "branch"}
        return self._wrap_snap(raw)

    def _branch_append(self, name: str, snap: dict, base_version: int) -> None:
        """Commit one snapshot onto a branch chain. Appending chain file
        k with an O_EXCL hard-link IS the CAS (see section comment)."""
        docs = self._load_branch_docs(name)
        if docs and docs[-1].get("sealed"):
            # fast_forward sealed the chain: the publish is in flight (or
            # crashed pre-commit — re-running fast_forward resumes it).
            # Even without this check the link below would lose the race
            # — the seal occupies the next index — but say why.
            raise ConcurrentCommitError(
                f"branch {name!r} is sealed for fast-forward; no further "
                f"commits can land on it (re-merge onto main after the "
                f"publish, or onto a new branch)")
        head_v = int(docs[-1]["version"]) if len(docs) > 1 \
            else int(docs[0]["parent"])
        if head_v != base_version:
            raise ConcurrentCommitError(
                f"branch {name!r} head is v{head_v}, expected "
                f"v{base_version}: another writer committed; re-read and "
                f"retry")
        raw = self._serialized(snap)
        raw["branch"] = name
        raw["committed_at"] = round(time.time(), 6)
        target = os.path.join(self.meta_dir,
                              self._branch_file(name, len(docs)))
        try:
            self.cas.create_exclusive(target, json.dumps(raw))
        except CasConflict:
            raise ConcurrentCommitError(
                f"branch {name!r}: a concurrent writer appended chain "
                f"entry {len(docs)}; re-read and retry") from None

    def read_branch(self, name: str, **kwargs) -> DataFrame:
        """The branch head's table state — same read path as the
        committed table (LWW, tombstones, dv masks, file skipping)."""
        return self.read(snapshot=self._branch_head(name), **kwargs)

    def drop_branch(self, name: str) -> None:
        """Abandon a branch. Its staged data/change/lineage files become
        unreferenced orphans (GC'd by ``expire_snapshots`` after the
        grace); content-addressed manifests shared with committed
        snapshots survive until nothing references them."""
        chain = self._branch_chain_names(name)
        if not chain:
            raise ValueError(f"no branch named {name!r}")
        for f in reversed(chain):  # head-first: no mid-drop front holes
            try:
                os.remove(os.path.join(self.meta_dir, f))
            except FileNotFoundError:
                pass

    def fast_forward(self, name: str) -> dict:
        """Publish a branch onto main as ONE atomic commit (squash): the
        branch head snapshot — which already embodies every chain
        commit's files, ledger entries, schema evolution and properties
        — is renumbered to ``parent + 1`` and committed with the same
        parent CAS as ``publish_wap``. Main must still be at the fork
        base; a commit that landed in between invalidates the chain's
        file lists, so this refuses with ``ConcurrentCommitError`` and
        the caller re-merges the branch's batches onto main (their ids
        never reached MAIN's ledger, so the re-merge is exactly-once).

        Change feed across the squash: a SINGLE-commit branch publishes
        its change files directly (the embedded ``_change_version``
        stamp equals the published version, so consumers see a normal
        commit). A MULTI-commit squash cannot — the chain's per-commit
        stamps are branch-local numbers that future main commits will
        reuse, which would break the per-key stamp uniqueness that
        net-compacting consumers (replicator, Debezium relay) rely on —
        so it stamps ``log_gap_version``, the documented degradation:
        ``read_change_log`` snapshot-diffs the step (NET transitions,
        labeled with the published version), raw change-file tailers
        re-seed."""
        raw_docs = self._load_branch_docs(name)
        sealed = bool(raw_docs and raw_docs[-1].get("sealed"))
        docs = self._data_docs(raw_docs)
        parent = int(docs[0]["parent"])
        if len(docs) == 1:
            self.drop_branch(name)
            return {"branch": name, "published_version": None, "commits": 0}
        cur = self.snapshot()["version"]
        if cur != parent:
            if sealed and cur == parent + 1 and \
                    self.snapshot().get("ledger") == docs[-1].get("ledger"):
                # a previous fast_forward crashed between its successful
                # publish CAS and the chain drop — finish idempotently
                self.drop_branch(name)
                return {"branch": name, "published_version": cur,
                        "commits": len(docs) - 1}
            raise ConcurrentCommitError(
                f"branch {name!r} forked at v{parent} but the table is at "
                f"v{cur}: a commit landed on main since; re-merge the "
                f"branch's batches or drop the branch")
        if not sealed:
            # SEAL the chain before publishing: the O_EXCL link claims
            # the next chain index, so a concurrent merge_batch(branch=)
            # that would land AFTER our chain read loses its own link
            # race — without this, an acknowledged branch commit could
            # slip in between the read and drop_branch and be silently
            # deleted with the chain (data loss). A crash after sealing
            # is recoverable: re-running fast_forward resumes it.
            target = os.path.join(self.meta_dir,
                                  self._branch_file(name, len(raw_docs)))
            try:
                self.cas.create_exclusive(
                    target, json.dumps({"branch": name, "sealed": True}))
            except CasConflict:
                raise ConcurrentCommitError(
                    f"branch {name!r}: a writer appended while the "
                    f"publish was starting; re-run fast_forward") from None
        new = {k: v for k, v in docs[-1].items()
               if k not in ("branch", "committed_at")}
        newv = parent + 1
        if len(docs) > 2 and new.get("row_lineage"):
            # multi-commit squash on a row-lineage table: files written by
            # chain commits 2..k carry materialized _last_updated_version
            # stamps at BRANCH-LOCAL versions (parent+2..parent+k), which
            # future MAIN commits will reuse — an incremental consumer
            # filtering on _LUV would silently alias them. Same stamp-
            # collision class log_gap_version handles for the change feed;
            # the lineage analog is a per-file clamp: tag every
            # branch-written entry so the lineage read path rewrites any
            # stamp above the fork base to the published version (a row
            # updated anywhere on the branch was, from main's history,
            # updated AT the squash). Rewrites (compaction, later merges)
            # materialize the clamped value and drop the tag. IO is
            # O(branch-touched buckets): content addressing means an
            # untouched bucket's manifest ref equals the fork base's.
            parent_buckets = self.snapshot()["buckets"]
            parent_listing = getattr(parent_buckets, "_listing", {})
            ml = new.get("manifest_list", {})
            head = _LazyBuckets(self.meta_dir, ml)
            for b, ref in list(ml.items()):
                pref = parent_listing.get(b) or {}
                if ref.get("manifest") and \
                        ref["manifest"] == pref.get("manifest"):
                    continue  # bucket untouched by the branch
                pfiles = {e["file"] for e in parent_buckets.get(b, [])}
                entries = [dict(e, luv_clamp=[parent, newv])
                           if e["file"] not in pfiles else e
                           for e in head[b]]
                mname, summary = self._manifest_for(entries)
                ml[b] = {"manifest": mname, **summary}
        new["version"] = newv
        moved: list = []
        if new.get("changefeed"):
            entries = [d.get("changes") for d in docs[1:]]
            if len(entries) == 1 and entries[0] is not None:
                e = dict(entries[0])
                e["version"] = newv
                if e.get("staged"):
                    e, moved = self._publish_staged_changes(e)
                new["changes"] = e
            else:
                # see docstring: branch-local _change_version stamps
                # would collide with future main commits' stamps
                new.pop("changes", None)
                new["log_gap_version"] = newv
        try:
            self._commit_snapshot(self._wrap_snap(dict(new)),
                                  expected_version=parent)
        except ConcurrentCommitError:
            self._unpublish_staged_changes(moved)
            raise
        self.drop_branch(name)
        return {"branch": name, "published_version": newv,
                "commits": len(docs) - 1}

    def _write_change_files(self, ch: DataFrame, version: int,
                            schema_v: int, token: str, *,
                            staged: bool = False) -> dict:
        """Materialize one commit's change rows (table columns +
        change_type) under changes/; names carry the commit-attempt token
        (losing writers leave orphans, GC-able) and are recorded in the
        committing snapshot only, so each snapshot references exactly its
        own version's feed.

        ``staged=True`` (WAP stages and branch commits): files land under
        ``changes/.staged/<token>/`` instead — the dot prefix hides them
        from every Spark directory listing, so a raw change-feed tailer
        (ChangeLogReplicator, relay jobs) can never ingest UNPUBLISHED
        data; publish/fast-forward moves them into ``changes/`` right
        before the snapshot CAS (``_publish_staged_changes``) and the
        tailer discovers them like any new commit's files. The entry
        records the staging token under ``"staged"`` until then."""
        os.makedirs(self.changes_dir, exist_ok=True)
        dest = os.path.join(self.changes_dir, ".staged", token) \
            if staged else self.changes_dir
        os.makedirs(dest, exist_ok=True)
        stage = os.path.join(self.path, f".chstage-{uuid.uuid4().hex}")
        ch.write.mode("overwrite").parquet(stage)
        import pyarrow.parquet as pq
        files, rows = [], 0
        for i, part in enumerate(sorted(
                glob.glob(os.path.join(stage, "part-*.parquet")))):
            meta = pq.ParquetFile(part).metadata
            if meta.num_rows == 0:
                continue
            name = f"c{version}-{i}-{token}.parquet"
            os.replace(part, os.path.join(dest, name))
            files.append(name)
            rows += meta.num_rows
        shutil.rmtree(stage, ignore_errors=True)
        out = {"version": version, "files": files, "schema_v": schema_v,
               "rows": int(rows)}
        if staged:
            out["staged"] = token
        return out

    def _publish_staged_changes(self, entry: dict) -> tuple[dict, list]:
        """Move a staged commit's change files into ``changes/`` (done
        right BEFORE the publish CAS; on CAS failure the caller moves
        them back via the returned list). Idempotent against a crash
        between a previous move and its CAS: a file already in
        ``changes/`` counts as moved."""
        sdir = os.path.join(self.changes_dir, ".staged", entry["staged"])
        moved = []
        for fn in entry["files"]:
            src = os.path.join(sdir, fn)
            dst = os.path.join(self.changes_dir, fn)
            if os.path.exists(src):
                os.replace(src, dst)
                moved.append((src, dst))
            elif not os.path.exists(dst):
                raise RuntimeError(
                    f"staged change file {fn} missing from {sdir}")
        return {k: v for k, v in entry.items() if k != "staged"}, moved

    @staticmethod
    def _unpublish_staged_changes(moved: list) -> None:
        for src, dst in moved:
            try:
                os.replace(dst, src)
            except FileNotFoundError:
                pass

    def read_change_log(self, from_version: int,
                        to_version: int | None = None, *,
                        include_update_preimages: bool = False,
                        with_version: bool = False) -> DataFrame:
        """The change feed between two versions, served from the per-commit
        change files written at merge time (``create(changefeed=True)``)
        whenever they exist — an O(changed rows) file read with no
        snapshot join. Version steps without an emitted file (append-mode
        commits, overwrites, pre-changefeed history) are snapshot-diffed
        via ``read_changes``, with CONSECUTIVE file-less steps collapsed
        into one diff. Logical no-op commits (compaction, empty batches)
        contribute nothing without any scan.

        Semantics differ from ``read_changes`` exactly as Delta CDF
        differs from a snapshot diff: the log is per-commit, so a key
        changed twice emits both transitions (net-zero pairs included);
        additive consumers (lake/ivm.py) fold either form identically.

        ``with_version``: append a ``_change_version`` column — the
        commit that produced each transition. The table's own LWW
        columns CANNOT order transitions within a multi-commit range (a
        delete row reuses its pre-image's seq, tying with the very
        update it deletes — the replicator's lesson), so any consumer
        that compacts a range to one action per key needs this column
        (outbound relays, see sources/debezium.py emit_debezium). A
        snapshot-diffed span (file-less steps, collapsed to net
        transitions) is labeled with its END version — the net
        transition is what a consumer at the start version must apply,
        and it still orders correctly against neighboring commits."""
        cur_v = self.snapshot()["version"]
        if to_version is None:
            to_version = cur_v
        if not 0 <= from_version <= to_version <= cur_v:
            raise ValueError(f"need 0 <= from {from_version} <= to "
                             f"{to_version} <= current {cur_v}")
        to_snap = self.snapshot_at(to_version)
        table_schema = StructType.fromJson(to_snap["schema"])
        rlog = to_snap.get("rename_log", [])
        dlog = to_snap.get("drop_log", [])
        out_schema = StructType(list(table_schema.fields) +
                                [StructField("change_type", StringType(),
                                             True)])
        if with_version:
            out_schema = StructType(list(out_schema.fields) +
                                    [StructField("_change_version",
                                                 LongType(), True)])
        parts: list[DataFrame] = []
        v = from_version + 1
        while v <= to_version:
            s = self.snapshot_at(v)
            entry = s.get("changes")
            if entry is not None and entry.get("version") == v:
                if entry["files"]:
                    fsch = StructType.fromJson(
                        s["schemas"][str(entry["schema_v"])])
                    ch_schema = StructType(
                        list(fsch.fields)
                        + [StructField("change_type", StringType(), True)])
                    df = self.spark.read.schema(ch_schema).parquet(
                        *[os.path.join(self.changes_dir, f)
                          for f in entry["files"]])
                    df = _apply_renames(df, int(entry["schema_v"]), rlog,
                                        dlog)
                    if not include_update_preimages:
                        df = df.where(
                            F.col("change_type") != "update_preimage")
                    if with_version:
                        df = df.withColumn("_change_version",
                                           F.lit(v).cast("long"))
                    parts.append(align_to_schema(df, out_schema))
                v += 1
            else:
                start = v - 1
                while v <= to_version:
                    e = self.snapshot_at(v).get("changes")
                    if e is not None and e.get("version") == v:
                        break
                    v += 1
                span = self.read_changes(
                    start, v - 1,
                    include_update_preimages=include_update_preimages)
                if with_version:
                    span = span.withColumn("_change_version",
                                           F.lit(v - 1).cast("long"))
                parts.append(align_to_schema(span, out_schema))
        if not parts:
            return (self.spark.createDataFrame([], out_schema)
                    .where(F.lit(False)))
        return reduce(lambda a, b: a.unionByName(b), parts)

    # per-commit file count above which footer stats run as a distributed
    # job instead of a driver loop. Measured (BENCH/profile_commit.py,
    # 1,024-file commit): local-posix footer reads cost ~75µs/file driver-
    # side vs ~0.27s fixed for the Spark job — local crossover ≈ 4,000
    # files. On remote/object-store filesystems every footer is a network
    # RTT (~1-50ms) and the distributed path wins from a few hundred
    # files; deployments there should lower this.
    _STATS_DISTRIBUTED_OVER = 4096

    def _write_bucket_files(self, snap: dict, df: DataFrame, token: str, *,
                            n_buckets: int | None = None,
                            already_clustered: bool = False,
                            sort_cols: list | None = None,
                            stats_cols: list[str] | None = None,
                            max_records_per_file: int | None = None)\
            -> dict[int, list[dict]]:
        """The write stage every data writer shares. Writes df (carrying
        _bucket) for the commit after ``snap`` — its version, latest
        schema version, key columns, bucket count (unless ``n_buckets``
        overrides it), recorded stats columns (unless ``stats_cols``
        does), bloom density and sketch columns all come from ``snap`` —
        and assigns the new files' row-id ranges (:meth:`_assign_row_ranges`).

        Files go hive-partitioned DIRECTLY to their final location: a
        per-commit-attempt directory ``data/c{version}-{token}/`` whose
        files are recorded in the snapshot by RELATIVE path. There is no
        rename pass — at 100-TB commit sizes (10^4-10^5 files) a per-file
        driver-side os.replace loop serializes the commit; here the
        driver's per-file work is one directory listing, O(1) syscalls
        per file list entry.

        ``token`` (a per-commit-attempt uuid) keys the directory: two
        writers racing toward the same version write DISJOINT trees, so
        the loser's files are true orphans (GC-able by expire_snapshots)
        instead of silently clobbering the winner's committed data.
        Readers never derive names — they use the paths recorded in the
        snapshot.

        Per-file rows/bytes for lineage come from parquet FOOTERS — read
        driver-side below _STATS_DISTRIBUTED_OVER files, and as a tiny
        distributed metadata job (mapPartitions over the path list; no
        data scanned) above it, keeping commit metadata work off the
        driver at scale.

        Repartitioning by the KEY columns into exactly ``n_buckets``
        partitions aligns 1:1 with the bucket transform (see bucket_expr),
        so every task writes exactly one bucket — balanced, one file per
        bucket. Falls back to repartitioning by the bucket column when the
        frame lacks the keys."""
        version, schema_v = snap["version"] + 1, _schema_v(snap)
        key_cols = snap["key_cols"]
        n_buckets = n_buckets or snap["n_buckets"]
        if stats_cols is None:
            stats_cols = snap.get("stats_cols")
        commit_dir = f"c{version}-{token}"
        out_dir = os.path.join(self.data_dir, commit_dir)
        if already_clustered:
            # caller guarantees each bucket sits whole in one incoming
            # partition (merge join output — see merge_batch); partitionBy
            # splits by _BUCKET value anyway, so correctness never depends
            # on this, only file counts do
            clustered = df
        elif all(c in df.columns for c in key_cols):
            clustered = df.repartition(n_buckets, *[F.col(c) for c in key_cols])
        else:
            clustered = df.repartition(n_buckets, F.col(_BUCKET))
        if sort_cols:
            # task-local sort (no shuffle): key-clustered row groups give
            # the parquet min/max stats real selectivity, so point lookups
            # skip row groups inside the bucket, not just buckets.
            # _BUCKET leads the sort order ON PURPOSE: a partitionBy write
            # REQUIRES task rows ordered by the partition column, and if
            # the existing sort doesn't already satisfy that, the planner
            # appends its own non-STABLE sort on _bucket which scrambles
            # the data order we just paid for (observed: cluster_by files
            # came out unsorted). With _BUCKET as the sort prefix our
            # SortExec satisfies the writer's requirement and no second
            # sort is planned.
            # Column-expression sort keys (the z-order case) materialize
            # as temp columns first: SortExec re-evaluates ordering
            # expressions per COMPARISON (n log n evals), a projected
            # column is computed once per row. The drop after the sort
            # keeps the files clean; the remaining (_BUCKET, ...) prefix
            # ordering still satisfies the partitionBy writer, so no
            # second sort is planned.
            sort_keys, drop_after = [], []
            for i, c in enumerate(sort_cols):
                if isinstance(c, str):
                    sort_keys.append(F.col(c))
                else:
                    name = f"_sortkey_{i}"
                    clustered = clustered.withColumn(name, c)
                    sort_keys.append(F.col(name))
                    drop_after.append(name)
            clustered = clustered.sortWithinPartitions(
                F.col(_BUCKET), *sort_keys)
            if drop_after:
                clustered = clustered.drop(*drop_after)
        writer = clustered.write.partitionBy(_BUCKET).mode("overwrite")
        if max_records_per_file:
            # split inside the write task: each split file keeps the
            # task-local key sort, so min/max + blooms stay per-file tight
            writer = writer.option("maxRecordsPerFile",
                                   int(max_records_per_file))
        writer.parquet(out_dir)
        staged: dict[int, list[dict]] = {}
        entries: list[tuple[dict, str]] = []  # (entry, absolute path)
        for bdir in glob.glob(os.path.join(out_dir, f"{_BUCKET}=*")):
            b = int(bdir.rsplit("=", 1)[1])
            staged[b] = []
            for part in sorted(glob.glob(os.path.join(bdir,
                                                      "part-*.parquet"))):
                rel = os.path.join(commit_dir, f"{_BUCKET}={b}",
                                   os.path.basename(part))
                e = {"file": rel, "schema_v": schema_v}
                staged[b].append(e)
                entries.append((e, part))
        for (e, _), (rows, nbytes, col_stats, live) in zip(
                entries, self._footer_stats([p for _, p in entries],
                                            stats_cols or [],
                                            tomb_col=_TOMB)):
            e["rows"], e["bytes"] = rows, nbytes
            if col_stats:
                e["stats"] = col_stats
            if live is not None:
                e["live"] = live
        bloom_bpk = snap.get("bloom_bits_per_key", 0)
        if bloom_bpk > 0 and entries:
            self._write_bloom_sidecars(entries, key_cols, bloom_bpk)
        if snap.get("sketch_cols") and entries:
            self._write_sketch_sidecar(out_dir, snap["sketch_cols"])
        self._assign_row_ranges(snap, staged)
        return staged

    @staticmethod
    def _assign_row_ranges(snap: dict, staged: dict[int, list[dict]]) -> None:
        """Row lineage (Iceberg v3): give every new data file a
        ``first_row_id`` range from the snapshot's monotone
        ``next_row_id`` counter — deterministic (sorted bucket + file
        order), zero data IO, no global ordering. A file's range covers
        ALL its rows; rows carrying a materialized ``_row_id`` simply
        waste their slot (Iceberg's documented sparse-id behavior). No-op
        on tables without the flag. The counter moves in the SAME
        snapshot commit as the files, so a losing/crashed commit never
        burns ids and concurrent writers can't collide (``next_row_id``
        is deliberately NOT rebase-able — a lineage table's CAS loss
        falls back to the full re-merge)."""
        if not snap.get("row_lineage"):
            return
        nxt = int(snap.get("next_row_id", 0))
        for b in sorted(staged, key=int):
            for e in staged[b]:
                e["first_row_id"] = nxt
                nxt += int(e.get("rows") or 0)
        snap["next_row_id"] = nxt

    def _write_sketch_sidecar(self, out_dir: str,
                              sketch_cols: list[str]) -> None:
        """One HLL sketch per (new data file, sketch column), written as a
        single parquet sidecar under ``stats/`` (Iceberg's puffin file,
        holding only sketch blobs the manifests never inline — a dense
        lgK=12 sketch is ~4 KB, which would bloat every manifest entry
        100×). One column-pruned, distributed read-back of just-written
        files; values sketch as their string image (``hll_sketch_agg``
        takes int/long/string/binary — casting unifies types without
        changing distinct counts), tombstoned rows sketch as NULL (HLL
        ignores nulls), so an all-tombstone file still gets a row and
        counts as covered. The sidecar keys files by their
        snapshot-relative path, so a commit-losing writer's sidecar rows
        reference never-live files and age out in GC."""
        df = self.spark.read.parquet(out_dir)
        present = [c for c in sketch_cols if c in df.columns]
        if not present:
            return
        # relative-to-data_dir path, matching manifest entry["file"]
        # (substring after the final "/data/" — commit dirs are
        # c{N}-{hex} so the table's own data dir is always that match)
        rel = F.substring_index(F.col("_metadata.file_path"),
                                "/data/", -1).alias("file")
        vals = []
        for c in present:
            v = F.col(c).cast("string")
            if _TOMB in df.columns:
                v = F.when(~F.col(_TOMB), v)
            vals.append(v.alias(c))
        per_file = (df.select(rel, *vals)
                      .groupBy("file")
                      .agg(*[F.hll_sketch_agg(F.col(c),
                                              F.lit(_SKETCH_LG_K)).alias(c)
                             for c in present]))
        long = (per_file.select(
                    "file",
                    F.explode(F.array(*[
                        F.struct(F.lit(c).alias("column"),
                                 F.col(c).alias("sketch"))
                        for c in present])).alias("s"))
                .select("file", "s.column", "s.sketch"))
        os.makedirs(self.stats_dir, exist_ok=True)
        target = os.path.join(self.stats_dir,
                              f"sk-{uuid.uuid4().hex[:12]}")
        long.coalesce(1).write.mode("error").parquet(target)

    def _write_bloom_sidecars(self, entries: list[tuple[dict, str]],
                              key_cols: list[str], bits_per_key: int) -> None:
        """One distributed pass over the JUST-written files' key columns
        builds a bloom bitmap per file and writes it executor-side as
        ``<file>.bloom`` (tmp + atomic rename; task retries converge —
        same bits). The manifest entry records only {file, m, k}: bitmaps
        never live in JSON (a 10^6-row file at 10 bits/key is ~1.2 MB —
        Iceberg keeps these in puffin sidecars for the same reason).
        grouping is by file, so memory per task is one file's key STRING
        only (the join happens JVM-side before Arrow transfer). Builder
        and prober share the exact same _bloom_positions kernel (one md5
        per key, double-hashed into k positions); the key
        string is Spark's own cast-to-string of each key column joined
        with '|' — computed in the JVM, never via pandas astype(str),
        whose Arrow null-coercion turns a long column with any null into
        float64 and would hash 7 as '7.0' (a probe-side false negative,
        the one bloom failure mode that loses data)."""
        import pandas as pd

        plan: dict[str, tuple[str, int, int]] = {}
        for e, p in entries:
            m, k = _bloom_size(max(1, int(e.get("rows") or 1)), bits_per_key)
            plan[os.path.realpath(p)] = (p + ".bloom", m, k)
            # "h" names the hash scheme (md5 + Kirsch-Mitzenmacher double
            # hashing). The prober skips ONLY on an exact scheme match, so
            # sidecars written under any other/older scheme degrade to
            # "never skip" instead of false-negative data loss.
            e["bloom"] = {"file": e["file"] + ".bloom", "m": m, "k": k,
                          "h": _BLOOM_SCHEME}
        plan_b = self.spark.sparkContext.broadcast(plan)

        def _build(pdf: "pd.DataFrame") -> "pd.DataFrame":
            import hashlib
            import os as _os
            import uuid as _uuid
            from urllib.parse import unquote, urlparse

            import numpy as np
            uri = pdf["_f"].iloc[0]
            path = unquote(urlparse(uri).path) if "://" in uri or \
                uri.startswith("file:") else uri
            side, m, k = plan_b.value[_os.path.realpath(path)]
            bits = np.zeros(m // 8, dtype=np.uint8)
            for s in pdf["_k"]:
                # inline replica of _bloom_positions (lockstep!): the
                # closure must stay SELF-CONTAINED — a module import here
                # would fail on workers that receive the package only via
                # cloudpickle (no --py-files), e.g. driver-side sys.path
                # setups. Covered by the no-false-negative tests.
                d = hashlib.md5(s.encode()).digest()
                h1 = int.from_bytes(d[:8], "big")
                h2 = int.from_bytes(d[8:], "big") | 1
                for i in range(k):
                    pos = (h1 + i * h2) % m
                    bits[pos >> 3] |= np.uint8(1 << (pos & 7))
            tmp = f"{side}.{_uuid.uuid4().hex[:8]}"
            with open(tmp, "wb") as fh:
                fh.write(bits.tobytes())
            _os.replace(tmp, side)
            return pd.DataFrame({"f": [uri]})

        key_str = F.concat_ws(
            "|", *[F.col(c).cast("string") for c in key_cols])
        (self.spark.read.parquet(*[p for _, p in entries])
         .select(F.input_file_name().alias("_f"), key_str.alias("_k"))
         .groupBy("_f").applyInPandas(_build, schema="f string")
         .collect())

    def _bloom_contains(self, entry: dict, key_string: str,
                        cache: dict | None = None,
                        roots: dict | None = None) -> bool:
        """Probe a file's bloom sidecar for a fully-specified key. True on
        any doubt (no sidecar recorded, file unreadable) — blooms are an
        optimization, never a correctness gate. False positives cost one
        wasted file scan; false negatives are impossible by construction."""
        b = entry.get("bloom")
        if not b:
            return True
        if roots is None:
            roots = {}
        if b.get("h") != _BLOOM_SCHEME:
            return True  # unknown/older hash scheme: probing another
            # scheme's bitmap can false-negative (silent row loss), so
            # such files are simply never skipped. A MISSING "h" is
            # deliberately NOT grandfathered to the current scheme: the
            # hash kernel already changed once during the unstamped era
            # (multi-digest -> one-md5 double hashing), so an unstamped
            # sidecar is genuinely ambiguous; compaction rewrites it
            # with a stamp.
        # sidecars live NEXT to their data file — same root as the entry
        p = _entry_path(self.data_dir, roots, entry, rel=b["file"])
        bits = (cache or {}).get(p)
        if bits is None:
            try:
                with open(p, "rb") as fh:
                    bits = fh.read()
            except OSError:
                return True
            if cache is not None:
                cache[p] = bits
        m, k = int(b["m"]), int(b["k"])
        if len(bits) * 8 < m:
            return True  # truncated/foreign sidecar: never skip on it
        for pos in _bloom_positions(key_string, m, k):
            if not (bits[pos >> 3] >> (pos & 7)) & 1:
                return False
        return True

    def _footer_stats(self, paths: list[str],
                      stats_cols: list[str] | None = None,
                      tomb_col: str | None = None)\
            -> list[tuple[int, int, dict, int | None]]:
        """(num_rows, size_bytes, {col: [min, max]}, live_rows) per parquet
        path, in order. Metadata only — never scans data pages, with ONE
        exception: when ``tomb_col`` is given, live_rows (rows whose
        tombstone flag is not true) usually folds straight from the
        boolean column's row-group min/max (an all-live or all-tombstone
        group costs nothing), and only a MIXED group pays a single-column
        RLE-boolean read of that group. Min/max come from the footer's
        row-group statistics, folded across row groups; a
        column is omitted when any row group lacks stats for it or its
        values aren't JSON-portable (the manifest is JSON) — omission
        just means "never skip on this column", so it is always safe."""
        stats_cols = stats_cols or []

        def _one(p: str) -> tuple[int, int, dict, int | None]:
            import pyarrow.parquet as pq
            pf = pq.ParquetFile(p)
            md = pf.metadata
            col_stats: dict[str, list] = {}
            idx = {md.schema.column(j).name: j
                   for j in range(md.num_columns)}
            if stats_cols and md.num_rows > 0:
                for c in stats_cols:
                    j = idx.get(c)
                    if j is None:
                        continue  # schema evolution: col absent in file
                    lo = hi = None
                    ok = True
                    for g in range(md.num_row_groups):
                        st = md.row_group(g).column(j).statistics
                        if st is None or not st.has_min_max:
                            ok = False
                            break
                        if not (isinstance(st.min, (int, float, str)) and
                                isinstance(st.max, (int, float, str))) or \
                                isinstance(st.min, bool):
                            ok = False  # bytes/timestamps: not JSON-portable
                            break
                        lo = st.min if lo is None else min(lo, st.min)
                        hi = st.max if hi is None else max(hi, st.max)
                    if ok and lo is not None:
                        col_stats[c] = [lo, hi]
            live: int | None = None
            if tomb_col is not None:
                j = idx.get(tomb_col)
                if j is None:
                    live = md.num_rows  # no tombstone column: all rows live
                else:
                    import pyarrow.compute as pc
                    tombs = 0
                    for g in range(md.num_row_groups):
                        rg = md.row_group(g)
                        st = rg.column(j).statistics
                        if st is not None and st.has_min_max:
                            if st.min is False and st.max is False:
                                continue  # all-live group: free
                            if (st.min is True and st.max is True
                                    and st.has_null_count):
                                # all non-null values are tombstones;
                                # nulls coalesce to live at read time
                                tombs += rg.num_rows - st.null_count
                                continue
                        col = pf.read_row_group(g, columns=[tomb_col]
                                                ).column(0)
                        s = pc.sum(col.cast("int64"))  # sum skips nulls
                        tombs += int(s.as_py() or 0)
                    live = md.num_rows - tombs
            return (md.num_rows, os.path.getsize(p), col_stats, live)
        if len(paths) <= self._STATS_DISTRIBUTED_OVER:
            return [_one(p) for p in paths]
        try:
            sc = self.spark.sparkContext
            n = max(1, min(len(paths) // 32, sc.defaultParallelism))
            stats = dict(sc.parallelize(paths, n)
                         .map(lambda p: (p, _one(p))).collect())
            return [stats[p] for p in paths]
        except Exception:
            # the table path may be driver-visible only (local disk,
            # driver-only mount) — executors then can't open the files;
            # fall back to the driver loop rather than failing the commit
            return [_one(p) for p in paths]

    # --------------------------------------------------------------- lineage
    def _write_lineage(self, version: int, batch_id: str,
                       staged: dict[int, list[dict]],
                       token: str | None = None) -> str:
        """Per-partition lineage for one commit, as a parquet file the
        engine (or any reader) can query as a table: one row per (bucket,
        file) with its footer row count and size. Written BEFORE the
        snapshot commit; the file name carries the commit-attempt token and
        is recorded in the snapshot's ``lineage_files`` list, so a crashed
        or losing commit's lineage is an unreferenced orphan (GC-able by
        ``expire_snapshots``) and ``lineage_df`` only ever sees committed
        lineage. Returns the written file name."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        os.makedirs(self.lineage_dir, exist_ok=True)
        cols = {"version": [], "batch_id": [], "bucket": [], "file": [],
                "rows": [], "bytes": [], "schema_v": []}
        for b, files in staged.items():
            for e in files:
                cols["version"].append(version)
                cols["batch_id"].append(batch_id)
                cols["bucket"].append(int(b))
                cols["file"].append(e["file"])
                cols["rows"].append(int(e.get("rows", -1)))
                cols["bytes"].append(int(e.get("bytes", -1)))
                cols["schema_v"].append(int(e["schema_v"]))
        tbl = pa.table({
            "version": pa.array(cols["version"], pa.int64()),
            "batch_id": pa.array(cols["batch_id"], pa.string()),
            "bucket": pa.array(cols["bucket"], pa.int32()),
            "file": pa.array(cols["file"], pa.string()),
            "rows": pa.array(cols["rows"], pa.int64()),
            "bytes": pa.array(cols["bytes"], pa.int64()),
            "schema_v": pa.array(cols["schema_v"], pa.int32()),
        })
        name = f"v{version:010d}-{token or uuid.uuid4().hex[:12]}.parquet"
        pq.write_table(tbl, os.path.join(self.lineage_dir, name))
        return name

    @staticmethod
    def _record_lineage(snap: dict, name: str) -> None:
        """Reference a lineage file from the snapshot (bounded list — the
        newest ``_LINEAGE_KEEP`` commits keep queryable lineage; older
        files become unreferenced and are GC'd by expire_snapshots, the
        same bounded-history contract as the batch ledger)."""
        lf = snap.setdefault("lineage_files", [])
        lf.append(name)
        del lf[:-_LINEAGE_KEEP]

    def lineage_df(self) -> DataFrame:
        """All committed per-partition lineage as a DataFrame (one row per
        bucket-file written, with footer row count + bytes). Only lineage
        files referenced by the current snapshot are read — a crashed or
        concurrency-losing commit's lineage is never visible."""
        names = self.snapshot().get("lineage_files", [])
        files = [os.path.join(self.lineage_dir, n) for n in names
                 if os.path.exists(os.path.join(self.lineage_dir, n))]
        if not files:
            return self.spark.createDataFrame(
                [], "version long, batch_id string, bucket int, file string,"
                    " rows long, bytes long, schema_v int").where(F.lit(False))
        return self.spark.read.parquet(*files)

    def files_df(self) -> DataFrame:
        """Live manifest entries as a DataFrame (Iceberg's ``table.files``
        inspection table): one row per referenced data file — bucket,
        footer row/live/byte counts, schema version written under,
        merge-on-read membership, bloom/deletion-vector sidecar summary,
        external root (shallow clones). Pure metadata: no data file is
        opened; O(files) driver rows from the (lazily loaded) bucket
        manifests. The ops companion to ``lineage_df`` (which is
        per-COMMIT history, parquet-backed) — this is the CURRENT
        snapshot's physical layout, e.g. ``files_df().groupBy("bucket")
        .agg(...)`` for fragmentation / skew / dv-debt dashboards."""
        snap = self.snapshot()
        mor = {str(b) for b in snap.get("mor_buckets", [])}
        rows = []
        for b in snap["buckets"]:
            for e in snap["buckets"][b]:
                dv = e.get("dv") or {}
                rows.append((int(b), e["file"], int(e.get("rows") or 0),
                             int(e["live"]) if "live" in e else None,
                             int(e.get("bytes") or 0),
                             int(e.get("schema_v") or 0), b in mor,
                             "bloom" in e, int(dv.get("dead", 0)),
                             len(dv.get("files") or []),
                             str(e["root"]) if "root" in e else None))
        return self.spark.createDataFrame(
            rows, schema="bucket int, file string, rows long, "
                         "live_rows long, bytes long, schema_v int, "
                         "merge_on_read boolean, has_bloom boolean, "
                         "dv_dead long, dv_parts int, external_root string")

    def refs_df(self) -> DataFrame:
        """Every named ref as a DataFrame (Iceberg's ``table.refs``):
        main (CURRENT), each tag (name → pinned version), and each
        branch (fork parent, head version, staged commit count, whether
        a publish seal is in place). Metadata-only — O(refs) small JSON
        reads, no data IO."""
        rows = [("main", "branch", int(self.snapshot()["version"]),
                 None, None, None)]
        for name, v in sorted((self.tags() or {}).items()):
            rows.append((name, "tag", int(v), None, None, None))
        for name, info in self.branches().items():
            rows.append((name, "branch", int(info["head_version"]),
                         int(info["parent"]), int(info["commits"]),
                         bool(info.get("sealed", False))))
        return self.spark.createDataFrame(
            rows, "name string, type string, version long, "
                  "fork_parent long, staged_commits long, sealed boolean")

    def snapshots_df(self) -> DataFrame:
        """Retained snapshot versions as a DataFrame (Iceberg's
        ``table.snapshots`` / ``history``): version, physical totals,
        schema version, mor-bucket count, tags pinning it, and whether
        it is CURRENT. Versions still on disk but past retention show
        exactly like retained ones — ``expire_snapshots`` is what
        removes them. O(versions) small JSON reads, no data IO."""
        cur = self.snapshot()["version"]
        tags_by_v: dict[int, list[str]] = {}
        for name, v in (self.tags() or {}).items():
            tags_by_v.setdefault(int(v), []).append(name)
        rows = []
        for p in sorted(glob.glob(os.path.join(self.meta_dir, "v*.json"))):
            try:
                v = int(os.path.basename(p)[1:-5])
            except ValueError:
                continue
            snap = self.snapshot_at(v)
            n_files = n_rows = n_bytes = 0
            buckets = snap.get("buckets", {})
            for b in buckets:
                # sharded-manifest tables answer from the manifest LIST
                # alone (no per-bucket manifest load)
                s = (buckets.summary(b)
                     if isinstance(buckets, _LazyBuckets) else None)
                if s is not None:
                    n_files += s["files"]
                    n_rows += s["rows"]
                    n_bytes += s["bytes"]
                    continue
                for e in buckets[b]:
                    n_files += 1
                    n_rows += int(e.get("rows") or 0)
                    n_bytes += int(e.get("bytes") or 0)
            ca = snap.get("committed_at")
            rows.append((v, v == cur, n_files, n_rows, n_bytes,
                         max(int(x) for x in snap.get("schemas", {"0": 0})),
                         len(snap.get("mor_buckets", [])),
                         sorted(tags_by_v.get(v, [])),
                         float(ca) if ca is not None else None))
        return self.spark.createDataFrame(
            rows, schema="version long, is_current boolean, files long, "
                         "rows long, bytes long, schema_v int, "
                         "mor_buckets int, tags array<string>, "
                         "committed_at double")

    # ---------------------------------------------------------------- append
    def append_batch(self, batch: DataFrame, batch_id: int | str, *,
                     op_col: str = "op", delete_value: str = "delete",
                     batch_compacted: bool = False,
                     ledger_scope: str = "default",
                     extra_metrics: dict | None = None) -> dict:
        """Merge-on-READ ingest: write the batch's per-key winners (deletes
        as tombstone rows) as NEW files appended to their buckets — no
        current-state read, no join, cost O(batch) regardless of table
        size. Readers resolve per-key LWW across generations (``read``);
        ``compact()`` folds generations back into one file per bucket.

        The LSM / Iceberg-v2 equality-delete trade: copy-on-write
        (``merge_batch``) pays at WRITE time proportional to the touched
        table state; append-mode pays at READ time until compaction. For
        high-frequency micro-batches over a huge table, append + periodic
        compaction is the only shape whose ingest cost does not grow with
        the table. Exactly-once per (ledger_scope, batch_id), same as
        merge_batch; the validate + evolve, write and commit stages are
        the merge's own, so schema evolution, the retired-name refusal
        and the NOT NULL key guard are identical."""
        snap = self.snapshot()
        led = snap["ledger"]
        bid = str(batch_id)
        if _ledger_contains(led, bid, ledger_scope):
            return {"batch_id": bid, "skipped": True,
                    **led["metrics"].get(_ledger_key(ledger_scope, bid), {})}
        t0 = time.time()
        if snap.get("row_lineage"):
            raise ValueError(
                "append_batch (merge-on-read) is unsupported on a "
                "row_lineage table: a read-time LWW winner from a newer "
                "generation cannot inherit its predecessor's _row_id "
                "without the merge join; use merge_batch (cow or dv)")
        key_cols = snap["key_cols"]
        schema, _ = self._evolve_stage(snap, batch, op_col)
        resolved = batch if batch_compacted \
            else latest_by_seq(batch, key_cols, snap["seq_col"])
        has = set(resolved.columns)
        obs = Observation()
        out = (resolved.select(
            *[_batch_col(f, has, key_cols).alias(f.name)
              for f in schema.fields],
            (F.col(op_col) == F.lit(delete_value)).alias(_TOMB))
            .withColumn(_BUCKET, routed_bucket_expr(snap))
            .observe(obs,
                     F.sum(F.when(~F.col(_TOMB), 1).otherwise(0)
                           ).alias("rows_appended"),
                     F.sum(F.when(F.col(_TOMB), 1).otherwise(0)
                           ).alias("deletes_appended")))
        token = uuid.uuid4().hex[:12]
        staged = self._write_bucket_files(snap, out, token)
        got = obs.get
        metrics: dict = {"batch_id": bid, "mode": "append",
                         **(extra_metrics or {}),
                         "rows_appended": int(got["rows_appended"] or 0),
                         "deletes_appended": int(got["deletes_appended"] or 0)}
        mor = {str(b) for b in snap.get("mor_buckets", [])}
        for b, files in staged.items():
            # explicit reassignment (not setdefault+extend): the lazy
            # buckets mapping tracks touched buckets by __setitem__, and
            # only touched buckets' manifests are rewritten at commit
            snap["buckets"][str(b)] = \
                snap["buckets"].get(str(b), []) + files
            mor.add(str(b))
        snap["mor_buckets"] = sorted(mor, key=int)
        metrics["buckets_touched"] = len(staged)
        metrics["wall_s"] = round(time.time() - t0, 3)
        # append mode has no pre-images in hand (that's its whole point:
        # no current-state read) — no change file; read_change_log
        # snapshot-diffs this step
        self._commit_stage(snap, staged, bid, metrics, token=token,
                           scope=ledger_scope)
        self._publish(snap)
        return metrics

    def commit_empty_batch(self, batch_id: int | str,
                           scope: str = "default",
                           extra_metrics: dict | None = None,
                           branch: str | None = None) -> dict:
        """Ledger a batch that carried no rows. Without this, an empty
        micro-batch (every availableNow drain ends with one) would leave a
        permanent gap in the ledger's contiguous-prefix watermark: the
        watermark could never advance past the missing id and ``pending``
        would grow by one entry per drain, forever — snapshot JSON size and
        ledger lookups degrading linearly with batch count. One cheap
        snapshot commit (no data files touched, so no lineage file either)
        keeps the ledger O(1).

        Data-free, so a concurrent-writer conflict is trivially retryable
        in place: re-read the (now advanced) snapshot and re-commit.
        ``branch``: ledger onto the branch chain instead of main (a
        branch-ingesting stream's empty drains must land WITH its data
        batches or the publish would carry a gapped ledger)."""
        bid = str(batch_id)

        def _mut(snap: dict) -> tuple[dict, bool]:
            if _ledger_contains(snap["ledger"], bid, scope):
                return {"batch_id": bid, "skipped": True}, False
            metrics = {"batch_id": bid, "empty": True,
                       **(extra_metrics or {})}
            _ledger_add(snap["ledger"], bid, metrics, scope)
            return metrics, True

        return self._metadata_commit(_mut, branch=branch)

    # ------------------------------------------------------------- overwrite
    def overwrite(self, df: DataFrame, batch_id: int | str = "overwrite",
                  *, set_properties: dict | None = None) -> dict:
        """Replace the whole table content (bootstrap/full-snapshot load).

        ``set_properties`` commits table properties ATOMICALLY with the
        rewrite (same contract as ``merge_batch``) — e.g. a replica seed
        marker that must never exist without its data.

        The table invariant is ≤1 row per key, so an input carrying
        duplicate keys is DETERMINISTICALLY compacted to the (seq, commit)
        LWW winner — the same rule every merge uses — instead of being
        stored multi-generation and arbitrarily collapsed at read time.
        All buckets become single-generation (mor_buckets cleared). The
        validate + evolve stage and the NOT NULL key guard are the
        merge's, so a renamed-away column name is refused instead of
        evolving back in."""
        snap = self.snapshot()
        key_cols, seq_col = snap["key_cols"], snap["seq_col"]
        schema, _ = self._evolve_stage(snap, df)
        if seq_col in df.columns:
            df = latest_by_seq(df, key_cols, seq_col)
        has = set(df.columns)
        out = df.select(
            *[_batch_col(f, has, key_cols).alias(f.name)
              for f in schema.fields],
            F.lit(False).alias(_TOMB)) \
            .withColumn(_BUCKET, bucket_expr(key_cols, snap["n_buckets"]))
        if snap.get("row_lineage"):
            # a full replace is all-new rows: ids assign lazily from the
            # new files' ranges; the update stamp is this commit
            out = out.withColumn(_LUV, F.lit(snap["version"] + 1)
                                 .cast("long"))
        token = uuid.uuid4().hex[:12]
        staged = self._write_bucket_files(snap, out, token)
        snap["buckets"] = {str(b): fs for b, fs in staged.items()}
        snap["mor_buckets"] = []
        # full replace under the plain spec cancels any in-progress
        # incremental rebucket (transitional buckets are all replaced)
        snap.pop("rebucket", None)
        metrics = {"batch_id": str(batch_id), "overwrite": True}
        # full replace: no change file, the step is snapshot-diffed
        self._commit_stage(snap, staged, str(batch_id), metrics, token=token,
                           set_properties=set_properties)
        self._publish(snap)
        return metrics

    # ------------------------------------------------------------ compaction
    def compact(self, *, max_files_per_bucket: int = 4,
                tombstone_horizon_seq: int | None = None,
                batch_id: str | None = None,
                target_rows_per_file: int | None = None,
                cluster_by: list[str] | None = None,
                cluster_mode: str = "linear",
                dv_dead_ratio: float | None = None) -> dict:
        """Rewrite fragmented buckets (more than ``max_files_per_bucket``
        files) into one file each; optionally GC delete tombstones whose seq
        is at/below ``tombstone_horizon_seq`` (safe once no event with a
        lower seq can still arrive — the stream's low-watermark).

        ``target_rows_per_file``: cap rows per rewritten file (Spark's
        ``maxRecordsPerFile`` — the split happens inside the write task,
        so the key sort is preserved per file and each split file gets
        its own tight manifest min/max + bloom). One file per bucket is
        right at test scale and wrong at 100 TB: Iceberg targets
        ~512 MB files so scans parallelize within a bucket and object
        stores don't serve multi-GB monoliths. Size it as
        target_bytes / avg_row_bytes from ``bucket_stats()``.

        One atomic snapshot commit; untouched buckets keep their files
        (Iceberg's rewrite_data_files semantics). Merge-on-read buckets
        (multi-generation, from ``append_batch``) whose file count crosses
        the threshold are LWW-resolved by the read below and leave
        compaction single-generation, dropping out of ``mor_buckets``;
        mor buckets still under the threshold keep their (cheap, bounded)
        read-time resolve rather than forcing a rewrite — compaction cost
        stays proportional to the fragmented fraction, not the table.
        Rewritten buckets are KEY-SORTED (task-local sort, no shuffle), so
        their parquet row-group min/max stats become selective and point
        lookups skip row groups inside the bucket — the natural place to
        pay the sort, since merge-time sorting would tax every batch.
        Idempotent per ``batch_id`` (a redelivered compaction id is a
        no-op).

        ``cluster_by``: sort rewritten buckets by THESE columns instead
        of the key (Delta OPTIMIZE ZORDER BY / Iceberg rewrite with a
        sort order, restricted to lexicographic). With
        ``target_rows_per_file`` the task-local split then yields files
        with tight DISJOINT min/max on the cluster columns — which this
        call also adds to the manifest's recorded stats — so range scans
        on them (e.g. a time column) prune whole files via
        ``read(filters=...)``. Layout only: read/LWW semantics never
        depend on file order. Trade-off vs the default key sort: point
        lookups lose row-group locality inside rewritten files, range
        scans on the cluster columns gain file-level pruning.

        ``cluster_mode``: ``'linear'`` (default) sorts lexicographically —
        tight ranges on the FIRST cluster column only; ``'zorder'``
        Morton-interleaves all cluster columns (lake/zorder.py) so
        per-file min/max stay tight on EVERY clustered column and a
        filter on any of them prunes files (Delta OPTIMIZE ZORDER BY).
        The z-value is a sort expression, never a stored column.

        ``dv_dead_ratio``: ALSO rewrite any bucket whose deletion-vector
        dead-row fraction (sum of per-entry dv ``dead`` over physical
        rows) reaches this ratio — dv merges grow masks instead of file
        counts, so count-based selection alone would never reclaim their
        space. The rewrite reads through the mask and drops the dv refs
        (Delta's PURGE / Iceberg rewrite_position_delete_files)."""
        if cluster_mode not in ("linear", "zorder"):
            # fail fast even when no bucket qualifies — a typo'd mode on
            # a quiet table would otherwise pass silently until the first
            # fragmented maintenance run
            raise ValueError(f"cluster_mode must be 'linear' or 'zorder', "
                             f"got {cluster_mode!r}")
        snap = self.snapshot()
        if batch_id and _ledger_contains(snap["ledger"], str(batch_id)):
            return {"compacted_buckets": 0, "skipped": True}
        mor = {str(b) for b in snap.get("mor_buckets", [])}
        if target_rows_per_file is not None and target_rows_per_file < 1:
            raise ValueError(f"target_rows_per_file must be >= 1, got "
                             f"{target_rows_per_file}")

        def _victim(fs: list[dict]) -> bool:
            if target_rows_per_file is None:
                return len(fs) > max_files_per_bucket
            # idempotence: a bucket already split into ceil(rows/target)
            # size-respecting files must NOT be re-selected — comparing
            # len(fs) against max_files_per_bucket alone would rewrite an
            # optimally-split bucket on EVERY maintenance run (unbounded
            # write amplification). Oversize files always qualify.
            rows = [int(e.get("rows") or 0) for e in fs]
            if any(r > target_rows_per_file for r in rows):
                return True
            needed = max(1, -(-sum(rows) // target_rows_per_file))
            return len(fs) > max(max_files_per_bucket, needed)

        def _dv_victim(fs: list[dict]) -> bool:
            if dv_dead_ratio is None:
                return False
            dead = sum(int((e.get("dv") or {}).get("dead", 0)) for e in fs)
            rows = sum(int(e.get("rows") or 0) for e in fs)
            return rows > 0 and dead / rows >= dv_dead_ratio

        def _victim_from_summary(s: dict) -> bool | None:
            """Decide victimhood from the manifest-LIST summary alone;
            None when the list predates a stat this selection needs
            (caller loads the entries — omission means "look", never
            "assume clean")."""
            if target_rows_per_file is not None \
                    and "max_file_rows" not in s:
                return None
            if dv_dead_ratio is not None and "dead" not in s:
                return None
            if target_rows_per_file is None:
                v = s["files"] > max_files_per_bucket
            else:
                needed = max(1, -(-s["rows"] // target_rows_per_file))
                v = (s["max_file_rows"] > target_rows_per_file
                     or s["files"] > max(max_files_per_bucket, needed))
            if not v and dv_dead_ratio is not None:
                v = s["rows"] > 0 and s["dead"] / s["rows"] >= dv_dead_ratio
            return v

        buckets = snap["buckets"]
        victims = []
        for b in buckets:
            if isinstance(buckets, _LazyBuckets):
                # every selection mode answers from the manifest-list
                # summary when its stats are present — victim selection
                # stays O(buckets) metadata, entries load only for the
                # buckets actually rewritten (or whose list entry
                # predates the needed stat)
                s = buckets.summary(b)
                if s is not None:
                    v = _victim_from_summary(s)
                    if v is not None:
                        if v:
                            victims.append(int(b))
                        continue
            if _victim(buckets[b]) or _dv_victim(buckets[b]):
                victims.append(int(b))
        if not victims:
            return {"compacted_buckets": 0}
        lineage = bool(snap.get("row_lineage"))
        df = self.read(victims, snapshot=snap, with_tombstones=True,
                       with_row_ids=lineage)
        if tombstone_horizon_seq is not None:
            df = df.where(~(F.coalesce(F.col(_TOMB), F.lit(False)) &
                            (F.col(snap["seq_col"]) <= tombstone_horizon_seq)))
        sort_cols, stats_cols = _clustered_layout(
            snap, cluster_by, df, cluster_mode=cluster_mode)
        # routed: a transitional bucket's rows route back to the SAME
        # transitional id (their old bucket is behind the frontier), an
        # unmigrated bucket's rows to itself — a plain-spec expression
        # here would re-route migrated rows back into old buckets
        out = df.withColumn(_BUCKET, routed_bucket_expr(snap))
        token = uuid.uuid4().hex[:12]
        staged = self._write_bucket_files(
            snap, out, token, sort_cols=sort_cols, stats_cols=stats_cols,
            max_records_per_file=target_rows_per_file)
        for b in victims:
            snap["buckets"][str(b)] = staged.get(b, [])
        snap["mor_buckets"] = sorted(mor - {str(b) for b in victims}, key=int)
        metrics = {"compacted_buckets": len(victims),
                   "batch_id": batch_id or f"compact-{snap['version'] + 1}"}
        # compaction never changes logical state: a change-log no-op
        self._commit_stage(snap, staged, metrics["batch_id"], metrics,
                           token=token, changes=_noop_changes(snap))
        self._publish(snap)
        return metrics

    # ------------------------------------------------------------ maintenance
    def expire_snapshots(self, *, keep_last: int = 2,
                         orphan_grace_s: float = 3600.0,
                         older_than_s: float | None = None,
                         dry_run: bool = False) -> dict:
        """Iceberg ``expire_snapshots`` + ``remove_orphan_files``: drop all
        but the newest ``keep_last`` snapshot manifests and delete data
        files referenced by no retained snapshot (including orphans staged
        by a writer that crashed before its snapshot commit). Time travel
        stays possible within the retained window; the CURRENT pointer is
        never touched, so this is safe to run concurrently with readers of
        retained snapshots.

        ``orphan_grace_s``: unreferenced files YOUNGER than this are
        spared (Iceberg remove_orphan_files' ``older_than``). An in-flight
        writer stages data files directly under ``data/`` for the whole
        duration of its Spark write + footer-stats pass, during which they
        are referenced by no snapshot — a concurrent GC without the grace
        would delete them and the writer would then commit a snapshot
        pointing at missing files (permanent corruption). Only pass 0 when
        no writer can possibly be running.

        ``older_than_s``: AGE-based retention on top of the count — every
        snapshot committed within the last ``older_than_s`` seconds is
        ALSO retained (Iceberg's ``expire_snapshots(older_than=...,
        retain_last=keep_last)`` shape), so "keep 7 days of time travel"
        composes with "always keep the newest N". Ages come from each
        snapshot's ``committed_at`` stamp (file mtime for legacy
        snapshots that predate it).

        ``dry_run=True``: report exactly what a real run would remove —
        same counts, zero deletions (Delta VACUUM DRY RUN)."""
        now = time.time()

        def _expired(path: str) -> bool:
            try:
                return now - os.path.getmtime(path) >= orphan_grace_s
            except OSError:
                return False  # vanished mid-walk (concurrent GC/writer)

        def _rm_file(path: str) -> None:
            if not dry_run:
                os.remove(path)

        def _rm_tree(path: str) -> None:
            if not dry_run:
                shutil.rmtree(path, ignore_errors=True)
        class _VanishedMidScan(Exception):
            # a metadata file disappeared between listing and open. A
            # wap/branch file: a drop/abandon (its files became orphans)
            # or a publish/fast_forward (its files are now referenced by
            # a NEW snapshot the scan's keep set predates). A retained or
            # tag-pinned v*.json: a concurrent expire (smaller keep_last,
            # or after a drop_tag) removed it. All resolve by RE-SCANNING
            # from a fresh listing — continuing with the stale sets could
            # let a just-published long-staged file slip into the
            # deletion sweep (published snapshot → missing data)
            pass

        def _scan():
            names = sorted(f for f in os.listdir(self.meta_dir)
                           if f.startswith("v") and f.endswith(".json"))
            current = self._current_name()
            keep = set(names[-keep_last:]) | {current}
            if older_than_s is not None:
                cutoff = now - float(older_than_s)
                for name in names:
                    full = os.path.join(self.meta_dir, name)
                    stamp = None
                    try:
                        with open(full) as f:
                            stamp = json.load(f).get("committed_at")
                    except (OSError, ValueError):
                        pass
                    if stamp is None:
                        try:
                            stamp = os.path.getmtime(full)
                        except OSError:
                            continue
                    if float(stamp) > cutoff:
                        keep.add(name)
            # tagged snapshots are pinned: their manifests (and therefore
            # every file they reference, below) survive until the tag
            # drops
            keep |= {f"v{int(v):010d}.json"
                     for v in self.snapshot().get("tags", {}).values()}
            # staged write-audit-publish snapshots pin their files until
            # published or abandoned — an audit may outlast any grace
            # window
            waps = {f for f in os.listdir(self.meta_dir)
                    if f.startswith("wap-") and f.endswith(".json")}
            # branch chains pin their staged snapshots' files the same
            # way; fork markers (no "version") additionally pin the
            # fork-base snapshot — a commit-less branch resolves its head
            # through it
            branch_snaps: set[str] = set()
            for fname in os.listdir(self.meta_dir):
                if fname.startswith("branch-") and fname.endswith(".json") \
                        and ".tmp-" not in fname:
                    try:
                        with open(os.path.join(self.meta_dir, fname)) as f:
                            doc = json.load(f)
                    except (OSError, ValueError):
                        raise _VanishedMidScan(fname)
                    if "version" in doc:
                        branch_snaps.add(fname)
                    elif "parent" in doc:  # fork marker (seals: neither)
                        keep.add(f"v{int(doc['parent']):010d}.json")
            refs = {"files": set(), "lineage": set(), "changes": set(),
                    "staged": set(), "manifests": set()}
            for name in keep | waps | branch_snaps:
                try:
                    with open(os.path.join(self.meta_dir, name)) as f:
                        snap = self._wrap_snap(json.load(f))
                except OSError:
                    # a snapshot that is still CURRENT cannot
                    # legitimately vanish; anything else is a race
                    if name != current or self._current_name() != current:
                        raise _VanishedMidScan(name)
                    raise
                refs["manifests"].update(
                    ref["manifest"] for ref in getattr(
                        snap["buckets"], "_listing", {}).values()
                    if ref.get("manifest"))
                for files in snap["buckets"].values():
                    refs["files"].update(e["file"] for e in files)
                    refs["files"].update(e["bloom"]["file"] for e in files
                                         if "bloom" in e)
                    for e in files:
                        # deletion-vector parts are data-dir files too;
                        # external-rooted parts (clones) live outside
                        # this table's walk and need no protection here
                        for part in (e.get("dv") or {}).get("files", []):
                            if isinstance(part, str):
                                refs["files"].add(part)
                            elif part.get("root") is None:
                                refs["files"].add(part["file"])
                refs["lineage"].update(snap.get("lineage_files", []))
                ch_entry = snap.get("changes") or {}
                refs["changes"].update(ch_entry.get("files", []))
                if ch_entry.get("staged"):
                    refs["staged"].add(ch_entry["staged"])
            return names, keep, refs

        last_race: Exception | None = None
        for _attempt in range(4):
            try:
                names, keep, refs = _scan()
                break
            except _VanishedMidScan as e:
                last_race = e
        else:
            # racers on every attempt: fail the maintenance run safely
            # (nothing deleted) rather than risk sweeping a racer's files
            raise OSError(
                f"expire_snapshots: metadata kept vanishing "
                f"mid-scan across retries (last: {last_race}); a writer "
                f"is publishing/dropping concurrently — re-run "
                f"maintenance") from last_race
        referenced = refs["files"]
        referenced_lineage = refs["lineage"]
        referenced_changes = refs["changes"]
        referenced_staged = refs["staged"]
        referenced_manifests = refs["manifests"]
        dropped_snaps = 0
        for name in names:
            if name not in keep:
                _rm_file(os.path.join(self.meta_dir, name))
                dropped_snaps += 1
        # sharded-manifest GC: a manifest referenced by no retained
        # snapshot (expired versions, or a commit loser's orphan) is
        # dead; tmp spills from interrupted manifest writes age out too
        dropped_manifests = 0
        for fname in os.listdir(self.meta_dir):
            full = os.path.join(self.meta_dir, fname)
            if fname.startswith("m-") and fname.endswith(".json"):
                if fname not in referenced_manifests and _expired(full):
                    _rm_file(full)
                    dropped_manifests += 1
            elif fname.startswith(".m-") and ".tmp." in fname \
                    and _expired(full):
                _rm_file(full)
                dropped_manifests += 1
            elif (fname.startswith("wap-") or fname.startswith("branch-")) \
                    and ".json.tmp-" in fname and _expired(full):
                # crash mid-_stage_wap / mid-_branch_append: the fully-
                # written-then-linked protocol leaves only this orphan tmp
                _rm_file(full)
                dropped_manifests += 1
        dropped_files = 0
        # data files live under per-commit directories (relative paths in
        # the manifest) — walk recursively; flat names cover legacy
        # layouts and planted orphans. Spark's _SUCCESS markers are never
        # referenced and are swept with their commit's orphans.
        for root, _dirs, files in os.walk(self.data_dir):
            for fname in files:
                full = os.path.join(root, fname)
                rel = os.path.relpath(full, self.data_dir)
                if (rel not in referenced and fname not in referenced
                        and _expired(full)):
                    _rm_file(full)
                    dropped_files += 1
        if not dry_run:
            for root, _dirs, files in os.walk(self.data_dir, topdown=False):
                if root != self.data_dir and not os.listdir(root) \
                        and _expired(root):
                    os.rmdir(root)
        # lineage GC: files referenced by no retained snapshot (rotated out
        # of the bounded lineage_files list, written by a crashed commit, or
        # staged by a concurrency-losing writer) are orphans — without this
        # the lineage dir grows one file per commit forever (10^7 commits →
        # 10^7 files)
        dropped_lineage = 0
        if os.path.isdir(self.lineage_dir):
            for fname in os.listdir(self.lineage_dir):
                full = os.path.join(self.lineage_dir, fname)
                if fname not in referenced_lineage and _expired(full):
                    _rm_file(full)
                    dropped_lineage += 1
        # change-feed retention mirrors snapshot retention: each snapshot
        # references exactly its own commit's change files, so expiring a
        # snapshot expires its slice of the feed (Delta CDF's retention
        # rule); consumers further behind fall back to snapshot diffs
        # while those snapshots last, then fail loudly in snapshot_at
        dropped_changes = 0
        if os.path.isdir(self.changes_dir):
            for fname in os.listdir(self.changes_dir):
                full = os.path.join(self.changes_dir, fname)
                if fname == ".staged":
                    continue  # staged WAP/branch feeds, swept below
                if fname not in referenced_changes and _expired(full):
                    _rm_file(full)
                    dropped_changes += 1
        # staged change-file dirs (changes/.staged/<token>/ — WAP stages
        # and branch commits, hidden from raw tailers until publish):
        # a token referenced by no staged/branch snapshot belongs to an
        # abandoned wap / dropped branch / published stage — sweep it
        staged_root = os.path.join(self.changes_dir, ".staged")
        if os.path.isdir(staged_root):
            for tok in os.listdir(staged_root):
                full = os.path.join(staged_root, tok)
                if tok not in referenced_staged and _expired(full):
                    _rm_tree(full)
                    dropped_changes += 1
        # sketch-sidecar GC: a sidecar whose referenced data files are ALL
        # unreferenced by every retained snapshot is dead metadata (its
        # commit expired, or it was staged by a crashed/losing writer —
        # including partially-written sidecars, which read as dead).
        # Liveness needs only the tiny `file` column, never the blobs.
        dropped_sketches = 0
        if os.path.isdir(self.stats_dir):
            import pyarrow.parquet as pq
            for d in sorted(glob.glob(os.path.join(self.stats_dir,
                                                   "sk-*"))):
                refs: set | None = set()
                try:
                    for part in glob.glob(os.path.join(d, "*.parquet")):
                        refs.update(pq.read_table(
                            part, columns=["file"])["file"].to_pylist())
                except Exception:
                    refs = None  # unreadable partial write — age out
                if (refs is None or not (refs & referenced)) \
                        and _expired(d):
                    _rm_tree(d)
                    dropped_sketches += 1
        return {"snapshots_expired": dropped_snaps,
                "dry_run": bool(dry_run),
                "orphan_files_removed": dropped_files,
                "orphan_manifests_removed": dropped_manifests,
                "orphan_lineage_removed": dropped_lineage,
                "orphan_changes_removed": dropped_changes,
                "orphan_sketches_removed": dropped_sketches,
                "snapshots_retained": len(keep)}

    # --------------------------------------------------------------- lineage
    def lineage(self) -> list[dict]:
        """Per-batch ingest metrics recorded with each commit (newest last)."""
        led = self.snapshot()["ledger"]
        return [led["metrics"][b] for b in led["recent"] if b in led["metrics"]]

    def committed_batch_ids(self) -> set[str]:
        led = self.snapshot()["ledger"]
        return set(led["recent"])


def _to_epoch(ts) -> float:
    """Epoch seconds from the TIMESTAMP-AS-OF argument forms: a number
    passes through; datetimes and ISO-8601 strings convert, with NAIVE
    values read as UTC (the engine-wide session timezone) — Python's own
    ``datetime.timestamp()`` would silently use the host's local zone,
    making the same call resolve different versions on different
    machines."""
    from datetime import datetime, timezone
    if isinstance(ts, (int, float)):
        return float(ts)
    if isinstance(ts, str):
        ts = datetime.fromisoformat(ts)
    if isinstance(ts, datetime):
        if ts.tzinfo is None:
            ts = ts.replace(tzinfo=timezone.utc)
        return ts.timestamp()
    raise TypeError(f"timestamp must be epoch seconds, datetime, or "
                    f"ISO-8601 string, got {type(ts).__name__}")


def _scope_state(led: dict, scope: str) -> dict:
    """Per-scope watermark state (Delta's txnAppId namespacing: batch ids
    only dedupe within their scope, so a NEW stream whose checkpoint
    restarts batch ids at 0 cannot be mistaken for a replay of an old
    one). Legacy single-scope ledgers migrate lazily into 'default'."""
    scopes = led.setdefault("scopes", {})
    if "watermark" in led and "default" not in scopes:
        scopes["default"] = {"watermark": led.pop("watermark"),
                             "pending": led.pop("pending", [])}
    return scopes.setdefault(scope, {"watermark": -1, "pending": []})


def _batch_col(f: StructField, have: set, key_cols: list[str]):
    """Batch column ``f.name`` cast to the table type (null when the batch
    lacks it). Key columns are NOT NULL (the WAL contract): a null key
    fails the batch loudly instead of committing a silent null-key row."""
    if f.name not in have:
        return F.lit(None).cast(f.dataType)
    c = F.col(f.name).cast(f.dataType)
    if f.name in key_cols:
        c = F.when(c.isNotNull(), c).otherwise(F.raise_error(F.lit(
            f"null key column '{f.name}' in merge batch "
            f"(key columns are NOT NULL)")))
    return c


def _feature_cols(snap: dict, schema: StructType, *, use_new, has_e,
                  del_now, moved, dv: bool) -> list:
    """The join output's per-feature columns, from the winner rule's
    ``use_new`` (the batch row wins), ``has_e`` (an existing row matched),
    ``del_now`` (the winner deletes) and ``moved`` (its (seq, commit)
    differs from the stored row's — an idempotent re-apply of the same
    event is NOT a change)."""
    e_tomb = F.col(f"_e_{_TOMB}")
    cols = []
    if snap.get("row_lineage"):
        # stable row identity (Iceberg v3): a matched key — alive OR
        # tombstoned (a revived key is the same row) — keeps its stored
        # id; brand-new keys leave it null and take their id lazily from
        # the new file's first_row_id + position. _last_updated_version
        # moves only when the row actually changes.
        version = F.lit(snap["version"] + 1)
        cols += [F.col("_e__rid").alias(_ROW_ID),
                 F.when(has_e & ~(use_new & moved),
                        F.coalesce(F.col("_e__luv"), version))
                  .otherwise(version).cast("long").alias(_LUV)]
    if dv:
        # the superseded existing row's physical address — only a matched
        # row the batch out-ranks dies; loser batch rows and untouched
        # existing rows mask nothing
        dies = use_new & has_e
        cols += [F.when(dies, F.col(f"_e_{_DV_FILE}")).alias("_dead_f"),
                 F.when(dies, F.col(f"_e_{_DV_POS}")).alias("_dead_p"),
                 F.when(dies, e_tomb).alias("_dead_t")]
    if snap.get("changefeed"):
        # change-data-feed emission: the merge join is the ONE place that
        # sees both the pre-image and the winner, so the commit's change
        # rows come out as a by-product — classified here, materialized
        # by the write stage (_change_rows)
        alive_e = has_e & ~e_tomb
        cols += [
            F.struct(*[F.col(f"_e_{f.name}").alias(f.name)
                       for f in schema.fields]).alias("_pre"),
            F.when(use_new & ~del_now & ~alive_e, F.lit("insert"))
             .when(use_new & ~del_now & alive_e & moved,
                   F.lit("update_postimage"))
             .when(use_new & del_now & alive_e, F.lit("delete"))
             .alias("_cdf")]
    return cols


def _change_rows(merged: DataFrame, schema: StructType,
                 version: int) -> DataFrame:
    """The change-feed rows of one merge, from the join output's ``_pre``
    and ``_cdf`` columns: an insert emits its post-image, an update its
    pre- and post-image, a delete its pre-image. ``_change_version``
    stamps replay order: a delete row reuses its pre-image's (seq,
    commit), so data columns alone cannot order a key's transitions —
    the commit version can (Delta CDF's _commit_version). Readers with a
    pinned schema (read_change_log) simply project it out."""
    post = F.struct(*[F.col(f.name) for f in schema.fields],
                    F.col("_cdf").alias("change_type"))

    def _pre(tag: str):
        return F.struct(*[F.col(f"_pre.{f.name}").alias(f.name)
                          for f in schema.fields],
                        F.lit(tag).alias("change_type"))

    rows = (F.when(F.col("_cdf") == "insert", F.array(post))
            .when(F.col("_cdf") == "update_postimage",
                  F.array(_pre("update_preimage"), post))
            .when(F.col("_cdf") == "delete", F.array(_pre("delete"))))
    return (merged.where(F.col("_cdf").isNotNull())
            .select(F.explode(rows).alias("_r"))
            .select("_r.*", F.lit(version).cast("long")
                    .alias("_change_version")))


def _mid_rebucket(snap: dict) -> bool:
    """An incremental rebucket is in flight: keys route by its frontier."""
    return bool((snap.get("rebucket") or {}).get("frontier"))


def _schema_v(snap: dict) -> int:
    """The latest schema version — the one new files are written under."""
    return max((int(v) for v in snap["schemas"]), default=0)


def _noop_changes(snap: dict) -> dict:
    """Change-log entry of a commit after ``snap`` that changes no logical
    state (compaction, rebucket, an empty batch): read_change_log skips
    the step without a scan."""
    return {"version": snap["version"] + 1, "files": [],
            "schema_v": _schema_v(snap), "rows": 0}


def _provably_empty(spark: SparkSession, schema: StructType) -> DataFrame:
    """Empty frame Catalyst can PROVE empty: filter(false) turns the
    RDD-backed createDataFrame([]) into a LocalRelation, so joins against
    it are eliminated (e.g. the merge's full outer join on bootstrap —
    otherwise the winners side is shuffled + sorted into a SortMergeJoin
    against nothing)."""
    return spark.createDataFrame([], schema).where(F.lit(False))


def _clustered_layout(snap: dict, cluster_by: list[str] | None,
                      df: DataFrame, *, cluster_mode: str = "linear",
                      ) -> tuple[list, list[str]]:
    """(sort_cols, stats_cols) for a maintenance rewrite of ``df``:
    default is the key sort with the table's configured stats;
    ``cluster_by`` replaces the sort order and extends the recorded stats
    with the cluster columns so ``read(filters=...)`` can prune the
    rewritten files on them. Fails fast on unknown columns — a typo'd
    cluster column would otherwise surface as an opaque write-stage
    AnalysisException. ``cluster_mode='zorder'`` sorts by the Morton
    expression instead (lake/zorder.py); the STATS stay the raw cluster
    columns either way — pruning reads real-column min/max."""
    if cluster_mode not in ("linear", "zorder"):
        raise ValueError(f"cluster_mode must be 'linear' or 'zorder', "
                         f"got {cluster_mode!r}")
    if not cluster_by:
        return list(snap["key_cols"]), snap.get("stats_cols")
    missing = [c for c in cluster_by if c not in df.columns]
    if missing:
        raise ValueError(f"cluster_by column(s) {missing} not in table "
                         f"columns {sorted(df.columns)}")
    stats = list(snap.get("stats_cols") or [])
    stats += [c for c in cluster_by if c not in stats]
    if cluster_mode == "zorder":
        from arlas_proc_spark.lake.zorder import zorder_expr
        return [zorder_expr(df, list(cluster_by))], stats
    return list(cluster_by), stats


# Hash-scheme id stamped into every manifest bloom entry. Bump it whenever
# _bloom_positions changes shape (digest, stride, byte order): the prober
# refuses to skip on a mismatched scheme, so old sidecars can never
# false-negative under new probe math.
_BLOOM_SCHEME = "km-md5-1"


def _bloom_size(n_rows: int, bits_per_key: int) -> tuple[int, int]:
    """(m bits, k hashes) for a file of n_rows keys: m = next power of two
    ≥ n*bpk (min 1 KiB so tiny files still byte-align), k = ln2 * bpk —
    the textbook optimum for the target bits/key."""
    m = 1 << max(13, (n_rows * bits_per_key - 1).bit_length())
    return m, max(1, round(0.6931 * bits_per_key))


def _bloom_positions(key_string: str, m: int, k: int) -> list[int]:
    """k bit positions for a key from ONE md5 (Kirsch-Mitzenmacher double
    hashing: pos_i = h1 + i*h2 mod m, h2 forced odd so the stride spans
    the power-of-two m) — k× fewer digests than hashing per position,
    which matters at commit time (bits_per_key=10 → k=7 digests saved
    per row). Shared verbatim by the builder (_write_bloom_sidecars) and
    the prober (_bloom_contains); md5 keeps it portable."""
    import hashlib
    d = hashlib.md5(key_string.encode()).digest()
    h1 = int.from_bytes(d[:8], "big")
    h2 = int.from_bytes(d[8:], "big") | 1
    return [(h1 + i * h2) % m for i in range(k)]


_FILTER_OPS = {"=", "<", "<=", ">", ">=", "in"}


def _check_retired_names(batch_cols: list[str], snap: dict) -> None:
    """A batch column carrying a RENAMED-AWAY name would evolve it back
    in as a fresh null-filled column and silently fork the data — fail
    with the current name instead (upstream must switch names at the
    rename point)."""
    log = snap.get("rename_log") or []
    if not log:
        return
    current = {f["name"] for f in snap["schema"]["fields"]}
    final: dict[str, str] = {}
    # walk renames AND drops oldest-first: follow chains a→b→c to the
    # live name; a drop ENDS a lineage (old values are masked by the
    # drop log), so those names are free for honest re-use again
    for e in _evolution_events(log, snap.get("drop_log", [])):
        if e["kind"] == "rename":
            final = {k: (e["to"] if v == e["from"] else v)
                     for k, v in final.items()}
            final[e["from"]] = e["to"]
        else:
            final = {k: v for k, v in final.items() if v != e["name"]}
    bad = {c: final[c] for c in batch_cols
           if c in final and c not in current}
    if bad:
        raise ValueError(
            f"batch uses renamed-away column name(s) "
            f"{ {k: f'now {v!r}' for k, v in bad.items()} }; write with "
            f"the current names")


def _entry_path(data_dir: str, roots: dict | None, e: dict,
                rel: str | None = None) -> str:
    """Absolute path of a manifest entry's file (or a sibling like its
    bloom sidecar via ``rel``): the table's own data dir for normal
    entries, the recorded external root for entries referencing another
    table's storage (``shallow_clone``)."""
    rel = e["file"] if rel is None else rel
    r = e.get("root")
    if r is not None:
        return os.path.join((roots or {})[str(r)], rel)
    return os.path.join(data_dir, rel)


def _dv_part_path(data_dir: str, roots: dict | None, part) -> str:
    """Absolute path of one deletion-vector part. Parts written by the
    table itself are plain RELATIVE strings; ``shallow_clone`` rewrites
    them to ``{"file": rel, "root": id}`` dicts because a cloned entry's
    dv parts can span storages (source-written parts live in the source
    root, the clone's own later dv merges add parts in clone storage) —
    unlike bloom sidecars, which always live beside their data file and
    so inherit the ENTRY's root."""
    if isinstance(part, str):
        return os.path.join(data_dir, part)
    r = part.get("root")
    base = (roots or {})[str(r)] if r is not None else data_dir
    return os.path.join(base, part["file"])


def _evolution_events(rename_log: list[dict],
                      drop_log: list[dict]) -> list[dict]:
    """Renames and drops merged into one timeline ordered by the schema
    version each committed at (each bumps schema_v once, so versions are
    unique across both logs)."""
    events = ([{"kind": "rename", **r} for r in rename_log or []]
              + [{"kind": "drop", **d} for d in drop_log or []])
    events.sort(key=lambda e: int(e["schema_v"]))
    return events


def _apply_renames(df: DataFrame, file_sv: int,
                   rename_log: list[dict],
                   drop_log: list[dict] | None = None) -> DataFrame:
    """Project a frame read under schema version ``file_sv`` forward
    through every column rename AND drop committed AFTER it (oldest
    first), so ``align_to_schema`` matches values by their current name
    instead of null-filling a renamed column out of existence — and so
    a physical column retired by ``drop_column`` is masked BEFORE
    alignment, never resurrecting into a later same-named column."""
    for e in _evolution_events(rename_log, drop_log):
        if int(e["schema_v"]) <= int(file_sv):
            continue
        if e["kind"] == "rename":
            if e["from"] in df.columns:
                df = df.withColumnRenamed(e["from"], e["to"])
        elif e["name"] in df.columns:
            df = df.drop(e["name"])
    return df


def _filters_at(filters: list[tuple], entry_sv: int,
                rename_log: list[dict]) -> list[tuple]:
    """Translate current-name filters back to the names a file was
    WRITTEN under (its manifest stats are keyed by those), walking the
    rename log newest-to-oldest across every rename newer than the
    file's schema version."""
    if not rename_log:
        return filters
    out = []
    for c, op, v in filters:
        name = c
        for r in reversed(rename_log):
            if int(r["schema_v"]) > int(entry_sv) and r["to"] == name:
                name = r["from"]
        out.append((name, op, v))
    return out


def _normalize_filters(filters: list[tuple] | None) -> list[tuple]:
    """Validate ``(col, op, value)`` triples. ``in`` takes a non-empty
    list/tuple/set of values; null comparisons are rejected (SQL
    comparison semantics make them match nothing — a caller passing one
    almost certainly wants ``IS NULL``, which file stats can't prove)."""
    if not filters:
        return []
    out = []
    for f in filters:
        if not (isinstance(f, (tuple, list)) and len(f) == 3):
            raise ValueError(f"filter must be (col, op, value), got {f!r}")
        col, op, val = f
        if op not in _FILTER_OPS:
            raise ValueError(f"unsupported filter op {op!r} "
                             f"(supported: {sorted(_FILTER_OPS)})")
        if op == "in":
            vals = list(val)
            if not vals or any(v is None for v in vals):
                raise ValueError("'in' filter needs a non-empty list of "
                                 "non-null values")
            out.append((col, op, vals))
        else:
            if val is None:
                raise ValueError(f"null comparison {col} {op} None matches "
                                 f"nothing; filter it row-wise instead")
            out.append((col, op, val))
    return out


def _entry_may_match(entry: dict, filters: list[tuple]) -> bool:
    """Manifest-level file skipping: False only when the file's recorded
    min/max PROVE no row satisfies every filter. Missing stats (old
    manifests, un-tracked columns, mixed types) always return True —
    pruning is an optimization, never a correctness gate. Nulls are safe:
    a null never satisfies a comparison, so null rows inside a kept-or-
    skipped file can't change any filter's result set."""
    stats = entry.get("stats")
    if not stats or not filters:
        return True
    for col, op, val in filters:
        rng = stats.get(col)
        if not rng:
            continue
        lo, hi = rng
        try:
            if op == "=":
                if val < lo or val > hi:
                    return False
            elif op == "in":
                if all(v < lo or v > hi for v in val):
                    return False
            elif op == "<":
                if lo >= val:
                    return False
            elif op == "<=":
                if lo > val:
                    return False
            elif op == ">":
                if hi <= val:
                    return False
            elif op == ">=":
                if hi < val:
                    return False
        except TypeError:
            continue  # stats/value type mismatch: never skip on it
    return True


def _filters_to_column(filters: list[tuple]):
    """The same conjunctive filters as one Spark Column (row-level
    residual: manifest pruning skips files, this keeps the rows exact)."""
    conds = []
    for col, op, val in filters:
        c = F.col(col)
        if op == "=":
            conds.append(c == F.lit(val))
        elif op == "in":
            conds.append(c.isin(val))
        elif op == "<":
            conds.append(c < F.lit(val))
        elif op == "<=":
            conds.append(c <= F.lit(val))
        elif op == ">":
            conds.append(c > F.lit(val))
        else:
            conds.append(c >= F.lit(val))
    return reduce(lambda a, b: a & b, conds)


def _ledger_key(scope: str, bid: str) -> str:
    return bid if scope == "default" else f"{scope}:{bid}"


def _ledger_contains(led: dict, bid: str, scope: str = "default") -> bool:
    """Committed = below the scope's contiguous-prefix watermark (every
    numeric id 0..watermark seen), in its numeric pending set (committed
    above a gap), or in the recent list (non-numeric ids, scope-prefixed).
    O(1) state even at 10^10 events: pending drains as gaps fill, recent
    is bounded."""
    if bid.isdigit():
        st = _scope_state(led, scope)
        return int(bid) <= st["watermark"] or int(bid) in st["pending"]
    return _ledger_key(scope, bid) in led["recent"]


def _ledger_add(led: dict, bid: str, metrics: dict,
                scope: str = "default") -> None:
    key = _ledger_key(scope, bid)
    led["recent"].append(key)
    led["metrics"][key] = metrics
    if bid.isdigit():
        st = _scope_state(led, scope)
        pending = set(st["pending"])
        pending.add(int(bid))
        wm = st["watermark"]
        while wm + 1 in pending:
            wm += 1
            pending.remove(wm)
        st["watermark"] = wm
        st["pending"] = sorted(pending)
    # bound ledger size: O(1) state per commit at 10^10-event scale
    while len(led["recent"]) > _LEDGER_KEEP:
        drop = led["recent"].pop(0)
        led["metrics"].pop(drop, None)
