"""CommitCAS — the injectable commit primitive under every atomicity
story in the lake layer.

Every transactional guarantee this package makes (snapshot commit, WAP
publish, branch-chain append, publish seal, catalog pointer flip) reduces
to exactly TWO named-object operations:

- ``create_exclusive(path, body)`` — atomically create an IMMUTABLE named
  object, failing if the name exists. No reader may ever observe a
  partial object under the final name.
- ``swing_pointer(path, value, expected)`` — durably set a small MUTABLE
  named pointer, conditional on its current content.

This module is the seam: ``PosixCAS`` (the default) implements both on a
posix filesystem with the package's original mechanics (hard-link
exclusivity, fsync-before-rename, directory fsync), and a deployment on
an object store injects its own implementation — the semantics of every
caller are already written against the interface, not the filesystem.

Object-store mapping (the 100-TB substrate has no atomic rename — it has
conditional writes; this is Iceberg's catalog-commit indirection shape):

- S3 (Dec 2024+ conditional writes):
  ``create_exclusive``  → ``PutObject`` with ``If-None-Match: *``
  (412/409 ⇒ ``CasConflict``).
  ``swing_pointer``     → ``GetObject`` (content + ETag), compare content
  to ``expected``, then ``PutObject`` with ``If-Match: <etag read>``.
  ABA cannot bite: pointer values are snapshot names that never repeat,
  so content-equality + etag-conditioned put is exact. ``expected=None``
  (bootstrap) → ``If-None-Match: *``.
- DynamoDB (or any record store with conditional updates):
  both map to ``PutItem`` with a ``ConditionExpression``
  (``attribute_not_exists`` / ``value = :expected``). This is the
  Iceberg-on-S3 pre-conditional-write deployment: the pointer lives in
  DynamoDB, immutable objects go straight to S3 unconditioned.
- GCS: ``x-goog-if-generation-match: 0`` / ``<generation read>``.

What does NOT go through the seam, by design: data parquet, manifest
``m-*.json``, change files, bloom/mask sidecars. All of them are
immutable and either content-addressed or token-named — a plain PUT is
correct (racing same-content writers converge on one name; a loser's
uniquely-named files are unreferenced orphans the GC collects). Only the
NAMES that decide visibility need conditional semantics, which is what
keeps the scheme object-store-feasible at all.
"""

from __future__ import annotations

import os
import uuid


class CasConflict(Exception):
    """The conditional operation lost: the exclusive name exists, or the
    pointer no longer holds the expected value. ``found`` carries the
    observed pointer content when known (None for exclusive-create
    losses and bootstrap races)."""

    def __init__(self, msg: str, found: str | None = None):
        super().__init__(msg)
        self.found = found


class CommitCAS:
    """Interface — see module docstring. Implementations must guarantee:
    (1) exclusive creation is atomic and all-or-nothing under the final
    name; (2) a successful call is durable (a crash after return never
    loses it); (3) ``swing_pointer`` never lands unless the pointer still
    holds ``expected`` at some instant between call and effect."""

    def read_pointer(self, path: str) -> str:
        raise NotImplementedError

    def swing_pointer(self, path: str, value: str,
                      expected: str | None = None) -> None:
        """Set pointer ``path`` to ``value``. ``expected=None`` means
        create-only (bootstrap): it never overwrites an existing pointer.
        Raises ``CasConflict`` when the pointer does not hold
        ``expected`` (or, for ``expected=None``, already exists)."""
        raise NotImplementedError

    def create_exclusive(self, path: str, body: str) -> None:
        """Create immutable object ``path`` with ``body``; raise
        ``CasConflict`` if the name already exists."""
        raise NotImplementedError

    def remove(self, path: str) -> None:
        """Best-effort delete (loser cleanup); missing is not an error."""
        raise NotImplementedError


class PosixCAS(CommitCAS):
    """Default implementation on a posix filesystem — the package's
    original commit mechanics, verbatim:

    - ``create_exclusive``: write + fsync a tmp file, then ``os.link`` it
      into place. The hard-link is atomic AND exclusive (EEXIST), and the
      content is fully durable BEFORE the name appears, so a crash
      mid-write leaves only an orphan tmp — never a truncated object that
      a reader could load.
    - ``swing_pointer``: read-compare, then fsynced tmp + ``os.replace``
      + directory fsync (the classic rename-without-fsync power-loss
      hole, closed). The bootstrap swing (``expected=None``) links the
      tmp into place instead, which fails if the pointer exists — the
      posix ``If-None-Match: *``. The check-then-rename window is
      benign in-package: every caller serializes same-version writers
      through an exclusive create FIRST, so two swings for the same
      transition cannot both get there — the pointer swing is the
      publish step, not the lock.
      An object-store implementation gets a true conditional swing from
      the store (see module docstring) and has no window at all."""

    def read_pointer(self, path: str) -> str:
        with open(path) as f:
            return f.read().strip()

    def swing_pointer(self, path: str, value: str,
                      expected: str | None = None) -> None:
        if expected is not None:
            try:
                found = self.read_pointer(path)
            except OSError:
                raise CasConflict(
                    f"pointer {path} unreadable; expected {expected!r}")
            if found != expected:
                raise CasConflict(
                    f"pointer {path} holds {found!r}, expected "
                    f"{expected!r}", found=found)
        d = os.path.dirname(path)
        tmp = os.path.join(d, f".{os.path.basename(path)}."
                              f"{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            f.write(value)
            f.flush()
            os.fsync(f.fileno())
        if expected is not None:
            os.replace(tmp, path)
        else:
            try:
                os.link(tmp, path)
            except FileExistsError:
                raise CasConflict(
                    f"pointer {path} already exists; bootstrap swings are "
                    f"create-only", found=self.read_pointer(path)) from None
            finally:
                os.unlink(tmp)
        dfd = os.open(d, os.O_RDONLY)
        try:
            os.fsync(dfd)
        finally:
            os.close(dfd)

    def create_exclusive(self, path: str, body: str) -> None:
        tmp = path + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            f.write(body)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, path)
        except FileExistsError:
            raise CasConflict(f"{path} already exists") from None
        finally:
            os.unlink(tmp)
        # directory fsync: the link's dirent must be durable BEFORE the
        # caller acknowledges (branch appends, WAP stages and publish
        # seals have no later pointer swing to piggyback on — without
        # this a power loss could erase an acknowledged branch commit,
        # breaking exactly-once for its producer)
        dfd = os.open(os.path.dirname(path) or ".", os.O_RDONLY)
        try:
            os.fsync(dfd)
        finally:
            os.close(dfd)

    def remove(self, path: str) -> None:
        try:
            os.remove(path)
        except OSError:
            pass


DEFAULT_CAS = PosixCAS()
