"""Filesystem primitives the store's CORRECTNESS depends on, behind one
small interface (VERDICT r9 item 7): porting the TableStore to an
object store means implementing THIS FILE — S3 conditional PUTs, GCS
generation preconditions — instead of auditing every ``os.*`` call in
io.py for hidden POSIX rename/inode assumptions.

The contracts, and their object-store translations:

- ``put_if_absent(path, data) -> token | None``: atomically create the
  object iff absent; exactly one concurrent caller succeeds. The token
  names the CREATED OBJECT'S IDENTITY — not the path — so a holder can
  later ask "is the object there still mine?" after a possible
  displacement. The token is a CONTENT digest, not an inode (ADVICE
  r10: this filesystem recycles inodes immediately, so a stolen-and-
  recreated claim could reuse the displaced holder's inode and fool
  its self-checks; callers make content unique per acquire — a uuid
  in the claim body). Local: ``O_CREAT|O_EXCL`` + md5(data). S3:
  ``PUT If-None-Match: *`` + ETag (itself a content md5). GCS:
  ``ifGenerationMatch=0`` + generation.
- ``link_if_absent(src, dst) -> bool``: make fully-written content
  visible at ``dst`` iff ``dst`` is absent — the MANIFEST COMMIT POINT
  (the version-claim race: of two writers picking version N+1, exactly
  one wins). Local: hard link. Object store: ``put_if_absent`` of the
  staged bytes at ``dst`` (content is immutable once committed, so
  copying equals linking).
- ``replace(src, dst)``: atomic last-writer-wins replace (staged
  part-file publication, and the table meta file
  ``_meta_<table>.json`` that ``TableStore._write_meta`` stages beside
  it) — readers see the old object or the new one, never a partial
  write. Local: ``os.replace``. Object store: a plain
  PUT (object-store writes are already all-or-nothing); the local
  RENAME-not-COPY property matters only for cost, not correctness.
- ``identity(path) -> token | None``: the CURRENT object's identity
  (None when absent) — compared against a held token before anything
  destructive (the claim self-check). Local: content digest (a read
  racing a mid-creation writer may digest PARTIAL content — safe,
  because every caller acts only on a MATCH, so a partial read can
  only withhold an action, never misattribute ownership). S3/GCS:
  ETag/generation from a HEAD.
- ``rename(src, dst)``: unconditionally displace ``dst`` (the
  stale-claim STEAL: atomic take-with-evidence — the stolen content
  survives at ``dst`` for the post-steal freshness re-check). Local:
  ``os.rename``. Object store: copy-then-conditional-delete keyed on
  the source generation.
- ``mtime(path)`` / ``touch(path)``: the advisory LEASE-AGE channel
  (claim staleness + holder heartbeat). Local: file mtime/utime.
  Object store: a metadata field rewritten by the heartbeat (S3
  object metadata copy-in-place; GCS metadata patch).
- ``remove(path)``: delete, raising FileNotFoundError when absent
  (callers distinguish "I released it" from "someone took it").
- ``remove_empty_dir(path)``: delete a directory only while it holds
  nothing, raising OSError otherwise — an emptied bucket directory
  goes, one a concurrent writer just moved a file into stays. Local:
  ``os.rmdir``. Object store: nothing to do (a prefix exists only
  while objects carry it).

Exceptions are part of the contract: FileExistsError/FileNotFoundError
map to the object store's 412/404 preconditions.
"""

from __future__ import annotations

import hashlib
import os


def _digest(data: bytes) -> str:
    return hashlib.md5(data).hexdigest()


def put_if_absent(path: str, data: bytes) -> str | None:
    """Atomic create-exclusive write; returns the created object's
    identity token (a content digest — see the module contract), or
    None when the path already exists."""
    try:
        fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    except FileExistsError:
        return None
    try:
        os.write(fd, data)
        return _digest(data)
    finally:
        os.close(fd)


def link_if_absent(src: str, dst: str) -> bool:
    """Expose fully-written content at ``dst`` iff absent; True when
    this caller won. ``src`` is untouched (caller cleans it up)."""
    try:
        os.link(src, dst)
        return True
    except FileExistsError:
        return False


def replace(src: str, dst: str) -> None:
    """Atomic last-writer-wins replace of ``dst`` with ``src``."""
    os.replace(src, dst)


def identity(path: str) -> str | None:
    """The current object's identity token, None when absent."""
    try:
        with open(path, "rb") as f:
            return _digest(f.read())
    except FileNotFoundError:
        return None


def rename(src: str, dst: str) -> None:
    """Unconditional atomic displace (FileNotFoundError when ``src``
    vanished — the claim-steal race's 'someone else got it first')."""
    os.rename(src, dst)


def mtime(path: str) -> float:
    """Seconds-epoch of the object's last write/touch
    (FileNotFoundError when absent)."""
    return os.path.getmtime(path)


def touch(path: str) -> None:
    """Refresh the lease-age channel (the claim heartbeat)."""
    os.utime(path)


def remove(path: str) -> None:
    """Delete; FileNotFoundError when already gone."""
    os.remove(path)


def remove_empty_dir(path: str) -> None:
    """Delete an empty directory; OSError when absent or not empty."""
    os.rmdir(path)


def process_start(pid: int) -> str | None:
    """The start time (clock ticks since boot) of the live process
    ``pid``, or None when it is gone or a zombie: with the pid it names
    one process even after the pid is reused. The liveness channel of
    claims held by a local process (Linux ``/proc``; elsewhere every
    holder reads as gone)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None
    return None if fields[0] in ("Z", "X") else fields[19]
