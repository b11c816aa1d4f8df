"""JSON sidecar metadata shared by the index/model stores.

One implementation of the atomic meta protocol (write to ``.tmp``,
``os.replace`` — readers see the old file or the new file, never a
torn one) so the PQ index, IVF index, and frozen-curation-model
stores cannot drift on fsync/versioning fixes. The meta file is also
each store's COMMIT POINT: stores pin the table versions a reader
should pair (e.g. codes+codebook), and because the pins land in one
rename, a reader racing a multi-table refresh sees either the
complete old index or the complete new one.

This module also holds the shared PER-VERSION commit-marker protocol
(``reserve_version`` / ``marker_tail`` / ``drop_marker``) the table
stores use for optimistic concurrency — the local-filesystem
equivalent of Delta's put-if-absent on ``_delta_log/N.json``: a
commit of version N is the exclusive creation of
``<root>/_commits/N.json``; a second writer that raced to the same N
gets :class:`ConcurrentWriteError` instead of silently overwriting
the first writer's log entry (a lost update). Marker files appear
atomically WITH their full content (written to a scratch file, then
``os.link``ed into place — link fails on an existing target and
never exposes a torn file), so a marker that exists IS a complete
committed entry and the ``_log.json`` the tables keep becomes a
read-optimized cache that any reader can reconcile against the
marker tail.
"""

from __future__ import annotations

import json
import os
import uuid
from typing import Any


class ConcurrentWriteError(RuntimeError):
    """Another writer committed this version first (optimistic
    concurrency, the Delta ``ConcurrentModificationException``
    family): the caller's snapshot is stale — re-read the table and
    retry the whole operation against the new state."""


def _commits_dir(root: str) -> str:
    return os.path.join(root, "_commits")


def _marker_path(root: str, version: int) -> str:
    return os.path.join(_commits_dir(root), f"{version:06d}.json")


def reserve_version(root: str, version: int, entry: dict[str, Any]) -> None:
    """THE commit point: atomically publish ``entry`` as version
    ``version`` iff no other writer has. The entry lands with full
    content in one ``os.link`` (no torn reads), and the link's
    fail-on-existing is the compare-and-swap — raises
    :class:`ConcurrentWriteError` when the version is taken."""
    os.makedirs(_commits_dir(root), exist_ok=True)
    scratch = os.path.join(
        _commits_dir(root), f".{version:06d}.{uuid.uuid4().hex[:8]}.tmp"
    )
    with open(scratch, "w") as f:
        json.dump(entry, f)
    try:
        os.link(scratch, _marker_path(root, version))
    except FileExistsError:
        raise ConcurrentWriteError(
            f"version {version} of {root} was committed by a concurrent "
            f"writer; the snapshot this commit was computed from is stale "
            f"— re-read and retry"
        ) from None
    finally:
        os.unlink(scratch)


def marker_tail(root: str, after_version: int) -> list[dict[str, Any]]:
    """Committed entries newer than the ``_log.json`` cache: the
    consecutive run of marker files starting at ``after_version + 1``.
    (Versions are dense by construction — a writer can only reserve
    latest+1 — so the first missing marker ends the tail.)"""
    cdir = _commits_dir(root)
    if not os.path.isdir(cdir):
        return []
    out: list[dict[str, Any]] = []
    nxt = after_version + 1
    while True:
        p = _marker_path(root, nxt)
        if not os.path.exists(p):
            return out
        with open(p) as f:
            out.append(json.load(f))
        nxt += 1


def drop_marker(root: str, version: int) -> None:
    """Forget a version's marker (vacuum of retired history)."""
    try:
        os.unlink(_marker_path(root, version))
    except FileNotFoundError:
        pass


def atomic_json_write(path: str, obj: Any) -> None:
    """THE atomic JSON write (tmp + os.replace) — the one place a
    durability fix (e.g. fsync-before-replace) lands for every meta
    writer: the JsonMetaStore mixin below AND VersionedTable's
    _meta.json geometry route through here."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)


class JsonMetaStore:
    """Mixin: atomic ``meta.json`` under ``self.root``.

    Classes set ``self.root`` before use; ``_meta_name`` may be
    overridden when a root already uses ``meta.json`` for something
    else."""

    _meta_name = "meta.json"

    @property
    def _meta_path(self) -> str:
        return os.path.join(self.root, self._meta_name)

    def meta(self) -> dict[str, Any]:
        with open(self._meta_path) as f:
            return json.load(f)

    def meta_exists(self) -> bool:
        return os.path.exists(self._meta_path)

    def _write_meta(self, meta: dict[str, Any]) -> None:
        atomic_json_write(self._meta_path, meta)

    def _update_meta(
        self, _if_unchanged: dict[str, Any] | None = None, **fields: Any
    ) -> bool:
        """Read-modify-replace a subset of the stored meta.

        ``_if_unchanged={key: expected}`` makes the update CONDITIONAL:
        the write is skipped (returns False) when any named key no
        longer holds its expected value — the guard an incremental
        append uses so its pin advance cannot clobber a refresh that
        completed while the append ran (the append's rows were encoded
        against artifacts the refresh just superseded). Not a lock —
        the remaining window is the read-to-replace microseconds, vs.
        the whole append job without it; overlapping refreshes
        themselves are the scheduler's exclusion to provide (the
        reference runs full-rebuild and incremental DAGs disjointly).
        """
        m = self.meta()
        if _if_unchanged is not None:
            for key, expected in _if_unchanged.items():
                if m.get(key) != expected:
                    return False
        m.update(fields)
        self._write_meta(m)
        return True
