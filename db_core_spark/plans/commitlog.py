"""The commit log of a VersionedTable — the one owner of its on-disk format
and protocol, shared by the table API (plans/versioned.py, plans/group.py,
streaming/ops.py) and the ``versioned`` DataSource (sources/). Plain
Python: no Spark import, so DataSource planning workers load it cheaply.
The reference keeps one log manager behind both its read and its write
path the same way (/root/reference/src/log_mgr).

Format (``<table>/_commitlog/``):

- ``{csn:010d}.json`` — one commit (a *delta*). csns are contiguous
  integers from 1; a gap can only mean vacuum reclaimed the commit.
  Fields: ``csn``; ``tsn`` (the writer's txn id, also its
  ``data/tsn=<tsn>/`` dir); ``ops`` — a list of ``{dir, opseq, kind
  ('upsert'|'delete'), buckets, preimages?}``; ``write_keys`` — the
  sorted write-set as lists of key values in ``str()`` form, or null when
  untracked (over :data:`MAX_TRACKED_KEYS`; conflicts with everything);
  ``ts`` (publish time, seconds); optional ``group`` ``{dir, id}``; and
  caller extras such as ``rows`` (bulk append) or ``writer``/``epoch``
  (exactly-once streaming identity).
- ``checkpoint-{csn:010d}.json`` — ``{type: 'checkpoint', csn, dir, ts,
  buckets}``: the resolved snapshot at ``csn`` materialized under ``dir``.
- ``_last_checkpoint`` — advisory ``{csn, name}`` pointer to the newest
  checkpoint (where an object-store LIST would start); never required.
- ``_tmp-*.json`` — a publish in flight; ignored.

Names encode the csn, so sequence questions (latest csn, gaps, which
manifests a fold needs) are answered by a directory listing alone.

Publish: write a tmp file, then ``link(2)`` it to the final name. The
link fails if the name exists, so claiming csn N is atomic and first
writer wins; a manifest is immutable once linked. Caller extras may not
use the :data:`RESERVED_KEYS`.

Group commits (multi-table, plans/group.py): each member table's manifest
carries ``group: {dir, id}`` and is invisible until the marker
``<dir>/<id>.json`` (``{status: 'committed'|'aborted', ts, by}``) exists.
The coordinator publishes the marker by the same link, so the decision is
first-writer-wins and immutable. A reader that finds no marker waits until
the member manifest is ``grace`` seconds old, then force-aborts by
publishing ``aborted`` itself (:func:`resolve_group_status`). The grace is
the one persisted in the table's ``_meta.json`` at create time
(:func:`table_grace`), so every reader of a table uses the same window.
"""

from __future__ import annotations

import json
import os
import time
import uuid

#: write-set size above which a commit's conflict tracking degrades to
#: 'conflicts with anything' (bounded driver memory, the safe direction)
MAX_TRACKED_KEYS = 100_000
#: lost csn races a commit retries before giving up
MAX_CSN_ATTEMPTS = 50
#: protocol fields a caller's manifest extras may not overwrite
RESERVED_KEYS = frozenset({"csn", "tsn", "ops", "write_keys", "ts", "type", "dir", "group"})


class ConflictError(Exception):
    """Optimistic write-write conflict: another transaction committed an
    overlapping write-set after this transaction began. Retry the txn."""


class SnapshotUnavailableError(Exception):
    """The requested as-of snapshot needs commit history that vacuum has
    reclaimed (reference: a reader older than the version-store retention
    window, version_store.rs:264-309). Raised instead of silently returning
    a partial fold."""


def delta_name(csn: int) -> str:
    return f"{csn:010d}.json"


def checkpoint_name(csn: int) -> str:
    return f"checkpoint-{csn:010d}.json"


def publish_manifest(log_dir: str, name: str, manifest: dict) -> bool:
    """Atomically publish a manifest: write tmp, hard-link to final name.
    link(2) fails with EEXIST if another writer claimed it — the lock-free
    csn allocation (mirrors the CAS publish of latest_commit_csn,
    system/instance.rs:212-219). On object stores this becomes a conditional put."""
    tmp = os.path.join(log_dir, f"_tmp-{uuid.uuid4().hex}.json")
    with open(tmp, "w") as f:
        json.dump(manifest, f)
        f.flush()
        os.fsync(f.fileno())
    final = os.path.join(log_dir, name)
    try:
        os.link(tmp, final)
        return True
    except FileExistsError:
        return False
    finally:
        os.remove(tmp)


def write_checkpoint_pointer(log_dir: str, csn: int) -> None:
    """Advance the advisory ``_last_checkpoint`` pointer (tmp + replace)."""
    ptr = os.path.join(log_dir, "_last_checkpoint")
    tmp = ptr + f".tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        json.dump({"csn": csn, "name": checkpoint_name(csn)}, f)
    os.replace(tmp, ptr)


def resolve_group_status(
    group: dict, manifest_ts: float, grace: float, wait: bool = True
) -> str:
    """Resolve a group-commit marker to 'committed' or 'aborted' — the
    visibility decision point for multi-table transactions.

    A still-undecided marker means the coordinator is between its per-table
    claims and the marker publish — or died there. With ``wait=True``
    (reads, CDC, conflict checks) we poll until the manifest is `grace`
    seconds old, then force-abort by publishing the marker ourselves (the
    optimistic analog of the reference's lock wait timeout,
    tran_mgr.rs:108-127: a reader never blocks forever on a dead writer).
    If the coordinator wins the link race at the last moment, its
    'committed' stands and we honor it.

    ``wait=False`` is the non-blocking peek for callers that can act on
    indecision itself (snapshot-pin validation retries the pin): within the
    grace window an undecided marker returns ``'pending'`` immediately and
    the healthy in-flight group is left untouched; past the window it
    force-aborts exactly like the waiting form."""
    path = os.path.join(group["dir"], f"{group['id']}.json")
    deadline = manifest_ts + grace
    while True:
        try:
            with open(path) as f:
                return json.load(f)["status"]
        except (FileNotFoundError, json.JSONDecodeError):
            pass
        if time.time() >= deadline:
            publish_manifest(
                group["dir"], f"{group['id']}.json",
                {"status": "aborted", "ts": time.time(), "by": "reader-timeout"},
            )
            # read back: the publish may have lost the race to the
            # coordinator's 'committed' — whichever linked first is truth
            with open(path) as f:
                return json.load(f)["status"]
        if not wait:
            return "pending"
        time.sleep(0.05)


def table_grace(meta: dict, default: float) -> float:
    """The group grace persisted in a table's parsed ``_meta.json``;
    ``default`` for tables created before the field existed or when the
    value is not a number (a hand-edited meta must not crash planning)."""
    try:
        return float(meta.get("group_pending_grace_seconds", default))
    except (TypeError, ValueError):
        return default


def tracked_keys(keys) -> set[tuple] | None:
    """A commit's write-set from an iterable of canonical key tuples, or
    None ('untracked: conflicts with anything') once it passes
    MAX_TRACKED_KEYS. Stops consuming ``keys`` at the cap."""
    out: set[tuple] = set()
    for k in keys:
        out.add(k)
        if len(out) > MAX_TRACKED_KEYS:
            return None
    return out


def missing_csns(names: list[tuple[int, bool, str]], lo: int, hi: int) -> list[int]:
    """Commits in (lo, hi] with no delta manifest — reclaimed by vacuum,
    since csns are contiguous."""
    present = {c for c, is_ck, _ in names if not is_ck}
    return sorted(set(range(lo + 1, hi + 1)) - present)


class CommitLog:
    """The ``_commitlog/`` of one table, read with that table's group grace."""

    def __init__(self, table_path: str, grace: float):
        self.dir = os.path.join(table_path, "_commitlog")
        self.grace = grace

    # ------------------------------------------------------------- listing

    def names(self) -> list[tuple[int, bool, str]]:
        """(csn, is_checkpoint, filename) for every published manifest,
        parsed from names only — no JSON reads."""
        out = []
        for name in os.listdir(self.dir):
            if not name.endswith(".json") or name.startswith("_tmp"):
                continue
            stem = name[:-5]
            try:
                if stem.startswith("checkpoint-"):
                    out.append((int(stem.split("-", 1)[1]), True, name))
                else:
                    out.append((int(stem), False, name))
            except ValueError:
                continue
        return sorted(out)

    def read(self, name: str) -> dict:
        with open(os.path.join(self.dir, name)) as f:
            return json.load(f)

    def manifests(self) -> list[dict]:
        """Full parse of every manifest — maintenance paths only (vacuum,
        group pins, replay scans); the read/commit hot paths open only the
        manifests they need. In csn order, like names()."""
        return [self.read(name) for _, _, name in self.names()]

    def latest_csn(self) -> int:
        return max((csn for csn, _, _ in self.names()), default=0)

    def publish(self, name: str, manifest: dict) -> bool:
        return publish_manifest(self.dir, name, manifest)

    def visible(self, manifest: dict) -> bool:
        """Group visibility: a manifest with a ``group`` field counts only
        once its marker resolves to committed; an aborted group's manifest
        stays as a hole-filling empty commit (csn contiguity preserved)."""
        group = manifest.get("group")
        return group is None or (
            resolve_group_status(group, manifest.get("ts", 0.0), self.grace) == "committed"
        )

    # ---------------------------------------------------------------- reads

    def plan(self, as_of: int | None) -> tuple[tuple | None, list[tuple]]:
        """The manifests a snapshot at ``as_of`` (None = latest) folds: the
        newest checkpoint entry <= as_of (or None) and the delta entries
        above it. Name-only.

        Completeness guard: a csn gap between the fold base and the target
        proves vacuum reclaimed history the snapshot needs ->
        SnapshotUnavailableError, never a silent partial fold."""
        names = self.names()
        in_scope = [e for e in names if as_of is None or e[0] <= as_of]
        ckpt = max((e for e in in_scope if e[1]), default=None)
        lo = ckpt[0] if ckpt is not None else 0
        hi = max((c for c, _, _ in names), default=0)
        if as_of is not None:
            hi = min(hi, as_of)
        missing = missing_csns(names, lo, hi)
        if missing:
            raise SnapshotUnavailableError(
                f"snapshot as_of={as_of} needs vacuum-reclaimed commits {missing} "
                f"(retention window passed); oldest available fold base is csn {lo}"
            )
        return ckpt, [e for e in in_scope if not e[1] and e[0] > lo]

    def fold(self, as_of: int | None) -> list[dict]:
        """Every committed op visible at ``as_of``: {dir, csn, opseq, kind,
        checkpoint, buckets}, the checkpoint base (csn -1) first.

        IO bound: opens exactly 1 checkpoint manifest + the delta manifests
        above it — O(commits since checkpoint)."""
        ckpt, deltas = self.plan(as_of)
        ops = []
        if ckpt is not None:
            base = self.read(ckpt[2])
            ops.append(
                {"dir": base["dir"], "csn": -1, "opseq": -1, "kind": "checkpoint",
                 "checkpoint": True, "buckets": base.get("buckets", 0)}
            )
        for _, _, name in deltas:
            m = self.read(name)
            if not self.visible(m):
                continue
            for op in m["ops"]:
                ops.append(
                    {"dir": op["dir"], "csn": m["csn"], "opseq": op["opseq"],
                     "kind": op["kind"], "checkpoint": False,
                     "buckets": op.get("buckets", 0)}
                )
        return ops

    # --------------------------------------------------------------- writes

    def check_conflicts(
        self,
        start_csn: int,
        upto: int,
        my_keys: set[tuple] | None,
        who: str,
        names: list | None = None,
        skip_writer: str | None = None,
    ) -> None:
        """Optimistic conflict check of a write-set against every visible
        commit in (start_csn, upto) — the replacement for the reference's
        pessimistic object locks (tran_mgr.rs:85-127). Manifests from
        ``skip_writer`` (a stream sink's own epochs) are not concurrent.

        Completeness: every commit in the window must still have a
        manifest, else vacuum reclaimed part of it and lost-update
        detection would be silently one-eyed -> ConflictError. Only
        manifests inside the window are opened — O(concurrent commits)."""
        names = self.names() if names is None else names
        missing = missing_csns(names, start_csn, upto - 1)
        if missing:
            raise ConflictError(
                f"{who}: conflict window (start_csn={start_csn}, {upto}) includes "
                f"vacuum-reclaimed commits {missing}; cannot verify write-set "
                "isolation — retry on a fresh snapshot"
            )
        for csn, is_ck, name in names:
            if is_ck or not start_csn < csn < upto:
                continue
            m = self.read(name)
            if skip_writer is not None and m.get("writer") == skip_writer:
                continue
            # pending groups are resolved first (bounded wait + force-abort)
            # so the check is never one-eyed; aborted ones wrote nothing
            if not self.visible(m):
                continue
            theirs = m.get("write_keys")
            if my_keys is None or theirs is None:
                raise ConflictError(
                    f"{who}: concurrent commit csn={m['csn']} with untracked write-set"
                )
            if my_keys & {tuple(k) for k in theirs}:
                raise ConflictError(
                    f"{who}: write-set overlaps concurrent commit csn={m['csn']}"
                )

    def claim(
        self,
        start_csn: int,
        tsn: str,
        ops: list[dict],
        my_keys: set[tuple] | None,
        who: str,
        extra: dict | None = None,
        group: dict | None = None,
        skip_writer: str | None = None,
    ) -> int:
        """Claim the next csn by publishing this commit's manifest,
        conflict-checking the (start_csn, candidate) window on every
        attempt; returns the claimed csn. ``extra`` merges last into the
        manifest, so keys colliding with a protocol field are rejected
        loudly (a 'csn' there would corrupt contiguity, an 'ops' every
        read)."""
        bad = RESERVED_KEYS & set(extra or ())
        if bad:
            raise ValueError(
                f"extra manifest keys {sorted(bad)} collide with protocol "
                "fields; rename or namespace them"
            )
        for _ in range(MAX_CSN_ATTEMPTS):
            names = self.names()
            candidate = max((c for c, _, _ in names), default=0) + 1
            self.check_conflicts(
                start_csn, candidate, my_keys, who, names=names, skip_writer=skip_writer
            )
            manifest = {
                "csn": candidate,
                "tsn": tsn,
                "ops": ops,
                "write_keys": sorted(my_keys) if my_keys is not None else None,
                "ts": time.time(),
                **({"group": group} if group is not None else {}),
                **(extra or {}),
            }
            if self.publish(delta_name(candidate), manifest):
                return candidate
            # lost the race for this csn; re-check conflicts vs the winner
        raise RuntimeError("could not claim a csn (too much commit contention)")
