"""The versioned JSON log every lakehouse lane keeps its history in.

A chain is the files `{prefix}-v{N}.json` in one directory, N = 1, 2,
...: a table's `manifest-v{N}.json`, a WAP branch's
`manifest-{branch}-v{N}.json`, a catalog's `catalog-v{N}.json`, an
index lane's `tidx-`/`ddcidx-`/`cdcidx-`/`ivfpq-manifest-v{N}.json`.
Each file is one immutable commit; readers pick a version by picking a
file.  This module is the only place that spells that name, so how a
version is listed, loaded, published and expired is decided once:

- `versions` parses names with a FULLMATCH — a branch named `verify`
  stages `manifest-verify-v3.json`, which must never parse as main;
- `publish` is the ONLY way a version comes into existence: a
  compare-and-swap (link(2) from a writer-unique temp name — exactly
  one writer per version wins, every loser gets the named
  `CommitConflictError`), Delta Lake's put-if-absent log commit on
  plain files.  A version is never rewritten;
- `Staging` names the directories a commit writes before it
  publishes and removes them if the commit fails;
- `expire` drops manifests below the retained window and `sweep`
  deletes the staged directories no retained manifest reaches.

Nothing here reads data; every operation is O(#files) metadata.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import uuid

# the CAS publish resolves through the MODULE at call time — tests
# patch scans.atomic_json_publish_once as the deterministic race-window
# seam, so never bind it at import
from . import scans as _scans


class CommitConflictError(RuntimeError):
    """Two writers raced the same manifest version and this one lost.

    Every commit stages its artifacts under writer-unique directory
    names (`Staging`), then publishes its manifest through
    `VersionedLog.publish`: atomic, and EEXIST if another writer
    landed N first.  Exactly one writer per version
    wins; every loser gets this error and must RETRY FROM A FRESH READ
    (re-derive N from the advanced chain and restage — `MorCdcSink`
    does this automatically).  A pre-check raises it too when the
    target version is already visible, saving the stage work.  A
    loser's staged directories are removed by `Staging`; a crashed
    writer's are unreferenced by any manifest and are reclaimed by the
    lane vacuum's `sweep`."""


# legal WAP branch names (a name like `v3` is refused by the branch
# lanes so a branch chain never collides with a main version)
BRANCH_NAME_RE = r"[A-Za-z][A-Za-z0-9_]*"


class VersionedLog:
    """The chain `{prefix}-v{N}.json` in `dir`.  `retention_error` is
    the lane's named error for a version that vacuum reclaimed."""

    def __init__(
        self, dir: str, prefix: str = "manifest",
        retention_error: type[Exception] = RuntimeError,
    ):
        self.dir = dir
        self.prefix = prefix
        self.retention_error = retention_error
        self._name = re.compile(re.escape(prefix) + r"-v(\d+)\.json")
        self._fork = re.compile(
            re.escape(prefix) + rf"-({BRANCH_NAME_RE})-v\d+\.json"
        )

    def path(self, v: int) -> str:
        return os.path.join(self.dir, f"{self.prefix}-v{int(v)}.json")

    def _names(self, names: list[str] | None) -> list[str]:
        if names is not None:
            return names
        return os.listdir(self.dir) if os.path.isdir(self.dir) else []

    def versions(self, names: list[str] | None = None) -> list[int]:
        """Versions on disk, ascending.  `names` is an `os.listdir`
        snapshot for callers that must decide from ONE listing."""
        return sorted(
            int(m.group(1))
            for f in self._names(names)
            if (m := self._name.fullmatch(f))
        )

    def latest(self) -> int:
        """Highest version on disk; 0 for an empty or missing chain."""
        return max(self.versions(), default=0)

    def branches(self, names: list[str] | None = None) -> list[str]:
        """Names of the forked chains `{prefix}-{branch}-v{N}.json`
        staged beside this one (WAP branches of a table)."""
        return sorted({
            m.group(1)
            for f in self._names(names)
            if (m := self._fork.fullmatch(f))
        })

    def branch(self, name: str) -> VersionedLog:
        return VersionedLog(
            self.dir, f"{self.prefix}-{name}", self.retention_error
        )

    def load(self, v: int | None = None) -> dict:
        """Version `v` (the latest when None).  A version below the
        retained floor raises the lane's retention error; one the chain
        never had raises ValueError."""
        if v is None:
            v = self.latest()
        try:
            with open(self.path(v)) as f:
                return json.load(f)
        except FileNotFoundError:
            pass
        vs = self.versions()
        if vs and 1 <= v < vs[0]:
            raise self.retention_error(
                f"{self.prefix} v{v} of {self.dir} was reclaimed by "
                f"vacuum (retained floor: v{vs[0]}); history is "
                "readable only within the retained window"
            )
        raise ValueError(
            f"{self.prefix} v{v} of {self.dir} was never committed "
            f"(chain head: v{vs[-1]})" if vs
            else f"{self.dir} has no {self.prefix} versions"
        )

    def publish(self, obj: dict, v: int) -> None:
        """Compare-and-swap commit of version `v`: exactly one of any
        number of concurrent publishers wins; the others raise
        `CommitConflictError` and nothing of theirs is visible."""
        try:
            _scans.atomic_json_publish_once(obj, self.path(v))
        except FileExistsError:
            raise CommitConflictError(
                f"{self.prefix} v{v} of {self.dir} was published by a "
                "concurrent writer; retry from a fresh read"
            ) from None

    def expire(
        self, retain: int, floor: int | None = None,
        head: int | None = None,
    ) -> list[int]:
        """Delete every version older than the newest `retain` below
        `head` (the latest on disk by default); `floor` keeps every
        version >= it whatever `retain` says.  Returns the versions
        removed."""
        if retain < 1:
            # retain=0 would expire the head itself, bricking reads
            raise ValueError(f"retain must be >= 1, got {retain}")
        head = self.latest() if head is None else int(head)
        if floor is not None:
            retain = max(retain, head - int(floor) + 1)
        removed = []
        for v in self.versions():
            if v > head - retain:
                break
            try:
                os.remove(self.path(v))
            except FileNotFoundError:
                continue  # a concurrent vacuum got there first
            removed.append(v)
        return removed

    def as_of(self, ts_us: int) -> int:
        """`TIMESTAMP AS OF` → the latest retained version whose commit
        wall-clock is <= `ts_us`.  A wap_publish intermediate whose
        `pending_head` has not landed is not a commit yet.  Raises
        `TimeTravelRetentionError` when no retained commit is that
        old (pre-table timestamps and vacuumed history alike)."""
        from .timetravel import COMMITTED_AT_KEY, TimeTravelRetentionError

        entries = []
        for v in self.versions():
            m = self.load(v)
            if not isinstance(m, dict):
                continue
            head = m.get("pending_head")
            if head is not None and not os.path.exists(self.path(head)):
                continue
            ts = m.get(COMMITTED_AT_KEY, m.get("committed_at_us"))
            if ts is not None:
                entries.append((int(ts), v))
        if not entries:
            raise TimeTravelRetentionError(
                f"{self.dir} has no retained timestamped commits; "
                "TIMESTAMP AS OF cannot resolve"
            )
        eligible = [(t, v) for t, v in entries if t <= ts_us]
        if not eligible:
            earliest = min(entries)
            raise TimeTravelRetentionError(
                f"TIMESTAMP AS OF {ts_us} precedes every retained commit "
                f"of {self.dir} (earliest retained: version "
                f"{earliest[1]} at {earliest[0]}); the history before it "
                "was never committed or was reclaimed by vacuum"
            )
        return max(eligible)[1]


# a staged directory: `v{N}`, `dv-v{N}` or `dv-floor-v{N}` plus the
# `-{token}` a `Staging` mints (`{hex8}` or `{branch}-{hex8}`); older
# chains may hold the bare names
_TOKEN_RE = rf"(?:-(?:{BRANCH_NAME_RE}-)?[0-9a-f]+)?"
DATA_DIR_RE = r"v(\d+)" + _TOKEN_RE
DV_DIR_RE = r"dv-(?:floor-)?v(\d+)" + _TOKEN_RE


def staged_version(name: str) -> int | None:
    """The version a data directory named `name` was staged for, or
    None when `name` is not one."""
    m = re.fullmatch(DATA_DIR_RE, name)
    return int(m.group(1)) if m else None


class Staging:
    """The staged directories of ONE commit of version `v` in `dir`:
    `path(kind)` names `{kind}v{N}-{token}` (kind '', 'dv-' or
    'dv-floor-') with a token unique to this writer, prefixed with
    `branch` on a WAP branch.  Wrapped around the whole commit, it
    removes every directory it named if anything inside raises — a
    lost CAS, a validation error, a Spark failure."""

    def __init__(self, dir: str, v: int, branch: str | None = None):
        token = uuid.uuid4().hex[:8]
        if branch is not None:
            token = f"{branch}-{token}"
        self.dir, self._name = dir, f"v{int(v)}-{token}"
        self._paths: list[str] = []

    def path(self, kind: str = "") -> str:
        p = os.path.join(self.dir, kind + self._name)
        self._paths.append(p)
        return p

    def __enter__(self) -> Staging:
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        if exc_type is not None:
            for p in self._paths:
                shutil.rmtree(p, ignore_errors=True)


def sweep(
    dir: str, reachable: set[str], latest: int, dir_re: str,
    child_prefix: str | None = None,
) -> tuple[int, int]:
    """Reachability vacuum: delete every staged directory in `dir` that
    no retained manifest reaches.  Candidates are the entries whose
    name fullmatches `dir_re` (group 1: the version they were staged
    for) or, with `child_prefix`, their subdirectories named so.

    A candidate staged for a version ABOVE `latest` is never removed:
    a writer stages before it publishes, and sweeping in that window
    would turn its successful publish into a manifest that points at
    nothing.  A crashed writer's orphan is reclaimed once the head
    passes it.  Returns (candidates, removed)."""
    keep = {os.path.abspath(p) for p in reachable}
    pat = re.compile(dir_re)
    present = []
    for name in os.listdir(dir) if os.path.isdir(dir) else []:
        full = os.path.join(dir, name)
        m = pat.fullmatch(name)
        if not m or int(m.group(1)) > latest or not os.path.isdir(full):
            continue
        if child_prefix is None:
            present.append(full)
        else:
            present += [
                os.path.join(full, c)
                for c in os.listdir(full)
                if c.startswith(child_prefix)
            ]
    removed = sorted(p for p in present if os.path.abspath(p) not in keep)
    for p in removed:
        shutil.rmtree(p)
    return len(present), len(removed)
