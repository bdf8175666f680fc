"""VersionedLog: the one manifest-chain module, tested on plain files
(no Spark session), plus the guard that keeps the `{prefix}-v{N}.json`
name format behind it."""

import ast
import json
import os
import re

import pytest

from nyc_data_pipeline_spark.sources.vlog import (
    DATA_DIR_RE,
    CommitConflictError,
    VersionedLog,
    sweep,
)

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "nyc_data_pipeline_spark",
)


def _touch(d, name, obj=None):
    with open(os.path.join(d, name), "w") as f:
        json.dump({} if obj is None else obj, f)


def test_versions_fullmatch_ignores_branches_and_strays(tmp_path):
    d = str(tmp_path)
    for name in (
        "manifest-v1.json", "manifest-v2.json", "manifest-v10.json",
        "manifest-verify-v3.json", "manifest-audit-v4.json",
        "manifest.json", "tmpab12.tmp", "manifest-v5.json.tmp",
        "catalog-v7.json", "tidx-manifest-v8.json",
    ):
        _touch(d, name)
    log = VersionedLog(d)
    assert log.versions() == [1, 2, 10]
    assert log.latest() == 10
    assert log.branches() == ["audit", "verify"]
    assert log.branch("verify").versions() == [3]
    assert VersionedLog(d, "catalog").versions() == [7]
    assert VersionedLog(d, "tidx-manifest").versions() == [8]
    # a listing snapshot is parsed the same way
    assert log.versions(["manifest-v4.json", "manifest-vx-v5.json"]) == [4]
    assert log.path(3) == os.path.join(d, "manifest-v3.json")


def test_latest_on_empty_or_missing_dir(tmp_path):
    assert VersionedLog(str(tmp_path)).latest() == 0
    missing = VersionedLog(str(tmp_path / "nope"))
    assert missing.latest() == 0
    assert missing.versions() == []
    assert missing.branches() == []


def test_publish_twice_raises_commit_conflict(tmp_path):
    log = VersionedLog(str(tmp_path / "t"))
    log.publish({"version": 1}, 1)
    with pytest.raises(CommitConflictError, match="concurrent writer"):
        log.publish({"version": 1, "other": True}, 1)
    assert log.load(1) == {"version": 1}  # the winner stays
    assert [f for f in os.listdir(log.dir) if f.endswith(".tmp")] == []
    log.write({"version": 1, "rerun": True}, 1)  # overwrite publish
    assert log.load() == {"version": 1, "rerun": True}


def test_expire_refuses_zero_and_keeps_window(tmp_path):
    log = VersionedLog(str(tmp_path))
    for v in range(1, 6):
        log.write({"version": v}, v)
    with pytest.raises(ValueError, match="retain"):
        log.expire(0)
    assert log.versions() == [1, 2, 3, 4, 5]
    assert log.expire(2, floor=3) == [1, 2]  # floor holds v3
    assert log.expire(1, head=4) == [3]  # window below an explicit head
    assert log.versions() == [4, 5]


def test_load_expired_raises_lane_error(tmp_path):
    class LaneRetentionError(RuntimeError):
        pass

    log = VersionedLog(str(tmp_path), "catalog", LaneRetentionError)
    for v in range(1, 4):
        log.write({"version": v}, v)
    log.expire(1)
    with pytest.raises(LaneRetentionError, match="reclaimed"):
        log.load(2)
    with pytest.raises(ValueError, match="never committed"):
        log.load(4)
    assert log.load()["version"] == 3
    with pytest.raises(ValueError):
        VersionedLog(str(tmp_path / "empty")).load()


def test_as_of_before_first_retained_commit(tmp_path):
    from nyc_data_pipeline_spark.sources.timetravel import (
        TimeTravelRetentionError,
    )

    log = VersionedLog(str(tmp_path))
    for v, ts in ((1, 100), (2, 200), (3, 300)):
        log.write({"version": v, "committed_at_us": ts}, v)
    # a wap_publish intermediate whose head never landed is no commit
    log.write({"version": 4, "committed_at_us": 400, "pending_head": 6}, 4)
    assert log.as_of(250) == 2
    assert log.as_of(10_000) == 3
    log.expire(2)
    with pytest.raises(TimeTravelRetentionError, match="precedes"):
        log.as_of(250)
    assert log.as_of(300) == 3


def test_sweep_spares_staged_dirs_above_latest(tmp_path):
    d = str(tmp_path)
    for rel in ("v1/zb=0", "v1/zb=1", "v2-beef/zb=0", "v3-cafe/zb=0"):
        os.makedirs(os.path.join(d, rel))
    reachable = {os.path.join(d, "v1", "zb=1")}
    assert sweep(d, reachable, 2, DATA_DIR_RE, "zb=") == (3, 2)
    assert sorted(
        os.path.relpath(os.path.join(r, x), d)
        for r, ds, _ in os.walk(d) for x in ds if x.startswith("zb=")
    ) == ["v1/zb=1", "v3-cafe/zb=0"]


# --- guard: the manifest name format lives in sources/vlog.py only ---

_NAME_TEMPLATE = re.compile(r"-v\{\}\.json")
_NAME_LITERAL = re.compile(r"-v(\d+|\(\\d\+\))\\?\.json|\w-v$")


def _docstring_ids(tree):
    ids = set()
    for node in ast.walk(tree):
        body = getattr(node, "body", None)
        if (
            isinstance(body, list) and body
            and isinstance(body[0], ast.Expr)
            and isinstance(body[0].value, ast.Constant)
        ):
            ids.add(id(body[0].value))
    return ids


def _manifest_name_sites(path):
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    docs = _docstring_ids(tree)
    in_fstring = {
        id(v)
        for node in ast.walk(tree) if isinstance(node, ast.JoinedStr)
        for v in node.values
    }
    sites = []
    for node in ast.walk(tree):
        if isinstance(node, ast.JoinedStr):
            template = "".join(
                v.value if isinstance(v, ast.Constant) else "{}"
                for v in node.values
            )
            if _NAME_TEMPLATE.search(template):
                sites.append((node.lineno, template))
        elif (
            isinstance(node, ast.Constant) and isinstance(node.value, str)
            and id(node) not in docs and id(node) not in in_fstring
            and _NAME_LITERAL.search(node.value)
        ):
            sites.append((node.lineno, node.value))
    return sites


def test_only_vlog_builds_manifest_names():
    """No module but sources/vlog.py builds or parses a
    `{prefix}-v{N}.json` name (f-string, literal or parse pattern):
    every manifest chain goes through VersionedLog."""
    offenders = []
    for root, _dirs, files in os.walk(PKG):
        for name in files:
            path = os.path.join(root, name)
            rel = os.path.relpath(path, PKG)
            if not name.endswith(".py") or rel == os.path.join(
                "sources", "vlog.py"
            ):
                continue
            offenders += [
                f"{rel}:{line}: {text}"
                for line, text in _manifest_name_sites(path)
            ]
    assert not offenders, "\n".join(offenders)


def test_guard_catches_each_spelling(tmp_path):
    p = tmp_path / "m.py"
    p.write_text(
        '"""Docs may say manifest-v{N}.json and manifest-v1.json."""\n'
        'a = f"manifest-v{v}.json"\n'
        'b = "catalog-v3.json"\n'
        'c = r"manifest-v(\\d+)\\.json"\n'
        'd = len("tidx-manifest-v")\n'
        'e = f"dv-v{v}"\n'
        'g = "-v"\n'
    )
    assert [line for line, _ in _manifest_name_sites(str(p))] == [2, 3, 4, 5]
