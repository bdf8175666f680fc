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
    DV_DIR_RE,
    CommitConflictError,
    Staging,
    VersionedLog,
    staged_version,
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


def test_expire_refuses_zero_and_keeps_window(tmp_path):
    log = VersionedLog(str(tmp_path))
    for v in range(1, 6):
        log.publish({"version": v}, v)
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
        log.publish({"version": v}, v)
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
        log.publish({"version": v, "committed_at_us": ts}, v)
    # a wap_publish intermediate whose head never landed is no commit
    log.publish(
        {"version": 4, "committed_at_us": 400, "pending_head": 6}, 4
    )
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


def test_staging_names_are_writer_unique_and_parse(tmp_path):
    d = str(tmp_path)
    a, b = Staging(d, 3), Staging(d, 3, branch="verify")
    names = [os.path.basename(p) for p in (
        a.path(), a.path("dv-"), a.path("dv-floor-"), b.path(), b.path("dv-"),
    )]
    assert names[0] != os.path.basename(Staging(d, 3).path())
    assert re.fullmatch(r"v3-[0-9a-f]{8}", names[0])
    assert re.fullmatch(r"v3-verify-[0-9a-f]{8}", names[3])
    assert staged_version(names[0]) == staged_version(names[3]) == 3
    for n in names[1:3] + names[4:]:
        assert re.fullmatch(DV_DIR_RE, n).group(1) == "3"
    # chains written before every commit was staged keep parsing
    assert staged_version("v12") == 12 and staged_version("zb=1") is None
    assert re.fullmatch(DATA_DIR_RE, "v3-verify-1a2b3c4d")
    assert re.fullmatch(DV_DIR_RE, "dv-v3-verify-1a2b3c4d")


def test_staging_removes_its_dirs_only_on_failure(tmp_path):
    d = str(tmp_path)
    with Staging(d, 1) as st:
        kept = st.path()
        os.makedirs(os.path.join(kept, "zb=0"))
    assert os.path.isdir(kept)
    with pytest.raises(CommitConflictError):
        with Staging(d, 2) as st:
            data, dv = st.path(), st.path("dv-")
            os.makedirs(os.path.join(data, "zb=0"))
            os.makedirs(dv)
            raise CommitConflictError("lost the race")
    assert not os.path.exists(data) and not os.path.exists(dv)
    assert sorted(os.listdir(d)) == [os.path.basename(kept)]


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


# --- guard: staged directory names live in sources/vlog.py only ---

# `v{…}`, `dv-v{…}` or `dv-floor-v{…}` as a whole path component
_STAGED_TEMPLATE = re.compile(
    r"(?:^|/)(?:dv-(?:floor-)?)?v\{\}(?:-\{\}|-[0-9a-f]+)*(?:/|$)"
)
_STAGED_LITERAL = re.compile(r"(?:dv-(?:floor-)?)?v\d+(?:-[0-9a-f]+)?")


def _staged_name_sites(path):
    """f-strings that spell a staged directory name, and literal ones
    passed to a path join (a bare literal like "v0" is a column name
    elsewhere, so literals count only as path components)."""
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    sites = []
    for node in ast.walk(tree):
        if isinstance(node, ast.JoinedStr):
            template = "".join(
                v.value if isinstance(v, ast.Constant) else "{}"
                for v in node.values
            )
            if _STAGED_TEMPLATE.search(template):
                sites.append((node.lineno, template))
        elif (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "join"
        ):
            sites += [
                (a.lineno, a.value)
                for a in node.args
                if isinstance(a, ast.Constant) and isinstance(a.value, str)
                and _STAGED_LITERAL.fullmatch(a.value)
            ]
    return sorted(sites)


def test_only_vlog_builds_staged_names():
    """No module but sources/vlog.py spells a staged directory name:
    every commit stages through `Staging`, so each staged name is
    writer-unique and removed when its commit fails."""
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
                for line, text in _staged_name_sites(path)
            ]
    assert not offenders, "\n".join(offenders)


def test_staged_guard_catches_each_spelling(tmp_path):
    p = tmp_path / "m.py"
    p.write_text(
        '"""Docs may say v{N}-{token} and dv-v3."""\n'
        'a = os.path.join(d, f"v{version}-{token}")\n'
        'b = os.path.join(d, "v2")\n'
        'c = f"dv-floor-v{v}"\n'
        'e = f"{d}/dv-v{v}/zb=0"\n'
        'g = os.path.join(d, "v1", "bands")\n'
        'h = f"v{n} past this head; retry"\n'
        'i = F.col("v0")\n'
        'j = f"commit v{v} of {d} was reclaimed"\n'
        'k = os.path.join(d, "zb=0")\n'
    )
    assert [line for line, _ in _staged_name_sites(str(p))] == [
        2, 3, 4, 5, 6,
    ]
