"""``appcache.stage``: the one publisher for staged input dirs.

Unit laws of the publisher (a racing pair, a failing build, an unmarked
leftover, a hit), and a source guard that keeps every publish step and
the sf-label parse in one place each. No JVM."""

from __future__ import annotations

import os
import pathlib
import re
import subprocess
import sys
import textwrap

import pytest

from kdcloganalyzer_spark import appcache

PKG = pathlib.Path(appcache.__file__).parent
REPO = PKG.parent

# Each racer marks that it is past the hit check, waits for the other,
# then fills its build dir; so both build, and the rename decides.
_RACER = textwrap.dedent(
    """
    import os, sys, time
    sys.path.insert(0, sys.argv[1])
    from kdcloganalyzer_spark import appcache

    path, meet = sys.argv[2], sys.argv[3]

    def build(d):
        open(os.path.join(meet, str(os.getpid())), "w").close()
        deadline = time.monotonic() + 30
        while len(os.listdir(meet)) < 2:
            if time.monotonic() > deadline:
                raise SystemExit("the other racer never started")
            time.sleep(0.01)
        with open(os.path.join(d, "owner"), "w") as f:
            f.write(str(os.getpid()))

    print(appcache.stage(path, build))
    """
)


def _leftovers(path: pathlib.Path) -> list[str]:
    return sorted(p.name for p in path.parent.glob(f"{path.name}.build.*"))


def test_two_racing_processes_publish_one_marked_dir(tmp_path):
    path, meet = tmp_path / "staged", tmp_path / "meet"
    meet.mkdir()
    racers = [
        subprocess.Popen(
            [sys.executable, "-c", _RACER, str(REPO), str(path), str(meet)],
            stdout=subprocess.PIPE,
            stderr=subprocess.PIPE,
            text=True,
        )
        for _ in range(2)
    ]
    outs = [r.communicate(timeout=60) for r in racers]
    assert [r.returncode for r in racers] == [0, 0], [o[1] for o in outs]
    assert [o[0].strip() for o in outs] == [str(path)] * 2
    assert len(os.listdir(meet)) == 2  # both built
    assert sorted(os.listdir(path)) == ["_SUCCESS", "owner"]
    assert (path / "owner").read_text() in {str(r.pid) for r in racers}
    assert _leftovers(path) == []


def test_failing_build_leaves_neither_path_nor_build_dir(tmp_path):
    path = tmp_path / "staged"

    def build(d: str) -> None:
        (pathlib.Path(d) / "half").write_text("x")
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError, match="build failed"):
        appcache.stage(str(path), build)
    assert not path.exists()
    assert _leftovers(path) == []


def test_unmarked_dir_at_path_is_replaced(tmp_path):
    """A dir without ``_SUCCESS`` (a bare-isdir or ``_STAGED`` era
    layout, a crashed writer) is cleared and the new build published,
    and so is a dead build dir that shares this process's id."""
    path = tmp_path / "staged"
    path.mkdir()
    (path / "_STAGED").write_text("v1")
    (path / "stale.parquet").write_text("old")
    dead = pathlib.Path(f"{path}.build.{os.getpid()}")
    dead.mkdir()
    (dead / "junk").write_text("junk")

    def build(d: str) -> None:
        assert os.listdir(d) == []
        (pathlib.Path(d) / "fresh.parquet").write_text("new")

    assert appcache.stage(str(path), build) == str(path)
    assert sorted(os.listdir(path)) == ["_SUCCESS", "fresh.parquet"]
    assert _leftovers(path) == []


def test_hit_never_calls_build(tmp_path):
    path = tmp_path / "staged"
    calls = []

    def build(d: str) -> None:
        calls.append(d)
        (pathlib.Path(d) / "data").write_text("v")

    appcache.stage(str(path), build)
    appcache.stage(str(path), build)
    appcache.stage(str(path), build)
    assert len(calls) == 1


def test_publish_steps_and_sf_parse_live_in_one_place():
    """Outside appcache, no module renames a build into place, spells a
    build dir or a private completeness marker, or treats a bare
    ``isdir`` as complete; outside kdc_synth's ``sf_label``, none parses
    the ``sf<number>`` label itself. session.py's AppCDS archive
    promotion uses ``os.replace`` and is not a staged input."""
    publish = re.compile(
        r"\bos\.rename\(|\"_STAGED\"|\.build\b|\bnot os\.path\.isdir\("
    )
    sf_parse = re.compile(r"sf\(\[0-9\.\]\+\)")
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        for n, line in enumerate(path.read_text().splitlines(), 1):
            if rel != "appcache.py" and publish.search(line):
                offenders.append(f"{rel}:{n}: {line.strip()}")
            if rel != "sources/kdc_synth.py" and sf_parse.search(line):
                offenders.append(f"{rel}:{n}: {line.strip()}")
    assert offenders == []
