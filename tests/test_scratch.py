"""sketchmlflink_spark.scratch: per-build scratch directories under a
per-process root, and fingerprinted derived inputs published by one
rename. Spark-free: every test points the temp dir at its own tmp_path.
"""

from __future__ import annotations

import ast
import os
import subprocess
import sys
import tempfile
import threading
import time

import pytest

from sketchmlflink_spark import scratch

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture()
def tmp(tmp_path, monkeypatch):
    """A private temp dir: tempfile.gettempdir() returns it."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    return tmp_path


def _source(tmp, content: str = "v1") -> str:
    """An sf dir holding one table file, ``t.parquet``."""
    sf = tmp / "sf"
    sf.mkdir(exist_ok=True)
    (sf / "t.parquet").write_text(content)
    return str(sf)


def test_scratch_dirs_are_new_empty_dirs_under_the_process_root(tmp):
    a, b = scratch.scratch_dir("k_"), scratch.scratch_dir("j_")
    root = os.path.join(str(tmp), f"sketchmlflink_{os.getpid()}")
    assert a != b
    for d, kind in ((a, "k_"), (b, "j_")):
        assert os.path.dirname(d) == root
        assert os.path.basename(d).startswith(kind)
        assert os.listdir(d) == []


def test_a_new_scratch_dir_replaces_this_threads_previous_one_of_its_kind(tmp):
    first = scratch.scratch_dir("k_")
    open(os.path.join(first, "f"), "w").close()
    other = []
    t = threading.Thread(target=lambda: other.append(scratch.scratch_dir("k_")))
    t.start()
    t.join()
    second = scratch.scratch_dir("k_")
    assert second != first
    assert not os.path.exists(first)
    assert os.listdir(second) == []
    assert os.path.isdir(other[0])  # another thread's build keeps its copy


def test_process_root_is_removed_at_exit(tmp):
    code = (
        "import os\n"
        "from sketchmlflink_spark.scratch import scratch_dir\n"
        "d = scratch_dir('x_')\n"
        "open(os.path.join(d, 'f'), 'w').write('x')\n"
        "print(d)\n"
    )
    env = dict(os.environ, TMPDIR=str(tmp), PYTHONPATH=REPO_ROOT)
    out = subprocess.run(
        [sys.executable, "-c", code], env=env, capture_output=True, text=True, check=True
    )
    made = out.stdout.strip()
    assert os.path.dirname(os.path.dirname(made)) == str(tmp)
    assert not os.path.exists(os.path.dirname(made))


def test_roots_of_dead_processes_are_removed_when_a_root_is_made(tmp):
    dead = subprocess.run(
        [sys.executable, "-c", "import os; print(os.getpid())"],
        capture_output=True, text=True, check=True,
    ).stdout.strip()
    dead_root = tmp / f"sketchmlflink_{dead}"
    live_root = tmp / f"sketchmlflink_{os.getppid()}"
    for r in (dead_root, live_root):
        (r / "ckpt_x").mkdir(parents=True)
    scratch.scratch_dir("k_")  # first use under this temp dir makes a root
    assert not dead_root.exists()
    assert live_root.exists()


def test_derived_dir_builds_once(tmp):
    sf = _source(tmp)
    calls = []

    def build(d):
        calls.append(d)
        with open(os.path.join(d, "part"), "w") as f:
            f.write("x")

    first = scratch.derived_dir("fx", sf, "t", build)
    second = scratch.derived_dir("fx", sf, "t", build)
    assert first == second
    assert len(calls) == 1
    assert os.listdir(first) == ["part"]
    assert not os.path.exists(calls[0])  # the private build dir was renamed


def test_failed_build_publishes_nothing_and_the_next_call_builds(tmp):
    sf = _source(tmp)

    def broken(d):
        with open(os.path.join(d, "half"), "w") as f:
            f.write("x")
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError):
        scratch.derived_dir("fx", sf, "t", broken)
    parent = tmp / "sketchmlflink_derived"
    assert list(parent.iterdir()) == []
    root = tmp / f"sketchmlflink_{os.getpid()}"
    assert list(root.iterdir()) == []  # the private copy is gone too

    d = scratch.derived_dir("fx", sf, "t", lambda d: open(os.path.join(d, "ok"), "w").close())
    assert os.listdir(d) == ["ok"]


def test_two_tables_of_one_sf_dir_keep_their_own_dirs(tmp):
    sf = _source(tmp)
    (tmp / "sf" / "u.parquet").write_text("other table")
    made = {
        t: scratch.derived_dir("fx", sf, t, lambda d: open(os.path.join(d, "x"), "w").close())
        for t in ("t", "u")
    }
    assert made["t"] != made["u"]
    for t in ("t", "u"):  # deriving one table prunes nothing of the other
        assert scratch.derived_dir("fx", sf, t, pytest.fail) == made[t]
        assert all(os.path.isdir(d) for d in made.values())


def test_rewritten_source_gets_a_new_dir_and_prunes_the_old(tmp):
    sf = _source(tmp, "v1")
    old = scratch.derived_dir("fx", sf, "t", lambda d: open(os.path.join(d, "a"), "w").close())
    _source(tmp, "version 2")
    new = scratch.derived_dir("fx", sf, "t", lambda d: open(os.path.join(d, "b"), "w").close())
    assert new != old
    assert not os.path.exists(old)
    assert os.listdir(new) == ["b"]


def test_racing_builders_share_one_complete_dir(tmp):
    sf = _source(tmp)
    first_half_written = threading.Event()
    results = {}

    def build(d):
        with open(os.path.join(d, "a"), "w") as f:
            f.write("a")
        first_half_written.set()
        time.sleep(0.3)
        with open(os.path.join(d, "b"), "w") as f:
            f.write("b")

    def run(name):
        d = scratch.derived_dir("fx", sf, "t", build)
        results[name] = (d, sorted(os.listdir(d)))

    t1 = threading.Thread(target=run, args=("t1",))
    t1.start()
    assert first_half_written.wait(10)
    t2 = threading.Thread(target=run, args=("t2",))  # starts mid-build
    t2.start()
    t1.join()
    t2.join()
    assert results["t1"] == results["t2"]
    assert results["t1"][1] == ["a", "b"]
    assert os.listdir(tmp / "sketchmlflink_derived") == [os.path.basename(results["t1"][0])]


def test_only_scratch_and_session_use_tempfile():
    """A query's scratch or derived-input directory goes through
    scratch.py; session.py's package zip is the one other temp file."""
    pkg = os.path.join(REPO_ROOT, "sketchmlflink_spark")
    users = set()
    for dp, _, fs in os.walk(pkg):
        for f in fs:
            if not f.endswith(".py"):
                continue
            path = os.path.join(dp, f)
            for node in ast.walk(ast.parse(open(path).read(), path)):
                names = []
                if isinstance(node, ast.Import):
                    names = [a.name for a in node.names]
                elif isinstance(node, ast.ImportFrom):
                    names = [node.module or ""]
                if any(n.split(".")[0] == "tempfile" for n in names):
                    users.add(os.path.relpath(path, pkg))
    assert users == {"scratch.py", "session.py"}
