"""Scratch ownership: every scratch area lives under ``abspark_<pid>``.

The owner pid is the root's name, so the reaper needs no TTL: a root whose
pid is alive is never reaped, a dead pid's root always is, and a process
that exits normally removes its own root.
"""

from __future__ import annotations

import hashlib
import os
import subprocess
import sys
import tempfile

from acousticbrainz_server_spark.session import reap_scratch, scratch_dir

SF_SMOKE = "/root/testdata/sf0.001"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _root(pid: int) -> str:
    return os.path.join(tempfile.gettempdir(), f"abspark_{pid}")


def _fake_root(pid: int) -> str:
    path = os.path.join(_root(pid), "kind", "tag0")
    os.makedirs(path, exist_ok=True)
    open(os.path.join(path, "_DONE"), "w").write("ok\n")
    return _root(pid)


def test_reap_removes_dead_root_keeps_live():
    live = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(60)"])
    dead = subprocess.Popen([sys.executable, "-c", "pass"])
    dead.wait(timeout=30)
    try:
        live_root, dead_root = _fake_root(live.pid), _fake_root(dead.pid)
        own_root = os.path.dirname(os.path.dirname(scratch_dir("reaptest", "k")))
        removed = reap_scratch()
        assert dead_root in removed
        assert not os.path.exists(dead_root)
        assert live_root not in removed and own_root not in removed
        assert os.path.isfile(os.path.join(live_root, "kind", "tag0", "_DONE"))
        assert os.path.isdir(own_root)
    finally:
        live.kill()
        live.wait(timeout=30)
    # the same root is reaped once its owner is gone
    assert live_root in reap_scratch()
    assert not os.path.exists(live_root)


def test_scratch_dir_layout_and_exit_cleanup():
    code = (
        "import os, sys\n"
        f"sys.path.insert(0, {REPO!r})\n"
        "from acousticbrainz_server_spark.session import scratch_dir\n"
        "d = scratch_dir('dumps', '/some/sf')\n"
        "open(os.path.join(d, 'part-0'), 'w').write('x')\n"
        "assert scratch_dir('dumps', '/some/sf') == d\n"
        "print(os.getpid(), d)\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, timeout=120, check=True
    ).stdout.split()
    pid, path = int(out[0]), out[1]
    tag = hashlib.md5(b"/some/sf").hexdigest()[:8]
    assert path == os.path.join(_root(pid), "dumps", tag)
    assert not os.path.exists(_root(pid))  # removed by the child's atexit hook


def test_ttb_reuse_keeps_own_root(spark):
    """Real reuse path: ``_ttb_build_src`` hit twice — the second call takes
    the ``_DONE`` short-circuit under this process's root, which the reaper
    leaves alone while the process lives."""
    from acousticbrainz_server_spark.plans.streaming_queries import _ttb_build_src

    base, src_dir = _ttb_build_src(spark, SF_SMOKE)
    assert os.path.exists(os.path.join(src_dir, "_DONE"))
    assert base.startswith(_root(os.getpid()) + os.sep)
    base2, _ = _ttb_build_src(spark, SF_SMOKE)  # reuse path
    assert base2 == base
    reap_scratch()
    assert os.path.exists(os.path.join(src_dir, "_DONE"))
