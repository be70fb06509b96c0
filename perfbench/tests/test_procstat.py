"""A run leaves no process behind, orphans of its children included."""

import os
import subprocess
import sys
import textwrap

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_stop_tree_ends_children_and_orphans():
    script = textwrap.dedent(
        """
        import os, subprocess, sys, time
        sys.path.insert(0, sys.argv[1])
        from procstat import _below, _snapshot, adopt_orphans, stop_tree

        adopt_orphans()
        child = subprocess.Popen(["sleep", "60"])
        # the shell exits at once; its sleep is orphaned and re-parented here
        subprocess.run(["sh", "-c", "sleep 60 &"])
        time.sleep(0.2)
        _stats, children = _snapshot()
        assert len(_below(children, os.getpid())) == 3, children.get(os.getpid())
        t0 = time.monotonic()
        stop_tree()
        _stats, children = _snapshot()
        assert _below(children, os.getpid()) == [os.getpid()]
        assert child.poll() is not None
        print(time.monotonic() - t0)
        """
    )
    done = subprocess.run(
        [sys.executable, "-c", script, HERE], capture_output=True, text=True, timeout=60
    )
    assert done.returncode == 0, done.stderr
    assert float(done.stdout) < 5  # SIGTERM sufficed; no wait for SIGKILL
