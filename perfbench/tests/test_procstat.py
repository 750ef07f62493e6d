"""CPU accounting against a busy child of known cost."""

import subprocess
import sys
import time

import procstat

BUSY_S = 0.6
# The child reports its own CPU seconds after spinning for BUSY_S.
CHILD = ("import time\n"
         f"while time.process_time() < {BUSY_S}: pass\n"
         "print(time.process_time(), flush=True)\n"
         "import sys; sys.stdin.read()\n")


def test_tree_counts_a_live_child_then_its_reaped_time():
    before = procstat.cpu()
    child = subprocess.Popen([sys.executable, "-c", CHILD],
                             stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                             text=True)
    try:
        reported = float(child.stdout.readline())
        live = procstat.cpu() - before      # child alive: its own line
    finally:
        child.stdin.close()
        child.wait(timeout=30)
    reaped = procstat.cpu() - before        # folded into our cutime
    tick = 2 / procstat._TICK           # /proc counts whole clock ticks
    assert reported >= BUSY_S
    # The child's CPU counts; the rest is interpreter start-up and this
    # process's own sampling.
    assert reported - tick <= live.total <= reported + 0.5
    assert live.workers >= reported - tick
    assert reported - tick <= reaped.total <= reported + 0.5
    assert reaped.driver >= reported - tick


def test_tree_finds_grandchildren():
    child = subprocess.Popen(
        [sys.executable, "-c",
         "import subprocess, sys; subprocess.run([sys.executable, '-c', "
         "'import sys; sys.stdin.read()'], stdin=sys.stdin)"],
        stdin=subprocess.PIPE)
    try:
        deadline = time.monotonic() + 10
        while (len(procstat.tree(child.pid)) < 2
               and time.monotonic() < deadline):
            time.sleep(0.05)
        assert len(procstat.tree(child.pid)) == 2
    finally:
        child.stdin.close()
        child.wait(timeout=30)


def test_steal_share_is_a_fraction():
    a = procstat.host_ticks()
    time.sleep(0.05)
    share = procstat.steal_share(a, procstat.host_ticks())
    assert 0.0 <= share <= 1.0
