"""The memory sampler counts a process once, not again through a
child that has forked but not yet run another program."""

import os
import subprocess
import time

from common import RssSampler, _peak_rss_bytes


def test_forked_copy_is_not_counted_but_other_children_are():
    me = os.getpid()
    copy = os.fork()
    if copy == 0:  # a fork that never execs: same binary, same pages
        time.sleep(30)
        os._exit(0)
    other = subprocess.Popen(["sleep", "30"])
    try:
        time.sleep(0.2)
        peak = RssSampler(me).stop() * (1 << 20)
        want = _peak_rss_bytes(me) + _peak_rss_bytes(other.pid)
        assert _peak_rss_bytes(copy) > 0
        assert abs(peak - want) < 0.05 * want
    finally:
        os.kill(copy, 9)
        os.waitpid(copy, 0)
        other.kill()
        other.wait()
