#!/usr/bin/env python3
"""Self-tests of the benchmark's own instruments.  Run from the repository
root; exits 0 when every test passes:

    python3 perfbench/selftest.py

memory  A process holding ~400 MB forks a child that touches nothing
        (the pages stay shared, as in a JVM fork before exec).  Summed
        RSS of the tree roughly doubles; the sampler's summed PSS, which
        is what peak_pss_mb reports, must not.
digest  A recorded golden digest corrupted by one character must count
        as exactly one failure, the correct record as none, and a
        missing record as one failure per digest; a page digest that
        differs from the reference must count as failed.
cleanup A child forks a grandchild that ignores SIGTERM and exits, as a
        JVM leaves its Python workers behind; the orphan must be adopted
        and ended by the run's clean-up, leaving no process behind.
"""
from __future__ import annotations

import json
import os
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)


def test_memory() -> None:
    from memory import PssSampler, rss_kb, tree_pids

    block = bytearray(400 * 2**20)
    for i in range(0, len(block), 4096):  # touch every page
        block[i] = 1
    me = os.getpid()

    def peak(window_s: float) -> tuple[float, float]:
        s = PssSampler(me, interval=0.05).start()
        s.open_window()
        rss = 0.0
        t_end = time.time() + window_s
        while time.time() < t_end:
            rss = max(rss, sum(rss_kb(p) for p in tree_pids(me)) / 1024)
            time.sleep(0.05)
        s.close_window()
        s.stop()
        return s.peak_mb, rss

    alone_pss, alone_rss = peak(0.5)
    r, w = os.pipe()
    child = os.fork()
    if child == 0:  # shares every page of the parent, execs nothing
        os.close(w)
        os.read(r, 1)
        os._exit(0)
    os.close(r)
    try:
        forked_pss, forked_rss = peak(0.5)
    finally:
        os.write(w, b"x")
        os.close(w)
        os.waitpid(child, 0)
    print(f"memory: alone pss={alone_pss:.0f} rss={alone_rss:.0f} MB; "
          f"with fork pss={forked_pss:.0f} rss={forked_rss:.0f} MB")
    if forked_rss < 1.6 * alone_rss:
        raise AssertionError("the fork did not double summed RSS; the test "
                             "does not exercise what it claims")
    if forked_pss > 1.1 * alone_pss:
        raise AssertionError("summed PSS counted the forked copy twice")
    del block


def test_digest() -> None:
    import run
    from checks import page_mismatches

    golden = run.load_golden()
    for workload, seeds in golden.items():
        seed, record = next(iter(seeds.items()))
        key = next(iter(record))
        if run.golden_failures(golden, workload, int(seed), record) != 0:
            raise AssertionError(f"{workload}: the record fails against itself")
        bad = dict(record)
        bad[key] = ("0" if bad[key][0] != "0" else "1") + bad[key][1:]
        corrupt = {workload: {seed: bad}}
        if run.golden_failures(corrupt, workload, int(seed), record) != 1:
            raise AssertionError(f"{workload}: a corrupted record did not fail")
        if run.golden_failures({}, workload, int(seed), record) != len(record):
            raise AssertionError(f"{workload}: a missing record did not fail")
        print(f"digest: {workload} variant {seed}: corrupted and missing "
              "records counted failed")
    ref = {"u1": "a" * 64, "u2": "b" * 64}
    if page_mismatches(dict(ref), ref) != 0:
        raise AssertionError("identical page digests counted failed")
    if page_mismatches({"u1": "a" * 64, "u2": "c" * 64}, ref) != 1:
        raise AssertionError("a wrong page digest did not fail")
    if page_mismatches({"u1": "a" * 64}, ref) != 1:
        raise AssertionError("a missing page did not fail")
    print("digest: wrong and missing pages counted failed")


def test_cleanup() -> None:
    from memory import adopt_orphans, reap_descendants, tree_pids

    adopt_orphans()
    r, w = os.pipe()
    child = os.fork()
    if child == 0:  # the child: start the grandchild, then exit
        if os.fork() == 0:
            signal.signal(signal.SIGTERM, signal.SIG_IGN)
            os.write(w, str(os.getpid()).encode())
            time.sleep(60)
        os._exit(0)
    orphan = int(os.read(r, 32))  # running, and ignoring SIGTERM
    os.close(r)
    os.close(w)
    os.waitpid(child, 0)
    try:
        left = tree_pids(os.getpid())[1:]
        if left != [orphan]:
            raise AssertionError(f"expected the adopted orphan {orphan} "
                                 f"alone, got {left}")
        reap_descendants(grace=0.5)
        if os.path.exists(f"/proc/{orphan}") or tree_pids(os.getpid())[1:]:
            raise AssertionError("processes left after clean-up")
    finally:
        try:  # a failed test must not leave the orphan running either
            os.kill(orphan, signal.SIGKILL)
        except OSError:
            pass
    print(f"cleanup: orphan {orphan} adopted, ended and reaped")


def main() -> int:
    tests = (test_memory, test_digest, test_cleanup)
    failed = 0
    for test in tests:
        try:
            test()
        except AssertionError as e:
            print(f"FAIL {test.__name__}: {e}")
            failed += 1
    print(json.dumps({"selftests": len(tests), "failed": failed}))
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
