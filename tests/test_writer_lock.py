"""Cross-process writer guard (Warehouse.write_lock): a second writer
fails fast instead of interleaving read-modify-write cycles; stale
locks from crashed writers are broken; the lock is re-entrant within
one Warehouse instance, so a write nested inside a held lock does not
acquire it again."""

from __future__ import annotations

import os
import time

import pytest

from svs_spark.sources.warehouse import WRITER_LOCK_SUFFIX, Warehouse


@pytest.fixture()
def wh(spark, tmp_path):
    return Warehouse(spark, str(tmp_path / "wh"))


def _df(spark, rows):
    return spark.createDataFrame(rows, "id long, v string")


def test_busy_lock_times_out_without_touching_table(spark, wh):
    wh.write("t", _df(spark, [(1, "a")]))
    lock = wh.table_path("t") + WRITER_LOCK_SUFFIX
    with open(lock, "w") as f:  # simulate a live concurrent writer
        f.write("pid=99999 t=now")
    try:
        with pytest.raises(TimeoutError, match="another writer"):
            with wh.write_lock("t", timeout_s=0.5):
                pass
        # table unchanged and readable
        assert wh.read("t").count() == 1
    finally:
        os.unlink(lock)


def test_stale_lock_is_broken_with_warning(spark, wh):
    wh.write("t", _df(spark, [(1, "a")]))
    lock = wh.table_path("t") + WRITER_LOCK_SUFFIX
    with open(lock, "w") as f:
        f.write("pid=99999 t=old")
    old = time.time() - 7200
    os.utime(lock, (old, old))
    with pytest.warns(UserWarning, match="stale writer lock"):
        wh.write("t", _df(spark, [(1, "a"), (2, "b")]))
    assert wh.read("t").count() == 2
    assert not os.path.exists(lock)  # released after the write


def test_lock_released_after_write_and_reentrant_merge(spark, wh):
    wh.write("b", _df(spark, [(1, "a"), (2, "b")]))
    lock = wh.table_path("b") + WRITER_LOCK_SUFFIX
    assert not os.path.exists(lock)
    # a caller holds the lock across its own read-modify-write; the
    # nested write's acquire must not deadlock
    with wh.write_lock("b"):
        assert os.path.exists(lock)
        cur = wh.read("b").filter("id != 2").collect()
        wh.write("b", _df(spark, [tuple(r) for r in cur] + [(2, "B"), (5, "e")]))
        assert os.path.exists(lock)  # the inner write did not release it
    got = {(r["id"], r["v"]) for r in wh.read("b").collect()}
    assert got == {(1, "a"), (2, "B"), (5, "e")}
    assert not os.path.exists(lock)


_HOLDER_SCRIPT = """
import sys, time
from svs_spark.sources.warehouse import path_writer_lock
path, hold_s, stale_s, ready = sys.argv[1], float(sys.argv[2]), float(sys.argv[3]), sys.argv[4]
with path_writer_lock(path, timeout_s=5.0, stale_after_s=stale_s):
    with open(ready, "w") as f:
        f.write("ACQUIRED")
    time.sleep(hold_s)
"""


def _spawn_holder(path, hold_s, stale_s, ready):
    import subprocess
    import sys

    return subprocess.Popen(
        [sys.executable, "-c", _HOLDER_SCRIPT,
         path, str(hold_s), str(stale_s), str(ready)],
        cwd="/root/repo",
    )


def _wait_for(pred, timeout_s=20.0, msg="condition"):
    deadline = time.time() + timeout_s
    while time.time() < deadline:
        if pred():
            return
        time.sleep(0.05)
    raise AssertionError(f"timed out waiting for {msg}")


def test_two_process_contention_then_stale_break_after_kill(tmp_path):
    """The cross-PROCESS interleave the lock exists to close: a second
    process times out against a live holder; after the holder is
    SIGKILLed (heartbeat dies with it) the lock goes stale and a new
    writer breaks it via the single-winner rename path."""
    import signal

    from svs_spark.sources.warehouse import path_writer_lock

    path = str(tmp_path / "table")
    ready = str(tmp_path / "ready")
    lock = path + WRITER_LOCK_SUFFIX
    holder = _spawn_holder(path, hold_s=60.0, stale_s=2.0, ready=ready)
    try:
        _wait_for(lambda: os.path.exists(ready), msg="holder acquire")
        # live contender -> fail fast, lock untouched
        with pytest.raises(TimeoutError, match="another writer"):
            with path_writer_lock(path, timeout_s=0.8, stale_after_s=2.0):
                pass
        assert os.path.exists(lock)
        # kill the holder mid-write: no release, no more heartbeats
        holder.send_signal(signal.SIGKILL)
        holder.wait(timeout=10)
        # once the last heartbeat ages past stale_after_s, a new writer
        # breaks the dead holder's lock and proceeds
        with pytest.warns(UserWarning, match="stale writer lock"):
            with path_writer_lock(path, timeout_s=10.0, stale_after_s=2.0):
                assert os.path.exists(lock)
        assert not os.path.exists(lock)
    finally:
        if holder.poll() is None:
            holder.kill()
            holder.wait(timeout=10)


def test_heartbeat_keeps_slow_writer_alive_past_stale_window(tmp_path):
    """A legitimately slow holder (hold time >> stale_after_s) must NOT
    be stale-broken: the heartbeat refreshes the lock mtime, so a
    contender sees a live lock and times out instead of breaking it."""
    from svs_spark.sources.warehouse import path_writer_lock

    path = str(tmp_path / "table")
    ready = str(tmp_path / "ready")
    lock = path + WRITER_LOCK_SUFFIX
    # holder keeps the lock for 6s with a 1s stale window (beat ~0.25s)
    holder = _spawn_holder(path, hold_s=6.0, stale_s=1.0, ready=ready)
    try:
        _wait_for(lambda: os.path.exists(ready), msg="holder acquire")
        time.sleep(2.0)  # well past stale_after_s of un-refreshed age
        with pytest.raises(TimeoutError, match="another writer"):
            with path_writer_lock(path, timeout_s=1.5, stale_after_s=1.0):
                pass
        assert os.path.exists(lock)  # never broken
        holder.wait(timeout=20)
        _wait_for(lambda: not os.path.exists(lock), msg="holder release")
    finally:
        if holder.poll() is None:
            holder.kill()
            holder.wait(timeout=10)


def test_break_restores_lock_when_rename_races_a_fresh_refresh(tmp_path):
    """_break_stale_lock must re-verify after the rename: capturing a
    lock whose mtime turns out fresh (a heartbeat raced the stat) is
    rolled back, not treated as a win."""
    from svs_spark.sources.warehouse import _break_stale_lock

    path = str(tmp_path / "table")
    lock = path + WRITER_LOCK_SUFFIX
    with open(lock, "w") as f:
        f.write("pid=1 t=now")
    # mtime is FRESH: the pre-rename stat is simulated stale, but the
    # post-rename verify sees a live lock -> no break, file restored
    assert _break_stale_lock(lock, stale_after_s=3600.0) is False
    assert os.path.exists(lock)
    with open(lock) as f:
        assert f.read() == "pid=1 t=now"


def test_lock_released_on_write_failure(spark, wh):
    class Boom(Exception):
        pass

    with pytest.raises(Boom):
        with wh.write_lock("t"):
            raise Boom()
    assert not os.path.exists(wh.table_path("t") + WRITER_LOCK_SUFFIX)
    wh.write("t", _df(spark, [(1, "a")]))  # lock is free again
    assert wh.read("t").count() == 1
