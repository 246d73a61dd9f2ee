from __future__ import annotations

import faulthandler
import os
import signal
import sys
import threading
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import minefields_kafka_streams_deduplication_spark as engine

SF_DIR = "/root/testdata/sf0.001"

# Limit on each test body's running time. The slowest test takes under
# a minute on 4 cores; a test that outlives the limit fails with every
# Python thread's stack on stderr, and the Spark jobs and streams it
# left running are cancelled, so one stuck job costs that test instead
# of every test after it. Time is counted in ticks: a gap between two
# ticks longer than two ticks is a suspended process, not a slow test,
# and counts as two ticks.
TEST_TIME_LIMIT_S = 300
_TICK_S = 5.0


@pytest.fixture(scope="session")
def spark():
    s = engine.get_spark("pytest", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


def _cancel_spark_work() -> None:
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    session = SparkSession._instantiatedSession
    if session is not None:
        for q in session.streams.active:
            q.stop()
    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.cancelAllJobs()


def _waiting_on_jvm(thread_id: int) -> bool:
    frame = sys._current_frames().get(thread_id)
    while frame is not None:
        if f"{os.sep}py4j{os.sep}" in frame.f_code.co_filename:
            return True
        frame = frame.f_back
    return False


class _Expired(Exception):
    pass


def _raise_expired(signum, frame):
    raise _Expired


signal.signal(signal.SIGALRM, _raise_expired)


@pytest.hookimpl(wrapper=True)
def pytest_runtest_call(item):
    """Enforce TEST_TIME_LIMIT_S. A test blocked on a py4j call is
    released by cancelling its Spark jobs and streams (the call then
    returns an error); interrupting the call itself would leave the
    gateway connection mid-reply and break every later test. Any other
    stuck test is interrupted with SIGALRM."""
    main = threading.get_ident()
    expired = threading.Event()

    def expire():
        expired.set()
        faulthandler.dump_traceback(all_threads=True)
        if _waiting_on_jvm(main):
            _cancel_spark_work()
        else:
            signal.pthread_kill(main, signal.SIGALRM)

    def watch():
        left, last = TEST_TIME_LIMIT_S, time.monotonic()
        while not done.wait(_TICK_S):
            now = time.monotonic()
            left -= min(now - last, 2 * _TICK_S)
            last = now
            if left <= 0:
                expire()
                return

    done = threading.Event()
    watcher = threading.Thread(target=watch, daemon=True)
    watcher.start()
    try:
        result = yield
    except BaseException:
        if not expired.is_set():
            raise
    finally:
        done.set()
        watcher.join()
    if expired.is_set():
        pytest.fail(f"{item.nodeid} ran past its {TEST_TIME_LIMIT_S} s limit", pytrace=False)
    return result
