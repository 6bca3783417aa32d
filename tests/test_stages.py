"""The stage executor on its own (no Spark): stages start only after
their inputs, each once, under their span; results flow to the stages
that name them; the first error stops everything that depends on it
and surfaces on the main thread."""

import random
import sys
import threading
from concurrent.futures import ThreadPoolExecutor

import pytest

from cuphic_spark.frontier.stages import SPAN_PROPERTY, Executor, Stage


class _FakeContext:
    """The two SparkContext calls the executor makes, per thread."""

    def __init__(self):
        self._local = threading.local()

    def setLocalProperty(self, key, value):
        setattr(self._local, key, value)

    def getLocalProperty(self, key):
        return getattr(self._local, key, None)


class _FakeSpark:
    def __init__(self):
        self.sparkContext = _FakeContext()


def _table(sc, finished, lock, fail_at=None):
    """A crawl-shaped table: two main stages, a fan-out, a join, a slow
    ``log`` and a finalize that the next wave's ``c`` waits for. Each
    stage returns 1 + the sum of its inputs and checks its inputs
    already finished."""
    def fn(name, inputs):
        def run(ctx, wave, got):
            assert sc.getLocalProperty(SPAN_PROPERTY) == f"w{wave}/{name}"
            with lock:
                for i in inputs:
                    n, _, lag = i.partition("@")
                    k = (wave + int(lag or 0), n)
                    assert k[0] < 0 or k in finished, (wave, name, k)
            if (wave, name) == fail_at:
                raise RuntimeError(f"injected {name}")
            threading.Event().wait(random.random() / (50 if name == "log"
                                                      else 500))
            with lock:
                assert (wave, name) not in finished
                finished.add((wave, name))
            return 1 + sum(v or 0 for v in got.values())
        return run

    spec = [("a", ("d@-1",), True), ("b", ("a",), True),
            ("c", ("b", "finalize@-1"), False), ("e", ("b",), False),
            ("log", ("b",), False), ("d", ("c", "e"), False),
            ("finalize", ("c", "d", "log"), False)]
    return tuple(Stage(n, fn(n, i), i, m) for n, i, m in spec)


def _run(ex, waves, table, left=None):
    ex.done.update({(-1, "d"): 0, (-1, "finalize"): 0})
    for w in range(waves):
        ex.run(w, table)
    ex.join()
    if left is not None:  # the span the driving thread is left with
        left.append(ex.sc.getLocalProperty(SPAN_PROPERTY))


def test_executor_orders_stages_under_contention():
    """Many waves on more pool threads than cores, with a short switch
    interval: every stage runs once, after its inputs, under its span,
    and its result reaches the stages that read it."""
    spark, finished, lock = _FakeSpark(), set(), threading.Lock()
    table = _table(spark.sparkContext, finished, lock)
    ex = Executor(spark, None, ThreadPoolExecutor(max_workers=16),
                  keep=("finalize",))
    interval, left = sys.getswitchinterval(), []
    sys.setswitchinterval(1e-6)
    try:
        t = threading.Thread(target=_run, args=(ex, 40, table, left),
                             daemon=True)  # a hang fails, not blocks
        t.start()
        t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
        ex.close()
    assert not t.is_alive()
    assert finished == {(w, s.name) for w in range(40) for s in table}
    assert set(ex.spans) == finished
    assert left == [None]
    # complete waves drop their results once the next one completes
    assert {k for k in ex.done if k[1] != "finalize"} == \
        {(39, s.name) for s in table if s.name != "finalize"}
    # finalize(w) = 1 + c + d + log, with a = 1 + d(w-1) feeding the chain
    assert [ex.done[(w, "finalize")] for w in range(3)] == [14, 70, 294]


def test_executor_first_error_stops_its_dependents():
    """A stage that raises in wave 2 surfaces on the main thread; no
    stage that needs it — in its wave or the next — ever starts."""
    spark, finished, lock = _FakeSpark(), set(), threading.Lock()
    table = _table(spark.sparkContext, finished, lock, fail_at=(2, "c"))
    ex = Executor(spark, None, ThreadPoolExecutor(max_workers=4))
    try:
        with pytest.raises(RuntimeError, match="injected c"):
            _run(ex, 5, table)
    finally:
        ex.close()
    assert {(2, "d"), (2, "finalize"), (3, "c")}.isdisjoint(finished)
    assert {(w, "finalize") for w in (0, 1)} <= finished
    assert not any(w > 2 for w, _ in finished)
