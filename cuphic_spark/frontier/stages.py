"""Stage tables and the one executor that runs them.

A stage table lists the stages of one unit of work (a crawl wave) as
(name, fn, inputs); the executor runs the tables of consecutive waves
under one coordinator — F1 Query's fragment DAG (VLDB 2018) applied to
the crawl wave. The rules the crawl loop used to keep in comments are
the executor's:

* a stage is submitted only once all its inputs are done, so no pool
  task ever waits on a future — only the main thread waits, and a
  full pool only delays work;
* each stage runs with the Spark local property ``cuphic.span`` =
  ``w{wave}/{stage}`` set on its thread (cleared afterwards), so every
  Spark job it launches names it, and its (start, end) lands in
  ``spans``;
* on the first error nothing more starts (queued stages are dropped)
  and the main thread re-raises it; ``close`` awaits the stages still
  running.
"""

from __future__ import annotations

import threading
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

SPAN_PROPERTY = "cuphic.span"


@dataclass(frozen=True)
class Stage:
    """One entry of a stage table: ``fn(ctx, wave, got)`` runs once per
    wave, ``got`` mapping each of ``inputs`` to its result. An input
    names a stage of the same wave or, suffixed ``@-1``, of the
    previous one. ``main`` stages run on the main thread, in table
    order; the rest on the executor's pool."""
    name: str
    fn: object
    inputs: tuple = ()
    main: bool = False


def _call_stage(stage: Stage, ctx, wave: int, got: dict):
    """The executor's one per-stage call (the fault tests' seam)."""
    return stage.fn(ctx, wave, got)


def _input_key(wave: int, inp: str) -> tuple[int, str]:
    name, _, lag = inp.partition("@")
    return wave + int(lag or 0), name


class Executor:
    """Runs stage tables over consecutive waves on ``pool``, passing
    ``ctx`` to every stage. ``done`` maps (wave, stage) to its result;
    a caller seeds it with what the first wave's ``@-1`` inputs read.
    Inputs reach back one wave, so a wave's results are dropped once
    it and the next wave are complete — all but the stages in
    ``keep``."""

    def __init__(self, spark, ctx, pool: ThreadPoolExecutor,
                 keep: tuple = ()):
        self.sc, self.ctx, self.pool = spark.sparkContext, ctx, pool
        self.keep = keep
        self.cv = threading.Condition()
        self.done: dict = {}    # (wave, stage) -> result
        self.spans: dict = {}   # (wave, stage) -> (start, end)
        self.queued: dict = {}  # (wave, stage) -> pool Stage, unsubmitted
        self.left: dict = {}    # wave -> its stages not done yet
        self.running, self.error = 0, None

    def run(self, wave: int, table) -> None:
        """Registers ``table`` for ``wave`` and runs its main stages on
        this thread as their inputs complete; the pool stages start as
        theirs do."""
        with self.cv:
            self.left[wave] = len(table)
            self.queued.update({(wave, s.name): s for s in table
                                if not s.main})
            self._submit_ready()
        for s in table:
            if s.main:
                self._wait(lambda: self._ready(wave, s))
                self._exec(wave, s)
        self._wait(lambda: True)  # surfaces a pool stage's error

    def join(self) -> None:
        """Waits until every registered stage is done."""
        self._wait(lambda: not (self.queued or self.running))

    def close(self) -> None:
        """Drops what is still queued and awaits the running stages."""
        with self.cv:
            self.queued.clear()
        self.pool.shutdown(wait=True, cancel_futures=True)

    def _wait(self, until) -> None:
        with self.cv:
            self.cv.wait_for(lambda: self.error is not None or until())
            if self.error is not None:
                raise self.error

    def _ready(self, wave: int, stage: Stage) -> bool:
        return all(_input_key(wave, i) in self.done for i in stage.inputs)

    def _submit_ready(self) -> None:  # holds self.cv
        for key, s in list(self.queued.items()):
            if self.error is None and self._ready(key[0], s):
                del self.queued[key]
                self.running += 1
                self.pool.submit(self._exec, key[0], s)

    def _exec(self, wave: int, stage: Stage) -> None:
        with self.cv:
            if self.error is not None:  # queued before the first error
                self.running -= not stage.main  # main stages: uncounted
                return
            got = {i: self.done[_input_key(wave, i)] for i in stage.inputs}
        t0, out, err = time.perf_counter(), None, None
        try:
            self.sc.setLocalProperty(SPAN_PROPERTY, f"w{wave}/{stage.name}")
            out = _call_stage(stage, self.ctx, wave, got)
        except Exception as e:  # re-raised on the main thread
            err = e
        finally:
            self.sc.setLocalProperty(SPAN_PROPERTY, None)
        with self.cv:
            self.spans[(wave, stage.name)] = (t0, time.perf_counter())
            self.running -= not stage.main
            if err is None:
                self.done[(wave, stage.name)] = out
                self.left[wave] -= 1
                for w in (wave - 1, wave):
                    if not self.left.get(w, 0) and not self.left.get(w + 1, 1):
                        for k in [k for k in self.done
                                  if k[0] == w and k[1] not in self.keep]:
                            del self.done[k]
                self._submit_ready()
            elif self.error is None:
                self.error = err
            self.cv.notify_all()
