"""Materialization: eager checkpoints, their lifetime, and the one AQE
planning window.

The reference persists every stage as a durable table; here the
matching step is an eager checkpoint, and this module is its only
owner.  Every operator, query and sink materializes through a scope::

    with materialize.scope() as ms:
        e = ms.checkpoint(edges)               # cut lineage once
        comps = ms.hold(connected_components(e, nodes))
        ...
        return ms.attach(result)               # result now owns it all

- ``checkpoint`` eagerly localCheckpoints a frame (a reliable
  ``checkpoint`` inside ``scope(checkpoint_dir=...)``), optionally
  keeping the partitioning and ordering its plan ends with;
- ``background`` runs the same checkpoint from the scope's small
  thread pool, so independent corpus passes overlap;
- ``hold`` takes ownership of a cached frame, or of everything another
  operator's result carries;
- ``release`` frees a superseded generation now;
- ``attach`` hands every frame still held to the result, as one list
  that :func:`release_components` walks after the caller consumed it.

If the body raises, the scope frees everything it holds (after any
background checkpoint has finished) and re-raises; on a normal exit it
frees whatever was not attached.  Each frame is freed by its kind, read
from the frame itself: cached → ``unpersist``; localCheckpoint →
unpersist the checkpointed RDD (``DataFrame.unpersist`` only clears
cache-manager entries and is a no-op for checkpoints); reliable
checkpoint → delete its files (Spark's cleaner only reclaims them on
JVM GC).  Release must come strictly AFTER everything reading the frame
has run: a localCheckpoint's blocks are unrecoverable by design.

AQE and threads.  ``spark.sql.adaptive.enabled`` is session-global, so
a library thread that flips it changes every other thread's queries.
The flag is therefore only ever turned off while a physical plan is
BUILT, under one module lock, and never while a job runs: a plan built
without AQE runs without it, and one built with AQE still runs
adaptively if the flag is off at action time.  Every checkpoint —
background ones included — plans under the same lock, so no checkpoint
can pick up another checkpoint's AQE-off window.
"""

from __future__ import annotations

import threading
from concurrent.futures import Future, ThreadPoolExecutor
from contextlib import contextmanager

from pyspark.sql import DataFrame

_AQE = "spark.sql.adaptive.enabled"
_PLAN_LOCK = threading.Lock()
# enough to overlap the widest independent fan-out (source_health's
# five panels) without oversubscribing a small driver
_BACKGROUND_WORKERS = 3
# the single list a result carries; read only through this module
_HELD = "_materialized"


@contextmanager
def _planning(spark, adaptive: bool):
    """Hold the module's planning lock; with ``adaptive=False`` AQE is
    off inside the block and restored on every exit path."""
    with _PLAN_LOCK:
        if adaptive:
            yield
            return
        prev = spark.conf.get(_AQE)
        spark.conf.set(_AQE, "false")
        try:
            yield
        finally:
            spark.conf.set(_AQE, prev)


def _free(df: DataFrame) -> None:
    """Free one held frame by its kind.  Best-effort: a frame that is
    neither cached nor checkpointed, or whose session is gone, is left
    to Spark's own cleanup."""
    try:
        if df._jdf.storageLevel().isValid():
            df.unpersist()
            return
        rdd = df._jdf.queryExecution().analyzed().rdd()
        path = rdd.getCheckpointFile()
        if path.isDefined():
            sc = df.sparkSession.sparkContext
            p = sc._jvm.org.apache.hadoop.fs.Path(path.get())
            p.getFileSystem(sc._jsc.hadoopConfiguration()).delete(p, True)
        else:
            rdd.unpersist(False)
    except Exception:
        pass


def release_components(result: DataFrame) -> bool:
    """Free the executor-side state a consumed result carries — the
    frames its operator attached (checkpointed generations, cached
    intermediates).  Call AFTER the result has been fully consumed
    (collected or written): its plan still reads these frames, so a
    released result cannot be re-computed.  Returns True if anything
    was released; False (no-op) otherwise — safe to call
    unconditionally in cleanup paths."""
    held = vars(result).get(_HELD)
    if not held:
        return False
    setattr(result, _HELD, [])
    for df in held:
        _free(df)
    return True


class scope:
    """Owner of every frame materialized for one operator or query —
    see the module docstring.  ``checkpoint_dir`` selects reliable
    checkpoints written there; the SparkContext's previous checkpoint
    dir is restored on exit (an originally UNSET dir cannot be: Spark
    has no public way to unset it)."""

    def __init__(self, checkpoint_dir: str | None = None) -> None:
        self._dir = checkpoint_dir
        self._prev_dir = None
        self._held: list[tuple[object, DataFrame]] = []
        self._lock = threading.Lock()
        self._pool: ThreadPoolExecutor | None = None
        self._sc = None

    def __enter__(self) -> "scope":
        return self

    def _use_dir(self, spark) -> None:
        # set on the first checkpoint, so the scope needs no session
        # at construction
        if self._sc is None:
            self._sc = spark.sparkContext
            opt = self._sc._jsc.sc().getCheckpointDir()
            self._prev_dir = opt.get() if opt.isDefined() else None
            self._sc.setCheckpointDir(self._dir)

    def __exit__(self, exc_type, exc, tb) -> bool:
        if self._pool is not None:
            self._pool.shutdown(wait=True)
        try:
            for _, df in self._held:
                _free(df)
        finally:
            self._held.clear()
            if self._prev_dir is not None:
                self._sc.setCheckpointDir(self._prev_dir)
        return False

    def _add(self, owner, df: DataFrame) -> None:
        with self._lock:
            self._held.append((owner, df))

    def checkpoint(self, df: DataFrame, layout: bool = False) -> DataFrame:
        """Eagerly checkpoint ``df`` and hold it.

        ``layout``: keep whatever partitioning/ordering the plan already
        ends with (e.g. a repartition + sortWithinPartitions by a join
        key, which a sort-merge join then reads with no Exchange and no
        Sort), by planning it with AQE off — under AQE the checkpoint's
        ``LogicalRDD`` reports ``UnknownPartitioning``.  This also skips
        AQE's per-exchange stage jobs for a plan whose broadcast sides
        are already fixed.
        """
        spark = df.sparkSession
        with _planning(spark, adaptive=not layout):
            df._jdf.queryExecution().executedPlan()
        if self._dir is not None:
            self._use_dir(spark)
            ckpt = df.checkpoint(eager=True)
        else:
            ckpt = df.localCheckpoint(eager=True)
        self._add(ckpt, ckpt)
        return ckpt

    def background(self, df: DataFrame) -> Future:
        """:meth:`checkpoint` from the scope's thread pool; the
        future's result is the checkpointed frame.  Spark runs
        concurrent jobs inside one application, so independent passes
        back-fill each other's idle cores."""
        if self._pool is None:
            self._pool = ThreadPoolExecutor(max_workers=_BACKGROUND_WORKERS)
        return self._pool.submit(self.checkpoint, df)

    def hold(self, x: DataFrame) -> DataFrame:
        """Take ownership of ``x``: everything it carries if it is an
        operator result, else ``x`` itself (a cached frame).  Returns
        ``x``."""
        held = vars(x).get(_HELD)
        if held is None:
            self._add(x, x)
        else:
            setattr(x, _HELD, [])
            for df in held:
                self._add(x, df)
        return x

    def release(self, x: DataFrame) -> None:
        """Free now what the scope holds for ``x`` — a frame
        :meth:`checkpoint` returned, or a result passed to
        :meth:`hold`."""
        with self._lock:
            mine = [df for o, df in self._held if o is x or df is x]
            self._held = [(o, df) for o, df in self._held if not (o is x or df is x)]
        for df in mine:
            _free(df)

    def attach(self, result: DataFrame) -> DataFrame:
        """Hand every frame still held to ``result`` (freed by
        :func:`release_components` after the caller consumed it).
        Returns ``result``."""
        with self._lock:
            frames = [df for _, df in self._held]
            self._held = []
        setattr(result, _HELD, (vars(result).get(_HELD) or []) + frames)
        return result
