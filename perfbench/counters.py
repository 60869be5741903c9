"""Per-call Spark counters read from the application's status stores.

Counters are attributed by id, never as differences of running totals:
after each call the reader walks only the stages, jobs and SQL
executions whose id is above the highest id seen so far.  The status
store keeps a bounded number of entries (``spark.ui.retainedStages``,
1000 by default) and evicts the oldest ones, so totals over the list
shrink once eviction starts, while new ids keep appearing at the new
end of the list.  Walking only the new end also keeps the py4j cost
per call proportional to the call's own work.
"""

from __future__ import annotations

from dataclasses import dataclass, field


def new_entries(size: int, id_at, watermark: int) -> list[int]:
    """Indices of the entries whose id exceeds ``watermark`` in a list
    sorted by id in either direction, visiting only those entries and
    the first older one."""
    if size == 0:
        return []
    newest_first = id_at(0) >= id_at(size - 1)
    order = range(size) if newest_first else range(size - 1, -1, -1)
    out = []
    for i in order:
        if id_at(i) <= watermark:
            break
        out.append(i)
    return out


@dataclass
class CallCounters:
    """What one call made Spark do."""

    stages: int = 0
    tasks: int = 0
    run_ms: int = 0  # executor run time summed over tasks
    shuffle_bytes: int = 0  # shuffle bytes written
    input_bytes: int = 0
    spill_bytes: int = 0  # spilled to disk
    sql_execs: int = 0
    job_spans_ms: list = field(default_factory=list)  # (submit, end) epoch ms


class IdWatermark:
    """Highest id consumed so far, per kind of entry."""

    def __init__(self):
        self.stage = -1
        self.job = -1
        self.execution = -1


def read_new(store, mark: IdWatermark) -> CallCounters:
    """Attribute every entry newer than ``mark`` to one call and advance
    ``mark``.  ``store`` exposes three list views: ``stages()``,
    ``jobs()``, ``executions()``, each a ``(size, id_at, get)`` triple,
    and the stage and job records expose the fields read below."""
    c = CallCounters()
    size, id_at, get = store.stages()
    idx = new_entries(size, id_at, mark.stage)
    for i in idx:
        s = get(i)
        if s.skipped:
            continue
        c.stages += 1
        c.tasks += s.tasks
        c.run_ms += s.run_ms
        c.shuffle_bytes += s.shuffle_bytes
        c.input_bytes += s.input_bytes
        c.spill_bytes += s.spill_bytes
    if idx:
        mark.stage = max(mark.stage, max(id_at(i) for i in idx))
    size, id_at, get = store.jobs()
    idx = new_entries(size, id_at, mark.job)
    for i in idx:
        j = get(i)
        if j.submit_ms is not None and j.end_ms is not None:
            c.job_spans_ms.append((j.submit_ms, j.end_ms))
    if idx:
        mark.job = max(mark.job, max(id_at(i) for i in idx))
    size, id_at, _ = store.executions()
    idx = new_entries(size, id_at, mark.execution)
    c.sql_execs = len(idx)
    if idx:
        mark.execution = max(mark.execution, max(id_at(i) for i in idx))
    return c


def covered_ms(spans, lo: float, hi: float) -> float:
    """Length of the union of ``spans`` clipped to ``[lo, hi]``."""
    total, end = 0.0, lo
    for a, b in sorted(spans):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


@dataclass
class _Stage:
    skipped: bool
    tasks: int
    run_ms: int
    shuffle_bytes: int
    input_bytes: int
    spill_bytes: int


@dataclass
class _Job:
    submit_ms: int | None
    end_ms: int | None


class SparkStatusStore:
    """The live application's ``AppStatusStore`` and
    ``SQLAppStatusStore`` seen through py4j, in the shape
    :func:`read_new` reads.  Each view is fetched once per read."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._app = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so
        the stores hold the final metrics of the stages that ran."""
        self._jsc.listenerBus().waitUntilEmpty()

    def stages(self):
        seq = self._app.stageList(None, False, False, self._no_quantiles, None)

        def get(i):
            s = seq.apply(i)
            return _Stage(
                skipped=s.status().toString() == "SKIPPED",
                tasks=s.numTasks(),
                run_ms=s.executorRunTime(),
                shuffle_bytes=s.shuffleWriteBytes(),
                input_bytes=s.inputBytes(),
                spill_bytes=s.diskBytesSpilled(),
            )

        return seq.size(), lambda i: seq.apply(i).stageId(), get

    def jobs(self):
        seq = self._app.jobsList(None)

        def get(i):
            j = seq.apply(i)
            sub, end = j.submissionTime(), j.completionTime()
            return _Job(
                sub.get().getTime() if sub.isDefined() else None,
                end.get().getTime() if end.isDefined() else None,
            )

        return seq.size(), lambda i: seq.apply(i).jobId(), get

    def executions(self):
        seq = self._sql.executionsList()
        return seq.size(), lambda i: seq.apply(i).executionId(), None
