from dataclasses import dataclass

from counters import IdWatermark, covered_ms, new_entries, read_new


@dataclass
class Stage:
    skipped: bool
    tasks: int
    run_ms: int
    shuffle_bytes: int
    input_bytes: int
    spill_bytes: int


@dataclass
class Job:
    submit_ms: int
    end_ms: int


class FakeStore:
    """A status store that keeps the newest ``keep`` entries of each
    kind, newest first for stages and jobs and oldest first for SQL
    executions, as Spark's stores list them."""

    def __init__(self, keep: int):
        self.keep = keep
        self.stage_list: list = []  # (id, Stage), oldest first
        self.job_list: list = []
        self.exec_list: list = []
        self.next = {"stage": 0, "job": 0, "exec": 0}

    def _add(self, kind, lst, rec):
        lst.append((self.next[kind], rec))
        self.next[kind] += 1
        del lst[: max(0, len(lst) - self.keep)]

    def call(self, n_stages, tasks, n_execs, skip_every=0):
        self._add("job", self.job_list, Job(self.next["job"] * 10, self.next["job"] * 10 + 5))
        for i in range(n_stages):
            skipped = bool(skip_every) and i % skip_every == 0
            self._add("stage", self.stage_list, Stage(skipped, tasks, 7, 100, 10, 1))
        for _ in range(n_execs):
            self._add("exec", self.exec_list, None)

    @staticmethod
    def _view(lst, newest_first):
        seq = list(reversed(lst)) if newest_first else list(lst)
        return len(seq), (lambda i: seq[i][0]), (lambda i: seq[i][1])

    def stages(self):
        return self._view(self.stage_list, True)

    def jobs(self):
        return self._view(self.job_list, True)

    def executions(self):
        return self._view(self.exec_list, False)


def test_new_entries_either_order():
    ids = [9, 8, 7, 6]
    assert new_entries(4, lambda i: ids[i], 7) == [0, 1]
    ids_up = [6, 7, 8, 9]
    assert new_entries(4, lambda i: ids_up[i], 7) == [3, 2]
    assert new_entries(0, None, -1) == []
    assert new_entries(4, lambda i: ids[i], 9) == []


def test_counts_are_per_call_under_eviction():
    store = FakeStore(keep=50)
    mark = IdWatermark()
    plan = [(30, 4, 3), (40, 2, 5), (45, 8, 1), (10, 1, 0), (50, 3, 2)] * 4
    for n_stages, tasks, n_execs in plan:
        store.call(n_stages, tasks, n_execs)
        c = read_new(store, mark)
        assert c.stages == n_stages
        assert c.tasks == n_stages * tasks
        assert c.run_ms == 7 * n_stages
        assert c.shuffle_bytes == 100 * n_stages
        assert c.sql_execs == n_execs
        assert len(c.job_spans_ms) == 1
    # the store evicted most of what ran; totals over it would be wrong
    assert len(store.stage_list) == 50 < sum(p[0] for p in plan)


def test_skipped_stages_are_not_counted():
    store = FakeStore(keep=1000)
    mark = IdWatermark()
    store.call(6, 2, 1, skip_every=3)  # stages 0 and 3 skipped
    c = read_new(store, mark)
    assert (c.stages, c.tasks) == (4, 8)
    assert mark.stage == 5


def test_nothing_new_reads_zero():
    store = FakeStore(keep=10)
    mark = IdWatermark()
    store.call(3, 1, 1)
    read_new(store, mark)
    c = read_new(store, mark)
    assert (c.stages, c.sql_execs, c.job_spans_ms) == (0, 0, [])


def test_covered_ms_merges_overlaps_and_clips():
    assert covered_ms([(0, 10), (5, 15), (20, 30)], 0, 100) == 25
    assert covered_ms([(0, 10), (5, 15), (20, 30)], 8, 25) == 12
    assert covered_ms([], 0, 10) == 0
