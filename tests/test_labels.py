"""The shared label lifecycle (operators/labels.py) across rungs:
crash safety at every write step, checkpoint release, and the shared
DuckDB keep-list oracle."""

import os

import pytest

from conftest import forget_memo

CRASH_POINTS = [
    "fold_append",
    "fold_sidecar",
    "compact_write",
    "compact_sidecar",
]


def _rung(name):
    from smile_spark.operators import dedup as D
    from smile_spark.operators import multimodal as M

    # image: the generic pair-cc base arm; text: the base_labels
    # contraction arm
    return M._label_rung("image") if name == "image" else D._text_label_rung()


@pytest.fixture(scope="module")
def live_keep_list(spark, sf_dir):
    """rung name -> the live fold's keep list.  The read-only base
    labels and the increment pairs it folds are untouched by the roll,
    so one fold per rung serves every crash point."""
    from smile_spark.operators import labels as L

    cache = {}

    def get(rung):
        if rung.name not in cache:
            cache[rung.name] = {
                tuple(r)
                for r in L.clusters_incremental(spark, sf_dir, rung).collect()
            }
        return cache[rung.name]

    return get


@pytest.mark.parametrize("point", CRASH_POINTS)
@pytest.mark.parametrize("rung_name", ["image", "text"])
def test_label_lifecycle_crash_points(
    spark, sf_dir, monkeypatch, live_keep_list, rung_name, point
):
    """A crash at any write step of the fold or the compaction must
    leave NO adoptable sidecar (ADVICE r14 ordering: removed before
    the first write, rolled sidecar written last).  A new session then
    takes the full-rebuild arm, folds exactly once — a second fold
    over already-appended rows would double every delta row — and
    serves the same keep list as the live fold."""
    from smile_spark.operators import labels as L
    from smile_spark.sources import bucketed as BK

    rung = _rung(rung_name)
    tables = L.roll_tables(rung, sf_dir)
    path = BK.sidecar_path(spark, L._roll_sidecar_name(rung, sf_dir))
    compacting = point.startswith("compact")
    if compacting:
        # adopts the rolled state an earlier case left, or builds one
        L.label_rollforward(spark, sf_dir, rung)
    else:
        L.roll_restore_base(spark, sf_dir, rung)
    assert os.path.exists(path)
    real_write = BK.write_bucketed
    real_append = BK.append_bucketed
    real_write_sidecar = BK.write_sidecar

    def dying_append(*a, **k):
        raise RuntimeError("simulated executor loss mid-fold")

    def dying_write(df, tbl, *a, **k):
        if tbl.endswith("_cmp"):
            raise RuntimeError("simulated executor loss mid-compaction")
        return real_write(df, tbl, *a, **k)

    def dying_sidecar(spark_, name, payload):
        if payload.get("state") == "rolled":
            raise RuntimeError("simulated process death pre-sidecar")
        return real_write_sidecar(spark_, name, payload)

    target, fake, match = {
        "fold_append": ("append_bucketed", dying_append, "mid-fold"),
        "fold_sidecar": ("write_sidecar", dying_sidecar, "pre-sidecar"),
        "compact_write": ("write_bucketed", dying_write, "mid-compaction"),
        "compact_sidecar": ("write_sidecar", dying_sidecar, "pre-sidecar"),
    }[point]
    run = L.label_compact if compacting else L.label_rollforward
    monkeypatch.setattr(BK, target, fake)
    with pytest.raises(RuntimeError, match=match):
        run(spark, sf_dir, rung)
    monkeypatch.undo()
    assert not os.path.exists(path), (
        f"a crash at {point} left an adoptable sidecar behind"
    )
    if point == "fold_append":
        assert not any(
            spark.catalog.tableExists(t) for t in tables.values()
        ), "a failed fold left half-appended tables behind"
    # recovery in a new session: the full-rebuild arm (labels + empty
    # delta = 2 writes), then exactly one fold append
    forget_memo(L.roll_family(rung))
    writes, appends = [], []
    monkeypatch.setattr(
        BK,
        "write_bucketed",
        lambda *a, **k: (writes.append(a), real_write(*a, **k)),
    )
    monkeypatch.setattr(
        BK,
        "append_bucketed",
        lambda *a, **k: (appends.append(a), real_append(*a, **k)),
    )
    rolled = {
        tuple(r) for r in L.labels_rolled(spark, sf_dir, rung).collect()
    }
    monkeypatch.undo()
    assert len(writes) == 2, "recovery must take the full-rebuild arm"
    assert len(appends) == 1, "recovery must fold exactly once"
    delta = BK.read_bucketed(spark, tables["delta"])
    n_delta = delta.count()
    assert n_delta > 0
    assert delta.select("id").distinct().count() == n_delta, (
        "doubled delta rows"
    )
    assert rolled == live_keep_list(rung)


def test_label_lifecycle_releases_checkpoints(spark, sf_dir):
    """Build → restore base → roll → compact → read must leave no
    persisted RDD behind once its frames are dropped — including
    cc_labels' final label table inside the build and the fold (the
    cc_labels superseded-round release, extended to the lifecycle)."""
    import gc

    from smile_spark.operators import labels as L

    rung = _rung("image")
    jsc = spark.sparkContext._jsc.sc()
    # warm the session's pair and index memos: a cold base build runs
    # every base_pairs input, the live fold every inc_pairs input
    L.clear_label_state(rung, "all")
    L.label_index_build(spark, sf_dir, rung)
    L.clusters_incremental(spark, sf_dir, rung).collect()
    gc.collect()
    n0 = jsc.getPersistentRDDs().size()
    L.clear_label_state(rung, "all")
    L.label_index_build(spark, sf_dir, rung)
    L.roll_restore_base(spark, sf_dir, rung)
    L.label_rollforward(spark, sf_dir, rung)
    L.label_compact(spark, sf_dir, rung)
    L.labels_rolled(spark, sf_dir, rung).collect()
    L.clusters_incremental(spark, sf_dir, rung).collect()
    gc.collect()
    n1 = jsc.getPersistentRDDs().size()
    # leave no compacted (empty-delta) roll state adopted for later
    # tests in this session
    L.clear_label_state(rung, "all")
    assert n1 == n0, (n0, n1)


def test_keep_list_oracle_is_byte_identical():
    """The per-modality cluster oracles are built by the shared
    labels.keep_list_sql; this pins one of them to the exact bytes it
    had when multimodal.py carried its own copy of keep_list_sql."""
    import hashlib

    from smile_spark.operators import multimodal as M

    digest = hashlib.sha256(M.IMAGE_DHASH_CLUSTERS_SQL.encode()).hexdigest()
    assert digest == (
        "594b656006d28e257c130c3a4747c5f448d2b5e7e59c58b077bf9a822af6128c"
    )
