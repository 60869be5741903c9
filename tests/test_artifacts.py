"""The persisted-artifact lifecycle (sources/bucketed.py): crash
safety of every roll family at its two write steps, and the sealed
build of the primitive itself."""

import os
from dataclasses import dataclass
from typing import Callable

import pytest

from conftest import forget_memo, memoized


@dataclass(frozen=True)
class RollCase:
    family: str
    restore: Callable  # (spark, sf_dir) -> None
    roll: Callable  # (spark, sf_dir) -> tables
    sidecar: Callable  # (spark, sf_dir) -> sidecar name
    tables: Callable  # (spark, sf_dir) -> table names
    read: Callable  # (spark, sf_dir) -> the rolled probe or reader
    rebuild_writes: int  # table writes of the full-rebuild arm
    fold_appends: int  # append calls of one fold
    live: Callable | None = None  # (spark, sf_dir) -> rows read must equal


def _cases():
    from smile_spark.operators import dedup as D
    from smile_spark.operators import multimodal as M

    def setsim_tables(spark, sf_dir):
        hash_tokens = D._setsim_hash_conf(spark)
        return list(D._setsim_roll_tables(sf_dir, hash_tokens).values())

    def one(name_fn):
        return lambda spark, sf_dir: [name_fn(sf_dir)]

    def live_verdicts(spark, sf_dir):
        base = D._sem_base_verdicts(spark, sf_dir).collect()
        fold = D._sem_fold_verdicts(spark, sf_dir).collect()
        return {tuple(r) for r in base} | {tuple(r) for r in fold}

    return {
        "setsim": RollCase(
            "setsim_roll",
            D.setsim_roll_restore_base,
            D.setsim_index_rollforward,
            lambda spark, sf_dir: D._setsim_roll_sidecar_name(
                sf_dir, D._setsim_hash_conf(spark)
            ),
            setsim_tables,
            D.setsim_rolled_probe,
            4,
            3,
        ),
        "minhash": RollCase(
            "minhash_roll",
            D.minhash_roll_restore_base,
            D.minhash_index_rollforward,
            lambda spark, sf_dir: D._mh_roll_table(sf_dir),
            one(D._mh_roll_table),
            D.minhash_rolled_probe,
            1,
            1,
        ),
        "semantic": RollCase(
            "semantic_roll",
            D.semantic_roll_restore_base,
            D.semantic_index_rollforward,
            lambda spark, sf_dir: D._sem_roll_table(sf_dir),
            one(D._sem_roll_table),
            D.semantic_rolled_probe,
            1,
            1,
        ),
        "image": RollCase(
            "image_band_roll",
            lambda spark, sf_dir: M.band_roll_restore_base(
                spark, sf_dir, "image"
            ),
            lambda spark, sf_dir: M.band_index_rollforward(
                spark, sf_dir, "image"
            ),
            lambda spark, sf_dir: M._band_roll_table(sf_dir, "image"),
            lambda spark, sf_dir: [M._band_roll_table(sf_dir, "image")],
            M.image_dhash_rolled_probe,
            1,
            1,
        ),
        "semantic_label": RollCase(
            "semantic_labels",
            D.semantic_label_restore_base,
            D.semantic_label_rollforward,
            lambda spark, sf_dir: D._sem_label_table(sf_dir),
            one(D._sem_label_table),
            D.semantic_labels_rolled,
            1,
            1,
            live_verdicts,
        ),
    }


ROLL_NAMES = ["setsim", "minhash", "semantic", "image", "semantic_label"]


@pytest.mark.parametrize("point", ["fold_append", "fold_sidecar"])
@pytest.mark.parametrize("name", ROLL_NAMES)
def test_roll_crash_points(spark, sf_dir, monkeypatch, name, point):
    """A crash mid-fold (an append raises after the earlier tables of
    the fold appended) or after the appends but before the rolled
    sidecar lands must leave NO adoptable state and no memo: a BASE
    sidecar left over already-folded tables would make the next
    session fold AGAIN (silent row duplication).  Recovery is the
    full-rebuild arm followed by exactly one fold, and the rolled
    probe/reader serves rows."""
    from smile_spark.sources import bucketed as BK

    case = _cases()[name]
    case.restore(spark, sf_dir)
    path = BK.sidecar_path(spark, case.sidecar(spark, sf_dir))
    assert os.path.exists(path)  # the base sidecar restore_base wrote
    real_write = BK.write_bucketed
    real_append = BK.append_bucketed
    real_write_sidecar = BK.write_sidecar
    calls = []
    die_at = min(2, case.fold_appends)

    def flaky_append(*a, **k):
        calls.append(a)
        if len(calls) == die_at:
            raise RuntimeError("simulated executor loss mid-fold")
        return real_append(*a, **k)

    def dying_write_sidecar(spark_, name_, payload):
        if payload.get("state") == "rolled":
            raise RuntimeError("simulated process death pre-sidecar")
        return real_write_sidecar(spark_, name_, payload)

    if point == "fold_append":
        monkeypatch.setattr(BK, "append_bucketed", flaky_append)
        match = "mid-fold"
    else:
        monkeypatch.setattr(BK, "write_sidecar", dying_write_sidecar)
        match = "pre-sidecar"
    with pytest.raises(RuntimeError, match=match):
        case.roll(spark, sf_dir)
    monkeypatch.undo()
    assert not os.path.exists(path), (
        f"a crash at {point} left an adoptable sidecar behind"
    )
    assert not memoized(case.family, sf_dir)
    if point == "fold_append":
        assert not any(
            spark.catalog.tableExists(t) for t in case.tables(spark, sf_dir)
        ), "a failed fold left half-appended tables behind"
    # recovery in a new session: the full rebuild, then one fold
    forget_memo(case.family)
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
    case.roll(spark, sf_dir)
    monkeypatch.undo()
    assert len(writes) == case.rebuild_writes, (
        "recovery must take the full-rebuild arm"
    )
    assert len(appends) == case.fold_appends, (
        "recovery must fold exactly once"
    )
    with open(path) as fh:
        assert '"state": "rolled"' in fh.read()
    rows = {tuple(r) for r in case.read(spark, sf_dir).collect()}
    assert rows
    if case.live is not None:
        assert rows == case.live(spark, sf_dir)


def test_ensure_crash_before_sidecar_is_never_adopted(spark, monkeypatch):
    """The primitive on a 3-row bucketed table: a crash between the
    table write and the sidecar write leaves nothing adoptable and no
    memo; the retry builds and seals, a fresh session adopts without
    writing, and clear() removes the adopted sidecar."""
    from smile_spark.sources import bucketed as BK

    family = "artifact_selftest"
    tbl = "artifact_selftest_t"
    payload = {"rows": 3, "tables": [tbl]}
    writes = []

    def write():
        writes.append(tbl)
        BK.drop_bucketed_table(spark, tbl)
        BK.write_bucketed(spark.range(3), tbl, "id", n_buckets=2)

    def dying_write_sidecar(*a, **k):
        raise RuntimeError("simulated process death pre-sidecar")

    def build():
        BK.ensure(spark, family, tbl, [tbl], lambda: dict(payload), write)

    path = BK.sidecar_path(spark, tbl)
    BK.clear(family)
    try:
        monkeypatch.setattr(BK, "write_sidecar", dying_write_sidecar)
        with pytest.raises(RuntimeError, match="pre-sidecar"):
            build()
        monkeypatch.undo()
        assert spark.catalog.tableExists(tbl)  # the write did land
        assert not os.path.exists(path)
        assert not BK.sidecar_adoptable(spark, tbl, payload, [tbl])
        assert not memoized(family)
        build()
        assert len(writes) == 2 and memoized(family)
        build()  # memo hit
        forget_memo(family)
        build()  # fresh session: adopt
        assert len(writes) == 2
        assert BK.read_bucketed(spark, tbl).count() == 3
        BK.clear(family)
        assert not os.path.exists(path) and not memoized(family)
    finally:
        monkeypatch.undo()
        BK.clear(family)
        BK.drop_bucketed_table(spark, tbl)
