import os

import numpy as np
import pyarrow.parquet as pq
import pytest

import seedmap

FIXTURE = os.path.join(os.path.dirname(os.path.dirname(__file__)), "fixtures", "sf0.01")


@pytest.fixture(scope="module")
def tables():
    return seedmap.read_tables(FIXTURE)


def col(tbl, c):
    return tbl.column(c).to_numpy()


def test_fixture_holds_every_keyed_table(tables):
    keyed = {t for cols in seedmap.KEY_FAMILIES.values() for t, _ in cols}
    assert keyed <= set(tables) and len(tables) == 10


def test_maps_are_bijections_of_their_value_sets(tables):
    for family, (domain, image) in seedmap.key_maps(tables, 7).items():
        assert np.array_equal(np.sort(image), domain), family
        assert not np.array_equal(image, domain), family


def test_same_seed_same_map_other_seed_other_map(tables):
    a, b = seedmap.key_maps(tables, 3), seedmap.key_maps(tables, 3)
    c = seedmap.key_maps(tables, 4)
    for family in a:
        assert np.array_equal(a[family][1], b[family][1])
        assert not np.array_equal(a[family][1], c[family][1])


def test_every_foreign_key_follows_its_key(tables):
    out = seedmap.relabel(tables, 11)
    for family, cols in seedmap.KEY_FAMILIES.items():
        domain, image = seedmap.key_maps(tables, 11)[family]
        for t, c in cols:
            old, new = col(tables[t], c), col(out[t], c)
            assert np.array_equal(new, image[np.searchsorted(domain, old)]), (t, c)
    # row-level: each lineitem still points at the order (and its price)
    # it pointed at before relabelling
    def price(t):
        return dict(zip(col(t["orders"], "o_orderkey"), col(t["orders"], "o_totalprice")))

    price_old, price_new = price(tables), price(out)
    old_keys = col(tables["lineitem"], "l_orderkey")[:500]
    new_keys = col(out["lineitem"], "l_orderkey")[:500]
    for o, n in zip(old_keys, new_keys):
        assert price_old[o] == price_new[n]
    # documents and embeddings share one map: vec_id == doc_id survives
    assert np.array_equal(col(out["documents"], "doc_id"), col(out["embeddings"], "vec_id"))


def test_non_key_columns_and_row_order_untouched(tables):
    out = seedmap.relabel(tables, 5)
    keyed = {(t, c) for cols in seedmap.KEY_FAMILIES.values() for t, c in cols}
    for t, tbl in tables.items():
        assert out[t].schema == tbl.schema
        for c in tbl.column_names:
            if (t, c) not in keyed:
                assert out[t].column(c).equals(tbl.column(c)), (t, c)


def test_fixed_sources_still_exist(tables):
    out = seedmap.relabel(tables, 9)
    cust = set(col(out["customer"], "c_custkey"))
    assert {1, 7, 42} <= cust and set(range(0, 150, 6)) <= cust


def test_write_seeded_limits_documents(tables, tmp_path):
    dst = str(tmp_path / "seeded")
    seedmap.write_seeded(FIXTURE, dst, 2, max_docs=50)
    docs = pq.read_table(os.path.join(dst, "documents.parquet"))
    emb = pq.read_table(os.path.join(dst, "embeddings.parquet"))
    assert sorted(col(docs, "doc_id")) == list(range(50))
    assert np.array_equal(col(docs, "doc_id"), col(emb, "vec_id"))
    assert not os.path.exists(dst + ".tmp")
