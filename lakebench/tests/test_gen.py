"""The generator is a pure function of the seed."""

import numpy as np

import gen


def _batch(seed, bno, partial=False):
    keys = gen.batch_keys(seed, bno, 500, 2_000, new_per_batch=20)
    return keys, gen.rows(keys, seed, bno, partial)


def test_same_seed_same_inputs(tmp_path):
    for bno in (0, 1, 4):
        k1, t1 = _batch(7, bno, partial=(bno == 4))
        k2, t2 = _batch(7, bno, partial=(bno == 4))
        assert np.array_equal(k1, k2)
        assert t1.equals(t2)
    # byte-identical files, not just equal tables
    a = tmp_path / "a.parquet"
    b = tmp_path / "b.parquet"
    gen.write(_batch(7, 1)[1], str(a))
    gen.write(_batch(7, 1)[1], str(b))
    assert a.read_bytes() == b.read_bytes()
    assert gen.lookup_keys(7, 3, 8, 1000) == gen.lookup_keys(7, 3, 8, 1000)
    assert gen.hot_ranges(7, 4) == gen.hot_ranges(7, 4)


def test_other_seed_other_inputs():
    k1, t1 = _batch(7, 1)
    k2, t2 = _batch(8, 1)
    assert not np.array_equal(k1, k2)
    base7 = gen.rows(range(100), 7, 0)
    base8 = gen.rows(range(100), 8, 0)
    assert base7.column("k").equals(base8.column("k"))
    for c in ("p", "g", "v", "x", "tag"):
        assert not base7.column(c).equals(base8.column(c)), c
    assert gen.lookup_keys(7, 3, 8, 1000) != gen.lookup_keys(8, 3, 8, 1000)


def test_batch_shape():
    keys, t = _batch(7, 2)
    assert np.array_equal(keys, np.unique(keys))  # sorted and unique
    assert list(keys[-20:]) == list(range(2_020, 2_040))  # batch 2's new keys
    assert t.column_names == gen.FULL_COLS
    assert gen.rows(keys, 7, 4, partial=True).column_names == gen.PARTIAL_COLS
    assert [b for b in range(1, 9) if gen.is_partial(b, 4)] == [4, 8]
    # a key keeps its range value in every batch
    assert np.array_equal(gen.rows(keys, 7, 2).column("p").to_numpy(),
                          gen.rows(keys, 7, 9).column("p").to_numpy())
    hot = gen.hot_ranges(7, 4)
    only = gen.batch_keys(7, 3, 2_000, 2_000, ranges=hot)
    assert len(only) > 0 and set(gen.range_of(only, 7)) <= set(hot)
