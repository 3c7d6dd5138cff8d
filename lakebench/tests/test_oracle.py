"""Each oracle agrees with a plain-Python last-writer-wins replay and
rejects a deliberately corrupted result."""

import pytest

import gen
from oracle import Oracle

SEED, N = 5, 400
PARTIAL = {2}  # batch 2 is partial-column


@pytest.fixture(scope="module")
def inputs(tmp_path_factory):
    d = tmp_path_factory.mktemp("inputs")
    o = Oracle()
    tables = [gen.rows(range(N), SEED, 0)]
    o.add(0, gen_write(tables[0], d / "b0.parquet"))
    for b in (1, 2, 3):
        keys = gen.batch_keys(SEED, b, 150, N, new_per_batch=5)
        t = gen.rows(keys, SEED, b, partial=b in PARTIAL)
        tables.append(t)
        o.add(b, gen_write(t, d / f"b{b}.parquet"), partial=b in PARTIAL)
    yield o, tables
    o.close()


def gen_write(table, path):
    gen.write(table, str(path))
    return str(path)


def replay(tables, upto):
    """Reference state: apply batches in order; a partial batch leaves
    the columns it does not carry as they were (NULL on new keys)."""
    state = {}
    for t in tables[:upto + 1]:
        for r in t.to_pylist():
            old = state.get(r["k"], dict.fromkeys(gen.FULL_COLS))
            state[r["k"]] = {**old, **r}
    return {k: tuple(v[c] for c in gen.FULL_COLS) for k, v in state.items()}


def corrupt(rows):
    k = sorted(rows)[0]
    r = list(rows[k])
    r[gen.FULL_COLS.index("v")] += 1
    return {**rows, k: tuple(r)}


@pytest.mark.parametrize("upto", [0, 1, 2, 3])
def test_rows_match_replay_at_every_version(inputs, upto):
    o, tables = inputs
    want = replay(tables, upto)
    keys = sorted(want)[:40] + [N + 1, N + 6, 10 ** 9]  # new and absent keys
    got = o.rows(upto, keys)
    assert got == {k: want[k] for k in keys if k in want}
    assert corrupt(got) != o.rows(upto, keys)
    missing = dict(got)
    missing.pop(sorted(got)[0])
    assert missing != o.rows(upto, keys)


def test_partial_batch_keeps_unlisted_columns(inputs):
    o, tables = inputs
    want = replay(tables, 2)
    partial_keys = tables[2].column("k").to_pylist()
    got = o.rows(2, partial_keys)
    assert got == {k: want[k] for k in partial_keys}
    new = [k for k in partial_keys if k >= N]
    assert new and all(got[k][gen.FULL_COLS.index("tag")] is None for k in new)


def test_table_summary(inputs):
    o, tables = inputs
    st = replay(tables, 3)
    v = [r[gen.FULL_COLS.index("v")] for r in st.values()]
    x = [r[gen.FULL_COLS.index("x")] for r in st.values()]
    tags = [r[gen.FULL_COLS.index("tag")] for r in st.values()]
    want = (len(st), sum(v), sum(len(t) for t in tags if t is not None),
            min(x for x in x if x is not None), max(x for x in x if x is not None))
    got = o.table_summary(3)
    assert got == want
    assert (got[0] - 1,) + got[1:] != want
    assert got[:4] + (got[4] + 0.01,) != want


def test_range_and_group_aggregates(inputs):
    o, tables = inputs
    st = replay(tables, 3).values()
    ci = {c: i for i, c in enumerate(gen.FULL_COLS)}
    want_r = {}
    for r in st:
        if r[ci["p"]] in (1, 5):
            n, s, lo, hi = want_r.get(r[ci["p"]], (0, 0, None, None))
            x = r[ci["x"]]
            want_r[r[ci["p"]]] = (n + 1, s + r[ci["v"]],
                                  x if lo is None else min(lo, x),
                                  x if hi is None else max(hi, x))
    got_r = o.range_agg(3, [1, 5])
    assert got_r == want_r
    assert corrupt_first(got_r, 1) != want_r

    want_g = {}
    for r in st:
        g = r[ci["g"]]
        if g is not None and g < 32:
            s, n = want_g.get(g, (0, 0))
            want_g[g] = (s + r[ci["v"]], n + 1)
    got_g = o.group_agg(3, 32)
    assert got_g == want_g
    assert corrupt_first(got_g, 1) != want_g
    assert {g: v for g, v in got_g.items() if g != min(got_g)} != want_g


def corrupt_first(agg, pos):
    k = sorted(agg)[0]
    r = list(agg[k])
    r[pos] += 1
    return {**agg, k: tuple(r)}


def test_plain_state_file(inputs, tmp_path):
    import pyarrow.parquet as pq

    o, tables = inputs
    p = tmp_path / "state.parquet"
    o.write_state(3, str(p))
    t = pq.read_table(str(p))
    assert t.num_rows == len(replay(tables, 3))
    assert t.column("k").to_pylist() == sorted(t.column("k").to_pylist())
