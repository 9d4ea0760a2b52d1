"""The DuckDB connected-components oracle shared by d06, d08, d13 and
sim13 (dedup._components_oracle) against a Python union-find, on graph
shapes the LSH fixtures never produce: a long path whose minimum id sits
at the far end (one hop of label travel per round), a star, a 2-node
component, and a component whose minimum is two hops from some members.
DuckDB only, no Spark."""

from __future__ import annotations

import duckdb

from quacfka_spark.operators.dedup import _components_oracle


def _union_find_min(pairs):
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for i, j in pairs:
        a, b = find(i), find(j)
        if a != b:
            parent[max(a, b)] = min(a, b)
    return {v: find(v) for v in parent}


def test_components_oracle_labels_equal_union_find_minimum():
    n = 1000
    # path 2999 - 2998 - ... - 2000: ids fall along the path, so the
    # minimum has to travel all 999 hops to reach 2999
    path = [(2000 + n - 1 - k, 2000 + n - 2 - k) for k in range(n - 1)]
    star = [(6000, leaf) for leaf in range(6001, 6051)]
    pair = [(7001, 7000)]
    # 8000 is two hops from 8010 and 8013, three from 8012, four from 8014
    two_hop = [(8010, 8011), (8011, 8000), (8013, 8011), (8010, 8012),
               (8012, 8014), (8010, 8011)]
    pairs = path + star + pair + two_hop
    con = duckdb.connect()
    # ~1,000 tiny rounds: one thread skips per-round task scheduling
    # (about 3x faster here); labels do not depend on the thread count
    con.execute("SET threads = 1")
    rows = ", ".join(f"({i}, {j})" for i, j in pairs)
    con.execute(f"CREATE TABLE edges_in AS SELECT CAST(i AS BIGINT) AS i, "
                f"CAST(j AS BIGINT) AS j FROM (VALUES {rows}) t(i, j)")
    got = dict(con.sql(
        f"WITH RECURSIVE "
        f"{_components_oracle('SELECT i, j FROM edges_in', 'v', 'lbl')} "
        f"SELECT v, lbl FROM lbl"
    ).fetchall())
    want = _union_find_min(pairs)
    assert got == want
    assert got[2000 + n - 1] == 2000
    assert {got[v] for v in (8010, 8012, 8013, 8014)} == {8000}
