"""Iterative loops keep flat plans: the analysed plan of each loop's output
must not grow with the number of rounds it ran.

Each test runs the same operator for few and for many rounds and compares
the size of the analysed logical plan text (digits stripped, so expression
and RDD ids do not count). A loop that carries its previous rounds' plans
forward grows geometrically: the connected-components chain of 31 nodes
once reached 311,422 plan chars at round 6 and ran out of driver heap at
round 7. A plan-size check, not a timing."""

from __future__ import annotations

import re

from coco_search_spark.operators.canonicalize import connected_components
from coco_search_spark.operators.graph import (
    k_core,
    label_propagation,
    pagerank,
    shortest_paths,
)


def _plan_size(df) -> int:
    return len(re.sub(r"\d+", "", df._jdf.queryExecution().analyzed().toString()))


def _chain(spark, n: int, schema: str, extra=()):
    names = [f"n{i:03d}" for i in range(n)]
    return names, spark.createDataFrame(
        [(names[i], names[i + 1], *extra) for i in range(n - 1)], schema
    )


def test_connected_components_plan_is_flat(spark):
    def run(n):
        names, edges = _chain(spark, n, "a string, b string")
        nodes = spark.createDataFrame([(x,) for x in names], "surface string")
        out = connected_components(nodes, edges)
        assert {r["component"] for r in out.collect()} == {"n000"}
        return _plan_size(out)

    # a 3-chain converges in 2 rounds, a 17-chain needs 6
    assert run(17) <= run(3)


def test_label_propagation_plan_is_flat(spark):
    _, e = _chain(spark, 8, "src string, dst string")
    assert _plan_size(label_propagation(e, rounds=6)) <= _plan_size(
        label_propagation(e, rounds=1)
    )


def test_pagerank_plan_is_flat(spark):
    _, e = _chain(spark, 8, "subj_id string, obj_id string")
    assert _plan_size(pagerank(e, n_iters=8)) <= _plan_size(pagerank(e, n_iters=1))


def test_shortest_paths_plan_is_flat(spark):
    names, e = _chain(spark, 9, "src string, dst string, w double", extra=(1.0,))
    roots = spark.createDataFrame([(names[0],)], "node string")
    deep = shortest_paths(e, roots, max_hops=8)
    assert deep.count() == 9
    assert _plan_size(deep) <= _plan_size(shortest_paths(e, roots, max_hops=1))


def test_k_core_plan_is_flat(spark):
    # k=2 peels a path from both ends, one node per end and round: the
    # 12-path needs 6 rounds to empty, the 2-path one
    _, long_path = _chain(spark, 12, "src string, dst string")
    _, short_path = _chain(spark, 2, "src string, dst string")
    deep = k_core(long_path, k=2)
    assert deep.count() == 0
    assert _plan_size(deep) <= _plan_size(k_core(short_path, k=2))
