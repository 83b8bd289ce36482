"""plans/keyset.py: the one key-set routing primitive.

Pins that the literal route and the join route are row-identical, that
the literal probe is one bounded action, and that its callers — the
delta writer and personalized PageRank — never put more than the cap
on the driver or into a plan `In` list.
"""

from __future__ import annotations

import os
import re
import shutil
from datetime import datetime

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cm_well_spark.plans import keyset

SF_DIR = os.environ.get("CMW_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def table(spark):
    rows = [(i, k) for i, k in enumerate(["a", "b", "c", "d", None, "a", None, "e", "c"])]
    return spark.createDataFrame(rows, "id int, k string")


def _ids(df: DataFrame) -> list[int]:
    return sorted(r["id"] for r in df.collect())


def _last_execution_id(spark) -> int:
    """Id of the newest SQL execution. Ids are consecutive, and the
    status store keeps the newest executions even after it starts
    evicting old ones (spark.sql.ui.retainedExecutions), so the
    difference of two reads counts the actions run in between."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    n = store.executionsCount()
    tail = store.executionsList(max(n - 8, 0), 8)
    return max((tail.apply(i).executionId() for i in range(tail.size())), default=-1)


@pytest.mark.parametrize("keys", [["a", "c"], ["a", "c", None], ["z"], []])
@pytest.mark.parametrize("n", [None, 3, keyset.BROADCAST_MAX + 1])
@pytest.mark.parametrize("route", [keyset.keep, keyset.drop])
def test_literal_and_join_routes_give_identical_rows(spark, table, route, keys, n):
    frame = spark.createDataFrame([(k,) for k in keys], "k string")
    assert _ids(route(table, "k", keys)) == _ids(route(table, "k", frame, n))
    if route is keyset.drop:
        # NULL keys are never in the set, so drop keeps them on both routes
        assert {4, 6} <= set(_ids(route(table, "k", frame, n)))


def test_join_route_hints_only_a_proven_bound(spark, table):
    frame = spark.createDataFrame([("a",)], "k string")

    def hinted(df):
        return "strategy=broadcast" in df._jdf.queryExecution().analyzed().toString()

    assert hinted(keyset.keep(table, "k", frame, 1))
    assert not hinted(keyset.keep(table, "k", frame, None))
    assert not hinted(keyset.keep(table, "k", frame, keyset.BROADCAST_MAX + 1))


@pytest.mark.parametrize("keys", [["a", "c"], ["a", None]])
def test_mark_routes_agree(spark, table, keys):
    frame = spark.createDataFrame([(k,) for k in keys], "k string")

    def members(df):
        return sorted(r["id"] for r in df.where(F.col("__in")).collect())

    lit = keyset.mark(table, "k", keys, "__in")
    joined = keyset.mark(table, "k", frame, "__in", len(keys))
    assert members(lit) == members(joined)
    assert joined.count() == table.count()


@pytest.mark.parametrize("n_keys, cap", [(5, 5), (6, 5)])
def test_literals_is_one_bounded_action(spark, n_keys, cap):
    df = spark.range(0, 100).select((F.col("id") % n_keys).cast("string").alias("k"))
    before = _last_execution_id(spark)
    keys = keyset.literals(df, "k", cap=cap)
    assert _last_execution_id(spark) - before == 1
    if n_keys > cap:
        assert keys is None
    else:
        assert sorted(keys) == sorted(str(i) for i in range(n_keys))


def test_write_batch_collects_at_most_cap_plus_one_paths(spark, tmp_path, monkeypatch):
    from cm_well_spark.model import compaction
    from cm_well_spark.model.lakehouse import materialize
    from cm_well_spark.operators.merge import COMMAND_SCHEMA, apply_commands

    store = str(tmp_path / "store")
    shutil.copytree(materialize(spark, SF_DIR), store)
    lm = datetime(2024, 6, 1)
    fv = {"value": "kx", "vtype": "s", "lang": None, "quad": None, "num": None, "ts": None, "bool": None}
    cmds = spark.createDataFrame(
        [(f"/tpch/nation/{i}", 1, "write", {"extra": [fv]}, None, lm, "https") for i in range(10)],
        COMMAND_SCHEMA,
    )
    base = compaction.reconciled_infotons(spark, store).localCheckpoint(eager=True)
    truth = apply_commands(base, cmds)

    sizes: list[int] = []
    cls = type(cmds)  # the concrete (classic / connect) DataFrame class
    orig = cls.collect

    def spy(self):
        rows = orig(self)
        sizes.append(len(rows))
        return rows

    monkeypatch.setattr(compaction, "_SURGERY_CAP", 3)
    monkeypatch.setattr(cls, "collect", spy)
    compaction.write_batch(spark, store, cmds)
    monkeypatch.undo()
    assert sizes and max(sizes) <= 4

    def current(df):
        return {
            (r["path"], r["kind"], tuple(sorted(r["fields"] or [])))
            for r in df.where(F.col("current") & F.col("path").startswith("/tpch/nation/")).collect()
        }

    assert current(compaction.reconciled_infotons(spark, store)) == current(truth)


def _in_list_lengths(df: DataFrame) -> list[int]:
    """Lengths of the plan's `In` lists over key columns (the predicate
    partition filter `p IN (link fields)` is not a key set)."""
    qe = df._jdf.queryExecution()
    text = qe.optimizedPlan().toString() + qe.executedPlan().toString()
    lists = re.findall(r"\b(\w+)#\d+ IN \(([^)]*)\)", text)
    lists += re.findall(r"\bIn\((\w+), \[([^\]]*)\]\)", text)
    return [len(body.split(",")) for col, body in lists if col != "p"]


def test_ppr_over_cap_seeds_identical_and_no_long_in_list(spark, triples, monkeypatch):
    from cm_well_spark.operators.graph import DEFAULT_LINK_FIELDS, personalized_pagerank

    seeds = [
        r["s"]
        for r in triples.where(F.col("current") & (F.col("p") == "byCustomer"))
        .select("s")
        .distinct()
        .orderBy("s")
        .limit(6)
        .collect()
    ]
    assert len(seeds) == 6

    def ranks(df):
        return {r["path"]: round(r["rank"], 12) for r in df.collect()}

    literal = personalized_pagerank(triples, seeds, DEFAULT_LINK_FIELDS, iterations=3)
    expected = ranks(literal)
    monkeypatch.setattr(keyset, "LITERAL_MAX", 2)
    joined = personalized_pagerank(triples, seeds, DEFAULT_LINK_FIELDS, iterations=3)
    assert max(_in_list_lengths(literal)) >= 6  # the probe sees the literal route
    assert all(n <= 2 for n in _in_list_lengths(joined))
    assert ranks(joined) == expected and expected
