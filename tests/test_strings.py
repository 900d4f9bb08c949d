"""Edit-distance similarity join (operators/strings.py)."""

from __future__ import annotations

from itertools import combinations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from etl_spark_gradle_spark.operators import strings as sj
from etl_spark_gradle_spark.operators.relational import TransformationError


@pytest.fixture(scope="module")
def spark_prop(spark):
    return spark


def _truth(names, k):
    out = {}
    for a, b in combinations(sorted(set(names)), 2):
        d = sj.py_edit_distance(a, b)
        if d <= k:
            out[(a, b)] = d
    return out


def test_edit_join_lossless_on_part_names(spark, sf_dir):
    pa = spark.read.parquet(f"{sf_dir}/part.parquet")
    got = {(r.s_a, r.s_b): r.edit_distance
           for r in sj.edit_distance_join(pa, "p_name", max_distance=2).collect()}
    names = [r.p_name for r in pa.select("p_name").distinct().collect()]
    assert got == _truth(names, 2)


@given(
    names=st.lists(
        st.text(alphabet="abcx", min_size=0, max_size=7), min_size=2, max_size=12
    ),
    k=st.integers(min_value=1, max_value=3),
)
@settings(max_examples=12, deadline=None)
def test_edit_join_lossless_property(spark_prop, names, k):
    """Adversarial small strings (incl. empty and length <= k shorts):
    the blocked join must equal the quadratic reference exactly."""
    df = spark_prop.createDataFrame([(n,) for n in names], ["s"])
    got = {(r.s_a, r.s_b): r.edit_distance
           for r in sj.edit_distance_join(df, "s", max_distance=k).collect()}
    assert got == _truth(names, k)


def test_edit_join_two_table_mode(spark):
    left = spark.createDataFrame([("widget",), ("gadget",)], ["name"])
    right = spark.createDataFrame([("widgets",), ("sprocket",)], ["label"])
    got = {(r.s_a, r.s_b): r.edit_distance
           for r in sj.edit_distance_join(
               left, "name", right=right, right_string_col="label",
               max_distance=1,
           ).collect()}
    assert got == {("widget", "widgets"): 1}


def test_edit_join_no_cartesian_in_plan(spark, sf_dir):
    import io
    from contextlib import redirect_stdout

    pa = spark.read.parquet(f"{sf_dir}/part.parquet")
    out = sj.edit_distance_join(pa, "p_name", max_distance=2)
    buf = io.StringIO()
    with redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_edit_join_broadcast_respects_threshold(spark, sf_dir):
    """The index side is broadcast only under the session's
    autoBroadcastJoinThreshold; past it the join shuffles and the pairs
    stay the same."""
    pa = spark.read.parquet(f"{sf_dir}/part.parquet")

    def pairs():
        out = sj.edit_distance_join(pa, "p_name", max_distance=2)
        got = {(r.s_a, r.s_b): r.edit_distance for r in out.collect()}
        return got, out._jdf.queryExecution().executedPlan().toString()

    want, plan = pairs()
    assert "BroadcastExchange" in plan
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1")
    try:
        got, plan = pairs()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "BroadcastExchange" not in plan
    assert got == want and want


def test_edit_join_validation(spark):
    df = spark.createDataFrame([("a",)], ["s"])
    with pytest.raises(TransformationError, match="max_distance"):
        sj.edit_distance_join(df, "s", max_distance=0)
    with pytest.raises(TransformationError, match="not in left schema"):
        sj.edit_distance_join(df, "nope")


def test_edit_join_yaml_adapter(spark):
    from etl_spark_gradle_spark.operators import TRANSFORMER_REGISTRY
    from etl_spark_gradle_spark.plans.config import RunContext, TransformationConfig

    df = spark.createDataFrame([("widget",), ("widgets",), ("zzz",)], ["name"])
    t = TRANSFORMER_REGISTRY["edit_join"]
    ctx = RunContext.create("t", spark)
    out = t.transform(
        df,
        TransformationConfig(
            type="edit_join", options={"stringColumn": "name", "maxDistance": "1"}
        ),
        ctx,
    )
    rows = {(r.s_a, r.s_b) for r in out.collect()}
    assert rows == {("widget", "widgets")}
    assert not t.validate(
        df, TransformationConfig(type="edit_join", options={"maxDistance": "0"})
    ).is_valid
