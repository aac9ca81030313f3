"""Relational spec-operator tests: join strategies (broadcast, salted),
aggregates, set ops — correctness under each physical strategy."""

import pytest
from pyspark.sql import functions as F

from nekton_spark.operators.relational import (
    join_processor,
    sort_processor,
    topk_processor,
)
from nekton_spark.spec import Spec, compile_spec


class TestJoinStrategies:
    def _sides(self, spark):
        left = spark.createDataFrame(
            [(k, i) for k in ("hot", "cold") for i in range({"hot": 50, "cold": 5}[k])],
            "key string, val int",
        )
        right_rows = [("hot", 1.5), ("cold", 2.5)]
        spark.createDataFrame(right_rows, "key string, mult double").createOrReplaceTempView(
            "join_right"
        )
        return left

    def test_salted_join_matches_plain(self, spark):
        left = self._sides(spark)
        other = {"type": "sql_view", "name": "join_right"}
        plain = join_processor(left, other=other, on="key", how="inner")
        salted = join_processor(left, other=other, on="key", how="inner", salt=4)
        assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))
        assert salted.count() == 55

    def test_broadcast_join(self, spark):
        from nekton_spark import plans

        left = self._sides(spark)
        out = join_processor(
            left, other={"type": "sql_view", "name": "join_right"}, on="key", broadcast=True
        )
        assert plans.has_broadcast_join(out)
        assert out.count() == 55

    def test_condition_join(self, spark):
        left = self._sides(spark)
        spark.sql("SELECT key AS rkey, mult FROM join_right").createOrReplaceTempView(
            "join_right2"
        )
        out = join_processor(
            left,
            other={"type": "sql_view", "name": "join_right2"},
            condition="key = rkey AND val < 3",
            how="inner",
        )
        assert out.count() == 2 * 3  # val in {0,1,2} per key


class TestSpecRelational:
    def test_cube_aggregate(self, spark, sf_dir):
        df, _ = compile_spec(
            spark,
            Spec.from_yaml(
                f"""
input:
  type: table
  path: {sf_dir}
  name: orders
pipeline:
  processors:
    - type: aggregate
      group_by: [o_orderstatus, o_orderpriority]
      cube: true
      aggs: ["count(*) as n"]
output:
  type: memory
"""
            ),
        )
        rows = df.collect()
        statuses = {r.o_orderstatus for r in rows}
        assert None in statuses  # cube includes the all-statuses slice
        total = [r.n for r in rows if r.o_orderstatus is None and r.o_orderpriority is None]
        assert total == [1500]

    def test_window_spec_processor(self, spark, sf_dir):
        df, _ = compile_spec(
            spark,
            Spec.from_yaml(
                f"""
input:
  type: table
  path: {sf_dir}
  name: customer
pipeline:
  processors:
    - type: window
      partition_by: [c_nationkey]
      order_by: ["c_acctbal DESC", "c_custkey"]
      exprs:
        rn: "row_number()"
        best_bal: "max(c_acctbal)"
    - type: filter
      predicate: "rn = 1"
output:
  type: memory
"""
            ),
        )
        rows = df.collect()
        # under the default frame max(c_acctbal) at rn = 1 is the row's
        # own value whatever the order — compare against the per-nation
        # maximum instead, which holds only if "DESC" really sorts
        # descending
        cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
        want = {
            r.c_nationkey: r.m
            for r in cust.groupBy("c_nationkey").agg(F.max("c_acctbal").alias("m")).collect()
        }
        assert {r.c_nationkey: r.c_acctbal for r in rows} == want

    def test_sort_keys_honour_direction_and_nulls(self, spark):
        df = spark.createDataFrame(
            [(1, 3), (1, None), (1, 1), (2, 2)], "g int, v int"
        )

        def vs(out):
            return [r.v for r in out.collect()]

        assert vs(sort_processor(df, ["v DESC"])) == [3, 2, 1, None]
        assert vs(sort_processor(df, ["v desc nulls first"])) == [None, 3, 2, 1]
        assert vs(sort_processor(df, ["v"])) == [None, 1, 2, 3]
        assert vs(sort_processor(df, ["v ASC NULLS LAST"])) == [1, 2, 3, None]
        assert vs(sort_processor(df, ["g DESC", "v + 0 DESC"])) == [2, 3, 1, None]
        top = topk_processor(df, ["g"], ["v DESC"], k=1)
        assert sorted(vs(top)) == [2, 3]
        for bad in ("v descending", "v AS x", "   "):
            with pytest.raises(ValueError, match="sort key"):
                sort_processor(df, [bad])

    def test_union_and_except(self, spark, sf_dir):
        df, _ = compile_spec(
            spark,
            Spec.from_yaml(
                f"""
input:
  type: table
  path: {sf_dir}
  name: region
pipeline:
  processors:
    - type: union
      other:
        type: table
        path: {sf_dir}
        name: region
    - type: distinct
output:
  type: memory
"""
            ),
        )
        assert df.count() == 5  # union of itself, deduped
