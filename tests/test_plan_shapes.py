"""Physical-plan assertions: the scale-critical properties must be
visible in the plan, not assumed (predicate pushdown, column pruning,
broadcast joins, whole-stage codegen, no Python in native stages)."""

from __future__ import annotations

import pytest

pyspark = pytest.importorskip("pyspark")

from pyspark.sql import functions as F  # noqa: E402

SF = "/root/testdata/sf0.01"


def _formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


class TestScanPushdown:
    def test_filter_pushed_to_parquet(self, spark):
        df = spark.read.parquet(f"{SF}/orders.parquet").filter(
            F.col("o_orderkey") < 100
        )
        plan = _formatted(df)
        assert "PushedFilters" in plan
        assert "LessThan(o_orderkey,100)" in plan

    def test_column_pruning(self, spark):
        df = spark.read.parquet(f"{SF}/lineitem.parquet").select(
            "l_orderkey", "l_quantity"
        )
        plan = _formatted(df)
        read_schema = [
            line for line in plan.splitlines() if "ReadSchema" in line
        ][0]
        assert "l_orderkey" in read_schema and "l_quantity" in read_schema
        assert "l_comment" not in read_schema and "l_extendedprice" not in read_schema

    def test_documents_scan_prunes_to_used_columns(self, spark):
        from go_readability_spark.operators.textops import text_profile

        plan = _formatted(
            text_profile(spark.read.parquet(f"{SF}/documents.parquet"))
        )
        read_schema = [
            line for line in plan.splitlines() if "ReadSchema" in line
        ][0]
        assert "text" in read_schema
        assert "lang" not in read_schema and "source" not in read_schema


class TestJoinStrategies:
    def test_resume_antijoin_broadcasts(self, spark):
        from go_readability_spark.operators.relational import resume_pending

        plan = _formatted(
            resume_pending(spark.read.parquet(f"{SF}/orders.parquet"))
        )
        assert "BroadcastHashJoin" in plan and "LeftAnti" in plan

    def test_ann_query_vector_broadcasts(self, spark):
        from go_readability_spark.operators.similarity import ann_topk_bruteforce

        plan = _formatted(
            ann_topk_bruteforce(
                spark.read.parquet(f"{SF}/embeddings.parquet"), 0, 10
            )
        )
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan

    def test_ann_topk_is_take_ordered_not_full_sort(self, spark):
        from go_readability_spark.operators.similarity import ann_topk_bruteforce

        plan = _formatted(
            ann_topk_bruteforce(
                spark.read.parquet(f"{SF}/embeddings.parquet"), 0, 10
            )
        )
        assert "TakeOrderedAndProject" in plan


class TestNativeStages:
    def test_text_profile_is_pure_catalyst(self, spark):
        from go_readability_spark.operators.textops import text_profile

        plan = _formatted(
            text_profile(spark.read.parquet(f"{SF}/documents.parquet"))
        )
        assert "Python" not in plan  # no BatchEvalPython / ArrowEvalPython
        assert "codegen id" in plan  # stages participate in codegen

    def test_doc_bytes_prepass_is_native(self, spark):
        from go_readability_spark.plans.skew import with_doc_bytes
        from go_readability_spark.sources.tables import documents_as_spans_df

        plan = _formatted(
            with_doc_bytes(documents_as_spans_df(spark, SF)).select(
                "doc_id", "doc_bytes"
            )
        )
        assert "Python" not in plan

    @pytest.mark.parametrize("op", ["extract_documents", "extract_and_render"])
    def test_extraction_is_one_map_in_arrow(self, spark, op):
        """One extraction path: the executed plan holds exactly one
        MapInArrow UDF node and no MapInPandas (the input is native, so
        any Python node would be the operator's)."""
        from go_readability_spark.operators.extract import extract_documents
        from go_readability_spark.operators.render import extract_and_render
        from go_readability_spark.sources.tables import documents_as_spans_df

        fn = {
            "extract_documents": extract_documents,
            "extract_and_render": extract_and_render,
        }[op]
        df = fn(documents_as_spans_df(spark, SF).limit(8), num_partitions=2)
        assert len(df.collect()) == 8
        plan = df._jdf.queryExecution().executedPlan()
        if plan.nodeName() == "AdaptiveSparkPlan":
            plan = plan.executedPlan()  # the final plan, without the initial one
        plan = plan.toString()
        assert plan.count("MapInArrow") == 1, plan
        assert "MapInPandas" not in plan, plan

    def test_only_batch_input_is_repartitioned(self, spark, tmp_path):
        """extract_documents salts and repartitions a batch DataFrame, and
        keeps a streaming micro-batch's partitioning."""
        from go_readability_spark.operators.extract import extract_documents
        from go_readability_spark.schemas import DOCUMENTS_SCHEMA

        batch = spark.createDataFrame([], DOCUMENTS_SCHEMA)
        stream = spark.readStream.schema(DOCUMENTS_SCHEMA).parquet(str(tmp_path))

        def analyzed(df) -> str:
            return df._jdf.queryExecution().analyzed().toString()

        assert "RepartitionByExpression" in analyzed(extract_documents(batch))
        assert "RepartitionByExpression" not in analyzed(extract_documents(stream))

    def test_dedup_exact_partial_aggregation(self, spark):
        from go_readability_spark.operators.dedup import dedup_exact

        plan = _formatted(
            dedup_exact(spark.read.parquet(f"{SF}/documents.parquet"))
        )
        # map-side partial agg before the exchange, final after
        assert plan.count("HashAggregate") >= 2
        assert "hashpartitioning(text_hash" in plan


class TestStarJoinPlan:
    def test_revenue_by_nation_broadcasts_all_dims(self, spark):
        """The dimension chain must hash-probe map-side: no shuffle of
        orders before the final aggregation exchange."""
        from go_readability_spark.operators.relational import revenue_by_nation

        df = revenue_by_nation(
            spark.read.parquet(f"{SF}/orders.parquet"),
            spark.read.parquet(f"{SF}/customer.parquet"),
            spark.read.parquet(f"{SF}/nation.parquet"),
            spark.read.parquet(f"{SF}/region.parquet"),
        )
        plan = _formatted(df)
        # formatted plans print each node in tree + details sections
        assert plan.count("BroadcastHashJoin") >= 3
        assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
        # the only orders exchange is the aggregation's n_name partitioning
        assert "hashpartitioning(n_name" in plan
        # region filter pushed into the dimension scan
        assert "r_name" in plan and "PushedFilters: [IsNotNull(r_name)" in plan
