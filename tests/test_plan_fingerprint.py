"""tools/plan_fingerprint.py: a query's plan hash must not depend on how
many expression ids earlier work drew from Catalyst's JVM-wide counter."""

from __future__ import annotations

from sentiment_analysis_data_pipeline_spark.queries import REGISTRY
from tools.plan_fingerprint import ID_STRIDE, expr_id_pinner, optimized_plan


def test_pinned_fingerprint_ignores_earlier_expression_ids(spark, sf_dir):
    """column_profile's distinct-aggregate Expand is ordered by expression
    id hashes: unpinned, drawing ids before the query moves its plan."""
    session = spark.newSession()
    pin = expr_id_pinner(session)
    query = REGISTRY["column_profile"][0]
    base = (len(REGISTRY) + 1) * ID_STRIDE

    pin(base)
    first = optimized_plan(query(session, sf_dir))
    # throwaway ids: every alias draws one at analysis
    session.range(1).selectExpr(*[f"id + {i} AS c{i}" for i in range(97)]).columns
    pin(base)
    second = optimized_plan(query(session, sf_dir))
    assert first == second
