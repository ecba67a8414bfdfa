"""tools/plan_fingerprint.py: a query's plan hash must not depend on how
many expression ids earlier work drew from Catalyst's JVM-wide counter,
nor on whether the warehouse already holds its stamped index."""

from __future__ import annotations

from sentiment_analysis_data_pipeline_spark.queries import REGISTRY
from sentiment_analysis_data_pipeline_spark.sources.tables import drop_table_with_files
from tools.plan_fingerprint import ID_STRIDE, Fingerprinter, expr_id_pinner, optimized_plan

# the cheapest at sf0.001 of the queries whose constructor builds a stamped
# index (ann_recall_report, dbscan_labels, dedup_evidence_clusters,
# lsh_band_sweep, triangle_count)
STAMPED_QUERY = "triangle_count"


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


def test_fingerprint_ignores_a_fresh_stamped_index(spark, sf_dir):
    """A constructor that builds its stamped index draws more expression
    ids than one that finds it registered: the hash comes from a second
    call, which finds it either way."""
    session = spark.newSession()
    query = REGISTRY[STAMPED_QUERY][0]
    base = (len(REGISTRY) + 2) * ID_STRIDE
    with Fingerprinter(session, sf_dir) as fp:
        fp(query, base)
        assert fp.ensured
        for table in set(fp.ensured):
            assert drop_table_with_files(session, table)
        fresh = fp(query, base)
        warm = fp(query, base)
    assert fresh == warm
