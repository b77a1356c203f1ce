"""Registry-wide contract tests: every query with an oracle must
hash-match DuckDB at sf0.001 (the driver does the same at sf0.01), and
every oracle key must have a query."""

from __future__ import annotations

import pytest

from ngrams_collocations_hadoop_spark.registry import ORACLES, QUERIES

from .util_diff import assert_query_matches_oracle


def test_oracle_keys_subset_of_queries():
    assert set(ORACLES) <= set(QUERIES)


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_differential(spark, name):
    assert_query_matches_oracle(spark, name, "/root/testdata/sf0.001")


_TOPK = "query_id:bigint,cand_id:bigint,cosine:double,rank:bigint"
_ADC_TOPK = "query_id:bigint,cand_id:bigint,approx_dot:double,rank:bigint"
_RECALL = "n_exact:bigint,n_found:bigint,recall:double"
_COMPONENTS = "doc_id:bigint,component_id:bigint,component_size:bigint"
_KEEP_ONE = "lang:string,n_docs:bigint"
_PAGERANK = "doc_id:bigint,pagerank:double"
_TRIANGLES = "a:bigint,b:bigint,c:bigint"


def _recall_pair(side: str) -> str:
    return (f"n_exact:bigint,n_pq:bigint,n_{side}:bigint,"
            f"recall_pq:double,recall_{side}:double")


# Output column names in order, with their types, of the queries built
# on the shared per-query top-k, ADC scorer and recall audit, and of
# the near-dup graph queries built on the shared edge relation. The
# oracle comparison sorts columns by name, so only this pin notices a
# reordered row.
SCHEMAS = {
    "sim_cosine_topk": _TOPK,
    "sim_cosine_topk_filtered": _TOPK,
    "sim_cosine_topk_lsh": _TOPK,
    "sim_cosine_topk_ivf": _TOPK,
    "sim_cosine_topk_quantized": ("query_id:bigint,cand_id:bigint,"
                                  "q_cosine:double,cosine:double,"
                                  "rank:bigint"),
    "sim_mrl_topk": _TOPK,
    "sim_pq_topk": _ADC_TOPK,
    "sim_pq_rerank": _TOPK,
    "sim_pq_trained_topk": _ADC_TOPK,
    "sim_pq_sampled_topk": _ADC_TOPK,
    "sim_pq_persisted_topk": _ADC_TOPK,
    "sim_ivfpq_topk": _TOPK,
    "sim_lsh_recall": _RECALL,
    "sim_ivf_recall": _RECALL,
    "sim_pq_recall": _RECALL,
    "sim_pq_rerank_recall": _recall_pair("rerank"),
    "sim_pq_trained_recall": _recall_pair("trained"),
    "sim_pq_persisted_recall": _recall_pair("served"),
    "sim_mrl_recall": _RECALL,
    "sim_ivfpq_recall": _RECALL,
    "dedup_lsh_recall": _RECALL,
    "sim_kmeans_step": ("cluster_id:bigint,pos:bigint,n_members:bigint,"
                        "centroid_val:double"),
    "dedup_semantic": "vec_id:bigint,cluster_id:bigint,keep:boolean",
    "rel_bucketed_join": ("c_mktsegment:string,n_orders:bigint,"
                          "sum_price:double"),
    "dedup_persisted_lsh_match": ("doc_new:bigint,doc_match:bigint,"
                                  "jaccard:double"),
    "dedup_components": _COMPONENTS,
    "dedup_components_star": _COMPONENTS,
    "dedup_components_lsh": _COMPONENTS,
    "dedup_components_incremental": _COMPONENTS,
    "dedup_components_update": _COMPONENTS,
    "dedup_keep_one": _KEEP_ONE,
    "dedup_keep_one_lsh": _KEEP_ONE,
    "dedup_pagerank": _PAGERANK,
    "dedup_pagerank_lsh": _PAGERANK,
    "dedup_triangles": _TRIANGLES,
    "dedup_triangles_lsh": _TRIANGLES,
    "dedup_clustering_coeff": ("doc_id:bigint,degree:bigint,"
                               "triangles:bigint,clustering_coeff:double"),
    "dedup_kcore": "doc_id:bigint,core_degree:bigint",
    "dedup_communities_lsh": "doc_id:bigint,community:bigint",
    "dedup_link_prediction": ("doc_a:bigint,doc_b:bigint,n_common:bigint,"
                              "aa_score:double"),
    "pipeline_training_prep": ("lang:string,n_docs:bigint,n_tokens:bigint,"
                               "n_bins:bigint"),
}


@pytest.mark.parametrize("name", sorted(SCHEMAS))
def test_output_schema(spark, name):
    """Schema only: ``.schema`` analyzes the plan and runs no job of
    its own (a builder's own eager index build aside)."""
    schema = QUERIES[name](spark, "/root/testdata/sf0.001").schema
    assert schema.simpleString() == f"struct<{SCHEMAS[name]}>"
