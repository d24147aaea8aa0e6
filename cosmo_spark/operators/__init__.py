"""Composable DataFrame operators mirroring the reference's monitor
building blocks (SURVEY.md §2) plus the training-data-pipeline extensions
(dedup / similarity / text / multimodal)."""

from cosmo_spark.operators.asof import asof_join
from cosmo_spark.operators.describe import describe_by
from cosmo_spark.operators.histogram import histogram, quantile_cuts
from cosmo_spark.operators.topk import latest_per_key
from cosmo_spark.operators.segment_diff import segment_diff
from cosmo_spark.operators.outliers import sigma_outliers, flag_outliers
from cosmo_spark.operators.merge import merge_versioned, merge_into_path
from cosmo_spark.operators.windows import rolling_time_mean, cumulative, boxcar
from cosmo_spark.operators.dedup import (
    exact_dedup,
    minhash_candidates,
    ngram_jaccard_pairs,
    simhash,
    duplicate_clusters,
    embedding_near_dups,
    srp_lsh_near_dups,
    cross_dedup,
    band_table,
)
from cosmo_spark.operators.merge import snapshot_diff
from cosmo_spark.operators.similarity import (
    cosine_topk,
    ivf_cosine_topk,
    assign_buckets,
    probe_buckets,
)
from cosmo_spark.operators.kmeans import kmeans_centroids
from cosmo_spark.operators.skew import (
    salted_agg,
    salted_broadcast_join,
    hot_cold_dict_join,
)
from cosmo_spark.operators.bloom import bloom_semi_join
from cosmo_spark.operators.pca import covariance_cells, pca_whiten
from cosmo_spark.operators.pq import pq_encode, pq_adc_topk, ivf_pq_topk
from cosmo_spark.operators.prefix import bucketed_prefix_sum

__all__ = [
    "asof_join", "describe_by", "histogram", "quantile_cuts", "latest_per_key",
    "segment_diff", "sigma_outliers", "flag_outliers",
    "merge_versioned", "merge_into_path",
    "rolling_time_mean", "cumulative", "boxcar",
    "exact_dedup", "minhash_candidates", "ngram_jaccard_pairs", "simhash",
    "duplicate_clusters", "embedding_near_dups", "srp_lsh_near_dups",
    "cross_dedup", "band_table", "snapshot_diff",
    "cosine_topk", "ivf_cosine_topk", "assign_buckets", "probe_buckets",
    "kmeans_centroids",
    "salted_agg", "salted_broadcast_join", "hot_cold_dict_join",
    "bloom_semi_join", "covariance_cells", "pca_whiten",
    "pq_encode", "pq_adc_topk", "ivf_pq_topk", "bucketed_prefix_sum",
]
