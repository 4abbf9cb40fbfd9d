from fever_spark.ops.build import SketchSpec, build_sketches, prehash_col
from fever_spark.ops.merge import two_level_merge
from fever_spark.ops.estimate import (
    hll_estimate_col, cms_estimate_col, quantile_col, bloom_contains_col,
    heavy_hitters_col, kmv_estimate_col, kmv_intersection_col,
    kmv_jaccard_col, kmv_sample_col,
)

__all__ = [
    "SketchSpec", "build_sketches", "prehash_col", "two_level_merge",
    "hll_estimate_col", "cms_estimate_col", "quantile_col", "bloom_contains_col",
    "heavy_hitters_col", "kmv_estimate_col", "kmv_intersection_col",
    "kmv_jaccard_col", "kmv_sample_col",
]
