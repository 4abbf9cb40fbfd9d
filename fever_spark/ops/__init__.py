from fever_spark.ops.build import SketchSpec, build_sketches, prehash_col
from fever_spark.ops.jvm_sketch import (
    jvm_cms_estimate, jvm_cms_merge, jvm_hll_estimate_col, jvm_hll_union,
    jvm_quantiles, jvm_rollup_sketches, jvm_sketches,
)
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
    "jvm_sketches", "jvm_hll_estimate_col", "jvm_hll_union",
    "jvm_cms_estimate", "jvm_cms_merge", "jvm_quantiles",
    "jvm_rollup_sketches",
]
