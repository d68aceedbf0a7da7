from edspdf_spark.operators.extract import extract_blocs
from edspdf_spark.operators.extract_html import (
    extract_blocs_html,
    extract_code_blocks,
    extract_lists,
    extract_outline,
    extract_sections,
    extract_tables,
    sections_to_markdown,
)
from edspdf_spark.operators.classify import (
    classify_mask,
    simple_mask_classifier,
    classify_dummy,
    classify_random_hash,
)
from edspdf_spark.operators.aggregate import aggregate_simple, aggregate_markdown
from edspdf_spark.operators.align import (
    align_bioul,
    align_composite,
    align_plain,
    partition_lines,
)
from edspdf_spark.operators.fused import run_pipeline_fused
from edspdf_spark.operators.order import (
    pairwise_order_features,
    train_order_following,
    append_following_to_labels,
    train_order_rank,
)
from edspdf_spark.operators.merge import merge_boxes
from edspdf_spark.operators.features import with_layout_features, FEATURE_COLS

__all__ = [
    "extract_blocs",
    "extract_blocs_html",
    "extract_code_blocks",
    "extract_lists",
    "extract_outline",
    "extract_sections",
    "sections_to_markdown",
    "extract_tables",
    "classify_mask",
    "simple_mask_classifier",
    "classify_dummy",
    "classify_random_hash",
    "aggregate_simple",
    "aggregate_markdown",
    "align_bioul",
    "align_composite",
    "align_plain",
    "partition_lines",
    "merge_boxes",
    "run_pipeline_fused",
    "pairwise_order_features",
    "train_order_following",
    "append_following_to_labels",
    "train_order_rank",
    "with_layout_features",
    "FEATURE_COLS",
]
