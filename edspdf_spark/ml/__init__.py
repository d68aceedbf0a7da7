from edspdf_spark.ml.forest import (
    RandomForest,
    RegressionForest,
    train_forest_on_masks,
)
from edspdf_spark.ml.embeddings import (
    box_layout_embedding,
    box_transformer_embedding,
    build_vocab,
    cnn_pool_embeddings,
    combine_embeddings,
    pool_line_embeddings,
    rescale_bboxes,
    simple_text_embedding,
    simple_text_features,
    strided_windows,
)

__all__ = [
    "RandomForest",
    "RegressionForest",
    "train_forest_on_masks",
    "box_layout_embedding",
    "box_transformer_embedding",
    "build_vocab",
    "cnn_pool_embeddings",
    "combine_embeddings",
    "pool_line_embeddings",
    "rescale_bboxes",
    "simple_text_embedding",
    "simple_text_features",
    "strided_windows",
]
