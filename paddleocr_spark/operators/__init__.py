"""Operator layer — SURVEY.md §2 inventory, re-exported by family.

* scans/sources (S*): paddleocr_spark.sources
* projections/filters (P*): paddleocr_spark.pipeline (explode/geometry/
  det_filter/drop_score/strip_styles)
* region detection + reading order kernels (D*/O*): paddleocr_spark.kernels
* recognition batched map (R*): paddleocr_spark.operators.recognize
* joins (J*): kernels.match_cells + entry_queries.q_cell_match
* aggregations (A*): entry_queries.q_rec_metric / q_det_metric
* training-data ops: paddleocr_spark.functions
"""

from ..kernels import (ctc_decode, hard_nms, match_cells, order_document,
                       segment_regions, sorted_boxes_indices,
                       sorted_layout_indices, strip_style_tokens)
from ..pipeline import (assemble, det_filter, drop_score_filter,
                        explode_spans, extract, order_and_assemble,
                        strip_styles, with_geometry)
from .recognize import classify_rotate, ctc_encode_expr, recognize
from .spatial import nms_per_class, salted_repartition

__all__ = [
    "ctc_decode", "hard_nms", "match_cells", "order_document",
    "segment_regions", "sorted_boxes_indices", "sorted_layout_indices",
    "strip_style_tokens", "det_filter", "drop_score_filter", "explode_spans",
    "extract", "assemble", "order_and_assemble", "strip_styles",
    "with_geometry",
    "classify_rotate", "ctc_encode_expr", "recognize", "nms_per_class",
    "salted_repartition",
]
