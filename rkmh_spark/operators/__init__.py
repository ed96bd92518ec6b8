from rkmh_spark.operators.signatures import compute_signatures, signatures_schema
from rkmh_spark.operators.lsh import band_buckets, candidate_pairs
from rkmh_spark.operators.verify import verify_pairs, brute_force_pairs
from rkmh_spark.operators.components import connected_components
from rkmh_spark.operators.dedup import dedup_pages
from rkmh_spark.operators.line_dedup import line_dedup, window_text_lines

__all__ = [
    "compute_signatures",
    "signatures_schema",
    "band_buckets",
    "candidate_pairs",
    "verify_pairs",
    "brute_force_pairs",
    "connected_components",
    "dedup_pages",
    "line_dedup",
    "window_text_lines",
]
