from ..cdc.scd2 import scd2_close_windowed
from .windows import (
    dedup_first_arrival,
    detect_sequence_gaps,
)
from .joins import pit_join, date_spine, two_stage_fallback_join
from .dedupe import (
    exact_duplicates,
    lsh_candidate_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash,
)
from .similarity import (
    brute_force_topk,
    ivf_threshold_pairs,
    lsh_ann_topk,
    sign_lsh_buckets,
)
from .multimodal import extract_features, sample_frames

__all__ = [
    "dedup_first_arrival",
    "detect_sequence_gaps",
    "scd2_close_windowed",
    "pit_join",
    "date_spine",
    "two_stage_fallback_join",
    "exact_duplicates",
    "lsh_candidate_pairs",
    "minhash_signatures",
    "ngram_jaccard_pairs",
    "simhash",
    "brute_force_topk",
    "ivf_threshold_pairs",
    "lsh_ann_topk",
    "sign_lsh_buckets",
    "extract_features",
    "sample_frames",
]
