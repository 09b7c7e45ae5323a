from . import (
    asof,
    centroid,
    dedup,
    embed,
    index,
    knn,
    multimodal,
    normalize,
    payload_index,
    quantize,
    sampling,
    skew,
    sparse,
    text_search,
    upsert,
)

__all__ = ["asof", "centroid", "dedup", "embed", "index", "knn",
           "multimodal", "normalize", "payload_index", "quantize",
           "sampling", "skew", "sparse", "text_search", "upsert"]
