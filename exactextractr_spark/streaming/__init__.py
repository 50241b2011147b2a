"""Structured Streaming operators: incremental twins of the batch surface.

- ``ingest.stream_decode_tiles`` — tile dir -> decoded tile store (append)
- ``ingest.stream_image_features`` — continuous multimodal featurization
  (same Arrow kernel as batch, bit-parity)
- ``zonal_stream.stream_zonal_stats`` — stateful zonal stats (algebraic,
  weighted, frequency), bit-parity with batch; candidates from the batch
  ``build_candidates`` (CRS audit, feature broadcast or, above the
  broadcast limit, the cover join)
- ``dedup_stream.stream_exact_dedup`` — stateful dropDuplicates on the
  shared content key (optional watermark TTL)
- ``similarity_stream.stream_cosine_topk`` — running per-query top-k via
  applyInPandasWithState
"""

from .dedup_stream import stream_exact_dedup
from .ingest import stream_decode_tiles, stream_image_features
from .similarity_stream import stream_cosine_topk
from .zonal_stream import stream_zonal_stats

__all__ = [
    "stream_decode_tiles",
    "stream_image_features",
    "stream_zonal_stats",
    "stream_exact_dedup",
    "stream_cosine_topk",
]
