from .dedup import dedup_gated_counts  # noqa: F401
from .multimodal import decode_any, image_features  # noqa: F401
from .windowed import min_spacing_thin  # noqa: F401
