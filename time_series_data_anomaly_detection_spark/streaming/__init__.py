from .dedup import (  # noqa: F401
    streaming_exact_dedup,
    streaming_ingest_with_index,
)
from .detectors import (  # noqa: F401
    streaming_window_stats,
    streaming_rolling_flags,
    streaming_bocpd,
    streaming_user_sessions,
    streaming_control_flags,
    streaming_holt_winters,
    streaming_pot,
    streaming_spectral_residual,
    streaming_conformal,
    streaming_page_hinkley,
)
from .quality import (  # noqa: F401
    streaming_source_quality,
)
