from .scramble import (  # noqa: F401
    BLOCK_COL,
    TIER_COL,
    ScrambleMeta,
    append_scramble,
    create_fastconverge_scramble,
    create_scramble,
    load_scramble,
    recommended_block_count,
    write_scramble,
)
from .progressive import (  # noqa: F401
    AggSpec,
    ProgressiveResult,
    approx_agg,
    converged,
    progressive_agg,
)
from .join import (  # noqa: F401
    approx_join_agg,
    approx_multi_join_agg,
    is_aligned,
    progressive_join_agg,
    progressive_multi_join_agg,
)
from .sample import (  # noqa: F401
    reservoir_sample,
    stratified_sample,
)
