"""verdictdb_spark — a PySpark-native approximate-query / mergeable-sketch
library rebuilt from scratch with the capabilities of VerdictDB
(reference: paroid/verdictdb), re-expressed Spark-first.

Public surface (grows per SURVEY.md §7):
  sketches:   HllSketch, CmsSketch, KllSketch, TDigestSketch, BloomSketch
  operators:  approx_count_distinct_by, approx_frequency, approx_quantiles,
              approx_top_k, membership filter, dedup_*, similarity search,
              text ops
  sampling:   create_scramble, progressive_agg / approx_agg (progressive
              refinement)
  lineage:    checkpointed partial-sketch tables with resume
"""

from .session import get_spark, load_tables  # noqa: F401
from .hashing import sha256_col, hash64_col, unit_hash_col, block_col  # noqa: F401
from .sketches.hll import HllSketch  # noqa: F401
from .sketches.cms import CmsSketch  # noqa: F401
from .sketches.kll import KllSketch  # noqa: F401
from .sketches.tdigest import TDigestSketch  # noqa: F401
from .sketches.bloom import BloomSketch  # noqa: F401
from .operators.distinct import approx_count_distinct_by, hll_overlap, hll_sketch_table  # noqa: F401
from .operators.frequency import approx_top_k, approx_frequency, cms_sketch_table  # noqa: F401
from .operators.quantile import approx_quantiles, quantile_sketch_table  # noqa: F401
from .operators.membership import build_bloom, bloom_contains_col, bloom_prefilter  # noqa: F401
from .operators.dedup import (  # noqa: F401
    connected_components,
    dedup_exact,
    dedup_minhash,
    exact_jaccard,
    lsh_candidate_pairs,
    minhash_signatures,
    simhash_near_duplicates,
)
from .operators.similarity import (  # noqa: F401
    ann_top_k,
    cosine_top_k,
    dedup_embeddings,
    embedding_near_duplicates,
    ivf_assign,
    ivf_top_k,
)
from .operators.text import text_stats  # noqa: F401
from .sampling import (  # noqa: F401
    AggSpec,
    ScrambleMeta,
    append_scramble,
    approx_agg,
    approx_join_agg,
    approx_multi_join_agg,
    create_fastconverge_scramble,
    create_scramble,
    load_scramble,
    progressive_agg,
    progressive_join_agg,
    reservoir_sample,
    stratified_sample,
    write_scramble,
)
from .lineage import SketchCheckpoint  # noqa: F401
from .streaming import ResultStream, incremental_sketch_sink, read_sketch_state  # noqa: F401
from .metastore import MetaStore  # noqa: F401
from .api import VerdictContext, approx_sql  # noqa: F401

from .session import freeze_worker_zip_caches as _freeze_worker_zip_caches

__version__ = "0.1.0"

_freeze_worker_zip_caches()  # a no-op on the driver
