"""DataFrame→DataFrame operators (SURVEY.md §2).

Each operator is declarative — it appends to the logical plan and lets
Catalyst choose the physical strategy (pushdown, broadcast, AQE). Nothing
in here collects to the driver.
"""

from nahuatl_data_pipeline_spark.operators.filters import (  # noqa: F401
    length_bounds_filter,
    pending_sources,
    translation_pair_filter,
    watermark_filter,
)
from nahuatl_data_pipeline_spark.operators.dedup import (  # noqa: F401
    deduplicate,
    duplicate_stats,
    exact_dedup,
)
from nahuatl_data_pipeline_spark.operators.split import (  # noqa: F401
    seeded_split,
    split_leakage_count,
)
from nahuatl_data_pipeline_spark.operators.aggregates import (  # noqa: F401
    daily_rollup,
    language_counts,
    length_stats,
    null_stats,
    top_k,
    type_token_ratio,
)
from nahuatl_data_pipeline_spark.operators.fuzzy_dedup import (  # noqa: F401
    minhash_lsh_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_groups,
)
from nahuatl_data_pipeline_spark.operators.similarity import (  # noqa: F401
    cosine_neardup_pairs,
    cosine_topk,
    lsh_topk,
)
from nahuatl_data_pipeline_spark.operators.quality import (  # noqa: F401
    Check,
    corpus_expectation_suite,
    run_checks,
)
from nahuatl_data_pipeline_spark.operators.alignment import (  # noqa: F401
    align_sentences,
)
from nahuatl_data_pipeline_spark.operators.evaluation import (  # noqa: F401
    corpus_bleu,
    corpus_chrf,
    evaluation_report,
)
from nahuatl_data_pipeline_spark.operators.skew import (  # noqa: F401
    salted_agg,
    salted_join,
)
from nahuatl_data_pipeline_spark.operators.multimodal import (  # noqa: F401
    attach_media_metadata,
    extract_features,
    resize_images,
    sample_frames,
)
