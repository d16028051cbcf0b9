"""Column-level function library (SURVEY.md §2.9, §2.10 heuristics).

All functions are ``Column -> Column`` (or return Columns), so they compose
inside a single ``select``. The text-normalization chain is JVM-side
end to end: Unicode NFC is a static ICU4J call through ``reflect``, every
other rule a built-in expression in whole-stage codegen.
"""

from nahuatl_data_pipeline_spark.functions.normalize import (  # noqa: F401
    clamp_vowel_runs,
    clean_spanish_typography,
    collapse_whitespace,
    dedup_key,
    empty_to_null,
    fix_punctuation_spacing,
    nfc_normalize,
    normalize_maya_glottal,
    normalize_nahuatl,
    normalize_saltillo,
    normalize_spanish,
    normalize_text,
    orthographic_variant,
    remove_page_artifacts,
    remove_urls,
)
from nahuatl_data_pipeline_spark.functions.langid import detect_language  # noqa: F401
from nahuatl_data_pipeline_spark.functions.text_analysis import (  # noqa: F401
    char_count_of,
    document_fingerprint,
    macron_count,
    quality_score,
    token_count,
    tokens,
)
from nahuatl_data_pipeline_spark.functions.hashing import (  # noqa: F401
    content_id,
    hash64,
    minhash_from_hashes,
    token_set,
    word_shingles,
)
from nahuatl_data_pipeline_spark.functions.segmentation import (  # noqa: F401
    chunk_documents,
    chunk_text,
    sentences,
    split_sentences,
)
from nahuatl_data_pipeline_spark.functions.embeddings import (  # noqa: F401
    embed_text,
    hashed_embedding,
)
