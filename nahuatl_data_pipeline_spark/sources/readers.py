"""Corpus readers: JSONL, whole-file JSON dumps, layer directories
(S1-S3, SURVEY.md §2.1) with the legacy key-coalescing projection (P2).

Reference semantics being reproduced:
- ``src/pipeline/unify.py:174-213`` — JSONL line reader that skips
  malformed lines and maps legacy keys;
- ``src/pipeline/unify.py:215-260`` — JSON dump reader (root list or
  ``{items: […]}``; nested ``original`` payload with ``sp`` Spanish alias);
- ``src/pipeline/unify.py:145-172`` — layer-directory glob loader tagging
  ``layer`` and ``origin_file``;
- ``src/models/schemas.py:229-287`` — ``Record.from_legacy_format``
  coalescing rules.

All of it is schema-pinned ``spark.read.json`` + column expressions: the
corrupt-line policy is PERMISSIVE mode + a ``_corrupt_record`` filter
instead of a try/except per line, and key coalescing is one ``select`` —
the whole ingest is a scan-projection Catalyst can push down into.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nahuatl_data_pipeline_spark.functions.normalize import empty_to_null
from nahuatl_data_pipeline_spark.operators.filters import translation_pair_filter
from nahuatl_data_pipeline_spark.schemas import LEGACY_INPUT_SCHEMA


def legacy_coalesce(df: DataFrame, default_source: str = "unknown") -> DataFrame:
    """P2: coalesce heterogeneous legacy keys into the canonical record
    (schemas.py:244-277; unify_datasets.py:25-66; unify.py:231-245).

    - es  ← es | original.es | original.sp | es_translation | original_es | prompt
    - nah ← nah | original.nah | nah_translation | chosen |
            original_audio_text if detected_language == 'nah'
    - myn ← myn | original.myn | myn_translation |
            original_audio_text if detected_language == 'myn'
    Empty strings are stripped to NULL (P3) before the pair filter runs.
    """
    cols = set(df.columns)

    def maybe(name: str):
        # nested original.* only if the struct column arrived in the scan
        if "." in name:
            root = name.split(".")[0]
            return F.col(name) if root in cols else F.lit(None).cast("string")
        return F.col(name) if name in cols else F.lit(None).cast("string")

    audio = maybe("original_audio_text")
    detected = maybe("detected_language")

    es = F.coalesce(
        maybe("es"),
        maybe("original.es"),
        maybe("original.sp"),
        maybe("es_translation"),
        maybe("original_es"),
        maybe("prompt"),
    )
    nah = F.coalesce(
        maybe("nah"),
        maybe("original.nah"),
        maybe("nah_translation"),
        maybe("chosen"),
        F.when(detected == "nah", audio),
    )
    myn = F.coalesce(
        maybe("myn"),
        maybe("original.myn"),
        maybe("myn_translation"),
        F.when(detected == "myn", audio),
    )
    return df.select(
        empty_to_null(es).alias("es"),
        empty_to_null(nah).alias("nah"),
        empty_to_null(myn).alias("myn"),
        F.coalesce(maybe("source"), F.lit(default_source)).alias("source"),
        F.coalesce(
            maybe("source_file"), F.input_file_name()
        ).alias("origin_file"),
        maybe("category").alias("category"),
        # crawl-era provenance passthrough (NULL for the curated HF
        # feeds) — feeds the opt-in URL head stages, PipelineConfig.url_col
        empty_to_null(maybe("url")).alias("url"),
    )


def read_corpus_jsonl(
    spark: SparkSession,
    path: str,
    layer: str | None = None,
    keep_invalid: bool = False,
) -> DataFrame:
    """S1: line-delimited JSON → canonical records.

    Malformed lines are *skipped, never fatal* (unify.py:185-191):
    PERMISSIVE mode routes them to ``_corrupt_record`` and one filter
    drops them. ``keep_invalid=True`` skips the translation-pair filter
    (P1) for callers that want the raw coalesced view.
    """
    raw = (
        spark.read.schema(LEGACY_INPUT_SCHEMA)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )
    ok = raw.filter(F.col("_corrupt_record").isNull())
    records = legacy_coalesce(ok)
    if layer is not None:
        records = records.withColumn("layer", F.lit(layer))
    if keep_invalid:
        return records
    return translation_pair_filter(records)


def read_json_dump(
    spark: SparkSession,
    path: str,
    layer: str | None = None,
    keep_invalid: bool = False,
) -> DataFrame:
    """S2: whole-file JSON dump — root list *or* ``{items: […]}``
    (unify.py:215-260). Root-list files parse directly to rows; wrapped
    files are exploded. Both shapes are unioned so a glob of mixed dumps
    reads in one pass.
    """
    from pyspark.sql.types import ArrayType, StructField, StructType

    wrapped_schema = StructType(
        [StructField("items", ArrayType(LEGACY_INPUT_SCHEMA), True)]
    )
    # shape A: root is a list → Spark yields one row per element
    root_list = (
        spark.read.schema(LEGACY_INPUT_SCHEMA)
        .option("multiLine", "true")
        .json(path)
    )
    # shape B: {"items": [...]} → explode
    wrapped = (
        spark.read.schema(wrapped_schema)
        .option("multiLine", "true")
        .json(path)
        .filter(F.col("items").isNotNull())
        .select(F.explode("items").alias("item"))
        .select("item.*")
    )
    # a root-list file read under shape A yields real rows; under shape B it
    # yields null items (filtered). A wrapped file under shape A yields one
    # all-null row — drop rows with no usable payload before unioning.
    # url is provenance, not payload: a url-only row carries no record
    payload_cols = [
        c
        for c in LEGACY_INPUT_SCHEMA.fieldNames()
        if c not in ("_corrupt_record", "url")
    ]
    any_payload = F.coalesce(
        *[F.col(c).cast("string") for c in payload_cols if c != "original"],
        F.col("original.es"),
        F.col("original.sp"),
        F.col("original.nah"),
        F.col("original.myn"),
    )
    rows = root_list.filter(any_payload.isNotNull()).unionByName(
        wrapped.withColumn("_corrupt_record", F.lit(None).cast("string")).filter(
            any_payload.isNotNull()
        )
    )
    records = legacy_coalesce(rows)
    if layer is not None:
        records = records.withColumn("layer", F.lit(layer))
    if keep_invalid:
        return records
    return translation_pair_filter(records)


def read_layer_dir(
    spark: SparkSession, layer_dir: str, layer: str,
    keep_invalid: bool = False,
) -> DataFrame:
    """S3: load all ``*.jsonl`` + ``*.json`` in a layer directory, tagging
    ``layer`` and ``origin_file`` (unify.py:145-172, unify_v2.py:312-359).

    Both globs go through schema-pinned scans; lineage comes from
    ``input_file_name()`` so it survives any repartitioning.
    ``keep_invalid=True`` skips the translation-pair filter so callers
    (e.g. the pipeline's input accounting) see every parsed record.
    """
    import glob as _glob
    import os as _os

    if not _os.path.isdir(layer_dir):
        # a MISSING dir is a config error; an existing-but-empty dir is a
        # legitimate empty layer (yields zero rows below)
        raise FileNotFoundError(f"layer dir does not exist: {layer_dir}")
    jsonl_files = _glob.glob(f"{layer_dir}/*.jsonl")
    json_files = _glob.glob(f"{layer_dir}/*.json")
    parts: list[DataFrame] = []
    if jsonl_files:
        parts.append(
            read_corpus_jsonl(
                spark, jsonl_files, layer=layer, keep_invalid=keep_invalid
            )
        )
    if json_files:
        parts.append(
            read_json_dump(
                spark, json_files, layer=layer, keep_invalid=keep_invalid
            )
        )
    if not parts:
        from nahuatl_data_pipeline_spark.schemas import CORPUS_SCHEMA

        empty = spark.createDataFrame([], CORPUS_SCHEMA)
        return empty.select(
            "es", "nah", "myn", "source", "origin_file", "category"
        ).withColumn("layer", F.lit(layer))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def read_xml(
    spark: SparkSession,
    path: str | list[str],
    row_tag: str,
    schema=None,
    mode: str = "PERMISSIVE",
    options: dict[str, str] | None = None,
) -> DataFrame:
    """Distributed XML source (Spark 4 ships the former spark-xml
    integration natively): one row per ``row_tag`` element, attributes
    surfaced as ``_attr`` columns. It scans an XML *dataset* with
    executor parallelism, pushdown-pruned columns, and the standard
    PERMISSIVE/corrupt-record contract of the JSONL reader (S1).

    Always pass ``schema`` in production: XML schema inference both
    costs an extra full scan AND coerces aggressively (observed: short
    text like ``T1`` inferred as timestamp). PERMISSIVE mode needs the
    ``_corrupt_record`` column present in that explicit schema to
    capture malformed elements, same as the JSONL reader.
    """
    reader = spark.read.format("xml").option("rowTag", row_tag).option(
        "mode", mode
    )
    if schema is not None:
        reader = reader.schema(schema)
    for k, v in (options or {}).items():
        reader = reader.option(k, v)
    return reader.load(path)
