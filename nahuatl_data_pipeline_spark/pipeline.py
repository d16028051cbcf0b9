"""End-to-end corpus pipeline (SURVEY.md §3.1): the Spark re-expression of
``UnifiedPipeline.run`` (``src/pipeline/unify.py:80-121``) and its v2
run-tracked variant (``src/pipeline/unify_v2.py:102-188``).

The reference executes eagerly over ``List[Record]`` in five staged loops;
here the whole run is ONE lazy DataFrame chain

    read → coalesce/filter → normalize → window-dedup → split-tag → write

so Catalyst fuses the narrow stages and the only shuffles are the dedup
window and the split ranking (§3.1 "Spark shape"). Stage counts for run
metadata come from observations on the one write job, not per-stage
actions or a read-back.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nahuatl_data_pipeline_spark.functions.normalize import normalize_text
from nahuatl_data_pipeline_spark.operators.dedup import deduplicate, union_layers
from nahuatl_data_pipeline_spark.operators.filters import (
    length_bounds_filter,
    translation_pair_filter,
)
from nahuatl_data_pipeline_spark.operators.split import seeded_split
from nahuatl_data_pipeline_spark.session import run_scope
from nahuatl_data_pipeline_spark.sources.readers import read_layer_dir
from nahuatl_data_pipeline_spark.sources.writers import write_splits


@dataclass
class PipelineConfig:
    """Mirrors the reference's pydantic Settings (src/utils/config.py):
    seed/ratios (``:72-93``), length bounds (``:96-105``)."""

    seed: int = 42
    ratios: dict[str, float] = field(
        default_factory=lambda: {"train": 0.9, "validation": 0.05, "test": 0.05}
    )
    min_length: int = 3
    max_length: int = 1000
    keep: str = "best"
    lang_cols: tuple[str, ...] = ("es", "nah", "myn")
    # crawl-feed hygiene (functions/normalize.py: fix_mojibake →
    # clean_invisible, order contract documented there). Off by default:
    # the reference's HF sources arrive clean.
    fix_encoding: bool = False
    # crawl-level URL head stages (plans/curation_pipeline.py:
    # url_head_stages — the same opt-in block the curate pipeline runs,
    # round-11 verdict #7). Off by default: the reference's curated HF
    # feeds carry no URL column — but its id construction is
    # sha256(url+ts) (manager.py:17-21), i.e. crawl-era feeds DO carry
    # urls, and every tracked variant would otherwise unify as a
    # distinct record. When ``url_col`` is set and present in the
    # unioned layers, re-crawl/tracking variants collapse BEFORE the
    # pair filter and content dedup; ``max_docs_per_domain``
    # additionally caps each registered domain (requires url_col).
    url_col: str | None = None
    max_docs_per_domain: int | None = None
    # parsed PSL rule groups (functions/url.py:load_public_suffix_list)
    # for the cap key; None keeps the literal-tuple url_domain
    psl_rules: dict | None = None


def normalize_records(
    df: DataFrame, cfg: PipelineConfig | None = None
) -> DataFrame:
    """Stage 2 (`_normalize_records`, unify.py:95-103): per-language
    normalization pipeline F1-F9 applied as column transforms."""
    cfg = cfg or PipelineConfig()
    out = df
    for lang in cfg.lang_cols:
        if lang in df.columns:
            out = out.withColumn(
                lang,
                normalize_text(
                    F.col(lang),
                    lang=lang,
                    fix_encoding=cfg.fix_encoding,
                ),
            )
    return out


@run_scope()
def run_corpus_pipeline(
    spark: SparkSession,
    layer_dirs: dict[str, str],
    out_dir: str,
    cfg: PipelineConfig | None = None,
    metadata_store=None,
    track_details: bool = False,
) -> dict:
    """The full Bronze→Gold unification:

    1. load every layer dir (S1-S3), tagging layer + origin_file;
    2. normalize text columns (F1-F9);
    3. keep valid translation pairs within length bounds (P1/P4);
    4. exact-dedup keep-best across layers (D2/D3);
    5. exact seeded split (R1);
    6. single partitioned write of the gold splits (S13).

    Returns the run stats dict (input/output/filtered + per-split counts).
    With a ``metadata_store``, wraps the run in start/complete/fail rows
    (unify_v2.py transaction pattern).
    """
    cfg = cfg or PipelineConfig()
    if cfg.max_docs_per_domain is not None and not cfg.url_col:
        # same misuse guard as run_curation_pipeline: a cap without a
        # URL column would otherwise no-op silently
        raise ValueError("max_docs_per_domain requires url_col")
    run_id = started_at = None
    if metadata_store is not None:
        import datetime

        started_at = datetime.datetime.now()
        run_id = metadata_store.start_run(
            "unify", {"seed": cfg.seed}, started_at=started_at
        )

    try:
        from pyspark.sql import Observation

        # keep_invalid: input accounting must see EVERY parsed record
        # (the reference counts before its validity filters); the pair
        # filter is applied below as an explicit stage
        layers = [
            read_layer_dir(spark, path, layer=name, keep_invalid=True)
            for name, path in layer_dirs.items()
        ]
        raw = union_layers(*layers)
        # observe, don't count(): a count() here would parse every input
        # byte a second time — the observation rides the write job's one
        # scan and yields n_input after the action completes
        obs = Observation()
        raw = raw.observe(obs, F.count(F.lit(1)).alias("n_input"))

        # opt-in crawl head stages, BEFORE any content work (the
        # bytes-of-URL pre-filter posture, curation_pipeline module
        # docstring). Records have no id column, so the deterministic
        # tiebreak/junk key is a content hash over the text + provenance
        # columns — identical rows tie harmlessly (any winner is the
        # same row), and NULL hashes to a marker no string value can
        # produce, so NULL-vs-'' rows never collide (ADVICE r12).
        url_obs = cap_obs = None
        if cfg.url_col and cfg.url_col in raw.columns:
            from nahuatl_data_pipeline_spark.plans.curation_pipeline import (
                url_head_stages,
            )

            key_cols = [
                c
                for c in (*cfg.lang_cols, "source", "source_file",
                          "category", "layer", "origin_file")
                if c in raw.columns
            ]
            # per-column isNull bit prefixed to the value: NULL hashes
            # as "1"+"" and '' as "0"+"" - no real string value can
            # collide with NULL (a bare coalesce-to-marker could, for
            # a row whose value IS the marker)
            row_key = F.md5(
                F.concat_ws(
                    "\u0001",  # separator: column splits cannot alias
                    *[
                        F.concat(
                            F.col(c).isNull().cast("int").cast("string"),
                            F.coalesce(F.col(c).cast("string"), F.lit("")),
                        )
                        for c in key_cols
                    ],
                )
            )
            raw, url_obs, cap_obs = url_head_stages(
                raw,
                cfg.url_col,
                row_key,
                max_docs_per_domain=cfg.max_docs_per_domain,
                psl_rules=cfg.psl_rules,
            )

        normalized = normalize_records(raw, cfg)
        valid = length_bounds_filter(
            translation_pair_filter(normalized),
            "es", cfg.min_length, cfg.max_length,
        )
        deduped = deduplicate(valid, keep=cfg.keep, lang_cols=cfg.lang_cols)
        split = seeded_split(
            deduped,
            key="es",
            ratios=cfg.ratios,
            seed=cfg.seed,
        )
        # per-split counts ride the write job, like n_input
        split_obs = Observation()
        write_splits(
            split.observe(
                split_obs,
                *[F.count_if(F.col("split") == k).alias(k) for k in cfg.ratios],
            ),
            out_dir,
        )
        try:
            n_input = obs.get["n_input"]
        except Exception:
            # degenerate empty plan: a zero-partition write never runs a
            # task, so the observation has no row — count directly (cheap
            # exactly when this happens)
            n_input = raw.count()
        # an empty observation means nothing was written either
        per_split = {k: n for k, n in split_obs.get.items() if n}
        n_output = sum(per_split.values())
        stats = {
            "input": n_input,
            "output": n_output,
            "filtered": n_input - n_output,
            "splits": per_split,
        }
        # URL head-stage accounting: the Observations are upstream of
        # the write action, so .get never re-runs the plan; their drops
        # are a subset of `filtered`, broken out for visibility.
        for o, key in ((url_obs, "url_dups"), (cap_obs, "domain_capped")):
            if o is not None:
                try:
                    stats[key] = int(o.get[key] or 0)
                except Exception:
                    stats[key] = 0
        if metadata_store is not None:
            metadata_store.complete_run(run_id, "unify", started_at, stats)
            metadata_store.log_metrics(
                run_id,
                {
                    "records_input": n_input,
                    "records_output": n_output,
                    "duplicate_or_invalid_rate": (
                        (n_input - n_output) / n_input if n_input else 0.0
                    ),
                },
            )
            if track_details:
                # v2's full audit trail (unify_v2.py) — extra actions, so
                # opt-in: dedup log, unicode preservation stats on the
                # written gold data, and a content-checksummed snapshot.
                # The explicit schema keeps an all-filtered (zero-file)
                # gold dir readable instead of failing schema inference.
                gold = spark.read.schema(split.schema).parquet(out_dir)
                metadata_store.log_dedup(
                    run_id, cfg.keep, before=n_input, after=n_output
                )
                for lang in cfg.lang_cols:
                    if lang in gold.columns:
                        metadata_store.log_unicode_stats(run_id, gold, lang)
                metadata_store.snapshot_dataset(
                    run_id, "gold", gold, layer="gold"
                )
                metadata_store.audit_config(
                    run_id,
                    {
                        "seed": (None, str(cfg.seed)),
                        "keep": (None, cfg.keep),
                    },
                )
        return stats
    except Exception as exc:
        if metadata_store is not None:
            metadata_store.fail_run(
                run_id, "unify", str(exc), started_at=started_at
            )
        raise
