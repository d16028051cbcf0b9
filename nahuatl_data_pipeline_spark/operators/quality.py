"""Declarative data-quality checks (A11/A12, SURVEY.md §2.5).

Two reference surfaces merged into one framework:
- the Scala ``QualityCheck`` trait (``src/scala_examples/DataQuality.scala:
  20-114``): NotNull ratio, regex-match ratio, uniqueness ratio,
  min-row-count — each a metric + threshold;
- the Great Expectations suite (``great_expectations/expectations/
  corc_nah_corpus_suite.json``): 8 declarative expectations over the
  corpus.

Every check compiles to ONE aggregate expression, and a whole suite runs
as a SINGLE ``df.agg(...)`` pass — one scan of 100 TB evaluates all
expectations at once. Results come back as a tidy DataFrame
(check, metric, threshold, passed).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Literal

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

Op = Literal[">=", "<=", ">", "<", "between"]


@dataclass(frozen=True)
class Check:
    """One expectation: an aggregate metric compared to a threshold."""

    name: str
    metric: Column
    op: Op
    threshold: float
    threshold_hi: float | None = None  # for op == "between"

    def passed(self, value: Column) -> Column:
        if self.op == ">=":
            return value >= self.threshold
        if self.op == "<=":
            return value <= self.threshold
        if self.op == ">":
            return value > self.threshold
        if self.op == "<":
            return value < self.threshold
        if self.op == "between":
            return (value >= self.threshold) & (value <= self.threshold_hi)
        raise ValueError(self.op)


# --- metric builders (DataQuality.scala:39-114) ----------------------------


# try_divide everywhere: under ANSI mode (Spark 4 default) 0/0 on an empty
# or all-null input would ABORT the whole suite; an undefined ratio is
# NULL → its check reports passed = false, which is the right verdict for
# "no data arrived".


def not_null_ratio(col: str) -> Column:
    return F.try_divide(F.count(F.col(col)), F.count(F.lit(1)))


def regex_match_ratio(col: str, pattern: str) -> Column:
    """Matching share among NON-NULL values (GE ``mostly`` semantics)."""
    return F.try_divide(
        F.count(F.when(F.col(col).rlike(pattern), 1)), F.count(F.col(col))
    )


def unique_ratio(col: str) -> Column:
    return F.try_divide(F.countDistinct(F.col(col)), F.count(F.col(col)))


def length_in_range_ratio(col: str, lo: int, hi: int) -> Column:
    n = F.length(F.col(col))
    return F.try_divide(F.count(F.when(n.between(lo, hi), 1)), F.count(F.col(col)))


def values_in_set_ratio(col: str, allowed: list[str]) -> Column:
    return F.try_divide(
        F.count(F.when(F.col(col).isin(allowed), 1)), F.count(F.col(col))
    )


def row_count() -> Column:
    return F.count(F.lit(1)).cast("double")


def run_checks(df: DataFrame, checks: list[Check]) -> DataFrame:
    """Evaluate a whole suite in ONE aggregate pass.

    Returns (check, metric, threshold, passed) rows; overall status is
    ``results.agg(min(passed))`` — still no second scan of the data.
    """
    agg_row = df.agg(
        *[F.round(c.metric, 6).cast("double").alias(c.name) for c in checks]
    )
    # pivot the 1-row aggregate into tidy rows with stack()
    pairs = ", ".join(f"'{c.name}', `{c.name}`" for c in checks)
    tall = agg_row.selectExpr(
        f"stack({len(checks)}, {pairs}) as (check, metric)"
    )
    thresholds = F.create_map(
        *[x for c in checks for x in (F.lit(c.name), F.lit(float(c.threshold)))]
    )
    tall = tall.withColumn("threshold", thresholds[F.col("check")])
    passed = F.lit(False)
    for c in checks:
        passed = F.when(
            F.col("check") == c.name, c.passed(F.col("metric"))
        ).otherwise(passed)
    # NULL metric (empty input) → failed, not NULL verdict
    return tall.withColumn("passed", F.coalesce(passed, F.lit(False)))


def corpus_expectation_suite(
    min_rows: float = 1e5, max_rows: float = 1e7
) -> list[Check]:
    """The reference's 8-expectation GE suite
    (corc_nah_corpus_suite.json) as Check specs:

    1. (column-set match — structural; ``set(df.columns)``)
    2. es not-null            mostly = 1.0
    3. nah not-null           mostly = 0.95
    4. nah macron regex       mostly = 0.30
    5. es unique proportion   ∈ [0.98, 1.0]
    6. es length ∈ [5, 1000]  mostly = 0.98
    7. source ∈ catalog set   = 1.0
    8. row count              ∈ [min_rows, max_rows]
    """
    sources = [
        "huggingface",
        "youtube",
        "pdf",
        "bible.is",
        "manual",
        "synthetic",
        "axolotl",
        "flores",
        "tatoeba",
    ]
    return [
        Check("es_not_null", not_null_ratio("es"), ">=", 1.0),
        Check("nah_not_null", not_null_ratio("nah"), ">=", 0.95),
        Check("nah_macron_ratio", regex_match_ratio("nah", "[āēīōū]"), ">=", 0.30),
        Check("es_unique_ratio", unique_ratio("es"), "between", 0.98, 1.0),
        Check("es_length_ratio", length_in_range_ratio("es", 5, 1000), ">=", 0.98),
        Check("source_in_set", values_in_set_ratio("source", sources), ">=", 1.0),
        Check("row_count", row_count(), "between", min_rows, max_rows),
    ]


# --- persisted validation report (run_quality_check.py:262-313,343-449) ----


def validation_report(
    results: DataFrame | list, suite_name: str = "corpus_suite"
) -> dict:
    """Shape ``run_checks`` output like a GE ``to_json_dict()`` validation
    result: overall success, statistics block, per-expectation results
    with observed values — the artifact a CI gate archives.

    ``results`` = the (check, metric, threshold, passed) DataFrame from
    :func:`run_checks` or its collected rows; only the tiny per-check
    rows ever reach the driver."""
    rows = results.collect() if isinstance(results, DataFrame) else results
    per_check = [
        {
            "check": r["check"],
            "success": bool(r["passed"]),
            "observed_value": r["metric"],
            "threshold": r["threshold"],
        }
        for r in rows
    ]
    n = len(per_check)
    ok = sum(1 for r in per_check if r["success"])
    return {
        "suite": suite_name,
        "success": ok == n and n > 0,
        "statistics": {
            "evaluated_expectations": n,
            "successful_expectations": ok,
            "unsuccessful_expectations": n - ok,
            "success_percent": round(100.0 * ok / n, 1) if n else 0.0,
        },
        "results": per_check,
    }


def write_validation_report(
    path: str, results: DataFrame | list, suite_name: str = "corpus_suite"
) -> dict:
    """Persist the report JSON (driver-side — it is O(#checks) bytes) and
    return it. The CLI quality gate writes this before exiting 0/1."""
    import json

    report = validation_report(results, suite_name)
    with open(path, "w", encoding="utf-8") as f:
        json.dump(report, f, ensure_ascii=False, indent=2)
    return report


def render_validation_html(report: dict) -> str:
    """Render a :func:`validation_report` dict as a self-contained HTML
    data-docs page — the human-readable artifact the reference's quality
    runner builds via Great Expectations' ``build_data_docs``
    (``scripts/run_quality_check.py:343-449``); a CI gate can archive it
    next to the JSON. Driver-side string building, O(#checks) bytes."""
    from html import escape

    stats = report.get("statistics", {})
    ok = bool(report.get("success"))
    banner = ("PASSED", "#1a7f37") if ok else ("FAILED", "#cf222e")
    rows = "\n".join(
        "<tr class={cls}><td>{name}</td><td>{status}</td>"
        "<td>{observed}</td><td>{threshold}</td></tr>".format(
            cls="pass" if r.get("success") else "fail",
            name=escape(str(r.get("check", ""))),
            status="✓ pass" if r.get("success") else "✗ fail",
            observed=escape(str(r.get("observed_value", ""))),
            threshold=escape(str(r.get("threshold", ""))),
        )
        for r in report.get("results", [])
    )
    exc = report.get("exception_info")
    exc_html = (
        f"<p class=exc>exception: {escape(str(exc))}</p>" if exc else ""
    )
    return f"""<!DOCTYPE html>
<html lang="en"><head><meta charset="utf-8">
<title>Validation: {escape(str(report.get("suite", "")))}</title>
<style>
 body {{ font-family: system-ui, sans-serif; margin: 2rem; color: #1f2328; }}
 .banner {{ color: #fff; background: {banner[1]}; display: inline-block;
            padding: .3rem .8rem; border-radius: 6px; font-weight: 600; }}
 table {{ border-collapse: collapse; margin-top: 1rem; }}
 th, td {{ border: 1px solid #d0d7de; padding: .35rem .7rem; text-align: left; }}
 tr.pass td:nth-child(2) {{ color: #1a7f37; }}
 tr.fail td:nth-child(2) {{ color: #cf222e; font-weight: 600; }}
 .stats {{ color: #57606a; }}
 .exc {{ color: #cf222e; }}
</style></head><body>
<h1>Expectation suite: {escape(str(report.get("suite", "")))}</h1>
<p><span class="banner">{banner[0]}</span></p>
<p class="stats">{stats.get("successful_expectations", 0)}/{stats.get("evaluated_expectations", 0)}
 expectations passed ({stats.get("success_percent", 0.0)}%)</p>
{exc_html}
<table><thead><tr><th>expectation</th><th>status</th>
<th>observed value</th><th>threshold</th></tr></thead>
<tbody>
{rows}
</tbody></table>
</body></html>
"""


def write_validation_html(path: str, report: dict) -> str:
    """Persist the HTML data-docs page; returns the rendered text."""
    html = render_validation_html(report)
    with open(path, "w", encoding="utf-8") as f:
        f.write(html)
    return html


def approx_quantile_buckets(
    df: DataFrame,
    col: str,
    n_buckets: int = 4,
    accuracy: int = 10000,
    bucket_col: str = "bucket",
) -> DataFrame:
    """Equal-population-ish bucketing via sketch cut points — the
    100 TB replacement for a global ``ntile`` window (q76), which
    funnels every row through ONE task to rank it.

    Plan: one mergeable percentile_approx aggregate (map-side partials,
    1-row result), broadcast-crossJoined back, then a narrow projection
    assigns ``1 + Σ [col > cutᵢ]``. No wide shuffle ever touches the
    rows. The comparisons are statically unrolled per bucket (array
    HOFs like F.aggregate stay interpreted; indexed comparisons stay in
    whole-stage codegen).

    Semantics: cut points are actual data values (rank statistics), so
    heavy ties can make neighboring buckets collapse — populations are
    approximately equal, not exactly (that is the accepted trade vs the
    exact window; at accuracy=10000 cuts are exact below 10k rows, the
    q64 sketch-oracle argument). Deterministic for a given input.
    """
    if n_buckets < 2:
        raise ValueError(f"n_buckets must be >= 2, got {n_buckets}")
    probs = [i / n_buckets for i in range(1, n_buckets)]
    cuts = df.agg(
        F.percentile_approx(F.col(col), probs, accuracy).alias("__cuts")
    )
    bucket = F.lit(1)
    for i in range(n_buckets - 1):
        bucket = bucket + F.when(
            F.col(col) > F.col("__cuts")[i], 1
        ).otherwise(0)
    # NULL values have no rank: they must get a NULL bucket, not ride
    # the otherwise(0) branches into bucket 1
    bucket = F.when(F.col(col).isNotNull(), bucket.cast("int"))
    return (
        df.crossJoin(F.broadcast(cuts))
        .withColumn(bucket_col, bucket)
        .drop("__cuts")
    )


def percentile_transform(
    df: DataFrame,
    value: Column,
    ref: DataFrame,
    ref_value: Column,
    bands: int = 20,
    round_to: int = 6,
) -> DataFrame:
    """Score every row of ``df`` by where its ``value`` falls in the
    distribution of ``ref`` — quantile normalization against a
    REFERENCE population (last year's orders, the held-out corpus, the
    pre-deploy metric window). Each row gains a ``band`` column in
    ``[0, bands-1]``: the count of interior reference quantile cuts
    (q = 1/bands … (bands-1)/bands, exact ``F.percentile``
    interpolation — the PERCENTILE_CONT semantics q101 pins) at or
    below the value.

    Scale shape: the cuts are ONE exact-percentile aggregate over the
    reference (1 row), broadcast; banding is a narrow filter-count
    projection over the broadcast array — the scored side never
    shuffles and never joins row-to-row against the reference. Cuts
    are rounded to ``round_to`` BEFORE comparison so interpolated
    doubles cannot flip a boundary between engines (the rounded-stats
    recipe). NULL values band to NULL.
    """
    qs = [i / bands for i in range(1, bands)]
    cuts = ref.agg(
        F.transform(
            F.percentile(ref_value, F.array(*[F.lit(q) for q in qs])),
            lambda c: F.round(c, round_to),
        ).alias("__cuts")
    )
    val = value.cast("double")
    return (
        df.crossJoin(F.broadcast(cuts))
        .withColumn(
            "band",
            F.when(
                val.isNotNull(),
                F.size(F.filter("__cuts", lambda c: c <= val)),
            ),
        )
        .drop("__cuts")
    )


def code_switch_profile(
    df: DataFrame, id_col: str, text_col: str, round_to: int = 6
) -> DataFrame:
    """Per-document code-switching profile: sentence-level language ID
    (the q18 expression cascade) rolled up to ``(id, majority_lang,
    n_sents_lid, n_langs, switch_frac)`` — the bilingual-corpus
    diagnostic that doc-level LID hides: a document that alternates
    Spanish and Náhuatl sentence by sentence gets ONE doc-level label,
    but its switch fraction is what decides whether it belongs in a
    monolingual training split, a translation-pair miner, or neither.

    Only sentences the heuristic can label participate (NULL-lang
    sentences carry no signal); documents with zero labeled sentences
    are absent from the output. ``majority_lang`` ties break
    lexicographically; ``switch_frac = 1 − majority_count /
    labeled_count`` (0 = monolingual, → 1 with many alternating
    languages).

    Plan: sentence explode + LID stay in codegen (no UDF); two
    doc-keyed aggregates (map-side combined) + one rank window on the
    (doc, lang)-sized count table — ≤ |langs| rows per doc, far
    smaller than the sentence stream.
    """
    from pyspark.sql import Window

    from nahuatl_data_pipeline_spark.functions.langid import detect_language
    from nahuatl_data_pipeline_spark.functions.segmentation import sentences

    sent = df.select(
        F.col(id_col), F.explode(sentences(text_col)).alias("__s")
    )
    lid = sent.select(
        id_col, detect_language(F.col("__s")).alias("__l")
    ).where(F.col("__l").isNotNull())
    counts = lid.groupBy(id_col, "__l").agg(
        F.count(F.lit(1)).alias("__c")
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("__c").desc(), F.col("__l").asc()
    )
    major = (
        counts.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            id_col,
            F.col("__l").alias("majority_lang"),
            F.col("__c").alias("__mc"),
        )
    )
    tot = counts.groupBy(id_col).agg(
        F.sum("__c").cast("long").alias("n_sents_lid"),
        F.count(F.lit(1)).cast("long").alias("n_langs"),
    )
    return major.join(tot, id_col).select(
        id_col,
        "majority_lang",
        "n_sents_lid",
        "n_langs",
        F.round(
            F.lit(1.0) - F.col("__mc") / F.col("n_sents_lid"), round_to
        ).alias("switch_frac"),
    )
