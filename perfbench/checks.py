"""Ground-truth checkers. Each takes the truth ``inputs.py`` returned and
the engine's outputs as plain Python values, and returns the list of
mismatches (empty = correct). They never touch Spark, so a test can hand
them a deliberately wrong output.
"""

from __future__ import annotations

from .inputs import corpus_key


def check_corpus(truth: dict, stats: dict, gold_rows: list[tuple] | None) -> list[str]:
    """``stats`` is ``run_corpus_pipeline``'s return value; ``gold_rows``
    are ``(es, nah, myn, split)`` tuples read back from the gold output
    (``None`` checks the stats alone).

    Exact input/output/split counts, the surviving dedup keys equal the
    planted families' keys, and no key appears in two splits."""
    bad = []
    for key in ("input", "output", "splits"):
        if stats.get(key) != truth[key]:
            bad.append(f"{key}: got {stats.get(key)!r}, expected {truth[key]!r}")
    if gold_rows is None:
        return bad
    per_split: dict[str, int] = {}
    split_of: dict[str, str] = {}
    leaked = 0
    for es, nah, myn, split in gold_rows:
        per_split[split] = per_split.get(split, 0) + 1
        k = corpus_key(es, nah, myn)
        if split_of.setdefault(k, split) != split:
            leaked += 1
    if per_split != truth["splits"]:
        bad.append(f"gold split sizes {per_split} != {truth['splits']}")
    if leaked:
        bad.append(f"{leaked} dedup keys appear in more than one split")
    keys = set(split_of)
    if keys != truth["keys"]:
        bad.append(
            f"gold keys differ from planted families: {len(keys - truth['keys'])} "
            f"unexpected, {len(truth['keys'] - keys)} missing"
        )
    if len(gold_rows) != len(keys):
        bad.append(f"{len(gold_rows) - len(keys)} duplicate records in gold")
    return bad


def check_curation(truth: dict, stats: dict, gold_rows: list[tuple] | None) -> list[str]:
    """``stats`` is ``run_curation_pipeline``'s return value; ``gold_rows``
    are ``(doc_id, text)`` tuples read back from the gold output
    (``None`` checks the stats alone).

    Exact C4, repetition and contamination counts; exactly one survivor
    per byte-identical family and at least one per token-edited family;
    every clean document kept and every planted failure dropped; PII
    replaced by its placeholder in every surviving PII document."""
    bad = []
    for key in ("input", "failed_c4", "failed_repetition", "contaminated"):
        if stats.get(key) != truth[key]:
            bad.append(f"{key}: got {stats.get(key)!r}, expected {truth[key]!r}")
    ident_extra = sum(len(f) - 1 for f in truth["identical_families"])
    edited_extra = sum(len(f) - 1 for f in truth["edited_families"])
    near = stats.get("near_dups", -1)
    if not ident_extra <= near <= ident_extra + edited_extra:
        bad.append(f"near_dups {near} outside [{ident_extra}, {ident_extra + edited_extra}]")
    if gold_rows is None:
        return bad
    text_of = dict(gold_rows)
    if len(text_of) != len(gold_rows):
        bad.append("duplicate doc_id in gold")
    if stats.get("output") != len(gold_rows):
        bad.append(f"output {stats.get('output')!r} != {len(gold_rows)} gold rows")
    kept = set(text_of)
    missing = [d for d in truth["must_keep"] if d not in kept]
    if missing:
        bad.append(f"{len(missing)} clean documents dropped (e.g. {missing[:3]})")
    wrongly = [d for d in truth["must_drop"] if d in kept]
    if wrongly:
        bad.append(f"{len(wrongly)} planted failures kept (e.g. {wrongly[:3]})")
    for name, fams, ok in (
        ("byte-identical", truth["identical_families"], lambda n: n == 1),
        ("token-edited", truth["edited_families"], lambda n: n >= 1),
    ):
        off = [f for f in fams if not ok(sum(d in kept for d in f))]
        if off:
            bad.append(f"{len(off)} {name} families with a wrong survivor count")
    for doc_id, (value, token) in truth["pii"].items():
        text = text_of.get(doc_id)
        if text is not None and (value in text or token not in text):
            bad.append(f"doc {doc_id}: PII {value!r} not redacted to {token}")
            break
    return bad


def check_analytics(want: dict[str, str], got: dict[str, str]) -> list[str]:
    """``want`` maps each query of the mix to the hash of its DuckDB
    oracle result, ``got`` to the hash of the engine's result; every
    query must be present and equal."""
    bad = [f"{name}: result hash {got.get(name)} != oracle {h}"
           for name, h in sorted(want.items()) if got.get(name) != h]
    bad += [f"{name}: no oracle result" for name in sorted(set(got) - set(want))]
    return bad
