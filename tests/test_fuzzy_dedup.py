"""Fuzzy-dedup invariants (approximate ops are property-tested, not
hash-matched — SURVEY.md §7 risk notes; mirrors SparkDedupSpec.scala:31-60):
exact duplicates are always caught, planted near-duplicates are found at
threshold, distinct docs survive, results are deterministic."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from nahuatl_data_pipeline_spark.operators.fuzzy_dedup import (
    minhash_lsh_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_groups,
)

BASE = [
    (1, "in the beginning the corpus was empty and the engine was fast"),
    (2, "a completely different sentence about nahuatl morphology and verbs"),
    (3, "numbers and letters mixed in a third document for good measure"),
    # 4 = near-duplicate of 1 (one word changed)
    (4, "in the beginning the corpus was empty and the engine was quick"),
    # 5 = exact duplicate of 2
    (5, "a completely different sentence about nahuatl morphology and verbs"),
]


@pytest.fixture()
def docs(spark):
    return spark.createDataFrame(BASE, "doc_id long, text string")


def test_minhash_lsh_finds_planted_pairs(docs):
    pairs = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(
            docs, "doc_id", "text", threshold=0.5, shingle_n=2
        ).collect()
    }
    assert (2, 5) in pairs  # exact duplicate: distance 0, always caught
    assert (1, 4) in pairs  # near-duplicate at high overlap


def test_minhash_lsh_dedup_removes_higher_id(docs):
    kept = sorted(
        r["doc_id"]
        for r in minhash_lsh_dedup(
            docs, "doc_id", "text", threshold=0.5, shingle_n=2
        ).collect()
    )
    assert 5 not in kept and 2 in kept  # loser = higher id of the pair
    assert 3 in kept  # distinct doc untouched


def test_banded_minhash_exact_dup_certain(docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            docs, "doc_id", "text", shingle_n=2, num_hashes=8, band_size=2,
            jaccard_threshold=0.5,
        ).collect()
    }
    # identical shingle sets → identical signatures → must share every band
    assert pairs[(2, 5)] == 1.0
    assert (1, 4) in pairs and pairs[(1, 4)] >= 0.5


def test_ngram_jaccard_threshold_respected(docs):
    out = ngram_jaccard_pairs(
        docs, "doc_id", "text", shingle_n=2, jaccard_threshold=0.5
    )
    rows = out.collect()
    assert all(r["jaccard"] >= 0.5 for r in rows)
    assert {(r["id_a"], r["id_b"]) for r in rows} >= {(2, 5)}


def test_simhash_identical_docs_same_hash(docs):
    h = {r["doc_id"]: r["simhash"] for r in simhash_groups(docs, "doc_id", "text").collect()}
    assert h[2] == h[5]
    assert h[1] != h[2]
    # near-dup docs land within small hamming distance
    assert bin(h[1] ^ h[4]).count("1") <= 16


def test_simhash_portable_parity_with_xxhash64_variant(docs):
    """q163's md5-based variant must agree with q32's xxhash64 variant
    on NEIGHBOR STRUCTURE at the same (scaled) hamming radius: exact
    dups collide, planted near-dups land inside the radius, distinct
    docs land far outside it — the hash family changes, the geometry
    must not. Radii scale by bit width (16/64 ≡ 15/60)."""
    from nahuatl_data_pipeline_spark.operators.fuzzy_dedup import (
        simhash_groups_portable,
    )

    for fn, bits in ((simhash_groups, 64), (simhash_groups_portable, 60)):
        rows = {r["doc_id"]: r for r in fn(docs, "doc_id", "text").collect()}
        h = {k: r["simhash"] for k, r in rows.items()}
        radius = bits // 4
        full = (1 << bits) - 1  # mask: 64-bit fingerprints arrive signed

        def ham(a, b):
            return bin((h[a] ^ h[b]) & full).count("1")

        assert h[2] == h[5]  # exact dup: identical fingerprint
        assert ham(1, 4) <= radius  # planted near-dup
        assert ham(1, 2) > radius  # distinct doc
        assert ham(3, 4) > radius
        # band decomposition reassembles the fingerprint exactly
        band_bits = bits // 4
        for r in rows.values():
            assembled = sum(
                (r[f"band{i}"] & ((1 << band_bits) - 1)) << (band_bits * i)
                for i in range(4)
            )
            mask = (1 << (band_bits * 4)) - 1
            assert assembled == r["simhash"] & mask
        # exact dup ⇒ every band key collides (the bucket-join guarantee)
        assert all(rows[2][f"band{i}"] == rows[5][f"band{i}"] for i in range(4))


def _per_row_simhash(shingles, h, bits):
    """Per-row SimHash reference, independent of the operator's plan:
    for each bit, a fold sums ±1 over the shingle hashes ``h`` and the
    bit is set where the sum is positive (bit 63 is the sign bit of a
    signed long, hence the negative literal mask)."""

    def bit(b):
        mask = (1 << b) if b < 63 else -(1 << 63)
        votes = F.aggregate(
            shingles,
            F.lit(0),
            # exactly two parameters: (acc, element)
            lambda acc, s: acc
            + F.when(h(s).bitwiseAND(F.lit(mask)) != 0, 1).otherwise(-1),
        )
        return F.when(votes > 0, F.lit(mask)).otherwise(F.lit(0)).cast("long")

    out = F.lit(0).cast("long")
    for b in range(bits):
        out = out.bitwiseOR(bit(b))
    return out


def test_simhash_values_match_per_row_reference(spark, docs):
    """Both SimHash operators equal the per-row fold bit for bit, and
    their bands are the fingerprint's unsigned ``bits // 4``-bit slices.
    Doc 6 is one token whose xxhash64 is negative, so its 64-bit
    fingerprint has bit 63 set; doc 7 has no tokens."""
    from nahuatl_data_pipeline_spark.functions.hashing import (
        hash60,
        word_shingles,
    )
    from nahuatl_data_pipeline_spark.operators.fuzzy_dedup import (
        simhash_groups_portable,
    )

    df = docs.unionByName(
        spark.createDataFrame([(6, "xochitl"), (7, "   ")], docs.schema)
    )
    for fn, h, bits in (
        (simhash_groups, F.xxhash64, 64),
        (simhash_groups_portable, hash60, 60),
    ):
        want = {
            r["doc_id"]: r["simhash"]
            for r in df.select(
                "doc_id",
                _per_row_simhash(word_shingles("text", n=1), h, bits).alias(
                    "simhash"
                ),
            ).collect()
        }
        got = {r["doc_id"]: r for r in fn(df, "doc_id", "text").collect()}
        assert {k: r["simhash"] for k, r in got.items()} == want
        band_bits = bits // 4
        for r in got.values():
            unsigned = r["simhash"] & ((1 << 64) - 1)
            assert [r[f"band{i}"] for i in range(4)] == [
                (unsigned >> (band_bits * i)) & ((1 << band_bits) - 1)
                for i in range(4)
            ]
        assert got[7]["simhash"] == 0
        assert all(got[7][f"band{i}"] == 0 for i in range(4))
    # the sign-bit case is really exercised
    neg = simhash_groups(df, "doc_id", "text").filter("doc_id = 6").first()
    assert neg["simhash"] < 0 and 0 <= neg["band3"] <= 0xFFFF


def test_fuzzy_results_stable_across_partitioning(docs):
    a = sorted(map(tuple, ngram_jaccard_pairs(
        docs, "doc_id", "text", shingle_n=2, num_hashes=8).collect()))
    b = sorted(
        map(
            tuple,
            ngram_jaccard_pairs(
                docs.repartition(7), "doc_id", "text", shingle_n=2,
                num_hashes=8,
            ).collect(),
        )
    )
    assert a == b


def test_dense_candidate_set_falls_back_to_shuffle_join(spark):
    """A dirty corpus (>50% duplicates → candidate pairs NOT sparse) must
    take the shuffle-join verify path when the candidate count exceeds the
    broadcast gate, and produce exactly the same pairs as the broadcast
    path."""
    # 40 docs in 4 near-identical families of 10 → C(10,2)*4 = 180
    # candidate pairs from 40 docs: dense by construction
    rows = []
    fam = [
        "the quick brown fox jumps over the lazy dog again and again",
        "nahuatl corpus processing with spark is fast and deterministic",
        "a third family of sentences about rivers mountains and valleys",
        "completely separate fourth family text on astronomy and stars",
    ]
    for f, base in enumerate(fam):
        for i in range(10):
            rows.append((f * 10 + i, base + f" variant{i % 2}"))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    kw = dict(shingle_n=2, num_hashes=8, band_size=2, jaccard_threshold=0.5)
    broad = sorted(
        map(tuple, ngram_jaccard_pairs(df, "doc_id", "text", **kw).collect())
    )
    # gate of 1 forces every candidate set over the limit → shuffle join
    shuf = sorted(
        map(
            tuple,
            ngram_jaccard_pairs(
                df, "doc_id", "text", broadcast_max_candidates=1, **kw
            ).collect(),
        )
    )
    assert shuf == broad
    assert len(broad) >= 100  # genuinely dense: most intra-family pairs kept


def test_macron_variant_pair_found_at_high_threshold(spark):
    """SparkDedupSpec.scala:41-57: sentences differing only in one macron
    must be caught as near-duplicates at threshold 0.9 (jaccard sim) —
    the macron variant changes exactly one token of the sentence."""
    df = spark.createDataFrame(
        [
            (1, "tlazohcamati huel miac ipampa in tlahtolli in cualli"),
            (2, "tlazohcāmati huel miac ipampa in tlahtolli in cualli"),
            (3, "completely unrelated content about something else entirely"),
        ],
        "doc_id long, text string",
    )
    # token sets: 7 distinct each, 6 shared → J = 6/8 = 0.75 exactly;
    # approxSimilarityJoin keeps distance < threshold (strict), so 0.3
    # admits the 0.25-distance pair; doc 3 shares nothing
    pairs = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(
            df, "doc_id", "text", threshold=0.3, shingle_n=1
        ).collect()
    }
    assert (1, 2) in pairs
    assert not any(3 in p for p in pairs)
    # and the deterministic exact-Jaccard path agrees on the value
    exact = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            df, "doc_id", "text", shingle_n=1, jaccard_threshold=0.7
        ).collect()
    }
    assert exact.get((1, 2)) == 0.75


def test_repeated_calls_bound_persisted_storage(spark, docs):
    """Generation-based cache rotation: N sequential fuzzy-dedup calls
    must not accumulate N calls' persisted RDDs."""
    from nahuatl_data_pipeline_spark.operators.fuzzy_dedup import (
        release_fuzzy_caches,
    )

    release_fuzzy_caches()  # start from a known state
    jsc = spark.sparkContext._jsc.sc()
    # delta-based: pyspark.ml tests in this session leave their own
    # internal persisted RDDs behind, which this module doesn't manage
    base = jsc.getPersistentRDDs().size()
    for _ in range(3):
        ngram_jaccard_pairs(
            docs, "doc_id", "text", shingle_n=2, num_hashes=8
        ).count()
    # at most ONE call's caches remain registered (shd + sigs + cands —
    # the uncapped path persists the signature frame since r14 so the
    # self-join legs stop re-deriving the minhash aggregate)
    assert jsc.getPersistentRDDs().size() <= base + 3
    release_fuzzy_caches()
    assert jsc.getPersistentRDDs().size() <= base


def test_cache_rotation_keeps_current_call_cached(spark):
    """Ordering contract (session.CachePool): repeated calls
    with IDENTICAL plans must not evict their own cache — Spark's
    CacheManager matches plans canonically, so releasing the previous
    call's handles AFTER re-persisting the same plan would kill the
    shared entry (measured 14 s -> 78 s on back-to-back sf1 runs)."""
    from pyspark.storagelevel import StorageLevel

    from nahuatl_data_pipeline_spark.operators import fuzzy_dedup as fd

    df = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon zeta doc {i}") for i in range(30)],
        "doc_id long, text string",
    )
    out1 = fd.ngram_jaccard_pairs(df, "doc_id", "text")
    out1.count()
    live_before = list(fd._LIVE_CACHES)
    assert live_before and all(
        c.storageLevel != StorageLevel.NONE for c in live_before
    )

    out2 = fd.ngram_jaccard_pairs(df, "doc_id", "text")  # identical plan
    out2.count()
    live_after = list(fd._LIVE_CACHES)
    # the regression: with release-after-persist ordering, the second
    # call's identical canonical plan lost its cache entry here
    assert live_after and all(
        c.storageLevel != StorageLevel.NONE for c in live_after
    )
    # (storageLevel resolves through the CacheManager by canonical plan,
    # so the old handles alias the new entry — eviction of a PREVIOUS
    # generation is observable only across different plans:)
    df2 = df.filter(F.col("doc_id") < 20)
    fd.ngram_jaccard_pairs(df2, "doc_id", "text").count()
    assert all(c.storageLevel == StorageLevel.NONE for c in live_after)
    assert all(
        c.storageLevel != StorageLevel.NONE for c in fd._LIVE_CACHES
    )
    fd.release_fuzzy_caches()


def test_banded_bucket_cap_sheds_mega_buckets_keeps_small_ones(spark):
    """max_bucket_size drops oversized band buckets (the hot-task guard)
    without touching pairs surfaced by small buckets: a 20-member
    identical family exceeds cap=10 in EVERY band (its pairs go — the
    documented contract: run exact_dedup first), while an unrelated
    small near-dup pair survives untouched."""
    family = [
        (i, "the same exact duplicated sentence repeated across the family")
        for i in range(20)
    ]
    other = [
        (100, "an unrelated pair about distributed joins and shuffles here"),
        (101, "an unrelated pair about distributed joins and shuffles there"),
    ]
    df = spark.createDataFrame(family + other, "doc_id long, text string")
    kw = dict(shingle_n=2, num_hashes=8, band_size=2, jaccard_threshold=0.5)

    uncapped = ngram_jaccard_pairs(df, "doc_id", "text", **kw)
    got_unc = {(r["id_a"], r["id_b"]) for r in uncapped.collect()}
    assert (100, 101) in got_unc
    assert len(got_unc) == 190 + 1  # C(20,2) family pairs + the small pair

    capped = ngram_jaccard_pairs(
        df, "doc_id", "text", max_bucket_size=10, **kw
    )
    got_cap = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    assert got_cap == {(100, 101)}


# ---------------------------------------------------------------------------
# prefix_containment_pairs
# ---------------------------------------------------------------------------


def test_containment_catches_what_jaccard_misses(spark):
    """A 10-token prefix extract of a 60-token doc: containment 1.0,
    Jaccard ≈ 8/58 — far under any Jaccard threshold. The containment
    operator must surface the pair; the Jaccard operator must not."""
    from nahuatl_data_pipeline_spark.operators.fuzzy_dedup import (
        ngram_jaccard_pairs,
        prefix_containment_pairs,
    )

    long_text = " ".join(f"w{i}" for i in range(60))
    short_text = " ".join(f"w{i}" for i in range(10))
    df = spark.createDataFrame(
        [(1, long_text), (2, short_text), (3, "totally different words here")],
        ["doc_id", "text"],
    )
    got = prefix_containment_pairs(
        df, "doc_id", "text", containment_threshold=0.8
    ).collect()
    assert [(r["id_a"], r["id_b"], r["containment"]) for r in got] == [
        (1, 2, 1.0)
    ]
    jac = ngram_jaccard_pairs(
        df, "doc_id", "text", jaccard_threshold=0.5
    ).collect()
    assert jac == []  # Jaccard blind to containment


def test_containment_requires_shared_prefix(spark):
    """Single-probe prefix key: a doc contained mid-document (different
    opening tokens) is NOT a candidate — the documented recall bound."""
    from nahuatl_data_pipeline_spark.operators.fuzzy_dedup import (
        prefix_containment_pairs,
    )

    long_text = " ".join(f"w{i}" for i in range(60))
    mid_extract = " ".join(f"w{i}" for i in range(30, 40))
    df = spark.createDataFrame(
        [(1, long_text), (2, mid_extract)], ["doc_id", "text"]
    )
    got = prefix_containment_pairs(df, "doc_id", "text").collect()
    assert got == []


def test_containment_short_docs_dropped(spark):
    from nahuatl_data_pipeline_spark.operators.fuzzy_dedup import (
        prefix_containment_pairs,
    )

    df = spark.createDataFrame(
        [(1, "one two"), (2, "one two"), (3, None)], ["doc_id", "text"]
    )
    # < shingle_n tokens → no shingles → filtered, no pairs, no crash
    assert prefix_containment_pairs(df, "doc_id", "text").collect() == []


def _reference_shingles(t, n, lowercase=True):
    """The Python shingler word_shingles must reproduce: ASCII ``\\s+``
    split, empties dropped, distinct n-token windows in first-occurrence
    order, [] for NULL."""
    if t is None:
        return []
    t = t.lower() if lowercase else t
    tk = [x for x in re.split(r"\s+", t, flags=re.ASCII) if x]
    grams = (" ".join(tk[i : i + n]) for i in range(len(tk) - n + 1))
    return list(dict.fromkeys(grams))


def test_word_shingles_ascii_whitespace_contract(spark):
    """word_shingles splits on the SAME ASCII \\s class as the oracle
    paths: a non-breaking space is NOT a separator, so 'a\\xa0b' stays
    one token everywhere. Boundary inputs match the Python reference."""
    from nahuatl_data_pipeline_spark.functions.hashing import word_shingles

    df = spark.createDataFrame([("a\xa0b c d e",)], ["text"])
    got = df.select(word_shingles("text", n=3).alias("sh")).collect()[0]["sh"]
    assert got == ["a\xa0b c d", "c d e"]

    samples = [
        None, "", "one", "one two",
        "a\tb\nc\r\nd\x0be\x0cf",
        "  \t lead  and trail \n\n ",
        "a\xa0b c d e",
        "x y x y x y",
        "Tlazohcāmati Huēyi TLAHTOANI tlazohcāmati huēyi",
        " ".join(f"w{i % 17}" for i in range(40)),
        "we 🙂smile at 🙂 you",
        "🙂a 🙂b 🙂c",
    ]
    df = spark.createDataFrame([(s,) for s in samples], "text string")
    for n, lowercase in ((2, True), (3, True), (3, False), (13, True)):
        got = [
            r["sh"]
            for r in df.select(
                word_shingles("text", n=n, lowercase=lowercase).alias("sh")
            ).collect()
        ]
        want = [_reference_shingles(s, n, lowercase) for s in samples]
        assert got == want, (n, lowercase)

    # the stated divergence: Spark lowercases U+A7CB (Unicode 16) to
    # U+0264, where Python 3.11's tables leave it unchanged
    df = spark.createDataFrame([("\ua7cb b c",)], "text string")
    got = df.select(word_shingles("text", n=2).alias("sh")).collect()[0]["sh"]
    assert got == ["\u0264 b", "b c"]


# ---------------------------------------------------------------------------
# near_dup_pairs: build-once shared pair table (round 8)
# ---------------------------------------------------------------------------


def _pair_corpus(spark):
    rows = [(i, " ".join(f"t{i}x{j}" for j in range(8))) for i in range(12)]
    rows += [
        (100 + i, " ".join(f"t{i}x{j}" for j in range(8)) + " suffix tok")
        for i in range(4)
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_near_dup_pairs_matches_direct_call(spark):
    from nahuatl_data_pipeline_spark.operators import fuzzy_dedup as fd

    fd.release_pair_tables()
    docs = _pair_corpus(spark)
    direct = sorted(
        map(
            tuple,
            fd.ngram_jaccard_pairs(
                docs, "doc_id", "text", shingle_n=3, jaccard_threshold=0.5
            ).collect(),
        )
    )
    shared = sorted(
        map(
            tuple,
            fd.near_dup_pairs(
                docs,
                "doc_id",
                "text",
                corpus_key="test:direct",
                shingle_n=3,
                jaccard_threshold=0.5,
            ).collect(),
        )
    )
    assert shared == direct and len(shared) >= 4
    fd.release_pair_tables()


def test_near_dup_pairs_second_call_is_cache_hit(spark):
    from nahuatl_data_pipeline_spark.operators import fuzzy_dedup as fd

    fd.release_pair_tables()
    docs = _pair_corpus(spark)
    kw = dict(corpus_key="test:hit", shingle_n=3, jaccard_threshold=0.5)
    first = fd.near_dup_pairs(docs, "doc_id", "text", **kw)
    fd.LAST_STATS.clear()
    second = fd.near_dup_pairs(docs, "doc_id", "text", **kw)
    assert second is first  # the SAME persisted frame, not a rebuild
    assert fd.LAST_STATS.get("pair_table_hit") == 1
    # a different key (params drift) must NOT hit
    third = fd.near_dup_pairs(
        docs, "doc_id", "text",
        corpus_key="test:hit", shingle_n=3, jaccard_threshold=0.6,
    )
    assert third is not first
    fd.release_pair_tables()


def test_near_dup_pairs_lru_eviction_unpersists(spark):
    from nahuatl_data_pipeline_spark.operators import fuzzy_dedup as fd

    from pyspark.sql import functions as F

    fd.release_pair_tables()
    docs = _pair_corpus(spark)
    frames = []
    # distinct corpus per key (the contract): identical plans under
    # different keys would alias in Spark's CacheManager (canonical-form
    # matching), so an evicted sibling could unpersist the survivor
    for i in range(fd._PAIR_TABLE_MAX + 1):
        frames.append(
            fd.near_dup_pairs(
                docs.filter(F.col("doc_id") != 200 + i), "doc_id", "text",
                corpus_key=f"test:evict{i}", shingle_n=3,
                jaccard_threshold=0.5,
            )
        )
    assert len(fd._PAIR_TABLE_CACHE) == fd._PAIR_TABLE_MAX
    # the oldest entry was evicted and unpersisted
    assert frames[0].storageLevel.useMemory is False
    assert frames[-1].storageLevel.useMemory is True
    fd.release_pair_tables()


# ---------------------------------------------------------------------------
# fuzzy bipartite decontamination (round 8)
# ---------------------------------------------------------------------------


def _decontam_frames(spark):
    base = "the quick brown fox jumps over the lazy sleeping dog today"
    train = spark.createDataFrame(
        [
            (1, base),  # verbatim leak
            (2, base.replace("quick", "speedy")),  # 1-word paraphrase
            (3, " ".join(f"clean{i}" for i in range(12))),  # clean
        ],
        ["doc_id", "text"],
    )
    evalset = spark.createDataFrame([(900, base)], ["doc_id", "text"])
    return train, evalset


def test_fuzzy_decontamination_catches_paraphrase_exact_misses(spark):
    """The motivating case: a 1-word paraphrase of an eval doc shares NO
    exact 13-gram window (doc is only 10 tokens) but keeps high 3-gram
    shingle Jaccard — exact contamination_flags returns nothing, the
    fuzzy operator flags both the verbatim and the paraphrased leak."""
    from nahuatl_data_pipeline_spark.operators.curation import (
        contamination_flags,
    )
    from nahuatl_data_pipeline_spark.operators.fuzzy_dedup import (
        fuzzy_contamination_flags,
    )

    train, evalset = _decontam_frames(spark)
    assert contamination_flags(train, evalset, n=13).count() == 0
    got = {
        r["doc_id"]: r
        for r in fuzzy_contamination_flags(
            train, evalset, jaccard_threshold=0.5
        ).collect()
    }
    assert set(got) == {1, 2}
    assert got[1]["max_jaccard"] == 1.0  # verbatim
    assert 0.5 <= got[2]["max_jaccard"] < 1.0  # paraphrase
    assert got[1]["n_eval_matches"] == 1


def test_fuzzy_decontamination_pairs_shape_and_threshold(spark):
    from nahuatl_data_pipeline_spark.operators.fuzzy_dedup import (
        fuzzy_decontamination_pairs,
    )

    train, evalset = _decontam_frames(spark)
    rows = fuzzy_decontamination_pairs(
        train, evalset, jaccard_threshold=0.99
    ).collect()
    # only the verbatim leak survives a 0.99 threshold
    assert [(r["train_id"], r["eval_id"], r["jaccard"]) for r in rows] == [
        (1, 900, 1.0)
    ]


def test_fuzzy_decontamination_distinct_eval_id_column(spark):
    from nahuatl_data_pipeline_spark.operators.fuzzy_dedup import (
        fuzzy_decontamination_pairs,
    )

    train, _ = _decontam_frames(spark)
    evalset = spark.createDataFrame(
        [("task-1", "the quick brown fox jumps over the lazy sleeping dog today")],
        ["task_id", "text"],
    )
    rows = fuzzy_decontamination_pairs(
        train, evalset, eval_id_col="task_id", jaccard_threshold=0.9
    ).collect()
    assert rows and all(r["eval_id"] == "task-1" for r in rows)


def test_fuzzy_decontamination_short_docs_unflaggable(spark):
    """Docs under shingle_n tokens produce no shingles on either side —
    same contract as the exact 13-gram protocol."""
    from nahuatl_data_pipeline_spark.operators.fuzzy_dedup import (
        fuzzy_decontamination_pairs,
    )

    train = spark.createDataFrame([(1, "two words")], ["doc_id", "text"])
    evalset = spark.createDataFrame([(9, "two words")], ["doc_id", "text"])
    assert fuzzy_decontamination_pairs(train, evalset).collect() == []


def test_fuzzy_decontamination_shuffle_fallback_matches_broadcast(spark):
    from nahuatl_data_pipeline_spark.operators.fuzzy_dedup import (
        fuzzy_decontamination_pairs,
    )

    train, evalset = _decontam_frames(spark)
    kw = dict(jaccard_threshold=0.5)
    a = sorted(map(tuple, fuzzy_decontamination_pairs(
        train, evalset, broadcast_eval=True, **kw).collect()))
    b = sorted(map(tuple, fuzzy_decontamination_pairs(
        train, evalset, broadcast_eval=False, **kw).collect()))
    assert a == b and a
