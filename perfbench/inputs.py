"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of ``(seed, size)``: the same
arguments give byte-identical files, a different seed gives different
files. Each returns the ground truth the checkers in ``checks.py``
compare the engine's outputs against; the engine itself only ever sees
the files written here.
"""

from __future__ import annotations

import json
import math
import os
import random
import unicodedata

# --------------------------------------------------------------------------
# corpus_build: es/nah/myn records spread over JSONL layer dirs
# --------------------------------------------------------------------------

# Base texts are already in the pipeline's normal form (NFC, single
# spaces, canonical saltillo U+02BC in nah, ASCII glottal in myn, no
# Spanish typography), so normalization is the identity on a family's
# base record and each family's dedup key is known in advance.
_ES = [unicodedata.normalize("NFC", w) for w in (
    "agua casa niño mañana árbol corazón canción señor camino día noche "
    "pequeño grande río montaña ciudad pueblo familia madre padre hermano "
    "tierra fuego viento lluvia sol luna estrella flor maíz comida palabra "
    "libro escuela trabajo música danza tiempo año mundo vida amor paz "
    "jardín café pájaro perro gato caballo mesa puerta ventana leche pan "
    "queso fruta él está también según después"
).split()]
_NAH = [unicodedata.normalize("NFC", w) for w in (
    "ātl calli tōnatiuh mētztli citlālin xōchitl centli tlaxcalli cuāuhtli "
    "coyōtl tōchtli ocēlōtl tepētl āltepētl nāntli tahtli icniuhtli tlālli "
    "tletl ehēcatl quiyahuitl tlahtōlli āmoxtli cuīcatl tōnalli xihuitl "
    "yōlli niʼtoa tlazohcāmati cualli mahʼtli tlaʼtolli neʼneme ōme ēyi"
).split()]
_MYN = [unicodedata.normalize("NFC", w) for w in (
    "k'iin ch'een ts'íib t'aan k'áax p'aax ja' naj kool wíinik ixi'im "
    "ba'al lu'um ka'an ch'íich' k'ook'ol yuum bej tuunich chan nohoch "
    "ki'imak sáasil éek' chak sak box k'an ya'ax"
).split()]
_SALTILLO_VARIANTS = ("'", "’", "`", "ʔ")
_MAYA_GLOTTAL_VARIANTS = ("’", "ʼ", "ʔ")
CORPUS_LAYERS = ("silver", "diamond")
_FILES_PER_LAYER = 4
RATIOS = {"train": 0.9, "validation": 0.05, "test": 0.05}


def _sentence(rng: random.Random, words: list[str], lo: int, hi: int) -> str:
    return " ".join(rng.choice(words) for _ in range(rng.randint(lo, hi)))


def _variant(rng: random.Random, rec: dict) -> dict:
    """A copy of ``rec`` the normalizer maps back onto ``rec``: case,
    whitespace, NFD decomposition and saltillo/glottal spelling."""
    out = dict(rec)
    for kind in rng.sample(("case", "space", "nfd", "saltillo"), rng.randint(1, 2)):
        for lang, text in list(out.items()):
            if kind == "case":
                text = text.upper() if rng.random() < 0.5 else text.title()
            elif kind == "space":
                seps = ("  ", "\t", " \n ", "   ")
                text = "".join(
                    w + (rng.choice(seps) if i < len(text.split(" ")) - 1 else "")
                    for i, w in enumerate(text.split(" "))
                )
                text = rng.choice((" ", "\t", "")) + text + rng.choice((" ", "\n", ""))
            elif kind == "nfd":
                text = unicodedata.normalize("NFD", text)
            elif kind == "saltillo" and lang == "nah":
                text = text.replace("ʼ", rng.choice(_SALTILLO_VARIANTS))
            elif kind == "saltillo" and lang == "myn":
                text = text.replace("'", rng.choice(_MAYA_GLOTTAL_VARIANTS))
            out[lang] = text
    return out


def _encode(rng: random.Random, rec: dict) -> dict:
    """The record as a JSON object in a format its language set allows:
    canonical keys, a nested ``original`` payload (``sp`` = Spanish), or
    one of the legacy key sets."""
    langs = set(rec)
    src = rng.choice(("huggingface", "youtube", "pdf", "bible.is", "manual"))
    options = ["canonical", "nested"]
    if langs == {"es", "nah"}:
        options += ["legacy_a", "asr", "dpo"]
    if langs == {"es", "myn"}:
        options += ["legacy_b", "asr"]
    fmt = rng.choice(options)
    if fmt == "canonical":
        obj = dict(rec, source=src, category=rng.choice(("bible", "dialog", None)))
    elif fmt == "nested":
        orig = {("sp" if k == "es" else k): v for k, v in rec.items()}
        obj = {"original": orig}
    elif fmt == "legacy_a":
        obj = {"es_translation": rec["es"], "nah_translation": rec["nah"],
               "source_file": f"legacy_{rng.randint(0, 9)}.csv"}
    elif fmt == "legacy_b":
        obj = {"original_es": rec["es"], "myn_translation": rec["myn"]}
    elif fmt == "asr":
        lang = "nah" if "nah" in rec else "myn"
        obj = {"original_audio_text": rec[lang], "detected_language": lang,
               "es": rec["es"], "source": "youtube"}
    else:  # dpo
        obj = {"prompt": rec["es"], "chosen": rec["nah"]}
    return obj


def corpus_key(es: str | None, nah: str | None, myn: str | None) -> str:
    """The pipeline's dedup key (``functions.normalize.dedup_key``) of a
    normalized record."""
    return "|".join((v or "").strip().lower() for v in (es, nah, myn))


def split_counts(n: int, ratios: dict[str, float] = RATIOS) -> dict[str, int]:
    """Exact per-split sizes of ``operators.split.seeded_split`` for ``n``
    rows: cut at ``floor(n * cumulative_ratio)``, accumulated in the same
    float order as the engine."""
    names = list(ratios)
    out, prev, acc = {}, 0, 0.0
    for name in names[:-1]:
        acc += ratios[name]
        cut = math.floor(n * acc)
        out[name] = cut - prev
        prev = cut
    out[names[-1]] = n - prev
    return {k: v for k, v in out.items() if v}


def make_corpus(seed: int, n_records: int, out_dir: str) -> dict:
    """Write ``silver`` and ``diamond`` layer dirs of JSONL files under
    ``out_dir`` holding about ``n_records`` parsed records; return the
    layer dirs and the ground truth.

    Planted: duplicate families (1-4 members, every member after the
    first a normalization variant, members scattered over layers and
    formats), records without a translation pair, records whose Spanish
    side is out of the 3..1000 length bounds, and malformed JSONL lines
    (never parsed, never counted).
    """
    rng = random.Random(seed * 1_000_003 + 1)
    keys: set[str] = set()
    files: dict[str, list] = {layer: [] for layer in CORPUS_LAYERS}
    n_input = n_invalid = n_oob = n_malformed = 0

    def emit(obj: dict) -> None:
        files[rng.choice(CORPUS_LAYERS)].append(obj)

    while n_input < n_records:
        roll = rng.random()
        if roll < 0.05:  # no translation pair, or a blank pivot
            shape = rng.choice(("es_only", "nah_only", "blank_es"))
            rec = {"es_only": {"es": _sentence(rng, _ES, 3, 8)},
                   "nah_only": {"nah": _sentence(rng, _NAH, 3, 8)},
                   "blank_es": {"es": " \t ", "nah": _sentence(rng, _NAH, 3, 8)}}[shape]
            emit(rec)
            n_input += 1
            n_invalid += 1
            continue
        if roll < 0.07:  # Spanish side too short or too long
            # 400 words of >= 2 letters: always over 1000 characters
            es = rng.choice(("ab", "y", "no")) if rng.random() < 0.5 else " ".join(
                rng.choice(_ES) for _ in range(400)
            )
            emit({"es": es, "nah": _sentence(rng, _NAH, 3, 8)})
            n_input += 1
            n_oob += 1
            continue
        shape = rng.choice((("es", "nah"), ("es", "myn"), ("es", "nah", "myn")))
        pools = {"es": _ES, "nah": _NAH, "myn": _MYN}
        while True:
            base = {lang: _sentence(rng, pools[lang], 4, 10) for lang in shape}
            key = corpus_key(base.get("es"), base.get("nah"), base.get("myn"))
            if key not in keys:
                keys.add(key)
                break
        size = rng.choices((1, 2, 3, 4), weights=(60, 25, 10, 5))[0]
        for i in range(size):
            rec = base if i == 0 else _variant(rng, base)
            emit(_encode(rng, rec))
            n_input += 1

    layer_dirs = {}
    for layer, objs in files.items():
        d = layer_dirs[layer] = os.path.join(out_dir, layer)
        os.makedirs(d, exist_ok=True)
        for f in range(_FILES_PER_LAYER):
            lines = []
            for obj in objs[f::_FILES_PER_LAYER]:
                line = json.dumps(obj, ensure_ascii=False)
                if rng.random() < 0.01:
                    lines.append(line[: len(line) // 2])
                    n_malformed += 1
                lines.append(line)
            with open(os.path.join(d, f"part-{f}.jsonl"), "w", encoding="utf-8") as fh:
                fh.write("\n".join(lines) + "\n")
    return {
        "layer_dirs": layer_dirs,
        "input": n_input,
        "output": len(keys),
        "splits": split_counts(len(keys)),
        "keys": keys,
        "invalid": n_invalid,
        "out_of_bounds": n_oob,
        "malformed_lines": n_malformed,
    }


# --------------------------------------------------------------------------
# neardup_curation: documents + a held-out eval set
# --------------------------------------------------------------------------


def _vocab(n: int = 700) -> list[str]:
    """A fixed pseudo-word vocabulary (independent of the seed)."""
    rng = random.Random(7)
    onsets = ("", "ch", "k", "l", "m", "n", "p", "s", "t", "tl", "x", "y", "h", "c", "qu")
    vowels = ("a", "e", "i", "o", "u", "á", "ē")
    words: list[str] = []
    seen = set()
    while len(words) < n:
        w = "".join(rng.choice(onsets) + rng.choice(vowels) for _ in range(rng.randint(2, 4)))
        if w not in seen and "lorem" not in w and "ipsum" not in w:
            seen.add(w)
            words.append(w)
    return words


_DOC_VOCAB = _vocab()
C4_MIN_WORDS = 20  # plans.curation_pipeline.CurationConfig.min_words


def _prose(rng: random.Random, lo: int, hi: int) -> list[str]:
    return [rng.choice(_DOC_VOCAB) for _ in range(rng.randint(lo, hi))]


def _pii(rng: random.Random) -> tuple[str, str]:
    kind = rng.choice(("email", "phone", "ip"))
    if kind == "email":
        return f"user.{rng.randint(1, 999)}@correo{rng.randint(1, 9)}.mx", "<EMAIL>"
    if kind == "phone":
        return f"+52 {rng.randint(10, 99)} {rng.randint(1000, 9999)} {rng.randint(1000, 9999)}", "<PHONE>"
    return f"10.{rng.randint(0, 255)}.{rng.randint(0, 255)}.{rng.randint(1, 254)}", "<IP>"


def make_curation(seed: int, n_docs: int, out_dir: str) -> dict:
    """Write ``documents.parquet`` (``doc_id``, ``text``) and
    ``evalset.parquet`` under ``out_dir``; return paths + ground truth.

    Planted, by doc kind: byte-identical families (2-4 copies),
    token-edited near-duplicate families (one substituted token per
    copy), C4 failures (no terminal punctuation, a code brace, a
    boilerplate phrase, under ``C4_MIN_WORDS`` words), Gopher repetition
    failures, PII (email/phone/IPv4), eval leaks (a 15-token span of an
    eval doc) and clean unique prose.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed * 1_000_003 + 2)
    evalset = [" ".join(_prose(rng, 30, 40)) + "." for _ in range(max(50, n_docs // 50))]
    docs: list[tuple[str, str, int]] = []  # (kind, text, family)
    rep_pairs: set[tuple[str, str]] = set()
    family = 0
    while len(docs) < n_docs:
        roll = rng.random()
        family += 1
        if roll < 0.04:
            text = " ".join(_prose(rng, 25, 60)) + "."
            docs += [("identical", text, family)] * rng.randint(2, 4)
        elif roll < 0.07:
            words = _prose(rng, 40, 60)
            docs.append(("edited", " ".join(words) + ".", family))
            for _ in range(rng.randint(1, 2)):
                edit = list(words)
                edit[rng.randrange(1, len(edit) - 1)] = rng.choice(_DOC_VOCAB)
                docs.append(("edited", " ".join(edit) + ".", family))
        elif roll < 0.11:
            words = _prose(rng, 25, 60)
            rule = rng.choice(("no_punct", "brace", "phrase", "short"))
            if rule == "no_punct":
                text = " ".join(words)
            elif rule == "brace":
                words.insert(len(words) // 2, "{x}")
                text = " ".join(words) + "."
            elif rule == "phrase":
                words[len(words) // 2: len(words) // 2] = ["lorem", "ipsum"]
                text = " ".join(words) + "."
            else:
                # distinct words: a short doc must not also trip the
                # repetition gate (its bigram cutoff is 0.18 of the bigrams)
                text = " ".join(rng.sample(_DOC_VOCAB, rng.randint(8, C4_MIN_WORDS - 2))) + "."
            docs.append(("c4", text, family))
        elif roll < 0.13:
            while True:
                pair = (rng.choice(_DOC_VOCAB), rng.choice(_DOC_VOCAB))
                if pair[0] != pair[1] and pair not in rep_pairs:
                    rep_pairs.add(pair)
                    break
            docs.append(("repetition", " ".join(pair * rng.randint(12, 20)) + ".", family))
        elif roll < 0.16:
            words = _prose(rng, 25, 50)
            value, token = _pii(rng)
            words.insert(rng.randrange(1, len(words) - 1), value)
            docs.append((f"pii:{value}:{token}", " ".join(words) + ".", family))
        elif roll < 0.17:
            src = rng.choice(evalset).rstrip(".").split()
            start = rng.randrange(0, len(src) - 15)
            words = _prose(rng, 15, 30)
            at = rng.randrange(1, len(words) - 1)
            words[at:at] = src[start:start + 15]
            docs.append(("leak", " ".join(words) + ".", family))
        else:
            docs.append(("unique", " ".join(_prose(rng, 25, 60)) + ".", family))
    rng.shuffle(docs)

    os.makedirs(out_dir, exist_ok=True)
    docs_path = os.path.join(out_dir, "documents.parquet")
    eval_path = os.path.join(out_dir, "evalset.parquet")
    pq.write_table(
        pa.table({"doc_id": pa.array(range(len(docs)), pa.int64()),
                  "text": [t for _, t, _ in docs]}),
        docs_path,
    )
    pq.write_table(
        pa.table({"doc_id": pa.array(range(len(evalset)), pa.int64()),
                  "text": evalset}),
        eval_path,
    )
    kinds: dict[str, list[int]] = {}
    families: dict[int, list[int]] = {}
    pii: dict[int, tuple[str, str]] = {}
    for doc_id, (kind, _, fam) in enumerate(docs):
        if kind.startswith("pii:"):
            _, value, token = kind.split(":", 2)
            pii[doc_id] = (value, token)
            kind = "pii"
        kinds.setdefault(kind, []).append(doc_id)
        if kind in ("identical", "edited"):
            families.setdefault(fam, []).append(doc_id)
    identical = [ids for ids in families.values() if ids[0] in set(kinds.get("identical", []))]
    edited = [ids for ids in families.values() if ids[0] in set(kinds.get("edited", []))]
    return {
        "docs_path": docs_path,
        "eval_path": eval_path,
        "input": len(docs),
        "failed_c4": len(kinds.get("c4", [])),
        "failed_repetition": len(kinds.get("repetition", [])),
        "contaminated": len(kinds.get("leak", [])),
        "identical_families": identical,
        "edited_families": edited,
        "must_keep": sorted(kinds.get("unique", []) + kinds.get("pii", [])),
        "must_drop": sorted(kinds.get("c4", []) + kinds.get("repetition", []) + kinds.get("leak", [])),
        "pii": pii,
    }


# --------------------------------------------------------------------------
# analytics_mix: star-schema tables, an event stream and a document table
# --------------------------------------------------------------------------

ANALYTICS_TABLES = ("region", "nation", "customer", "orders", "lineitem", "events", "documents")
_DOC_LANGS = ("en", "es", "de", "fr", "nah")
_DOC_WORDS = (
    "the data row scan fast slow table key value join agg window sort part line order "
    "agua casa niño canción día ātl calli tōnatiuh xōchitl tlahtōlli niʼtoa neʼneme "
    "k'iin t'aan ja' straße grün über"
).split()


def make_analytics(seed: int, lineitem_rows: int, out_dir: str) -> dict:
    """Write one parquet file per ``ANALYTICS_TABLES`` entry under
    ``out_dir``, with the column names and types of the engine's testdata
    tables; ``lineitem_rows`` sets the scale (orders are a quarter of it,
    customers a fortieth, events a sixth, documents 1/120th).

    Planted: documents that repeat another document's text up to case
    and surrounding whitespace, macron and saltillo spellings, events
    over three months so cohorts have a retention tail. The ground truth
    here is the table directory: each query is checked against its
    DuckDB oracle over the same files. One item is one query.
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed * 1_000_003 + 3)
    n_li = lineitem_rows
    n_ord, n_cust, n_ev, n_doc = n_li // 4, max(50, n_li // 40), n_li // 6, max(100, n_li // 120)
    day = np.timedelta64(1, "D")

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def pick(options, n):
        return np.array(options, dtype=object)[rng.integers(0, len(options), n)]

    def dates(start, n_days, n):
        return np.datetime64(start, "us") + rng.integers(0, n_days, n) * day

    tables = {
        "region": {"r_regionkey": pa.array(range(5), pa.int32()),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]},
        "nation": {"n_nationkey": pa.array(range(25), pa.int32()),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())},
        "customer": {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": pick(("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"),
                                 n_cust),
        },
        "orders": {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": pick(("F", "O", "P"), n_ord),
            "o_totalprice": money(1000, 500000, n_ord),
            "o_orderdate": pa.array(dates("1995-01-01", 2404, n_ord), pa.timestamp("us")),
            "o_orderpriority": pick(("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"),
                                    n_ord),
        },
        "lineitem": {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, max(1, n_li // 30), n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, max(1, n_li // 600), n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_li).astype(float),
            "l_extendedprice": money(900, 105000, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": pick(("A", "N", "R"), n_li),
            "l_linestatus": pick(("F", "O"), n_li),
            "l_shipdate": pa.array(dates("1995-01-02", 2500, n_li), pa.timestamp("us")),
        },
        "events": {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": pa.array(np.datetime64("2024-01-01", "us")
                           + rng.integers(0, 91 * 86_400_000_000, n_ev).astype("timedelta64[us]"),
                           pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, max(10, n_ev // 60), n_ev), pa.int64()),
            "event_type": pick(("click", "error", "purchase", "signup", "view"), n_ev),
            "value": money(0.01, 500, n_ev),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        },
    }
    texts: list[str] = []
    for i in range(n_doc):
        if texts and rng.random() < 0.03:
            base = texts[int(rng.integers(0, len(texts)))]
            texts.append(" " + base.upper() + " " if rng.random() < 0.5 else base)
        else:
            texts.append(" ".join(pick(_DOC_WORDS, int(rng.integers(8, 90)))) + ".")
    tables["documents"] = {
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": pick(_DOC_LANGS, n_doc),
        "source": [f"src{k}" for k in rng.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name in ANALYTICS_TABLES:
        cols = {k: v if isinstance(v, pa.Array) else pa.array(v) for k, v in tables[name].items()}
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))
    return {"sf_dir": out_dir, "input": 1, "tables": ANALYTICS_TABLES}
