"""Text-normalization pipeline (reference ``src/transforms/normalizers.py``).

Composition order matters and mirrors the reference
(``normalizers.py:65-110``): strip → NFC → language-specific rules →
whitespace collapse. Every rule except NFC is a built-in Spark expression
(``regexp_replace``/``translate``/``trim``), so the normalization of a
100 TB corpus runs entirely inside whole-stage codegen. NFC has no Spark
builtin; it is a static ICU4J call through the built-in ``reflect``
(ICU4J ships with Spark), so the whole chain stays on the JVM.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

ColumnOrName = Column | str


def _col(c: ColumnOrName) -> Column:
    return F.col(c) if isinstance(c, str) else c


# --- F1: Unicode NFC (normalizers.py:43-63) --------------------------------

# form -> (static ``com.ibm.icu.text.Normalizer`` method, compat flag)
_NFC_FORMS = {
    "NFC": ("compose", False),
    "NFD": ("decompose", False),
    "NFKC": ("compose", True),
    "NFKD": ("decompose", True),
}


def nfc_normalize(c: ColumnOrName, form: str = "NFC") -> Column:
    """Unicode normalization; default NFC preserves macrons (ā ē ī ō ū).

    One static ICU4J call per non-NULL value, no Python worker. Catalyst
    never de-duplicates it (``reflect`` is nondeterministic), so a caller
    reading the result twice should project it once first.

    Stated divergence from Python's ``unicodedata``: ICU 77 implements
    Unicode 16, Python 3.11 Unicode 14. Over U+0080–U+2FFFF they differ
    on exactly 20 code points, where ICU composes a canonical
    decomposition that Python leaves decomposed: Todhri U+105C9/U+105E4,
    Tulu-Tigalari U+11383/85/8E/91/C5/C7/C8 (U+11382 U+113C9 → U+11383),
    Gurung Khema U+16121–16128 and Kirat Rai U+16D68–16D6A. No Latin,
    Náhuatl or Maya character is affected.
    """
    if form not in _NFC_FORMS:
        raise ValueError(f"form must be one of {tuple(_NFC_FORMS)}, got {form!r}")
    method, compat = _NFC_FORMS[form]
    c = _col(c)
    icu = F.lit("com.ibm.icu.text.Normalizer")
    return F.when(c.isNotNull(), F.reflect(icu, F.lit(method), c, F.lit(compat)))


# --- F2-F4: generic cleanup (cleaning.py, normalizers.py:108) --------------


def collapse_whitespace(c: ColumnOrName) -> Column:
    """``\\s+`` → single space, then trim (normalizers.py:108)."""
    return F.trim(F.regexp_replace(_col(c), r"\s+", " "))


def remove_urls(c: ColumnOrName) -> Column:
    """Strip ``http…`` runs (cleaning.py:18-19)."""
    return F.regexp_replace(_col(c), r"http\S+", "")


def remove_page_artifacts(c: ColumnOrName) -> Column:
    """Strip ``Página N`` page markers, case-insensitive (cleaning.py:21-22)."""
    return F.regexp_replace(_col(c), r"(?i)Página \d+", "")


def empty_to_null(c: ColumnOrName) -> Column:
    """Strip, then empty-string → NULL (schemas.py:144-159); ``nullif``
    projects the stripped value once."""
    return F.nullif(F.trim(_col(c)), F.lit(""))


# --- F5-F7: Náhuatl rules (normalizers.py:136-153) -------------------------

# saltillo variants U+0027 U+2019 U+0060 U+0294 → modifier letter apostrophe
_SALTILLO_SRC = "'’`ʔ"
_SALTILLO_DST = "ʼ" * 4


def normalize_saltillo(c: ColumnOrName) -> Column:
    """Unify saltillo forms (' ’ ` ʔ) to ʼ U+02BC (normalizers.py:136-145)."""
    return F.translate(_col(c), _SALTILLO_SRC, _SALTILLO_DST)


def clamp_vowel_runs(c: ColumnOrName) -> Column:
    """≥3 repeated vowels → 2, case-insensitive, macron-aware
    (normalizers.py:147-149).

    ``(?iu)`` not ``(?i)``: Java's CASE_INSENSITIVE alone is ASCII-only,
    so uppercase macron runs (ĀĀĀ) need UNICODE_CASE to fold like
    Python's ``re.IGNORECASE``."""
    return F.regexp_replace(_col(c), r"(?iu)([aeiouāēīōū])\1{2,}", "$1$1")


def fix_punctuation_spacing(c: ColumnOrName) -> Column:
    """Remove space before , ; : . (normalizers.py:151-153)."""
    return F.regexp_replace(_col(c), r"\s+([,;:.])", "$1")


def normalize_nahuatl(c: ColumnOrName) -> Column:
    """Full Náhuatl rule chain (normalizers.py:129-153)."""
    return fix_punctuation_spacing(clamp_vowel_runs(normalize_saltillo(c)))


# --- F8: Maya rules (normalizers.py:179-191) -------------------------------

_MAYA_GLOTTAL_SRC = "ʼ’`ʔ"
_MAYA_GLOTTAL_DST = "''''"


def normalize_maya_glottal(c: ColumnOrName) -> Column:
    """Maya glottals (ʼ ’ ` ʔ) → ASCII ' and re-attach ejectives
    (``k ' → k'``) (normalizers.py:179-191)."""
    ascii_glottal = F.translate(_col(c), _MAYA_GLOTTAL_SRC, _MAYA_GLOTTAL_DST)
    return F.regexp_replace(ascii_glottal, r"([bchkptz])\s+'", "$1'")


# --- F9: Spanish typography (normalizers.py:218-232) ------------------------


def clean_spanish_typography(c: ColumnOrName) -> Column:
    """em/en-dash & ``--`` → ``-``; «»“”‘’ → ASCII quotes; … → ``...``;
    NBSP → space (normalizers.py:218-232)."""
    out = F.regexp_replace(_col(c), r"[—–]|--", "-")
    out = F.translate(out, "«»“”", '""""')
    out = F.translate(out, "‘’", "''")
    out = F.regexp_replace(out, "…", "...")
    return F.regexp_replace(out, " ", " ")


def normalize_spanish(c: ColumnOrName) -> Column:
    return clean_spanish_typography(c)


# --- F10: orthographic variants (processing/normalization.py:13-36) --------


def orthographic_variant(c: ColumnOrName, variant: str = "central") -> Column:
    """Dialect-keyed respelling: central glottal→h, word-initial w→hu;
    huasteca ``hu``→w.

    The glottal class includes ʼ (U+02BC) — the canonical saltillo that
    ``normalize_saltillo`` PRODUCES — plus ` and ʔ, so the respelling
    works on both raw and pipeline-normalized text."""
    if variant == "central":
        out = F.regexp_replace(_col(c), "['’ʼ`ʔ]", "h")
        return F.regexp_replace(out, r"\bw", "hu")
    if variant == "huasteca":
        return F.regexp_replace(_col(c), r"hu", "w")
    raise ValueError(f"unknown variant {variant!r}")


# --- F11: dedup key (deduplicators.py:152-169) ------------------------------


def dedup_key(*cols: ColumnOrName, sep: str = "|") -> Column:
    """``lower(trim(c))`` per column, NULL→'' , joined with a separator.

    Each part is coalesced to '' BEFORE the join — concat_ws would skip a
    NULL part entirely, collapsing ('a', NULL) and ('a',) into the same
    key; the reference's ``(r.es or '').strip().lower()`` keeps the empty
    slot (deduplicators.py:152-169).
    """
    parts = [F.coalesce(F.lower(F.trim(_col(c))), F.lit("")) for c in cols]
    return F.concat_ws(sep, *parts)


# --- composed pipeline (normalizers.py:65-110) ------------------------------

_LANG_RULES = {
    "nah": normalize_nahuatl,
    "myn": normalize_maya_glottal,
    "es": normalize_spanish,
}


def normalize_text(
    c: ColumnOrName,
    lang: str | None = None,
    *,
    strip_urls: bool = False,
    strip_page_artifacts: bool = False,
    fix_encoding: bool = False,
) -> Column:
    """[encoding hygiene →] strip → NFC → language rules → whitespace
    collapse → empty→NULL.

    ``fix_encoding=True`` prepends the crawl-feed hygiene pair
    :func:`fix_mojibake` → :func:`clean_invisible` (that order is a
    contract — U+00AD is both í's mojibake second byte and an
    invisible) BEFORE any other rule: mojibake must be repaired on the
    raw characters, and invisible format chars must be gone before NFC
    / language rules see the text. Off by default — the reference's HF
    sources arrive clean, and both stages are pure codegen so the
    opt-in costs nothing when unused.

    The last step is ``nullif`` as in :func:`empty_to_null` (the
    collapsed text is already trimmed), so the chain runs once per
    value, NFC included.
    """
    out = _col(c)
    if fix_encoding:
        out = clean_invisible(fix_mojibake(out))
    out = nfc_normalize(out)
    if strip_urls:
        out = remove_urls(out)
    if strip_page_artifacts:
        out = remove_page_artifacts(out)
    if lang is not None:
        if lang not in _LANG_RULES:
            raise ValueError(f"unknown lang {lang!r}; expected {sorted(_LANG_RULES)}")
        out = _LANG_RULES[lang](out)
    return F.nullif(collapse_whitespace(out), F.lit(""))


# ---------------------------------------------------------------------------
# Mojibake repair (ftfy-style, single-pass table-driven)
# ---------------------------------------------------------------------------

# Target characters whose UTF-8-read-as-cp1252 form is repaired: the
# Latin-script set a Spanish/Nahuatl web corpus actually mis-encodes
# (accented vowels, eñe/diéresis, inverted punctuation, guillemets,
# curly quotes, dashes, ellipsis). Characters whose mojibake contains a
# cp1252-undefined C1 control byte (Á, Í, à, ”) are excluded: they
# need ftfy's sloppy-cp1252 byte model, and a literal-replace engine
# should not ship invisible control characters in its table. í IS
# included (its second byte is the soft hyphen U+00AD — printable-safe
# and far too common in Spanish to skip).
_MOJIBAKE_TARGETS = "áéíóúñüÉÓÚÑÜèìòùâêîôûäëïöç¿¡«»“‘’–—…·€°"


def _utf8_as_cp1252(ch: str) -> str | None:
    """How ``ch`` renders when its UTF-8 bytes are read as cp1252
    (soft hyphen allowed; any other undefined/control byte → None)."""
    parts = []
    for b in ch.encode("utf-8"):
        if b == 0xAD:
            parts.append("\xad")
            continue
        try:
            p = bytes([b]).decode("cp1252")
        except UnicodeDecodeError:
            return None
        if not p.isprintable():
            return None
        parts.append(p)
    return "".join(parts)


# (mojibake, fixed) pairs, longest mojibake first so three-byte
# sequences (â€œ …) never get clipped by a two-byte rule; the order is
# part of the contract and is applied identically by fix_mojibake and
# every SQL mirror built by mojibake_repair_sql.
MOJIBAKE_TABLE: tuple[tuple[str, str], ...] = tuple(
    sorted(
        ((m, c) for c in _MOJIBAKE_TARGETS if (m := _utf8_as_cp1252(c))),
        key=lambda mc: (-len(mc[0]), mc[0]),
    )
)


def fix_mojibake(c: ColumnOrName) -> Column:
    """Repair UTF-8-read-as-cp1252 mojibake (``CafÃ©`` → ``Café``) as a
    single-pass chain of literal replaces — pure whole-stage-codegen,
    no Python hop, no regex. Single-pass means doubly-encoded text is
    repaired one layer per application (ftfy's iterative model is just
    calling this until fixed-point). Beyond the reference (its readers
    trust HF dataset encodings; a crawl feed cannot)."""
    out = _col(c)
    for moji, fixed in MOJIBAKE_TABLE:
        out = F.replace(out, F.lit(moji), F.lit(fixed))
    return out


def mojibake_repair_sql(expr: str) -> str:
    """DuckDB mirror of :func:`fix_mojibake` — the same table in the
    same order as nested REPLACE calls (ONE definition of the repair)."""
    out = expr
    for moji, fixed in MOJIBAKE_TABLE:
        m = moji.replace("'", "''")
        f = fixed.replace("'", "''")
        out = f"REPLACE({out}, '{m}', '{f}')"
    return out


_MOJIBAKE_ENCODE = {fixed: moji for moji, fixed in MOJIBAKE_TABLE}


def make_mojibake(s: str) -> str:
    """Encode clean text into its cp1252-mojibake form (test/plant
    helper: the inverse of one ``fix_mojibake`` pass). Per-character
    mapping — sequential global replaces would re-encode the ``â``
    produced by encoding ``—``."""
    return "".join(_MOJIBAKE_ENCODE.get(ch, ch) for ch in s)


# ---------------------------------------------------------------------------
# Invisible-character hygiene (crawl text carries format chars that
# break dedup keys, token counts and fingerprints without rendering)
# ---------------------------------------------------------------------------

# Deleted outright: BOM/ZWNBSP, zero-widths, word joiner, soft hyphen,
# bidi controls and isolates. NBSP is NOT here — it renders as a space
# and is mapped to one instead. Order the caller must respect: run
# fix_mojibake BEFORE clean_invisible (U+00AD is both the second byte
# of í's mojibake and an invisible — stripping first would break the
# repair).
INVISIBLE_CODEPOINTS: tuple[int, ...] = (
    0xFEFF,  # BOM / zero-width no-break space
    0x200B,  # zero-width space
    0x200C,  # zero-width non-joiner
    0x200D,  # zero-width joiner
    0x2060,  # word joiner
    0x00AD,  # soft hyphen
    0x200E, 0x200F,  # LRM / RLM
    0x202A, 0x202B, 0x202C, 0x202D, 0x202E,  # bidi embeddings
    0x2066, 0x2067, 0x2068, 0x2069,  # bidi isolates
)

# One regex literal shared by Spark (Java regex) and DuckDB (RE2): a
# character class of the LITERAL chars, so no engine-specific escape
# syntax is involved.
INVISIBLE_CLASS = "[" + "".join(chr(c) for c in INVISIBLE_CODEPOINTS) + "]"


def clean_invisible(c: ColumnOrName) -> Column:
    """Delete invisible format characters and map NBSP to a plain
    space — pure codegen, zero shuffles. DuckDB mirror:
    ``REGEXP_REPLACE(x, INVISIBLE_CLASS, '', 'g')`` then
    ``REPLACE(x, nbsp, ' ')`` (see :func:`invisible_clean_sql`)."""
    out = F.regexp_replace(_col(c), INVISIBLE_CLASS, "")
    return F.replace(out, F.lit(" "), F.lit(" "))


def invisible_clean_sql(expr: str) -> str:
    """DuckDB mirror of :func:`clean_invisible` (ONE class, one order;
    note the 'g' flag — DuckDB replaces only the first match without
    it, Spark always replaces all)."""
    return (
        f"REPLACE(REGEXP_REPLACE({expr}, '{INVISIBLE_CLASS}', '', 'g'),"
        " ' ', ' ')"
    )
