"""Unicode-script detection — the routing signal for multilingual corpora.

A 100 TB web corpus is not whitespace-delimited Latin text: CJK, Thai,
and Khmer have no word boundaries, so every whitespace-tokenized operator
(word shingles, marker-word language ID, word-count quality filters)
silently degrades on them — a CJK document becomes ONE giant "token",
produces zero word trigrams, and can never match a near-duplicate. The
fix is routing, not a new engine: detect the dominant script per
document (this module, pure ``regexp_count`` — JVM regex, one scan, no
UDFs) and send no-boundary scripts down the char-shingle path
(operators/shingles.py char_shingle_table / the minhash
``shingle_mode="char"`` route).

Counts are per CODE POINT over the main BMP block of each script —
deliberately coarse (Han covers Chinese and Japanese kanji; the kana
count is what separates Japanese), because the routing decision only
needs the boundary-vs-no-boundary distinction and a stable label.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: script -> (character-class regex, has word boundaries). Priority for
#: argmax ties is dict order (first wins) — pin it by listing the
#: boundary-less scripts first so mixed CJK/Latin boilerplate routes to
#: the char path.
SCRIPT_CLASSES: dict[str, tuple[str, bool]] = {
    "han": (r"[一-鿿㐀-䶿]", False),
    "kana": (r"[぀-ヿ]", False),
    "thai": (r"[฀-๿]", False),
    "hangul": (r"[가-힯ᄀ-ᇿ]", True),
    "arabic": (r"[؀-ۿ]", True),
    "devanagari": (r"[ऀ-ॿ]", True),
    "cyrillic": (r"[Ѐ-ӿ]", True),
    "greek": (r"[Ͱ-Ͽ]", True),
    "latin": (r"[A-Za-zÀ-ɏ]", True),
}

NO_BOUNDARY_SCRIPTS = tuple(
    s for s, (_, wb) in SCRIPT_CLASSES.items() if not wb
)


def dominant_script(col: Column | str) -> Column:
    """Script with the highest letter count ('und' if none). Ties break
    by SCRIPT_CLASSES order (boundary-less scripts first, see module
    docstring)."""
    c = F.col(col) if isinstance(col, str) else col
    ranked = F.array(
        *[
            F.struct(
                F.regexp_count(c, F.lit(cls)).alias("n"),
                F.lit(-i).alias("prio"),  # earlier = larger on desc sort
                F.lit(name).alias("script"),
            )
            for i, (name, (cls, _)) in enumerate(SCRIPT_CLASSES.items())
        ]
    )
    best = F.sort_array(ranked, asc=False)[0]
    return F.when(best["n"] > 0, best["script"]).otherwise(F.lit("und"))


def needs_char_shingles(col: Column | str) -> Column:
    """True when the document's dominant script has no word boundaries —
    the routing predicate for the char-shingle dedup path."""
    return dominant_script(col).isin(*NO_BOUNDARY_SCRIPTS)
