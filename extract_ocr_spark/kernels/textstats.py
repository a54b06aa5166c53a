"""Text-analysis kernels: language ID, quality scoring, token counting,
document fingerprinting. Pure functions / numpy-vectorizable; wrapped as
pandas UDFs in the engine layer.
"""

from __future__ import annotations

import re

# Tiny per-language stopword sets (public common-word lists). The heuristic
# scores languages by stopword hits and falls back to 'und' (undetermined).
_STOPWORDS: dict[str, frozenset[str]] = {
    "en": frozenset("the of and to in is it that for on with as was at by".split()),
    "es": frozenset("el la de que y en los se del las por un con una su".split()),
    "fr": frozenset("le de la et les des en un du une que dans pour au".split()),
    "de": frozenset("der die und das von zu mit den im für ist des ein".split()),
    "pt": frozenset("o de a e que do da em um para com os no uma por".split()),
}

_TOKEN_RE = re.compile(r"\w+|[^\w\s]", re.UNICODE)
_WORD_RE = re.compile(r"[A-Za-z0-9_]+")
_PUNCT_RE = re.compile(r"[^\w\s]")
_ALPHA_RE = re.compile(r"[A-Za-z]")

_FP_BASE = 1_000_003
_FP_MOD = (1 << 61) - 1


def lang_id(text: str | None) -> str:
    """n-gram/stopword heuristic language ID; 'und' when no signal."""
    if not text:
        return "und"
    words = text.lower().split()
    if not words:
        return "und"
    best_lang = "und"
    best_hits = 0
    for lang in sorted(_STOPWORDS):
        hits = sum(1 for w in words if w in _STOPWORDS[lang])
        if hits > best_hits:
            best_lang = lang
            best_hits = hits
    return best_lang if best_hits > 0 else "und"


def token_count(text: str | None) -> int:
    """BPE-ish token count: word runs plus individual punctuation marks."""
    if not text:
        return 0
    return len(_TOKEN_RE.findall(text))


def quality_score(text: str | None) -> float:
    """Heuristic document quality in [0,1]: blends length, alpha ratio,
    punctuation ratio, mean word length sanity, and stopword presence."""
    if not text or not text.strip():
        return 0.0
    n = len(text)
    alpha_ratio = len(_ALPHA_RE.findall(text)) / n
    punct_ratio = len(_PUNCT_RE.findall(text)) / n
    words = text.split()
    mean_word_len = sum(len(w) for w in words) / len(words)
    stop_hits = sum(1 for w in words if w.lower() in _STOPWORDS["en"])
    stop_ratio = stop_hits / len(words)
    length_score = min(1.0, n / 1000.0)
    word_len_score = 1.0 if 3.0 <= mean_word_len <= 10.0 else 0.5
    score = (
        0.25 * length_score
        + 0.30 * alpha_ratio
        + 0.15 * (1.0 - min(1.0, punct_ratio * 4))
        + 0.15 * word_len_score
        + 0.15 * min(1.0, stop_ratio * 5)
    )
    return round(min(1.0, max(0.0, score)), 6)


def fingerprint(text: str | None) -> int:
    """Rolling polynomial hash over normalized text, mod 2^61-1.

    Deterministic across processes (no PYTHONHASHSEED dependence).
    """
    if not text:
        return 0
    norm = " ".join(text.lower().split())
    h = 0
    for ch in norm.encode("utf-8"):
        h = (h * _FP_BASE + ch) % _FP_MOD
    return h


def word_shingles(text: str | None, k: int = 3) -> list[str]:
    """Sorted distinct k-word shingles of the lowercased word sequence."""
    if not text:
        return []
    words = [w.lower() for w in _WORD_RE.findall(text)]
    if len(words) < k:
        return sorted({" ".join(words)}) if words else []
    return sorted({" ".join(words[i:i + k]) for i in range(len(words) - k + 1)})
