"""URL normalization and classification kernels.

Reference parity: src/extract_ocr/urls.py (normalize_url :10-32,
is_asset_intent_url :35-61, safe_filename_piece :64-71, UrlScope :74-89).
"""

from __future__ import annotations

import re
from urllib.parse import urlparse, urlunparse

_TRACKING_QUERY_EXACT = frozenset({"agt=index"})

ASSET_EXTS = frozenset(
    {
        ".css", ".js", ".mjs", ".map", ".png", ".jpg", ".jpeg", ".gif",
        ".webp", ".svg", ".ico", ".woff", ".woff2", ".ttf", ".otf",
        ".eot", ".pdf", ".zip", ".gz", ".tgz",
    }
)


def normalize_url(raw_url: str) -> str:
    """Lowercase scheme+host, strip fragment, drop known tracking query."""
    parsed = urlparse(raw_url or "")
    query = parsed.query
    if query.strip().lower() in _TRACKING_QUERY_EXACT:
        query = ""
    parsed = parsed._replace(
        scheme=(parsed.scheme or "").lower(),
        netloc=(parsed.netloc or "").lower(),
        fragment="",
        query=query,
    )
    return urlunparse(parsed)


def is_asset_intent_url(url: str) -> bool:
    path = urlparse(url or "").path.lower()
    return any(path.endswith(ext) for ext in ASSET_EXTS)


def safe_filename_piece(text: str, *, max_len: int = 80) -> str:
    text = (text or "").strip()
    text = re.sub(r"\s+", "-", text)
    text = re.sub(r"[^A-Za-z0-9._-]+", "-", text)
    text = re.sub(r"-+", "-", text).strip("-")
    if not text:
        return "untitled"
    return text[:max_len]


def host_allowed(url: str, allow_host_suffixes: tuple[str, ...],
                 follow_offsite: bool = False) -> bool:
    """Host-suffix allowlist gate (reference urls.py:74-89)."""
    if follow_offsite:
        return True
    host = (urlparse(url or "").hostname or "").lower()
    if not host:
        return False
    for suffix in allow_host_suffixes:
        suffix = suffix.lower().lstrip(".")
        if host == suffix or host.endswith("." + suffix):
            return True
    return False


def build_absolute_url_list(hrefs, seed_url: str) -> list[str]:
    """Absolutize raw TOC hrefs against the seed URL, normalize, and
    first-seen-dedupe while preserving TOC order (reference parity:
    exporters/endnote25_windows.py:46-55, ``build_absolute_url_list``)."""
    from urllib.parse import urljoin

    seen: set[str] = set()
    ordered: list[str] = []
    for href in hrefs:
        abs_url = normalize_url(urljoin(seed_url, href))
        if abs_url in seen:
            continue
        seen.add(abs_url)
        ordered.append(abs_url)
    return ordered


_MD_LINK_RE = re.compile(r"(!?\[[^\]]*\])\(([^)]+)\)")


def _resolve_md_target(target: str, page_url: str) -> str | None:
    """Shared resolution for markdown link targets: strip angle brackets,
    pass mailto through (None), resolve relative against the page URL,
    normalize. One definition so the broadcast rewriter and the
    corpus-scale explode-join rewriter can never disagree on which
    corpus URL a link points at."""
    from urllib.parse import urljoin

    target = target.strip()
    if target.startswith("<") and target.endswith(">"):
        target = target[1:-1].strip()
    if target.startswith("mailto:"):
        return None
    return normalize_url(urljoin(page_url or "", target))


def markdown_link_targets(markdown: str, page_url: str) -> list[str]:
    """Distinct resolved+normalized targets of every ``[label](target)`` /
    ``![alt](target)`` link on a page (mailto excluded) — the explode
    side of the corpus-scale rewrite join."""
    seen: list[str] = []
    for m in _MD_LINK_RE.finditer(markdown or ""):
        resolved = _resolve_md_target(m.group(2), page_url)
        if resolved is not None and resolved not in seen:
            seen.append(resolved)
    return seen


def rewrite_markdown_links(markdown: str, page_url: str,
                           url_to_relpath: dict[str, str]) -> str:
    """Rewrite arbitrary ``[label](target)`` / ``![alt](target)`` links
    whose (relative-resolved, normalized) target is in the corpus map to
    the local relpath, preserving fragments; mailto and unmapped/external
    targets pass through unchanged. Reference parity:
    scripts/export_endnote25_windows.py:347-385 (regex :348, angle-bracket
    strip, mailto guard, fragment re-attach)."""
    def repl(match: re.Match) -> str:
        label = match.group(1)
        target = match.group(2).strip()
        if target.startswith("<") and target.endswith(">"):
            target = target[1:-1].strip()
        resolved = _resolve_md_target(target, page_url)
        if resolved is None:  # mailto
            return match.group(0)
        fragment = urlparse(target).fragment
        local = url_to_relpath.get(resolved)
        if not local:
            return match.group(0)
        new_target = f"{local}#{fragment}" if fragment else local
        return f"{label}({new_target})"

    return _MD_LINK_RE.sub(repl, markdown or "")
