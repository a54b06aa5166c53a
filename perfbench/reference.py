"""The extraction output check's reference side: digests of
``kernels.extract.extract_doc`` applied outside Spark to the same seeded
documents the corpus generator writes.
"""

from __future__ import annotations

import hashlib


def doc_digest(doc_id: str, spans) -> bytes:
    """Digest of one document's output spans: kind, text, media_ref and
    order of each span, in order. ``None`` and ``""`` differ."""
    h = hashlib.sha256(doc_id.encode())
    for sp in spans:
        h.update(b"\x1d")
        for key in ("kind", "text", "media_ref"):
            v = sp[key]
            h.update(b"\x00" if v is None else b"\x01" + v.encode())
            h.update(b"\x1f")
        h.update(b"%d" % sp["order"])
    return h.digest()


def corpus_digest(digests) -> str:
    """Order-insensitive digest of a set of per-document digests."""
    h = hashlib.sha256()
    for d in sorted(digests):
        h.update(d)
    return h.hexdigest()


def reference_digests(n_docs: int, seed: int) -> list[bytes]:
    """Per-document digests of ``extract_doc`` applied, in this process,
    to documents ``0..n_docs-1`` generated with ``seed``."""
    from extract_ocr_spark.datagen import gen_doc
    from extract_ocr_spark.kernels.extract import extract_doc

    out = []
    for i in range(n_docs):
        doc = gen_doc(i, seed)
        try:
            spans = extract_doc(doc["doc_id"], doc["spans"])
        except Exception:  # noqa: BLE001 - such docs commit as 'error'
            continue
        out.append(doc_digest(doc["doc_id"], spans))
    return out
