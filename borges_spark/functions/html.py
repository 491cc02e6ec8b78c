"""Vectorized HTML decode / link-extraction / text-extraction.

This is the engine's equivalent of the reference's per-response parse
callbacks (BeautifulSoup `.get_text()` / CSS selects —
Borges/spiders/ECS/metadata.py:41-67, ECS/paper_html.py:50) re-expressed
as Arrow-batched pandas transforms inside `mapInPandas`: one Python
round-trip per partition batch, never per row.

Semantics (frozen, tested against golden fixtures and the generator):
  - charset: sniff `<meta charset="...">` from a latin-1 decode of the
    first 256 bytes; 'windows-1252' -> cp1252 decode, else utf-8
    (models Borges/spiders/IOP/upload_to_mongodb.py:83-86).
  - text: concatenation of <p>...</p> bodies in document order,
    joined by '\\n' — byte-identical to the `pages.text` oracle column.
  - links: every <a href="...">, resolved absolute (scheme-relative,
    root-relative and relative paths) against the page URL, then
    canonicalized (models urljoin use at ECS/issue_link.py:41).
"""

from __future__ import annotations

import re
from urllib.parse import urljoin

from borges_spark.functions.urls import canonicalize_url_py

_META_RE = re.compile(r'<meta\s+charset="([^"]+)"', re.IGNORECASE)
_P_RE = re.compile(r"<p>(.*?)</p>", re.DOTALL)
_A_RE = re.compile(r'<a\s+href="([^"]*)"', re.IGNORECASE)


def decode_html(raw: bytes | None) -> str:
    """Charset-sniffing decode of page bytes."""
    if raw is None:
        return ""
    head = raw[:256].decode("latin-1", errors="replace")
    m = _META_RE.search(head)
    charset = (m.group(1).lower() if m else "utf-8")
    if charset in ("windows-1252", "cp1252", "iso-8859-1", "latin-1"):
        return raw.decode("cp1252", errors="replace")
    return raw.decode("utf-8", errors="replace")


def extract_text(html: str) -> str:
    return "\n".join(_P_RE.findall(html))


def extract_links(page_url: str, html: str) -> list[str]:
    out: list[str] = []
    for href in _A_RE.findall(html):
        if not href or href.startswith(("#", "javascript:", "mailto:")):
            continue
        out.append(canonicalize_url_py(urljoin(page_url, href)))
    return out

