"""Per-publisher article extractors — the parse-fidelity layer.

Behavioral re-implementations (NOT ports) of the reference's extraction
semantics, as pure functions wrapped in Arrow-batched mapInPandas. The
frozen semantics and their sources:

  - JATS XML (IOP `article_xml_extractor.py`, Springer
    `SpringerXMLDataExtractor.py`):
      * DOI from article-id[@pub-id-type='doi'] (IOP :86-93); missing
        DOI -> abort row with note (Springer :96-104)
      * title: strip tex-math/xref/fn sub-elements, join itertext,
        drop newlines, collapse whitespace (IOP :163-201)
      * abstract: reject summary-marker abstracts with Highlight/Figure
        exceptions (IOP :296-323), strip leading 'Abstract' title and
        inline formulas, strip the ECS copyright notice (IOP :354-362)
      * authors: 'Last, First' -> 'First Last' (Springer :203-204);
        drop CJK-only parenthetical duplicates (IOP :203-277)
      * journal: journal-title -> publisher-id fallback (IOP :96-115)
      * issn: ppub -> epub fallback (IOP :117-136); year likewise
        (IOP :146-161)
      * contains_body: <body> presence with non-empty text
        (IOP :370-386)
  - ECS HTML (`ECS/metadata.py:41-67`, `ECS/paper_html.py:50`):
      * DOI from the .slug-doi element, title from citation_title,
        open-access from an OA marker element, full text from
        div.article.fulltext-view

Implemented with stdlib re + xml.etree (lxml is not in this image);
all called through mapInPandas so Python cost is Arrow-batched.
"""

from __future__ import annotations

import re
import xml.etree.ElementTree as ET
from collections.abc import Iterator

import pandas as pd

from borges_spark.functions.html import decode_html

# CJK unicode ranges (the reference's 14-range table,
# IOP article_xml_extractor.py:34-49)
CJK_RANGES = [
    (0x4E00, 0x9FFF), (0x3400, 0x4DBF), (0x20000, 0x2A6DF), (0x2A700, 0x2B73F),
    (0x2B740, 0x2B81F), (0x2B820, 0x2CEAF), (0xF900, 0xFAFF), (0x2F800, 0x2FA1F),
    (0x3040, 0x309F), (0x30A0, 0x30FF), (0xAC00, 0xD7AF), (0x1100, 0x11FF),
    (0x3130, 0x318F), (0xA960, 0xA97F),
]

# abstract summary markers (IOP article_xml_extractor.py:296-323):
# abstracts that are really section summaries are rejected, except the
# Highlight/Figure exceptions
SUMMARY_MARKERS = [
    "Synopsis", "Key points", "Key Points", "Summary", "Teaser",
    "Graphical abstract", "Lay description", "Abbreviations",
    "Editor's Note", "Plain Language Summary", "Novelty statement",
    "Significance Statement", "Research Highlights",
]
MARKER_EXCEPTIONS = ["Highlight", "Figure"]

ECS_COPYRIGHT = (
    "This article is available under the terms of the IOP-Standard License."
)

STRIP_TAGS = {"tex-math", "xref", "fn"}

PAPER_SCHEMA = (
    "doc_id string, publisher string, doi string, title string, abstract string, "
    "authors array<string>, journal string, issn string, issue string, "
    "published_year int, open_access boolean, full_text string, "
    "contains_body boolean, notes array<string>"
)


def is_cjk_char(ch: str) -> bool:
    cp = ord(ch)
    return any(lo <= cp <= hi for lo, hi in CJK_RANGES)


def is_cjk_only(s: str) -> bool:
    letters = [c for c in s if c.isalpha()]
    return bool(letters) and all(is_cjk_char(c) for c in letters)


def has_cjk(s: str) -> bool:
    return any(is_cjk_char(c) for c in s)


def _ns_strip(tag: str) -> str:
    return tag.rsplit("}", 1)[-1]


def _itertext_stripped(elem: ET.Element) -> str:
    """itertext-join after removing the strip-tag sub-elements, then
    newline removal + whitespace collapse (IOP :163-201 semantics)."""
    clone = _strip_elements(elem)
    txt = "".join(clone.itertext())
    txt = txt.replace("\n", " ")
    return " ".join(txt.split())


def _strip_elements(elem: ET.Element, tags: set[str] = STRIP_TAGS) -> ET.Element:
    """Remove sub-elements but keep their tail text (the reference's
    lxml strip_elements(..., with_tail=False) behavior — removing a
    child in ElementTree would otherwise drop the text after it)."""
    import copy

    clone = copy.deepcopy(elem)
    for parent in clone.iter():
        children = list(parent)
        for idx, child in enumerate(children):
            if _ns_strip(child.tag) in tags:
                tail = child.tail or ""
                prev = None
                for j in range(idx - 1, -1, -1):
                    if children[j] in list(parent):
                        prev = children[j]
                        break
                if prev is not None:
                    prev.tail = (prev.tail or "") + tail
                else:
                    parent.text = (parent.text or "") + tail
                parent.remove(child)
    return clone


def _find(root: ET.Element, path_tail: str) -> ET.Element | None:
    for e in root.iter():
        if _ns_strip(e.tag) == path_tail:
            return e
    return None


def _findall(root: ET.Element, tag: str) -> list[ET.Element]:
    return [e for e in root.iter() if _ns_strip(e.tag) == tag]


def reorder_author(name: str) -> str:
    parts = name.split(", ")
    if len(parts) == 2:
        return f"{parts[1]} {parts[0]}"
    return name


def _abstract_ok(text: str) -> bool:
    for marker in SUMMARY_MARKERS:
        if marker in text and not any(ex in text for ex in MARKER_EXCEPTIONS):
            return False
    return True


def extract_jats(doc_id: str, raw: bytes, publisher: str = "IOP") -> dict:
    """One JATS XML document -> a PAPER_SCHEMA dict."""
    notes: list[str] = []
    out = {
        "doc_id": doc_id, "publisher": publisher, "doi": None, "title": None,
        "abstract": None, "authors": None, "journal": None, "issn": None,
        "issue": None, "published_year": None, "open_access": None,
        "full_text": None, "contains_body": False, "notes": notes,
    }
    try:
        root = ET.fromstring(decode_html(raw))
    except ET.ParseError as ex:
        notes.append(f"parse_error: {ex}")
        return out

    # DOI — abort row with a note when missing (Springer :96-104)
    for aid in _findall(root, "article-id"):
        if aid.get("pub-id-type") == "doi" and (aid.text or "").strip():
            out["doi"] = aid.text.strip()
            break
    if out["doi"] is None:
        notes.append("missing_doi")
        return out

    # journal: journal-title -> publisher-id fallback (IOP :96-115)
    jt = _find(root, "journal-title")
    if jt is not None and (jt.text or "").strip():
        out["journal"] = jt.text.strip()
    else:
        for jid in _findall(root, "journal-id"):
            if jid.get("journal-id-type") == "publisher-id" and (jid.text or "").strip():
                out["journal"] = jid.text.strip()
                notes.append("journal_from_publisher_id")
                break

    # issn: ppub preferred, epub fallback (IOP :117-136)
    issns = {i.get("pub-type"): (i.text or "").strip() for i in _findall(root, "issn")}
    out["issn"] = issns.get("ppub") or issns.get("epub") or None

    # year: ppub -> epub fallback (IOP :146-161)
    for want in ("ppub", "epub"):
        for pd_el in _findall(root, "pub-date"):
            if pd_el.get("pub-type") == want:
                y = _find(pd_el, "year")
                if y is not None and (y.text or "").strip().isdigit():
                    out["published_year"] = int(y.text.strip())
                    break
        if out["published_year"] is not None:
            break

    iss = _find(root, "issue")
    if iss is not None and (iss.text or "").strip():
        out["issue"] = iss.text.strip()

    # title: strip + itertext + ws-collapse (IOP :163-201)
    title_el = _find(root, "article-title")
    if title_el is not None:
        out["title"] = _itertext_stripped(title_el) or None

    # authors: Last, First -> First Last; drop CJK-only variants
    authors: list[str] = []
    for contrib in _findall(root, "contrib"):
        surname = _find(contrib, "surname")
        given = _find(contrib, "given-names")
        if surname is None:
            continue
        sn = (surname.text or "").strip()
        gn = (given.text or "").strip() if given is not None else ""
        if is_cjk_only(sn) and (not gn or is_cjk_only(gn)):
            notes.append("cjk_only_author_dropped")
            continue
        authors.append(reorder_author(f"{sn}, {gn}") if gn else sn)
    out["authors"] = authors or None

    # abstract: marker filter, title strip, formula strip, (c) strip
    abs_el = _find(root, "abstract")
    if abs_el is not None:
        clone = _strip_elements(abs_el, STRIP_TAGS | {"title", "inline-formula"})
        text = " ".join("".join(clone.itertext()).replace("\n", " ").split())
        text = text.replace(ECS_COPYRIGHT, "").strip()
        if text and _abstract_ok(text):
            out["abstract"] = text
        elif text:
            notes.append("abstract_rejected_summary_marker")

    # body (IOP :370-386)
    body = _find(root, "body")
    if body is not None:
        ft = _itertext_stripped(body)
        out["contains_body"] = bool(ft)
        out["full_text"] = ft or None
    return out


# --- shared HTML micro-helpers (DOM-faithful where the reference walks
#     a real DOM: meta tags tolerate attribute order/quoting, div
#     extraction tracks nesting depth) --------------------------------

_META_TAG_RE = re.compile(r"<meta\b[^>]*>", re.IGNORECASE)
_ATTR_NAME_RE = re.compile(r"""\bname\s*=\s*(?:"([^"]*)"|'([^']*)')""", re.IGNORECASE)
_ATTR_CONTENT_RE = re.compile(r"""\bcontent\s*=\s*(?:"([^"]*)"|'([^']*)')""", re.IGNORECASE)


def _iter_meta(html: str):
    """(name, content) for every <meta> tag, in document order. The
    reference reads meta tags through a DOM (attribute order and quote
    style are invisible there); a rigid name-before-content double-quote
    regex silently drops reordered or single-quoted tags."""
    for m in _META_TAG_RE.finditer(html):
        tag = m.group(0)
        nm = _ATTR_NAME_RE.search(tag)
        cm = _ATTR_CONTENT_RE.search(tag)
        if nm and cm:
            name = nm.group(1) if nm.group(1) is not None else nm.group(2)
            content = cm.group(1) if cm.group(1) is not None else cm.group(2)
            yield name, content


_DIV_TAG_RE = re.compile(r"</?div\b[^>]*>", re.IGNORECASE)


def _balanced_div_inner(html: str, open_re: re.Pattern) -> str | None:
    """Inner HTML of the first div matched by `open_re`, closed at the
    MATCHING </div> (nested-div depth tracked). The reference's DOM
    selectors return the whole subtree; a non-greedy (.*?)</div> would
    truncate at the first nested close tag. An unclosed div yields the
    rest of the document (html.parser leniency)."""
    m = open_re.search(html)
    if not m:
        return None
    depth = 1
    pos = m.end()
    for t in _DIV_TAG_RE.finditer(html, pos):
        if t.group(0).startswith("</"):
            depth -= 1
            if depth == 0:
                return html[pos:t.start()]
        else:
            depth += 1
    return html[pos:]


# --- ECS-style HTML extraction (regex CSS-lite; ECS/metadata.py:41-67) ----

_DOI_RE = re.compile(r'class="slug-doi"[^>]*>([^<]+)<')
_OA_RE = re.compile(r'class="open-access-marker"')
_FULLTEXT_OPEN_RE = re.compile(r'<div class="article fulltext-view"[^>]*>')
_TAG_RE = re.compile(r"<[^>]+>")


def extract_ecs_html(doc_id: str, raw: bytes) -> dict:
    html = decode_html(raw)
    notes: list[str] = []
    doi_m = _DOI_RE.search(html)
    title = next(
        (c.strip() for n, c in _iter_meta(html) if n == "citation_title"), None
    )
    ft = _balanced_div_inner(html, _FULLTEXT_OPEN_RE)
    full_text = None
    if ft is not None:
        full_text = " ".join(_TAG_RE.sub(" ", ft).split()) or None
    if not doi_m:
        notes.append("missing_doi")
    return {
        "doc_id": doc_id, "publisher": "ECS",
        "doi": doi_m.group(1).strip() if doi_m else None,
        "title": title,
        "abstract": None, "authors": None, "journal": None, "issn": None,
        "issue": None, "published_year": None,
        "open_access": bool(_OA_RE.search(html)),
        "full_text": full_text,
        "contains_body": full_text is not None,
        "notes": notes,
    }


# --- citation-meta HTML extraction (AIP HTML-era pattern:
#     Borges/spiders/AIP/aip_spider.py:95-131 pulls structured fields
#     from meta tags / DOM; here: the citation_* meta-tag family) -----

def extract_meta_html(doc_id: str, raw: bytes, publisher: str = "AIP") -> dict:
    html = decode_html(raw)
    fields: dict[str, list[str]] = {}
    for name, content in _iter_meta(html):
        if name.startswith("citation_") and re.fullmatch(r"[a-z_]+", name[9:]):
            fields.setdefault(name[9:], []).append(content.strip())

    def first(name: str) -> str | None:
        vals = fields.get(name)
        return vals[0] if vals else None

    notes: list[str] = []
    doi = first("doi")
    if doi is None:
        notes.append("missing_doi")
    year = None
    date = first("publication_date") or first("date")
    if date and date[:4].isdigit():
        year = int(date[:4])  # 'prism:coverDate'.split('-')[0] semantics
    authors = [reorder_author(a) for a in fields.get("author", [])] or None
    return {
        "doc_id": doc_id, "publisher": publisher, "doi": doi,
        "title": first("title"), "abstract": first("abstract"),
        "authors": authors, "journal": first("journal_title"),
        "issn": first("issn"), "issue": first("issue"),
        "published_year": year, "open_access": None,
        "full_text": None, "contains_body": False, "notes": notes,
    }


# --- RSC article/issue extraction (Splash-rendered DOM in the reference;
#     Borges/spiders/RSC/metadata.py:73-118). The reference renders JS via
#     Splash and walks the DOM with CSS selectors; here the same selector
#     semantics run as CSS-lite regexes over the (already-rendered) HTML —
#     rendering latency is a fetch-layer concern (sources/fetcher), the
#     extraction contract lives here. ------------------------------------

# metadata.py:34 — issue listings drop covers and front/back matter
RSC_EXCLUDE_ARTICLE_TYPES = ("Cover", "Front/Back Matter")

_RSC_TITLE_RE = re.compile(
    r'<h2 class="capsule__title"[^>]*>(.*?)</h2>', re.DOTALL
)  # div.article__title > h2.capsule__title (metadata.py:88)
_RSC_ABSTRACT_OPEN_RE = re.compile(
    r'<div class="capsule__text"[^>]*>'
)  # div.capsule__text (metadata.py:91); nested-div aware via _balanced_div_inner
_RSC_DOI_URL_RE = re.compile(
    r'<dd class="c__24">\s*<a class="text--small"[^>]*>([^<]+)</a>'
)  # dd.c__24 > a.text--small (metadata.py:94)
_RSC_AUTHOR_RE = re.compile(
    r'<label class="input__label"[^>]*>(.*?)</label>', re.DOTALL
)  # label.input__label (metadata.py:103-105; reference notes junk rides along)
_RSC_TYPE_RE = re.compile(
    r'<span class="capsule__context"[^>]*>(.*?)</span>', re.DOTALL
)  # span.capsule__context (metadata.py:53-55)
_RSC_JOURNAL_RE = re.compile(
    r'<div class="page-head__vcenter"[^>]*>\s*<span[^>]*>(.*?)</span>', re.DOTALL
)  # .page-head__vcenter > span:nth-child(1) (metadata.py:77)
_RSC_ISSUE_HDR_RE = re.compile(
    r'id="tabissues".*?class="h--heading4"[^>]*>(.*?)<', re.DOTALL
)  # '#tabissues .h--heading4' (metadata.py:79)


def _bs_text(fragment: str) -> str:
    """BeautifulSoup get_text().strip() semantics: drop tags, keep text
    node concatenation, trim only the ends."""
    return _TAG_RE.sub("", fragment).strip()


def extract_rsc_html(doc_id: str, raw: bytes) -> dict:
    """RSC article-page extraction (metadata.py:86-118): title, abstract,
    DOI from the displayed doi.org URL (split on '.org/' — :94-95),
    authors from input labels, plus issue-header journal/year/issue when
    the fragment carries them (:75-84). Articles whose capsule context is
    an excluded type (Cover, Front/Back Matter — :34,56) are flagged
    'excluded_type' in notes, mirroring the listing-level skip."""
    html = decode_html(raw)
    notes: list[str] = []

    type_m = _RSC_TYPE_RE.search(html)
    article_type = _bs_text(type_m.group(1)) if type_m else None
    if article_type in RSC_EXCLUDE_ARTICLE_TYPES:
        notes.append("excluded_type")
    # metadata.py:55 — open access marker is an <img> inside the context span
    open_access = bool(type_m and "<img" in type_m.group(1))

    doi = None
    doi_m = _RSC_DOI_URL_RE.search(html)
    if doi_m:
        doi_url = _bs_text(doi_m.group(1))
        if ".org/" in doi_url:
            doi = doi_url.split(".org/")[1]  # metadata.py:95
    if doi is None:
        notes.append("missing_doi")

    title_m = _RSC_TITLE_RE.search(html)
    abstract_frag = _balanced_div_inner(html, _RSC_ABSTRACT_OPEN_RE)
    authors = [_bs_text(a) for a in _RSC_AUTHOR_RE.findall(html)] or None

    journal_m = _RSC_JOURNAL_RE.search(html)
    issue_hdr = _RSC_ISSUE_HDR_RE.search(html)
    year = issue = None
    if issue_hdr:
        # metadata.py:79-81: 'Volume 148, 2023, Issue 12'-style header;
        # year = last 4 chars of the first comma field, issue = last 2 of
        # the second
        parts = _bs_text(issue_hdr.group(1)).split(",")
        if parts and parts[0][-4:].isdigit():
            year = int(parts[0][-4:])
        if len(parts) > 1 and parts[1][-2:].strip().isdigit():
            issue = parts[1][-2:].strip()

    return {
        "doc_id": doc_id, "publisher": "RSC",
        "doi": doi,
        "title": _bs_text(title_m.group(1)) if title_m else None,
        "abstract": _bs_text(abstract_frag) if abstract_frag is not None else None,
        "authors": authors,
        "journal": _bs_text(journal_m.group(1)) if journal_m else None,
        "issn": None, "issue": issue, "published_year": year,
        "open_access": open_access,
        "full_text": None, "contains_body": False,
        "notes": notes,
    }


# --- Springer dc./prism. meta extraction
#     (Borges/spiders/SpringerNature/scripts/SpringerXMLDataExtractor.py:
#     85-232 pulls every field from dc.*/prism.* meta tags — a different
#     vocabulary from the citation_* family). ---------------------------

def extract_springer_meta(doc_id: str, raw: bytes) -> dict:
    """Springer meta-tag extraction with the reference's exact fallback
    chain: DOI from `meta[name=DOI]`, else `prism.doi` with the 'doi:'
    prefix stripped (:85-107), publisher dc.publisher with
    inferred-SpringerNature note (:108-119), journal
    prism.publicationName, issn prism.issn, issue prism.number, year =
    dc.date's leading 4 digits (:156-165), title dc.title, authors
    dc.creator reordered 'Last, First' -> 'First Last' (:192-207),
    abstract dc.description."""
    html = decode_html(raw)
    fields: dict[str, list[str]] = {}
    for name, content in _iter_meta(html):
        if re.fullmatch(r"[A-Za-z._]+", name):
            fields.setdefault(name, []).append(content.strip())

    def first(name: str) -> str | None:
        vals = fields.get(name)
        return vals[0] if vals else None

    notes: list[str] = []
    doi = first("DOI")
    if doi is None:
        prism = first("prism.doi")
        if prism is not None and "doi:" in prism:
            doi = prism.split("doi:")[1]  # :103-104
    if doi is None:
        notes.append("missing_doi")  # "No DOI! Aborting..." (:99-102)

    publisher = first("dc.publisher")
    if publisher is None:
        publisher = "SpringerNature"
        notes.append("publisher_inferred")  # :118-119
    elif publisher != "SpringerNature":
        notes.append("publisher_not_springer")  # :115-116

    year = None
    date = first("dc.date")
    if date:
        y = date.split("-")[0]
        if len(y) == 4 and y.isnumeric():  # :162-163 assert semantics
            year = int(y)

    authors: list[str] | None = []
    for a in fields.get("dc.creator", []):
        parts = a.split(", ")
        if len(parts) >= 2:
            authors.append(f"{parts[1]} {parts[0]}")  # :204 reorder
        else:
            authors = None  # reference nulls the whole list on error (:205-207)
            notes.append("author_reorder_failed")
            break
    if authors is not None and not authors:
        authors = None

    return {
        "doc_id": doc_id, "publisher": publisher, "doi": doi,
        "title": first("dc.title"), "abstract": first("dc.description"),
        "authors": authors, "journal": first("prism.publicationName"),
        "issn": first("prism.issn"), "issue": first("prism.number"),
        "published_year": year, "open_access": None,
        "full_text": None, "contains_body": False, "notes": notes,
    }


# --- AIP issue-listing DOM extraction (the HTML-era path:
#     Borges/spiders/AIP/aip_spider.py:93-131 parse_paper_meta walks the
#     `.card-cont` cards of an issue listing). One listing page yields
#     MANY paper rows — the only multi-row extractor in the family. ------

_AIP_CARD_RE = re.compile(r'class="card-cont"')
_AIP_OA_RE = re.compile(r'<span class="access-text"')  # :105-108
_AIP_TITLE_RE = re.compile(r'<h4 class="hlFld-Title"[^>]*>(.*?)</h4>', re.DOTALL)  # :111-113
_AIP_LINK_RE = re.compile(
    r'<div class="art_title linkable"[^>]*>.*?<a[^>]*href="([^"]+)"', re.DOTALL
)  # :115-119
_AIP_AUTHOR_BLOCK_RE = re.compile(
    r'class="hlFld-ContribAuthor"[^>]*>(.*?)</(?:span|div)>', re.DOTALL
)  # :121-126
_AIP_A_RE = re.compile(r"<a[^>]*>(.*?)</a>", re.DOTALL)


def extract_aip_listing(doc_id: str, raw: bytes) -> list[dict]:
    """AIP issue-listing cards -> one PAPER_SCHEMA row per paper
    (aip_spider.py:95-131): DOI = last two path segments of the article
    link (:119), open access = access-text span present (:105-108),
    authors from the contributor links (:121-126)."""
    html = decode_html(raw)
    cards = [m.start() for m in _AIP_CARD_RE.finditer(html)]
    rows: list[dict] = []
    for i, start in enumerate(cards):
        end = cards[i + 1] if i + 1 < len(cards) else len(html)
        card = html[start:end]
        notes: list[str] = []
        link_m = _AIP_LINK_RE.search(card)
        doi = None
        if link_m:
            doi = "/".join(link_m.group(1).split("/")[-2:])  # :119
        if doi is None:
            notes.append("missing_doi")
        title_m = _AIP_TITLE_RE.search(card)
        authors = []
        for block in _AIP_AUTHOR_BLOCK_RE.findall(card):
            authors.extend(_bs_text(a) for a in _AIP_A_RE.findall(block))
        rows.append({
            "doc_id": f"{doc_id}:{i}", "publisher": "AIP", "doi": doi,
            "title": _bs_text(title_m.group(1)) if title_m else None,
            "abstract": None, "authors": authors or None,
            "journal": None, "issn": None, "issue": None,
            "published_year": None,
            "open_access": bool(_AIP_OA_RE.search(card)),
            "full_text": None, "contains_body": False, "notes": notes,
        })
    return rows


def parse_documents(df, fmt_col: str = "fmt"):
    """mapInPandas driver: (doc_id, publisher, fmt, body) -> PAPER_SCHEMA."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for doc_id, publisher, fmt, body in zip(
                pdf["doc_id"], pdf["publisher"], pdf[fmt_col], pdf["body"]
            ):
                raw = bytes(body) if body is not None else b""
                if fmt == "jats_xml":
                    rows.append(extract_jats(str(doc_id), raw, publisher))
                elif fmt == "meta_html":
                    rows.append(extract_meta_html(str(doc_id), raw, publisher))
                elif fmt == "rsc_html":
                    rows.append(extract_rsc_html(str(doc_id), raw))
                elif fmt == "aip_listing":
                    rows.extend(extract_aip_listing(str(doc_id), raw))
                elif fmt == "springer_meta":
                    rows.append(extract_springer_meta(str(doc_id), raw))
                else:
                    rows.append(extract_ecs_html(str(doc_id), raw))
            # explicit columns: a batch can legitimately produce ZERO rows
            # (aip_listing pages with no cards), and pd.DataFrame([]) has
            # no columns for Arrow to conform to PAPER_SCHEMA
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "publisher", "doi", "title", "abstract",
                    "authors", "journal", "issn", "issue", "published_year",
                    "open_access", "full_text", "contains_body", "notes",
                ],
            )

    return df.mapInPandas(batches, PAPER_SCHEMA)
