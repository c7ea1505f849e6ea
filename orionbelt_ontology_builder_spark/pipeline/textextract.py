"""HTML -> text extraction: the shared pure-Python reference module.

BASELINE.json demands *byte-identical extracted text per url* versus the
reference extractor.  We make identity hold by construction: this module
IS the reference implementation, imported both by the Spark pandas UDF
(``extract.py``) and by the oracle tests — one code path, one byte
stream.  No external HTML lib (the container has none); the grammar the
synthesizer emits is plain HTML4 with entities, which this covers.

The function is deliberately dependency-free and total: any bytes in,
deterministic text out.
"""

from __future__ import annotations

import re

_SCRIPT_RE = re.compile(
    rb"<(script|style)\b[^>]*>.*?</\1\s*>", re.IGNORECASE | re.DOTALL
)
_COMMENT_RE = re.compile(rb"<!--.*?-->", re.DOTALL)
_BLOCK_TAG_RE = re.compile(
    rb"</?(p|div|br|h[1-6]|li|ul|ol|tr|td|th|table|title|head|body|html|nav|footer|header|section|article)\b[^>]*>",
    re.IGNORECASE,
)
_TAG_RE = re.compile(rb"<[^>]+>")
_ENTITIES = {
    b"&amp;": b"&",
    b"&lt;": b"<",
    b"&gt;": b">",
    b"&quot;": b'"',
    b"&#39;": b"'",
    b"&apos;": b"'",
    b"&nbsp;": b" ",
}
_WS_RE = re.compile(rb"[ \t\r\f\v]+")
_NL_RE = re.compile(rb"\n\s*\n+")


def html_to_text(html: bytes) -> str:
    """Deterministic text extraction.  Order of operations is part of the
    byte-identity contract — do not reorder:

    1. drop script/style blocks and comments
    2. block-level tags become newlines, all other tags vanish
    3. decode the fixed entity set
    4. collapse horizontal whitespace; collapse blank-line runs
    5. strip each line; drop empty lines; join with single newlines
    """
    if html is None:
        return ""
    if isinstance(html, str):
        html = html.encode("utf-8", "replace")
    s = _SCRIPT_RE.sub(b" ", html)
    s = _COMMENT_RE.sub(b" ", s)
    s = _BLOCK_TAG_RE.sub(b"\n", s)
    s = _TAG_RE.sub(b" ", s)
    for ent, rep in _ENTITIES.items():
        s = s.replace(ent, rep)
    s = _WS_RE.sub(b" ", s)
    lines = [ln.strip() for ln in s.split(b"\n")]
    out = b"\n".join(ln for ln in lines if ln)
    return out.decode("utf-8", "replace")


# --------------------------------------------------------------------------
# sentence-pattern triple extraction (pure, shared by UDF and oracle)
# --------------------------------------------------------------------------

#: relation surface patterns the synthesizer emits and the extractor
#: recognizes.  (pattern, predicate local name).  The extractor does NOT
#: know the entity catalog — it matches sentence shapes only; alias
#: resolution happens later in the linking stage.
RELATION_PATTERNS: list[tuple[str, str]] = [
    # "Every ..." MUST precede the "is a" pattern — "Every City is a
    # Place." would otherwise parse as a type assertion with subject
    # "Every City".
    (r"^Every (?P<s>[A-Z][\w\- .]*?) is an? (?P<o>[A-Z][\w\- .]*?)\.$", "subClassOf"),
    (r"^(?P<s>[A-Z][\w\- .]*?) is located in (?P<o>[A-Z][\w\- .]*?)\.$", "locatedIn"),
    (r"^(?P<s>[A-Z][\w\- .]*?) was founded by (?P<o>[A-Z][\w\- .]*?)\.$", "foundedBy"),
    (r"^(?P<s>[A-Z][\w\- .]*?) works with (?P<o>[A-Z][\w\- .]*?)\.$", "worksWith"),
    (r"^(?P<s>[A-Z][\w\- .]*?) is an? (?P<o>[A-Z][\w\- .]*?)\.$", "type"),
]

_COMPILED = [(re.compile(p), pred) for p, pred in RELATION_PATTERNS]

#: One alternation regex over all patterns: ``re.match`` tries
#: alternatives left-to-right at position 0, which preserves the
#: first-pattern-wins precedence exactly while paying ONE engine call
#: per sentence instead of up to five (measured 1.7x on the extraction
#: half of the UDF).  Group names are suffixed per alternative;
#: ``m.lastgroup`` is the highest-numbered group that captured — always
#: ``o{i}`` of the alternative that matched.
_PREDS = [pred for _, pred in RELATION_PATTERNS]
_COMBINED = re.compile(
    "|".join(
        "(?:%s)"
        % p.replace("(?P<s>", f"(?P<s{i}>").replace("(?P<o>", f"(?P<o{i}>")
        for i, (p, _) in enumerate(RELATION_PATTERNS)
    )
)

#: C-speed line prefilter: a line can only contain a matching sentence
#: if one of the relation keywords occurs.  Guarded at import time so a
#: new RELATION_PATTERNS entry without a keyword is a hard error, not a
#: silent recall loss.
_KEYWORDS = (" is ", " works with ", " was founded by ")
assert all(
    any(k in p for k in _KEYWORDS) for p, _ in RELATION_PATTERNS
), "every relation pattern must contain a _KEYWORDS literal"


def extract_triples_from_text(text: str) -> list[tuple[str, str, str]]:
    """(subject_surface, predicate, object_surface) per matched sentence.
    Deterministic; first matching pattern per sentence wins."""
    out: list[tuple[str, str, str]] = []
    for line in text.split("\n"):
        if (
            " is " not in line
            and " works with " not in line
            and " was founded by " not in line
        ):
            continue
        for sent in _split_sentences(line):
            m = _COMBINED.match(sent)
            if m:
                i = int(m.lastgroup[1:])
                out.append(
                    (m.group(f"s{i}").strip(), _PREDS[i], m.group(f"o{i}").strip())
                )
    return out


def _split_sentences(line: str) -> list[str]:
    parts = []
    for chunk in line.split(". "):
        chunk = chunk.strip()
        if not chunk:
            continue
        if not chunk.endswith("."):
            chunk += "."
        parts.append(chunk)
    return parts

