"""Paragraph canonicalization (P1) — byte-identical to the reference.

Reference: preprocess/SentenceSplitter.scala:32-55 (formCanonicalizedParagraphs)
and :172-174 (canonicalizeLine).  This normalization defines the
"byte-identical extracted text per url" invariant (BASELINE.json input_hint):
given the same raw lines, our output must equal the reference's exactly.

Java regex notes encoded here:
  * Java ``\\s`` is ASCII-only ``[ \\t\\n\\x0B\\f\\r]`` — Python ``\\s`` is
    Unicode-aware, so we spell the class out.
  * ``String.replaceAll`` is regex; ``“ ” ’`` are literals, ``\\s+`` is not.
"""

from __future__ import annotations

import re

_JAVA_WS = r"[ \t\n\x0b\f\r]"
_WS_RUN = re.compile(_JAVA_WS + "+")

# html boilerplate stripping for the synthetic web pages: the generator wraps
# text in a fixed template (FIXTURES.md §1); the extractor strips nav/footer
# deterministically.  Real Common-Crawl HTML would use a proper extractor; the
# invariant tested is determinism + byte-identity of the *text* pipeline.
_TAG = re.compile(r"<[^>]*>")
_BOILERPLATE = re.compile(
    r"<nav>.*?</nav>|<footer>.*?</footer>|<script>.*?</script>|<style>.*?</style>",
    re.DOTALL,
)


def canonicalize_line(line: str) -> str:
    """Reference SentenceSplitter.canonicalizeLine — smart quotes to PTB
    quotes, straight double quote to '', curly apostrophe to ', whitespace
    runs to single space."""
    line = line.replace("“", "``").replace("”", "''")
    line = line.replace('"', "''")
    line = line.replace("’", "'")
    return _WS_RUN.sub(" ", line)


def form_canonicalized_paragraphs(lines: list[str]) -> list[str]:
    """Reference SentenceSplitter.formCanonicalizedParagraphs:32-55, in its
    default two-line-breaks mode.

    Blank lines are paragraph breaks, exactly reproducing the reference's
    StringBuffer accumulation: each continuation line is appended with a
    single leading space, the buffer is trimmed before canonicalization, and
    a trailing unterminated paragraph is flushed.
    """
    paragraphs: list[str] = []
    curr: list[str] = []
    for line in lines:
        if line.strip() == "":
            paragraphs.append(canonicalize_line((" " + " ".join(curr)).strip() if curr else ""))
            curr = []
        else:
            curr.append(line)
    if curr and " ".join(curr).strip() != "":
        paragraphs.append(canonicalize_line((" " + " ".join(curr)).strip()))
    return paragraphs


def strip_html(html: str) -> str:
    """Deterministic boilerplate removal for the synthetic page template.

    Drops <nav>/<footer>/<script>/<style> subtrees, strips remaining tags,
    then canonicalizes whitespace.  Pure function of the input bytes."""
    body = _BOILERPLATE.sub(" ", html)
    body = _TAG.sub(" ", body)
    return _WS_RUN.sub(" ", body).strip()


def extract_text(html: str) -> str:
    """extract stage: html -> canonical text (P1 full path)."""
    stripped = strip_html(html)
    paragraphs = form_canonicalized_paragraphs([stripped])
    return "\n".join(p for p in paragraphs if p)
