"""PTB tokenization (P3) — port of the reference's regex cascade semantics.

Reference: preprocess/Tokenizer.scala:27-99 (CustomPTBTokenizer), itself
derived from the public www.cis.upenn.edu/~treebank/tokenizer.sed.

Faithfulness notes (each encoded below):
  * Java ``String.replace`` is literal, ``replaceAll`` is regex — mirrored
    with ``str.replace`` vs ``re.sub``.
  * Java ``$1`` for a non-participating optional group substitutes the empty
    string; Python raises — handled with a lambda.
  * The comma-in-number guard relies on non-overlapping regex scans
    ("1,2,3" -> "1COMMAMARKER2,3"), identical in Java and Python.
  * Symbol/bracket/suffix replacement loops are order-independent (disjoint
    literal keys), so Scala Set iteration order does not matter.
  * Java ``\\s`` is ASCII-only; spelled out as a class.
"""

from __future__ import annotations

import re

PUNC_SYMBOLS = ["?", "!", ",", ";", ":", "@", "#", "$", "%", "&"]
BRACKET_SYMBOLS = ["(", ")", "[", "]", "{", "}"]
ALL_SYMBOLS = PUNC_SYMBOLS + BRACKET_SYMBOLS

REPLACEMENT_MAP = {
    "(": "-LRB-",
    ")": "-RRB-",
    "[": "-LSB-",
    "]": "-RSB-",
    "{": "-LCB-",
    "}": "-RCB-",
}

_SUFFIXES = {"'ll ": " 'll ", "'re ": " 're ", "'ve ": " 've ", "n't ": " n't "}
SUFFIXES_MAP = dict(_SUFFIXES)
SUFFIXES_MAP.update({k.upper(): v.upper() for k, v in _SUFFIXES.items()})

_JAVA_WS = r"[ \t\n\x0b\f\r]"
_FINAL_PERIOD = re.compile(r"\.(['\"\)}\]]|(''))? $")
_APOS_BEFORE_SPACE = re.compile(r"([^'])' ")
_APOS_AFTER_SPACE = re.compile(r" '([^'" + _JAVA_WS[1:-1] + r"])")
_CLITIC = re.compile(r"([^" + _JAVA_WS[1:-1] + r"])'([sSmMdD])")
_SPLIT_WS = re.compile(_JAVA_WS + "+")


def ptb_tokenize(sentence: str) -> list[str]:
    """Tokenize one sentence; returns PTB tokens (brackets as -LRB- etc.)."""
    s = " " + sentence.strip() + " "
    # Fix quotes (reference Tokenizer.scala:33-34)
    s = s.replace(' "', " `` ")
    s = s.replace('"', "''")
    # Ellipses before periods (:36)
    s = s.replace("...", " ... ")
    # Final period, possibly followed by closer (:39) — Java $1 of a
    # non-participating group is "".
    s = _FINAL_PERIOD.sub(lambda m: " . " + (m.group(1) or "") + " ", s)
    # Break out quotes (:41)
    s = s.replace("''", " '' ")
    # Dashes (:43)
    s = s.replace("--", " -- ")
    # Keep commas inside numbers (:46)
    s = re.sub(r"(\d),(\d)", r"\1COMMAMARKER\2", s)
    for sym in ALL_SYMBOLS:
        s = s.replace(sym, " " + sym + " ")
    s = s.replace("COMMAMARKER", ",")
    for k, v in REPLACEMENT_MAP.items():
        s = s.replace(k, v)
    for k, v in SUFFIXES_MAP.items():
        s = s.replace(k, v)
    # Possessive / quote apostrophes (:63-65)
    s = _APOS_BEFORE_SPACE.sub(r"\1 ' ", s)
    s = _APOS_AFTER_SPACE.sub(r" ' \1", s)
    s = _CLITIC.sub(r"\1 '\2 ", s)
    s = s.strip()
    return _SPLIT_WS.split(s) if s else []
