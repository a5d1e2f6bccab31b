"""Document cleaning UDFs.

Behavioral port of the reference's order-sensitive regex chain
(src/data/textparsing.py:6-78 ``clean_doc``) plus the lightweight
preprocessors (src/rdf_graph/rdf_extract.py:42-82). The chain must stay
in ONE pandas UDF — the substitutions are order-sensitive, so expressing
them as stacked ``regexp_replace`` columns would let Catalyst reorder
nothing but would force 12 string materializations per row; a single
Arrow-batched pass is both correct and faster (SURVEY.md §2.2).

The spaCy-vocab check used by the hyphenated-word merge
(textparsing.py:58-66) becomes a broadcast frozenset of the closed
synthetic lexicon.
"""

from __future__ import annotations

import re
from typing import Iterator

import pandas as pd

# --- the clean_doc regex chain, semantics from textparsing.py:12-31 ------
RE_CITATIONS_NUMERIC = re.compile(r"(\[\d+)(,\s*\d+)*]")
RE_URL = re.compile(
    r"((http|ftp|https):\/\/)?[-a-zA-Z0-9@:%._\+~#=]\"{2,256}\.[a-z]{2,6}"
    r"\b([-a-zA-Z0-9@:%_\+.~#?&//=]*)")
RE_INTEXT_CITE = re.compile(
    r"((?:[A-Za-z][A-Za-z'`-éü-]+)(?:,? (?:(?:and |& )"
    r"?(?:[A-Za-z][A-Za-z'`-éü-]+)|(?:et al.?)))*(?:,* "
    r"*((?:19|20)[0-9][0-9][a-z]*)(\s*&\s*[0-9]*[a-z]*)"
    r"*(, (\d+))*(?:, p.? [0-9]+)?| *\\((?:19|20)[0-9]"
    r"[0-9][a-z](\s*&)(?:, p.? [0-9]+)?\\)))")
RE_EMPTY_CITE = re.compile(r"\(([\s]*[;]+[\s]*)+\)")
RE_EMPTY_EG = re.compile(r"\(e.g.[\s*;\s*]*[,]*\s*\)")
RE_CLICK_HERE = re.compile(r"Click here[^.]*\.")
RE_CID = re.compile(r"\(cid:\d+\)")
RE_EMAIL = re.compile(r"[\w.-]+@[\w.-]+")
RE_EMPTY_PARENS = re.compile(r"\(\s*\)")
RE_EMPTY_SEE = re.compile(r"\(see(\s)*\)")
RE_SPONSORS = re.compile(r"(This work was supported).+")
RE_ARXIV_HEADER = re.compile(r"(a r X i v).*?(?=[a-zA-Z]{2,})")
RE_VIXRA_HEADER = re.compile(r"^(\s?.?\s)+(v i X r a)")
RE_HYPHENATED = re.compile(r"\S(?=\S*[-]\s)([a-zA-Z-]+)(\s)[A-za-z]+")

# rdf_extract.py:25-39 preprocessor patterns
RE_BREAK = re.compile(r"\n+")
RE_SPACE = re.compile(r"\s+")


_RE_YEAR_GATE = re.compile(r"(?:19|20)\d\d")

# --- windowed in-text-citation sub -----------------------------------------
# RE_INTEXT_CITE is by far the most expensive pattern in the chain (deep
# backtracking at every word start). Matches can only contain characters
# from the pattern's alphabet: letters, digits, whitespace, and
# ' - , & . ( ) \ plus the 0x60-0xE9 range of the word class (`{|}~` and
# Latin-1 letters) — EXCEPT at the two unescaped-dot positions ("et al.?"
# and ", p.? [0-9]+"), where one arbitrary character can be consumed.
# Characters outside that alphabet are therefore hard match boundaries,
# UNLESS directly preceded by "et al" or ", p" (the dot contexts). Those
# two facts make the segment-split below EXACTLY equivalent to running
# the sub over the whole document: split only at non-alphabet runs whose
# start is not a dot context, and substitute only in segments that pass
# the year gate (both pattern arms require a 19xx/20xx literal).
_CITE_SEP = re.compile(r"[!\"#$%*+/:;<=>?@\[\]^_]+")


def _sub_intext_cite(doc: str) -> str:
    pieces: list[str] = []
    last = 0
    for m in _CITE_SEP.finditer(doc):
        i = m.start()
        if (doc[max(0, i - 5):i].endswith("et al")
                or doc[max(0, i - 3):i].endswith(", p")):
            continue  # possible unescaped-dot consumption — don't split
        seg = doc[last:i]
        pieces.append(RE_INTEXT_CITE.sub(" Citation ", seg)
                      if _RE_YEAR_GATE.search(seg) else seg)
        pieces.append(m.group(0))
        last = m.end()
    seg = doc[last:]
    pieces.append(RE_INTEXT_CITE.sub(" Citation ", seg)
                  if _RE_YEAR_GATE.search(seg) else seg)
    return "".join(pieces)


def clean_document(doc: str, lexicon: frozenset[str]) -> str:
    """Pure-function port of clean_doc (textparsing.py:33-78).

    Each expensive regex is gated by a cheap necessary-condition
    substring scan — semantics identical (the gate can only skip a
    pattern that cannot match), cost drops ~3× on clean documents.
    This is the vectorization priority the reference itself names
    (doc/lessons_learned.md:45) applied to the regex chain."""
    if "(cid:" in doc:
        doc = RE_CID.sub(" ", doc)
    if "[" in doc:
        doc = RE_CITATIONS_NUMERIC.sub(" NumericCitation ", doc)
    if '"' in doc:  # the reference URL pattern requires literal quotes
        doc = RE_URL.sub(" ", doc)
    # both alternation branches of the in-text-cite pattern require a
    # 19xx/20xx year literal; the segment-split applies the expensive
    # pattern only to year-bearing spans (exact-equivalence argument at
    # _CITE_SEP above; pinned by the direct-vs-split parity test)
    if _RE_YEAR_GATE.search(doc):
        doc = _sub_intext_cite(doc)
    if "(" in doc:
        doc = RE_EMPTY_CITE.sub(" ", doc)
        doc = RE_EMPTY_EG.sub(" ", doc)
    if "Click here" in doc:
        doc = RE_CLICK_HERE.sub(" ", doc)
    if "@" in doc:
        doc = RE_EMAIL.sub(" ", doc)
    if "(" in doc:
        doc = RE_EMPTY_PARENS.sub(" ", doc)
        doc = RE_EMPTY_SEE.sub(" ", doc)
    if "a r X i v" in doc:
        doc = RE_ARXIV_HEADER.sub(" ", doc)
    if "v i X r a" in doc:
        doc = RE_VIXRA_HEADER.sub(" ", doc)

    # sponsor tail: only removed when it starts in the 2nd half
    # (textparsing.py:49-51)
    if "This work was supported" in doc:
        for m in RE_SPONSORS.finditer(doc):
            if m.start() > (len(doc) / 2):
                doc = RE_SPONSORS.sub(" ", doc)

    # hyphenated line-break words (textparsing.py:53-68): merge when the
    # merged form is in the vocabulary; else keep the hyphen if every part
    # is a word; else merge anyway.
    for m in (list(RE_HYPHENATED.finditer(doc)) if "- " in doc else []):
        match = m.group(0)
        merged = match.replace(" ", "").replace("-", "")
        if merged in lexicon:
            doc = doc.replace(match, merged)
        else:
            parts = match.replace(" ", "").split("-")
            if all(p in lexicon for p in parts):
                doc = doc.replace(match, match.replace(" ", ""))
            else:
                doc = doc.replace(match, merged)

    # 500-char-prefix dedup (PubMed double-body guard, textparsing.py:70-76)
    prefix = doc[0:500]
    if prefix and doc.count(prefix) > 1:
        pos_dup = doc.find(prefix, 1)
        doc = doc[0:pos_dup - 1]

    return doc


_ABS_RE_LATEX = re.compile(r"\$.+\$")
_ABS_RE_VARIABLE = re.compile(r"\\\\\w")
_ABS_RE_PRECEDING = re.compile(
    r"^(conclusions|conclusion|methods|results|background|abstract"
    r"|objective|discussion)+", flags=re.IGNORECASE)


def preprocess_abstract(abstract: str) -> str:
    """rdf_extract.preprocess_abstract semantics (rdf_extract.py:42-59):
    strip line breaks, inline LaTeX, escaped variables → 'variable',
    leading section headers per sentence. The spaCy sentencizer becomes
    the engine's deterministic splitter."""
    from .parse import split_sentences

    abstract = RE_BREAK.sub(" ", abstract)
    abstract = _ABS_RE_LATEX.sub("", abstract)
    abstract = _ABS_RE_VARIABLE.sub("variable", abstract)
    abstract = RE_SPACE.sub(" ", abstract)
    sents = [_ABS_RE_PRECEDING.sub("", s.strip()).strip()
             for s in split_sentences(abstract)]
    return " ".join(sents).strip()


# --- paragraph-level cleaner (src/data/clean_documents.py:19-87) -----------
_PARA_CITATIONS1 = re.compile(r"\s*\[[1-9][0-9,–\-\s]*\]")
_PARA_CITATIONS2 = re.compile(r"\s*\(.+?[12][0-9]{3}\)")
_PARA_CITATIONS3 = re.compile(r"[0-9]{1,3}(,\s[0-9]{1,3})+")
_PARA_STARTING = re.compile(r"^\(.+?\)[.\s]*")
_PARA_NUMERALS = re.compile(r"\([ivx]+?\)\s*")
_PARA_WEIRD_NUMERALS = re.compile(r"[a-z][0-9]+")
_PARA_EMPTY_PARENS = re.compile(r"\(\)[\s,]*")
_PARA_EMPTY_BRACKET = re.compile(r"\[\][\s,]*")
_PARA_WEIRD_ELIPSES = re.compile(r"\.\s\.\s\.")


def clean_paragraphs(paragraphs: list[str]) -> str:
    """Faithful port of the *other* cleaner, ``clean_doc`` in
    src/data/clean_documents.py:38-87 (paragraph-level, applied after
    source parsing): per paragraph — strip/newline/nbsp replacement,
    five citation/numeral regexes, the weird-numeral quirk (every
    ``[a-z][0-9]+`` hit has its DIGITS substring removed everywhere in
    the paragraph via ``str.replace`` — reproduced as-is), empty
    parens/brackets, spaced ellipses → '...'; keep only paragraphs
    that start with an uppercase-stable char and don't start with
    'click'; a trailing ':' becomes '.'; join with spaces."""
    texts: list[str] = []
    for line in paragraphs:
        text = (line or "").strip().replace("\n", "").replace("\xa0", " ")
        for regex in (_PARA_CITATIONS1, _PARA_CITATIONS2,
                      _PARA_CITATIONS3, _PARA_STARTING, _PARA_NUMERALS):
            text = regex.sub("", text)
        for found in _PARA_WEIRD_NUMERALS.findall(text):
            text = text.replace(found[1:], "")
        text = _PARA_EMPTY_PARENS.sub("", text)
        text = _PARA_EMPTY_BRACKET.sub("", text)
        text = _PARA_WEIRD_ELIPSES.sub("...", text)
        text = text.strip()
        if (text and text[0] == text[0].upper()
                and not text.lower().startswith("click")):
            if text.endswith(":"):
                text = text[:-1] + "."
            texts.append(text)
    return " ".join(texts)


def clean_text_stage(df, lexicon: frozenset[str],
                     text_col: str = "text", out_col: str = "clean_text"):
    """documents + text → + clean_text. NULL text flows through as NULL
    (FIXTURES.md invariant #5)."""
    schema = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                       for f in df.schema.fields)
    schema = schema + f", {out_col} string"
    cols = [f.name for f in df.schema.fields] + [out_col]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            pdf[out_col] = [
                None if t is None else clean_document(t, lexicon)
                for t in pdf[text_col]
            ]
            yield pdf[cols]

    return df.mapInPandas(run, schema=schema)
