"""Text extraction + mention/blocking-key normalization.

``extract_text`` is the byte-stable HTML→text kernel: the per-row invariant
mandated by BASELINE.json ``input_hint`` is ``extract_text(html) == text``
byte-for-byte for every url (verified in tests/test_text.py). It replaces
the reference's CoNLL→JSONL prep (reference scripts/zelda.py:19-104) as the
corpus-ingest stage.

Implementation: a deterministic pure-Python extractor (regex strip of
script/style/nav/footer, tag removal, HTML-entity unescape, whitespace
normalization) vectorized over Arrow record batches with a pandas UDF —
never per-row Python through Spark's row serializer.

Normalization / blocking-key helpers are pure ``pyspark.sql.functions``
column expressions (JVM-side, whole-stage-codegen'd).
"""

from __future__ import annotations

import html as _html
import re

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import StringType
from pyspark.sql.functions import pandas_udf

# Order matters and the OUTPUT BYTES are frozen: any change here must keep
# extract_text_str byte-identical (tests/test_text.py + the differential
# fuzz in tests/test_properties.py guard this).
_RE_DROP = re.compile(
    r"<(script|style|nav|footer|head)\b[^>]*>.*?</\1>", re.DOTALL | re.IGNORECASE
)
_RE_OPEN = re.compile(r"<(script|style|nav|footer|head)\b[^>]*>", re.IGNORECASE)
_RE_CLOSE = {
    t: re.compile("</" + t + ">", re.IGNORECASE)
    for t in ("script", "style", "nav", "footer", "head")
}
_RE_BLOCK = re.compile(r"</?(p|div|article|section|br|li|tr|h[1-6])\b[^>]*>", re.IGNORECASE)
_RE_TAG = re.compile(r"<[^>]+>")
_RE_WS = re.compile(r"[ \t\r\n]+")
# str.translate table mapping \t \n \r -> " " (see _norm_ws)
_WS_TABLE = {9: 32, 10: 32, 13: 32}

_CLOSE_LIT = {t: "</" + t + ">" for t in ("script", "style", "nav", "footer", "head")}
# Pivot char for the memchr candidate scan in _find_close: (char, offset of
# that char inside the close literal). Chosen to be rare in the region each
# tag's close search actually walks — '<' for script/style (JS/CSS bodies are
# nearly '<'-free), the tag's first letter for the markup-heavy head and the
# body-embedded nav/footer. A bad choice only costs candidate rejections,
# which the 64-rejection bail bounds.
_CLOSE_PIVOT = {
    "script": ("<", 0),
    "style": ("<", 0),
    "nav": ("n", 2),
    "footer": ("f", 2),
    "head": ("h", 2),
}


def _find_close(s: str, tag: str, start: int) -> int:
    """Index of the first case-insensitive ``</tag>`` at or after ``start``,
    or -1 — byte-equivalent to ``_RE_CLOSE[tag].search(s, start).start()``
    for ASCII ``s`` (callers gate on ``s.isascii()``; ASCII-only strings
    cannot contain the exotic casefold equivalents — Kelvin sign, long s —
    that re.IGNORECASE would otherwise admit).

    Mechanism: CPython's multi-char ``str.find`` degrades to ~0.6 GB/s here
    because its bad-char skip keys on the needle's LAST char and '>' occurs
    at every tag, while single-char find is a ~59 GB/s memchr. So candidates
    are enumerated by memchr on a rare pivot char (both cases, earliest
    first) and verified with a 7-9 char slice compare; pivot positions are
    strictly increasing, so the first verified candidate is the regex's own
    leftmost match. After 64 rejected candidates (pathological pivot
    density) the frozen regex finishes the scan from the first unchecked
    position — worst case is the old cost plus a bounded constant.
    """
    lit = _CLOSE_LIT[tag]
    c, off = _CLOSE_PIVOT[tag]
    cu = c.upper()
    n = len(lit)
    ln = len(s)
    pos = start + off
    rejected = 0
    while True:
        j = s.find(c, pos)
        limit = j if j >= 0 else ln
        j2 = s.find(cu, pos, limit)
        if j2 >= 0:
            j = j2
        if j < 0:
            return -1
        m = j - off
        if m >= start and s[m : m + n].lower() == lit:
            return m
        rejected += 1
        if rejected > 64:
            cm = _RE_CLOSE[tag].search(s, max(start, j - off + 1))
            return cm.start() if cm else -1
        pos = j + 1


def _norm_ws(s: str) -> str:
    """Byte-identical fast path for ``_RE_WS.sub(" ", s).strip()``: after
    tag-stripping the text is dominated by hundreds of short whitespace
    runs, and the regex engine pays ~230 ns per run; translate + split
    collapse them at C speed (measured 39% of the whole kernel on the
    80 KB bench page). Equivalence: translate maps tab/newline/CR to a
    space, split(" ")+join collapses every maximal space run to one
    space (exactly _RE_WS's substitution), and the final str.strip()
    matches the original's — including its stripping of UNICODE
    whitespace (e.g. NBSP) at the ends, which _RE_WS never matched
    interior. Guarded by the frozen-bytes tests + the differential fuzz
    (tests/test_text.py, tests/test_properties.py)."""
    return " ".join(t for t in s.translate(_WS_TABLE).split(" ") if t).strip()


def _drop_blocks(s: str) -> str:
    """Byte-identical fast path for ``_RE_DROP.sub(" ", s)``: the
    non-greedy ``.*?</\\1>`` scan steps the regex engine per character
    (~100 MB/s and 95% of kernel time on boilerplate-heavy pages); here
    the closing tag is located by ``_find_close``'s memchr pivot scan for
    ASCII pages (~9 GB/s; round 8 — the IGNORECASE literal regex itself
    measured only ~1.4 GB/s and was 82% of the remaining kernel), with
    the literal close-tag regex kept for non-ASCII pages, where exotic
    casefold equivalents exist and ``str.lower()`` is not
    length-preserving. Unclosed blocks are left in place (later stripped
    as bare tags), exactly like the failing regex match.

    Known PRE-EXISTING divergence vs the ``_RE_DROP`` spec (unchanged by
    the round-8 fast path, which only touches the ASCII branch): on
    non-ASCII pages a close tag spelled with an exotic casefold
    equivalent (``</ſcript>``, long s) matches the literal IGNORECASE
    ``_RE_CLOSE`` here but NOT ``_RE_DROP``'s backreference ``</\\1>``
    (sre backrefs compare via simple lowercase, which maps ſ to itself).
    The differential fuzz deliberately cannot compose such closes.
    """
    m = _RE_OPEN.search(s)
    if m is None:
        return s
    asc = s.isascii()
    out = []
    emit = 0
    while m is not None:
        tag = m.group(1).lower()
        if asc:
            cs = _find_close(s, tag, m.end())
            ce = cs + len(_CLOSE_LIT[tag]) if cs >= 0 else -1
        else:
            cm = _RE_CLOSE[tag].search(s, m.end())
            ce = cm.end() if cm else -1
        if ce < 0:
            # no closing tag: regex backtracks and never matches here —
            # resume the scan one char later, emitting nothing yet
            nxt = m.start() + 1
        else:
            out.append(s[emit : m.start()])
            out.append(" ")
            emit = nxt = ce
        m = _RE_OPEN.search(s, nxt)
    out.append(s[emit:])
    return "".join(out)


def extract_text_str(page: str) -> str:
    """Deterministic extractor for one already-decoded HTML string.

    NOTE: the block-element pass is NOT redundant with the general tag
    pass even though both substitute " " — on malformed HTML a block tag
    inside an unclosed angle context (``<script</p><``) splits a run the
    tag pass would otherwise match whole. All four passes are
    byte-frozen.
    """
    s = _drop_blocks(page)
    s = _RE_BLOCK.sub(" ", s)
    s = _RE_TAG.sub(" ", s)
    s = _html.unescape(s)
    return _norm_ws(s)


@pandas_udf(StringType())
def extract_text(html_bin: pd.Series) -> pd.Series:
    """binary html -> text, byte-stable. Arrow-batched; one Python call per
    ~10k rows (spark.sql.execution.arrow.maxRecordsPerBatch)."""
    decoded = html_bin.map(lambda b: b.decode("utf-8", errors="replace") if b is not None else None)
    return decoded.map(lambda s: extract_text_str(s) if s is not None else None)


# ---------------------------------------------------------------------------
# JVM-side normalization + blocking keys (no Python)


def normalize_surface(col: Column) -> Column:
    """Casefold, strip punctuation, collapse whitespace, drop corporate
    suffixes — the canonical form fed to blocking and string scoring.

    Reference analog: the reference lowercases nothing (exact surfaces into
    the tokenizer, dataset.py:85); normalization here exists because our
    blocking layer needs key-stable surfaces. Pure F.* so codegen applies.
    """
    c = F.lower(col)
    c = F.regexp_replace(c, r"[^\p{L}\p{Nd}]+", " ")
    c = F.regexp_replace(c, r"\b(inc|corp|ltd|group|co|llc|plc)\b", " ")
    c = F.trim(F.regexp_replace(c, r"\s+", " "))
    return c


def blocking_key(norm_col: Column) -> Column:
    """Primary blocking key: first token of the normalized surface.

    Deliberately coarse (recall-oriented); precision comes from pairwise
    scoring. Hot keys (e.g. 'global') are split by salting in
    operators/blocking.py.
    """
    return F.substring_index(norm_col, " ", 1)


def sorted_token_key(norm_col: Column) -> Column:
    """Secondary key: sorted tokens joined — catches token reorderings."""
    return F.array_join(F.array_sort(F.split(norm_col, " ")), " ")
