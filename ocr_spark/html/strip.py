"""HTML/boilerplate stripper for text spans: block-level text/link-density
scoring in the spirit of Boilerpipe / Arc90 readability (the reference engine
has no HTML handling). Each document is one Python call mapped over the
Arrow batch, making three linear scans:

  1. ``re.sub`` drops script/style/noscript/template subtrees and comments;
  2. ``finditer`` over nav/footer/header/aside/form tags drops containers:
     per tag type a close tag pairs with the nearest unpaired opener and the
     union of the paired spans goes; an unpaired opener goes up to the last
     close tag of its type after it, or alone when there is none;
  3. ``finditer`` over tags ends a block at each block-level tag and counts
     the words inside <a> anchors. Blocks of >= 3 words with a link density
     <= 0.5 are kept and joined in document order, tags read as spaces,
     basic entities unescaped and whitespace collapsed.

A row's output depends on that row alone. Well-formed markup strips exactly
as under the earlier multi-pass stripper; malformed markup may not: a stray
``<`` with no ``>`` before the next tag, or containers that are unbalanced or
misnested across tag types.
"""

from __future__ import annotations

import re

import pandas as pd

_DROP_SUBTREES = re.compile(
    r"<(script|style|noscript|template)\b[^>]*>.*?</\1\s*>|<!--.*?-->",
    re.IGNORECASE | re.DOTALL,
)
_CONTAINER = re.compile(
    r"<(?:(nav|footer|header|aside|form)\b[^>]*|/(nav|footer|header|aside|form)\s*)>",
    re.IGNORECASE,
)
_BLOCK_SPLIT = re.compile(
    r"</?(?:div|p|h[1-6]|ul|ol|li|table|thead|tbody|tr|td|th|section|article|"
    r"main|blockquote|pre|figure|figcaption|br|hr|body|html|head|title)\b[^>]*/?>",
    re.IGNORECASE,
)
# every tag: "<", then the first alternative that fits, each ending at the
# tag's first ">" (the shared "<" prefix lets the engine skip text quickly)
_TOKEN = re.compile(
    rf"<(?:(?P<block>{_BLOCK_SPLIT.pattern.removeprefix('<')})"
    r"|(?P<a_close>/a\s*>)|(?P<a_open>a\b[^>]*>)|[^>]+>)",
    re.IGNORECASE,
)

# &amp; last, so &amp;lt; doesn't double-decode
_ENTITIES = (("&nbsp;", " "), ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
             ("&#39;", "'"), ("&amp;", "&"))
_MIN_WORDS = 3
_MAX_LINK_DENSITY = 0.5


def _unescape(s: str) -> str:
    if "&" in s:
        for ent, rep in _ENTITIES:
            s = s.replace(ent, rep)
    return s


def _drop_containers(s: str) -> str:
    spans, open_at, last_close = [], {}, {}
    for m in _CONTAINER.finditer(s):
        if m.group(1):
            open_at.setdefault(m.group(1).lower(), []).append(m)
        else:
            tag = m.group(2).lower()
            last_close[tag] = m.end()
            if open_at.get(tag):
                spans.append((open_at[tag].pop().start(), m.end()))
    for tag, openers in open_at.items():
        for m in openers:
            spans.append((m.start(), max(last_close.get(tag, 0), m.end())))
    parts, pos = [], 0
    for start, end in sorted(spans):
        if start >= pos:
            parts.append(s[pos:start])
        pos = max(pos, end)
    parts.append(s[pos:])
    return " ".join(parts)


def _strip_one(html: str) -> str:
    s = _drop_containers(_DROP_SUBTREES.sub(" ", html))
    kept, block, anchor = [], [], []
    anchor_words, in_anchor, pos = 0, False, 0
    for m in (*_TOKEN.finditer(s), None):  # None: end of document
        start, end = m.span() if m else (len(s), len(s))
        if start > pos:
            block.append(s[pos:start])
            if in_anchor:
                anchor.append(s[pos:start])
        pos = end
        kind = m.lastgroup if m else "block"
        if kind == "block":
            if block:
                words = _unescape(" ".join(block)).split()
                if len(words) >= _MIN_WORDS and anchor_words <= _MAX_LINK_DENSITY * len(words):
                    kept.append(" ".join(words))
                block, anchor, anchor_words = [], [], 0
            in_anchor = False
        elif kind == "a_open":
            in_anchor = True
        elif kind == "a_close" and in_anchor:
            anchor_words += len(_unescape(" ".join(anchor)).split())
            anchor, in_anchor = [], False
    return " ".join(kept)


def strip_html(html: pd.Series) -> pd.Series:
    """Extract main content from a batch of HTML strings (nulls pass through;
    docs with no surviving block yield empty string)."""
    return pd.Series(
        [_strip_one(str(h)) if ok else None for h, ok in zip(html, html.notna())],
        index=html.index,
        dtype=object,
    )
