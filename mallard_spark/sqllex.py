"""The SQL lexer shared by the dialect translator, the engine's
routers and the MERGE parser.

One pass over a text classifies every character as CODE or not and
records its bracket depth. The rules, stated once:

- ``'...'`` string literals honor SQL ``''`` doubling and backslash
  escapes (``\\'``); an unterminated literal runs to the end.
- ``"..."`` and `` `...` `` quoted identifiers end at the next quote
  of the same kind (``""`` reads as two adjacent spans, which masks
  the same characters).
- ``--`` comments run to the end of the line (the newline is code);
  ``/* ... */`` comments run to the first ``*/`` after the opener, or
  to the end.
- ``()``, ``[]`` and ``{}`` all nest, counted in CODE only and paired
  by position (a close bracket pairs with the latest unclosed open
  bracket of any kind; a text is ``balanced`` only when every pair is
  of one kind). An open bracket reports the depth inside it, a close
  bracket the depth outside it, so a matched pair differs by one and
  top-level separators report depth 0.

Every helper reads the same ``lex`` result, which is cached per text:
the rewrite passes re-examine the same statement text many times.
The result is immutable, so every caller can share it.

Those rules are Spark's reading of a literal. DuckDB reads literals
differently, and ``duck_spans`` gives its reading for the passes that
convert one into the other: a plain ``'...'`` literal is raw (a
backslash is an ordinary character), an ``e'...'`` literal takes
backslash escapes, and ``$$...$$`` / ``$tag$...$tag$`` bodies are
literals too. Quoted identifiers and comments read as above.
"""

from __future__ import annotations

import bisect
import functools
import re
from types import MappingProxyType
from typing import Mapping, NamedTuple

# A statement's rewrite passes lex about five distinct texts, each
# some thirty times, so a few dozen entries catch the reuse. An entry
# takes about 12 bytes per character; longer texts are lexed on every
# call, which keeps the cache under 64 * 64 Ki * 12 B = 48 MiB.
_CACHE_SIZE = 64
_CACHE_MAX_TEXT = 1 << 16

# a quoted span or block comment that closes matches one group
_TOKEN_RE = re.compile(
    r"'(?:[^'\\]+|\\[\s\S]?|'')*(')?"
    r'|"[^"]*(")?'
    r"|`[^`]*(`)?"
    r"|--[^\n]*"
    r"|/\*[\s\S]*?(?:(\*/)|\Z)"
    r"|[()\[\]{}]"
)

_DUCK_TOKEN_RE = re.compile(
    r"(?<!\w)[eE]'(?:[^'\\]+|\\[\s\S]?|'')*'?"
    r"|'(?:[^']+|'')*'?"
    r"|\$(?P<tag>(?:[A-Za-z_]\w*)?)\$[\s\S]*?\$(?P=tag)\$"
    r'|"[^"]*"?'
    r"|`[^`]*`?"
    r"|--[^\n]*"
    r"|/\*[\s\S]*?(?:\*/|\Z)"
)


class Lexed(NamedTuple):
    mask: bytes  # 1 where the character is code
    depth: tuple[int, ...]  # bracket depth per character
    spans: Mapping[int, int]  # quoted or comment span start -> end
    pairs: Mapping[int, int]  # bracket index -> its matching bracket
    balanced: bool  # every bracket pairs with a close of its own kind
    tail_open: bool  # the text ends inside a literal or block comment
    upper: str  # sql.upper(), for keyword search


def lex(sql: str) -> Lexed:
    """The lexed form of ``sql`` (cached for texts up to 64 Ki
    characters)."""
    return _lex_cached(sql) if len(sql) <= _CACHE_MAX_TEXT else _lex(sql)


def _lex(sql: str) -> Lexed:
    n = len(sql)
    mask = bytearray(b"\x01") * n
    depth: list[int] = []
    spans: dict[int, int] = {}
    pairs: dict[int, int] = {}
    stack: list[int] = []
    d, pos, ok, tail_open = 0, 0, True, False
    for m in _TOKEN_RE.finditer(sql):
        s, e = m.span()
        depth += [d] * (s - pos)
        ch = sql[s]
        if ch in "([{":
            d += 1
            stack.append(s)
            depth.append(d)
        elif ch in ")]}":
            d -= 1
            if stack:
                o = stack.pop()
                pairs[o], pairs[s] = s, o
                ok = ok and sql[o] + ch in ("()", "[]", "{}")
            else:
                ok = False
            depth.append(d)
        else:
            mask[s:e] = bytes(e - s)
            spans[s] = e
            tail_open = m.lastindex is None and ch != "-"
            depth += [d] * (e - s)
        pos = e
    depth += [d] * (n - pos)
    return Lexed(
        bytes(mask), tuple(depth), MappingProxyType(spans),
        MappingProxyType(pairs), ok and d == 0, tail_open and pos == n,
        sql.upper(),
    )


_lex_cached = functools.lru_cache(maxsize=_CACHE_SIZE)(_lex)


def code_mask(sql: str) -> bytes:
    """Per-character truth (0/1) that the character is code."""
    return lex(sql).mask


def is_code(sql: str, start: int, end: int) -> bool:
    """True when every character of ``sql[start:end]`` is code."""
    return 0 not in lex(sql).mask[start:end]


def _is_word(c: str) -> bool:
    return c.isalnum() or c == "_"


def find_kw(sql: str, word: str, at_depth: int | None = 0, start: int = 0) -> int:
    """Index of the first whole-word, code-level occurrence of
    ``word`` (case-insensitive), optionally at an exact bracket
    depth. -1 if absent."""
    lx = lex(sql)
    target = word.upper()
    n, m = len(sql), len(target)
    i = lx.upper.find(target, start)
    while i >= 0:
        if (
            i + m <= n
            and 0 not in lx.mask[i : i + m]
            and (at_depth is None or lx.depth[i] == at_depth)
            and not (i > 0 and _is_word(sql[i - 1]))
            and not (i + m < n and _is_word(sql[i + m]))
        ):
            return i
        i = lx.upper.find(target, i + 1)
    return -1


def match_bracket(sql: str, i: int) -> int:
    """Index of the bracket matching the code-level bracket at ``i``
    (its close for an open bracket, its open for a close); -1 when
    ``i`` is no bracket or is unmatched."""
    return lex(sql).pairs.get(i, -1)


def enclosing(sql: str, i: int) -> int:
    """Index of the innermost code-level open bracket around the
    character at ``i`` (around the pair, for a bracket); -1 at top
    level."""
    lx = lex(sql)
    d = lx.depth[i] - (lx.mask[i] and sql[i] in "([{")
    if d > 0:
        for j in range(i - 1, -1, -1):
            if lx.depth[j] == d and lx.mask[j] and sql[j] in "([{":
                return j
    return -1


def span_start(sql: str, i: int) -> int:
    """Start of the literal, quoted identifier or comment holding
    ``sql[i]``; -1 when it is code."""
    lx = lex(sql)
    if lx.mask[i]:
        return -1
    starts = list(lx.spans)
    return starts[bisect.bisect_right(starts, i) - 1]


def split_top_level(s: str, sep: str = ",") -> list[str]:
    """Split ``s`` on a code-level, depth-0 separator: a punctuation
    character (``,``) or a whole keyword (``AND``)."""
    lx = lex(s)
    if sep.isalpha():
        cuts, i = [], find_kw(s, sep)
        while i >= 0:
            cuts.append(i)
            i = find_kw(s, sep, start=i + len(sep))
    else:
        cuts = [
            m.start()
            for m in re.finditer(re.escape(sep), s)
            if lx.mask[m.start()] and lx.depth[m.start()] == 0
        ]
    parts, start = [], 0
    for i in cuts:
        parts.append(s[start:i])
        start = i + len(sep)
    parts.append(s[start:])
    return parts


def strip_comments(sql: str) -> str:
    """``sql`` with each comment replaced by one space (a ``--``
    comment's newline goes with it)."""
    out, pos = [], 0
    for s, e in lex(sql).spans.items():
        if sql[s] in "'\"`":
            continue
        if sql.startswith("--", s) and e < len(sql):
            e += 1
        out += [sql[pos:s], " "]
        pos = e
    out.append(sql[pos:])
    return "".join(out)


def duck_spans(sql: str) -> list[tuple[int, int]]:
    """(start, end) of every literal, quoted identifier and comment
    under DuckDB's reading (see the module docstring)."""
    return [m.span() for m in _DUCK_TOKEN_RE.finditer(sql)]
