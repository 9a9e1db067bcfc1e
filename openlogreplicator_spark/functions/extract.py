"""Frozen, versioned text extraction from raw html bytes.

This is the engine's analogue of the reference's charset-decode path
(`Builder::parseString` + CharacterSet::decode, /root/reference/src/builder/
Builder.h:1006-1116): a PURE function whose output must be byte-identical per url
across replays, restarts, partition counts, and cluster sizes — the north-rule
"byte-identical extracted text per url" invariant hangs on this.

Rules (EXTRACT_VERSION = 1, frozen — bump the version to change behavior):
  1. decode utf-8 (errors='replace' — deterministic U+FFFD substitution),
  2. drop <script>/<style> elements including content,
  3. strip all remaining tags,
  4. decode the five predefined XML entities + numeric entities,
  5. collapse all whitespace runs to a single space, strip ends.

No unicode normalization (NFC/NFKC) is applied — normalization varies across
unicodedata versions and would break byte-identity (the reference's multibyte
continuation logic, Builder.h:1022-1045, is the cautionary tale).
"""

from __future__ import annotations

import re

EXTRACT_VERSION = 1

_SCRIPT_STYLE = re.compile(rb"(?is)<(script|style)\b.*?</\1\s*>")
_TAG = re.compile(rb"(?s)<[^>]*>")
_WS = re.compile(r"\s+")
_NUM_ENT = re.compile(r"&#(x[0-9a-fA-F]+|[0-9]+);")
_NAMED_ENT = {"&amp;": "&", "&lt;": "<", "&gt;": ">", "&quot;": '"', "&apos;": "'"}


def _sub_numeric_entity(m: re.Match) -> str:
    body = m.group(1)
    try:
        cp = int(body[1:], 16) if body[0] in "xX" else int(body)
        if 0 < cp <= 0x10FFFF and not (0xD800 <= cp <= 0xDFFF):
            return chr(cp)
    except ValueError:
        pass
    return m.group(0)


def extract_text(html: bytes | None) -> str | None:
    """Pure frozen extraction — the single source of truth for `text`."""
    if html is None:
        return None
    stripped = _TAG.sub(b" ", _SCRIPT_STYLE.sub(b" ", html))
    s = stripped.decode("utf-8", errors="replace")
    for ent, ch in _NAMED_ENT.items():
        s = s.replace(ent, ch)
    s = _NUM_ENT.sub(_sub_numeric_entity, s)
    return _WS.sub(" ", s).strip()
