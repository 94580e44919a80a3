"""Global constant sets that parameterize the engine's semantics.

Derived from the behavior of the reference parser (mylogin/htmlparser,
/root/reference/html.cpp:5-16 and html.hpp:219-233). Two *different*
whitespace sets exist on purpose:

- ``SPACE_TOKENIZER`` (no ``\\v``) drives tokenizer transitions and
  word-boundary checks (reference ``utils::is_space``).
- ``SPACE_COLLAPSE`` (with ``\\v``) drives whitespace-run collapsing in
  the serializers (reference ``space_chars``).

The asymmetry is observable (a ``\\v``-only text node is *not* "all
whitespace" for the skip check, yet collapses to a single space) and is
reproduced deliberately.
"""

from __future__ import annotations

import re

# Tags treated as inline for block/newline decisions (html.cpp:5-8).
INLINE_TAGS = frozenset(
    (
        "b", "big", "i", "small", "tt",
        "abbr", "acronym", "cite", "code", "dfn", "em", "kbd", "strong", "samp",
        "time", "var", "a", "bdo", "br", "img", "map", "object", "q",
        "span", "sub", "sup", "button", "input", "label", "select", "textarea",
    )
)

# Void tags: forced self-closing, never pushed as an open container
# (html.cpp:10-11).
VOID_TAGS = frozenset(
    ("area", "base", "br", "col", "embed", "hr", "img", "input", "link",
     "meta", "param", "source", "track", "wbr")
)

# Tags that switch the tokenizer to the rawtext state (html.cpp:13-14).
RAWTEXT_TAGS = frozenset(
    ("title", "textarea", "style", "script", "noscript", "plaintext",
     "iframe", "xmp", "noembed", "noframes")
)

# Serializer whitespace-collapse set (html.cpp:16) — INCLUDES \v.
SPACE_COLLAPSE = " \f\n\r\t\v"

# Tokenizer whitespace set (html.hpp:231-233) — EXCLUDES \v.
SPACE_TOKENIZER = " \t\n\f\r"
SPACE_TOKENIZER_SET = frozenset(SPACE_TOKENIZER)

# Node kinds (flat-array encoding, matches the Spark schema).
KIND_TEXT = 0
KIND_TAG = 1
KIND_COMMENT = 2
KIND_DOCTYPE = 3

# Translation tables. The reference operates on bytes with C-locale
# tolower: only ASCII A-Z are lowercased; NUL becomes '_' in names,
# attr values, comments and doctypes (but stays raw in data-state text).
LOWER_NUL_TABLE = str.maketrans(
    {**{chr(c): chr(c + 32) for c in range(0x41, 0x5B)}, "\x00": "_"}
)
NUL_TABLE = str.maketrans({"\x00": "_"})

# Precompiled scanners (shared by tokenizer + serializers).
RE_NAME_END = re.compile(r"[ \t\n\f\r/>]")        # tag-name terminators
RE_ATTRNAME_END = re.compile(r"[ \t\n\f\r/>=]")   # attr-name terminators
RE_UNQUOTED_END = re.compile(r"[ \t\n\f\r>]")     # unquoted-value terminators
RE_NONSPACE = re.compile(r"[^ \t\n\f\r]")         # skip tokenizer whitespace
RE_RAWNAME = re.compile(r"[A-Za-z]*")             # rawtext end-tag name chars
RE_HAS_NONSPACE = re.compile(r"[^ \t\n\f\r]")     # "not all-whitespace" check
RE_COLLAPSE = re.compile(r"[ \f\n\r\t\v]+")       # serializer collapse runs
RE_NEEDS_COLLAPSE = re.compile(r"[\f\n\r\t\v]|  ")  # anything sub would change

# One-shot matcher for the dominant well-formed ATTRIBUTE TAIL shape
# (everything between the tag name and '>'):
#   ( SP+ attr ( ="dq" | ='sq' | =unquoted )? )*  SP*  /?  >
# matched in a single precompiled regex instead of ~4 scanner steps
# per attribute. Tried only when the name terminator is whitespace —
# bare `<p>` / `</div>` tags keep their one-search path untouched.
# Anything the regex cannot express falls back to the exact state
# machinery (_scan_attrs), keeping every verified quirk byte-identical:
# - \x00 excluded from every class -> NUL translation stays slow-path;
# - unquoted values may not START with a quote (a quote there means a
#   QUOTED value in the state machine, incl. its EOF-drop semantics);
# - attr items require real tokenizer whitespace between them, so
#   '/'-separated attrs, '= v' spacing, and '/ >' spacing fall back;
# - character classes mirror RE_ATTRNAME_END / RE_UNQUOTED_END exactly
#   (note: '/' is legal inside unquoted values).
RE_FAST_ATTRS_TAIL = re.compile(
    r"((?:[ \t\n\f\r]+[^ \t\n\f\r=/>\x00]+"
    r"(?:=\"[^\"\x00]*\"|='[^'\x00]*'"
    r"|=[^ \t\n\f\r>\x00'\"][^ \t\n\f\r>\x00]*)?)*)"
    r"[ \t\n\f\r]*(/?)>")
RE_FAST_ATTR = re.compile(
    r"[ \t\n\f\r]+([^ \t\n\f\r=/>\x00]+)"
    r"(?:=\"([^\"\x00]*)\"|='([^'\x00]*)'"
    r"|=([^ \t\n\f\r>\x00'\"][^ \t\n\f\r>\x00]*))?")


def collapse_spaces(s: str) -> str:
    """Collapse every maximal run of SPACE_COLLAPSE chars to one space.

    Mirrors reference ``utils::replace_any_copy(s, space_chars, " ")``
    (html.cpp:1050-1062): leading and trailing runs collapse too.
    Fast path: most text has only single plain spaces — one C-level
    search decides whether the substitution (and its allocation) is
    needed at all.
    """
    if RE_NEEDS_COLLAPSE.search(s) is None:
        return s
    return RE_COLLAPSE.sub(" ", s)


def contains_word(s: str, word: str) -> bool:
    """Word-containment test used by ``.class`` and ``[attr~=]``.

    Faithful to reference ``utils::contains_word`` (html.cpp:1030-1038)
    including its quirk: only the FIRST occurrence of ``word`` is
    boundary-checked, so ``contains_word("xab ab", "ab")`` is False.
    Boundaries use the tokenizer space set (no ``\\v``).
    """
    pos = s.find(word)
    if pos < 0:
        return False
    start = pos < 1 or s[pos - 1] in SPACE_TOKENIZER_SET
    end_i = pos + len(word)
    end = end_i >= len(s) or s[end_i] in SPACE_TOKENIZER_SET
    return start and end
