"""Tokenization pipeline — exact reference semantics (F6-F12).

Reproduces search-engin/src/main/java/indexer/Tokenizer.java:35-97 step
for step:

1. Unicode NFC normalize (Tokenizer.java:35).
2. Extract special tokens from the NFC text: emails, then URLs, then
   numbers, emitted as ``email:<m>`` / ``url:<m>`` (lowercased) /
   ``num:<m>`` in match order (Tokenizer.java:71-90).
3. Mask specials in the text: EMAIL -> ``_EMAIL_``, then URL -> ``_URL_``,
   then NUM -> ``_NUM_``, each applied to the previous result
   (Tokenizer.java:92-97).
4. Lowercase; replace ``[^a-z0-9\\s_]`` with space; collapse ``\\s+``;
   trim; split on whitespace (Tokenizer.java:39-43). Java ``\\s`` is
   ASCII-only — mirrored here with explicit character classes.
5. Keep tokens with 2 <= len <= 50 (Tokenizer.java:46).
6. Drop stopwords; ``_email_`` / ``_num_`` bypass the filter
   (``_url_`` does not, but is not a stopword) (Tokenizer.java:47).
7. Porter2-stem tokens with len > 3; ``_email_`` / ``_num_`` skipped
   (Tokenizer.java:55-69).
8. Append the special tokens after the body tokens (Tokenizer.java:51).

All regexes use ``re.ASCII`` so ``\\b`` / ``\\d`` / ``\\s`` match the
Java (non-UNICODE_CHARACTER_CLASS) defaults.

The pandas UDF wrapper is the only entry point used on executors; the
pure function `tokenize` is the unit-testable core.
"""

from __future__ import annotations

import re
import unicodedata

from nadry_spark.functions.porter2 import stem
from nadry_spark.functions.stopwords import STOP_WORDS

# stem() is a pure function and web-text tokens are Zipf-distributed:
# the bounded per-token memo of tokenize() below turns ~500 stem
# calls/doc into dict hits (the memo is per Python worker process;
# 2^17 entries ~ a few MB). A plain dict beats lru_cache here: no lock,
# no recency bookkeeping; on overflow we just reset (Zipf head
# repopulates in one batch).
_STEM_MEMO_MAX = 1 << 17

EMAIL_PATTERN = re.compile(r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,6}", re.ASCII)
URL_PATTERN = re.compile(r"(?:https?://|www\.)[a-zA-Z0-9.-]+\.[a-zA-Z]{2,6}[^\s]*", re.ASCII)
NUMBER_PATTERN = re.compile(r"\b\d+(?:\.\d+)?\b", re.ASCII)

# Java: replaceAll("[^a-z0-9\\s_]", " ") with ASCII \s
_NON_TOKEN = re.compile(r"[^a-z0-9 \t\n\x0b\f\r_]", re.ASCII)
_WS_RUN = re.compile(r"[ \t\n\x0b\f\r]+", re.ASCII)
# one findall == sub(non-token -> space) + collapse + split: tokens are
# exactly the maximal runs of kept characters (hot path; equivalence
# pinned by the tokenizer goldens)
_TOKEN_RUN = re.compile(r"[a-z0-9_]+", re.ASCII)


def extract_special_tokens(text: str) -> list[str]:
    """Emails, then URLs, then numbers, in match order (Tokenizer.java:71-90)."""
    specials: list[str] = []
    for m in EMAIL_PATTERN.finditer(text):
        specials.append("email:" + m.group().lower())
    for m in URL_PATTERN.finditer(text):
        specials.append("url:" + m.group().lower())
    for m in NUMBER_PATTERN.finditer(text):
        specials.append("num:" + m.group())
    return specials


def replace_special_tokens(text: str) -> str:
    """Mask order matters: EMAIL, then URL, then NUM (Tokenizer.java:92-97)."""
    result = EMAIL_PATTERN.sub("_EMAIL_", text)
    result = URL_PATTERN.sub("_URL_", result)
    result = NUMBER_PATTERN.sub("_NUM_", result)
    return result


# full per-token decision memo for the tokenize() hot loop: raw token
# -> stemmed output, or None when the length/stopword filters drop it;
# the loop body collapses to one dict probe.
_TOK_MEMO: dict[str, str | None] = {}


def _token_result(tok: str) -> str | None:
    """Steps 5-7 for one raw token (the loop body of the original
    formulation, unchanged semantics: length filter, stopword filter
    with the _email_/_num_ bypass, Porter2 for len > 3)."""
    if not (2 <= len(tok) <= 50):
        return None
    if tok != "_email_" and tok != "_num_" and tok in STOP_WORDS:
        return None
    if len(tok) <= 3 or tok == "_email_" or tok == "_num_":
        return tok
    return stem(tok)


_MISS = object()


def tokenize(text: str | None) -> list[str]:
    """Full pipeline; returns [] for null/empty input (Tokenizer.java:31-33)."""
    if not text:
        return []
    text = unicodedata.normalize("NFC", text)
    # one findall per pattern serves BOTH the special-token extraction
    # (match order: emails, urls, numbers — Tokenizer.java:71-90) and
    # the mask gate: a category with zero matches in the original text
    # cannot match in the partially-masked text either (masks are
    # word-character strings with no digits/dots/colons, so they never
    # create an email/url/number match or a \b boundary), making its
    # sub() a guaranteed no-op — skip the scan.
    emails = EMAIL_PATTERN.findall(text)
    urls = URL_PATTERN.findall(text)
    nums = NUMBER_PATTERN.findall(text)
    processable = text
    if emails:
        processable = EMAIL_PATTERN.sub("_EMAIL_", processable)
    if urls:
        processable = URL_PATTERN.sub("_URL_", processable)
    if nums:
        processable = NUMBER_PATTERN.sub("_NUM_", processable)

    raw_tokens = _TOKEN_RUN.findall(processable.lower())

    out: list[str] = []
    append = out.append
    memo = _TOK_MEMO
    memo_get = memo.get
    for tok in raw_tokens:
        r = memo_get(tok, _MISS)
        if r is _MISS:
            if len(memo) >= _STEM_MEMO_MAX:
                memo.clear()
            r = memo[tok] = _token_result(tok)
        if r is not None:
            append(r)
    for m in emails:
        append("email:" + m.lower())
    for m in urls:
        append("url:" + m.lower())
    for m in nums:
        append("num:" + m)
    return out
