"""Seeded page corpus and query stream for the search-engine benchmark.

Self-contained on purpose: nothing here imports ``nadry_spark``, so no
change to the engine can alter the inputs it is measured on. The page
shape follows ``nadry_spark/sources/pages.py`` (title, meta
description, a script block, paragraphs with Zipf-skewed words,
emails/urls/numbers, ``.ads`` / ``.comments`` blocks, footer links) and
the request kinds (plain terms by vocabulary tier, quoted phrases,
stopword-only, unknown terms, page 1) follow FIXTURES.md section 4.
Everything is a pure function of ``seed``.
"""

from __future__ import annotations

import datetime as dt
import random

PAGES_COLUMNS = ("url", "warc_ts", "html", "text", "lang")
N_SITES = 97
BASE_EPOCH = dt.datetime(2025, 1, 1, tzinfo=dt.timezone.utc)

# indexable words use these consonants only; unknown-term queries use
# the complementary letters, so they can never hit the vocabulary
_SYLLABLES = [c + v for c in "btkdlmnprsvz" for v in ("a", "e", "i", "o", "u", "ar", "en", "il", "or", "us")]
_UNKNOWN_SYLLABLES = [c + v for c in "qwxyjhgcf" for v in ("a", "e", "i", "o", "u")]
STOPWORDS = ("the", "and", "of", "in", "is", "at", "on", "for", "with", "as", "by", "to", "a", "an")
_SKEW_TERMS = ("news", "2024", "report", "update")
VOCAB_SIZE = 4000
HEAD_TERMS = 50  # the most frequent vocabulary ranks


def vocabulary(seed: int) -> list[str]:
    """Distinct syllable words; list order is the Zipf rank."""
    rng = random.Random(f"vocab-{seed}")
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < VOCAB_SIZE:
        w = "".join(rng.choice(_SYLLABLES) for _ in range(rng.randint(2, 4)))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def _zipf_index(rng: random.Random, n: int) -> int:
    return int(n * (rng.random() ** 3)) % n


def _words(rng: random.Random, vocab: list[str], n: int) -> list[str]:
    out = []
    for _ in range(n):
        r = rng.random()
        if r < 0.28:
            out.append(rng.choice(STOPWORDS))
        elif r < 0.33:
            out.append(rng.choice(_SKEW_TERMS))
        else:
            out.append(vocab[_zipf_index(rng, len(vocab))])
    return out


def page_url(i: int) -> str:
    return f"https://site{i % N_SITES}.example.com/p/{i}"


def build_page(i: int, n_pages: int, vocab: list[str], seed: int, version: int = 0) -> dict:
    """One page row, deterministic in (seed, i, version). A higher
    ``version`` is a re-crawl: same url, new content."""
    rng = random.Random(f"page-{seed}-{version}-{i}")
    title = " ".join(w.capitalize() for w in _words(rng, vocab, rng.randint(3, 6)))
    desc = " ".join(_words(rng, vocab, rng.randint(8, 15)))
    paras = []
    for _ in range(rng.randint(2, 5)):
        ws = _words(rng, vocab, rng.randint(20, 60))
        if rng.random() < 0.4:
            ws.insert(rng.randrange(len(ws)), f"user{rng.randint(0, 99)}@mail{rng.randint(0, 9)}.com")
        if rng.random() < 0.3:
            ws.insert(rng.randrange(len(ws)), f"https://ref{rng.randint(0, 30)}.example.org/d/{rng.randint(0, 999)}")
        if rng.random() < 0.5:
            ws.insert(rng.randrange(len(ws)), str(rng.randint(1, 99999)))
        if rng.random() < 0.05:
            ws.append("x" * rng.randint(51, 60))  # over-long token, filtered
        paras.append(" ".join(ws) + ".")
    links = []
    for _ in range(rng.randint(3, 10)):
        href = page_url(_zipf_index(rng, n_pages))
        r = rng.random()
        if r < 0.10:
            href += "#section" + str(rng.randint(1, 5))
        elif r < 0.15:
            href = href.replace("https://", "http://")  # dropped by the link normalizer
        links.append(href)
    anchors = "".join(f'<a href="{h}">{" ".join(_words(rng, vocab, 2))}</a> ' for h in links)
    body = "".join(f"<p>{p}</p>\n" for p in paras)
    lang_r = rng.random()
    html = (
        "<!DOCTYPE html>\n<html><head>\n"
        f"<title>{title}</title>\n"
        f'<meta name="description" content="{desc}">\n'
        "<script>var tracker = 'junk';</script>\n"
        "</head>\n<body>\n"
        f"<main>\n<h1>{title}</h1>\n{body}</main>\n"
        f'<div class="ads">SPONSORED {" ".join(_words(rng, vocab, 5))}</div>\n'
        f'<div class="comments"><p>{" ".join(_words(rng, vocab, 8))}</p></div>\n'
        f"<footer>{anchors}</footer>\n"
        "</body></html>"
    )
    return {
        "url": page_url(i),
        "warc_ts": BASE_EPOCH + dt.timedelta(seconds=37 * i + 86_400 * version),
        "html": html.encode("utf-8"),
        "text": title + "\n" + "\n".join(paras),
        "lang": "en" if lang_r < 0.95 else ("de" if lang_r < 0.975 else "ar"),
    }


def write_pages(path: str, rows: list[dict]) -> None:
    """Write page rows as one parquet file with the engine's pages schema."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema([
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ])
    pq.write_table(pa.Table.from_pylist(rows, schema=schema), path)


def queries(seed: int, vocab: list[str], n: int) -> list[tuple[str, int]]:
    """``n`` (query, page) requests with pairwise-distinct cache keys.

    Mix: ~3% stopword-only, ~3% unknown-term, the rest 1-4 plain terms
    drawn from the head (rank < 50), torso (< 500) and tail of the
    vocabulary; ~10% ask for page 1. Phrase requests come from
    ``head_phrases``. The engine caches on the full string, so a key is
    never repeated."""
    rng = random.Random(f"queries-{seed}")
    tiers = ((0, HEAD_TERMS), (HEAD_TERMS, 500), (500, len(vocab)))
    out: list[tuple[str, int]] = []
    keys: set[str] = set()
    while len(out) < n:
        r = rng.random()
        if r < 0.03:
            q = " ".join(rng.sample(STOPWORDS, rng.randint(1, 3)))
        elif r < 0.06:
            q = "".join(rng.choice(_UNKNOWN_SYLLABLES) for _ in range(rng.randint(3, 4)))
        else:
            words = []
            for _ in range(rng.randint(1, 4)):
                lo, hi = tiers[rng.choices((0, 1, 2), weights=(3, 4, 3))[0]]
                words.append(vocab[rng.randrange(lo, hi)])
            q = " ".join(words)
        if q in keys:
            continue
        keys.add(q)
        out.append((q, 1 if rng.random() < 0.10 else 0))
    return out


def head_phrases(seed: int, vocab: list[str], texts: list[str], n: int) -> list[str]:
    """``n`` distinct quoted two-word phrases whose words are both head
    terms and stand next to each other in some page's body text, so
    each one matches and reads positions of long posting lists."""
    head = set(vocab[:HEAD_TERMS])
    found = set()
    for t in texts:
        words = t.split("\n", 1)[-1].split()
        found.update((a, b) for a, b in zip(words, words[1:]) if a in head and b in head and a != b)
    return [f'"{a} {b}"' for a, b in random.Random(f"phrases-{seed}").sample(sorted(found), n)]


def family_queries(seed: int, vocab: list[str], n: int) -> list[tuple[str, int]]:
    """``n`` distinct page-0 requests of two head terms each. Every
    segment holds head terms, so each request fans out to a whole
    segment family, and all of them cost alike."""
    rng = random.Random(f"family-{seed}")
    pairs = [(a, b) for a in range(HEAD_TERMS) for b in range(a + 1, HEAD_TERMS)]
    return [(f"{vocab[a]} {vocab[b]}", 0) for a, b in rng.sample(pairs, n)]


def query_kind(query: str) -> str:
    if query.startswith('"'):
        return "phrase"
    words = query.split()
    if all(w in STOPWORDS for w in words):
        return "stopword"
    if all(w[0] in "qwxyjhgcf" for w in words):
        return "unknown"
    return "terms"
