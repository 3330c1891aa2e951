"""Seeded raw web-style corpus ``(doc_id, text, lang, source)``.

The stock ``documents`` tables carry single-line bag-of-words text with no
dates, e-mails or UIDs, so a PHI scrub over them does no useful work and a
line dedup finds nothing.  This generator keeps their shape (word soup over
a fixed vocabulary, five languages, twenty sources) and adds, each on a
seeded share of documents:

* multi-line bodies and boilerplate lines shared across documents
  (line dedup has work);
* exact duplicates that differ only in case and spacing (exact dedup has
  work after line dedup, which compares raw lines);
* short and repetitive documents (the quality gate rejects some mass);
* typographic quotes/dashes, tabs and doubled spaces (normalization has
  work);
* PHI: ISO dates, clock times and e-mail addresses in the form
  ``__spark_entry__._phi_text_expr`` uses, dictionary names, and one dotted
  UID (``1.2.840.<k>.99``, the contract's UID suffix) whose pseudonym the
  oracle re-derives.

The vocabulary is fixed (seed-independent) so every seed yields the same
mix of document kinds; the seed only drives which document gets what.
Text is ASCII apart from the typographic characters, and holds no ``<``,
``&`` or unicode spaces, so the page template renders it verbatim.
"""

from __future__ import annotations

import random

PHI_NAMES = ["dupont", "martin", "bernard"]
LANGS = ["en", "fr", "de", "es", "zh"]
N_SOURCES = 20

_STOP = ["the", "and", "of", "to", "in", "is", "for", "that", "it", "with", "as", "on"]


def _vocabulary() -> list[str]:
    rng = random.Random(20240601)
    letters = "abcdefghijklmnopqrstuvwxyz"
    words = set()
    while len(words) < 600:
        words.add("".join(rng.choice(letters) for _ in range(rng.randint(3, 9))))
    return sorted(words)


_VOCAB = _vocabulary()
_BOILERPLATE = [
    "subscribe to our newsletter for weekly updates",
    "all rights reserved by the publisher and partners",
    "click here to read the full story on the site",
    "share this page with your friends and family",
    "cookies help us deliver our services to you",
    "related articles are listed in the sidebar below",
    "sign in to leave a comment on this article",
    "advertisement continues after the break",
]
_TYPO = ["“quoted”", "it’s", "range – bound", "wait…", "‘single’"]


def _line(rng: random.Random, n_words: int) -> str:
    out = []
    for _ in range(n_words):
        if rng.random() < 0.22:
            out.append(rng.choice(_STOP))
        else:
            # mild zipf skew: low indices are more common
            out.append(_VOCAB[int(len(_VOCAB) * rng.random() ** 1.6)])
    return " ".join(out)


def _body(rng: random.Random) -> list[str]:
    kind = rng.random()
    if kind < 0.08:  # too short for the quality gate
        return [_line(rng, rng.randint(5, 25))]
    if kind < 0.12:  # repetitive: one line over and over
        line = _line(rng, 6)
        return [line] * rng.randint(8, 14)
    lines = [_line(rng, rng.randint(8, 22)) for _ in range(rng.randint(3, 9))]
    for _ in range(rng.randint(0, 2)):
        lines.insert(rng.randint(0, len(lines)), rng.choice(_BOILERPLATE))
    return lines


def _vary(line: str, rng: random.Random) -> str:
    """Case/spacing variant of a line: same NORM_FP, different bytes."""
    words = line.split(" ")
    words = [w.capitalize() if rng.random() < 0.3 else w for w in words]
    return ("  " if rng.random() < 0.5 else "\t").join(words)


def uid_for(doc_id: int) -> str:
    return f"1.2.840.{doc_id % 50}.99"


def generate(seed: int, n_docs: int) -> tuple[list[dict], dict[int, str]]:
    """``n_docs`` rows plus the ground-truth map doc_id -> injected UID (the
    program never sees the map; the oracle uses it)."""
    rng = random.Random(seed * 1_000_003 + 17)
    rows: list[dict] = []
    bodies: list[list[str]] = []
    uids: dict[int, str] = {}
    for doc_id in range(n_docs):
        if bodies and rng.random() < 0.06:
            lines = [_vary(l, rng) for l in bodies[rng.randrange(len(bodies))]]
        else:
            lines = _body(rng)
            if rng.random() < 0.15:
                i = rng.randrange(len(lines))
                lines[i] = lines[i] + " " + rng.choice(_TYPO)
            if rng.random() < 0.1:
                i = rng.randrange(len(lines))
                lines[i] = lines[i].replace(" ", "  ", 2)
            bodies.append(lines)
        lines = list(lines)
        r = rng.random()
        if r < 0.30:  # the contract's PHI suffix: date, time and e-mail
            lines.append(
                f"seen 2022-03-{doc_id % 28 + 1:02d} at 09:1{doc_id % 10}:33 "
                f"by user{doc_id}@site.fr"
            )
        if rng.random() < 0.08:
            lines.append(f"reviewed by dr {rng.choice(PHI_NAMES).capitalize()} on call")
        if rng.random() < 0.2:
            uids[doc_id] = uid_for(doc_id)
            lines.append(f"study uid {uids[doc_id]} archived")
        rows.append({
            "doc_id": doc_id,
            "text": "\n".join(lines),
            "lang": LANGS[rng.randrange(len(LANGS))],
            "source": f"src{rng.randrange(N_SOURCES)}",
        })
    return rows, uids
