"""Seeded input generator for the benchmark workloads.

Everything here is pure Python and depends only on the seed, so the same
seed writes byte-identical files. The engine never sees the seed or the
expectations: it reads the files.

Filler text is made of pseudo-words that are checked against every token
of the 602-term location dictionary and both sentiment lexicons, so the
counts the generator plants (located tweets, label mix, near-dup pairs)
are exact, not estimates.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
import re

from mbgspark.functions.lexicon import NEGATIVE_ID, POSITIVE_ID
from mbgspark.locations import build_full_locations_dim

EPOCH = dt.datetime(2025, 1, 1, tzinfo=dt.timezone.utc)
_CONS = "bdfgkmnprstvz"
_VOWS = "aeiou"
_RESERVED = {"mention", "hashtag", "link", "http", "www"}


def _ts(t: dt.datetime) -> str:
    return t.strftime("%Y-%m-%dT%H:%M:%S.000Z")


def _reserved_tokens() -> set[str]:
    toks = set(_RESERVED) | set(POSITIVE_ID) | set(NEGATIVE_ID)
    for _p, _c, _o, term in build_full_locations_dim():
        toks.update(term.split())
    return toks


def pseudo_words(rng: random.Random, n: int) -> list[str]:
    """``n`` distinct consonant-vowel pseudo-words (2 to 4 syllables plus
    a closing 'q'), none equal to a dictionary, lexicon or cleaner token."""
    reserved = _reserved_tokens()
    out: list[str] = []
    seen: set[str] = set()
    while len(out) < n:
        w = "".join(
            rng.choice(_CONS) + rng.choice(_VOWS) for _ in range(rng.randint(2, 4))
        ) + "q"
        if w not in seen and w not in reserved:
            seen.add(w)
            out.append(w)
    return out


def planted_places() -> list[str]:
    """Exact city names made of plain words that are not lexicon words:
    any of them makes ``detect_locations`` return a non-null city. Names
    with a separator ('bau-bau') are left out: the matcher turns the
    text's separators into spaces, so such a term can never match."""
    lex = set(POSITIVE_ID) | set(NEGATIVE_ID)
    return sorted(
        {
            term
            for _p, city, _o, term in build_full_locations_dim()
            if city is not None
            and term == city
            and re.fullmatch("[a-z ]+", term)
            and not (set(term.split()) & lex)
        }
    )


# ------------------------------------------------------------------ ETL ----


# Shares of the ETL traffic. Where the repo documents the reference data's
# shape, the share is taken from there:
# - sentiment positive / neutral / negative ~45 / 30 / 25 (BASELINE.md,
#   FIXTURES.md §2; the reference's README.md:136);
# - raw `location` null on ~80 % of rows (FIXTURES.md §1; the reference's
#   src/resilient_scraper.py:482-486);
# - ~2 % texts shorter than 5 characters after trim, ~3 % texts identical
#   to an earlier one after lower(trim()) under another id, ALL-CAPS
#   words and multi-space/newline text (FIXTURES.md §1);
# - ~80 % of processed rows located (FIXTURES.md §2 has ~20 % with no
#   province and no city).
# Assumed, with no documented share: how that ~80 % splits between text
# and author name (a place in 78 % of texts, a city in 10 % of author
# names), and the mention / hashtag / URL / ALL-CAPS / odd-whitespace
# rates below.
P_POSITIVE, P_NEUTRAL = 0.45, 0.30
P_LOCATION_FIELD = 0.20
P_SHORT, P_LOWER_TRIM_DUP = 0.02, 0.03
P_TEXT_PLACE, P_AUTHOR_CITY = 0.78, 0.10
P_MENTION, P_HASHTAG, P_URL = 0.3, 0.3, 0.2
P_CAPS, P_ODD_SPACE = 0.2, 0.2


def _short_word(rng: random.Random, reserved: set[str]) -> str:
    """A 4-letter pseudo-word that no dictionary or lexicon token equals."""
    while True:
        w = rng.choice(_CONS) + rng.choice(_VOWS) + rng.choice(_CONS) + "q"
        if w not in reserved:
            return w


def _upper_words(text: str) -> str:
    """Upper-case every word but URLs (the cleaner's URL pattern is
    case-sensitive, so an upper-cased URL would survive cleaning)."""
    return re.sub(r"\S+", lambda m: m[0] if m[0].startswith("http") else m[0].upper(), text)


def _tweet_text(
    rng: random.Random, vocab: list[str], places: list[str]
) -> tuple[str, bool, str]:
    """A tweet text with its planted outcome: whether it names a place
    and the label its lexicon words give."""
    words = rng.sample(vocab, rng.randint(8, 16))

    def plant(w: str) -> None:
        words.insert(rng.randrange(len(words) + 1), w)

    has_place = rng.random() < P_TEXT_PLACE
    if has_place:
        plant(rng.choice(places))
    r = rng.random()
    if r < P_POSITIVE:
        label = "positive"
        plant(rng.choice(POSITIVE_ID))
    elif r < P_POSITIVE + P_NEUTRAL:
        label = "neutral"
        if rng.random() < 0.5:
            # one word of each polarity ties, which labels neutral
            plant(rng.choice(POSITIVE_ID))
            plant(rng.choice(NEGATIVE_ID))
    else:
        label = "negative"
        plant(rng.choice(NEGATIVE_ID))
    if rng.random() < P_MENTION:
        plant("@" + rng.choice(vocab))
    if rng.random() < P_HASHTAG:
        plant("#" + rng.choice(vocab))
    if rng.random() < P_CAPS:
        for i in rng.sample(range(len(words)), 2):
            words[i] = words[i].upper()
    if rng.random() < P_URL:
        words.append("https://t.co/" + rng.choice(vocab))
    if rng.random() < P_ODD_SPACE:
        gaps = [rng.choice((" ", "  ", "\n", " \n  ")) for _ in words[1:]]
        text = words[0] + "".join(g + w for g, w in zip(gaps, words[1:]))
    else:
        text = " ".join(words)
    return text, has_place, label


def write_etl_days(out_dir: str, seed: int, days: int, per_day: int) -> dict:
    """Write ``days`` scrape files of TWEET_RAW_SCHEMA JSON lines.

    Scrape file *d* holds ``per_day`` new tweets created on days d-2..d
    and re-delivers about 10 % as many ids from the two previous files
    with that file's later ``scraped_at`` and their original
    ``created_at``. File modification times follow day order, which is
    the order the file stream source takes them in. The text and author
    mix follows the shares at the top of this section.

    Returns the expectations the ETL checks compare the store against."""
    rng = random.Random(f"etl:{seed}")
    vocab = pseudo_words(rng, 3000)
    reserved = _reserved_tokens()
    places = planted_places()
    os.makedirs(out_dir, exist_ok=True)
    tweets: dict[str, dict] = {}
    by_file: list[list[str]] = []
    latest_scrape: dict[str, str] = {}
    redelivered: set[str] = set()
    # earlier texts a lower(trim()) duplicate copies, with their outcome
    texts: list[tuple[str, bool, str]] = []
    located = 0
    labels = {"positive": 0, "negative": 0, "neutral": 0}
    delivered = 0
    next_id = 10**15 + seed % 1000 * 10**9
    for d in range(days):
        scraped = EPOCH + dt.timedelta(days=d, hours=23, minutes=rng.randint(0, 50))
        rows = []
        for _ in range(per_day):
            r = rng.random()
            if r < P_SHORT:
                text, has_place, label = f" {_short_word(rng, reserved)} ", False, "neutral"
            elif r < P_SHORT + P_LOWER_TRIM_DUP and texts:
                text, has_place, label = rng.choice(texts)
                text = "  " + _upper_words(text) + "\n"
            else:
                text, has_place, label = _tweet_text(rng, vocab, places)
                texts.append((text, has_place, label))
            handle = rng.choice(vocab)
            author = handle.capitalize()
            if rng.random() < P_AUTHOR_CITY:
                author += " " + rng.choice(places).title()
                has_place = True
            located += has_place
            labels[label] += 1
            if rng.random() < P_LOCATION_FIELD:
                where = rng.choice(places).title() + ", Indonesia"
            else:
                where = None
            created = EPOCH + dt.timedelta(
                days=max(0, d - rng.randint(0, 2)), seconds=rng.randrange(86400)
            )
            tid = str(next_id)
            next_id += rng.randint(1, 50)
            tweets[tid] = {
                "_id": tid,
                "text": text,
                "created_at": _ts(created),
                "scraped_at": _ts(scraped),
                "tweet_url": f"https://x.com/{handle}/status/{tid}",
                "author_handle": handle,
                "author_name": author,
                "location": where,
                "reply_count": rng.randint(0, 20),
                "retweet_count": rng.randint(0, 50),
                "like_count": rng.randint(0, 200),
            }
            rows.append(tweets[tid])
            latest_scrape[tid] = tweets[tid]["scraped_at"]
        prior = [i for f in by_file[-2:] for i in f]
        again = rng.sample(prior, min(len(prior), per_day // 10))
        for tid in again:
            t = dict(tweets[tid])
            t["scraped_at"] = _ts(scraped + dt.timedelta(seconds=1))
            t["like_count"] += rng.randint(1, 30)
            tweets[tid] = t
            rows.append(t)
            latest_scrape[tid] = t["scraped_at"]
            redelivered.add(tid)
        by_file.append([r["_id"] for r in rows[:per_day]])
        delivered += len(rows)
        path = os.path.join(out_dir, f"scrape_{d:03d}.json")
        with open(path, "w") as f:
            for row in rows:
                f.write(json.dumps(row, sort_keys=True) + "\n")
        mtime = EPOCH.timestamp() + d * 60
        os.utime(path, (mtime, mtime))
    return {
        "ids": len(tweets),
        "rows_delivered": delivered,
        "latest_scrape": {t: latest_scrape[t] for t in sorted(redelivered)},
        "located": located,
        "labels": labels,
        "first_day": EPOCH.date().isoformat(),
        "last_day": (EPOCH + dt.timedelta(days=days - 1)).date().isoformat(),
    }


# -------------------------------------------------------------- curation ----


def _edit(rng: random.Random, words: list[str], vocab: list[str], n: int) -> list[str]:
    """Replace ``n`` words at positions at least four apart, so no 3-word
    shingle holds two edits."""
    out = list(words)
    pos = rng.sample(range(0, len(out), 4), n)
    for p in pos:
        out[p] = rng.choice(vocab)
    return out


def make_curate_corpus(
    seed: int, docs: int, viral: int, batch: int, words_per_doc: int = 32
) -> dict:
    """A curation corpus of ``docs`` numeric-id documents plus one new-day
    batch of ``batch`` documents.

    - 10 % of the corpus are near-dup copies of another doc with one or
      two word substitutions (Jaccard of 3-word shingles >= 0.65 by
      construction); the (original, copy) id pairs are the planted pairs;
    - ``viral`` docs are one identical text, an exact-dup cluster larger
      than the LSH bucket cap, so every band puts it in one oversized
      bucket;
    - the batch holds fresh docs and near-dup copies of corpus docs."""
    rng = random.Random(f"curate:{seed}")
    vocab = pseudo_words(rng, 20000)

    def fresh() -> list[str]:
        return [rng.choice(vocab) for _ in range(words_per_doc)]

    corpus: list[tuple[int, str]] = []
    planted: list[tuple[int, int]] = []
    base_words: dict[int, list[str]] = {}
    next_id = 1
    n_copies = docs // 10
    n_fresh = docs - n_copies - viral
    for _ in range(n_fresh):
        w = fresh()
        base_words[next_id] = w
        corpus.append((next_id, " ".join(w)))
        next_id += 1
    originals = list(base_words)
    for _ in range(n_copies):
        src = rng.choice(originals)
        corpus.append((next_id, " ".join(_edit(rng, base_words[src], vocab, rng.randint(1, 2)))))
        planted.append((src, next_id))
        next_id += 1
    viral_text = " ".join(fresh())
    corpus.extend((i, viral_text) for i in range(next_id, next_id + viral))
    next_id += viral
    rng.shuffle(corpus)
    new_batch: list[tuple[int, str]] = []
    batch_planted: list[tuple[int, int]] = []
    for _ in range(batch):
        if rng.random() < 0.2:
            src = rng.choice(originals)
            new_batch.append((next_id, " ".join(_edit(rng, base_words[src], vocab, 1))))
            batch_planted.append((next_id, src))
        else:
            new_batch.append((next_id, " ".join(fresh())))
        next_id += 1
    return {
        "corpus": corpus,
        "batch": new_batch,
        "planted": planted,
        "batch_planted": batch_planted,
    }


def write_docs(out_dir: str, docs: list[tuple[int, str]], parts: int) -> None:
    """JSON lines ``{"id": ..., "text": ...}`` split round-robin over
    ``parts`` files, so the scan has one split per core."""
    os.makedirs(out_dir, exist_ok=True)
    files = [
        open(os.path.join(out_dir, f"part-{p:03d}.json"), "w") for p in range(parts)
    ]
    try:
        for i, (doc_id, text) in enumerate(docs):
            files[i % parts].write(json.dumps({"id": doc_id, "text": text}) + "\n")
    finally:
        for f in files:
            f.close()
