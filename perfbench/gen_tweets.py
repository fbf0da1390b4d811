"""Seeded synthetic stand-in for the Kaggle nlp-getting-started train.csv.

Shape kept from the real file: 7,613 records, five string columns
(id, keyword, location, text, target), sparse increasing ids, blank
keyword/location in many rows, tweet text with URLs, @mentions,
#hashtags, embedded "" quotes and newlines inside quoted fields, and
about 43% positive targets.

The vocabulary is about 14k letters-only pseudo-words drawn with a
Zipfian law, because the engine's cleanup drops every non-letter. The
positive class carries a planted lexical signal: positive tweets draw
most of their words from a signal set of 60 words, which negative
tweets draw from only rarely. `SIGNAL_MARGIN` is the accuracy over the
majority-class rate that every classifier must keep; the benchmark
checks it.

The same seed gives byte-identical output (one `random.Random`, no
hash-order dependence).
"""
import csv
import io
import random

ROWS = 7613
VOCAB = 14000
POSITIVE_RATE = 0.43
SIGNAL_WORDS = 60
P_SIGNAL_POS = 0.6    # chance that a word of a positive tweet is a signal word
P_SIGNAL_NEG = 0.02   # the same for a negative tweet
# With ~14 words a tweet, a positive tweet holds ~8 signal words and a
# negative one fewer than 0.3. At 1,500 rows (~300 test rows) the
# weakest classifiers (naive Bayes, random forest) then beat the
# majority rate by 0.25-0.36 over 19 seeds, so a margin of 0.10
# holds with room to spare. A weaker plant (300 signal words at 0.35)
# left them only 0.13-0.22 above it over 33 seeds, close enough that
# a long series of runs could meet a seed below the margin.
SIGNAL_MARGIN = 0.10

_ONSETS = ["b", "c", "d", "f", "g", "h", "j", "k", "l", "m", "n", "p", "r",
           "s", "t", "v", "w", "z", "br", "cr", "dr", "fl", "gr", "kl", "pl",
           "pr", "sl", "st", "tr", "sh", "ch", "th"]
_VOWELS = ["a", "e", "i", "o", "u", "ai", "ea", "io", "ou", "y"]
_CODAS = ["", "", "n", "r", "l", "m", "k", "x", "nd", "rt", "sk"]


def _vocabulary(rng, n):
    """n distinct lowercase pseudo-words of 1-3 syllables, letters only."""
    words, seen = [], set()
    while len(words) < n:
        w = "".join(rng.choice(_ONSETS) + rng.choice(_VOWELS)
                    for _ in range(rng.randint(1, 3))) + rng.choice(_CODAS)
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def _zipf_cdf(n, s=1.07):
    weights = [1.0 / (k ** s) for k in range(1, n + 1)]
    total, acc, cdf = sum(weights), 0.0, []
    for w in weights:
        acc += w
        cdf.append(acc / total)
    return cdf


def _styled(rng, word):
    r = rng.random()
    if r < 0.06:
        return word.capitalize()
    if r < 0.08:
        return word.upper()
    if r < 0.11:
        return "#" + word
    return word


def tweets(seed, rows=ROWS):
    """Yield (id, keyword, location, text, target) string tuples."""
    import bisect
    rng = random.Random(seed)
    vocab = _vocabulary(rng, VOCAB)
    # the signal words are rare in the Zipf body, so only the plant
    # makes them frequent
    signal = vocab[-SIGNAL_WORDS:]
    body = vocab[:-SIGNAL_WORDS]
    cdf = _zipf_cdf(len(body))
    signal_cdf = _zipf_cdf(len(signal))

    def draw(table, words):
        return words[min(bisect.bisect_left(table, rng.random()),
                         len(words) - 1)]
    keywords = body[200:260]
    places = ["New York", "London", "Lagos", "Mumbai", "Sydney, NSW",
              "Toronto", "Earth", "Everywhere", "California, USA"]
    next_id = 1
    for _ in range(rows):
        next_id += rng.randint(1, 3)
        positive = rng.random() < POSITIVE_RATE
        n = rng.randint(6, 22)
        p_signal = P_SIGNAL_POS if positive else P_SIGNAL_NEG
        words = [draw(signal_cdf, signal) if rng.random() < p_signal
                 else draw(cdf, body) for _ in range(n)]
        parts = [_styled(rng, w) for w in words]
        if rng.random() < 0.3:
            parts.insert(rng.randrange(len(parts) + 1),
                         "@" + rng.choice(body[:500]) + str(rng.randint(1, 99)))
        if rng.random() < 0.15:
            parts.insert(rng.randrange(len(parts) + 1),
                         '"' + rng.choice(body[:300]) + '"')
        if rng.random() < 0.08:
            parts.insert(rng.randrange(1, len(parts) + 1), "\n")
        if rng.random() < 0.1:
            parts.append(str(rng.randint(2, 2024)))
        if rng.random() < 0.35:
            parts.append("http://t.co/" + "".join(
                rng.choice("abcdefghijkmnpqrstuvwxyzABCDEFGH0123456789")
                for _ in range(10)))
        text = " ".join(parts).replace(" \n ", "\n")
        if rng.random() < 0.05:
            text += rng.choice(["!!", "?", "...", " :)", " &amp; more"])
        keyword = rng.choice(keywords) if rng.random() < 0.6 else ""
        location = rng.choice(places) if rng.random() < 0.45 else ""
        yield (str(next_id), keyword, location, text,
               "1" if positive else "0")


def render(seed, rows=ROWS):
    """The CSV file's full text: header plus RFC-4180 quoted records."""
    buf = io.StringIO()
    w = csv.writer(buf, lineterminator="\n", quoting=csv.QUOTE_MINIMAL)
    w.writerow(["id", "keyword", "location", "text", "target"])
    for row in tweets(seed, rows):
        w.writerow(row)
    return buf.getvalue()


def write(path, seed, rows=ROWS):
    with open(path, "w", encoding="utf-8", newline="") as f:
        f.write(render(seed, rows))
