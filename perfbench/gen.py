"""Seeded generator for the benchmark's ``pages(url, warc_ts, html, text,
lang)`` inputs.

Everything is drawn from one ``numpy`` generator seeded by the caller, and
the parquet is written with fixed settings, so one seed always gives a
byte-identical file. The generator varies the input properties the
flagship job's speed depends on:

- a Zipf vocabulary of several thousand words whose head holds the
  engine's own stopword and language-profile lexicons (so extraction's
  ``factorize`` and membership tests see a real vocabulary);
- mixed case (title and upper case variants of every word);
- a small share of rows joined with NBSP or other non-ASCII whitespace
  (the regex-split fallback of the Arrow extraction stage), plus rows
  with ASCII tabs/newlines and padded edges;
- a small share of null, empty and whitespace-only texts;
- Zipf-skewed domains;
- snapshot gaps on both sides of the 30-day session gap, and exactly on it;
- optionally a few hot urls whose snapshot count crosses the heavy-hitter
  threshold (``flagship_hot``).
"""

from __future__ import annotations

import string
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from pliers_spark.functions.text import ENGLISH_STOPWORDS, LANG_PROFILES

DAY = 86_400
EPOCH = 1_700_000_000
LANGS = np.array(["en", "en", "en", "es", "fr", "de", "zh"])
# per-row join separators; the first is the common case
SEPARATORS = [" ", "\n", " \t", "\u00a0", " \u00a0", "\u2003", " \u3000", "\u2009"]
SEP_P = [0.955, 0.01, 0.01, 0.005, 0.005, 0.005, 0.005, 0.005]
NULL_SHARE = 0.01
EMPTY_SHARE = 0.004  # half "", half whitespace-only
PADDED_SHARE = 0.02  # ASCII whitespace around the text
MAX_SNAPSHOTS = 8
N_DOMAINS, ZIPF_DOMAINS = 500, 1.2
VOCAB_SIZE, ZIPF_WORDS = 6000, 1.05
MIN_TOKENS, MAX_TOKENS = 15, 60


@dataclass(frozen=True)
class Spec:
    """Shape of one generated table: urls of 1..MAX_SNAPSHOTS snapshots,
    plus ``hot_urls`` urls of ``hot_snapshots`` snapshots each."""

    n_urls: int
    hot_urls: int = 0
    hot_snapshots: int = 0


def vocabulary(rng: np.random.Generator, size: int) -> np.ndarray:
    """Lexicon words first (Zipf head), then distinct synthetic words."""
    lexicon = list(dict.fromkeys(
        ENGLISH_STOPWORDS + [w for ws in LANG_PROFILES.values() for w in ws]
    ))
    seen = set(lexicon)
    letters = np.array(list(string.ascii_lowercase))
    words = []
    while len(words) < size - len(lexicon):
        n = int(rng.integers(2, 11))
        w = "".join(letters[rng.integers(0, 26, size=n)])
        if w not in seen:
            seen.add(w)
            words.append(w)
    head = np.array(lexicon, dtype=object)
    rng.shuffle(head)
    # lexicon words take every third rank of the head so content words mix in
    vocab = np.empty(size, dtype=object)
    pos = np.arange(len(head)) * 3
    vocab[pos] = head
    rest = np.ones(size, dtype=bool)
    rest[pos] = False
    vocab[rest] = words
    return vocab


def _timestamps(rng, n_snap: np.ndarray, hot: np.ndarray) -> np.ndarray:
    """Per-url increasing epoch seconds with gaps on both sides of 30 days."""
    rows = int(n_snap.sum())
    kind = rng.choice(4, size=rows, p=[0.75, 0.10, 0.05, 0.10])
    gaps = np.select(
        [kind == 0, kind == 1, kind == 2],
        [rng.integers(3_600, 3 * DAY, size=rows),
         rng.integers(20 * DAY, 30 * DAY, size=rows),
         np.full(rows, 30 * DAY)],
        rng.integers(30 * DAY + 1, 60 * DAY, size=rows),
    )
    # hot urls are recrawled within hours, with the rare long gap
    hot_row = np.repeat(hot, n_snap)
    short = rng.integers(600, 12 * 3_600, size=rows)
    gaps = np.where(hot_row & (kind != 3), short, gaps)
    starts = np.cumsum(n_snap) - n_snap
    gaps[starts] = EPOCH + rng.integers(0, 30 * DAY, size=len(n_snap))
    ts = np.cumsum(gaps)
    before = np.repeat(ts[starts] - gaps[starts], n_snap)
    return ts - before


def generate(spec: Spec, seed: int) -> pa.Table:
    rng = np.random.default_rng(seed)
    vocab = vocabulary(rng, VOCAB_SIZE)
    variants = np.concatenate([
        vocab,
        np.array([w.title() for w in vocab], dtype=object),
        np.array([w.upper() for w in vocab], dtype=object),
    ])

    n_urls = spec.n_urls + spec.hot_urls
    n_snap = rng.integers(1, MAX_SNAPSHOTS + 1, size=n_urls)
    hot = np.zeros(n_urls, dtype=bool)
    if spec.hot_urls:
        hot_ids = rng.choice(n_urls, size=spec.hot_urls, replace=False)
        hot[hot_ids] = True
        n_snap[hot_ids] = spec.hot_snapshots
    w_dom = 1.0 / np.arange(1, N_DOMAINS + 1) ** ZIPF_DOMAINS
    domains = rng.choice(N_DOMAINS, size=n_urls, p=w_dom / w_dom.sum())
    urls = np.array(
        [f"https://d{d}.example.com/p/{i}" for i, d in enumerate(domains)], dtype=object
    )
    langs = LANGS[rng.integers(0, len(LANGS), size=n_urls)]
    ts = _timestamps(rng, n_snap, hot)
    rows = len(ts)

    # text: Zipf token ids, a case variant per token, a separator per row
    n_tok = rng.integers(MIN_TOKENS, MAX_TOKENS + 1, size=rows)
    w_word = 1.0 / np.arange(1, VOCAB_SIZE + 1) ** ZIPF_WORDS
    tok = rng.choice(VOCAB_SIZE, size=int(n_tok.sum()), p=w_word / w_word.sum())
    case = rng.choice(3, size=len(tok), p=[0.85, 0.10, 0.05])
    tokens = pa.array(variants[tok + case * VOCAB_SIZE], type=pa.string())
    offsets = np.concatenate([[0], np.cumsum(n_tok)]).astype(np.int32)
    lists = pa.ListArray.from_arrays(pa.array(offsets), tokens)
    sep = np.array(SEPARATORS, dtype=object)[rng.choice(len(SEPARATORS), size=rows, p=SEP_P)]
    text = pc.binary_join(lists, pa.array(sep, type=pa.string()))
    padded = rng.random(rows) < PADDED_SHARE
    text = pc.if_else(
        pa.array(padded), pc.binary_join_element_wise(" \t", text, "\n ", ""), text
    )
    u = rng.random(rows)
    blank = np.where(u < EMPTY_SHARE / 2, "", " \t\n")
    text = pc.if_else(pa.array(u < EMPTY_SHARE), pa.array(blank, type=pa.string()), text)
    text = pc.if_else(
        pa.array((u >= EMPTY_SHARE) & (u < EMPTY_SHARE + NULL_SHARE)),
        pa.nulls(rows, pa.string()), text,
    )
    html = pc.cast(
        pc.binary_join_element_wise("<html><body><p>", text, "</p></body></html>", ""),
        pa.binary(),
    )

    url_col = np.repeat(urls, n_snap)
    order = np.lexsort((ts, url_col.astype(str)))  # sorted by (url, warc_ts)
    return pa.table({
        "url": pa.array(url_col[order], type=pa.string()),
        "warc_ts": pa.array(ts[order] * 1_000_000, type=pa.timestamp("us")),
        "html": html.take(pa.array(order)),
        "text": text.take(pa.array(order)),
        "lang": pa.array(np.repeat(langs, n_snap)[order], type=pa.string()),
    })


# one input shape per workload; the heavy-hitter threshold is jobs.py's 500
SPECS = {
    "flagship_plain": Spec(n_urls=16_000),
    "flagship_hot": Spec(n_urls=4_000, hot_urls=3, hot_snapshots=600),
}


def write(spec: Spec, seed: int, path: str) -> int:
    """Write the table for ``seed`` to ``path``; returns its row count."""
    table = generate(spec, seed)
    pq.write_table(table, path, row_group_size=2_048, compression="snappy",
                   write_statistics=True, store_schema=False)
    return table.num_rows


def measure(table: pa.Table) -> dict:
    """The input properties the engine's speed depends on, as shares."""
    text = table["text"]
    rows = table.num_rows
    valid = pc.drop_null(text)
    toks = pc.list_flatten(pc.split_pattern_regex(pc.utf8_trim(valid, "\t\n\x0b\f\r "),
                                                  "[\t\n\x0b\f\r ]+"))
    toks = toks.filter(pc.not_equal(toks, ""))
    lexicon = set(ENGLISH_STOPWORDS) | {w for ws in LANG_PROFILES.values() for w in ws}
    lower = pc.utf8_lower(toks)
    extra_ws = "".join(SEPARATORS[3:]).replace(" ", "")
    per_url = table.group_by("url").aggregate([("url", "count")])["url_count"]
    ts = table["warc_ts"].cast(pa.int64()).to_numpy() // 1_000_000
    same = table["url"].to_numpy()[1:] == table["url"].to_numpy()[:-1]
    gaps = (ts[1:] - ts[:-1])[same]
    gap_s = 30 * DAY
    return {
        "pages": rows,
        "urls": len(per_url),
        "vocabulary": len(pc.unique(lower)),
        "lexicon_token_share": pc.mean(pc.is_in(lower, pa.array(sorted(lexicon)))).as_py(),
        "mixed_case_token_share": pc.mean(pc.not_equal(toks, lower)).as_py(),
        "non_ascii_ws_rows": pc.sum(pc.match_substring_regex(valid, f"[{extra_ws}]")).as_py() / rows,
        "null_rows": text.null_count / rows,
        "blank_rows": pc.sum(pc.equal(pc.utf8_trim(valid, "\t\n\x0b\f\r "), "")).as_py() / rows,
        "max_snapshots_per_url": pc.max(per_url).as_py(),
        "gaps_below_30d": float(np.mean(gaps < gap_s)),
        "gaps_at_30d": float(np.mean(gaps == gap_s)),
        "gaps_above_30d": float(np.mean(gaps > gap_s)),
    }


if __name__ == "__main__":
    import sys

    name, seed, out = sys.argv[1], int(sys.argv[2]), sys.argv[3]
    print(write(SPECS[name], seed, out))
