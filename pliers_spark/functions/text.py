"""Text extractors & filters as JVM-side Column expressions.

Parity targets (SURVEY.md §2.2/§2.4/§2.7; behavior anchors cite the
reference, code is original):

- ``text_length``        ≡ LengthExtractor: ``len(text.strip())``
                           (pliers/extractors/text.py:162-170).
- ``lower_case``         ≡ LowerCasingFilter (pliers/filters/text.py:196-201).
- ``remove_punctuation`` ≡ PunctuationRemovalFilter: strips exactly
                           ``string.punctuation`` (pliers/filters/text.py:186-193).
- ``tokenize``           ≡ TokenizingFilter / ComplexTextStim._from_text with a
                           whitespace/regex tokenizer (pliers/filters/text.py:113-145;
                           pliers/stimuli/text.py:220-248). nltk's Punkt tokenizer is
                           not available in this environment; the engine's canonical
                           tokenizer is a deterministic regex (documented, test-pinned).
- ``num_unique_words``   ≡ NumUniqueWordsExtractor (pliers/extractors/text.py:173-201).
- ``remove_tokens``      ≡ TokenRemovalFilter (pliers/filters/text.py:148-183).
- quality/langid/token-count/fingerprint are the training-data-pipeline
  additions required by the task brief (no pliers counterpart).

Everything here returns a Column built from ``pyspark.sql.functions`` —
no Python UDFs — so Catalyst folds these into whole-stage codegen and
they run at full JVM speed on a 100 TB scan.
"""

from __future__ import annotations

import re
import string

from pyspark.sql import Column
from pyspark.sql import functions as F

# Exactly Python's string.punctuation, as removed by the reference filter
# (pliers/filters/text.py:191-193).
PUNCTUATION = string.punctuation
_PUNCT_CLASS = "[" + "".join("\\" + c for c in PUNCTUATION) + "]"

# Canonical tokenizer: runs of non-whitespace. Matches str.split() /
# DuckDB string_split semantics for the single-space-joined synthetic corpora.
TOKEN_SPLIT_RE = r"\s+"

# Small multilingual stopword profiles for the n-gram/stopword language-ID
# heuristic (public common-word lists, abbreviated).
LANG_PROFILES: dict[str, list[str]] = {
    "en": ["the", "a", "and", "of", "to", "in", "is", "that", "it", "for"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "los", "se", "por"],
    "fr": ["le", "la", "de", "et", "les", "des", "un", "une", "que", "pour"],
    "de": ["der", "die", "das", "und", "ist", "von", "den", "mit", "für", "ein"],
    "zh": ["的", "了", "是", "在", "我", "有", "和", "就", "不", "人"],
}

ENGLISH_STOPWORDS = LANG_PROFILES["en"] + [
    "this", "with", "as", "on", "was", "at", "by", "an", "be", "are",
]


def _isin_lambda(words: list[str]):
    """Single-arg lambda factory for higher-order functions (Spark infers
    lambda-variable count from arity, so defaults can't be used to close
    over the word list)."""
    return lambda t: t.isin(*words)


def _member_pattern(words: list[str]) -> str:
    """Java-regex pattern matching any whitespace-delimited token from
    ``words``. Each word is \\Q..\\E-quoted; the left separator is consumed
    while the right is a lookahead, so adjacent hits ("the the") both count.
    The end anchor is ``\\z``: Java's ``$`` also matches before a final
    line terminator (\\x85, U+2028, U+2029), so it would count the token
    "the\\x85" as "the".
    """
    alts = "|".join("\\Q" + w + "\\E" for w in words)
    return r"(?:^|\s)(?:" + alts + r")(?=\s|\z)"


def token_membership_count(col: Column | str, words: list[str]) -> Column:
    """Occurrences of tokens ∈ ``words`` — semantically identical to
    ``size(filter(tokenize(c), isin(words)))`` but ~50x faster: higher-order
    array functions are *interpreted* per element (no codegen —
    ArrayFilter.eval walks a boxed expression tree), while regexp_count
    stays inside whole-stage codegen. It serves the per-query extractors
    and the JVM reference of the page-feature stage; the flagships run
    the Arrow stage in pages_pipeline instead."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(F.trim(c), F.lit(_member_pattern(words)))


def strip_ws(col: Column | str) -> Column:
    """Python ``str.strip()`` parity: remove leading/trailing *whitespace*
    (Spark's ``trim`` strips only spaces, not \\n/\\t). The end anchor is
    ``\\z``, not ``$``, which in Java also matches before a final line
    terminator: "a \\x85" keeps its inner space."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(F.regexp_replace(c, r"^\s+", ""), r"\s+\z", "")


def text_length(col: Column | str) -> Column:
    """LengthExtractor: character count of the stripped text
    (``len(text.strip())`` — strip is whitespace-wide in Python)."""
    return F.length(strip_ws(col))


def lower_case(col: Column | str) -> Column:
    return F.lower(F.col(col) if isinstance(col, str) else col)


def remove_punctuation(col: Column | str) -> Column:
    return F.regexp_replace(F.col(col) if isinstance(col, str) else col, _PUNCT_CLASS, "")


def tokenize(col: Column | str) -> Column:
    """Split into an array of tokens on whitespace, dropping empties."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.trim(c), TOKEN_SPLIT_RE), lambda t: t != F.lit(""))


def num_unique_words(col: Column | str) -> Column:
    """Exact distinct token count (reference is exact, not approximate:
    pliers/extractors/text.py:173-201). Codegen-safe formulation: split of
    whitespace-stripped text yields no empty tokens except for the empty
    row, handled by the guard — avoids the interpreted ArrayFilter of
    ``tokenize``. NB strip_ws, not F.trim: trim strips only spaces, so a
    "\\n\\t" row would otherwise produce phantom tokens."""
    c = F.col(col) if isinstance(col, str) else col
    t = strip_ws(c)
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(
        F.size(F.array_distinct(F.split(t, TOKEN_SPLIT_RE)))
    )


def remove_tokens(col: Column | str, tokens: list[str]) -> Column:
    """TokenRemovalFilter: drop stopword tokens, re-join with ' '
    (pliers/filters/text.py:148-183). Non-stopword duplicates and order
    are preserved (``array_except`` would dedup — wrong semantics)."""
    arr = tokenize(col)
    kept = F.filter(arr, lambda t: ~t.isin(*tokens))
    return F.array_join(kept, " ")


def token_count(col: Column | str) -> Column:
    """Whitespace token count (training-pipeline token accounting).
    split-of-stripped + empty guard ≡ size(tokenize(c)), fully codegen
    (strip_ws, not F.trim — trim strips only spaces)."""
    c = F.col(col) if isinstance(col, str) else col
    t = strip_ws(c)
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(F.size(F.split(t, TOKEN_SPLIT_RE)))


def word_char_ratio(col: Column | str) -> Column:
    """Alphabetic-character ratio — one of the quality signals."""
    c = F.col(col) if isinstance(col, str) else col
    alpha = F.length(F.regexp_replace(c, r"[^A-Za-z]", ""))
    return alpha / F.greatest(F.length(c), F.lit(1))


def stopword_ratio(col: Column | str, stopwords: list[str] | None = None) -> Column:
    """Fraction of tokens that are (lower-cased) stopwords."""
    sw = stopwords or ENGLISH_STOPWORDS
    c = lower_case(col)
    hits = token_membership_count(c, sw)
    return hits / F.greatest(token_count(c), F.lit(1))


def punct_ratio(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    removed = F.length(c) - F.length(F.regexp_replace(c, _PUNCT_CLASS, ""))
    return removed / F.greatest(F.length(c), F.lit(1))


def mean_token_length(col: Column | str) -> Column:
    """Σ len(token) / n_tokens. Tokens are \\S+ runs, so Σ len(token) is
    simply the count of non-whitespace characters — one regexp_replace
    instead of an interpreted ArrayAggregate fold."""
    c = F.col(col) if isinstance(col, str) else col
    total = F.length(F.regexp_replace(c, r"\s", ""))
    return total.cast("double") / F.greatest(token_count(c), F.lit(1))


def quality_score(col: Column | str) -> Column:
    """Composite document-quality score in [0,1]: blend of length band,
    alphabetic ratio, stopword presence and sane mean token length.
    Deterministic and fully JVM-side (SQL-expressible for the oracle)."""
    c = F.col(col) if isinstance(col, str) else col
    n_tok = token_count(c).cast("double")
    len_band = F.least(n_tok / F.lit(50.0), F.lit(1.0))
    alpha = word_char_ratio(c)
    sw = F.least(stopword_ratio(c) * F.lit(5.0), F.lit(1.0))
    mtl = mean_token_length(c)
    mtl_ok = F.when((mtl >= 2.0) & (mtl <= 12.0), F.lit(1.0)).otherwise(F.lit(0.0))
    return F.round(
        F.lit(0.25) * len_band + F.lit(0.25) * alpha + F.lit(0.25) * sw + F.lit(0.25) * mtl_ok,
        6,
    )


def langid_scores(col: Column | str) -> list[Column]:
    """Per-language stopword-hit ratios — the language-ID heuristic.

    Returns one score column per language profile; ``langid_best`` picks
    the argmax. Pure set-membership over tokens: SQL-expressible and
    shuffle-free (per-row map work).
    """
    c = lower_case(col)
    denom = F.greatest(token_count(c), F.lit(1))
    out = []
    for lang, words in LANG_PROFILES.items():
        hits = token_membership_count(c, words)
        out.append((hits / denom).alias(f"score_{lang}"))
    return out


def langid_best(col: Column | str) -> Column:
    """Argmax language by profile score; deterministic tie-break on the
    profile order via a tiny per-language epsilon bias."""
    c = lower_case(col)
    denom = F.greatest(token_count(c), F.lit(1))
    scored = None
    for i, (lang, words) in enumerate(LANG_PROFILES.items()):
        hits = token_membership_count(c, words)
        score = hits / denom - F.lit(i * 1e-9)
        pair = F.struct(score.alias("s"), F.lit(lang).alias("l"))
        scored = pair if scored is None else F.when(pair["s"] > scored["s"], pair).otherwise(scored)
    return scored["l"]


def split_sentences(col: Column | str) -> Column:
    """ComplexTextStim(unit='sentence') — split text into an ordered
    array of sentences (pliers/stimuli/text.py:230-244 wraps nltk
    sent_tokenize; clean-room rule: a sentence ends at . ! or ?
    followed by whitespace). Pure Column algebra: mark boundaries with
    a \\n (input text is single-line web text), split, trim, drop
    empties — no UDF, fully codegen'd, and reproducible in ANSI SQL.
    """
    c = F.col(col) if isinstance(col, str) else col
    marked = F.regexp_replace(F.trim(c), r"([.!?])\s+", "$1\n")
    return F.filter(
        F.transform(F.split(marked, r"\n"), F.trim), lambda s: s != F.lit("")
    )


# --------------------------------------------------------------------------
# Punkt-lite / Treebank-style word tokenizer (round 3, VERDICT r2 item 7)

# Ordered regex cascade following the published Penn-Treebank word
# tokenizer rules that nltk's word_tokenize applies after Punkt sentence
# splitting (nltk.tokenize.treebank; reference pliers uses it via
# pliers/filters/text.py:139 and pliers/extractors/text.py:192). This is
# the opt-in tokenizer closing the top visible gaps of the default
# whitespace tokenizer: contraction splitting ("don't" -> do | n't),
# trailing-punctuation separation, quote conversion to ``/''.
# Replacements use \1 backreference syntax; each renderer converts.
# ASCII scope (the published rules are ASCII); RE2-safe: no lookaround,
# no comment groups, so the SAME pattern text runs on Java regex
# (Spark), RE2 (DuckDB), and Python re.
TREEBANK_RULES: list[tuple[str, str]] = [
    # starting quotes
    ('^"', "`` "),
    ("(``)", " \\1 "),
    ("([ \\(\\[{<])(\"|'{2})", "\\1 `` "),
    # punctuation
    ("([:,])([^\\d])", " \\1 \\2"),
    ("([:,])$", " \\1 "),
    ("\\.\\.\\.", " ... "),
    ("([;@#$%&])", " \\1 "),
    ("([^\\.])(\\.)([\\]\\)}>\"']*)\\s*$", "\\1 \\2\\3 "),
    ("([?!])", " \\1 "),
    ("([^'])' ", "\\1 ' "),
    # parens / brackets / dashes
    ("([\\]\\[\\(\\)\\{\\}<>])", " \\1 "),
    ("--", " -- "),
    # (padding with one space each side happens between these stages)
    ("^", " "),
    ("$", " "),
    # ending quotes
    ('"', " '' "),
    ("(\\S)('')", "\\1 \\2 "),
    ("([^' ])('[sS]|'[mM]|'[dD]|') ", "\\1 \\2 "),
    ("([^' ])('ll|'LL|'re|'RE|'ve|'VE|n't|N'T) ", "\\1 \\2 "),
    # contractions
    ("(?i)\\b(can)(not)\\b", " \\1 \\2 "),
    ("(?i)\\b(d)('ye)\\b", " \\1 \\2 "),
    ("(?i)\\b(gim)(me)\\b", " \\1 \\2 "),
    ("(?i)\\b(gon)(na)\\b", " \\1 \\2 "),
    ("(?i)\\b(got)(ta)\\b", " \\1 \\2 "),
    ("(?i)\\b(lem)(me)\\b", " \\1 \\2 "),
    ("(?i)\\b(mor)('n)\\b", " \\1 \\2 "),
    ("(?i)\\b(wan)(na) ", " \\1 \\2 "),
    ("(?i) ('t)(is)\\b", " \\1 \\2 "),
    ("(?i) ('t)(was)\\b", " \\1 \\2 "),
]


def treebank_pretokenize(col: Column | str) -> Column:
    """The rule cascade as chained JVM-side regexp_replace (whole-stage
    codegen; no Python in the hot path)."""
    c = F.col(col) if isinstance(col, str) else col
    for pat, repl in TREEBANK_RULES:
        c = F.regexp_replace(c, pat, re.sub(r"\\(\d)", r"$\1", repl))
    return c


def treebank_tokenize(col: Column | str) -> Column:
    """Array of Treebank tokens (order preserved, empties dropped)."""
    return F.filter(
        F.split(F.trim(treebank_pretokenize(col)), TOKEN_SPLIT_RE),
        lambda t: t != F.lit(""),
    )


def treebank_pretokenize_sql(expr: str) -> str:
    """The identical cascade rendered as nested DuckDB regexp_replace
    (single source of truth: TREEBANK_RULES)."""
    out = expr
    for pat, repl in TREEBANK_RULES:
        p = pat.replace("'", "''")
        r = repl.replace("'", "''")
        out = f"regexp_replace({out}, '{p}', '{r}', 'g')"
    return out


def treebank_tokenize_py(text: str) -> list[str]:
    """Pure-Python rendering of the same cascade — the differential
    anchor against real ``nltk.word_tokenize`` when nltk is importable
    (absent in this container; tests gate on the import)."""
    for pat, repl in TREEBANK_RULES:
        text = re.sub(pat, repl, text)
    return [t for t in text.split() if t]


# --------------------------------------------------------------------------
# Punkt-lite sentence segmenter (round 4, VERDICT r3 item 3)

# Abbreviation-aware sentence segmentation mirroring the behavior of
# nltk's pre-trained English Punkt model (reference pliers wraps it:
# pliers/stimuli/text.py:230-244 unit='sentence' via sent_tokenize).
# Punkt proper *learns* its abbreviation set; this is the rule-cascade
# equivalent over the published English abbreviation inventory, built
# exactly like the Treebank cascade above: ONE ordered rule list whose
# identical pattern text runs on Java regex (Spark), RE2 (DuckDB) and
# Python re (goldens + the nltk differential test). No lookaround.
#
# Protocol: (1) protect non-boundary periods by rewriting '.' to a
# private-use sentinel (abbreviations, single-letter initials, decimal
# points, common multi-period abbreviations); (2) mark each remaining
# [.!?]-run + trailing closers + whitespace as a boundary '\n';
# (3) restore the sentinel to '.'; (4) split on '\n'.
_PRD = "\ue001"  # private-use sentinel: cannot appear in web text

# multi-period abbreviations — each dot protected, case preserved
_PUNKT_MULTI = ["e.g", "i.e", "u.s", "u.k", "a.m", "p.m", "ph.d", "a.d", "b.c"]
# single-period abbreviations (the pre-trained Punkt english set's
# high-frequency core; ASCII, matched case-insensitively)
_PUNKT_ABBREVS = [
    "mr", "mrs", "ms", "dr", "prof", "rev", "hon", "pres", "gov", "sen",
    "rep", "gen", "col", "maj", "capt", "lt", "sgt", "st", "mt", "ft",
    "sr", "jr", "vs", "etc", "cf", "viz", "al", "inc", "ltd", "co",
    "corp", "dept", "univ", "assn", "bros", "no", "nos", "vol", "pp",
    "approx", "est", "fig", "jan", "feb", "mar", "apr", "jun", "jul",
    "aug", "sep", "sept", "oct", "nov", "dec", "mon", "tue", "tues",
    "wed", "thu", "thurs", "fri", "sat", "sun",
]


def _punkt_rules() -> list[tuple[str, str]]:
    # scrub any pre-existing sentinel first: adversarial input carrying
    # the private-use codepoint must not alias a protected period
    rules: list[tuple[str, str]] = [(_PRD, "")]
    for ab in _PUNKT_MULTI:
        a, b = ab.split(".", 1)
        rules.append(
            (f"(?i)\\b({a})\\.({b})\\.", f"\\1{_PRD}\\2{_PRD}")
        )
    alts = "|".join(_PUNKT_ABBREVS)
    rules.append((f"(?i)\\b({alts})\\.", f"\\1{_PRD}"))
    # single uppercase initial: "J. Smith" (Punkt's initial heuristic)
    rules.append(("\\b([A-Z])\\.", f"\\1{_PRD}"))
    # decimal / version numbers: 3.14, 2.0.1
    rules.append(("([0-9])\\.([0-9])", f"\\1{_PRD}\\2"))
    # boundary: sentence-final punctuation run (+ closing quotes or
    # brackets) followed by whitespace
    rules.append(("([.!?]+[\"')\\]]*)[ \\t\\r\\n]+", "\\1\n"))
    # restore protected periods
    rules.append((_PRD, "."))
    return rules


PUNKT_RULES: list[tuple[str, str]] = _punkt_rules()


def punkt_mark(col: Column | str) -> Column:
    """Boundary-marked text (sentences separated by '\\n') as chained
    JVM-side regexp_replace — whole-stage codegen, no Python."""
    c = F.trim(F.col(col) if isinstance(col, str) else col)
    for pat, repl in PUNKT_RULES:
        c = F.regexp_replace(c, pat, re.sub(r"\\(\d)", r"$\1", repl))
    return c


def punkt_split_sentences(col: Column | str) -> Column:
    """Ordered array of sentences under the Punkt-lite rules."""
    return F.filter(
        F.transform(F.split(punkt_mark(col), r"\n"), F.trim),
        lambda s: s != F.lit(""),
    )


def punkt_mark_sql(expr: str) -> str:
    """The identical cascade rendered as nested DuckDB regexp_replace
    (single source of truth: PUNKT_RULES)."""
    out = f"trim({expr})"
    for pat, repl in PUNKT_RULES:
        p = pat.replace("'", "''").replace("\n", "\\n")
        r = repl.replace("'", "''").replace("\n", chr(10))
        out = f"regexp_replace({out}, '{p}', '{r}', 'g')"
    return out


def punkt_split_py(text: str) -> list[str]:
    """Pure-Python rendering of the same cascade — differential anchor
    against real ``nltk.sent_tokenize`` when nltk is importable."""
    text = text.strip()
    for pat, repl in PUNKT_RULES:
        text = re.sub(pat, repl, text)
    return [s.strip() for s in text.split("\n") if s.strip()]
