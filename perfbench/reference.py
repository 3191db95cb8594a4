"""Independent DuckDB reference for the pages flagship, and the checker.

The reference recomputes the flagship from the parquet input in SQL: the
six page features, the session id and lags with SQL windows, the weekly
spine with ``generate_series``, and the as-of step with ``ASOF LEFT JOIN``.
It reproduces the feature semantics ``pages_pipeline.py`` documents for the
JVM and Arrow stages:

- whitespace is Java's ASCII ``\\s`` class, so NBSP and other Unicode
  spaces stay inside tokens;
- ``n_unique`` is case-sensitive, stopword and language membership tests
  lower-case first;
- ratios round HALF_UP to 6 places;
- null text gives null features, and the first language profile.

``check`` passes only if row counts match, every key matches, ints,
strings and timestamps are equal, doubles pass ``allclose``, and every
output row has ``matched_ts <= t`` (zero temporal leakage).
"""

from __future__ import annotations

import duckdb

from pliers_spark.functions.text import ENGLISH_STOPWORDS, LANG_PROFILES
from pliers_spark.pages_pipeline import SESSION_GAP_DAYS

WS_CLASS = r"[ \t\n\x0b\f\r]"
WS_CHARS = "chr(32) || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)"
EXACT_COLS = ["lang", "text_length", "n_tokens", "n_unique", "lang_pred",
              "session_id", "text_length_lag1", "matched_ts"]
DOUBLE_COLS = ["stopword_ratio", "quality", "quality_lag1", "quality_delta"]
OUT_COLS = {"url", "t", *EXACT_COLS, *DOUBLE_COLS}
ATOL, RTOL = 1.5e-6, 1e-9  # a HALF_UP tie rounded the other way is 1e-6


def _sql_list(words) -> str:
    return "[" + ", ".join("'" + w.replace("'", "''") + "'" for w in words) + "]"


def _half_up(x: str) -> str:
    return f"floor(({x}) * 1e6 + 0.5) / 1e6"


def connect(threads: int = 4, temp_dir: str | None = None) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET threads = {int(threads)}")
    if temp_dir:
        con.execute(f"SET temp_directory = '{temp_dir}'")
    return con


def build_reference(con: duckdb.DuckDBPyConnection, pages_path: str, table: str = "ref") -> None:
    """Create ``table`` holding the flagship output for ``pages_path``."""
    langs = list(LANG_PROFILES)
    lexicon = [(w, 0) for w in ENGLISH_STOPWORDS] + [
        (w, i + 1) for i, ws in enumerate(LANG_PROFILES.values()) for w in ws
    ]
    con.execute("CREATE OR REPLACE TEMP TABLE _lex (w VARCHAR, k INTEGER)")
    con.executemany("INSERT INTO _lex VALUES (?, ?)", lexicon)
    hits = ", ".join(
        f"count(*) FILTER (WHERE k = {k}) AS h{k}" for k in range(len(langs) + 1)
    )
    # ties go to the earlier profile, as the engine's argmax/when-chain does
    best = "greatest(" + ", ".join(
        f"coalesce(h{i + 1}, 0) * 8 + {len(langs) - 1 - i}" for i in range(len(langs))
    ) + ")"
    lang_pred = f"{_sql_list(langs)}[{len(langs)} - ({best}) % 8]"
    gap_us = int(SESSION_GAP_DAYS * 86_400 * 1_000_000)
    con.execute(f"""
CREATE OR REPLACE TEMP TABLE _pages AS
SELECT url, warc_ts, lang, toks,
       length(s) AS text_length, len(toks) AS n_tok, len(list_distinct(toks)) AS n_uniq,
       length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
         / greatest(length(text), 1) AS alpha,
       length(regexp_replace(text, '{WS_CLASS}', '', 'g')) AS nonws
FROM (SELECT *,
             CASE WHEN s = '' THEN []::VARCHAR[]
                  ELSE regexp_split_to_array(s, '{WS_CLASS}+') END AS toks
      FROM (SELECT url, warc_ts, lang, text, trim(text, {WS_CHARS}) AS s
            FROM read_parquet('{pages_path}')))
""")
    # membership: lower-cased tokens joined to the lexicons, counted per
    # page; (url, warc_ts) is unique in the generated inputs
    con.execute(f"""
CREATE OR REPLACE TEMP TABLE _hits AS
SELECT url, warc_ts, {hits}
FROM (SELECT url, warc_ts, lower(unnest(toks)) AS w FROM _pages) JOIN _lex USING (w)
GROUP BY url, warc_ts
""")
    con.execute(f"""
CREATE OR REPLACE TEMP TABLE _feats AS
WITH c AS (
  SELECT p.* EXCLUDE (toks), greatest(n_tok, 1) AS denom,
         CASE WHEN n_tok IS NOT NULL THEN coalesce(h.h0, 0) END AS sw,
         h.* EXCLUDE (url, warc_ts, h0)
  FROM _pages p LEFT JOIN _hits h USING (url, warc_ts)
)
SELECT url, warc_ts, lang,
       CAST(text_length AS INTEGER) AS text_length,
       CAST(n_tok AS INTEGER) AS n_tokens,
       CAST(n_uniq AS INTEGER) AS n_unique,
       {_half_up("sw / denom")} AS stopword_ratio,
       {_half_up(
           "0.25 * least(n_tok / 50.0, 1.0) + 0.25 * alpha"
           " + 0.25 * least(sw / denom * 5.0, 1.0)"
           " + 0.25 * CASE WHEN nonws / denom BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END"
       )} AS quality,
       {lang_pred} AS lang_pred
FROM c
""")
    con.execute(f"""
CREATE OR REPLACE TEMP TABLE _win AS
WITH o AS (
  SELECT *, epoch_us(warc_ts) - lag(epoch_us(warc_ts))
              OVER (PARTITION BY url ORDER BY warc_ts) AS gap_us,
         lag(text_length) OVER (PARTITION BY url ORDER BY warc_ts) AS text_length_lag1,
         lag(quality) OVER (PARTITION BY url ORDER BY warc_ts) AS quality_lag1
  FROM _feats
)
SELECT * EXCLUDE (gap_us),
       sum(CASE WHEN gap_us IS NULL OR gap_us > {gap_us} THEN 1 ELSE 0 END)
         OVER (PARTITION BY url ORDER BY warc_ts ROWS UNBOUNDED PRECEDING) AS session_id,
       round(quality - quality_lag1, 6) AS quality_delta
FROM o
""")
    con.execute(f"""
CREATE OR REPLACE TEMP TABLE {table} AS
WITH spine AS (
  SELECT url, unnest(generate_series(min(warc_ts), max(warc_ts), INTERVAL 7 DAY)) AS t
  FROM read_parquet('{pages_path}') GROUP BY url
)
SELECT s.url, s.t, w.lang, w.text_length, w.n_tokens, w.n_unique, w.lang_pred,
       w.stopword_ratio, w.quality, w.session_id, w.text_length_lag1,
       w.quality_lag1, w.quality_delta, w.warc_ts AS matched_ts
FROM spine s ASOF LEFT JOIN _win w ON s.url = w.url AND s.t >= w.warc_ts
""")


def load_output(con: duckdb.DuckDBPyConnection, out_dir: str, table: str = "got") -> None:
    """Load an engine output directory of parquet files, timestamps as UTC."""
    con.execute(f"""
CREATE OR REPLACE TEMP TABLE {table} AS
SELECT * REPLACE (make_timestamp(epoch_us(t)) AS t,
                  make_timestamp(epoch_us(matched_ts)) AS matched_ts)
FROM read_parquet('{out_dir}/*.parquet')
""")


def check(con: duckdb.DuckDBPyConnection, got: str = "got", ref: str = "ref") -> list[str]:
    """Compare table ``got`` (engine output) with ``ref``; returns failures."""
    failures = []
    cols = {r[0] for r in con.execute(f"DESCRIBE {got}").fetchall()}
    if cols != OUT_COLS:
        return [f"columns differ: {sorted(cols ^ OUT_COLS)}"]
    n_got, k_got = con.execute(f"SELECT count(*), count(DISTINCT (url, t)) FROM {got}").fetchone()
    n_ref = con.execute(f"SELECT count(*) FROM {ref}").fetchone()[0]
    if n_got != n_ref:
        failures.append(f"row count {n_got} != reference {n_ref}")
    if k_got != n_got:
        failures.append(f"{n_got - k_got} duplicate (url, t) keys")
    leaks = con.execute(f"SELECT count(*) FROM {got} WHERE matched_ts > t").fetchone()[0]
    if leaks:
        failures.append(f"{leaks} rows matched a snapshot after t (leakage)")
    exact = [f"count(*) FILTER (WHERE a.{c} IS DISTINCT FROM b.{c})" for c in EXACT_COLS]
    close = [
        f"count(*) FILTER (WHERE NOT coalesce(abs(a.{c} - b.{c}) <= {ATOL} + {RTOL} * abs(b.{c}),"
        f" a.{c} IS NULL AND b.{c} IS NULL))"
        for c in DOUBLE_COLS
    ]
    row = con.execute(f"""
SELECT count(*) FILTER (WHERE a.url IS NULL OR b.url IS NULL), {", ".join(exact + close)}
FROM {got} a FULL OUTER JOIN {ref} b ON a.url = b.url AND a.t = b.t
""").fetchone()
    if row[0]:
        failures.append(f"{row[0]} keys present on one side only")
    for c, bad in zip(EXACT_COLS + DOUBLE_COLS, row[1:]):
        if bad:
            failures.append(f"{bad} rows differ in {c}")
    return failures
