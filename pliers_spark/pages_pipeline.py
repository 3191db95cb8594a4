"""The north-rule flagship job over ``pages(url, warc_ts, html, text, lang)``:

  scan (html pruned) → per-snapshot feature extraction (one vectorized
  Arrow stage) → per-url windowed features (sessionize, lag) →
  point-in-time as-of features on a weekly spine → feature table.

This is the job the scaling evidence (BENCH/BASELINE.md) measures in
pages/sec at two parallelism levels. Every stage is shuffle-accounted:

1. extraction: ZERO shuffles (one narrow ``mapInArrow`` stage: Arrow
   record batches in and out, no pandas frame on either side);
2. windowed features: ONE shuffle on url. The extracted row, packed in
   one struct, gets its session, its two predecessors' rows and the
   url's first ``warc_ts`` from window specs that share one
   partitioning, so Catalyst reuses one Exchange;
3. as-of features: ZERO shuffles. The spine is each url's own grid from
   its first ``warc_ts``, so no spine frame is built and nothing is
   joined: one narrow explode emits the spine points each snapshot
   decides.

When the heavy-hitter census finds a hot url, one time-bucket carry
pass fills the same columns in stage 2 instead; stage 3 is the same
code. Both sides of the carry pass's self-join share one exchange, so
both paths run the extraction once.

The ``html`` binary column is never referenced — column pruning keeps
it out of the scan entirely (asserted in tests/test_plans.py).
"""

from __future__ import annotations

import string
import sys

import numpy as np
from pyspark import cloudpickle
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .functions import text as T
from .operators import temporal as TP
from .operators._util import epoch_seconds, ts_micros

SESSION_GAP_DAYS = 30.0
_SESSION_GAP_S = SESSION_GAP_DAYS * 86400
_SKEW_BUCKET_S = 90 * 86400  # ~1 quarter per task for the hottest domain

_FEATURE_SCHEMA = (
    "text_length int, n_tokens int, n_unique int, stopword_ratio double, "
    "quality double, lang_pred string not null"
)


def extract_page_features_arrow(pages: DataFrame) -> DataFrame:
    """Per-snapshot extraction of the six page features, keyed by
    ``url, warc_ts, lang`` — the engine's page-feature stage."""
    return _extract_features(pages, ("url", "warc_ts", "lang"))


def extract_document_features(docs: DataFrame) -> DataFrame:
    """The documents flagship: the same six features over
    ``documents(doc_id, text, lang)``, counts as ``long`` — the Spark
    recast of a pliers ``Graph`` with several text extractors over one
    scan, merged wide (``merge_results(format='wide')``)."""
    feats = _extract_features(docs, ("doc_id", "lang"))
    return feats.withColumns(
        {c: F.col(c).cast("long") for c in ("text_length", "n_tokens", "n_unique")}
    )


def _extract_features(df: DataFrame, keys: tuple[str, ...]) -> DataFrame:
    """The six features as ONE vectorized ``mapInArrow`` stage
    (partition-parallel over Arrow record batches, never per-row Python
    and no pandas frame on either side of the boundary); ``keys`` pass
    through as the batch's own Arrow arrays. :func:`_feature_batch` is
    the per-batch body.

    :func:`extract_page_features` is the JVM-expression reference it
    reproduces bit for bit; tests/test_pages_extract.py pins the two
    together."""
    key_schema = ", ".join(f"{k} {df.schema[k].dataType.simpleString()}" for k in keys)
    return df.select(*keys, "text").mapInArrow(
        lambda batches: _feature_batches(batches, keys),
        schema=f"{key_schema}, {_FEATURE_SCHEMA}",
    )


# Java regex \s is the ASCII class [ \t\n\x0b\f\r] (NOT Unicode
# whitespace: NBSP, \x1c-\x1f, \x85 and the U+2000 block stay inside a
# token), which is what utf8_trim(_WS) strips and ascii_split_whitespace
# splits on.
_WS = " \t\n\x0b\f\r"
_STOPWORDS = frozenset(T.ENGLISH_STOPWORDS)
_PROFILES = [(lang, frozenset(ws)) for lang, ws in T.LANG_PROFILES.items()]


def _byte_table(chars: str) -> np.ndarray:
    table = np.zeros(256, dtype=np.uint8)
    table[[ord(c) for c in chars]] = 1
    return table


_IS_ALPHA = _byte_table(string.ascii_letters)
_IS_WS = _byte_table(_WS)

# Spark's cloudpickle ships this module's functions (the stage's batch
# body) by value, so Python workers run them without importing this
# package; only numpy, pandas and pyarrow must be installed there.
cloudpickle.register_pickle_by_value(sys.modules[__name__])


def _feature_batches(batches, keys: tuple[str, ...]):
    """The stage's function: :func:`_feature_batch` over one task's
    record batches."""
    _keep_archive_listings()
    for rb in batches:
        yield _feature_batch(rb, keys)


def _keep_archive_listings():
    """The Python worker calls ``importlib.invalidate_caches()`` at the
    start of every task, and on CPython 3.11 that makes every
    ``zipimporter`` re-read its archive's whole directory. A worker holds
    one per package it imported from pyspark.zip and the spark-core jar,
    so each task would spend ~0.15-0.3 s re-reading them before its
    first batch. The archives already on a worker's path (Spark's own, and the job's
    ``--py-files``) do not change while the worker lives, so their
    importers keep their listings from here on; an archive that appears
    later gets a new importer, which re-reads as before."""
    import zipimport

    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            finder.invalidate_caches = lambda: None


def _byte_class_count(a, table):
    """Per-row count of the bytes ``table`` marks in ``a``, a
    ``large_string`` array that may be a slice of a longer one: its
    offsets start at ``a.offset`` and its bytes at ``off[0]``."""
    if not len(a):
        return np.zeros(0, dtype=np.int64)
    _, off, data = a.buffers()
    off = np.frombuffer(off, dtype=np.int64)[a.offset : a.offset + len(a) + 1]
    raw = np.frombuffer(data, dtype=np.uint8) if data else np.zeros(0, dtype=np.uint8)
    # a 0 sentinel byte makes every start offset a valid index, also
    # that of an empty or null last row
    hits = np.append(table[raw[off[0] : off[-1]]], np.uint8(0))
    n = np.add.reduceat(hits, off[:-1] - off[0], dtype=np.int64)
    n[off[1:] == off[:-1]] = 0  # reduceat gives hits[start] for an empty row
    return n


def _round6_half_up(x):
    return np.floor(x * 1e6 + 0.5) / 1e6  # non-negative inputs only


def _feature_batch(rb, keys: tuple[str, ...]):
    """One Arrow record batch of ``keys`` + ``text`` → the same keys
    (the batch's arrays, untouched) + the six features.

    The text becomes one ``large_string`` array (int64 offsets: a batch
    of huge pages cannot overflow them), and every step works on the
    whole batch:

    - the strip and the split are Arrow kernels whose whitespace is
      exactly Java's ``\\s``;
    - ASCII letters and ``\\s`` are single UTF-8 bytes, which never
      occur inside a multi-byte character, so a byte lookup table
      summed per row over the offsets gives the JVM's per-character
      counts;
    - the token stream is dictionary-encoded, so lowering and set
      membership run once per distinct word, the per-row sums are
      bincounts, and the case-sensitive distinct count is one
      ``np.unique`` over a single (row, word) key;
    - outputs are Arrow arrays masked by the null text rows: null text
      gives null features (JVM null propagation).

    F.round is HALF_UP while np.round is banker's (half-to-even), so a
    dyadic half-tie like 1/128 needs :func:`_round6_half_up`. The JVM
    expression path defines the feature semantics;
    tests/test_pages_extract.py's adversarial sweeps pin it."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.compute as pc

    a = rb.column("text").cast(pa.large_string())
    nrow = len(a)
    null_mask = a.is_null().to_numpy(zero_copy_only=False)
    stripped = pc.utf8_trim(a, _WS)
    text_length = pc.utf8_length(stripped).fill_null(0).to_numpy()
    tokens = pc.ascii_split_whitespace(stripped)
    ii = pc.list_parent_indices(tokens).to_numpy()
    words = pc.dictionary_encode(tokens.flatten())
    # an empty stripped row splits to [''] — not a token
    keep = text_length[ii] > 0
    codes, ii = words.indices.to_numpy()[keep], ii[keep]
    uniq_low = pd.Index(words.dictionary.to_pandas()).str.lower()

    def _row_hits(member_u):
        sel = np.asarray(member_u)[codes]
        return np.bincount(ii[sel], minlength=nrow)

    sw_hits = _row_hits(uniq_low.isin(_STOPWORDS))
    lang_hits = [_row_hits(uniq_low.isin(ws)) for _, ws in _PROFILES]
    n_words = max(len(words.dictionary), 1)
    row_words = np.unique(ii.astype(np.int64) * n_words + codes)
    n_unique = np.bincount(row_words // n_words, minlength=nrow)
    n_tokens = np.bincount(ii, minlength=nrow)
    denom = np.maximum(n_tokens, 1)
    sw_ratio = sw_hits / denom
    n_chars = pc.utf8_length(a).fill_null(0).to_numpy()
    alpha = _byte_class_count(a, _IS_ALPHA) / np.maximum(n_chars, 1)
    mtl = (n_chars - _byte_class_count(a, _IS_WS)) / denom
    quality = _round6_half_up(
        0.25 * np.minimum(n_tokens / 50.0, 1.0)
        + 0.25 * alpha
        + 0.25 * np.minimum(sw_ratio * 5.0, 1.0)
        + 0.25 * ((mtl >= 2.0) & (mtl <= 12.0)).astype(float)
    )
    scores = np.stack([h / denom - j * 1e-9 for j, h in enumerate(lang_hits)], axis=1)
    mask = null_mask if null_mask.any() else None
    feats = {
        "text_length": pa.array(text_length.astype(np.int32), mask=mask),
        "n_tokens": pa.array(n_tokens.astype(np.int32), mask=mask),
        "n_unique": pa.array(n_unique.astype(np.int32), mask=mask),
        "stopword_ratio": pa.array(_round6_half_up(sw_ratio), mask=mask),
        "quality": pa.array(quality, mask=mask),
        # a null row scores 0 - j·1e-9, so argmax picks index 0 = the
        # JVM when-chain's first-profile fallback, unmasked
        "lang_pred": pa.array([lang for lang, _ in _PROFILES]).take(np.argmax(scores, axis=1)),
    }
    return pa.RecordBatch.from_arrays(
        [*(rb.column(k) for k in keys), *feats.values()], names=[*keys, *feats]
    )


def extract_page_features(pages: DataFrame) -> DataFrame:
    """The JVM-expression reference for the page-feature stage — no
    engine path calls it; tests/test_pages_extract.py's adversarial
    sweeps hold the Arrow stage to it.

    Every expression here stays inside whole-stage codegen: token
    membership counts are single regexp_count passes
    (functions.text.token_membership_count) and token stats are
    split/length arithmetic. Higher-order array lambdas (F.filter /
    F.aggregate) are deliberately absent — they are *interpreted* per
    element (no codegen) and profiled ~50x slower on this exact stage."""
    lower_text = F.col("_ltext")

    def isin_count(words: list[str]) -> Column:
        return T.token_membership_count(lower_text, words)

    n_tokens = F.col("_n_tokens")
    denom = F.greatest(n_tokens, F.lit(1))
    sw_ratio = isin_count(T.ENGLISH_STOPWORDS) / denom

    alpha = F.length(F.regexp_replace(F.col("text"), r"[^A-Za-z]", "")) / F.greatest(
        F.length(F.col("text")), F.lit(1)
    )
    # Σ len(token) = non-whitespace char count (tokens are \S+ runs)
    mtl = F.length(F.regexp_replace(F.col("text"), r"\s", "")).cast("double") / denom
    quality = F.round(
        F.lit(0.25) * F.least(n_tokens.cast("double") / F.lit(50.0), F.lit(1.0))
        + F.lit(0.25) * alpha
        + F.lit(0.25) * F.least(sw_ratio * F.lit(5.0), F.lit(1.0))
        + F.lit(0.25) * F.when((mtl >= 2.0) & (mtl <= 12.0), F.lit(1.0)).otherwise(F.lit(0.0)),
        6,
    )

    scored = None
    for i, (lang, words) in enumerate(T.LANG_PROFILES.items()):
        score = isin_count(words) / denom - F.lit(i * 1e-9)
        pair = F.struct(score.alias("s"), F.lit(lang).alias("l"))
        scored = pair if scored is None else F.when(pair["s"] > scored["s"], pair).otherwise(scored)

    return pages.select(
        "url",
        "warc_ts",
        "lang",
        "text",
        T.lower_case(F.col("text")).alias("_ltext"),
        T.token_count(F.col("text")).alias("_n_tokens"),
    ).select(
        "url",
        "warc_ts",
        "lang",
        T.text_length("text").alias("text_length"),
        n_tokens.alias("n_tokens"),
        T.num_unique_words("text").alias("n_unique"),
        F.round(sw_ratio, 6).alias("stopword_ratio"),
        quality.alias("quality"),
        scored["l"].alias("lang_pred"),
    )


def _quality_delta(quality: Column, quality_lag1: Column) -> Column:
    """Change in quality since the previous snapshot, rounded like the
    extracted ratios — one expression behind both windowed paths."""
    return F.round(quality - quality_lag1, 6)


def windowed_page_features(feats: DataFrame, skew_safe: bool = False) -> DataFrame:
    """Per-url temporal features, one row per snapshot: the ``feats``
    columns, ``session_id``, the previous snapshot's ``text_length`` and
    ``quality`` and ``quality_delta`` — a projection of
    :func:`_window_step`, the same step :func:`asof_feature_table` runs.

    ``skew_safe=True`` takes that step's time-bucket carry pass (no
    single task owns a hot domain's full history); the output is
    bit-equal to the plain url window pass (pinned by
    tests/test_pages_extract.py). This is the per-row table that
    :func:`incremental_page_features` maintains; no flagship calls it.
    """
    rows, v, prev = _window_step(feats, skew_safe), F.col("_v"), F.col("_v_lag1")
    return rows.select(
        *[c if c in ("url", "warc_ts") else v[c].alias(c) for c in feats.columns],
        "session_id",
        prev["text_length"].alias("text_length_lag1"),
        prev["quality"].alias("quality_lag1"),
        _quality_delta(v["quality"], prev["quality"]).alias("quality_delta"),
    )


def _window_step(extracted: DataFrame, skew: bool) -> DataFrame:
    """The engine's one per-url window step over extracted snapshots:
    ``url``, ``warc_ts``, every other column packed into one struct
    ``_v``, and the carry columns — ``session_id``, the predecessor's
    struct and timestamp (``_v_lag1``, ``warc_ts_lag1``), the struct
    before that (``_v_lag2``) and the url's first timestamp
    (``warc_ts_first``).

    ``skew`` picks only the operator: one ``Window.partitionBy(url)``
    pass (one shuffle on url), or one
    ``operators/skew.py::timesplit_windows`` carry pass, whose shuffles
    are all keyed by (url, time bucket) or by url on the
    one-row-per-bucket frame. When the caller reads the whole lagged
    structs, as the flagship does, both sides of that pass's self-join
    carry the same columns, so adaptive execution reuses one
    ``(url, _tb)`` exchange and the extraction runs once; the per-row
    table reads two fields of ``_v_lag1``, so pruning narrows one side
    and it extracts twice. Exactness requires ``warc_ts`` unique per
    url, as the windows do."""
    values = [c for c in extracted.columns if c not in ("url", "warc_ts")]
    packed = extracted.select("url", "warc_ts", F.struct(*values).alias("_v"))
    if skew:
        from .operators.skew import timesplit_windows

        return timesplit_windows(
            packed, ["url"], "warc_ts", _SKEW_BUCKET_S,
            lag1=("_v", "warc_ts"), lag2=("_v",), first=("warc_ts",), session_gap=_SESSION_GAP_S,
        )
    w = Window.partitionBy("url").orderBy("warc_ts")
    return TP.sessionize(packed, ["url"], "warc_ts", gap_seconds=_SESSION_GAP_S).withColumns({
        "_v_lag1": F.lag("_v").over(w),
        "warc_ts_lag1": F.lag("warc_ts").over(w),
        "_v_lag2": F.lag("_v", 2).over(w),
        "warc_ts_first": F.first("warc_ts").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    })


def pages_flagship(
    spark: SparkSession,
    pages_path: str,
    spine_step_hours: int = 24 * 7,
    heavy_hitter_threshold: int = 1_000_000,
) -> DataFrame:
    """Full pipeline returning the point-in-time feature table: for each
    (url, t) on a weekly spine grid, the features of the latest snapshot
    with warc_ts <= t. The scan + extraction front feeds
    :func:`asof_feature_table`, which holds the rest."""
    pages = spark.read.parquet(pages_path)
    return asof_feature_table(
        pages, extract_page_features_arrow(pages), spine_step_hours, heavy_hitter_threshold
    )


def asof_feature_table(
    pages: DataFrame,
    extracted: DataFrame,
    spine_step_hours: int = 24 * 7,
    heavy_hitter_threshold: int = 1_000_000,
) -> DataFrame:
    """The flagship's back half over already-extracted page features:
    heavy-hitter census → windows → leakage gate → as-of feature table
    on the weekly spine. ``pages`` supplies the url column the census
    scans (pruned — it never re-runs extraction).

    The spine is each url's grid t0 + k·step from its first to its last
    ``warc_ts``, and a spine point takes the latest snapshot at or
    before it. Neither is built as a frame nor joined: each snapshot
    emits the grid points it decides (:func:`_owned_points`), so the
    feature table follows the url's ordered window pass with a narrow
    explode. Rows with a null ``url`` or ``warc_ts`` are dropped
    first, before the census: a snapshot with no time has no place on
    the timeline (the spine grid never counted them either), and one
    with no url belongs to no timeline — grouped as one "null url" it
    would merge unrelated pages, and count as a heavy hitter.

    A heavy-hitter census over the url column (one cheap pruned-scan
    aggregate; operators/asof.detect_heavy_hitters) picks the operator
    of :func:`_window_step`: the time-bucket carry pass when any url has
    at least ``heavy_hitter_threshold`` snapshots, so no single task
    owns a hot domain's full history, else the url window pass. The two
    are bit-equal (pinned by tests/test_pages_extract.py, which forces
    the carry pass with ``heavy_hitter_threshold=1``).

    After the window step the code is shared: the leakage gate, then
    each snapshot emits the spine points it decides. A point it owns
    takes its own row and its predecessor as the lag source; a point
    owned by the predecessor takes the predecessor's row and lag-2, and
    ``session_id`` minus the session start between the two, so no lag
    of the session id is needed. Both paths read ``extracted`` once. On
    a duplicated snapshot only the first row of the run emits, so each
    spine point still comes out once."""
    from .operators.asof import detect_heavy_hitters
    from .plans.leakage import assert_leakage_free

    placed = F.col("url").isNotNull() & F.col("warc_ts").isNotNull()
    pages, extracted = pages.where(placed), extracted.where(placed)
    hot = detect_heavy_hitters(pages.select("url"), ["url"], heavy_hitter_threshold)
    rows = _window_step(extracted, bool(hot.take(1)))
    # build-time gate: no window frame in the feature plan may read the
    # future (north rule; plans/leakage.py audits the optimized plan)
    assert_leakage_free(rows)
    pts = _owned_points(
        rows, F.col("warc_ts_lag1"), F.col("warc_ts_first"), spine_step_hours * 3600
    )

    def pick(own: str, prev: str) -> Column:
        return F.when(F.col("_own"), F.col(own)).otherwise(F.col(prev))

    starts = epoch_seconds(rows, "warc_ts") - epoch_seconds(rows, "warc_ts_lag1") > _SESSION_GAP_S
    match, pred = pick("_v", "_v_lag1"), pick("_v_lag1", "_v_lag2")
    return pts.select(
        "url", "t",
        *[match[c].alias(c) for c in extracted.columns if c not in ("url", "warc_ts")],
        F.when(F.col("_own"), F.col("session_id"))
        .otherwise(F.col("session_id") - F.when(starts, 1).otherwise(0)).alias("session_id"),
        pred["text_length"].alias("text_length_lag1"),
        pred["quality"].alias("quality_lag1"),
        _quality_delta(match["quality"], pred["quality"]).alias("quality_delta"),
        pick("warc_ts", "warc_ts_lag1").alias("matched_ts"),
    )


def _owned_points(rows: DataFrame, prev_ts: Column, t0: Column, step_seconds: int) -> DataFrame:
    """One output row per spine point, each emitted by the snapshot row
    that decides it: ``rows`` plus the point ``t`` and ``_own``.

    Over a url's snapshots ts_1 <= ts_2 <= ..., with t0 = ts_1 and
    S = ``step_seconds``, the spine point t_k = t0 + k·S takes the
    snapshot i with ts_i <= t_k < ts_{i+1}. Row j, whose predecessor is
    ``prev_ts`` (null on the url's first row), emits every k with
    ⌊(ts_{j-1} − t0)/S⌋ < k <= ⌊(ts_j − t0)/S⌋ (from k = 0 on the first
    row): the points strictly inside (ts_{j-1}, ts_j), which belong to
    row j−1, and t = ts_j itself when it lies on the grid, which belongs
    to row j (``_own``). Every point up to the url's last snapshot comes
    out exactly once; on a duplicated ``(url, warc_ts)`` only the first
    row of the run emits, since the later ones span an empty interval.

    The bounds are integer µs whatever the session time zone
    (``_util.ts_micros``), and so is ``t``: exactly t0 + k·S µs, added
    with ``timestampadd(MICROSECOND, ...)``, which keeps ``warc_ts``'s
    timestamp type. ``t0 + k × INTERVAL S SECONDS`` would add whole days
    on the session zone's wall clock, so across a DST change a
    ``timestamp`` point would land an hour off the instant its owner was
    decided by, and could take a snapshot later than itself."""
    step_us = step_seconds * 1_000_000
    ts_type = rows.schema["warc_ts"].dataType

    def since_t0(ts: Column) -> Column:
        return ts_micros(ts, ts_type) - ts_micros(t0, ts_type)

    lo = F.coalesce(F.expr(f"_a div {step_us}") + 1, F.lit(0))
    hi = F.expr(f"_b div {step_us}")
    k = F.col("_k")
    return (
        rows.withColumns({"_a": since_t0(prev_ts), "_b": since_t0(F.col("warc_ts"))})
        .select("*", F.explode(F.when(lo <= hi, F.sequence(lo, hi))).alias("_k"))
        .withColumns({
            "t": F.timestamp_add("MICROSECOND", k * step_us, t0),
            "_own": k * step_us == F.col("_b"),
        })
        .drop("_a", "_b", "_k")
    )


def incremental_page_features(
    spark: SparkSession,
    table,
    prev_features: DataFrame | None,
    from_id: str | None,
    to_id: str | None = None,
) -> DataFrame:
    """Incrementally maintain the windowed feature table after new crawl
    snapshots land in a :class:`~pliers_spark.sources.snapshots.SnapshotTable`.

    Windowed features (lag/session/ffill) are stateful *per url*: a new
    snapshot changes its url's lag chain and can merge its sessions, but
    touches no other url. So the delta unit is the **url**, not the row:

    1. incremental-scan the snapshot range → distinct urls in the delta
       (reads only the delta files, never the corpus);
    2. left-semi join the table at ``to_id`` to those urls → the full
       history of affected urls only (at 10^12 rows the semi-join prunes
       with a bloom/broadcast under AQE — the delta url set is tiny
       relative to the corpus);
    3. re-extract + re-window just those urls (extraction is
       deterministic, so recomputed rows are byte-identical to a full
       run; a further refinement at scale persists the pre-window
       extracted table and re-extracts only the delta *rows*);
    4. anti-join the previous feature table to drop the affected urls'
       stale rows, union the fresh ones.

    Equivalence with a full recompute is pinned by
    tests/test_incremental.py.
    """
    delta_urls = table.read_incremental(spark, from_id, to_id).select("url").distinct()
    full = table.read(spark, to_id)
    affected = full.join(delta_urls, "url", "left_semi")
    fresh = windowed_page_features(extract_page_features_arrow(affected))
    if prev_features is None:
        return fresh
    kept = prev_features.join(delta_urls, "url", "left_anti")
    return kept.unionByName(fresh)


def html_to_text(pages: DataFrame, html_col: str = "html", out_col: str = "extracted_text") -> DataFrame:
    """Converter stage: ``html`` binary → extracted text — the pages-table
    analog of a pliers ``Converter`` (Stim type A → type B, 1→1;
    pliers/converters/base.py:12-25), and the stage the north rule's
    byte-identity invariant guards ("byte-identical extracted text per
    url"). Deterministic, dependency-free extraction: utf-8 decode, tag
    strip, entity unescape, whitespace collapse — one Arrow-vectorized
    stage (pandas str ops at C speed); the only residual Python-level
    call is entity unescape, applied to just the rows containing '&'
    (it is the identity elsewhere). tests/test_pages_extract.py pins ``extracted_text == text``
    byte-for-byte on the synthetic corpus, whose html wraps the text.

    Scale note: html is by far the widest column (10-100 KB/row at
    crawl scale vs ~1 KB of text); this stage is the ONLY one allowed
    to read it, so everything downstream keeps the scan pruned to the
    narrow columns.
    """
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    extract = pandas_udf(_html_text_batches, "string", PandasUDFType.SCALAR_ITER)
    return pages.withColumn(out_col, extract(F.col(html_col)))


def _html_text_batches(batches):
    """The converter's function over one task's batches of ``html``
    (pandas Series of bytes); it keeps the archive listings
    (:func:`_keep_archive_listings`) as the feature stage does."""
    import html as _html

    _keep_archive_listings()
    for s in batches:
        txt = s.str.decode("utf-8", errors="replace")  # vectorized, null-safe
        txt = (
            # (?s): script/style bodies span newlines in real HTML — without
            # DOTALL a multi-line <script> survives tag-stripping and its JS
            # leaks into extracted_text (north-rule byte-identity violation)
            txt.str.replace(r"(?s)<(script|style)\b[^>]*>.*?</\1>", " ", regex=True)
            .str.replace(r"<[^>]+>", " ", regex=True)
        )
        # entity unescape has no vectorized form; it is the identity on
        # text without '&', so only those rows pay the Python call
        amp = txt.str.contains("&", regex=False, na=False)
        if amp.any():
            txt = txt.copy()
            txt.loc[amp] = txt.loc[amp].map(_html.unescape)
        yield txt.str.replace(r"\s+", " ", regex=True).str.strip()


def url_features(pages: DataFrame, url_col: str = "url",
                 key_cols: tuple[str, ...] = ()) -> DataFrame:
    """URL structure features — host, registrable domain proxy, path
    depth, https flag — all JVM ``parse_url``/regex expressions inside
    whole-stage codegen (crawl partitioning/skew analysis runs on these:
    hot-domain detection groups by ``host``). ``key_cols`` ride along
    unchanged (e.g. a doc id when the table isn't keyed by url)."""
    u = F.col(url_col)
    host = F.parse_url(u, F.lit("HOST"))
    path = F.parse_url(u, F.lit("PATH"))
    return pages.select(
        *key_cols,
        url_col,
        host.alias("host"),
        F.regexp_extract(host, r"([^.]+\.[^.]+)$", 1).alias("domain"),
        path.alias("path"),
        (F.size(F.split(path, "/")) - 1).cast("long").alias("path_depth"),
        u.startswith("https://").alias("is_https"),
    )


_TRACKING_PARAM_RE = r"^(utm_[^=]*|fbclid|gclid|ref)(=.*)?$"


def canonical_url(url_col) -> "Column":
    """Canonicalize a URL for crawl dedup — the normalization step a
    Common-Crawl-scale pipeline runs before URL-keyed dedup/grouping
    (beyond-reference; the reference's stimuli carry opaque filenames).

    Rules (each a pure Column expression, whole-stage codegen):
      1. fragment stripped (`#...` never reaches the server);
      2. scheme and host lowercased (RFC 3986 §6.2.2.1 — path case is
         preserved, it IS significant);
      3. default ports dropped (`:80` for http, `:443` for https);
      4. tracking query params removed (utm_*, fbclid, gclid, ref),
         remaining params kept in original order, `?` dropped when
         none survive;
      5. trailing `/` stripped from non-root paths, empty path → `/`.

    The query-param filter is an array filter over the split param
    list — interpreted, but bounded by the param count of one URL
    (single digits), not data volume. ``www.`` is NOT stripped: it can
    be a distinct origin; policy-level host folding belongs to the
    caller.
    """
    u = F.regexp_replace(url_col, r"#.*$", "")
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    hostport = F.lower(F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)", 1))
    host = F.when(
        (scheme == "http") & hostport.endswith(":80"),
        F.regexp_replace(hostport, r":80$", ""),
    ).when(
        (scheme == "https") & hostport.endswith(":443"),
        F.regexp_replace(hostport, r":443$", ""),
    ).otherwise(hostport)
    rest = F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?]*)", 1)
    path_stripped = F.regexp_replace(rest, r"/$", "")
    path = F.when(path_stripped == "", F.lit("/")).otherwise(path_stripped)
    query = F.regexp_extract(u, r"\?([^#]*)", 1)
    kept = F.filter(
        F.split(query, "&"),
        lambda p: (p != F.lit("")) & ~p.rlike(_TRACKING_PARAM_RE),
    )
    qs = F.when(F.size(kept) > 0, F.concat(F.lit("?"), F.array_join(kept, "&"))).otherwise(
        F.lit("")
    )
    # scheme-less / malformed input (relative URLs, mailto:, junk) has
    # no canonical form — pass it through UNCHANGED rather than
    # collapsing every such row to the same ':///' key, which would
    # merge unrelated documents in a downstream URL-keyed dedup.
    return F.when(scheme == "", url_col).otherwise(
        F.concat(scheme, F.lit("://"), host, path, qs)
    )


def canonical_url_sql(url_expr: str) -> str:
    """DuckDB twin of :func:`canonical_url` (same regexes, same rules)."""
    u = f"regexp_replace({url_expr}, '#.*$', '')"
    scheme = f"lower(regexp_extract({u}, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))"
    hostport = f"lower(regexp_extract({u}, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1))"
    host = f"""CASE
      WHEN {scheme} = 'http' AND {hostport} LIKE '%:80'
        THEN regexp_replace({hostport}, ':80$', '')
      WHEN {scheme} = 'https' AND {hostport} LIKE '%:443'
        THEN regexp_replace({hostport}, ':443$', '')
      ELSE {hostport} END"""
    rest = f"regexp_extract({u}, '^[A-Za-z][A-Za-z0-9+.-]*://[^?#/]+([^?]*)', 1)"
    path = f"""CASE WHEN regexp_replace({rest}, '/$', '') = '' THEN '/'
               ELSE regexp_replace({rest}, '/$', '') END"""
    query = f"regexp_extract({u}, '\\?([^#]*)', 1)"
    kept = (
        f"list_filter(string_split({query}, '&'), "
        f"p -> p <> '' AND NOT regexp_matches(p, '{_TRACKING_PARAM_RE}'))"
    )
    qs = f"CASE WHEN len({kept}) > 0 THEN '?' || array_to_string({kept}, '&') ELSE '' END"
    return (
        f"CASE WHEN {scheme} = '' THEN {url_expr} "
        f"ELSE {scheme} || '://' || {host} || {path} || {qs} END"
    )
