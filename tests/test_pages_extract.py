"""Differential test: the Arrow (mapInArrow) extraction stage must be
value-identical to the JVM-expression stage — same schema, same rows,
floats allclose. The Arrow stage is the engine's only implementation of
the six page features (both flagships run it); the JVM stage is the
reference it is pinned to here, on the synthetic pages table, the
sf0.001/sf0.01 documents tables and adversarial text.
"""

import math

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pliers_spark.pages_pipeline import (
    extract_document_features,
    extract_page_features,
    extract_page_features_arrow,
)

FLOAT_COLS = ("stopword_ratio", "quality")
INT_COLS = ("text_length", "n_tokens", "n_unique")


def _by_key(rows):
    return {(r["url"], r["warc_ts"]): r for r in rows}


def test_arrow_extract_matches_jvm_extract(spark, pages):
    jvm = extract_page_features(pages)
    arrow = extract_page_features_arrow(pages)
    assert jvm.columns == arrow.columns

    a = _by_key(r.asDict() for r in jvm.collect())
    b = _by_key(r.asDict() for r in arrow.collect())
    assert a.keys() == b.keys() and len(a) > 100

    for key, ra in a.items():
        rb = b[key]
        assert ra["lang"] == rb["lang"] and ra["lang_pred"] == rb["lang_pred"], key
        for c in INT_COLS:
            assert ra[c] == rb[c], (key, c, ra[c], rb[c])
        for c in FLOAT_COLS:
            assert math.isclose(ra[c], rb[c], rel_tol=1e-9, abs_tol=1e-9), (
                key,
                c,
                ra[c],
                rb[c],
            )


def test_arrow_extract_handles_empty_and_whitespace_text(spark):
    df = spark.createDataFrame(
        [
            ("u1", "2024-01-01 00:00:00", "", "en"),
            ("u2", "2024-01-01 00:00:00", "   \n\t ", "en"),
            ("u3", "2024-01-01 00:00:00", "the the the", "en"),
            # one row per partition here: a batch whose text is all null
            ("u4", "2024-01-01 00:00:00", None, "en"),
        ],
        "url string, warc_ts string, text string, lang string",
    ).selectExpr("url", "cast(warc_ts as timestamp) warc_ts", "text", "lang")
    a = _by_key(r.asDict() for r in extract_page_features(df).collect())
    b = _by_key(r.asDict() for r in extract_page_features_arrow(df).collect())
    assert a.keys() == b.keys()
    for key in a:
        for c in INT_COLS + FLOAT_COLS:
            av, bv = a[key][c], b[key][c]
            assert av == bv or math.isclose(av, bv, abs_tol=1e-9), (key, c, av, bv)
    u3 = next(v for (u, _), v in a.items() if u == "u3")
    assert u3["n_tokens"] == 3 and u3["n_unique"] == 1
    assert math.isclose(u3["stopword_ratio"], 1.0)


def test_html_to_text_byte_identical(spark, tmp_path):
    """North-rule invariant: byte-identical extracted text per url."""
    import pyarrow.parquet as pq

    from pliers_spark.pages_pipeline import html_to_text
    from pliers_spark.synthgen import generate_pages

    p = str(tmp_path / "pages.parquet")
    pq.write_table(generate_pages(n_urls=40, max_snapshots=3, seed=3), p)
    pages = spark.read.parquet(p)
    out = html_to_text(pages)
    mismatches = out.where(out.extracted_text != out.text).count()
    assert mismatches == 0
    assert out.where(out.extracted_text.isNull()).count() == 0


def test_html_to_text_entities_scripts(spark):
    from pliers_spark.pages_pipeline import html_to_text

    rows = [
        (b"<html><script>var x=1;</script><p>a &amp; b</p></html>",),
        (b"<style>p{}</style><b>bold</b>   text",),
        (None,),
        # multi-line script/style bodies (ubiquitous in real HTML) — the
        # block match must span newlines or JS/CSS leaks into the text
        (b"<script>var\nx=1;\nf();</script><p>hi</p>",),
        (b"<style>\np {\n color: red;\n}\n</style>clean",),
        (b'<script type="text/javascript">\na();\n</script>ok<script>\nb();\n</script>!',),
    ]
    df = spark.createDataFrame(rows, "html binary")
    got = [r.extracted_text for r in html_to_text(df).collect()]
    assert got == ["a & b", "bold text", None, "hi", "clean", "ok !"]


def test_url_features(spark):
    from pliers_spark.pages_pipeline import url_features

    df = spark.createDataFrame(
        [("https://d3.example.com/page/7",), ("http://a.b.co/x/y/z",)], "url string"
    )
    rows = {r.url: r for r in url_features(df).collect()}
    r1 = rows["https://d3.example.com/page/7"]
    assert r1.host == "d3.example.com" and r1.domain == "example.com"
    assert r1.path == "/page/7" and r1.path_depth == 2 and r1.is_https
    r2 = rows["http://a.b.co/x/y/z"]
    assert r2.host == "a.b.co" and r2.domain == "b.co" and r2.path_depth == 3 and not r2.is_https


def test_windowed_features_skew_safe_path_equal(spark, tmp_path):
    import pyarrow.parquet as pq

    from pliers_spark.pages_pipeline import (
        extract_page_features_arrow,
        windowed_page_features,
    )
    from pliers_spark.synthgen import generate_pages

    p = str(tmp_path / "pages.parquet")
    pq.write_table(generate_pages(n_urls=50, max_snapshots=6, seed=11), p)
    feats = extract_page_features_arrow(spark.read.parquet(p))

    plain = windowed_page_features(feats)
    safe = windowed_page_features(feats, skew_safe=True)
    key = lambda r: (r["url"], r["warc_ts"])
    a = sorted(({c: r[c] for c in plain.columns} for r in plain.collect()), key=key)
    b = sorted(({c: r[c] for c in plain.columns} for r in safe.collect()), key=key)
    assert a == b and len(a) > 100


def _write_hot_pages(spark, path):
    """One hot url (177 snapshots) and five cold urls (3 snapshots each).

    The hot url spans four of the skew path's 90-day buckets (UTC starts
    2023-12-19, 2024-03-18, 2024-06-16, 2024-09-14), so every carry
    crosses a boundary: a session continues from bucket 1 into bucket 2
    (2.5-day gap); bucket 2 ends on a null-text snapshot, whose null
    lag values bucket 3's first row must carry; that first row sits
    exactly on bucket 3's start instant; bucket 2 opens a new session
    mid-bucket (37.5-day gap) and bucket 4's first row opens one across
    the boundary (85-day gap). The first row of buckets 2-4 is the
    latest snapshot at a weekly spine point (the grid starts at
    2024-01-01), so its carried values reach the as-of output."""
    import datetime as dt

    utc = dt.timezone.utc
    base = dt.datetime(2024, 1, 1, tzinfo=utc)
    day = dt.timedelta(days=1)
    hot_ts = [base + dt.timedelta(hours=9 * k) for k in range(120)]  # bucket 1
    hot_ts += [dt.datetime(2024, 3, 1, tzinfo=utc), dt.datetime(2024, 3, 17, 12, tzinfo=utc)]
    first2 = dt.datetime(2024, 3, 20, tzinfo=utc)  # bucket 2, same session
    hot_ts += [first2] + [first2 + (6 + k) * day for k in range(40)]
    last2 = dt.datetime(2024, 6, 10, 12, tzinfo=utc)  # bucket 2's last row
    start3 = dt.datetime(2024, 6, 16, tzinfo=utc)  # bucket 3's start instant
    hot_ts += [last2, start3] + [start3 + (2 + k) * day for k in range(10)]
    first4 = dt.datetime(2024, 9, 20, tzinfo=utc)
    hot_ts += [first4, first4 + 4 * day]
    bucket_s = 90 * 86400
    assert len({int(t.timestamp()) // bucket_s for t in hot_ts}) == 4
    assert int(start3.timestamp()) % bucket_s == 0
    rows = [("https://hot.example.com/", t,
             None if t == last2 else f"snapshot {k} of the hot page with fast slow words",
             "en")
            for k, t in enumerate(hot_ts)]
    rows += [(f"https://cold{u}.example.com/", base + dt.timedelta(days=40 * k),
              f"cold page {u} version {k}", "en")
             for u in range(5) for k in range(3)]
    df = spark.createDataFrame(rows, "url string, warc_ts timestamp, text string, lang string")
    df.write.parquet(path)
    return df


def test_windowed_features_equal_the_written_out_windows(spark, tmp_path):
    """The per-row table on the hot-url fixture, on both paths, equals
    its windows written out one by one: ``temporal.sessionize`` with the
    30-day gap, one ``temporal.lag_features`` per lagged column and the
    rounded quality delta. Schema (names, order, types, nullability)
    and rows, doubles bit for bit."""
    import pyspark.sql.functions as F

    from pliers_spark.operators import temporal as TP
    from pliers_spark.pages_pipeline import extract_page_features_arrow, windowed_page_features

    p = str(tmp_path / "hot_pages")
    _write_hot_pages(spark, p)
    feats = extract_page_features_arrow(spark.read.parquet(p))
    want = TP.sessionize(feats, ["url"], "warc_ts", gap_seconds=30 * 86400.0)
    for c in ("text_length", "quality"):
        want = TP.lag_features(want, ["url"], "warc_ts", c, [1])
    want = want.withColumn("quality_delta", F.round(F.col("quality") - F.col("quality_lag1"), 6))
    expected = _bits(want)
    assert any(r[-1] is None for r in expected) and len(expected) == 192
    for skew in (False, True):
        got = windowed_page_features(feats, skew_safe=skew)
        assert got.schema == want.schema, (skew, got.schema, want.schema)
        assert _bits(got) == expected, skew


def test_flagship_auto_skew_routing_bit_equal(spark, tmp_path):
    """A hot-domain corpus (one url above the census threshold) must
    auto-route through the skew-split window operators AND produce a
    bit-identical feature table to the plain path."""
    from pliers_spark.operators.asof import detect_heavy_hitters
    from pliers_spark.pages_pipeline import pages_flagship

    p = str(tmp_path / "hot_pages.parquet")
    df = _write_hot_pages(spark, p)

    hh = detect_heavy_hitters(df.select("url"), ["url"], threshold_rows=50)
    assert [r.url for r in hh.collect()] == ["https://hot.example.com/"]

    def rows_of(out):
        return sorted(tuple(r) for r in out.collect())

    auto = pages_flagship(spark, p, heavy_hitter_threshold=50)
    plain = pages_flagship(spark, p)
    forced = pages_flagship(spark, p, heavy_hitter_threshold=1)
    r_auto, r_plain, r_forced = rows_of(auto), rows_of(plain), rows_of(forced)
    assert r_auto == r_plain == r_forced
    assert len(r_auto) > 0
    # and the auto path really took the split route: same rows as forced-True
    # is necessary but not sufficient, so check the census-driven decision
    assert bool(hh.take(1)) is True


# ---------------------------------------------------------------------------
# URL canonicalization (crawl-dedup entry op)


def test_canonical_url_rules(spark):
    from pliers_spark.pages_pipeline import canonical_url

    import pyspark.sql.functions as F

    cases = [
        # (raw, expected canonical)
        ("HTTP://WWW.Site.COM/Path/page", "http://www.site.com/Path/page"),
        ("http://host.com:80/a", "http://host.com/a"),
        ("https://host.com:443/a", "https://host.com/a"),
        ("https://host.com:8443/a", "https://host.com:8443/a"),  # non-default kept
        ("http://host.com:443/a", "http://host.com:443/a"),  # wrong-scheme port kept
        ("http://h.com/p#frag", "http://h.com/p"),
        ("http://h.com/p/?utm_source=x&q=1&fbclid=z", "http://h.com/p?q=1"),
        ("http://h.com/p?utm_campaign=only", "http://h.com/p"),
        ("http://h.com/", "http://h.com/"),
        ("http://h.com", "http://h.com/"),
        ("http://h.com/a/b/", "http://h.com/a/b"),
        ("http://h.com?gclid=1&a=2&ref=r", "http://h.com/?a=2"),
    ]
    df = spark.createDataFrame([(i, r) for i, (r, _) in enumerate(cases)], "i long, url string")
    got = {r["i"]: r["c"] for r in df.select("i", canonical_url(F.col("url")).alias("c")).collect()}
    for i, (raw, want) in enumerate(cases):
        assert got[i] == want, f"{raw!r}: got {got[i]!r}, want {want!r}"


def test_canonical_url_malformed_passthrough(spark):
    """Scheme-less / malformed URLs have no canonical form: they must
    pass through unchanged, never collapse to one shared key."""
    import pyspark.sql.functions as F

    from pliers_spark.pages_pipeline import canonical_url

    raws = ["www.site.com/page", "mailto:x@y.com", "not a url", "/rel/path"]
    df = spark.createDataFrame([(i, r) for i, r in enumerate(raws)], "i long, url string")
    got = {r["i"]: r["c"] for r in df.select("i", canonical_url(F.col("url")).alias("c")).collect()}
    for i, raw in enumerate(raws):
        assert got[i] == raw, (raw, got[i])


ADVERSARIAL_TEXTS = [
    None, "", "The the cat", "foo\xa0bar", " x ", "\t\n",
    "word " * 127 + "the",          # stopword_ratio = 1/128 half-tie
    "Dr. Smith AND dr. smith", "a\x0bb c", "  lead and trail  ",
    "the and of in to",             # all stopwords
    # \x1c-\x1f split a Python str but not a Java \s token
    "the\x1ccat\x1dsat \x1eon\x1f the mat", "\x1c\x1d", " \u2003The\u2003cat ",
    # non-ASCII, astral and fullwidth letters are multi-byte UTF-8: the
    # byte-class counts must see none of them as [A-Za-z] or \s
    "café Ünïcödé", "日本語", "\U0001f600 \U0001d400x", "ＡＢＣ ａｂｃ the",
    "wo\x85rd",
    # a trailing line terminator is no Java `$`: the last token is
    # "the\x85", not the stopword "the", and the strip keeps the space
    "a the\x85", "a \x85",
    # mean token length 1.5; counting any one \s char as non-whitespace
    # makes it 2.0 and flips quality's length term
    "a \t\n\x0b\f\rab",
    "The\tquick brown\xa0fox and the lazy dog " * 140,   # 5,180 chars
    # a letter-final row, then empty and null last rows: a batch's last
    # byte still counts when the rows after it are empty
    "Привет мир the", "", None,
]


def test_feature_batch_on_sliced_input():
    """The per-batch body of the Arrow stage on batches that are slices
    of longer ones (nonzero array offsets, bytes not starting at 0), with
    the text typed ``string`` and ``large_string``, on an all-null batch
    and on zero-row batches: every result equals the result of the same
    rows in a fresh, unsliced batch."""
    import pyarrow as pa

    from pliers_spark.pages_pipeline import _feature_batch

    def fresh(rb):
        return pa.RecordBatch.from_pylist(rb.to_pylist(), schema=rb.schema)

    n = len(ADVERSARIAL_TEXTS)
    for text_type in (pa.string(), pa.large_string()):
        for texts in (ADVERSARIAL_TEXTS, [None] * n):
            rb = pa.RecordBatch.from_arrays(
                [pa.array([f"u{i:02d}" for i in range(n)]), pa.array(texts, type=text_type)],
                names=["url", "text"],
            )
            whole = _feature_batch(rb, ("url",))
            assert whole.num_rows == n
            for k, m in [(0, n), (1, n - 1), (3, 7), (7, 3), (n - 4, 4), (n - 1, 1), (5, 0)]:
                part = rb.slice(k, m)
                got = _feature_batch(part, ("url",))
                assert got.equals(_feature_batch(fresh(part), ("url",))), (text_type, k, m)
                assert got.equals(whole.slice(k, m)), (text_type, k, m)
        empty = _feature_batch(pa.RecordBatch.from_pylist([], schema=rb.schema), ("url",))
        assert empty.num_rows == 0 and empty.schema == whole.schema


def test_feature_batch_runs_without_the_package(tmp_path):
    """Spark ships the Arrow stage's body by value: pickled as Spark
    pickles it, it runs in a Python process that cannot import
    pliers_spark (a worker started outside the checkout, with no
    --py-files), and gives the same batch."""
    import os
    import pickle
    import subprocess
    import sys

    import pyarrow as pa
    from pyspark import cloudpickle

    from pliers_spark.pages_pipeline import _feature_batch

    rb = pa.RecordBatch.from_arrays(
        [pa.array(["u0", "u1", "u2"]), pa.array(["The cat sat", None, "a \x85"])],
        names=["url", "text"],
    )
    code = ("import pickle, sys; f, rb = pickle.load(sys.stdin.buffer); "
            "sys.stdout.buffer.write(pickle.dumps(f(rb, ('url',))))")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run([sys.executable, "-c", code], input=cloudpickle.dumps((_feature_batch, rb)),
                         capture_output=True, cwd=tmp_path, env=env)
    assert out.returncode == 0, out.stderr.decode()[-2000:]
    assert pickle.loads(out.stdout).equals(_feature_batch(rb, ("url",)))


def test_feature_batches_keep_archive_listings(tmp_path, monkeypatch):
    """The stage's function stops the per-task
    ``importlib.invalidate_caches()`` of the Python worker from
    re-reading the archives already on its path: a file added to such
    an archive afterwards stays unseen, while an archive that appears
    later is read as usual."""
    from pliers_spark.pages_pipeline import _feature_batches

    _assert_keeps_archive_listings(
        tmp_path, monkeypatch, lambda: list(_feature_batches(iter([]), ("url",))) == [])


def test_html_text_batches_keep_archive_listings(tmp_path, monkeypatch):
    """The html converter's function keeps the archive listings as the
    feature stage's does, and still converts its batches."""
    import pandas as pd

    from pliers_spark.pages_pipeline import _html_text_batches

    def convert():
        out = list(_html_text_batches(iter([pd.Series([b"<p>a &amp; b</p>", None])])))
        return len(out) == 1 and out[0].tolist()[0] == "a & b" and pd.isna(out[0][1])

    _assert_keeps_archive_listings(tmp_path, monkeypatch, convert)


def _assert_keeps_archive_listings(tmp_path, monkeypatch, run):
    import importlib
    import sys
    import zipfile
    import zipimport

    def archive(name):
        path = str(tmp_path / name)
        with zipfile.ZipFile(path, "w") as z:
            z.writestr("a.py", "")
        return path

    old = archive("old.zip")
    monkeypatch.setitem(sys.path_importer_cache, old, zipimport.zipimporter(old))
    assert run()
    new = archive("new.zip")
    monkeypatch.setitem(sys.path_importer_cache, new, zipimport.zipimporter(new))
    for path in (old, new):
        with zipfile.ZipFile(path, "a") as z:
            z.writestr("b.py", "")
    importlib.invalidate_caches()
    assert sys.path_importer_cache[old].find_spec("b") is None
    assert sys.path_importer_cache[new].find_spec("b") is not None


def _jvm_and_arrow_features(spark, texts):
    """The six features of ``texts`` (url ``u00``, ``u01``, ...) from the
    JVM reference and from the Arrow stage, each as url -> tuple."""
    import datetime as dt

    rows = [(f"u{i:02d}", dt.datetime(2024, 1, 1), "en", t)
            for i, t in enumerate(texts)]
    df = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, lang string, text string"
    )
    cols = ["text_length", "n_tokens", "n_unique",
            "stopword_ratio", "quality", "lang_pred"]
    return tuple(
        {r["url"]: tuple(r[c] for c in cols) for r in stage(df).collect()}
        for stage in (extract_page_features, extract_page_features_arrow)
    )


def test_arrow_extract_matches_jvm_on_adversarial_text(spark):
    """r5 review fixes pinned: the Arrow stage must equal the JVM stage
    on the inputs the synthetic corpus never exercises — null text
    (null feature propagation, not a crash), mixed case (n_unique is
    case-sensitive), Unicode whitespace like NBSP (Java \\s is ASCII —
    \\xa0 is NOT a separator), exact half-tie ratios (HALF_UP, not
    banker's rounding), and vertical-tab/edge whitespace."""
    jvm, arr = _jvm_and_arrow_features(spark, ADVERSARIAL_TEXTS)
    assert jvm == arr
    # the half-tie row rounds HALF_UP on both sides
    assert jvm["u06"][3] == 0.007813
    # null text: null features, first-profile lang fallback — both paths
    assert jvm["u00"][:5] == (None,) * 5


# Java \s, the non-ASCII whitespace Python's str.split() knows but Java
# does not, ASCII and accented letters, CJK and one astral character
_HOSTILE_CHARS = " \t\n\x0b\f\r\xa0\u2003\x1c\x1d\x1e\x1f\x85aZzéÜ日本\U0001d400"


_hostile_piece = st.one_of(
    st.text(_HOSTILE_CHARS, max_size=6),
    st.sampled_from(["the", "The", "and", "de", "的"]),
)
_hostile_text = st.one_of(
    st.none(), st.just(""), st.lists(_hostile_piece, max_size=8).map("".join)
)


@settings(max_examples=25, deadline=None, database=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(texts=st.lists(_hostile_text, min_size=40, max_size=60))
def test_arrow_extract_matches_jvm_on_generated_hostile_text(spark, texts):
    """Generated lists of hostile texts, null and empty rows anywhere in
    them: the Arrow stage equals the JVM reference on every row."""
    jvm, arr = _jvm_and_arrow_features(spark, texts)
    assert jvm == arr


def test_flagship_skew_path_routes_asof_join_through_split(spark, tmp_path):
    """r5 review fix: when the heavy-hitter census engages the timesplit
    window operators, the as-of resolution must also stay split — the
    hot url must not come back as one unsplit sort group. Pinned
    structurally: every per-snapshot Window in the skew-safe plan (one
    ordered by warc_ts) is partitioned by (url, _tb), the time bucket,
    and the two paths stay bit-equal."""
    import datetime as dt
    import re

    rows = []
    for d in range(1, 25):
        rows.append(("http://hot/a", dt.datetime(2024, 1, 1) + dt.timedelta(days=d),
                     "en", f"hot words {d}", b"<p>x</p>"))
    rows.append(("http://cold/b", dt.datetime(2024, 1, 5), "en", "cold words", b"<p>y</p>"))
    df = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, lang string, text string, html binary"
    )
    from pliers_spark.pages_pipeline import pages_flagship

    p = str(tmp_path / "pages")
    df.write.parquet(p)
    plain = pages_flagship(spark, p)
    safe = pages_flagship(spark, p, heavy_hitter_threshold=1)
    plan = safe._jdf.queryExecution().optimizedPlan().toString()
    # "Window [exprs], [partition spec], [order spec]"
    specs = re.findall(r"Window \[.*\], \[([^\[\]]*)\], \[([^\[\]]*)\]$", plan, re.M)
    per_snapshot = [part for part, order in specs if order.startswith("warc_ts#")]
    assert per_snapshot, plan
    for part in per_snapshot:
        assert re.fullmatch(r"url#\d+, _tb#\d+L", part), (part, plan)
    k = lambda df_: sorted(
        tuple(str(r[c]) for c in sorted(df_.columns)) for r in df_.collect()
    )
    assert k(plain) == k(safe)


def _flagship(spark, path, skew):
    """The flagship on the skew path (threshold 1: every url is hot) or
    on the plain one (the default threshold, which no fixture here
    reaches)."""
    from pliers_spark.pages_pipeline import pages_flagship

    if skew:
        return pages_flagship(spark, path, heavy_hitter_threshold=1)
    return pages_flagship(spark, path)


def _bits(df):
    """Rows sorted, doubles as hex so equality is bit-equality."""
    return sorted(
        (tuple(v.hex() if isinstance(v, float) else v for v in r) for r in df.collect()),
        key=repr,
    )


def _assert_skew_flagship_bit_equal(spark, path):
    """Forced-skew flagship == plain flagship: schema, and rows with
    doubles compared bit for bit."""
    from pliers_spark.pages_pipeline import pages_flagship

    plain = pages_flagship(spark, path)
    forced = pages_flagship(spark, path, heavy_hitter_threshold=1)
    assert forced.schema == plain.schema
    want, got = _bits(plain), _bits(forced)
    assert len(want) > 0
    assert got == want, [(a, b) for a, b in zip(got, want) if a != b][:5]
    return plain


def test_skew_flagship_bit_equal_on_hot_pages(spark, tmp_path):
    p = str(tmp_path / "hot_pages")
    _write_hot_pages(spark, p)
    _assert_skew_flagship_bit_equal(spark, p)


def test_skew_flagship_bit_equal_on_adversarial_snapshots(spark, tmp_path):
    """A hot url whose snapshots cycle through ADVERSARIAL_TEXTS, 8 days
    apart with one 40-day gap, over four 90-day buckets: null text is
    both the as-of match of a spine point and a lag predecessor."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    texts = ADVERSARIAL_TEXTS * 3
    ts = [base + dt.timedelta(days=8 * k + (40 if k >= 20 else 0)) for k in range(len(texts))]
    rows = [("https://hot.example.com/", t, x, "en") for t, x in zip(ts, texts)]
    rows += [("https://cold.example.com/", base + dt.timedelta(days=50 * k), "cold page", "en")
             for k in range(3)]
    p = str(tmp_path / "adversarial_pages")
    spark.createDataFrame(
        rows, "url string, warc_ts timestamp, text string, lang string"
    ).write.parquet(p)
    out = _assert_skew_flagship_bit_equal(spark, p).collect()
    assert any(r.text_length is None for r in out)
    first = min(r.matched_ts for r in out)  # both urls start at base
    assert any(r.text_length_lag1 is None and r.matched_ts > first for r in out)


def test_skew_flagship_bit_equal_when_lag2_spans_two_buckets(spark, tmp_path):
    """A url whose only snapshot in one 90-day bucket (2024-03-18 to
    2024-06-16) is the predecessor of the next bucket's first row: the
    spine points between the two are owned by that lone snapshot, so
    their lag-1 values come from the previous bucket's last snapshot,
    two buckets back from the row that emits them. Both gaps around the
    lone snapshot open a new session. (``timestamp_ntz``, bucketed as
    UTC, so the collected values compare as given.)"""
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    ts = [base + dt.timedelta(days=10 * k) for k in range(7)]  # bucket 1, ends 2024-03-01
    lone = dt.datetime(2024, 5, 1)
    ts += [lone, dt.datetime(2024, 6, 20), dt.datetime(2024, 6, 27)]
    bucket = [(t - dt.datetime(1970, 1, 1)) // dt.timedelta(days=90) for t in ts]
    assert bucket[5:] == [219, 219, 220, 221, 221]
    rows = [("https://hot.example.com/", t, " ".join(["page"] * (k + 1)), "en")
            for k, t in enumerate(ts)]
    rows.append(("https://cold.example.com/", base, "cold page", "en"))
    p = str(tmp_path / "lone_snapshot_pages")
    spark.createDataFrame(
        rows, "url string, warc_ts timestamp_ntz, text string, lang string"
    ).write.parquet(p)
    out = _assert_skew_flagship_bit_equal(spark, p).collect()
    owned = [r for r in out if r.url.startswith("https://hot") and lone < r.t < ts[8]]
    assert owned, out
    for r in owned:
        assert r.matched_ts == lone and r.text_length == 8 * 5 - 1
        assert r.text_length_lag1 == 7 * 5 - 1 and r.session_id == 2


def test_flagship_duplicate_snapshot_one_row_per_spine_point(spark, tmp_path):
    """Hostile input: one (url, warc_ts) snapshot of the hot url appears
    twice. Both paths still return exactly one row per spine point, on
    the same (url, t) keys: only the first row of the duplicated run
    emits spine points."""
    import datetime as dt

    import pyspark.sql.functions as F

    df = _write_hot_pages(spark, str(tmp_path / "hot_pages"))
    dup = df.where(
        (F.col("url") == "https://hot.example.com/")
        & (F.col("warc_ts") == dt.datetime(2024, 3, 20, tzinfo=dt.timezone.utc))
    ).withColumn("text", F.lit("a duplicated snapshot"))
    assert dup.count() == 1
    p = str(tmp_path / "dup_pages")
    df.unionByName(dup).write.parquet(p)
    keys = {}
    for skew in (False, True):
        got = [(r.url, r.t) for r in _flagship(spark, p, skew).collect()]
        assert len(got) == len(set(got)) > 0, skew
        keys[skew] = sorted(got)
    assert keys[False] == keys[True]


def test_flagship_drops_snapshots_without_time(spark, tmp_path):
    """A row with a null warc_ts has no place on the timeline: both
    paths drop it before the windows, so url u's first real snapshot
    opens session 1 with null lags, and url v, whose only row has no
    time, emits no rows."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    rows = [("u", base + dt.timedelta(days=d), f"page u day {d}", "en") for d in (0, 3, 20)]
    rows += [("u", None, "a snapshot with no time", "en"), ("v", None, "no time", "en")]
    p = str(tmp_path / "untimed_pages")
    spark.createDataFrame(
        rows, "url string, warc_ts timestamp, text string, lang string"
    ).write.parquet(p)
    out = _assert_skew_flagship_bit_equal(spark, p).collect()
    assert {r.url for r in out} == {"u"} and len(out) == 3
    first = min(out, key=lambda r: r.t)
    assert first.session_id == 1 and first.text_length_lag1 is None
    assert first.quality_lag1 is None and first.matched_ts == first.t


def test_flagship_drops_snapshots_without_url(spark, tmp_path, monkeypatch):
    """A row with a null url belongs to no timeline: both paths drop it
    before the census, so the four null-url rows neither come out as
    one merged "null url" timeline (the plain path's window would group
    them) nor count as a heavy hitter at threshold 4 (url u has 3)."""
    import datetime as dt

    import pliers_spark.pages_pipeline as PP
    from pliers_spark.operators import skew as skew_mod

    base = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    rows = [("u", base + dt.timedelta(days=d), f"page u day {d}", "en") for d in (0, 3, 20)]
    rows += [(None, base + dt.timedelta(days=d), f"orphan page {d}", "en")
             for d in (1, 30, 60, 90)]
    p = str(tmp_path / "urlless_pages")
    spark.createDataFrame(
        rows, "url string, warc_ts timestamp, text string, lang string"
    ).write.parquet(p)
    out = _assert_skew_flagship_bit_equal(spark, p).collect()
    assert {r.url for r in out} == {"u"} and len(out) == 3

    engaged = []
    skew_windows = skew_mod.timesplit_windows
    monkeypatch.setattr(skew_mod, "timesplit_windows",
                        lambda *a, **k: engaged.append(1) or skew_windows(*a, **k))
    assert len(PP.pages_flagship(spark, p, heavy_hitter_threshold=4).collect()) == 3
    assert not engaged


def test_flagship_independent_of_session_time_zone(spark, tmp_path):
    """Snapshots across New York's 2024 DST changes give the same
    feature table, bit for bit, under the UTC and the America/New_York
    session zones, on both paths, whether ``warc_ts`` is a wall-clock
    ``timestamp_ntz`` or an instant (``timestamp``, given in UTC), and
    no spine point takes a snapshot later than itself. Url a crosses
    the November fall-back with an exact 30-day gap (not a new session:
    the gap must exceed 30 days) and then has a snapshot on a grid
    instant (t0 + 5 weeks, so it matches itself); url b crosses the
    March spring-forward with a gap of 30 days and 30 minutes (a new
    session) and then has a snapshot on t0 + 5 weeks. Read in the New
    York zone, each difference across a change is off by an hour, and
    so is a point placed by adding whole days on its wall clock: on
    the instants, b's point t0 + 5 weeks would land an hour before the
    snapshot that matches it."""
    for ts_type in ("timestamp_ntz", "timestamp"):
        _assert_flagship_zone_free(spark, str(tmp_path / ts_type), ts_type)


def _assert_flagship_zone_free(spark, path, ts_type):
    import datetime as dt

    import pyspark.sql.functions as F

    from pliers_spark.pages_pipeline import pages_flagship

    d = dt.timedelta
    tz = dt.timezone.utc if ts_type == "timestamp" else None
    a0 = dt.datetime(2024, 10, 20, 12, tzinfo=tz)
    b0 = dt.datetime(2024, 2, 20, 12, tzinfo=tz)
    rows = [("a", a0 + g, f"page a {i} the cat", "en")
            for i, g in enumerate([d(0), d(days=30), d(weeks=5), d(days=40)])]
    rows += [("b", b0 + g, f"page b {i} and a dog", "en")
             for i, g in enumerate([d(0), d(days=30, minutes=30), d(weeks=5), d(weeks=6, days=1)])]
    spark.createDataFrame(
        rows, f"url string, warc_ts {ts_type}, text string, lang string"
    ).write.parquet(path)

    zone = spark.conf.get("spark.sql.session.timeZone")
    out = {}
    try:
        for session_tz in ("UTC", "America/New_York"):
            spark.conf.set("spark.sql.session.timeZone", session_tz)
            for skew in (False, True):
                got = _flagship(spark, path, skew)
                leaks = got.where(F.col("matched_ts") > F.col("t")).count()
                assert leaks == 0, (ts_type, session_tz, skew)
                out[session_tz, skew] = _bits(got)
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        utc = pages_flagship(spark, path).select(
            "url", "session_id", *[F.col(c).cast("string").alias(c) for c in ("t", "matched_ts")]
        ).collect()
    finally:
        spark.conf.set("spark.sql.session.timeZone", zone)
    for key, got in out.items():
        assert got == out["UTC", False], (ts_type, key)

    at = {(r.url, r.t): r for r in utc}
    a5, b5 = (str((x + d(weeks=5)).replace(tzinfo=None)) for x in (a0, b0))
    assert at["a", a5].matched_ts == a5 and at["b", b5].matched_ts == b5
    assert at["a", a5].session_id == 1
    assert at["b", b5].session_id == 2


_STEP_S = 10
_US = 1_000_000
# one snapshot gap: zero (a duplicate), whole steps (every snapshot then
# sits on a grid instant), 1 µs off one, less than a step, or many
# steps, in µs
_gap = st.one_of(
    st.just(0),
    st.integers(1, 4).map(lambda k: k * _STEP_S * _US),
    st.sampled_from([1, _STEP_S * _US - 1, _STEP_S * _US + 1]),
    st.integers(1, _STEP_S * _US - 1),
    st.integers(_STEP_S * _US, 40 * _STEP_S * _US),
)


@settings(max_examples=25, deadline=None, database=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(
    timelines=st.lists(
        st.tuples(st.integers(-3 * 86400 * _US, 3 * 86400 * _US),
                  st.lists(_gap, max_size=12)),
        min_size=1, max_size=4,
    ),
    ts_type=st.sampled_from(["timestamp", "timestamp_ntz"]),
)
def test_owned_points_equal_spine_asof(spark, timelines, ts_type):
    """Each snapshot emitting the grid points it decides gives exactly
    the weekly-spine-plus-as-of result, ``(url, t, matched_ts)`` row for
    row: generated timelines around 1970 (so before it too) at µs
    precision, single-snapshot urls, duplicates, snapshots on grid
    instants, and gaps below and far above one step, with ``warc_ts``
    typed ``timestamp`` or ``timestamp_ntz``."""
    import itertools

    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from pliers_spark.operators.asof import asof_join
    from pliers_spark.operators.temporal import resample_grid
    from pliers_spark.pages_pipeline import _owned_points

    rows = [(f"u{i}", us) for i, (start, gaps) in enumerate(timelines)
            for us in itertools.accumulate(gaps, initial=start)]
    df = spark.createDataFrame(rows, "url string, us long").select(
        "url", F.timestamp_micros("us").cast(ts_type).alias("warc_ts"))

    spine = resample_grid(df, ["url"], "warc_ts", _STEP_S).withColumnRenamed("warc_ts", "t")
    want = asof_join(spine, df, ["url"], "t", "warc_ts", [])

    w = Window.partitionBy("url").orderBy("warc_ts")
    snaps = df.withColumns({
        "_prev": F.lag("warc_ts").over(w),
        "_t0": F.first("warc_ts").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    })
    got = _owned_points(snaps, F.col("_prev"), F.col("_t0"), _STEP_S).select(
        "url", "t", F.when(F.col("_own"), F.col("warc_ts")).otherwise(F.col("_prev"))
        .alias("matched_ts"))

    assert got.schema["t"].dataType == df.schema["warc_ts"].dataType
    key = lambda out: sorted(tuple(r) for r in out.select("url", "t", "matched_ts").collect())
    assert key(got) == key(want)


# ---------------------------------------------------------------------------
# the documents flagship (entry()): the Arrow stage keyed by doc_id


def _jvm_document_features(docs):
    """The JVM reference composition of the documents flagship: the six
    per-feature ``functions/text`` expressions over one scan."""
    import pyspark.sql.functions as F

    from pliers_spark.functions import text as T

    return docs.select(
        "doc_id",
        "lang",
        T.text_length("text").cast("long").alias("text_length"),
        T.token_count("text").cast("long").alias("n_tokens"),
        T.num_unique_words("text").cast("long").alias("n_unique"),
        F.round(T.stopword_ratio("text"), 6).alias("stopword_ratio"),
        T.quality_score("text").alias("quality"),
        T.langid_best("text").alias("lang_pred"),
    )


def _assert_documents_equal(docs):
    """Same schema; ints and strings exact, doubles bit-equal."""
    want, got = _jvm_document_features(docs), extract_document_features(docs)
    assert got.schema == want.schema
    w, g = _bits(want), _bits(got)
    assert len(w) == docs.count() > 0
    assert g == w, [(a, b) for a, b in zip(g, w) if a != b][:5]


def test_document_features_match_jvm_on_adversarial_text(spark):
    docs = spark.createDataFrame(
        [(i, t, "en") for i, t in enumerate(ADVERSARIAL_TEXTS)],
        "doc_id long, text string, lang string",
    )
    _assert_documents_equal(docs)


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
def test_document_features_match_jvm_on_sf_documents(spark, sf):
    from pliers_spark.session import load_table

    _assert_documents_equal(load_table(spark, f"/root/testdata/{sf}", "documents"))


# ---------------------------------------------------------------------------
# tools/submit_job.py --checkpoint: checkpointed extraction, same back half


def test_submit_job_checkpoint_equals_flagship(spark, tmp_path, monkeypatch):
    """The --checkpoint composition equals pages_flagship row for row on a
    hot-url table, and runs the same back half: the census engages the
    split path (timesplit_windows) and the leakage gate audits the plan."""
    import functools
    import os

    import pliers_spark.pages_pipeline as PP
    from pliers_spark.operators import asof as asof_mod
    from pliers_spark.operators import skew as skew_mod
    from pliers_spark.plans import leakage

    monkeypatch.syspath_prepend(os.path.join(os.path.dirname(__file__), "..", "tools"))
    import submit_job

    p = str(tmp_path / "pages")
    _write_hot_pages(spark, p)

    def rows_of(df):
        return sorted(tuple(r) for r in df.collect())

    want = rows_of(PP.pages_flagship(spark, p, heavy_hitter_threshold=50))

    calls = []

    def spy(name, fn):
        def wrapped(*a, **k):
            calls.append(name)
            return fn(*a, **k)
        return wrapped

    # submit_job has no threshold option: lower the back half's default so
    # the 200-snapshot url counts as hot
    monkeypatch.setattr(PP, "asof_feature_table", functools.partial(
        PP.asof_feature_table, heavy_hitter_threshold=50))
    for mod, name in [(asof_mod, "detect_heavy_hitters"), (skew_mod, "timesplit_windows"),
                      (leakage, "assert_leakage_free")]:
        monkeypatch.setattr(mod, name, spy(name, getattr(mod, name)))

    args = submit_job.parse_args(
        ["--input", p, "--output", str(tmp_path / "features"),
         "--checkpoint", "--num-buckets", "4"])
    got = submit_job.checkpointed_flagship(spark, p, args)
    assert calls == ["detect_heavy_hitters", "timesplit_windows", "assert_leakage_free"]
    assert rows_of(got) == want and len(want) > 0
