"""Differential parity vs the ACTUAL reference implementation.

Imports pliers unmodified from /root/reference (optional heavy deps
stubbed at import time — see tools/reference_throughput.py; none of the
stubbed code is on the paths exercised here, which are pure
Python/pandas) and asserts, per document of the real sf0.01 corpus:

- `LengthExtractor` feature value == engine `text_length` (north rule:
  feature vectors match at each key);
- `LowerCasingFilter` / `PunctuationRemovalFilter` output text is
  **byte-identical** to the engine's text-prep stages (north rule:
  byte-identical extracted text per url).

Stemmers/VADER/tokenizers need nltk corpora at *runtime* and are pinned
by clean-room golden tests instead (tests/test_stemming.py etc.).
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))

SF_DIR = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def pliers_mods():
    from reference_throughput import install_stubs

    undo = install_stubs()
    sys.path.insert(0, "/root/reference")
    # the finally also runs when the skip fires, so later test modules in
    # this same pytest process never see a fake nltk/scipy in sys.modules
    try:
        try:
            from pliers.extractors import LengthExtractor
            from pliers.filters import LowerCasingFilter, PunctuationRemovalFilter
            from pliers.stimuli import TextStim
        except Exception as e:  # pragma: no cover
            pytest.skip(f"reference not importable: {e}")
        yield TextStim, LengthExtractor, LowerCasingFilter, PunctuationRemovalFilter
    finally:
        undo()
        sys.path.remove("/root/reference")


@pytest.fixture(scope="module")
def docs_pdf(spark):
    from pliers_spark.session import load_table

    return (
        load_table(spark, SF_DIR, "documents")
        .select("doc_id", "text")
        .orderBy("doc_id")
        .limit(100)
        .toPandas()
    )


def test_length_feature_matches_reference(spark, pliers_mods, docs_pdf):
    TextStim, LengthExtractor, *_ = pliers_mods
    from pliers_spark.queries import QUERIES

    ours = {
        r.doc_id: r.text_length
        for r in QUERIES["text_length"](spark, SF_DIR).collect()
    }
    ext = LengthExtractor()
    for _, row in docs_pdf.iterrows():
        ref = int(ext.transform(TextStim(text=row["text"])).to_df()["text_length"].iloc[0])
        assert ours[row["doc_id"]] == ref, row["doc_id"]


def test_text_prep_byte_identical_to_reference(spark, pliers_mods, docs_pdf):
    TextStim, _, LowerCasingFilter, PunctuationRemovalFilter = pliers_mods
    import pyspark.sql.functions as F

    from pliers_spark.functions import text as T

    df = spark.createDataFrame(docs_pdf)
    prepped = {
        r.doc_id: r.prepped
        for r in df.select(
            "doc_id",
            T.remove_punctuation(T.lower_case(F.col("text"))).alias("prepped"),
        ).collect()
    }
    lower, punct = LowerCasingFilter(), PunctuationRemovalFilter()
    for _, row in docs_pdf.iterrows():
        ref_text = punct.transform(lower.transform(TextStim(text=row["text"]))).text
        assert prepped[row["doc_id"]] == ref_text, row["doc_id"]  # byte-identical


def test_word_counter_matches_reference(spark, pliers_mods, docs_pdf):
    """Engine `word_counter` (running-count window) vs the reference's
    WordCounterExtractor (pandas cumcount) — equal per (doc, pos).
    ComplexTextStim uses a regex tokenizer (nltk-free path,
    pliers/stimuli/text.py:222-224) matching the engine's whitespace
    tokenizer on this corpus."""
    from pliers.extractors import WordCounterExtractor
    from pliers.stimuli import ComplexTextStim

    from pliers_spark.queries import QUERIES

    ours = {
        (r.doc_id, r.pos): r.word_count
        for r in QUERIES["word_counter"](spark, SF_DIR).collect()
        if r.doc_id in set(docs_pdf["doc_id"])
    }
    ext = WordCounterExtractor()
    n_checked = 0
    for _, row in docs_pdf.iterrows():
        stim = ComplexTextStim(text=row["text"], tokenizer=r"\S+")
        df = ext.transform(stim).to_df()
        # to_df sorts by onset and leaves `order` NaN here; the stable
        # positional key the reference emits is object_id (cumcount
        # within the shared (onset, duration) group = token position)
        for pos, wc in zip(df["object_id"], df["word_count"]):
            assert ours[(row["doc_id"], int(pos))] == int(wc), (row["doc_id"], pos)
            n_checked += 1
    assert n_checked > 1000


def test_dictionary_lookup_matches_reference(spark, pliers_mods):
    """Engine `dictionary_lookup` (broadcast left join, NULL on miss) vs
    the reference's DictionaryExtractor (index lookup, NaN on miss)."""
    import math

    import pandas as pd

    from pliers.extractors import DictionaryExtractor
    from pliers.stimuli import TextStim

    from pliers_spark.queries import QUERIES
    from pliers_spark.queries.core_parity import _LEXICON_ROWS

    dictionary = pd.DataFrame(
        [(l, f, s) for (_, l, f, s) in _LEXICON_ROWS],
        index=[w for (w, *_rest) in _LEXICON_ROWS],
        columns=["length", "frequency", "syllables"],
    )
    ext = DictionaryExtractor(dictionary)

    rows = QUERIES["dictionary_lookup"](spark, SF_DIR).limit(500).collect()
    for r in rows:
        ref = ext.transform(TextStim(text=r.token.lower())).to_df()
        ref_freq = ref["frequency"].iloc[0]
        if r.frequency is None:
            assert isinstance(ref_freq, float) and math.isnan(ref_freq), r.token
        else:
            assert abs(ref_freq - r.frequency) < 1e-9, r.token


def test_graph_spec_run_matches_pipeline(spark, pliers_mods, docs_pdf, tmp_path):
    """Reference Graph(spec).run(..., merge=True) vs engine Pipeline(spec)
    — same JSON spec shape, same feature values per document."""
    import json

    from pliers.graph import Graph
    from pliers.stimuli import TextStim

    from pliers_spark.plans.pipeline import Pipeline

    spec_path = str(tmp_path / "graph.json")
    with open(spec_path, "w") as f:
        json.dump({"roots": [{"transformer": "LengthExtractor"}]}, f)
    g = Graph(spec=spec_path)
    stims = [
        TextStim(text=row["text"], order=int(row["doc_id"]))
        for _, row in docs_pdf.iterrows()
    ]
    ref = g.run(stims, merge=True)
    ref_by_doc = dict(zip(ref["order"], ref["LengthExtractor#text_length"]))

    ours_df = Pipeline({"roots": [{"transformer": "length"}]}).run(
        spark.createDataFrame(docs_pdf), key_cols=["doc_id"]
    )
    ours = {r.doc_id: r.text_length for r in ours_df.collect()}
    assert len(ours_df.columns) >= 2 and len(ref_by_doc) == len(docs_pdf)
    for doc_id, ref_len in ref_by_doc.items():
        assert ours[doc_id] == int(ref_len), doc_id


def test_merge_results_wide_and_long_match_engine(spark, pliers_mods, docs_pdf):
    """Reference merge_results (union + pivot, extractor#feature naming)
    vs the engine's wide feature frame and long melt — equal values per
    (doc, feature) in both shapes."""
    import pyspark.sql.functions as F

    from pliers.extractors import (
        LengthExtractor,
        NumUniqueWordsExtractor,
        merge_results,
    )
    from pliers.stimuli import TextStim

    class _WsTok:  # whitespace tokenizer ≡ engine semantics (nltk-free path)
        def tokenize(self, t):
            return t.split()

    sub = docs_pdf.head(30)
    length_ext, uniq_ext = LengthExtractor(), NumUniqueWordsExtractor(tokenizer=_WsTok())
    results = []
    for _, row in sub.iterrows():
        stim = TextStim(text=row["text"], order=int(row["doc_id"]))
        results += [length_ext.transform(stim), uniq_ext.transform(stim)]

    wide = merge_results(results, format="wide", extractor_names="column_prefix")
    long = merge_results(results, format="long", extractor_names="column")

    from pliers_spark.pages_pipeline import extract_document_features
    from pliers_spark.session import load_table

    ours = {
        r.doc_id: r
        for r in extract_document_features(load_table(spark, SF_DIR, "documents")).collect()
        if r.doc_id in set(sub["doc_id"])
    }

    # wide: one row per stim, one column per feature
    lcol, ucol = "text_length", "num_unique_words"
    assert len(wide) == 30
    for _, r in wide.iterrows():
        doc = int(r["order"])
        assert ours[doc].text_length == int(r[lcol])
        assert ours[doc].n_unique == int(r[ucol])

    # long: one row per (stim, feature, value), NaNs dropped
    assert set(long["feature"]) == {"text_length", "num_unique_words"}
    for _, r in long.iterrows():
        doc = int(r["order"])
        if r["feature"] == "text_length":
            assert ours[doc].text_length == int(r["value"])
        else:
            assert ours[doc].n_unique == int(r["value"])


# ---------------------------------------------------------------------------
# round 2: image formula parity vs the ACTUAL pliers extractors
# (Brightness/Vibrance are numpy-only — importable without cv2)


@pytest.fixture(scope="module")
def pliers_image_mods():
    from reference_throughput import install_stubs

    undo = install_stubs()
    sys.path.insert(0, "/root/reference")
    try:
        try:
            from pliers.extractors import BrightnessExtractor, VibranceExtractor
            from pliers.stimuli import ImageStim
        except Exception as e:  # pragma: no cover
            pytest.skip(f"reference image extractors not importable: {e}")
        yield ImageStim, BrightnessExtractor, VibranceExtractor
    finally:
        undo()
        sys.path.remove("/root/reference")


def test_image_features_match_actual_pliers(spark, pliers_image_mods):
    """brightness/vibrance computed by the engine's mapInPandas stage on
    PPM-decoded bytes equal the ACTUAL reference extractors run on the
    same pixel arrays (pliers/extractors/image.py:26-38,59-69)."""
    import numpy as np

    from pliers_spark import codecs
    from pliers_spark.multimodal import image_features

    ImageStim, BrightnessExtractor, VibranceExtractor = pliers_image_mods
    rng = np.random.RandomState(21)
    imgs = [rng.randint(0, 256, (8, 10, 3), dtype=np.uint8) for _ in range(4)]
    df = spark.createDataFrame(
        [(i, bytearray(codecs.encode_ppm(im))) for i, im in enumerate(imgs)],
        "id long, payload binary",
    )
    got = {r["id"]: r for r in image_features(df).collect()}
    for i, im in enumerate(imgs):
        stim = ImageStim(data=im)
        ref_b = BrightnessExtractor().transform(stim).to_df()["brightness"][0]
        ref_v = VibranceExtractor().transform(stim).to_df()["vibrance"][0]
        assert got[i]["brightness"] == pytest.approx(float(ref_b), rel=1e-12)
        assert got[i]["vibrance"] == pytest.approx(float(ref_v), rel=1e-12)


def test_lower_case_unicode_parity_jvm_vs_python(spark):
    """SURVEY §2.7 flagged that Python str.lower() can diverge from
    Spark's JVM lower() on some codepoints (suggesting a pandas-UDF
    fallback for byte parity). Verified here on the canonical hard
    cases — Turkish dotted capital I (U+0130, expands to 2 codepoints),
    capital sharp S (U+1E9E), Greek all-caps sigma (simple mapping,
    both engines skip the contextual final-sigma rule), Latin
    glottal-A (U+023A), and Cherokee (lowercase added in Unicode 8) —
    the JVM-17 and CPython-3.11 tables agree byte-for-byte, so the
    codegen'd F.lower() IS the byte-parity path in this environment
    and no UDF fallback is needed. If a future JVM/Python pair
    diverges, this test localizes it."""
    from pyspark.sql import functions as F

    cases = ["İstanbul", "ẞHARP", "ΣΙΓΜΑΣ", "Ⱥx", "ᏣᎳᎩ", "ǅungla", "ⅯⅭⅯ"]
    df = spark.createDataFrame(
        [(i, c) for i, c in enumerate(cases)], "id long, t string"
    )
    got = {r.id: r.l for r in df.select("id", F.lower("t").alias("l")).collect()}
    for i, c in enumerate(cases):
        assert got[i] == c.lower(), (c, c.lower(), got[i])
