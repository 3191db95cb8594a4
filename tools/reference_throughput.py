"""Measure the reference's single-node throughput on the same data.

The reference (pliers) publishes no benchmarks (BASELINE.md §absence),
so this harness runs the reference's own extractor code — imported
from /root/reference, unmodified — over the SAME documents table the
engine benches on, and records docs/sec for a like-for-like stage
(LengthExtractor ≡ our `text_length`; pure-Python, no optional deps).

Heavy optional dependencies that pliers imports at module scope
(moviepy/imageio/scipy/nltk/tqdm/pandas-compat shims) are stubbed ONLY
far enough for `import pliers` to succeed — none of the stubbed code is
on the measured path (LengthExtractor.transform → TextStim → len()).

Writes bench_results/reference_throughput.json:
    {"extractor": ..., "docs": N, "wall_s": ..., "docs_per_sec": ...,
     "engine_comparison": "...see bench.py flagship_docs_per_sec..."}

Usage: python tools/reference_throughput.py [--sf-dir /root/testdata/sf0.1]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import types

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _stub(name: str, **attrs):
    m = types.ModuleType(name)
    m.__path__ = []  # mark as package so submodule imports resolve
    for k, v in attrs.items():
        setattr(m, k, v)
    sys.modules[name] = m
    return m


class _Any:
    def __init__(self, *a, **k):
        pass

    def __call__(self, *a, **k):
        return self

    def __getattr__(self, item):
        return _Any()


def install_stubs():
    """Stub the optional heavy deps in ``sys.modules``. Returns an undo
    callable that puts ``sys.modules`` back as it was before the call."""
    before = dict(sys.modules)

    def undo():
        for name in set(sys.modules) - set(before):
            del sys.modules[name]
        sys.modules.update(before)

    for name in [
        "nltk",
        "nltk.sentiment",
        "nltk.sentiment.vader",
        "nltk.stem",
        "nltk.tokenize",
        "nltk.corpus",
        "scipy",
        "scipy.interpolate",
        "scipy.signal",
        "scipy.stats",
        "scipy.fft",
        "moviepy",
        "moviepy.audio",
        "moviepy.audio.io",
        "moviepy.audio.io.AudioFileClip",
        "moviepy.video",
        "moviepy.video.io",
        "moviepy.video.io.ffmpeg_reader",
        "moviepy.video.io.VideoFileClip",
        "moviepy.editor",
        "imageio",
        "PIL",
        "PIL.Image",
        "pysrt",
    ]:
        _stub(name)
    sys.modules["scipy.interpolate"].interp1d = _Any
    sys.modules["scipy"].fft = sys.modules["scipy.fft"]
    sys.modules["imageio"].imread = _Any()
    sys.modules["imageio"].imsave = _Any()
    sys.modules["imageio"].get_reader = _Any()
    sys.modules["PIL.Image"].Image = _Any
    sys.modules["PIL"].Image = sys.modules["PIL.Image"]
    sys.modules["PIL"].ImageFilter = _Any()
    sys.modules["PIL"].ImageOps = _Any()
    sys.modules["moviepy.audio.io.AudioFileClip"].AudioFileClip = _Any
    sys.modules["moviepy.video.io.VideoFileClip"].VideoFileClip = _Any
    sys.modules["moviepy.video.io.ffmpeg_reader"].ffmpeg_parse_infos = _Any()
    sys.modules["moviepy.editor"].VideoFileClip = _Any
    sys.modules["moviepy.editor"].AudioFileClip = _Any
    sys.modules["pysrt"].open = _Any()
    sys.modules["nltk.sentiment.vader"].SentimentIntensityAnalyzer = _Any
    sys.modules["nltk.stem"].PorterStemmer = _Any
    sys.modules["nltk.stem"].SnowballStemmer = _Any
    sys.modules["nltk.stem"].WordNetLemmatizer = _Any
    sys.modules["nltk"].word_tokenize = _Any()
    sys.modules["nltk"].pos_tag = _Any()
    sys.modules["nltk.tokenize"].word_tokenize = _Any()
    sys.modules["nltk.tokenize"].sent_tokenize = _Any()
    sys.modules["nltk.stem"].RegexpStemmer = _Any
    sys.modules["nltk.stem"].LancasterStemmer = _Any
    sys.modules["nltk.stem"].RSLPStemmer = _Any
    sys.modules["nltk.stem"].ISRIStemmer = _Any
    _stub("nltk.tokenize.api", TokenizerI=_Any)
    _stub("nltk.stem.snowball", SnowballStemmer=_Any)
    _stub("nltk.stem.wordnet", WordNetLemmatizer=_Any)
    _stub("nltk.corpus.reader", WordListCorpusReader=_Any)
    sys.modules["nltk.corpus"].stopwords = _Any()
    sys.modules["nltk.corpus"].wordnet = _Any()
    class _Tqdm:  # class (isinstance target) + iterable passthrough
        def __init__(self, iterable=None, *a, **k):
            self._it = iterable

        def __iter__(self):
            return iter(self._it if self._it is not None else [])

        def update(self, *a):
            pass

        def close(self):
            pass

    tqdm = _stub("tqdm")
    tqdm.tqdm = _Tqdm
    return undo


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()

    install_stubs()
    sys.path.insert(0, "/root/reference")
    from pliers.extractors import LengthExtractor
    from pliers.stimuli import TextStim

    import pyarrow.parquet as pq

    texts = pq.read_table(
        os.path.join(args.sf_dir, "documents.parquet"), columns=["text"]
    ).column("text").to_pylist()

    ext = LengthExtractor()
    # warm one call (registry/cache setup), then measure the full corpus
    ext.transform(TextStim(text=texts[0])).to_df()
    t0 = time.time()
    # the reference's own batch path: transform an iterable of stims
    results = ext.transform([TextStim(text=t) for t in texts])
    dfs = [r.to_df() for r in results]
    wall = time.time() - t0
    n = len(dfs)
    assert n == len(texts) and int(dfs[0]["text_length"].iloc[0]) == len(texts[0].strip())

    out = {
        "reference": "pliers LengthExtractor (unmodified, /root/reference)",
        "stage_parity": "engine query `text_length` / flagship column text_length",
        "docs": n,
        "wall_s": round(wall, 2),
        "docs_per_sec": round(n / wall, 1),
        "note": (
            "single process, as the reference runs by default "
            "(parallelize=False, pliers/config.py:26); optional heavy deps "
            "stubbed at import only — measured path is pure pliers code"
        ),
    }
    print(json.dumps(out, indent=2))
    path = os.path.join(REPO, "bench_results", "reference_throughput.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(out, f, indent=2)


if __name__ == "__main__":
    main()
