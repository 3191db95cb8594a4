"""Benchmark harness — headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]; prints ONE JSON line:
{"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is forced end-to-end with the noop sink (full materialization,
no driver collect). The headline throughput figure is pages(docs)/sec for
the flagship extraction + as-of join path, reported as extra JSON keys,
and the flagship runs FIRST so the headline number exists even if the
harness is killed mid-sweep. A wall-clock budget (--budget-s, default
600 s) guarantees the JSON line prints inside any reasonable driver
window: queries not reached in time are listed by name under
"skipped_queries" (with a "skipped" count), and a query that raises is
recorded under "errors" instead of killing the run.

The default sweep is the compact HEADLINE set (north-rule core: flagship,
as-of joins, windowed features, sessionize, dedup, similarity, text
extractors, curation). --full runs the ENTIRE registered catalogue —
FULL_QUERIES is derived from the registry at import time, never a hand
list (several minutes; use for local regression sweeps, not the driver).

Usage: python bench.py [--cpus N] [--sf-dir DIR] [--repeat K] [--full]
                       [--budget-s SECONDS]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Compact default sweep: one representative per operator family on the
# north-rule path. Kept small enough that startup + flagship + sweep
# lands well under the driver's bench window at sf0.1 on local[32].
HEADLINE_QUERIES = [
    # text extractor core (pliers parity surface)
    "text_length",
    "tokenize",
    "word_counter",
    "dictionary_lookup",
    "tfidf",
    "quality_score",
    "langid",
    "sentiment_lexicon",
    "porter_stem",
    "vader_sentiment",
    "spacy_attrs",
    # point-in-time / windowed feature engineering (north rule)
    "asof_join",
    "asof_join_cogroup",
    "asof_join_nearest",
    "sessionize",
    "rolling_window",
    "resample_ffill",
    "snapshot_asof",
    "training_matrix",
    "target_encode_pit",
    "scd2_build",
    "rolling_multi",
    # dedup / similarity (training-data pipeline)
    "dedup_exact",
    "minhash_lsh",
    "simhash",
    "semantic_dedup",
    "embedding_topk",
    "ann_ivf_topk",
    "chunk_dedup",
    "bm25_topk",
    # curation / quality
    "quality_filter",
    "gopher_rules",
    "curation_pipeline",
    "sequence_pack",
    "decontaminate",
    # relational / multimodal sanity
    "tpch_q1",
    "tpch_q3",
    "events_pivot",
    "stft_power",
    "mel_mfcc",
    "image_decode_stats",
    # round-3 additions
    "treebank_tokenize",
    "spectral_contrast",
    "image_saliency",
    "jpeg_decode_stats",
    # round-4 additions
    "sentence_split_punkt",
]

# --full sweep: the ENTIRE registered catalogue, derived from the registry
# so it can never drift from QUERIES (ADVICE r2). Headline names keep
# their curated order up front; the remainder follows sorted.
def _full_queries() -> list[str]:
    from pliers_spark.queries import QUERIES

    rest = sorted(set(QUERIES) - set(HEADLINE_QUERIES))
    return [n for n in HEADLINE_QUERIES if n in QUERIES] + rest


def materialize(df):
    df.write.format("noop").mode("overwrite").save()


def _scaling_evidence() -> dict:
    """Fold the two-parallelism-level scaling evidence (north rule) into
    the bench JSON line, if tools/scaling_bench.py has been run."""
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "bench_results", "scaling.json")
    try:
        with open(path) as f:
            s = json.load(f)
        return {
            "scaling_efficiency": s["scaling_efficiency"],
            "scaling_low": {"cpus": s["low"]["cpus"],
                            "pages_per_sec": s["low"]["pages_per_sec"]},
            "scaling_high": {"cpus": s["high"]["cpus"],
                             "pages_per_sec": s["high"]["pages_per_sec"]},
            "scaling_valid": s.get("valid", True),
            # staleness markers: when these differ from the bench HEAD the
            # scaling numbers were measured at another commit (ADVICE r2)
            "scaling_run_commit": s.get("run_commit", "unrecorded(pre-r3)"),
            "scaling_run_date": s.get("run_date", "unrecorded(pre-r3)"),
        }
    except Exception:
        return {}


def run_bench(sf_dir: str, cpus: int, repeat: int = 1, full: bool = False,
              budget_s: float = 600.0) -> dict:
    from pliers_spark.pages_pipeline import extract_document_features
    from pliers_spark.queries import QUERIES
    from pliers_spark.session import get_spark, load_table

    t_start = time.time()
    bench_queries = _full_queries() if full else HEADLINE_QUERIES
    spark = get_spark(f"bench-{cpus}", cpus=cpus, shuffle_partitions=max(cpus, 8))
    # warm the JVM + parquet footers once
    n_docs = load_table(spark, sf_dir, "documents").count()
    load_table(spark, sf_dir, "events").count()
    # warm the Python UDF workers once (steady-state measurement: spawning
    # `cpus` interpreters + importing pandas/pyarrow is a per-executor
    # one-time cost on a real cluster, ~40 s when it lands inside the
    # first Arrow stage on local[32]); workers are reused afterwards
    spark.range(cpus * 4, numPartitions=cpus).mapInPandas(
        lambda it: (b.head(1) for b in it), schema="id long"
    ).write.format("noop").mode("overwrite").save()

    times: dict[str, float] = {}
    errors: dict[str, str] = {}
    skipped: list[str] = []

    # headline FIRST: flagship extraction over documents + as-of join over
    # events — the one number the driver must always get. Best-of-2: the
    # first run pays one-time costs the generic warmup above can't reach
    # (worker import of the extraction stack, first parquet decode of the
    # text columns, codegen JIT) that a long-running production pipeline
    # amortizes to zero; the second run is the steady-state throughput.
    flagship_s = float("inf")
    for _ in range(2):
        t0 = time.time()
        materialize(extract_document_features(
            load_table(spark, sf_dir, "documents", spread=True)))
        flagship_s = min(flagship_s, time.time() - t0)
    times["flagship"] = round(flagship_s, 3)

    for name in bench_queries:
        if time.time() - t_start > budget_s:
            skipped.append(name)
            continue
        best = float("inf")
        try:
            # lookup inside the try: a stale name in HEADLINE_QUERIES must
            # be recorded under errors, not kill the whole line (ADVICE r2)
            fn = QUERIES[name]
            for _ in range(repeat):
                t0 = time.time()
                materialize(fn(spark, sf_dir))
                best = min(best, time.time() - t0)
            times[name] = round(best, 3)
        except Exception as exc:  # isolate: one bad query must not kill the line
            errors[name] = f"{type(exc).__name__}: {exc}"[:200]
        # Release the previous query's localCheckpoint blocks: the JVM
        # ContextCleaner only unpersists them once the Python-side
        # DataFrame refs are collected — without this, checkpointed
        # blocks from iterative queries (pagerank, CC, chunk_dedup)
        # accumulate in executor storage and inflate later measurements
        # with GC/spill noise that no real pipeline would carry.
        import gc

        gc.collect()
        spark.catalog.clearCache()

    total = round(sum(times.values()), 3)
    out = {
        "metric": "bench_total_seconds",
        "value": total,
        "unit": "sec",
        "queries": times,
        "sf": sf_dir.rstrip("/").split("sf")[-1],
        "cpus": cpus,
        "docs": n_docs,
        "flagship_docs_per_sec": round(n_docs / flagship_s, 1),
        "n_queries_run": len(times),
        "n_queries_registered": len(QUERIES),
    }
    if errors:
        out["errors"] = errors
    if skipped:
        out["skipped"] = len(skipped)
        out["skipped_queries"] = skipped
    out.update(_scaling_evidence())
    spark.stop()
    return out


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--repeat", type=int, default=1)
    ap.add_argument("--full", action="store_true",
                    help="run the entire query catalogue instead of the headline set")
    ap.add_argument("--budget-s", type=float, default=600.0,
                    help="wall-clock budget; queries not reached are skipped")
    args = ap.parse_args()
    result = run_bench(args.sf_dir, args.cpus, args.repeat, full=args.full,
                       budget_s=args.budget_s)
    print(json.dumps(result), flush=True)
