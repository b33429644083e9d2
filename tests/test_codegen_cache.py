"""Warm re-runs reuse their generated code.

Every config step list compiles to one Catalyst plan that runs inside
whole-stage codegen; a pass pays Janino compiles and JIT warm-up for
each generated class it misses in Spark's class cache.  One SA-curation
pass generates a few hundred classes, so ``get_spark`` sizes the cache
above that and keeps AQE's run-dependent stage numbers out of class
names.  These tests pin that a second identical run finds its classes
in the cache instead of compiling them again.
"""

from __future__ import annotations

import json
import random

from chewdata_spark.session import CODEGEN_CACHE_ENTRIES


def _corpus(path: str) -> None:
    """60 multi-line docs over 6 sources; odd ids share repeated
    phrases, and some leak lines of even (benchmark) docs."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(7)
    vocab = [f"w{k}{'x' * (k % 5)}" for k in range(120)]

    def phrase(lo: int, hi: int) -> str:
        return " ".join(rng.choice(vocab) for _ in range(rng.randint(lo, hi)))

    docs = [[phrase(8, 24) for _ in range(rng.randint(1, 3))] for _ in range(60)]
    for _ in range(4):
        span = phrase(8, 10)
        for d in rng.sample(range(1, 60, 2), 3):
            docs[d].append(span)
    for src, dst in zip(range(0, 20, 2), range(21, 41, 2)):
        docs[dst].append(docs[src][0])
    texts = ["\n".join(lines) for lines in docs]
    pq.write_table(pa.table({
        "doc_id": pa.array(range(len(texts)), pa.int64()),
        "text": texts,
        "lang": [("en", "de", "fr")[i % 3] for i in range(len(texts))],
        "source": [f"src{i % 6}" for i in range(len(texts))],
    }), path)


def _compiled(spark) -> int:
    """Classes compiled by this JVM so far (Spark's codegen metric)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_get_spark_sizes_codegen_cache(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.sql.codegen.cache.maxEntries") == str(CODEGEN_CACHE_ENTRIES)
    assert spark.conf.get("spark.sql.codegen.useIdInClassName") == "false"


def test_warm_rerun_reuses_generated_code(spark, tmp_path):
    from chewdata_spark.pipeline import Pipeline

    path = str(tmp_path / "documents.parquet")
    _corpus(path)
    cfg = json.dumps([
        {"type": "reader", "connector": {"type": "local", "path": path},
         "document": {"type": "parquet"}},
        {"type": "curate", "method": "sa_pipeline",
         "key": "doc_id", "field": "text",
         "benchmark_filter": "doc_id % 2 = 0",
         "grain": "char", "tile": 128, "min_len": 30,
         "compare_cap": 64, "bucket_len": 8,
         "quota": {"strata": "source", "max_per_stratum": 8},
         "carry": ["lang", "source"]},
    ])

    def run() -> int:
        before = _compiled(spark)
        df = Pipeline.from_json(cfg, spark).dataframe()
        df.write.format("noop").mode("overwrite").save()
        return _compiled(spark) - before

    first, second = run(), run()
    # the first run must generate more classes than Spark's default
    # cache (100 entries) holds, or the test could not tell the sizes apart
    assert first > 100, first
    assert second < 0.1 * first, (first, second)
