"""One workload in one fresh process and Spark session.

Started by ``run.py``; not meant to be run by hand.  It builds the
session with ``get_spark``, runs one trivial job (the end of set-up),
then a cold pass and as many warm passes as fit in ``--seconds`` (at
least one) through the program's public entry points:
``Pipeline.from_config(...).run()`` for config step lists and the query
registry for the analytics mix.  Every pass writes its outputs under
``--out/pass_<k>``; ``run.py`` checks them after this process has exited.

With ``--trace 1`` the session also writes Spark's event log and a
streaming listener records micro-batch progress; after the warm passes
one pass runs inside spans and one more without, each layer's public
functions are timed on checkpointed inputs (see ``layer_*`` below), and
stream-only drains follow until 100 steady micro-batches were seen or
the time budget for the traced run is spent.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import tracing  # noqa: E402

QUERY_MIX = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "top_orders_per_customer",
    "rollup_revenue",
    "events_asof_orders",
    "sessionize_events",
)

# the registry's curate_config_decontam_sa step, char grain
SA_STEP = {"type": "curate", "method": "sa_pipeline",
           "key": "doc_id", "field": "text",
           "benchmark_filter": "doc_id % 2 = 0",
           "grain": "char", "tile": 128, "min_len": 30,
           "compare_cap": 64, "bucket_len": 8,
           "quota": {"strata": "source", "max_per_stratum": 15},
           "carry": ["lang", "source"]}

ETL_ACTIONS = [
    {"field": "upper_string", "pattern": "{{ input.string | upper }}"},
    {"field": "doubled", "pattern": "{{ input.number * 2 }}"},
    {"field": "year", "pattern": "{{ input.date | date(format='%Y') }}"},
    {"field": "round_floor", "pattern": "{{ input.round | round(method='floor', precision=2) }}"},
    {"field": "sorted_list",
     "pattern": "{{ input.list_to_sort | split(pat=',') | reverse | join(sep='-') }}"},
]
ETL_LOOKUP = {"field": "mapped",
              "pattern": "{{ mapping_ref | filter(attribute='mapping_code', value=input.code)"
                         " | first | map(attribute='mapping_value') }}"}


def etl_config(inputs: str, out: str) -> list[dict]:
    ok, err = os.path.join(out, "etl_ok"), os.path.join(out, "etl_err")
    return [
        {"type": "reader", "connector": {"type": "local", "path": os.path.join(inputs, "etl", "records")},
         "document": {"type": "jsonl"}},
        {"type": "transformer",
         "referentials": {"mapping_ref": {
             "connector": {"type": "local", "path": os.path.join(inputs, "etl", "mapping.jsonl")},
             "document": {"type": "jsonl"}}},
         "actions": ETL_ACTIONS + [ETL_LOOKUP, {"field": "remove_field", "type": "remove"}]},
        {"type": "validator",
         "rules": {k: {"pattern": p, "message": m} for k, (p, m) in gen.ETL_RULES.items()},
         "error_separator": gen.ETL_SEPARATOR},
        {"type": "eraser", "connector": {"path": ok}},
        {"type": "eraser", "connector": {"path": err}},
        {"type": "writer", "connector": {"type": "local", "path": ok},
         "document": {"type": "parquet"}, "data_type": "ok"},
        {"type": "writer", "connector": {"type": "local", "path": err},
         "document": {"type": "jsonl"}, "data_type": "err"},
    ]


def sa_config(inputs: str, out: str) -> list[dict]:
    path = os.path.join(out, "sa")
    return [
        {"type": "reader", "connector": {"type": "local",
                                         "path": os.path.join(inputs, "sa", "documents.parquet")},
         "document": {"type": "parquet"}},
        SA_STEP,
        {"type": "eraser", "connector": {"path": path}},
        {"type": "writer", "connector": {"type": "local", "path": path},
         "document": {"type": "parquet"}},
    ]


def stream_config(inputs: str, out: str) -> list[dict]:
    return [
        {"type": "reader", "stream": True,
         "connector": {"type": "local", "path": os.path.join(inputs, "stream", "backlog")},
         "document": {"type": "jsonl", "options": {"maxFilesPerTrigger": "1"}}},
        {"type": "transformer", "actions": [
            {"field": "source_tag", "pattern": "{{ input.source | upper }}"}]},
        {"type": "curate", "method": "exact_dedup", "key": "doc_id", "fields": ["text"]},
        {"type": "writer", "connector": {"type": "local", "path": os.path.join(out, "stream")},
         "document": {"type": "parquet"}, "checkpoint": os.path.join(out, "stream_ckpt")},
    ]


class Workload:
    """A pass is a fixed sequence of parts; each part is one user-level
    job (a config run or one registry query) that commits output."""

    parts: tuple[str, ...] = ()

    def __init__(self, spark, inputs: str, spans: tracing.Spans | None):
        self.spark, self.inputs, self.spans = spark, inputs, spans

    def span(self, name: str):
        from contextlib import nullcontext

        return self.spans.span(name) if self.spans else nullcontext()

    def run_config(self, tag: str, steps: list[dict]) -> None:
        from chewdata_spark.pipeline import Pipeline

        with self.span(f"pipeline.parse.{tag}"):
            p = Pipeline.from_config(json.dumps(steps), self.spark)
        with self.span(f"pipeline.run.{tag}"):
            p.run()

    def run_pass(self, out: str, parts: tuple[str, ...]) -> None:
        for part in parts:
            with self.span(f"part.{part}"):
                self.run_part(part, out)


class EtlAnalytics(Workload):
    parts = ("etl", *QUERY_MIX)

    def run_part(self, part: str, out: str) -> None:
        if part == "etl":
            self.run_config("etl", etl_config(self.inputs, out))
            return
        from chewdata_spark.queries import all_queries

        df = all_queries()[part](self.spark, os.path.join(self.inputs, "tpch"))
        df.write.mode("overwrite").parquet(os.path.join(out, part))


class CurateStream(Workload):
    parts = ("sa", "stream")

    def run_part(self, part: str, out: str) -> None:
        steps = sa_config if part == "sa" else stream_config
        self.run_config(part, steps(self.inputs, out))


WORKLOADS = {"etl_analytics": EtlAnalytics, "curate_stream": CurateStream}


# -- traced layer calls -----------------------------------------------------


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(spans: tracing.Spans, name: str, fn) -> float:
    with spans.span(name):
        fn()
    return spans.seconds(name)


def _compile(spark, spans, tag: str, steps: list[dict]) -> None:
    from chewdata_spark.pipeline import Pipeline

    with spans.span(f"pipeline.compile.{tag}"):
        Pipeline.from_config(json.dumps(steps), spark).dataframe()


def layer_etl(spark, inputs: str, scratch: str, spans: tracing.Spans) -> dict:
    from chewdata_spark.operators.transformer import Action, apply_actions
    from chewdata_spark.operators.validator import Rule, apply_rules
    from chewdata_spark.sources.documents import read_document, write_document

    rec = os.path.join(inputs, "etl", "records")
    m = {"documents.read_s": _timed(spans, "documents.read", lambda: _noop(
        read_document(spark, rec, "jsonl")))}
    cached = read_document(spark, rec, "jsonl").cache()
    cached.count()
    m["documents.write_s"] = _timed(spans, "documents.write", lambda: write_document(
        cached, os.path.join(scratch, "write_probe"), "parquet", mode="overwrite"))
    actions = [Action(a["field"], a["pattern"], "merge") for a in ETL_ACTIONS]
    m["transformer.apply_s"] = _timed(spans, "transformer.apply", lambda: _noop(
        apply_actions(cached, actions, route_errors=True)))
    rules = [Rule(k, p, msg) for k, (p, msg) in gen.ETL_RULES.items()]
    m["validator.apply_s"] = _timed(spans, "validator.apply", lambda: _noop(
        apply_rules(cached, rules, error_separator=gen.ETL_SEPARATOR)))
    cached.unpersist()
    _compile(spark, spans, "etl", etl_config(inputs, os.path.join(scratch, "compile")))
    return m


def layer_sa(spark, inputs: str, scratch: str, spans: tracing.Spans) -> dict:
    from pyspark.sql import functions as F

    from chewdata_spark.operators.curation import sa_curate_corpus, stratum_quota
    from chewdata_spark.operators.dedup import dedup_lines_global
    from chewdata_spark.operators.suffix import repeat_spans_sa_tiled, sa_contamination_scores
    from chewdata_spark.operators.text import normalize_text
    from chewdata_spark.sources.documents import read_document, write_document

    path = os.path.join(inputs, "sa", "documents.parquet")
    m = {"documents.read_s": _timed(spans, "documents.read", lambda: _noop(
        read_document(spark, path, "parquet")))}
    docs = spark.read.parquet(path).localCheckpoint(eager=True)
    m["documents.write_s"] = _timed(spans, "documents.write", lambda: write_document(
        docs, os.path.join(scratch, "write_probe"), "parquet", mode="overwrite"))
    train = docs.filter(F.col("doc_id") % 2 == 1).localCheckpoint(eager=True)
    bench = docs.filter(F.col("doc_id") % 2 == 0).localCheckpoint(eager=True)
    m["text.normalize_s"] = _timed(spans, "text.normalize", lambda: _noop(
        normalize_text(train, "doc_id", "text")))
    norm = normalize_text(train, "doc_id", "text").select(
        "doc_id", F.col("norm_text").alias("text")).localCheckpoint(eager=True)
    evaln = normalize_text(bench, "doc_id", "text").select(
        "doc_id", F.col("norm_text").alias("text")).localCheckpoint(eager=True)
    m["dedup.lines_global_s"] = _timed(spans, "dedup.lines_global", lambda: _noop(
        dedup_lines_global(norm, "doc_id", "text", min_words=5)))
    lined = dedup_lines_global(norm, "doc_id", "text", min_words=5).select(
        "doc_id", F.col("clean_text").alias("text")).localCheckpoint(eager=True)
    s = SA_STEP
    m["suffix.repeat_spans_s"] = _timed(spans, "suffix.repeat_spans", lambda: _noop(
        repeat_spans_sa_tiled(lined, "doc_id", "text", tile=s["tile"], min_len=s["min_len"])))
    m["suffix.contamination_scores_s"] = _timed(
        spans, "suffix.contamination_scores", lambda: _noop(sa_contamination_scores(
            lined, evaln, "doc_id", "text", max_chars=s["compare_cap"], min_len=s["min_len"],
            bucket_len=s["bucket_len"], max_bucket=10_000, full_doc=True)))
    m["curation.quota_s"] = _timed(spans, "curation.quota", lambda: _noop(stratum_quota(
        train, "source", "doc_id", max_per_stratum=s["quota"]["max_per_stratum"])))
    m["curation.sa_curate_s"] = _timed(spans, "curation.sa_curate", lambda: _noop(
        sa_curate_corpus(train, "doc_id", "text", benchmark=bench, grain=s["grain"],
                         tile=s["tile"], min_len=s["min_len"], compare_cap=s["compare_cap"],
                         bucket_len=s["bucket_len"],
                         quota_col=s["quota"]["strata"],
                         max_per_stratum=s["quota"]["max_per_stratum"], carry=s["carry"])))
    _compile(spark, spans, "sa", sa_config(inputs, os.path.join(scratch, "compile")))
    _compile(spark, spans, "stream", stream_config(inputs, os.path.join(scratch, "compile")))
    return m


LAYER_CALLS = {"etl_analytics": layer_etl, "curate_stream": layer_sa}
# steady micro-batches wanted for the latency tail: at least 10 beyond p90
STREAM_SAMPLES = 100
# no drain starts that would end later than this after the process
# started, so that a slow host gives fewer latency samples (see
# stream.batch_samples) rather than a run that overruns run.py's limit
DRAIN_UNTIL_S = 140

# the config pipelines whose reads count toward documents.input_scans,
# with the input paths they read
CONFIG_INPUTS = {
    "etl_analytics": {"etl": ["etl/records", "etl/mapping.jsonl"]},
    "curate_stream": {"sa": ["sa/documents.parquet"], "stream": ["stream/backlog"]},
}


def disk_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def trace_metrics(a, spans: tracing.Spans, log: dict, progress: list,
                  untraced_s: float, layers: dict, cores: int) -> dict:
    traced = spans.get("pass.traced")
    m = dict(layers)
    tags = CONFIG_INPUTS[a.workload]
    m["pipeline.parse_s"] = sum(spans.seconds(f"pipeline.parse.{t}") for t in tags)
    comp = [spans.get(f"pipeline.compile.{t}") for t in tags]
    m["pipeline.compile_s"] = sum(c["end"] - c["start"] for c in comp)
    m["pipeline.compile_jobs"] = float(sum(tracing.jobs_in(log, c["start"], c["end"])
                                           for c in comp))
    runs = [spans.get(f"pipeline.run.{t}") for t in tags]
    m["pipeline.jobs"] = float(sum(tracing.jobs_in(log, r["start"], r["end"]) for r in runs))
    read = sum(tracing.file_bytes_in(log, r["start"], r["end"]) for r in runs)
    disk = sum(disk_bytes(os.path.join(a.inputs, p)) for ps in tags.values() for p in ps)
    m["documents.input_read_mb"] = read / 2**20
    m["documents.input_disk_mb"] = disk / 2**20
    m["documents.input_scans"] = read / disk
    for q in QUERY_MIX:
        m[f"queries.{q}_s"] = spans.seconds(f"part.{q}") if a.workload == "etl_analytics" else 0.0
    if a.workload == "curate_stream":
        # the traced drain is the one whose first batch falls in its span
        st = spans.get("part.stream")
        m.update(tracing.stream_metrics(next(
            d for d in tracing.drains(progress) if st["start"] <= d[0]["t"] <= st["end"])))
        lat = tracing.latency_samples(progress)
        qs = statistics.quantiles(lat, n=10) if len(lat) > 1 else lat * 9
        m["stream.batch_p50_s"] = statistics.median(lat)
        m["stream.batch_p90_s"] = qs[8]
        m["stream.batch_samples"] = float(len(lat))
    m.update(tracing.session_metrics(log, traced["start"], traced["end"], cores))
    m["trace.pass_s"] = traced["end"] - traced["start"]
    m["trace.run_s"] = untraced_s
    m["trace.overhead_s"] = m["trace.pass_s"] - m["trace.run_s"]
    return m


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--result", required=True)
    a = ap.parse_args()

    started = time.time()
    work = os.environ["PERFBENCH_WORK"]
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}"
                                         f" -Dderby.system.home={work}",
    }
    if a.trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": log_dir,
                     "spark.eventLog.compress": "false"})
    from chewdata_spark.session import get_spark

    spark = get_spark("perfbench", extra_conf=conf)
    spark.range(1).count()
    print(f"READY {time.time():.6f}", flush=True)

    cores = spark.sparkContext.defaultParallelism
    progress: list = []
    if a.trace:
        spark.streams.addListener(tracing.make_progress_listener(progress))
    result: dict = {"passes": []}

    def do_pass(kind: str, spans=None, parts=None) -> None:
        wl = WORKLOADS[a.workload](spark, a.inputs, spans)
        parts = parts or wl.parts
        k = len(result["passes"])
        out = os.path.join(a.out, f"pass_{k}")
        t0 = time.perf_counter()
        err = None
        try:
            if spans:
                with spans.span(f"pass.{kind}"):
                    wl.run_pass(out, parts)
            else:
                wl.run_pass(out, parts)
        except Exception:  # a failed pass counts toward failed_frac
            err = traceback.format_exc(limit=3)
        result["passes"].append({"k": k, "kind": kind, "s": time.perf_counter() - t0,
                                 "dir": out, "parts": list(parts), "error": err})

    do_pass("cold")
    t_warm = time.perf_counter()
    do_pass("warm")
    # another pass only if it fits in --seconds: the pass count does not
    # flip from run to run when one pass takes about --seconds
    while time.perf_counter() - t_warm + result["passes"][-1]["s"] <= a.seconds:
        do_pass("warm")
    if a.trace:
        spans = tracing.Spans(a.workload)
        do_pass("traced", spans)
        # the untraced pass to compare with runs after the traced one:
        # passes still speed up after the first warm one
        do_pass("warm")
        untraced_s = result["passes"][-1]["s"]
        layers = LAYER_CALLS[a.workload](spark, a.inputs, os.path.join(a.out, "layers"), spans)
        # stream-only drains for the batch-latency tail; the last pass's
        # length (at first a whole pass's) bounds the next drain's
        while (progress and len(tracing.latency_samples(progress)) < STREAM_SAMPLES
               and time.time() - started + result["passes"][-1]["s"] <= DRAIN_UNTIL_S):
            do_pass("drain", parts=("stream",))
        spark.stop()  # flushes and closes the event log
        log = tracing.read_event_log(os.path.join(work, "eventlog"))
        result["layers"] = trace_metrics(a, spans, log, progress, untraced_s, layers, cores)
        result["self_s"] = spans.self_times()
        spans.write(os.path.join(work, "spans.jsonl"))
    else:
        spark.stop()
    with open(a.result, "w") as fh:
        json.dump(result, fh)


if __name__ == "__main__":
    main()
