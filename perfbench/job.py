"""One benchmark job: a fresh PySpark process + JVM on ``local[cores]``, as a
``spark-submit`` of the workload would be.

    python3 perfbench/job.py SPEC.json RESULT.json

SPEC names the workload, its input directory, the output directory, the
core count, the measuring time, the time the parent spawned this process,
and whether to trace. Set-up ends when the input is ready. Timed passes
then repeat until the measuring time is used (at least one); each is cold
for what it runs first, as in a ``spark-submit``. Once nothing measured is
left the job touches SPEC's ``untimed`` file, so the parent can build its
oracle results while the job only writes outputs and stops. RESULT.json gets the
timestamps, each pass's wall and process-tree CPU-seconds, and the outputs
of the last pass for the parent to check. A traced job also runs each layer
on its own inside a span, with Spark's event log on, and folds the log's
task metrics into the spans.
"""

from __future__ import annotations

import json
import os
import sys
import time
from contextlib import nullcontext

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.getcwd())

from proctree import tree_cpu_s  # noqa: E402
from spans import Tracer, event_log_cpu_s, fold, idle_s, read_event_log  # noqa: E402

DOCS_QUERIES = (
    "dedup_exact", "token_stats", "quality_scores", "lang_id",
    "bpe_token_count", "doc_fingerprint", "jaccard_pairs",
    "minhash_signatures", "lsh_pairs", "simhash16", "simhash_near_dup_pairs",
    "simhash64_pairs", "embedding_topk", "binary_meta", "ann_ivf_topk",
    "cosine_near_dup",
)
DETECTORS = ("parser", "spike", "statistical", "burst", "rare_ip",
             "frequency", "pattern", "timewindow")
# run_pipeline.py's default bucket count
N_BUCKETS = 8


def _cpu() -> float:
    return tree_cpu_s(os.getpid())


def _span(tracer: Tracer | None, name: str):
    return tracer.span(name) if tracer is not None else nullcontext({})


class CountingSink:
    """Noop-format leaf write that counts rows per detector on the way
    through (``observe``), so leaf row counts need no second pass."""

    def __init__(self):
        self.observations = []

    def write(self, df) -> None:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        if "detector" in df.columns:
            exprs = [F.count_if(F.col("detector") == d).alias(d) for d in DETECTORS]
        else:
            exprs = [F.count(F.lit(1)).alias("minute_rows")]
        obs = Observation()
        df.observe(obs, *exprs).write.format("noop").mode("overwrite").save()
        self.observations.append(obs)

    def last_rows(self) -> int:
        return int(sum(self.observations[-1].get.values()))

    def totals(self) -> dict[str, int]:
        out: dict[str, int] = {}
        for obs in self.observations:
            for k, v in obs.get.items():
                out[k] = out.get(k, 0) + int(v)
        return out


def _untimed(spec: dict) -> None:
    """Tell the parent that no measured work is left (a traced job measures
    its layers after the timed pass)."""
    open(spec["untimed"], "w").close()


def _timed_passes(res: dict, spec: dict, tracer: Tracer | None, name: str,
                  one_pass, outputs_of) -> None:
    """Timed passes until ``spec['seconds']`` have passed (at least one).
    ``outputs_of`` turns what a pass returned into the outputs the parent
    checks, outside the timing."""
    res["walls"], res["cpus"] = [], []
    deadline = time.time() + spec["seconds"]
    while not res["walls"] or time.time() < deadline:
        t0, c0 = time.time(), _cpu()
        with _span(tracer, name):
            got = one_pass()
        res["walls"].append(time.time() - t0)
        res["cpus"].append(_cpu() - c0)
        res["outputs"] = outputs_of(got)
    if tracer is None:
        _untimed(spec)


def synth_dag(spark, spec: dict, res: dict, tracer: Tracer | None) -> None:
    from intelligent_log_analysis_anomaly_detection_tool_spark.plans.pipeline import (
        run_concurrent_dag,
    )
    from intelligent_log_analysis_anomaly_detection_tool_spark.sources.transcripts import (
        read_transcripts,
    )

    # read lazily, as jobs/run_pipeline.py does: the input is ready once the
    # session is, and reading it falls in the timed pass
    tr = read_transcripts(spark, spec["data"])
    res["ready"] = time.time()

    def one_pass():
        sink = CountingSink()
        return sink, run_concurrent_dag(tr, action=sink.write)

    def outputs_of(got) -> dict:
        sink, frames = got
        parsed, online = frames["parsed"], frames["online"]
        counts = sink.totals()
        for r in online.groupBy("detector").count().collect():
            counts[r["detector"]] = int(r["count"])
        counts["malformed"] = parsed.filter("malformed").count()
        counts["parsed"] = parsed.count() - counts["malformed"]
        parsed.unpersist()
        online.unpersist()
        return counts

    # no warm-up: a spark-submit of the job runs it once, cold
    _timed_passes(res, spec, tracer, "dag", one_pass, outputs_of)
    if tracer is not None:
        with tracer.span("input") as s:
            tr = tr.persist()
            s["rows_out"] = tr.count()
        _layers(spark, tracer, tr, spec["out"], res)
        tr.unpersist()


def _layers(spark, tracer: Tracer, transcripts, out: str, res: dict) -> None:
    """Each layer's public function on its own, in pipeline order, then the
    checkpointed job of jobs/run_pipeline.py over the same input."""
    from pyspark.sql import functions as F

    from intelligent_log_analysis_anomaly_detection_tool_spark.checkpoint import (
        completed_buckets,
        run_resumable,
    )
    from intelligent_log_analysis_anomaly_detection_tool_spark.functions.parse_select import (
        parse_stage_pipeline,
    )
    from intelligent_log_analysis_anomaly_detection_tool_spark.operators.aggregates import (
        minute_stats,
    )
    from intelligent_log_analysis_anomaly_detection_tool_spark.plans.pipeline import (
        offline_anomaly_builders,
        online_anomalies,
    )

    sink = CountingSink()
    with tracer.span("layers"):
        with tracer.span("parse") as s:
            # the DAG's parse: narrowed to the columns its branches read
            parsed = parse_stage_pipeline(transcripts).persist()
            s["rows_out"] = parsed.count()
        tracer.find("parse")["malformed_rows"] = parsed.filter(
            F.col("malformed")).count()
        with tracer.span("online") as s:
            online = online_anomalies(parsed).persist()
            s["rows_out"] = online.count()
        for name, build in offline_anomaly_builders(parsed).items():
            with tracer.span(name) as s:
                sink.write(build())
                s["rows_out"] = sink.last_rows()
        with tracer.span("aggregates") as s:
            sink.write(minute_stats(parsed, online))
            s["rows_out"] = sink.last_rows()
        parsed.unpersist()
        online.unpersist()
        # a fresh output directory: run_resumable skips buckets it finds done
        if os.path.exists(out):
            raise RuntimeError(f"output directory {out} is not fresh")
        with tracer.span("checkpoint"):
            run_resumable(spark, transcripts, out, n_buckets=N_BUCKETS)
    done = completed_buckets(out)
    if done != set(range(N_BUCKETS)):
        raise RuntimeError(f"buckets {sorted(done)} of {N_BUCKETS} committed")
    res["output_bytes"] = sum(
        os.path.getsize(os.path.join(r, f))
        for r, _d, fs in os.walk(out) for f in fs)


def docs_ops(spark, spec: dict, res: dict, tracer: Tracer | None) -> None:
    import __spark_entry__ as entry

    qs = entry.queries()
    # the queries read their tables themselves: the input is ready once the
    # session is
    res["ready"] = time.time()
    failed: list[str] = []

    def one_pass() -> dict:
        outputs = {}
        for name in DOCS_QUERIES:
            try:
                with _span(tracer, f"docs.{name}"):
                    outputs[name] = qs[name](spark, spec["data"]).toPandas()
            except Exception as exc:  # one failed query is counted, not fatal
                failed.append(f"{name}: {exc!r}"[:500])
        return outputs

    if tracer is not None:
        with tracer.span("input") as s:
            s["rows_out"] = spark.read.parquet(
                os.path.join(spec["data"], "documents.parquet")).count()
        # an untimed warm-up pass, one query at a time as the timed pass runs
        # them, so that each query's span leaves out the Python worker
        # start-up and code generation a cold pass loads onto it
        t0 = time.time()
        for name in DOCS_QUERIES:
            qs[name](spark, spec["data"]).toPandas()
        res["warmup_s"] = time.time() - t0
    _timed_passes(res, spec, tracer, "docs", one_pass, lambda got: got)
    os.makedirs(spec["out"])
    for name, pdf in res["outputs"].items():
        pdf.to_parquet(os.path.join(spec["out"], f"{name}.parquet"))
    res["outputs"] = {"queries": sorted(res["outputs"])}
    res["failed_queries"] = failed


WORKLOADS = {"synth_dag": synth_dag, "docs_ops": docs_ops}


def main() -> None:
    with open(sys.argv[1]) as fh:
        spec = json.load(fh)
    res: dict = {"spawn": spec["spawn"], "out": spec["out"]}
    from intelligent_log_analysis_anomaly_detection_tool_spark.session import get_spark

    conf = {}
    if spec["trace"]:
        os.makedirs(spec["eventlog"])
        conf = {"spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + spec["eventlog"],
                # one plain JSON-lines file, read back when the job ends
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false"}
    spark = get_spark(
        master=f"local[{spec['cores']}]", app_name=f"perfbench-{spec['workload']}",
        input_path=spec["data"] if spec["workload"] == "synth_dag" else None,
        extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    res["session"] = time.time()
    tracer = Tracer(spark) if spec["trace"] else None
    try:
        WORKLOADS[spec["workload"]](spark, spec, res, tracer)
        _untimed(spec)
        if tracer is not None:
            res["trace_overhead_s"] = tracer.bookkeeping_s + event_log_cpu_s(spark)
    except Exception as exc:
        res["error"] = repr(exc)[:2000]
    finally:
        spark.stop()
    if tracer is not None and "error" not in res:
        events = read_event_log(spec["eventlog"])
        fold(tracer.spans, events)
        dag = tracer.find("dag")
        if dag is not None:
            dag["idle_s"] = idle_s(events, dag["start"], dag["end"])
        res["spans"] = tracer.spans
    with open(sys.argv[2], "w") as fh:
        json.dump(res, fh)
    if "error" in res:
        sys.exit(1)


if __name__ == "__main__":
    main()
