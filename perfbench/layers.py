"""Per-layer metrics of a traced run, named as in BENCHMARK.json.

Every name is reported on every workload; a layer the workload does not run
reads 0. Each layer is the public function named below, called from the
benchmark, and the end-to-end metric it should move:

- ``session.start_s`` (``get_spark``) -> ``setup_s`` on both workloads.
  ``input.*``: the input read on its own; both workloads read it lazily, so
  in a timed pass it falls in ``run_s``.
- ``parse.*`` (``functions.parse_select.parse_stage_pipeline``) -> ``run_s``
  and ``cpu_s`` on synth_dag, whose JSON and malformed lines it parses.
- ``online.*`` (``plans.pipeline.online_anomalies``: fused spike/statistical,
  burst, rare_ip, parser) -> ``run_s`` and ``cpu_s`` on synth_dag.
- ``frequency.*``, ``pattern.*``, ``timewindow.*``
  (``plans.pipeline.offline_anomaly_builders``) -> ``run_s`` on synth_dag;
  its hot conversation shows in ``pattern.task_skew``.
- ``aggregates.*`` (``operators.aggregates.minute_stats``) -> ``run_s`` on
  synth_dag, by at most its share of the pass.
- ``dag.idle_s`` (no Spark job running) and ``dag.overlap`` (summed job
  walls over the pass wall) (``plans.pipeline.run_concurrent_dag``) ->
  ``run_s`` on synth_dag only.
- ``checkpoint.*`` (``checkpoint.run_resumable``, the job
  ``jobs/run_pipeline.py`` runs, warm, on the same input, 8 buckets) -> no
  end-to-end metric here; ``rework`` is its CPU over the summed parse, online
  and offline CPU, which exposes ``all_anomalies`` computed twice per batch.
- ``docs.<query>.*`` (``__spark_entry__.queries()``: ``operators.dedup``,
  ``similarity``, ``textstats``, ``skew.spread_small_scan``) -> ``run_s`` and
  ``cpu_s`` on docs_ops only; the prediction for synth_dag is no change.
- ``trace.overhead_s``: span bookkeeping wall plus the event-log writer
  thread's CPU, an upper bound on the wall tracing adds.
"""

from __future__ import annotations

from job import DOCS_QUERIES

OFFLINE = ("frequency", "pattern", "timewindow")
# rework's denominator: the layers run_resumable computes, each once
REWORK_BASE = ("parse", "online", *OFFLINE)


def names() -> list[tuple[str, str]]:
    """(metric, unit) for every per-layer metric."""
    out = [("session.start_s", "s"), ("input.wall_s", "s"), ("input.rows", "count")]
    out += [(f"parse.{k}", u) for k, u in (
        ("wall_s", "s"), ("cpu_s", "s"), ("rows_out", "count"),
        ("malformed_rows", "count"), ("task_skew", "ratio"))]
    out += [(f"online.{k}", u) for k, u in (
        ("wall_s", "s"), ("cpu_s", "s"), ("rows_out", "count"),
        ("shuffle_write_mb", "MB"), ("task_skew", "ratio"))]
    for layer in OFFLINE:
        out += [(f"{layer}.{k}", u) for k, u in (
            ("wall_s", "s"), ("cpu_s", "s"), ("rows_out", "count"),
            ("shuffle_write_mb", "MB"), ("spill_mb", "MB"), ("task_skew", "ratio"))]
    out += [(f"aggregates.{k}", u) for k, u in (
        ("wall_s", "s"), ("cpu_s", "s"), ("shuffle_write_mb", "MB"))]
    out += [("dag.idle_s", "s"), ("dag.overlap", "ratio")]
    out += [(f"checkpoint.{k}", u) for k, u in (
        ("wall_s", "s"), ("cpu_s", "s"), ("jobs", "count"), ("output_mb", "MB"),
        ("rework", "ratio"))]
    for q in DOCS_QUERIES:
        out += [(f"docs.{q}.{k}", u) for k, u in (
            ("wall_s", "s"), ("cpu_s", "s"), ("shuffle_write_mb", "MB"))]
    out.append(("trace.overhead_s", "s"))
    return out


def per_layer(traced: dict) -> dict:
    """Metrics from the spans of a traced job."""
    spans = {s["name"]: s for s in traced["spans"]}
    values = {name: 0.0 for name, _ in names()}
    values["session.start_s"] = traced["session"] - traced["spawn"]
    if "input" in spans:
        values["input.rows"] = spans["input"]["rows_out"]
    for name, s in spans.items():
        wall = s["end"] - s["start"]
        for key, v in (("wall_s", wall), ("cpu_s", s["cpu_s"]),
                       ("rows_out", s.get("rows_out")),
                       ("malformed_rows", s.get("malformed_rows")),
                       ("task_skew", s["task_skew"]),
                       ("shuffle_write_mb", s["shuffle_write_mb"]),
                       ("spill_mb", s["spill_mb"]), ("jobs", s["jobs"])):
            if f"{name}.{key}" in values and v is not None:
                values[f"{name}.{key}"] = v
    if "dag" in spans:
        dag = spans["dag"]
        wall = dag["end"] - dag["start"]
        values["dag.idle_s"] = dag["idle_s"]
        # summed job walls over the DAG's wall: how many jobs ran at once
        values["dag.overlap"] = dag["jobs_wall_s"] / wall
    if "checkpoint" in spans:
        values["checkpoint.output_mb"] = traced["output_bytes"] / 1e6
        base = sum(spans[n]["cpu_s"] for n in REWORK_BASE if n in spans)
        if base > 0:
            values["checkpoint.rework"] = spans["checkpoint"]["cpu_s"] / base
    values["trace.overhead_s"] = traced["trace_overhead_s"]
    units = dict(names())
    return {k: {"value": v, "unit": units[k]} for k, v in values.items()}
