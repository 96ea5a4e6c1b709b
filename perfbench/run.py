"""End-to-end benchmark of the log-analysis engine on ``local[nproc]``.

    python3 perfbench/run.py --workload synth_dag|docs_ops \\
        --seed N --seconds S --trace 0|1

Run from the repository root. A run is one fresh job process
(``perfbench/job.py``: PySpark process + JVM, as a ``spark-submit``), one
client in a closed loop: set-up, then timed passes of the workload, each
started after the previous one ended, until ``S`` seconds have passed (at
least one; a pass of either workload outlasts the 10 s BENCHMARK.json asks
for, so a run makes one). Inputs are drawn
from ``--seed`` and written once under ``.perfbench_work/``; oracle results
are cached beside them. Generation and checks are never timed; oracle
results are built while the job writes its outputs and stops.

With ``--trace 0`` the last stdout line carries the end-to-end metrics the
benchmark bounds:

- ``setup_s``: job process start -> input ready. Both workloads read their
  input lazily (synth_dag as ``jobs/run_pipeline.py`` does, docs_ops in each
  query), so this is the session start.
- ``cpu_s``: median user+system CPU-seconds of the job's process tree in a
  timed pass (Python process, JVM, PySpark daemon and workers).

The detail line printed before it adds, with quartiles and sample counts:
``run_s`` (median wall of the timed passes), ``rows_per_s`` (input rows /
``run_s``), ``failed_frac`` and ``mismatched_outputs`` (0 on a healthy tree;
they also travel as the result's ``failed``/``attempted`` and ``correct``),
the host's idle and steal shares over the job, and ``peak_pss_mb`` (peak of
the tree's summed proportional set size: RSS with each shared page split
among its sharers). The wall metrics are not bounded: on a shared 4-core VM
a few runs in ten land in minutes of host CPU steal, and the spread of
``run_s`` across ten seeds reached 0.38 of its median where ``cpu_s`` stayed
within 0.14. Peak memory follows the JVM's GC timing (spread 0.3-0.4).
Timed passes are cold, as in a ``spark-submit``: docs_ops's first queries
carry the Python workers' start-up. With ``--trace 1`` the job makes one
timed pass traced (docs_ops after an untimed warm-up pass, so each query's
span is its warm cost; ``warmup_s`` on the detail line) and then runs each
layer on its own; the last line carries the per-layer metrics (see
``layers.py``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import proctree  # noqa: E402
from job import DOCS_QUERIES  # noqa: E402

PKG = "intelligent_log_analysis_anomaly_detection_tool_spark"
WORK = ".perfbench_work"
# study knobs that would measure something other than the shipped defaults
OVERRIDES = ("SPARK_GRAFT_PARSE_IMPL", "SPARK_GRAFT_SCAN_WAVES",
             "SPARK_GRAFT_SCAN_FLOOR", "SPARK_GRAFT_MAX_PARTITION_BYTES",
             "SPARK_GRAFT_OPEN_COST_BYTES", "SPARK_DRIVER_MEM")
WORKLOADS = ("synth_dag", "docs_ops")
# the metrics BENCHMARK.json bounds; wall times go to the detail line (above)
UNITS = {"setup_s": "s", "cpu_s": "s"}
# leaves time, within the 180 s a run may take, for input and oracle set-up
JOB_TIMEOUT_S = 160
SAMPLE_EVERY_S = 0.5  # one PSS sample of the tree costs ~20 ms of CPU

# input sizes: the documents and embeddings row counts of the sf0.1 tables.
# The synth size is cut so that a traced run, which adds run_resumable, ends
# within a run's 180 s under host CPU steal: it took 126 s at 30k rows and
# 119 s at 20k. A pass costs ~0.66 CPU-ms per row on top of ~80 CPU-seconds
# of per-job fixed cost on 4 cores (alternating 3k and 30k row runs).
SYNTH_ROWS = 20000
DOCS_N = 5000
EMBED_N = 2000


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def prepare(workload: str, seed: int) -> dict:
    """Seeded input for ``workload``; returns the paths a job and its check
    need."""
    import inputs

    if workload == "synth_dag":
        base = os.path.join(WORK, "inputs", f"synth-s{seed}-r{SYNTH_ROWS}")
        os.makedirs(base, exist_ok=True)
        data = inputs.write_synth_transcripts(seed, SYNTH_ROWS,
                                              os.path.join(base, "transcripts"))
        return {"data": data, "rows": SYNTH_ROWS,
                "oracle": os.path.join(base, "oracle.json")}
    root = os.path.join(WORK, "inputs", f"docs-s{seed}-d{DOCS_N}-e{EMBED_N}")
    inputs.ensure_tables(root, {
        "documents": lambda: inputs.documents_table(seed, DOCS_N),
        "embeddings": lambda: inputs.embeddings_table(seed, EMBED_N),
    })
    return {"data": root, "rows": DOCS_N, "oracle": os.path.join(root, "oracle")}


def _after_timing(spec: dict, proc: subprocess.Popen, work) -> None:
    """Run ``work`` once the job has touched its ``untimed`` file, which it
    does when nothing measured is left; nothing if the job ends first."""
    while not os.path.exists(spec["untimed"]):
        if proc.poll() is not None:
            return
        time.sleep(0.1)
    work()


def run_job(workload: str, paths: dict, cores: int, seconds: float, trace: bool,
            tag: str, after_timing) -> dict:
    """One job process, with its tree's memory sampled until it exits.
    ``after_timing`` runs beside the job once its timed passes are over."""
    jobdir = os.path.abspath(os.path.join(WORK, "jobs", tag))
    os.makedirs(jobdir)
    spec = {"workload": workload, "cores": cores, "seconds": seconds, "trace": trace,
            "data": os.path.abspath(paths["data"]),
            "out": os.path.join(jobdir, "out"),
            "eventlog": os.path.join(jobdir, "eventlog"),
            "untimed": os.path.join(jobdir, "untimed")}
    tmp = os.path.join(jobdir, "tmp")
    os.makedirs(tmp)
    # Spark's shuffle and spill files go under the job's directory, not to
    # the session's /dev/shm default: the benchmark writes only inside its
    # checkout. Local-mode shuffles therefore hit the disk's page cache.
    env = dict(os.environ,
               PYTHONPATH=os.pathsep.join(
                   [os.getcwd()] + [p for p in [os.environ.get("PYTHONPATH")] if p]),
               SPARK_GRAFT_CPUS=str(cores),
               SPARK_GRAFT_LOCAL_DIR=os.path.join(jobdir, "spark-local"),
               SPARK_LOCAL_DIRS=os.path.join(jobdir, "spark-local"),
               TMPDIR=tmp, TZ="UTC",
               JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    spec["spawn"] = time.time()
    with open(os.path.join(jobdir, "spec.json"), "w") as fh:
        json.dump(spec, fh)
    result_path = os.path.join(jobdir, "result.json")
    ticks0 = proctree.host_ticks()
    peak = 0
    with open(os.path.join(jobdir, "job.log"), "w") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "job.py"),
             os.path.join(jobdir, "spec.json"), result_path],
            stdout=log, stderr=subprocess.STDOUT, env=env, start_new_session=True)
        helper = threading.Thread(target=_after_timing,
                                  args=(spec, proc, after_timing))
        helper.start()
        try:
            deadline = time.time() + JOB_TIMEOUT_S
            while proc.poll() is None:
                peak = max(peak, proctree.tree_pss_bytes(proc.pid))
                if time.time() > deadline:
                    raise TimeoutError(f"{workload} job exceeded {JOB_TIMEOUT_S}s")
                time.sleep(SAMPLE_EVERY_S)
        finally:
            # the JVM and its Python workers share the job's process group
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            proc.wait()
            helper.join()
    res = {"error": f"job exited {proc.returncode} without a result"}
    if os.path.exists(result_path):
        with open(result_path) as fh:
            res = json.load(fh)
    res["returncode"] = proc.returncode
    res["peak_pss_bytes"] = peak
    res["host"] = proctree.host_shares(ticks0, proctree.host_ticks())
    res["dir"], res["log"] = jobdir, os.path.join(jobdir, "job.log")
    return res


def build_oracle(workload: str, paths: dict) -> None:
    """Compute and cache the oracle results ``check`` compares with."""
    import checks

    if workload == "synth_dag":
        checks.synth_oracle(paths["data"], paths["oracle"])
        return
    # one DuckDB connection per query, four at a time: jaccard_pairs alone
    # takes about half of the ~23 s the 16 take one by one on 4 cores
    with ThreadPoolExecutor(4) as pool:
        list(pool.map(
            lambda name: checks.docs_oracle(paths["data"], name, paths["oracle"]),
            DOCS_QUERIES))


def check(workload: str, paths: dict, res: dict) -> list[str]:
    """Names of the outputs of one job that disagree with the oracle."""
    import checks

    got = res.get("outputs", {})
    if workload == "synth_dag":
        want = checks.synth_oracle(paths["data"], paths["oracle"])
        return checks.mismatches(got, want, checks.SYNTH_KEYS)
    import pandas as pd

    bad = []
    for name in got.get("queries", []):
        pdf = pd.read_parquet(os.path.join(res["out"], f"{name}.parquet"))
        want = checks.docs_oracle(paths["data"], name, paths["oracle"])
        if not checks.frames_agree(pdf, want):
            bad.append(name)
    return bad


def quartiles(xs: list[float]) -> dict:
    if len(xs) == 1:
        return {"n": 1, "q1": xs[0], "median": xs[0], "q3": xs[0]}
    q = statistics.quantiles(xs, n=4)
    return {"n": len(xs), "q1": q[0], "median": statistics.median(xs), "q3": q[2]}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops its job's process group (run_job's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(PKG, "__init__.py")):
        fail(f"run from the repository root: ./{PKG} is missing")
    set_overrides = [k for k in OVERRIDES if os.environ.get(k)]
    if set_overrides:
        fail(f"refusing to measure with study overrides set: {set_overrides}")
    sys.path.insert(0, os.getcwd())

    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        ram_gb = int(fh.readline().split()[1]) / 2**20
    paths = prepare(args.workload, args.seed)
    run_id = f"{args.workload}-s{args.seed}-{os.getpid()}-{int(time.time())}"

    # a traced job makes one timed pass, so each span name is used once
    job = run_job(args.workload, paths, cores, 0 if args.trace else args.seconds,
                  bool(args.trace), run_id,
                  lambda: build_oracle(args.workload, paths))
    ops = len(DOCS_QUERIES) if args.workload == "docs_ops" else 1
    bad = []
    if "error" in job:
        attempted = failed = ops
    else:
        bad = check(args.workload, paths, job)
        shutil.rmtree(job["dir"])
        # the timed passes only: a failure in a traced warm-up fails the job
        attempted = ops * len(job["walls"])
        failed = len(job.get("failed_queries", []))

    detail = {
        "workload": args.workload, "seed": args.seed, "cores": cores,
        "ram_gb": round(ram_gb, 1), "failed_frac": failed / attempted,
        "mismatched_outputs": len(bad), "mismatches": bad, "host": job["host"],
        "error": job.get("error"), "failed_queries": job.get("failed_queries"),
        "peak_pss_mb": job["peak_pss_bytes"] / 2**20,
        "warmup_s": job.get("warmup_s"),
    }
    if args.workload == "docs_ops":
        detail["seed_note"] = ("tables redrawn from --seed with the shapes of the "
                               "fixed seed-42 tables")
    if "error" in job:
        print(json.dumps(detail))
        fail(f"the job failed; its log is {job['log']}")

    if args.trace:
        import layers

        metrics = layers.per_layer(job)
    else:
        samples = {
            "setup_s": [job["ready"] - job["spawn"]],
            "run_s": job["walls"],
            "rows_per_s": [paths["rows"] / w for w in job["walls"]],
            "cpu_s": job["cpus"],
        }
        detail["samples"] = {k: quartiles(v) for k, v in samples.items()}
        metrics = {k: {"value": statistics.median(samples[k]), "unit": u}
                   for k, u in UNITS.items()}
    print(json.dumps(detail))
    print(json.dumps({"correct": not bad and not failed, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
