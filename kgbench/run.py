"""End-to-end benchmark of ``plans.pipeline.run_kg_pipeline``.

Run from the repository root::

    python3 kgbench/run.py --workload rule_html --seed 1 --seconds 1 --trace 0

One process with one local Spark session.  The run writes the workload's
pages table once per (workload, seed) under ``.kgbench/corpus`` (outside
``setup_s``), starts the session and registers the pages, then times
pipeline calls, each into a fresh workdir, until ``--seconds`` have passed;
the first call is the process's first pipeline.  Every call's outputs are
checked (:mod:`kgbench.check`).  ``--trace 0`` reports the end-to-end
metrics; ``--trace 1`` times the calls with bench-side spans and Spark's
event log on, runs the probes and reports the per-layer metrics.  The last
line of stdout is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``; the line before it holds the run's diagnostics.
Everything a run writes stays under ``.kgbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".kgbench")
CORES = 4          # local[k]; capped at nproc below
# Fixed rather than 2 x cores: the extract repartition uses
# max(shuffle partitions, 2 x cores) partitions, and the neural triples
# depend on which pages share an Arrow batch, so a constant keeps the
# pinned outputs valid on any host with up to 4 cores.
SHUFFLE_PARTITIONS = 8
# Program defaults except the extract crash grain: one committed job per
# stage instead of waves of 4 buckets.  At benchmark scale each wave is
# fixed job overhead (~1.3 s warm, more cold) with no work to amortize it.
PIPELINE_KW = {"extract_wave_size": None}

EVENT_LOG_EXCLUDED = tuple(
    f"org.apache.spark.sql.execution.ui.SparkListener{e}"
    for e in ("SQLAdaptiveExecutionUpdate", "SQLExecutionStart"))

E2E_UNITS = {"pipeline_s": "s", "pages_per_s": "1/s",
             "cpu_s_per_kpage": "s", "peak_rss_mb": "MB", "setup_s": "s"}


def isolate_env(run_dir: str) -> None:
    """Keep every file Spark, the JVM and Python write inside the checkout,
    and pin BLAS to one thread before numpy loads (the NLP probe is
    single-threaded; Spark supplies the pipeline's parallelism)."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    # the short-lived JVM spark-submit starts to build the driver command
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}")
    for var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[var] = "1"


def pin_inputs(run_dir: str) -> None:
    """Make the program's inputs independent of the host: the corpus
    builder sees no reference datasets, and the wordpiece vocab is the
    built-in stand-in written to a file inside the checkout."""
    from seq2kg_spark.nlp.wordpiece import default_vocab
    from seq2kg_spark.sources import pages

    pages._REF_ROOT = os.path.join(run_dir, "no-reference-datasets")
    vocab = os.path.join(run_dir, "vocab.txt")
    with open(vocab, "w", encoding="utf-8") as f:
        f.writelines(f"{tok}\n" for tok in default_vocab())
    os.environ["SEQ2KG_BERT_VOCAB"] = vocab


def start_spark(run_dir: str, cores: int, event_log_dir: str | None):
    from seq2kg_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        # the JVM peaks near 2.6 GB RSS on these workloads; a 3 GB heap
        # cap (get_spark defaults to 8g) keeps a shared host's memory safe
        "spark.driver.memory": "3g",
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            # the ledger reads job, stage and task events only; AQE plan
            # updates and SQL plans are most of the log's bytes
            "spark.eventLog.excludedPatterns": ",".join(EVENT_LOG_EXCLUDED),
            "spark.eventLog.includeTaskMetricsAccumulators": "false",
        })
    spark = get_spark("kgbench", cpus=cores,
                      shuffle_partitions=SHUFFLE_PARTITIONS,
                      extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown(spark) -> None:
    """Stop Spark and wait for the JVM and its Python workers to exit."""
    from pyspark import SparkContext

    from kgbench.hostmon import tree_pids

    descendants = tree_pids()[1:]
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline and any(
            os.path.exists(f"/proc/{p}") for p in descendants):
        time.sleep(0.1)


def timed_call(spark, pages, workdir: str, extractor: str) -> dict:
    """One pipeline call with its wall, tree CPU, peak RSS and steal."""
    from seq2kg_spark.plans import pipeline

    from kgbench.hostmon import PeakRss, host_steal_s, tree_cpu_s

    shutil.rmtree(workdir, ignore_errors=True)
    cpu0, steal0 = tree_cpu_s(), host_steal_s()
    with PeakRss() as rss:
        t0 = time.perf_counter()
        result = pipeline.run_kg_pipeline(pages, workdir, extractor=extractor,
                                          **PIPELINE_KW)
        wall = time.perf_counter() - t0
    cpu = tree_cpu_s() - cpu0
    return {"result": result, "wall": wall, "cpu": cpu,
            "peak_rss_mb": rss.peak_mb, "steal": host_steal_s() - steal0}


def layer_targets(tracer):
    """Module attributes of the program timed as spans in a traced call.

    ``similarity_edges`` only builds a lazy plan; the first checkpoint
    inside ``connected_components`` is what materializes the mentions,
    the LSH candidates and the Jaccard verify (plus one large/small-star
    round), so that checkpoint is the ``canonicalize.similarity`` span."""
    from seq2kg_spark.operators import canonicalize as C
    from seq2kg_spark.plans import pipeline

    def checkpoint_name(args, kwargs):
        parent = tracer.current()
        if parent is not None and parent.name == "canonicalize.cc":
            first = not tracer.children(parent)
            return "canonicalize.similarity" if first else \
                "canonicalize.cc_round"
        return "canonicalize.naming"

    return [
        (pipeline, "run_stage_checkpointed",
         lambda a, k: f"lineage.{k['stage']}"),
        (pipeline, "canonicalize", lambda a, k: "canonicalize"),
        (C, "connected_components", lambda a, k: "canonicalize.cc"),
        (C, "_tracked_local_checkpoint", checkpoint_name),
    ]


def median(xs):
    return statistics.median(xs) if xs else 0.0


def layer_metrics(tracer, groups, top, call, cores: int) -> dict:
    """Per-layer metrics of one traced call from its spans and ledger."""
    from kgbench.ledger import combined

    def span(name):
        found = [s for s in tracer.descendants(top) if s.name == name]
        return found[0] if found else None

    def led(s):
        ids = [s.group] + [d.group for d in tracer.descendants(s)]
        return combined(groups, ids)

    def idle(s):
        return s.dur * cores - led(s).run_ms / 1000

    curate, extract, canon = (span("lineage.curate"),
                              span("lineage.extract"), span("canonicalize"))
    cc, sim = span("canonicalize.cc"), span("canonicalize.similarity")
    ext_led = led(extract)
    udf = ext_led.stages_matching("MapInPandas")
    rep = call["result"]
    all_led = led(top)
    return {
        "pipeline.self_s": (tracer.self_time(top), "s"),
        "lineage.curate_s": (curate.dur, "s"),
        "lineage.curate_jobs": (led(curate).jobs, "count"),
        "lineage.curate_core_idle_s": (idle(curate), "s"),
        "lineage.curate_tree_cpu_s": (curate.cpu, "s"),
        "curate.exec_cpu_s": (led(curate).cpu_ns / 1e9, "s"),
        "curate.shuffle_write_mb": (led(curate).shuffle_write_bytes / 2**20,
                                    "MB"),
        "lineage.extract_s": (extract.dur, "s"),
        "lineage.extract_jobs": (ext_led.jobs, "count"),
        "lineage.extract_waves": (rep["extract"]["waves"], "count"),
        "lineage.extract_core_idle_s": (idle(extract), "s"),
        "lineage.extract_tree_cpu_s": (extract.cpu, "s"),
        "extract.exec_cpu_s": (udf.cpu_ns / 1e9, "s"),
        "extract.task_p50_ms": (udf.task_p50_ms(), "ms"),
        "extract.task_max_ms": (udf.task_max_ms(), "ms"),
        "canonicalize.s": (canon.dur, "s"),
        "canonicalize.similarity_s": (sim.dur, "s"),
        "canonicalize.cc_s": (cc.dur - sim.dur, "s"),
        "canonicalize.jobs": (led(canon).jobs, "count"),
        "canonicalize.core_idle_s": (idle(canon), "s"),
        "canonicalize.tree_cpu_s": (canon.cpu, "s"),
        "canonicalize.exec_cpu_s": (led(canon).cpu_ns / 1e9, "s"),
        "canonicalize.spill_mb": (led(canon).spill_disk_bytes / 2**20, "MB"),
        "canonicalize.distinct_mentions": (
            rep["canonical"]["distinct_mentions"], "count"),
        "canonicalize.cc_rounds": (rep["canonical"]["cc_rounds"], "count"),
        "canonicalize.cc_edges": (rep["canonical"]["cc_edges"], "count"),
        "spark.failed_tasks": (all_led.failed_tasks, "count"),
    }


def result_path(workload: str, seed) -> str:
    return os.path.join(STATE, "results", f"{workload}_s{seed}.json")


def untraced_pipeline_s(args) -> float:
    """The untraced ``pipeline_s`` a traced run is compared with, the base
    of ``trace.overhead_frac``.  Page sizes do not depend on the seed
    (:func:`kgbench.workloads.page_rows`), so the base is the median over
    every result an untraced run of the workload saved in this checkout;
    with none saved, a fresh untraced run in a child process."""
    if not glob.glob(result_path(args.workload, "*")):
        cmd = [sys.executable, os.path.abspath(__file__), "--workload",
               args.workload, "--seed", str(args.seed), "--seconds",
               str(args.seconds), "--trace", "0"]
        subprocess.run(cmd, cwd=ROOT, stdout=subprocess.DEVNULL, check=True,
                       timeout=600)
    walls = []
    for path in glob.glob(result_path(args.workload, "*")):
        with open(path, encoding="utf-8") as f:
            walls.append(json.load(f)["metrics"]["pipeline_s"]["value"])
    return statistics.median(walls)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    run_dir = os.path.join(STATE, "runs", str(os.getpid()))
    try:
        return run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def run(args, run_dir: str) -> int:
    isolate_env(run_dir)
    sys.path.insert(0, ROOT)
    try:
        import seq2kg_spark  # noqa: F401
    except ImportError as e:
        print(f"kgbench: cannot import the program ({e}); run from the "
              "root of a repository checkout", file=sys.stderr)
        return 2

    from seq2kg_spark.sources.pages import read_pages

    from kgbench import check
    from kgbench.hostmon import process_age_s, tree_cpu_s
    from kgbench.ledger import read_event_log
    from kgbench.trace import Tracer
    from kgbench.workloads import WORKLOADS, ensure_pages

    if args.workload not in WORKLOADS:
        print(f"kgbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    w = WORKLOADS[args.workload]
    cores = min(CORES, os.cpu_count() or 1)
    pin_inputs(run_dir)
    t = time.perf_counter()
    path = ensure_pages(w, args.seed, os.path.join(STATE, "corpus"))
    gen_s = time.perf_counter() - t
    t = time.perf_counter()
    base_s = untraced_pipeline_s(args) if args.trace else None
    child_s = time.perf_counter() - t
    event_dir = os.path.join(run_dir, "eventlog") if args.trace else None

    pinned = check.load_pinned(os.path.join(HERE, "expected.json"),
                               w.name, args.seed)
    tracer = Tracer(cpu_fn=tree_cpu_s)
    calls, errors = [], []
    spark = None
    try:
        t = time.perf_counter()
        spark = start_spark(run_dir, cores, event_dir)
        session_s = time.perf_counter() - t
        tracer.sc = spark.sparkContext
        pages = read_pages(spark, path)
        n_pages = pages.count()
        # process start → session up and inputs registered, without corpus
        # generation and without the untraced reference child of a trace run
        setup_s = process_age_s() - gen_s - child_s

        first_summary = None
        t_loop = time.perf_counter()
        while not calls or time.perf_counter() - t_loop < args.seconds:
            i = len(calls)
            workdir = os.path.join(run_dir, f"call{i}")
            call = {"ok": False}
            try:
                if args.trace:
                    with tracer.patched(layer_targets(tracer)), \
                            tracer.span("run_kg_pipeline") as top:
                        call.update(timed_call(spark, pages, workdir,
                                               w.extractor))
                    call["span"] = top
                else:
                    call.update(timed_call(spark, pages, workdir, w.extractor))
                paths = call["result"]["paths"]
                summary = check.summarize(spark, paths, workdir)
                errs = check.compare_summary(summary, pinned)
                errs += check.compare_summary(summary, first_summary)
                if first_summary is None:
                    first_summary = summary
                    errs += check.deep_check(spark, paths, w.extractor)
                call["summary"] = summary
                call["ok"] = not errs
                errors += [f"call {i}: {e}" for e in errs]
                if args.trace and call["ok"]:
                    call["probes"] = run_probes(spark, pages, n_pages, call)
            except Exception as e:  # a failed call is counted, not fatal
                errors.append(f"call {i}: {type(e).__name__}: {e}")
            calls.append(call)
            shutil.rmtree(workdir, ignore_errors=True)
        app_id = spark.sparkContext.applicationId
    finally:
        if spark is not None:
            shutdown(spark)

    ok = [c for c in calls if c["ok"]]
    host = {
        "host.steal_s": median([c["steal"] for c in ok]),
        "host.effective_cores": median([c["cpu"] / c["wall"] for c in ok]),
    }
    if not args.trace:
        wall = median([c["wall"] for c in ok])
        values = {
            "pipeline_s": wall,
            "pages_per_s": n_pages / wall if wall else 0.0,
            "cpu_s_per_kpage": median([c["cpu"] for c in ok])
            / (n_pages / 1000),
            "peak_rss_mb": median([c["peak_rss_mb"] for c in ok]),
            "setup_s": setup_s,
        }
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]}
                   for k, v in values.items()}
    elif ok:
        last = ok[-1]
        groups = read_event_log(os.path.join(event_dir, app_id))
        layer = layer_metrics(tracer, groups, last["span"], last, cores)
        layer.update(last["probes"])
        layer["setup.session_s"] = (session_s, "s")
        layer["host.steal_s"] = (host["host.steal_s"], "s")
        layer["host.effective_cores"] = (host["host.effective_cores"],
                                         "cores")
        layer["trace.overhead_frac"] = (
            median([c["wall"] for c in ok]) / base_s - 1, "ratio")
        metrics = {k: {"value": v, "unit": u}
                   for k, (v, u) in sorted(layer.items())}
        out_dir = os.path.join(STATE, "out")
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, f"{w.name}_s{args.seed}_trace.json"),
                  "w") as f:
            json.dump({"spans": [s.as_dict() for s in tracer.spans],
                       "untraced_pipeline_s": base_s, "metrics": metrics},
                      f, indent=1)
    else:
        metrics = {}

    result = {
        "correct": not errors and bool(ok),
        "attempted": len(calls),
        "failed": len(calls) - len(ok),
        "metrics": metrics,
    }
    if not args.trace and result["correct"]:
        os.makedirs(os.path.dirname(result_path(w.name, args.seed)),
                    exist_ok=True)
        with open(result_path(w.name, args.seed), "w") as f:
            json.dump(result, f)
    for e in errors:
        print(f"kgbench: CHECK FAILED {e}", file=sys.stderr)
    print(json.dumps({"workload": w.name, "seed": args.seed,
                      "n_pages": n_pages,
                      "calls_s": [c.get("wall") for c in calls],
                      "corpus_gen_s": gen_s, "session_s": session_s,
                      **host,
                      "outputs": ok[0]["summary"] if ok else None}))
    print(json.dumps(result))
    return 0


def run_probes(spark, pages, n_pages: int, call: dict) -> dict:
    """Per-layer probes after a traced call, outside its spans."""
    from kgbench import check, probes

    paths = call["result"]["paths"]
    return {
        **probes.nlp_probe(check.sample_clean_pages(spark, paths["curated"])),
        **probes.html_decode_probe(pages, n_pages),
        **probes.similarity_probe(spark.read.parquet(paths["triples"])),
        "curate.keep_ratio": (call["summary"]["curated"] / n_pages, "ratio"),
        "extract.triples": (call["summary"]["triples"], "count"),
    }


if __name__ == "__main__":
    sys.exit(main())
