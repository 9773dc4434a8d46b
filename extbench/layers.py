"""Traced mode: per-layer metrics, each timed around a public call made here.

Nothing is recorded inside the program.  Three cuts:

* the Spark ladder: cumulative plans over the workload's table, each rung
  adding one public call to the previous rung and forced by a ``noop``
  write; a rung's self time is its cumulative time minus the previous
  rung's.  ``plans.pipeline.metrics_s`` is timed on its own, and the
  full ``run_extraction_job`` is timed apart from the ladder, so the two
  can be compared;
* Spark task metrics of one full job, from the event log of a context of
  its own; that job's time over a reference job's, in a context without
  the event log, is the tracing overhead.  Process-tree CPU by class and
  the N-core side of the scaling ratio come from contexts without it;
* the kernel: one process over the stored table's own html bytes, timing
  each ``core`` call of ``extract_document``'s path separately, plus a
  bare process pool over the same bytes as the ceiling.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time
from pathlib import Path

import pyarrow.parquet as pq

RUNGS = (
    "spark.scan_s",
    "io.checkpoint.pending_s",
    "plans.skew.repartition_s",
    "job.extract.arrow_s",
    "job.extract.kernel_s",
    "io.checkpoint.write_batch_s",
)
TRACED_GROUP = "extbench-traced-job"
KERNEL_DOCS = 4096  # rows of the stored table the kernel layers run over
PLAIN_JOBS = 1  # jobs without the event log a traced run times as its reference
# io.checkpoint.join_strategy codes (a metric value must be a number)
JOIN_CODES = {"none": 1, "broadcast": 2, "shuffle": 3}


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def join_strategy(df) -> str:
    """How the resume anti-join is planned, from the physical plan:
    ``none`` when the optimizer removed it (nothing committed yet)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]  # adaptive plans print both
    if "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan:
        return "broadcast"
    if "SortMergeJoin" in plan or "ShuffledHashJoin" in plan:
        return "shuffle"
    return "none"


def ladder(bench) -> tuple[dict, dict]:
    """Self times of the cumulative rungs, and of the metrics step."""
    from pyspark.sql import functions as F

    from textextraction_spark.io.checkpoint import CheckpointCatalog
    from textextraction_spark.job.extract import extract_pages
    from textextraction_spark.plans.pipeline import run_extraction_job
    from textextraction_spark.plans.skew import salted_repartition

    spark = bench.spark
    root = bench.fresh_checkpoint()
    cfg = bench.job_config(root)
    # the batch sizes run_extraction_job sets before it plans anything
    arrow = "spark.sql.execution.arrow"
    spark.conf.set(f"{arrow}.maxRecordsPerBatch", str(cfg.arrow_max_records))
    spark.conf.set(f"{arrow}.maxBytesPerBatch", str(cfg.arrow_max_bytes))
    catalog = CheckpointCatalog(str(root))
    pages = bench.read_pages().select("url", "warc_ts", "html")
    pending = catalog.pending(pages, spark)
    dist = salted_repartition(pending, bench.partitions)
    # a lambda pickles by value: the workers cannot import this module
    ident = dist.mapInArrow(lambda batches: batches, schema=dist.schema)
    extracted = extract_pages(dist).select(
        "*",
        F.spark_partition_id().alias("part_id"),
        F.lit(cfg.batch_id).alias("batch_id"),
    )
    steps = (
        lambda: _noop(pages),
        lambda: _noop(pending),
        lambda: _noop(dist),
        lambda: _noop(ident),
        lambda: _noop(extracted),
        lambda: catalog.write_batch(extracted, cfg.batch_id),
    )
    cum = []
    for step in steps:
        t = time.perf_counter()
        step()
        cum.append(time.perf_counter() - t)
    # The batch is now committed without metrics, so run_extraction_job
    # on this checkpoint runs only its metrics step.
    t = time.perf_counter()
    run_extraction_job(spark, bench.read_pages(), cfg)
    metrics_s = time.perf_counter() - t
    bench.checkpoints.append(root)
    # counting through the frame's own query execution lets adaptive
    # execution settle its final plan, which join_strategy then reads
    qe = pending._jdf.queryExecution()
    counts = {
        "io.checkpoint.pending_rows": (qe.toRdd().count(), "count"),
        "io.checkpoint.join_strategy": (JOIN_CODES[join_strategy(pending)], "code"),
    }

    # signed: a layer whose cost is below the run-to-run noise of the
    # rungs around it can read slightly negative
    out = {}
    prev = 0.0
    for name, c in zip(RUNGS, cum):
        out[name] = (c - prev, "s")
        prev = c
    out["plans.pipeline.metrics_s"] = (metrics_s, "s")
    out.update(counts)
    return out, {"ladder_cum_s": cum + [cum[-1] + metrics_s]}


def traced_job(bench) -> float:
    """One full ``run_extraction_job`` in ``TRACED_GROUP``, whose tasks
    the event log metrics are read from."""
    root = bench.fresh_checkpoint()
    sc = bench.spark.sparkContext
    sc.setJobGroup(TRACED_GROUP, "traced run_extraction_job")
    try:
        full = bench.run_job(root)
    finally:
        sc.setJobGroup("", "")
    bench.checkpoints.append(root)
    return full


def event_log_lines(log_dir: Path, app_id: str):
    """Events of one application, from Spark 4's rolling layout
    (``eventlog_v2_<app>/events_<n>_<app>``, uncompressed JSON lines)."""
    rolled = log_dir / f"eventlog_v2_{app_id}"
    files = sorted(rolled.glob("events_*"), key=lambda p: int(p.name.split("_")[1]))
    for path in files:
        with open(path) as f:
            yield from f


def event_log_metrics(lines) -> dict:
    """Task metrics of the jobs in ``TRACED_GROUP``."""
    stages: set[int] = set()
    tasks: list[tuple[int, dict]] = []
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            if props.get("spark.jobGroup.id") == TRACED_GROUP:
                stages.update(ev["Stage IDs"])
        elif kind == "SparkListenerTaskEnd" and ev.get("Task Metrics"):
            tasks.append((ev["Stage ID"], ev["Task Metrics"]))
    mine = [(s, m) for s, m in tasks if s in stages]
    run_by_stage: dict[int, list[float]] = {}
    for s, m in mine:
        run_by_stage.setdefault(s, []).append(m["Executor Run Time"] / 1000)
    kernel = max(run_by_stage.values(), key=sum)  # the stage that ran longest
    return {
        "spark.shuffle_write_mb": (
            sum(m["Shuffle Write Metrics"]["Shuffle Bytes Written"] for _, m in mine) / 1e6,
            "MB",
        ),
        "spark.spill_mb": (sum(m["Disk Bytes Spilled"] for _, m in mine) / 1e6, "MB"),
        "spark.gc_s": (sum(m["JVM GC Time"] for _, m in mine) / 1000, "s"),
        "spark.executor_run_s": (sum(sum(v) for v in run_by_stage.values()), "s"),
        "spark.kernel_task_skew": (max(kernel) / statistics.median(kernel), "ratio"),
    }


def restart(bench, cores: int, event_log: bool = False) -> None:
    """A new context at ``local[cores]`` in the same warm JVM; a small
    job with one task per core first starts the context's Python workers."""
    from textextraction_spark.job.extract import extract_pages

    bench.stop_spark()
    bench.start_spark(cores, event_log)
    _noop(extract_pages(bench.read_pages(bench.paths[:1]).limit(64).repartition(cores)))


def n_side(bench, cores: int) -> dict:
    """One job at ``local[cores]`` over the whole table.  A slice would
    not do: the job's per-partition cost does not shrink with the rows."""
    import proctree

    restart(bench, cores)
    root = bench.fresh_checkpoint()
    cpu0 = proctree.cpu_by_class()["tree"]
    dt = bench.run_job(root)
    cpu1 = proctree.cpu_by_class()["tree"]
    bench.checkpoints.append(root)
    return {"job_s": dt, "cpu_per_doc": (cpu1 - cpu0) / bench.rows}


# -- kernel ----------------------------------------------------------------


def kernel_layers(html: list[bytes]) -> dict:
    """Self time of each kernel call on ``extract_document``'s path, and
    the counts of what the documents took."""
    from textextraction_spark.core.boilerplate import doc_from_blocks
    from textextraction_spark.core.dom import parse_blocks
    from textextraction_spark.core.extract import normalize_bytes
    from textextraction_spark.core.pdfblocks import NoTextLayerError, is_pdf, parse_pdf
    from textextraction_spark.core.spans import extract_spans

    ns = {"normalize": 0, "dom": 0, "boiler": 0, "pdf": 0, "spans": 0}
    n = {"pdf": 0, "transcoded": 0, "spans": 0, "no_text": 0, "errors": 0}
    clock = time.perf_counter_ns
    for data in html:
        t0 = clock()
        try:
            b = normalize_bytes(data)
            t1 = clock()
            ns["normalize"] += t1 - t0
            n["transcoded"] += b != data
            if is_pdf(b):
                n["pdf"] += 1
                doc = parse_pdf(b)
                t2 = clock()
                ns["pdf"] += t2 - t1
            else:
                blocks = parse_blocks(b)
                tb = clock()
                ns["dom"] += tb - t1
                doc = doc_from_blocks(blocks)
                t2 = clock()
                ns["boiler"] += t2 - tb
            n["spans"] += len(extract_spans(doc))
            ns["spans"] += clock() - t2
        except NoTextLayerError:
            ns["pdf"] += clock() - t1
            n["no_text"] += 1
        except Exception:
            n["errors"] += 1
    return {
        "core.extract.normalize_s": (ns["normalize"] / 1e9, "s"),
        "core.dom.parse_blocks_s": (ns["dom"] / 1e9, "s"),
        "core.boilerplate.doc_from_blocks_s": (ns["boiler"] / 1e9, "s"),
        "core.pdfblocks.parse_pdf_s": (ns["pdf"] / 1e9, "s"),
        "core.spans.extract_spans_s": (ns["spans"] / 1e9, "s"),
        "kernel.docs": (len(html), "count"),
        "kernel.pdf_docs": (n["pdf"], "count"),
        "kernel.transcoded_docs": (n["transcoded"], "count"),
        "kernel.spans": (n["spans"], "count"),
        "kernel.no_text_layer": (n["no_text"], "count"),
        "kernel.errors": (n["errors"], "count"),
    }


def kernel(bench) -> dict:
    """Kernel layers, the 1-core and pool ceilings, and the Arrow build
    cost, over the first ``KERNEL_DOCS`` rows of the stored table."""
    import textextraction_spark.job.extract as jx

    table = _kernel_table(bench.paths)
    html = table["html"].to_pylist()
    out = kernel_layers(html)
    t = time.perf_counter()
    results = [jx.extract_document(data) for data in html]
    one_core = time.perf_counter() - t
    for r in results:
        r.doc = None
    # extract_batch_arrow with its extract_document calls replayed from
    # the results above: what remains is the batch's Arrow in/out cost
    replay = iter(results)
    real = jx.extract_document
    jx.extract_document = lambda *a, **k: next(replay)
    try:
        t = time.perf_counter()
        for _ in jx.extract_batch_arrow(iter(table.to_batches(max_chunksize=8192))):
            pass
        arrow_build = time.perf_counter() - t
    finally:
        jx.extract_document = real
    out["job.extract.arrow_build_s"] = (arrow_build, "s")
    out["kernel.docs_per_s_1core"] = (len(html) / one_core, "docs/s")
    out["kernel.docs_per_s_mp"] = (len(html) / pool_seconds(bench.paths), "docs/s")
    return out


def pool_seconds(paths: list[str]) -> float:
    """Wall seconds for nproc processes to run ``extract_document`` over
    an equal share each of the same ``KERNEL_DOCS`` rows.  Plain child
    processes started on a stdin line (no multiprocessing semaphores in
    /dev/shm); each imports the kernel and loads its share first."""
    nproc = len(os.sched_getaffinity(0))
    procs = [
        subprocess.Popen(
            [sys.executable, __file__, str(i), str(nproc), *paths],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )
        for i in range(nproc)
    ]
    try:
        for p in procs:
            if p.stdout.readline().strip() != "ready":
                raise RuntimeError("kernel pool process failed to start")
        t = time.perf_counter()
        for p in procs:
            p.stdin.write("go\n")
            p.stdin.flush()
        for p in procs:
            if p.stdout.readline().strip() != "done":
                raise RuntimeError("kernel pool process failed")
        return time.perf_counter() - t
    finally:
        for p in procs:
            p.kill()
            p.wait()


def _pool_member(share: int, of: int, paths: list[str]) -> None:
    from textextraction_spark.core.extract import extract_document

    html = _kernel_table(paths)["html"].to_pylist()[share::of]
    print("ready", flush=True)
    sys.stdin.readline()
    for data in html:
        extract_document(data)
    print("done", flush=True)


def _kernel_table(paths: list[str]):
    """The first ``KERNEL_DOCS`` rows of the stored table, in stored order."""
    import pyarrow as pa

    return pa.concat_tables(
        pq.read_table(p, columns=["url", "warc_ts", "html"]) for p in paths
    ).slice(0, KERNEL_DOCS)


# -- the traced run --------------------------------------------------------


def traced(bench) -> tuple[dict, dict]:
    """The ladder runs in the set-up context, then the reference job, the
    traced job and the N side each in a new context; only the traced
    job's context writes the event log."""
    nproc = len(os.sched_getaffinity(0))
    lad, detail = ladder(bench)
    # the full job again, as warm as the rungs, to set them against
    root = bench.fresh_checkpoint()
    lad["plans.pipeline.run_extraction_job_s"] = (bench.run_job(root), "s")
    bench.checkpoints.append(root)
    # The reference and the traced job each run first in a fresh context
    # of the warmed JVM, so that only the event log tells them apart.
    restart(bench, nproc)
    plain = bench.timed_jobs(PLAIN_JOBS)
    docs_per_s = statistics.median(bench.rows / t for t in plain["times"])
    metrics = {
        "jvm.cpu_s_per_kdoc": (plain["cpu_per_kdoc"]["jvm"], "s/kdoc"),
        "pyworker.cpu_s_per_kdoc": (plain["cpu_per_kdoc"]["pyworker"], "s/kdoc"),
    }
    metrics.update(lad)
    restart(bench, nproc, event_log=True)
    traced_app = bench.app_ids[-1]
    traced_s = traced_job(bench)
    metrics["trace.overhead"] = (traced_s / statistics.median(plain["times"]), "ratio")
    n_cores = max(1, nproc // 4)
    n = n_side(bench, n_cores)
    metrics["scaling_eff_1to4"] = (
        docs_per_s / (nproc / n_cores * bench.rows / n["job_s"]),
        "ratio",
    )
    metrics["cpu_inflation_1to4"] = (
        plain["cpu_per_kdoc"]["tree"] / 1000 / n["cpu_per_doc"],
        "ratio",
    )
    bench.stop_spark()
    metrics.update(
        event_log_metrics(event_log_lines(bench.work / "eventlog", traced_app))
    )
    kern = kernel(bench)
    metrics.update(kern)
    metrics["pipeline_over_kernel"] = (
        docs_per_s / kern["kernel.docs_per_s_mp"][0],
        "ratio",
    )
    detail.update(
        times=plain["times"], loads=plain["loads"], traced_job_s=traced_s, n_side=n
    )
    return metrics, detail


if __name__ == "__main__":
    _pool_member(int(sys.argv[1]), int(sys.argv[2]), sys.argv[3:])
