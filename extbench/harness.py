"""One measured run of the extraction benchmark (started by ``run.py``).

The program is driven exactly as ``job.py`` drives it: the session comes
from ``job.build_session`` with the ``--partitions`` default, the pages are
read with ``PAGES_SCHEMA`` and ``run_extraction_job`` runs with the
``JobConfig`` that ``job.py`` builds without flags.  The benchmark adds only
the ``local[N]`` master, scratch paths under its work dir, a driver memory
sized from the host and, in traced mode, an event log.

Untraced mode (``--trace 0``) prints the end-to-end metrics; traced mode
(``--trace 1``) prints the per-layer metrics.  Every timed job's
checkpoint is checked against the ``sources.pages`` oracle after the timed
region, without Spark.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import statistics
import time
from pathlib import Path

import proctree
import tables

ROOT = Path(__file__).resolve().parent.parent

# Workload shapes: ``docs`` unique documents (the ROADMAP's sf0.1 mix has
# 5000), ``reps`` url-unique copies of each, stored in ``files`` parquet
# files; ``committed`` is the share of urls the resume template holds.
# Untraced runs replicate the ROADMAP mix x24 (120k rows), so the kernel,
# not the fixed cost of each Python task, dominates a batch job; x40 (200k)
# would not fit the evaluation's time budget (see README.md).  Traced
# runs, whose metrics carry no bound, use x3 to fit the ladder and the N
# side in one run.
# An untraced run times round(--seconds / job_s) jobs.  The count is fixed
# rather than read off the clock, so a run whose speed of the moment
# changed would not jump between medians of different jobs.
WORKLOADS = {
    "crawl_batch": {"committed": 0.0, "job_s": 16.0},
    "crawl_resume": {"committed": 0.95, "job_s": 8.0},
}
FULL = {"docs": 5000, "reps": 24, "files": 8}
TRACED = {"docs": 5000, "reps": 3, "files": 8}
TINY = {"docs": 480, "reps": 1, "files": 4}


def job_partitions_default() -> int:
    """The ``--partitions`` default of ``job.py``, read from its parser."""
    import job

    seen: dict[str, int] = {}

    def capture(parser, *a, **k):
        seen["partitions"] = parser.get_default("partitions")
        raise SystemExit(0)

    real = argparse.ArgumentParser.parse_args
    argparse.ArgumentParser.parse_args = capture
    try:
        job.main([])
    except SystemExit:
        pass
    finally:
        argparse.ArgumentParser.parse_args = real
    return seen["partitions"]


def driver_memory_mb() -> int:
    """An eighth of the host's memory, between 1 and 2 GiB: the heap then
    stops growing at a size the job needs, which keeps the peak memory
    of one run close to the next."""
    mem = proctree.host_facts()["mem_total_mb"]
    return max(1024, min(2048, mem // 8))


def source_digest() -> str:
    h = hashlib.sha256()
    files = sorted((ROOT / "textextraction_spark").rglob("*.py")) + [ROOT / "job.py"]
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode() + b"\0" + p.read_bytes())
    return h.hexdigest()[:16]


class Bench:
    def __init__(self, args) -> None:
        self.args = args
        self.work = Path(args.work)
        size = TINY if args.tiny else TRACED if args.trace else FULL
        self.shape = {**size, **WORKLOADS[args.workload]}
        self.partitions = job_partitions_default()
        self.spark = None
        self.app_ids: list[str] = []
        self.njob = 0
        # checkpoint of every timed job, for the oracle check
        self.checkpoints: list[Path] = []

    # -- session ---------------------------------------------------------
    def start_spark(self, cores: int, event_log: bool = False) -> None:
        from pyspark import SparkConf, SparkContext

        import job

        conf = (
            SparkConf()
            .setMaster(f"local[{cores}]")
            .set("spark.local.dir", str(self.work / "local"))
            .set("spark.sql.warehouse.dir", str(self.work / "warehouse"))
            .set("spark.driver.memory", f"{driver_memory_mb()}m")
            # no /tmp/hsperfdata_<user> file: the run writes only its work dir
            .set(
                "spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={self.work / 'tmp'} -XX:-UsePerfData",
            )
        )
        if event_log:
            (self.work / "eventlog").mkdir(exist_ok=True)
            conf.set("spark.eventLog.enabled", "true").set(
                "spark.eventLog.dir", (self.work / "eventlog").as_uri()
            ).set("spark.eventLog.compress", "false")
        SparkContext.getOrCreate(conf)
        self.spark = job.build_session("textextraction-job", self.partitions)
        self.spark.sparkContext.setLogLevel("WARN")
        self.app_ids.append(self.spark.sparkContext.applicationId)
        self.java = self.spark.sparkContext._jvm.java.lang.System.getProperty(
            "java.version"
        )

    def stop_spark(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    # -- inputs ----------------------------------------------------------
    def make_inputs(self) -> None:
        s = self.shape
        t = time.perf_counter()
        base = tables.base_pages(
            self.spark, tables.documents(s["docs"]), self.work / "sf", s["files"]
        )
        self.phases["pages_s"] = time.perf_counter() - t
        self.expect = tables.replicate(base, s["reps"], self.args.seed)
        self.rows = self.expect.num_rows
        self.html_mb = self.expect["html"].nbytes / 1e6
        self.paths = tables.write_pages(self.expect, self.work / "pages", s["files"])
        self.template = None
        self.template_rows = 0
        if s["committed"]:
            self.template = self.work / "template"
            self.template_urls = tables.write_template(
                self.expect, s["committed"], self.args.seed, self.template
            )
            self.template_rows = self.template_urls.num_rows

    def fresh_checkpoint(self) -> Path:
        """An empty checkpoint, or a restored copy of the resume template."""
        self.njob += 1
        root = self.work / "ck" / f"job{self.njob:03d}"
        if self.template is not None:
            tables.restore(self.template, root)
        return root

    # -- the measured call -----------------------------------------------
    def read_pages(self, paths=None):
        from textextraction_spark.job.schemas import PAGES_SCHEMA

        return self.spark.read.schema(PAGES_SCHEMA).parquet(*(paths or self.paths))

    def job_config(self, root: Path):
        from textextraction_spark.plans.pipeline import JobConfig

        return JobConfig(
            checkpoint_root=str(root),
            batch_id="batch-0",
            num_partitions=self.partitions,
            diagnose_skew=False,
            dedup_input=False,
            encrypt_phi=False,
        )

    def run_job(self, root: Path, paths=None) -> float:
        """Wall seconds of one ``run_extraction_job``, from reading the
        input to the metrics being written."""
        from textextraction_spark.plans.pipeline import run_extraction_job

        t = time.perf_counter()
        run_extraction_job(self.spark, self.read_pages(paths), self.job_config(root))
        return time.perf_counter() - t

    def timed_jobs(self, n_jobs: int) -> dict:
        """Closed loop of ``n_jobs`` back-to-back jobs; per-job wall times
        and peak PSS, and the tree CPU over the loop."""
        cpu0 = proctree.cpu_by_class()
        times, peaks, loads = [], [], []
        while len(times) < n_jobs:
            root = self.fresh_checkpoint()
            sampler = proctree.Sampler().start()
            times.append(self.run_job(root))
            sampler.stop()
            peaks.append(sampler.peak_pss_mb)
            loads += sampler.loads
            self.checkpoints.append(root)
        cpu1 = proctree.cpu_by_class()
        kdocs = self.rows * len(times) / 1000
        return {
            "times": times,
            "cpu_per_kdoc": {k: (cpu1[k] - cpu0[k]) / kdocs for k in cpu0},
            "peak_pss_mb": peaks,
            "loads": loads,
        }

    # -- modes -----------------------------------------------------------
    def setup(self) -> float:
        """Session, inputs and one full-size warm-up job; returns the
        wall-clock time at which the first timed job may start."""
        t = time.perf_counter()
        self.start_spark(max(1, len(os.sched_getaffinity(0))))
        self.phases = {"boot_s": time.perf_counter() - t}
        t = time.perf_counter()
        self.make_inputs()
        self.phases["inputs_s"] = time.perf_counter() - t
        self.phases["warmup_job_s"] = self.run_job(self.fresh_checkpoint())
        return time.time()

    def untraced(self, setup_s: float) -> tuple[dict, dict]:
        loop = self.timed_jobs(max(1, round(self.args.seconds / self.shape["job_s"])))
        per = [self.rows / t for t in loop["times"]]
        mb = [self.html_mb / t for t in loop["times"]]
        return {
            "docs_per_s": (statistics.median(per), "docs/s"),
            "mb_per_s": (statistics.median(mb), "MB/s"),
            "cpu_s_per_kdoc": (loop["cpu_per_kdoc"]["tree"], "s/kdoc"),
            "peak_rss_mb": (statistics.median(loop["peak_pss_mb"]), "MB"),
            "setup_s": (setup_s, "s"),
        }, loop

    def traced(self) -> tuple[dict, dict]:
        import layers

        return layers.traced(self)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--tiny", action="store_true")
    ap.add_argument("--corrupt-row", action="store_true")
    args = ap.parse_args()

    launched = proctree.process_start_epoch(os.getppid())
    ticks0 = proctree.cpu_ticks()
    bench = Bench(args)
    try:
        ready = bench.setup()
        setup_s = ready - launched
        if args.trace:
            metrics, detail = bench.traced()
        else:
            metrics, detail = bench.untraced(setup_s)
    finally:
        bench.stop_spark()
    if args.corrupt_row:
        corrupt_one_row(bench.checkpoints[0])

    import duckdb
    import pyarrow
    import pyspark

    con = duckdb.connect()
    con.register("expect", bench.expect.select(["url", "expected", "exp_error"]))
    failed = sum(tables.check(con, root, bench.expect) for root in bench.checkpoints)
    # the rows the program extracted; the template's rows are checked
    # only for being committed exactly once
    attempted = (bench.rows - bench.template_rows) * len(bench.checkpoints)
    con.close()

    host = proctree.host_facts()
    host.update(
        steal_share=round(proctree.steal_share(ticks0, proctree.cpu_ticks()), 5),
        load_avg_1m=round(statistics.mean(detail.get("loads") or [0.0]), 3),
        source_digest=source_digest(),
        spark=pyspark.__version__,
        pyarrow=pyarrow.__version__,
        duckdb=duckdb.__version__,
        java=bench.java,
    )
    info = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "host": host,
        "rows": bench.rows,
        "template_rows": bench.template_rows,
        "html_mb": round(bench.html_mb, 3),
        "partitions": bench.partitions,
        "job_s": [round(t, 4) for t in detail.get("times", [])],
        "setup_phases_s": bench.phases,
    }
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    Path(args.out).write_text(json.dumps(info) + "\n" + json.dumps(result) + "\n")
    return 0


def corrupt_one_row(root: Path) -> None:
    """Self-test hook: rewrite one committed row's text in place."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    for f in tables.committed_result_files(root):
        t = pq.read_table(f)
        if t.num_rows:
            text = t["extracted_text"].to_pylist()
            text[0] = (text[0] or "") + " corrupted"
            i = t.schema.get_field_index("extracted_text")
            t = t.set_column(i, "extracted_text", pa.array(text, t.schema.field(i).type))
            os.unlink(f)  # a new file: the template's rows are hard links
            pq.write_table(t, f)
            return


if __name__ == "__main__":
    raise SystemExit(main())
