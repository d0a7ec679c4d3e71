"""Job-level benchmark of the chug_spark extraction job.

Every timed run calls ``chug_spark.job.main`` in-process, exactly as a user
runs the job, with the workload's flags, ``--no-warmup`` and a fresh
``--output``; whichever assembly path the job routes through is the one
measured.  Inputs are generated from ``--seed`` and written to parquet
before any timing starts; every timed run's output is then checked against
the repository's pure-Python oracle (``tests/oracle.py``), outside the
timer.  One process drives ``local[nproc]``.

    python3 perfbench/run.py --workload payload_decode --seed 1 --seconds 6 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 6 --trace 0

Workloads (closed loop: one job at a time, the next starts when the
previous one's output is checked):

- ``passthrough``: real-text span corpus (``synth.spans_from_documents``
  over a seeded sf0.1-shaped documents table), ``--branch passthrough
  --no-checkpoint``.  Scan, ``_prepare``, the policy UDF, passthrough
  assembly and write do all the work; a decode change must read
  "no change" here.
- ``payload_decode``: seeded ``synth.generate_docs``-shaped corpus,
  ``--branch mixed --render-dpi 96 --no-checkpoint``.  Render/hash decode,
  the salted chunk shuffle, persist, reassembly and the error side output
  dominate.

The job's default serial bucketed checkpoint path is not a timed workload:
its fixed cost (about 13 s per call at 8 buckets on 4 cores, whatever the
corpus size) does not fit the benchmark's run budget.  The traced run of
``payload_decode`` times it instead, as the outermost prefix
``write_with_checkpoint(n_buckets=8)`` over the same corpus.

End-to-end metrics (``--trace 0``; tracing off):

- ``docs_per_s``: distinct ``doc_id`` in the written spans ÷ wall of the
  ``job.main`` call; median of the run's timed calls at ``local[nproc]``
  (at least four).  They follow the set-up's warm-up and four untimed
  full-size calls.
- ``setup_s``: the job's imports, the first SparkSession start at
  ``local[nproc]`` and one warm-up ``job.main`` over a 64-document input,
  in this process before it has imported pyspark or chug_spark or started
  a JVM (a child process builds the inputs).  One cold set-up per run: a
  second one would need another fresh process, about 10 s, and the runs
  must fit the benchmark's time budget; restarting the session in this
  process would not be cold.
- ``py_peak_rss_mb``: peak summed RSS of the session's ``pyspark.daemon``
  process tree during the untimed full-size calls at ``local[nproc]``
  (the same work as a timed call; sampling ``/proc`` beside a timed call
  would slow it).
- ``scaling_eff``: ``docs_per_s`` at ``local[nproc]`` ÷ (nproc/q ×
  ``docs_per_s`` at ``local[q]``), q = nproc/4, same input, same run (at
  least two timed calls at ``local[q]``, after the small warm-up).

``failed_frac`` (timed calls that raised or failed the output check ÷
calls) is printed by name; it is the ``failed``/``attempted`` pair of the
result line rather than a metric, because it is 0 on a correct tree.

Per-layer metrics (``--trace 1``), and the end-to-end metric each should
move (workload in brackets):

==============  ===========================================  ==========================
layer           metrics                                      should move
==============  ===========================================  ==========================
scan            scan.rows/bytes/task_s/noop_s                docs_per_s [passthrough]
prepare         prepare.rows, prepare.self_s                 docs_per_s [passthrough]
policy          policy.rows/py_run_s/py_start_s/             docs_per_s [passthrough]
                bytes_to_py/bytes_from_py/self_s
assembly        assembly.self_s                              docs_per_s [passthrough]
chunk_shuffle   chunk_shuffle.records/bytes/write_s/         docs_per_s, scaling_eff
                fetch_wait_s                                 [payload_decode]
decode          decode.pages/py_run_s/py_start_s/            docs_per_s, scaling_eff,
                bytes_to_py/bytes_from_py/task_skew/         py_peak_rss_mb
                renders_per_page                             [payload_decode]
media kernel    media.kernel_ms_per_page, decode.boundary_s  docs_per_s [payload_decode]
persist         persist.bytes                                docs_per_s [payload_decode]
reassembly      reassembly.records/bytes/task_s/spill_bytes  docs_per_s [payload_decode]
write           write.rows/bytes/files/commit_s/sink_s       docs_per_s [passthrough]
readback        readback.self_s (the job's doc count)        docs_per_s [both]
checkpoint      checkpoint.buckets/stage_s/bucket_s/         checkpointed job wall
                lineage_s/jobs/read_amp/self_s               (traced on payload_decode)
engine          driver.jobs/stages/gap_s, executor.run_s/    gap_s: docs_per_s,
                cpu_s/gc_s/util/peak_mem_mb/spill_bytes      scaling_eff; util:
                                                             scaling_eff [both]
trace           trace.overhead_frac, trace.reconcile_frac    --
==============  ===========================================  ==========================

The traced run times nested prefixes of the job from outside, each under
its own job group: scan → noop; + ``_prepare``; + policy; + assembly
(``extract_docread`` → noop); → parquet; then the job's doc-count readback
on its own and, for the payload corpus, ``write_with_checkpoint``.  A
layer's ``self_s`` is its prefix's wall minus the enclosed prefix's.  The
self times telescope: their sum is the outermost prefix (extract →
parquet) plus the readback, so ``trace.reconcile_frac`` (that sum ÷ the
untraced ``job.main`` wall, medians on both sides) bounds only the
outer prefix against ``job.main``, not the split between layers.  A
``trace.reconcile_frac`` more than ``RECONCILE_TOLERANCE`` from 1 counts
as a failed check.
Operator metrics of the job come from Spark's event log of a traced
``job.main`` call (``eventlog.py``).  Layers a workload never runs report
0.  Error and passthrough row counts are fixed by the input once the
output check passes, so they are recorded with the input, not reported
as metrics.  End-to-end numbers come only from untraced sessions.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

WORKLOADS = {
    "passthrough": {
        "corpus": "text", "docs": 20000,
        "flags": ["--branch", "passthrough", "--no-checkpoint"],
    },
    "payload_decode": {
        "corpus": "payload", "docs": 800,
        "flags": ["--branch", "mixed", "--render-dpi", "96", "--no-checkpoint"],
    },
}
# enough for one file per task, so the warm-up spawns every Python worker
WARM_DOCS = 64
# untimed full-size calls before timing: each of the first few is faster
# than the last (JIT), more so than the calls' own spread
WARM_CALLS = 4
DRIVER_MEMORY = "2g"
RECONCILE_TOLERANCE = 0.15
# job.main defaults the workloads keep (the oracle needs them)
PAGE_SAMPLING, SAMPLING_SEED, MAX_PAGES_PER_TASK, RUN_ID, N_BUCKETS = "all_valid", 0, 8, "run0", 8


def flag(flags: list, name: str, default):
    return type(default)(flags[flags.index(name) + 1]) if name in flags else default


# --------------------------------------------------------------------- session


class Bench:
    """One benchmark process: its scratch directory under the checkout, the
    current SparkSession and the workload's inputs."""

    def __init__(self, workload: str, seed: int, work: str | None = None):
        self.workload = workload
        self.wl = WORKLOADS[workload]
        self.seed = seed
        self.cores = len(os.sched_getaffinity(0))
        # the child that builds the inputs writes into its parent's directory
        self.work = work or os.path.join(ROOT, ".perfbench", f"{workload}-{seed}-{os.getpid()}")
        if work is None:
            shutil.rmtree(self.work, ignore_errors=True)
            for d in ("tmp", "local", "out"):
                os.makedirs(os.path.join(self.work, d))
        os.environ["TMPDIR"] = os.path.join(self.work, "tmp")
        # Python workers import chug_spark from this checkout
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
        self.spark = None
        self.n_out = 0

    def path(self, *parts) -> str:
        return os.path.join(self.work, *parts)

    def fresh_out(self) -> str:
        self.n_out += 1
        return self.path("out", str(self.n_out))

    def start(self, cores: int, event_log: str | None = None) -> float:
        """(Re)start the session at ``local[cores]``; returns its start time."""
        from pyspark.sql import SparkSession

        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        b = (
            SparkSession.builder.master(f"local[{cores}]").appName("perfbench")
            .config("spark.driver.memory", DRIVER_MEMORY)
            .config("spark.driver.extraJavaOptions",
                    f"-Djava.io.tmpdir={self.path('tmp')} -XX:-UsePerfData")
            .config("spark.local.dir", self.path("local"))
            .config("spark.sql.warehouse.dir", self.path("warehouse"))
            .config("spark.sql.shuffle.partitions", str(2 * cores))
            .config("spark.sql.execution.arrow.pyspark.enabled", "true")
            .config("spark.sql.maxMetadataStringLength", "1000")
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.eventLog.enabled", "true" if event_log else "false")
        )
        if event_log:
            b = (b.config("spark.eventLog.dir", "file://" + event_log)
                 .config("spark.eventLog.compress", "false")
                 .config("spark.eventLog.logBlockUpdates.enabled", "true"))
        self.spark = b.getOrCreate()
        self.spark.sparkContext.setLogLevel("ERROR")
        return time.perf_counter() - t0

    def stop(self) -> None:
        """Stop the session and the JVM this process launched, and wait for
        it to exit."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None

    def close(self) -> None:
        self.stop()
        shutil.rmtree(self.work, ignore_errors=True)

    # ---------------------------------------------------------------- inputs

    def write_raw_inputs(self) -> None:
        """Seeded inputs that need no Spark: the payload span table, or the
        documents table the passthrough span table is derived from."""
        from perfbench import corpus

        n_files = 2 * self.cores
        if self.wl["corpus"] == "payload":
            corpus.write_payload_documents(self.path("input"), self.wl["docs"], self.seed, n_files)
            corpus.write_payload_documents(self.path("warm"), WARM_DOCS, self.seed + 1, n_files)
        else:
            corpus.write_text_documents(
                self.path("src", "documents.parquet"), self.wl["docs"], self.seed, n_files)
            corpus.write_text_documents(
                self.path("warmsrc", "documents.parquet"), WARM_DOCS, self.seed + 1, n_files)

    def derive_inputs(self) -> None:
        """Passthrough only: materialize the span table with the repository's
        own builder, so the timed job reads plain parquet."""
        if self.wl["corpus"] != "text":
            return
        from chug_spark.synth import spans_from_documents

        spans_from_documents(self.spark, self.path("src")).write.parquet(self.path("input"))
        spans_from_documents(self.spark, self.path("warmsrc")).write.parquet(self.path("warm"))

    def expected(self):
        from perfbench import corpus

        return corpus.Expected(
            corpus.read_span_rows(self.path("input")),
            render_dpi=flag(self.wl["flags"], "--render-dpi", 144),
            page_sampling=PAGE_SAMPLING, seed=SAMPLING_SEED,
            max_pages_per_task=MAX_PAGES_PER_TASK,
        )

    def input_record(self, exp) -> dict:
        return {
            "docs": self.wl["docs"], "docs_out": exp.docs, "span_rows": exp.span_rows,
            "payload_docs": exp.payload_docs, "selected_pages": exp.pages,
            "distinct_pages": exp.distinct_pages,
            "input_bytes": dir_bytes(self.path("input")),
            # fixed by the input once the output check passes
            "policy_error_docs": exp.policy_error_docs,
            "decode_error_docs": exp.decode_error_docs,
            "passthrough_rows": exp.passthrough_rows,
        }

    # ------------------------------------------------------------------ runs

    def job_argv(self, input_path: str, out: str) -> list:
        return ["--input", input_path, "--output", out, "--no-warmup"] + self.wl["flags"]

    def warm(self) -> float:
        """One ``job.main`` call over the small warm-up input; returns its wall."""
        from chug_spark import job

        t0 = time.perf_counter()
        with contextlib.redirect_stdout(io.StringIO()):
            job.main(self.job_argv(self.path("warm"), self.fresh_out()))
        return time.perf_counter() - t0

    def setup(self, cores: int, event_log: str | None = None) -> float:
        """Session (re)start plus warm-up."""
        return self.start(cores, event_log) + self.warm()

    def cold_setup(self) -> float:
        """The job's imports, the first session start at ``local[nproc]`` and
        the warm-up; cold only in a process that has imported neither
        pyspark nor chug_spark."""
        t0 = time.perf_counter()
        import chug_spark.job  # noqa: F401

        self.start(self.cores)
        self.warm()
        return time.perf_counter() - t0

    def build_inputs_in_child(self) -> None:
        """Write this run's inputs from a fresh process: building them imports
        chug_spark and runs Spark jobs, which would warm this one."""
        subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", self.workload,
             "--seed", str(self.seed), "--build-inputs", self.work],
            cwd=ROOT, timeout=170, check=True)

    def build_inputs(self) -> None:
        self.write_raw_inputs()
        if self.wl["corpus"] == "text":
            self.start(self.cores)
            self.derive_inputs()

    def timed_job(self, rss=None):
        """One timed ``job.main`` call on a fresh output; returns (wall, out)."""
        from chug_spark import job

        self.spark.catalog.clearCache()
        out = self.fresh_out()
        ctx = rss if rss is not None else contextlib.nullcontext()
        with contextlib.redirect_stdout(io.StringIO()), ctx:
            t0 = time.perf_counter()
            job.main(self.job_argv(self.path("input"), out))
            wall = time.perf_counter() - t0
        return wall, out

    def check(self, out: str, exp, lineage: bool = False) -> tuple[bool, int, int, str]:
        """Compare one output directory with the oracle, and with
        ``lineage`` its checkpoint table (one ``done`` row per bucket,
        summing to the output); returns (ok, distinct docs, span digest,
        reason)."""
        from pyspark.sql import functions as F

        from perfbench.corpus import table_digest

        spans = table_digest(os.path.join(out, "spans"),
                             ["doc_id", "offset", "kind", "text", "media_ref"])
        errors = table_digest(os.path.join(out, "errors"),
                              ["doc_id", "stage", "error"], distinct=True)
        if (spans[0], spans[1]) != (exp.span_rows, exp.span_sum):
            return False, spans[2], spans[1], (
                f"spans: {spans[0]} rows, digest {spans[1]}; "
                f"oracle {exp.span_rows} rows, digest {exp.span_sum}")
        if (errors[0], errors[1]) != (len(exp.error_set), exp.error_sum):
            return False, spans[2], spans[1], (
                f"errors: {errors[0]} rows; oracle {len(exp.error_set)}")
        if lineage:
            rows = (self.spark.read.parquet(os.path.join(out, "checkpoint"))
                    .filter((F.col("run_id") == RUN_ID) & (F.col("status") == "done"))
                    .select("bucket", "doc_count", "span_count").collect())
            buckets = sorted(r["bucket"] for r in rows)
            if (buckets != list(range(N_BUCKETS))
                    or sum(r["doc_count"] for r in rows) != spans[2]
                    or sum(r["span_count"] for r in rows) != spans[0]):
                return False, spans[2], spans[1], f"lineage rows {buckets} do not sum to the output"
        return True, spans[2], spans[1], ""


def dir_bytes(path: str) -> int:
    """Bytes of the parquet files under ``path`` (what a scan reads)."""
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files if f.endswith(".parquet"))


class PyRss:
    """Peak summed RSS (MB) of the ``pyspark.daemon`` process tree below this
    process, sampled every ``interval`` seconds while the context is open."""

    def __init__(self, interval: float = 0.05):
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = None

    def __enter__(self):
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    def _loop(self):
        while True:
            self.peak_mb = max(self.peak_mb, self.sample())
            if self._stop.wait(self.interval):
                return

    @staticmethod
    def sample() -> float:
        parent = {}
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                with open(f"/proc/{pid}/stat", "rb") as f:
                    stat = f.read()
            except OSError:
                continue
            parent[int(pid)] = int(stat[stat.rindex(b")") + 2:].split()[1])
        me, total_kb = os.getpid(), 0
        for pid in parent:
            p, seen = parent.get(pid), 0
            while p and p != me and seen < 64:
                p, seen = parent.get(p), seen + 1
            if p != me:
                continue
            try:
                with open(f"/proc/{pid}/cmdline", "rb") as f:
                    if b"pyspark.daemon" not in f.read():
                        continue
                with open(f"/proc/{pid}/status", "rb") as f:
                    for line in f:
                        if line.startswith(b"VmRSS:"):
                            total_kb += int(line.split()[1])
                            break
            except OSError:
                continue
        return total_kb / 1024


# ----------------------------------------------------------------------- legs


class Tally:
    """Timed calls attempted and failed (raised, or failed the check)."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def run(self, bench: Bench, exp):
        """One checked timed call; returns (wall, docs, digest) or None."""
        self.attempted += 1
        try:
            wall, out = bench.timed_job()
            ok, docs, digest, why = bench.check(out, exp)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            self.failed += 1
            return None
        finally:
            shutil.rmtree(bench.path("out"), ignore_errors=True)
            os.makedirs(bench.path("out"), exist_ok=True)
        if not ok:
            print(f"output check failed: {why}", file=sys.stderr)
            self.failed += 1
            return None
        return wall, docs, digest


def leg(bench: Bench, exp, tally: Tally, seconds: float, min_calls: int, rss=None,
        warm_calls: int = 0):
    """``warm_calls`` untimed full-size calls (the JIT keeps compiling the
    job's plan for several calls after a small warm-up), sampled by ``rss``
    so that sampling never runs beside a timed call; then timed calls until
    ``seconds`` have passed and ``min_calls`` were made."""
    for _ in range(warm_calls):
        bench.timed_job(rss)
        shutil.rmtree(bench.path("out"), ignore_errors=True)
        os.makedirs(bench.path("out"))
    results, t0 = [], time.perf_counter()
    while len(results) < min_calls or time.perf_counter() - t0 < seconds:
        r = tally.run(bench, exp)
        if r is None and tally.failed >= 3:
            break
        if r is not None:
            results.append(r)
    return results


def run_untraced(bench: Bench, seconds: int):
    cores, quarter = bench.cores, max(1, bench.cores // 4)
    tally, phases, t0 = Tally(), {}, time.perf_counter()

    bench.build_inputs_in_child()
    phases["inputs"] = time.perf_counter() - t0
    setup = bench.cold_setup()
    exp = bench.expected()
    phases["setup"] = time.perf_counter() - t0 - sum(phases.values())

    rss = PyRss()
    full = leg(bench, exp, tally, seconds, 4, rss, warm_calls=WARM_CALLS)
    phases["full"] = time.perf_counter() - t0 - sum(phases.values())
    bench.start(quarter)
    bench.warm()
    part = leg(bench, exp, tally, seconds / 2, 2)
    bench.stop()
    phases["quarter"] = time.perf_counter() - t0 - sum(phases.values())

    if full and part and len({d for _, _, d in full + part}) != 1:
        print("span digests differ between parallelism legs", file=sys.stderr)
        tally.failed += 1
    metrics = {}
    if full and part:
        dps = statistics.median(d / w for w, d, _ in full)
        dps_q = statistics.median(d / w for w, d, _ in part)
        metrics = {
            "docs_per_s": (dps, "1/s"),
            "setup_s": (setup, "s"),
            "py_peak_rss_mb": (rss.peak_mb, "MB"),
            "scaling_eff": (dps / (cores / quarter * dps_q), "ratio"),
        }
    record = {"input": bench.input_record(exp),
              "walls_s": [[w for w, _, _ in full], [w for w, _, _ in part]],
              "phases_s": phases}
    return tally, metrics, record


# --------------------------------------------------------------------- traced


def prefixes(bench: Bench):
    """``([(name, callable)], checkpoint)``: the job's nested prefixes,
    outermost last, then the readback of the last write; and
    ``checkpoint(out)``, the job's default bucketed path."""
    from chug_spark.config import ExtractJobCfg
    from chug_spark.extract import _extract_core, _prepare, extract_docread, flatten_spans
    from chug_spark.sources.documents import read_documents

    spark, flags, src = bench.spark, bench.wl["flags"], bench.path("input")
    cfg = ExtractJobCfg(
        page_sampling=PAGE_SAMPLING, seed=SAMPLING_SEED,
        render_dpi=flag(flags, "--render-dpi", 144),
        max_pages_per_task=MAX_PAGES_PER_TASK, run_id=RUN_ID,
        branch=flag(flags, "--branch", "auto"),
    )

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    def scan():
        noop(read_documents(spark, src))

    def prepare():
        noop(_prepare(read_documents(spark, src), cfg))

    def policy():
        pt_ok, pl_ok, errors, _, _ = _extract_core(spark, read_documents(spark, src), cfg)
        for df in (pt_ok, pl_ok, errors):
            if df is not None:
                noop(df)

    def extract():
        spans, errors = extract_docread(spark, read_documents(spark, src), cfg)
        noop(flatten_spans(spans))
        noop(errors)

    written = []

    def write():
        written.append(bench.fresh_out())
        spans, errors = extract_docread(spark, read_documents(spark, src), cfg)
        flatten_spans(spans).write.mode("overwrite").parquet(written[-1] + "/spans")
        errors.write.mode("overwrite").parquet(written[-1] + "/errors")

    def readback():
        # job.main's doc count over what it wrote (after the job's own timer)
        spark.read.parquet(written[-1] + "/spans").select("doc_id").distinct().count()

    def checkpoint(out):
        from chug_spark.checkpoint import write_with_checkpoint

        write_with_checkpoint(spark, read_documents(spark, src), cfg, out, n_buckets=N_BUCKETS)

    chain = [("scan", scan), ("prepare", prepare), ("policy", policy),
             ("assembly", extract), ("write", write)]
    return chain + [("readback", readback)], checkpoint


def kernel_ms_per_page(exp, render_dpi: int) -> float:
    """Driver-side, single-thread render + hash time over the selected pages."""
    from chug_spark import media

    if not exp.kernel_pages:
        return 0.0
    t0 = time.perf_counter()
    for pseed, page in exp.kernel_pages:
        media.content_ref(media.render_page(pseed, page, image_mode="L",
                                            render_dpi=render_dpi))
    return (time.perf_counter() - t0) * 1e3 / len(exp.kernel_pages)


def run_traced(bench: Bench, seconds: int):
    from perfbench import eventlog

    cores, tally = bench.cores, Tally()
    bench.write_raw_inputs()
    bench.start(cores)
    bench.derive_inputs()
    exp = bench.expected()
    bench.warm()
    untraced = [w for w, _, _ in leg(bench, exp, tally, seconds / 2, 3, warm_calls=2)]

    log_dir = bench.path("eventlog")
    os.makedirs(log_dir)
    bench.setup(cores, event_log=log_dir)
    sc = bench.spark.sparkContext
    sc.setJobGroup("warm", "job.main")
    bench.timed_job()
    traced = []
    for k in range(3):
        sc.setJobGroup(f"main.{k}", "job.main")
        r = tally.run(bench, exp)
        if r is not None:
            traced.append(r[0])
    walls = {}
    steps, checkpoint = prefixes(bench)
    for name, fn in steps:
        for k in range(2):
            bench.spark.catalog.clearCache()
            sc.setJobGroup(f"{name}.{k}", name)
            t0 = time.perf_counter()
            fn()
            walls.setdefault(name, []).append(time.perf_counter() - t0)
    ckpt = bench.wl["corpus"] == "payload"
    if ckpt:
        # once: at 8 buckets its fixed cost is the largest step of the run
        bench.spark.catalog.clearCache()
        sc.setJobGroup("checkpoint", "write_with_checkpoint")
        out = bench.fresh_out()
        t0 = time.perf_counter()
        checkpoint(out)
        ckpt_wall = time.perf_counter() - t0
        tally.attempted += 1
        ok, _, _, why = bench.check(out, exp, lineage=True)
        if not ok:
            print(f"checkpointed output check failed: {why}", file=sys.stderr)
            tally.failed += 1
    sc.setJobGroup("other", "benchmark")
    # untraced calls on both sides of the traced session, so JIT warmth
    # does not favour either
    bench.setup(cores)
    untraced += [w for w, _, _ in leg(bench, exp, tally, seconds / 2, 3, warm_calls=1)]
    bench.stop()
    if len(untraced) < 6 or len(traced) < 3:
        return tally, {}, {}

    log = eventlog.EventLog(eventlog.read_events(eventlog.log_files(log_dir)))
    main = log.group("main.2")
    p = {name: statistics.median(v) for name, v in walls.items()}
    chain = ["scan", "prepare", "policy", "assembly", "write"]
    self_s = {name: p[name] - (p[chain[i - 1]] if i else 0.0)
              for i, name in enumerate(chain)}
    self_s["readback"] = p["readback"]
    untraced_wall = statistics.median(untraced)

    m = {}
    scan = eventlog.scan_metrics(log.group("scan.1"))
    m.update({"scan.rows": scan["rows"], "scan.bytes": scan["bytes"],
              "scan.task_s": scan["task_s"], "scan.noop_s": self_s["scan"],
              "prepare.self_s": self_s["prepare"], "policy.self_s": self_s["policy"],
              "assembly.self_s": self_s["assembly"], "write.sink_s": self_s["write"],
              "readback.self_s": self_s["readback"],
              "checkpoint.self_s": ckpt_wall - p["write"] if ckpt else 0.0})
    ops = eventlog.operator_metrics(main)
    rows_out = ops.pop("decode.rows_out")
    m.update(ops)

    render_dpi = flag(bench.wl["flags"], "--render-dpi", 144)
    kernel = kernel_ms_per_page(exp, render_dpi)
    per_pass = exp.pages + exp.error_chunks
    passes = rows_out / per_pass if per_pass else 0.0
    rendered = passes * exp.pages
    m.update({
        "decode.pages": rendered,
        "decode.renders_per_page": rendered / exp.distinct_pages if exp.distinct_pages else 0.0,
        "decode.boundary_s": m["decode.py_run_s"] - rendered * kernel / 1e3 if rendered else 0.0,
        "media.kernel_ms_per_page": kernel,
    })

    m.update(checkpoint_metrics(log.group("checkpoint"), bench.path("input")) if ckpt
             else dict.fromkeys(CHECKPOINT_METRICS, 0))
    m.update(eventlog.engine_metrics(main, traced[-1], cores))
    m["trace.overhead_frac"] = (statistics.median(traced) - untraced_wall) / untraced_wall
    m["trace.reconcile_frac"] = sum(self_s.values()) / untraced_wall
    if ckpt:
        p["checkpoint"] = ckpt_wall
    record = {"input": bench.input_record(exp), "prefix_walls_s": p,
              "untraced_wall_s": untraced_wall, "traced_wall_s": traced,
              "reconcile_tolerance": RECONCILE_TOLERANCE}
    tally.attempted += 1
    if abs(m["trace.reconcile_frac"] - 1) > RECONCILE_TOLERANCE:
        print(f"layer self times do not reconcile: {m['trace.reconcile_frac']:.3f} "
              f"of the untraced wall (tolerance {RECONCILE_TOLERANCE})", file=sys.stderr)
        tally.failed += 1
    unit = units()
    return tally, {k: (v, unit[k]) for k, v in m.items()}, record


CHECKPOINT_METRICS = ("checkpoint.buckets", "checkpoint.stage_s", "checkpoint.bucket_s",
                      "checkpoint.lineage_s", "checkpoint.jobs", "checkpoint.read_amp")


def checkpoint_metrics(g, input_dir: str) -> dict:
    """Where ``write_with_checkpoint`` spends its wall, by what each SQL
    execution writes: the bucketed input staging, a bucket's spans/errors,
    or lineage (readbacks, which write nothing, and checkpoint appends)."""
    scanned = g.metric("scan", "size of files read",
                       lambda d: input_dir in d or "staged_" in d)
    return {
        "checkpoint.buckets": N_BUCKETS,
        "checkpoint.stage_s": g.exec_wall_s(lambda w: any("staged_" in x for x in w)),
        "checkpoint.bucket_s": g.exec_wall_s(
            lambda w: any(x.endswith(("/spans", "/errors")) for x in w)),
        "checkpoint.lineage_s": g.exec_wall_s(
            lambda w: not w or any(x.endswith("/checkpoint") for x in w)),
        "checkpoint.jobs": len(g.jobs),
        "checkpoint.read_amp": scanned / dir_bytes(input_dir),
    }


def units() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer"] + spec["end_to_end"]}


# ----------------------------------------------------------------------- main


def environment(bench: Bench) -> dict:
    import numpy
    import pyarrow
    import pyspark

    return {"nproc": bench.cores, "driver_memory": DRIVER_MEMORY,
            "spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
            "numpy": numpy.__version__, "python": sys.version.split()[0]}


def run_all(args) -> int:
    """Every workload in its own process; prints one table."""
    totals = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in WORKLOADS:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", name,
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace)],
            stdout=subprocess.PIPE, text=True, cwd=ROOT, timeout=900)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"{name}: exit {proc.returncode}")
            return 1
        for line in lines[:-1]:
            if line.startswith(name + " "):
                print(line)
        res = json.loads(lines[-1])
        totals["correct"] &= res["correct"]
        totals["attempted"] += res["attempted"]
        totals["failed"] += res["failed"]
        for metric, v in res["metrics"].items():
            totals["metrics"][f"{name}.{metric}"] = v
    print(json.dumps(totals))
    return 0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, default=6)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    # internal: write a run's inputs into this directory, from a fresh process
    p.add_argument("--build-inputs", metavar="DIR", help=argparse.SUPPRESS)
    args = p.parse_args(argv)

    for need in ("chug_spark/job.py", "tests/oracle.py", "BENCHMARK.json"):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"not a chug_spark checkout: {need} is missing", file=sys.stderr)
            return 2
    if args.workload == "all":
        return run_all(args)
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tests")]

    if args.build_inputs:
        bench = Bench(args.workload, args.seed, work=args.build_inputs)
        try:
            bench.build_inputs()
        finally:
            bench.stop()
        return 0

    bench = Bench(args.workload, args.seed)
    try:
        if args.trace:
            tally, metrics, record = run_traced(bench, args.seconds)
        else:
            tally, metrics, record = run_untraced(bench, args.seconds)
        record["environment"] = environment(bench)
    finally:
        bench.close()

    record["failed_frac"] = tally.failed / tally.attempted if tally.attempted else 1.0
    print("record " + json.dumps(record))
    print(f"{args.workload} failed_frac {record['failed_frac']:.4f} frac")
    for name, (value, unit) in metrics.items():
        print(f"{args.workload} {name} {value:.6g} {unit}")
    if not metrics:
        return 1
    print(json.dumps({
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
