"""One benchmark run: set-up, the workload loop, correctness checks, and
for ``--trace 1`` the layer probes."""

from __future__ import annotations

import glob
import os
import shutil
import signal
import statistics
import threading
import time
from pathlib import Path
from statistics import median

from perfbench import corpus, layers
from perfbench.host import LoadContext, RssSampler, descendants
from perfbench.service_load import ServiceLoad, expected_outputs
from perfbench.spans import Tracer, self_time_by_name, tail
from perfbench.statusstore import StatusStore, classify

N_CONVS = 2000  # ≈ 42k turns: a job pass takes a few seconds on 4 cores
CORPUS_FILES_PER_CORE = 2
# extraction tasks per core, for the job's salted repartition and the
# cached corpus: with one task per core a stage lasts as long as its
# slowest core, so one core slowed by a neighbour on the host slows the
# whole pass; smaller tasks let the other cores take up the slack
TASKS_PER_CORE = 4
# set-ups per run, each a fresh session, the corpus and a warm-up pass;
# all in one JVM, so the loop also starts with its compiler warmer
SETUP_REPEATS = 3
MIN_OPS = 3  # passes per loop, whatever --seconds says
SERVICE_SOURCES_PER_TOOL = 16
# service requests the traced run sends one at a time
BURST_REQUESTS = 8
# 1 row in CHECK_SAMPLE_MOD is re-extracted in this process and compared
CHECK_SAMPLE_MOD = 160
FINGERPRINT_COLUMNS = ("conv_id", "turn_idx", "status", "format",
                       "extracted_text")
# the job entry point's session settings (jobs/main.py)
SESSION_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "2000",
    "spark.sql.execution.arrow.maxBytesPerBatch": str(64 * 1024 * 1024),
    "spark.sql.session.timeZone": "UTC",
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
    "spark.driver.memory": "2g",
}
JOB_PHASES = ("bucket_discovery", "extract_write", "readback", "state",
              "sidecar")


def fingerprint(df) -> dict:
    """Status counts and an order-independent hash of
    (conv_id, turn_idx, status, format, extracted_text)."""
    from pyspark.sql import functions as F

    h = F.xxhash64(*FINGERPRINT_COLUMNS).cast("decimal(38,0)")
    rows = df.groupBy("status").agg(F.count("*").alias("n"),
                                    F.sum(h).alias("h")).collect()
    return {"counts": {r["status"]: r["n"] for r in rows},
            "hash": str(sum(r["h"] for r in rows))}


def job_phase(label: str) -> str:
    """``run_extract`` phase of a status-store execution label
    (``<action or write>:<table>``, see ``statusstore.classify``)."""
    kind, table = label.split(":")
    if table == "corpus":
        return "bucket_discovery"
    if table == "out":
        return "extract_write" if kind == "write" else "readback"
    return {"state": "state", "metrics": "sidecar"}.get(table, "other")


def _dir_bytes(pattern: str) -> tuple[int, int]:
    files = glob.glob(pattern, recursive=True)
    return len(files), sum(os.path.getsize(f) for f in files)


class Bench:
    def __init__(self, args, root: Path, work: Path):
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.traced = bool(args.trace)
        self.root = root
        self.work = work
        self.cores = len(os.sched_getaffinity(0))
        self.tracer = Tracer(enabled=False)
        self.corpus_path = str(work / "corpus")
        start, end = corpus.conv_range(self.seed, N_CONVS)
        from docling_spark.sources.transcripts import n_turns_for_conv

        self.convs = (start, end)
        self.n_turns = sum(n_turns_for_conv(c) for c in range(start, end))
        self.sources = corpus.service_sources(start, end,
                                              SERVICE_SOURCES_PER_TOOL)
        self.expected = expected_outputs(self.sources)
        self.spark = None
        self.server = self.service = None
        self.reference: dict | None = None
        self.cached = None
        self.attempted = 0
        self.errors: list[str] = []
        self._next_pass = 0
        self._pending_job_checks: list[tuple[int, int]] = []
        self.rss = RssSampler()
        # status-store times are epoch seconds, spans use perf_counter
        self._clock_offset = time.time() - time.perf_counter()

    # ------------------------------------------------------------ session

    def _start_session(self) -> None:
        from pyspark.sql import SparkSession

        # Spark's scratch space comes from SPARK_LOCAL_DIRS (run.py)
        b = SparkSession.builder.master(f"local[{self.cores}]") \
            .appName("docling-spark-perfbench") \
            .config("spark.driver.extraJavaOptions",
                    f"-Djava.io.tmpdir={self.work / 'tmp'}")
        for k, v in SESSION_CONF.items():
            b = b.config(k, v)
        self.spark = b.getOrCreate()
        self.spark.sparkContext.setLogLevel("ERROR")

    def _stop_service(self) -> None:
        if self.server is not None:
            self.server.shutdown()
            self.server.server_close()
            self._server_thread.join(timeout=30)
            self.service.shutdown()
            self.service._worker.join(timeout=60)
            self.server = self.service = None

    def _stop_session(self) -> None:
        self._stop_service()
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
            self.cached = None

    def close(self) -> None:
        """Stop the service, Spark, the JVM, and wait for every child."""
        from pyspark import SparkContext

        self._stop_session()
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
            if proc is not None:
                proc.stdin.close()  # the gateway exits on stdin EOF
                try:
                    proc.wait(timeout=60)
                except Exception:  # never hang the run on teardown
                    proc.kill()
                    proc.wait(timeout=30)
        left = descendants(os.getpid())
        for pid in left:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + 30
        for pid in left:
            try:
                os.waitpid(pid, 0)
            except ChildProcessError:  # not our child: wait until gone
                while os.path.exists(f"/proc/{pid}") and \
                        time.monotonic() < deadline:
                    time.sleep(0.05)

    # ------------------------------------------------------------ set-up

    def _fail(self, msg: str) -> None:
        self.errors.append(msg)

    def _read_corpus(self):
        from docling_spark.schema import TRANSCRIPTS_SCHEMA

        return self.spark.read.schema(TRANSCRIPTS_SCHEMA) \
            .parquet(self.corpus_path)

    def _cache_corpus(self):
        """The corpus cached in ``TASKS_PER_CORE`` partitions per core of
        equal row counts. A plain scan packs files into splits by bytes,
        and the few 9 MB payloads make those splits hold from 5k to 16k
        rows, so the stage's slowest task would depend on the seed's file
        sizes."""
        df = self._read_corpus().repartition(
            TASKS_PER_CORE * self.cores, "conv_id", "turn_idx").cache()
        df.count()
        return df

    def _write_corpus(self) -> None:
        corpus.write_corpus(self.spark, self.corpus_path, *self.convs,
                            CORPUS_FILES_PER_CORE * self.cores)

    def _start_service(self) -> None:
        from docling_spark.jobs.service import serve

        self.server, self.service = serve(self.spark)
        self._server_thread = threading.Thread(
            target=self.server.serve_forever, daemon=True)
        self._server_thread.start()
        host, port = self.server.server_address
        self.base_url = f"http://{host}:{port}"

    def _start(self) -> float:
        """A fresh session plus the corpus, timed."""
        self._stop_session()
        t0 = time.perf_counter()
        self._start_session()
        self._write_corpus()
        return time.perf_counter() - t0

    def _warm_up(self) -> float:
        """Workload operations on the started session, timed: a job pass,
        or caching the corpus and one extraction pass. They are checked
        like any operation."""
        t0 = time.perf_counter()
        if self.workload == "extract_mixed":
            self.cached = self._cache_corpus()
            self._extract_pass()
        else:
            self._job_pass(None)
        self.attempted += 1
        return time.perf_counter() - t0

    def _set_reference(self) -> None:
        """Status counts and hash of ``extract_turns`` over the corpus:
        what every job pass must write back."""
        from docling_spark.operators.extract_ops import extract_turns

        self.reference = fingerprint(extract_turns(self._read_corpus()))
        n = sum(self.reference["counts"].values())
        if n != self.n_turns:
            self._fail(f"extraction returned {n} rows for {self.n_turns} "
                       "input turns")

    def _service_load(self) -> ServiceLoad:
        return ServiceLoad(self.base_url, self.sources, self.expected,
                           self.tracer)

    # ------------------------------------------------------------ loops

    def _job_pass(self, reports: list | None) -> float:
        from docling_spark.jobs.extract_job import run_extract

        k = self._next_pass
        self._next_pass += 1
        sc = self.spark.sparkContext
        d = self.work / "job" / f"pass{k}"
        group = f"job-pass-{k}"
        sc.setJobGroup(group, group)
        t0 = time.perf_counter()
        with self.tracer.span("bench.job_pass", f"pass{k}"):
            with self.tracer.span("sources.read"):
                src = self._read_corpus()
            with self.tracer.span("jobs.extract_job.run_extract") as sid:
                res = run_extract(self.spark, src, str(d / "out"),
                                  run_id=f"pass{k}",
                                  parallelism=TASKS_PER_CORE * self.cores,
                                  state_path=str(d / "state"),
                                  metrics_path=str(d / "metrics"))
        wall = time.perf_counter() - t0
        sc.setJobGroup("perfbench-checks", "checks")
        self._pending_job_checks.append((k, res["total"]))
        if reports is not None:
            reports.append(self._job_report(group, d, sid, wall))
        return wall

    def _check_job_passes(self) -> None:
        """Each finished job pass: read-back count equals the input turns,
        and its output fingerprint equals the extraction reference. The
        pass's files are deleted once checked. Called between passes,
        outside their timing."""
        for k, total in self._pending_job_checks:
            d = self.work / "job" / f"pass{k}"
            if total != self.n_turns:
                self._fail(f"job pass {k}: read-back {total} rows, "
                           f"input {self.n_turns}")
            elif self.reference is not None:
                fp = fingerprint(self.spark.read.parquet(str(d / "out")))
                if fp != self.reference:
                    self._fail(f"job pass {k}: output {fp} != extraction "
                               f"{self.reference}")
            # deleted while young: ext4 allocates blocks at writeback, ~30 s
            # after the write, and a file deleted before then costs nothing;
            # on a disk mounted with discard a written-back file took
            # ~1.5 ms to delete, ~20 s for the ~10k files of a run
            shutil.rmtree(d, ignore_errors=True)
        if self._pending_job_checks:
            # write the deletes' metadata out before the next pass: without
            # this, single passes now and then ran 40-60% slower
            os.sync()
        self._pending_job_checks = []

    def _job_report(self, group: str, d: Path, parent: int | None,
                    wall: float) -> dict:
        rep = StatusStore(self.spark).group_report(group)
        tables = {"metrics": str(d / "metrics"), "state": str(d / "state"),
                  "out": str(d / "out"), "corpus": self.corpus_path}
        phases = dict.fromkeys(JOB_PHASES, 0.0)
        for ex in rep.executions + rep.loose_jobs:
            phase = job_phase(classify(ex, tables))
            phases[phase] = phases.get(phase, 0.0) + ex.wall_s
            self.tracer.add(f"jobs.extract_job.{phase}",
                            ex.start - self._clock_offset,
                            ex.end - self._clock_offset, parent)
        n_out, out_bytes = _dir_bytes(str(d / "out" / "**" / "*.parquet"))
        _, in_bytes = _dir_bytes(os.path.join(self.corpus_path, "*.parquet"))
        return {"wall_s": wall, "spark_jobs": len(rep.job_ids), **phases,
                "files_written": n_out,
                "bytes_written_per_input_byte": out_bytes / in_bytes,
                "shuffle_write_bytes": rep.shuffle_write_bytes,
                "spill_bytes": rep.spill_bytes,
                "task_max_over_median": rep.task_max_over_median()}

    def _extract_pass(self) -> float:
        from docling_spark.operators.extract_ops import extract_turns

        k = self._next_pass
        self._next_pass += 1
        t0 = time.perf_counter()
        with self.tracer.span("bench.extract_pass", f"pass{k}"):
            with self.tracer.span("operators.extract_ops.extract_turns"):
                extract_turns(self.cached).write.format("noop") \
                    .mode("overwrite").save()
        return time.perf_counter() - t0

    def _batch_loop(self, seconds: float, reports: list | None = None
                    ) -> list[float]:
        walls: list[float] = []
        t0 = time.perf_counter()
        while time.perf_counter() - t0 < seconds or len(walls) < MIN_OPS:
            try:
                wall = (self._job_pass(reports)
                        if self.workload == "job_mixed"
                        else self._extract_pass())
                self._check_job_passes()
            except Exception as exc:  # a failed operation, counted
                self._fail(f"pass: {type(exc).__name__}: {exc}")
                wall = float("nan")
            walls.append(wall)
            self.attempted += 1
        return [w for w in walls if w == w]

    def _service_requests(self, indices) -> tuple[list, int]:
        """A fresh service on the session, sent the requests ``indices``
        one at a time, then stopped: (checked requests, Spark jobs
        started meanwhile)."""
        self._start_service()
        try:
            load = self._service_load()
            jobs0 = self._ungrouped_jobs()
            reqs = [load.one(i) for i in indices]
            jobs = len(self._ungrouped_jobs() - jobs0)
        finally:
            self._stop_service()
        self.attempted += len(reqs)
        for r in reqs:
            if not r.ok:
                self._fail(f"request {r.idx} ({r.kind}): {r.error}")
        return reqs, jobs

    def _ungrouped_jobs(self) -> set[int]:
        """Ids of the Spark jobs without a job group. The service's worker
        thread sets none, and while requests run only the service starts
        jobs, so the new ids are the service's."""
        return set(self.spark.sparkContext.statusTracker()
                   .getJobIdsForGroup(None))

    # ------------------------------------------------------------ checks

    def _sample_check(self) -> None:
        """Rows picked by key hash, extracted by Spark and by the engine
        in this process, must agree."""
        from pyspark.sql import functions as F

        from docling_spark.engine.extract import extract_payload
        from docling_spark.operators.extract_ops import extract_turns

        self.attempted += 1
        src = self._read_corpus().filter(
            F.pmod(F.xxhash64("conv_id", "turn_idx"),
                   F.lit(CHECK_SAMPLE_MOD)) == 0)
        inputs = {(r["conv_id"], r["turn_idx"]): (r["text"], r["tool"])
                  for r in src.select("conv_id", "turn_idx", "text",
                                      "tool").collect()}
        got = extract_turns(src).select(*FINGERPRINT_COLUMNS).collect()
        if len(got) != len(inputs) or not got:
            self._fail(f"sample check: {len(got)} rows for "
                       f"{len(inputs)} inputs")
            return
        for r in got:
            text, tool = inputs[(r["conv_id"], r["turn_idx"])]
            want = extract_payload(text, tool or "")
            if (r["status"], r["format"], r["extracted_text"]) != (
                    want["status"], want["format"], want["extracted_text"]):
                self._fail(f"sample check: {r['conv_id']}/{r['turn_idx']} "
                           "differs from extract_payload")
                return

    def _verify_extract(self) -> None:
        from docling_spark.operators.extract_ops import extract_turns

        self.attempted += 1
        fp = fingerprint(extract_turns(self.cached))
        if fp != self.reference:
            self._fail(f"extraction of the cached corpus {fp} != of the "
                       f"parquet corpus {self.reference}")

    # ------------------------------------------------------------ run

    def run(self) -> tuple[dict, dict]:
        load = LoadContext()
        marks = [("begin", time.perf_counter())]

        def mark(label):
            marks.append((label, time.perf_counter()))

        with self.rss:
            setups = []
            for i in range(1 if self.traced else SETUP_REPEATS):
                start = self._start()
                if i == 0:  # untimed: the first warm-up pass is checked
                    self._set_reference()
                # the last corpus is read by the loop; the earlier ones
                # are deleted before they are written back
                if i == SETUP_REPEATS - 1 or self.traced:
                    corpus.flush(self.corpus_path)
                setups.append((start, self._warm_up()))
                self._check_job_passes()
            mark("setup")
            if self.traced:
                metrics, ctx = self._traced_run()
            else:
                metrics, ctx = self._untraced_run()
            mark("loop")
            self._sample_check()
            if self.workload == "extract_mixed":
                self._verify_extract()
            mark("checks")
            self._stop_session()
            mark("stop")
        ctx.update(load.finish())
        ctx["run_phases_s"] = {b[0]: round(b[1] - a[1], 3)
                               for a, b in zip(marks, marks[1:])}
        ctx.update({"workload": self.workload, "seed": self.seed,
                    "input_turns": self.n_turns, "cores": self.cores,
                    "setup_start_warm_up_s": [[round(a, 4), round(b, 4)]
                                              for a, b in setups],
                    "errors": self.errors[:5]})
        if not self.traced:
            metrics["setup_s"] = (median(a + b for a, b in setups), "s")
            metrics["peak_rss_mb"] = (self.rss.peak_bytes / 2**20, "MB")
        result = {
            "correct": not self.errors,
            "attempted": max(self.attempted, 1),
            "failed": min(len(self.errors), max(self.attempted, 1)),
            "metrics": {k: {"value": float(v), "unit": u}
                        for k, (v, u) in metrics.items()},
        }
        return result, ctx

    def _untraced_run(self) -> tuple[dict, dict]:
        walls = self._batch_loop(self.seconds)
        ctx = {"pass_walls_s": [round(w, 4) for w in walls]}
        t = tail(walls)
        if t is not None:
            ctx["pass_wall_tail"] = {"percentile": round(t[0], 1),
                                     "s": round(t[1], 4)}
        return {"turns_per_s": (self.n_turns / median(walls), "1/s")}, ctx

    # ------------------------------------------------------------ traced

    def _traced_run(self) -> tuple[dict, dict]:
        """Half the loop untraced, half traced (their ratio is the
        tracing overhead), then every layer probe."""
        from docling_spark.schema import TRANSCRIPTS_SCHEMA

        half = self.seconds / 2
        m: dict = {}
        job_reports: list = []
        base = median(self._batch_loop(half))
        self.tracer.enabled = True
        traced = median(self._batch_loop(half, job_reports))
        m["trace.overhead_frac"] = (traced / base - 1.0, "frac")

        reqs, jobs = self._service_requests(range(BURST_REQUESTS))
        if self.workload != "job_mixed":
            self._job_pass(job_reports)
            self.attempted += 1
            self._check_job_passes()

        m["sources.scan_s"] = (layers.scan_s(
            self.spark, self.corpus_path, TRANSCRIPTS_SCHEMA, self.tracer), "s")
        if self.cached is None:
            self.cached = self._cache_corpus()
        xo = layers.extract_ops_layers(self.cached, self.tracer)
        eng = layers.engine_profile(self.corpus_path, self.tracer)
        kernel_wall = eng["kernel_s"] / self.cores
        output_build = xo["stage_s"] - xo["kernel_pass_s"]
        parts = xo["arrow_floor_s"] + kernel_wall + output_build
        unattributed = 1.0 - parts / xo["stage_s"]
        m["extract_ops.stage_s"] = (xo["stage_s"], "s")
        m["extract_ops.arrow_floor_s"] = (xo["arrow_floor_s"], "s")
        m["extract_ops.output_build_s"] = (output_build, "s")
        m["extract_ops.unattributed_frac"] = (unattributed, "frac")
        for k, v in eng.items():
            unit = ("count" if k.endswith(".n") else "B"
                    if k.endswith(".bytes") else "s" if k == "kernel_s"
                    else "us")
            m[f"engine.{k}"] = (v, unit)

        jr = {k: statistics.median(r[k] for r in job_reports)
              for k in job_reports[0]}
        m["extract_job.spark_jobs"] = (jr["spark_jobs"], "count")
        for p in JOB_PHASES:
            m[f"extract_job.{p}_s"] = (jr[p], "s")
        m["extract_job.files_written"] = (jr["files_written"], "count")
        m["extract_job.bytes_written_per_input_byte"] = (
            jr["bytes_written_per_input_byte"], "B/B")
        m["extract_job.shuffle_write_bytes"] = (jr["shuffle_write_bytes"], "B")
        m["extract_job.spill_bytes"] = (jr["spill_bytes"], "B")
        m["extract_job.task_max_over_median"] = (
            jr["task_max_over_median"], "ratio")

        ok = [r for r in reqs if r.ok]
        m["service.submit_ms"] = (1e3 * median([r.submit_s for r in ok]), "ms")
        for kind in ("convert", "chunk"):
            m[f"service.processing_ms.{kind}"] = (1e3 * median(
                [r.processing_s for r in ok if r.kind == kind]), "ms")
        queue_wait = median([r.terminal_s - r.submit_s - r.processing_s
                             for r in ok])
        m["service.queue_wait_ms"] = (1e3 * queue_wait, "ms")
        m["service.polls_per_request"] = (
            statistics.mean(r.polls for r in ok), "count")
        m["service.spark_jobs_per_request"] = (jobs / len(reqs), "count")

        one = layers.one_doc_calls(
            self.spark, next(s for s in self.sources if s["tool"] == "html"),
            self.tracer)
        m["chunker.hybrid_chunks_ms"] = (one["hybrid_chunks_ms"], "ms")
        m["export.items_json_ms"] = (one["items_json_ms"], "ms")

        shares = self._layer_shares(m, jr, xo, kernel_wall, output_build)
        ctx = {
            "dominant_layer": max(shares, key=shares.get),
            "layer_shares_s": {k: round(v, 4) for k, v in shares.items()},
            "extract_ops_reconciled": abs(unattributed) <= 0.10,
            "extract_ops_parts_s": {
                "arrow_floor": round(xo["arrow_floor_s"], 4),
                "engine_kernel_per_core": round(kernel_wall, 4),
                "output_build": round(output_build, 4),
                "stage": round(xo["stage_s"], 4)},
            "span_self_s": {k: round(v, 4) for k, v in
                            self_time_by_name(self.tracer.spans).items()},
        }
        out = self.root / ".perfbench" / "traces"
        out.mkdir(parents=True, exist_ok=True)
        path = out / f"{self.workload}-seed{self.seed}.json"
        self.tracer.dump(str(path), {"context": ctx})
        ctx["trace_file"] = str(path.relative_to(self.root))
        return m, ctx

    def _layer_shares(self, m, jr, xo, kernel_wall, output_build) -> dict:
        """Seconds of one operation of this workload, by layer."""
        if self.workload == "extract_mixed":
            return {"operators.extract_ops.arrow_in": xo["arrow_floor_s"],
                    "engine": kernel_wall,
                    "operators.extract_ops.output_build": output_build}
        scan = m["sources.scan_s"][0]
        shares = {"sources": scan,
                  "operators.extract_ops+engine": xo["stage_s"],
                  "jobs.extract_job.write": max(
                      jr["extract_write"] - xo["stage_s"] - scan, 0.0),
                  "jobs.extract_job.driver": max(
                      jr["wall_s"] - sum(jr[p] for p in JOB_PHASES), 0.0)}
        for p in ("bucket_discovery", "readback", "state", "sidecar"):
            shares[f"jobs.extract_job.{p}"] = jr[p]
        return shares
