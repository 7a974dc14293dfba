"""docling_spark benchmark: one workload per invocation.

Usage, from the repository root::

    python3 perfbench/run.py --workload job_mixed --seed 1 --seconds 30 --trace 0

Workloads (all over the seed's synthetic transcripts, default format mix,
1 in 100 conversations long; ``N_CONVS`` conversations ≈ 41k turns):

- ``job_mixed``: ``jobs.extract_job.run_extract`` reads a parquet copy of
  the corpus and writes a fresh bucketed parquet sink with state and
  metrics sidecar. One operation is one job pass.
- ``extract_mixed``: ``operators.extract_ops.extract_turns`` over the same
  corpus, cached, into a ``noop`` sink. One operation is one pass.

After the loop, the in-process ``jobs.service`` HTTP API
(``serve(spark)``) gets a few convert and chunk requests, checked but not
timed.

Spark runs as ``local[<cores>]`` with the job entry point's settings, all
load coming from this process.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the loop
half untraced and half traced, then the layer probes (the service's
among them), and prints the per-layer metrics; it writes the spans to
``.perfbench/traces/``. The last line of stdout is the result JSON; the
line before it is context (load, canary, pass walls, the dominant
layer). The exit code is 1 when
a correctness check failed, 2 when the program is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

WORKLOADS = ("job_mixed", "extract_mixed")


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", choices=WORKLOADS, required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if args.seed < 0 or args.seconds <= 0:
        p.error("--seed must be >= 0 and --seconds > 0")
    return args


def _prepare_environment(work: Path) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``
    and let Python workers import the program and this package."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    # Spark prefers this variable to spark.local.dir when it is set
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    # every JVM (the spark-submit launcher too) would otherwise keep a
    # performance-counter file under /tmp, whatever java.io.tmpdir says
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        [os.environ.get("JAVA_TOOL_OPTIONS", ""), "-XX:-UsePerfData"]).strip()
    os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    sys.path.insert(0, str(ROOT))


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "docling_spark" / "__init__.py").is_file():
        print(f"docling_spark not found under {ROOT}", file=sys.stderr)
        return 2
    work = ROOT / ".perfbench" / f"work-{args.workload}-{os.getpid()}"
    _prepare_environment(work)
    from perfbench.bench import Bench

    bench = Bench(args, ROOT, work)
    try:
        result, context = bench.run()
    finally:
        bench.close()
        shutil.rmtree(work, ignore_errors=True)
        # the file system is mounted with discard: flush the deletes now,
        # or their trims stall the writes of whatever runs next
        os.sync()
    print(json.dumps({"context": context}))
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
