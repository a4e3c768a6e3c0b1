"""Profile the driver JVM over steady-state pipeline runs with JDK Flight
Recorder and print where its CPU samples go.

Usage::

    python tools/jfr_profile.py [--spec yt-short] [--warm 4] [--runs 8] [--jfr out.jfr]

Runs a perfbench spec (``perfbench/specs``, with the fixed request and mock
OpenAI of :mod:`tools.dump_stages`) ``--warm`` times unrecorded, then
``--runs`` times under a recording started and stopped with ``jcmd``
(``settings=profile``: one Java execution sample per running thread every
10 ms), and reads the recording's ``jdk.ExecutionSample`` events with
``jfr print``. Only the JDK's ``jcmd`` and ``jfr`` are used.

Every sample lands in exactly one bucket: the first of :data:`BUCKETS`
with a frame anywhere in the sample's stack, else ``other``. The order
puts the fixed-cost machinery before what calls it: a Hadoop
``Configuration`` copy inside a write task counts as Hadoop conf, not as
Parquet write or executor task. A second table groups the samples by
thread name with the numbers masked. A third counts the py4j commands the
Python driver sends to the JVM during the recorded runs (:class:`Py4jTally`),
per run by kind and the most frequent reflection targets by name: each
command is one round trip.
"""

from __future__ import annotations

import argparse
import collections
import os
import re
import subprocess
import sys
import tempfile
import threading
import time
import uuid

from py4j import protocol

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

#: (bucket, frame substrings): a frame is ``<class>.<method>``
BUCKETS: tuple[tuple[str, tuple[str, ...]], ...] = (
    ("hadoop conf", ("org.apache.hadoop.conf.Configuration", "SerializableConfiguration",
                     "newHadoopConf")),
    ("parquet write", ("datasources.FileFormatWriter", "datasources.FileFormatDataWriter",
                       "ParquetOutputWriter", "ParquetWriteSupport",
                       "org.apache.parquet.hadoop.ParquetFileWriter",
                       "org.apache.parquet.hadoop.InternalParquetRecordWriter")),
    ("commit", ("OutputCommitter", "CommitProtocol", "SparkHadoopWriter")),
    ("parquet read", ("org.apache.parquet.", "datasources.parquet.", "FileScanRDD")),
    ("hadoop fs (list, copy, rename)", ("org.apache.hadoop.fs.", "InMemoryFileIndex",
                                        "PartitioningAwareFileIndex", "HadoopFSUtils")),
    ("arrow", ("org.apache.arrow.", "sql.execution.arrow.", "sql.util.ArrowUtils")),
    ("python runner", ("org.apache.spark.api.python.", "sql.execution.python.")),
    ("codegen", ("org.codehaus.", "expressions.codegen.")),
    ("analyzer", ("catalyst.analysis.",)),
    ("optimizer", ("catalyst.optimizer.",)),
    ("planner", ("catalyst.planning.", "execution.SparkStrategies", "execution.SparkPlanner",
                 "exchange.EnsureRequirements", "QueryExecution$.prepareForExecution",
                 "AdaptiveSparkPlanExec.reOptimize", "AdaptiveSparkPlanExec.newQueryStage")),
    ("serialization", ("JavaSerializer", "KryoSerializer", "ClosureCleaner",
                       "java.io.ObjectOutputStream", "java.io.ObjectInputStream")),
    ("scheduler", ("org.apache.spark.scheduler.",)),
    ("class loading", ("java.lang.ClassLoader", "URLClassPath", "java.util.zip.",
                       "java.util.jar.")),
    ("py4j", ("py4j.",)),
    ("executor task", ("org.apache.spark.executor.",)),
)

_FRAME = re.compile(r"^\s+([\w.$<>/]+)\(")
_THREAD = re.compile(r'^\s+sampledThread = "(.*)" \(javaThreadId')


def bucket_of(frames: list[str]) -> str:
    for name, needles in BUCKETS:
        if any(n in f for f in frames for n in needles):
            return name
    return "other"


def read_samples(jfr_file: str, stack_depth: int = 128):
    """``(thread name, frames top first)`` of every execution sample."""
    proc = subprocess.Popen(
        ["jfr", "print", "--events", "jdk.ExecutionSample", "--stack-depth", str(stack_depth),
         jfr_file],
        stdout=subprocess.PIPE,
        text=True,
    )
    thread, frames = None, []
    for line in proc.stdout:
        if line.startswith("jdk.ExecutionSample"):
            thread, frames = None, []
        elif (m := _THREAD.match(line)) is not None:
            thread = m.group(1)
        elif (m := _FRAME.match(line)) is not None:
            frames.append(m.group(1))
        elif line.startswith("}"):
            yield thread or "?", frames
    if proc.wait() != 0:
        raise RuntimeError(f"jfr print {jfr_file} failed ({proc.returncode})")


def table(
    counts: collections.Counter,
    title: str,
    top: int | None = None,
    unit: str = "samples",
    runs: int = 1,
) -> str:
    """``counts`` largest first, each divided by ``runs``, with its share."""
    total = sum(counts.values())
    width = max([40, len(title)] + [len(k) for k, _ in counts.most_common(top)])
    digits = 0 if runs == 1 else 1
    rows = [f"{title:<{width}} {unit:>8} {'share':>7}"]
    for name, n in counts.most_common(top):
        rows.append(
            f"{name:<{width}} {n / runs:>8.{digits}f} {100.0 * n / max(1, total):>6.1f}%"
        )
    rows.append(f"{'total':<{width}} {total / runs:>8.{digits}f}")
    return "\n".join(rows)


#: py4j command kinds by the first line of the protocol's command
PY4J_KINDS = {
    "c": "call",
    "r": "reflection",
    "m": "memory",
    "f": "field",
    "i": "constructor",
    "a": "array",
    "l": "list",
    "d": "dir",
    "j": "jvm view",
    "h": "help",
    "p": "exception",
    "S": "stream",
}


class Py4jTally:
    """Counts the py4j commands the driver's gateway client sends while the
    ``with`` block runs, from every thread.

    ``kinds`` counts commands by :data:`PY4J_KINDS` (a memory command
    releases a JVM object once Python's GC drops its handle). ``reflections``
    counts reflection lookups by target: a name the JVM resolves
    (``org.apache.hadoop.fs.Path``) or a class member
    (``org.apache.spark.sql.functions.col``). ``packages`` counts the
    targets the JVM answered as a package: an ``_jvm.org.apache...`` chain
    asks for each prefix in turn, and the JVM tries each as a class against
    every import and jar before calling it a package.
    """

    def __init__(self, spark):
        self.client = spark.sparkContext._gateway._gateway_client
        self.kinds: collections.Counter = collections.Counter()
        self.reflections: collections.Counter = collections.Counter()
        self.packages: collections.Counter = collections.Counter()
        self._lock = threading.Lock()

    def __enter__(self) -> "Py4jTally":
        send = self._send = self.client.send_command

        def counted(command, *args, **kwargs):
            answer = send(command, *args, **kwargs)
            self._count(command, answer)
            return answer

        self.client.send_command = counted
        return self

    def __exit__(self, *exc) -> None:
        self.client.send_command = self._send

    def _count(self, command: str, answer) -> None:
        parts = command.split("\n")
        with self._lock:
            self.kinds[PY4J_KINDS.get(parts[0], parts[0])] += 1
            if parts[0] != "r":
                return
            target = ".".join(parts[2:4]) if parts[1] == "m" else parts[2]
            self.reflections[target] += 1
            if answer == protocol.SUCCESS_PACKAGE:
                self.packages[target] += 1


def profile(jfr_file: str) -> tuple[collections.Counter, collections.Counter]:
    buckets, threads = collections.Counter(), collections.Counter()
    for thread, frames in read_samples(jfr_file):
        buckets[bucket_of(frames)] += 1
        threads[re.sub(r"\d+", "N", thread)] += 1
    return buckets, threads


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--spec", default="yt-short", help="perfbench spec slug")
    ap.add_argument("--warm", type=int, default=4, help="unrecorded runs first")
    ap.add_argument("--runs", type=int, default=8, help="recorded runs")
    ap.add_argument("--jfr", help="keep the recording at this path")
    args = ap.parse_args()

    from data_pipelines_worker_spark.session import get_spark
    from perfbench.pipeline import MockOpenAI
    from tools.dump_stages import REQUESTS, make_runner

    spark = get_spark("jfr-profile")
    pid = getattr(spark._jvm, "java.lang.ProcessHandle").current().pid()
    mock = MockOpenAI(delay_s=0.0)
    with tempfile.TemporaryDirectory(prefix="jfr_profile_") as tmp:
        jfr_file = args.jfr or os.path.join(tmp, "profile.jfr")
        runner, specs = make_runner(spark, os.path.join(tmp, "stages"), mock)
        spec, request = specs[args.spec], REQUESTS[args.spec]

        def run_all(n: int) -> float:
            t0 = time.perf_counter()
            for _ in range(n):
                runner.run(spec, request_input=request)
            return time.perf_counter() - t0

        try:
            run_all(args.warm)
            name = f"dpws-{uuid.uuid4().hex[:8]}"
            subprocess.run(
                ["jcmd", str(pid), "JFR.start", f"name={name}", "settings=profile",
                 f"filename={jfr_file}"],
                check=True, stdout=subprocess.DEVNULL,
            )
            with Py4jTally(spark) as py4j:
                wall = run_all(args.runs)
            subprocess.run(
                ["jcmd", str(pid), "JFR.stop", f"name={name}"],
                check=True, stdout=subprocess.DEVNULL,
            )
        finally:
            mock.close()
        buckets, threads = profile(jfr_file)
    print(f"{args.spec}: {args.runs} recorded runs after {args.warm} warm-up, "
          f"{wall / args.runs:.2f} s per run, JVM pid {pid}")
    print(table(buckets, "bucket (exclusive)"))
    print()
    print(table(threads, "thread group", top=12))
    print()
    print(table(py4j.kinds, "py4j command kind (per run)", unit="commands", runs=args.runs))
    print()
    print(table(py4j.reflections, "py4j reflection target (per run)", top=15,
                unit="lookups", runs=args.runs))
    print(f"package lookups per run: {sum(py4j.packages.values()) / args.runs:.1f}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
