"""Per-stage profile of one cold strict-QA Medicaid refresh.

    python tools/pipeline_profile.py [--members 2000] [--seed 1]

Writes the seeded raw extract the benchmark's ``mcaid_refresh`` workload
uses (``perfbench/inputs.write_mcaid_extract``), starts a fresh Spark
session sized as the benchmark sizes it (``local[nproc]`` and as many
shuffle partitions, a 2 GB driver; the engine's own settings otherwise),
runs ``run_mcaid_pipeline(strict_qa=True)`` with every reference table,
then writes each returned table with ``write_table``. Each table
builder, each QA gate and each write runs under its own Spark job
group; the tool prints one row per stage, then the totals of the
pipeline and of the writes:

- ``jobs`` and ``busy s``: the stage's Spark jobs and the union of their
  run intervals;
- ``cpu s``: CPU seconds of the whole process tree while the stage ran
  (``harness.CpuClock``: this process, the driver JVM and Spark's Python
  workers, JIT compiler threads excluded), split into ``jvm s`` (the
  driver JVM, which runs every task thread) and ``py s`` (the Python
  workers: Python UDFs, Arrow UDFs, and every scan of a frame built from
  a Python list, which is a Python RDD). The rest of ``cpu s`` is this
  process's own Python, the plan construction.

A gate's row counts the gate's aggregate plus whatever lineage it has
to compute first: with the pipeline's stage caches, the first gate over
a stage fills its cache, and the later gates, builders and writes read
it. Everything the run writes goes to a temporary directory that is
removed at the end.
"""

from __future__ import annotations

import argparse
import os
import resource
import shutil
import sys
import tempfile
import time
from functools import wraps

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]

from harness import CpuClock, job_totals  # noqa: E402
from inputs import write_mcaid_extract  # noqa: E402

from claims_data_spark import pipeline  # noqa: E402
from claims_data_spark.session import get_spark  # noqa: E402
from claims_data_spark.sources.io import write_table  # noqa: E402
from tests import fixtures as fx  # noqa: E402

# the QA suites run_mcaid_pipeline calls; each returns the results its
# gate() call then records under the table name
QA_FUNCS = ("fused_table_qa", "timevar_golden_qa", "qa_mcaid_claim_line",
            "qa_mcaid_claim_icdcm_header", "qa_mcaid_claim_procedure",
            "qa_mcaid_claim_pharm")
# the benchmark's driver memory (perfbench/run.py's DRIVER_MEM)
DRIVER_MEM = "2g"
_TICKS_PER_S = os.sysconf("SC_CLK_TCK")


def python_worker_cpu_s(jvm_pid: int) -> float:
    """CPU seconds used so far by every process below the driver JVM:
    Spark's Python worker daemon and the workers it forks, exited
    workers included through the daemon's reaped-children time."""
    parent, ticks = {}, {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process has exited
            continue
        parent[int(name)] = int(fields[1])
        # utime, stime, and cutime, cstime of children it has reaped
        ticks[int(name)] = sum(int(x) for x in fields[11:15])
    total = 0
    for pid, t in ticks.items():
        p = parent[pid]
        while p not in (jvm_pid, 0, 1) and p in parent:
            p = parent[p]
        if p == jvm_pid:
            total += t
    return total / _TICKS_PER_S


class CpuSplit:
    """(all, JVM, Python workers) CPU seconds so far. ``all`` is
    ``harness.CpuClock``; the JVM's share is what is left of it after
    the Python workers and this process's own CPU time."""

    def __init__(self, spark):
        self.clock = CpuClock()
        self.jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle \
            .current().pid()

    def __call__(self) -> tuple[float, float, float]:
        total = self.clock()
        workers = python_worker_cpu_s(self.jvm_pid)
        own = resource.getrusage(resource.RUSAGE_SELF)
        return total, total - workers - own.ru_utime - own.ru_stime, workers


class Profiler:
    """Job groups and CPU seconds for the builders, gates and writes of
    one refresh."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.cpu = CpuSplit(spark)
        self.groups: list[tuple[str, str]] = []  # (group id, stage label)
        self.cpu_s: list[tuple[float, float, float]] = []  # per group

    def run(self, label: str, fn, *args, **kwargs):
        group = f"profile-{len(self.groups)}"
        self.groups.append((group, label))
        self.sc.setJobGroup(group, label)
        c0 = self.cpu()
        try:
            return fn(*args, **kwargs)
        finally:
            self.cpu_s.append(tuple(b - a for a, b in zip(c0, self.cpu())))
            self.sc.setJobGroup(None, None)

    def instrument(self) -> None:
        """Wrap the builders and QA suites ``run_mcaid_pipeline`` looks
        up in its module, so each call runs under its own group."""
        for name in dir(pipeline):
            fn = getattr(pipeline, name)
            if name.startswith("build_"):
                label = f"build {name[len('build_'):]}"
            elif name in QA_FUNCS:
                label = "gate"  # named after its table by gate() below
            else:
                continue
            setattr(pipeline, name, self._wrapped(fn, label))
        qa_gate = pipeline.qa_gate

        @wraps(qa_gate)
        def gate(qa, table, *checks, strict):
            # the suite's aggregate has already run under the last group
            group, label = self.groups[-1]
            if label == "gate":
                self.groups[-1] = (group, f"gate {table}")
            return qa_gate(qa, table, *checks, strict=strict)

        pipeline.qa_gate = gate

    def _wrapped(self, fn, label: str):
        @wraps(fn)
        def call(*args, **kwargs):
            return self.run(label, fn, *args, **kwargs)
        return call

    def rows(self, spark) -> list[tuple]:
        """(label, jobs, busy s, cpu s, jvm s, py s) per stage."""
        tracker = self.sc.statusTracker()
        out = []
        for (group, label), cpu in zip(self.groups, self.cpu_s):
            t = job_totals(spark, tracker.getJobIdsForGroup(group))
            out.append((label, t["jobs"], t["job_s"], *cpu))
        return out


def reference_tables(spark) -> dict:
    clean, geocode = fx.ref_address(spark)
    return dict(
        ref_rac=fx.ref_rac_code(spark), ref_address=clean,
        ref_geocode=geocode, ref_xwalk=fx.ref_claim_type_xwalk(spark),
        ref_hedis=fx.ref_hedis(spark), ref_telehealth=fx.ref_telehealth(spark),
        ref_icdcm=fx.ref_icdcm_codes(spark),
        ref_rda=fx.ref_rda_value_sets(spark),
        ccw_config=[r.asDict() for r in fx.ref_ccw_lookup(spark).collect()],
    )


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--members", type=int, default=2000)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()

    work = tempfile.mkdtemp(prefix="pipeline-profile-")
    # the benchmark's session: one task slot and one shuffle partition
    # per usable core, and its driver memory (as perfbench/run.py sets
    # them before the JVM starts)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    spark = get_spark("pipeline-profile", extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    })
    spark.sparkContext.setLogLevel("ERROR")
    try:
        paths = write_mcaid_extract(os.path.join(work, "extract"), args.seed,
                                    args.members)
        raw_elig = spark.read.parquet(paths["raw_elig"])
        raw_claim = spark.read.parquet(paths["raw_claim"])
        refs = reference_tables(spark)
        prof = Profiler(spark)
        prof.instrument()
        t0 = time.perf_counter()
        res = pipeline.run_mcaid_pipeline(spark, raw_elig, raw_claim,
                                          strict_qa=True, **refs)
        t1 = time.perf_counter()
        n_pipeline = len(prof.groups)
        for name, df in res.tables.items():
            prof.run(f"write {name}", write_table, df,
                     os.path.join(work, "warehouse", name))
        t2 = time.perf_counter()
        res.unpersist()
        rows = prof.rows(spark)
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)

    cols = ("jobs", "busy s", "cpu s", "jvm s", "py s")
    print(f"{'stage':<28}" + "".join(f"{c:>8}" for c in cols))
    for label, jobs, *secs in rows:
        print(f"{label:<28}{jobs:>8}" + "".join(f"{x:>8.2f}" for x in secs))
    for part, sel, wall in (("pipeline", rows[:n_pipeline], t1 - t0),
                            ("writes", rows[n_pipeline:], t2 - t1)):
        busy, cpu, jvm, py = (sum(r[i] for r in sel) for i in range(2, 6))
        print(f"{part}: {sum(r[1] for r in sel)} jobs, {busy:.2f} busy s, "
              f"{wall:.2f} wall s, {cpu:.2f} cpu s "
              f"({jvm:.2f} jvm, {py:.2f} python workers)")


if __name__ == "__main__":
    main()
