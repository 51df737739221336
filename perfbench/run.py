#!/usr/bin/env python3
"""htmpark benchmark: one workload, one seed, one local Spark session.

    python3 perfbench/run.py --workload crawl_extract --seed 1 \
        --seconds 12 --trace 0

Run from the repository root.  The run generates the workload's inputs
from the seed (input variant seed % 64, the variants golden.json holds
digests of), starts one ``local[4]`` session from this single driver
process, warms it until pass time stops trending, then runs closed-loop
passes (the next pass starts when the previous one has finished) for
``--seconds`` seconds of pass time.  Every pass's output is checked
outside the timed region.  The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` — the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``.  The line before it holds the run's details: warm-up and
pass times, each pass's CPU time, the CPU share stolen from the VM while
passes ran, memory peaks, input sizes and the golden-digest status.

Workloads (why each exists is in NOTES.md):
  crawl_extract     extract_pages over host-interleaved crawl pages; its
                    traced run also probes run_extraction + resume over
                    host-clustered pages (the checkpoint layers)
  operator_library  a fixed subset of REGISTRY queries on seeded tables
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
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from memory import (PssSampler, adopt_orphans, reap_descendants,  # noqa: E402
                    tree_cpu_s)
from spans import Tracer  # noqa: E402  (both after the path set-up above)

CORES = 4
# warm-up stops once the median of a workload's last ``trend_window`` passes
# is no longer 3% below the median of the window before (the cold pass is
# never in a window; never more than max_warm passes, the cold one included)
TREND = 0.97

CRAWL = {"n_pages": 400, "n_hosts": 100, "n_files": 4, "row_group_rows": 128}
CLUSTERED = {"n_pages": 200, "n_hosts": 12, "n_files": 2,
             "row_group_rows": 16}
CHECKPOINT = {"num_parts": 8, "publish_every": 4}
TABLES = {"scale": 0.05, "n_docs": 2500, "n_vecs": 1000}
QUERIES = ("rel_revenue_rollup", "html_outlinks", "text_inverted_index")

E2E_UNITS = {"setup_s": "s", "pass_s": "s", "peak_pss_mb": "MB"}
# golden.json holds the digests of input variants 0..GOLDEN_VARIANTS-1; a
# run's inputs are generated from variant = seed % GOLDEN_VARIANTS, so every
# seed's outputs are checked against a recorded digest
GOLDEN_VARIANTS = 64


class Checks:
    """Attempted / failed counts, kept outside every timed region."""

    def __init__(self):
        self.attempted = self.failed = 0

    def add(self, attempted: int, failed: int) -> None:
        self.attempted += attempted
        self.failed += failed


def golden_failures(golden: dict, workload: str, variant: int,
                    digests: dict[str, str]) -> int:
    """Digests differing from those recorded for (workload, variant); every
    digest counts as failed when nothing was recorded for the variant."""
    want = golden.get(workload, {}).get(str(variant))
    if want is None:
        return len(digests)
    return sum(1 for k, v in want.items() if digests.get(k) != v)


def load_golden() -> dict:
    with open(os.path.join(HERE, "golden.json")) as f:
        return json.load(f)


def collect(df, *cols):
    """The action of a pass: the result (``cols`` of ``df`` when given) as
    an Arrow table.  Planning — analysing the projection and, in a traced
    pass, building the physical plan — has a span of its own, so it is
    told apart from the jobs and from the result transfer."""
    with TRACER.span("spark.collect"):
        with TRACER.span("spark.plan"):
            if cols:
                df = df.select(*cols)
            if TRACER.enabled:
                df._jdf.queryExecution().executedPlan()
        return df.toArrow()


# -- workloads --------------------------------------------------------------

class Pages:
    """Shared by crawl_extract and the checkpoint probe: the generated pages
    and the in-process ``extract_doc`` digest of every page (the
    reference)."""

    clustered = False
    params: dict = {}

    def __init__(self, work: str, seed: int):
        import inputs

        self.src = os.path.join(work, "pages")
        self.info = inputs.write_pages(self.src, seed, clustered=self.clustered,
                                       **self.params)

    def reference(self) -> dict[str, str]:
        import pyarrow.parquet as pq

        from checks import reference_digests

        # in this process: a process pool would leave multiprocessing's
        # resource tracker running after the run
        t = pq.read_table(self.src, columns=["url", "html"]).to_pydict()
        self.ref = dict(zip(t["url"], reference_digests(t["html"])))
        return self.ref

    def golden_digests(self) -> dict[str, str]:
        from checks import output_digest

        return {"output": output_digest(self.ref)}

    def digests(self, df) -> dict[str, str]:
        from checks import page_digest_col

        t = collect(df, "url", page_digest_col().alias("d"))
        return dict(zip(t.column("url").to_pylist(), t.column("d").to_pylist()))


class CrawlExtract(Pages):
    name = "crawl_extract"
    params = CRAWL
    # peak_pss_mb is the peak over the first mem_passes passes of the
    # session; a run measures at least min_passes passes after warm-up
    trend_window, max_warm, min_passes, mem_passes = 3, 9, 5, 14

    def run_pass(self, spark, n: int):
        from htmpark import job

        df = job.extract_pages(job.read_pages(spark, self.src),
                               salt_buckets="auto")
        return self.digests(df)

    def check(self, spark, out, checks: Checks) -> None:
        from checks import output_digest, page_mismatches

        checks.add(len(self.ref), page_mismatches(out, self.ref))
        self.last_output = {"output": output_digest(out)}


class ClusteredCheckpoint(Pages):
    """The checkpoint probe: host-clustered pages through run_extraction
    (salted exchange, write-audit-publish in waves) and a resume that must
    find nothing to do."""
    name = "clustered_checkpoint"
    clustered = True
    params = CLUSTERED

    def __init__(self, work: str, seed: int):
        super().__init__(work, seed)
        self.out_root = os.path.join(work, "checkpoint")

    def run_pass(self, spark, n: int):
        from htmpark import job

        out = os.path.join(self.out_root, f"pass-{n}")
        first = job.run_extraction(spark, job.read_pages(spark, self.src), out,
                                   salt_buckets="auto", **CHECKPOINT)
        again = job.run_extraction(spark, job.read_pages(spark, self.src), out,
                                   salt_buckets="auto", **CHECKPOINT)
        return out, first, again

    def check(self, spark, out, checks: Checks) -> None:
        from pyspark.sql import functions as F

        from checks import output_digest, page_mismatches

        path, first, again = out
        got = self.digests(spark.read.parquet(os.path.join(path, "data")))
        bad = page_mismatches(got, self.ref)
        man = spark.read.parquet(os.path.join(path, "manifest")).agg(
            F.count("*").alias("rows"), F.countDistinct("part_id").alias("parts"),
            F.sum("n_pages").alias("pages")).collect()[0]
        n_parts, n_pages = CHECKPOINT["num_parts"], len(self.ref)
        ok = (man["rows"] == n_parts and man["parts"] == n_parts
              and man["pages"] == n_pages
              and first == {"parts_done": n_parts, "pages": n_pages}
              and again == {"parts_done": 0, "pages": 0})
        checks.add(n_pages, n_pages if not ok else bad)
        self.last_output = {"output": output_digest(got)}
        self.output_mb = sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, fs in os.walk(os.path.join(path, "data"))
            for f in fs) / 2**20
        shutil.rmtree(path, ignore_errors=True)


class OperatorLibrary:
    name = "operator_library"
    trend_window, max_warm, min_passes, mem_passes = 1, 4, 4, 7

    def __init__(self, work: str, seed: int):
        import inputs

        self.sf_dir = os.path.join(work, "tables")
        self.info = inputs.write_tables(self.sf_dir, seed, **TABLES)

    def reference(self) -> dict[str, str]:
        """The DuckDB oracle digest of every chosen query."""
        import duckdb

        from checks import frame_digest
        from htmpark.queries import REGISTRY, resolve_sql

        con = duckdb.connect()
        try:
            for f in sorted(os.listdir(self.sf_dir)):
                con.execute(f"CREATE VIEW {f.split('.')[0]} AS SELECT * FROM "
                            f"read_parquet('{os.path.join(self.sf_dir, f)}')")
            self.ref = {q: frame_digest(con.execute(
                resolve_sql(REGISTRY[q][1], self.sf_dir)).arrow())
                for q in QUERIES}
        finally:
            con.close()
        return self.ref

    def golden_digests(self) -> dict[str, str]:
        return dict(self.ref)

    def run_pass(self, spark, n: int):
        from htmpark.queries import REGISTRY

        out = {}
        for q in QUERIES:
            with TRACER.span(f"query.{q}"):
                with TRACER.span(f"registry.{q}"):
                    df = REGISTRY[q][0](spark, self.sf_dir)
                out[q] = collect(df)
        return out

    def check(self, spark, out, checks: Checks) -> None:
        from checks import frame_digest

        got = {q: frame_digest(t) for q, t in out.items()}
        checks.add(len(QUERIES), sum(got[q] != self.ref[q] for q in QUERIES))
        self.last_output = got


WORKLOADS = {w.name: w for w in (CrawlExtract, OperatorLibrary)}
GOLDEN = (CrawlExtract, ClusteredCheckpoint, OperatorLibrary)
PROBE_PASSES = 2  # the first is cold and untraced
# the workloads open their spans on this; main() replaces it for each run
TRACER = Tracer("", enabled=False)


# -- the run ----------------------------------------------------------------

def stop_session(spark) -> None:
    """Stop Spark (which flushes the event log) and let the JVM exit; what
    is left of its process tree is ended by ``reap_descendants``."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    try:
        spark.stop()
    finally:
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    pass


def warm_up(wl, spark, checks, sampler) -> list[float]:
    """Cold and warm-up passes; returns their times."""
    times = []
    while True:
        n = len(times)
        t = time.perf_counter()
        out = wl.run_pass(spark, n)
        times.append(time.perf_counter() - t)
        sampler.sample()
        wl.check(spark, out, checks)
        if n + 1 == wl.mem_passes:
            sampler.close_window()
        w = wl.trend_window
        if len(times) >= wl.max_warm or (
                len(times) > 2 * w and statistics.median(times[-w:])
                >= TREND * statistics.median(times[-2 * w:-w])):
            return times


def steal_jiffies() -> tuple[int, int]:
    """(stolen, total) jiffies of the whole VM so far, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks[:8])


def measure(wl, spark, checks, sampler, seconds, first, trace, jvm):
    """Closed-loop passes for ``seconds`` of pass time; returns per pass its
    wall time, the CPU time of the JVM and its Python workers, and whether
    it was traced (every other pass of a traced run, so the run also
    yields the tracing overhead)."""
    passes, cpu, traced = [], [], []
    while (sum(passes) < seconds or len(passes) < wl.min_passes
           or first + len(passes) < wl.mem_passes):
        n = first + len(passes)
        on = bool(trace) and len(passes) % 2 == 0
        TRACER.enabled = on
        with TRACER.span("pass", n=n):
            c = tree_cpu_s(jvm)
            t = time.perf_counter()
            out = wl.run_pass(spark, n)
            dt = time.perf_counter() - t
            cpu.append(tree_cpu_s(jvm) - c)
        TRACER.enabled = False
        passes.append(dt)
        traced.append(on)
        sampler.sample()
        wl.check(spark, out, checks)
        if n + 1 == wl.mem_passes:
            sampler.close_window()
    return passes, cpu, traced


def checkpoint_probe(spark, work, variant, checks, golden) -> dict:
    """Traced crawl_extract runs only: the clustered checkpoint passes."""
    ck = ClusteredCheckpoint(os.path.join(work, "probe"), variant)
    ck.reference()
    bad = golden_failures(golden, ck.name, variant, ck.golden_digests())
    for n in range(PROBE_PASSES):
        TRACER.enabled = n > 0
        with TRACER.span("checkpoint_pass", n=n):
            out = ck.run_pass(spark, n)
        TRACER.enabled = False
        ck.check(spark, out, checks)
    out_bad = golden_failures(golden, ck.name, variant, ck.last_output)
    checks.add(0, bad + out_bad)
    return {"checkpoint.output_mb": ck.output_mb}


def main(argv=None) -> int:
    global TRACER
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "htmpark", "job.py")):
        print("perfbench: run from the repository root (htmpark/ not found)",
              file=sys.stderr)
        return 2
    work = os.path.join(root, ".bench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    # every process the run starts ends before it does: orphans of the JVM
    # (Python workers) are re-parented here and reaped in ``finally``, which
    # a SIGTERM reaches too
    adopt_orphans()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    from session import jvm_pid, open_session, prepare_env

    prepare_env(root, work)
    import layers

    TRACER = Tracer(f"{args.workload}-{args.seed}-{os.getpid()}",
                    enabled=False)
    checks = Checks()
    variant = args.seed % GOLDEN_VARIANTS
    details = {"workload": args.workload, "seed": args.seed,
               "input_variant": variant}
    spark = jvm = sampler = None
    try:
        t = time.perf_counter()
        wl = WORKLOADS[args.workload](work, variant)
        details.update(inputs=wl.info, gen_s=time.perf_counter() - t)
        t = time.perf_counter()
        wl.reference()
        details["reference_s"] = time.perf_counter() - t
        golden = load_golden()
        ref_bad = golden_failures(golden, wl.name, variant,
                                  wl.golden_digests())

        t = time.perf_counter()
        spark = open_session(work, CORES)
        session_s = time.perf_counter() - t
        jvm = jvm_pid(spark)
        sampler = PssSampler(jvm).start()
        sampler.open_window()
        if args.trace:
            TRACER.sc = spark.sparkContext
            layers.instrument(TRACER)
        warm = warm_up(wl, spark, checks, sampler)
        s0 = steal_jiffies()
        passes, cpu, traced = measure(wl, spark, checks, sampler,
                                      args.seconds, len(warm), args.trace, jvm)
        s1 = steal_jiffies()
        sampler.stop()
        probes = {}
        if args.trace and wl.name == "crawl_extract":
            probes = layers.spark_probes(wl, spark)
            probes.update(checkpoint_probe(spark, work, variant, checks,
                                           golden))
        TRACER.unwrap_all()
        TRACER.sc = None
        stop_session(spark)
        spark = None

        out_bad = golden_failures(golden, wl.name, variant, wl.last_output)
        checks.add(0, ref_bad + out_bad)
        details.update(
            session_s=session_s, warmup_s=warm, pass_s=passes,
            pass_cpu_s=cpu,
            steal_share=(s1[0] - s0[0]) / max(1, s1[1] - s0[1]),
            golden="match" if not (ref_bad or out_bad) else "MISMATCH",
            memory_samples=sampler.samples, jvm_peak_mb=sampler.root_peak_mb,
            worker_peak_mb=sampler.child_peak_mb,
            workers_max=sampler.children_max)
        if args.trace:
            metrics = layers.collect(wl, TRACER, sampler, passes, traced, work,
                                     QUERIES, CORES, probes, details)
        else:
            metrics = {"setup_s": session_s + sum(warm),
                       "pass_s": statistics.median(passes),
                       "peak_pss_mb": sampler.peak_mb}
            metrics = {k: {"value": v, "unit": E2E_UNITS[k]}
                       for k, v in metrics.items()}
    finally:
        try:
            if sampler is not None:
                sampler.stop()
            if spark is not None:
                stop_session(spark)
        finally:
            reap_descendants()
            shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(details))
    print(json.dumps({"correct": checks.failed == 0 and checks.attempted > 0,
                      "attempted": checks.attempted, "failed": checks.failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
