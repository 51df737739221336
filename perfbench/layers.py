"""Per-layer metrics of a traced run.

Spans are opened around the program's public calls by replacing the
module attributes the program itself looks up (``htmpark.job.extract_pages``
is called through the module global by ``run_extraction``, and so on), so
every layer is timed from outside.  Spark's own numbers come from the
session's event log, charged to spans through the job group.  The
in-process layers (parser, ``extract_doc``, the ``_parse_batches`` batch
boundary) are measured after the session has stopped, on one pinned core,
over the workload's own pages.
"""
from __future__ import annotations

import os
import statistics
import time

from spans import EventLog, coverage

INPUT_COLUMNS = ("url", "warc_ts", "html", "lang")

PARSER = ("parser.doc_us_p50", "parser.doc_us_p99", "parser.mb_per_s")
EXTRACT = ("extract.doc_us_p50", "extract.doc_us_p99", "extract.sink_share",
           "extract.single_core_pages_per_s")
JOB = ("job.batch_ms_p50", "job.batch_build_share", "job.scan_s",
       "job.arrow_roundtrip_s", "job.scaling_eff", "job.salt_decision_ms",
       "job.salt_buckets", "job.exchange_s")
# measured by the checkpoint probe of the crawl_extract traced run
CHECKPOINT = ("checkpoint.pass_s", "checkpoint.write_s", "checkpoint.audit_s",
              "checkpoint.resume_s", "checkpoint.waves", "checkpoint.output_mb",
              "checkpoint.salt_decision_ms", "checkpoint.salt_buckets",
              "checkpoint.exchange_s")
SPARK = ("spark.jobs", "spark.tasks", "spark.task_failures", "spark.task_s",
         "spark.cpu_s", "spark.gc_s", "spark.shuffle_write_mb",
         "spark.shuffle_read_mb", "spark.spill_mb", "spark.task_skew",
         "spark.plan_s", "spark.driver_s")
MEM = ("mem.jvm_peak_mb", "mem.worker_peak_mb", "mem.workers",
       "mem.sampler_cpu_share")
TRACE = ("trace.coverage", "trace.overhead")


def query_metrics(queries) -> tuple[str, ...]:
    return tuple(f"query.{q}_s" for q in queries)


def units(name: str) -> str:
    if name.endswith("mb_per_s"):
        return "MB/s"
    if name.endswith("pages_per_s"):
        return "1/s"
    if name.endswith(("_us_p50", "_us_p99")):
        return "us"
    if name.endswith(("_ms", "_ms_p50")):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("share", "eff", "coverage", "overhead", "skew")):
        return "ratio"
    return "count"


def instrument(tracer) -> None:
    """Open spans around the program's public calls."""
    from pyspark.sql.readwriter import DataFrameWriter

    from htmpark import job

    for name in ("read_pages", "detect_host_clustered", "extract_pages"):
        tracer.wrap(job, name)
    tracer.wrap(job, "salted_repartition", attrs=lambda a, k, o: {
        "salt_buckets": k.get("salt_buckets", a[1] if len(a) > 1 else 8)})
    tracer.wrap(job, "run_extraction",
                attrs=lambda a, k, o: {"parts_done": o["parts_done"]})
    tracer.wrap(DataFrameWriter, "parquet", name="write.parquet",
                attrs=lambda a, k, o: {"target": os.path.basename(
                    str(a[1] if len(a) > 1 else k["path"]).rstrip("/"))})


def _pct(xs: list[float], q: float) -> float:
    xs = sorted(xs)
    return xs[min(len(xs) - 1, int(q * (len(xs) - 1) + 0.5))]


def _dur(s: dict) -> float:
    return s["end"] - s["start"]


def spark_probes(wl, spark) -> dict:
    """Scan only, and scan plus an identity ``mapInPandas`` (the JVM -> Arrow
    -> pandas -> Arrow round trip with no parse), each the median of three
    noop-sink runs over the workload's input."""
    from htmpark import job

    def scan():
        return job.read_pages(spark, wl.src).select(*INPUT_COLUMNS)

    def timed(make):
        ts = []
        for _ in range(3):
            t = time.perf_counter()
            make().write.format("noop").mode("overwrite").save()
            ts.append(time.perf_counter() - t)
        return statistics.median(ts)

    schema = scan().schema
    return {"job.scan_s": timed(scan),
            "job.arrow_roundtrip_s": timed(
                lambda: scan().mapInPandas(lambda it: it, schema))}


def in_process(wl, tracer, cores: int) -> dict:
    """Parser, extract_doc and batch-boundary layers on one pinned core."""
    import pyarrow.parquet as pq

    from htmpark import job
    from htmpark.extract import extract_doc
    from htmpark.parser import Parser
    from htmpark.sinks import BaseSink

    table = pq.read_table(wl.src, columns=list(INPUT_COLUMNS))
    htmls = table.column("html").to_pylist()
    before = os.sched_getaffinity(0)
    os.sched_setaffinity(0, {max(before)})
    tracer.enabled = True
    try:
        for h in htmls[:50]:  # first-call costs stay out of the timings
            extract_doc(h)
        # the two layers alternate page by page, so drift hits both alike
        parse_t, extract_t = [], []
        for h in htmls:
            with tracer.span("Parser.parse"):
                t = time.perf_counter()
                Parser().parse(h, BaseSink())
                parse_t.append(time.perf_counter() - t)
            with tracer.span("extract_doc"):
                t = time.perf_counter()
                extract_doc(h)
                extract_t.append(time.perf_counter() - t)
        # the batch boundary as the parse tasks see it: one Arrow batch per
        # task (maxRecordsPerBatch exceeds a task's rows here)
        inner = [0.0]

        def timed_extract(*a, **k):
            t = time.perf_counter()
            try:
                return extract_doc(*a, **k)
            finally:
                inner[0] += time.perf_counter() - t

        batch_t = []
        step = -(-table.num_rows // cores)
        job.extract_doc = timed_extract
        try:
            for k in range(0, table.num_rows, step):
                pdf = table.slice(k, step).to_pandas()
                t = time.perf_counter()
                for _ in job._parse_batches(iter([pdf])):
                    pass
                batch_t.append(time.perf_counter() - t)
        finally:
            job.extract_doc = extract_doc
    finally:
        tracer.enabled = False
        os.sched_setaffinity(0, before)
    n, mb = len(htmls), sum(map(len, htmls)) / 2**20
    return {
        "parser.doc_us_p50": _pct(parse_t, 0.5) * 1e6,
        "parser.doc_us_p99": _pct(parse_t, 0.99) * 1e6,
        "parser.mb_per_s": mb / sum(parse_t),
        "extract.doc_us_p50": _pct(extract_t, 0.5) * 1e6,
        "extract.doc_us_p99": _pct(extract_t, 0.99) * 1e6,
        "extract.sink_share": 1 - sum(parse_t) / sum(extract_t),
        "extract.single_core_pages_per_s": n / sum(extract_t),
        "job.batch_ms_p50": statistics.median(batch_t) * 1e3,
        "job.batch_build_share": 1 - inner[0] / sum(batch_t),
    }


def _rows(tracer, log, span_name: str, queries) -> list[dict]:
    """One row of layer numbers per span named ``span_name`` (a pass)."""
    rows = []
    for p in (s for s in tracer.spans if s["name"] == span_name):
        sub = tracer.descendants(p["id"])
        row = log.engine({p["id"]} | {s["id"] for s in sub})
        row["coverage"] = coverage(tracer, log, p["id"])
        row["pass_s"] = _dur(p)

        def total(name):
            return sum(_dur(s) for s in sub if s["name"] == name)

        row["plan_s"] = total("spark.plan")
        # the rest of the actions' driver-side time: re-planning between
        # adaptive jobs and the result transfer, i.e. the part of each
        # collect that neither a job nor the planning span covers
        row["driver_s"] = sum(
            _dur(s) - coverage(tracer, log, s["id"]) * _dur(s)
            for s in sub if s["name"] == "spark.collect")
        row["salt_decision_ms"] = total("detect_host_clustered") * 1e3
        row["salt_buckets"] = max((s.get("salt_buckets", 0) for s in sub
                                   if s["name"] == "salted_repartition"),
                                  default=0)
        # the salted exchange: shuffle-map stages of the parse jobs (the
        # checkpoint data writes when there are any), none without a salt;
        # the shuffles of queries and of the checkpoint audit are not it
        row["exchange_s"] = 0.0
        if row["salt_buckets"]:
            ids = {s["id"] for s in sub if s["name"] == "write.parquet"
                   and s["target"] == "data"} or {p["id"]} | {
                       s["id"] for s in sub}
            row["exchange_s"] = log.engine(ids)["exchange_s"]
        for q in queries:
            row[f"query.{q}_s"] = total(f"query.{q}")
        runs = [s for s in sub if s["name"] == "run_extraction"]
        for f in (s for s in runs if s.get("parts_done")):
            writes = [s for s in tracer.descendants(f["id"])
                      if s["name"] == "write.parquet"]
            data = [s for s in writes if s["target"] == "data"]
            row["write_s"] = sum(map(_dur, data))
            row["waves"] = len(data)
            # run_extraction's own time outside its child calls is the audit
            # read-back, the manifest aggregate and the stats collect
            own = _dur(f) - sum(map(_dur, tracer.children(f["id"])))
            row["audit_s"] = own + sum(_dur(s) for s in writes
                                       if s["target"] == "manifest")
            row["resume_s"] = sum(_dur(s) for s in runs
                                  if not s.get("parts_done"))
        rows.append(row)
    return rows


def _median(rows: list[dict], key: str) -> float:
    vals = [r[key] for r in rows if key in r]
    return statistics.median(vals) if vals else 0.0


def collect(wl, tracer, sampler, passes, traced, work, queries, cores,
            probes: dict, details: dict) -> dict:
    """Every per-layer metric; layers the workload does not run read 0."""
    names = (PARSER + EXTRACT + JOB + CHECKPOINT + query_metrics(queries)
             + SPARK + MEM + TRACE)
    m = dict.fromkeys(names, 0.0)
    log = EventLog(os.path.join(work, "eventlog"))
    rows = _rows(tracer, log, "pass", queries)
    for k in SPARK:
        m[k] = _median(rows, k.split(".", 1)[1])
    for k in ("exchange_s", "salt_decision_ms", "salt_buckets"):
        m[f"job.{k}"] = _median(rows, k)
    for q in queries:
        m[f"query.{q}_s"] = _median(rows, f"query.{q}_s")
    ck = _rows(tracer, log, "checkpoint_pass", ())
    for k in ("pass_s", "write_s", "audit_s", "resume_s", "waves",
              "exchange_s", "salt_decision_ms", "salt_buckets"):
        m[f"checkpoint.{k}"] = _median(ck, k)
    m["checkpoint.output_mb"] = probes.pop("checkpoint.output_mb", 0.0)
    m["mem.jvm_peak_mb"] = sampler.root_peak_mb
    m["mem.worker_peak_mb"] = sampler.child_peak_mb
    m["mem.workers"] = sampler.children_max
    m["mem.sampler_cpu_share"] = sampler.cpu_s / max(sampler.window_s, 1e-9)
    m["trace.coverage"] = _median(rows, "coverage")
    on = [t for t, f in zip(passes, traced) if f]
    off = [t for t, f in zip(passes, traced) if not f]
    if on and off:
        m["trace.overhead"] = statistics.median(on) / statistics.median(off) - 1
    m.update(probes)
    if hasattr(wl, "src"):
        m.update(in_process(wl, tracer, cores))
        if off:
            pages_per_s = len(wl.ref) / statistics.median(off)
            m["job.scaling_eff"] = pages_per_s / (
                cores * m["extract.single_core_pages_per_s"])
    details["coverage_per_pass"] = [r["coverage"] for r in rows]
    details["checkpoint_coverage_per_pass"] = [r["coverage"] for r in ck]
    traces = os.path.join(os.path.dirname(work), "traces")
    os.makedirs(traces, exist_ok=True)
    tracer.dump(os.path.join(traces, f"{tracer.run_id}.json"))
    return {k: {"value": v, "unit": units(k)} for k, v in m.items()}
