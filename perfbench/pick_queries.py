#!/usr/bin/env python3
"""Measure candidate registry queries for the operator_library workload.

For each candidate: per-pass wall time (median and quartile spread over
``--reps`` passes) at the workload's table scale and at a quarter of it,
the share of the time that scales with the data (the rest is per-job
fixed cost), and whether Spark's output digest equals DuckDB's oracle
digest on the generated tables.  Run from the repository root:

    python3 perfbench/pick_queries.py [--reps 5] [query ...]

Prints one JSON object per candidate; the chosen set and the reasons are
kept in perfbench/NOTES.md.
"""
from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

CANDIDATES = [
    "html_outlinks", "html_main_content", "html_node_stats",
    "rel_top_revenue_nations", "rel_revenue_rollup", "rel_pricing_summary",
    "rel_window_latest_orders", "rel_order_value_median",
    "sketch_distinct_kmv", "sketch_kminima_merge",
    "dedup_minhash_sig", "dedup_exact", "dedup_simhash",
    "dedup_minhash_pairs", "dedup_label_noise",  # the candidate-pairs memo
    "sim_topk_bruteforce", "sim_lsh_buckets",
    "text_top_terms", "text_inverted_index", "text_bpe_tokens",
    "web_url_canonical", "web_crawl_schedule_cycle2", "web_outlink_canonical",
    "stream_windowed_counts", "mm_decode", "warc_round_trip",
    "pdf_parse_extract",
]


def _time(spark, fn, sf_dir, reps):
    from htmpark.queries import clear_candidate_pairs_cache

    out = []
    for _ in range(reps + 1):
        clear_candidate_pairs_cache()
        t = time.perf_counter()
        fn(spark, sf_dir).toArrow()
        out.append(time.perf_counter() - t)
    return out[1:]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--reps", type=int, default=5)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()

    import run  # the benchmark's own workload constants and session
    from session import open_session, prepare_env

    root = os.getcwd()
    work = os.path.join(root, ".bench_work", "pick")
    shutil.rmtree(work, ignore_errors=True)
    prepare_env(root, work)
    import inputs

    big, small = os.path.join(work, "big"), os.path.join(work, "small")
    inputs.write_tables(big, args.seed, **run.TABLES)
    inputs.write_tables(small, args.seed, **{k: v / 4 if k == "scale" else v // 4
                                             for k, v in run.TABLES.items()})
    import duckdb

    from checks import frame_digest
    from htmpark.queries import REGISTRY, resolve_sql

    spark = open_session(work, run.CORES)
    try:
        for name in args.queries or CANDIDATES:
            fn, sql = REGISTRY[name]
            rec = {"query": name}
            try:
                tb = _time(spark, fn, big, args.reps)
                ts = _time(spark, fn, small, max(2, args.reps // 2))
                q = statistics.quantiles(tb, n=4)
                med, meds = statistics.median(tb), statistics.median(ts)
                rec.update(median_s=round(med, 3),
                           iqr_share=round((q[2] - q[0]) / med, 3),
                           quarter_scale_s=round(meds, 3),
                           work_share=round((med - meds) / (0.75 * med), 3))
                got = frame_digest(fn(spark, big).toArrow())
                if sql is None:
                    rec["oracle"] = "none"
                else:
                    con = duckdb.connect()
                    for t in os.listdir(big):
                        con.execute(f"CREATE VIEW {t[:-8]} AS SELECT * FROM "
                                    f"read_parquet('{big}/{t}')")
                    want = frame_digest(con.execute(resolve_sql(sql, big)).arrow())
                    con.close()
                    rec["oracle"] = "ok" if got == want else "MISMATCH"
            except Exception as e:  # a candidate that fails is reported, not fatal
                rec["error"] = f"{type(e).__name__}: {str(e)[:200]}"
            print(json.dumps(rec), flush=True)
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
