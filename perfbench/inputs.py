"""Seeded input generation for the benchmark workloads.

Every generator is a pure function of its seed: the same seed writes the
same parquet bytes.  Nothing here imports Spark or htmpark — the program
under test only ever sees the generated files.
"""
from __future__ import annotations

import datetime as dt
import math
import os
import random
import statistics

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
LANGS = ("en", "de", "fr", "es", "pt", "zh")
TLDS = ("com", "org", "net", "de", "io")


def _words(rng: random.Random, n: int) -> str:
    return " ".join(rng.choices(WORDS, k=n))


# -- pathological parser families (one generator per family) --------------
# Each returns a body fragment of roughly ``size`` bytes, put at the end of
# an ordinary page, that drives one parser path hard: reconstruction of active formatting, deep nesting,
# foster parenting, attribute storms, entity runs, comment scanning and
# the special nesting rules of nobr / select / svg.

def _p_unclosed_formatting(rng, size):
    unit = "<b><i><u>" + _words(rng, 3)
    return unit * (size // len(unit) + 1)


def _p_reconstruct(rng, size):
    unit = "<b>" + _words(rng, 2) + "<p>" + _words(rng, 2)
    return unit * (size // len(unit) + 1)


def _p_deep_div(rng, size):
    depth = size // 11
    return "<div>" * depth + _words(rng, 5) + "</div>" * depth


def _p_foster_table(rng, size):
    row = "<tr>" + _words(rng, 2) + "<td>" + _words(rng, 2) + "</td>"
    return "<table>" + row * (size // len(row) + 1) + "</table>"


def _p_attr_storm(rng, size):
    n = max(1, size // 12)
    attrs = " ".join(f"a{k}=v{k}" for k in range(n))
    return f"<div {attrs}>" + _words(rng, 5) + "</div>"


def _p_entity_run(rng, size):
    ents = ("&amp;", "&lt;", "&notin;", "&#65;", "&#x263A;", "&copy", "&nbsp;")
    return "<p>" + "".join(rng.choice(ents) for _ in range(size // 5)) + "</p>"


def _p_dash_comment(rng, size):
    return "<!--" + "-" * size + "- -->" + "<p>" + _words(rng, 5) + "</p>"


def _p_nobr(rng, size):
    unit = "<nobr>" + _words(rng, 1)
    return unit * (size // len(unit) + 1)


def _p_select(rng, size):
    unit = "<select><option>" + _words(rng, 1)
    return unit * (size // len(unit) + 1)


def _p_svg(rng, size):
    unit = "<svg><g><foreignObject><p>" + _words(rng, 1)
    return unit * (size // len(unit) + 1)


PATHOLOGICAL = (_p_unclosed_formatting, _p_reconstruct, _p_deep_div,
                _p_foster_table, _p_attr_storm, _p_entity_run, _p_dash_comment,
                _p_nobr, _p_select, _p_svg)


# Page sizes: log-normal in bytes of HTML.  The mean is the Common Crawl
# record size the repository's own soak runs use (BENCH/BASELINE.md: 45.4
# and 49.1 KB of HTML per page); the median and the tail width are not
# taken from a source (NOTES.md says which metrics depend on them).
PAGE_MEDIAN_BYTES = 30_000
PAGE_SIGMA = 0.9  # mean = median * exp(sigma**2 / 2), about 45 KB
PAGE_MIN_BYTES, PAGE_MAX_BYTES = 2_000, 400_000


def _page_sizes(rng: random.Random, n: int) -> list[int]:
    """``n`` page sizes at the distribution's quantiles (i + 0.5) / n, in
    random order: every set of ``n`` pages has the same sizes, so inputs
    of different seeds differ in order and content, not in total work."""
    dist = statistics.NormalDist(math.log(PAGE_MEDIAN_BYTES), PAGE_SIGMA)
    sizes = [min(PAGE_MAX_BYTES, max(PAGE_MIN_BYTES, int(math.exp(
        dist.inv_cdf((i + 0.5) / n))))) for i in range(n)]
    rng.shuffle(sizes)
    return sizes


def _page(rng: random.Random, host: str, i: int, n_bytes: int,
          fragment: str) -> str:
    """One page of about ``n_bytes``: paragraphs up to the size, then the
    pathological ``fragment`` (empty for an ordinary page)."""
    title = _words(rng, rng.randint(2, 6))
    nav = " ".join(f'<a href="https://{host}/s/{k}">{_words(rng, 1)}</a>'
                   for k in range(rng.randint(3, 9)))
    metas = f'<meta name="description" content="{_words(rng, 8)}">'
    if rng.random() < 0.05:
        metas += '<meta name="robots" content="noindex">'
    paras, size = [f"<h1>{title}</h1>"], 600
    while size < n_bytes:
        p = _words(rng, rng.randint(20, 80))
        if rng.random() < 0.3:
            p += f' <a href="/p/{rng.randint(0, 10**6)}">{_words(rng, 2)}</a>'
        if rng.random() < 0.2:
            p += " &amp; " + _words(rng, 3) + " &lt;x&gt;"
        if rng.random() < 0.05:
            p += "<ul>" + "".join(f"<li>{_words(rng, 4)}"
                                  for _ in range(rng.randint(2, 8))) + "</ul>"
        paras.append(f"<p>{p}</p>")
        size += len(paras[-1])
    body = "".join(paras) + fragment
    script = f"<script>var n = {i}; if (n < 2 && n > 0) {{}}</script>"
    return (f"<!DOCTYPE html><html lang=en><head><meta charset=utf-8>"
            f"<title>{title}</title>{metas}{script}</head><body>"
            f"<nav>{nav}</nav><article>{body}</article>"
            f"<footer><a href=/about>about</a> {_words(rng, 6)}</footer>"
            f"</body></html>")


def write_pages(path: str, seed: int, n_pages: int, n_hosts: int,
                clustered: bool, n_files: int, row_group_rows: int) -> dict:
    """Write ``n_files`` parquet files of crawl pages; returns a summary.

    Interleaved (crawl order): pages of ``n_hosts`` hosts arrive in random
    order, so every row group mixes hosts.  Clustered: one host owns about
    40% of the pages and the table is sorted by url, so most row groups
    hold one host.  Each pathological family gets about 1% of the pages."""
    rng = random.Random(seed)
    hosts = [f"h{k:03d}.example.{TLDS[k % len(TLDS)]}" for k in range(n_hosts)]
    weights = [1.0 / (k + 1) ** 0.8 for k in range(n_hosts)]
    # every file gets the same page sizes and the same number of pages of
    # each pathological family, so the parse tasks of one pass carry the
    # same work
    step = -(-n_pages // n_files)
    per_file = max(1, n_pages // 100 // n_files)
    n_path = per_file * n_files
    kinds = [None] * n_pages
    sizes = []
    for k in range(n_files):
        rows = range(k * step, min(n_pages, (k + 1) * step))
        sizes += _page_sizes(rng, len(rows))
        slots = rng.sample(rows, per_file * len(PATHOLOGICAL))
        for j, s in enumerate(slots):
            kinds[s] = PATHOLOGICAL[j // per_file]
    urls, htmls, langs = [], [], []
    for i in range(n_pages):
        if clustered and rng.random() < 0.4:
            host = hosts[0]
        else:
            host = rng.choices(hosts, weights)[0]
        urls.append(f"https://{host}/p/{rng.randint(0, 10**9):09d}/{i}")
        fam = kinds[i]
        fragment = fam(rng, rng.randint(2_000, 8_000)) if fam else ""
        htmls.append(_page(rng, host, i, sizes[i], fragment)
                     .encode("utf-8"))
        langs.append(rng.choice(LANGS))
    order = sorted(range(n_pages), key=urls.__getitem__) if clustered \
        else range(n_pages)
    t0 = dt.datetime(2025, 1, 1)
    table = pa.table({
        "url": [urls[i] for i in order],
        "warc_ts": pa.array([t0 + dt.timedelta(seconds=i) for i in order],
                            pa.timestamp("us")),
        "html": pa.array([htmls[i] for i in order], pa.binary()),
        "lang": [langs[i] for i in order],
    })
    os.makedirs(path, exist_ok=True)
    for k in range(n_files):
        pq.write_table(table.slice(k * step, step),
                       os.path.join(path, f"part-{k:03d}.parquet"),
                       row_group_size=row_group_rows)
    sizes = sorted(map(len, htmls))
    return {"pages": n_pages, "html_bytes": sum(sizes),
            "page_bytes_p50": sizes[n_pages // 2],
            "page_bytes_p90": sizes[n_pages * 9 // 10],
            "page_bytes_max": sizes[-1],
            "pathological_pages": n_path * len(PATHOLOGICAL)}


# -- relational / text / vector tables for the operator library ----------

def _write(tbl: pa.Table, sf_dir: str, name: str) -> None:
    pq.write_table(tbl, os.path.join(sf_dir, f"{name}.parquet"))


def write_tables(sf_dir: str, seed: int, scale: float, n_docs: int,
                 n_vecs: int) -> dict:
    """Write the star-schema, events, documents and embeddings tables the
    registry queries read, in the column layout of the program's test
    tables.  ``scale`` sizes the relational tables like a TPC-H scale
    factor (lineitem = 6M x scale rows)."""
    rs = np.random.default_rng(seed)
    os.makedirs(sf_dir, exist_ok=True)
    n_cust, n_supp = int(150_000 * scale), max(10, int(10_000 * scale))
    n_part, n_ord = int(200_000 * scale), int(1_500_000 * scale)
    n_li, n_ev = int(6_000_000 * scale), int(1_000_000 * scale)
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"])
    _write(pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE",
                                "MIDDLE EAST"]}), sf_dir, "region")
    _write(pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION{k:02d}" for k in range(25)],
                     "n_regionkey": pa.array([k % 5 for k in range(25)],
                                             pa.int32())}), sf_dir, "nation")
    _write(pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{k:09d}" for k in range(n_cust)],
        "c_nationkey": pa.array(rs.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rs.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": segs[rs.integers(0, 5, n_cust)]}), sf_dir, "customer")
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{k:09d}" for k in range(n_supp)],
        "s_nationkey": pa.array(rs.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rs.uniform(-999.99, 9999.99, n_supp), 2)}),
        sf_dir, "supplier")
    adj = np.array("small red blue hot old large big green".split())
    noun = np.array("ring widget bolt plate rod gear nut pipe".split())
    _write(pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.char.add(np.char.add(adj[rs.integers(0, 8, n_part)], " "),
                              noun[rs.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rs.integers(1, 26, n_part).astype(str)),
        "p_type": np.array("ECONOMY LARGE MEDIUM PROMO SMALL STANDARD".split())[
            rs.integers(0, 6, n_part)],
        "p_size": pa.array(rs.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2)}),
        sf_dir, "part")
    day0 = np.datetime64("1995-01-01", "us")
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rs.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rs.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rs.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": day0 + rs.integers(0, 2404, n_ord).astype("timedelta64[D]"),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"])[
            rs.integers(0, 5, n_ord)]}), sf_dir, "orders")
    qty = rs.integers(1, 51, n_li).astype(float)
    _write(pa.table({
        "l_orderkey": pa.array(rs.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rs.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rs.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rs.integers(1, 8, n_li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rs.uniform(900, 2100, n_li), 2),
        "l_discount": rs.integers(0, 11, n_li) / 100.0,
        "l_tax": rs.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rs.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rs.integers(0, 2, n_li)],
        "l_shipdate": day0 + rs.integers(1, 2500, n_li).astype("timedelta64[D]")}),
        sf_dir, "lineitem")
    ev_ts = np.datetime64("2024-01-01", "us") + np.sort(
        rs.integers(0, 30 * 86_400_000_000, n_ev)).astype("timedelta64[us]")
    _write(pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": ev_ts,
        "user_id": pa.array(rs.integers(0, max(10, n_ev // 66), n_ev), pa.int64()),
        "event_type": np.array(["click", "error", "purchase", "signup",
                                "view"])[rs.integers(0, 5, n_ev)],
        "value": np.round(rs.uniform(0.01, 490.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rs.integers(0, 100, n_ev)]}),
        sf_dir, "events")
    rng = random.Random(seed)
    texts = []
    for k in range(n_docs):
        if k > 10 and rng.random() < 0.05:
            texts.append(texts[rng.randrange(k)] + " dup")
        else:
            texts.append(_words(rng, rng.randint(10, 100)))
    _write(pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": [LANGS[rng.randrange(5)] for _ in range(n_docs)],
        "source": [f"src{k % 20}" for k in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}),
        sf_dir, "documents")
    vec = rs.normal(size=(n_vecs, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    _write(pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rs.integers(0, 10, n_vecs), pa.int32())}),
        sf_dir, "embeddings")
    return {"lineitem_rows": n_li, "documents": n_docs, "embeddings": n_vecs}
