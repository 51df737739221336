"""Output digests the benchmark checks, always outside the timed region.

Extraction rows are reduced to one sha256 per page INSIDE Spark (the
"digest sink"), so a pass ships only (url, digest) pairs to the driver.
The same canonical string is rebuilt in Python from ``extract_doc``'s
row, which makes every Spark row checkable against the in-process parse.
Query outputs are compared as order-insensitive, type-tagged frame
digests, against DuckDB running the query's oracle SQL over the same
files.
"""
from __future__ import annotations

import hashlib
import os
import sys

import pyarrow as pa

# tools/check_oracle.py of the checkout the benchmark runs in
sys.path.insert(0, os.path.join(os.getcwd(), "tools"))

SEP, ASEP = "\x1f", "\x1e"
SCALARS = ("text", "main_text", "title")
LISTS = ("outlinks", "meta_names", "meta_contents")
COUNTS = ("n_elements", "n_text_nodes", "tok_errors", "tree_errors")


def page_digest_col():
    """Spark column: sha256 of a page's canonical extraction string."""
    from pyspark.sql import functions as F

    parts = ([F.coalesce(F.col(c), F.lit("")) for c in SCALARS]
             + [F.coalesce(F.array_join(c, ASEP), F.lit("")) for c in LISTS]
             + [F.col(c).cast("string") for c in COUNTS]
             + [F.when(F.col("parse_ok"), "true").otherwise("false")])
    return F.sha2(F.concat_ws(SEP, *parts), 256)


def page_digest(row: dict) -> str:
    """Python twin of :func:`page_digest_col` for one ``extract_doc`` row."""
    parts = ([row[c] or "" for c in SCALARS]
             + [ASEP.join(row[c]) for c in LISTS]
             + [str(row[c]) for c in COUNTS]
             + ["true" if row["parse_ok"] else "false"])
    return hashlib.sha256(SEP.join(parts).encode("utf-8", "surrogatepass")
                          ).hexdigest()


def reference_digests(htmls: list[bytes]) -> list[str]:
    """In-process ``extract_doc`` digest of each page."""
    from htmpark.extract import extract_doc

    return [page_digest(extract_doc(h)) for h in htmls]


def output_digest(pairs: dict[str, str]) -> str:
    """Whole-output digest of a {url: page digest} map."""
    h = hashlib.sha256()
    for url in sorted(pairs):
        h.update(f"{url}\t{pairs[url]}\n".encode("utf-8", "surrogatepass"))
    return h.hexdigest()


def page_mismatches(got: dict[str, str], want: dict[str, str]) -> int:
    """Pages whose digest differs from the reference, plus pages missing
    from or extra to it."""
    bad = sum(1 for u, d in want.items() if got.get(u) != d)
    return bad + sum(1 for u in got if u not in want)


def frame_digest(table: pa.Table) -> str:
    """Order-insensitive digest of a result table: the repository's own
    result hash (``frame_hash`` of tools/check_oracle.py, the one its
    oracle check and tests compare) over the table's rows."""
    from check_oracle import frame_hash

    cols = table.column_names
    rows = list(zip(*(table.column(c).to_pylist() for c in cols)))
    return frame_hash(cols, rows)
