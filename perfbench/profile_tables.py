#!/usr/bin/env python3
"""Side-by-side profile of two directories of the query tables.

Prints, for each directory, the row count and arrow schema of every table
and the value shapes the queries depend on (near-duplicate share, text
lengths, vocabulary, label and key domains, date ranges, group sizes).
README.md uses it to show that the benchmark's generated tables have the
shape of the engine's test tables.

Usage: python3 perfbench/profile_tables.py <tables_dir_a> <tables_dir_b>
"""
import sys

import duckdb
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
SHAPES = {
    "documents: share of texts ending ' dup'":
        "SELECT round(avg((text LIKE '% dup')::INT), 4) FROM documents",
    "documents: words per text min/avg/max":
        "SELECT min(n), round(avg(n), 1), max(n) FROM "
        "(SELECT len(string_split(text, ' ')) n FROM documents)",
    "documents: vocabulary":
        "SELECT count(DISTINCT w) FROM "
        "(SELECT unnest(string_split(text, ' ')) w FROM documents)",
    "documents: langs / sources":
        "SELECT count(DISTINCT lang), count(DISTINCT source) FROM documents",
    "embeddings: dim / labels / max |norm-1|":
        "SELECT max(len(embedding)), count(DISTINCT label), round(max(abs("
        "sqrt(list_sum(list_transform(embedding, x -> x * x))) - 1)), 6) "
        "FROM embeddings",
    "events: ts range / users / types":
        "SELECT min(ts)::DATE, max(ts)::DATE, count(DISTINCT user_id), "
        "count(DISTINCT event_type) FROM events",
    "orders: date range / statuses":
        "SELECT min(o_orderdate)::DATE, max(o_orderdate)::DATE, "
        "count(DISTINCT o_orderstatus) FROM orders",
    "lineitem: ship range / flag groups / orders referenced":
        "SELECT min(l_shipdate)::DATE, max(l_shipdate)::DATE, "
        "count(DISTINCT (l_returnflag, l_linestatus)), "
        "count(DISTINCT l_orderkey) FROM lineitem",
    "part: brands / types / names":
        "SELECT count(DISTINCT p_brand), count(DISTINCT p_type), "
        "count(DISTINCT p_name) FROM part",
}


def profile(d):
    con = duckdb.connect()
    out = {}
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{d}/{t}.parquet'")
        f = pq.ParquetFile(f"{d}/{t}.parquet")
        out[f"{t}: rows"] = f.metadata.num_rows
        out[f"{t}: schema"] = ", ".join(
            f"{c.name} {c.type}" for c in f.schema_arrow)
    for k, sql in SHAPES.items():
        out[k] = " / ".join(str(v) for v in con.execute(sql).fetchone())
    return out


if __name__ == "__main__":
    a, b = profile(sys.argv[1]), profile(sys.argv[2])
    for k in a:
        mark = "  " if a[k] == b[k] else "!="
        print(f"{mark} {k}\n     {a[k]}\n     {b[k]}")
