#!/usr/bin/env python3
"""Measures the shapes of the sf0.1 testdata that the benchmark's
generators copy, and writes them to `sf01_shapes.json` beside this file.

    python3 perfbench/shapes.py <dir holding the sf0.1 parquet files>

A benchmark run reads only its own directory, so it cannot read the
testdata; it draws its inputs from these recorded shapes instead:

- `hist`: value -> count, for discrete columns and per-key frequencies;
- `quantiles`: 101 points (p0, p1, ..., p100) of a continuous column;
- `rows`: the table's row count at sf0.1.

Needs the `duckdb` Python module; the benchmark itself does not.
"""
import json
import os
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
PCTS = [k / 100 for k in range(101)]


def main():
    if len(sys.argv) != 2:
        raise SystemExit(__doc__)
    d = sys.argv[1]
    con = duckdb.connect()

    def rows(sql):
        return con.execute(sql.replace("{d}", d)).fetchall()

    def hist(sql):
        return {str(k): int(n) for k, n in rows(sql)}

    def quantiles(col, table):
        (qs,), = rows(f"SELECT quantile_cont({col}, {PCTS}) FROM '{{d}}/{table}.parquet'")
        return [round(float(x), 4) for x in qs]

    def count(table):
        return rows(f"SELECT count(*) FROM '{{d}}/{table}.parquet'")[0][0]

    shapes = {
        "source": "sf0.1 testdata, measured by perfbench/shapes.py",
        "events": {
            "rows": count("events"),
            # events per user, by user_id: the per-key frequency of the fact
            "user_events": hist("SELECT user_id, count(*) FROM '{d}/events.parquet' "
                                "GROUP BY 1 ORDER BY 1"),
            "event_type": hist("SELECT event_type, count(*) FROM '{d}/events.parquet' "
                               "GROUP BY 1 ORDER BY 1"),
            "value": quantiles("value", "events"),
            "day": quantiles("epoch(ts) / 86400 - epoch(DATE '2024-01-01') / 86400", "events"),
        },
        "orders": {
            "rows": count("orders"),
            "orders_per_customer": hist(
                "SELECT n, count(*) FROM (SELECT o_custkey, count(*) AS n "
                "FROM '{d}/orders.parquet' GROUP BY 1) GROUP BY 1 ORDER BY 1"),
            "totalprice": quantiles("o_totalprice", "orders"),
            "orderdate_day": quantiles("epoch(o_orderdate) / 86400", "orders"),
        },
        "lineitem": {
            "rows": count("lineitem"),
            "lines_per_order": hist(
                "SELECT n, count(*) FROM (SELECT l_orderkey, count(*) AS n "
                "FROM '{d}/lineitem.parquet' GROUP BY 1) GROUP BY 1 ORDER BY 1"),
            "quantity": hist("SELECT CAST(l_quantity AS BIGINT), count(*) "
                             "FROM '{d}/lineitem.parquet' GROUP BY 1 ORDER BY 1"),
            "discount_pct": hist("SELECT CAST(round(l_discount * 100) AS BIGINT), count(*) "
                                 "FROM '{d}/lineitem.parquet' GROUP BY 1 ORDER BY 1"),
            "extendedprice": quantiles("l_extendedprice", "lineitem"),
            "parts": rows("SELECT max(l_partkey) + 1 FROM '{d}/lineitem.parquet'")[0][0],
        },
        "customer": {
            "rows": count("customer"),
            "nationkey": hist("SELECT c_nationkey, count(*) FROM '{d}/customer.parquet' "
                              "GROUP BY 1 ORDER BY 1"),
            "mktsegment": hist("SELECT c_mktsegment, count(*) FROM '{d}/customer.parquet' "
                               "GROUP BY 1 ORDER BY 1"),
        },
        "nation": {
            "names": [n for n, in rows("SELECT n_name FROM '{d}/nation.parquet' "
                                       "ORDER BY n_nationkey")],
            "regionkey": [r for r, in rows("SELECT n_regionkey FROM '{d}/nation.parquet' "
                                           "ORDER BY n_nationkey")],
        },
        # the documents the medallion and curation generators imitate (Gen.scala)
        "documents": {
            "rows": count("documents"),
            "lang": hist("SELECT lang, count(*) FROM '{d}/documents.parquet' "
                         "GROUP BY 1 ORDER BY 1"),
            "sources": rows("SELECT count(DISTINCT source) FROM '{d}/documents.parquet'")[0][0],
            "tokens": quantiles("len(string_split(text, ' '))", "documents"),
            "vocabulary": rows("SELECT count(DISTINCT w) FROM (SELECT unnest("
                               "string_split(text, ' ')) AS w FROM '{d}/documents.parquet')")[0][0],
        },
    }
    out = os.path.join(HERE, "sf01_shapes.json")
    with open(out, "w") as fh:
        json.dump(shapes, fh, indent=1)
        fh.write("\n")
    print(out)


if __name__ == "__main__":
    main()
