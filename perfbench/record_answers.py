#!/usr/bin/env python3
"""Records the oracle answers the `reports` workload checks its outputs against.

Usage (from the repo root, offline, once per change to the query set or data):
  python3 perfbench/record_answers.py

Runs each report query's DuckDB oracle SQL (SparkEntry.oracleSql) over the
data snapshot in perfbench/data/sf0.01 and writes perfbench/answers.json:
per query, the row count and the sum over rows of the first 60 bits of the
md5 of the row's canonical text. Columns are taken in name order, as in
tools/check.py. A value's text is "None" for null, "True"/"False" for
booleans, six decimals for floats, UTC with microseconds for timestamps,
and str() otherwise. Reports.rowHash computes the same digest inside the
timed Spark plan.
"""
import datetime
import decimal
import hashlib
import json
import math
import subprocess
import sys
import tempfile
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

HERE = Path(__file__).resolve().parent
DATA = HERE / "data" / "sf0.01"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(v):
    if v is None:
        return "None"
    if isinstance(v, bool):
        return "True" if v else "False"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else "%.6f" % v
    if isinstance(v, (int, str, decimal.Decimal)):
        return str(v)
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, datetime.date):
        return v.isoformat()
    raise TypeError(f"no canonical form for {type(v).__name__} {v!r}")


def digest(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    total = 0
    for r in rows:
        text = "\x01".join(canon(r[i]) for i in order)
        total += int(hashlib.md5(text.encode("utf-8")).hexdigest()[:15], 16)
    return total


def oracle_sql():
    classes = build.build()
    cp = ":".join([str(classes)] + [str(j) for j in build.spark_jars()])
    with tempfile.TemporaryDirectory(dir=build.ROOT / ".bench_build") as tmp:
        out = Path(tmp) / "oracle_sql.json"
        subprocess.run(["java", "-cp", cp, "perfbench.Main", "oracle-sql", str(out)], check=True)
        return json.loads(out.read_text())


def main():
    sql = oracle_sql()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{DATA / (t + '.parquet')}')")
    answers = {}
    for name in sorted(sql):
        cur = con.execute(sql[name])
        cols = [d[0] for d in cur.description]
        rows = cur.fetchall()
        answers[name] = {"rows": len(rows), "digest": str(digest(cols, rows))}
        print(f"{name}: {len(rows)} rows")
    doc = {"data": "perfbench/data/sf0.01", "queries": answers}
    (HERE / "answers.json").write_text(json.dumps(doc, indent=1, sort_keys=True) + "\n")


if __name__ == "__main__":
    main()
