"""Order-insensitive result digests, and the recorder of catalog oracle digests.

A digest canonicalizes a result the way the repository's oracle comparison
does -- columns sorted by name, rows compared as a multiset, an integral
float equal to the integer -- and hashes it, so a Spark result can be checked
against a DuckDB oracle recorded earlier without running DuckDB in the
benchmark. Re-record after a catalog oracle or the bundled tables change:

    python3 perfbench/oracle.py
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import sys
from decimal import Decimal

HERE = os.path.dirname(os.path.abspath(__file__))
CATALOG_DIR = os.path.join(HERE, "data", "sf0.01")
DIGESTS_PATH = os.path.join(HERE, "data", "catalog_digests.json")
CATALOG_MODULES = ("tpch", "clickstream", "relational_ext", "subqueries", "statops", "intervalops",
                   "qualityops", "groupingsets", "layoutops", "samplingops", "textops", "corpusops",
                   "curation", "vectorops", "graphops")
CATALOG_TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
                  "lineitem", "events", "documents", "embeddings")


def _cell(v) -> str:
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (float, Decimal)):
        f = float(v)
        if math.isnan(f):
            return "nan"
        if f.is_integer() and abs(f) < 2**53:
            return str(int(f))
        return repr(f)
    return str(v)


def digest(columns: list[str], rows) -> dict:
    """Row count plus a SHA-256 over name-sorted columns and sorted rows."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\x1f".join(_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\x1f".join(columns[i] for i in order).encode())
    for line in lines:
        h.update(b"\x1e" + line.encode())
    return {"rows": len(lines), "sha256": h.hexdigest()}


def spark_digest(df) -> dict:
    return digest(df.columns, df.collect())


def duck_digest(con, sql: str) -> dict:
    cur = con.execute(sql)
    columns = [d[0] for d in cur.description]
    return digest(columns, cur.fetchall())


def catalog_connection(sf_dir: str = CATALOG_DIR):
    import duckdb

    con = duckdb.connect()
    for t in CATALOG_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def bench_queries() -> dict:
    """The bench-tagged catalog queries, by name. Only the modules that hold
    them are imported: other catalog modules build fixtures at import."""
    import importlib

    from reciping_data_pipeline_spark.queries import REGISTRY

    for m in CATALOG_MODULES:
        importlib.import_module(f"reciping_data_pipeline_spark.queries.{m}")
    return {n: q for n, q in sorted(REGISTRY.items()) if "bench" in q.tags}


def load_digests() -> dict:
    with open(DIGESTS_PATH) as f:
        return json.load(f)


def record() -> None:
    con = catalog_connection()
    out = {name: duck_digest(con, q.oracle) for name, q in bench_queries().items()}
    with open(DIGESTS_PATH, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"recorded {len(out)} oracle digests to {DIGESTS_PATH}")


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(HERE))
    record()
