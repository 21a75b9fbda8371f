"""Build the benchmark's reference manifest: source table sizes and the
expected result of every ``query_mix`` entry.

Expected results come from each entry's ``oracle_sql()`` twin run on DuckDB
over the bundled data, digested with the same canon as
``tools/check_oracle_parity.value_hash`` (row count, sorted column names,
order-insensitive value hash). The manifest is cached in the work directory
under a key of the data and program sources, so only the first run in a
checkout pays for it. It runs in its own process so that the benchmark
process imports the package cold during set-up.

    python3 perfbench/expected.py <repo-root> <data-dir> <out.json> <entry>...
"""

from __future__ import annotations

import hashlib
import importlib.util
import json
import os
import sys

PACKAGE = "db2ice_db2_to_snowflake_iceberg_ddl_converter_spark"


def cache_key(root: str, data_dir: str, entries: list[str]) -> str:
    """Digest of everything the manifest depends on."""
    h = hashlib.sha256("\n".join(entries).encode())
    paths = [os.path.join(data_dir, f) for f in sorted(os.listdir(data_dir))]
    paths.append(os.path.join(root, "__spark_entry__.py"))
    paths.append(os.path.join(root, "tools", "check_oracle_parity.py"))
    for dirpath, dirnames, filenames in os.walk(os.path.join(root, PACKAGE)):
        dirnames.sort()
        paths.extend(os.path.join(dirpath, f) for f in sorted(filenames)
                     if f.endswith(".py"))
    for p in paths:
        h.update(p[len(root):].encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:20]


def load_parity_tool(root: str):
    """``tools/check_oracle_parity.py``: its table list and digest canon."""
    path = os.path.join(root, "tools", "check_oracle_parity.py")
    spec = importlib.util.spec_from_file_location("check_oracle_parity", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def build(root: str, data_dir: str, entries: list[str]) -> dict:
    import duckdb
    import pyarrow.parquet as pq

    sys.path.insert(0, root)
    from __spark_entry__ import oracle_sql

    tool = load_parity_tool(root)
    sources = {}
    for t in tool.TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        sources[t] = {"rows": pq.ParquetFile(path).metadata.num_rows,
                      "bytes": os.path.getsize(path)}
    con = duckdb.connect()
    for t in tool.TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    oracles = oracle_sql()
    expected = {}
    for name in entries:
        res = con.sql(oracles[name])
        cols = [c.lower() for c in res.columns]
        rows = res.fetchall()
        expected[name] = {"rows": len(rows), "columns": sorted(cols),
                          "hash": tool.value_hash(cols, rows)}
    con.close()
    return {"sources": sources, "expected": expected}


def main(argv: list[str]) -> int:
    root, data_dir, out, *entries = argv
    manifest = build(root, data_dir, entries)
    tmp = f"{out}.tmp{os.getpid()}"
    with open(tmp, "w") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)
    os.replace(tmp, out)
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
