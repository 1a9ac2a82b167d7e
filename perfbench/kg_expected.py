"""Expected outputs of the ``kg_queries`` mix, from the DuckDB oracles.

The oracles (``__spark_entry__.oracle_sql``) are an independent SQL
rendering of every query. They are slow, so their value hashes are cached in
``kg_expected.json``, keyed by a fingerprint of the generated input tables;
when the fingerprint or a query is missing, set-up recomputes them with
DuckDB. Refresh the cache from the repository root with::

    python3 -m perfbench.kg_expected
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(HERE, "kg_expected.json")

sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]
from check_oracles import value_hash  # noqa: E402,F401 - re-exported for workloads


def generate_sf(sf: str, out_dir: str) -> None:
    """Write the star-schema, events, documents and embeddings tables at
    scale factor ``sf`` (fixed generator seed)."""
    subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "gen_scaled_sf.py"), sf, out_dir],
        check=True,
        capture_output=True,
    )


def data_fingerprint(sf_dir: str) -> str:
    h = hashlib.md5()
    for base, _dirs, files in sorted(os.walk(sf_dir)):
        for name in sorted(files):
            if name.endswith(".parquet"):
                path = os.path.join(base, name)
                h.update(os.path.relpath(path, sf_dir).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def oracle_hashes(sf_dir: str, names) -> dict[str, str]:
    import duckdb

    import __spark_entry__ as entry
    from entity_extractor_by_pointer_spark.sources.tables import TABLES

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        sqls = entry.oracle_sql()
        out = {}
        for name in names:
            res = con.execute(sqls[name])
            out[name] = value_hash([d[0] for d in res.description], res.fetchall())
        return out
    finally:
        con.close()


def expected_hashes(sf_dir: str, names, fingerprint: str) -> dict[str, str]:
    cached = {}
    if os.path.exists(CACHE):
        with open(CACHE) as f:
            cached = json.load(f)
    if cached.get("fingerprint") == fingerprint and set(names) <= set(cached["hashes"]):
        return cached["hashes"]
    print("perfbench: kg_expected.json is stale; running the DuckDB oracles", file=sys.stderr)
    return oracle_hashes(sf_dir, names)


def main() -> None:
    from .workloads import KG_MIX, KG_SF

    sf_dir = os.path.join(ROOT, ".perfbench_tmp", f"expected-{os.getpid()}")
    try:
        generate_sf(KG_SF, sf_dir)
        doc = {
            "sf": KG_SF,
            "fingerprint": data_fingerprint(sf_dir),
            "hashes": oracle_hashes(sf_dir, sorted(KG_MIX)),
        }
    finally:
        shutil.rmtree(sf_dir, ignore_errors=True)
    with open(CACHE, "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
