"""Expected results for the operator_mix roster.

Each roster query's result is reduced to a canonical digest (the
canonical form of ``tests/test_oracle_parity.py``: columns sorted by
name, rows sorted, every value rendered exactly). The expected digests
come from the registry's own DuckDB oracles (``oracle_sql()``) run over
the generated tables, and are stored in ``oracle_digests.json`` under
the tables' fingerprint, so a change to the generator cannot be checked
against stale answers.

Regenerate (about ten seconds)::

    python3 perfbench/oracle.py
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import sys
import tempfile

import numpy as np
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
DIGESTS = os.path.join(HERE, "oracle_digests.json")

ROSTER = (
    "q1_pricing_summary", "q3_shipping_priority", "q10_returned_items",
    "events_sessionize", "events_funnel", "vox_unique_bbox",
    "minhash_lsh_pairs", "doc_quality_score",
    "semantic_dedup", "boilerplate_ngrams",
    "corpus_curate", "mm_image_features",
)


def _cell(v) -> str:
    if v is None:
        return "null"
    if isinstance(v, (float, np.floating)):
        return "null" if math.isnan(v) else repr(float(v))
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v))
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if v is pd.NA:
        return "null"
    return str(v)


def digest(pdf) -> tuple:
    """``(row_count, sha256)`` of a result in canonical form."""
    cols = sorted(pdf.columns)
    rows = sorted(
        tuple(_cell(v) for v in row)
        for row in pdf[cols].itertuples(index=False, name=None)
    )
    h = hashlib.sha256(("|".join(cols) + "\n").encode())
    for r in rows:
        h.update(("\x1f".join(r) + "\n").encode())
    return len(rows), h.hexdigest()


def load_expected(fp: str) -> dict:
    """Digests for tables with fingerprint ``fp``; raises when absent."""
    with open(DIGESTS) as f:
        stored = json.load(f)
    if stored.get("fingerprint") != fp:
        raise KeyError(
            f"oracle digests are for tables {stored.get('fingerprint')}, "
            f"generated tables are {fp}: run python3 perfbench/oracle.py")
    return stored["digests"]


def main() -> None:
    import duckdb

    sys.path.insert(0, os.path.dirname(HERE))
    sys.path.insert(0, HERE)
    import datagen
    from cloud_volume_spark.operators import all_oracle_sql

    sql = all_oracle_sql()
    data = datagen.generate()
    fp = datagen.fingerprint(data)
    with tempfile.TemporaryDirectory(dir=HERE) as tmp:
        datagen.write(data, tmp)
        con = duckdb.connect()
        for t in datagen.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{os.path.join(tmp, t)}.parquet'")
        digests = {}
        for name in ROSTER:
            n, h = digest(con.execute(sql[name]).fetchdf())
            digests[name] = {"rows": n, "sha256": h}
            print(f"{name}: {n} rows", flush=True)
    with open(DIGESTS, "w") as f:
        json.dump({"fingerprint": fp, "digests": digests}, f, indent=1)
        f.write("\n")


if __name__ == "__main__":
    main()
