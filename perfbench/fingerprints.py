"""Result fingerprints of registry queries.

A fingerprint is the SHA-256 of a query's result after the canonicalization
of ``tests/oracle_compare.py`` (columns sorted by name, values through its
``_canon``), with every number replaced by its exact rational value so that
values the oracle compare treats as equal (``1.5``, ``Decimal('1.50')``)
hash the same, and the rows re-sorted.

The committed files were produced from each query's DuckDB oracle SQL over
the benchmark's own copy of the tables:

    python3 perfbench/fingerprints.py perfbench/data/sf0.01 perfbench/fingerprints/sf0.01.json
    python3 perfbench/fingerprints.py perfbench/data/sf0.001 perfbench/fingerprints/sf0.001.json

Extra arguments name the queries to (re)compute; the file's other entries
are kept.
"""

from __future__ import annotations

import decimal
import hashlib
import json
import os
import sys
from fractions import Fraction

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _canonicalizer():
    sys.path.insert(0, os.path.join(ROOT, "tests"))
    from oracle_compare import rows_canonical  # noqa: E402  (needs duckdb)

    return rows_canonical


def _exact(v):
    if isinstance(v, bool) or not isinstance(v, (int, float, decimal.Decimal)):
        if isinstance(v, tuple):
            return tuple(_exact(x) for x in v)
        return v
    try:
        f = Fraction(v)
    except (ValueError, OverflowError):  # inf / sNaN
        return str(v)
    return f"{f.numerator}/{f.denominator}"


def fingerprint(columns: list[str], rows: list[tuple]) -> str:
    canon = _canonicalizer()(columns, [tuple(r) for r in rows])
    exact = sorted((tuple(_exact(v) for v in r) for r in canon), key=repr)
    body = repr((sorted(columns), exact)).encode()
    return hashlib.sha256(body).hexdigest()


def load(path: str) -> dict[str, dict]:
    with open(path, encoding="utf-8") as f:
        return json.load(f)


def main(sf_dir: str, out: str, names: list[str]) -> None:
    """Fingerprint ``names`` (default: every registry query) into ``out``,
    keeping the entries already there."""
    sys.path.insert(0, ROOT)
    from data_engineering_etl_demo_spark.plans import all_specs

    _canonicalizer()  # puts tests/ on the path
    from oracle_compare import duckdb_connection

    specs = all_specs()
    con = duckdb_connection(os.path.abspath(sf_dir))
    result = load(out) if os.path.exists(out) else {}
    for name in names or sorted(specs):
        res = con.execute(specs[name].oracle)
        cols = [d[0] for d in res.description]
        rows = res.fetchall()
        result[name] = {"rows": len(rows), "sha256": fingerprint(cols, rows)}
        print(name, len(rows), file=sys.stderr, flush=True)
        with open(out, "w", encoding="utf-8") as f:  # keep what is done if interrupted
            json.dump(result, f, indent=1, sort_keys=True)
            f.write("\n")


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2], sys.argv[3:])
