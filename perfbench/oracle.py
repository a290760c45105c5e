"""Oracle answers for the catalog workloads, stored as digests.

The DuckDB oracle (``oracle_sql()``) is far too slow to run per
benchmark run (q117's alone takes minutes at sf0.1), so its answers over
the fixed catalog tables are computed once and stored in
``digests.json``. A digest covers the sorted column names and the rows
as ``tests/parity.normalize`` prints them, so equal digests mean the
parity harness would call the results equal.

Regenerate after changing the generator, the query lists or the
normalization (takes a few minutes)::

    python3 perfbench/oracle.py
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DIGESTS = os.path.join(HERE, "digests.json")


def digest(pdf) -> str:
    """Order-insensitive digest of a pandas result."""
    from tests.parity import normalize

    body = json.dumps([sorted(pdf.columns), normalize(pdf)], default=str)
    return hashlib.sha256(body.encode()).hexdigest()


def load_digests() -> dict[str, str]:
    with open(DIGESTS) as fh:
        return json.load(fh)


def check(name: str, pdf, expected: dict[str, str]) -> str | None:
    """``None`` when ``pdf`` matches the stored answer, else a reason."""
    want = expected.get(name)
    if want is None:
        return f"{name}: no stored oracle digest"
    got = digest(pdf)
    if got != want:
        return f"{name}: result digest {got[:12]} != oracle {want[:12]} ({len(pdf)} rows)"
    return None


def main() -> int:
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import gen
    import queries
    from tests.parity import duck_connection

    import __spark_entry__ as entry

    work = os.path.join(HERE, ".work", "oracle")
    shutil.rmtree(work, ignore_errors=True)
    gen.write_catalog(work)
    con = duck_connection(work)
    sql = entry.oracle_sql()
    out = {}
    for name in sorted(set(queries.CATALOG_ITER) | set(queries.CATALOG_SCAN)):
        out[name] = digest(con.execute(sql[name]).df())
        print(name, out[name][:12], flush=True)
    with open(DIGESTS, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
