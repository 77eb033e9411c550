"""Self-tests of the benchmark's generator and checks (no Spark needed).

    python3 perfbench/selftest.py

- the same seed gives byte-identical raw zones, another seed does not;
- the ledger matches the files (line counts, corrupt lines, duplicates,
  rule violations), counted independently with DuckDB;
- a tampered curated zone is caught by the curated-state check.
"""

from __future__ import annotations

import hashlib
import os
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]
WORK = os.path.join(HERE, ".work")

import checks  # noqa: E402
import duckdb  # noqa: E402
import rawzone  # noqa: E402

SCALE = 0.002
DAYS = 20


def _tmp():
    os.makedirs(WORK, exist_ok=True)
    return tempfile.TemporaryDirectory(dir=WORK)


def _zones(root: str, seed: int):
    base = rawzone.generate_base(os.path.join(root, "base"), seed, SCALE, DAYS)
    state, batches = base.clean, []
    for k in (1, 2, 3):
        b = rawzone.generate_batch(os.path.join(root, f"b{k}"), seed, base, state, k, 1)
        state = rawzone.apply_batch(state, b)
        batches.append(b)
    return base, batches, state


def _digest(root: str) -> dict[str, str]:
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def test_same_seed_is_byte_identical():
    with _tmp() as a, _tmp() as b, _tmp() as c:
        _zones(a, 7)
        _zones(b, 7)
        _zones(c, 8)
        assert _digest(a) == _digest(b)
        assert _digest(a) != _digest(c)


def _csv(con, zone, name):
    glob = os.path.join(zone.root, name, "*.csv")
    return f"read_csv('{glob}', all_varchar=true, header=true)"


def _ledger_from_files(con, zone, name, known_keys) -> dict:
    """Recount a table's ledger entry from its CSV files alone."""
    src = _csv(con, zone, name)
    pk = rawzone.PK[name]
    cols = ", ".join(rawzone.COLUMNS[name])
    parsed = f"(SELECT * FROM {src} WHERE TRY_CAST({pk} AS BIGINT) IS NOT NULL)"
    rows_in, corrupt = con.execute(
        f"SELECT count(*), count(*) FILTER (WHERE TRY_CAST({pk} AS BIGINT) IS NULL) FROM {src}"
    ).fetchone()
    distinct = con.execute(f"SELECT count(*) FROM (SELECT DISTINCT {cols} FROM {parsed})").fetchone()[0]
    parsed_rows = rows_in - corrupt
    rejected = {}
    if name == "products":
        rejected["Null product_name"] = con.execute(
            f"SELECT count(DISTINCT {pk}) FROM {parsed} WHERE product_name IS NULL").fetchone()[0]
    else:
        rejected["Null user_id"] = con.execute(
            f"SELECT count(DISTINCT {pk}) FROM {parsed} WHERE user_id IS NULL").fetchone()[0]
    if name == "orders":
        rejected["Non-positive total_amount"] = con.execute(
            f"SELECT count(DISTINCT {pk}) FROM {parsed} WHERE CAST(total_amount AS DOUBLE) <= 0"
        ).fetchone()[0]
    if name == "order_items":
        for col, ref in (("order_id", "orders"), ("product_id", "products")):
            con.register("_ref", known_keys[ref])
            rejected[f"Invalid {col} reference"] = con.execute(
                f"SELECT count(DISTINCT {pk}) FROM {parsed} WHERE CAST({col} AS BIGINT) "
                f"NOT IN (SELECT k FROM _ref)").fetchone()[0]
            con.unregister("_ref")
    n_rejected = sum(rejected.values())
    return {
        "rows_in": rows_in,
        "corrupt": corrupt,
        "duplicates": parsed_rows - distinct,
        "rejected": rejected,
        "accepted": distinct - n_rejected,
    }


def test_ledger_matches_files():
    con = duckdb.connect()
    with _tmp() as root:
        base, batches, _state = _zones(root, 11)
        state = base.clean
        for zone in [base, *batches]:
            if zone is not base:
                state = rawzone.apply_batch(state, zone)
            keys = {
                t: state[t][[rawzone.PK[t]]].rename(columns={rawzone.PK[t]: "k"})
                for t in ("orders", "products")
            }
            for name in rawzone.TABLES:
                got = _ledger_from_files(con, zone, name, keys)
                assert got == zone.ledger[name], (zone.root, name, got, zone.ledger[name])
                assert all(n > 0 for n in got["rejected"].values())
                assert got["duplicates"] > 0 and got["corrupt"] > 0


def test_tampered_curated_zone_is_caught():
    import pyarrow.parquet as pq

    con = duckdb.connect()
    with _tmp() as root:
        _base, _batches, state = _zones(root, 5)
        curated = os.path.join(root, "curated")
        rawzone.write_curated(state, curated)
        assert checks.check_curated(con, curated, state) == []

        part = sorted(
            os.path.join(d, f)
            for d, _dirs, files in os.walk(os.path.join(curated, "orders"))
            for f in files
        )[0]
        table = pq.read_table(part)
        amounts = table.column("total_amount").to_pylist()
        amounts[0] += 0.01
        idx = table.schema.get_field_index("total_amount")
        table = table.set_column(idx, "total_amount", [amounts])
        pq.write_table(table, part)
        problems = checks.check_curated(con, curated, state)
        assert len(problems) == 1 and problems[0].startswith("orders:"), problems

        os.remove(part)
        assert checks.check_curated(con, curated, state)


def main() -> int:
    tests = [v for k, v in sorted(globals().items()) if k.startswith("test_")]
    for t in tests:
        t()
        print(f"ok {t.__name__}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
