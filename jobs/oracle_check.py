"""Local twin of the driver's correctness gate at any scale factor.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB
over the same parquet directory, comparing row counts + sorted column
names + order-insensitive normalized values — the same contract the
per-round CORRECTNESS_r{N}.json records, but runnable on demand at
sf0.01 / sf0.1 (tests/test_driver_contract.py pins sf0.001 in CI). Usage::

    python jobs/oracle_check.py [--sf-dir /root/testdata/sf0.01] [--only name]

Prints one status line per entry and a JSON summary; exit 1 on any
mismatch. Rows-only entries (queries.ROWS_ONLY) are run for rows>=0 and
schema presence only, mirroring the driver's weaker check.
"""

from __future__ import annotations

import argparse
import decimal
import json
import math
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def _norm(v):
    if v is None:
        return None
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, bool):
        return bool(v)
    if isinstance(v, int):
        return int(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 6)
    return v


def _cell_key(v):
    """Total order over mixed cells: None < numbers/bools < strings <
    lists < anything orderable within its own type (datetime, date...).
    Without this, sorting rows that mix NULLs (or the 'nan' marker)
    with values raises TypeError whenever two rows tie on every
    earlier column — a spurious FAIL on an agreeing entry. Values of
    the same class compare by value; classes never compare across."""
    if v is None:
        return (0, "", "")
    if isinstance(v, (bool, int, float)):
        return (1, "", float(v))
    if isinstance(v, str):
        return (2, "", v)
    if isinstance(v, (list, tuple)):
        return (3, "list", tuple(_cell_key(x) for x in v))
    return (4, type(v).__name__, v)


def _frame(rows, cols):
    cols = list(cols)
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted((tuple(_norm(r[i]) for i in order) for r in rows),
                 key=lambda row: tuple(_cell_key(v) for v in row))
    return sorted(cols), out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--only", default=None,
                    help="comma-separated entry names to check")
    ap.add_argument("--cores", type=int, default=32)
    ap.add_argument("--json-out", default=None,
                    help="also write the FULL per-entry summary (not just "
                         "the roll-up line) to this path — the per-round "
                         "ORACLE_SELF_r{N}.json evidence artifact")
    args = ap.parse_args()

    import duckdb

    import __spark_entry__ as entrymod
    from pdf_parser_spark.session import build_session

    spark = build_session("oracle-check", cores=args.cores)
    con = duckdb.connect()
    # Bound the oracle engine: an n-gram-explosive oracle on a large
    # corpus (observed: the Gopher repetition SQL at a 10x-sf0.1 tiling)
    # can otherwise grow past physical RAM and get the whole process
    # OOM-killed mid-sweep. With a limit + temp dir DuckDB spills
    # instead; the Spark side already spills on its own. The limit is
    # half of physical RAM, capped at 48 GB.
    import tempfile
    ram_mb = (os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
              >> 20)
    con.execute(f"SET memory_limit='{min(48 << 10, ram_mb // 2)}MB'")
    con.execute(f"SET temp_directory='"
                f"{tempfile.mkdtemp(prefix='oracle_duck_spill_')}'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{args.sf_dir}/{t}.parquet')")

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    only = set(args.only.split(",")) if args.only else None
    if only:
        unknown = only - set(queries)
        if unknown:
            # a typo in --only must not report green-by-vacuity
            print(f"unknown --only entries: {sorted(unknown)}; "
                  f"known: {sorted(queries)}", file=sys.stderr)
            return 2

    summary, failed = {}, []
    for name in queries:
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = queries[name](spark, args.sf_dir)
            if name not in oracles:
                n = sdf.count()
                ok = n >= 0 and sdf.schema is not None
                summary[name] = {"mode": "rows_only", "rows": n, "ok": ok}
            else:
                s_cols, s_rows = _frame([tuple(r) for r in sdf.collect()],
                                        sdf.columns)
                res = con.execute(oracles[name])
                d_cols, d_rows = _frame(res.fetchall(),
                                        [d[0] for d in res.description])
                mism = [(a, b) for a, b in zip(s_rows, d_rows) if a != b]
                ok = (s_cols == d_cols and len(s_rows) == len(d_rows)
                      and not mism)
                summary[name] = {"mode": "oracle", "rows": len(s_rows),
                                 "oracle_rows": len(d_rows), "ok": ok}
                if not ok:
                    summary[name]["first_mismatch"] = (
                        repr(mism[0]) if mism else
                        f"cols {s_cols} vs {d_cols}")
        except Exception as exc:  # noqa: BLE001 — report, don't die
            summary[name] = {"mode": "error", "ok": False,
                             "err": f"{type(exc).__name__}: {exc}"[:300]}
        summary[name]["sec"] = round(time.time() - t0, 2)
        if not summary[name]["ok"]:
            failed.append(name)
        print(f"{'OK ' if summary[name]['ok'] else 'FAIL'} {name:44s} "
              f"{summary[name]['sec']:7.2f}s  {summary[name].get('rows','')}",
              flush=True)

    n_oracle = sum(1 for v in summary.values() if v["mode"] == "oracle")
    rollup = {
        "sf_dir": args.sf_dir, "entries": len(summary),
        "oracle_checked": n_oracle,
        "green": sum(1 for v in summary.values()
                     if v["mode"] == "oracle" and v["ok"]),
        "rows_only": sum(1 for v in summary.values()
                         if v["mode"] == "rows_only"),
        "failed": failed}
    print(json.dumps(rollup))
    if args.json_out:
        with open(args.json_out, "w") as f:
            json.dump({**rollup, "per_entry": summary}, f, indent=1)
    spark.stop()
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
