#!/usr/bin/env python
"""Gate registry queries against their DuckDB oracles.

The external driver's per-round CORRECTNESS_r{N}.json records only the
first 50 registry entries, so with a 97-query registry its artifact is a
rotating sample. This tool runs every ``queries()`` entry, or only the
named ones, against its DuckDB oracle (same comparison discipline as the
driver: row count, schema width, order-insensitive values, plus the
hardened int-vs-float representation check). Queries without an oracle
are run twice and must return the same row count. With ``--round`` (or
``--out``) it writes ``GATE_FULL_r{N}.json`` in the driver's row format —
so any round's driver snapshot can be cross-checked against the
same-round full sweep. Exits nonzero if any gated query fails.

    python tools/run_full_gate.py --round 4 [--sf-dir /root/testdata/sf0.01]
    python tools/run_full_gate.py q1 q2 ... [--sf-dir /root/testdata/sf0.01]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*",
                    help="queries to gate (default: the whole registry)")
    ap.add_argument("--round", type=int, default=None,
                    help="write GATE_FULL_r{N}.json for this round")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01",
                    help="gate scale (the driver gates at sf0.01)")
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    from tree_sitter_codeviews_spark.session import get_spark

    import __spark_entry__ as entry
    from tests.oracle_util import assert_matches, duck_run

    spark = get_spark("full-gate")
    spark.sparkContext.setLogLevel("ERROR")
    qmap, omap = entry.queries(), entry.oracle_sql()

    results: dict[str, dict] = {}
    for name in args.names or qmap:
        fn = qmap[name]
        rec: dict = {"rows_match": None, "schema_match": None,
                     "hash_match": None, "spark_rows": None,
                     "oracle_rows": None, "err": None}
        try:
            df = fn(spark, args.sf_dir)
            if name in omap:
                rec["spark_rows"] = df.count()
                rec["oracle_rows"] = len(duck_run(args.sf_dir, omap[name]))
                # assert_matches re-runs the comparison including values;
                # it mirrors what the driver hashes (plus the dtype check)
                assert_matches(fn(spark, args.sf_dir), args.sf_dir,
                               omap[name], name)
                rec.update(rows_match=True, schema_match=True, hash_match=True)
            else:
                n1 = df.count()
                n2 = fn(spark, args.sf_dir).count()
                rec.update(spark_rows=n1, rows_match=(n1 == n2),
                           schema_match=True, hash_match=None,
                           err="rows-only (no oracle by design)")
        except Exception as exc:  # keep sweeping; record the failure
            rec["err"] = f"{type(exc).__name__}: {exc}"[:400]
            traceback.print_exc(limit=2)
            rec.setdefault("rows_match", False)
            rec["hash_match"] = False
        results[name] = rec
        status = ("PASS" if rec["hash_match"]
                  else "rows-only" if rec["hash_match"] is None and rec["rows_match"]
                  else "FAIL")
        print(f"{name}: {status}", flush=True)

    out = args.out
    if out is None and args.round is not None:
        out = os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            f"GATE_FULL_r{args.round:02d}.json",
        )
    if out is not None:
        with open(out, "w") as fh:
            json.dump(results, fh, indent=1)
    n_pass = sum(1 for r in results.values() if r["hash_match"])
    n_ro = sum(1 for r in results.values()
               if r["hash_match"] is None and r["rows_match"])
    n_fail = len(results) - n_pass - n_ro
    print(f"\n{out or 'gate'}: {n_pass} pass / {n_ro} rows-only / "
          f"{n_fail} fail of {len(results)}")
    spark.stop()
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
