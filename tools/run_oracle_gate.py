"""Full-surface oracle gate artifact: run EVERY queries() entry on Spark and
its oracle_sql() on DuckDB over the same parquet tables (default
/root/testdata/sf0.01 — the driver's gate scale) and write ORACLE_GATE.json
with per-query row-count / schema / value match booleans.

Why this exists: the driver's per-round correctness gate samples ~50 of the
declared queries, so at any time half the surface has no on-disk
driver-witnessed evidence. This tool produces that evidence for the WHOLE
surface at the driver's own scale, as a committed artifact regenerated each
round. `oracle_match` is the one row comparison, shared with
tests/test_entry_oracle.py (columns sorted by name, order-insensitive rows,
exact ints/strings, 1e-9 float tolerance — stricter than the driver's value
hash, so green here implies green there).

Usage:
    python tools/run_oracle_gate.py            # sf0.01, writes ORACLE_GATE.json
    SPARK_GRAFT_GATE_SF_DIR=... SPARK_GRAFT_GATE_OUT=... python tools/run_oracle_gate.py
"""

from __future__ import annotations

import json
import math
import os
import sys
import time
import traceback

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _row_sort_key(vals):
    # rounding-insensitive row order: non-float fields lead (exact across
    # engines), floats join at a 1e-6 rounding — three orders of magnitude
    # coarser than the 1e-9 comparison tolerance, so two engines landing on
    # opposite sides of a 1e-9 boundary can't flip the row order and turn
    # an in-tolerance result into a positional mismatch
    lead = [repr(v) for (t, v) in vals if t != "f"]
    tail = [
        # + 0.0 folds -0.0 into 0.0 so a -1e-10 vs +1e-10 disagreement
        # can't produce different keys ('-0.0' vs '0.0')
        repr(round(v, 6) + 0.0) if isinstance(v, float) else repr(v)
        for (t, v) in vals
        if t == "f"
    ]
    # full-precision tie-break: rows equal at the 1e-6 key but separated by
    # more than ~2e-9 sort the same way in both engines (each engine's value
    # carries an independent < 1e-9 delta, so gaps above twice the tolerance
    # can't flip); gaps in the 1e-9..2e-9 band can still rarely flip, but
    # this is strictly better than falling back to engine pre-sort order
    tie = [
        repr(v + 0.0) if isinstance(v, float) else repr(v)
        for (t, v) in vals
        if t == "f"
    ]
    return (lead, tail, tie)


def _normalize(rows, cols):
    out = []
    for row in rows:
        vals = []
        for c in cols:
            v = row[c]
            if isinstance(v, float):
                vals.append(("f", round(v, 9)))
            else:
                vals.append((type(v).__name__[:1], v))
        out.append(tuple(vals))
    out.sort(key=_row_sort_key)
    return out


def _values_match(a, b) -> bool:
    if len(a) != len(b):
        return False
    for ra, rb in zip(a, b):
        for (ta, va), (tb, vb) in zip(ra, rb):
            if ta == "f" and tb == "f":
                if not (
                    va == vb
                    or (isinstance(va, float) and isinstance(vb, float)
                        and math.isclose(va, vb, rel_tol=1e-9, abs_tol=1e-9))
                ):
                    return False
            elif va != vb:
                return False
    return True


def oracle_match(spark_cols, spark_rows, ora_cols, ora_rows) -> dict:
    """Compare Spark rows with oracle rows (both lists of column->value
    dicts): ``rows_match`` / ``schema_match`` / ``values_match`` flags;
    values are compared only when the row counts and columns agree."""
    rec = {
        "rows_match": len(spark_rows) == len(ora_rows),
        "schema_match": sorted(spark_cols) == sorted(ora_cols),
        "values_match": False,
    }
    if rec["rows_match"] and rec["schema_match"]:
        cols = sorted(spark_cols)
        rec["values_match"] = _values_match(
            _normalize(spark_rows, cols), _normalize(ora_rows, cols)
        )
    return rec


def main() -> None:
    import duckdb

    import __spark_entry__ as entry_mod
    from beacon_indexer_spark.session import get_spark

    sf_dir = os.environ.get(
        "SPARK_GRAFT_GATE_SF_DIR", "/root/testdata/sf0.01"
    )
    out_path = os.environ.get(
        "SPARK_GRAFT_GATE_OUT",
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "ORACLE_GATE.json",
        ),
    )
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    spark = get_spark(app_name="bis-oracle-gate", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    full_surface = set(qs)
    only = [
        s for s in os.environ.get("SPARK_GRAFT_GATE_ONLY", "").split(",") if s
    ]
    if only:
        missing = [n for n in only if n not in qs]
        if missing:
            raise SystemExit(f"unknown query names in GATE_ONLY: {missing}")
        qs = {n: qs[n] for n in only}
    results: dict[str, dict] = {}
    t_start = time.time()
    for name, fn in qs.items():
        rec: dict = {
            "rows_match": False, "schema_match": False,
            "values_match": False, "err": None,
        }
        try:
            sdf = fn(spark, sf_dir)
            spark_rows = [r.asDict() for r in sdf.collect()]
            rec["spark_rows"] = len(spark_rows)
            ora = con.execute(oracles[name])
            ora_cols = [d[0] for d in ora.description]
            ora_rows = [dict(zip(ora_cols, row)) for row in ora.fetchall()]
            rec["oracle_rows"] = len(ora_rows)
            rec.update(oracle_match(sdf.columns, spark_rows, ora_cols, ora_rows))
        except Exception:  # noqa: BLE001 - gate must report, not die
            rec["err"] = traceback.format_exc(limit=3)
        results[name] = rec
        ok = rec["rows_match"] and rec["schema_match"] and rec["values_match"]
        print(f"{name}: {'MATCH' if ok else 'FAIL'}", flush=True)

    n_ok = sum(
        1 for r in results.values()
        if r["rows_match"] and r["schema_match"] and r["values_match"]
    )
    merged = dict(results)
    if only and os.path.exists(out_path):
        # Scoped runs refresh only the named queries; merge into the
        # existing artifact so the on-disk gate stays full-surface.
        # Guard rails: never mix scale dirs under one sf_dir label, and
        # prune merged keys to the CURRENT full query surface so renamed
        # or removed queries don't linger in the artifact forever.
        try:
            with open(out_path) as f:
                prior_artifact = json.load(f)
            prior_sf = prior_artifact.get("sf_dir")
            if prior_sf == sf_dir:
                prior = prior_artifact.get("results", {})
                merged = {
                    k: v for k, v in {**prior, **results}.items()
                    if k in full_surface
                }
            else:
                print(
                    f"WARNING: prior artifact sf_dir={prior_sf!r} != "
                    f"{sf_dir!r}; skipping merge (scoped results only)",
                    flush=True,
                )
        except (json.JSONDecodeError, OSError):
            pass
    n_ok_merged = sum(
        1 for r in merged.values()
        if r["rows_match"] and r["schema_match"] and r["values_match"]
    )
    artifact = {
        "sf_dir": sf_dir,
        "n_queries": len(merged),
        "n_match": n_ok_merged,
        "elapsed_sec": round(time.time() - t_start, 1),
        "results": merged,
    }
    with open(out_path, "w") as f:
        json.dump(artifact, f, indent=1, sort_keys=True)
    print(f"\n{n_ok}/{len(results)} match -> {out_path}")
    spark.stop()
    sys.exit(0 if n_ok == len(results) else 1)


if __name__ == "__main__":
    main()
