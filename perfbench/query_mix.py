"""The ``query_mix`` workload: ten registered queries of the engine in a
cycle. The cycle always opens with the same query, which absorbs the cold
JVM's start-up; the seed shuffles the order of the other nine. The input
tables are generated from a fixed seed, so results can be compared with
hashes recorded from an oracle-matched run.

A cycle builds each query and collects its result (at most a few hundred
rows), so the timed results are the checked ones.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import math
import os
import random
import time

from perfbench import tables_gen
from perfbench.harness import fresh_dir

QUERY_NAMES = (
    "corpus_dedup_summary", "doc_curation_manifest", "dedup_detector_agreement",
    "similarity_ivfpq_rerank", "embedding_ann_recall",
    "corpus_bigram_cond_entropy", "pricing_summary", "events_sessionize",
    "part_basket_pairs", "top_users",
)
DATA_SEED = 20240101
HASHES_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "query_hashes.json")
# queries whose DuckDB oracle runs in well under a second on these tables;
# the others are compared with the recorded hash
ORACLE_LIVE = ("embedding_ann_recall", "corpus_bigram_cond_entropy",
               "pricing_summary", "events_sessionize", "part_basket_pairs",
               "top_users")


def normalize(rows: list[dict]) -> list[tuple]:
    """Order-insensitive, engine-neutral rows: columns by name, floats to
    six significant digits, -0.0 folded into 0.0."""
    out = []
    for r in rows:
        vals = []
        for k in sorted(r):
            v = r[k]
            if isinstance(v, float):
                v = float(f"{v:.6g}") + 0.0 if math.isfinite(v) else repr(v)
            vals.append((k, v))
        out.append(tuple(vals))
    return sorted(out, key=repr)


def rows_match(got: list[dict], want: list[dict]) -> bool:
    """Same rows, floats equal to a relative 1e-5 after normalizing (so a
    value on a rounding boundary cannot flip the verdict)."""
    a, b = normalize(got), normalize(want)
    if len(a) != len(b):
        return False
    for ra, rb in zip(a, b):
        for (ka, va), (kb, vb) in zip(ra, rb):
            if ka != kb:
                return False
            if isinstance(va, float) and isinstance(vb, float):
                if not math.isclose(va, vb, rel_tol=1e-5, abs_tol=1e-9):
                    return False
            elif va != vb:
                return False
    return True


def result_hash(rows: list[dict]) -> str:
    return hashlib.sha256(repr(normalize(rows)).encode()).hexdigest()


def cycle_order(seed: int) -> tuple[str, ...]:
    """The first of ``QUERY_NAMES``, then the other nine in an order drawn
    from ``seed``."""
    rest = list(QUERY_NAMES[1:])
    random.Random(seed).shuffle(rest)
    return (QUERY_NAMES[0], *rest)


class QueryMix:
    def __init__(self, spark, seed: int):
        self.spark = spark
        self.data_dir = fresh_dir("inputs", "query_mix")
        tables_gen.generate(DATA_SEED, self.data_dir)
        self.cycle = cycle_order(seed)

    def check(self, results: dict[str, list[dict]]) -> dict[str, bool]:
        """Live DuckDB oracle where it is fast, recorded hash elsewhere."""
        import duckdb

        from beacon_indexer_spark.plans.queries import oracles

        with open(HASHES_PATH) as f:
            recorded = json.load(f)
        sql = oracles()
        con = duckdb.connect()
        try:
            for t in tables_gen.TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"'{self.data_dir}/{t}.parquet'")
            ok = {}
            for q, rows in results.items():
                if q in ORACLE_LIVE:
                    cur = con.execute(sql[q])
                    cols = [d[0] for d in cur.description]
                    want = [dict(zip(cols, r)) for r in cur.fetchall()]
                    ok[f"oracle.{q}"] = rows_match(rows, want)
                else:
                    ok[f"hash.{q}"] = result_hash(rows) == recorded[q]
            return ok
        finally:
            con.close()

    def run_cycle(self, span, exchanges: dict | None = None):
        """One cycle: returns each query's wall time and collected rows.
        ``span`` wraps the build and the execution of each query. With
        ``exchanges``, also counts the exchanges of each final physical
        plan into it, after the query ran (traced runs only)."""
        from beacon_indexer_spark.plans.queries import QUERIES

        times, results = {}, {}
        for q in self.cycle:
            t0 = time.perf_counter()
            with span(f"q.{q}.build"):
                df = QUERIES[q](self.spark, self.data_dir)
            with span(f"q.{q}.exec"):
                rows = df.collect()
            times[q] = time.perf_counter() - t0
            results[q] = [r.asDict() for r in rows]
            if exchanges is not None:
                exchanges[q] = count_exchanges(df._jdf.queryExecution().executedPlan())
        return times, results


def count_exchanges(plan) -> int:
    """Shuffle and broadcast exchanges of a physical plan (a JVM
    ``SparkPlan``). Under adaptive execution only the final plan counts,
    entered through its query stages; reused exchanges, cached relations
    and subqueries do not count."""
    kind = plan.getClass().getSimpleName()
    if kind == "AdaptiveSparkPlanExec":
        return count_exchanges(plan.executedPlan())
    if kind.endswith("QueryStageExec"):  # shuffle, broadcast, result stages
        return count_exchanges(plan.plan())
    n = int(kind in ("ShuffleExchangeExec", "BroadcastExchangeExec"))
    children = plan.children().iterator()
    while children.hasNext():
        n += count_exchanges(children.next())
    return n


def record_hashes(spark) -> dict[str, str]:
    """Hashes of every query result, after checking each against its DuckDB
    oracle; writes ``query_hashes.json``. Run once when the tables or the
    query list change: ``python3 perfbench/run.py --record-hashes``."""
    import duckdb

    from beacon_indexer_spark.plans.queries import oracles

    mix = QueryMix(spark, 0)
    _, results = mix.run_cycle(lambda name: contextlib.nullcontext())
    con = duckdb.connect()
    try:
        for t in tables_gen.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{mix.data_dir}/{t}.parquet'")
        hashes = {}
        for q in QUERY_NAMES:
            cur = con.execute(oracles()[q])
            cols = [d[0] for d in cur.description]
            want = [dict(zip(cols, r)) for r in cur.fetchall()]
            if not rows_match(results[q], want):
                raise SystemExit(f"{q}: Spark result differs from its oracle")
            hashes[q] = result_hash(results[q])
    finally:
        con.close()
    with open(HASHES_PATH, "w") as f:
        json.dump(hashes, f, indent=1, sort_keys=True)
        f.write("\n")
    return hashes
