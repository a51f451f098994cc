"""Warm closed-loop passes over a cross-family slice of the query suite.

Each query is built through ``__spark_entry__.queries()`` and executed
with the ``noop`` sink.  The untimed warm-up pass also collects every
result and compares it with DuckDB over ``oracle_sql()`` -- sorted column
names, row count and an order-insensitive hash of the canonical rows.
"""

from __future__ import annotations

import contextlib
import hashlib
import math
import os
import time

# query -> family (the module the query mainly calls)
QUERIES = {
    "count_by_state": "reference",
    "q1_pricing_summary": "tpch",
    "q4_order_priority": "tpch",
    "asof_purchase_view": "operators",
    "dedup_exact": "dedup",
    "similarity_topk": "similarity",
    "doc_signals": "text",
    "chunk_manifest": "packing",
    "multimodal_meta": "multimodal",
    "connected_components_labels": "graph",
}
FAMILIES = sorted(set(QUERIES.values()))
SF = 0.1
MIN_PASSES = 2


def _canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if math.isinf(v):
            return "inf" if v > 0 else "-inf"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return str(v)


def result_digest(columns: list[str], rows) -> tuple[list[str], int, str]:
    """(sorted columns, row count, order-insensitive value hash)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted(",".join(_canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\n".join(lines).encode()).hexdigest()
    return sorted(columns), len(lines), h


def oracle_digests(data_dir: str, names) -> dict[str, tuple]:
    import duckdb

    import __spark_entry__ as entry
    from datagen import TABLES

    sql = entry.oracle_sql()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    out = {}
    for name in names:
        cur = con.execute(sql[name])
        out[name] = result_digest([c[0] for c in cur.description], cur.fetchall())
    con.close()
    return out


def setup(spark, work: str, seed: int, corrupt_reference: bool = False) -> dict:
    """Generate the tables, run the checked warm-up pass; return the
    per-query verdicts (True = matches the oracle)."""
    import __spark_entry__ as entry
    from datagen import generate

    data_dir = os.path.join(work, "data")
    generate(data_dir, SF, seed)
    qs = entry.queries()
    expected = oracle_digests(data_dir, QUERIES)
    if corrupt_reference:
        cols, n, _ = expected[next(iter(QUERIES))]
        expected[next(iter(QUERIES))] = (cols, n, "0" * 64)
    ok = {}
    for name in QUERIES:
        try:
            df = qs[name](spark, data_dir)
            got = result_digest(df.columns, [tuple(r) for r in df.collect()])
            ok[name] = got == expected[name]
        except Exception:  # noqa: BLE001 - a raising query is a failed query
            ok[name] = False
    return {"data_dir": data_dir, "ok": ok, "queries": qs}


def timed_passes(spark, state: dict, seconds: float, spans=None) -> dict:
    """Closed loop of whole passes: as many as fit in ``seconds`` judging
    by the last pass, and at least ``MIN_PASSES``.  Records construct and
    action time per execution.

    Starting a pass only when it should end in time keeps the pass count
    steady from run to run; later passes are warmer, so a count that
    flips between 2 and 3 would move the per-query medians.
    """
    qs, data_dir = state["queries"], state["data_dir"]
    span = spans.span if spans is not None else (lambda _name: contextlib.nullcontext())
    execs = []  # (pass, query, construct_s, action_s, t_start, t_mid, t_end, error)
    t0 = time.time()
    p, last = 0, 0.0
    while p < MIN_PASSES or time.time() - t0 + last <= seconds:
        t_pass = time.time()
        for name in QUERIES:
            a = time.time()
            b, err = None, False
            try:
                with span(f"driver:{name}"):
                    df = qs[name](spark, data_dir)
                b = time.time()
                with span(f"exec:{name}"):
                    df.write.format("noop").mode("overwrite").save()
            except Exception:  # noqa: BLE001 - a raising query is a failed execution
                b = b or time.time()
                err = True
            c = time.time()
            execs.append((p, name, b - a, c - b, a, b, c, err))
        last = time.time() - t_pass
        p += 1
    return {"execs": execs, "passes": p, "wall_s": time.time() - t0}
