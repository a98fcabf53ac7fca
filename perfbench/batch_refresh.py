"""`batch-refresh`: refresh cycles of the registry's batch entries.

Each cycle runs `recommend_batch` (top-5 for every customer),
`pagerank_global` (converged to tolerance) and `ppr_fixed20_batch`, and
writes each to parquet. Nothing is cached between cycles and the inputs
are larger than the serving engine's cached frames, so scans (`sources`),
the co-occurrence self-join and top-k (`operators`) and the PageRank loops
(`graphs`) do the work; `recommend` does none. Each run starts a fresh
driver, as a scheduled refresh job does, and repeats cycles until its time
is spent.
"""

from __future__ import annotations

import math
import os
import time

import pyarrow.parquet as pq

import datagen
import reference
from common import SETUP_REPEATS, Context, Result, mean, median, peak_rss_mb, timed
from graph_database_spark.registry import ORACLES, QUERIES
from graph_database_spark.sources.testdata import load_table

DEFAULT_SF = 0.01
ENTRIES = ("recommend_batch", "pagerank_global", "ppr_fixed20_batch")
# Converged PageRank, per product: the program stops once one step moves
# the ranks by < 1e-6 in L1, so with damping 0.85 they lie within
# 1e-6 * 0.85 / 0.15 < 5.7e-6 (L1) of the fixed point, plus 5e-7 of
# rounding to 6 dp. (The mean rank at sf0.01 is 5e-4.)
RANK_TOL = 7e-6


def setup(ctx: Context, sf_dir: str) -> None:
    """The timed set-up: load and scan the entries' input tables."""
    for table in ("lineitem", "orders", "part"):
        load_table(ctx.spark, sf_dir, table).count()


def run(ctx: Context) -> Result:
    sf_dir = datagen.write_tables(datagen.generate_tables(ctx.sf, ctx.seed),
                                  os.path.join(ctx.work, "inputs"))
    setups = [timed(setup, ctx, sf_dir) for _ in range(SETUP_REPEATS)]
    tracer = ctx.tracer
    cycles: list[dict[str, float]] = []
    ops: list[str] = []
    t_start = time.perf_counter()
    while not cycles or time.perf_counter() < t_start + ctx.seconds:
        c = len(cycles)
        times = {}
        for name in ENTRIES:
            op = f"cycle{c}.{name}"
            path = os.path.join(ctx.work, "out", f"cycle{c}", name)
            t0 = time.perf_counter()
            with tracer.span("refresh.entry", op=op):
                with tracer.span(f"queries.{name}.call", group=True):
                    df = QUERIES[name](ctx.spark, sf_dir)
                with tracer.span(f"queries.{name}.write", group=True):
                    df.write.parquet(path)
            times[name] = time.perf_counter() - t0
            tracer.finish_op(op)
            ops.append(op)
        cycles.append(times)
    loop_s = time.perf_counter() - t_start
    rss = peak_rss_mb()

    failed = _check(ctx.work, sf_dir, len(cycles))
    totals = [sum(t.values()) for t in cycles]
    e2e = {
        "setup_s": median([s for _, s in setups]),
        "ready_s": cycles[0]["recommend_batch"],
        "op_ms": 1000 * median(totals),
        "tail_ms": 1000 * median([t["ppr_fixed20_batch"] for t in cycles]),
    }
    report = {
        "peak_rss_mb": rss,
        "refresh_s": median(totals),
        "batch_recs_s": median([t["recommend_batch"] for t in cycles]),
        "pagerank_s": median([t["pagerank_global"] for t in cycles]),
        "ppr_batch_s": median([t["ppr_fixed20_batch"] for t in cycles]),
        "failed_share": failed / len(ops),
        "samples": {"cycles": len(cycles)},
    }
    layers = {}
    if tracer.enabled:
        for name in ENTRIES:
            for part in ("call", "write"):
                layers[f"queries.{name}.{part}_ms"] = mean(
                    (s["end"] - s["start"]) * 1000
                    for s in tracer.named(f"queries.{name}.{part}", ops))
    return Result(e2e, layers, attempted=len(ops), failed=failed, report=report,
                  ops=ops, loop_s=loop_s)


def _check(work: str, sf_dir: str, n_cycles: int) -> int:
    """Compare every written output with its reference: the registry's DuckDB
    oracle for the two fixed-step entries, a NumPy PageRank converged far
    past the program's tolerance for `pagerank_global`. Returns the number
    of mismatching outputs."""
    con = reference.duck(sf_dir)
    want = {}
    for name in ("recommend_batch", "ppr_fixed20_batch"):
        cur = con.execute(ORACLES[name])
        cols = [d[0] for d in cur.description]
        want[name] = _canonical([dict(zip(cols, r)) for r in cur.fetchall()])
    con.close()
    twin = reference.EngineTwin(sf_dir)
    want["pagerank_global"] = dict(zip(twin.ids, twin.global_rank.tolist()))
    failed = 0
    for c in range(n_cycles):
        for name in ENTRIES:
            rows = pq.read_table(os.path.join(work, "out", f"cycle{c}", name)).to_pylist()
            if name == "pagerank_global":
                ranks = want[name]
                ok = len(rows) == len(ranks) and all(
                    math.isclose(r["rank"], ranks.get(str(r["product_id"]), -1.0), abs_tol=RANK_TOL)
                    for r in rows)
            else:
                ok = _rows_match(_canonical(rows), want[name])
            failed += not ok
    return failed


def _canonical(rows: list[dict]) -> list[tuple]:
    return sorted(tuple(sorted(r.items())) for r in rows)


def _rows_match(got: list[tuple], want: list[tuple], tol: float = 2e-6) -> bool:
    """Equal rows, float columns within `tol` (6-dp rounding of sums taken
    in a different order)."""
    if len(got) != len(want):
        return False
    for g, w in zip(got, want):
        for (kg, vg), (kw, vw) in zip(g, w):
            if kg != kw:
                return False
            if isinstance(vg, float) or isinstance(vw, float):
                if not math.isclose(vg, vw, abs_tol=tol):
                    return False
            elif vg != vw:
                return False
    return True
