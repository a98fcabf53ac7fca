"""`serve`: one closed-loop client against the in-process HTTP shim.

The paper's user-facing path: tp2 `GET /recs` strategy lookups, tp1
`GET /customers/{id}/recommendations` composites and `/strategies`
breakdowns, served by `recommend.http.serve` over a `RecommendationService`
and `SparkRecommendationEngine` built once, whose cached frames fit in
memory. Per-request Spark job overhead and the `recommend` layer dominate.
"""

from __future__ import annotations

import http.client
import json
import os
import time

import numpy as np
from pyspark.sql import functions as F

import datagen
import reference
from common import SETUP_REPEATS, Context, Result, mean, median, peak_rss_mb, percentile, timed
from graph_database_spark.recommend import http as rec_http
from graph_database_spark.recommend.engine import SparkRecommendationEngine
from graph_database_spark.recommend.service import RecommendationService
from graph_database_spark.sources.testdata import load_table

DEFAULT_SF = 0.01
LOOKUPS = (("co_occurrence", False), ("similarity", False),
           ("similarity", True), ("pagerank", False))
LIMIT = 10
ZIPF_S = 1.1
# One 40-request cycle: 36 lookups rotating over LOOKUPS, one tp1
# composite, one strategy breakdown and two expected errors, each at a fixed
# slot, so every run spends its time on the same mix whatever the seed; the
# seed draws the customers. The loop runs at least until the composite at
# slot 24 has answered (at 15 s it ends there, with 5-6 samples of each
# lookup strategy); the breakdown at slot 35 is reached by longer runs.
CYCLE = 40
SPECIAL_SLOTS = {7: "bad_strategy", 15: "unknown_customer", 24: "personal",
                 35: "strategies"}


def reference_tables(spark, sf_dir: str) -> dict:
    """FIXTURES.md §4: the generated TPC-H-ish tables in the reference
    roles, keys as strings. lineitem is deduplicated on (order, part) into
    order_items; events carry no product, so `props.k` names the part."""
    s = lambda c: F.col(c).cast("string")
    events = load_table(spark, sf_dir, "events")
    return {
        "customers": load_table(spark, sf_dir, "customer").select(
            s("c_custkey").alias("id"), F.col("c_name").alias("name")),
        "products": load_table(spark, sf_dir, "part").select(
            s("p_partkey").alias("id"), F.col("p_name").alias("name"),
            F.col("p_retailprice").alias("price"),
            F.col("p_brand").alias("category_id")),
        "orders": load_table(spark, sf_dir, "orders").select(
            s("o_orderkey").alias("id"), s("o_custkey").alias("customer_id"),
            F.col("o_orderdate").alias("ts")),
        "order_items": load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey", "l_partkey")
        .agg(F.sum("l_quantity").cast("int").alias("quantity"))
        .select(s("l_orderkey").alias("order_id"),
                s("l_partkey").alias("product_id"), "quantity"),
        "events": events.select(
            s("event_id").alias("id"), s("user_id").alias("customer_id"),
            F.get_json_object("props", "$.k").cast("bigint").cast("string")
            .alias("product_id"),
            F.when(F.col("event_type") == "purchase", "add_to_cart")
            .otherwise(F.col("event_type")).alias("event_type"),
            "ts"),
    }


def setup(ctx: Context, sf_dir: str) -> dict:
    """The timed set-up: load the tables, map them onto the reference
    schema and scan the two mapped with transforms."""
    tables = reference_tables(ctx.spark, sf_dir)
    for name in ("order_items", "events"):
        tables[name].count()
    return tables


def requests(seed: int, n_customers: int, count: int) -> list[dict]:
    """The seeded request sequence; customer keys are Zipf over a seeded
    ranking of the customers."""
    rng = np.random.default_rng([seed, 7])
    ranking = rng.permutation(n_customers)
    weights = 1.0 / np.arange(1, n_customers + 1) ** ZIPF_S
    weights /= weights.sum()
    cids = [str(c) for c in ranking[rng.choice(n_customers, size=count, p=weights)]]
    out = []
    for slot, cid in enumerate(cids):
        kind = SPECIAL_SLOTS.get(slot % CYCLE)
        if kind is None:
            strategy, with_customer = LOOKUPS[len(out) % len(LOOKUPS)]
            q = f"strategy={strategy}&limit={LIMIT}"
            out.append({"kind": "lookup", "path": "/recs?" + q + (f"&customer_id={cid}" if with_customer else ""),
                        "strategy": strategy, "cid": cid if with_customer else None,
                        "status": 200})
        elif kind == "personal":
            out.append({"kind": "personal", "path": f"/customers/{cid}/recommendations",
                        "cid": cid, "status": 200})
        elif kind == "strategies":
            out.append({"kind": "strategies", "path": f"/customers/{cid}/strategies",
                        "cid": cid, "status": 200})
        elif kind == "bad_strategy":
            out.append({"kind": "error", "path": f"/recs?strategy=bogus{slot}",
                        "status": 400})
        else:
            unknown = str(n_customers + int(rng.integers(1, 10**6)))
            out.append({"kind": "error", "path": f"/customers/{unknown}/recommendations",
                        "cid": unknown, "status": 404})
    return out


def traced_handler(base, tracer):
    """The shim's handler class, with each request spanned and its Spark
    jobs tagged with the request's job group."""

    class Handler(base):
        def do_GET(self):
            op, parent = self.headers.get("X-Bench-Op"), self.headers.get("X-Bench-Span")
            with tracer.span("recommend.http.handler", op=op,
                             parent=int(parent) if parent else None, group=True):
                super().do_GET()

    return Handler


def run(ctx: Context) -> Result:
    sf_dir = datagen.write_tables(datagen.generate_tables(ctx.sf, ctx.seed),
                                  os.path.join(ctx.work, "inputs"))
    setups = [timed(setup, ctx, sf_dir) for _ in range(SETUP_REPEATS)]
    tables = setups[-1][0]
    tracer = ctx.tracer
    with tracer.span("recommend.engine.build", op="build", group=True):
        (service, engine), build_s = timed(
            lambda: (RecommendationService(ctx.spark, tables),
                     SparkRecommendationEngine(ctx.spark, tables)))
    tracer.finish_op("build")
    server = rec_http.serve(service, engine)
    host, port = server.server_address[:2]
    n_customers = datagen.table_sizes(ctx.sf)["customer"]
    plan = requests(ctx.seed, n_customers, 4000)
    log = []
    try:
        if tracer.enabled:
            server.RequestHandlerClass = traced_handler(server.RequestHandlerClass, tracer)
            tracer.wrap(service, "recs", "recommend.service.recs")
            tracer.wrap(rec_http, "customer_recommendations", "recommend.service.personal")
            tracer.wrap(engine, "strategy_breakdown", "recommend.service.personal")
        t_start = time.perf_counter()
        composite_done = False
        for i, req in enumerate(plan):
            # run for the time given, and at least until the first composite
            # has answered, so every metric has a sample
            if composite_done and time.perf_counter() >= t_start + ctx.seconds:
                break
            op = f"req{i}"
            with tracer.span("serve.request", op=op) as sp:
                status, body, wall = _get(host, port, req["path"], sp)
            tracer.finish_op(op)
            log.append((req, status, body, wall, op))
            composite_done |= req["kind"] == "personal"
        loop_s = time.perf_counter() - t_start
        rss = peak_rss_mb()
    finally:
        server.shutdown()
        server.server_close()
        tracer.close()
    return _result(ctx, sf_dir, setups, build_s, log, loop_s, rss)


def _get(host, port, path, span):
    """One request on a fresh connection (the shim speaks HTTP/1.0); a
    traced request names its operation and client span in headers."""
    conn = http.client.HTTPConnection(host, port, timeout=120)
    headers = {"X-Bench-Op": span["op"], "X-Bench-Span": str(span["id"])} if span else {}
    t0 = time.perf_counter()
    try:
        conn.request("GET", path, headers=headers)
        resp = conn.getresponse()
        body = resp.read()
        status = resp.status
    finally:
        conn.close()
    return status, body, time.perf_counter() - t0


def _check(log, sf_dir: str) -> tuple[int, int]:
    """Status of every response against the request's expectation, and every
    200 payload against the reference answer. Returns (checked, failed)."""
    con = reference.duck(sf_dir)
    twin = None
    want_cache: dict = {}
    checked = failed = 0
    for req, status, body, _, _ in log:
        ok = status == req["status"]
        if ok and status == 200:
            got = json.loads(body)
            key = (req["kind"], req.get("strategy"), req.get("cid"))
            if req["kind"] != "lookup" and twin is None:
                twin = reference.EngineTwin(sf_dir)
            if key not in want_cache:
                if req["kind"] == "lookup":
                    want_cache[key] = reference.expected_recs(con, req["strategy"], req["cid"], LIMIT)
                elif req["kind"] == "personal":
                    want_cache[key] = twin.recommend(req["cid"])
                else:
                    want_cache[key] = twin.breakdown(req["cid"])
            want = want_cache[key]
            if req["kind"] == "lookup":
                ok = got["recommendations"] == want
            elif req["kind"] == "personal":
                ok = reference.ranked_match(got["recommendations"], want, 3)
            else:
                ok = (set(got["strategies"]) == set(want) and all(
                    reference.ranked_match(got["strategies"][k], want[k], 3) for k in want))
        checked += 1
        failed += not ok
    con.close()
    return checked, failed


def _result(ctx, sf_dir, setups, build_s, log, loop_s, rss) -> Result:
    lookup = {lk: [w * 1000 for r, _, _, w, _ in log
                   if r["kind"] == "lookup" and (r["strategy"], r["cid"] is not None) == lk]
              for lk in LOOKUPS}
    personal = [w * 1000 for r, _, _, w, _ in log if r["kind"] in ("personal", "strategies")]
    walls = [w for *_, w, _ in log]
    checked, failed = _check(log, sf_dir)
    seen, repeats, keyed = set(), 0, 0
    for r, *_ in log:
        if r.get("cid") is not None and r["status"] != 404:
            keyed += 1
            repeats += r["cid"] in seen
            seen.add(r["cid"])
    all_lookups = [x for v in lookup.values() for x in v]
    e2e = {
        "setup_s": median([s for _, s in setups]),
        "ready_s": build_s,
        # the four strategies' latencies differ several-fold, so the median
        # of the pooled lookups jumps between them; average their medians
        "op_ms": sum(median(v) for v in lookup.values()) / len(lookup),
        "tail_ms": median(personal),
    }
    report = {
        "peak_rss_mb": rss,
        "model_build_s": build_s,
        "lookup_p50_ms": median(all_lookups),
        "lookup_p90_ms": percentile(all_lookups, 0.9),
        "personal_p50_ms": e2e["tail_ms"],
        "serve_req_per_s": len(walls) / sum(walls),
        "failed_share": failed / max(1, checked),
        "samples": {"lookup": len(all_lookups), "all": len(walls),
                    **{k: sum(r["kind"] == k for r, *_ in log) for k in ("personal", "strategies")}},
        "repeated_customer_key_share": repeats / max(1, keyed),
        "distinct_customers": len(seen),
        **{f"lookup_{s}{'_customer' if c else ''}_p50_ms": median(v)
           for (s, c), v in lookup.items()},
    }
    ops = [op for *_, op in log]
    layers = {}
    t = ctx.tracer
    if t.enabled:
        handler = {s["op"]: s for s in t.named("recommend.http.handler", ops)}
        client = t.named("serve.request", ops)
        over = [(c["end"] - c["start"] - (handler[c["op"]]["end"] - handler[c["op"]]["start"])) * 1000
                for c in client if c["op"] in handler]
        recs = t.named("recommend.service.recs", ops)
        pers = [s for s in t.named("recommend.service.personal", ops) if not s["error"]]
        layers.update({
            "recommend.http.overhead_ms": mean(over),
            "recommend.service.recs_ms": mean((s["end"] - s["start"]) * 1000 for s in recs),
            "recommend.service.personal_ms": mean((s["end"] - s["start"]) * 1000 for s in pers),
            "recommend.engine.jobs_per_request": mean(t.jobs_under(s) for s in pers),
            "recommend.engine.build_s": build_s,
        })
    return Result(e2e, layers, attempted=checked, failed=failed, report=report, ops=ops,
                  loop_s=loop_s)

