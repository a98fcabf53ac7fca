"""Reference answers the benchmark checks the program's outputs against.

They are computed outside the timed region, from the generated parquet,
without Spark: DuckDB SQL for the tp2 `/recs` strategies, and a NumPy
re-statement of the tp1 engine (co-occurrence, Jaccard, personalized
PageRank; semantics as documented in `recommend/engine.py`) for the
per-customer routes and the converged global PageRank.
"""

from __future__ import annotations

import json
import math
import os

import duckdb
import numpy as np
import pandas as pd

# purchase plays add_to_cart's role (FIXTURES.md §4); other types weigh 0
EVENT_WEIGHTS = {"view": 0.5, "click": 1.0, "purchase": 2.0}
STRATEGY_WEIGHTS = {"co_occurrence": 0.4, "similarity": 0.3,
                    "personalized_pagerank": 0.3}
SCORE_TOL = 1e-4  # PageRank-derived scores (FIXTURES.md §3 comparison rule)


def duck(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in ("customer", "part", "orders", "lineitem", "events"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(sf_dir, t + '.parquet')}')")
    return con


# -- tp2 /recs over the reference-schema mapping ---------------------------

_ITEMS = """SELECT DISTINCT CAST(l_orderkey AS VARCHAR) AS o,
                            CAST(l_partkey AS VARCHAR) AS p FROM lineitem"""
_INC = f"""SELECT DISTINCT customer_id, product_id FROM (
  SELECT CAST(o.o_custkey AS VARCHAR) AS customer_id, i.p AS product_id
  FROM ({_ITEMS}) i JOIN orders o ON i.o = CAST(o.o_orderkey AS VARCHAR)
  UNION ALL
  SELECT CAST(user_id AS VARCHAR),
         CAST(CAST(json_extract_string(props, '$.k') AS BIGINT) AS VARCHAR)
  FROM events)"""

RECS_SQL = {
    "co_occurrence": f"""WITH items AS ({_ITEMS})
      SELECT b.p AS product_id, COUNT(*) AS co_count
      FROM items a JOIN items b ON a.o = b.o AND a.p <> b.p
      GROUP BY 1 ORDER BY co_count DESC, product_id LIMIT $limit""",
    "similarity": f"""WITH inc AS ({_INC})
      SELECT product_id, COUNT(DISTINCT customer_id) AS reach FROM inc
      GROUP BY 1 ORDER BY reach DESC, product_id LIMIT $limit""",
    "similarity_customer": f"""WITH inc AS ({_INC}),
      seeds AS (SELECT product_id AS p1 FROM inc WHERE customer_id = $cid),
      shared AS (SELECT i.customer_id AS c2, COUNT(*) AS n_shared
                 FROM inc i JOIN seeds s ON i.product_id = s.p1
                 WHERE i.customer_id <> $cid GROUP BY 1),
      cands AS (SELECT i.customer_id AS c2, i.product_id AS p2, sh.n_shared,
                       CASE WHEN s.p1 IS NULL THEN 0 ELSE 1 END AS is_seed
                FROM inc i JOIN shared sh ON i.customer_id = sh.c2
                LEFT JOIN seeds s ON i.product_id = s.p1)
      SELECT p2 AS product_id, COUNT(DISTINCT c2) AS cf_count FROM cands
      WHERE n_shared > is_seed
      GROUP BY 1 ORDER BY cf_count DESC, product_id LIMIT $limit""",
    "pagerank": f"""WITH items AS ({_ITEMS})
      SELECT p AS product_id, COUNT(DISTINCT o) AS order_count FROM items
      GROUP BY 1 ORDER BY order_count DESC, product_id LIMIT $limit""",
}


def expected_recs(con, strategy: str, customer_id: str | None,
                  limit: int) -> list[dict]:
    key = "similarity_customer" if (strategy == "similarity"
                                    and customer_id is not None) else strategy
    params = {"limit": limit}
    if key == "similarity_customer":
        params["cid"] = customer_id
    cur = con.execute(RECS_SQL[key], params)
    cols = [d[0] for d in cur.description]
    return [dict(zip(cols, row)) for row in cur.fetchall()]


# -- PageRank with the engine's semantics -----------------------------------

def pagerank(n: int, src: np.ndarray, dst: np.ndarray, w: np.ndarray,
             pers: np.ndarray | None = None, damping: float = 0.85) -> np.ndarray:
    """Power iteration to a 1e-13 L1 fixed point: teleport to `pers`
    (uniform when None), dangling mass spread uniformly over all N."""
    p = np.full(n, 1.0 / n) if pers is None else pers / pers.sum()
    has_out = np.zeros(n, dtype=bool)
    has_out[src] = True
    rank = np.full(n, 1.0 / n)
    for _ in range(10_000):
        inflow = np.bincount(dst, weights=rank[src] * w, minlength=n)
        new = (1 - damping) * p + damping * inflow + damping * rank[~has_out].sum() / n
        delta = np.abs(new - rank).sum()
        rank = new
        if delta < 1e-13:
            break
    return rank


class EngineTwin:
    """NumPy twin of `SparkRecommendationEngine` over the benchmark's
    reference-schema mapping of the generated tables."""

    def __init__(self, sf_dir: str):
        read = lambda t: pd.read_parquet(os.path.join(sf_dir, t + ".parquet"))
        products = read("part")["p_partkey"].astype(str).tolist()
        self.customers = set(read("customer")["c_custkey"].astype(str))
        self.ids = np.array(products, dtype=object)
        self.index = {p: i for i, p in enumerate(products)}
        n = len(products)

        li = read("lineitem")[["l_orderkey", "l_partkey"]].drop_duplicates()
        orders = read("orders")[["o_orderkey", "o_custkey"]]
        ev = read("events")
        ev_pairs = pd.DataFrame({
            "c": ev["user_id"].astype(str),
            "p": [str(json.loads(s)["k"]) for s in ev["props"]],
            "w": ev["event_type"].map(EVENT_WEIGHTS).fillna(0.0)})
        ord_pairs = li.merge(orders, left_on="l_orderkey", right_on="o_orderkey")
        inc = pd.concat([
            pd.DataFrame({"c": ord_pairs["o_custkey"].astype(str),
                          "p": ord_pairs["l_partkey"].astype(str)}),
            ev_pairs[["c", "p"]]]).drop_duplicates()
        self.touched = inc.groupby("c")["p"].apply(set).to_dict()
        self.customers_of = inc.groupby("p")["c"].apply(set).to_dict()
        wsum = ev_pairs.groupby(["c", "p"])["w"].sum()
        pos = wsum[wsum > 0].reset_index()
        self.interacted = pos.groupby("c")["p"].apply(set).to_dict()

        a = li.rename(columns={"l_partkey": "a"})
        b = li.rename(columns={"l_partkey": "b"})
        pairs = a.merge(b, on="l_orderkey")
        pairs = pairs[pairs["a"] < pairs["b"]].groupby(["a", "b"]).size()
        pa_, pb_ = (np.array([self.index[str(x)] for x in pairs.index.get_level_values(lvl)],
                             dtype=np.int64) for lvl in (0, 1))
        cnt = pairs.to_numpy().astype(float)
        self.src = np.concatenate([pa_, pb_])
        self.dst = np.concatenate([pb_, pa_])
        self.cnt = np.concatenate([cnt, cnt])
        row_sum = np.bincount(self.src, weights=self.cnt, minlength=n)
        self.w = self.cnt / row_sum[self.src]
        self.n = n
        self.global_rank = pagerank(n, self.src, self.dst, self.w)

    def _seed_context(self, cid: str):
        purchased = self.touched.get(cid, set())
        interacted = self.interacted.get(cid, set())
        return purchased, interacted, (purchased or interacted)

    def _strategies(self, seeds: set[str]) -> dict[str, dict[str, float]]:
        seed_idx = np.array([self.index[s] for s in seeds], dtype=np.int64)
        is_seed = np.zeros(self.n, dtype=bool)
        is_seed[seed_idx] = True
        hit = is_seed[self.src] & ~is_seed[self.dst]
        co = np.bincount(self.dst[hit], weights=self.cnt[hit], minlength=self.n)
        cooc = {self.ids[i]: float(co[i]) for i in np.nonzero(co)[0]}

        sim: dict[str, float] = {}
        for s in seeds:
            cs = self.customers_of.get(s, set())
            for p, cp in self.customers_of.items():
                if p in seeds:
                    continue
                inter = len(cs & cp)
                if inter:
                    sim[p] = sim.get(p, 0.0) + inter / (len(cs) + len(cp) - inter)
        pers = np.zeros(self.n)
        pers[seed_idx] = 1.0
        ppr = pagerank(self.n, self.src, self.dst, self.w, pers)
        return {"co_occurrence": cooc, "similarity": sim,
                "personalized_pagerank": dict(zip(self.ids, ppr.tolist()))}

    def recommend(self, cid: str, top_n: int = 3) -> list[dict] | None:
        """Rows of GET /customers/{cid}/recommendations; None means 404."""
        if cid not in self.customers:
            return None
        purchased, interacted, seeds = self._seed_context(cid)
        if not seeds:
            order = sorted(range(self.n), key=lambda i: (-self.global_rank[i], self.ids[i]))
            return [{"product_id": self.ids[i], "score": self.global_rank[i],
                     "co_occurrence": None, "similarity": None,
                     "personalized_pagerank": None,
                     "global_pagerank": self.global_rank[i]} for i in order[:top_n]]
        exclude = purchased | interacted
        combined: dict[str, dict[str, float]] = {}
        for name, scores in self._strategies(seeds).items():
            top = max(scores.values(), default=0.0)
            for p, v in scores.items():
                v = v / top if top > 0 else 0.0
                if v > 0 and p not in exclude:
                    combined.setdefault(p, {})[name] = v * STRATEGY_WEIGHTS[name]
        rows = [{"product_id": p, "score": sum(c.values()),
                 **{k: c.get(k) for k in STRATEGY_WEIGHTS}, "global_pagerank": None}
                for p, c in combined.items()]
        rows.sort(key=lambda r: (-r["score"], r["product_id"]))
        return rows

    def breakdown(self, cid: str) -> dict[str, list[dict]] | None:
        """Full rankings behind GET /customers/{cid}/strategies."""
        if cid not in self.customers:
            return None
        purchased, interacted, seeds = self._seed_context(cid)
        if not seeds:
            rows = [{"product_id": p, "score": r}
                    for p, r in zip(self.ids, self.global_rank.tolist())]
            return {"global_pagerank": sorted(rows, key=lambda r: (-r["score"], r["product_id"]))}
        exclude = purchased | interacted
        out = {}
        for name, scores in self._strategies(seeds).items():
            rows = [{"product_id": p, "score": v} for p, v in scores.items()
                    if p not in exclude]
            out[name] = sorted(rows, key=lambda r: (-r["score"], r["product_id"]))
        return out


def ranked_match(got: list[dict], ranking: list[dict], n: int,
                 tol: float = SCORE_TOL) -> bool:
    """`got` equals the top `n` of the full reference `ranking` with
    scores within `tol`; a product may differ from the reference's at a
    position only if the reference scores it within `2·tol` of that
    position's score (a tie broken by float noise)."""
    want = ranking[:n]
    if len(got) != len(want):
        return False
    ref = {r["product_id"]: r for r in ranking}
    for g, w in zip(got, want):
        r = ref.get(g["product_id"])
        if (r is None or not math.isclose(g["score"], w["score"], abs_tol=tol)
                or not math.isclose(r["score"], w["score"], abs_tol=2 * tol)):
            return False
        if any(not math.isclose(v or 0.0, r.get(k) or 0.0, abs_tol=tol)
               for k, v in g.items() if k not in ("product_id", "score")):
            return False
    return True
