"""The sketch workload: the DataFrame sketch aggregates by group, a
merge of their images, theta set operations and the SQL UDAF, each
call materialised; estimates are checked against DuckDB's exact
answers on the same parquet."""

from __future__ import annotations

import json
import math
import time
from contextlib import nullcontext
from pathlib import Path


from harness import Tracer, job_group_stats, spark_runtime
from inputs import FREQ_SHARE

WARM_ROWS = 20_000
# estimate checks allow 5 standard errors: with ~150 checked estimates
# per run a correct sketch fails one with probability ~1e-4
SIGMAS = 5
KLL_RANKS = (0.01, 0.1, 0.5, 0.9, 0.99)
VIEW = "perfbench_rows"

CALLS = ("sketch_aggs.theta", "sketch_aggs.hll", "sketch_aggs.kll",
         "sketch_aggs.freq", "sketch_aggs.theta_union",
         "sketch_aggs.theta_setops", "sql_registry.theta_build")


class SketchWorkload:
    def open(self, spark, inp: Path) -> dict:
        from datasketches_java_spark.functions.sql_registry import (
            register_sql_functions)
        register_sql_functions(spark)
        rows = spark.read.parquet(str(inp / "rows.parquet"))
        rows.count()
        return {"rows": rows}

    def warm(self, spark, state: dict, scratch: Path) -> None:
        self._calls(spark, state["rows"].limit(WARM_ROWS))

    def _calls(self, spark, rows, span=None) -> dict:
        """Every sketch call of the workload, each one materialised."""
        from pyspark.sql import functions as F

        from datasketches_java_spark.functions import sketch_aggs as A
        span = span or (lambda name: nullcontext())
        rows.createOrReplaceTempView(VIEW)
        out = {}
        with span("sketch_aggs.theta"):
            theta = A.theta_sketch_agg(rows, "uid", by=["grp"]).persist()
            out["theta"] = theta.collect()
        with span("sketch_aggs.hll"):
            out["hll"] = A.hll_sketch_agg(rows, "s", by=["grp"]).collect()
        with span("sketch_aggs.kll"):
            out["kll"] = A.kll_sketch_agg(rows, "v", by=["grp"]).collect()
        with span("sketch_aggs.freq"):
            out["freq"] = A.freq_sketch_agg(rows, "item", by=["grp"]).collect()
        with span("sketch_aggs.theta_union"):
            out["union"] = (A.theta_union_agg(theta)
                            .select(A.theta_estimate("theta_sketch").alias("est"))
                            .first()["est"])
        with span("sketch_aggs.theta_setops"):
            b = (A.theta_sketch_agg(rows, "uid_b", by=["grp"])
                 .withColumnRenamed("theta_sketch", "tb"))
            ab = theta.join(b, on="grp")
            out["setops"] = ab.select(
                "grp",
                A.theta_estimate(A.theta_intersect_pair("theta_sketch", "tb"))
                .alias("inter"),
                A.theta_estimate(A.theta_a_not_b_pair("theta_sketch", "tb"))
                .alias("a_not_b"),
                A.theta_jaccard_pair("theta_sketch", "tb").alias("jaccard"),
            ).collect()
        with span("sql_registry.theta_build"):
            out["sql"] = spark.sql(
                f"SELECT grp, theta_sketch_estimate(theta_sketch_build(uid)) AS est "
                f"FROM {VIEW} GROUP BY grp").collect()
        theta.unpersist()
        return out

    def measure(self, spark, state: dict, inp: Path, scratch: Path,
                seconds: float, sampler, ops) -> dict:
        exact = json.loads((inp / "exact.json").read_text())
        n_rows = state["rows"].count()
        walls, recalls, worst = [], [], {}
        while sum(walls) < seconds or not walls:
            with ops.attempt("sketch calls", len(CALLS)):
                with sampler:
                    t0 = time.perf_counter()
                    out = self._calls(spark, state["rows"])
                    walls.append(time.perf_counter() - t0)
                recall, w = check(out, exact, inp, ops)
                recalls.append(recall)
                worst = {f: max(x, worst.get(f, 0.0)) for f, x in w.items()}
            if ops.last_failed:
                break
        return {"walls": walls, "items": n_rows, "recall": min(recalls or [0.0]),
                "worst_error_share_of_tolerance": worst}

    def traced(self, spark, state: dict, inp: Path, scratch: Path, ops) -> dict:
        exact = json.loads((inp / "exact.json").read_text())
        tracer = Tracer(spark)
        with ops.attempt("sketch calls", len(CALLS)):
            with tracer.span("pipeline"):
                ref = self._calls(spark, state["rows"])
        with ops.attempt("traced sketch calls", len(CALLS)):
            out = self._calls(spark, state["rows"], tracer.span)
            check(out, exact, inp, ops)
            # theta and HLL images do not depend on how rows were batched
            for k in ("theta", "hll", "sql"):
                ops.expect(sorted(map(tuple, out[k])) == sorted(map(tuple, ref[k])),
                           f"traced {k} output differs from the untraced run")
        return {"wall": tracer.spans["pipeline"], "tracer": tracer}

    def layer_metrics(self, t: dict, events_dir: Path) -> dict:
        spans = t["tracer"].spans
        st = job_group_stats(events_dir)
        agg = [v for g, v in st.items() if g.startswith("sketch_aggs.")]
        sql = st.get("sql_registry.theta_build", {})
        traced_total = sum(spans[c] for c in CALLS)
        m = {f"{c}_s": spans[c] for c in CALLS}
        m.update({
            "sketch_aggs.shuffle_mb": sum(v["shuffle_read_mb"] for v in agg),
            "sketch_aggs.task_s": sum(v["task_s"] for v in agg),
            "sql_registry.shuffle_mb": sql.get("shuffle_read_mb", 0.0),
            **spark_runtime(st),
            "trace.overhead_s": traced_total - t["wall"],
        })
        return m


def check(out: dict, exact: dict, inp: Path, ops) -> tuple[float, dict]:
    """Estimates against exact answers.  Returns the frequent-items
    recall (true heavy hitters reported / true heavy hitters) and, per
    sketch family, the worst error as a share of its tolerance."""
    from datasketches_java_spark.config import (
        DEFAULT_LG_K, HLL_DEFAULT_LG_K, KLL_DEFAULT_K)
    from datasketches_java_spark.sketches import hll, theta
    from datasketches_java_spark.sketches.frequencies import ItemsSketch
    from datasketches_java_spark.sketches.kll import KllDoublesSketch, rank_error
    groups = exact["groups"]
    k = 1 << DEFAULT_LG_K
    theta_rse = 1 / math.sqrt(k)
    hll_rse = 1.04 / math.sqrt(1 << HLL_DEFAULT_LG_K)
    worst: dict[str, float] = {}

    def within(family: str, err: float, tol: float, what: str) -> None:
        worst[family] = max(worst.get(family, 0.0), err / tol)
        ops.expect(err <= tol, f"{family} {what}: error {err:.6g} > {tol:.6g}")

    ops.expect(len(out["theta"]) == len(out["hll"]) == len(out["sql"])
               == len(out["setops"]) == len(groups), "wrong group count")
    for r in out["theta"]:
        n = groups[str(r["grp"])]["uid"]
        est = theta.ThetaSketch.from_bytes(r["theta_sketch"]).estimate()
        within("theta", abs(est - n), SIGMAS * theta_rse * n, f"group {r['grp']}")
    for r in out["sql"]:
        n = groups[str(r["grp"])]["uid"]
        within("sql_theta", abs(r["est"] - n), SIGMAS * theta_rse * n,
               f"group {r['grp']}")
    for r in out["hll"]:
        n = groups[str(r["grp"])]["s"]
        est = hll.HllSketch.from_bytes(r["hll_sketch"]).estimate()
        within("hll", abs(est - n), SIGMAS * hll_rse * n, f"group {r['grp']}")
    n = exact["total_uid"]
    within("theta_union", abs(out["union"] - n), SIGMAS * theta_rse * n, "all groups")
    for r in out["setops"]:
        g = groups[str(r["grp"])]
        union = g["uid"] + g["uid_b"] - g["inter"]
        for name in ("inter", "a_not_b"):
            f = g[name] / union
            within(f"theta_{name}", abs(r[name] - g[name]),
                   SIGMAS * union * math.sqrt(f * (1 - f) / k) + 1, f"group {r['grp']}")
        j = g["inter"] / union
        within("theta_jaccard", abs(r["jaccard"] - j),
               SIGMAS * math.sqrt(j * (1 - j) / k) + 1e-3, f"group {r['grp']}")

    # KLL: exact rank of each returned quantile, from DuckDB
    import duckdb
    qs = []
    for r in out["kll"]:
        sk = KllDoublesSketch.from_bytes(r["kll_sketch"])
        qs += [(int(r["grp"]), q, sk.quantile(q)) for q in KLL_RANKS]
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("CREATE TABLE q (grp INTEGER, r DOUBLE, x DOUBLE)")
    con.executemany("INSERT INTO q VALUES (?, ?, ?)", qs)
    ranks = con.execute(f"""
        SELECT q.grp, q.r, avg(CASE WHEN d.v <= q.x THEN 1.0 ELSE 0.0 END)
        FROM q JOIN read_parquet('{inp / "rows.parquet"}') d USING (grp)
        GROUP BY q.grp, q.r""").fetchall()
    con.close()
    ops.expect(len(ranks) == len(groups) * len(KLL_RANKS), "KLL: wrong group count")
    for grp, q, rank in ranks:
        within("kll", abs(rank - q), rank_error(KLL_DEFAULT_K), f"group {grp} at {q}")

    # frequent items: no false negatives above the threshold, true
    # counts inside [lower, upper]
    found = total = 0
    for r in out["freq"]:
        g = str(r["grp"])
        sk = ItemsSketch.from_bytes(r["freq_sketch"])
        t = groups[g]["n"] * FREQ_SHARE
        got = {str(i): (lb, ub) for i, _, lb, ub in
               sk.frequent_items(int(t), "NO_FALSE_NEGATIVES")}
        for item, c in exact["heavy"].get(g, {}).items():
            total += 1
            if item in got:
                found += 1
                lb, ub = got[item]
                ops.expect(lb <= c <= ub, f"freq bounds of {item} in group {g}")
    recall = found / total if total else 1.0
    ops.expect(recall == 1.0, f"frequent items missed {total - found} heavy hitters")
    return recall, worst
