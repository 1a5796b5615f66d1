"""The dedup workload: ``dedup_pipeline`` run as scripts/submit_dedup.py
ships it (a fresh per-stage checkpoint tree, then a resume on the
finished tree), its output checks against the generated ground truth,
and the traced decomposition into the operators the pipeline composes."""

from __future__ import annotations

import shutil
import time
from pathlib import Path

import pandas as pd
from pyspark.sql import functions as F

from datasketches_java_spark.config import LSH_BUCKET_CAP
from harness import Tracer, job_group_stats, spark_runtime

WARM_DOCS = 1000      # the untimed warm pass: JIT, Python workers, codegen
MIN_RECALL = 0.99
HOT_FACTOR = 8        # candidate_pairs' default: buckets > cap x 8 are salted


class DedupWorkload:
    def open(self, spark, inp: Path) -> dict:
        pages = spark.read.parquet(str(inp / "pages.parquet"))
        pages.count()
        return {"pages": pages}

    def warm(self, spark, state: dict, scratch: Path) -> None:
        self._job(spark, state["pages"].limit(WARM_DOCS), scratch / "warm")

    def _job(self, spark, pages, ckpt: Path, fresh: bool = True):
        """One full dedup_pipeline call, from call to materialised
        dup_pairs and clusters; ``fresh=False`` resumes the checkpoint
        tree ``ckpt``.  Returns (result, wall seconds)."""
        from datasketches_java_spark.plans.dedup import dedup_pipeline
        if fresh:
            shutil.rmtree(ckpt, ignore_errors=True)
        t0 = time.perf_counter()
        res = dedup_pipeline(spark, pages, id_col="url", text_col="text",
                             checkpoint_dir=str(ckpt))
        for df in (res.dup_pairs, res.clusters):
            df.write.format("noop").mode("overwrite").save()
        return res, time.perf_counter() - t0

    # -- untraced measurement --------------------------------------------
    def measure(self, spark, state: dict, inp: Path, scratch: Path,
                seconds: float, sampler, ops) -> dict:
        golden = pd.read_parquet(inp / "golden_dup_pairs.parquet",
                                 columns=["url_a", "url_b"])
        n_docs = state["pages"].count()
        walls, recalls, info = [], [], {}
        while sum(walls) < seconds or not walls:
            ckpt = scratch / f"ckpt{len(walls)}"
            with ops.attempt("dedup_pipeline"):
                with sampler:
                    res, wall = self._job(spark, state["pages"], ckpt)
                walls.append(wall)
                out = _outputs(res.dup_pairs, res.clusters)
                recalls.append(_check(out, golden, n_docs, ops))
                info = _bucket_info(res)
                ops.expect(info["largest_bucket"] > LSH_BUCKET_CAP * HOT_FACTOR,
                           f"largest LSH bucket {info['largest_bucket']} does not "
                           f"take candidate_pairs' salted path")
            if ops.last_failed:
                break
            with ops.attempt("checkpoint resume"):
                again, _ = self._job(spark, state["pages"], ckpt, fresh=False)
                ops.expect(_same(_outputs(again.dup_pairs, again.clusters), out),
                           "resumed run differs from the fresh run")
            shutil.rmtree(ckpt, ignore_errors=True)
        return {"walls": walls, "items": n_docs, "recall": min(recalls or [0.0]),
                **info}

    # -- traced run -----------------------------------------------------------
    def traced(self, spark, state: dict, inp: Path, scratch: Path, ops) -> dict:
        """The untraced job and its resume once, then the same operators
        one at a time through the checkpoint store, each inside a span /
        job group of its layer."""
        pages = state["pages"]
        ckpt = scratch / "ckpt"
        tracer = Tracer(spark)
        with ops.attempt("dedup_pipeline"):
            with tracer.span("pipeline"):
                res, wall = self._job(spark, pages, ckpt)
            ref = _outputs(res.dup_pairs, res.clusters)
        with ops.attempt("checkpoint resume"):
            again, resume_s = self._job(spark, pages, ckpt, fresh=False)
            ops.expect(_same(_outputs(again.dup_pairs, again.clusters), ref),
                       "resumed run differs from the fresh run")
        ckpt_bytes = _tree_mb(ckpt)
        with ops.attempt("traced decomposition"):
            t0 = time.perf_counter()
            out, counts = self._decomposed(spark, pages, scratch / "ckpt_traced",
                                           tracer)
            traced_s = time.perf_counter() - t0
            ops.expect(_same(_outputs(*out), ref),
                       "traced decomposition differs from the untraced job")
            ops.expect(counts["hot_buckets"] > 0,
                       "no LSH bucket takes candidate_pairs' salted path")
        return {"wall": wall, "traced_s": traced_s, "tracer": tracer,
                "counts": counts, "docs": pages.count(),
                "checkpoint.bytes_mb": ckpt_bytes,
                "checkpoint.resume_s": resume_s}

    def _decomposed(self, spark, pages, ckpt: Path, tracer: Tracer):
        """dedup_pipeline's plan (plans/dedup.py), operator by operator,
        same order and arguments, each stage through
        ``CheckpointStore.run_stage`` as the job runs it; the
        surrogate-key and url re-attach glue is the plan's own.
        Returns ((dup_pairs, clusters), counts)."""
        from datasketches_java_spark.config import DUP_JACCARD_THRESHOLD
        from datasketches_java_spark.functions.text import (
            shingle_hashes_from_tokens, tokens)
        from datasketches_java_spark.operators.checkpoint import CheckpointStore
        from datasketches_java_spark.operators.connected_components import (
            connected_components)
        from datasketches_java_spark.operators.lsh import (
            add_signatures, band_buckets, candidate_pairs, hot_buckets,
            verify_pairs)

        id_col, text_col, key = "url", "text", "_sid"
        cores = spark.sparkContext.defaultParallelism
        if pages.rdd.getNumPartitions() < cores:
            pages = pages.repartition(cores * 2)
        counts = {"run_stage_s": 0.0}

        # JVM shingling alone, for the signature stage's split
        with tracer.span("text.shingle"):
            # bind tokens to a column first, as add_signatures does
            counts["shingles"] = (
                pages.withColumn("_toks", tokens(text_col))
                .select(F.size(shingle_hashes_from_tokens("_toks")).alias("n"))
                .agg(F.sum("n")).first()[0])

        shutil.rmtree(ckpt, ignore_errors=True)
        store = CheckpointStore(spark, str(ckpt))

        def stage(layer, name, build, lineage):
            with tracer.span(layer):
                t0 = time.perf_counter()
                df = store.run_stage(name, build, lineage_col=lineage)
                counts["run_stage_s"] += time.perf_counter() - t0
            return df

        def build_signatures():
            return (add_signatures(pages.select(id_col, text_col), text_col)
                    .drop(text_col)
                    .withColumn(key, F.monotonically_increasing_id()))

        sig = stage("lsh.signatures", "01_signatures", build_signatures, id_col)
        ids = sig.select(key, id_col)
        buckets = stage("lsh.bands", "02_band_buckets",
                        lambda: band_buckets(sig, key), key)
        hot = stage("lsh.bands", "03_hot_buckets",
                    lambda: hot_buckets(buckets, min_size=LSH_BUCKET_CAP),
                    "bucket_size")
        pairs = stage("lsh.candidates", "04_candidate_pairs",
                      lambda: candidate_pairs(buckets, key, LSH_BUCKET_CAP), "id_a")
        verified = stage(
            "lsh.verify", "05_verified_pairs",
            lambda: verify_pairs(pairs, sig, key, threshold=DUP_JACCARD_THRESHOLD),
            "id_a")

        def build_clusters():
            comp = connected_components(verified.select("id_a", "id_b"))
            comp_urls = (comp.join(ids.withColumnsRenamed({key: "id"}), on="id")
                         .select(F.col(id_col), F.col("component")))
            cmin = comp_urls.groupBy("component").agg(F.min(id_col).alias("cluster_id"))
            members = comp_urls.join(cmin, on="component").select(id_col, "cluster_id")
            return (pages.select(id_col).join(members, on=id_col, how="left")
                    .withColumn("cluster_id", F.coalesce("cluster_id", F.col(id_col))))

        clusters = stage("cc", "06_clusters", build_clusters, id_col)
        with tracer.span("outputs"):
            dup_pairs = (verified
                         .join(ids.withColumnsRenamed({key: "id_a", id_col: "_ua"}),
                               on="id_a")
                         .join(ids.withColumnsRenamed({key: "id_b", id_col: "_ub"}),
                               on="id_b")
                         .select(F.least("_ua", "_ub").alias("id_a"),
                                 F.greatest("_ua", "_ub").alias("id_b"), "jaccard"))
            dup_pairs.write.format("noop").mode("overwrite").save()
        # sizes, read back from the finished checkpoints outside the spans
        counts["capped_buckets"] = hot.count()
        # the salted path's threshold (candidate_pairs' hot_factor default)
        counts["hot_buckets"] = hot.filter(
            F.col("bucket_size") > LSH_BUCKET_CAP * HOT_FACTOR).count()
        counts["candidate_pairs"] = pairs.count()
        counts["verified_pairs"] = verified.count()
        return (dup_pairs, clusters), counts

    def layer_metrics(self, t: dict, events_dir: Path) -> dict:
        """Per-layer metrics of one traced dedup run."""
        spans, c = t["tracer"].spans, t["counts"]
        st = job_group_stats(events_dir)
        g = lambda name: st.get(name, {})  # noqa: E731
        return {
            "text.shingle_s": spans["text.shingle"],
            "text.shingles_per_doc": c["shingles"] / t["docs"],
            "lsh.signatures_s": spans["lsh.signatures"],
            "lsh.signatures_task_s": g("lsh.signatures").get("task_s", 0.0),
            "lsh.signatures_gc_s": g("lsh.signatures").get("gc_s", 0.0),
            "lsh.arrow_kernel_self_s": spans["lsh.signatures"] - spans["text.shingle"],
            "lsh.bands_s": spans["lsh.bands"],
            "lsh.candidates_s": spans["lsh.candidates"],
            "lsh.candidate_pairs": c["candidate_pairs"],
            "lsh.candidates_shuffle_write_mb": g("lsh.candidates").get("shuffle_write_mb", 0.0),
            "lsh.candidates_shuffle_read_mb": g("lsh.candidates").get("shuffle_read_mb", 0.0),
            "lsh.candidates_task_skew": g("lsh.candidates").get("task_skew", 0.0),
            "lsh.capped_buckets": c["capped_buckets"],
            "lsh.hot_buckets": c["hot_buckets"],
            "lsh.verify_s": spans["lsh.verify"],
            "lsh.verify_shuffle_read_mb": g("lsh.verify").get("shuffle_read_mb", 0.0),
            "lsh.verify_spill_mb": g("lsh.verify").get("spill_mb", 0.0),
            "lsh.verify_task_skew": g("lsh.verify").get("task_skew", 0.0),
            "lsh.verify_yield": c["verified_pairs"] / max(c["candidate_pairs"], 1),
            "cc.s": spans["cc"],
            "cc.edges": c["verified_pairs"],
            "cc.jobs": g("cc").get("jobs", 0),
            "cc.shuffle_mb": g("cc").get("shuffle_read_mb", 0.0)
            + g("cc").get("shuffle_write_mb", 0.0),
            "checkpoint.run_stage_s": c["run_stage_s"],
            "checkpoint.bytes_mb": t["checkpoint.bytes_mb"],
            "checkpoint.resume_s": t["checkpoint.resume_s"],
            **spark_runtime(st),
            "trace.overhead_s": t["traced_s"] - t["wall"],
        }


def _outputs(dup_pairs, clusters) -> tuple[pd.DataFrame, pd.DataFrame]:
    """(verified url pairs, url -> cluster id), sorted, on the driver."""
    pairs = (dup_pairs.select("id_a", "id_b").toPandas()
             .sort_values(["id_a", "id_b"]).reset_index(drop=True))
    clusters = (clusters.select("url", "cluster_id").toPandas()
                .sort_values("url").reset_index(drop=True))
    return pairs, clusters


def _tree_mb(path: Path) -> float:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file()) / 2**20


def _same(a, b) -> bool:
    return all(x.equals(y) for x, y in zip(a, b))


def _check(out, golden: pd.DataFrame, n_docs: int, ops) -> float:
    """The dedup contract of tests/test_dedup_pipeline.py: cluster-level
    recall of the golden pairs, no verified pair outside the golden
    set, min-member cluster ids, every doc clustered once."""
    pairs, clusters = out
    cid = clusters.set_index("url")["cluster_id"]
    recall = float((golden["url_a"].map(cid) == golden["url_b"].map(cid)).mean())
    ops.expect(recall >= MIN_RECALL, f"dup-pair recall {recall:.4f} < {MIN_RECALL}")
    extra = pairs.merge(golden, left_on=["id_a", "id_b"],
                        right_on=["url_a", "url_b"], how="left", indicator=True)
    n_extra = int((extra["_merge"] == "left_only").sum())
    ops.expect(n_extra == 0, f"{n_extra} verified pairs outside the golden set")
    ops.expect(len(clusters) == n_docs and clusters["url"].is_unique,
               "clusters do not hold every doc exactly once")
    mins = clusters.groupby("cluster_id")["url"].min()
    ops.expect(bool((mins.index == mins.values).all()),
               "cluster ids are not the minimum member url")
    return recall


def _bucket_info(res) -> dict:
    """Largest LSH bucket, from the pipeline's own hot-bucket stage
    (buckets above the cap); 0 when no bucket exceeds it."""
    top = res.hot_buckets.agg(F.max("bucket_size")).first()[0]
    return {"largest_bucket": int(top or 0)}
