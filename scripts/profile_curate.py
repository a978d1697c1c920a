#!/usr/bin/env python3
"""Profile curate_corpus construct: per-barrier wall time, Catalyst
phase times (analysis/optimization/planning from QueryPlanningTracker),
and the Spark jobs each barrier triggers (AQE stage materialization).

Usage: python scripts/profile_curate.py [sf_dir] [--entry curate|cur_kept]
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = sys.argv[1] if len(sys.argv) > 1 and os.path.isdir(sys.argv[1]) else "/root/testdata/sf0.1"
ENTRY = "curate"
for a in sys.argv[1:]:
    if a in ("curate", "cur_kept"):
        ENTRY = a


def main() -> None:
    from pyspark.sql import SparkSession
    from pyspark.sql.classic.dataframe import DataFrame  # concrete class
    from sheetreader_duckdb_spark.session import configure_session

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("profile-curate")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.driver.memory", "16g")
        .config("spark.ui.enabled", "false")
    )
    from sheetreader_duckdb_spark.session import apply_static_confs

    spark = apply_static_confs(builder).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    configure_session(spark)

    # Wrap localCheckpoint with instrumentation.
    orig_lc = DataFrame.localCheckpoint
    barriers: list[dict] = []

    def timed_lc(self, eager=True):
        st = spark.sparkContext.statusTracker()
        jobs_before = set(st.getJobIdsForGroup() or [])
        t0 = time.perf_counter()
        out = orig_lc(self, eager=eager)
        dt = time.perf_counter() - t0
        jobs_after = set(st.getJobIdsForGroup() or [])
        new_jobs = sorted(jobs_after - jobs_before)
        # Catalyst phase times for the *checkpointed* plan build.
        phases = {}
        try:
            jmap = self._jdf.queryExecution().tracker().phases()
            it = jmap.iterator()
            while it.hasNext():
                kv = it.next()
                ps = kv._2()
                phases[kv._1()] = round((ps.endTimeMs() - ps.startTimeMs()) / 1000.0, 3)
        except Exception as e:  # noqa: BLE001
            phases = {"error": str(e)[:100]}
        barriers.append(
            {
                "wall": round(dt, 3),
                "phases": phases,
                "n_jobs": len(new_jobs),
            }
        )
        return out

    DataFrame.localCheckpoint = timed_lc

    from pyspark.sql import functions as F
    from sheetreader_duckdb_spark.pipeline import curate_corpus
    from sheetreader_duckdb_spark.operators.sampling import hash_split
    from sheetreader_duckdb_spark.plans.relational import T
    from sheetreader_duckdb_spark.session import release_deferred

    def _curated():
        if ENTRY == "cur_kept":
            from sheetreader_duckdb_spark.plans.northstar import n01_cur_kept_branch

            return n01_cur_kept_branch(spark, SF_DIR)
        emb = T(spark, SF_DIR, "embeddings")
        d = (
            T(spark, SF_DIR, "documents")
            .withColumn(
                "url",
                F.concat(
                    F.lit("https://www."),
                    F.col("source"),
                    F.lit(".com/d/"),
                    F.col("doc_id").cast("string"),
                ),
            )
            .withColumn("split", hash_split("doc_id", [("corpus", 0.9), ("eval", 0.1)], seed="bench"))
        )
        cs = d.filter(F.col("split") == "corpus").drop("split")
        ev = d.filter(F.col("split") == "eval").select("doc_id", "text")
        cur, _ = curate_corpus(
            cs, eval_df=ev, url_col="url", domain_cap=50, line_dedup=True,
            dupspan=True, pii=True, embeddings_df=emb, budget_tokens=50_000,
            seed="bench", collect_report=False)
        return cur

    def _noop(df):
        df.write.mode("overwrite").format("noop").save()

    # Warmup
    _noop(_curated())
    release_deferred()
    barriers.clear()

    for p in range(2):
        barriers.clear()
        t0 = time.perf_counter()
        cur = _curated()
        t1 = time.perf_counter()
        _noop(cur)
        t2 = time.perf_counter()
        release_deferred()
        print(f"pass {p}: construct {t1 - t0:.3f}s exec {t2 - t1:.3f}s")
        tot_wall = sum(b["wall"] for b in barriers)
        tot_phase = sum(sum(v for v in b["phases"].values() if isinstance(v, float)) for b in barriers)
        print(f"  barriers: {len(barriers)}, sum wall {tot_wall:.3f}s, sum catalyst phases {tot_phase:.3f}s")
        for i, b in enumerate(barriers):
            print(f"  [{i:2d}] wall {b['wall']:6.3f}s jobs {b['n_jobs']:2d} phases {b['phases']}")

    spark.stop()


if __name__ == "__main__":
    main()
