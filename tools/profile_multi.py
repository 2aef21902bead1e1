"""Phase accounting for q_multi_table_replay (guide §1): time each stage of
the declared query — wire build, per-batch apply (prepass vs dispatch), and
the final read-back union — to see where the fixed per-batch cost sits.

Usage: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 python tools/profile_multi.py [--repeat N]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def main() -> None:
    ap = argparse.ArgumentParser(
        description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter
    )
    ap.add_argument("--repeat", type=int, default=2, help="profiled repetitions")
    repeat = ap.parse_args().repeat

    from bench import make_spark
    import __spark_entry__ as em
    from pyspark.sql import functions as F
    from debezium_spark.streaming.multi import MultiTableEngine, TableSpec
    from pyspark.sql.types import StructType

    spark = make_spark(CPUS, "profile-multi")
    spark.sparkContext.setLogLevel("ERROR")

    for rep in range(repeat):
        t_all = time.perf_counter()
        marks: list[tuple[str, float]] = []

        def mark(label: str, t0: float) -> None:
            marks.append((label, time.perf_counter() - t0))

        t0 = time.perf_counter()
        e = em._env(spark, SF_DIR)
        cents = F.round(F.col("value") * 100, 0).cast("long")
        p3 = F.struct(F.col("repo"), F.col("path"), F.col("content"))
        p4 = F.struct(F.col("repo"), F.col("path"), F.col("content"), cents.alias("cents"))
        pj = F.when(F.col("tbl") == "t1", F.to_json(p4)).otherwise(F.to_json(p3))
        wire = e.select(
            F.when(F.col("op") != "c", pj).alias("before_json"),
            F.when(F.col("op") != "d", pj).alias("after_json"),
            "op", "ts_ms",
            F.struct(
                F.lit("binlog.000001").alias("file"), F.col("pos").alias("pos"),
                F.lit(None).cast("string").alias("gtid"),
                F.lit(None).cast("string").alias("snapshot"),
                F.col("db"), F.col("tbl").alias("table"),
                F.col("ts_ms").alias("ts_ms"),
            ).alias("source"),
            F.lit(None).cast(
                "struct<id:string,total_order:bigint,data_collection_order:bigint>"
            ).alias("transaction"),
        )
        max_pos = wire.select(F.max("source.pos")).first()[0] or 0
        mark("wire_build+maxpos", t0)

        s3 = StructType.fromDDL("repo string, path string, content string")
        s4 = StructType.fromDDL("repo string, path string, content string, cents long")
        tmp = em._scratch("cdc_multi_prof_")
        t0 = time.perf_counter()
        mte = MultiTableEngine(
            spark, tmp,
            [
                TableSpec("app", "t0", s3, ["repo", "path"], n_buckets=4, mode="cow"),
                TableSpec("app", "t1", s4, ["repo", "path"], n_buckets=4, mode="mor"),
                TableSpec("app", "t2", s3, ["repo", "path"], n_buckets=4, mode="cow"),
            ],
            compact_depth=2,
        )
        mark("engine_init", t0)

        n_batches = 3
        step = (max_pos + n_batches) // n_batches
        for b in range(n_batches):
            lo, hi = b * step, (b + 1) * step
            batch = wire.filter(
                (F.col("source.pos") >= lo) & (F.col("source.pos") < hi)
            )
            t0 = time.perf_counter()
            mte.apply_wire_batch(batch, batch_id=f"b{b}")
            mark(f"apply_b{b}", t0)

        t0 = time.perf_counter()
        outs = []
        for fqn, df in mte.read_all().items():
            tbl = fqn.split(".")[1]
            if "cents" not in df.columns:
                df = df.withColumn("cents", F.lit(None).cast("long"))
            outs.append(df.select(
                F.lit(tbl).alias("table_name"), "repo", "path",
                F.sha2(F.col("content"), 256).alias("content_sha"), "cents",
            ))
        out = outs[0]
        for x in outs[1:]:
            out = out.unionByName(x)
        out.write.format("noop").mode("overwrite").save()
        mark("read_all+noop", t0)

        total = time.perf_counter() - t_all
        print(f"--- rep {rep}: total {total:.2f}s")
        for label, dt in marks:
            print(f"  {label:20s} {dt:6.2f}s")

    spark.stop()


if __name__ == "__main__":
    main()
