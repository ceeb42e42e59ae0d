"""VERDICT_r14 #4: key-distribution probe for the capped self-join
behind q_dedup_near_pruned / q_dedup_containment_pruned.

Measures, at sf0.1 (and a 10x replica for the scale view):
  - df histogram of the pruned shingle universe (df <= cap by
    construction; the histogram shows how close to the cap it sits)
  - per-partition row counts of the exploded join input and the
    joined output under the session's hash partitioning
  - max/median partition ratio (the guide 2.5 skew test)
"""
import json
import os
import sys

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F

from vsphere_event_streaming_spark.session import get_spark
from vsphere_event_streaming_spark.tables import load
from vsphere_event_streaming_spark.functions.dedup import _pruned_shingle_table
from vsphere_event_streaming_spark.state import release_cached

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CAP = 5


def replicate(docs, factor):
    n = docs.count()
    copies = [
        docs.select(
            (F.col("doc_id") + F.lit(i * n)).alias("doc_id"),
            F.concat(F.col("text"), F.lit(f" copytag{i}")).alias("text"),
        )
        for i in range(factor)
    ]
    out = copies[0]
    for c in copies[1:]:
        out = out.unionByName(c)
    return out


def probe(spark, docs, tag):
    kept = _pruned_shingle_table(docs, CAP)
    ex = kept.select(F.col("id"), F.explode("arr2").alias("sh"))
    df_hist = (
        ex.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
        .groupBy("df").agg(F.count(F.lit(1)).alias("n_shingles"))
        .orderBy("df")
        .collect()
    )
    # partition histogram of the join INPUT under hash(sh)
    nparts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    part_in = (
        ex.groupBy(F.pmod(F.hash("sh"), F.lit(nparts)).alias("p"))
        .agg(F.count(F.lit(1)).alias("rows"))
        .collect()
    )
    # join OUTPUT rows per partition: sum of df^2 per hash partition
    part_out = (
        ex.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
        .groupBy(F.pmod(F.hash("sh"), F.lit(nparts)).alias("p"))
        .agg(F.sum(F.col("df") * F.col("df")).alias("rows"))
        .collect()
    )
    def stats(rows):
        v = sorted(r["rows"] for r in rows)
        if not v:
            return {}
        return {
            "n_parts": len(v),
            "min": v[0],
            "median": v[len(v) // 2],
            "max": v[-1],
            "max_over_median": round(v[-1] / max(v[len(v) // 2], 1), 2),
        }
    out = {
        "tag": tag,
        "df_histogram": {r["df"]: r["n_shingles"] for r in df_hist},
        "join_input_partitions": stats(part_in),
        "join_output_partitions": stats(part_out),
    }
    print(json.dumps(out))
    release_cached()
    return out


def main():
    spark = get_spark("probe-prune-skew")
    spark.sparkContext.setLogLevel("ERROR")
    docs = load(spark, SF_DIR, "documents")
    probe(spark, docs, "sf0.1_1x")
    docsN = replicate(docs, 10).persist()
    docsN.count()
    probe(spark, docsN, "sf0.1_10x")


if __name__ == "__main__":
    main()
