"""Generate a 10x stress-scale dataset (sf1) under .stress/sf1 from the
driver's sf0.1 tables — for the scale-validation smoke only (VERDICT r7
#7), never for correctness (the DuckDB oracle runs on driver data).

Replication is NOT naive row duplication: exact copies would give every
document 9 identical twins and every customer 9 zero-distance clones,
quadratically inflating the near-dup/fuzzy pair workloads the smoke is
supposed to scale LINEARLY. Instead each replica r:

- offsets every key family consistently (custkey/orderkey/event_id/
  doc_id/vec_id), preserving referential integrity inside the replica;
- rewrites every 7th token of document text with a replica-keyed junk
  token (same replacement for the same word within a replica, so
  in-replica near-dup structure survives; cross-replica shingle Jaccard
  drops well below LSH thresholds);
- appends a replica-keyed suffix to customer names (cross-replica edit
  distance > any fuzzy threshold);
- multiplicatively perturbs embedding dims by a deterministic ±3% grid
  (cross-replica vectors stop being exact ANN ties).

Dimension tables (region/nation/part/supplier) stay single-copy — at
real scale dims grow far slower than facts, and the broadcast-ability
the plans rely on is exactly what the smoke must preserve.

Run from the repo root:  python tools/make_stress_sf1.py
then bench it after a smaller scale in one session, for per-query sf1
time ratios and plan flips in the sidecar (TESTDATA.md names the
test-data dir):
    SPARK_GRAFT_SF_DIR=<test-data dir>/sf0.1,.stress/sf1 \
    SPARK_GRAFT_BENCH_OUT=BENCH_sf1_spot.json python bench.py
(sf10 = the same recipe applied to the sf1 output:
    python tools/make_stress_sf1.py --src .stress/sf1 --out .stress/sf10
the anti-clone devices compose — replica-keyed token rewrites and key
offsets stay collision-free because every second-level replica reuses a
fresh max-key offset computed from its source.)
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

SRC = "/root/testdata/sf0.1"
OUT = ROOT / ".stress" / "sf1"
REPS = 10


def main(src: str = SRC, out_dir: Path = OUT, reps: int = REPS) -> None:
    from pyspark.sql import functions as F

    from py_datalake_move_files_spark.catalog import TABLES, load_table
    from py_datalake_move_files_spark.session import get_spark

    spark = get_spark("make-stress-sf1")
    spark.sparkContext.setLogLevel("ERROR")

    t = {name: load_table(spark, src, name) for name in TABLES}
    off = {
        "cust": t["customer"].agg(F.max("c_custkey")).first()[0] + 1,
        "order": t["orders"].agg(F.max("o_orderkey")).first()[0] + 1,
        "event": t["events"].agg(F.max("event_id")).first()[0] + 1,
        "user": t["events"].agg(F.max("user_id")).first()[0] + 1,
        "doc": t["documents"].agg(F.max("doc_id")).first()[0] + 1,
        "vec": t["embeddings"].agg(F.max("vec_id")).first()[0] + 1,
    }

    reps = spark.range(reps).withColumnRenamed("id", "__r")

    def fan(df):
        # replicate map-side: one broadcast-nested-loop over 10 literal
        # rows, no shuffle; replica 0 is the original data byte-for-byte
        return df.crossJoin(F.broadcast(reps))

    out = {}
    out["customer"] = fan(t["customer"]).select(
        (F.col("c_custkey") + F.col("__r") * off["cust"]).alias("c_custkey"),
        F.when(F.col("__r") == 0, F.col("c_name"))
        .otherwise(
            F.concat(
                F.col("c_name"),
                F.lit(" "),
                F.substring(
                    F.md5(F.concat(F.col("__r").cast("string"), F.col("c_name"))),
                    1,
                    5,
                ),
            )
        )
        .alias("c_name"),
        "c_nationkey",
        "c_acctbal",
        "c_mktsegment",
    )
    out["orders"] = fan(t["orders"]).select(
        (F.col("o_orderkey") + F.col("__r") * off["order"]).alias("o_orderkey"),
        (F.col("o_custkey") + F.col("__r") * off["cust"]).alias("o_custkey"),
        "o_orderstatus",
        "o_totalprice",
        "o_orderdate",
        "o_orderpriority",
    )
    out["lineitem"] = fan(t["lineitem"]).select(
        (F.col("l_orderkey") + F.col("__r") * off["order"]).alias("l_orderkey"),
        *[c for c in t["lineitem"].columns if c != "l_orderkey"],
    )
    out["events"] = fan(t["events"]).select(
        (F.col("event_id") + F.col("__r") * off["event"]).alias("event_id"),
        "ts",
        (F.col("user_id") + F.col("__r") * off["user"]).alias("user_id"),
        "event_type",
        "value",
        "props",
    )
    out["documents"] = (
        fan(t["documents"])
        .withColumn(
            "text",
            F.when(F.col("__r") == 0, F.col("text")).otherwise(
                F.array_join(
                    F.expr(
                        "transform(split(text, ' '), (tok, i) ->"
                        " CASE WHEN i % 7 = __r % 7"
                        " THEN concat('x', __r, substring(md5(tok), 1, 4))"
                        " ELSE tok END)"
                    ),
                    " ",
                )
            ),
        )
        .select(
            (F.col("doc_id") + F.col("__r") * off["doc"]).alias("doc_id"),
            "text",
            "lang",
            "source",
            F.length("text").cast("long").alias("n_chars"),
        )
    )
    out["embeddings"] = fan(t["embeddings"]).select(
        (F.col("vec_id") + F.col("__r") * off["vec"]).alias("vec_id"),
        F.expr(
            "transform(embedding, (v, i) -> CAST(v *"
            " (1.0 + 0.01 * (CAST((__r * 31 + i) % 7 AS DOUBLE) - 3.0))"
            " AS FLOAT))"
        ).alias("embedding"),
        "label",
    )
    for dim in ("region", "nation", "part", "supplier"):
        out[dim] = t[dim]

    out_dir.mkdir(parents=True, exist_ok=True)
    for name, df in out.items():
        path = str(out_dir / f"{name}.parquet")
        df.write.mode("overwrite").parquet(path)
        print(f"{name}: {spark.read.parquet(path).count()} rows -> {path}")
    spark.stop()


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--src", default=SRC)
    ap.add_argument("--out", default=str(OUT))
    ap.add_argument("--reps", type=int, default=REPS)
    a = ap.parse_args()
    main(a.src, Path(a.out), a.reps)
