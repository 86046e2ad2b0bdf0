"""Manifest-driven archive planning (the reference's pipeline A,
app/app.py:156-196, as ONE declarative DataFrame plan).

The reference probes blob existence one HTTPS call per manifest row
(app/app.py:119-131) and copies in hand-rolled thread batches
(app/app.py:174-187). Here the whole pipeline is a single Spark plan:

    manifest → drop-null filename (P2) → prefix-qualify (P4)
             → LEFT SEMI join vs listing (J1)  = "found"
             → LEFT ANTI join vs listing (J2)  = "not found"
             → path-rewrite (P5)               = copy targets
             → plan DataFrame (source, target, status)

Scale note (100 TB / 1000 executors): the manifest is the small side —
``broadcast()`` it so the existence check is a broadcast-hash semi join with
NO shuffle of the (huge) listing. That is the set-at-a-time analogue of the
reference's "point lookups beat full listing" claim (README.md:118). The
hint is always on: a manifest is a list of file names, small next to the
listing it probes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from py_datalake_move_files_spark.operators.paths import prefix_qualify, rewrite_prefix


def qualify_manifest(manifest: DataFrame, source_prefix: str) -> DataFrame:
    """P1+P2+P4: project the filename column, drop nulls, prefix-qualify
    (reference app/app.py:89,104-111)."""
    return (
        manifest.select("filename")
        .na.drop(subset=["filename"])
        .withColumn("source_path", prefix_qualify(F.col("filename"), source_prefix))
    )


def build_archive_plan(
    manifest: DataFrame,
    listing: DataFrame,
    *,
    source_prefix: str,
    target_prefix: str,
) -> DataFrame:
    """Plan DataFrame for the manifest archive copy.

    Returns columns ``(filename, source_path, target_path, status)`` with
    status ``found`` / ``not_found`` — the pure, inspectable dry-run that the
    reference's report prints approximate (app/app.py:133-152), executed by
    :mod:`py_datalake_move_files_spark.plans.movecopy`.
    """
    qualified = qualify_manifest(manifest, source_prefix)
    listing_paths = listing.select(F.col("path").alias("source_path"))

    # Scale-critical join order: Spark can only broadcast the BUILD side of a
    # semi/anti join, and the manifest is the left (probe) side — so instead:
    # 1. stream the huge listing ONCE against a broadcast hash of the
    #    manifest keys (left-semi, build right) → the small "found" key set;
    # 2. one broadcast LEFT join of manifest × found-keys resolves found and
    #    not-found in a single pass (no semi+anti+union re-scan).
    # The listing is scanned exactly once and never shuffled.
    keys = F.broadcast(qualified.select("source_path"))
    found_keys = F.broadcast(
        listing_paths.join(keys, "source_path", "left_semi").withColumn(
            "__found", F.lit(1)
        )
    )

    plan = (
        qualified.join(found_keys, "source_path", "left")
        .withColumn(
            "status",
            F.when(F.col("__found").isNotNull(), "found").otherwise("not_found"),
        )
        .withColumn(
            "target_path",
            F.when(
                F.col("status") == "found",
                rewrite_prefix(F.col("source_path"), source_prefix, target_prefix),
            ),
        )
    )
    return plan.select("filename", "source_path", "target_path", "status")
