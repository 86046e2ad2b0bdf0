"""py_datalake_move_files_spark — a PySpark-native data-lake maintenance &
analytics engine.

Re-expresses the capabilities of the reference ETL utility
(krben/py-datalake-move-files: manifest-driven archive copy, list-filter-move,
JSON content predicates, audited parallel sinks) as declarative Spark
DataFrame plans, and extends them — per the engine north star — with full
relational coverage (joins/aggregates/windows/set-ops) and LLM-data-pipeline
operators (dedup, similarity search, text analysis).

Layout:
    session     — SparkSession factory tuned for lake-scale work (AQE, Arrow)
    config      — Azure OAuth credentials from env, applied for abfss:// paths
    catalog     — test-table + manifest loaders with fixed schemas
    sources/    — binaryFile listing and content scans
    operators/  — paths, predicates, manifest joins, dedup, similarity, text
    plans/      — plan-then-execute move/copy sink with audit DataFrame,
                  retention/compaction/z-order maintenance
    cli         — archive/move/maintenance/report commands
    queries     — named query registry + DuckDB oracle SQL (driver contract)
"""

__version__ = "0.1.0"

from py_datalake_move_files_spark.catalog import (  # noqa: F401
    load_table,
    read_manifest_csv,
    register_tables,
)
from py_datalake_move_files_spark.operators.manifest import (  # noqa: F401
    build_archive_plan,
)
from py_datalake_move_files_spark.plans.movecopy import (  # noqa: F401
    audit_summary,
    execute_plan,
)
from py_datalake_move_files_spark.session import get_spark  # noqa: F401
