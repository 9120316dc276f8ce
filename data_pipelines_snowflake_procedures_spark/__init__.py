"""PySpark-native analytics engine with the capabilities of
shravyakarla/data-pipelines-snowflake-procedures.

The reference implements eight Snowflake Python stored procedures
(execution engine, file/table data-quality, PII masking, SCD1/join/agg
code generation, objective interpretation, business glossary). This
package re-expresses that surface Spark-first: Spark SQL / Catalyst is
the query engine; these modules are the pipeline / data-quality /
profiling / masking / codegen library on top, extended with the
large-scale training-data-pipeline operators (dedup, similarity search,
text analysis, multimodal plumbing) the reference's domain implies.

Layout (SURVEY.md §7):
    session        SparkSession builder + table registry helpers
    plans/         execution engine (X1/X2: statement batch runner)
    pipelines/     codegen (X4/X5, G1-G5), objective interpreter (M4),
                   business glossary (S10-S12), ingestion orchestrator
    operators/     profiling (Q7), DQ rules (Q1-Q6), PII (PI1-PI4),
                   SCD1 merge (G1/W1), text analysis, dedup,
                   similarity search, multimodal plumbing
    sources/       file discovery + readers (S1-S5), type palette
    functions/     driver-side SQL text tools (F7-F10, fixed splitter)
    streaming/     event-time windows (batch + Structured Streaming)
    queries        the oracle-checked registry (driver contract)
"""

from __future__ import annotations

__version__ = "0.2.0"

# Public API: the procedure-equivalent entry points.
from .operators.dq import run_table_dq  # noqa: F401
from .operators.profile import profile_table  # noqa: F401
from .operators.report import table_report  # noqa: F401
from .operators.scd import scd1_merge  # noqa: F401
from .operators.security import apply_pii_masking, pii_masking_report  # noqa: F401
from .pipelines.codegen import generate_code  # noqa: F401
from .pipelines.glossary import generate_business_glossary  # noqa: F401
from .pipelines.ingestion import ingestion_code_generator  # noqa: F401
from .pipelines.interpreter import interpret_objective  # noqa: F401
from .plans.engine import execute_sql_batch  # noqa: F401
from .session import get_spark, load_table, register_views  # noqa: F401
from .sources.discovery import discover_and_run_dq  # noqa: F401
