"""spacex_data_pipeline_spark — a PySpark-native analytics engine.

A brand-new engine with the query and data-processing capabilities of the
reference ELT pipeline ``AlexRodrigues-web/spacex-data-pipeline`` (Airflow →
Postgres → dbt; see SURVEY.md), re-expressed Spark-first: DataFrame/SQL logical
plans, Catalyst/AQE physical planning, Parquet-backed warehouse tables, plus
LLM-data-pipeline extension operators (dedup, similarity search, text
analysis, multimodal columns) designed for 100 TB-scale batch execution.

Layout:
    session     — SparkSession factory tuned for the local[32] test harness
    catalog     — fixture star-schema loading / view registration
    functions/  — oracle-stable numeric helpers, hashing/shingling helpers
    sources/    — REST/JSON ingest (the reference's extract path), sinks
    operators/  — staging, marts, relational surface, dedup, similarity,
                  text analysis, multimodal
    plans/      — view/CTAS materialization (the reference's dbt layer)
    queries     — the driver-facing registry: name → (spark fn, oracle SQL)
"""

__version__ = "0.1.0"
