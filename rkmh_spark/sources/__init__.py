from rkmh_spark.sources.pages import generate_pages, pages_schema, pages_dataframe
from rkmh_spark.sources.tables import load_table

__all__ = [
    "generate_pages",
    "pages_schema",
    "pages_dataframe",
    "load_table",
]
