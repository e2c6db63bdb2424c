from github_etl_pipeline_spark.sources.pol import (
    read_pol_lines,
    read_pol_lines_any_encoding,
    parse_pol_lines,
)
from github_etl_pipeline_spark.sources.lookup import load_game_lookup, prepare_dim
from github_etl_pipeline_spark.sources.tables import load_tables, register_views

__all__ = [
    "read_pol_lines",
    "read_pol_lines_any_encoding",
    "parse_pol_lines",
    "load_game_lookup",
    "prepare_dim",
    "load_tables",
    "register_views",
]
