"""dask_snowflake_spark — a PySpark-native engine with the query and
data-processing capabilities of coiled/dask-snowflake.

Two layers (SURVEY.md):
1. Connector layer: ``read_snowflake`` / ``to_snowflake`` with the
   reference's semantics (partition sizing, params, schema inference,
   laziness, partner-ID config) on PySpark primitives
   (reference: /root/reference/dask_snowflake/core.py).
2. Relational layer: the full SQL/DataFrame surface the reference reaches
   through its delegated SQL string, expressed as Spark built-ins, plus
   LLM-data-pipeline extensions (dedup, similarity, text, multimodal,
   streaming).
"""

from ._zipimport import install_in_worker as _install_zipimport_shim

# first import in a reused Spark Python worker: stop every later task from
# re-reading unchanged zip archives (see _zipimport)
_install_zipimport_shim()

from .session import get_session, load_table, register_tables
from .sources.snowflake import SnowflakeNativeDataSource, read_snowflake, to_snowflake

__all__ = [
    "get_session",
    "load_table",
    "register_tables",
    "read_snowflake",
    "to_snowflake",
    "SnowflakeNativeDataSource",
]

__version__ = "0.1.0"
