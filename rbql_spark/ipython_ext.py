"""IPython integration (analog of the reference %rbql magic, rbql_ipython.py).

    %load_ext rbql_spark.ipython_ext
    %rbql SELECT a.name, a.age * 2 FROM my_df WHERE a.age > 30

``FROM <name>`` resolves against the notebook namespace: pandas DataFrames,
Spark DataFrames, and list-of-lists tables all work; the result is a pandas
DataFrame.  The notebook namespace is also exposed to query expressions as
``udf.<name>`` (reference rbql_ipython.py:102-106).
"""

from __future__ import annotations

from .binding import TableHandle
from .errors import exception_to_error_info
from .registry import TableRegistry


class NamespaceRegistry(TableRegistry):
    """Resolve table names against IPython user namespaces
    (reference IPythonDataframeRegistry, rbql_ipython.py:11-23)."""

    def __init__(self, namespaces: list[dict]):
        self.namespaces = namespaces

    def get_table(self, spark, table_id):
        for ns in self.namespaces:
            if table_id not in ns:
                continue
            obj = ns[table_id]
            try:
                import pandas as pd
                if isinstance(obj, pd.DataFrame):
                    from .sources.pandas_bridge import _pdf_to_handle
                    return _pdf_to_handle(spark, obj)
            except ImportError:
                pass
            from pyspark.sql import DataFrame as SparkDataFrame
            if isinstance(obj, SparkDataFrame):
                return TableHandle(df=obj, header=list(obj.columns))
            if isinstance(obj, list):
                from .api import _rows_to_handle
                return _rows_to_handle(spark, [list(r) for r in obj], None)
        return None


def _get_or_create_spark():
    from pyspark.sql import SparkSession
    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    return (SparkSession.builder.master('local[*]')
            .appName('rbql-spark-ipython')
            .config('spark.sql.execution.arrow.pyspark.enabled', 'true')
            .config('spark.python.sql.dataFrameDebugging.enabled', 'false')
            .config('spark.ui.enabled', 'false')
            .getOrCreate())


def load_ipython_extension(ipython):
    from IPython.core.magic import register_line_magic

    @register_line_magic('rbql')
    def run_rbql_query(query_text):
        spark = _get_or_create_spark()
        registry = NamespaceRegistry(list(ipython.all_ns_refs))
        init_code = ''
        try:
            from .api import collect_result_rows, run_query
            from .engine import EngineOptions
            result = run_query(spark, query_text, input_handle=None,
                               registry=registry,
                               options=EngineOptions(user_init_code=init_code))
            import pandas as pd
            rows = collect_result_rows(result)
            columns = result.out_names
            if columns is None:
                width = max((len(r) for r in rows), default=0)
                columns = list(range(width)) if width else None
            return pd.DataFrame(rows, columns=columns)
        except Exception as e:
            err_type, err_msg = exception_to_error_info(e)
            print('Error [{}]: {}'.format(err_type, err_msg))
            return None
