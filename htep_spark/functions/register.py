"""SQL function registration: expose the operator surface to ``spark.sql``.

A user of the reference platform interacts through one call per document;
the SQL-facing equivalent here is one function per operator, registered so
plain SQL works (no custom Catalyst anything — ``spark.udf.register`` of
the existing Arrow-vectorized pandas UDFs, per SURVEY.md §4):

    SELECT conv_id, htep_extract(text).document_type FROM transcripts
    SELECT htep_fusion(text), htep_simhash(text) FROM docs
"""

from __future__ import annotations

from pyspark.sql import SparkSession

__all__ = ["register_all"]


def register_all(spark: SparkSession) -> None:
    from pyspark.sql import functions as F
    from pyspark.sql.types import StringType

    from ..operators.dedup import simhash_udf
    from ..operators.extract import deid_udf, extract_turn_udf
    from ..operators.text_analysis import winnow_udf
    from .textops import fusion_correct

    spark.udf.register("htep_extract", extract_turn_udf)
    spark.udf.register("htep_deid", deid_udf)
    spark.udf.register("htep_simhash", simhash_udf)
    spark.udf.register("htep_winnow", winnow_udf)

    @F.pandas_udf(StringType())
    def _fusion(series):
        return series.map(lambda t: fusion_correct(t) if isinstance(t, str) else None)

    spark.udf.register("htep_fusion", _fusion)
