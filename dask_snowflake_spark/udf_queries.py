"""UDF-surface queries (SURVEY.md §2.B "UDF surface" row): scalar
Pandas UDF, grouped-agg Pandas UDF, applyInPandas, mapInArrow, and a
Python UDTF — each oracle-checked.

UDFs are the engine's slow path (Arrow-batched, but Python-side); these
queries exist to prove the full surface works and stays deterministic.
Numeric determinism notes:
- grouped reductions use math.fsum on sorted values (correctly-rounded,
  order-independent) so shuffle order can't change the result;
- per-group scaling uses min/max (exact under reordering);
- everything else is integer or single-value arithmetic.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .queries import _t, query


@query(
    "xea_fn_udf_pandas",
    """
    SELECT l_returnflag,
           round(sum(l_extendedprice * l_quantity ORDER BY l_extendedprice * l_quantity)
                 / sum(l_quantity ORDER BY l_quantity), 4) AS weighted_price,
           round(sum(greatest(l_extendedprice * (1 + l_tax), 1000.0)
                     ORDER BY greatest(l_extendedprice * (1 + l_tax), 1000.0)), 2) AS taxed_total
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    ("udf",),
)
def xea_fn_udf_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized scalar Pandas UDF (Arrow-batched taxed-price floor) feeding a grouped-aggregate
    Pandas UDF (order-independent sorted accumulation)."""
    t = _t(spark, sf_dir)

    @F.pandas_udf("double")
    def taxed_floor(price: pd.Series, tax: pd.Series) -> pd.Series:
        return (price * (1 + tax)).clip(lower=1000.0)

    @F.pandas_udf("double")
    def weighted_price(price: pd.Series, qty: pd.Series) -> float:
        # sorted sequential accumulation — bit-identical to the oracle's
        # sum(x ORDER BY x) regardless of shuffle order
        num = 0.0
        for v in sorted(price * qty):
            num += v
        den = 0.0
        for v in sorted(qty):
            den += v
        return num / den

    @F.pandas_udf("double")
    def sorted_sum(v: pd.Series) -> float:
        s = 0.0
        for x in sorted(v):
            s += x
        return s

    return (
        t["lineitem"]
        .withColumn("taxed", taxed_floor("l_extendedprice", "l_tax"))
        .groupBy("l_returnflag")
        .agg(
            F.round(weighted_price("l_extendedprice", "l_quantity"), 4).alias("weighted_price"),
            F.round(sorted_sum("taxed"), 2).alias("taxed_total"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "xen_fn_udf_apply_in_pandas",
    """
    SELECT c_custkey, c_nationkey,
           round(CASE WHEN max(c_acctbal) OVER w = min(c_acctbal) OVER w THEN 0.5
                 ELSE (c_acctbal - min(c_acctbal) OVER w)
                      / (max(c_acctbal) OVER w - min(c_acctbal) OVER w) END, 6) AS acctbal_scaled
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey)
    ORDER BY c_custkey
    """,
    ("udf",),
)
def xen_fn_udf_apply_in_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandas grouped-map: per-nation min-max scaling (exact under reordering)."""
    t = _t(spark, sf_dir)

    def scale(pdf: pd.DataFrame) -> pd.DataFrame:
        lo, hi = pdf["c_acctbal"].min(), pdf["c_acctbal"].max()
        if hi == lo:
            scaled = pd.Series(0.5, index=pdf.index)
        else:
            scaled = (pdf["c_acctbal"] - lo) / (hi - lo)
        return pd.DataFrame(
            {
                "c_custkey": pdf["c_custkey"],
                "c_nationkey": pdf["c_nationkey"],
                # RAW ratio out of the kernel: numpy's .round(6) is
                # banker's-on-binary where the SQL oracle rounds
                # half-up — round JVM-side like every other kernel
                "acctbal_scaled": scaled,
            }
        )

    return (
        t["customer"]
        .groupBy("c_nationkey")
        .applyInPandas(scale, "c_custkey long, c_nationkey int, acctbal_scaled double")
        .select(
            "c_custkey",
            "c_nationkey",
            F.round("acctbal_scaled", 6).alias("acctbal_scaled"),
        )
        .orderBy("c_custkey")
    )


@query(
    "xfz_fn_udf_map_in_arrow",
    """
    SELECT doc_id, length(text)::BIGINT AS n_chars_py, (doc_id % 16)::BIGINT AS shard
    FROM documents
    ORDER BY doc_id
    """,
    ("udf",),
)
def xfz_fn_udf_map_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInArrow: per-partition Arrow RecordBatch transform (zero-copy batch access)."""
    t = _t(spark, sf_dir)

    def shard(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import pyarrow.compute as pc

        for rb in batches:
            doc_id = rb.column(rb.schema.get_field_index("doc_id"))
            text = rb.column(rb.schema.get_field_index("text"))
            yield pa.RecordBatch.from_arrays(
                [
                    doc_id,
                    pc.cast(pc.utf8_length(text), pa.int64()),
                    pc.subtract(doc_id, pc.multiply(pc.cast(pc.floor(pc.divide(doc_id, 16)), pa.int64()), 16)),
                ],
                names=["doc_id", "n_chars_py", "shard"],
            )

    return (
        t["documents"]
        .select("doc_id", "text")
        .mapInArrow(shard, "doc_id long, n_chars_py long, shard long")
        .orderBy("doc_id")
    )


@query(
    "xdi_fn_udf_table_function",
    """
    WITH n AS (SELECT o_orderkey, floor(o_totalprice / 50000)::BIGINT AS n_chunks FROM orders
               WHERE o_orderkey < 500),
    ex AS (SELECT o_orderkey, n_chunks, unnest(range(n_chunks + 1)) AS chunk FROM n)
    SELECT o_orderkey, chunk::BIGINT AS chunk, (chunk * 50000)::BIGINT AS chunk_floor
    FROM ex
    ORDER BY o_orderkey, chunk
    """,
    ("udf",),
)
def xdi_fn_udf_table_function(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF: one row per 50k price chunk of each order (lateral table function)."""
    t = _t(spark, sf_dir)

    @F.udtf(returnType="o_orderkey bigint, chunk bigint, chunk_floor bigint")
    class PriceChunks:
        def eval(self, orderkey: int, totalprice: float):
            for c in range(int(totalprice / 50000) + 1):
                yield orderkey, c, c * 50000

    spark.udtf.register("price_chunks", PriceChunks)
    t["orders"].filter(F.col("o_orderkey") < 500).createOrReplaceTempView("orders_small")
    return spark.sql(
        """
        SELECT pc.o_orderkey, pc.chunk, pc.chunk_floor
        FROM orders_small, LATERAL price_chunks(o_orderkey, o_totalprice) pc
        ORDER BY pc.o_orderkey, pc.chunk
        """
    )


@query(
    "xad_fn_udf_apply_in_arrow",
    """
    SELECT c_nationkey, count(*) AS n,
           CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS bal_cents,
           min(c_custkey) AS min_custkey,
           max(c_custkey) AS max_custkey
    FROM customer GROUP BY c_nationkey ORDER BY c_nationkey
    """,
    ("udf",),
)
def xad_fn_udf_apply_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInArrow grouped map: per-nation stats with pyarrow.compute on each group's Arrow table.
    Balances are exact integer cents, so group sums do not depend on order."""
    import pyarrow as pa
    import pyarrow.compute as pc

    t = _t(spark, sf_dir)

    def stats(tbl: pa.Table) -> pa.Table:
        cents = pc.cast(pc.round(pc.multiply(tbl["c_acctbal"], 100)), pa.int64())
        mm = pc.min_max(tbl["c_custkey"])
        return pa.table(
            {
                "c_nationkey": pa.array([tbl["c_nationkey"][0].as_py()], pa.int32()),
                "n": pa.array([tbl.num_rows], pa.int64()),
                "bal_cents": pa.array([pc.sum(cents).as_py()], pa.int64()),
                "min_custkey": pa.array([mm["min"].as_py()], pa.int64()),
                "max_custkey": pa.array([mm["max"].as_py()], pa.int64()),
            }
        )

    return (
        t["customer"]
        .groupBy("c_nationkey")
        .applyInArrow(
            stats,
            "c_nationkey int, n long, bal_cents long, min_custkey long, max_custkey long",
        )
        .orderBy("c_nationkey")
    )


@query(
    "xdm_fn_udtf_polymorphic",
    r"""
    WITH words AS (
        SELECT doc_id, regexp_split_to_array(text, '\s+') AS w FROM documents
        WHERE doc_id < 30
    ),
    f AS (
        SELECT doc_id, [x FOR x IN w IF length(x) >= 1] AS w FROM words
    )
    SELECT doc_id, CAST(i + 1 AS BIGINT) AS pos,
           w[i + 1] AS g1, w[i + 2] AS g2, w[i + 3] AS g3
    FROM (SELECT doc_id, w, unnest(range(len(w) - 2)) AS i FROM f WHERE len(w) >= 3)
    ORDER BY doc_id, pos
    """,
    ("udf",),
)
def xdm_fn_udtf_polymorphic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polymorphic Python UDTF whose analyze() sets the schema at plan time: word 3-grams per
    document, one column per gram position, over a bounded doc subset."""
    import re

    from pyspark.sql.types import LongType, StringType, StructField, StructType
    from pyspark.sql.udtf import AnalyzeArgument, AnalyzeResult

    t = _t(spark, sf_dir)

    @F.udtf
    class NGrams:
        @staticmethod
        def analyze(
            doc_id: AnalyzeArgument, text: AnalyzeArgument, n: AnalyzeArgument
        ) -> AnalyzeResult:
            k = int(n.value)
            fields = [
                StructField("doc_id", LongType()),
                StructField("pos", LongType()),
            ] + [StructField(f"g{i + 1}", StringType()) for i in range(k)]
            return AnalyzeResult(StructType(fields))

        def eval(self, doc_id: int, text: str, n: int):
            words = [w for w in re.split(r"\s+", text) if w]
            for i in range(len(words) - n + 1):
                yield (doc_id, i + 1, *words[i : i + n])

    spark.udtf.register("ngrams_poly", NGrams)
    t["documents"].filter(F.col("doc_id") < 30).createOrReplaceTempView(
        "docs_ngram_small"
    )
    return spark.sql(
        """
        SELECT g.doc_id, g.pos, g.g1, g.g2, g.g3
        FROM docs_ngram_small, LATERAL ngrams_poly(doc_id, text, 3) g
        ORDER BY g.doc_id, g.pos
        """
    )
