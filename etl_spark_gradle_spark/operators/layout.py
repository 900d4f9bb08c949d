"""Multi-dimensional data layout: Z-order (Morton) clustering.

The reference's only layout lever is ``partitionBy`` directories
(``loader/S3Loader.scala:27-119``); one-dimensional sorts (our
``sortWithinPartitions`` sink option) give tight parquet row-group
min/max stats on ONE column. But 100 TB fact tables are filtered on
several independent dimensions (`WHERE ship_date BETWEEN ... AND
supplier_id = ...`), and a sort on one destroys locality on the other.

Z-ordering interleaves the bits of several rank-scaled columns into one
64-bit key; sorting by that key places rows so that EVERY interleaved
dimension has narrow per-file / per-row-group min-max ranges, so scans
filtered on any of them skip most of the data. This is the same design
as Delta OSS's OPTIMIZE ZORDER BY, built here from stock Spark
primitives: one bounds aggregation, a ``repartitionByRange`` on the
z-value, and a local sort.

Scale notes:
- The z-value is a pure unrolled Catalyst expression (``bits x dims``
  shift-mask-or terms, whole-stage-codegen friendly) — no UDF.
- Bounds come from ONE min/max aggregation (2 numbers per column on the
  driver — a bounded, documented driver point, exactly what any
  range-partitioner needs). Pass explicit bounds to skip that job, e.g.
  when they're known from table statistics.
- Skew: linear min-max scaling degrades when a dimension is heavily
  skewed (most values map to few grid cells). The standard fix is
  rank-based scaling; with AQE enabled the range partitioner still
  splits oversized z-ranges, so the write stays balanced.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from etl_spark_gradle_spark.operators.base import TransformationError, _BaseTransformer

__all__ = ["scale_to_grid", "z_value", "zorder", "ZorderTransformer"]


def scale_to_grid(
    col: Column | str, mn: float, mx: float, bits: int = 16
) -> Column:
    """Linearly scale a numeric column onto the integer grid
    ``[0, 2^bits)``: ``floor((v - mn) * (2^bits - 1) / (mx - mn))``,
    clamped, nulls to cell 0. The expression shape (subtract, multiply,
    divide, floor — in that order) is part of the contract: the DuckDB
    oracle replays it literally, and IEEE doubles make the two engines
    agree bit-for-bit."""
    c = F.col(col) if isinstance(col, str) else col
    top = (1 << bits) - 1
    if mx <= mn:
        return F.lit(0).cast("long")
    scaled = F.floor(
        (c.cast("double") - F.lit(float(mn))) * F.lit(float(top)) / F.lit(float(mx - mn))
    ).cast("long")
    return F.coalesce(F.least(F.greatest(scaled, F.lit(0)), F.lit(top)), F.lit(0))


def z_value(
    cols: list[Column | str],
    bounds: list[tuple[float, float]],
    bits: int = 16,
) -> Column:
    """Morton interleave of ``len(cols)`` grid-scaled columns into one
    BIGINT: bit ``b`` of dimension ``d`` lands at position
    ``b * ndims + d``. ``bits * ndims`` must fit in 63 bits (e.g. 16
    bits x 2 dims, 10 bits x 6 dims). The expression is unrolled at
    plan-build time — ``bits x ndims`` shift/and/shift terms, all
    inside whole-stage codegen."""
    ndims = len(cols)
    if ndims < 2:
        raise ValueError("z_value needs at least 2 columns (use a plain sort for 1)")
    if len(bounds) != ndims:
        raise ValueError("bounds must have one (min, max) per column")
    if bits * ndims > 63:
        raise ValueError(f"bits*dims = {bits * ndims} exceeds 63 (lower bits)")
    scaled = [
        scale_to_grid(c, mn, mx, bits) for c, (mn, mx) in zip(cols, bounds)
    ]
    z = F.lit(0).cast("long")
    for b in range(bits):
        for d, v in enumerate(scaled):
            z = z + F.shiftleft(
                F.shiftright(v, b).bitwiseAND(F.lit(1)), b * ndims + d
            )
    return z


def zorder(
    df: DataFrame,
    cols: list[str],
    bits: int = 16,
    num_partitions: int | None = None,
    bounds: list[tuple[float, float]] | None = None,
) -> DataFrame:
    """Re-cluster a DataFrame by the Z-order of ``cols``: range-
    partition on the z-value (so each output file owns a compact z-
    range = a compact hyper-rectangle of the dimension space), locally
    sort by it, and drop the helper column. Write the result with any
    file sink; every listed column then has narrow per-file and per-
    row-group min/max stats, so scans filtered on ANY of them prune.

    ``bounds=None`` runs one min/max aggregation over ``df`` (the only
    action; 2 doubles per column). Non-numeric columns are rejected —
    hash a categorical to a numeric bucket first if needed.
    """
    for c in cols:
        if c not in df.columns:
            raise ValueError(f"zorder column not in schema: {c}")
    if bounds is None:
        aggs = []
        for c in cols:
            aggs += [
                F.min(F.col(c).cast("double")).alias(f"__mn_{c}"),
                F.max(F.col(c).cast("double")).alias(f"__mx_{c}"),
            ]
        row = df.agg(*aggs).collect()[0]
        bounds = []
        for c in cols:
            mn, mx = row[f"__mn_{c}"], row[f"__mx_{c}"]
            if mn is None or mx is None:
                raise ValueError(f"zorder column is all-null: {c}")
            bounds.append((float(mn), float(mx)))
    zcol = z_value([F.col(c) for c in cols], bounds, bits)
    out = df.withColumn("__z", zcol)
    out = (
        out.repartitionByRange(num_partitions, "__z")
        if num_partitions
        else out.repartitionByRange("__z")
    )
    return out.sortWithinPartitions("__z").drop("__z")


class ZorderTransformer(_BaseTransformer):
    """Registry adapter (``type: zorder``): re-cluster the pipeline
    frame mid-flight (options ``columns`` csv, ``bits``,
    ``partitions``) — for when the clustering must happen before a
    non-file sink or further transforms; the file sink's ``zorderBy``
    option covers the plain write case."""

    def validate(self, df, config):
        from etl_spark_gradle_spark.plans.config import ValidationResult

        errors = []
        cols = [c.strip() for c in config.options.get("columns", "").split(",") if c.strip()]
        if len(cols) < 2:
            errors.append("zorder requires 'columns' with at least 2 names")
        for c in cols:
            if c not in df.columns:
                errors.append(f"zorder column not in input schema: {c}")
        return ValidationResult.ok() if not errors else ValidationResult.fail(*errors)

    def _apply(self, df, config, ctx):
        opts = config.options
        return zorder(
            df,
            [c.strip() for c in opts["columns"].split(",") if c.strip()],
            bits=int(opts.get("bits", "16")),
            num_partitions=int(opts["partitions"]) if opts.get("partitions") else None,
        )


def parquet_stats(spark, path: str, columns: list[str] | None = None):
    """Per-row-group parquet footer statistics as a relation —
    data-skipping observability: ``(file, row_group, column, n_rows,
    n_nulls, min_value, max_value)`` with extrema rendered as strings
    (int/str verbatim, float shortest-roundtrip, timestamps
    ``YYYY-MM-DD HH:MM:SS[.ffffff]`` — the format DuckDB's
    ``parquet_metadata()`` and ``CAST(x AS VARCHAR)`` both produce, so
    the table is cross-engine comparable).

    Why it matters at 100 TB: row-group pruning is only as good as the
    footer stats — a table written unsorted has every group spanning
    the full value range and prunes NOTHING. This relation is how you
    SEE that before paying for the scan: tight disjoint min/max ranges
    per group on the filter columns = the `sortWithinPartitions` /
    `zorderBy` write knobs are doing their job.

    Scale: file discovery reuses the incremental source's Hadoop-FS
    listing (driver-side metadata I/O); footer reads are DISTRIBUTED —
    the path list becomes a DataFrame and each task opens only its
    files' footers with pyarrow (KBs per file, the data pages are
    never touched). Executors need filesystem access to the paths via
    pyarrow (local/NFS out of the box; object stores via a pyarrow
    filesystem on the workers).
    """
    import pandas as pd  # noqa: F401 (worker closure)
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from etl_spark_gradle_spark.sources.incremental import list_data_files

    files = [f["path"] for f in list_data_files(spark, path)]
    files = [p[5:] if p.startswith("file:") else p for p in files]
    if not files:
        raise TransformationError(f"parquet_stats: no data files under {path}")
    wanted = set(columns) if columns else None

    schema = StructType(
        [
            StructField("file", StringType()),
            StructField("row_group", IntegerType()),
            StructField("column", StringType()),
            StructField("n_rows", LongType()),
            StructField("n_nulls", LongType()),
            StructField("min_value", StringType()),
            StructField("max_value", StringType()),
        ]
    )

    def _fmt(v):
        if v is None:
            return None
        if isinstance(v, bytes):
            return v.decode("utf-8", errors="replace")
        if isinstance(v, float):
            return repr(v)
        return str(v)

    def scan(batches):
        import pandas as pd
        import pyarrow.parquet as pq

        for pdf in batches:
            rows = []
            for fp in pdf["file"]:
                md = pq.ParquetFile(fp).metadata
                for g in range(md.num_row_groups):
                    rg = md.row_group(g)
                    for j in range(rg.num_columns):
                        col = rg.column(j)
                        name = col.path_in_schema
                        if wanted is not None and name not in wanted:
                            continue
                        st = col.statistics
                        rows.append(
                            (
                                fp,
                                g,
                                name,
                                rg.num_rows,
                                st.null_count if st is not None else None,
                                _fmt(st.min) if st is not None and st.has_min_max else None,
                                _fmt(st.max) if st is not None and st.has_min_max else None,
                            )
                        )
            yield pd.DataFrame(
                rows,
                columns=[
                    "file", "row_group", "column",
                    "n_rows", "n_nulls", "min_value", "max_value",
                ],
            )

    paths_df = spark.createDataFrame([(p,) for p in files], "file string")
    n_slices = min(len(files), int(spark.conf.get("spark.sql.shuffle.partitions", "32")))
    return paths_df.repartition(n_slices).mapInPandas(scan, schema=schema)
