"""Table maintenance: small-file compaction.

A 10^12-row table accumulates small files — per-bucket commits, streaming
micro-batches, skewed dynamic partitions — and scan cost degrades with
file COUNT (footer reads, task scheduling), not just bytes.  Real table
formats run a compaction job (Iceberg's ``rewrite_data_files``); this is
that job for the parquet-emulation layout this repo uses.

Sizing reads the actual on-disk bytes through the Hadoop FileSystem API
(works for any scheme Spark can reach, not just ``file://``), targets
``target_bytes`` per output file, and rewrites with a repartition — a
full shuffle, which is the point: compaction exists to pay one clean
rewrite so every later scan is cheap.  The rewrite lands in a NEW
directory (the caller swaps it in, or an Iceberg commit would make the
swap transactional) — compaction never overwrites its own input.
"""

from __future__ import annotations

import math

from pyspark.sql import SparkSession

from deidcm_spark.schema import hadoop_path


def dir_stats(spark: SparkSession, path: str) -> tuple[int, int]:
    """(n_data_files, total_bytes) under ``path`` via the Hadoop FS API —
    counts data files only (skips _SUCCESS/_metadata/dot files)."""
    fs, p = hadoop_path(spark, path)
    it = fs.listFiles(p, True)
    n, total = 0, 0
    while it.hasNext():
        st = it.next()
        name = st.getPath().getName()
        if name.startswith(("_", ".")):
            continue
        n += 1
        total += st.getLen()
    return n, total


def compact_parquet(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    target_bytes: int = 128 * 1024 * 1024,
    partition_by: list[str] | None = None,
) -> dict:
    """Rewrite ``in_dir`` into ``out_dir`` with ~``target_bytes`` files.

    Returns the before/after accounting.  ``out_dir`` must differ from
    ``in_dir`` (never rewrite input in place — a failed job would
    destroy the table; with Iceberg the directory swap is one commit).

    ``partition_by`` preserves a hive-partitioned layout consumers key
    on: a table read through ``basePath``-style partition discovery (the
    streaming Bloom/LSH partial logs partition by ``batch_id``) MUST be
    rewritten with the same partition columns — a flat rewrite bakes the
    partition values into root-level data files, and the next
    micro-batch's partitioned append makes the directory unreadable
    (mixed layouts) besides breaking replay's per-batch overwrite.

    With ``partition_by`` each partition value goes to one task, which
    starts a new file every ~``target_bytes`` (``maxRecordsPerFile`` from
    the mean on-disk row size): a value below target is one file, and a
    hot value above it is several, written by that one task."""
    if in_dir.rstrip("/") == out_dir.rstrip("/"):
        raise ValueError("compaction must write to a NEW directory")
    files_in, total = dir_stats(spark, in_dir)
    n_out = max(1, math.ceil(total / target_bytes))
    df = spark.read.parquet(in_dir)
    if partition_by:
        missing = [c for c in partition_by if c not in df.columns]
        if missing:
            raise ValueError(
                f"partition_by columns {missing} not in the table "
                f"(columns: {df.columns})"
            )
        # a round-robin repartition(n_out) would put every value in every
        # task: up to n_out files per value, however small the value
        rows_per_file = max(1, target_bytes * df.count() // max(total, 1))
        df.repartition(n_out, *partition_by).write.mode("overwrite").option(
            "maxRecordsPerFile", rows_per_file
        ).partitionBy(*partition_by).parquet(out_dir)
    else:
        df.repartition(n_out).write.mode("overwrite").parquet(out_dir)
    files_out, bytes_out = dir_stats(spark, out_dir)
    return {
        "files_in": files_in,
        "files_out": files_out,
        "bytes_in": total,
        "bytes_out": bytes_out,
        "target_files": n_out,
    }


# ---------------------------------------------------------------------------
# Z-order layout rewrite (multi-dimensional clustering for scan pruning)
# ---------------------------------------------------------------------------

from pyspark.sql import Column, DataFrame, functions as F  # noqa: E402


def _coord_minmax(col: str, lo, hi, bits: int) -> Column:
    """Affine map of ``col`` onto the integer grid [0, 2^bits)."""
    grid = 1 << bits
    x = F.col(col).cast("double")
    span = float(hi - lo) if hi > lo else 1.0
    raw = F.floor((x - F.lit(float(lo))) / F.lit(span) * grid).cast("bigint")
    return F.greatest(F.lit(0), F.least(raw, F.lit(grid - 1)))


def zorder_value(coords: list[Column], bits: int) -> Column:
    """Interleave ``bits`` bits of each coordinate into one bigint
    (Morton code): bit i of coordinate j lands at position
    ``i * n_cols + j``.  Unrolled shifts/masks — whole-stage codegen,
    no UDF.  ``bits * len(coords)`` must fit a signed 64-bit value."""
    n = len(coords)
    if bits * n > 62:
        raise ValueError(f"{n} cols x {bits} bits exceeds the 62-bit z-value")
    terms = []
    for j, c in enumerate(coords):
        for i in range(bits):
            terms.append(
                F.shiftleft(F.shiftright(c, i).bitwiseAND(F.lit(1)), i * n + j)
            )
    out = terms[0]
    for t in terms[1:]:
        out = out.bitwiseOR(t)
    return out


def zorder_rewrite(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    cols: list[str],
    n_files: int = 16,
    bits: int = 16,
    method: str = "minmax",
    cdf_m: int = 4096,
) -> dict:
    """Rewrite ``in_dir`` clustered on the Z-order (Morton) curve over
    ``cols`` — the Delta ``OPTIMIZE ZORDER BY`` / Iceberg
    ``rewrite_data_files(strategy => 'sort', sort_order => zorder(...))``
    analogue for the parquet-emulation layout.

    Why: a single-column sort gives perfect file-level min/max pruning on
    ONE column and none on the others; interleaving the bits of k
    rank-normalized coordinates makes every output file a compact
    k-dimensional box, so parquet footer min/max prune scans for
    predicates on ANY subset of the z-columns.  The rewrite is one
    ``repartitionByRange`` on the z-value (range exchange = contiguous
    curve segments per file) + an in-partition sort; both stay JVM-side
    (the z-value is pure shift/mask codegen, no UDF).

    ``method``:
    * ``minmax`` — affine map onto the grid (one min/max aggregate).
      Heavy-tailed columns collapse onto few grid cells (documented
      caveat — exactly Delta's behavior).
    * ``cdf`` — rank-normalize through the bounded CDF sketch
      (``quantile.cdf_build``): coordinate = cumulative-count fraction
      of the value's bucket, so each grid cell carries ~equal row mass
      regardless of skew.  Costs one extra bounded aggregation + a
      ≤ ``cdf_m``-row broadcast join per column.

    Returns the before/after accounting plus per-file box stats the
    caller (and the test) can judge pruning quality by."""
    if in_dir.rstrip("/") == out_dir.rstrip("/"):
        raise ValueError("zorder rewrite must write to a NEW directory")
    if not cols or len(cols) < 2:
        raise ValueError("zorder needs at least 2 columns (sort suffices for 1)")
    if method not in ("minmax", "cdf"):
        raise ValueError(f"method must be 'minmax' or 'cdf', got {method!r}")
    df = spark.read.parquet(in_dir)
    stats = df.agg(
        *[F.min(c).alias(f"_lo{i}") for i, c in enumerate(cols)],
        *[F.max(c).alias(f"_hi{i}") for i, c in enumerate(cols)],
    ).collect()[0]
    for i, c in enumerate(cols):
        if stats[f"_lo{i}"] is None or stats[f"_hi{i}"] is None:
            raise ValueError(
                f"z-order column {c!r} has no non-NULL values — no layout "
                f"coordinate can be derived; drop it from cols or fill it"
            )
    coords: list[Column] = []
    work = df
    if method == "minmax":
        for i, c in enumerate(cols):
            coords.append(
                _coord_minmax(c, stats[f"_lo{i}"], stats[f"_hi{i}"], bits)
            )
    else:
        from deidcm_spark.operators.quantile import cdf_build

        grid = 1 << bits
        for i, c in enumerate(cols):
            lo, hi = float(stats[f"_lo{i}"]), float(stats[f"_hi{i}"])
            if hi <= lo:
                hi = lo + 1.0
            sk = cdf_build(df, c, lo, hi, cdf_m)
            from pyspark.sql import Window

            w = Window.orderBy("bucket_idx").rowsBetween(
                Window.unboundedPreceding, -1
            )
            ranks = (
                sk.withColumn("_before", F.coalesce(F.sum("cnt").over(w), F.lit(0)))
                .withColumn("_total", F.sum("cnt").over(Window.partitionBy()))
                .select(
                    F.col("bucket_idx").alias(f"_zb{i}"),
                    F.least(
                        F.lit(grid - 1),
                        F.floor(
                            F.col("_before") / F.col("_total") * grid
                        ).cast("bigint"),
                    ).alias(f"_zc{i}"),
                )
            )
            # bucket of this row under the SAME spec as cdf_build; a NULL
            # value maps to the TOP bucket explicitly (previously it got
            # there only via Spark's null-skipping greatest/least — a
            # non-obvious invariant row preservation must not ride on)
            span = hi - lo
            raw = F.floor(
                (F.col(c).cast("double") - F.lit(lo)) / F.lit(span) * cdf_m
            )
            bkt = F.when(F.col(c).isNull(), F.lit(cdf_m - 1)).otherwise(
                F.greatest(F.lit(0), F.least(raw, F.lit(cdf_m - 1)))
            ).cast("int")
            # LEFT join + explicit absent-bucket coordinate (grid-1): the
            # rewrite must preserve every row even if a bucket is missing
            # from the sketch — never an incidental inner-join property
            work = (
                work.withColumn(f"_zb{i}", bkt)
                .join(F.broadcast(ranks), f"_zb{i}", "left")
                .withColumn(
                    f"_zc{i}", F.coalesce(F.col(f"_zc{i}"), F.lit(grid - 1))
                )
                .drop(f"_zb{i}")
            )
            coords.append(F.col(f"_zc{i}"))
    z = zorder_value(coords, bits)
    clustered = (
        work.withColumn("_z", z)
        .repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop(*[f"_zc{i}" for i in range(len(cols))])
        .drop("_z")
    )
    clustered.write.mode("overwrite").parquet(out_dir)
    files_out, bytes_out = dir_stats(spark, out_dir)
    return {
        "files_out": files_out,
        "bytes_out": bytes_out,
        "cols": list(cols),
        "method": method,
    }
