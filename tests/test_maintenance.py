"""Small-file compaction: data-lossless, file-count math, safety guard."""

import glob

import pytest

from deidcm_spark.maintenance import compact_parquet, dir_stats

SF = "/root/testdata/sf0.001/documents.parquet"


def test_compaction_preserves_data_and_reduces_files(spark, tmp_path):
    frag = str(tmp_path / "fragmented")
    out = str(tmp_path / "compacted")
    # simulate a streaming/per-bucket sink: 64 tiny files
    docs = spark.read.parquet(SF)
    docs.repartition(64).write.parquet(frag)
    files_in, bytes_in = dir_stats(spark, frag)
    assert files_in == 64

    stats = compact_parquet(spark, frag, out, target_bytes=bytes_in)
    assert stats["files_in"] == 64
    assert stats["files_out"] == stats["target_files"] == 1
    # lossless: same rows, same values
    a = sorted(r["doc_id"] for r in spark.read.parquet(frag).collect())
    b = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert a == b and len(a) == 500
    # on-disk part files really did collapse
    assert len(glob.glob(out + "/part-*")) == 1


def test_compaction_target_math(spark, tmp_path):
    frag = str(tmp_path / "frag2")
    out = str(tmp_path / "out2")
    spark.read.parquet(SF).repartition(16).write.parquet(frag)
    _, bytes_in = dir_stats(spark, frag)
    # quarter-size target → 4-ish output files (ceil math exact)
    stats = compact_parquet(spark, frag, out,
                            target_bytes=max(1, bytes_in // 4))
    assert stats["target_files"] in (4, 5)  # ceil(total/target)
    assert stats["files_out"] == stats["target_files"]


def test_compaction_refuses_in_place(spark, tmp_path):
    d = str(tmp_path / "same")
    spark.read.parquet(SF).limit(5).write.parquet(d)
    with pytest.raises(ValueError, match="NEW directory"):
        compact_parquet(spark, d, d + "/")


# ---------------------------------------------------------------------------
# Z-order layout rewrite
# ---------------------------------------------------------------------------

import glob as _glob

import pyarrow.parquet as _pq
from pyspark.sql import functions as F

from deidcm_spark.maintenance import zorder_rewrite, zorder_value


def _file_boxes(out_dir, cols):
    """Per-file (min, max) box for each col from the parquet footers."""
    boxes = []
    for f in sorted(_glob.glob(f"{out_dir}/*.parquet")):
        md = _pq.ParquetFile(f).metadata
        names = [md.schema.column(i).name for i in range(md.num_columns)]
        lo = {c: None for c in cols}
        hi = {c: None for c in cols}
        for rg in range(md.num_row_groups):
            for c in cols:
                st = md.row_group(rg).column(names.index(c)).statistics
                lo[c] = st.min if lo[c] is None else min(lo[c], st.min)
                hi[c] = st.max if hi[c] is None else max(hi[c], st.max)
        boxes.append({c: (lo[c], hi[c]) for c in cols})
    return boxes


def _area(boxes, cols, spans):
    return sum(
        ((b[cols[0]][1] - b[cols[0]][0]) / spans[0])
        * ((b[cols[1]][1] - b[cols[1]][0]) / spans[1])
        for b in boxes
    )


def oracle_morton(xs, bits):
    out = 0
    n = len(xs)
    for j, x in enumerate(xs):
        for i in range(bits):
            out |= ((x >> i) & 1) << (i * n + j)
    return out


def test_zorder_value_matches_morton_oracle(spark):
    rows = [(i, (i * 7919) % 1024, (i * 104729) % 1024) for i in range(200)]
    df = spark.createDataFrame(rows, "i long, a long, b long")
    got = {
        r["i"]: r["z"]
        for r in df.select(
            "i", zorder_value([F.col("a"), F.col("b")], 10).alias("z")
        ).collect()
    }
    for i, a, b in rows:
        assert got[i] == oracle_morton([a, b], 10), (i, a, b)


def test_zorder_rewrite_tightens_boxes_and_prunes(spark, tmp_path):
    """16 output files: unclustered each spans ~the full (x, y) plane
    (normalized box-area sum ~16); z-ordered files are compact 2-D boxes
    — area collapses and a 2-D range predicate intersects only a few
    files instead of all of them."""
    n = 40000
    src = str(tmp_path / "src")
    out = str(tmp_path / "zout")
    spark.createDataFrame(
        [(i, (i * 7919) % 200, (i * 104729) % 200) for i in range(n)],
        "doc_id long, x long, y long",
    ).repartition(16).write.parquet(src)
    r = zorder_rewrite(spark, src, out, ["x", "y"], n_files=16)
    assert r["files_out"] >= 8
    # multiset preserved
    a = spark.read.parquet(src).orderBy("doc_id").collect()
    b = spark.read.parquet(out).orderBy("doc_id").collect()
    assert [(q.doc_id, q.x, q.y) for q in a] == [(q.doc_id, q.x, q.y) for q in b]

    spans = (199.0, 199.0)
    base_area = _area(_file_boxes(src, ["x", "y"]), ["x", "y"], spans)
    z_area = _area(_file_boxes(out, ["x", "y"]), ["x", "y"], spans)
    assert z_area < base_area / 4, (z_area, base_area)

    def hits(boxes, xr, yr):
        return sum(
            1
            for bx in boxes
            if not (bx["x"][1] < xr[0] or bx["x"][0] > xr[1])
            and not (bx["y"][1] < yr[0] or bx["y"][0] > yr[1])
        )

    base_hits = hits(_file_boxes(src, ["x", "y"]), (10, 30), (10, 30))
    z_hits = hits(_file_boxes(out, ["x", "y"]), (10, 30), (10, 30))
    assert z_hits < base_hits, (z_hits, base_hits)
    assert z_hits <= 6


def test_zorder_cdf_method_on_skewed_data(spark, tmp_path):
    """Heavy-tailed x: minmax coordinates collapse most rows into few
    grid cells; the cdf method rank-normalizes so pruning survives skew.
    Both methods preserve the rows; cdf must prune a mid-mass predicate
    strictly better than minmax on this corpus."""
    n = 30000
    rows = [(i, float((i % 173) ** 3), (i * 7919) % 200) for i in range(n)]
    src = str(tmp_path / "skew_src")
    spark.createDataFrame(rows, "doc_id long, x double, y long").repartition(
        8
    ).write.parquet(src)
    outs = {}
    for method in ("minmax", "cdf"):
        out = str(tmp_path / f"z_{method}")
        zorder_rewrite(spark, src, out, ["x", "y"], n_files=16, method=method)
        assert spark.read.parquet(out).count() == n
        outs[method] = _file_boxes(out, ["x", "y"])

    # mid-mass slice: x in the bulk of the cube distribution
    def hits(boxes, xr, yr):
        return sum(
            1
            for bx in boxes
            if not (bx["x"][1] < xr[0] or bx["x"][0] > xr[1])
            and not (bx["y"][1] < yr[0] or bx["y"][0] > yr[1])
        )

    xr = (1000.0, 50000.0)
    yr = (10, 40)
    assert hits(outs["cdf"], xr, yr) <= hits(outs["minmax"], xr, yr)


def test_zorder_validation(spark, tmp_path):
    src = str(tmp_path / "vsrc")
    spark.range(10).selectExpr("id as doc_id", "id as x", "id as y").write.parquet(src)
    with pytest.raises(ValueError):
        zorder_rewrite(spark, src, src, ["x", "y"])
    with pytest.raises(ValueError):
        zorder_rewrite(spark, src, str(tmp_path / "o1"), ["x"])
    with pytest.raises(ValueError):
        zorder_rewrite(spark, src, str(tmp_path / "o2"), ["x", "y"], method="hilbert")
    with pytest.raises(ValueError):
        zorder_value([F.col("x")] * 4, 16)  # 64 bits > 62


def test_zorder_cdf_preserves_rows_with_nulls(spark, tmp_path):
    """Row preservation is explicit, not incidental (r4 ADVICE): NULL
    z-column values ride the left join's absent-bucket coordinate and
    every row survives the rewrite, byte-identical id set."""
    rows = [(i, None if i % 7 == 0 else float(i % 97), i % 50)
            for i in range(5000)]
    src = str(tmp_path / "null_src")
    spark.createDataFrame(rows, "doc_id long, x double, y long").repartition(
        4
    ).write.parquet(src)
    out = str(tmp_path / "z_null")
    zorder_rewrite(spark, src, out, ["x", "y"], n_files=8, method="cdf")
    back = spark.read.parquet(out)
    assert back.count() == 5000
    assert {r["doc_id"] for r in back.select("doc_id").collect()} == set(range(5000))


def test_zorder_all_null_column_is_clear_error(spark, tmp_path):
    """An all-NULL z-column raises the descriptive ValueError, never
    float(None) (r4 ADVICE)."""
    src = str(tmp_path / "allnull_src")
    spark.range(100).selectExpr(
        "id as doc_id", "cast(NULL as double) as x", "id % 10 as y"
    ).write.parquet(src)
    for method in ("minmax", "cdf"):
        with pytest.raises(ValueError, match="no non-NULL"):
            zorder_rewrite(
                spark, src, str(tmp_path / f"z_{method}_nn"), ["x", "y"],
                method=method,
            )


def test_compaction_preserves_partition_layout(spark, tmp_path):
    """A hive-partitioned table (the streaming batch_id logs) must be
    rewritten WITH its partition columns: a flat rewrite bakes the values
    into root files and the next partitioned append makes the directory
    unreadable."""
    import os

    src = str(tmp_path / "partsrc")
    dst = str(tmp_path / "partdst")
    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 3).alias("batch_id")
    )
    df.write.partitionBy("batch_id").parquet(src)
    out = compact_parquet(spark, src, dst, target_bytes=1 << 30,
                          partition_by=["batch_id"])
    assert out["files_out"] >= 1
    subdirs = {d for d in os.listdir(dst) if d.startswith("batch_id=")}
    assert subdirs == {"batch_id=0", "batch_id=1", "batch_id=2"}
    back = spark.read.parquet(dst)
    assert back.count() == 100
    # a later partitioned append (the streaming sink) still reads cleanly
    spark.range(100, 110).select(
        F.col("id"), F.lit(3).alias("batch_id")
    ).write.mode("append").partitionBy("batch_id").parquet(dst)
    assert spark.read.parquet(dst).count() == 110
    with pytest.raises(ValueError, match="partition_by"):
        compact_parquet(spark, src, str(tmp_path / "x"),
                        partition_by=["nope"])


def test_partitioned_compaction_writes_one_file_per_small_value(spark, tmp_path):
    """With partition_by, a value below target_bytes is rewritten as ONE
    file even when the table needs several output tasks, so the rewrite
    never writes more files than it read; a value above target splits
    into files of ~target_bytes."""
    src = str(tmp_path / "many_src")
    n_values, n_rows = 24, 4800
    spark.range(n_rows).select(
        F.col("id"), (F.col("id") % n_values).alias("batch_id"),
        F.sha2(F.col("id").cast("string"), 256).alias("pad"),
    ).repartition(3).write.partitionBy("batch_id").parquet(src)
    files_in, _ = dir_stats(spark, src)
    value_bytes = max(dir_stats(spark, f"{src}/batch_id={v}")[1]
                      for v in range(n_values))

    def files_per_value(target):
        dst = str(tmp_path / f"many_dst_{target}")
        out = compact_parquet(spark, src, dst, target_bytes=target,
                              partition_by=["batch_id"])
        assert spark.read.parquet(dst).count() == n_rows
        return out, [dir_stats(spark, f"{dst}/batch_id={v}")[0]
                     for v in range(n_values)]

    out, per_value = files_per_value(2 * value_bytes)
    assert out["target_files"] > 1
    assert per_value == [1] * n_values
    assert out["files_out"] == n_values < files_in
    # every value twice the target: split, not funnelled into one file
    _, per_value = files_per_value(value_bytes // 2)
    assert all(2 <= n <= 3 for n in per_value), per_value
