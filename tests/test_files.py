"""File-format sources: compaction, schema evolution, incremental
manifests and parquet footer introspection."""

from __future__ import annotations


def test_compact_files_reduces_and_range_partitions(spark, tmp_path):
    """Compaction contract: ~count/target output files, every row
    preserved, and each file owns a DISJOINT doc_id range (footer
    min/max stats can skip whole files for id predicates)."""
    import os

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from mbta_etl_spark.sources.formats import compact_files

    df = spark.range(10_000).select(
        F.col("id").alias("doc_id"), F.concat(F.lit("t"), "id").alias("text")
    )
    frag = str(tmp_path / "frag")
    df.repartition(40).write.parquet(frag)
    n_frag = len([f for f in os.listdir(frag) if f.endswith(".parquet")])
    assert n_frag == 40  # the disease: many tiny files

    out = str(tmp_path / "compact")
    back = compact_files(spark.read.parquet(frag), out, "doc_id", 2500)
    assert back.count() == 10_000
    files = sorted(
        os.path.join(out, f) for f in os.listdir(out) if f.endswith(".parquet")
    )
    assert len(files) == 4  # ceil(10000/2500)
    ranges = []
    for f in files:
        md = pq.read_metadata(f)
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            col = md.row_group(rg).column(0)
            assert col.path_in_schema == "doc_id"
            mins.append(col.statistics.min)
            maxs.append(col.statistics.max)
        ranges.append((min(mins), max(maxs)))
    ranges.sort()
    for (lo_a, hi_a), (lo_b, _) in zip(ranges, ranges[1:]):
        assert hi_a < lo_b, f"file ranges overlap: {ranges}"


def test_evolved_read_merges_and_backfills(spark, tmp_path):
    """mergeSchema unions the footer schemas; legacy rows NULL-backfill
    the added column; no row is lost or duplicated."""
    from pyspark.sql import functions as F

    from mbta_etl_spark.sources.formats import evolved_read

    old = spark.createDataFrame([(1, "x"), (2, "y")], "id long, name string")
    new = spark.createDataFrame(
        [(3, "z", 30), (4, "w", 40)], "id long, name string, extra long"
    )
    merged = evolved_read(old, new, str(tmp_path / "evo"))
    assert set(merged.columns) == {"id", "name", "extra"}
    rows = {r["id"]: r for r in merged.collect()}
    assert len(rows) == 4
    assert rows[1]["extra"] is None and rows[2]["extra"] is None
    assert rows[3]["extra"] == 30 and rows[4]["extra"] == 40
    # pushdown on the evolved column still prunes legacy-NULL rows
    assert merged.filter(F.col("extra") > 35).count() == 1


def test_incremental_manifest_reads_only_new_files(spark, tmp_path):
    """The manifest diff isolates the appended batch: the incremental
    read returns exactly the new rows, and every file it scanned is one
    the first manifest had never seen."""
    from pyspark.sql import functions as F

    from mbta_etl_spark.sources.formats import incremental_manifest_read

    old = spark.range(0, 100).select(
        F.col("id").alias("k"), F.lit("old").alias("batch")
    )
    new = spark.range(100, 130).select(
        F.col("id").alias("k"), F.lit("new").alias("batch")
    )
    root = str(tmp_path / "inc")
    fresh = incremental_manifest_read(old, new, root)
    rows = fresh.collect()
    assert sorted(r["k"] for r in rows) == list(range(100, 130))
    assert {r["batch"] for r in rows} == {"new"}
    # the files behind the incremental frame are disjoint from the whole
    # table's pre-append listing re-derived from the old rows
    all_files = {
        r[0]
        for r in spark.read.parquet(root)
        .select(F.input_file_name())
        .distinct()
        .collect()
    }
    fresh_files = {
        r[0] for r in fresh.select(F.input_file_name()).distinct().collect()
    }
    old_files = {
        r[0]
        for r in spark.read.parquet(root)
        .filter(F.col("batch") == "old")
        .select(F.input_file_name())
        .distinct()
        .collect()
    }
    assert fresh_files and fresh_files.isdisjoint(old_files)
    assert fresh_files <= all_files


def test_footer_stats_reads_real_metadata(spark, tmp_path):
    """Footer stats agree with the data that was written: row counts
    and min/max per file come from the parquet footer, not a scan."""
    from pyspark.sql import functions as F

    from mbta_etl_spark.sources.files import footer_stats

    df = spark.range(100).select(
        (F.col("id") * 3).alias("k"), F.col("id").alias("v")
    )
    path = str(tmp_path / "t.parquet")
    df.coalesce(2).write.parquet(path)
    out = footer_stats(spark, path, "k").collect()
    assert sum(r.n_rows for r in out) == 100
    assert min(r.stat_min for r in out) == 0
    assert max(r.stat_max for r in out) == 297
    assert all(r.n_cols == 2 for r in out)
    assert all(r.compressed_bytes > 0 for r in out)
    assert all(r.uncompressed_bytes >= r.n_rows for r in out)


def test_footer_stats_degrades_to_null_on_missing_stats(spark, tmp_path):
    """ADVICE r3: a stat column that is absent from the footer (hive
    partition column), or whose values aren't integers, yields NULL
    stat_min/stat_max rows — never an executor task failure."""
    from pyspark.sql import functions as F

    from mbta_etl_spark.sources.files import footer_stats

    df = spark.range(20).select(
        (F.col("id") % 2).alias("p"), F.col("id").alias("v")
    )
    path = str(tmp_path / "part.parquet")
    df.write.partitionBy("p").parquet(path)
    # 'p' lives in the directory name, not the parquet footer
    out = footer_stats(spark, path, "p").collect()
    assert sum(r.n_rows for r in out) == 20
    assert all(r.stat_min is None and r.stat_max is None for r in out)

    # non-integer stat column: strings can't cast to long → NULL, not crash
    sdf = spark.range(10).select(
        F.concat(F.lit("doc-"), F.col("id")).alias("s"), F.col("id").alias("v")
    )
    spath = str(tmp_path / "s.parquet")
    sdf.coalesce(1).write.parquet(spath)
    sout = footer_stats(spark, spath, "s").collect()
    assert sum(r.n_rows for r in sout) == 10
    assert all(r.stat_min is None and r.stat_max is None for r in sout)
