"""Storage-layout evidence (SURVEY.md §4: 'ranged audio read' -> parquet
row-group pruning; bucketed tables -> shuffle-free co-located joins)."""

import pyspark.sql.functions as F

from podcast_audio_feature_extraction_spark.plans.backfill import build_feature_table


def test_ts_range_filter_is_pushed_to_parquet(spark, transcripts_sdf, tmp_path):
    """S7: a ts-range predicate on a (conv_id, ts)-sorted layout reaches the
    parquet scan as a pushed filter (row-group skipping at scale)."""
    path = str(tmp_path / "sorted_feats")
    (
        transcripts_sdf.repartitionByRange(4, "conv_id", "ts")
        .sortWithinPartitions("conv_id", "ts")
        .write.parquet(path)
    )
    df = spark.read.parquet(path).filter(
        (F.col("ts") >= "2024-02-01") & (F.col("ts") < "2024-02-02") & (F.col("conv_id") == "conv_000003")
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan
    assert "GreaterThanOrEqual(ts" in plan and "LessThan(ts" in plan
    # conv_id equality pushes too (check alone: the display truncates long
    # PushedFilters lists)
    only_conv = spark.read.parquet(path).filter(F.col("conv_id") == "conv_000003")
    cplan = only_conv._jdf.queryExecution().executedPlan().toString()
    assert "EqualTo(conv_id,conv_000003)" in cplan
    # column pruning: only referenced columns in ReadSchema
    sel = df.select("conv_id", "turn_idx")
    rs = sel._jdf.queryExecution().executedPlan().toString()
    assert "text" not in rs.split("ReadSchema")[1].splitlines()[0]


def test_bucketed_tables_join_without_exchange(spark, transcripts_sdf, tmp_path):
    """Bucketed saveAsTable on conv_id: the transcript<->features equi-join
    needs NO Exchange on either side (the co-located join layout a 100 TB
    deployment would use for repeated backfills)."""
    # warehouse.dir is static — use the session default warehouse and drop
    # the tables afterwards
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ path
    spark.sql("DROP TABLE IF EXISTS t_bucketed")
    spark.sql("DROP TABLE IF EXISTS f_bucketed")
    (
        transcripts_sdf.write.bucketBy(8, "conv_id").sortBy("conv_id", "ts")
        .mode("overwrite").saveAsTable("t_bucketed")
    )
    feats = build_feature_table(transcripts_sdf, val_col=None).select("conv_id", "turn_idx", "functionals")
    (
        feats.write.bucketBy(8, "conv_id").sortBy("conv_id", "turn_idx")
        .mode("overwrite").saveAsTable("f_bucketed")
    )
    t = spark.table("t_bucketed")
    f = spark.table("f_bucketed").withColumnRenamed("turn_idx", "f_turn_idx")
    joined = t.join(f, "conv_id")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    try:
        assert "Exchange hashpartitioning" not in plan, plan[:2000]
        # sanity: join actually produces rows
        assert joined.limit(5).count() > 0
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS t_bucketed")
        spark.sql("DROP TABLE IF EXISTS f_bucketed")


def test_one_layout_path_source_scan():
    """The conv_bucket layout is written one way: ``partitionOverwriteMode``
    and ``partitionBy("conv_bucket")`` each appear once in the package,
    ``bench.py``, ``__spark_entry__.py``, ``jobs/`` and ``tools/``, inside
    ``operators/resume.commit_rebuilt_partitions`` (the one writer); no call
    nests ``load_manifest(`` inside ``pin_layout(`` (the pin loads the
    manifest itself); the package never buckets with ``zlib`` (every
    bucket is ``bucket_col``, computed by Spark); and the schema of a
    layout table or the log is never inferred: every ``.read...parquet(``
    in the layout's modules chains a ``.schema(``, and no ``read_buckets(``
    call passes a schema (it takes the manifest's)."""
    import ast
    import re
    from pathlib import Path

    root = Path(__file__).resolve().parent.parent
    pkg = root / "podcast_audio_feature_extraction_spark"
    sources = [
        *sorted(pkg.rglob("*.py")),
        root / "bench.py",
        root / "__spark_entry__.py",
        *sorted((root / "jobs").rglob("*.py")),
        *sorted((root / "tools").rglob("*.py")),
    ]
    layout_write = re.compile(r"""partitionOverwriteMode|partitionBy\(\s*["']conv_bucket["']\s*\)""")
    called = lambda node: getattr(node.func, "id", getattr(node.func, "attr", None))
    layout_modules = {"operators/resume.py", "plans/backfill.py", "streaming/delta.py"}

    def chain(node):
        """Attribute names along a call chain, outermost first."""
        names = []
        while isinstance(node, (ast.Call, ast.Attribute)):
            if isinstance(node, ast.Attribute):
                names.append(node.attr)
            node = node.func if isinstance(node, ast.Call) else node.value
        return names

    writes, bad = [], []
    for path in sources:
        rel, text = path.relative_to(root), path.read_text()
        tree = ast.parse(text)
        writer = [
            n for n in tree.body
            if isinstance(n, ast.FunctionDef) and n.name == "commit_rebuilt_partitions" and rel.name == "resume.py"
        ]
        inside = {i for n in writer for i in range(n.lineno, n.end_lineno + 1)}
        for i, line in enumerate(text.splitlines(), 1):
            for m in layout_write.finditer(line):
                writes.append(m.group(0))
                if i not in inside:
                    bad.append(f"{rel}:{i}: layout write outside the one writer: {line.strip()}")
            if "zlib" in line and path.is_relative_to(pkg):
                bad.append(f"{rel}:{i}: zlib in the package: {line.strip()}")
        module = rel.relative_to("podcast_audio_feature_extraction_spark").as_posix() if path.is_relative_to(pkg) else None
        for node in ast.walk(tree):
            if isinstance(node, ast.Call) and called(node) == "pin_layout":
                if any(isinstance(n, ast.Call) and called(n) == "load_manifest" for n in ast.walk(node)):
                    bad.append(f"{rel}:{node.lineno}: load_manifest( nested inside pin_layout(")
            if isinstance(node, ast.Call) and called(node) == "read_buckets":
                if len(node.args) > 3 or node.keywords:
                    bad.append(f"{rel}:{node.lineno}: read_buckets( given a schema (it reads the pinned one)")
            if module in layout_modules and isinstance(node, ast.Call) and called(node) == "parquet":
                names = chain(node.func)
                if "read" in names and "schema" not in names:
                    bad.append(f"{rel}:{node.lineno}: schema-inferring read: {ast.unparse(node)}")
    assert not bad, bad
    assert sorted(writes) == ['partitionBy("conv_bucket")', "partitionOverwriteMode"], writes
