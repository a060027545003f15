"""Config assembly + sink library tests (reference S3/K1 parity)."""

from __future__ import annotations

import os
import pathlib
import re

import pytest

from kafka2clickhouse_py_streamer_spark.config import JobConfig, load_env_file
from kafka2clickhouse_py_streamer_spark.sinks import (
    clickhouse_connect_sink,
    jdbc_sink,
    parquet_sink,
    partitioned_parquet_sink,
)

BASE_ENV = {
    "KAFKA_BOOTSTRAP_SERVERS": "broker:9092",
    "KAFKA_TOPIC": "events",
    "SINK_URL": "jdbc:ch://host:8123/db",
    "SINK_TABLE": "t",
}


def test_config_from_env_defaults():
    cfg = JobConfig.from_env(BASE_ENV, env_file="/nonexistent")
    assert cfg.max_offsets_per_trigger == 25000  # reference NUM_MESSAGES
    assert cfg.string_enum_columns == ["gps_validity", "incognito_mode"]
    assert cfg.required_columns == []
    assert cfg.kafka_min_partitions == 0  # 1:1 topic-partition mapping


def test_config_kafka_min_partitions_env():
    env = {**BASE_ENV, "KAFKA_MIN_PARTITIONS": "16"}
    cfg = JobConfig.from_env(env, env_file="/nonexistent")
    assert cfg.kafka_min_partitions == 16


def test_config_fail_fast_on_missing():
    env = dict(BASE_ENV)
    del env["SINK_TABLE"]
    with pytest.raises(ValueError, match="SINK_TABLE"):
        JobConfig.from_env(env, env_file="/nonexistent")


def test_config_empty_list_var_not_fatal_and_empty():
    env = {**BASE_ENV, "REQUIRED_COLUMNS": ""}
    cfg = JobConfig.from_env(env, env_file="/nonexistent")
    assert cfg.required_columns == []  # NOT [''] (reference bug avoided)


def test_config_env_file_fallback(tmp_path):
    envf = tmp_path / ".env"
    envf.write_text(
        "KAFKA_BOOTSTRAP_SERVERS=b:9092\nKAFKA_TOPIC=t\n"
        "SINK_URL=jdbc:x\nSINK_TABLE=tt\n# comment\nNUM_MESSAGES=100\n"
    )
    cfg = JobConfig.from_env({}, env_file=str(envf))
    assert cfg.kafka_topic == "t"
    assert cfg.max_offsets_per_trigger == 100


def test_env_file_parser(tmp_path):
    envf = tmp_path / ".env"
    envf.write_text('A=1\nB="quoted"\nbad line\n# c\n')
    assert load_env_file(str(envf)) == {"A": "1", "B": "quoted"}


# The package's only env reads: deployment resources and data/sink
# locations. Tuning confs are constants in session.py (``extra_conf``
# overrides them), offsets are always persisted, iterative cuts follow
# Spark's checkpoint dir and the ingest path has one delivery order.
ENGINE_ENV_VARS = {
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_DRIVER_MEM",
    "SPARK_GRAFT_SF_DIR",
    "SPARK_GRAFT_SINK_DIR",
}


def test_engine_env_vars_are_the_allow_list():
    import kafka2clickhouse_py_streamer_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    found = {
        m
        for f in root.rglob("*.py")
        for m in re.findall(r"SPARK_GRAFT_[A-Z_]+", f.read_text())
    }
    assert found == ENGINE_ENV_VARS


def test_batch_state_protocol_has_one_owner():
    """``streaming/state.py`` owns the replay-safe batch-partition
    protocol: it alone names the dynamic partition-overwrite mode (as a
    per-write option, never a session conf), and the other persisted
    operators take the protocol from it, not from each other."""
    import ast

    import kafka2clickhouse_py_streamer_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    owners = {
        str(f.relative_to(root))
        for f in root.rglob("*.py")
        if "partitionOverwriteMode" in f.read_text()
    }
    assert owners == {"streaming/state.py"}
    for name in ("sketch_stream.py", "asof_stream.py"):
        tree = ast.parse((root / "streaming" / name).read_text())
        imported = {
            n.module or "" for n in ast.walk(tree)
            if isinstance(n, ast.ImportFrom)
        }
        assert not any(m.endswith("corpus_stream") for m in imported), name


def test_session_tuning_confs_are_constants(spark):
    assert spark.conf.get("spark.sql.join.preferSortMergeJoin") == "false"
    assert spark.conf.get(
        "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold"
    ) == str(64 * 1024 * 1024)
    assert spark.sparkContext.getConf().get(
        "spark.io.compression.codec"
    ) == "lz4"
    # a static SQL conf: only the builder can set it
    assert spark.sparkContext.getConf().get(
        "spark.sql.codegen.cache.maxEntries"
    ) == "4096"


def test_driver_jvm_runs_with_raised_c2_thresholds(spark):
    """The tier-4 thresholds are JVM launch options: the conf must be on
    the builder, and the running JVM must report the raised values.
    They ride on defaultJavaOptions so extraJavaOptions stays free for
    a user's own flags (Spark prepends the first to the second)."""
    from kafka2clickhouse_py_streamer_spark.session import (
        TIER4_DEFAULTS,
        TIER4_FACTOR,
    )

    conf = spark.sparkContext.getConf()
    # the running context fills extraJavaOptions with Spark's own
    # module flags; get_spark adds nothing there
    assert "Tier4" not in (conf.get("spark.driver.extraJavaOptions") or "")
    opts = conf.get("spark.driver.defaultJavaOptions").split()
    jvm = spark.sparkContext._jvm
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    assert TIER4_FACTOR > 1
    for flag, default in TIER4_DEFAULTS.items():
        raised = default * TIER4_FACTOR
        assert f"-XX:{flag}={raised}" in opts
        assert bean.getVMOption(flag).getValue() == str(raised)


def test_jit_compile_ms_reads_the_jvm_total(spark):
    from kafka2clickhouse_py_streamer_spark.session import jit_compile_ms

    before = jit_compile_ms(spark)
    assert before > 0
    spark.range(1000).selectExpr("sum(id * 3)").collect()
    assert jit_compile_ms(spark) >= before


def test_codegen_cache_holds_a_working_set_over_spark_default(spark):
    """120 whole-stage-codegen projections, each with its own inlined
    literal, so each generates a distinct class: more than Spark's
    default cache of 100. Run twice, the second round must find every
    class cached and compile nothing. Building each plan's RDD compiles
    its class on the driver, so no job has to run."""
    from pyspark.sql import functions as F

    from kafka2clickhouse_py_streamer_spark.session import codegen_compiles

    def one_round() -> int:
        before = codegen_compiles(spark)
        for i in range(1_000_001, 1_000_121):
            df = spark.range(1).select((F.col("id") + i).alias("x"))
            df._jdf.queryExecution().executedPlan().execute()
        return codegen_compiles(spark) - before

    assert one_round() >= 100
    assert one_round() == 0


def test_parquet_sinks_roundtrip(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "a", "2024-01-01"), (2, "b", "2024-01-02")],
        "id long, v string, day string",
    )
    plain = str(tmp_path / "plain")
    parquet_sink(plain)(df)
    assert spark.read.parquet(plain).count() == 2

    parts = str(tmp_path / "parts")
    partitioned_parquet_sink(parts, ["day"])(df)
    # directory-partitioned layout → partition pruning on read
    assert os.path.isdir(os.path.join(parts, "day=2024-01-01"))
    pruned = spark.read.parquet(parts).filter("day = '2024-01-01'")
    assert pruned.count() == 1
    # the filter must prune at the scan (PartitionFilters), not post-scan:
    # at 100 TB this is the difference between reading one day and all
    from kafka2clickhouse_py_streamer_spark.plans import formatted_plan

    plan = formatted_plan(pruned)
    assert "PartitionFilters" in plan
    lines = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert any("day" in ln for ln in lines)


def test_jdbc_sink_appends_async_settings():
    sink = jdbc_sink("jdbc:ch://h:8123/db", "t")
    # the callable closes over the rewritten URL
    url = next(
        c.cell_contents
        for c in sink.__closure__
        if isinstance(c.cell_contents, str) and c.cell_contents.startswith("jdbc:")
    )
    assert "async_insert=1" in url and "?" in url


def test_clickhouse_connect_sink_gated():
    with pytest.raises(NotImplementedError, match="jdbc_sink"):
        clickhouse_connect_sink("h", 8123, "t")


def test_bucketed_tables_join_without_shuffle(spark, tmp_path):
    """Two tables bucketed+sorted on the same key must join with ZERO
    exchange — the pay-the-shuffle-once-at-write layout for
    repeatedly-joined 100 TB fact tables. (A per-partition sort can
    remain in the plan; the pinned property is the eliminated
    shuffle.)"""
    from kafka2clickhouse_py_streamer_spark.operators.base import table
    from kafka2clickhouse_py_streamer_spark.plans import (
        count_exchanges,
        formatted_plan,
    )
    from kafka2clickhouse_py_streamer_spark.sinks import (
        bucketed_parquet_sink,
    )

    sf_dir = "/root/testdata/sf0.001"
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity"
    )
    od = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    try:
        bucketed_parquet_sink(
            "li_b", str(tmp_path / "li"), ["l_orderkey"], 4,
            sort_cols=["l_orderkey"],
        )(li)
        bucketed_parquet_sink(
            "od_b", str(tmp_path / "od"), ["o_orderkey"], 4,
            sort_cols=["o_orderkey"],
        )(od)
        joined = (
            spark.table("li_b")
            .hint("merge")
            .join(
                spark.table("od_b"),
                spark.table("li_b").l_orderkey
                == spark.table("od_b").o_orderkey,
            )
        )
        assert count_exchanges(joined) == 0
        assert "SortMergeJoin" in formatted_plan(joined)
        assert joined.count() == li.count()
    finally:
        spark.sql("DROP TABLE IF EXISTS li_b")
        spark.sql("DROP TABLE IF EXISTS od_b")


def test_orc_roundtrip_with_pushdown(spark, tmp_path):
    """ORC source/sink: roundtrip plus the same pushdown/pruning
    contract as parquet (filters reach the scan, schema pruned)."""
    from kafka2clickhouse_py_streamer_spark.operators.base import table
    from kafka2clickhouse_py_streamer_spark.plans import (
        pushed_filters,
        read_schema_columns,
    )
    from kafka2clickhouse_py_streamer_spark.sinks import orc_sink
    from kafka2clickhouse_py_streamer_spark.sources.files import read_orc

    src = table(spark, "/root/testdata/sf0.001", "orders")
    dest = str(tmp_path / "orders_orc")
    orc_sink(dest, mode="overwrite")(src)

    back = read_orc(spark, dest)
    assert back.count() == src.count()

    q = back.filter(back.o_totalprice > 100000).select("o_orderkey")
    assert any("o_totalprice" in f for f in pushed_filters(q))
    [cols] = read_schema_columns(q)
    assert set(cols) == {"o_orderkey", "o_totalprice"}


def test_binary_file_source_reads_media(spark, tmp_path):
    """binaryFile ingestion: one row per file with the payload bytes,
    glob filtering at the file index, and the max-bytes guard
    evaluated from file-status metadata (oversize payloads skipped
    without being read)."""
    from kafka2clickhouse_py_streamer_spark.sources.files import (
        read_binary_files,
    )

    media = tmp_path / "media"
    media.mkdir()
    (media / "a.img").write_bytes(b"\x89IMG" + b"x" * 10)
    (media / "b.img").write_bytes(b"\x89IMG" + b"y" * 100)
    (media / "notes.txt").write_text("not media")

    rows = {
        r.path.rsplit("/", 1)[-1]: r
        for r in read_binary_files(
            spark, str(media), glob="*.img"
        ).collect()
    }
    assert set(rows) == {"a.img", "b.img"}
    assert rows["a.img"].n_bytes == 14
    assert bytes(rows["a.img"].payload)[:4] == b"\x89IMG"

    capped = read_binary_files(
        spark, str(media), glob="*.img", max_bytes=50
    ).collect()
    assert [r.path.rsplit("/", 1)[-1] for r in capped] == ["a.img"]

    # the payload feeds the multimodal decode stage unchanged
    from pyspark.sql import functions as F

    from kafka2clickhouse_py_streamer_spark.llm.multimodal import (
        decode_media,
    )

    df = read_binary_files(spark, str(media), glob="*.img").select(
        F.monotonically_increasing_id().alias("doc_id"),
        F.lit("image").alias("media_type"),
        "payload",
    )
    decoded = decode_media(df).collect()
    assert {r.n_bytes for r in decoded} == {14, 104}
    assert all(r.width >= 1 and r.height >= 1 for r in decoded)


def test_read_text_line_and_whole_modes(spark, tmp_path):
    """read_text: one row per line by default, one row per FILE with
    whole=True — both with the source path attached."""
    from kafka2clickhouse_py_streamer_spark.sources.files import read_text

    p = tmp_path / "corpus"
    p.mkdir()
    (p / "a.txt").write_text("line one\nline two\n")
    (p / "b.txt").write_text("single doc body\n")

    lines = read_text(spark, str(p))
    assert sorted(r.text for r in lines.collect()) == [
        "line one", "line two", "single doc body",
    ]
    assert all(r.src_path for r in lines.collect())

    docs = read_text(spark, str(p), whole=True)
    got = {r.src_path.rsplit("/", 1)[-1]: r.text for r in docs.collect()}
    assert got["a.txt"] == "line one\nline two\n"
    assert got["b.txt"] == "single doc body\n"
