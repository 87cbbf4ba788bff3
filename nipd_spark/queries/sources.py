"""Non-parquet sources & sinks (SURVEY.md §2.1: S2 CSV, S3 JSON, S4
semi-structured text, S5 in-memory, S6 sink round-trip).

Reference realization [PK]: ``pandas.read_csv``/``read_table`` over
GATK VariantsToTable / bcftools-query TSVs, and VCF-style files with
``##`` meta headers. Files are staged deterministically from the corpus
itself under ``harness.scratch_dir`` (content-keyed, private to the
process) through ``harness.staged``, so the DuckDB oracle can validate
against the original tables.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nipd_spark.catalog import load
from nipd_spark.registry import query
from nipd_spark.session import child_session
from nipd_spark.streaming.harness import scratch_dir, staged


@query(
    "s2_csv_roundtrip",
    sql="SELECT n_nationkey, n_name, n_regionkey FROM nation",
    tags=("S2", "S6"),
)
def s2_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TSV sink + source round-trip with an explicit schema (the
    variant-table TSV ingest path). No inferSchema — SURVEY.md §1.2."""
    d = staged(
        sf_dir,
        "nation_tsv",
        lambda d: load(spark, sf_dir, "nation")
        .coalesce(1)
        .write.options(sep="\t", header=True)
        .csv(d),
    )
    schema = T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    )
    return spark.read.options(sep="\t", header=True).schema(schema).csv(d)


@query(
    "s3_json_roundtrip",
    sql="SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier",
    tags=("S3", "S6"),
)
def s3_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines sink + source round-trip with explicit schema."""
    d = staged(
        sf_dir,
        "supplier_json",
        lambda d: load(spark, sf_dir, "supplier").coalesce(1).write.json(d),
    )
    schema = T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    )
    return spark.read.schema(schema).json(d).select(
        "s_suppkey", "s_name", "s_nationkey", "s_acctbal"
    )


@query(
    "s4_semistructured_vcf",
    sql="""
    SELECT CAST(user_id AS VARCHAR) AS sample_id,
           event_type AS kind,
           event_id AS pos,
           CAST(json_extract_string(props, '$.k') AS INT) AS depth
    FROM events WHERE event_id < 200
    """,
    tags=("S4", "F1"),
)
def s4_semistructured_vcf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VCF-style semi-structured ingest: stage a text file with ``##``
    meta lines + a ``#`` header + tab-packed records, then parse by
    skipping meta lines and splitting fields (the pandas
    ``read_csv(comment='#')`` idiom, SURVEY.md §2.1 S4).

    INFO-style packed field (``k=<n>``) is split with str ops, exactly
    how VCF INFO is handled.
    """

    def write(d: str) -> None:
        ev = load(spark, sf_dir, "events").filter(F.col("event_id") < 200)
        body = ev.select(
            F.concat_ws(
                "\t",
                F.col("user_id").cast("string"),
                "event_type",
                F.col("event_id").cast("string"),
                F.concat(F.lit("k="), F.get_json_object("props", "$.k")),
            ).alias("value")
        )
        header = spark.createDataFrame(
            [("##fileformat=VCFish",), ("##source=nipd_spark",),
             ("#SAMPLE\tKIND\tPOS\tINFO",)],
            "value string",
        )
        header.unionAll(body).coalesce(1).write.text(d)

    raw = spark.read.text(staged(sf_dir, "vcfish", write))
    data = raw.filter(~F.col("value").startswith("#"))
    parts = F.split("value", "\t")
    return data.select(
        parts.getItem(0).alias("sample_id"),
        parts.getItem(1).alias("kind"),
        parts.getItem(2).cast("bigint").alias("pos"),
        F.split(parts.getItem(3), "=").getItem(1).cast("int").alias("depth"),
    )


@query(
    "s5_inmemory_values",
    sql="""
    SELECT grp, n, CAST(w AS DOUBLE) AS w
    FROM (VALUES ('A', 1, 0.5), ('B', 2, 1.5), ('C', 3, 2.5)) t(grp, n, w)
    """,
    tags=("S5",),
)
def s5_inmemory_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-memory literal table (pd.DataFrame analogue)."""
    return spark.createDataFrame(
        [("A", 1, 0.5), ("B", 2, 1.5), ("C", 3, 2.5)],
        T.StructType(
            [
                T.StructField("grp", T.StringType(), False),
                T.StructField("n", T.IntegerType(), False),
                T.StructField("w", T.DoubleType(), False),
            ]
        ),
    )


from nipd_spark.oracle import dround, ts_us  # noqa: E402


@query(
    "s6b_bucketed_join",
    sql=f"""
    SELECT o_orderstatus, count(*) AS n_lines,
           {dround("sum(l_extendedprice * (1 - l_discount))")} AS revenue
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderstatus
    """,
    tags=("S6", "J1"),
)
def s6b_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-free co-located join via bucketed tables (SURVEY.md §4.3
    100 TB layout): orders and lineitem are written once as parquet
    tables bucketed 8-ways on the join key; the join then reads
    bucket-aligned splits — ZERO Exchange in the plan (asserted by
    tests/test_plan_quality.py). This is the layout for any fact⋈fact
    key reused across many queries at scale: pay the shuffle once at
    write time, never again.
    """
    base = scratch_dir(sf_dir, "s6b")
    tag = os.path.basename(base)
    for name, key in (("orders", "o_orderkey"), ("lineitem", "l_orderkey")):
        tbl = f"b_{name}_{tag}"
        if not spark.catalog.tableExists(tbl):
            (
                load(spark, sf_dir, name)
                .write.bucketBy(8, key)
                .sortBy(key)
                .option("path", f"{base}/{name}")
                .mode("overwrite")
                .format("parquet")
                .saveAsTable(tbl)
            )
    o = spark.table(f"b_orders_{tag}")
    li = spark.table(f"b_lineitem_{tag}")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_lines"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue"),
        )
    )


def _events_by_type(spark: SparkSession, sf_dir: str) -> str:
    """events written once hive-partitioned by event_type (s6c, s6d)."""
    return staged(
        sf_dir,
        "events_by_type",
        lambda d: load(spark, sf_dir, "events")
        .write.partitionBy("event_type")
        .parquet(d),
    )


@query(
    "s6c_partitioned_prune",
    sql=f"""
    SELECT CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS hour,
           count(*) AS n, {dround("sum(value)")} AS total_value
    FROM events WHERE event_type = 'click'
    GROUP BY 1
    """,
    tags=("S6", "S1", "F2"),
)
def s6c_partitioned_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned sink + partition-pruned scan (the 100 TB data
    layout): events written once partitioned by event_type; the
    event_type filter then becomes a PartitionFilter — pruned
    directories are never listed, let alone read (asserted in
    tests/test_plan_quality.py).
    """
    ev = spark.read.parquet(_events_by_type(spark, sf_dir))
    return (
        ev.filter(F.col("event_type") == "click")
        .groupBy(F.date_trunc("hour", "ts").alias("hour"))
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("total_value"))
    )


@query(
    "sql1_sql_api",
    sql=f"""
    SELECT n_name, o_orderpriority, count(*) AS n_orders,
           {dround("avg(o_totalprice)")} AS avg_price
    FROM orders, customer, nation
    WHERE o_custkey = c_custkey AND c_nationkey = n_nationkey
    GROUP BY n_name, o_orderpriority
    """,
    tags=("S5", "J1", "A1"),
)
def sql1_sql_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's SQL entry point: corpus tables registered as temp
    views, query expressed as ANSI SQL via spark.sql — same Catalyst
    plan as the DataFrame API (the two surfaces are interchangeable;
    every other queries() entry uses the DataFrame form).
    """
    from nipd_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT n_name, o_orderpriority, count(*) AS n_orders,
               round(avg(o_totalprice), 4) AS avg_price
        FROM orders JOIN customer ON o_custkey = c_custkey
                    JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name, o_orderpriority
        """
    )


@query(
    "s7_orc_roundtrip",
    sql=f"""
    SELECT p_brand, count(*) AS n_parts, {dround("avg(p_retailprice)")} AS avg_price
    FROM part GROUP BY p_brand
    """,
    tags=("S6", "S1", "A1"),
)
def s7_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink + source round-trip (Spark's second built-in columnar
    format; DuckDB can't read ORC, so the oracle aggregates the parquet
    original — the round-trip must preserve every value for the hash to
    match). At 100 TB the same write carries partitionBy/bucketBy; the
    scan gets the identical pushdown/pruning treatment as parquet."""
    d = staged(
        sf_dir, "part_orc", lambda d: load(spark, sf_dir, "part").write.orc(d)
    )
    back = spark.read.orc(d)
    return back.groupBy("p_brand").agg(
        F.count("*").alias("n_parts"),
        F.round(F.avg("p_retailprice"), 4).alias("avg_price"),
    )


@query(
    "s6d_dynamic_prune",
    sql=f"""
    WITH dim AS (
      SELECT * FROM (VALUES ('click', 1.0), ('purchase', 5.0), ('view', 0.5),
                            ('error', 0.0), ('signup', 2.0)) t(event_type, weight)
    )
    SELECT e.event_type, count(*) AS n,
           {dround("sum(value * weight)")} AS weighted_value
    FROM events e JOIN dim d ON e.event_type = d.event_type
    WHERE d.weight >= 2.0
    GROUP BY e.event_type
    """,
    tags=("S6", "S1", "J6"),
)
def s6d_dynamic_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: the fact is hive-partitioned on
    event_type (same materialized layout as s6c), but the predicate
    lives on a DIM attribute (weight), so no static filter reaches the
    fact — Catalyst inserts a dynamicpruning subquery into the scan's
    PartitionFilters at runtime, reusing the broadcast exchange
    (pinned in tests/test_plan_quality.py).

    This is the 100 TB star-schema staple: "scan only the partitions
    the filtered dimension selects" without hand-propagating the
    filter to the fact."""
    ev = spark.read.parquet(_events_by_type(spark, sf_dir))
    dim = spark.createDataFrame(
        [("click", 1.0), ("purchase", 5.0), ("view", 0.5),
         ("error", 0.0), ("signup", 2.0)],
        "event_type string, weight double",
    ).filter(F.col("weight") >= 2.0)
    return (
        ev.join(F.broadcast(dim), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum(F.col("value") * F.col("weight")), 4).alias("weighted_value"),
        )
    )


@query(
    "s6e_dynamic_overwrite",
    # Oracle simulates the merge outcome relationally: click rows carry
    # doubled values, every other partition is untouched.
    sql=f"""
    SELECT event_type, count(*) AS n,
           {dround("sum(CASE WHEN event_type = 'click' THEN value * 2 ELSE value END)")}
             AS total_value
    FROM events
    GROUP BY event_type
    """,
    tags=("S6", "S1", "P2"),
)
def s6e_dynamic_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-targeted upsert via dynamic partition overwrite: a
    revised 'click' slice overwrites ONLY its own partition directory
    (partitionOverwriteMode=dynamic); every other partition's files are
    untouched. Read-back aggregate proves the merge semantics against a
    relational oracle of the same outcome.

    This is the 100 TB mutation pattern for hive layouts without a table
    format: late/corrected data rewrites exactly the partitions it
    touches — no full-table rewrite, no read-modify-write of unrelated
    data. (With Delta/Iceberg available, connectors.py MERGE replaces
    this at file granularity.)"""

    def write(out: str) -> None:
        ev = load(spark, sf_dir, "events")
        ev.write.partitionBy("event_type").parquet(out)
        revised = ev.filter(F.col("event_type") == "click").withColumn(
            "value", F.col("value") * 2
        )
        revised.write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("event_type").parquet(out)

    merged = spark.read.parquet(staged(sf_dir, "s6e", write))
    return merged.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(F.sum("value"), 4).alias("total_value"),
    )


@query(
    "s9_text_source",
    sql="""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           text
    FROM documents
    """,
    tags=("S2", "F1"),
)
def s9_text_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-oriented text source (``spark.read.text`` — the raw-corpus
    ingest path every LLM pipeline starts from): documents staged as
    ``doc_id<TAB>text`` lines, read back as unparsed lines, and parsed
    with one split. Round-trip must reproduce the original table.

    Scale shape: text files split by line ranges exactly like any
    file-based scan; the parse is one map-side projection.
    """
    d = staged(
        sf_dir,
        "doc_lines",
        lambda d: load(spark, sf_dir, "documents")
        .select(
            F.concat_ws("\t", F.col("doc_id").cast("string"), F.col("text")).alias(
                "value"
            )
        )
        .coalesce(1)
        .write.text(d),
    )
    lines = spark.read.text(d)
    parts = F.split(F.col("value"), "\t", 2)
    text_col = parts.getItem(1)
    return lines.select(
        parts.getItem(0).cast("long").alias("doc_id"),
        F.size(F.split(text_col, " ")).cast("long").alias("n_tokens"),
        text_col.alias("text"),
    )


@query(
    "s10_binary_source",
    sql="""
    WITH blobs AS (
      SELECT lang,
             string_agg(text, chr(10) ORDER BY doc_id) AS content
      FROM documents
      GROUP BY lang
    )
    SELECT lang,
           CAST(length(content) AS BIGINT) AS n_bytes,
           sha256(content) AS content_sha
    FROM blobs
    """,
    tags=("S2", "L10"),
)
def s10_binary_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-file binary source (``spark.read.format('binaryFile')`` —
    the ingest path for opaque media/blob payloads, SURVEY.md §2.9 L10):
    one file per language staged from the corpus, read back as
    (path, length, content BinaryType), digested with sha2. The oracle
    rebuilds the identical bytes from the documents table, proving the
    binary path is lossless.

    Scale shape: binaryFile reads one file per task (never splits a
    blob); digesting is map-side. Media payloads take exactly this path
    into the multimodal stage (l10).
    """
    import pyarrow.parquet as pq

    def write(d: str) -> None:
        os.makedirs(d)
        t = pq.read_table(
            f"{sf_dir}/documents.parquet", columns=["doc_id", "lang", "text"]
        ).to_pandas()
        for lang, grp in t.sort_values("doc_id").groupby("lang"):
            with open(f"{d}/{lang}.txt", "w") as f:
                f.write("\n".join(grp.text))

    files = spark.read.format("binaryFile").load(staged(sf_dir, "lang_blobs", write))
    base = F.element_at(F.split(F.col("path"), "/"), -1)
    return files.select(
        F.split(base, "\\.").getItem(0).alias("lang"),
        F.col("length").alias("n_bytes"),
        F.sha2(F.col("content"), 256).alias("content_sha"),
    )


@query(
    "s11_schema_evolution",
    sql="""
    WITH merged AS (
      SELECT s_suppkey, s_nationkey, CAST(NULL AS DOUBLE) AS s_acctbal
      FROM supplier WHERE s_suppkey % 2 = 0
      UNION ALL
      SELECT s_suppkey, s_nationkey, s_acctbal
      FROM supplier WHERE s_suppkey % 2 = 1
    )
    SELECT s_nationkey, count(*) AS n_rows,
           count(s_acctbal) AS n_with_balance,
           CAST(round(CAST(CAST(sum(s_acctbal) AS VARCHAR) AS DECIMAL(38,15)), 4) AS DOUBLE)
             AS total_balance
    FROM merged
    GROUP BY s_nationkey
    """,
    tags=("S6", "S1", "P5", "A12"),
)
def s11_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution read: two parquet batches written at different
    pipeline vintages (v1 lacks the s_acctbal column, v2 adds it) are
    read back as ONE dataset with ``mergeSchema`` — Spark aligns
    columns by name and NULL-fills the missing ones. The aggregation
    then proves the evolved column behaves (count skips NULLs, sum
    totals only v2 rows).

    At 100 TB this is the append-only table whose producer gained a
    column mid-history: schema-on-read merge beats rewriting petabytes
    of old files. mergeSchema is a footer-only operation per file —
    data pages are untouched; pin explicit schemas downstream once the
    layout stabilizes, since footer merging at planning time costs a
    listing pass over files (use a metastore table at real scale).
    """

    def write(d: str) -> None:
        sup = load(spark, sf_dir, "supplier")
        sup.filter(F.col("s_suppkey") % 2 == 0).select(
            "s_suppkey", "s_nationkey"
        ).write.parquet(d + "/v1")
        sup.filter(F.col("s_suppkey") % 2 == 1).select(
            "s_suppkey", "s_nationkey", "s_acctbal"
        ).write.parquet(d + "/v2")

    d = staged(sf_dir, "supplier_evolved", write)
    merged = spark.read.option("mergeSchema", "true").parquet(d + "/v1", d + "/v2")
    return merged.groupBy("s_nationkey").agg(
        F.count("*").alias("n_rows"),
        F.count("s_acctbal").alias("n_with_balance"),
        F.round(F.sum("s_acctbal"), 4).alias("total_balance"),
    )


def _morton_expr(col_a: str, col_b: str, bits: int = 16) -> str:
    """Spark SQL expression interleaving the low `bits` of two int
    columns into a Z-order (Morton) key — pure bit arithmetic, stays in
    whole-stage codegen."""
    terms = []
    for i in range(bits):
        terms.append(f"shiftleft((shiftright({col_a}, {i}) & 1), {2 * i + 1})")
        terms.append(f"shiftleft((shiftright({col_b}, {i}) & 1), {2 * i})")
    return " + ".join(terms)


@query(
    "s12_zorder_skipping",
    sql="""
    SELECT count(*) AS n_rows,
           CAST(round(CAST(CAST(sum(l_extendedprice * (1 - l_discount)) AS VARCHAR)
                 AS DECIMAL(38,18)), 4) AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_partkey BETWEEN 20 AND 59 AND l_suppkey BETWEEN 2 AND 5
    """,
    tags=("S6", "S1", "P3", "F3"),
)
def s12_zorder_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout + data skipping: lineitem is rewritten range-
    partitioned and sorted by the Morton interleave of (l_partkey,
    l_suppkey), then a 2-D box predicate reads the copy. Because the
    Z-curve keeps both dimensions locally clustered, parquet row-group
    min/max stats prune most groups for BOTH columns — the multi-
    dimensional generalization of sort-by-one-key layout, and the same
    mechanism behind Delta/Iceberg OPTIMIZE ZORDER.

    At 100 TB the rewrite is the expensive, once-per-table step (one
    range shuffle on the Z key); every selective 2-D probe after it
    reads a few row groups instead of the full table. The probe plan
    here pushes both BETWEENs to the scan (PushedFilters), and
    tests/test_plan_quality.py asserts the physical skip: most staged
    row groups fall entirely outside the box stats.
    """
    d = staged(
        sf_dir,
        "lineitem_zorder",
        lambda d: load(spark, sf_dir, "lineitem")
        .withColumn("z", F.expr(_morton_expr("l_partkey", "l_suppkey")))
        .repartitionByRange(8, "z")
        .sortWithinPartitions("z")
        .drop("z")
        .write.option("parquet.block.size", 256 * 1024)
        .parquet(d),
    )
    probe = spark.read.parquet(d).filter(
        F.col("l_partkey").between(20, 59) & F.col("l_suppkey").between(2, 5)
    )
    return probe.agg(
        F.count("*").alias("n_rows"),
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
        ).alias("revenue"),
    )


@query(
    "s13_compaction",
    sql="""
    SELECT o_orderstatus, count(*) AS n_orders,
           CAST(round(CAST(CAST(sum(o_totalprice) AS VARCHAR)
                 AS DECIMAL(38,18)), 4) AS DOUBLE) AS total_price
    FROM orders GROUP BY o_orderstatus
    """,
    tags=("S6", "S1", "A1"),
)
def s13_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction: a fragmented table copy (64 shards from an
    over-parallel writer — the classic streaming-sink pathology) is
    compacted with coalesce() into a handful of right-sized files, then
    aggregated. coalesce is the correct primitive here: it merges
    partitions WITHOUT a shuffle (narrow dependency), so compaction
    cost is one read+write pass.

    At 100 TB file-count hygiene is survival: a million 1 MB files
    turn planning/listing into the bottleneck and kill scan throughput
    (per-file open cost, no sequential reads). The pipeline-side fix is
    maxRecordsPerFile/AQE coalescing at write time; this op is the
    repair path for tables that already fragmented.
    tests/test_plan_quality.py pins shard counts and row preservation.
    """
    frag = staged(
        sf_dir,
        "orders_fragmented",
        lambda d: load(spark, sf_dir, "orders").repartition(64).write.parquet(d),
    )
    compact = staged(
        sf_dir,
        "orders_compacted",
        lambda d: spark.read.parquet(frag).coalesce(2).write.parquet(d),
    )
    return (
        spark.read.parquet(compact)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 4).alias("total_price"),
        )
    )


@query(
    "s14_corrupt_records",
    sql="""
    SELECT count(*) AS n_lines,
           count(*) FILTER (WHERE s_suppkey % 7 <> 0) AS n_good,
           count(*) FILTER (WHERE s_suppkey % 7 = 0) AS n_corrupt,
           CAST(round(CAST(CAST(
             sum(CASE WHEN s_suppkey % 7 <> 0 THEN s_acctbal END) AS VARCHAR)
             AS DECIMAL(38,18)), 4) AS DOUBLE) AS good_balance
    FROM supplier
    """,
    tags=("S3", "P5", "A12"),
)
def s14_corrupt_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-input ingestion: a JSONL batch where every 7th record
    is truncated mid-object is read in PERMISSIVE mode with an explicit
    schema + ``_corrupt_record`` column — bad lines surface as NULL
    fields with the raw text preserved for quarantine instead of
    failing the job (ingest-the-internet reality for a training-data
    pipeline).

    The corrupted copy is produced distributedly (to_json → conditional
    truncation → text sink); no driver-side row loop. Spark forbids
    filtering on the corrupt column straight off the scan (it is filled
    lazily), so the result caches the parsed batch first — documented
    requirement, not a workaround.
    """

    def write(d: str) -> None:
        js = load(spark, sf_dir, "supplier").select(
            F.to_json(F.struct("s_suppkey", "s_name", "s_nationkey", "s_acctbal"))
            .alias("value"),
            "s_suppkey",
        )
        lines = js.select(
            F.when(
                F.col("s_suppkey") % 7 == 0,
                F.expr("substring(value, 1, length(value) - 5)"),
            )
            .otherwise(F.col("value"))
            .alias("value")
        )
        lines.coalesce(1).write.text(d)

    schema = T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
            T.StructField("_corrupt_record", T.StringType()),
        ]
    )
    parsed = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(staged(sf_dir, "supplier_corrupt_jsonl", write))
        .cache()
    )
    return parsed.agg(
        F.count("*").alias("n_lines"),
        F.count("s_suppkey").alias("n_good"),
        F.count("_corrupt_record").alias("n_corrupt"),
        F.round(F.sum("s_acctbal"), 4).alias("good_balance"),
    )


@query(
    "sql2_correlated_subquery",
    sql=f"""
    SELECT c.c_custkey, c.c_nationkey, c.c_acctbal
    FROM customer c
    WHERE c.c_acctbal > (SELECT avg(c2.c_acctbal) * 1.5 FROM customer c2
                         WHERE c2.c_nationkey = c.c_nationkey)
      AND EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    tags=("S5", "J4", "A2", "P2"),
)
def sql2_correlated_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery + correlated EXISTS through the SQL
    surface: customers 1.5× above their nation's average balance who
    have at least one order. Catalyst de-correlates both — the scalar
    subquery becomes an aggregate joined back on the correlation key,
    EXISTS becomes a left-semi join — so the executed plan is pure
    hash-join algebra, never a per-row re-execution (the O(n²) trap a
    naive subquery evaluator falls into at scale).
    """
    from nipd_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT c.c_custkey, c.c_nationkey, c.c_acctbal
        FROM customer c
        WHERE c.c_acctbal > (SELECT avg(c2.c_acctbal) * 1.5 FROM customer c2
                             WHERE c2.c_nationkey = c.c_nationkey)
          AND EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        """
    )


_SQL3_BODY = """reach(node, depth) AS (
      SELECT CAST(0 AS BIGINT) AS node, 0 AS depth
      UNION ALL
      SELECT e.v AS node, reach.depth + 1 AS depth
      FROM reach JOIN e ON e.u = reach.node
      WHERE reach.depth < 2
    ),
    bfs AS (SELECT node, min(depth) AS dist FROM reach GROUP BY node)
    SELECT dist, count(*) AS n_nodes
    FROM bfs
    GROUP BY dist
    ORDER BY dist
"""


@query(
    "sql3_recursive_cte",
    sql=(
        """
    WITH RECURSIVE op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    und AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM op a JOIN op b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    e AS (SELECT u, v FROM und UNION ALL SELECT v, u FROM und),
    """
        + _SQL3_BODY
    ),
    tags=("J1", "A1", "U1"),
)
def sql3_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4's WITH RECURSIVE): bounded-depth BFS from
    part 0 over the co-purchase graph — per-layer reachable-node counts
    (min-depth semantics via the post-aggregation, so revisits along
    longer paths don't double count). The fixpoint loop g2 spells as a
    Python-side unroll is here delegated to the engine's recursion
    operator; DuckDB runs the identical statement.

    Scale note: each recursion step is one equi-join of the frontier
    against the edge list — same shuffle shape as an unrolled
    iteration; the depth bound caps the blow-up on this dense graph
    (avg degree ≈ 2·orders·C(basket,2)/parts, so depth 2 already
    reaches most of the component). The edge list behind the ``e``
    view is checkpointed (DISK_ONLY — it is fact-sized, see
    operators/materialize.py) — a plain view would re-derive the
    distinct self-join on EVERY recursion step, multiplying the
    dominant cost by the recursion depth.
    """
    from nipd_spark.catalog import register_views
    from nipd_spark.operators.materialize import spill_checkpoint

    register_views(spark, sf_dir)
    edges = spark.sql(
        """
        WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        und AS (
          SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
          FROM op a JOIN op b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        )
        SELECT u, v FROM und UNION ALL SELECT v, u FROM und
        """
    ).transform(spill_checkpoint)
    edges.createOrReplaceTempView("e")
    return spark.sql("WITH RECURSIVE " + _SQL3_BODY)


@query(
    "sql4_lateral_join",
    sql=f"""
    SELECT c.c_custkey, c.c_mktsegment, t.o_orderkey, t.o_totalprice, t.rk
    FROM customer c,
         LATERAL (
           SELECT o_orderkey, o_totalprice,
                  row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS rk
           FROM orders
           WHERE o_custkey = c.c_custkey
           ORDER BY o_totalprice DESC, o_orderkey
           LIMIT 2
         ) t
    WHERE c.c_acctbal > 9000
    """,
    tags=("J1", "O4", "W1"),
)
def sql4_lateral_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated derived table (SQL:2016 / Spark 3.2+): per
    qualifying customer, the top-2 orders by price — the SQL spelling
    of o4's per-group top-k. Catalyst decorrelates the lateral subquery
    into the same window-over-join plan the DataFrame form produces;
    DuckDB runs the statement verbatim, so the surfaces are proven
    interchangeable rather than asserted.

    Scale note: decorrelation is what saves this at 100 TB — a naive
    per-row re-execution of the subquery would be O(customers) scans;
    the rewritten plan is ONE join + one per-key window pass.
    """
    from nipd_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT c.c_custkey, c.c_mktsegment, t.o_orderkey, t.o_totalprice, t.rk
        FROM customer c,
             LATERAL (
               SELECT o_orderkey, o_totalprice,
                      row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey)
                        AS rk
               FROM orders
               WHERE o_custkey = c.c_custkey
               ORDER BY o_totalprice DESC, o_orderkey
               LIMIT 2
             ) t
        WHERE c.c_acctbal > 9000
        """
    )


@query(
    "s15_python_datasource",
    sql="""
    WITH gen AS (
      SELECT i AS id, (i * 48271) % 65537 AS val
      FROM (SELECT unnest(range(0, 40000)) AS i)
    )
    SELECT id % 8 AS bucket,
           count(*) AS n,
           CAST(sum(val) AS BIGINT) AS total,
           min(val) AS vmin,
           max(val) AS vmax
    FROM gen
    GROUP BY bucket
    ORDER BY bucket
    """,
    tags=("S2", "S5", "A1"),
)
def s15_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom connector via the Python Data Source API (Spark 4): a
    DataSource subclass with planned InputPartitions, registered with
    spark.dataSource.register and consumed through the ordinary
    spark.read.format(...) path — the extension point for feeds Spark
    has no built-in reader for (internal APIs, bespoke archives,
    simulators). The source emits a deterministic Lehmer-LCG stream
    (id, (id·48271) mod 65537) across 8 planned partitions, so DuckDB
    can mirror it arithmetically and hash-verify that partition-
    parallel reads lose/duplicate nothing.

    Scale note: partitions() is the parallelism contract — each
    InputPartition is an independent task (here 8 ranges; a real
    connector would map shards/files/offset ranges). Generation is
    per-partition Python yielding tuples; for wide feeds implement the
    Arrow batch reader instead of the row iterator.
    """
    from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

    n_rows, n_parts = 40_000, 8

    class RangePartition(InputPartition):
        def __init__(self, start: int, end: int) -> None:
            self.start, self.end = start, end

    class LcgReader(DataSourceReader):
        def partitions(self):
            step = n_rows // n_parts
            return [
                RangePartition(i * step, min((i + 1) * step, n_rows))
                for i in range(n_parts)
            ]

        def read(self, partition):
            for i in range(partition.start, partition.end):
                yield (i, (i * 48271) % 65537)

    class LcgSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "nipd_lcg"

        def schema(self) -> str:
            return "id bigint, val bigint"

        def reader(self, schema) -> DataSourceReader:
            return LcgReader()

    try:
        spark.dataSource.register(LcgSource)
    except Exception:
        pass  # already registered in this session
    gen = spark.read.format("nipd_lcg").load()
    return (
        gen.groupBy(F.pmod("id", F.lit(8)).alias("bucket"))
        .agg(
            F.count("*").alias("n"),
            F.sum("val").alias("total"),
            F.min("val").alias("vmin"),
            F.max("val").alias("vmax"),
        )
        .orderBy("bucket")
    )


@query(
    "s16_write_audit_publish",
    sql=f"""
    SELECT o_orderpriority,
           count(*) AS n,
           {dround("sum(o_totalprice)")} AS total_price
    FROM orders
    WHERE o_orderstatus = 'O'
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    tags=("S6", "S1", "A1"),
)
def s16_write_audit_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-Audit-Publish (WAP): the production sink discipline for
    tables consumers read — data lands in a STAGING path, an audit
    suite (dq1's shape: row count, nulls, domain checks) runs against
    staging, and only on a clean audit does an atomic rename make it
    the PUBLISHED path. Readers never observe a half-written or
    failed-audit table; a dirty audit leaves the previous publication
    untouched. (Iceberg/Delta spell this with branch/snapshot commits —
    connectors.py gates those; the rename protocol is the
    format-agnostic floor.)

    The returned aggregate reads the PUBLISHED path only; the oracle
    computes the same from the source, so publication is proven
    lossless.
    """

    def write_audit_publish(base: str) -> None:
        staging = f"{base}/staging"
        o = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
        o.write.parquet(staging)
        audit = spark.read.parquet(staging).agg(
            F.count("*").alias("n"),
            F.count_if(F.col("o_totalprice") <= 0).alias("bad_price"),
            F.count_if(F.col("o_orderkey").isNull()).alias("null_key"),
        ).first()
        assert audit.n > 0 and audit.bad_price == 0 and audit.null_key == 0, audit
        os.rename(staging, f"{base}/published")  # atomic publish after clean audit

    base = staged(sf_dir, "s16", write_audit_publish)
    back = spark.read.parquet(f"{base}/published")
    return (
        back.groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("o_totalprice"), 4).alias("total_price"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "s17_parquet_bloom_filter",
    sql=f"""
    SELECT count(*) AS n_hits,
           {dround("sum(o_totalprice)")} AS total
    FROM orders
    WHERE o_orderkey IN (11, 222, 3333, 4444, 55, 666, 777, 888)
    """,
    tags=("S6", "S1", "P4"),
)
def s17_parquet_bloom_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet file-level bloom filters: the orders table is rewritten
    with a bloom filter on o_orderkey
    (parquet.bloom.filter.enabled#o_orderkey) and the point-lookup IN
    probe reads THAT copy. Min/max row-group stats are useless for
    point lookups on high-cardinality unsorted keys (every group's
    range contains every probe); the bloom answers "definitely not
    here" per row group instead — at 100 TB that turns a needle query
    from a full-table scan into a handful of row groups.
    tests/test_operators_properties.py proves the filter is physically
    present (bloom-enabled file is measurably larger than the same
    data without it) and that results are identical either way.
    """
    out = staged(
        sf_dir,
        "s17",
        lambda d: load(spark, sf_dir, "orders")
        .write.option("parquet.bloom.filter.enabled#o_orderkey", "true")
        .option("parquet.bloom.filter.expected.ndv#o_orderkey", "200000")
        .parquet(d),
    )
    back = spark.read.parquet(out)
    probes = [11, 222, 3333, 4444, 55, 666, 777, 888]
    return back.filter(F.col("o_orderkey").isin(probes)).agg(
        F.count("*").alias("n_hits"),
        F.round(F.sum("o_totalprice"), 4).alias("total"),
    )


@query(
    "s18_managed_table_ddl",
    sql=f"""
    SELECT n_name, count(*) AS n_suppliers,
           {dround("sum(s_acctbal)")} AS total_bal,
           count(*) FILTER (WHERE s_acctbal > 5000) AS n_rich
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    GROUP BY n_name
    ORDER BY n_name
    """,
    tags=("S5", "S6", "A1"),
)
def s18_managed_table_ddl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Warehouse DDL surface: CREATE TABLE ... USING PARQUET (managed,
    catalog-tracked), INSERT INTO ... SELECT to populate it, ALTER
    TABLE ADD COLUMNS for in-place schema evolution, UPDATE-shaped
    backfill via INSERT OVERWRITE, and the final query against the
    CATALOG name rather than a path. This is how non-programmatic
    consumers (BI, dbt-style SQL jobs) reach the engine; the oracle
    answers from the raw sources, proving the DDL round-trip lost
    nothing.
    """
    from nipd_spark.catalog import register_views

    register_views(spark, sf_dir)
    location = scratch_dir(sf_dir, "s18")
    tbl = "supplier_mart_" + os.path.basename(location)
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    # explicit LOCATION: the default warehouse dir is $PWD/spark-warehouse,
    # and the caller's cwd is not ours to write into
    spark.sql(
        f"""
        CREATE TABLE {tbl} (
          n_name STRING, s_suppkey BIGINT, s_acctbal DOUBLE
        ) USING PARQUET LOCATION '{location}'
        """
    )
    spark.sql(
        f"""
        INSERT INTO {tbl}
        SELECT n_name, s_suppkey, s_acctbal
        FROM supplier JOIN nation ON s_nationkey = n_nationkey
        """
    )
    spark.sql(f"ALTER TABLE {tbl} ADD COLUMNS (is_rich BOOLEAN)")
    spark.sql(
        f"""
        INSERT OVERWRITE {tbl}
        SELECT n_name, s_suppkey, s_acctbal, s_acctbal > 5000
        FROM supplier JOIN nation ON s_nationkey = n_nationkey
        """
    )
    return spark.sql(
        f"""
        SELECT n_name, count(*) AS n_suppliers,
               round(sum(s_acctbal), 4) AS total_bal,
               count_if(is_rich) AS n_rich
        FROM {tbl}
        GROUP BY n_name
        ORDER BY n_name
        """
    )


@query(
    "s19_compression_codecs",
    sql=f"""
    SELECT l_linestatus, count(*) AS n,
           {dround("sum(l_quantity)")} AS total_qty
    FROM lineitem
    GROUP BY l_linestatus
    ORDER BY l_linestatus
    """,
    tags=("S6", "S1"),
)
def s19_compression_codecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Columnar compression codecs: the same lineitem partition written
    as zstd- and as uncompressed parquet; the query reads the ZSTD copy
    and must match the source (lossless). The size economics live in
    the property test (zstd copy materially smaller than uncompressed)
    — at 100 TB the codec choice IS the storage bill and often the
    scan bill too (decode cost < saved IO for zstd level-default on
    text-heavy columns).
    """
    out = staged(
        sf_dir,
        "s19",
        lambda d: load(spark, sf_dir, "lineitem")
        .write.option("compression", "zstd")
        .parquet(d),
    )
    back = spark.read.parquet(out)
    return (
        back.groupBy("l_linestatus")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("l_quantity"), 4).alias("total_qty"),
        )
        .orderBy("l_linestatus")
    )


@query(
    "sql5_scalar_subquery",
    sql=f"""
    SELECT c_custkey, c_mktsegment,
           (SELECT count(*) FROM orders o
             WHERE o.o_custkey = c.c_custkey) AS n_orders,
           (SELECT {dround("coalesce(max(o_totalprice), 0.0)")} FROM orders o
             WHERE o.o_custkey = c.c_custkey) AS max_order
    FROM customer c
    WHERE c_acctbal > 9500
    ORDER BY c_custkey
    """,
    tags=("J2", "A2", "P2"),
)
def sql5_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated SCALAR subqueries in the SELECT list — the spreadsheet
    idiom ("add an order-count column") that naive engines execute as
    one query per row. Catalyst decorrelates both subqueries into
    outer-joined aggregates over a single orders scan (count over an
    empty match set correctly yields 0, max yields NULL→coalesce) —
    same rows as the explicit join spelling, O(1) scans instead of
    O(customers). DuckDB performs the same flattening; the twin runs
    the statement verbatim.
    """
    from nipd_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT c_custkey, c_mktsegment,
               (SELECT count(*) FROM orders o
                 WHERE o.o_custkey = c.c_custkey) AS n_orders,
               (SELECT round(coalesce(max(o_totalprice), 0.0), 4) FROM orders o
                 WHERE o.o_custkey = c.c_custkey) AS max_order
        FROM customer c
        WHERE c_acctbal > 9500
        ORDER BY c_custkey
        """
    )


@query(
    "s20_file_provenance",
    # Oracle: the chunking rederived from events itself (4 chunks of
    # ceil(n/4) rows in event_id order), never from the staged files —
    # an oracle that reads Spark's own stage cannot catch a stale one.
    sql="""
    WITH numbered AS (
      SELECT event_id,
             row_number() OVER (ORDER BY event_id) - 1 AS i,
             CAST(ceil(count(*) OVER () / 4) AS BIGINT) AS step
      FROM events
    )
    SELECT 'chunk' || CAST(i // step AS VARCHAR) || '.parquet' AS file_name,
           count(*) AS n_rows,
           min(event_id) AS min_id,
           max(event_id) AS max_id
    FROM numbered
    GROUP BY file_name
    ORDER BY file_name
    """,
    tags=("S1", "S4", "A1"),
)
def s20_file_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File provenance via the hidden ``_metadata`` struct: every
    file-source row carries its physical origin (file_path, size,
    row_index) without any column existing in the data — the lineage
    hook for quarantining a bad producer file, auditing a backfill, or
    building per-file quality scores. The events table is staged as 4
    chunk files in event_id order; rows are grouped by originating
    file, so every row must be attributed to the chunk its event_id
    rank puts it in.
    """
    import pyarrow.parquet as pq

    def write(d: str) -> None:
        os.makedirs(d)
        t = pq.read_table(f"{sf_dir}/events.parquet").sort_by("event_id")
        step = (t.num_rows + 3) // 4
        for i in range(4):
            pq.write_table(t.slice(i * step, step), f"{d}/chunk{i}.parquet")

    df = spark.read.parquet(staged(sf_dir, "s20", write))
    fname = F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1)
    return (
        df.select(fname.alias("file_name"), "event_id")
        .groupBy("file_name")
        .agg(
            F.count("*").alias("n_rows"),
            F.min("event_id").alias("min_id"),
            F.max("event_id").alias("max_id"),
        )
        .orderBy("file_name")
    )


@query(
    "sql6_sql_pivot",
    sql=f"""
    SELECT l_returnflag,
           {dround("sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END)")} AS qty_open,
           {dround("sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END)")} AS qty_filled,
           count(*) FILTER (WHERE l_linestatus = 'O') AS n_open,
           count(*) FILTER (WHERE l_linestatus = 'F') AS n_filled
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    tags=("A7", "A12"),
)
def sql6_sql_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL PIVOT clause (a7 is the DataFrame spelling): line status
    rotated into (sum, count) measure columns per flag — multi-measure
    pivots name their output columns from the aggregate aliases. The
    oracle spells the identical rotation portably as conditional
    aggregation, which is also exactly what Catalyst lowers PIVOT to
    (one hash agg, no join): the clause is sugar, and the twin proves
    it.
    """
    from nipd_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT l_returnflag,
               round(O_qty, 4) AS qty_open,
               round(F_qty, 4) AS qty_filled,
               O_n AS n_open,
               F_n AS n_filled
        FROM (SELECT l_returnflag, l_linestatus, l_quantity FROM lineitem)
        PIVOT (
          sum(l_quantity) AS qty, count(*) AS n
          FOR l_linestatus IN ('O' AS O, 'F' AS F)
        )
        ORDER BY l_returnflag
        """
    )


@query(
    "s21_merge_into",
    sql=f"""
    WITH tgt AS (
      SELECT c_custkey, c_acctbal, c_mktsegment FROM customer
      WHERE c_custkey % 3 <> 0
    ),
    src AS (
      SELECT o_custkey AS c_custkey, {dround("sum(o_totalprice)", 2)} AS total
      FROM orders GROUP BY o_custkey
    )
    SELECT t.c_custkey, t.c_acctbal + s.total AS c_acctbal, t.c_mktsegment
      FROM tgt t JOIN src s ON t.c_custkey = s.c_custkey
    UNION ALL
    SELECT t.c_custkey, t.c_acctbal, t.c_mktsegment FROM tgt t
     WHERE NOT EXISTS (SELECT 1 FROM src s WHERE s.c_custkey = t.c_custkey)
    UNION ALL
    SELECT s.c_custkey, s.total AS c_acctbal, 'NEW' AS c_mktsegment
      FROM src s
     WHERE NOT EXISTS (SELECT 1 FROM tgt t WHERE t.c_custkey = s.c_custkey)
    """,
    tags=("S6", "J5", "U1"),
)
def s21_merge_into(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch MERGE INTO (upsert): lifetime order spend merged into the
    customer ledger — matched customers get their balance topped up
    (other columns pass through untouched), customers outside the
    target slice are INSERTed as 'NEW' rows, unmatched target rows ride
    along unchanged. The generic operator is operators/merge.py
    (ANSI MERGE / Delta-Iceberg semantics as three equi-joined legs);
    the oracle spells the identical three branches as join + two
    NOT-EXISTS legs, which is exactly what MERGE desugars to.

    The target slice (c_custkey % 3 <> 0) is chosen so BOTH the update
    and the insert leg are non-empty at every SF. Source is
    pre-aggregated to one row per key — the standard MERGE cardinality
    rule (see merge_into docstring). Sum-of-price is dround(2) on both
    engines (order-dependent aggregate); the top-up addition itself is
    per-row deterministic and stays unrounded.
    """
    from nipd_spark.operators.merge import merge_into

    tgt = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 3 != 0)
        .select("c_custkey", "c_acctbal", "c_mktsegment")
    )
    src = (
        load(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(F.round(F.sum("o_totalprice"), 2).alias("total"))
    )
    return merge_into(
        tgt,
        src,
        on=["c_custkey"],
        when_matched={"c_acctbal": F.col("t.c_acctbal") + F.col("s.total")},
        when_not_matched={
            "c_custkey": F.col("s.c_custkey"),
            "c_acctbal": F.col("s.total"),
            "c_mktsegment": F.lit("NEW"),
        },
    )


def _supplier_snapshot_table(spark: SparkSession, sf_dir: str) -> str:
    """Staged 4-version supplier ledger (shared by s22/s23/s24), each step
    committed through operators/snapshots.write_snapshot:
      v1 base load; v2 MERGE top-up (+100, nation 3); v3 MERGE delete
      (negative balances); v4 MERGE insert (nation-7 rows cloned to
      key+1_000_000 with balance 0). Built once per process under
      ``scratch_dir``; the queries after the first reuse it."""
    from nipd_spark.operators.merge import merge_into
    from nipd_spark.operators.snapshots import (
        latest_version,
        read_snapshot,
        write_snapshot,
    )

    table = scratch_dir(sf_dir, "supplier_snapshots")
    while (latest_version(table) or 0) < 4:
        v = (latest_version(table) or 0) + 1
        if v == 1:
            df = load(spark, sf_dir, "supplier").select(
                "s_suppkey", "s_nationkey", "s_acctbal"
            )
        else:
            cur = read_snapshot(spark, table)
            if v == 2:
                df = merge_into(
                    cur,
                    cur.filter(F.col("s_nationkey") == 3).select("s_suppkey"),
                    on=["s_suppkey"],
                    when_matched={"s_acctbal": F.col("t.s_acctbal") + 100},
                )
            elif v == 3:
                df = merge_into(
                    cur,
                    cur.filter(F.col("s_acctbal") < 0).select("s_suppkey"),
                    on=["s_suppkey"],
                    when_matched="delete",
                )
            else:
                newbies = cur.filter(F.col("s_nationkey") == 7).select(
                    (F.col("s_suppkey") + 1_000_000).alias("s_suppkey"),
                    "s_nationkey",
                    F.lit(0.0).alias("s_acctbal"),
                )
                df = merge_into(
                    cur,
                    newbies,
                    on=["s_suppkey"],
                    when_not_matched={
                        "s_suppkey": F.col("s.s_suppkey"),
                        "s_nationkey": F.col("s.s_nationkey"),
                        "s_acctbal": F.col("s.s_acctbal"),
                    },
                )
        write_snapshot(df, table)
    return table


@query(
    "s22_time_travel",
    sql="""
    WITH v1 AS (SELECT s_suppkey, s_nationkey, s_acctbal FROM supplier),
    v2 AS (
      SELECT s_suppkey, s_nationkey,
             CASE WHEN s_nationkey = 3 THEN s_acctbal + 100
                  ELSE s_acctbal END AS s_acctbal
      FROM v1
    ),
    v3 AS (SELECT * FROM v2 WHERE s_acctbal >= 0)
    SELECT v1.s_suppkey,
           v1.s_acctbal AS bal_v1,
           v3.s_acctbal AS bal_latest,
           CASE WHEN v3.s_suppkey IS NULL THEN 'deleted'
                ELSE 'updated' END AS change
    FROM v1 LEFT JOIN v3 ON v1.s_suppkey = v3.s_suppkey
    WHERE v3.s_suppkey IS NULL OR v3.s_acctbal <> v1.s_acctbal
    """,
    tags=("S6", "J2"),
)
def s22_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel over a versioned snapshot table
    (operators/snapshots.py): the staged 4-version supplier ledger
    (_supplier_snapshot_table) — then an audit query reads v1 AND v3
    *by version pin* (ignoring the later v4 commit entirely — that is
    the time-travel point) and reports every row that changed or
    vanished between them. The oracle recomputes the same versions
    inline; the Spark side exercises the actual storage layout (atomic
    rename commits, manifest, _latest pointer) end-to-end. s23 reads
    the same table as a change data feed.

    Scale notes: each version is an immutable parquet directory —
    time-travel reads are path selection with full pushdown/pruning;
    nothing is rewritten to read history (see snapshots.py module doc).
    """
    from nipd_spark.operators.snapshots import read_snapshot

    table = _supplier_snapshot_table(spark, sf_dir)
    base = read_snapshot(spark, table, version=1).alias("v1")
    head = read_snapshot(spark, table, version=3).alias("v3")
    return (
        base.join(head, F.col("v1.s_suppkey") == F.col("v3.s_suppkey"), "left")
        .filter(
            F.col("v3.s_suppkey").isNull()
            | (F.col("v3.s_acctbal") != F.col("v1.s_acctbal"))
        )
        .select(
            F.col("v1.s_suppkey").alias("s_suppkey"),
            F.col("v1.s_acctbal").alias("bal_v1"),
            F.col("v3.s_acctbal").alias("bal_latest"),
            F.when(F.col("v3.s_suppkey").isNull(), "deleted")
            .otherwise("updated")
            .alias("change"),
        )
    )


@query(
    "s23_snapshot_cdf",
    sql="""
    WITH v1 AS (SELECT s_suppkey, s_nationkey, s_acctbal FROM supplier),
    v2 AS (
      SELECT s_suppkey, s_nationkey,
             CASE WHEN s_nationkey = 3 THEN s_acctbal + 100
                  ELSE s_acctbal END AS s_acctbal
      FROM v1
    ),
    v3 AS (SELECT * FROM v2 WHERE s_acctbal >= 0),
    v4 AS (
      SELECT * FROM v3
      UNION ALL
      SELECT s_suppkey + 1000000 AS s_suppkey, s_nationkey,
             0.0 AS s_acctbal
      FROM v3 WHERE s_nationkey = 7
    ),
    upd AS (
      SELECT a.s_suppkey, a.s_nationkey, a.s_acctbal AS pre_bal,
             b.s_acctbal AS post_bal
      FROM v1 a JOIN v4 b ON a.s_suppkey = b.s_suppkey
      WHERE a.s_acctbal <> b.s_acctbal OR a.s_nationkey <> b.s_nationkey
    )
    SELECT a.s_suppkey, a.s_nationkey, a.s_acctbal,
           'delete' AS _change_type
      FROM v1 a
     WHERE NOT EXISTS (SELECT 1 FROM v4 b WHERE b.s_suppkey = a.s_suppkey)
    UNION ALL
    SELECT b.s_suppkey, b.s_nationkey, b.s_acctbal, 'insert'
      FROM v4 b
     WHERE NOT EXISTS (SELECT 1 FROM v1 a WHERE a.s_suppkey = b.s_suppkey)
    UNION ALL
    SELECT s_suppkey, s_nationkey, pre_bal, 'update_preimage' FROM upd
    UNION ALL
    SELECT s_suppkey, s_nationkey, post_bal, 'update_postimage' FROM upd
    """,
    tags=("S6", "J3", "U1"),
)
def s23_snapshot_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change data feed from the snapshot table: the row-level
    changelog between v1 and v4 of the staged supplier ledger, in
    Delta CDF vocabulary (insert / delete / update_preimage /
    update_postimage) — computed by operators/snapshots.snapshot_diff
    as ONE null-safe full-outer key join over the two immutable
    version directories. The v2 top-up surfaces as update pre/post
    pairs, the v3 delete as delete rows, the v4 backfill as inserts;
    no-op rows produce no changelog rows. Oracle recomputes the same
    feed from the base table with join + NOT-EXISTS legs.
    """
    from nipd_spark.operators.snapshots import snapshot_diff

    table = _supplier_snapshot_table(spark, sf_dir)
    return snapshot_diff(
        spark, table, v_from=1, v_to=4, key_cols=["s_suppkey"]
    )


@query(
    "s24_incremental_agg",
    sql="""
    WITH v1 AS (SELECT s_suppkey, s_nationkey, s_acctbal FROM supplier),
    v2 AS (
      SELECT s_suppkey, s_nationkey,
             CASE WHEN s_nationkey = 3 THEN s_acctbal + 100
                  ELSE s_acctbal END AS s_acctbal
      FROM v1
    ),
    v3 AS (SELECT * FROM v2 WHERE s_acctbal >= 0),
    v4 AS (
      SELECT * FROM v3
      UNION ALL
      SELECT s_suppkey + 1000000, s_nationkey, 0.0
      FROM v3 WHERE s_nationkey = 7
    )
    SELECT s_nationkey,
           count(*) AS n_suppliers,
           CAST(sum(CAST(round(s_acctbal * 100) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM v4 GROUP BY s_nationkey
    """,
    tags=("S6", "A1", "U1"),
)
def s24_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance: a per-nation (count, balance-sum)
    materialization built over snapshot v1, then rolled forward to v4
    by applying ONLY the v1→v4 change feed (operators/ivm.py) — the
    base table is never re-scanned. The oracle recomputes the same
    aggregate directly over v4, so a hash match proves incremental ==
    full recompute. Balances are quantized to integer cents before
    summing (per-row *100 round is bit-identical cross-engine) because
    float sums are not self-maintainable under deletion — int64 sums
    are exact in any order.

    Scale shape: the maintenance pass costs O(|changes| + touched
    groups) — one key shuffle for the delta agg + the merge's
    equi-joins — versus O(base) for recompute; at a 100 TB base with a
    trickle of daily changes that is the difference between a
    maintenance job and a full rebuild.
    """
    from nipd_spark.operators.ivm import incremental_group_agg
    from nipd_spark.operators.snapshots import read_snapshot, snapshot_diff

    table = _supplier_snapshot_table(spark, sf_dir)
    cents = F.round(F.col("s_acctbal") * 100, 0).cast("long")
    state = (
        read_snapshot(spark, table, version=1)
        .select("s_nationkey", cents.alias("cents"))
        .groupBy("s_nationkey")
        .agg(
            F.count("*").alias("n_suppliers"),
            F.sum("cents").alias("total_cents"),
        )
    )
    changes = snapshot_diff(
        spark, table, v_from=1, v_to=4, key_cols=["s_suppkey"]
    ).select("s_nationkey", cents.alias("cents"), "_change_type")
    return incremental_group_agg(
        state,
        changes,
        keys=["s_nationkey"],
        sum_cols={"total_cents": "cents"},
        count_col="n_suppliers",
    )


@query(
    "s25_snapshot_retention",
    sql="""
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS total_cents,
           CAST(1 AS BIGINT) AS n_versions_live,
           CAST(2 AS BIGINT) AS n_versions_removed,
           TRUE AS old_read_fails
    FROM orders GROUP BY o_orderstatus
    """,
    tags=("S6",),
)
def s25_snapshot_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot retention (VACUUM): a 3-version orders ledger is staged
    (v1 = orderkey%3=0 slice, v2 adds %3=1, v3 = full), then
    operators/snapshots.vacuum(keep_last=1) rewrites the manifest FIRST
    and deletes the dropped version directories. The query proves the
    contract end-to-end: the surviving head is the full-table aggregate
    (oracled), exactly one v= directory remains on disk, exactly two
    were removed, and a time-travel read of the vacuumed v1 now fails
    the manifest check (old_read_fails) — the reader-safety property
    the operator docstring promises.

    Scale notes (100 TB): vacuum is pure metadata + directory deletes —
    no data is read or rewritten; cost is O(versions dropped), not
    O(table). Retention is the daily ACID-maintenance op the round-3
    verdict called out; s13 covers compaction, this covers expiry.
    """
    import shutil

    from nipd_spark.operators.snapshots import (
        latest_version,
        read_manifest,
        read_snapshot,
        vacuum,
        write_snapshot,
    )

    table = scratch_dir(sf_dir, "s25")
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    done = latest_version(table) == 3 and len(read_manifest(table)) == 1
    if not done:
        shutil.rmtree(table, ignore_errors=True)
        for keep in (0, 1, 2):
            write_snapshot(
                orders.filter(F.pmod(F.col("o_orderkey"), F.lit(3)) <= keep),
                table,
            )
        removed = vacuum(table, keep_last=1)
        assert removed == [1, 2], removed
    n_live_dirs = sum(
        1 for d in os.listdir(table) if d.startswith("v=") and "." not in d
    )
    try:
        read_snapshot(spark, table, version=1)
        old_read_fails = False
    except ValueError:
        old_read_fails = True
    head = read_snapshot(spark, table)  # latest survives vacuum
    return head.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias(
            "total_cents"
        ),
        F.lit(n_live_dirs).cast("long").alias("n_versions_live"),
        F.lit(3 - n_live_dirs).cast("long").alias("n_versions_removed"),
        F.lit(old_read_fails).alias("old_read_fails"),
    )


@query(
    "s26_xml_source",
    sql="""
    SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars, text
    FROM documents
    """,
    tags=("S4", "S2"),
)
def s26_xml_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML sink + source round-trip on Spark 4's NATIVE xml data source
    (no external package) — the semi-structured feed-ingest path for
    corpora delivered as XML dumps (wiki exports, TREC/patent
    collections). Documents are staged once as <doc> row elements under
    a corpus root, then read back with an EXPLICIT schema (no
    inferSchema/rowTag sampling pass — SURVEY.md §1.2) and must
    reproduce the source table exactly, entity escaping included.
    ignoreSurroundingSpaces=false keeps leading/trailing whitespace in
    element text (the reader default trims it), and empty elements —
    which the reader yields as null — are coalesced back to '' so an
    empty document survives the round-trip too.

    Scale shape: the XML reader splits files like any text-based
    source and parses per-row inside the scan; with an explicit schema
    there is no inference pre-pass over the corpus. One staged file
    here; at scale, one file per shard partition.
    """
    d = staged(
        sf_dir,
        "doc_xml",
        lambda d: load(spark, sf_dir, "documents")
        .select("doc_id", "lang", "n_chars", "text")
        .coalesce(1)
        .write.format("xml")
        .option("rootTag", "corpus")
        .option("rowTag", "doc")
        .save(d),
    )
    return (
        spark.read.format("xml")
        .option("rowTag", "doc")
        .option("ignoreSurroundingSpaces", "false")
        .schema("doc_id long, lang string, n_chars long, text string")
        .load(d)
        .select(
            "doc_id",
            "lang",
            "n_chars",
            # an empty <text/> element reads back as null, not ''
            F.coalesce("text", F.lit("")).alias("text"),
        )
    )


@query(
    "sql7_qualify",
    # Oracle: DuckDB's NATIVE QUALIFY clause — an independent engine's
    # implementation of the same SQL surface (the j21 precedent, for
    # the post-window filter instead of ASOF). Both predicate forms
    # run in one statement: the alias form (rn <= 2) and an inline
    # window form (count(*) OVER ... >= 2). All outputs are stored
    # data or integer ranks — no float discipline needed.
    sql="""
    SELECT o_custkey, o_orderkey, o_totalprice,
           row_number() OVER (PARTITION BY o_custkey
                              ORDER BY o_totalprice DESC, o_orderkey)
             AS rn
    FROM orders
    WHERE o_orderstatus <> 'F'
    QUALIFY rn <= 2
       AND count(*) OVER (PARTITION BY o_custkey) >= 2
    """,
    tags=("W1", "O4", "A5"),
)
def sql7_qualify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The QUALIFY clause (nipd_spark/sqlext.qualify_sql): the
    post-window filter Snowflake standardized and DuckDB/BigQuery
    adopted [PK: Snowflake QUALIFY docs; DuckDB QUALIFY docs], absent
    from Spark SQL 4.1 — the second SQL-surface gap a reference user
    migrating raw SQL hits after ASOF (r9's j21). The whole
    top-2-open-orders-per-customer query is ONE SQL string: a WHERE, a
    select-list window alias referenced by QUALIFY (rn <= 2), plus an
    INLINE window expression in the predicate (count(*) OVER the same
    partition ≥ 2, hoisted under a generated alias, filtered, and
    dropped — output schema equals the select list, as in the native
    engines). Oracle: DuckDB's native QUALIFY, certifying the rewrite
    end-to-end against an independent implementation.

    Plan shape for 100 TB: the rewrite is driver-side TEXT work; the
    emitted plan is exactly the window + Filter Catalyst builds for
    the subquery spelling — ONE shuffle on o_custkey shared by both
    window functions, no extra materialization. The partition key
    GROWS with the data (customers), so the window parallelism scales
    — deliberately not a bounded-domain key, which would funnel raw
    rows through a fixed task count (the lint rule that caught this
    query's first draft). Pinned in tests/test_plan_quality.py (no
    CartesianProduct, key-partitioned windows, no Python).
    """
    from nipd_spark.sqlext import qualify_sql

    load(spark, sf_dir, "orders").createOrReplaceTempView("sql7_orders")
    return qualify_sql(
        spark,
        """
        SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey)
                 AS rn
        FROM sql7_orders
        WHERE o_orderstatus <> 'F'
        QUALIFY rn <= 2
           AND count(*) OVER (PARTITION BY o_custkey) >= 2
        """,
    )


@query(
    "sql8_asof_qualify",
    # Oracle: DuckDB runs BOTH surfaces natively — its ASOF JOIN and
    # its QUALIFY in one statement — an independent end-to-end
    # implementation of the same composed semantics. gap_us is an
    # exact integer; rank ties break on the unique event_id.
    sql="""
    WITH clicks AS (
      SELECT user_id, event_id AS click_id, CAST(ts AS TIMESTAMP) AS cts
      FROM events WHERE event_type = 'click'
    ),
    purchases AS (
      SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts
      FROM events WHERE event_type = 'purchase'
    )
    SELECT p.user_id, p.event_id, c.click_id AS click_id,
           epoch_us(p.ts) - epoch_us(c.cts) AS gap_us,
           row_number() OVER (PARTITION BY p.user_id
                              ORDER BY epoch_us(p.ts) - epoch_us(c.cts),
                                       p.event_id) AS rn
    FROM purchases p
    ASOF JOIN clicks c ON p.user_id = c.user_id AND p.ts >= c.cts
    QUALIFY rn = 1
    """,
    tags=("J9", "W1", "O4"),
)
def sql8_asof_qualify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOTH SQL-surface extensions composed in ONE statement
    (nipd_spark/sqlext.sql — r11): an ASOF JOIN pairing each purchase
    with the user's latest prior click, then a QUALIFY keeping each
    user's TIGHTEST purchase→click pair (rank by exact-µs gap,
    event_id tie-break). This is the drop-in ``spark.sql`` a reference
    user migrating raw Snowflake/DuckDB SQL calls — the ASOF splice
    rewrites the FROM clause onto the union+window operator, then the
    QUALIFY rewrite turns the trailing clause into the ordinary
    window+filter, all driver-side text work. Oracle: DuckDB executes
    the SAME composition through its native ASOF JOIN and native
    QUALIFY — two independent engine implementations of both surfaces,
    hash-compared.

    Plan shape for 100 TB: the as-of pairing is one shuffle on
    user_id + an in-partition sort; the QUALIFY window rides the SAME
    user_id partitioning (Catalyst reuses the exchange), so the
    composed statement costs the as-of join plus one in-partition
    rank — no extra shuffle, nothing materializes.
    """
    from nipd_spark.sqlext import sql as sqlx

    ev = load(spark, sf_dir, "events")
    ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("cts")
    ).createOrReplaceTempView("sql8_clicks")
    ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts"
    ).createOrReplaceTempView("sql8_purchases")
    return sqlx(
        spark,
        """
        SELECT p.user_id, p.event_id, c.click_id AS click_id,
               unix_micros(p.ts) - unix_micros(c.cts) AS gap_us,
               row_number() OVER (PARTITION BY p.user_id
                                  ORDER BY unix_micros(p.ts)
                                           - unix_micros(c.cts),
                                           p.event_id) AS rn
        FROM sql8_purchases p
        ASOF JOIN sql8_clicks c
        MATCH_CONDITION (p.ts >= c.cts)
        ON p.user_id = c.user_id
        QUALIFY rn = 1
        """,
    )


@query(
    "sql9_match_recognize",
    # Oracle: the identical gaps-and-islands compilation spelled as
    # DuckDB window SQL (the w24 oracle with the MR measure aliases).
    # Counts exact integers; bottom_val/recovery are stored doubles /
    # one identical-shape subtraction — bit-equal cross-engine,
    # unrounded.
    sql=f"""
    WITH e AS (
      SELECT user_id, {ts_us()} AS ts, event_id, value,
             row_number() OVER w AS rn,
             lag(value) OVER w AS prev
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY {ts_us()}, event_id)
    ),
    lbl AS (
      SELECT *, CASE WHEN prev IS NULL THEN NULL
                     WHEN value > prev THEN 'UP'
                     WHEN value < prev THEN 'DOWN'
                     ELSE 'FLAT' END AS lab
      FROM e
    ),
    isl AS (
      SELECT *, sum(CASE WHEN lab IS NULL OR plab IS NULL
                          OR lab <> plab THEN 1 ELSE 0 END)
                  OVER (PARTITION BY user_id ORDER BY rn) AS island
      FROM (SELECT *, lag(lab) OVER (PARTITION BY user_id ORDER BY rn)
                        AS plab
            FROM lbl)
    ),
    seg AS (
      SELECT user_id, island, min(lab) AS lab,
             CAST(count(*) AS BIGINT) AS n,
             min(ts) AS start_ts, max(ts) AS end_ts,
             arg_max(value, rn) AS last_val
      FROM isl GROUP BY user_id, island
    ),
    m AS (
      SELECT user_id, lab, lag(lab) OVER wi AS plab,
             lag(n) OVER wi AS n_down, n AS n_up,
             lag(start_ts) OVER wi AS start_ts,
             lag(end_ts) OVER wi AS bottom_ts,
             end_ts,
             lag(last_val) OVER wi AS bottom_val,
             last_val
      FROM seg
      WINDOW wi AS (PARTITION BY user_id ORDER BY island)
    )
    SELECT user_id, start_ts, bottom_ts, end_ts,
           n_down, n_up, bottom_val,
           last_val - bottom_val AS recovery
    FROM m WHERE lab = 'UP' AND plab = 'DOWN'
    """,
    tags=("W10", "W5"),
)
def sql9_match_recognize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MATCH_RECOGNIZE SQL surface (nipd_spark/sqlext
    .match_recognize_sql — W10 v2, r12): the ISO SQL:2016 row-pattern
    clause [PK: ISO/IEC 9075-2:2016 §R; Oracle/Snowflake
    MATCH_RECOGNIZE docs; Flink CEP] absent from Spark SQL 4.1 — the
    first thing a user migrating Flink CEP / Snowflake pattern SQL
    hits (r11 VERDICT gap #1). The w24 V-shape as ONE SQL string:
    PARTITION BY / ORDER BY / MEASURES (FIRST/LAST/COUNT) / PATTERN
    (DOWN+ UP+) / DEFINE with PREV() navigation, spliced through the
    W10 operator and composed with an ordinary outer SELECT computing
    the recovery height. Oracle: the same detection as DuckDB window
    SQL — certifying the whole surface (labelling, island collapse,
    measures, splice) end-to-end.

    Plan shape for 100 TB: text-only driver-side rewrite; the spliced
    plan is w24's — keyed windows on the growing user_id key, island
    collapse before detection, no Python (the pattern is overlap-free
    so the all-JVM matcher is auto-routed).
    """
    from nipd_spark.sqlext import sql as sqlx

    load(spark, sf_dir, "events").createOrReplaceTempView("sql9_events")
    return sqlx(
        spark,
        """
        SELECT mr.user_id, start_ts, bottom_ts, end_ts, n_down, n_up,
               bottom_val, last_val - bottom_val AS recovery
        FROM sql9_events MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY ts, event_id
          MEASURES FIRST(DOWN.ts) AS start_ts,
                   LAST(DOWN.ts) AS bottom_ts,
                   LAST(UP.ts) AS end_ts,
                   COUNT(DOWN.*) AS n_down,
                   COUNT(UP.*) AS n_up,
                   LAST(DOWN.value) AS bottom_val,
                   LAST(UP.value) AS last_val
          ONE ROW PER MATCH
          AFTER MATCH SKIP PAST LAST ROW
          PATTERN ( DOWN+ UP+ )
          DEFINE DOWN AS value < PREV(value),
                 UP AS value > PREV(value)
        ) AS mr
        """,
    )


@query(
    "sql10_match_recognize_quantified",
    # Oracle: the w25 islands compilation + quantifier-bound filters
    # in DuckDB window SQL (detect-then-filter == match-under-bounds
    # for border-free patterns).
    sql=f"""
    WITH e AS (
      SELECT user_id, {ts_us()} AS ts, event_id,
             CAST(floor(value / 25) AS BIGINT) AS band,
             row_number() OVER w AS rn,
             lag(CAST(floor(value / 25) AS BIGINT)) OVER w AS prev
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY {ts_us()}, event_id)
    ),
    lbl AS (
      SELECT *, CASE WHEN prev IS NULL THEN NULL
                     WHEN band > prev THEN 'UP'
                     WHEN band < prev THEN 'DOWN'
                     ELSE 'FLAT' END AS lab
      FROM e
    ),
    isl AS (
      SELECT *, sum(CASE WHEN lab IS NULL OR plab IS NULL
                          OR lab <> plab THEN 1 ELSE 0 END)
                  OVER (PARTITION BY user_id ORDER BY rn) AS island
      FROM (SELECT *, lag(lab) OVER (PARTITION BY user_id ORDER BY rn)
                        AS plab
            FROM lbl)
    ),
    seg AS (
      SELECT user_id, island, min(lab) AS lab,
             CAST(count(*) AS BIGINT) AS n,
             min(ts) AS start_ts, max(ts) AS end_ts,
             arg_max(band, rn) AS last_band
      FROM isl GROUP BY user_id, island
    ),
    m AS (
      SELECT user_id, lab,
             lag(lab) OVER wi AS lab1, lag(lab, 2) OVER wi AS lab2,
             lag(n, 2) OVER wi AS n_down,
             lag(n) OVER wi AS n_flat, n AS n_up,
             lag(start_ts, 2) OVER wi AS start_ts,
             end_ts,
             lag(last_band) OVER wi AS plateau_band
      FROM seg
      WINDOW wi AS (PARTITION BY user_id ORDER BY island)
    )
    SELECT user_id, start_ts, end_ts, n_down, n_flat, n_up, plateau_band
    FROM m WHERE lab = 'UP' AND lab1 = 'FLAT' AND lab2 = 'DOWN'
      AND n_down >= 2 AND n_flat <= 2
    """,
    tags=("W10", "W5"),
)
def sql10_match_recognize_quantified(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MATCH_RECOGNIZE with QUANTIFIED legs through the SQL surface
    (W10 v2, r12): PATTERN ( DOWN{{2,}} FLAT{{1,2}} UP+ ) — the ISO
    quantifier spellings parsed by operators/patterns.parse_pattern
    and compiled to per-island length filters; DEFINE classifies the
    banded level (floor(value/25)) via PREV() navigation, and the
    plateau band surfaces through a LAST measure. The twin of w25
    reached purely through SQL text — certifying that a Snowflake/
    Flink user's quantified pattern runs unmodified.

    Plan shape for 100 TB: identical to w25 — the quantifier bounds
    are predicates over already-lagged columns inside the one
    detection window; the PREV() in DEFINE is one extra lag on the
    same row window.
    """
    from nipd_spark.sqlext import sql as sqlx

    ev = load(spark, sf_dir, "events")
    ev.select(
        "user_id",
        "ts",
        "event_id",
        F.floor(F.col("value") / 25).cast("long").alias("band"),
    ).createOrReplaceTempView("sql10_events")
    return sqlx(
        spark,
        """
        SELECT user_id, start_ts, end_ts, n_down, n_flat, n_up,
               plateau_band
        FROM sql10_events MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY ts, event_id
          MEASURES FIRST(DOWN.ts) AS start_ts,
                   LAST(UP.ts) AS end_ts,
                   COUNT(DOWN.*) AS n_down,
                   COUNT(FLAT.*) AS n_flat,
                   COUNT(UP.*) AS n_up,
                   LAST(FLAT.band) AS plateau_band
          PATTERN ( DOWN{2,} FLAT{1,2} UP+ )
          DEFINE DOWN AS band < PREV(band),
                 FLAT AS band = PREV(band),
                 UP AS band > PREV(band)
        )
        """,
    )


@query(
    "sql11_match_recognize_all_rows",
    # Oracle: the shared all-rows V-shape compilation (windows.py) —
    # the SQL-surface twin must hash-equal the same DuckDB detection +
    # attribution join.
    sql=None,  # assigned below from windows.ALL_ROWS_VSHAPE_ORACLE
    tags=("W10", "W5"),
)
def sql11_match_recognize_all_rows(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MATCH_RECOGNIZE ... ALL ROWS PER MATCH through the SQL surface
    (W10 v2, r12): the w26 row-level tagging reached purely as SQL
    text — PARTITION BY / ORDER BY / ALL ROWS PER MATCH / PATTERN /
    DEFINE with PREV(), no MEASURES clause (the all-rows form outputs
    the input rows + match_no + classifier; running-measure semantics
    are documented out of scope). Certifies a Snowflake/Oracle user's
    row-level pattern extraction runs unmodified.

    Plan shape for 100 TB: identical to w26 — the rewrite is
    driver-side text; the spliced plan is match_runs_all_rows'.
    """
    from nipd_spark.sqlext import sql as sqlx

    load(spark, sf_dir, "events").createOrReplaceTempView("sql11_events")
    return sqlx(
        spark,
        """
        SELECT mr.user_id, ts, event_id, value, match_no, classifier
        FROM sql11_events MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY ts, event_id
          ALL ROWS PER MATCH
          AFTER MATCH SKIP PAST LAST ROW
          PATTERN ( DOWN+ UP+ )
          DEFINE DOWN AS value < PREV(value),
                 UP AS value > PREV(value)
        ) AS mr
        """,
    )


# the oracle is shared with w26 (same detection + attribution); late
# assignment avoids a circular import at module load
from nipd_spark.queries import windows as _windows_mod  # noqa: E402
from nipd_spark import registry as _registry_mod  # noqa: E402

_registry_mod._REGISTRY["sql11_match_recognize_all_rows"].sql = (
    _windows_mod.ALL_ROWS_VSHAPE_ORACLE
)


@query(
    "sql12_match_recognize_alternation",
    # Oracle: the w27 end-anchored islands detection (the group's two
    # branches as CASE arms — exact: branch label sequences diverge at
    # position 1) with the MR measure aliases. Counts exact integers;
    # timestamps exact µs.
    sql=f"""
    WITH e AS (
      SELECT user_id, {ts_us()} AS ts, event_id,
             CAST(floor(value / 25) AS BIGINT) AS band,
             row_number() OVER w AS rn,
             lag(CAST(floor(value / 25) AS BIGINT)) OVER w AS prev
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY {ts_us()}, event_id)
    ),
    lbl AS (
      SELECT *, CASE WHEN prev IS NULL THEN NULL
                     WHEN band > prev THEN 'UP'
                     WHEN band < prev THEN 'DOWN'
                     ELSE 'FLAT' END AS lab
      FROM e
    ),
    isl AS (
      SELECT *, sum(CASE WHEN lab IS NULL OR plab IS NULL
                          OR lab <> plab THEN 1 ELSE 0 END)
                  OVER (PARTITION BY user_id ORDER BY rn) AS island
      FROM (SELECT *, lag(lab) OVER (PARTITION BY user_id ORDER BY rn)
                        AS plab
            FROM lbl)
    ),
    seg AS (
      SELECT user_id, island, min(lab) AS lab,
             CAST(count(*) AS BIGINT) AS n,
             min(ts) AS start_ts, max(ts) AS end_ts
      FROM isl GROUP BY user_id, island
    ),
    m AS (
      SELECT user_id, lab, lag(lab) OVER wi AS lab1,
             lag(n) OVER wi AS n1, n,
             lag(start_ts) OVER wi AS s1, end_ts
      FROM seg
      WINDOW wi AS (PARTITION BY user_id ORDER BY island)
    )
    SELECT user_id, s1 AS start_ts,
           end_ts,
           n1 AS n_down,
           CASE WHEN lab = 'FLAT' THEN 'stabilize'
                ELSE 'rebound' END AS resolution,
           n AS n_res
    FROM m WHERE lab IN ('FLAT', 'UP') AND lab1 = 'DOWN' AND n1 >= 2
    """,
    tags=("W10", "W5"),
)
def sql12_match_recognize_alternation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MATCH_RECOGNIZE alternation through the SQL surface (W10 v3,
    r12): the w27 dip-then-(stabilize|rebound) pattern as ONE SQL
    string — PATTERN ( DOWN{2,} (FLAT+ | UP+) ) with an ISO ordered-
    choice group [PK: ISO/IEC 9075-2:2016 §R]. Branch discrimination
    happens in plain SQL around the block: COUNT(FLAT.*) = 0 exactly
    when the match took the rebound branch (absent legs contribute
    zero rows / NULL measures), so the outer SELECT CASEs the
    resolution and COALESCEs the branch-specific measures — no
    matcher extension needed beyond the group grammar.

    Plan shape for 100 TB: text-only driver-side rewrite; the spliced
    plan is w27's — keyed windows on the growing user_id key, the
    alternation adds WHEN arms over already-lagged columns, zero
    extra stages or shuffles.
    """
    from nipd_spark.sqlext import sql as sqlx

    load(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        F.floor(F.col("value") / 25).cast("long").alias("band"),
    ).createOrReplaceTempView("sql12_events")
    return sqlx(
        spark,
        """
        SELECT mr.user_id, start_ts,
               COALESCE(flat_end, up_end) AS end_ts,
               n_down,
               CASE WHEN n_flat > 0 THEN 'stabilize'
                    ELSE 'rebound' END AS resolution,
               CASE WHEN n_flat > 0 THEN n_flat ELSE n_up END AS n_res
        FROM sql12_events MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY ts, event_id
          MEASURES FIRST(DOWN.ts) AS start_ts,
                   LAST(FLAT.ts) AS flat_end,
                   LAST(UP.ts) AS up_end,
                   COUNT(DOWN.*) AS n_down,
                   COUNT(FLAT.*) AS n_flat,
                   COUNT(UP.*) AS n_up
          ONE ROW PER MATCH
          AFTER MATCH SKIP PAST LAST ROW
          PATTERN ( DOWN{2,} (FLAT+ | UP+) )
          DEFINE DOWN AS band < PREV(band),
                 UP AS band > PREV(band),
                 FLAT AS band = PREV(band)
        ) AS mr
        """,
    )


@query(
    "sql13_match_recognize_skip_to_next",
    # Oracle: the w28 detection-plus-start-explosion SQL (no recursion
    # — overlap allowed means every end-anchored match emits, one row
    # per start row of the first DOWN island) with the MR measure
    # aliases. Counts exact integers; timestamps exact µs.
    sql=f"""
    WITH e AS (
      SELECT user_id, {ts_us()} AS ts, event_id,
             CAST(floor(value / 25) AS BIGINT) AS band,
             row_number() OVER w AS rn,
             lag(CAST(floor(value / 25) AS BIGINT)) OVER w AS prev
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY {ts_us()}, event_id)
    ),
    lbl AS (
      SELECT *, CASE WHEN prev IS NULL THEN NULL
                     WHEN band > prev THEN 'UP'
                     WHEN band < prev THEN 'DOWN'
                     ELSE 'FLAT' END AS lab
      FROM e
    ),
    isl0 AS (
      SELECT *, sum(CASE WHEN lab IS NULL OR plab IS NULL
                          OR lab <> plab THEN 1 ELSE 0 END)
                  OVER (PARTITION BY user_id ORDER BY rn) AS island
      FROM (SELECT *, lag(lab) OVER (PARTITION BY user_id ORDER BY rn)
                        AS plab
            FROM lbl)
    ),
    isl AS MATERIALIZED (
      SELECT * FROM isl0
    ),
    seg AS MATERIALIZED (
      SELECT user_id, island, min(lab) AS lab,
             CAST(count(*) AS BIGINT) AS n, max(ts) AS end_ts
      FROM isl GROUP BY user_id, island
    ),
    det AS (
      SELECT user_id, island - 3 AS start_isl,
             n_u1, n_d2, n AS n_u2, end_ts
      FROM (
        SELECT *, lag(lab) OVER wi AS lab1, lag(lab, 2) OVER wi AS lab2,
               lag(lab, 3) OVER wi AS lab3,
               lag(n, 2) OVER wi AS n_u1, lag(n) OVER wi AS n_d2
        FROM seg
        WINDOW wi AS (PARTITION BY user_id ORDER BY island)
      )
      WHERE lab = 'UP' AND lab1 = 'DOWN' AND lab2 = 'UP'
        AND lab3 = 'DOWN'
    ),
    starts AS (
      SELECT r.user_id, r.ts AS start_ts, d.end_ts,
             CAST(count(*) OVER (PARTITION BY r.user_id, r.island
                                 ORDER BY r.rn DESC) AS BIGINT)
               AS n_d1,
             d.n_u1, d.n_d2, d.n_u2, r.island, r.rn
      FROM isl r JOIN det d
        ON d.user_id = r.user_id AND d.start_isl = r.island
    )
    SELECT user_id,
           CAST(row_number() OVER (PARTITION BY user_id
                                   ORDER BY island, rn) AS BIGINT)
             AS match_no,
           start_ts, end_ts,
           n_d1 + n_u1 + n_d2 + n_u2 AS n_rows
    FROM starts
    """,
    tags=("W10", "W5"),
)
def sql13_match_recognize_skip_to_next(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """AFTER MATCH SKIP TO NEXT ROW through the SQL surface (W10 v3,
    r12): overlapping W-shapes as ONE SQL string — the ISO skip mode
    that tags every qualifying start row with its own greedy match
    [PK: ISO/IEC 9075-2:2016 §R]. The rewriter routes this mode to
    match_runs_overlapping, where the W-shape's self-overlap is NOT a
    restriction (overlap is the semantics), so the
    sequential-matcher-only pattern of w24c runs all-JVM here.
    MEASURES aggregate across a label's legs (FIRST(DOWN.ts) = the
    start row's ts via the first present DOWN leg; COUNT(*) = total
    rows across all four legs); MATCH_NUMBER() numbers matches per
    user in start-row order.

    Plan shape for 100 TB: text-only driver-side rewrite; the spliced
    plan is w28's — keyed windows, lag-chain detection, one co-keyed
    start-explosion join, suffix windows; no Python.
    """
    from nipd_spark.sqlext import sql as sqlx

    load(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        F.floor(F.col("value") / 25).cast("long").alias("band"),
    ).createOrReplaceTempView("sql13_events")
    return sqlx(
        spark,
        """
        SELECT mr.user_id, match_no, start_ts, end_ts, n_rows
        FROM sql13_events MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY ts, event_id
          MEASURES MATCH_NUMBER() AS match_no,
                   FIRST(DOWN.ts) AS start_ts,
                   LAST(UP.ts) AS end_ts,
                   COUNT(*) AS n_rows
          ONE ROW PER MATCH
          AFTER MATCH SKIP TO NEXT ROW
          PATTERN ( DOWN+ UP+ DOWN+ UP+ )
          DEFINE DOWN AS band < PREV(band),
                 UP AS band > PREV(band)
        ) AS mr
        """,
    )


@query(
    "sql14_recursive_cte",
    # Oracle: the IDENTICAL recursive fold in DuckDB (UNION ALL
    # recursion, same base/step expressions). The batch_amt double
    # accumulates in the SAME sequential order with the same
    # expression shape in both engines (bit-identical per the float
    # policy); the hashed outputs are pure counts.
    sql="""
    WITH RECURSIVE o AS (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey) AS rn
      FROM orders
    ),
    pack(o_custkey, rn, batch_id, batch_amt) AS (
      SELECT o_custkey, rn, CAST(0 AS BIGINT), o_totalprice
      FROM o WHERE rn = 1
      UNION ALL
      SELECT n.o_custkey, n.rn,
             CASE WHEN p.batch_amt + n.o_totalprice > 300000.0
                  THEN p.batch_id + 1 ELSE p.batch_id END,
             CASE WHEN p.batch_amt + n.o_totalprice > 300000.0
                  THEN n.o_totalprice ELSE p.batch_amt + n.o_totalprice END
      FROM pack p JOIN o n
        ON n.o_custkey = p.o_custkey AND n.rn = p.rn + 1
    )
    SELECT o_custkey AS custkey,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(max(batch_id) + 1 AS BIGINT) AS n_batches
    FROM pack GROUP BY o_custkey
    """,
    tags=("W3", "J1"),
)
def sql14_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native WITH RECURSIVE (new in Spark 4.0, SPARK-24497 [PK:
    Apache Spark 4.0 release notes; ISO SQL:1999 recursive query
    expressions]): per-customer threshold-batch packing — orders in
    date order accumulate into a batch until the running total would
    exceed 300k, then a new batch opens. The fold's state (batch id +
    running amount) depends NON-LINEARLY on the previous row's state,
    so no window function expresses it — the classic recursive-CTE
    workload (container packing, billing cycles, session budgets) —
    and this query certifies Spark's own recursion (UnionLoop
    execution) against DuckDB's, the first Spark-NATIVE recursive SQL
    in the suite (all earlier recursion lived in the DuckDB oracles).

    Recursion bounds: depth = the longest per-customer order chain
    (~25 at sf0.01 — constant under the key-shifted scale replicas,
    which add CUSTOMERS, not orders per customer; the level limit
    stays at its default 100); total recursion rows = |orders|, so
    the 1M-row default safety limit is raised session-wide to cover
    the 100x replica's 15M orders.

    Plan shape for 100 TB: each of the <=depth iterations is one
    equi join of the live chain frontier (O(customers) rows) against
    the rn-indexed orders on (custkey, rn) — key-partitioned,
    frontier-sized state, no driver-side loop (Catalyst's UnionLoop
    owns the iteration); the rn precomputation is one keyed window,
    DISK_ONLY-checkpointed once so the per-iteration rescans hit the
    materialized table (the multi-consumer-intermediate discipline).
    Measured cost is per-LEVEL job overhead, not data (SCALE.md r12:
    ~0.1 s/level at sf0.1, ~0.75 s/level at 100x under the scale
    profile — frontier broadcasts and pre-partitioning measured
    no-ops because each level replans independently); for folds over
    chains whose depth grows with data, the superstep form with a
    driver loop (c39-style) remains the scale path — this query
    certifies the NATIVE SQL:1999 surface and its exact semantics.
    """
    from pyspark.sql import Window

    from nipd_spark.operators.materialize import spill_checkpoint

    # total recursion rows = |orders| (one per order) — the default
    # 1M safety net is smaller than the 100x replica; raise it in this
    # query's own child session
    spark = child_session(spark, {"spark.sql.cteRecursionRowLimit": "2000000000"})
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    # materialize the rn-indexed chain table ONCE: every recursion
    # iteration rescans this relation, and an un-checkpointed view
    # would re-run the window per step (measured 12-21 s at sf0.1;
    # ~1 s checkpointed)
    spill_checkpoint(
        o.select(
            "o_custkey",
            "o_totalprice",
            F.row_number().over(w).alias("rn"),
        )
    ).createOrReplaceTempView("sql14_orders")
    return spark.sql(
        """
        WITH RECURSIVE pack(o_custkey, rn, batch_id, batch_amt) AS (
          SELECT o_custkey, rn, CAST(0 AS BIGINT), o_totalprice
          FROM sql14_orders WHERE rn = 1
          UNION ALL
          SELECT n.o_custkey, n.rn,
                 CASE WHEN p.batch_amt + n.o_totalprice > 300000.0
                      THEN p.batch_id + 1 ELSE p.batch_id END,
                 CASE WHEN p.batch_amt + n.o_totalprice > 300000.0
                      THEN n.o_totalprice
                      ELSE p.batch_amt + n.o_totalprice END
          FROM pack p JOIN sql14_orders n
            ON n.o_custkey = p.o_custkey AND n.rn = p.rn + 1
        )
        SELECT o_custkey AS custkey,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(max(batch_id) + 1 AS BIGINT) AS n_batches
        FROM pack GROUP BY o_custkey
        """
    )


@query(
    "sql15_match_recognize_optional_group",
    # Oracle: end-anchored detection with the optional group's THREE
    # expansion forms as CASE arms — [JUMP,FLAT,DOWN], [JUMP,UP,DOWN]
    # and the group-absent [JUMP,DOWN]; exact because every pair of
    # forms diverges at position 1 (FLAT/UP/DOWN are distinct), so at
    # any end island at most one form matches and no two occurrences
    # with different ends can overlap. Counts exact; µs exact.
    sql=f"""
    WITH e AS (
      SELECT user_id, {ts_us()} AS ts, event_id,
             CAST(floor(value / 25) AS BIGINT) AS band,
             row_number() OVER w AS rn,
             lag(CAST(floor(value / 25) AS BIGINT)) OVER w AS prev
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY {ts_us()}, event_id)
    ),
    lbl AS (
      SELECT *, CASE WHEN prev IS NULL THEN NULL
                     WHEN band > prev + 1 THEN 'JUMP'
                     WHEN band > prev THEN 'UP'
                     WHEN band < prev THEN 'DOWN'
                     ELSE 'FLAT' END AS lab
      FROM e
    ),
    isl AS (
      SELECT *, sum(CASE WHEN lab IS NULL OR plab IS NULL
                          OR lab <> plab THEN 1 ELSE 0 END)
                  OVER (PARTITION BY user_id ORDER BY rn) AS island
      FROM (SELECT *, lag(lab) OVER (PARTITION BY user_id ORDER BY rn)
                        AS plab
            FROM lbl)
    ),
    seg AS (
      SELECT user_id, island, min(lab) AS lab,
             CAST(count(*) AS BIGINT) AS n,
             min(ts) AS start_ts, max(ts) AS end_ts
      FROM isl GROUP BY user_id, island
    ),
    m AS (
      SELECT user_id, lab, lag(lab) OVER wi AS lab1,
             lag(lab, 2) OVER wi AS lab2,
             lag(n) OVER wi AS n1, lag(n, 2) OVER wi AS n2,
             n AS n_down,
             lag(start_ts) OVER wi AS s1, lag(start_ts, 2) OVER wi AS s2,
             end_ts
      FROM seg
      WINDOW wi AS (PARTITION BY user_id ORDER BY island)
    ),
    det AS (
      SELECT *,
             CASE WHEN lab = 'DOWN' AND lab1 IN ('FLAT', 'UP')
                       AND lab2 = 'JUMP' THEN 2
                  WHEN lab = 'DOWN' AND lab1 = 'JUMP' THEN 1
             END AS form
      FROM m
    )
    SELECT user_id,
           CASE WHEN form = 2 THEN s2 ELSE s1 END AS start_ts,
           end_ts,
           CASE WHEN form = 2 THEN n2 ELSE n1 END AS n_jump,
           CASE WHEN form = 2 THEN n1 ELSE CAST(0 AS BIGINT) END
             AS n_drift,
           n_down
    FROM det WHERE form IS NOT NULL
    """,
    tags=("W10", "W5"),
)
def sql15_match_recognize_optional_group(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Optional alternation group through the SQL surface (W10 v3,
    r12): PATTERN ( JUMP+ (FLAT+ | UP+)? DOWN+ ) — a band spike,
    optionally some drift (flat or mild rise), then a decline; the
    trailing '?' on the group adds the empty branch, so the pattern
    expands to three candidate forms ORed into one detection pass
    [PK: ISO/IEC 9075-2:2016 §R]. Exercises the two group features
    the other SQL queries don't: the group-absent branch (COUNT over
    the group's labels = 0 for direct JUMP->DOWN matches) and a
    4-label DEFINE with an arithmetic PREV predicate
    (band > PREV(band) + 1).

    Plan shape for 100 TB: identical to w27/sql12 — keyed windows on
    the growing user_id, the expansion forms are WHEN arms over
    already-lagged columns, zero extra stages.
    """
    from nipd_spark.sqlext import sql as sqlx

    load(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        F.floor(F.col("value") / 25).cast("long").alias("band"),
    ).createOrReplaceTempView("sql15_events")
    return sqlx(
        spark,
        """
        SELECT mr.user_id, start_ts, end_ts, n_jump,
               n_flat + n_up AS n_drift, n_down
        FROM sql15_events MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY ts, event_id
          MEASURES FIRST(JUMP.ts) AS start_ts,
                   LAST(DOWN.ts) AS end_ts,
                   COUNT(JUMP.*) AS n_jump,
                   COUNT(FLAT.*) AS n_flat,
                   COUNT(UP.*) AS n_up,
                   COUNT(DOWN.*) AS n_down
          ONE ROW PER MATCH
          AFTER MATCH SKIP PAST LAST ROW
          PATTERN ( JUMP+ (FLAT+ | UP+)? DOWN+ )
          DEFINE JUMP AS band > PREV(band) + 1,
                 UP AS band > PREV(band),
                 DOWN AS band < PREV(band),
                 FLAT AS band = PREV(band)
        ) AS mr
        """,
    )
