"""Source/sink round-trip queries (SURVEY §2.B "Sources"/"Sinks").

Each query materializes a slice of the parquet fixtures through a
different format (CSV with explicit schema, JSON, text) into a
scratch dir (``runtime.scratch_dir``, removed at process exit), reads
it back, and aggregates — so the oracle (straight parquet) verifies
BOTH the writer and the reader of that format. ``_SUCCESS`` markers are asserted in tests.
"""

from __future__ import annotations

import functools
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_word2vec_spark.plans.catalog import register
from mapreduce_word2vec_spark.runtime import scratch_dir
from mapreduce_word2vec_spark.sources.readers import read_csv, read_json, read_testdata
from mapreduce_word2vec_spark.sources.writers import write_csv


@functools.cache
def _tmp() -> str:
    return scratch_dir("mw2v_sources_")


def _roundtrip_dir(kind: str, sf_dir: str) -> str:
    tag = sf_dir.strip("/").replace("/", "_")
    return os.path.join(_tmp(), f"{kind}_{tag}")


@register(
    "source_csv_roundtrip",
    oracle="""
    SELECT n_name, count(*) AS n_supp, round(sum(s_acctbal), 6) AS total_bal
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def source_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """parquet → CSV (header) → read with explicit schema → join+agg.
    Exercises the CSV writer, the schema-first CSV scan, and header
    handling; schema-first because inference costs an extra pass."""
    sup = read_testdata(spark, sf_dir, "supplier")
    path = _roundtrip_dir("csv_supplier", sf_dir)
    write_csv(sup, path, header=True)
    back = read_csv(
        spark,
        path,
        schema="s_suppkey bigint, s_name string, s_nationkey int, s_acctbal double",
        header=True,
    )
    n = read_testdata(spark, sf_dir, "nation")
    return (
        back.join(F.broadcast(n), back.s_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.count("*").alias("n_supp"), F.round(F.sum("s_acctbal"), 6).alias("total_bal"))
    )


@register(
    "source_json_roundtrip",
    oracle="""
    SELECT r_regionkey, r_name FROM region
    """,
)
def source_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """parquet → JSON lines → schema-first read → project."""
    r = read_testdata(spark, sf_dir, "region")
    path = _roundtrip_dir("json_region", sf_dir)
    r.write.mode("overwrite").json(path)
    back = read_json(spark, path, schema="r_regionkey int, r_name string")
    return back.select("r_regionkey", "r_name")


@register(
    "source_text_lines",
    oracle="""
    SELECT count(*) AS n_lines, CAST(sum(length(text)) AS BIGINT) AS n_chars
    FROM documents
    """,
)
def source_text_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.text → text-file sink (one line per doc) → text scan
    (the reference's A1 source) → line/char totals. Newline-free by
    construction of the synthetic corpus."""
    d = read_testdata(spark, sf_dir, "documents")
    path = _roundtrip_dir("text_docs", sf_dir)
    d.select(F.col("text").alias("value")).write.mode("overwrite").text(path)
    from mapreduce_word2vec_spark.sources.readers import read_text_corpus

    back = read_text_corpus(spark, path)
    return back.agg(
        F.count("*").alias("n_lines"),
        F.sum(F.length("value")).cast("long").alias("n_chars"),
    )


@register(
    "source_partitioned_roundtrip",
    oracle="""
    SELECT source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents WHERE lang IN ('es', 'fr')
    GROUP BY source
    """,
)
def source_partitioned_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """parquet → hive-partitioned parquet layout (PARTITIONED BY lang)
    → filtered read-back. The lang predicate must resolve at PLANNING
    time against the directory structure (PartitionFilters, no data
    read for pruned languages) — the layout pattern that makes
    per-language processing of a 100 TB corpus scan only the
    languages it touches. Plan-asserted in test_plans."""
    d = read_testdata(spark, sf_dir, "documents")
    path = _roundtrip_dir("part_docs", sf_dir)
    d.write.mode("overwrite").partitionBy("lang").parquet(path)
    back = spark.read.parquet(path).where(F.col("lang").isin("es", "fr"))
    return back.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )


@register(
    "source_orc_roundtrip",
    oracle="""
    SELECT p_brand, count(*) AS n_parts,
           round(sum(p_retailprice), 6) AS total_price
    FROM part GROUP BY p_brand
    """,
)
def source_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """parquet → ORC → read-back → aggregate. ORC is Spark's second
    first-class columnar format (native vectorized reader, predicate
    pushdown, zlib/zstd): the interchange path for Hive-era lakes.
    The oracle reads the original parquet, so a round-trip through
    the ORC writer+reader must be lossless."""
    p = read_testdata(spark, sf_dir, "part")
    path = _roundtrip_dir("orc_part", sf_dir)
    p.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    return back.groupBy("p_brand").agg(
        F.count("*").alias("n_parts"),
        F.round(F.sum("p_retailprice"), 6).alias("total_price"),
    )


@register(
    "source_schema_evolution",
    oracle="""
    SELECT n_nationkey,
           n_name,
           CASE WHEN n_nationkey % 2 = 0 THEN NULL ELSE r_name END AS region_name
    FROM nation LEFT JOIN region ON n_regionkey = r_regionkey
    """,
)
def source_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on read: two parquet batches of the same
    table written with DIFFERENT schemas (the second adds a
    region_name column), unified by mergeSchema — the additive-column
    migration every long-lived lake table goes through. Rows from the
    old batch surface the new column as NULL; the oracle recomputes
    both generations from the source tables.

    Scale note: mergeSchema reconciles footers at PLANNING time (cost
    scales with file count, not data); steady-state readers should
    pin the evolved schema explicitly and skip footer merging."""
    n = read_testdata(spark, sf_dir, "nation")
    r = read_testdata(spark, sf_dir, "region")
    path = _roundtrip_dir("schema_evo_nation", sf_dir)
    old_gen = n.where(F.col("n_nationkey") % 2 == 0).select("n_nationkey", "n_name")
    new_gen = (
        n.where(F.col("n_nationkey") % 2 == 1)
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"), "left")
        .select("n_nationkey", "n_name", F.col("r_name").alias("region_name"))
    )
    old_gen.write.mode("overwrite").parquet(f"{path}/gen=0")
    new_gen.write.mode("overwrite").parquet(f"{path}/gen=1")
    back = spark.read.option("mergeSchema", "true").parquet(
        f"{path}/gen=0", f"{path}/gen=1"
    )
    return back.select("n_nationkey", "n_name", "region_name")


@register(
    "source_csv_malformed",
    oracle="""
    SELECT CAST(sum(CASE WHEN s_suppkey % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_corrupt,
           CAST(sum(CASE WHEN s_suppkey % 5 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_good,
           CAST(sum(CASE WHEN s_suppkey % 5 <> 0 THEN s_suppkey ELSE 0 END) AS BIGINT) AS good_key_sum,
           round(sum(CASE WHEN s_suppkey % 5 <> 0 THEN s_acctbal ELSE 0 END), 6) AS good_bal
    FROM supplier
    """,
)
def source_csv_malformed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-record handling: a CSV where every 5th row has a
    non-numeric supplier key is read in PERMISSIVE mode with a
    columnNameOfCorruptRecord column; the query separates good from
    corrupt rows and aggregates only the good ones — the
    dead-letter-queue pattern for ingesting dirty data at scale
    (FAILFAST would abort the job on one bad row in 100 TB;
    DROPMALFORMED would silently lose it). Corruption is keyed on
    s_suppkey % 5 so the parquet-based oracle can reproduce the split
    exactly.

    Pruning gotcha (measured here): the CSV parser only parses
    REFERENCED columns (spark.sql.csv.parser.columnPruning, on by
    default), so a query that never reads the corrupted column sees
    n_corrupt = 0 — the bad field is simply never converted. The
    aggregate therefore touches s_suppkey itself (good_key_sum);
    real dead-letter pipelines must reference every column whose
    failure they care about, or disable pruning for the scan."""
    sup = read_testdata(spark, sf_dir, "supplier")
    path = _roundtrip_dir("csv_malformed", sf_dir)
    # Render rows as raw CSV lines, corrupting every 5th key with a
    # non-numeric token (type-cast failure => corrupt in PERMISSIVE).
    key = F.when(
        F.col("s_suppkey") % 5 == 0, F.concat(F.lit("BAD_"), F.col("s_suppkey"))
    ).otherwise(F.col("s_suppkey").cast("string"))
    line = F.concat_ws(
        ",",
        key,
        # \r would split one record into two at read time (univocity
        # treats lone \r as a terminator) and a quote would open an
        # unterminated quoted field swallowing following lines
        F.regexp_replace(F.col("s_name"), "[,\n\r\"]", " "),
        F.col("s_nationkey").cast("string"),
        F.col("s_acctbal").cast("string"),
    )
    sup.select(line.alias("value")).write.mode("overwrite").text(path)
    back = (
        spark.read.schema(
            "s_suppkey bigint, s_name string, s_nationkey int, "
            "s_acctbal double, _corrupt string"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(path)
    )
    return back.agg(
        F.sum(F.when(F.col("_corrupt").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_corrupt"),
        F.sum(F.when(F.col("_corrupt").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_good"),
        F.sum(F.when(F.col("_corrupt").isNull(), F.col("s_suppkey")).otherwise(0))
        .cast("bigint")
        .alias("good_key_sum"),
        F.round(
            F.sum(F.when(F.col("_corrupt").isNull(), F.col("s_acctbal")).otherwise(0.0)),
            6,
        ).alias("good_bal"),
    )


@register(
    "source_python_datasource",
    oracle="""
    WITH g AS (
      SELECT s.s AS sensor_id, r.r AS reading_idx,
             20.0 + ((s.s * 31 + r.r * 7) % 100) / 10.0 AS temp_c
      FROM (SELECT unnest(range(0, 8)) AS s) s
      CROSS JOIN (SELECT unnest(range(0, 1000)) AS r) r
    )
    SELECT CAST(sensor_id AS INT) AS sensor_id,
           CAST(count(*) AS BIGINT) AS n_readings,
           round(min(temp_c), 6) AS min_temp,
           round(max(temp_c), 6) AS max_temp,
           round(avg(temp_c), 6) AS avg_temp
    FROM g GROUP BY sensor_id
    """,
)
def source_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The EXTENSIBLE source surface: a custom Python DataSource
    (Spark 4 DataSource API) scanned in parallel via its declared
    InputPartitions, then aggregated. The deterministic generator
    makes the whole scan oracle-able — DuckDB re-evaluates the same
    closed formula over range(). A real connector swaps the formula
    for a per-shard connection; the partition/schema/registration
    plumbing this query exercises is identical (sf_dir unused: the
    source IS the data)."""
    from mapreduce_word2vec_spark.sources.python_datasource import (
        register_sensor_source,
    )

    register_sensor_source(spark)
    readings = (
        spark.read.format("sensor_sim")
        .option("sensors", 8)
        .option("readings", 1000)
        .load()
    )
    return readings.groupBy("sensor_id").agg(
        F.count("*").cast("bigint").alias("n_readings"),
        F.round(F.min("temp_c"), 6).alias("min_temp"),
        F.round(F.max("temp_c"), 6).alias("max_temp"),
        F.round(F.avg("temp_c"), 6).alias("avg_temp"),
    )


@register(
    "source_bucketed_join",
    oracle="""
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(l_extendedprice), 2) AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderstatus
    """,
)
def source_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed (hash-clustered) tables + co-located join — the
    write-once-join-free pattern for fact tables joined repeatedly on
    one key: both sides bucketBy(8, orderkey) + sortBy, so the join
    consumes the on-disk bucketing and plans with ZERO exchanges on
    the join key (plan-asserted in tests; only the tiny final rollup
    shuffles). At 100 TB this converts every recurring
    lineitem-orders join from two full-table shuffles into a local
    merge per bucket — the biggest single shuffle saving a warehouse
    layout can buy. Results are identical to the plain join, which is
    what the oracle checks."""
    o = read_testdata(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus"
    )
    li = read_testdata(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    )
    # EXTERNAL tables in a scratch dir per call: a fixed managed name
    # would collide with a previous session's leftover warehouse
    # directory (LOCATION_ALREADY_EXISTS). The tables are dropped once
    # the frame is built — the frame's plan keeps their files and
    # bucket spec — and the files go with the scratch dir at exit.
    base = scratch_dir("mrw2v_buckets_")
    suffix = os.path.basename(base).removeprefix("mrw2v_buckets_")
    t_o, t_li = f"mrw2v_b_orders_{suffix}", f"mrw2v_b_lineitem_{suffix}"
    (
        o.write.bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey")
        .option("path", f"{base}/{t_o}")
        .saveAsTable(t_o)
    )
    (
        li.write.bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey")
        .option("path", f"{base}/{t_li}")
        .saveAsTable(t_li)
    )
    bo = spark.table(t_o)
    bl = spark.table(t_li)
    out = (
        bl.join(bo, bl.l_orderkey == bo.o_orderkey)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.round(F.sum("l_extendedprice"), 2).alias("revenue"),
        )
    )
    for t in (t_o, t_li):
        spark.sql(f"DROP TABLE {t}")
    return out


@register(
    "source_json_nested",
    oracle="""
    WITH caps AS (
      SELECT c_nationkey, c_custkey,
             row_number() OVER (PARTITION BY c_nationkey ORDER BY c_custkey) AS rn
      FROM customer
    )
    SELECT n.n_nationkey, n.n_name, r.r_name,
           CAST(c.rn - 1 AS INT) AS pos, c.c_custkey
    FROM nation n
    JOIN region r ON n.n_regionkey = r.r_regionkey
    JOIN caps c ON c.c_nationkey = n.n_nationkey
    WHERE c.rn <= 5
    """,
)
def source_json_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-JSON ingestion: build a document per nation — a struct
    (`info {name, region}`) plus an array (first 5 customer keys) —
    write it as JSON lines, read it back with the nested schema, and
    FLATTEN (dot-path projection + posexplode) to scalars. This is
    the log-processing shape the flat roundtrips don't cover: struct
    fields and arrays must survive the writer, the reader, and
    column-pruned extraction. The oracle reconstructs the flattened
    rows straight from the base tables, so any fidelity loss in the
    nested round-trip mismatches."""
    from pyspark.sql import Window

    n = read_testdata(spark, sf_dir, "nation")
    r = read_testdata(spark, sf_dir, "region")
    c = read_testdata(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy("c_custkey")
    caps = (
        c.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 5)
        .groupBy("c_nationkey")
        .agg(F.sort_array(F.collect_list("c_custkey")).alias("customers"))
    )
    nested = (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .join(caps, n.n_nationkey == F.col("c_nationkey"))
        .select(
            "n_nationkey",
            F.struct(
                F.col("n_name").alias("name"), F.col("r_name").alias("region")
            ).alias("info"),
            "customers",
        )
    )
    path = _roundtrip_dir("json_nested", sf_dir)
    nested.write.mode("overwrite").json(path)
    back = spark.read.schema(
        "n_nationkey int, info struct<name:string, region:string>, "
        "customers array<bigint>"
    ).json(path)
    return back.select(
        "n_nationkey",
        F.col("info.name").alias("n_name"),
        F.col("info.region").alias("r_name"),
        F.posexplode("customers").alias("pos", "c_custkey"),
    )


@register(
    "source_csv_dialect",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(length(c_name || ';"' || c_mktsegment || '"'
                    || chr(10) || CAST(c_custkey AS VARCHAR))) AS BIGINT) AS tricky_chars,
           CAST(sum(c_custkey) AS BIGINT) AS key_sum
    FROM customer
    """,
)
def source_csv_dialect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV dialect hard mode: a field containing the DELIMITER, the
    QUOTE character, and an embedded NEWLINE must survive
    write-then-read intact (semicolon-separated, quoted, multiLine
    read — the option set real-world dirty CSV needs; a quoting bug
    silently truncates rows or shifts columns). The oracle recomputes
    the expected per-row string lengths from the base table, so any
    fidelity loss in the dialect round-trip shows as a count or
    checksum mismatch."""
    c = read_testdata(spark, sf_dir, "customer")
    tricky = F.concat(
        F.col("c_name"),
        F.lit(';"'),
        F.col("c_mktsegment"),
        F.lit('"\n'),
        F.col("c_custkey").cast("string"),
    )
    out = c.select("c_custkey", tricky.alias("tricky"))
    path = _roundtrip_dir("csv_dialect", sf_dir)
    (
        out.write.mode("overwrite")
        .option("header", True)
        .option("sep", ";")
        .option("quote", '"')
        .option("escape", '"')
        .csv(path)
    )
    back = (
        spark.read.schema("c_custkey long, tricky string")
        .option("header", True)
        .option("sep", ";")
        .option("quote", '"')
        .option("escape", '"')
        .option("multiLine", True)
        .csv(path)
    )
    return back.agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum(F.length("tricky")).cast("bigint").alias("tricky_chars"),
        F.sum("c_custkey").cast("bigint").alias("key_sum"),
    )


@register(
    "source_xml_roundtrip",
    oracle="""
    SELECT s_nationkey, count(*) AS n_supp,
           round(sum(s_acctbal), 6) AS total_bal,
           min(s_name) AS first_name
    FROM supplier GROUP BY s_nationkey
    """,
)
def source_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """parquet → XML (Spark 4 built-in, one <supplier> element per
    row) → schema-first read-back → aggregate. XML is the
    enterprise-feed format (SEC filings, PubMed, legacy SOAP dumps);
    Spark 4 folded the spark-xml package into core, so the scan is a
    first-class FileFormat with schema-first parsing (inference would
    cost an extra pass, same rule as CSV/JSON). The oracle reads the
    original parquet — writer+reader must round-trip losslessly."""
    sup = read_testdata(spark, sf_dir, "supplier")
    path = _roundtrip_dir("xml_supplier", sf_dir)
    (
        sup.write.mode("overwrite")
        .format("xml")
        .option("rootTag", "suppliers")
        .option("rowTag", "supplier")
        .save(path)
    )
    back = (
        spark.read.format("xml")
        .option("rowTag", "supplier")
        # default ignoreSurroundingSpaces=true would trim names on
        # read-back, silently breaking the lossless-round-trip claim
        # for values with leading/trailing whitespace
        .option("ignoreSurroundingSpaces", "false")
        .schema("s_suppkey bigint, s_name string, s_nationkey int, s_acctbal double")
        .load(path)
    )
    return back.groupBy("s_nationkey").agg(
        F.count("*").alias("n_supp"),
        F.round(F.sum("s_acctbal"), 6).alias("total_bal"),
        F.min("s_name").alias("first_name"),
    )


@register(
    "source_binaryfile_scan",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) + 1 AS BIGINT) AS n_bytes,
           sha256(text || chr(10)) AS sha_hex
    FROM documents WHERE doc_id < 64
    """,
)
def source_binaryfile_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-file-per-document layout → ``binaryFile`` scan → per-blob
    length + SHA-256. This is the raw-asset ingestion path for
    multimodal corpora (images/audio arrive as files, not rows): the
    binaryFile source yields (path, length, content) without decoding,
    ids are recovered from the directory name, and content-addressing
    (sha2 over bytes) happens JVM-side.

    The layout is produced DISTRIBUTED — a partitionBy(doc_id) text
    sink, one directory per doc, no driver-side loop — and the text
    sink's trailing newline is part of the bytes, so the oracle hashes
    text || chr(10) over the ASCII corpus (UTF-8 == ASCII bytes here).
    Scale shape: scan parallelism = files; content never shuffles
    (the digest, 32 bytes, is the only thing that moves)."""
    docs = read_testdata(spark, sf_dir, "documents").where(F.col("doc_id") < 64)
    path = _roundtrip_dir("binfiles_docs", sf_dir)
    docs.select("doc_id", F.col("text").alias("value")).write.mode("overwrite").partitionBy(
        "doc_id"
    ).text(path)
    back = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.txt")
        .option("recursiveFileLookup", "false")
        .load(path + "/doc_id=*")
    )
    return back.select(
        F.regexp_extract(F.col("path"), r"doc_id=(\d+)", 1).cast("bigint").alias("doc_id"),
        F.col("length").alias("n_bytes"),
        F.lower(F.sha2(F.col("content"), 256)).alias("sha_hex"),
    )


@register(
    "source_dpp_prune",
    oracle="""
    SELECT year(o_orderdate) AS o_year,
           o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(o_totalprice), 6) AS total_price
    FROM orders
    WHERE year(o_orderdate) IN (1995, 1996)
    GROUP BY o_year, o_orderpriority
    """,
)
def source_dpp_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: the fact table is laid out
    partitioned by year, the filter arrives on a DIMENSION (a year
    catalog tagged 'current' vs 'archive'), and Catalyst injects a
    runtime subquery filter into the fact scan, so only the
    1995/1996 directories are read — the scan prunes on a predicate
    it cannot see statically. At 100 TB this is the difference
    between scanning two years and scanning the decade; asserted in
    test_plans (PartitionFilters: dynamicpruning expression)."""
    o = read_testdata(spark, sf_dir, "orders")
    path = _roundtrip_dir("dpp_orders", sf_dir)
    o.withColumn("o_year", F.year("o_orderdate")).write.mode("overwrite").partitionBy(
        "o_year"
    ).parquet(path)
    fact = spark.read.parquet(path)
    dim = spark.createDataFrame(
        [(y, "current" if y in (1995, 1996) else "archive") for y in range(1995, 2002)],
        "d_year int, d_tag string",
    )
    current = dim.where(F.col("d_tag") == "current")
    return (
        fact.join(F.broadcast(current), fact.o_year == current.d_year)
        .groupBy("o_year", "o_orderpriority")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 6).alias("total_price"),
        )
    )


@register(
    "source_python_stream",
    oracle="""
    WITH g AS (
      SELECT s.s AS sensor_id, r.r AS reading_idx,
             20.0 + ((s.s * 31 + r.r * 7) % 100) / 10.0 AS temp_c
      FROM (SELECT unnest(range(0, 8)) AS s) s
      CROSS JOIN (SELECT unnest(range(0, 1000)) AS r) r
    )
    SELECT CAST(sensor_id AS INT) AS sensor_id,
           CAST(count(*) AS BIGINT) AS n_readings,
           round(sum(temp_c), 6) AS total_temp
    FROM g GROUP BY sensor_id
    """,
)
def source_python_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING half of the extensible-connector surface: the
    same Python DataSource consumed via ``readStream`` through its
    Spark 4 ``SimpleDataSourceStreamReader`` — offsets are
    reading-index blocks, four micro-batches deliver the full range,
    exhaustion reports offset-unchanged so ``processAllAvailable()``
    terminates, and replays between committed offsets regenerate
    identical rows (the exactly-once contract a changelog reader
    must honor; a generator is not picklable and the prefetcher
    probes batches with next(), so batches are list_iterators).
    Oracle = the same closed form over the whole range: streaming
    accumulation across batches must equal the one-shot evaluation
    (sf_dir unused: the source IS the data)."""

    from mapreduce_word2vec_spark.sources.python_datasource import (
        register_sensor_source,
    )

    register_sensor_source(spark)
    agg = (
        spark.readStream.format("sensor_sim")
        .option("sensors", 8)
        .load()
        .groupBy("sensor_id")
        .agg(
            F.count("*").cast("bigint").alias("n_readings"),
            F.round(F.sum("temp_c"), 6).alias("total_temp"),
        )
    )
    ckpt = scratch_dir("mw2v_pss_")
    name = os.path.basename(ckpt)
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .start()
    )
    # processAllAvailable, not availableNow: an availableNow trigger
    # on this Python source delivers only its first block (2,000 of
    # the 8,000 readings).
    try:
        q.processAllAvailable()
        q.stop()
        return spark.table(name)
    finally:
        spark.catalog.dropTempView(name)


@register(
    "source_csv_multiline",
    oracle="""
    SELECT s_suppkey,
           s_name || ' HQ' AS addr_line1,
           'PO BOX ' || CAST(s_suppkey * 7 AS VARCHAR) AS addr_line2,
           round(s_acctbal, 6) AS bal
    FROM supplier
    """,
)
def source_csv_multiline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV with EMBEDDED NEWLINES in quoted fields (multiLine=true):
    the address-blob corner every vendor feed eventually hits. The
    writer renders a quoted two-line address per supplier; the reader
    must reassemble logical records across physical lines.

    Scale lesson (why this is a layout decision, not just a parser
    flag): multiLine CSV files are NOT SPLITTABLE — a record boundary
    can't be found mid-file, so parallelism drops to one task per
    FILE. The writer here emits many small files (one per partition),
    which is exactly the mitigation: keep multiline CSVs small and
    numerous, or land them to parquet at the edge."""
    sup = read_testdata(spark, sf_dir, "supplier")
    path = _roundtrip_dir("csv_multiline", sf_dir)
    line = F.concat(
        F.col("s_suppkey").cast("string"),
        F.lit(',"'),
        F.col("s_name"),
        F.lit(" HQ\nPO BOX "),
        (F.col("s_suppkey") * 7).cast("string"),
        F.lit('",'),
        F.col("s_acctbal").cast("string"),
    )
    sup.select(line.alias("value")).write.mode("overwrite").text(path)
    back = (
        spark.read.schema("s_suppkey bigint, addr string, bal double")
        .option("multiLine", "true")
        .option("quote", '"')
        .csv(path)
    )
    parts = F.split(F.col("addr"), "\n")
    return back.select(
        "s_suppkey",
        parts.getItem(0).alias("addr_line1"),
        parts.getItem(1).alias("addr_line2"),
        F.round("bal", 6).alias("bal"),
    )


@register(
    "source_nested_pruning",
    oracle="""
    SELECT n_nationkey,
           n_name AS nation_name,
           CAST(length(n_name) AS INT) AS name_len
    FROM nation
    """,
)
def source_nested_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-field schema pruning: write nation as parquet with a
    struct payload {name, comment, stats{...}}, read back selecting
    ONLY payload.name — the scan's ReadSchema must prune to that one
    leaf (asserted in tests/test_plans.py). At 100 TB nested pruning
    is the difference between reading a 5% column and the whole
    struct blob."""
    nation = read_testdata(spark, sf_dir, "nation")
    nested = nation.select(
        "n_nationkey",
        F.struct(
            F.col("n_name").alias("name"),
            F.repeat(F.col("n_name"), 10).alias("blob"),
            F.struct(
                F.length("n_name").alias("name_len"),
                F.col("n_regionkey").alias("region"),
            ).alias("stats"),
        ).alias("payload"),
    )
    path = _roundtrip_dir("nation_nested", sf_dir)
    nested.write.mode("overwrite").parquet(path)
    back = spark.read.parquet(path)
    return back.select(
        "n_nationkey",
        F.col("payload.name").alias("nation_name"),
        F.length("payload.name").cast("int").alias("name_len"),
    )


@register(
    "source_compression_roundtrip",
    oracle="""
    SELECT codec,
           CAST((SELECT count(*) FROM nation) AS BIGINT) AS n_rows,
           CAST((SELECT sum(n_nationkey) FROM nation) AS BIGINT) AS key_sum
    FROM (VALUES ('gzip'), ('snappy'), ('zstd')) AS t(codec)
    """,
)
def source_compression_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Codec matrix: write nation as parquet under gzip/snappy/zstd,
    read each back, verify row count + key checksum survive every
    codec. (Sizes differ per codec and are env-dependent, so the
    oracle checks content, not bytes.)"""
    nation = read_testdata(spark, sf_dir, "nation")
    base = _roundtrip_dir("codec", sf_dir)
    outs = []
    for codec in ("gzip", "snappy", "zstd"):
        path = os.path.join(base, codec)
        nation.write.mode("overwrite").option("compression", codec).parquet(path)
        back = spark.read.parquet(path)
        outs.append(
            back.agg(
                F.lit(codec).alias("codec"),
                F.count("*").cast("bigint").alias("n_rows"),
                F.sum("n_nationkey").cast("bigint").alias("key_sum"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


@register(
    "source_parquet_bloom",
    oracle="""
    SELECT o_custkey, count(*) AS n_orders,
           round(sum(o_totalprice), 6) AS total_price
    FROM orders
    WHERE o_custkey IN (1, 7, 42, 123, 999)
    GROUP BY o_custkey
    """,
)
def source_parquet_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet bloom-filter layout: orders written with a bloom filter
    on ``o_custkey``, read back through a point-lookup IN predicate.
    Min/max row-group stats are useless for uniformly-spread keys
    (every row group spans the whole key range), so bloom filters are
    what makes needle-in-haystack point reads skip I/O at 100 TB —
    the reader tests each row group's bloom before touching its
    pages, and the predicate still pushes to the scan
    (``PushedFilters: In(o_custkey, …)``, plan-asserted). The oracle
    recomputes from the original table, so the bloom-annotated
    write+filtered read must be lossless AND false-negative-free (a
    bloom that wrongly skips a row group loses rows and
    hash-mismatches)."""
    o = read_testdata(spark, sf_dir, "orders")
    path = _roundtrip_dir("parquet_bloom_orders", sf_dir)
    (
        o.write.mode("overwrite")
        .option("parquet.bloom.filter.enabled#o_custkey", "true")
        .option("parquet.bloom.filter.expected.ndv#o_custkey", "20000")
        .parquet(path)
    )
    back = spark.read.parquet(path).where(
        F.col("o_custkey").isin(1, 7, 42, 123, 999)
    )
    return back.groupBy("o_custkey").agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 6).alias("total_price"),
    )


@register(
    "source_insert_overwrite_dynamic",
    oracle="""
    WITH final AS (
      SELECT lang, doc_id, n_chars FROM documents
      WHERE lang NOT IN ('en', 'fr')
      UNION ALL
      SELECT lang, doc_id, n_chars FROM documents
      WHERE lang IN ('en', 'fr') AND doc_id % 3 = 0
    )
    SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM final GROUP BY lang
    """,
)
def source_insert_overwrite_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC partition overwrite: a lang-partitioned table receives
    an overwrite batch that touches only SOME partitions — with
    `partitionOverwriteMode=dynamic` Spark replaces exactly the
    partitions present in the batch (en, fr) and leaves the rest
    (de, es, zh) intact — the daily-reprocess upsert of every
    hive-layout lake. STATIC mode — the default — would silently
    TRUNCATE the whole table first; the oracle encodes the dynamic
    contract (all non-batch-lang rows survive in full), so running
    this query under the wrong mode loses three partitions and
    hash-mismatches. The batch langs are fixture-checked non-empty
    AND a strict subset of the partition set, so the scenario is
    genuinely exercised. The conf is set per-write via the DataFrameWriter
    option, not session-wide, so concurrent writers keep their own
    semantics."""

    docs = read_testdata(spark, sf_dir, "documents").select(
        "lang", "doc_id", "n_chars"
    )
    path = _roundtrip_dir("dyn_overwrite_docs", sf_dir)
    # generation 1: the full corpus, partitioned by lang
    docs.write.mode("overwrite").partitionBy("lang").parquet(path)
    # generation 2: reprocess batch = doc_id % 3 == 0 rows only; its
    # langs' partitions are replaced, other partitions must survive
    batch = docs.where(
        (F.col("doc_id") % 3 == 0) & F.col("lang").isin("en", "fr")
    )
    (
        batch.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("lang")
        .parquet(path)
    )
    back = spark.read.parquet(path)
    return back.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )


@register(
    "source_file_metadata",
    oracle="""
    SELECT CAST(doc_id % 4 AS BIGINT) AS chunk,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY 1
    """,
)
def source_file_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The `_metadata` hidden file-source column: per-input-file
    lineage (file_path, size, modification time) surfaced as regular
    columns — what incremental loaders and audit pipelines key on to
    attribute rows to the physical file that carried them. Four files
    with deterministic membership (doc_id ≡ k mod 4, one file each)
    are read back and rows grouped by the chunk id parsed OUT OF
    `_metadata.file_path`; the oracle groups by the same modulo
    directly, so a wrong or missing file attribution (rows credited
    to the wrong file) hash-mismatches. The column is populated at
    scan time from the split, not stored — zero storage cost, and
    selecting it does not widen the parquet read schema."""

    docs = read_testdata(spark, sf_dir, "documents").select(
        "doc_id", "n_chars"
    )
    base = _roundtrip_dir("file_meta_docs", sf_dir)
    src = os.path.join(base, "src")
    os.makedirs(src, exist_ok=True)
    for k in range(4):
        chunk_dir = os.path.join(base, f"chunk{k}")
        (
            docs.where(F.col("doc_id") % 4 == k)
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(chunk_dir)
        )
        part = next(f for f in os.listdir(chunk_dir) if f.startswith("part-"))
        os.replace(
            os.path.join(chunk_dir, part), os.path.join(src, f"chunk-{k}.parquet")
        )
    back = spark.read.parquet(src).select(
        "doc_id",
        "n_chars",
        F.regexp_extract(F.col("_metadata.file_path"), r"chunk-(\d+)\.parquet", 1)
        .cast("bigint")
        .alias("chunk"),
    )
    return back.groupBy("chunk").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )


# --- parquet row-group footer stats ----------------------------------------
# Row-group min/max statistics are what makes predicate pushdown skip
# I/O: a scan prunes a row group when the footer's [min, max] for a
# filtered column excludes the predicate. This query verifies the
# PHYSICAL footer agrees with the LOGICAL content: documents are
# rewritten doc_id-sorted with a fixed 128-row row-group size (pyarrow
# writer — Spark's writer sizes groups by bytes, not rows, so
# boundaries wouldn't be deterministic), the footer is read back
# metadata-only (no data pages touched), and the oracle recomputes
# each group's count/min/max from the table with a row_number bucket.
# A stats bug (wrong min/max → wrong pruning → silently dropped rows
# at scan time) hash-mismatches here. Footer decode is driver-side by
# design: it is O(row groups), the same work every planner does.

_ROW_GROUP_SIZE = 128


@register(
    "source_parquet_rowgroup_stats",
    oracle=f"""
    WITH r AS (
      SELECT doc_id, n_chars,
             CAST(floor((row_number() OVER (ORDER BY doc_id) - 1)
                        / {_ROW_GROUP_SIZE}) AS BIGINT) AS rg_id
      FROM documents
    )
    SELECT rg_id,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(min(doc_id) AS BIGINT) AS min_doc_id,
           CAST(max(doc_id) AS BIGINT) AS max_doc_id,
           CAST(min(n_chars) AS BIGINT) AS min_chars,
           CAST(max(n_chars) AS BIGINT) AS max_chars
    FROM r GROUP BY rg_id
    """,
)
def source_parquet_rowgroup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Footer row-group statistics of a doc_id-sorted rewrite
    (128-row groups) surfaced as rows; the oracle recomputes the same
    stats from the logical table, so footer/content divergence fails."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    base = _roundtrip_dir("rowgroup_docs", sf_dir)
    os.makedirs(base, exist_ok=True)
    out = os.path.join(base, "sorted.parquet")
    tbl = pq.read_table(
        os.path.join(sf_dir, "documents.parquet"), columns=["doc_id", "n_chars"]
    )
    tbl = tbl.take(pc.sort_indices(tbl, sort_keys=[("doc_id", "ascending")]))
    pq.write_table(tbl, out, row_group_size=_ROW_GROUP_SIZE)
    meta = pq.ParquetFile(out).metadata
    names = {meta.schema.column(i).name: i for i in range(meta.num_columns)}
    rows = []
    for g in range(meta.num_row_groups):
        rg = meta.row_group(g)
        sid = rg.column(names["doc_id"]).statistics
        sch = rg.column(names["n_chars"]).statistics
        rows.append(
            (g, rg.num_rows, sid.min, sid.max, int(sch.min), int(sch.max))
        )
    return spark.createDataFrame(
        rows,
        "rg_id bigint, n_rows bigint, min_doc_id bigint, max_doc_id bigint,"
        " min_chars bigint, max_chars bigint",
    )


# --- whole-file text source ------------------------------------------------
# Document-per-file corpora (the layout crawls and scrapers hand
# you) read with `wholetext=True`: each FILE is one row, newlines and
# all — vs the line-oriented A1 scan where a document with embedded
# newlines shatters. Files here are one per doc_id % 8 shard, each
# holding that shard's docs joined by newlines, so the whole-file
# read sees multi-line content and the oracle checks both the file
# count and that every document's characters arrived (sum over files
# of length = sum of doc lengths + separators).


@register(
    "source_text_wholetext",
    oracle="""
    WITH shard AS (
      SELECT doc_id % 8 AS s,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(length(text)) AS BIGINT) AS doc_chars
      FROM documents GROUP BY 1
    )
    SELECT CAST(count(*) AS BIGINT) AS n_files,
           CAST(sum(doc_chars + n_docs - 1) AS BIGINT) AS total_chars,
           CAST(sum(n_docs) AS BIGINT) AS n_docs
    FROM shard
    """,
)
def source_text_wholetext(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → 8 multi-line shard files → wholetext read (one row
    per FILE) → file/char/doc totals. A line-oriented read of the
    same files would report ~n_docs rows, not 8."""
    d = read_testdata(spark, sf_dir, "documents")
    path = _roundtrip_dir("wholetext_docs", sf_dir)
    (
        d.select((F.col("doc_id") % 8).alias("s"), "doc_id", "text")
        .groupBy("s")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("doc_id", "text"))),
                    lambda x: x.getField("text"),
                ),
                "\n",
            ).alias("value"),
        )
        .write.partitionBy("s")
        .mode("overwrite")
        .text(path)
    )
    back = spark.read.option("recursiveFileLookup", "true").text(
        path, wholetext=True
    )
    # the text writer terminates the (single) row with one newline —
    # strip it so char totals compare against the document lengths.
    # \z, not $: Java's default-mode $ also matches before a FINAL
    # line terminator, so "...\n\n" (empty last doc) would lose two
    # newlines and undercount chars/docs by one.
    content = F.regexp_replace("value", "\\n\\z", "")
    rows = back.where(F.length("value") > 0).select(content.alias("content"))
    return rows.agg(
        F.count("*").cast("bigint").alias("n_files"),
        F.sum(F.length("content")).cast("bigint").alias("total_chars"),
        F.sum(F.size(F.split("content", "\n"))).cast("bigint").alias("n_docs"),
    )
