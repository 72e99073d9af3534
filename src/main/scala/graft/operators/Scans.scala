package graft.operators

import graft.{Ops, Q, Tables}
import graft.Ops.SQL_HEX15
import org.apache.spark.sql.functions._

/** §2.A — scans / sources / catalog collection.
  *
  * Scale notes: projections + filters here are declarative, so Catalyst
  * pushes them into the parquet scan (PushedFilters / ReadSchema —
  * asserted in ScanSpec). `catalog_table_stats` unions 10 count(*)
  * scans; each count is a metadata-only parquet footer aggregate
  * at any scale.
  */
object Scans {
  import Ops._

  val queries: Seq[Q] = Seq(
    Q("scan_parquet_project",
      (s, d) => Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          revenue(col("l_extendedprice"), col("l_discount")).as("disc_price"))
        .orderBy("l_orderkey", "l_linenumber"),
      Some(s"""SELECT l_orderkey, l_linenumber, l_quantity, $SQL_REVENUE AS disc_price
              |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    Q("scan_pushdown_filter",
      (s, d) => Tables.lineitem(s, d)
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_shipdate").cast("date").as("ship_day"), col("l_quantity"))
        .orderBy("l_orderkey", "l_linenumber"),
      Some("""SELECT l_orderkey, l_linenumber, CAST(l_shipdate AS DATE) AS ship_day, l_quantity
             |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
             |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    Q("scan_events_ns_ts",
      (s, d) => Tables.events(s, d)
        .select(col("event_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts_str"),
          col("user_id"), col("event_type"))
        .orderBy("event_id"),
      Some("""SELECT event_id, strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_str, user_id, event_type
             |FROM events ORDER BY event_id""".stripMargin)),

    // Partition pruning under the oracle contract: write a partitioned
    // copy of orders (hive-style o_orderstatus=X directories), read it
    // back with a partition filter, and aggregate — the scan must list
    // and read ONLY the matching directory (PartitionFilters, asserted
    // in PlanSpec). At 100 TB this is the difference between touching
    // one partition and touching the table; the oracle runs the same
    // aggregate over the original un-partitioned parquet.
    Q("scan_partition_pruned",
      (s, d) => {
        s.read.parquet(ordersByStatus(s, d))
          .filter(col("o_orderstatus") === "F")
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n_orders"),
            dsum(col("o_totalprice")).as("sum_price"))
          .orderBy("o_orderpriority")
      },
      Some(s"""SELECT o_orderpriority, COUNT(*) AS n_orders,
              |${SQL_DSUM("o_totalprice")} AS sum_price
              |FROM orders WHERE o_orderstatus = 'F'
              |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // CSV source under the oracle contract: write a CSV copy of nation
    // once (fingerprint-keyed like scan_partition_pruned), read it back
    // with header + schema inference, aggregate; the oracle runs the
    // same aggregate over the original parquet. Inferred int widths are
    // normalized to BIGINT on both sides.
    Q("scan_csv_roundtrip",
      (s, d) => {
        val tmp = graft.Artifacts.staged("csv_nation", d, "nation") { p =>
          Tables.nation(s, d).write.mode("overwrite")
            .option("header", "true").csv(p)
        }
        s.read.option("header", "true").option("inferSchema", "true").csv(tmp)
          .groupBy(col("n_regionkey").cast("long").as("n_regionkey"))
          .agg(count(lit(1)).as("n_nations"), min(col("n_name")).as("first_nation"))
          .orderBy("n_regionkey")
      },
      Some("""SELECT CAST(n_regionkey AS BIGINT) AS n_regionkey,
             |COUNT(*) AS n_nations, MIN(n_name) AS first_nation
             |FROM nation GROUP BY 1 ORDER BY n_regionkey""".stripMargin)),

    // JSON-lines source, same contract: schema inference types
    // c_custkey/c_nationkey as BIGINT and c_acctbal as DOUBLE — the
    // natural JSON widths — so the aggregate mirrors directly.
    Q("scan_json_roundtrip",
      (s, d) => {
        val tmp = graft.Artifacts.staged("json_customer", d, "customer") { p =>
          Tables.customer(s, d)
            .select("c_custkey", "c_name", "c_mktsegment", "c_acctbal")
            .write.mode("overwrite").json(p)
        }
        s.read.json(tmp)
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n_customers"),
            dsum(col("c_acctbal")).as("sum_bal"),
            min(col("c_name")).as("first_name"))
          .orderBy("c_mktsegment")
      },
      Some(s"""SELECT c_mktsegment, COUNT(*) AS n_customers,
              |${SQL_DSUM("c_acctbal")} AS sum_bal, MIN(c_name) AS first_name
              |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),

    // ORC source, same contract (DuckDB never sees the ORC bytes — the
    // oracle aggregates the original parquet; the query proves the ORC
    // write→read path preserves values exactly).
    Q("scan_orc_roundtrip",
      (s, d) => {
        val tmp = graft.Artifacts.staged("orc_supplier", d, "supplier") { p =>
          Tables.supplier(s, d).write.mode("overwrite").orc(p)
        }
        s.read.orc(tmp)
          .groupBy(col("s_nationkey").cast("long").as("s_nationkey"))
          .agg(count(lit(1)).as("n_suppliers"),
            dsum(col("s_acctbal")).as("sum_bal"))
          .orderBy("s_nationkey")
      },
      Some(s"""SELECT CAST(s_nationkey AS BIGINT) AS s_nationkey,
              |COUNT(*) AS n_suppliers, ${SQL_DSUM("s_acctbal")} AS sum_bal
              |FROM supplier GROUP BY 1 ORDER BY s_nationkey""".stripMargin)),

    // COMPRESSION-CODEC roundtrip — the orthogonal axis to the format
    // matrix: the same table written as parquet under snappy, gzip
    // and zstd, read back per codec, and every codec's aggregate must
    // match the source exactly (data is codec-invariant BY CONTRACT —
    // this is the query that catches a codec build/dictionary issue
    // at ingest time). A real 100-TB warehouse mixes codecs across
    // table generations, so multi-codec read-compat is a first-class
    // capability, not a config detail. Writes are memoized per
    // fixture like every staged-artifact query.
    Q("scan_codec_roundtrip",
      (s, d) => {
        val codecs = Seq("snappy", "gzip", "zstd")
        codecs.map { c =>
          val tmp = graft.Artifacts.staged(s"codec_$c", d, "supplier") { p =>
            Tables.supplier(s, d).write.mode("overwrite")
              .option("compression", c).parquet(p)
          }
          s.read.parquet(tmp)
            .agg(count(lit(1)).as("n_rows"),
              dsum(col("s_acctbal")).as("sum_bal"))
            .select(lit(c).as("codec"), col("n_rows"), col("sum_bal"))
        }.reduce(_ unionByName _).orderBy("codec")
      },
      Some(s"""SELECT codec, COUNT(*) AS n_rows,
              |  ${SQL_DSUM("s_acctbal")} AS sum_bal
              |FROM supplier, (VALUES ('gzip'), ('snappy'), ('zstd'))
              |  c(codec)
              |GROUP BY codec ORDER BY codec""".stripMargin)),

    // PARQUET BLOOM-FILTER write knob — the point-lookup axis
    // footer min/max stats cannot serve: o_custkey is high-cardinality
    // and UNSORTED within the table, so every row group's [min, max]
    // range covers any probe key and zone-map skipping degenerates to
    // a full scan — the bloom filter is what lets the reader skip row
    // groups on a point equality (the classic "find one customer in
    // 100 TB of orders" shape). orders is rewritten once per fixture
    // with a bloom on o_custkey, then probed with a LITERAL equality
    // (the pushdown-eligible form; the probe key is the min custkey —
    // one model-sized driver scalar, the graph-source convention).
    // Values are knob-invariant by contract, so the oracle runs the
    // same lookup on the original table; Wave57Spec asserts the
    // footer actually carries bloom offsets for o_custkey (and none
    // for un-bloomed columns) and that the equality reaches
    // PushedFilters.
    Q("scan_parquet_bloom",
      (s, d) => {
        val tmp = graft.Artifacts.staged("bloom_orders", d, "orders") { p =>
          // dictionary encoding is disabled for the bloom column:
          // parquet-mr SKIPS the bloom when a chunk stays fully
          // dictionary-encoded (the dictionary already answers exact
          // membership) — true of the fixture's small custkey domain,
          // while a 100-TB custkey column would spill out of
          // dictionary on its own and get the bloom without the knob
          Tables.orders(s, d).write.mode("overwrite")
            .option("parquet.bloom.filter.enabled#o_custkey", "true")
            .option("parquet.bloom.filter.expected.ndv#o_custkey", "100000")
            .option("parquet.enable.dictionary#o_custkey", "false")
            .parquet(p)
        }
        val o = s.read.parquet(tmp)
        val probe = o.agg(min("o_custkey")).head().getLong(0)
        o.filter(col("o_custkey") === probe)
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n_orders"),
            dsum(col("o_totalprice")).as("sum_price"))
          .orderBy("o_orderstatus")
      },
      Some(s"""SELECT o_orderstatus, COUNT(*) AS n_orders,
              |  ${SQL_DSUM("o_totalprice")} AS sum_price
              |FROM orders
              |WHERE o_custkey = (SELECT MIN(o_custkey) FROM orders)
              |GROUP BY 1 ORDER BY o_orderstatus""".stripMargin)),

    // TEXT source roundtrip — the last format in the matrix
    // (csv/json/orc/avro/xml/parquet covered elsewhere): region
    // serialized as pipe-delimited lines via spark.write.text, read
    // back as raw lines and re-parsed with split() — the
    // log-file-ingest shape where the "schema" is a parse expression,
    // not file metadata. Oracle recomputes from the original parquet.
    Q("scan_text_roundtrip",
      (s, d) => {
        val tmp = graft.Artifacts.staged("text_region", d, "region") { p =>
          Tables.region(s, d)
            .select(concat_ws("|", col("r_regionkey"), col("r_name"))
              .as("value"))
            .write.mode("overwrite").text(p)
        }
        s.read.text(tmp)
          .select(split(col("value"), "\\|").as("f"))
          .select(element_at(col("f"), 1).cast("long").as("r_regionkey"),
            element_at(col("f"), 2).as("r_name"))
          .orderBy("r_regionkey")
      },
      Some("""SELECT CAST(r_regionkey AS BIGINT) AS r_regionkey, r_name
             |FROM region ORDER BY r_regionkey""".stripMargin)),

    // Partition-skew report over the hive-partitioned copy (the
    // metastore-collector question "which partitions are outliers":
    // per-partition rows + share of the largest partition). Reads ONLY
    // partition dirs + footers at scale; the oracle groups the
    // original un-partitioned parquet by the same key.
    Q("catalog_partition_skew",
      (s, d) => {
        val perPart = s.read.parquet(ordersByStatus(s, d))
          .groupBy("o_orderstatus").agg(count(lit(1)).as("n_rows"))
        val w = org.apache.spark.sql.expressions.Window.partitionBy()
        perPart
          .withColumn("share", round(col("n_rows").cast("double")
            / sum("n_rows").over(w), 6))
          .withColumn("skew_vs_max", round(col("n_rows").cast("double")
            / max("n_rows").over(w), 6))
          .orderBy("o_orderstatus")
      },
      Some("""SELECT o_orderstatus, n_rows,
             |  ROUND(CAST(n_rows AS DOUBLE) / SUM(n_rows) OVER (), 6) AS share,
             |  ROUND(CAST(n_rows AS DOUBLE) / MAX(n_rows) OVER (), 6) AS skew_vs_max
             |FROM (SELECT o_orderstatus, COUNT(*) AS n_rows
             |      FROM orders GROUP BY 1) p
             |ORDER BY o_orderstatus""".stripMargin)),

    // Avro source (the row-oriented interchange format of Kafka/registry
    // pipelines — built into Spark 4's spark-sql), same contract as the
    // ORC roundtrip: the oracle aggregates the original parquet, the
    // query proves the avro write→read path preserves values exactly.
    Q("scan_avro_roundtrip",
      (s, d) => {
        val tmp = graft.Artifacts.staged("avro_part", d, "part") { p =>
          Tables.part(s, d).write.mode("overwrite").format("org.apache.spark.sql.avro.AvroFileFormat").save(p)
        }
        s.read.format("org.apache.spark.sql.avro.AvroFileFormat").load(tmp)
          .groupBy("p_brand")
          .agg(count(lit(1)).as("n_parts"),
            dsum(col("p_retailprice")).as("sum_price"),
            min(col("p_name")).as("first_name"))
          .orderBy("p_brand")
      },
      Some(s"""SELECT p_brand, COUNT(*) AS n_parts,
              |${SQL_DSUM("p_retailprice")} AS sum_price, MIN(p_name) AS first_name
              |FROM part GROUP BY p_brand ORDER BY p_brand""".stripMargin)),

    // XML source (Spark 4 ships the former spark-xml as a built-in
    // datasource), same oracle contract. Schema inference types
    // c_custkey as BIGINT and c_acctbal as DOUBLE — the natural
    // XML-inferred widths, so the aggregate mirrors the parquet truth.
    // Customer (not orders): XML text parsing is ~10× parquet cost per
    // row, so the roundtrip proof runs on the 15k-row table — format
    // breadth is the point here, not volume (bench: orders-XML cost
    // 4.6 s at sf0.1, within sight of the 5 s red line).
    Q("scan_xml_roundtrip",
      (s, d) => {
        val tmp = graft.Artifacts.staged("xml_customer", d, "customer") { p =>
          Tables.customer(s, d)
            .select("c_custkey", "c_nationkey", "c_acctbal")
            .write.mode("overwrite").format("xml")
            .option("rowTag", "customer").save(p)
        }
        s.read.format("xml").option("rowTag", "customer").load(tmp)
          .groupBy(col("c_nationkey").cast("long").as("c_nationkey"))
          .agg(count(lit(1)).as("n_customers"),
            dsum(col("c_acctbal")).as("sum_bal"))
          .orderBy("c_nationkey")
      },
      Some(s"""SELECT CAST(c_nationkey AS BIGINT) AS c_nationkey,
              |COUNT(*) AS n_customers, ${SQL_DSUM("c_acctbal")} AS sum_bal
              |FROM customer GROUP BY 1 ORDER BY c_nationkey""".stripMargin)),

    // Schema evolution: two parquet batches written with DIFFERENT
    // schemas (a column added between ingest generations — the normal
    // life of a 100-TB table), read back as one dataset with
    // mergeSchema. Spark reconciles per-file footers into the union
    // schema and fills missing columns with null; at scale this is
    // footer-only work (no data rewrite — the whole point vs a
    // migrate-in-place ALTER TABLE). The oracle reconstructs the same
    // union from the original table.
    Q("scan_schema_evolution",
      (s, d) => {
        val tmp = graft.Artifacts.staged("evolve_nation", d, "nation") { p =>
          Tables.nation(s, d).select(lit(1L).as("gen"), col("n_nationkey"),
              col("n_name"))
            .write.mode("overwrite").parquet(s"$p/gen1")
          Tables.nation(s, d).select(lit(2L).as("gen"), col("n_nationkey"),
              col("n_name"), col("n_regionkey"))
            .write.mode("overwrite").parquet(s"$p/gen2")
        }
        s.read.option("mergeSchema", "true")
          .parquet(s"$tmp/gen1", s"$tmp/gen2")
          .select(col("gen"), col("n_nationkey"), col("n_name"),
            col("n_regionkey"))
          .orderBy("gen", "n_nationkey")
      },
      Some("""SELECT CAST(1 AS BIGINT) AS gen, n_nationkey, n_name,
             |  CAST(NULL AS INTEGER) AS n_regionkey FROM nation
             |UNION ALL
             |SELECT CAST(2 AS BIGINT) AS gen, n_nationkey, n_name, n_regionkey
             |FROM nation
             |ORDER BY gen, n_nationkey""".stripMargin)),

    // Malformed-input tolerance: a JSON-lines file with broken rows
    // mixed in (the normal state of a crawled 100-TB corpus), read in
    // PERMISSIVE mode with an explicit schema + corrupt-record column
    // — bad lines become quarantine rows instead of killing the job,
    // and the query audits valid-vs-corrupt counts. The staged file is
    // built once (good rows = nation as JSON + 3 deterministic broken
    // lines).
    Q("scan_json_corrupt",
      (s, d) => {
        import org.apache.spark.sql.types._
        val tmp = graft.Artifacts.staged("json_corrupt", d, "nation") { p =>
          import s.implicits._
          val good = Tables.nation(s, d).toJSON
          val bad = s.createDataset(Seq(
            "{\"n_nationkey\": 99, \"n_name\": \"TRUNCATED",
            "not json at all",
            "{]"))
          good.union(bad).repartition(1).write.mode("overwrite").text(p)
        }
        val schema = StructType(Seq(
          StructField("n_nationkey", IntegerType),
          StructField("n_name", StringType),
          StructField("n_regionkey", IntegerType),
          StructField("_corrupt", StringType)))
        s.read.schema(schema)
          .option("mode", "PERMISSIVE")
          .option("columnNameOfCorruptRecord", "_corrupt")
          .json(tmp)
          .withColumn("kind",
            when(col("_corrupt").isNotNull, lit("corrupt"))
              .otherwise(concat(lit("region_"), col("n_regionkey"))))
          .groupBy("kind").agg(count(lit(1)).as("n"))
          .orderBy("kind")
      },
      Some("""SELECT 'region_' || CAST(n_regionkey AS VARCHAR) AS kind,
             |  COUNT(*) AS n
             |FROM nation GROUP BY 1
             |UNION ALL SELECT 'corrupt' AS kind, CAST(3 AS BIGINT) AS n
             |ORDER BY kind""".stripMargin)),

    // DYNAMIC partition overwrite — the incremental-reprocessing
    // primitive (recompute ONE day/type and swap it in, leaving every
    // other partition untouched): full partitioned write, then a
    // second write containing only the reprocessed 'click' slice under
    // partitionOverwriteMode=dynamic. STATIC mode would have truncated
    // the whole table — the distinction this query pins. Read-back
    // counts per partition prove the swap (click = filtered rows,
    // everything else intact); conf restored in finally.
    Q("scan_dynamic_overwrite",
      (s, d) => {
        val tmp = graft.Artifacts.scratch("dynover")
        val ev = Tables.events(s, d)
          .select(col("event_id"), col("user_id"), col("event_type"),
            col("value"))
        ev.write.mode("overwrite").partitionBy("event_type").parquet(tmp)
        val prev = s.conf
          .get("spark.sql.sources.partitionOverwriteMode", "STATIC")
        s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try
          ev.filter(col("event_type") === "click" && col("value") > 0.5)
            .write.mode("overwrite").partitionBy("event_type").parquet(tmp)
        finally s.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
        // localCheckpoint materializes the (tiny) per-partition counts
        // so the staging dir can be deleted eagerly — repeated harness
        // runs would otherwise accumulate a full events copy per call
        val out = s.read.parquet(tmp)
          .groupBy("event_type").agg(count(lit(1)).as("n"))
          .orderBy("event_type")
          .localCheckpoint()
        org.apache.commons.io.FileUtils
          .deleteDirectory(new java.io.File(tmp))
        out
      },
      Some("""SELECT event_type, COUNT(*) AS n FROM events
             |WHERE event_type <> 'click' GROUP BY event_type
             |UNION ALL
             |SELECT 'click' AS event_type, COUNT(*) AS n FROM events
             |WHERE event_type = 'click' AND value > 0.5
             |ORDER BY event_type""".stripMargin)),

    // Corrupt-FILE recovery (`spark.sql.files.ignoreCorruptFiles`) —
    // the operational sibling of scan_json_corrupt's corrupt-RECORD
    // handling: at 100 TB some object-store file WILL be truncated,
    // and the job must skip it and account for the loss, not die. A
    // staged dir holds the real customer parquet plus a garbage
    // ".parquet"; the scan under the flag returns exactly the good
    // file's rows (oracle = the fixture table), and the flag is
    // restored afterwards so no other query inherits silent skipping.
    Q("scan_corrupt_recovery",
      (s, d) => {
        val tmp = graft.Artifacts.staged("corrupt_file", d, "customer") { p =>
          java.nio.file.Files.copy(
            java.nio.file.Paths.get(s"$d/customer.parquet"),
            java.nio.file.Paths.get(s"$p/good.parquet"))
          java.nio.file.Files.write(
            java.nio.file.Paths.get(s"$p/broken.parquet"),
            "this is not a parquet file, merely named like one".getBytes)
        }
        // explicit schema: inference would have to read every footer,
        // and the garbage file has none — exactly what a production
        // job with a declared schema never depends on
        val sch = Tables.parquetSchema(s, s"$d/customer.parquet")
        val prev = s.conf.get("spark.sql.files.ignoreCorruptFiles", "false")
        s.conf.set("spark.sql.files.ignoreCorruptFiles", "true")
        try {
          s.read.schema(sch).parquet(tmp)
            .groupBy("c_mktsegment")
            .agg(count(lit(1)).as("n_cust"))
            .orderBy("c_mktsegment")
            // materialize under the flag: the lazy plan must not
            // observe the restored conf
            .localCheckpoint()
        } finally s.conf.set("spark.sql.files.ignoreCorruptFiles", prev)
      },
      Some("""SELECT c_mktsegment, COUNT(*) AS n_cust
             |FROM customer GROUP BY 1 ORDER BY c_mktsegment""".stripMargin)),

    Q("catalog_table_stats",
      (s, d) => {
        Tables.names
          .map(n => Tables.table(s, d, n)
            .select(count(lit(1)).as("row_count"))
            .select(lit(n).as("table_name"), col("row_count")))
          .reduce(_.unionByName(_))
          .orderBy("table_name")
      },
      Some(Tables.names
        .map(n => s"SELECT '$n' AS table_name, COUNT(*) AS row_count FROM $n")
        .mkString("", " UNION ALL ", " ORDER BY table_name"))),

    // COLUMNS_V2 analog. No oracle: DuckDB spells parquet types
    // differently; ScanSpec asserts the expected inventory instead.
    Q("catalog_column_inventory",
      (s, d) => {
        val rows = Tables.names.flatMap { n =>
          Tables.table(s, d, n).schema.fields.zipWithIndex.map {
            case (f, i) => (n, f.name, f.dataType.simpleString, i.toLong)
          }
        }
        import s.implicits._
        rows.toDF("table_name", "column_name", "type_name", "ordinal")
          .orderBy("table_name", "ordinal")
      },
      None),

    Q("catalog_profile_columns",
      (s, d) => {
        val li = Tables.lineitem(s, d)
        val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
        cols.map { c =>
          li.agg(
            round(min(col(c)).cast("double"), 4).as("min_v"),
            round(max(col(c)).cast("double"), 4).as("max_v"),
            sum(when(col(c).isNull, 1L).otherwise(0L)).as("null_count"),
            countDistinct(col(c)).as("ndv"))
            .select(lit(c).as("column_name"), col("min_v"), col("max_v"),
              col("null_count"), col("ndv"))
        }.reduce(_.unionByName(_)).orderBy("column_name")
      },
      Some {
        val one = (c: String) =>
          s"""SELECT '$c' AS column_name, ROUND(CAST(MIN($c) AS DOUBLE), 4) AS min_v,
             |ROUND(CAST(MAX($c) AS DOUBLE), 4) AS max_v,
             |CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_count,
             |COUNT(DISTINCT $c) AS ndv FROM lineitem""".stripMargin
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
          .map(one).mkString("", " UNION ALL ", " ORDER BY column_name")
      }),

    // Parquet AGGREGATE pushdown — the third pushdown surface next to
    // predicate (scan_pushdown_filter) and partition
    // (scan_partition_pruned) pruning: under
    // spark.sql.parquet.aggregatePushDown, MIN/MAX/COUNT with no
    // filter and no residual columns are answered from parquet FOOTER
    // STATISTICS — zero data pages read, so the "query" costs one
    // footer per file at any scale (PlanSpec asserts PushedAggregation
    // on the scan node). The conf is flipped inside the query and
    // restored; the v2 DS path (USING parquet via the DataFrame
    // reader) supports it natively.
    Q("scan_agg_pushdown",
      (s, d) => {
        val prev = s.conf.get("spark.sql.parquet.aggregatePushDown", "false")
        // aggregate pushdown lives in the DSv2 reader; parquet resolves
        // through the v1 path unless excluded from useV1SourceList
        val prevV1 = s.conf.get("spark.sql.sources.useV1SourceList")
        s.conf.set("spark.sql.parquet.aggregatePushDown", "true")
        s.conf.set("spark.sql.sources.useV1SourceList",
          prevV1.split(",").filterNot(_.trim == "parquet").mkString(","))
        try Tables.lineitem(s, d)
          .agg(count(lit(1)).as("n_rows"),
            min(col("l_shipdate")).as("min_ship"),
            max(col("l_shipdate")).as("max_ship"),
            min(col("l_orderkey")).as("min_key"),
            max(col("l_orderkey")).as("max_key"))
          .localCheckpoint()
        finally {
          s.conf.set("spark.sql.parquet.aggregatePushDown", prev)
          s.conf.set("spark.sql.sources.useV1SourceList", prevV1)
        }
      },
      Some("""SELECT COUNT(*) AS n_rows,
             |  MIN(l_shipdate) AS min_ship, MAX(l_shipdate) AS max_ship,
             |  MIN(l_orderkey) AS min_key, MAX(l_orderkey) AS max_key
             |FROM lineitem""".stripMargin)),

    // Partition content checksum — the cross-system reconciliation
    // primitive: per status partition, XOR-fold a 60-bit md5-derived
    // hash of every row's canonical string form. XOR is commutative/
    // associative, so the fold is ORDER-FREE exact in any engine, any
    // partitioning, any merge tree — the one aggregate family where
    // float-determinism machinery is unnecessary by algebra. Two
    // systems disagree on a checksum ⇒ a row differs; doubles are
    // canonicalized through DECIMAL(18,2) so the hashed string is
    // byte-identical cross-engine. One linear pass, key-sized output.
    Q("dq_partition_checksum",
      (s, d) => Tables.orders(s, d)
        .withColumn("h", conv(substring(md5(concat_ws("|",
          col("o_orderkey").cast("string"),
          col("o_orderstatus"),
          col("o_totalprice").cast("decimal(18,2)").cast("string"))),
          1, 15), 16, 10).cast("long"))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_rows"),
          expr("bit_xor(h)").as("checksum"))
        .orderBy("o_orderstatus"),
      Some(s"""SELECT o_orderstatus, COUNT(*) AS n_rows,
              |  bit_xor(${SQL_HEX15("h")}) AS checksum
              |FROM (
              |  SELECT o_orderstatus,
              |    md5(CAST(o_orderkey AS VARCHAR) || '|' || o_orderstatus
              |      || '|' || CAST(CAST(o_totalprice AS DECIMAL(18,2))
              |                AS VARCHAR)) AS h
              |  FROM orders) t
              |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // Declarative data-quality rule report (the Deequ/Great-Expectations
    // shape): each rule is (rule_id, n_checked, n_violations, pass) and
    // the report is ONE row per rule — completeness (null fraction),
    // domain (range / enum), uniqueness (duplicate key count), and
    // referential integrity (orphan foreign keys). Scale shape: ALL
    // per-row rules on a table fold into ONE linear aggregate over it
    // (Spark does not share scans across union branches — rules must be
    // columns of one pass, then unpivot), so lineitem is read exactly
    // three times total: the per-row pass, the key-uniqueness hash
    // aggregate, and the referential probe's join side. At 100 TB this
    // is the pre-ingest gate that runs BEFORE a corpus lands in the
    // training mix; pass/fail is exact-integer, no flaky sampling.
    // Schema-contract drift audit (r12): diff the LIVE parquet schema
    // of the orders table against a declared column contract — the
    // first check any ingestion pipeline runs when an upstream team
    // "just added a column" (status: ok / missing = contracted but
    // absent / unexpected = present but uncontracted). The contract
    // here deliberately drifts both ways (expects `o_clerk`, omits
    // `o_orderpriority`) so every status value is exercised. Column
    // NAMES only — cross-engine type strings differ (Spark
    // `timestamp_ntz` vs DuckDB `TIMESTAMP`), so type drift belongs to
    // a single-engine check, not the oracle gate. The schema read is
    // driver metadata (file footer), never a data scan — the same
    // sanctioned class as the commit-log file lists.
    Q("dq_schema_drift",
      (s, d) => {
        import s.implicits._
        val contract = Seq("o_orderkey", "o_custkey", "o_orderstatus",
          "o_totalprice", "o_orderdate", "o_clerk")
        val actual = Tables.orders(s, d).columns.toSeq
        val c = contract.toDF("column_name").withColumn("__c", lit(1))
        val a = actual.toDF("column_name").withColumn("__a", lit(1))
        c.join(a, Seq("column_name"), "full_outer")
          .select(col("column_name"),
            when(col("__a").isNull, "missing")
              .when(col("__c").isNull, "unexpected")
              .otherwise("ok").as("status"))
          .orderBy("column_name")
      },
      Some("""WITH actual AS (
             |  SELECT column_name FROM information_schema.columns
             |  WHERE table_name = 'orders'),
             |contract AS (
             |  SELECT unnest(['o_orderkey', 'o_custkey', 'o_orderstatus',
             |    'o_totalprice', 'o_orderdate', 'o_clerk']) AS column_name)
             |SELECT COALESCE(c.column_name, a.column_name) AS column_name,
             |  CASE WHEN a.column_name IS NULL THEN 'missing'
             |    WHEN c.column_name IS NULL THEN 'unexpected'
             |    ELSE 'ok' END AS status
             |FROM contract c FULL OUTER JOIN actual a
             |  ON c.column_name = a.column_name
             |ORDER BY column_name""".stripMargin)),

    Q("dq_rule_report",
      (s, d) => {
        val li = Tables.lineitem(s, d)
        val ord = Tables.orders(s, d)
        def asRule(id: String, checked: org.apache.spark.sql.Column,
            viol: org.apache.spark.sql.Column) =
          struct(lit(id).as("rule_id"), checked.as("n_checked"),
            viol.as("n_violations"))
        // one pass over lineitem computes every per-row lineitem rule
        val liRules = li.agg(
          asRule("lineitem.l_quantity.not_null", count(lit(1)),
            sum(when(col("l_quantity").isNull, 1L).otherwise(0L))).as("r1"),
          asRule("lineitem.l_discount.range_0_0.1", count(lit(1)),
            sum(when(col("l_discount") < 0.0 || col("l_discount") > 0.1, 1L)
              .otherwise(0L))).as("r2"))
          .select(explode(array(col("r1"), col("r2"))).as("r"))
          .select(col("r.rule_id"), col("r.n_checked"), col("r.n_violations"))
        val domain = ord.agg(count(lit(1)).as("n_checked"),
            sum(when(!col("o_orderstatus").isin("F", "O", "P"), 1L)
              .otherwise(0L)).as("n_violations"))
          .select(lit("orders.o_orderstatus.enum").as("rule_id"),
            col("n_checked"), col("n_violations"))
        val unique = li.groupBy("l_orderkey", "l_linenumber")
          .agg(count(lit(1)).as("__n"))
          .agg(count(lit(1)).as("n_checked"),
            sum(when(col("__n") > 1L, 1L).otherwise(0L)).as("n_violations"))
          .select(lit("lineitem.pk.unique").as("rule_id"),
            col("n_checked"), col("n_violations"))
        val referential = li.select(col("l_orderkey"))
          .join(ord.select(col("o_orderkey")),
            col("l_orderkey") === col("o_orderkey"), "left")
          .agg(count(lit(1)).as("n_checked"),
            sum(when(col("o_orderkey").isNull, 1L).otherwise(0L))
              .as("n_violations"))
          .select(lit("lineitem.l_orderkey.ref_orders").as("rule_id"),
            col("n_checked"), col("n_violations"))
        Seq(liRules, domain, unique, referential)
          .reduce(_.unionByName(_))
          .withColumn("pass", col("n_violations") === 0L)
          .orderBy("rule_id")
      },
      Some("""SELECT 'lineitem.l_quantity.not_null' AS rule_id,
             |  COUNT(*) AS n_checked,
             |  CAST(SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_violations,
             |  SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) = 0 AS pass
             |FROM lineitem
             |UNION ALL
             |SELECT 'lineitem.l_discount.range_0_0.1', COUNT(*),
             |  CAST(SUM(CASE WHEN l_discount < 0.0 OR l_discount > 0.1 THEN 1 ELSE 0 END) AS BIGINT),
             |  SUM(CASE WHEN l_discount < 0.0 OR l_discount > 0.1 THEN 1 ELSE 0 END) = 0
             |FROM lineitem
             |UNION ALL
             |SELECT 'orders.o_orderstatus.enum', COUNT(*),
             |  CAST(SUM(CASE WHEN o_orderstatus NOT IN ('F', 'O', 'P') THEN 1 ELSE 0 END) AS BIGINT),
             |  SUM(CASE WHEN o_orderstatus NOT IN ('F', 'O', 'P') THEN 1 ELSE 0 END) = 0
             |FROM orders
             |UNION ALL
             |SELECT 'lineitem.pk.unique', COUNT(*),
             |  CAST(SUM(CASE WHEN __n > 1 THEN 1 ELSE 0 END) AS BIGINT),
             |  SUM(CASE WHEN __n > 1 THEN 1 ELSE 0 END) = 0
             |FROM (SELECT COUNT(*) AS __n FROM lineitem
             |      GROUP BY l_orderkey, l_linenumber) g
             |UNION ALL
             |SELECT 'lineitem.l_orderkey.ref_orders', COUNT(*),
             |  CAST(SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
             |  SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) = 0
             |FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
             |ORDER BY rule_id""".stripMargin)),

    // The `binaryFile` SOURCE — Spark's raw-bytes reader, the entry
    // point for every multimodal ingest (images/audio land as opaque
    // blobs + path metadata before any decode). Stages 8 deterministic
    // .bin files once (fingerprint-keyed like every other staged
    // source), reads them back as (path, length, content), and reports
    // name/size/md5 — the blob manifest a media pipeline builds first.
    // DuckDB mirrors with read_blob over the same files. At scale
    // binaryFile parallelizes per-file; maxPartitionBytes governs
    // packing of small blobs into tasks.
    Q("scan_binary_files",
      (s, d) => {
        val tmp = graft.Artifacts.staged("bin", d, "documents") { p =>
          Tables.documents(s, d).filter(col("doc_id") < 8)
            .select("doc_id", "text").collect().foreach { r =>
              java.nio.file.Files.write(
                java.nio.file.Paths.get(p, f"doc_${r.getLong(0)}%03d.bin"),
                r.getString(1).getBytes("UTF-8"))
            }
        }
        s.read.format("binaryFile")
          .option("pathGlobFilter", "*.bin")
          .load(tmp)
          .select(
            regexp_extract(col("path"), "[^/]+$", 0).as("file_name"),
            col("length"), md5(col("content")).as("content_md5"))
          .orderBy("file_name")
      },
      // Oracle never touches the staged files: the blobs ARE the utf-8
      // bytes of docs 0-7, so name/size/md5 are all derivable from the
      // documents table itself — the round-trip is the assertion.
      Some("""SELECT 'doc_' || lpad(CAST(doc_id AS VARCHAR), 3, '0')
             |    || '.bin' AS file_name,
             |  CAST(octet_length(encode(text)) AS BIGINT) AS length,
             |  md5(text) AS content_md5
             |FROM documents WHERE doc_id < 8
             |ORDER BY file_name""".stripMargin)),

    // Freshness lag monitor — the ingest-health DQ check next to
    // dq_rule_report's value rules: per event type, how far behind the
    // most recent arrival is this feed? One grouped max + a broadcast
    // of the 1-row global max; lag stays integer microseconds until
    // the final minute floor-division, so the staleness flag is exact.
    Q("dq_freshness_lag",
      (s, d) => {
        val m = Tables.events(s, d)
          .groupBy("event_type").agg(max("ts").as("max_ts"))
        val g = m.agg(max("max_ts").as("global_max"))
        m.crossJoin(broadcast(g))
          .withColumn("lag_min",
            ((unix_micros(col("global_max")) - unix_micros(col("max_ts")))
              / 60000000L).cast("long"))
          .select(col("event_type"), col("max_ts"), col("lag_min"),
            (col("lag_min") > 60).as("stale"))
          .orderBy("event_type")
      },
      Some("""WITH m AS (
             |  SELECT event_type, MAX(ts) AS max_ts FROM events GROUP BY 1),
             |g AS (SELECT MAX(max_ts) AS global_max FROM m)
             |SELECT event_type, max_ts,
             |  CAST((epoch_us(global_max) - epoch_us(max_ts)) // 60000000
             |    AS BIGINT) AS lag_min,
             |  (epoch_us(global_max) - epoch_us(max_ts)) // 60000000 > 60
             |    AS stale
             |FROM m, g ORDER BY event_type""".stripMargin)),

    // Cross-table financial reconciliation — the books-balance DQ
    // check: per order, header total vs the decimal-exact recomputed
    // charge Σ price·(1−disc)·(1+tax); orders band by RELATIVE
    // deviation, headerless/itemless orders surface as their own band
    // instead of vanishing (LEFT join). Every sum is decimal; the
    // banding ratio is one double division on exact inputs. One
    // order-keyed aggregate + one broadcastable band rollup at any
    // scale.
    Q("dq_reconciliation",
      (s, d) => {
        // the order-keyed decimal re-total is the heavy stage; balance
        // it out of the single-split scan (Tables.balanced scaladoc)
        val items = Tables.balanced(Tables.lineitem(s, d)
            .select(col("l_orderkey"), col("l_extendedprice"),
              col("l_discount"), col("l_tax")))
          .groupBy(col("l_orderkey"))
          .agg(sum(chargeDec(col("l_extendedprice"), col("l_discount"),
            col("l_tax"))).as("actual"))
        Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_totalprice"))
          .join(items, col("o_orderkey") === col("l_orderkey"), "left")
          .withColumn("rel", (col("actual").cast("double") -
            col("o_totalprice")) / col("o_totalprice"))
          .withColumn("band",
            when(col("actual").isNull, "0_no_items")
              .when(col("rel") < -0.5, "1_under_50pct")
              .when(col("rel") < -0.1, "2_under_10pct")
              .when(col("rel") <= 0.1, "3_within_10pct")
              .when(col("rel") <= 0.5, "4_over_10pct")
              .otherwise("5_over_50pct"))
          .groupBy("band")
          .agg(count(lit(1)).as("n_orders"),
            dsum(col("o_totalprice")).as("header_total"),
            dsumExact(col("actual")).as("recomputed_total"))
          .orderBy("band")
      },
      Some(s"""WITH it AS (
              |  SELECT l_orderkey, SUM($SQL_CHARGE_DEC) AS actual
              |  FROM lineitem GROUP BY 1),
              |j AS (
              |  SELECT o.o_orderkey, o.o_totalprice, it.actual,
              |    (CAST(it.actual AS DOUBLE) - o.o_totalprice)
              |      / o.o_totalprice AS rel
              |  FROM orders o LEFT JOIN it ON o.o_orderkey = it.l_orderkey),
              |b AS (
              |  SELECT CASE WHEN actual IS NULL THEN '0_no_items'
              |    WHEN rel < -0.5 THEN '1_under_50pct'
              |    WHEN rel < -0.1 THEN '2_under_10pct'
              |    WHEN rel <= 0.1 THEN '3_within_10pct'
              |    WHEN rel <= 0.5 THEN '4_over_10pct'
              |    ELSE '5_over_50pct' END AS band,
              |    o_totalprice, actual
              |  FROM j)
              |SELECT band, COUNT(*) AS n_orders,
              |  ${SQL_DSUM("o_totalprice")} AS header_total,
              |  ${SQL_DSUM_EXACT("actual")} AS recomputed_total
              |FROM b GROUP BY band ORDER BY band""".stripMargin)),

    // Recursive directory discovery with a glob gate: a data-lake
    // landing zone is never a clean flat directory — data files sit in
    // nested subdirs next to manifests, READMEs and sidecar junk. Stage
    // events as a hive-partitioned tree (fingerprint-keyed like every
    // staged source), drop decoy .txt/.json files at both the root and
    // inside a partition dir, then read with recursiveFileLookup=true
    // (which deliberately DISABLES partition-column inference — the
    // files' own schema is the contract) + pathGlobFilter='*.parquet'
    // so only data files are touched. At 100 TB the glob gate runs in
    // the driver's file index, not the executors: junk files cost
    // zero tasks. The oracle aggregates the original table — the
    // roundtrip must lose nothing.
    Q("scan_glob_options",
      (s, d) => {
        val tmp = graft.Artifacts.staged("glob_events", d, "events") { p =>
          Tables.events(s, d).write.mode("overwrite")
            .partitionBy("event_type").parquet(p)
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(s"$p/README.txt"), "decoy\n")
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(s"$p/event_type=click/notes.json"),
            "{\"decoy\": true}\n")
        }
        s.read
          .option("recursiveFileLookup", "true")
          .option("pathGlobFilter", "*.parquet")
          .parquet(tmp)
          .groupBy(to_date(col("ts")).cast("string").as("day"))
          .agg(count(lit(1)).as("n_events"),
            countDistinct("user_id").as("n_users"),
            dsum(col("value")).as("sum_value"))
          .orderBy("day")
      },
      Some(s"""SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
              |  COUNT(*) AS n_events,
              |  COUNT(DISTINCT user_id) AS n_users,
              |  ${SQL_DSUM("value")} AS sum_value
              |FROM events GROUP BY 1 ORDER BY day""".stripMargin)),

    // Dataset.observe() — metrics PIGGYBACKED on a real job: the gate
    // aggregates ride the same scan/codegen pass as the (here
    // discarded) downstream aggregation, so the DQ circuit-breaker
    // costs zero extra reads — the Spark-native alternative to
    // dq_rule_report's dedicated pass, and the API a 100 TB ingest
    // uses to cut the pipeline BEFORE a bad batch lands (observe
    // forbids distinct aggregates; everything here is a plain
    // map-side-combinable sum/count/min/max). The observed Row is
    // lifted back into a 1-row DataFrame with exact-integer gate
    // arithmetic (cents domain, floor-div span hours).
    Q("dq_observe_gate",
      (s, d) => {
        import s.implicits._
        val obs = org.apache.spark.sql.Observation("ingest_gate")
        val observed = Tables.events(s, d)
          .withColumn("cents", cents(col("value")))
          .observe(obs,
            count(lit(1)).as("n_rows"),
            sum(when(col("value").isNull, 1L).otherwise(0L))
              .as("n_null_value"),
            sum("cents").as("cents_sum"),
            min(expr("unix_micros(ts)")).as("min_us"),
            max(expr("unix_micros(ts)")).as("max_us"))
        // the "real" job the metrics ride on; its result is not the
        // query output, the observed metrics row is
        observed.groupBy("event_type").agg(count(lit(1))).collect()
        val m = obs.get // blocks until the riding job has delivered
        def getL(name: String): Long = m(name).asInstanceOf[Long]
        val nRows = getL("n_rows")
        val nNull = getL("n_null_value")
        val sumCents = getL("cents_sum")
        val spanH = (getL("max_us") - getL("min_us")) / 3600000000L
        Seq((nRows, nNull, sumCents.toDouble / 100.0, spanH,
          nRows >= 1000L && nNull == 0L && spanH >= 24L))
          .toDF("n_rows", "n_null_value", "sum_value", "span_hours",
            "gate_pass")
      },
      Some(s"""SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
             |  CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_null_value,
             |  CAST(CAST(SUM(${SQL_CENTS("value")}) AS BIGINT) AS DOUBLE) / 100.0 AS sum_value,
             |  (epoch_us(MAX(ts)) - epoch_us(MIN(ts))) // 3600000000
             |    AS span_hours,
             |  COUNT(*) >= 1000
             |    AND SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) = 0
             |    AND (epoch_us(MAX(ts)) - epoch_us(MIN(ts)))
             |      // 3600000000 >= 24
             |    AS gate_pass
             |FROM events""".stripMargin)),

    // The hidden `_metadata` struct — per-row file provenance (name,
    // size, modification time) the reader exposes WITHOUT any column
    // in the data: the lineage/debugging surface of every multi-file
    // lake table ("which input file produced this bad row?"), and the
    // partition-file skew profile when aggregated. Grouping on
    // _metadata.file_name costs nothing extra — it is a constant per
    // split. Only layout-independent outputs are declared (file name,
    // per-file row count, size>0 flag): row-group split boundaries may
    // vary with reader config, so per-file row counts are the stable
    // contract, byte sizes are asserted positive rather than pinned.
    Q("scan_file_metadata",
      (s, d) => Tables.events(s, d)
        .select(col("_metadata.file_name").as("file_name"),
          col("_metadata.file_size").as("fs"))
        .groupBy("file_name")
        .agg(count(lit(1)).as("n_rows"), (min("fs") > 0L).as("nonempty"))
        .orderBy("file_name"),
      Some("""SELECT 'events.parquet' AS file_name,
             |  CAST(COUNT(*) AS BIGINT) AS n_rows, TRUE AS nonempty
             |FROM events ORDER BY file_name""".stripMargin)),

    // JDBC source roundtrip — the metadata-collector's literal ingest
    // path (a collector reads the metastore's own relational DB over
    // JDBC): write supplier through Spark's JDBC sink into embedded
    // Derby (the same in-process engine the Hive-metastore tests
    // boot), read it back as a PARTITIONED JDBC scan, aggregate per
    // nation; the oracle aggregates the same rows from parquet — the
    // ORC/Avro/XML roundtrip contract. The read goes through the
    // jdbc(url, table, partitionColumn, lo, hi, numPartitions, props)
    // overload — the device that makes a large JDBC ingest parallel
    // (each task pulls one key range over its own connection) instead
    // of a single-connection stream; bounds come from one min/max
    // aggregate on the source, the standard two-query ingest pattern.
    // Write memoized per (JVM, fixture) like every staged-artifact
    // query; embedded Derby is single-JVM, so the db lives in
    // [[graft.Artifacts.home]].
    Q("scan_jdbc_roundtrip",
      (s, d) => {
        val key = graft.Fixtures.tableKey(d, "supplier")
        val db = s"${graft.Artifacts.home}/derby_$key"
        val url = s"jdbc:derby:$db;create=true"
        val props = new java.util.Properties()
        props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
        val table = s"supplier_$key"
        staged(table) {
          Tables.supplier(s, d)
            .select(col("s_suppkey"), col("s_name"), col("s_nationkey"),
              col("s_acctbal"))
            .write.mode("overwrite").jdbc(url, table, props)
        }
        val b = Tables.supplier(s, d)
          .agg(min(col("s_suppkey").cast("long")),
            max(col("s_suppkey").cast("long"))).head()
        s.read.jdbc(url, table, "s_suppkey",
            b.getLong(0), b.getLong(1) + 1, 4, props)
          .groupBy("s_nationkey")
          .agg(count(lit(1)).as("n_suppliers"),
            dsum(col("s_acctbal")).as("sum_acctbal"),
            min("s_name").as("first_name"))
          .orderBy("s_nationkey")
      },
      Some(s"""SELECT s_nationkey, COUNT(*) AS n_suppliers,
              |${SQL_DSUM("s_acctbal")} AS sum_acctbal,
              |MIN(s_name) AS first_name
              |FROM supplier GROUP BY s_nationkey
              |ORDER BY s_nationkey""".stripMargin)),

    // Metastore statistics depth — the metadata collector's CORE
    // surface, computed rather than mocked: CREATE TABLE into the
    // session catalog (Hive/Derby-backed in the test JVM, in-memory in
    // Verify — the code path is identical `spark.catalog` SQL either
    // way), ANALYZE TABLE … COMPUTE STATISTICS FOR COLUMNS, then read
    // the recorded numRows + per-column NDVs back out of DESCRIBE
    // EXTENDED into a DataFrame. The oracle recomputes num_rows /
    // COUNT(DISTINCT …) from the same parquet — valid because
    // Spark's ANALYZE NDV (HyperLogLog++) is exact at nation-table
    // cardinalities (sparse mode is exact into the thousands); the
    // oracle pins exactly the stats columns, not Spark-private
    // sizeInBytes. At 100 TB ANALYZE is one distributed aggregate per
    // table; the DESCRIBE readback is catalog-metadata-only.
    Q("catalog_hive_stats",
      (s, d) => {
        val key = graft.Fixtures.tableKey(d, "nation")
        val tbl = s"nation_stats_$key"
        val statCols = Seq("n_name", "n_nationkey", "n_regionkey")
        staged(s"stats_$tbl") {
          // per-JVM database: the default warehouse dir persists
          // across JVMs, and a fresh catalog refuses to create a table
          // over a leftover location (LOCATION_ALREADY_EXISTS)
          graft.Artifacts.database(s, "graft_stats")
          Tables.nation(s, d).write.mode("overwrite")
            .saveAsTable(s"graft_stats.$tbl")
          s.sql(s"ANALYZE TABLE graft_stats.$tbl COMPUTE STATISTICS " +
            s"FOR COLUMNS ${statCols.mkString(", ")}")
        }
        // "Statistics" row reads "<bytes> bytes, <n> rows"
        val statLine = s.sql(s"DESCRIBE EXTENDED graft_stats.$tbl")
          .filter(col("col_name") === "Statistics")
          .select(col("data_type")).head().getString(0)
        val numRows = statLine.split(",")(1).trim.split("\\s+")(0).toLong
        statCols.map { c =>
            s.sql(s"DESCRIBE EXTENDED graft_stats.$tbl $c")
              .filter(col("info_name") === "distinct_count")
              .select(lit(c).as("column_name"),
                col("info_value").cast("long").as("ndv"))
          }.reduce(_.unionByName(_))
          .withColumn("num_rows", lit(numRows))
          .select(col("column_name"), col("num_rows"), col("ndv"))
          .orderBy("column_name")
      },
      Some("""SELECT 'n_name' AS column_name,
             |  (SELECT CAST(COUNT(*) AS BIGINT) FROM nation) AS num_rows,
             |  CAST(COUNT(DISTINCT n_name) AS BIGINT) AS ndv FROM nation
             |UNION ALL SELECT 'n_nationkey',
             |  (SELECT CAST(COUNT(*) AS BIGINT) FROM nation),
             |  CAST(COUNT(DISTINCT n_nationkey) AS BIGINT) FROM nation
             |UNION ALL SELECT 'n_regionkey',
             |  (SELECT CAST(COUNT(*) AS BIGINT) FROM nation),
             |  CAST(COUNT(DISTINCT n_regionkey) AS BIGINT) FROM nation
             |ORDER BY column_name""".stripMargin)),

    // Referential-integrity orphan audit across the schema's six FK
    // edges — the DQ check a warehouse loader runs after every batch:
    // child rows whose (non-null) foreign key has no parent. Each
    // relationship is one LEFT ANTI join on the key — hash-partitioned,
    // row-linear, no row ever widens — and the six audits union into
    // one report. NULL keys are NOT violations (SQL FK semantics),
    // pinned by the IS NOT NULL guard in both engines.
    Q("dq_orphan_check",
      (s, d) => {
        def audit(rel: String, child: org.apache.spark.sql.DataFrame,
            ck: String, parent: org.apache.spark.sql.DataFrame,
            pk: String): org.apache.spark.sql.DataFrame = {
          val orphans = child.filter(col(ck).isNotNull)
            .join(parent.select(col(pk)), col(ck) === col(pk), "left_anti")
            .agg(count(lit(1)).as("n_orphans"))
          child.agg(count(lit(1)).as("n_child")).crossJoin(orphans)
            .select(lit(rel).as("relationship"), col("n_child"),
              col("n_orphans"),
              round(col("n_orphans").cast("double") /
                col("n_child").cast("double"), 6).as("orphan_rate"))
        }
        Seq(
          audit("customer.c_nationkey->nation", Tables.customer(s, d),
            "c_nationkey", Tables.nation(s, d), "n_nationkey"),
          audit("lineitem.l_orderkey->orders", Tables.lineitem(s, d),
            "l_orderkey", Tables.orders(s, d), "o_orderkey"),
          audit("lineitem.l_partkey->part", Tables.lineitem(s, d),
            "l_partkey", Tables.part(s, d), "p_partkey"),
          audit("lineitem.l_suppkey->supplier", Tables.lineitem(s, d),
            "l_suppkey", Tables.supplier(s, d), "s_suppkey"),
          audit("orders.o_custkey->customer", Tables.orders(s, d),
            "o_custkey", Tables.customer(s, d), "c_custkey"),
          audit("supplier.s_nationkey->nation", Tables.supplier(s, d),
            "s_nationkey", Tables.nation(s, d), "n_nationkey"))
          .reduce(_.unionByName(_)).orderBy("relationship")
      },
      Some {
        def one(rel: String, ct: String, ck: String, pt: String,
            pk: String): String =
          s"""SELECT '$rel' AS relationship,
             |  (SELECT CAST(COUNT(*) AS BIGINT) FROM $ct) AS n_child,
             |  (SELECT CAST(COUNT(*) AS BIGINT) FROM $ct c
             |   WHERE c.$ck IS NOT NULL AND NOT EXISTS
             |     (SELECT 1 FROM $pt p WHERE p.$pk = c.$ck)) AS n_orphans,
             |  ROUND(CAST((SELECT COUNT(*) FROM $ct c
             |     WHERE c.$ck IS NOT NULL AND NOT EXISTS
             |       (SELECT 1 FROM $pt p WHERE p.$pk = c.$ck)) AS DOUBLE)
             |    / CAST((SELECT COUNT(*) FROM $ct) AS DOUBLE), 6)
             |    AS orphan_rate""".stripMargin
        Seq(
          one("customer.c_nationkey->nation", "customer", "c_nationkey",
            "nation", "n_nationkey"),
          one("lineitem.l_orderkey->orders", "lineitem", "l_orderkey",
            "orders", "o_orderkey"),
          one("lineitem.l_partkey->part", "lineitem", "l_partkey",
            "part", "p_partkey"),
          one("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey",
            "supplier", "s_suppkey"),
          one("orders.o_custkey->customer", "orders", "o_custkey",
            "customer", "c_custkey"),
          one("supplier.s_nationkey->nation", "supplier", "s_nationkey",
            "nation", "n_nationkey"))
          .mkString("", "\nUNION ALL ", "\nORDER BY relationship")
      }),

    // Inclusion-dependency (foreign-key) INFERENCE — the metadata
    // collector's schema-discovery move: for each candidate (child
    // column → parent column) pair, measure what fraction of the
    // child's DISTINCT values exist in the parent and declare an FK
    // at ratio 1. The candidate list mixes the six true FK edges with
    // two decoys (o_custkey→s_suppkey partially contains; n_regionkey
    // →r_regionkey is a true edge) so the inference discriminates.
    // Per pair: one distinct-project per side + one LEFT SEMI join on
    // the distinct sets — key-cardinality-sized, never row² — and the
    // verdict unions are a fixed 8-row report.
    Q("catalog_fk_infer",
      (s, d) => {
        def infer(cn: String, pn: String,
            child: org.apache.spark.sql.DataFrame, ck: String,
            parent: org.apache.spark.sql.DataFrame, pk: String)
            : org.apache.spark.sql.DataFrame = {
          val cd = child.select(col(ck).as("__v"))
            .filter(col("__v").isNotNull).distinct()
          val pd = parent.select(col(pk).as("__p")).distinct()
          val contained = cd.join(pd, col("__v") === col("__p"),
            "left_semi").agg(count(lit(1)).as("n_contained"))
          cd.agg(count(lit(1)).as("n_child_distinct"))
            .crossJoin(contained)
            .select(lit(cn).as("child_col"), lit(pn).as("parent_col"),
              col("n_child_distinct"), col("n_contained"),
              round(col("n_contained").cast("double") /
                col("n_child_distinct").cast("double"), 6)
                .as("inclusion_ratio"),
              (col("n_contained") === col("n_child_distinct"))
                .as("is_fk"))
        }
        Seq(
          infer("customer.c_nationkey", "nation.n_nationkey",
            Tables.customer(s, d), "c_nationkey",
            Tables.nation(s, d), "n_nationkey"),
          infer("lineitem.l_orderkey", "orders.o_orderkey",
            Tables.lineitem(s, d), "l_orderkey",
            Tables.orders(s, d), "o_orderkey"),
          infer("lineitem.l_partkey", "part.p_partkey",
            Tables.lineitem(s, d), "l_partkey",
            Tables.part(s, d), "p_partkey"),
          infer("lineitem.l_suppkey", "supplier.s_suppkey",
            Tables.lineitem(s, d), "l_suppkey",
            Tables.supplier(s, d), "s_suppkey"),
          infer("nation.n_regionkey", "region.r_regionkey",
            Tables.nation(s, d), "n_regionkey",
            Tables.region(s, d), "r_regionkey"),
          infer("orders.o_custkey", "customer.c_custkey",
            Tables.orders(s, d), "o_custkey",
            Tables.customer(s, d), "c_custkey"),
          infer("orders.o_custkey", "supplier.s_suppkey",
            Tables.orders(s, d), "o_custkey",
            Tables.supplier(s, d), "s_suppkey"),
          infer("supplier.s_nationkey", "nation.n_nationkey",
            Tables.supplier(s, d), "s_nationkey",
            Tables.nation(s, d), "n_nationkey"))
          .reduce(_.unionByName(_)).orderBy("child_col", "parent_col")
      },
      Some {
        def one(cn: String, pn: String, ct: String, ck: String,
            pt: String, pk: String): String =
          s"""SELECT '$cn' AS child_col, '$pn' AS parent_col,
             |  (SELECT CAST(COUNT(DISTINCT $ck) AS BIGINT) FROM $ct
             |   WHERE $ck IS NOT NULL) AS n_child_distinct,
             |  (SELECT CAST(COUNT(*) AS BIGINT) FROM
             |    (SELECT DISTINCT $ck AS v FROM $ct WHERE $ck IS NOT NULL)
             |   WHERE v IN (SELECT $pk FROM $pt)) AS n_contained,
             |  ROUND(CAST((SELECT COUNT(*) FROM
             |      (SELECT DISTINCT $ck AS v FROM $ct WHERE $ck IS NOT NULL)
             |     WHERE v IN (SELECT $pk FROM $pt)) AS DOUBLE)
             |    / CAST((SELECT COUNT(DISTINCT $ck) FROM $ct
             |       WHERE $ck IS NOT NULL) AS DOUBLE), 6)
             |    AS inclusion_ratio,
             |  (SELECT COUNT(*) FROM
             |    (SELECT DISTINCT $ck AS v FROM $ct WHERE $ck IS NOT NULL)
             |   WHERE v IN (SELECT $pk FROM $pt))
             |  = (SELECT COUNT(DISTINCT $ck) FROM $ct
             |     WHERE $ck IS NOT NULL) AS is_fk""".stripMargin
        Seq(
          one("customer.c_nationkey", "nation.n_nationkey", "customer",
            "c_nationkey", "nation", "n_nationkey"),
          one("lineitem.l_orderkey", "orders.o_orderkey", "lineitem",
            "l_orderkey", "orders", "o_orderkey"),
          one("lineitem.l_partkey", "part.p_partkey", "lineitem",
            "l_partkey", "part", "p_partkey"),
          one("lineitem.l_suppkey", "supplier.s_suppkey", "lineitem",
            "l_suppkey", "supplier", "s_suppkey"),
          one("nation.n_regionkey", "region.r_regionkey", "nation",
            "n_regionkey", "region", "r_regionkey"),
          one("orders.o_custkey", "customer.c_custkey", "orders",
            "o_custkey", "customer", "c_custkey"),
          one("orders.o_custkey", "supplier.s_suppkey", "orders",
            "o_custkey", "supplier", "s_suppkey"),
          one("supplier.s_nationkey", "nation.n_nationkey", "supplier",
            "s_nationkey", "nation", "n_nationkey"))
          .mkString("", "\nUNION ALL ",
            "\nORDER BY child_col, parent_col")
      }),

    // Candidate-key discovery across the whole schema — the other
    // half of catalog_fk_infer's inference pair: per (table, column),
    // row count, NDV, null count, and the is-unique-key verdict
    // (ndv == rows AND zero nulls). One count-distinct aggregate per
    // column, each map-side-combinable; the report is schema-sized.
    Q("catalog_key_candidates",
      (s, d) => {
        def probe(t: String, c: String,
            df: org.apache.spark.sql.DataFrame)
            : org.apache.spark.sql.DataFrame =
          df.agg(count(lit(1)).as("n_rows"),
              countDistinct(col(c)).as("ndv"),
              sum(when(col(c).isNull, 1L).otherwise(0L)).as("n_nulls"))
            .select(lit(t).as("table_name"), lit(c).as("column_name"),
              col("n_rows"), col("ndv"), col("n_nulls"),
              (col("ndv") === col("n_rows") && col("n_nulls") === 0)
                .as("is_unique_key"))
        Seq(
          probe("customer", "c_custkey", Tables.customer(s, d)),
          probe("documents", "doc_id", Tables.documents(s, d)),
          probe("embeddings", "vec_id", Tables.embeddings(s, d)),
          probe("events", "event_id", Tables.events(s, d)),
          probe("lineitem", "l_orderkey", Tables.lineitem(s, d)),
          probe("nation", "n_nationkey", Tables.nation(s, d)),
          probe("orders", "o_orderkey", Tables.orders(s, d)),
          probe("part", "p_partkey", Tables.part(s, d)),
          probe("region", "r_regionkey", Tables.region(s, d)),
          probe("supplier", "s_suppkey", Tables.supplier(s, d)))
          .reduce(_.unionByName(_)).orderBy("table_name", "column_name")
      },
      Some {
        def one(t: String, c: String): String =
          s"""SELECT '$t' AS table_name, '$c' AS column_name,
             |  CAST(COUNT(*) AS BIGINT) AS n_rows,
             |  CAST(COUNT(DISTINCT $c) AS BIGINT) AS ndv,
             |  CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_nulls,
             |  COUNT(DISTINCT $c) = COUNT(*)
             |    AND SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) = 0
             |    AS is_unique_key
             |FROM $t""".stripMargin
        Seq(one("customer", "c_custkey"), one("documents", "doc_id"),
          one("embeddings", "vec_id"), one("events", "event_id"),
          one("lineitem", "l_orderkey"), one("nation", "n_nationkey"),
          one("orders", "o_orderkey"), one("part", "p_partkey"),
          one("region", "r_regionkey"), one("supplier", "s_suppkey"))
          .mkString("", "\nUNION ALL ",
            "\nORDER BY table_name, column_name")
      })
  ) :+ viewChainQuery

  /** Staged table (named by its fixture's [[graft.Fixtures.tableKey]])
    * → it is written, for scan_jdbc_roundtrip and catalog_hive_stats.
    * At most 64 tables; an evicted one is rewritten.
    */
  private val staged = graft.Memo[String, Unit](bound = 64)

  /** The hive-style `o_orderstatus=X` copy of orders, staged once per
    * fixture: scan_partition_pruned, catalog_partition_skew and
    * join_dpp_prune read it.
    */
  private[operators] def ordersByStatus(s: org.apache.spark.sql.SparkSession,
      d: String): String =
    graft.Artifacts.staged("part_orders", d, "orders") { p =>
      Tables.orders(s, d).write.mode("overwrite")
        .partitionBy("o_orderstatus").parquet(p)
    }

  /** Appended via `queries ++ extra` below to keep the main Seq under
    * the compiler's method-size comfort zone.
    */
  private lazy val viewChainQuery: Q =
    // Catalog view surface — a metadata collector must see THROUGH
    // views: a two-level temporary-view chain (filter view → aggregate
    // view) created in the session catalog and queried by name, so
    // Spark's view resolution + nested-plan inlining is what executes
    // (the plan under the names is the same filtered aggregate
    // Catalyst would build directly — views cost nothing at any
    // scale). The oracle computes the chain inline. CatalogApiSpec
    // asserts the views are actually listed in the catalog.
    Q("catalog_view_chain",
      (s, d) => {
        Tables.orders(s, d).createOrReplaceTempView("graft_v_orders")
        s.sql("""CREATE OR REPLACE TEMPORARY VIEW graft_v_big AS
                |SELECT * FROM graft_v_orders
                |WHERE o_totalprice > 150000""".stripMargin)
        s.sql("""CREATE OR REPLACE TEMPORARY VIEW graft_v_agg AS
                |SELECT o_orderpriority, COUNT(*) AS n_big,
                |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                |    AS revenue
                |FROM graft_v_big GROUP BY o_orderpriority""".stripMargin)
        s.sql("SELECT * FROM graft_v_agg ORDER BY o_orderpriority")
      },
      Some("""SELECT o_orderpriority, COUNT(*) AS n_big,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS revenue
             |FROM orders WHERE o_totalprice > 150000
             |GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin))
}
