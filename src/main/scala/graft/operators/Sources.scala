package graft.operators

import graft.{Det, GraftQuery, QueryGroup, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SURVEY.md §2-A: scans / sources / sinks (ops 1–7).
  *
  * SAS semantics covered: LIBNAME+SET (scan), PROC IMPORT / INFILE+INPUT
  * with informats (typed CSV), PROC EXPORT (CSV sink), JSON engine,
  * column-pointer fixed-width INPUT, macro-loop partitioned output,
  * PROC CONTENTS / DICTIONARY.COLUMNS introspection.
  *
  * Round-trip queries write derived files under <layout root>/graft_io/<op>/ (never
  * into the read-only testdata) and read them back through the real Spark
  * source; the oracle then checks the round-tripped values against the
  * original table, which is exactly what PROC EXPORT+IMPORT preserves.
  *
  * 100 TB notes: parquet scan + pushdown is the workhorse (PlanSpec checks
  * PushedFilters/ReadSchema); CSV/JSON sources are splittable per-file —
  * fine for landing zones, convert to parquet before iterating. The
  * partitioned sink (op 6) is the layout that turns predicates into
  * directory pruning — the single highest-leverage storage decision at
  * scale. Partition count discipline: `partitionBy` on a low-cardinality
  * key; high-cardinality keys would create millions of small files.
  */
object Sources extends QueryGroup {

  private def io(s: SparkSession, op: String) =
    s"${graft.layouts.LayoutUtil.artifactRoot(s)}/graft_io/$op"

  /** op 1 — LIBNAME + SET: full table scan, all columns. */
  private val scanParquet = GraftQuery(
    "scan_parquet",
    (s, dir) =>
      Tables.nation(s, dir)
        .orderBy(col("n_nationkey").asc_nulls_first),
    Some("SELECT * FROM nation ORDER BY n_nationkey ASC NULLS FIRST"))

  /** op 2 — PROC IMPORT with informats: CSV with explicit schema, header,
    * and date parsing. The CSV is derived from orders (top 50 by key) so
    * the oracle can verify the round trip against the source table. */
  private val sourceCsvTyped = GraftQuery(
    "source_csv_typed",
    (s, dir) => {
      val path = io(s, "source_csv_typed")
      Tables.orders(s, dir)
        .orderBy(col("o_orderkey").asc_nulls_first).limit(50)
        .select(
          col("o_orderkey"), col("o_orderstatus"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
          format_string("%.2f", col("o_totalprice")).as("o_totalprice"))
        .coalesce(1)
        .write.mode("overwrite").option("header", "true").csv(path)
      val schema = StructType(Seq(
        StructField("o_orderkey", LongType),
        StructField("o_orderstatus", StringType),
        StructField("o_orderdate", DateType),
        StructField("o_totalprice", DoubleType)))
      s.read.schema(schema).option("header", "true")
        .option("dateFormat", "yyyy-MM-dd").csv(path)
        .orderBy(col("o_orderkey").asc_nulls_first)
    },
    Some("""
      SELECT o_orderkey, o_orderstatus, CAST(o_orderdate AS DATE) AS o_orderdate, o_totalprice
      FROM orders
      ORDER BY o_orderkey ASC NULLS FIRST
      LIMIT 50"""))

  /** op 3 — PROC EXPORT + re-IMPORT: CSV sink verified by re-reading. */
  private val sinkCsvRoundtrip = GraftQuery(
    "sink_csv_roundtrip",
    (s, dir) => {
      val path = io(s, "sink_csv_roundtrip")
      Tables.nation(s, dir)
        .coalesce(1).write.mode("overwrite").option("header", "true").csv(path)
      val schema = StructType(Seq(
        StructField("n_nationkey", IntegerType),
        StructField("n_name", StringType),
        StructField("n_regionkey", IntegerType)))
      s.read.schema(schema).option("header", "true").csv(path)
        .orderBy(col("n_nationkey").asc_nulls_first)
    },
    Some("SELECT * FROM nation ORDER BY n_nationkey ASC NULLS FIRST"))

  /** op 4 — JSON engine: JSON-lines round trip of an events projection
    * (schema inferred on read, as PROC IMPORT would). */
  private val sourceJsonl = GraftQuery(
    "source_jsonl",
    (s, dir) => {
      val path = io(s, "source_jsonl")
      val src = Tables.events(s, dir)
        .select(col("event_id"), col("event_type"), col("value"), col("props"))
      // parallel multi-part write (a coalesce(1) here serializes the whole
      // write through one task), and an EXPLICIT schema on the way back:
      // inference is a second full pass over the file at scale, and the
      // writer's schema is the round-trip contract anyway
      src.write.mode("overwrite").json(path)
      s.read.schema(src.schema).json(path)
        .select("event_id", "event_type", "value", "props")
        .orderBy(col("event_id").asc_nulls_first)
    },
    Some("""
      SELECT event_id, event_type, value, props
      FROM events
      ORDER BY event_id ASC NULLS FIRST"""))

  /** op 5 — column-pointer INPUT (@1 name $20. @21 key 4.): fixed-width
    * text built from nation, parsed back by position. */
  private val sourceFixedWidth = GraftQuery(
    "source_fixed_width",
    (s, dir) => {
      val path = io(s, "source_fixed_width")
      Tables.nation(s, dir)
        .select(concat(rpad(col("n_name"), 20, " "),
          lpad(col("n_nationkey").cast(StringType), 4, "0")).as("value"))
        .coalesce(1).write.mode("overwrite").text(path)
      s.read.text(path)
        .select(
          trim(substring(col("value"), 1, 20)).as("n_name"),
          substring(col("value"), 21, 4).cast(IntegerType).as("n_nationkey"))
        .orderBy(col("n_nationkey").asc_nulls_first)
    },
    Some("SELECT n_name, n_nationkey FROM nation ORDER BY n_nationkey ASC NULLS FIRST"))

  /** op 6 — macro-loop partitioned output: partitionBy write, then read
    * back with a partition predicate (pruned scan — only the BUILDING
    * directory is touched, the 100 TB layout win). */
  private val sinkPartitionedParquet = GraftQuery(
    "sink_partitioned_parquet",
    (s, dir) => {
      val path = io(s, "sink_partitioned_parquet")
      Tables.customer(s, dir)
        .write.mode("overwrite").partitionBy("c_mktsegment").parquet(path)
      s.read.parquet(path)
        .filter(col("c_mktsegment") === "BUILDING")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n"), Det.dsum(col("c_acctbal")).as("sum_bal"))
        .orderBy(col("c_nationkey").asc_nulls_first)
    },
    Some(s"""
      SELECT c_nationkey, COUNT(*) AS n, ${Det.sqlSum("c_acctbal")} AS sum_bal
      FROM customer
      WHERE c_mktsegment = 'BUILDING'
      GROUP BY c_nationkey
      ORDER BY c_nationkey ASC NULLS FIRST"""))

  /** op 7 — PROC CONTENTS / DICTIONARY.COLUMNS: schema-as-data. */
  private val catalogIntrospect = GraftQuery(
    "catalog_introspect",
    (s, dir) => {
      import s.implicits._
      Tables.lineitem(s, dir).schema.fields.zipWithIndex
        .map { case (f, i) => (i + 1, f.name, f.dataType.simpleString) }
        .toSeq.toDF("ordinal", "col_name", "data_type")
        .orderBy(col("ordinal").asc_nulls_first)
    },
    Some("""
      SELECT * FROM (VALUES
        (1,'l_orderkey','bigint'), (2,'l_partkey','bigint'), (3,'l_suppkey','bigint'),
        (4,'l_linenumber','int'), (5,'l_quantity','double'), (6,'l_extendedprice','double'),
        (7,'l_discount','double'), (8,'l_tax','double'), (9,'l_returnflag','string'),
        (10,'l_linestatus','string'), (11,'l_shipdate','timestamp_ntz')
      ) AS t(ordinal, col_name, data_type)
      ORDER BY ordinal ASC NULLS FIRST"""))

  /** Z-ORDERED scan (layouts.ZOrder): lineitem rewritten once in Morton
    * order of (l_partkey, l_suppkey), then a 2-D box predicate — the query
    * shape a single-key sort cannot serve — reads only the few files whose
    * z-range intersects the box, via ordinary parquet min/max pruning.
    * The oracle is the same box filter over the original table (the layout
    * is a pure reordering); ZOrderSpec measures the pruning itself:
    * scan numOutputRows under the z-layout vs the same files sorted by an
    * uncorrelated key. The layout write is owned by the helper (cached by
    * source size+mtime, builders stay pure — the Bucketed convention). */
  /** The z-ordered lineitem layout this group's box-scan row reads —
    * exposed so the bench prewarms it with the IDENTICAL cache key and
    * reports the one-time build as a separate line item (the layout is
    * the table's resident format; its cost is not the query's cost). */
  def lineitemZPath(s: org.apache.spark.sql.SparkSession, dir: String): String =
    graft.layouts.ZOrder.ensure(s, dir, "lineitem_z",
      Tables.lineitem(s, dir), "lineitem", "l_partkey", "l_suppkey")

  private val scanZorderBox = GraftQuery(
    "scan_zorder_box",
    (s, dir) => {
      val path = lineitemZPath(s, dir)
      // The box is derived from the table's own key ranges (a mid-span
      // 10%×20% window) so the query is meaningful at every scale factor.
      // The four bounds come from the layout's BUILD-TIME stats sidecar
      // (the lakehouse-metadata convention) and enter the scan as
      // LITERALS — a filter on non-literal bounds cannot be pushed into
      // parquet min/max pruning, and re-deriving them with a min/max scan
      // per query cost more than the pruned box read itself.
      val (pmin, pmax, smin, smax) = graft.layouts.ZOrder.stats(s, path)
      val pl = pmin + (pmax - pmin) / 2; val ph = pl + (pmax - pmin) / 10
      val sl = smin + (smax - smin) / 2; val sh = sl + (smax - smin) / 5
      s.read.parquet(path)
        .filter(col("l_partkey").between(pl, ph) && col("l_suppkey").between(sl, sh))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_lines"), Det.dsum(col("l_extendedprice")).as("sum_price"))
        .orderBy(col("l_returnflag").asc_nulls_first)
    },
    Some(s"""
      WITH b AS (
        SELECT min(l_partkey) AS pmin, max(l_partkey) AS pmax,
               min(l_suppkey) AS smin, max(l_suppkey) AS smax
        FROM lineitem)
      SELECT l_returnflag, COUNT(*) AS n_lines,
             ${Det.sqlSum("l_extendedprice")} AS sum_price
      FROM lineitem, b
      WHERE l_partkey BETWEEN b.pmin + (b.pmax - b.pmin) // 2
                          AND b.pmin + (b.pmax - b.pmin) // 2 + (b.pmax - b.pmin) // 10
        AND l_suppkey BETWEEN b.smin + (b.smax - b.smin) // 2
                          AND b.smin + (b.smax - b.smin) // 2 + (b.smax - b.smin) // 5
      GROUP BY l_returnflag
      ORDER BY l_returnflag ASC NULLS FIRST"""))

  override def queries: Seq[GraftQuery] = Seq(
    scanParquet, sourceCsvTyped, sinkCsvRoundtrip, sourceJsonl,
    sourceFixedWidth, sinkPartitionedParquet, catalogIntrospect, scanZorderBox)
}
