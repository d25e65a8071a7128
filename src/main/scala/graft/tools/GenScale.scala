package graft.tools

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-up generator: replicates the driver's sf0.1 tables REP× with
  * consistent key shifts, producing a larger scale factor for plan-shape
  * and near-linearity audits (the container has no dbgen; the driver only
  * materializes up to sf0.1).
  *
  * Every key domain shifts by the same power-of-ten offset in every table
  * that references it, so FK join relationships — orders↔lineitem,
  * customer↔orders, part/supplier↔lineitem — hold exactly and per-key
  * match cardinalities are preserved (each replica is a disjoint
  * sub-universe; nation/region stay shared dimensions, unreplicated, like
  * TPC-H's fixed-size dims). Documents get a per-replica text suffix
  * (replicas must not be EXACT duplicates or dedup outputs degenerate);
  * embeddings get a tiny deterministic per-replica perturbation so ANN
  * top-k has no 10-way ties.
  *
  * Usage: runMain graft.tools.GenScale [srcDir] [outDir] [replicas] [files]
  *
  * `files` (default 32) is the number of parquet files written per table.
  * It changes the tables' static size estimates, and so which joins fall
  * under the broadcast threshold.
  */
object GenScale {
  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("data/sf1")
    val rep = args.lift(2).map(_.toInt).getOrElse(10)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val replicas = broadcast(spark.range(rep).toDF("__r"))

    /** Next power of ten above the column's max — a clean per-domain
      * stride every referencing table shifts by identically.
      */
    def stride(df: DataFrame, c: String): Long = {
      val mx = df.agg(max(col(c))).head().getLong(0)
      var s = 10L
      while (s <= mx) s *= 10
      s
    }

    /** REP copies with the named long keys shifted by __r * stride. */
    def replicate(df: DataFrame, shifts: (String, Long)*): DataFrame = {
      val crossed = df.crossJoin(replicas)
      shifts.foldLeft(crossed) { case (d, (c, s)) =>
        d.withColumn(c, col(c) + col("__r") * s)
      }.drop("__r")
    }

    // split each table across enough files that a scan parallelizes to
    // the full core count — the replicate() crossJoin preserves the
    // source's 1-2 input partitions, and a 2-file lineitem caps every
    // downstream scan at 2 tasks regardless of SPARK_GRAFT_CPUS, which
    // turns core-scaling runs into input-parallelism measurements.
    // Round-robin repartition is deterministic (sort-before-repartition
    // stays on) and every declared query orders its output.
    val files = args.lift(3).map(_.toInt).getOrElse(32)
    def write(df: DataFrame, name: String): Unit = {
      df.repartition(files)
        .write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[genscale] $name: ${spark.read.parquet(s"$out/$name.parquet").count()} rows")
    }

    val lineitem = Tables.tbl(spark, src, "lineitem")
    val orders = Tables.tbl(spark, src, "orders")
    val customer = Tables.tbl(spark, src, "customer")
    val supplier = Tables.tbl(spark, src, "supplier")
    val part = Tables.tbl(spark, src, "part")
    val events = Tables.tbl(spark, src, "events")
    val documents = Tables.tbl(spark, src, "documents")
    val embeddings = Tables.tbl(spark, src, "embeddings")

    // one aggregate per keyed domain (stride() is a full-table max job)
    val sOrder = stride(orders, "o_orderkey")
    val sCust = stride(customer, "c_custkey")
    val sSupp = stride(supplier, "s_suppkey")
    val sPart = stride(part, "p_partkey")
    val sEvent = stride(events, "event_id")
    val sUser = stride(events, "user_id")
    val sDoc = stride(documents, "doc_id")

    write(replicate(lineitem,
      "l_orderkey" -> sOrder, "l_partkey" -> sPart, "l_suppkey" -> sSupp),
      "lineitem")
    write(replicate(orders, "o_orderkey" -> sOrder, "o_custkey" -> sCust),
      "orders")
    write(replicate(customer, "c_custkey" -> sCust), "customer")
    write(replicate(supplier, "s_suppkey" -> sSupp), "supplier")
    write(replicate(part, "p_partkey" -> sPart), "part")
    // shared dims: copy through unreplicated
    write(Tables.tbl(spark, src, "nation"), "nation")
    write(Tables.tbl(spark, src, "region"), "region")

    write(replicate(events,
      "event_id" -> sEvent, "user_id" -> sUser), "events")

    // replicas are NEAR-duplicates (suffix-perturbed), not exact copies;
    // n_chars tracks the perturbed text
    val docs = replicate(documents, "doc_id" -> sDoc)
      // the replica index is recoverable from the shifted key
      .withColumn("__r", (col("doc_id") / sDoc).cast("long"))
      .withColumn("text",
        when(col("__r") === 0, col("text"))
          .otherwise(concat(col("text"), lit(" replica "), col("__r"))))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .drop("__r")
    write(docs, "documents")

    // deterministic sub-0.5% perturbation keyed on (vec_id, element):
    // preserves neighborhoods, breaks exact ties across replicas
    val sVec = stride(embeddings, "vec_id")
    val emb = replicate(embeddings, "vec_id" -> sVec)
      .withColumn("embedding",
        when((col("vec_id") / sVec).cast("long") === 0, col("embedding"))
          .otherwise(expr(
            "transform(embedding, (x, j) -> CAST(x * (1.0D + " +
              "((vec_id % 97 + j * 13) % 9 - 4) * 0.001D) AS FLOAT))")))
    write(emb, "embeddings")

    spark.stop()
  }
}
