package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{Column, PerfbenchSql, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model.TableMetadataV2
import graft.operators.Dedup
import graft.table.GraftTable

/** Drives one workload against graft through its public surfaces (SQL via
  * GraftCatalog, GraftTable, Dedup) and writes every operation's latency
  * and answer to a JSON file. run.py checks the answers and derives the
  * metrics.
  *
  * Usage: Harness --workload W --seed N --seconds S --trace 0|1
  *                --plan plan.json --work DIR --out result.json
  */
object Harness {
  val Slots = 2             // Spark task slots: fixed, below nproc
  val ShufflePartitions = 4

  def main(args: Array[String]): Unit = {
    val phases = ArrayBuffer[(String, Long)]()
    def phase(name: String): Unit = phases += name -> System.currentTimeMillis
    phase("jvm_started")
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val work = a("work")
    val spark = SparkSession.builder()
      .master(s"local[$Slots]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", ShufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions",
        "graft.connector.GraftSparkSessionExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.sql.catalog.bench", "graft.connector.GraftCatalog")
      .config("spark.sql.catalog.bench.warehouse", s"$work/wh")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val plan = new ObjectMapper().readTree(Paths.get(a("plan")).toFile)
    val run = new Run(spark, a("trace") == "1", work)
    val w: Workload = a("workload") match {
      case "ingest" => new Ingest(run, plan, a("seed").toLong)
      case "dedup" => new DedupPass(run, plan)
    }
    try {
      phase("spark_started")
      spark.sql("CREATE NAMESPACE IF NOT EXISTS bench.db")
      w.setup()
      phase("tables_built")
      (0 until plan.get("warm_rounds").asInt).foreach(r => w.round(r))
      phase("warmed_up")
      val machine0 = Machine.read()
      val budgetNs = (a("seconds").toDouble * 1e9).toLong
      run.timed = true
      val start = System.nanoTime
      var r = plan.get("warm_rounds").asInt
      while (System.nanoTime - start < budgetNs) { w.round(r); r += 1 }
      run.timed = false
      val machine = Machine.delta(machine0, Machine.read())
      val result = Map(
        "ops" -> run.ops.toSeq,
        "machine" -> machine,
        "verify" -> w.verify(),
        "probes" -> (if (run.trace.on) w.probes() else Map.empty),
        "spans" -> run.trace.spans.toSeq,
        "peak_rss_kb" -> Machine.peakRssKb(),
        "phases_ms" -> phases.toMap)
      Files.write(Paths.get(a("out")), Json.write(result).getBytes(UTF_8))
    } finally spark.stop()
  }
}

/** One closed-loop client: the operations a workload runs, their timings
  * and answers, and the traced run's spans.
  */
final class Run(val spark: SparkSession, traced: Boolean, val work: String) {
  val trace = new Tracer(spark, traced)
  val ops = ArrayBuffer[Map[String, Any]]()
  var timed = false

  /** Times one operation; `result` turns its value into checkable JSON
    * outside the timed interval. In the traced run, `fsOf` gives the
    * table directory whose file-system delta the op span records.
    */
  def op[T](cls: String, fsOf: Option[String] = None)(body: => T)
      (result: T => Any): T = {
    trace.op = ops.size
    trace.cls = cls
    val fs0 = if (trace.on) fsOf.map(Fs.stats) else None
    val t0Ms = System.currentTimeMillis
    val (cpu0, gc0, jit0) = (Machine.processCpuNs(), Machine.gcMs(), Machine.jitMs())
    val codegen0 = PerfbenchBus.codegenCompiles()
    val t0 = System.nanoTime
    val v = trace("op") { body }
    val ms = (System.nanoTime - t0) / 1e6
    val cpuMs = (Machine.processCpuNs() - cpu0) / 1e6
    val (gcMs, jitMs) = (Machine.gcMs() - gc0, Machine.jitMs() - jit0)
    val codegen = PerfbenchBus.codegenCompiles() - codegen0
    for (d <- fsOf; s0 <- fs0) {
      val s1 = Fs.stats(d)
      trace.annotate(Map(
        "data_files_added" -> (s1.dataFiles - s0.dataFiles).toDouble,
        "metadata_bytes_added" -> (s1.metaBytes - s0.metaBytes).toDouble))
    }
    ops += Map("cls" -> cls, "timed" -> timed, "t0_ms" -> t0Ms, "ms" -> ms,
      "cpu_ms" -> cpuMs, "gc_ms" -> gcMs, "jit_ms" -> jitMs, "codegen" -> codegen,
      "result" -> result(v))
    v
  }

  /** The reference operation: Spark alone writes `rows` as plain parquet,
    * with no table format. Timed next to the graft operations of the same
    * round, so that both see the host at the same speed.
    */
  def plainWrite(rows: => org.apache.spark.sql.DataFrame): Unit =
    op("plain_write") {
      rows.write.mode("overwrite").parquet(s"$work/plain")
    }(_ => null)

  /** spark.sql(q).collect(). The traced run times it as one span and
    * splits it where analysis ends: parsing and analysis (which loads the
    * table through the catalog) before, execution after. Spark runs a SQL
    * command such as INSERT, DELETE or MERGE inside spark.sql(q), after
    * analysis, so its execution falls on the execute side.
    */
  def sql(q: String): Array[Row] =
    if (!trace.on) spark.sql(q).collect()
    else {
      var (t0, analyzedNs) = (0L, 0L)
      val rows = trace("connector.sql") {
        t0 = System.nanoTime
        PerfbenchSql.sql(spark, q, t => if (analyzedNs == 0L) analyzedNs = t)
          .collect()
      }
      val span = trace.spans.last("ms").asInstanceOf[Double]
      val analyzeMs = (analyzedNs - t0) / 1e6
      trace.annotate(Map("analyze_ms" -> analyzeMs,
        "execute_ms" -> (span - analyzeMs)))
      rows
    }
}

trait Workload {
  def setup(): Unit
  def round(r: Int): Unit
  def verify(): Map[String, Any]
  def probes(): Map[String, Any]
}

/** Sustained small appends into a days(ts)-partitioned table, with one
  * key-range DELETE and one MERGE upsert per round.
  */
final class Ingest(run: Run, plan: JsonNode, seed: Long) extends Workload {
  private val spark = run.spark
  private val table = "bench.db.events"
  private val loc = s"${run.work}/wh/db/events"
  private val tsBase = plan.get("ts_base_ms").asLong
  private val tsStep = plan.get("ts_step_ms").asLong
  private var lastAppend = (0L, 0L)

  private val schema = StructType(Seq(StructField("id", LongType),
    StructField("ts", TimestampType), StructField("v", LongType),
    StructField("tag", StringType)))

  /** Registers as `view` the rows generation `gen` writes for ids `ids`,
    * as data in one partition: the statements that read it keep the same
    * text, so Spark compiles their generated code once, not per statement.
    * gen.py's ingest_value is the same arithmetic.
    */
  private def stage(view: String, ids: Seq[Long], gen: Int, tag: String): Unit = {
    val rows = ids.map(i => Row(i,
      java.time.Instant.ofEpochMilli(tsBase + (i % 1000000) * tsStep),
      (i * 7919 + seed * 104729 + gen * 31) % 1000003, tag))
    spark.createDataFrame(rows.asJava, schema).coalesce(1)
      .createOrReplaceTempView(view)
  }

  def setup(): Unit = run.sql(s"CREATE TABLE $table (id BIGINT, " +
    "ts TIMESTAMP, v BIGINT, tag STRING) PARTITIONED BY (days(ts))")

  def round(r: Int): Unit = plan.get("rounds").get(r).elements.asScala
    .foreach { o =>
      val (lo, hi) = (o.get("lo").asLong, o.get("hi").asLong)
      o.get("op").asText match {
        case "append" =>
          lastAppend = (lo, hi)
          stage("perfbench_batch", lo until hi, 0, "a")
          run.op("append", Some(loc)) {
            run.sql(s"INSERT INTO $table SELECT * FROM perfbench_batch")
          }(_ => null)
          run.plainWrite(spark.table("perfbench_batch"))
        case "delete" =>
          run.op("delete", Some(loc)) {
            run.sql(s"DELETE FROM $table WHERE id >= $lo AND id < $hi")
          }(_ => null)
        case "merge" =>
          stage("perfbench_upsert", (lo until hi) ++
            (o.get("new_lo").asLong until o.get("new_hi").asLong),
            o.get("gen").asInt, "m")
          run.op("merge", Some(loc)) {
            run.sql(s"MERGE INTO $table t USING perfbench_upsert s " +
              "ON t.id = s.id " +
              "WHEN MATCHED THEN UPDATE SET v = s.v, tag = s.tag " +
              "WHEN NOT MATCHED THEN INSERT *")
          }(_ => null)
      }
    }

  private def totals(asOf: String): Seq[Any] = {
    val r = spark.sql(s"SELECT count(*), coalesce(sum(v), 0), " +
      s"coalesce(sum(CASE WHEN tag = 'm' THEN 1 ELSE 0 END), 0) " +
      s"FROM $table $asOf").head()
    Seq(r.getLong(0), r.getLong(1), r.getLong(2))
  }

  def verify(): Map[String, Any] = {
    val snaps = GraftTable.load(spark, loc).metadata.snapshots
      .getOrElse(Nil).sortBy(_.sequenceNumber)
    val rnd = new java.util.Random(seed)
    // three sampled points of the history, read back by time travel
    val steps = Seq.fill(3)(1 + rnd.nextInt(snaps.size)).sorted
    Map("final" -> totals(""), "snapshots" -> snaps.size,
      "timetravel" -> steps.map(s =>
        Map("step" -> s,
          "totals" -> totals(s"VERSION AS OF ${snaps(s - 1).snapshotId}"))))
  }

  def probes(): Map[String, Any] = Probes.table(run, loc,
    Some(col("id") >= lastAppend._1 && col("id") < lastAppend._2))
}

/** The LLM-data pipeline: scan, MinHash pairs, connected components,
  * anti-join of the copies, INSERT OVERWRITE of the kept documents and a
  * count read back through graft.
  */
final class DedupPass(run: Run, plan: JsonNode) extends Workload {
  private val spark = run.spark
  private val kept = s"${run.work}/wh/db/kept"

  def setup(): Unit = {
    run.sql("CREATE TABLE bench.db.corpus (doc_id BIGINT, text STRING)")
    run.sql("CREATE TABLE bench.db.kept (doc_id BIGINT, text STRING)")
    run.sql("INSERT INTO bench.db.corpus SELECT doc_id, text FROM parquet.`" +
      plan.get("corpus").asText + "`")
  }

  /** One pass, as a dedup job over a corpus runs it: with the generated
    * code compiled afresh. Spark's code cache holds 100 classes, about what
    * one pass generates, so whether a warm pass finds its classes there
    * changes from run to run; an emptied cache makes every pass alike.
    */
  def round(r: Int): Unit = {
    val tr = run.trace
    PerfbenchBus.clearCodegenCache()
    run.op("pass", Some(kept)) {
      val corpus = tr("connector.corpus_scan") {
        spark.table("bench.db.corpus").localCheckpoint() }
      val pairs = tr("operators.minhash_pairs") {
        Dedup.minhashPairs(corpus, "doc_id", "text") }
      val comps = tr("operators.components") {
        Dedup.connectedComponents(pairs.select("doc_a", "doc_b")) }
      val copies = comps.filter(col("id") =!= col("label"))
        .select(col("id").as("doc_id"))
      corpus.join(copies, Seq("doc_id"), "left_anti")
        .createOrReplaceTempView("perfbench_kept")
      tr("table.kept_write") { spark.sql(
        "INSERT OVERWRITE bench.db.kept SELECT doc_id, text FROM perfbench_kept") }
      (pairs, run.sql("SELECT count(*) FROM bench.db.kept").head.getLong(0))
    } { case (pairs, n) =>
      Map("kept" -> n, "pairs" -> pairs.orderBy("doc_a", "doc_b").collect()
        .toSeq.map(_.toSeq))
    }
    run.plainWrite(spark.read.parquet(plan.get("corpus").asText))
  }

  def verify(): Map[String, Any] = Map.empty

  def probes(): Map[String, Any] = Probes.table(run, kept, None)
}

/** Layer probes of the traced run, taken after the timed phase. */
object Probes {
  private val Repeats = 15

  def table(run: Run, loc: String, pred: Option[Column]): Map[String, Any] = {
    val tr = run.trace
    tr.op = -1
    tr.cls = "probe"
    val fs = Fs.stats(loc)
    val json = new String(Files.readAllBytes(Fs.latestMetadata(loc)), UTF_8)
    val meta = (1 to Repeats).map(_ =>
      tr("model.metadata_parse") { TableMetadataV2.fromJsonString(json) }).last
    (1 to Repeats).foreach(_ =>
      tr("model.metadata_serialize") { meta.toJsonString })
    val t = (1 to Repeats).map(_ => tr("table.metadata_load") {
      val g = GraftTable.load(run.spark, loc); g.metadata; g }).last
    val planned = (1 to Repeats).map(_ =>
      tr("table.plan") { t.planFiles(pred, None) }).last.filter(_.content == 0)
    // files holding a matching row, by Spark's own parquet reader
    val matching = pred.fold(planned.size)(p => planned.count(e =>
      run.spark.read.parquet(e.path).filter(p).limit(1).count() > 0))
    Map("model.metadata_json_bytes" -> json.getBytes(UTF_8).length,
      "table.metadata_files" -> fs.metaFiles,
      "table.metadata_bytes" -> fs.metaBytes,
      "table.files_live" -> t.liveEntries().count(_.content == 0),
      "table.snapshots" -> meta.snapshots.map(_.size).getOrElse(0),
      "table.files_planned" -> planned.size,
      "table.files_matching" -> matching)
  }
}

/** Spans kept in memory for the traced run; in the untraced run `apply`
  * only runs its body.
  */
final class Tracer(spark: SparkSession, val on: Boolean) {
  val spans = ArrayBuffer[Map[String, Any]]()
  var op = -1
  var cls = ""
  private val counters =
    if (!on) None
    else { val c = new Counters; spark.sparkContext.addSparkListener(c); Some(c) }
  def apply[T](name: String)(body: => T): T = counters match {
    case None => body
    case Some(c) =>
      PerfbenchBus.drain(spark.sparkContext)
      val (c0, cpu0, g0) = (c.read, Machine.processCpuNs(), PerfbenchBus.codegenCompiles())
      val t0 = System.nanoTime
      val v = body
      val t1 = System.nanoTime
      PerfbenchBus.drain(spark.sparkContext)
      val (c1, cpu1, g1) = (c.read, Machine.processCpuNs(), PerfbenchBus.codegenCompiles())
      val taskMs = (c1(2) - c0(2)) / 1e6
      spans += Map("name" -> name, "op" -> op, "cls" -> cls,
        "t0_ns" -> t0, "ms" -> (t1 - t0) / 1e6,
        "spark_jobs" -> (c1(0) - c0(0)), "spark_tasks" -> (c1(1) - c0(1)),
        "executor_cpu_ms" -> taskMs,
        "driver_cpu_ms" -> ((cpu1 - cpu0) / 1e6 - taskMs),
        "bytes_read" -> (c1(3) - c0(3)),
        "shuffle_write_bytes" -> (c1(4) - c0(4)),
        "codegen_compiles" -> (g1 - g0))
      v
  }

  /** Adds fields to the latest span (the op span just closed). */
  def annotate(fields: Map[String, Any]): Unit =
    if (on) spans(spans.size - 1) = spans.last ++ fields
}

final class Counters extends SparkListener {
  private val c = Array.fill(5)(new AtomicLong)
  override def onJobStart(e: SparkListenerJobStart): Unit =
    c(0).incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    c(1).incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      c(2).addAndGet(m.executorCpuTime)
      c(3).addAndGet(m.inputMetrics.bytesRead)
      c(4).addAndGet(m.shuffleWriteMetrics.bytesWritten)
    }
  }
  def read: Array[Long] = c.map(_.get)
}

final case class FsStats(dataFiles: Long, metaFiles: Long, metaBytes: Long)

object Fs {
  private def files(p: Path): Seq[Path] =
    if (!Files.exists(p)) Seq.empty
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).toList
      finally s.close()
    }

  def stats(loc: String): FsStats = {
    val meta = Paths.get(loc, "metadata")
    val all = files(Paths.get(loc))
    val (m, d) = all.partition(_.startsWith(meta))
    FsStats(d.count(_.toString.endsWith(".parquet")), m.size,
      m.map(Files.size).sum)
  }

  private val Version = """v(\d+)\.metadata\.json""".r

  def latestMetadata(loc: String): Path =
    files(Paths.get(loc, "metadata")).flatMap { p =>
      p.getFileName.toString match {
        case Version(n) => Some(n.toInt -> p)
        case _ => None
      }
    }.maxBy(_._1)._2
}

/** Process CPU time, and the steal share and load average over the timed
  * window, from /proc.
  */
object Machine {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of every thread of this process; time stolen by the
    * hypervisor is not in it.
    */
  def processCpuNs(): Long = os.getProcessCpuTime

  /** Time spent in garbage collection, and by the JIT compilers, so far. */
  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  private def cpu(): Array[Long] = {
    val line = Files.readAllLines(Paths.get("/proc/stat")).get(0)
    line.trim.split("\\s+").drop(1).take(8).map(_.toLong)
  }

  def read(): (Array[Long], Long) = (cpu(), System.nanoTime)

  def delta(a: (Array[Long], Long), b: (Array[Long], Long)): Map[String, Any] = {
    val d = b._1.zip(a._1).map { case (x, y) => x - y }
    val load = new String(Files.readAllBytes(Paths.get("/proc/loadavg")), UTF_8)
      .trim.split(" ")
    Map("steal_share" -> d(7).toDouble / math.max(1L, d.sum),
      "steal_jiffies" -> d(7), "cpu_jiffies" -> d.sum,
      "loadavg_1m" -> load(0).toDouble, "loadavg_5m" -> load(1).toDouble,
      "window_s" -> (b._2 - a._2) / 1e9)
  }

  def peakRssKb(): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)
}

/** Minimal JSON writer for maps, sequences, strings and numbers. */
object Json {
  private def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def write(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => write(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => write(f.toDouble)
    case n: Number => n.toString
    case m: Map[_, _] => m.map { case (k, x) => str(k.toString) + ":" + write(x) }
      .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(write).mkString("[", ",", "]")
    case a: Array[_] => write(a.toSeq)
    case o => str(o.toString)
  }
}
