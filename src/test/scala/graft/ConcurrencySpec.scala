package graft

import graft.table.GraftTable
import org.apache.spark.sql.functions._

/** Optimistic-concurrency behavior: parallel appends race on the
  * metadata version slot (CREATE_NEW claim) and must ALL land via
  * rebase-and-retry, with no lost updates and an intact snapshot chain.
  */
class ConcurrencySpec extends SparkSpec {

  test("concurrent appends all commit; no lost updates; linear history") {
    val src = Tables.tbl(spark, "/root/testdata/sf0.001", "lineitem")
      .limit(400)
    val t = GraftTable.create(spark,
      java.nio.file.Files.createTempDirectory("conc").toString + "/t",
      src.schema)
    val writers = 6
    val perWriter = src.count() // each appends the same 400 rows
    val pool = java.util.concurrent.Executors.newFixedThreadPool(writers)
    try {
      val futures = (1 to writers).map { _ =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long = t.append(src).snapshotId
        })
      }
      val snapIds = futures.map(_.get(300, java.util.concurrent.TimeUnit.SECONDS))
      assert(snapIds.distinct.size == writers)
    } finally pool.shutdown()
    // every append landed exactly once
    assert(t.scan().count() == perWriter * writers)
    assert(t.countRows() == perWriter * writers)
    val meta = t.metadata
    val snaps = meta.snapshots.get
    assert(snaps.size == writers)
    // sequence numbers are a gapless 1..N chain (each retry rebased)
    assert(snaps.map(_.sequenceNumber).sorted == (1L to writers.toLong))
    // each snapshot's manifest list reuses every prior manifest: the
    // latest references exactly one shard-set per commit
    assert(t.liveManifests().map(_.addedSequenceNumber.get).distinct.size ==
      writers)
  }

  test("compaction rebases across concurrent appends instead of aborting") {
    val src = Tables.tbl(spark, "/root/testdata/sf0.001", "lineitem")
      .limit(300)
    val t = GraftTable.create(spark,
      java.nio.file.Files.createTempDirectory("conc2").toString + "/t",
      src.schema)
    t.append(src.repartition(8)) // 8 undersized files → compactable
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      // racing appends force version-claim conflicts; compactBinPack must
      // rebase (re-derive the small-file set) rather than surface a
      // CommitConflictException like it used to
      val appends = pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit =
          (1 to 3).foreach(_ => t.append(src.limit(50).repartition(2)))
      })
      val compact = pool.submit(new java.util.concurrent.Callable[Long] {
        def call(): Long = t.compactBinPack().snapshotId
      })
      compact.get(300, java.util.concurrent.TimeUnit.SECONDS)
      appends.get(300, java.util.concurrent.TimeUnit.SECONDS)
    } finally pool.shutdown()
    assert(t.scan().count() == 300L + 3 * 50L)
    assert(t.countRows() == 450L)
  }

  test("MoR maintenance rewrites rebase across concurrent appends") {
    import spark.implicits._
    val df0 = (1L to 300L).map(i => (i, s"v$i")).toDF("id", "v")
    val t = GraftTable.create(spark,
      java.nio.file.Files.createTempDirectory("conc3").toString + "/t",
      df0.schema)
    t.append(df0)
    (0 until 3).foreach(i => t.deleteWhereMoR(col("id") % 50 === i))
    t.deleteWhereEq((200L to 210L).toDF("id"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      // appends race both maintenance commits; each must rebase and
      // re-derive rather than abort or drop the racing rows
      val appends = pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit = (1 to 3).foreach(k =>
          t.append((1000L * k to 1000L * k + 20).map(i => (i, s"n$i"))
            .toDF("id", "v")))
      })
      val maint = pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit = {
          t.convertEqualityDeletes()
          t.rewritePositionDeletes()
        }
      })
      maint.get(300, java.util.concurrent.TimeUnit.SECONDS)
      appends.get(300, java.util.concurrent.TimeUnit.SECONDS)
    } finally pool.shutdown()
    val expected = 300L - (1L to 300L).count(i =>
      i % 50 < 3 || (i >= 200 && i <= 210 && i % 50 >= 3)) + 3 * 21L
    assert(t.scan().count() == expected)
    assert(t.countRows() == expected)
    assert(t.liveManifests().forall(_.content != 2),
      "equality manifests must be gone after conversion")
  }

  test("incremental re-cluster never resurrects rows deleted mid-rewrite") {
    import spark.implicits._
    val t = GraftTable.create(spark,
      java.nio.file.Files.createTempDirectory("conc-rc").toString + "/t",
      spark.range(0).select(col("id"),
        col("id").cast("string").as("v")).schema)
    // 8 files with disjoint id ranges
    (0 until 8).foreach { k =>
      t.append(spark.range(k * 100L, k * 100L + 100L)
        .select(col("id"), col("id").cast("string").as("v")).coalesce(1))
    }
    // MoR deletes racing the group rewrites: if a delete lands between a
    // group's read and its commit, the group MUST re-derive — otherwise
    // its rewritten files would resurrect the just-deleted row
    val deleted = (0 until 6).map(k => k * 100L + 7L)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val deleter = pool.submit(new Runnable {
        def run(): Unit = deleted.foreach { id =>
          t.deleteWhereMoR(col("id") === id)
          Thread.sleep(15)
        }
      })
      val snaps = t.compactIncremental(Seq(col("id")), maxGroupBytes = 1L)
      deleter.get(300, java.util.concurrent.TimeUnit.SECONDS)
      assert(snaps.nonEmpty)
    } finally pool.shutdown()
    assert(t.scan().count() == 800L - deleted.size)
    assert(t.scan().filter(col("id").isin(deleted: _*)).count() == 0,
      "deleted rows resurrected by the re-cluster")
    assert(t.countRows() == 800L - deleted.size)
  }

  test("racing deletion-vector deletes serialize: merged DVs stay exact") {
    import spark.implicits._
    val t = GraftTable.create(spark,
      java.nio.file.Files.createTempDirectory("conc-dv").toString + "/t",
      (1L to 1000L).map(i => (i, i % 10)).toDF("id", "grp").schema)
    t.append((1L to 1000L).map(i => (i, i % 10)).toDF("id", "grp")
      .repartition(4))
    // 4 writers DV-delete disjoint groups concurrently; every delete
    // touches EVERY data file (grp is spread across all of them), so
    // each commit must merge the racing winners' vectors via
    // conflict-rebase — a lost update would resurrect a group
    val groups = Seq(1L, 3L, 5L, 7L)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(groups.size)
    try {
      val fs = groups.map { g =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long = t.deleteWhereDv(col("grp") === g).snapshotId
        })
      }
      fs.foreach(_.get(300, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdown()
    val expected = (1L to 1000L).count(i => !groups.contains(i % 10))
    assert(t.scan().count() == expected)
    assert(t.countRows() == expected, "merged DV cardinalities must stay " +
      "exact under racing deletes")
    assert(t.scan().filter(col("grp").isin(groups: _*)).count() == 0)
    // supersession held: at most ONE deletion vector per data file
    val dvFiles = t.liveManifests(None).filter(_.content == 1)
      .flatMap(_.entries).flatMap(_.dv.map(_.dataFile))
    assert(dvFiles.nonEmpty && dvFiles.distinct.size == dvFiles.size)
  }

  test("DDL racing appends: schema/property/ref changes all land") {
    import spark.implicits._
    val src = (1L to 200L).map(i => (i, i % 7)).toDF("id", "grp")
    val t = GraftTable.create(spark,
      java.nio.file.Files.createTempDirectory("conc-ddl").toString + "/t",
      src.schema)
    val s0 = t.append(src)
    // a busy writer commits continuously; every metadata-only op must
    // rebase-and-retry instead of surfacing a spurious version conflict
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val appends = pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit = (1 to 6).foreach(_ => t.append(src.limit(20)))
      })
      val ddl = pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit = {
          // additive changes only: renaming a column the racing appends
          // still provide is a schema-compat error by design, not a
          // commit race. The write-default keeps old-shape appends valid.
          t.addColumn("note", org.apache.spark.sql.types.StringType,
            initialDefault = None, writeDefault = Some("n/a"))
          t.updateProperties(Map("owner" -> Some("race")))
          t.createTag("v-race", s0.snapshotId)
          t.replaceSortOrder(Seq(("id", graft.model.TIdentity)))
        }
      })
      appends.get(300, java.util.concurrent.TimeUnit.SECONDS)
      ddl.get(300, java.util.concurrent.TimeUnit.SECONDS)
    } finally pool.shutdown()
    // the rename lands cleanly once the writers drain
    t.renameColumn("grp", "grp2")
    val meta = t.metadata
    assert(meta.currentSchema.fieldByName("note").isDefined)
    assert(meta.currentSchema.fieldByName("grp2").isDefined)
    assert(meta.properties.exists(_.get("owner").contains("race")))
    assert(meta.refs.exists(_.contains("v-race")))
    assert(meta.defaultSortOrderId != 0L)
    assert(t.scan().count() == 200L + 6 * 20)
    assert(t.scanRef("v-race").count() == 200L)
  }

  test("lineage OVERWRITE racing appends: ids stay unique and dense") {
    import spark.implicits._
    def df(r: Range, g: Long) = r.map(i => (i.toLong, g)).toDF("id", "grp")
    val t = GraftTable.create(spark,
      java.nio.file.Files.createTempDirectory("conc-lin").toString + "/t",
      df(1 to 1, 0L).schema,
      properties = Map(GraftTable.RowLineageProp -> "true"))
    t.append(df(1 to 300, 1L).union(df(301 to 600, 2L)).repartition(3))
    // an INSERT OVERWRITE of grp=1 races three appends: every commit's
    // retry must re-derive its id base from the winner's next-row-id —
    // a stale base would mint duplicate _row_ids
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val appends = pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit = (1 to 3).foreach(k =>
          t.append(df(1000 * k to 1000 * k + 99, 9L)))
      })
      val ow = pool.submit(new java.util.concurrent.Callable[Long] {
        def call(): Long =
          t.overwriteWhere(col("grp") === 1L, df(601 to 650, 1L))
            .snapshotId
      })
      appends.get(300, java.util.concurrent.TimeUnit.SECONDS)
      ow.get(300, java.util.concurrent.TimeUnit.SECONDS)
    } finally pool.shutdown()
    val lin = t.scanWithLineage().cache()
    val n = 300 /*grp2*/ + 50 /*replacement*/ + 300 /*appends*/
    assert(lin.count() == n)
    assert(lin.select("_row_id").distinct().count() == n,
      "racing overwrite/append minted duplicate row ids")
    // the id space is dense: high-water mark equals ids ever assigned
    // (600 initial + 50 overwrite + 300 appends)
    assert(t.metadata.nextRowId.contains(950L))
    assert(lin.agg(max("_row_id")).head().getLong(0) == 949L)
    // grp=1 originals are gone; replacement rows carry FRESH ids (>=600)
    assert(lin.filter(col("grp") === 1L).count() == 50)
    assert(lin.filter(col("grp") === 1L)
      .agg(min("_row_id")).head().getLong(0) >= 600L)
    lin.unpersist()
  }

  test("racing addColumn calls never share a field id") {
    import graft.model._
    import org.apache.spark.sql.types._
    val t = GraftTable.create(spark,
      java.nio.file.Files.createTempDirectory("conc-addcol").toString + "/t",
      new StructType().add("id", LongType, nullable = false))
    // nested types make the stale-snapshot bug loud: each call allocates
    // SEVERAL ids, so a retry that re-applies precomputed ids overlaps a
    // whole id RANGE with the winner's, not just one id
    val cols: Seq[(String, DataType)] = Seq(
      "a" -> IntegerType,
      "b" -> new StructType().add("x", LongType).add("y", StringType),
      "c" -> ArrayType(DoubleType),
      "d" -> MapType(StringType, LongType),
      "e" -> new StructType().add("p", ArrayType(IntegerType)),
      "f" -> StringType)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(cols.size)
    try {
      val fs = cols.map { case (n, dt) =>
        pool.submit(new Runnable { def run(): Unit = t.addColumn(n, dt) })
      }
      fs.foreach(_.get(300, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdown()
    val meta = t.metadata
    val schema = meta.currentSchema
    // every requested column landed
    cols.foreach { case (n, _) =>
      assert(schema.fieldByName(n).isDefined, s"column $n missing") }
    // collect EVERY id in the tree (struct members, list elements, map
    // key/value) — the bug class is two evolutions sharing any of them
    def idsOf(tp: IceType): Seq[Int] = tp match {
      case TStruct(nfs) => nfs.flatMap(f => f.id +: idsOf(f.fieldType))
      case TList(id, _, el) => id +: idsOf(el)
      case TMap(kid, k, vid, _, v) =>
        Seq(kid, vid) ++ idsOf(k) ++ idsOf(v)
      case _ => Seq.empty
    }
    val all = schema.fields.flatMap(f => f.id +: idsOf(f.fieldType))
    assert(all.distinct.size == all.size,
      s"duplicate field ids minted under concurrency: ${all.sorted}")
    assert(meta.lastColumnId == all.max,
      "lastColumnId must be the id high-water mark")
  }

  test("concurrent ALTER VIEW property commits serialize via retry") {
    val wh = java.nio.file.Files
      .createTempDirectory("conc-view-wh").toString
    spark.conf.set("spark.sql.catalog.gcv", "graft.connector.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gcv.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gcv.db")
    spark.sql("CREATE TABLE gcv.db.t (id BIGINT)")
    spark.sql("CREATE VIEW gcv.db.v AS SELECT id FROM gcv.db.t")
    val writers = 6
    val pool = java.util.concurrent.Executors.newFixedThreadPool(writers)
    try {
      val futures = (1 to writers).map { i =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = spark.sql(
            s"ALTER VIEW gcv.db.v SET TBLPROPERTIES ('k$i' = 'v$i')")
        })
      }
      futures.foreach(_.get(300, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdown()
    // every writer's property landed (the base-version claim + retry:
    // a stale-base commit CONFLICTS and re-derives instead of silently
    // overwriting the racing winner), and the version history is a
    // gapless chain — one create plus one version per alter
    val st = graft.connector.GraftViews.load(
      java.nio.file.Paths.get(wh, "db", "v")).get
    val props = st.current.properties
    (1 to writers).foreach(i => assert(props.get(s"k$i").contains(s"v$i"),
      s"lost update: k$i missing from $props"))
    assert(st.versions.size == writers + 1,
      s"expected ${writers + 1} versions, got ${st.versions.size}")
  }

  test("a reader racing view commits never sees a half-written version") {
    import graft.connector.GraftViews
    val p = java.nio.file.Files.createTempDirectory("conc-view-read")
      .resolve("v")
    def version(id: Int) = GraftViews.ViewVersion(id, 0L, "alter",
      "SELECT 1 AS one", "spark_catalog", Seq("db"), "one INT",
      Seq("one"), Seq.empty, Seq.empty, Map("k" -> id.toString))
    GraftViews.commitState(p, 0, GraftViews.nextState(p, None, version(1)))
    val commits = 300
    @volatile var done = false
    val reader = java.util.concurrent.Executors.newSingleThreadExecutor()
    try {
      // every load must parse a complete state whose current version is
      // in its own history — an exclusive-create claim that is visible
      // before its bytes are written fails here
      val reads = reader.submit(new java.util.concurrent.Callable[Int] {
        def call(): Int = {
          var n = 0
          while (!done) { GraftViews.load(p).get.current; n += 1 }
          n
        }
      })
      try (1 until commits).foreach { i =>
        val (n, st) = GraftViews.loadWithVersion(p).get
        GraftViews.commitState(p, n,
          GraftViews.nextState(p, Some(st), version(i + 1)))
      } finally done = true
      assert(reads.get(300, java.util.concurrent.TimeUnit.SECONDS) > 0)
    } finally reader.shutdown()
    val st = GraftViews.load(p).get
    assert(st.versions.size == commits)
    assert(st.current.properties("k") == commits.toString)
  }
}
