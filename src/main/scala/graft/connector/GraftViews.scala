package graft.connector

import graft.model.Json
import org.apache.spark.sql.connector.catalog.{View, ViewInfo}
import org.apache.spark.sql.types.StructType
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** Versioned SQL-view metadata, persisted table-adjacent (the successor
  * crate's view surface — reference lib.rs:21 points at SQL views as the
  * first post-serde feature; the published Iceberg view spec defines the
  * metadata shape this follows: view-uuid / versions[] with SQL
  * representations / current-version-id / version-log).
  *
  * Layout: `warehouse/ns/viewName/viewmeta/v{N}.view-metadata.json`.
  * Each file carries the FULL state (all versions), like table metadata
  * carries all snapshots; the current state is the highest N, and a new
  * version (CREATE OR REPLACE, ALTER) claims N+1 exclusively — the
  * same atomic optimistic-concurrency commit as tables. `viewmeta/` is
  * deliberately distinct from a table's `metadata/` dir so view dirs can
  * never be mistaken for table dirs by the TableCatalog paths.
  *
  * The stored SQL is the view's fixed text; resolution happens at read
  * time against the stored default catalog/namespace, so a view is
  * stable under `USE` changes and always reflects the CURRENT state of
  * the tables it references (standard view semantics), while its own
  * definition history stays replayable from `versions`.
  */
private[graft] object GraftViews {

  /** View property marking a MATERIALIZED view: the same dir also holds
    * a graft TABLE (the last refresh's rows) that serves reads.
    */
  val MaterializedProp = "graft.materialized"

  def metaDir(viewPath: Path): Path = viewPath.resolve("viewmeta")

  def isViewDir(p: Path): Boolean = Files.isDirectory(metaDir(p))

  private def versionFiles(dir: Path): Seq[(Int, Path)] = {
    if (!Files.isDirectory(dir)) return Seq.empty
    val ls = Files.list(dir)
    try ls.iterator.asScala.flatMap { p =>
      val n = p.getFileName.toString
      if (n.startsWith("v") && n.endsWith(".view-metadata.json"))
        n.stripPrefix("v").stripSuffix(".view-metadata.json")
          .toIntOption.map(_ -> p)
      else None
    }.toList.sortBy(_._1)
    finally ls.close()
  }

  /** One persisted view version: everything Spark's View contract needs
    * to re-resolve the SQL exactly as written.
    */
  case class ViewVersion(versionId: Int, timestampMs: Long,
      operation: String, sql: String, currentCatalog: String,
      currentNamespace: Seq[String], schemaDdl: String,
      queryColumnNames: Seq[String], columnAliases: Seq[String],
      columnComments: Seq[Option[String]], properties: Map[String, String])

  case class ViewState(uuid: String, location: String,
      versions: Seq[ViewVersion], currentVersionId: Int) {
    def current: ViewVersion =
      versions.find(_.versionId == currentVersionId).getOrElse(
        throw new IllegalStateException(
          s"view at $location: current-version-id $currentVersionId " +
            "not in versions"))
  }

  def load(viewPath: Path): Option[ViewState] =
    loadWithVersion(viewPath).map(_._2)

  /** Load with the version-FILE number (the optimistic-commit claim
    * domain the REST view protocol asserts against).
    */
  def loadWithVersion(viewPath: Path): Option[(Int, ViewState)] = {
    val vf = versionFiles(metaDir(viewPath))
    vf.lastOption.map { case (n, p) => (n, fromJson(Files.readString(p))) }
  }

  /** Write `st` as version file `expectedVersion + 1`, refusing if the
    * current version file is not `expectedVersion` — the REST server's
    * commit claim. The claim is a hard link of a fully written temp file:
    * link(2) fails if the slot exists (the serializer, like CREATE_NEW)
    * and publishes the whole document at once, so a concurrent reader
    * never parses a created-but-unwritten version file.
    */
  def commitState(viewPath: Path, expectedVersion: Int,
      st: ViewState): Int = {
    val dir = metaDir(viewPath)
    Files.createDirectories(dir)
    val cur = versionFiles(dir).lastOption.map(_._1).getOrElse(0)
    if (cur != expectedVersion)
      throw new graft.table.CommitConflictException(
        s"view at $viewPath moved: expected version $expectedVersion, " +
          s"found $cur")
    val n = expectedVersion + 1
    val tmp = Files.createTempFile(dir, ".v", ".tmp")
    try {
      Files.writeString(tmp, toJson(st))
      Files.createLink(dir.resolve(f"v$n%05d.view-metadata.json"), tmp)
    } finally Files.deleteIfExists(tmp)
    n
  }

  /** The successor state appending `next` to `prev` (None for CREATE).
    * Shared by the file commit below and the REST-mode client, so both
    * commit authorities serialize the identical state shape.
    */
  def nextState(viewPath: Path, prev: Option[ViewState],
      next: ViewVersion): ViewState =
    ViewState(
      uuid = prev.map(_.uuid).getOrElse(
        java.util.UUID.randomUUID().toString),
      location = viewPath.toString,
      versions = prev.map(_.versions).getOrElse(Seq.empty) :+ next,
      currentVersionId = next.versionId)

  // NOTE: there is deliberately no commit() that numbers the next
  // version from a fresh directory listing — a stale-base writer would
  // land as a HIGHER version and silently drop the racing commit's
  // change. Every commit goes through commitState's base-version claim
  // (directly in file mode, via the REST server's check in REST mode).

  def toJson(st: ViewState): String = {
    val o = Json.obj
    o.put("view-uuid", st.uuid)
    o.put("format-version", 1)
    o.put("location", st.location)
    o.put("current-version-id", st.currentVersionId)
    val va = o.putArray("versions")
    st.versions.foreach { v =>
      val vo = va.addObject()
      vo.put("version-id", v.versionId)
      vo.put("timestamp-ms", v.timestampMs)
      vo.putObject("summary").put("operation", v.operation)
      val rep = vo.putArray("representations").addObject()
      rep.put("type", "sql")
      rep.put("sql", v.sql)
      rep.put("dialect", "spark")
      vo.put("default-catalog", v.currentCatalog)
      val ns = vo.putArray("default-namespace")
      v.currentNamespace.foreach(ns.add)
      vo.put("schema-ddl", v.schemaDdl)
      val qn = vo.putArray("query-column-names")
      v.queryColumnNames.foreach(qn.add)
      val ca = vo.putArray("column-aliases")
      v.columnAliases.foreach(ca.add)
      val cc = vo.putArray("column-comments")
      v.columnComments.foreach {
        case Some(c) => cc.add(c)
        case None => cc.addNull()
      }
      val pr = vo.putObject("properties")
      v.properties.toSeq.sortBy(_._1).foreach { case (k, x) =>
        pr.put(k, x) }
    }
    val log = o.putArray("version-log")
    st.versions.foreach { v =>
      val lo = log.addObject()
      lo.put("timestamp-ms", v.timestampMs)
      lo.put("version-id", v.versionId)
    }
    Json.write(o)
  }

  def fromJson(s: String): ViewState = {
    val o = Json.parse(s)
    val versions = o.path("versions").elements().asScala.map { vo =>
      val reps = vo.path("representations").elements().asScala.toSeq
      val sqlRep = reps.find(_.path("type").asText() == "sql").getOrElse(
        throw new IllegalStateException("view version has no SQL " +
          "representation"))
      ViewVersion(
        versionId = vo.path("version-id").asInt(),
        timestampMs = vo.path("timestamp-ms").asLong(),
        operation = vo.path("summary").path("operation").asText(),
        sql = sqlRep.path("sql").asText(),
        currentCatalog = vo.path("default-catalog").asText(),
        currentNamespace = vo.path("default-namespace").elements()
          .asScala.map(_.asText()).toSeq,
        schemaDdl = vo.path("schema-ddl").asText(),
        queryColumnNames = vo.path("query-column-names").elements()
          .asScala.map(_.asText()).toSeq,
        columnAliases = vo.path("column-aliases").elements()
          .asScala.map(_.asText()).toSeq,
        columnComments = vo.path("column-comments").elements()
          .asScala.map(n => if (n.isNull) None else Some(n.asText()))
          .toSeq,
        properties = {
          val it = vo.path("properties").fields()
          val b = Map.newBuilder[String, String]
          while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue.asText() }
          b.result()
        })
    }.toSeq
    ViewState(
      uuid = o.path("view-uuid").asText(),
      location = o.path("location").asText(),
      versions = versions,
      currentVersionId = o.path("current-version-id").asInt())
  }

  def versionFromInfo(info: ViewInfo, versionId: Int,
      operation: String): ViewVersion =
    ViewVersion(
      versionId = versionId,
      timestampMs = System.currentTimeMillis(),
      operation = operation,
      sql = info.sql,
      currentCatalog = info.currentCatalog,
      currentNamespace = Option(info.currentNamespace)
        .map(_.toSeq).getOrElse(Seq.empty),
      schemaDdl = info.schema.toDDL,
      queryColumnNames = Option(info.queryColumnNames)
        .map(_.toSeq).getOrElse(Seq.empty),
      columnAliases = Option(info.columnAliases)
        .map(_.toSeq).getOrElse(Seq.empty),
      columnComments = Option(info.columnComments)
        .map(_.toSeq.map(Option(_))).getOrElse(Seq.empty),
      properties = Option(info.properties)
        .map(_.asScala.toMap).getOrElse(Map.empty))
}

/** Spark DSv2 View over a persisted [[GraftViews.ViewVersion]]. */
private[graft] class GraftView(viewName: String,
    v: GraftViews.ViewVersion) extends View {
  override def name(): String = viewName
  override def query(): String = v.sql
  override def currentCatalog(): String = v.currentCatalog
  override def currentNamespace(): Array[String] =
    v.currentNamespace.toArray
  override def schema(): StructType = StructType.fromDDL(v.schemaDdl)
  override def queryColumnNames(): Array[String] =
    v.queryColumnNames.toArray
  override def columnAliases(): Array[String] = v.columnAliases.toArray
  override def columnComments(): Array[String] =
    v.columnComments.map(_.orNull).toArray
  override def properties(): java.util.Map[String, String] =
    v.properties.asJava
}
