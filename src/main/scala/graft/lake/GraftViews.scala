package graft.lake

import java.nio.file.{Files, Path, Paths}
import java.util.UUID

import scala.jdk.CollectionConverters._

import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.{JsonMethods, Serialization}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NoSuchViewException, ViewAlreadyExistsException}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, SubqueryAlias}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.connector.catalog.{Identifier, View, ViewCatalog, ViewChange, ViewInfo}
import org.apache.spark.sql.types.{DataType, StructType}

/** Catalog-persisted VERSIONED SQL views — the Iceberg view-spec shape
  * (reference: the Nessie/Iceberg catalog the compose stack runs is a
  * view catalog too; Iceberg views store a version list + a current
  * version id and re-resolve late-bound by SQL). A graft view lives
  * under `<warehouse>/<ns>/.views/<name>.json` (a dot-dir, invisible
  * to table listings) as
  * `{name, currentVersionId, versions: [{versionId, timestampMs, sql,
  * schemaJson}], properties}`; `CREATE OR REPLACE VIEW` APPENDS a
  * version (history queryable via `CALL graft_system.view_history`),
  * and reads are LATE-BINDING: the stored SQL re-resolves against the
  * current table state, so an append to the base table is visible
  * through the view immediately — the stored schema is the shape at
  * definition time, kept for DESCRIBE/validation, never to freeze the
  * data.
  *
  * Spark 4.1 ships the DSv2 `ViewCatalog` interface but its analyzer
  * does not yet consult it for relation resolution, so graft wires the
  * two missing pieces the same way its other SQL surface works:
  * `GraftSqlParser` recognizes multi-part `CREATE [OR REPLACE] VIEW` /
  * `DROP VIEW` targeting the graft warehouse, and
  * [[GraftViewSubstitution]] (an injected resolution rule) replaces
  * `UnresolvedRelation`s naming a stored view with its parsed SQL —
  * nested views resolve on subsequent fixpoint iterations (a cyclic
  * definition aborts on the analyzer's max-iteration guard rather
  * than looping). */
private[graft] object GraftViews {

  private implicit val formats: Formats = DefaultFormats

  case class ViewVersion(versionId: Int, timestampMs: Long, sql: String,
      schemaJson: String)
  case class ViewDef(name: String, currentVersionId: Int,
      versions: Seq[ViewVersion], properties: Map[String, String]) {
    def current: ViewVersion = versions.find(_.versionId == currentVersionId)
      .getOrElse(versions.last)
  }

  private def viewsDir(wh: String, ns: Seq[String]): Path =
    Paths.get(wh, ns: _*).resolve(".views")
  private def viewPath(wh: String, ns: Seq[String], name: String): Path =
    viewsDir(wh, ns).resolve(s"$name.json")

  def exists(wh: String, ns: Seq[String], name: String): Boolean =
    Files.isRegularFile(viewPath(wh, ns, name))

  def load(wh: String, ns: Seq[String], name: String): Option[ViewDef] =
    Option.when(exists(wh, ns, name))(
      JsonMethods.parse(Files.readString(viewPath(wh, ns, name))).extract[ViewDef])

  def list(wh: String, ns: Seq[String]): Seq[String] = {
    val d = viewsDir(wh, ns)
    if (!Files.isDirectory(d)) Seq.empty
    else Files.list(d).iterator().asScala
      .map(_.getFileName.toString).filter(_.endsWith(".json"))
      .map(_.stripSuffix(".json")).toSeq.sorted
  }

  /** Create (or, with `orReplace`, append a version to) a view. The
    * write is tmp + atomic move — readers see the old or the new
    * definition, never a partial file. */
  def createOrReplace(wh: String, ns: Seq[String], name: String, sql: String,
      schema: StructType, orReplace: Boolean,
      properties: Map[String, String] = Map.empty): ViewDef = {
    val prior = load(wh, ns, name)
    if (prior.isDefined && !orReplace)
      throw new ViewAlreadyExistsException(
        Identifier.of(ns.toArray, name))
    val nextId = prior.map(_.versions.map(_.versionId).max + 1).getOrElse(1)
    val v = ViewVersion(nextId, System.currentTimeMillis(), sql, schema.json)
    val d = ViewDef(name, nextId,
      prior.map(_.versions).getOrElse(Seq.empty) :+ v,
      prior.map(_.properties).getOrElse(Map.empty) ++ properties)
    write(wh, ns, d)
    d
  }

  private def write(wh: String, ns: Seq[String], d: ViewDef): Unit = {
    val p = viewPath(wh, ns, d.name)
    Files.createDirectories(p.getParent)
    val tmp = p.getParent.resolve(s".tmp-${UUID.randomUUID()}")
    Files.writeString(tmp, Serialization.write(d))
    LakeStore.at(p).place(tmp, p)
  }

  def updateProperties(wh: String, ns: Seq[String], name: String,
      set: Map[String, String], remove: Seq[String]): ViewDef = {
    val d = load(wh, ns, name).getOrElse(
      throw new NoSuchViewException(Identifier.of(ns.toArray, name)))
    val nd = d.copy(properties = d.properties -- remove ++ set)
    write(wh, ns, nd)
    nd
  }

  def drop(wh: String, ns: Seq[String], name: String): Boolean =
    Files.deleteIfExists(viewPath(wh, ns, name))

  def rename(wh: String, fromNs: Seq[String], from: String,
      toNs: Seq[String], to: String): Unit = {
    val d = load(wh, fromNs, from).getOrElse(
      throw new NoSuchViewException(Identifier.of(fromNs.toArray, from)))
    if (exists(wh, toNs, to))
      throw new ViewAlreadyExistsException(Identifier.of(toNs.toArray, to))
    write(wh, toNs, d.copy(name = to))
    drop(wh, fromNs, from)
  }
}

/** The DSv2 View served by GraftSparkCatalog.loadView. */
private[lake] class GraftView(ident: Identifier, catalogName: String,
    d: GraftViews.ViewDef) extends View {
  private def cur = d.current
  override def name(): String = (ident.namespace :+ ident.name).mkString(".")
  override def query(): String = cur.sql
  override def currentCatalog(): String = catalogName
  override def currentNamespace(): Array[String] = ident.namespace
  override def schema(): StructType =
    DataType.fromJson(cur.schemaJson).asInstanceOf[StructType]
  override def queryColumnNames(): Array[String] = schema().fieldNames
  override def columnAliases(): Array[String] = Array.empty
  override def columnComments(): Array[String] = Array.empty
  override def properties(): java.util.Map[String, String] =
    (d.properties ++ Map(
      "current-version-id" -> d.currentVersionId.toString,
      "versions" -> d.versions.size.toString)).asJava
}

/** Injected resolution rule: substitute stored graft views for the
  * `UnresolvedRelation`s that name them — the piece Spark's analyzer
  * does not yet do for DSv2 view catalogs. Substitution is
  * late-binding (parse the stored SQL fresh each query); nested views
  * resolve across fixpoint iterations. Fires only for identifiers
  * that actually resolve to a stored view file, so every other
  * relation keeps Spark's own resolution and error paths. */
case class GraftViewSubstitution(spark: SparkSession) extends Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation

  private def whOf(cat: String): Option[String] =
    spark.conf.getOption(s"spark.sql.catalog.$cat")
      .filter(_ == "graft.lake.GraftSparkCatalog")
      .flatMap(_ => spark.conf.getOption(s"spark.sql.catalog.$cat.warehouse"))

  /** (warehouse, namespace, name) when the identifier could address a
    * stored view: explicit `cat.ns….v` for ANY configured
    * GraftSparkCatalog, or bare `ns….v` while one is current. The
    * warehouse always comes from the conf keyed by the identifier's
    * OWN catalog name — never a hardcoded catalog. */
  private def target(parts: Seq[String]): Option[(String, Seq[String], String)] = {
    val explicit = Option.when(parts.length >= 3)(parts.head).flatMap(whOf)
      .map(wh => (wh, parts.tail.init, parts.last))
    explicit.orElse {
      val cur = spark.sessionState.catalogManager.currentCatalog.name
      Option.when(parts.length >= 2)(cur).flatMap(whOf)
        .map(wh => (wh, parts.init, parts.last))
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperatorsUp {
    case u: UnresolvedRelation =>
      (for {
        (wh, ns, name) <- target(u.multipartIdentifier)
        d <- GraftViews.load(wh, ns, name)
      } yield SubqueryAlias(name,
        spark.sessionState.sqlParser.parseQuery(d.current.sql))).getOrElse(u)
  }
}
