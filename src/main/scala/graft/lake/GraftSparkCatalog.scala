package graft.lake

import java.nio.file.{Files, Paths}
import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession, SQLContext}
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.catalog.constraints.{Check => V2Check, Constraint => V2Constraint}
import org.apache.spark.sql.connector.expressions.{Expressions, Literal => VLiteral, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar}
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, Statistics, SupportsPushDownAggregates, SupportsPushDownFilters, SupportsPushDownLimit, SupportsPushDownRequiredColumns, SupportsReportStatistics, V1Scan}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsOverwrite, V1Write, Write, WriteBuilder}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.{ByteType, DataType, DecimalType, DoubleType, FloatType, IntegerType, LongType, ShortType, StringType, StructType, TimestampNTZType, TimestampType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The SQL front door as a real DataSource-v2 catalog — the reference's
  * UX (reference: SPARK_ICEBERG_GUIDE.md §§3-8 drives everything
  * through `spark.sql` against a configured catalog):
  *
  * {{{
  *   --conf spark.sql.catalog.graft=graft.lake.GraftSparkCatalog
  *   --conf spark.sql.catalog.graft.warehouse=/path/wh
  *
  *   CREATE NAMESPACE graft.lab
  *   CREATE TABLE graft.lab.t (id BIGINT, ts TIMESTAMP_NTZ)
  *     PARTITIONED BY (days(ts)) TBLPROPERTIES ('k'='v')
  *   INSERT INTO graft.lab.t VALUES ...
  *   SELECT * FROM graft.lab.t WHERE id > 5          -- stats+partition pruned
  *   SELECT * FROM graft.lab.t VERSION AS OF 3       -- time travel
  *   SELECT * FROM graft.lab.t.snapshots             -- metadata tables
  *   ALTER TABLE graft.lab.t SET TBLPROPERTIES ('k'='v2')
  * }}}
  *
  * Reads bridge through V1Scan → PrunedFilteredScan, so column pruning
  * and pushed filters flow into GraftTable's partition/stats file
  * pruning and from there into the parquet scan. Writes bridge through
  * V1Write → InsertableRelation onto append/overwrite — the commit
  * protocol (snapshot isolation, conflict detection) is unchanged.
  */
object GraftSparkCatalog {
  /** Conf-driven S3 mounts, keyed by mount IDENTITY (endpoint, bucket,
    * warehouse, prefix, region — everything except the credentials).
    * The value retains the full key (credentials included) plus the
    * AutoCloseable mount handles: a catalog re-initialized with the
    * SAME identity and key is a no-op (no duplicate hook stacking),
    * while one re-initialized after a CREDENTIAL ROTATION closes the
    * superseded mount before registering the new one — without this,
    * every rotation would leak a registry entry + HTTP client signing
    * with the revoked key forever, and correctness would rest on the
    * newest-mount tie-break alone. */
  private val s3Mounts = new java.util.concurrent.ConcurrentHashMap[
    String, (String, Seq[AutoCloseable])]()

  private def closeQuietly(hs: Seq[AutoCloseable]): Unit =
    hs.foreach(h => try h.close() catch { case _: Throwable => () })

  /** Spec observability: live conf-mount entries for `warehouse` —
    * proves a credential rotation REPLACED (not stacked) its mount. */
  private[graft] def confMountCount(warehouse: String): Int = {
    var n = 0
    s3Mounts.forEach((k, _) => if (k.split('|').lift(2).contains(warehouse)) n += 1)
    n
  }

  /** Close and forget every conf-driven mount whose warehouse is
    * `warehouse` — the unmount point a pure-conf deployment otherwise
    * lacks (a spec's in-JVM server must not stay mounted for the rest
    * of the shared test JVM; a long-lived driver can detach a
    * decommissioned store). */
  def closeConfMounts(warehouse: String): Unit =
    s3Mounts.synchronized {
      val it = s3Mounts.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (e.getKey.split('|').lift(2).contains(warehouse)) {
          closeQuietly(e.getValue._2)
          it.remove()
        }
      }
    }
}

class GraftSparkCatalog extends TableCatalog with SupportsNamespaces
    with StagingTableCatalog with FunctionCatalog
    with org.apache.spark.sql.connector.catalog.ViewCatalog {

  // ── views (DSv2 ViewCatalog over the GraftViews store) ──────────────
  // Spark 4.1's analyzer does not consult this interface yet —
  // GraftViewSubstitution does the relation resolution — but the
  // catalog speaks the standard API so tooling (and a future Spark)
  // can list/load/alter graft views like any other view catalog.

  override def listViews(namespace: String*): Array[Identifier] =
    GraftViews.list(warehouse, namespace.toSeq)
      .map(n => Identifier.of(namespace.toArray, n)).toArray

  override def loadView(ident: Identifier): org.apache.spark.sql.connector.catalog.View =
    GraftViews.load(warehouse, ident.namespace.toSeq, ident.name)
      .map(d => new GraftView(ident, catalogName, d))
      .getOrElse(throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchViewException(ident))

  override def viewExists(ident: Identifier): Boolean =
    GraftViews.exists(warehouse, ident.namespace.toSeq, ident.name)

  override def createView(info: org.apache.spark.sql.connector.catalog.ViewInfo)
      : org.apache.spark.sql.connector.catalog.View = {
    val ident = info.ident()
    require(!isTable(rootOf(ident.namespace.toIndexedSeq, ident.name)),
      s"cannot create view ${ident.name}: a table with that name exists")
    val d = GraftViews.createOrReplace(warehouse, ident.namespace.toSeq,
      ident.name, info.sql(), info.schema(), orReplace = false,
      Option(info.properties()).map(_.asScala.toMap).getOrElse(Map.empty))
    new GraftView(ident, catalogName, d)
  }

  override def alterView(ident: Identifier,
      changes: org.apache.spark.sql.connector.catalog.ViewChange*)
      : org.apache.spark.sql.connector.catalog.View = {
    import org.apache.spark.sql.connector.catalog.ViewChange
    val sets = changes.collect {
      case s: ViewChange.SetProperty => s.property() -> s.value() }.toMap
    val removes = changes.collect {
      case r: ViewChange.RemoveProperty => r.property() }
    val d = GraftViews.updateProperties(warehouse, ident.namespace.toSeq,
      ident.name, sets, removes)
    new GraftView(ident, catalogName, d)
  }

  override def dropView(ident: Identifier): Boolean =
    GraftViews.drop(warehouse, ident.namespace.toSeq, ident.name)

  override def renameView(from: Identifier, to: Identifier): Unit =
    GraftViews.rename(warehouse, from.namespace.toSeq, from.name,
      to.namespace.toSeq, to.name)

  // ── functions ───────────────────────────────────────────────────────
  // The partition transforms as catalog-loadable V2 functions. Spark's
  // storage-partitioned-join planner proves two scans hash identically
  // by resolving each side's transform through ITS table's
  // FunctionCatalog and comparing the bound functions' canonical names
  // — identity needs no function, but bucket(n, col) does.

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    Array(Identifier.of(namespace, "bucket"))

  override def loadFunction(ident: Identifier): functions.UnboundFunction =
    ident.name match {
      case "bucket" => GraftBucketFunction
      case _ => throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchFunctionException(ident)
    }

  // ALTER TABLE … ADD/DROP CONSTRAINT and column DEFAULTs route
  // through the catalog only when it declares the capability; without
  // it Spark refuses at analysis time
  override def capabilities(): util.Set[TableCatalogCapability] =
    util.EnumSet.of(TableCatalogCapability.SUPPORT_TABLE_CONSTRAINT,
      TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE)

  private var catalogName: String = "graft"
  private var warehouse: String = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse")).getOrElse(
      throw new IllegalArgumentException(
        s"spark.sql.catalog.$name.warehouse must point at a directory"))
    Files.createDirectories(Paths.get(warehouse))
    // Object-store commit plane by CONF alone — the deployment shape
    // the reference wires via spark-defaults.conf (its compose stack
    // points Spark at the MinIO service by config, never API calls):
    //   spark.sql.catalog.<name>.s3.endpoint    (presence turns it on)
    //   spark.sql.catalog.<name>.s3.bucket      (required)
    //   spark.sql.catalog.<name>.s3.access-key / s3.secret-key (required)
    //   spark.sql.catalog.<name>.s3.region      (default us-east-1)
    //   spark.sql.catalog.<name>.s3.prefix      (optional key namespace)
    // Arbiter + artifact mirror mount at WAREHOUSE level, so every
    // table under this catalog arbitrates its commits against the
    // store with warehouse-relative key namespacing (multi-table-safe
    // by construction). The hooks live as long as the session's cached
    // catalog instance and are scoped to this warehouse root,
    // delegating foreign paths — same discipline as every other global
    // hook. The mounted-set guard keeps a re-initialized catalog (new
    // session, same JVM) from stacking duplicate hooks.
    Option(options.get("s3.endpoint")).foreach { ep =>
      def req(k: String) = Option(options.get(k)).getOrElse(
        throw new IllegalArgumentException(
          s"spark.sql.catalog.$name.$k is required when s3.endpoint is set"))
      val prefix = Option(options.get("s3.prefix")).getOrElse("")
      val region = Option(options.get("s3.region")).getOrElse("us-east-1")
      // identity = where the mount points PLUS its SHAPE (writer vs
      // lazy follower): a writer catalog and a hydrate-on-demand
      // follower catalog legitimately share one warehouse, and keying
      // them together would let whichever initializes last silently
      // close the other's arbiter/mirror — a writer committing with no
      // remote arbitration is the split-brain this registry exists to
      // prevent. The full key ADDS credentials (the secret too: a
      // secret-only rotation re-signs with the same access key, and
      // omitting it would keep the revoked client 403ing forever) and
      // the client sizing knobs. Same identity + same full key →
      // already mounted, no-op. Same identity + CHANGED full key → the
      // superseded mount CLOSES (flushing its in-flight uploads)
      // before the replacement registers, so the registry never
      // accumulates stale clients.
      val hydrate =
        Option(options.get("s3.hydrate-on-demand")).exists(_.toBoolean)
      // s3.read-in-place=true upgrades reads from hydrating to READING
      // IN PLACE: the native scan's data files resolve to grafts3://
      // URIs served over ranged GETs (footer + projected column
      // chunks — column bytes, not file bytes), while MoR delete files
      // and V1-plane reads keep hydrating. Shape rule: ALONE it keeps
      // the r17 follower contract (a deployed reader conf must never
      // silently upgrade into a writer that arbitrates slots and
      // mirrors foreign objects into the fleet's bucket); combined
      // with any WRITER-shape option (s3.direct-write or
      // s3.local-cache-max-bytes) it joins arbiter + mirror, so budget
      // 0 + read-in-place through pure conf is the reference's exact
      // both-paths deployment (no local lake copy on either path) —
      // previously reachable only via API mounts.
      val inPlace =
        Option(options.get("s3.read-in-place")).exists(_.toBoolean)
      // s3.direct-write=true (writer shape only): staged parquet
      // writes stream to the store as multipart parts and publish by
      // server-side copy — a data file never lands on local disk, not
      // even transiently (the task-side s3a shape; the reference's
      // executors write the store directly). Reads come back through
      // the same catalog's hydration mount (budgeted cache) or in
      // place (s3.read-in-place).
      val directWrite =
        Option(options.get("s3.direct-write")).exists(_.toBoolean)
      // s3.local-cache-max-bytes bounds the mount's local disk: after
      // each scan's hydration (or each commit on the writer shape),
      // least-recently-touched confirmed-remote artifacts evict until
      // local bytes fit. Size it above the SUM of concurrent scans'
      // working sets — an eviction racing a still-running scan fails
      // that scan loudly (never wrong results); a resubmission
      // re-hydrates. Parsed (and so validated) BEFORE anything
      // mutates: its PRESENCE is shape-determining below.
      val cacheBudget = Option(options.get("s3.local-cache-max-bytes"))
        .map(_.toLong)
      // identity = where + SHAPE. cacheBudget PRESENCE is part of the
      // shape since it decides follower-vs-writer for a read-in-place
      // conf: without it here, a read-in-place-alone FOLLOWER catalog
      // and a budgeted read-in-place WRITER catalog on one warehouse
      // would collide and the later initialize would silently close
      // and replace the other's mounts — the follower gaining
      // arbiter+mirror (the silent-upgrade the shape rule forbids) or
      // the writer losing arbitration (split-brain).
      val identity =
        s"$ep|${req("s3.bucket")}|$warehouse|$prefix|$region|" +
          s"hyd=$hydrate|inplace=$inPlace|direct=$directWrite|" +
          s"budget=${cacheBudget.isDefined}"
      val fullKey = identity + "|" + Seq(
        req("s3.access-key"), req("s3.secret-key"),
        Option(options.get("s3.part-size-bytes")).getOrElse(""),
        Option(options.get("s3.multipart-threshold-bytes")).getOrElse(""),
        Option(options.get("s3.part-concurrency")).getOrElse(""),
        Option(options.get("s3.hydration-concurrency")).getOrElse(""),
        Option(options.get("s3.vectored-concurrency")).getOrElse(""),
        Option(options.get("s3.local-cache-max-bytes")).getOrElse(""),
        Option(options.get("s3.eviction-grace-ms")).getOrElse("")).mkString("|")
      GraftSparkCatalog.s3Mounts.synchronized {
        val prev = GraftSparkCatalog.s3Mounts.get(identity)
        if (prev == null || prev._1 != fullKey) {
          // parse + validate EVERYTHING (and build the client) BEFORE
          // closing the superseded mount and before any JVM-global
          // knob mutates: a rotation to an INVALID conf must leave the
          // previous valid mount live (closing first would strand its
          // CLOSED handles under the old fullKey — re-applying the old
          // conf would then no-op against dead mounts and commits
          // would silently run with no arbiter/mirror), and an invalid
          // conf must not leave e.g. the process-wide eviction grace
          // changed for every OTHER mounted catalog on its way to the
          // loud failure
          def sizeOpt(k: String, dflt: Long): Long =
            Option(options.get(k)).map(_.toLong).getOrElse(dflt)
          val partSize = sizeOpt("s3.part-size-bytes", 64L << 20)
          // the client buffers parts on the heap, so the knob is an
          // Int — refuse loudly instead of silently truncating a 5 GiB
          // setting to 1 GiB (real S3's own part ceiling is 5 GiB, but
          // parts that large belong on disk, not a byte[])
          require(partSize >= 1 && partSize <= Int.MaxValue,
            s"spark.sql.catalog.$name.s3.part-size-bytes must be in [1, ${Int.MaxValue}]: $partSize")
          require(!(hydrate && directWrite),
            s"spark.sql.catalog.$name.s3.direct-write is a WRITER-shape " +
              "option: it cannot combine with s3.hydrate-on-demand")
          val graceOverride =
            Option(options.get("s3.eviction-grace-ms")).map(_.toLong)
          val hydConcOverride =
            Option(options.get("s3.hydration-concurrency")).map(_.toInt)
          val vecConcOverride =
            Option(options.get("s3.vectored-concurrency")).map(_.toInt)
          val client = new GraftS3.Client(java.net.URI.create(ep),
            req("s3.bucket"), region,
            GraftS3.Credentials(req("s3.access-key"), req("s3.secret-key")),
            java.net.http.HttpClient.newHttpClient(),
            partSize.toInt,
            sizeOpt("s3.multipart-threshold-bytes", 256L << 20),
            partConcurrency =
              sizeOpt("s3.part-concurrency", 4).toInt)
          val root = Paths.get(warehouse)
          if (prev != null) GraftSparkCatalog.closeQuietly(prev._2)
          // JVM-global knobs apply only on this success path (parsed
          // above). s3.hydration-concurrency sizes the download pool
          // (uploads must never queue behind a large hydration; the
          // pool is created lazily at this size on first use — like
          // part-concurrency, size it before the first hydration
          // fires); s3.vectored-concurrency bounds in-flight ranged
          // GETs per JVM for in-place scans (live-resizes);
          // s3.eviction-grace-ms is how long a commit-boundary sweep
          // spares files a CONCURRENT thread's scan just planned
          // (deferral only; 0 disables)
          hydConcOverride.foreach(v => GraftS3.hydrationConcurrency = v)
          vecConcOverride.foreach(v => GraftRangedFs.vectoredConcurrency = v)
          graceOverride.foreach(v => GraftS3.evictionGraceMs = v)
          val handles =
            if (hydrate || (inPlace && !directWrite && cacheBudget.isEmpty))
              Seq(GraftS3.mountOnDemandHydration(root, client, prefix,
                maxLocalBytes = cacheBudget, readInPlace = inPlace))
            else Seq(
              GraftS3.mountCommitArbiter(root, client, prefix),
              GraftS3.mountArtifactMirror(root, client, prefix,
                directWrite = directWrite)) ++
              // a cache budget on the WRITER shape adds the bounded-disk
              // plane (the write twin of the lazy follower): each WON
              // commit's artifacts — durably remote by the pre-slot
              // barrier — enter this mount's LRU and evict until local
              // bytes fit; reads re-serve evicted files through the same
              // mount's hydration plane. A 100 TB ingest then needs the
              // working set's disk, not the lake's (the reference writes
              // s3a:// directly — no node holds a local lake copy).
              // Corollaries: pruneRemote refuses this root (locally
              // absent ≠ retired here), and append-only FILE streaming
              // of these tables refuses (evicted files would tear it) —
              // use the CDC stream source instead.
              // direct-write tables hold no local data at all, so the
              // read path NEEDS the hydration (or in-place) plane even
              // when no budget was set
              (if (cacheBudget.isDefined || inPlace || directWrite)
                Seq(GraftS3.mountOnDemandHydration(root, client, prefix,
                  maxLocalBytes = cacheBudget, readInPlace = inPlace))
              else Seq.empty)
          GraftSparkCatalog.s3Mounts.put(identity, (fullKey, handles))
        }
      }
    }
    sweepStaleStaging()
  }

  /** A driver that dies mid-CTAS orphans its `.staging/<uuid>` dir —
    * nothing else ever references it, and remove_orphan_files only
    * sweeps inside table roots. Age-bound the sweep like
    * remove_orphan_files' now-3d default so a CONCURRENT catalog's
    * in-flight stage is never collected. Staleness is the NEWEST
    * mtime among the stage dir and its immediate children: writes
    * into a stage touch `_graft_log`/`data`, not the stage dir
    * itself, so judging by the top-level mtime alone would collect a
    * stage that has been actively written for longer than the
    * horizon. */
  private def sweepStaleStaging(
      olderThanMs: Long = 3L * 24 * 60 * 60 * 1000): Unit = {
    val staging = stagingDirOf
    def newestMtime(p: java.nio.file.Path): Long = {
      val own = Files.getLastModifiedTime(p).toMillis
      if (!Files.isDirectory(p)) own
      else {
        val s = Files.list(p)
        val kids = try s.iterator().asScala.map(c =>
          scala.util.Try(Files.getLastModifiedTime(c).toMillis).getOrElse(0L))
          .foldLeft(0L)(math.max)
        finally s.close()
        math.max(own, kids)
      }
    }
    // best-effort: a concurrent catalog committing/aborting a stage
    // mid-walk races this sweep, and hygiene must never fail init
    if (Files.isDirectory(staging)) scala.util.Try {
      val cutoff = System.currentTimeMillis() - olderThanMs
      val s = Files.list(staging)
      val stale = try s.iterator().asScala
        .filter(p => scala.util.Try(newestMtime(p) < cutoff).getOrElse(false)).toSeq
      finally s.close()
      stale.foreach(p => scala.util.Try(GraftTable.deleteTree(p)))
    }
  }

  override def name(): String = catalogName

  private def rootOf(ns: Seq[String], table: String): String =
    Paths.get(warehouse, (ns :+ table): _*).toString

  private def isTable(root: String): Boolean =
    Files.isDirectory(Paths.get(root, "_graft_log"))

  private val metadataNames =
    Set("snapshots", "files", "history", "partitions", "manifests", "refs",
      "entries", "metadata_log_entries", "all_files", "statistics", "ndv",
      "position_deletes", "properties")

  // ── tables ──────────────────────────────────────────────────────────

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = Paths.get(warehouse, namespace: _*)
    if (isInternalNs(namespace) || !Files.isDirectory(dir))
      throw new NoSuchNamespaceException(namespace)
    val s = Files.list(dir)
    try s.iterator().asScala
      .filter(p => isTable(p.toString))
      .map(p => Identifier.of(namespace, p.getFileName.toString))
      .toArray
    finally s.close()
  }

  /** Tables under dot-prefixed (internal) namespaces — in-flight CTAS
    * stages, parked RTAS generations — must be invisible to every
    * table entry point: listTables/listNamespaces hide them, and
    * loading or creating through the `.staging` path would hand users
    * a table the stale-stage sweep later deletes. */
  private def requireExternal(ident: Identifier): Unit =
    if (isInternalNs(ident.namespace)) throw new NoSuchTableException(ident)

  override def tableExists(ident: Identifier): Boolean =
    !isInternalNs(ident.namespace) &&
      isTable(rootOf(ident.namespace.toIndexedSeq, ident.name))

  override def loadTable(ident: Identifier): Table = {
    requireExternal(ident)
    val root = rootOf(ident.namespace.toIndexedSeq, ident.name)
    if (isTable(root)) new GraftSparkTable(fqn(ident), root, None)
    else if (ident.namespace.length >= 1 && metadataNames.contains(ident.name)) {
      // graft.lab.t.snapshots parses as namespace [lab, t], name "snapshots"
      val baseRoot = Paths.get(warehouse, ident.namespace: _*).toString
      if (!isTable(baseRoot)) throw new NoSuchTableException(ident)
      new GraftMetadataTable(fqn(ident), baseRoot, ident.name)
    } else if (ident.namespace.length >= 1 && ident.name.startsWith("branch_")) {
      // Iceberg's branch identifier: graft.lab.t.branch_dev reads the
      // branch's head and WRITES to the branch (INSERT INTO / DELETE)
      val baseRoot = Paths.get(warehouse, ident.namespace: _*).toString
      if (!isTable(baseRoot)) throw new NoSuchTableException(ident)
      val b = ident.name.stripPrefix("branch_")
      if (!GraftTable.branches(baseRoot).contains(b))
        throw new NoSuchTableException(ident)
      new GraftSparkTable(fqn(ident), baseRoot,
        Some(GraftTable.branchHeadId(baseRoot, b)), branch = Some(b))
    } else throw new NoSuchTableException(ident)
  }

  /** SELECT ... VERSION AS OF <snapshot id | 'tag-name'> (Iceberg
    * accepts ref names here too). A numeric string only means a
    * snapshot id when that snapshot actually EXISTS — otherwise a tag
    * someone named '3' would be silently shadowed (or the query would
    * error) instead of resolving. */
  override def loadTable(ident: Identifier, version: String): Table = {
    requireExternal(ident)
    val root = rootOf(ident.namespace.toIndexedSeq, ident.name)
    if (!isTable(root)) throw new NoSuchTableException(ident)
    val snapshotId = version.toLongOption
      .filter(GraftTable.listCommitIds(root).contains)
      .orElse(GraftTable.tags(root).get(version))
      .orElse(GraftTable.branches(root).get(version)
        .map(_ => GraftTable.branchHeadId(root, version)))
      .getOrElse(throw new IllegalArgumentException(
        s"VERSION AS OF '$version': not a snapshot id, tag, or branch of ${fqn(ident)} " +
          s"(tags: ${GraftTable.tags(root).keys.mkString(", ")}; " +
          s"branches: ${GraftTable.branches(root).keys.mkString(", ")})"))
    new GraftSparkTable(fqn(ident), root, Some(snapshotId))
  }

  /** SELECT ... TIMESTAMP AS OF — Spark hands micros since epoch. */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    requireExternal(ident)
    val root = rootOf(ident.namespace.toIndexedSeq, ident.name)
    if (!isTable(root)) throw new NoSuchTableException(ident)
    val tsMs = timestampMicros / 1000L
    val ids = GraftTable.snapshotIdsAtOrBefore(root, tsMs)
    require(ids.nonEmpty, s"no snapshot at or before $tsMs ms")
    new GraftSparkTable(fqn(ident), root, Some(ids.max))
  }

  private def fqn(ident: Identifier): String =
    (catalogName +: ident.namespace :+ ident.name).mkString(".")

  /** PARTITIONED BY + TBLPROPERTIES → graft table properties (shared
    * by createTable and the staged CTAS/RTAS flavors). */
  private def tableProps(partitions: Array[Transform],
      properties: util.Map[String, String]): Map[String, String] = {
    val reserved = Set(TableCatalog.PROP_PROVIDER, TableCatalog.PROP_LOCATION,
      TableCatalog.PROP_OWNER, TableCatalog.PROP_COMMENT, TableCatalog.PROP_EXTERNAL,
      TableCatalog.PROP_TABLE_TYPE, TableCatalog.PROP_COLLATION)
    val props = properties.asScala.toMap
      .filterNot { case (k, _) => reserved.contains(k) || k.startsWith(TableCatalog.OPTION_PREFIX) }
    val specProps =
      if (partitions.isEmpty) Map.empty[String, String]
      else Map(GraftTable.specProp -> partitions.map(transformToSpec).mkString(","))
    props ++ specProps
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table = {
    val ns = ident.namespace.toIndexedSeq
    if (isInternalNs(ident.namespace) ||
        !Files.isDirectory(Paths.get(warehouse, ns: _*)))
      throw new NoSuchNamespaceException(ident.namespace)
    val root = rootOf(ns, ident.name)
    if (isTable(root)) throw new TableAlreadyExistsException(ident)
    GraftTable.create(activeSpark, root, schema, tableProps(partitions, properties))
    new GraftSparkTable(fqn(ident), root, None)
  }

  // ── staged CTAS / RTAS ──────────────────────────────────────────────
  // CREATE TABLE ... AS SELECT (and REPLACE ...) goes through Spark's
  // atomic path when the catalog stages: the SELECT writes into a
  // hidden `.staging/<uuid>` GraftTable; only commitStagedChanges
  // moves it to the final name (one directory rename), so a failed or
  // aborted write never leaves a half-written table behind — the
  // reference's everyday DDL idiom (reference: SPARK_ICEBERG_GUIDE.md
  // §4 creates + §5 inserts collapsed into one statement).

  private def stagingDirOf: java.nio.file.Path = Paths.get(warehouse, ".staging")

  override def stageCreate(ident: Identifier, columns: Array[Column],
      partitions: Array[Transform], properties: util.Map[String, String]): StagedTable =
    stage(ident, columns, partitions, properties, replace = false, mustExist = false)

  override def stageReplace(ident: Identifier, columns: Array[Column],
      partitions: Array[Transform], properties: util.Map[String, String]): StagedTable =
    stage(ident, columns, partitions, properties, replace = true, mustExist = true)

  override def stageCreateOrReplace(ident: Identifier, columns: Array[Column],
      partitions: Array[Transform], properties: util.Map[String, String]): StagedTable =
    stage(ident, columns, partitions, properties, replace = true, mustExist = false)

  private def stage(ident: Identifier, columns: Array[Column],
      partitions: Array[Transform], properties: util.Map[String, String],
      replace: Boolean, mustExist: Boolean): StagedTable = {
    val ns = ident.namespace.toIndexedSeq
    if (isInternalNs(ident.namespace) ||
        !Files.isDirectory(Paths.get(warehouse, ns: _*)))
      throw new NoSuchNamespaceException(ident.namespace)
    val finalRoot = rootOf(ns, ident.name)
    if (!replace && isTable(finalRoot)) throw new TableAlreadyExistsException(ident)
    if (mustExist && !isTable(finalRoot)) throw new NoSuchTableException(ident)
    // (CatalogV2Util.v2ColumnsToStructType is private[sql]); COMMENTs
    // and column DEFAULTs ride along as StructField metadata so
    // CREATE/REPLACE with explicit columns doesn't drop them
    val schema = StructType(columns.map { c =>
      val md = new org.apache.spark.sql.types.MetadataBuilder()
      Option(c.defaultValue()).foreach { dv =>
        md.putString(GraftTable.currentDefaultKey,
          Option(dv.getSql).getOrElse(connectorLiteralSql(dv.getValue)))
        md.putString(GraftTable.existsDefaultKey, connectorLiteralSql(dv.getValue))
      }
      val f = org.apache.spark.sql.types.StructField(
        c.name(), c.dataType(), c.nullable(), md.build())
      Option(c.comment()).fold(f)(f.withComment)
    })
    Files.createDirectories(stagingDirOf)
    val staging = stagingDirOf.resolve(
      s"${ident.name}-${java.util.UUID.randomUUID()}")
    GraftTable.create(activeSpark, staging.toString, schema,
      tableProps(partitions, properties))
    new GraftStagedTable(fqn(ident), staging.toString, finalRoot, ident, replace)
  }

  /** PARTITIONED BY (...) clause → the graft partition-spec term. */
  private def transformToSpec(t: Transform): String = {
    def colOf: String = t.references()(0).fieldNames().mkString(".")
    def intArg: Int = t.arguments().collectFirst {
      case l: VLiteral[_] if l.dataType() == IntegerType => l.value().asInstanceOf[Int]
    }.getOrElse(throw new IllegalArgumentException(s"missing int argument in $t"))
    t.name() match {
      case "identity" => s"identity($colOf)"
      case "days" => s"days($colOf)"
      case "months" => s"months($colOf)"
      case "years" => s"years($colOf)"
      case "hours" => s"hours($colOf)"
      case "bucket" => s"bucket($intArg,$colOf)"
      case "truncate" => s"truncate($intArg,$colOf)"
      case other => throw new IllegalArgumentException(
        s"unsupported partition transform: $other " +
          "(want identity/days/months/years/hours/bucket/truncate)")
    }
  }

  /** Render the analyzer's folded connector literal back to SQL text —
    * the frozen representation EXISTS_DEFAULT stores. LiteralValue
    * carries the INTERNAL value, which the catalyst Literal
    * constructor takes as-is. */
  private def connectorLiteralSql(l: VLiteral[_]): String =
    org.apache.spark.sql.catalyst.expressions.Literal(l.value, l.dataType).sql

  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    requireExternal(ident)
    val root = rootOf(ident.namespace.toIndexedSeq, ident.name)
    if (!isTable(root)) throw new NoSuchTableException(ident)
    val sets = changes.collect { case s: TableChange.SetProperty => s.property -> s.value }
    val removes = changes.collect { case r: TableChange.RemoveProperty => r.property }
    val adds = changes.collect { case a: TableChange.AddColumn => a }
    val renames = changes.collect { case r: TableChange.RenameColumn => r }
    val drops = changes.collect { case d: TableChange.DeleteColumn => d }
    val widens = changes.collect { case u: TableChange.UpdateColumnType => u }
    val addCons = changes.collect { case a: TableChange.AddConstraint => a }
    val dropCons = changes.collect { case d: TableChange.DropConstraint => d }
    val setDefaults = changes.collect { case u: TableChange.UpdateColumnDefaultValue => u }
    val known = changes.count {
      case _: TableChange.SetProperty | _: TableChange.RemoveProperty |
           _: TableChange.AddColumn | _: TableChange.RenameColumn |
           _: TableChange.DeleteColumn | _: TableChange.UpdateColumnType |
           _: TableChange.AddConstraint | _: TableChange.DropConstraint |
           _: TableChange.UpdateColumnDefaultValue => true
      case _ => false
    }
    require(known == changes.length,
      s"unsupported ALTER TABLE change(s): ${changes.filterNot {
        case _: TableChange.SetProperty | _: TableChange.RemoveProperty |
             _: TableChange.AddColumn | _: TableChange.RenameColumn |
             _: TableChange.DeleteColumn | _: TableChange.UpdateColumnType |
             _: TableChange.AddConstraint | _: TableChange.DropConstraint |
             _: TableChange.UpdateColumnDefaultValue => true
        case _ => false
      }.mkString(", ")}")
    require(removes.isEmpty, "UNSET TBLPROPERTIES is not supported (properties are additive commits)")
    if (sets.nonEmpty) GraftTable.setProperties(root, sets.toMap)
    adds.foreach { a =>
      require(a.fieldNames.length == 1, "nested ADD COLUMN not supported")
      // DEFAULT: the write-default is the declared SQL text; the
      // initial default is the analyzer's FOLDED literal, frozen here
      // forever (Iceberg v3 initial-default). Both live in the
      // field's metadata under Spark's own resolver keys, so SQL
      // INSERT defaults and parquet missing-column fills both engage
      // with no further wiring (GraftTable Scaladoc has the design).
      val md = Option(a.defaultValue()).map { dv =>
        new org.apache.spark.sql.types.MetadataBuilder()
          .putString(GraftTable.currentDefaultKey,
            Option(dv.getSql).getOrElse(connectorLiteralSql(dv.getValue)))
          .putString(GraftTable.existsDefaultKey, connectorLiteralSql(dv.getValue))
          .build()
      }.getOrElse(org.apache.spark.sql.types.Metadata.empty)
      GraftTable.addColumn(root,
        org.apache.spark.sql.types.StructField(a.fieldNames.head, a.dataType,
          a.isNullable, md))
    }
    setDefaults.foreach { u =>
      require(u.fieldNames.length == 1, "nested ALTER COLUMN not supported")
      // SET DEFAULT carries a DefaultValue (sql and/or expression);
      // DROP DEFAULT arrives as an absent/empty default → None
      val sql = Option(u.newCurrentDefault()).flatMap {
          case cdv: ColumnDefaultValue =>
            Option(cdv.getSql).orElse(Some(connectorLiteralSql(cdv.getValue)))
          case dv => Option(dv.getSql)
        }.orElse(Option(u.newDefaultValue()).map(_.trim).filter(_.nonEmpty))
      GraftTable.setColumnDefault(root, u.fieldNames.head, sql)
    }
    renames.foreach { r =>
      require(r.fieldNames.length == 1, "nested RENAME COLUMN not supported")
      GraftTable.renameColumn(root, r.fieldNames.head, r.newName)
    }
    drops.foreach { d =>
      require(d.fieldNames.length == 1, "nested DROP COLUMN not supported")
      GraftTable.dropColumn(root, d.fieldNames.head)
    }
    widens.foreach { u =>
      require(u.fieldNames.length == 1, "nested ALTER COLUMN TYPE not supported")
      GraftTable.widenColumn(root, u.fieldNames.head, u.newDataType)
    }
    addCons.foreach { a =>
      a.constraint() match {
        case c: V2Check =>
          require(c.enforced(),
            "NOT ENFORCED CHECK constraints are not supported (graft enforces every CHECK on write)")
          // Spark's ADD CONSTRAINT exec (AddCheckConstraintExec) has
          // already scanned existing rows through CheckInvariant by the
          // time the catalog sees the change — don't scan twice
          GraftTable.addCheckConstraint(SparkSession.active, root,
            c.name(), c.predicateSql(), validate = false)
        case other => throw new UnsupportedOperationException(
          s"only CHECK constraints are supported (got: ${other.toDDL})")
      }
    }
    dropCons.foreach(d => GraftTable.dropCheckConstraint(root, d.name(), d.ifExists()))
    new GraftSparkTable(fqn(ident), root, None)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val root = Paths.get(rootOf(ident.namespace.toIndexedSeq, ident.name))
    if (isInternalNs(ident.namespace) || !isTable(root.toString)) false
    else {
      GraftTable.deleteTree(root)
      true
    }
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    requireExternal(oldIdent)
    if (isInternalNs(newIdent.namespace))
      throw new NoSuchNamespaceException(newIdent.namespace)
    val from = Paths.get(rootOf(oldIdent.namespace.toIndexedSeq, oldIdent.name))
    val to = Paths.get(rootOf(newIdent.namespace.toIndexedSeq, newIdent.name))
    if (!isTable(from.toString)) throw new NoSuchTableException(oldIdent)
    if (isTable(to.toString)) throw new TableAlreadyExistsException(newIdent)
    Files.move(from, to)
  }

  // ── namespaces ──────────────────────────────────────────────────────

  override def listNamespaces(): Array[Array[String]] = {
    val s = Files.list(Paths.get(warehouse))
    try s.iterator().asScala
      // dot-dirs are internal (the CTAS .staging area), not namespaces
      .filter(p => Files.isDirectory(p) && !isTable(p.toString) &&
        !p.getFileName.toString.startsWith("."))
      .map(p => Array(p.getFileName.toString)).toArray
    finally s.close()
  }

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else if (namespaceExists(namespace)) Array.empty
    else throw new NoSuchNamespaceException(namespace)

  /** Dot-prefixed directories (the CTAS `.staging` area) are internal:
    * listNamespaces hides them, and every other namespace entry point
    * must agree or DROP NAMESPACE could be pointed at the staging area
    * while a concurrent CTAS writes into it. */
  private def isInternalNs(namespace: Array[String]): Boolean =
    namespace.exists(_.startsWith("."))

  override def namespaceExists(namespace: Array[String]): Boolean =
    !isInternalNs(namespace) &&
      Files.isDirectory(Paths.get(warehouse, namespace: _*)) &&
      !isTable(Paths.get(warehouse, namespace: _*).toString)

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] =
    if (namespaceExists(namespace)) Map("location" -> Paths.get(warehouse, namespace: _*).toString).asJava
    else throw new NoSuchNamespaceException(namespace)

  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit = {
    require(!isInternalNs(namespace),
      s"namespace name may not start with '.': ${namespace.mkString(".")}")
    Files.createDirectories(Paths.get(warehouse, namespace: _*))
  }

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("ALTER NAMESPACE not supported")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    val p = Paths.get(warehouse, namespace: _*)
    if (isInternalNs(namespace) || !Files.isDirectory(p)) false
    else {
      if (!cascade) {
        val s = Files.list(p)
        val nonEmpty = try s.iterator().asScala.nonEmpty finally s.close()
        require(!nonEmpty, s"namespace not empty: ${namespace.mkString(".")}")
      }
      GraftTable.deleteTree(p)
      true
    }
  }

  private def activeSpark: SparkSession =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .getOrElse(throw new IllegalStateException("no active SparkSession"))
}

/** The graft `bucket(n, col)` partition transform as a V2 function —
  * the computation is transformCol's write-time rendering exactly:
  * `crc32(CAST(col AS STRING)) pmod n` (GraftTable.scala transformCol;
  * transformLit is the driver-side twin). Storage-partitioned joins
  * over bucket-partitioned tables hang off this: both scans resolve
  * `bucket` here and Spark matches the bound canonical names. The
  * canonical name carries the input type — equal values of different
  * types render to the same text, but cross-type joins change cast
  * semantics, so only same-type sides co-partition. */
private[graft] object GraftBucketFunction extends functions.UnboundFunction {
  import org.apache.spark.sql.catalyst.InternalRow

  override def name(): String = "bucket"
  override def description(): String =
    "bucket(n INT, col): crc32(CAST(col AS STRING)) pmod n — graft's partition transform"

  override def bind(inputType: StructType): functions.BoundFunction = {
    require(inputType.fields.length == 2,
      s"bucket takes (n INT, col); got $inputType")
    val colType = inputType.fields(1).dataType
    colType match {
      case IntegerType | LongType | ShortType | ByteType | StringType |
           org.apache.spark.sql.types.DateType => ()
      case other => throw new UnsupportedOperationException(
        s"graft bucket binds over int/long/short/byte/string/date columns, got $other")
    }
    new functions.ScalarFunction[java.lang.Integer] {
      override def inputTypes(): Array[DataType] = Array(IntegerType, colType)
      override def resultType(): DataType = IntegerType
      override def name(): String = "bucket"
      override def canonicalName(): String = s"graft.bucket($colType)"
      override def isResultNullable: Boolean = true   // null key → null bucket
      override def produceResult(input: InternalRow): java.lang.Integer = {
        if (input.isNullAt(0) || input.isNullAt(1)) return null
        val n = input.getInt(0)
        val rendered = colType match {
          case IntegerType => input.getInt(1).toString
          case LongType => input.getLong(1).toString
          case ShortType => input.getShort(1).toString
          case ByteType => input.getByte(1).toString
          case StringType => input.getUTF8String(1).toString
          case org.apache.spark.sql.types.DateType =>
            java.time.LocalDate.ofEpochDay(input.getInt(1).toLong).toString
          case other => throw new IllegalStateException(s"bind() gated $other out")
        }
        val crc = new java.util.zip.CRC32()
        crc.update(rendered.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        Int.box((crc.getValue % n).toInt)   // crc32 ∈ [0, 2^32): pmod is plain mod
      }
    }
  }
}

/** A staged (not-yet-visible) GraftTable for atomic CTAS/RTAS: the
  * write lands in a hidden staging directory through the ordinary
  * GraftSparkTable write path. Commit for CREATE is ONE atomic
  * directory move into the final name (put-if-absent). Commit for
  * REPLACE onto a live table is GraftTable.replaceFrom — one commit
  * in the target's existing metadata lineage (renames only): no
  * directory swap, no missing-table window, history and tags kept.
  * The legacy move-aside-then-move swap survives only for the edge
  * where REPLACE targets a directory that is not a graft table (the
  * old generation parks under `.staging/old-<uuid>` before the swap,
  * recoverable on crash). Abort just removes the staging directory. */
private[lake] class GraftStagedTable(fqName: String, stagingRoot: String,
    finalRoot: String, ident: Identifier, replace: Boolean)
    extends GraftSparkTable(fqName, stagingRoot, None) with StagedTable {

  private def rmTree(p: java.nio.file.Path): Unit = GraftTable.deleteTree(p)

  override def commitStagedChanges(): Unit = {
    val target = Paths.get(finalRoot)
    if (replace && Files.isDirectory(target.resolve("_graft_log"))) {
      // REPLACE onto a live table: ONE commit in the existing metadata
      // lineage — no directory swap, so there is no missing-table
      // window at all, pre-replace snapshots stay time-travelable and
      // tags survive (the reference's REPLACE semantics). The staging
      // skeleton (its log + empty dirs) is retired after the commit;
      // a lost put-if-absent race cleans the moved files and leaves
      // the target exactly as the winner committed it.
      try GraftTable.replaceFrom(finalRoot, stagingRoot)
      finally rmTree(Paths.get(stagingRoot))
      return
    }
    var aside: Option[java.nio.file.Path] = None
    if (replace && Files.exists(target)) {
      val parked = Paths.get(stagingRoot).getParent
        .resolve(s"old-${ident.name}-${java.util.UUID.randomUUID()}")
      Files.move(target, parked, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      // rename PRESERVES the directory's mtime — an old table parked
      // with its original timestamp would look days-stale to
      // sweepStaleStaging and a crash here could lose it to the very
      // next catalog init; stamp it NOW so a crash-parked generation
      // stays recoverable for the full sweep horizon
      scala.util.Try(Files.setLastModifiedTime(parked,
        java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis())))
      aside = Some(parked)
    }
    try {
      Files.createDirectories(target.getParent)
      Files.move(Paths.get(stagingRoot), target,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    } catch {
      // lost a CREATE race: the winner's table occupies the name. The
      // JDK surfaces the failed rename as FileAlreadyExists /
      // DirectoryNotEmpty OR (Linux rename(2) ENOTEMPTY) a generic
      // FileSystemException — discriminate by what's AT the name now
      case e: java.nio.file.FileSystemException
          if Files.isDirectory(target.resolve("_graft_log")) =>
        rmTree(Paths.get(stagingRoot))
        // if this was a REPLACE that lost to a concurrent CREATE, the
        // parked old generation stays in .staging deliberately: the
        // winner occupies the name, so restoring is impossible — the
        // parked copy remains hand-recoverable for the sweep horizon
        throw new TableAlreadyExistsException(ident)
      case e: Throwable =>
        // put the old table back rather than leave the name missing
        aside.foreach(p => scala.util.Try(
          Files.move(p, target, java.nio.file.StandardCopyOption.ATOMIC_MOVE)))
        throw e
    }
    aside.foreach(rmTree)   // swap done — retire the old generation
  }

  override def abortStagedChanges(): Unit = rmTree(Paths.get(stagingRoot))
}

/** A GraftTable surfaced through DSv2. Reads go V1Scan →
  * PrunedFilteredScan (projection + filters reach GraftTable.scan's
  * partition/stats pruning); writes go V1Write → InsertableRelation
  * (append, or truncate-overwrite for INSERT OVERWRITE); DELETE FROM
  * and TRUNCATE TABLE route through SupportsDelete onto
  * GraftTable.deleteWhere, honoring write.delete.mode (CoW rewrite or
  * a merge-on-read position-delete file). */
private[lake] class GraftSparkTable(fqName: String, root: String, asOf: Option[Long],
    branch: Option[String] = None)
    extends Table with SupportsRead with SupportsWrite with SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {

  /** `_row_id` (Iceberg v3 row lineage) as a SQL-visible metadata
    * column: `SELECT _row_id, * FROM graft.ns.t`. Resolved only when
    * referenced — plain reads never pay for it. */
  override def metadataColumns(): Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(new org.apache.spark.sql.connector.catalog.MetadataColumn {
      override def name(): String = "_row_id"
      override def dataType(): DataType = LongType
      override def isNullable: Boolean = true
      override def comment(): String =
        "row lineage id: stable across compaction/sort rewrites; NULL for pre-lineage files"
    })

  // for plan rules that need to know WHICH table a V2 relation reads
  // (GraftMvRewrite matches source scans; time travel never rewrites)
  private[lake] def tableRoot: String = root
  private[lake] def timeTravel: Option[Long] = asOf

  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    filters.forall(f => GraftRelation.toCondition(f).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    val cond = filters.flatMap(GraftRelation.toCondition)
      .reduceOption(_ && _).getOrElse(lit(true))
    // a branch identifier deletes ON THE BRANCH (CoW against branch
    // state; main keeps serving every row it owns)
    if (branch.isDefined) {
      GraftTable.deleteWhereOnBranch(spark, root, cond, branch.get)
      return
    }
    // an active wap id stages the delete (CoW): main serves the rows
    // until cherrypick — never a silent bypass of the WAP contract
    GraftTable.activeWapId(spark, root) match {
      case Some(w) => GraftTable.deleteWhereStaged(spark, root, cond, w)
      // key-membership predicates on MoR tables route to an
      // equality-delete file (O(keys)); the rest plan position
      // deletes / CoW rewrites as before
      case None => GraftTable.deleteWhereRouted(spark, root,
        filters.toIndexedSeq, cond)
    }
  }

  private def spark: SparkSession =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession).get

  override def name(): String = fqName

  override def schema(): StructType = GraftTable.state(root, asOf).schema

  /** Manifest-exact live-data size, for GraftBroadcastHints. */
  private[lake] def estimatedSizeBytes: Long =
    GraftTable.statsForScan(spark, root, GraftTable.state(root, asOf), Seq.empty)._1

  override def partitioning(): Array[Transform] =
    GraftTable.state(root, asOf).properties.get(GraftTable.specProp)
      .map(GraftTable.parsePartitionSpec).getOrElse(Seq.empty)
      .map {
        case GraftTable.PIdentity(c) => Expressions.identity(c)
        case GraftTable.PDays(c) => Expressions.days(c)
        case GraftTable.PMonths(c) => Expressions.months(c)
        case GraftTable.PYears(c) => Expressions.years(c)
        case GraftTable.PHours(c) => Expressions.hours(c)
        case GraftTable.PBucket(c, n) => Expressions.bucket(n, c)
        case GraftTable.PTruncate(c, w) =>
          Expressions.apply("truncate", Expressions.literal(w), Expressions.column(c))
      }.toArray

  override def properties(): util.Map[String, String] =
    GraftTable.state(root, asOf).properties.asJava

  /** Live CHECK constraints, reported so Spark's analyzer injects
    * CheckInvariant validation into every V2 write against this table
    * (and DESCRIBE shows them). Always VALID: additions validate
    * existing rows before the property commits. */
  override def constraints(): Array[V2Constraint] =
    GraftTable.checkConstraints(GraftTable.state(root, asOf).properties)
      .map { case (n, sql) =>
        val b = V2Constraint.check(n).predicateSql(sql)
        b.enforced(true)
        b.validationStatus(V2Constraint.ValidationStatus.VALID)
        b.build()
      }.toArray

  // OVERWRITE_DYNAMIC is deliberately absent from the CAPABILITIES:
  // Spark's V1 write fallback only covers append and
  // overwrite-by-filter (no V1 fallback exists for
  // OverwritePartitionsDynamic). SQL INSERT OVERWRITE under
  // partitionOverwriteMode=dynamic is still served — the delegating
  // parser recognizes it (GraftProcedures.parseInsertOverwriteDynamic)
  // and routes to GraftTable.overwriteDynamic before the planner ever
  // consults these capabilities.
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.OVERWRITE_BY_FILTER)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder
        with SupportsPushDownFilters with SupportsPushDownRequiredColumns
        with SupportsPushDownAggregates with SupportsPushDownLimit {
      // DSv2 only pushes projection/filters into a V1Scan when the
      // ScanBuilder itself implements the push-down interfaces — a
      // bare builder would read every column of every file and filter
      // above the scan. Accept everything (returning all filters as
      // residual, so Spark still re-applies them row-wise) and hand
      // them to GraftRelation for partition/stats file pruning +
      // parquet pushdown.
      private var pushed: Array[Filter] = Array.empty
      private var required: Option[StructType] = None
      override def pushFilters(filters: Array[Filter]): Array[Filter] = {
        pushed = filters
        filters
      }
      override def pushedFilters(): Array[Filter] = pushed
      override def pruneColumns(requiredSchema: StructType): Unit =
        required = Some(requiredSchema)
      // COUNT(*) / MIN(col) / MAX(col) with no grouping, no filters,
      // and no delete files are answered from the manifest — counts
      // from per-file record counts, MIN/MAX by folding the per-file
      // footer stats (the classic lake-format metadata query: "what's
      // the data range" without touching a byte of parquet). Refusal
      // rules keep it exact: any residual filter, any MoR delete file,
      // a renamed column (stats live under historical names), a type
      // whose stats TEXT doesn't round-trip exactly (strings truncate,
      // float/double widenings re-render), or any file missing the
      // column's stats (all-null files and pre-ADD-COLUMN files are
      // indistinguishable from never-harvested) → full scan.
      private var pushedAgg: Option[(StructType, Seq[Any])] = None

      private def planAggPushdown(agg: Aggregation): Option[(StructType, Seq[Any])] = {
        if (agg.groupByExpressions.nonEmpty || agg.aggregateExpressions.isEmpty ||
          pushed.nonEmpty) return None
        val snap = GraftTable.state(root, asOf)
        if (!snap.files.forall(_.isData)) return None
        val full = schema()
        if (full.fields.exists(f => GraftTable.prevNames(f).nonEmpty)) return None
        val entries = snap.files

        // exact text→value round-trips only (the same renderings the
        // stats writer used); strings may be truncated, decimals are
        // never harvested, float/double text may be either-rendered
        def parse(dt: DataType, s: String): Option[Any] = dt match {
          case IntegerType => s.toIntOption
          case LongType => s.toLongOption
          case ShortType => s.toShortOption
          case ByteType => s.toByteOption
          case org.apache.spark.sql.types.DateType =>
            scala.util.Try(java.sql.Date.valueOf(s)).toOption
          case TimestampType =>
            s.toLongOption.map { us =>
              val t = new java.sql.Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
              t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
              t
            }
          case TimestampNTZType =>
            s.toLongOption.map(us => java.time.LocalDateTime.ofEpochSecond(
              Math.floorDiv(us, 1000000L), (Math.floorMod(us, 1000000L) * 1000L).toInt,
              java.time.ZoneOffset.UTC))
          case _ => None
        }
        def ord(dt: DataType): Option[Ordering[Any]] = dt match {
          case IntegerType => Some(Ordering.by(_.asInstanceOf[Int]))
          case LongType => Some(Ordering.by(_.asInstanceOf[Long]))
          case ShortType => Some(Ordering.by(_.asInstanceOf[Short]))
          case ByteType => Some(Ordering.by(_.asInstanceOf[Byte]))
          case org.apache.spark.sql.types.DateType =>
            Some(Ordering.by(_.asInstanceOf[java.sql.Date].getTime))
          // order on exact epoch MICROS (what the stats text stores):
          // toEpochSecond alone drops the sub-second component and two
          // files whose bounds share a whole second would tie — picking
          // an arbitrary (possibly wrong) min/max; `/ 1000L` truncates
          // toward zero and mis-orders pre-1970 fractional seconds
          case TimestampType =>
            Some(Ordering.by { v: Any => val t = v.asInstanceOf[java.sql.Timestamp]
              Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L })
          case TimestampNTZType =>
            Some(Ordering.by { v: Any => val d = v.asInstanceOf[java.time.LocalDateTime]
              d.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + d.getNano / 1000L })
          case _ => None
        }
        def minMax(colExpr: org.apache.spark.sql.connector.expressions.Expression,
            isMin: Boolean): Option[(DataType, Any)] = colExpr match {
          case ref: org.apache.spark.sql.connector.expressions.NamedReference
              if ref.fieldNames.length == 1 =>
            val name = ref.fieldNames.head
            for {
              f <- full.fields.find(_.name.equalsIgnoreCase(name))
              o <- ord(f.dataType)
              vals <- {
                val per = entries.map(_.stats.get(f.name).flatMap(st =>
                  (if (isMin) st.min else st.max).flatMap(parse(f.dataType, _))))
                if (per.exists(_.isEmpty)) None else Some(per.flatten)
              }
            } yield (f.dataType,
              if (vals.isEmpty) null
              else if (isMin) vals.min(o) else vals.max(o))
          case _ => None
        }
        // COUNT(col) = Σ per file (records − null count): exact only
        // when EVERY file harvested the column's stats AND its null
        // count is known (-1 = the unknown sentinel → refuse)
        def countCol(colExpr: org.apache.spark.sql.connector.expressions.Expression)
            : Option[(DataType, Any)] = colExpr match {
          case ref: org.apache.spark.sql.connector.expressions.NamedReference
              if ref.fieldNames.length == 1 =>
            val name = ref.fieldNames.head
            full.fields.find(_.name.equalsIgnoreCase(name)).flatMap { f =>
              val per = entries.map(_.stats.get(f.name).map(_.nulls).filter(_ >= 0L))
              if (per.exists(_.isEmpty)) None
              else Some((LongType: DataType,
                (entries.map(_.records).sum - per.flatten.sum): Any))
            }
          case _ => None
        }
        val out = agg.aggregateExpressions.toSeq.map {
          case _: CountStar => Some((LongType: DataType, entries.map(_.records).sum: Any))
          case c: org.apache.spark.sql.connector.expressions.aggregate.Count
              if !c.isDistinct => countCol(c.column)
          case m: org.apache.spark.sql.connector.expressions.aggregate.Min =>
            minMax(m.column, isMin = true)
          case m: org.apache.spark.sql.connector.expressions.aggregate.Max =>
            minMax(m.column, isMin = false)
          case _ => None
        }
        if (out.exists(_.isEmpty)) None
        else Some((
          StructType(out.flatten.zipWithIndex.map { case ((dt, _), i) =>
            org.apache.spark.sql.types.StructField(s"agg_$i", dt, nullable = true)
          }),
          out.flatten.map(_._2)))
      }

      override def supportCompletePushDown(agg: Aggregation): Boolean =
        planAggPushdown(agg).isDefined
      override def pushAggregation(agg: Aggregation): Boolean = {
        pushedAgg = planAggPushdown(agg)
        pushedAgg.isDefined
      }
      // LIMIT n on an unfiltered scan: read just enough files to cover
      // n rows (manifest record counts), not the table — Spark still
      // applies the limit above, so partial push is always safe. Spark
      // only offers the limit when every filter was fully pushed,
      // which for graft means no filters at all; delete files make
      // per-file counts upper bounds, so we refuse then too.
      private var limit: Option[Int] = None
      override def pushLimit(n: Int): Boolean = {
        val ok = pushed.isEmpty && GraftTable.state(root, asOf).files.forall(_.isData)
        if (ok) limit = Some(n)
        ok   // true = partially pushed (Spark keeps its own limit)
      }
      override def isPartiallyPushed: Boolean = true

      override def build(): Scan = pushedAgg match {
        case Some((aggSchema, values)) => buildAggScan(aggSchema, values)
        case None if required.exists(_.fieldNames.contains("_row_id")) =>
          // lineage reads plan NATIVE too (round 12): the wrapping
          // reader serves _row_id as firstRowId + row_index (or the
          // materialized column) — V1 only for the rare ineligible
          // shapes (oversized/renamed eq-delete keys, name reuse)
          buildNativeScan().getOrElse(buildRowIdScan(required.get))
        case None => buildNativeScan().getOrElse(buildDataScan())
      }

      /** V1 scan serving the `_row_id` metadata column: the lineage
        * read (per-file firstRowId dispatch / materialized column),
        * file-pruned on the pushed filters; every filter is still
        * re-applied row-wise above (all were returned residual). Used
        * when the native plane declines the snapshot. */
      private def buildRowIdScan(req: StructType): Scan = new V1Scan {
        override def readSchema(): StructType = req
        override def toV1TableScan[T <: BaseRelation with TableScan](
            context: SQLContext): T = {
          val pushedF = pushed
          new BaseRelation with TableScan {
            override def sqlContext: SQLContext = context
            override val schema: StructType = req
            override def buildScan(): RDD[Row] = {
              val s = context.sparkSession
              val full = GraftSparkTable.this.schema()
              val types = full.fields.map(f => f.name -> f.dataType).toMap
              val preds = pushedF.flatMap(GraftRelation.toPred(_, types)).toIndexedSeq
              GraftTable.readWithRowIdsPruned(s, root, asOf, preds)
                .select(req.fieldNames.toIndexedSeq.map(col): _*).rdd
            }
          }.asInstanceOf[T]
        }
      }

      /** The native columnar Batch path (GraftBatchScan) when the
        * snapshot is eligible: same pruning, same vectorized parquet
        * reader, but no Row bridge — plus runtime (DPP) file pruning
        * and storage-partitioned joins, which the V1 wrapper
        * structurally cannot surface. `spark.graft.native-scan.enabled`
        * = false is the session kill switch back to the V1 plane. */
      private def buildNativeScan(): Option[Scan] = {
        if (!spark.conf.get("spark.graft.native-scan.enabled", "true").toBoolean)
          return None
        val full = schema()
        val types = full.fields.map(f => f.name -> f.dataType).toMap
        val preds = pushed.flatMap(GraftRelation.toPred(_, types)).toIndexedSeq
        GraftTable.planNativeScan(spark, root, preds, asOf).map { np =>
          // a pushed LIMIT on an unfiltered scan: read just enough
          // files to cover n rows (the native twin of readFirstFiles)
          val entries = limit match {
            case Some(n) if pushed.isEmpty =>
              var cum = 0L
              np.entries.takeWhile { f => val need = cum < n; cum += f.records; need }
            case _ => np.entries
          }
          new GraftBatchScan(spark, fqName, root,
            np.copy(entries = entries), required.getOrElse(np.schema), pushed)
        }
      }

      /** One metadata-answered row for a fully-pushed aggregation
        * (COUNT(*)/MIN/MAX) — the values were folded from the manifest
        * at push time; no parquet is ever opened. */
      private def buildAggScan(aggSchema: StructType, values: Seq[Any]): Scan =
        new V1Scan {
          override def readSchema(): StructType = aggSchema
          override def toV1TableScan[T <: BaseRelation with TableScan](
              context: SQLContext): T = {
            val out = org.apache.spark.sql.Row.fromSeq(values)
            new BaseRelation with TableScan {
              override def sqlContext: SQLContext = context
              override val schema: StructType = aggSchema
              override def buildScan(): RDD[Row] =
                context.sparkSession.sparkContext.parallelize(Seq(out), 1)
            }.asInstanceOf[T]
          }
        }

      private def buildDataScan(): Scan = new V1Scan with SupportsReportStatistics {
        override def readSchema(): StructType = required.getOrElse(schema())
        override def toV1TableScan[T <: BaseRelation with TableScan](
            context: SQLContext): T =
          new GraftRelation(context, root, asOf, pushed,
            required.map(_.fieldNames), limit).asInstanceOf[T]
        /** Manifest-exact size/row stats AFTER partition+stats file
          * pruning on the pushed filters. Without this, a DSv2
          * relation defaults to "unknown = huge" and a small graft
          * dim table would never broadcast in a join — the single
          * most important planner signal a lake format owns. */
        override def estimateStatistics(): Statistics = {
          val snap = GraftTable.state(root, asOf)
          val live = GraftTable.statsForScan(spark, root, snap,
            pushed.flatMap(GraftRelation.toPred(_,
              schema().fields.map(f => f.name -> f.dataType).toMap)).toIndexedSeq)
          new Statistics {
            override def sizeInBytes(): java.util.OptionalLong =
              java.util.OptionalLong.of(live._1)
            override def numRows(): java.util.OptionalLong =
              java.util.OptionalLong.of(live._2)
          }
        }
      }
    }

  // by-FILTER overwrite (SupportsOverwrite): covers INSERT OVERWRITE
  // (truncate = overwrite AlwaysTrue), static INSERT OVERWRITE ...
  // PARTITION (p = v), and DataFrameWriterV2 overwrite(condition) —
  // each becomes one atomic overwriteWhere commit with the condition's
  // stats/partition pruning. DYNAMIC partition overwrite has no V1
  // fallback in Spark's planner; GraftTable.overwriteDynamic covers it
  // from the API.
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsOverwrite {
      private var overwriteFilters: Option[Array[Filter]] = None
      override def canOverwrite(filters: Array[Filter]): Boolean =
        filters.forall(f => GraftRelation.toCondition(f).isDefined)
      override def overwrite(filters: Array[Filter]): WriteBuilder = {
        overwriteFilters = Some(filters); this
      }
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          (data: DataFrame, _: Boolean) => {
            // Iceberg's WAP contract: a session-level spark.wap.id
            // stages the write ONLY when the table opted in — and
            // then it stages EVERY write shape, never a silent bypass
            val wapId = GraftTable.activeWapId(data.sparkSession, root)
            if (branch.isDefined) {
              require(overwriteFilters.isEmpty,
                s"INSERT OVERWRITE into a branch identifier is unsupported — " +
                  s"DELETE FROM $fqName WHERE ... then INSERT INTO it")
              GraftTable.appendToBranch(data.sparkSession, root, data, branch.get)
            } else overwriteFilters match {
              case Some(fs) =>
                val cond = fs.flatMap(GraftRelation.toCondition)
                  .reduceOption(_ && _).getOrElse(lit(true))
                wapId match {
                  case Some(w) => GraftTable.overwriteWhereStaged(
                    data.sparkSession, root, cond, w, Some(data))
                  case None =>
                    GraftTable.overwriteWhere(data.sparkSession, root, cond, Some(data))
                }
              case None =>
                wapId match {
                  case Some(w) => GraftTable.appendStaged(data.sparkSession, root, data, w)
                  case None => GraftTable.append(data.sparkSession, root, data)
                }
            }
          }
      }
    }
}

/** V1 relation bridging DSv2 reads onto GraftTable: requiredColumns
  * prune the parquet ReadSchema; pushed filters become stats-pruning
  * predicates (best effort; Spark re-applies every filter above). */
private[lake] class GraftRelation(ctx: SQLContext, root: String, asOf: Option[Long],
    pushed: Array[Filter] = Array.empty, requiredCols: Option[Array[String]] = None,
    limitHint: Option[Int] = None)
    extends BaseRelation with TableScan with PrunedFilteredScan {

  override def sqlContext: SQLContext = ctx

  private val fullSchema: StructType = GraftTable.state(root, asOf).schema

  override val schema: StructType = requiredCols match {
    case Some(cols) => StructType(cols.flatMap(c => fullSchema.fields.find(_.name == c)))
    case None => fullSchema
  }

  override def buildScan(): RDD[Row] =
    buildScan(requiredCols.getOrElse(fullSchema.fieldNames), pushed)

  override def buildScan(requiredColumns: Array[String], filters: Array[Filter]): RDD[Row] = {
    val types = fullSchema.fields.map(f => f.name -> f.dataType).toMap
    val preds = filters.flatMap(GraftRelation.toPred(_, types)).toSeq
    val df = (limitHint, preds) match {
      case (Some(n), Nil) =>
        // pushed LIMIT on an unfiltered, delete-free scan: read just
        // enough files (manifest counts) to cover n rows; Spark's own
        // limit still applies above, so partial coverage is safe
        GraftTable.readFirstFiles(ctx.sparkSession, root, n.toLong, asOf)
      case _ => GraftTable.planScan(ctx.sparkSession, root, preds, asOf).df
    }
    val projected =
      if (requiredColumns.isEmpty)
        // COUNT(*)-style scans: no columns needed, keep a 0-col frame
        df.select()
      else df.select(requiredColumns.map(col).toIndexedSeq: _*)
    projected.rdd
  }
}

private[graft] object GraftRelation {
  import GraftTable.{Eq, Ge, Gt, Le, Lt, Pred}

  /** parquet's binary min/max order — the order stats text is pruned
    * under for strings (one source of truth with the planners). */
  private val utf8Ordering: Ordering[String] =
    (a: String, b: String) => GraftTable.utf8Cmp(a, b)

  /** Source filter → stats-text predicates (the same rendering the
    * footer stats use). Non-literal / unsupported filters contribute
    * no prune — Spark re-applies them as row filters regardless. An
    * IN list prunes as its conservative [min, max] value range (the
    * everyday `k IN (...)` lookup must not scan the table at 100 TB),
    * and BOTH sides of a conjunction contribute. */
  /** External filter value → the stats-text rendering pruning compares
    * against (shared by pushed-filter translation and the native
    * scan's runtime DPP prune). None for null or unrenderable. */
  private[lake] def renderValue(v: Any): Option[String] = v match {
    case null => None
    case d: java.sql.Date => Some(d.toString)
    case d: java.time.LocalDate => Some(d.toString)
    case t: java.sql.Timestamp =>
      Some((t.getTime * 1000L + t.getNanos / 1000 % 1000).toString)
    case t: java.time.Instant =>
      Some((t.getEpochSecond * 1000000L + t.getNano / 1000).toString)
    case t: java.time.LocalDateTime =>
      Some((t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + t.getNano / 1000).toString)
    case x @ (_: Int | _: Long | _: Double | _: Float | _: Short | _: Byte | _: String) =>
      Some(x.toString)
    // decimal text prunes partition tuples only (cmp orders it via
    // BigDecimal); footer stats never carry decimals (statsTypes)
    case d: java.math.BigDecimal => Some(d.toString)
    case d: scala.math.BigDecimal => Some(d.toString)
    case _ => None
  }

  def toPred(f: Filter, types: Map[String, DataType]): Seq[Pred] = {
    def render(v: Any): Option[String] = renderValue(v)
    def mk(attr: String, v: Any, ctor: (String, String) => Pred): Seq[Pred] =
      if (types.contains(attr)) render(v).map(ctor(attr, _)).toSeq else Seq.empty
    f match {
      case EqualTo(a, v) => mk(a, v, Eq.apply)
      case GreaterThan(a, v) => mk(a, v, Gt.apply)
      case LessThan(a, v) => mk(a, v, Lt.apply)
      case GreaterThanOrEqual(a, v) => mk(a, v, Ge.apply)
      case LessThanOrEqual(a, v) => mk(a, v, Le.apply)
      case In(a, vs) if types.contains(a) && vs.nonEmpty =>
        val rendered = vs.toIndexedSeq.map(render)
        if (rendered.exists(_.isEmpty)) Seq.empty   // a null/exotic member: no prune
        else {
          val rs = rendered.flatten
          // the list's [min, max] under the SAME comparator the
          // pruning uses (GraftTable.cmp's type dispatch)
          val (lo, hi) = types(a) match {
            case IntegerType | LongType | ShortType | ByteType |
                 TimestampType | TimestampNTZType =>
              // decimal text is NOT order-consistent with the value
              // ("17" > "5" as text): every integral width must take
              // the numeric extremes, or the [lo, hi] row filter
              // below inverts and silently drops matching rows
              (rs.minBy(_.toLong), rs.maxBy(_.toLong))
            case DoubleType | FloatType =>
              (rs.minBy(_.toDouble), rs.maxBy(_.toDouble))
            case _: DecimalType =>
              (rs.minBy(scala.math.BigDecimal(_)), rs.maxBy(scala.math.BigDecimal(_)))
            case _ =>   // strings UTF-8; ISO dates: lexicographic
              (rs.min(utf8Ordering), rs.max(utf8Ordering))
          }
          Seq(Ge(a, lo), Le(a, hi))
        }
      // Spark pushes IsNotNull alongside every comparison filter —
      // null-count pruning turns that into file skips on sparse
      // columns (all-null files drop; zero-null files drop IS NULL)
      case IsNotNull(a) if types.contains(a) => Seq(GraftTable.NotNull(a))
      case IsNull(a) if types.contains(a) => Seq(GraftTable.IsNull(a))
      case And(l, r) => toPred(l, types) ++ toPred(r, types)
      case _ => Seq.empty
    }
  }

  /** Source filter → full Column condition (for SupportsDelete, where
    * the WHOLE predicate must translate or we refuse the delete). */
  def toCondition(f: Filter): Option[org.apache.spark.sql.Column] = f match {
    case AlwaysTrue() => Some(lit(true))
    case AlwaysFalse() => Some(lit(false))
    case EqualTo(a, v) => Some(col(a) === org.apache.spark.sql.functions.lit(v))
    case EqualNullSafe(a, v) => Some(col(a) <=> org.apache.spark.sql.functions.lit(v))
    case GreaterThan(a, v) => Some(col(a) > org.apache.spark.sql.functions.lit(v))
    case GreaterThanOrEqual(a, v) => Some(col(a) >= org.apache.spark.sql.functions.lit(v))
    case LessThan(a, v) => Some(col(a) < org.apache.spark.sql.functions.lit(v))
    case LessThanOrEqual(a, v) => Some(col(a) <= org.apache.spark.sql.functions.lit(v))
    case In(a, vs) => Some(col(a).isin(vs.toIndexedSeq: _*))
    case IsNull(a) => Some(col(a).isNull)
    case IsNotNull(a) => Some(col(a).isNotNull)
    case StringStartsWith(a, v) => Some(col(a).startsWith(v))
    case StringEndsWith(a, v) => Some(col(a).endsWith(v))
    case StringContains(a, v) => Some(col(a).contains(v))
    case And(l, r) => for { lc <- toCondition(l); rc <- toCondition(r) } yield lc && rc
    case Or(l, r) => for { lc <- toCondition(l); rc <- toCondition(r) } yield lc || rc
    case Not(c) => toCondition(c).map(!_)
    case _ => None
  }
}

/** Metadata tables (graft.ns.t.snapshots etc.) — read-only V1 scans. */
private[lake] class GraftMetadataTable(fqName: String, root: String, kind: String)
    extends Table with SupportsRead {

  private def spark: SparkSession =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession).get

  private def df(s: SparkSession): DataFrame = kind match {
    case "snapshots" => GraftTable.snapshotsTable(s, root)
    case "files" => GraftTable.filesTable(s, root)
    case "history" => GraftTable.historyTable(s, root)
    case "partitions" => GraftTable.partitionsTable(s, root)
    case "manifests" => GraftTable.manifestsTable(s, root)
    case "refs" => GraftTable.refsTable(s, root)
    case "entries" => GraftTable.entriesTable(s, root)
    case "metadata_log_entries" => GraftTable.metadataLogEntriesTable(s, root)
    case "all_files" => GraftTable.allFilesTable(s, root)
    case "statistics" => GraftStats.statisticsTable(s, root)
    case "position_deletes" => GraftTable.positionDeletesTable(s, root)
    case "ndv" => GraftStats.ndvEstimates(s, root)
    case "properties" => GraftTable.propertiesTable(s, root)
  }

  override def name(): String = fqName
  override def schema(): StructType = df(spark).schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new V1Scan {
        override def readSchema(): StructType = schema()
        override def toV1TableScan[T <: BaseRelation with TableScan](
            context: SQLContext): T = {
          val outer = df _
          new BaseRelation with TableScan {
            override def sqlContext: SQLContext = context
            override val schema: StructType = outer(context.sparkSession).schema
            override def buildScan(): RDD[Row] = outer(context.sparkSession).rdd
          }.asInstanceOf[T]
        }
      }
    }
}
