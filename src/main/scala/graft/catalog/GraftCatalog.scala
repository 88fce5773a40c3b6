package graft.catalog

import graft.table.{TableCatalog => GraftTableCatalog, TxTable}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import java.util
import scala.jdk.CollectionConverters._

/**
 * DataSource V2 catalog plugin: exposes the graft transaction-log table
 * layer as a first-class Spark catalog, the way the reference's tables
 * are exposed through `s3tablescatalog` to Athena (`Database=analytics,
 * Catalog=s3tablescatalog/streamtablebucket`,
 * kinesis-firehose-stream/README.md:147). Register with
 *
 * {{{
 *   spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
 *   spark.conf.set("spark.sql.catalog.graft.warehouse", "/path/to/warehouse")
 * }}}
 *
 * after which every `spark.sql` statement resolves graft tables natively —
 * `SELECT … FROM graft.analytics.txns`, `CREATE TABLE graft.ns.t (…)
 * PARTITIONED BY (date)`, `INSERT INTO/OVERWRITE`, `ALTER TABLE … ADD/
 * DROP/RENAME COLUMN`, `SHOW TABLES IN graft.ns`, `DESCRIBE` — parsed and
 * analyzed by Catalyst against this catalog instead of the regex rewrite
 * in [[graft.table.GraftSql]].
 *
 * The warehouse path is read from the session conf ON EVERY ACCESS (not
 * captured at `initialize`): Spark's CatalogManager caches one plugin
 * instance per catalog name for the session's lifetime, while tests and
 * the verify harness point the same session at many scratch warehouses —
 * a captured path would silently pin the first one.
 */
class GraftCatalog extends TableCatalog with SupportsNamespaces
    with FunctionCatalog with ViewCatalog with ProcedureCatalog
    with StagingTableCatalog {

  private var catalogName: String = "graft"

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit =
    catalogName = name

  override def name(): String = catalogName

  /** Bare (one-part) references resolve under `default` — the same
    * namespace the text surface's CREATE TABLE defaults to; without
    * this the clone's current namespace is empty and a bare name died
    * in ns1's require instead of resolving (or cleanly not-found). */
  override def defaultNamespace(): Array[String] = Array("default")

  /** DEFAULT-valued columns are accepted in CREATE/ALTER (stored as
    * Spark's standard schema-metadata keys — see
    * [[graft.table.TxTable.CurrentDefaultKey]]). */
  override def capabilities(): util.Set[TableCatalogCapability] =
    Set(TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE).asJava

  private def spark: SparkSession = SparkSession.active

  private def inner: GraftTableCatalog = {
    val key = s"spark.sql.catalog.$catalogName.warehouse"
    val wh = spark.conf.getOption(key).getOrElse(
      throw new IllegalStateException(s"$key is not set"))
    // catalog calls run during analysis, before the optimizer picks its
    // rules, so the session plans this query with them
    org.apache.spark.sql.graft.GraftPlanner.install(spark)
    new GraftTableCatalog(spark, new Path(wh))
  }

  private def ns1(namespace: Array[String]): String = {
    require(namespace.length == 1,
      s"graft namespaces are single-level, got ${namespace.mkString(".")}")
    namespace(0)
  }

  // ---- tables ----------------------------------------------------------

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val cat = inner
    val ns = ns1(namespace)
    if (!cat.listNamespaces().contains(ns)) throw new NoSuchNamespaceException(namespace)
    cat.listTables(ns).map(t => Identifier.of(namespace, t)).toArray
  }

  private val MetadataKinds =
    Set("files", "partitions", "history", "tags", "branches", "constraints",
      "indexes")

  override def loadTable(ident: Identifier): Table = {
    val cat = inner
    // `graft.ns.t.files` parses as namespace [ns, t] + name "files" —
    // the Iceberg metadata-table addressing; serve it when [ns, t]
    // names a real table and the suffix is a known metadata kind
    if (ident.namespace().length == 2 &&
        MetadataKinds.contains(ident.name()) &&
        cat.tableExists(ident.namespace()(0), ident.namespace()(1))) {
      return new GraftMetadataTable(
        cat.getTable(ident.namespace()(0), ident.namespace()(1)), ident.name())
    }
    // `graft.ns.t.changes` — the stored Change Data Feed (batch +
    // micro-batch streaming), the Delta table_changes / Iceberg
    // changelog addressing; data-volume rows, so a DISTRIBUTED scan
    // (unlike the driver-local metadata tables above)
    if (ident.namespace().length == 2 && ident.name() == "changes" &&
        cat.tableExists(ident.namespace()(0), ident.namespace()(1))) {
      return new GraftChangesTable(
        cat.getTable(ident.namespace()(0), ident.namespace()(1)))
    }
    // `graft.ns.t.branch_audit` — the Iceberg branch addressing: reads
    // AND writes (INSERT / UPDATE / MERGE) target the branch chain
    if (ident.namespace().length == 2 && ident.name().startsWith("branch_") &&
        cat.tableExists(ident.namespace()(0), ident.namespace()(1))) {
      val t = cat.getTable(ident.namespace()(0), ident.namespace()(1))
      val b = ident.name().stripPrefix("branch_")
      if (t.branches.contains(b)) return new GraftV2Table(t.branch(b))
    }
    // an unknown sub-table suffix (graft.ns.t.snapshots) or a missing
    // branch falls through to here with a 2-level namespace — Spark's
    // resolution contract wants NoSuchTableException ("not found"),
    // not ns1's IllegalArgumentException (which aborts analysis with a
    // misleading namespace error)
    if (ident.namespace().length != 1) throw new NoSuchTableException(ident)
    val (ns, tbl) = (ns1(ident.namespace()), ident.name())
    // ONE head resolution per load: the returned table pins the
    // snapshot it resolved (the V2 contract — a loaded table serves a
    // consistent version; each statement loads afresh), and a missing
    // table surfaces from that same resolution instead of a separate
    // exists probe + open fail-fast (3 metadata round-trips → 1).
    try new GraftV2Table(cat.getTablePinned(ns, tbl))
    catch {
      case _: IllegalStateException | _: java.io.FileNotFoundException =>
        throw new NoSuchTableException(ident)
    }
  }

  /** `SELECT … FROM graft.ns.t VERSION AS OF <v|tag|branch>` — native
    * time travel: a number pins that committed version; otherwise the
    * name resolves as a tag, then as a branch head (the Iceberg
    * branch/tag addressing shape). */
  override def loadTable(ident: Identifier, version: String): Table = {
    val cat = inner
    if (ident.namespace().length != 1) throw new NoSuchTableException(ident)
    val (ns, tbl) = (ns1(ident.namespace()), ident.name())
    if (!cat.tableExists(ns, tbl)) throw new NoSuchTableException(ident)
    val t = cat.getTable(ns, tbl)
    val ref = version.trim
    if (ref.forall(_.isDigit) && ref.nonEmpty)
      return new GraftV2Table(t, asOfVersion = Some(ref.toLong))
    t.tags.get(ref) match {
      case Some(v) => new GraftV2Table(t, asOfVersion = Some(v))
      case None if t.branches.contains(ref) => new GraftV2Table(t.branch(ref))
      case None => throw new IllegalArgumentException(
        s"no version, tag, or branch '$ref' on table $ns.$tbl")
    }
  }

  /** `TIMESTAMP AS OF` — Spark hands MICROseconds; pin the newest
    * version committed at or before that instant. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val cat = inner
    if (ident.namespace().length != 1) throw new NoSuchTableException(ident)
    val (ns, tbl) = (ns1(ident.namespace()), ident.name())
    if (!cat.tableExists(ns, tbl)) throw new NoSuchTableException(ident)
    val t = cat.getTable(ns, tbl)
    val cutoffMs = timestamp / 1000L
    // raw snapshot headers carry the commit time — no manifest loads.
    // Commit timestamps are monotone (each commit stamps now() after
    // winning the CAS), so binary-search the version range: O(log n)
    // header reads where a linear walk on a 10⁵-commit log would be
    // 10⁵ small reads per time-travel query.
    val v = try graft.table.TxLog.versionAtOrBefore(
      new Path(t.root, "_log"), t.currentVersion, cutoffMs,
      spark.sessionState.newHadoopConf())
    catch {
      case _: IllegalArgumentException =>
        throw new IllegalArgumentException(
          s"no version of $ns.$tbl committed at or before $cutoffMs ms")
    }
    new GraftV2Table(t, asOfVersion = Some(v))
  }

  /** user TBLPROPERTIES persist in the snapshot; Spark's reserved
    * bookkeeping keys (provider/location/owner/...) do not */
  private def userProps(properties: util.Map[String, String]): Map[String, String] = {
    import scala.jdk.CollectionConverters._
    properties.asScala.toMap -- Seq(
      "provider", "location", "comment", "owner", "external",
      "option.path", "path", "is_managed_location")
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table = {
    val cat = inner
    val (ns, tbl) = (ns1(ident.namespace()), ident.name())
    if (cat.tableExists(ns, tbl)) throw new TableAlreadyExistsException(ident)
    val spec = partitions.toSeq.map(GraftCatalog.toPartField)
    val created =
      if (spec.forall(_.isIdentity))
        // identity-only keeps the plain (pre-spec) log shape
        cat.createTable(ns, tbl, schema, spec.map(_.name), userProps(properties))
      else
        cat.createTable(ns, tbl, schema, Nil, userProps(properties),
          partitionSpec = spec)
    new GraftV2Table(created)
  }

  // ---- staged CTAS / RTAS (atomic CREATE OR REPLACE ... AS SELECT) ----

  private def stage(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String],
      mode: String): StagedTable = {
    val cat = inner
    val (ns, tbl) = (ns1(ident.namespace()), ident.name())
    if (mode == "create" && cat.tableExists(ns, tbl))
      throw new TableAlreadyExistsException(ident)
    cat.createNamespace(ns)
    // hidden staging root: underscore prefix keeps it out of listTables
    val stagedRoot = new Path(new Path(cat.warehouse, ns),
      s"_stage_${tbl}_${java.util.UUID.randomUUID().toString.replace("-", "")}")
    val spec = partitions.toSeq.map(GraftCatalog.toPartField)
    val staged =
      if (spec.forall(_.isIdentity))
        graft.table.TxTable.create(spark, stagedRoot, s"$ns.$tbl",
          schema, spec.map(_.name), userProps(properties))
      else
        graft.table.TxTable.create(spark, stagedRoot, s"$ns.$tbl",
          schema, Nil, userProps(properties), partitionSpec = spec)
    new GraftStagedTable(spark, cat, ns, tbl, staged, mode)
  }

  override def stageCreate(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): StagedTable =
    stage(ident, schema, partitions, properties, "create")

  override def stageReplace(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): StagedTable =
    stage(ident, schema, partitions, properties, "replace")

  override def stageCreateOrReplace(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): StagedTable =
    stage(ident, schema, partitions, properties, "createOrReplace")

  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val cat = inner
    val (ns, tbl) = (ns1(ident.namespace()), ident.name())
    if (!cat.tableExists(ns, tbl)) throw new NoSuchTableException(ident)
    val t = cat.getTable(ns, tbl)
    changes.foreach {
      case add: TableChange.AddColumn =>
        require(add.fieldNames().length == 1, "nested ADD COLUMN is not supported")
        val metadata = Option(add.defaultValue()).map { dv =>
          // store the SQL text under Spark's default-value keys: the
          // analyzer applies CURRENT_DEFAULT to inserts omitting the
          // column; the parquet readers fill absent columns from
          // EXISTS_DEFAULT, so the add is metadata-only
          new org.apache.spark.sql.types.MetadataBuilder()
            .putString(graft.table.TxTable.CurrentDefaultKey, dv.getSql)
            .putString(graft.table.TxTable.ExistsDefaultKey, dv.getSql)
            .build()
        }.getOrElse(org.apache.spark.sql.types.Metadata.empty)
        t.addColumn(org.apache.spark.sql.types.StructField(
          add.fieldNames()(0), add.dataType(), nullable = true, metadata))
      case upd: TableChange.UpdateColumnDefaultValue =>
        require(upd.fieldNames().length == 1, "nested ALTER COLUMN is not supported")
        t.setColumnDefault(upd.fieldNames()(0),
          Option(upd.newCurrentDefault()).map(_.getSql).filter(_.nonEmpty))
      case del: TableChange.DeleteColumn =>
        require(del.fieldNames().length == 1, "nested DROP COLUMN is not supported")
        t.dropColumn(del.fieldNames()(0))
      case ren: TableChange.RenameColumn =>
        require(ren.fieldNames().length == 1, "nested RENAME COLUMN is not supported")
        t.renameColumn(ren.fieldNames()(0), ren.newName())
      case upd: TableChange.UpdateColumnType =>
        require(upd.fieldNames().length == 1, "nested ALTER COLUMN is not supported")
        t.widenColumn(upd.fieldNames()(0), upd.newDataType())
      case set: TableChange.SetProperty =>
        t.setProperties(Map(set.property() -> set.value()))
      case rm: TableChange.RemoveProperty =>
        t.unsetProperties(Seq(rm.property()))
      case other =>
        throw new UnsupportedOperationException(s"ALTER TABLE change $other")
    }
    new GraftV2Table(cat.getTable(ns, tbl))
  }

  override def dropTable(ident: Identifier): Boolean = {
    val cat = inner
    val (ns, tbl) = (ns1(ident.namespace()), ident.name())
    val existed = cat.tableExists(ns, tbl)
    if (existed) cat.dropTable(ns, tbl)
    existed
  }

  /** Rename is a directory move: table identity lives in the warehouse
    * layout, the log inside moves with it (same-namespace moves only,
    * mirroring the reference's immovable bucket/namespace hierarchy). */
  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    val cat = inner
    val (ons, otbl) = (ns1(oldIdent.namespace()), oldIdent.name())
    val (nns, ntbl) = (ns1(newIdent.namespace()), newIdent.name())
    if (!cat.tableExists(ons, otbl)) throw new NoSuchTableException(oldIdent)
    if (cat.tableExists(nns, ntbl)) throw new TableAlreadyExistsException(newIdent)
    val fs = cat.tableRoot(ons, otbl).getFileSystem(
      spark.sessionState.newHadoopConf())
    cat.createNamespace(nns)
    fs.rename(cat.tableRoot(ons, otbl), cat.tableRoot(nns, ntbl))
  }

  // ---- views (persistent SQL views — the Athena CREATE VIEW surface) --

  private def warehousePath: Path = {
    val key = s"spark.sql.catalog.$catalogName.warehouse"
    new Path(spark.conf.getOption(key).getOrElse(
      throw new IllegalStateException(s"$key is not set")))
  }

  override def listViews(namespace: String*): Array[Identifier] =
    if (namespace.length != 1) Array.empty
    else GraftViews.list(spark, warehousePath, namespace.head).toArray

  override def loadView(ident: Identifier): View =
    GraftViews.load(spark, warehousePath, ident)

  override def viewExists(ident: Identifier): Boolean =
    GraftViews.exists(spark, warehousePath, ident)

  override def createView(info: ViewInfo): View = {
    inner.createNamespace(ns1(info.ident.namespace()))
    GraftViews.create(spark, warehousePath, info, replace = false)
  }

  override def replaceView(info: ViewInfo, orCreate: Boolean): View = {
    if (!orCreate && !viewExists(info.ident))
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchViewException(info.ident)
    inner.createNamespace(ns1(info.ident.namespace()))
    GraftViews.create(spark, warehousePath, info, replace = true)
  }

  override def alterView(ident: Identifier, changes: ViewChange*): View = {
    val sets = changes.collect {
      case s: ViewChange.SetProperty => s.property() -> s.value() }.toMap
    val unsets = changes.collect {
      case u: ViewChange.RemoveProperty => u.property() }
    GraftViews.setProperties(spark, warehousePath, ident, sets, unsets)
  }

  override def dropView(ident: Identifier): Boolean =
    GraftViews.drop(spark, warehousePath, ident)

  override def renameView(oldIdent: Identifier, newIdent: Identifier): Unit =
    GraftViews.rename(spark, warehousePath, oldIdent, newIdent)

  // ---- functions (the Iceberg `system.bucket`-style transform fns) ----

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    if (namespace.length <= 1)
      GraftFunctions.names.map(n => Identifier.of(namespace, n)).toArray
    else Array.empty

  /** Transform functions resolve from ANY namespace depth (Spark's SPJ
    * resolution asks with an empty namespace; users may qualify). */
  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    GraftFunctions.load(ident.name()).getOrElse(
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchFunctionException(ident))

  override def functionExists(ident: Identifier): Boolean =
    GraftFunctions.load(ident.name()).isDefined

  // ---- procedures (the Iceberg `CALL catalog.system.<proc>` surface) --

  /** Procedures resolve under `system` (the Iceberg convention) or an
    * empty namespace — `CALL graft.system.expire_snapshots(...)`. */
  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    require(ident.namespace().isEmpty ||
      ident.namespace().sameElements(Array("system")),
      s"procedures live in the 'system' namespace, got ${ident.namespace().mkString(".")}")
    GraftProcedures.load(ident.name(), () => inner).getOrElse(
      throw new RuntimeException(
        s"no procedure ${ident.name()} " +
          s"(available: ${GraftProcedures.names.mkString(", ")})"))
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty || namespace.sameElements(Array("system")))
      GraftProcedures.names.map(n => Identifier.of(Array("system"), n)).toArray
    else Array.empty

  // ---- namespaces ------------------------------------------------------

  override def listNamespaces(): Array[Array[String]] =
    inner.listNamespaces().map(Array(_)).toArray

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else if (inner.listNamespaces().contains(ns1(namespace))) Array.empty
    else throw new NoSuchNamespaceException(namespace)

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] =
    if (inner.listNamespaces().contains(ns1(namespace)))
      Map.empty[String, String].asJava
    else throw new NoSuchNamespaceException(namespace)

  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit =
    inner.createNamespace(ns1(namespace))

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("ALTER NAMESPACE")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    val cat = inner
    val ns = ns1(namespace)
    val existed = cat.listNamespaces().contains(ns)
    if (existed) {
      if (!cascade) require(cat.listTables(ns).isEmpty,
        s"namespace $ns is not empty (use CASCADE)")
      cat.dropNamespace(ns)
    }
    existed
  }
}

object GraftCatalog {

  /** `PARTITIONED BY (days(ts), bucket(16, id), truncate(4, code))` —
    * Spark's V2 transforms → the table layer's partition-spec fields
    * (Iceberg's hidden partitioning; derived fields are named
    * `<source>_<transform>`, the Iceberg naming). Singular spellings
    * (`day(ts)`) arrive as ApplyTransform and are accepted too. */
  private[catalog] def toPartField(
      t: org.apache.spark.sql.connector.expressions.Transform)
      : graft.table.PartField = {
    import org.apache.spark.sql.connector.expressions.{Literal => VLit, NamedReference}
    def ref: String = {
      val rs = t.references()
      require(rs.length == 1 && rs(0).fieldNames().length == 1,
        s"partition transform $t must reference one top-level column")
      rs(0).fieldNames()(0)
    }
    def intArg: Int = t.arguments().collectFirst {
      case l: VLit[_] => l.value().toString.toInt
    }.getOrElse(throw new IllegalArgumentException(
      s"transform $t needs an integer argument"))
    t.name().toLowerCase match {
      case "identity"         => graft.table.PartField(ref, "identity", ref)
      case "years" | "year"   => graft.table.PartField(s"${ref}_year", "year", ref)
      case "months" | "month" => graft.table.PartField(s"${ref}_month", "month", ref)
      case "days" | "day"     => graft.table.PartField(s"${ref}_day", "day", ref)
      case "hours" | "hour"   => graft.table.PartField(s"${ref}_hour", "hour", ref)
      case "bucket"           => graft.table.PartField(s"${ref}_bucket", "bucket", ref, intArg)
      case "truncate"         => graft.table.PartField(s"${ref}_trunc", "truncate", ref, intArg)
      case other => throw new UnsupportedOperationException(
        s"unsupported partition transform '$other' (supported: identity, " +
          "year(s), month(s), day(s), hour(s), bucket(n, col), truncate(n, col))")
    }
  }
}
