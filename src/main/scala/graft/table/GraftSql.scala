package graft.table

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.StructType

/**
 * SQL-text DDL router over [[TableCatalog]] (SURVEY §2.1 S9): the
 * reference manages tables with Athena DDL *strings* —
 * `CREATE TABLE IF NOT EXISTS ns.tbl (… STRUCT<…>, …) PARTITIONED BY
 * (date) LOCATION '…' TBLPROPERTIES ('table_type'='ICEBERG')`
 * (scripts/update_metadata.py:78-125) and idempotent drops
 * (lambda/custom_resource/index.py:140-160) — so the engine accepts the
 * same statements as text.
 *
 * Column lists (nested STRUCT<>, DECIMAL(p,s), `--` comments) are
 * parsed with Spark's own DDL parser (`StructType.fromDDL`), so the
 * accepted type dialect is exactly Spark SQL's. LOCATION and
 * TBLPROPERTIES are accepted and ignored: the catalog owns physical
 * layout, and the storage format is always the native transaction log.
 * Statements that aren't CREATE/DROP TABLE delegate to `spark.sql`
 * (the query surface over registered views).
 */
object GraftSql {

  private val CreateRe =
    """(?is)\s*CREATE\s+TABLE\s+(?:(IF\s+NOT\s+EXISTS)\s+)?([`\w.]+)\s*\((.*)""".r
  private val CtasRe =
    ("""(?is)\s*CREATE\s+TABLE\s+(?:(IF\s+NOT\s+EXISTS)\s+)?([`\w.]+)\s*""" +
     """(?:PARTITIONED\s+BY\s*\(((?:[^()]|\([^()]*\))*)\)\s*)?AS\s+(SELECT\b.*?|WITH\b.*?)\s*;?\s*""").r
  private val DropRe =
    """(?is)\s*DROP\s+TABLE\s+(?:(IF\s+EXISTS)\s+)?([`\w.]+)\s*;?\s*""".r
  // one nesting level inside the item list — transform calls
  // (`bucket(8, id)`) carry their own parentheses
  private val PartitionedRe =
    """(?is)PARTITIONED\s+BY\s*\(((?:[^()]|\([^()]*\))*)\)""".r.unanchored
  private val UpdateRe =
    """(?is)\s*UPDATE\s+([`\w.]+)\s+SET\s+(.*?)\s*;?\s*""".r
  private val DeleteFromRe =
    """(?is)\s*DELETE\s+FROM\s+([`\w.]+)(?:\s+WHERE\s+(.+?))?\s*;?\s*""".r
  private val InsertRe =
    """(?is)\s*INSERT\s+INTO\s+([`\w.]+)\s*(?:\(([^)]*)\)\s*)?((?:SELECT|VALUES|TABLE|FROM|WITH)\b.*?)\s*;?\s*""".r
  /** MERGE statement head — the branch list is parsed by [[parseMerge]]
    * (arbitrary `ON`, multiple conditional WHEN branches, the full
    * Iceberg/Delta/Athena statement the reference's engine runs for its
    * `unique_keys` upsert contract). */
  private val MergeHeadRe =
    """(?is)\s*MERGE\s+INTO\s+([`\w.]+)(?:\s+(?:AS\s+)?(?!USING\b)([`\w]+))?\s+USING\s+(.*)""".r
  private val ShowTablesRe =
    """(?is)\s*SHOW\s+TABLES(?:\s+(?:IN|FROM)\s+([`\w]+))?\s*;?\s*""".r
  private val ShowNamespacesRe =
    """(?is)\s*SHOW\s+(?:NAMESPACES|DATABASES|SCHEMAS)\s*;?\s*""".r
  private val DescribeRe =
    """(?is)\s*DESC(?:RIBE)?\s+(?:TABLE\s+)?([`\w.]+)\s*;?\s*""".r
  private val DescribeHistoryRe =
    """(?is)\s*DESC(?:RIBE)?\s+HISTORY\s+([`\w.]+)\s*;?\s*""".r
  private val DescribeDetailRe =
    """(?is)\s*DESC(?:RIBE)?\s+DETAIL\s+([`\w.]+)\s*;?\s*""".r
  private val ShowCreateRe =
    """(?is)\s*SHOW\s+CREATE\s+TABLE\s+([`\w.]+)\s*;?\s*""".r
  private val SetPropsRe =
    """(?is)\s*ALTER\s+TABLE\s+([`\w.]+)\s+SET\s+TBLPROPERTIES\s*\(([^)]*)\)\s*;?\s*""".r
  private val UnsetPropsRe =
    """(?is)\s*ALTER\s+TABLE\s+([`\w.]+)\s+UNSET\s+TBLPROPERTIES\s*(?:IF\s+EXISTS\s*)?\(([^)]*)\)\s*;?\s*""".r
  private val ShowPropsRe =
    """(?is)\s*SHOW\s+TBLPROPERTIES\s+([`\w.]+)\s*;?\s*""".r
  private val PropPairRe = """'([^']*)'\s*=\s*'([^']*)'""".r

  private def parseProps(list: String): Map[String, String] =
    PropPairRe.findAllMatchIn(list).map(m => m.group(1) -> m.group(2)).toMap
  private val OptimizeRe =
    """(?is)\s*OPTIMIZE\s+([`\w.]+)(?:\s+WHERE\s+(.+?))?(?:\s+ZORDER\s+BY\s*\(([^)]*)\))?\s*;?\s*""".r
  private val VacuumRe =
    """(?is)\s*VACUUM\s+([`\w.]+)(?:\s+RETAIN\s+(\d+)\s+VERSIONS)?\s*;?\s*""".r
  private val RestoreRe =
    """(?is)\s*RESTORE\s+(?:TABLE\s+)?([`\w.]+)\s+TO\s+VERSION\s+AS\s+OF\s+(\d+)\s*;?\s*""".r
  private val CloneRe =
    """(?is)\s*CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?([`\w.]+)\s+SHALLOW\s+CLONE\s+([`\w.]+)(?:\s+VERSION\s+AS\s+OF\s+(\d+))?\s*;?\s*""".r
  private val CreateBranchRe =
    """(?is)\s*ALTER\s+TABLE\s+([`\w.]+)\s+CREATE\s+BRANCH\s+([`\w-]+)\s*;?\s*""".r
  private val DropBranchRe =
    """(?is)\s*ALTER\s+TABLE\s+([`\w.]+)\s+DROP\s+BRANCH\s+([`\w-]+)\s*;?\s*""".r
  private val FastForwardRe =
    """(?is)\s*ALTER\s+TABLE\s+([`\w.]+)\s+FAST[\s-]?FORWARD\s+(?:BRANCH\s+)?([`\w-]+)\s*;?\s*""".r
  private val ShowBranchesRe =
    """(?is)\s*SHOW\s+BRANCHES\s+(?:IN\s+|FROM\s+)?([`\w.]+)\s*;?\s*""".r
  private val TxnBlockRe =
    """(?is)\s*BEGIN(?:\s+TRANSACTION)?\s*;(.*?);?\s*COMMIT\s*;?\s*""".r
  private val ShowTxnsRe =
    """(?is)\s*SHOW\s+TRANSACTIONS\s*;?\s*""".r
  // table-level access control (the LakeFormation-grant analog,
  // kfs/stack/lakeformation.py:186-243): allow lists stored as table
  // properties, enforced on this SQL surface per statement
  private val GrantRe =
    """(?is)\s*GRANT\s+(SELECT|INSERT|ALL)\s+ON\s+(?:TABLE\s+)?([`\w.]+)\s+TO\s+(?:'([^']+)'|([`\w@.\-]+))\s*;?\s*""".r
  // column-scoped SELECT (the LakeFormation column-level grant,
  // "Granting ... with column-level filtering"): the principal joins
  // the SELECT list AND gets a per-principal allowed-column scope
  private val GrantColsRe =
    """(?is)\s*GRANT\s+SELECT\s*\(([^)]+)\)\s+ON\s+(?:TABLE\s+)?([`\w.]+)\s+TO\s+(?:'([^']+)'|([`\w@.\-]+))\s*;?\s*""".r
  // row-filtered SELECT (the LakeFormation DATA-CELLS filter's row
  // dimension, "data filters" with a row filter expression): the
  // principal joins the SELECT list AND every read it issues is
  // wrapped in the stored predicate; composes with a column list
  // (the full data-cells filter = rows × columns)
  private val GrantRowsRe =
    """(?is)\s*GRANT\s+SELECT\s*(?:\(([^)]+)\))?\s+ON\s+(?:TABLE\s+)?([`\w.]+)\s+TO\s+(?:'([^']+)'|([`\w@.\-]+))\s+WHERE\s+(.+?)\s*;?\s*""".r
  private val RevokeRe =
    """(?is)\s*REVOKE\s+(SELECT|INSERT|ALL)\s+ON\s+(?:TABLE\s+)?([`\w.]+)\s+FROM\s+(?:'([^']+)'|([`\w@.\-]+))\s*;?\s*""".r
  private val ShowGrantsRe =
    """(?is)\s*SHOW\s+GRANTS\s+ON\s+(?:TABLE\s+)?([`\w.]+)\s*;?\s*""".r
  // namespace-scope grants — the DATABASE-level LakeFormation grant the
  // reference issues (lakeformation.py:201-215 grants DESCRIBE on the
  // database): SELECT/INSERT flow to every contained table (a
  // table-level list for the same privilege overrides); DESCRIBE
  // unlocks table metadata only
  private val GrantNsRe =
    """(?is)\s*GRANT\s+(SELECT|INSERT|DESCRIBE|ALL)\s+ON\s+(?:NAMESPACE|DATABASE|SCHEMA)\s+([`\w]+)\s+TO\s+(?:'([^']+)'|([`\w@.\-]+))\s*;?\s*""".r
  private val RevokeNsRe =
    """(?is)\s*REVOKE\s+(SELECT|INSERT|DESCRIBE|ALL)\s+ON\s+(?:NAMESPACE|DATABASE|SCHEMA)\s+([`\w]+)\s+FROM\s+(?:'([^']+)'|([`\w@.\-]+))\s*;?\s*""".r
  private val ShowGrantsNsRe =
    """(?is)\s*SHOW\s+GRANTS\s+ON\s+(?:NAMESPACE|DATABASE|SCHEMA)\s+([`\w]+)\s*;?\s*""".r
  // tag-based access control (LF-TBAC, the remaining LakeFormation
  // grant modality): tags assign per table/namespace, privileges grant
  // on tag EXPRESSIONS at the warehouse level, and any table whose
  // effective tags satisfy an expression serves its grants
  private val SetTableTagRe =
    """(?is)\s*ALTER\s+TABLE\s+([`\w.]+)\s+SET\s+TAGS?\s*\(([^)]*)\)\s*;?\s*""".r
  private val UnsetTableTagRe =
    """(?is)\s*ALTER\s+TABLE\s+([`\w.]+)\s+UNSET\s+TAGS?\s*\(([^)]*)\)\s*;?\s*""".r
  private val SetNsTagRe =
    """(?is)\s*ALTER\s+(?:NAMESPACE|DATABASE|SCHEMA)\s+([`\w]+)\s+SET\s+TAGS?\s*\(([^)]*)\)\s*;?\s*""".r
  private val UnsetNsTagRe =
    """(?is)\s*ALTER\s+(?:NAMESPACE|DATABASE|SCHEMA)\s+([`\w]+)\s+UNSET\s+TAGS?\s*\(([^)]*)\)\s*;?\s*""".r
  private val GrantTagRe =
    """(?is)\s*GRANT\s+(SELECT|INSERT|DESCRIBE|ALL)\s+ON\s+TAGS?\s*\(([^)]*)\)\s+TO\s+(?:'([^']+)'|([`\w@.\-]+))\s*;?\s*""".r
  private val RevokeTagRe =
    """(?is)\s*REVOKE\s+(SELECT|INSERT|DESCRIBE|ALL)\s+ON\s+TAGS?\s*\(([^)]*)\)\s+FROM\s+(?:'([^']+)'|([`\w@.\-]+))\s*;?\s*""".r
  private val ShowTagGrantsRe =
    """(?is)\s*SHOW\s+TAG\s+GRANTS\s*;?\s*""".r
  private val ShowTagsRe =
    """(?is)\s*SHOW\s+TAGS\s+ON\s+(?:TABLE\s+)?([`\w.]+)\s*;?\s*""".r
  private val AddConstraintRe =
    """(?is)\s*ALTER\s+TABLE\s+([`\w.]+)\s+ADD\s+CONSTRAINT\s+([`\w]+)\s+CHECK\s*\((.+)\)\s*;?\s*""".r
  private val DropConstraintRe =
    """(?is)\s*ALTER\s+TABLE\s+([`\w.]+)\s+DROP\s+CONSTRAINT\s+([`\w]+)\s*;?\s*""".r
  private val AnalyzeRe =
    """(?is)\s*ANALYZE\s+TABLE\s+([`\w.]+)\s+COMPUTE\s+STATISTICS(?:\s+FOR\s+(?:(ALL)\s+COLUMNS|COLUMNS\s+([^;]+?)))?\s*;?\s*""".r
  private val SetPartSpecRe =
    """(?is)\s*ALTER\s+TABLE\s+([`\w.]+)\s+SET\s+PARTITION\s+SPEC\s*\(((?:[^()]|\([^()]*\))*)\)\s*;?\s*""".r
  private val WriteOrderedRe =
    """(?is)\s*ALTER\s+TABLE\s+([`\w.]+)\s+WRITE\s+ORDERED\s+BY\s*\(([^)]+)\)\s*;?\s*""".r
  private val WriteUnorderedRe =
    """(?is)\s*ALTER\s+TABLE\s+([`\w.]+)\s+WRITE\s+UNORDERED\s*;?\s*""".r
  private val CopyIntoRe =
    """(?is)\s*COPY\s+INTO\s+([`\w.]+)\s+FROM\s+'([^']+)'(?:\s+FILEFORMAT\s*=\s*(\w+))?\s*;?\s*""".r
  private val AddFilesRe =
    """(?is)\s*ALTER\s+TABLE\s+([`\w.]+)\s+ADD\s+FILES\s+'([^']+)'\s*;?\s*""".r
  private val DropPartitionRe =
    """(?is)\s*ALTER\s+TABLE\s+([`\w.]+)\s+DROP\s+(?:IF\s+EXISTS\s+)?PARTITION\s*\(([^)]*)\)\s*;?\s*""".r
  private val ShowPartitionsRe =
    """(?is)\s*SHOW\s+PARTITIONS\s+([`\w.]+)\s*;?\s*""".r
  private val CreateViewRe =
    """(?is)\s*CREATE\s+(?:(OR\s+REPLACE)\s+)?VIEW\s+(?:(IF\s+NOT\s+EXISTS)\s+)?([`\w.]+)\s+AS\s+(.*?)\s*;?\s*""".r
  private val CreateMvRe =
    """(?is)\s*CREATE\s+MATERIALIZED\s+VIEW\s+(?:(IF\s+NOT\s+EXISTS)\s+)?([`\w.]+)\s+AS\s+(.*?)\s*;?\s*""".r
  private val RefreshMvRe =
    """(?is)\s*REFRESH\s+MATERIALIZED\s+VIEW\s+([`\w.]+)\s*;?\s*""".r
  private val DropMvRe =
    """(?is)\s*DROP\s+MATERIALIZED\s+VIEW\s+(?:(IF\s+EXISTS)\s+)?([`\w.]+)\s*;?\s*""".r
  private val DropViewRe =
    """(?is)\s*DROP\s+VIEW\s+(?:(IF\s+EXISTS)\s+)?([`\w.]+)\s*;?\s*""".r
  private val ShowViewsRe =
    """(?is)\s*SHOW\s+VIEWS(?:\s+(?:IN|FROM)\s+([`\w]+))?\s*;?\s*""".r
  private val ShowMvRe =
    """(?is)\s*SHOW\s+MATERIALIZED\s+VIEWS(?:\s+(?:IN|FROM)\s+([`\w]+))?\s*;?\s*""".r
  /** `SHOW INDEXES ON ns.tbl` — sidecar-index observability
    * (TxTable.showIndexes): built-at version + row-weighted coverage
    * per Bloom/vector index. */
  private val ShowIndexesRe =
    """(?is)\s*SHOW\s+INDEXES\s+ON\s+([`\w.]+)\s*;?\s*""".r

  /** ONE catalog name per warehouse (`graftsql_<md5(path)>`): the
    * plugin's conf entries for a given name are written once with fixed
    * values and never repointed, so concurrent GraftSql calls against
    * catalogs with DIFFERENT warehouses can never clobber each other's
    * warehouse conf — the round-6 single-name design re-pointed one
    * shared `graftsql.warehouse` key per call. */
  private def catalogNameFor(cat: TableCatalog): String = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(cat.warehouse.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    s"graftsql_${digest.map(b => f"$b%02x").mkString}"
  }

  /** True iff catalog name `c` is governed by this warehouse's ACLs:
    * the canonical per-warehouse name, or ANY session-conf catalog
    * whose plugin class is GraftCatalog and whose warehouse resolves to
    * this one. Identifiers qualified through such an alias must pass
    * the same grant checks — an alias registered host-side (or minted
    * before the SET gate existed) must not shed them (ADVICE r9). */
  private def governedCatalog(cat: TableCatalog, c: String): Boolean =
    c == catalogNameFor(cat) || {
      val conf = cat.spark.conf
      conf.getOption(s"spark.sql.catalog.$c")
        .contains(classOf[graft.catalog.GraftCatalog].getName) &&
      conf.getOption(s"spark.sql.catalog.$c.warehouse").exists(w =>
        sameWarehouse(new org.apache.hadoop.fs.Path(w), cat.warehouse))
    }

  /** Warehouse identity for alias governance: scheme + authority +
    * NORMALIZED path. Path-only comparison (the previous form) both
    * over- and under-matched: a DIFFERENT store with the same path
    * (s3a://staging/wh vs s3a://prod/wh) was governed by this
    * warehouse's grants, while a same-directory spelling with ../
    * segments shed them. A missing scheme means the default (local)
    * filesystem, equivalent to an explicit file: URI. */
  private def sameWarehouse(a: org.apache.hadoop.fs.Path,
      b: org.apache.hadoop.fs.Path): Boolean = {
    val (ua, ub) = (a.toUri, b.toUri)
    def scheme(u: java.net.URI) = Option(u.getScheme).getOrElse("file")
    def auth(u: java.net.URI) = Option(u.getAuthority).getOrElse("")
    def norm(u: java.net.URI) =
      try java.nio.file.Paths.get(u.getPath).normalize().toString
      catch { case _: Exception => u.getPath }
    scheme(ua) == scheme(ub) && auth(ua) == auth(ub) && norm(ua) == norm(ub)
  }

  /** Register (idempotently) the V2 catalog plugin for this warehouse
    * and return its session catalog name — lets callers address tables
    * fully qualified (`<name>.ns.tbl[.changes]`) without flipping the
    * session's current catalog. */
  private[graft] def ensureCatalogRegistered(cat: TableCatalog): String = {
    val spark = cat.spark
    val name = catalogNameFor(cat)
    spark.conf.set(s"spark.sql.catalog.$name", "graft.catalog.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$name.warehouse",
      cat.warehouse.toString)
    name
  }

  /** A SESSION CLONE with this [[TableCatalog]]'s warehouse as the
    * CURRENT catalog, so `ns.tbl` references inside the statement
    * resolve natively by Catalyst — no text rewriting, and NO session-
    * global state: the clone copies session state (temp views, conf,
    * function registry) at statement time and shares the SparkContext
    * and SharedState, so its current-catalog setting is invisible to
    * every other thread. Statements targeting different warehouses
    * analyze and execute fully in parallel — the former global flip
    * lock serialized every native statement across a session. */
  private def sessionFor(cat: TableCatalog): org.apache.spark.sql.SparkSession = {
    val name = ensureCatalogRegistered(cat)
    val clone = org.apache.spark.sql.graft.ColumnBridge.cloneSession(cat.spark)
    clone.catalog.setCurrentCatalog(name)
    // a vector_search in the statement plans its operator on the clone,
    // and a small scan under a shuffling query runs as one task
    org.apache.spark.sql.graft.GraftPlanner.install(clone)
    clone
  }

  private val SessionSetRe =
    ("""(?is)\s*(?:SET|RESET|DECLARE""" +
      """|ADD\s+(?:JARS?|FILES?|ARCHIVES?)""" +
      """|DROP\s+TEMPORARY\s+(?:VARIABLE|FUNCTION)""" +
      """|CREATE\s+(?:OR\s+REPLACE\s+)?TEMPORARY\s+FUNCTION)\b.*""").r
  private val PrincipalSetRe =
    """(?is)\s*(?:SET|RESET)\s+(?:`)?graft\.sql\.principal\b.*""".r
  // catalog plugin conf is an ACL boundary: SET spark.sql.catalog.alias
  // = GraftCatalog + .warehouse=<this one> would mint an alias name the
  // canonical-name identifier checks don't recognize (ADVICE r9 high);
  // bare RESET would wipe every gateway-stamped conf at once
  private val CatalogConfSetRe =
    """(?is)\s*(?:SET|RESET)\s+(?:`)?spark\.sql\.catalog\..*""".r
  private val BareResetRe = """(?is)\s*RESET\s*;?\s*""".r
  private val CreateTempViewRe =
    """(?is)\s*CREATE\s+(?:OR\s+REPLACE\s+)?(GLOBAL\s+)?TEMP(?:ORARY)?\s+VIEW\s+(`[^`]+`|\w+).*""".r
  private val AlterTempViewRe =
    """(?is)\s*ALTER\s+VIEW\s+(?:(global_temp|`global_temp`)\s*\.\s*)?(`[^`]+`|\w+)\s+AS\b.*""".r
  private val DropBareViewRe =
    """(?is)\s*DROP\s+VIEW\s+(?:IF\s+EXISTS\s+)?(?:(global_temp|`global_temp`)\s*\.\s*)?(`[^`]+`|\w+)\s*;?\s*""".r
  // code-loading statements (a subset of SessionSetRe's shapes): closed
  // outright — see the SecurityException site for the rationale
  private val CodeLoadRe =
    ("""(?is)\s*(?:ADD\s+(?:JARS?|FILES?|ARCHIVES?)""" +
      """|CREATE\s+(?:OR\s+REPLACE\s+)?TEMPORARY\s+FUNCTION)\b.*""").r

  // --- statement-scoped table resolution --------------------------------

  /** One snapshot-PINNED TxTable handle per (ns, table) per STATEMENT:
    * a governed statement consults a table's metadata many times (view
    * substitution, ACL checks, column/row scopes, temp-view snapshot
    * validation) — resolving the head once per consultation cost ~20
    * metadata round-trips per cached-table SELECT on an object store
    * (r12 VERDICT task 6). The scope makes it ONE head resolution per
    * table per statement, and gives every governance decision
    * statement-level snapshot consistency (no mid-statement commit can
    * split what the checks saw from what the scopes applied).
    * Installed by [[nativeSql]]; helpers called outside a statement
    * fall back to direct resolution. */
  private val stmtTables = new ThreadLocal[
    scala.collection.mutable.Map[(String, String), Option[TxTable]]]()

  private def withStmtScope[T](body: => T): T =
    if (stmtTables.get() != null) body       // nested statement shares
    else {
      stmtTables.set(scala.collection.mutable.Map.empty)
      try body finally stmtTables.remove()
    }

  private def resolveTable(cat: TableCatalog, ns: String,
      tbl: String): Option[TxTable] = {
    def open(): Option[TxTable] =
      try Some(cat.getTablePinned(ns, tbl))
      catch {
        case _: IllegalStateException | _: java.io.FileNotFoundException =>
          None
      }
    val m = stmtTables.get()
    if (m == null) open() else m.getOrElseUpdate((ns, tbl), open())
  }

  private val ExecImmediateRe =
    """(?is)\s*EXECUTE\s+IMMEDIATE\b.*""".r

  private def nativeSql(cat: TableCatalog, text: String): DataFrame = {
    // replacing a RECORDED temp view is administration of another
    // principal's private object — refused BEFORE execution (the
    // record-keeping at the bottom would otherwise flip ownership to
    // the replacer and lock the creator out of their own view)
    text match {
      case CreateTempViewRe(global, name) =>
        refuseForeignTempView(cat.spark,
          (if (global != null) "global_temp." else "") +
            cleanIdent(name).toLowerCase)
      case _ => ()
    }
    // session-MUTATING statements must not run on the routing clone
    // (their effect would vanish with it): SET/RESET and single-part
    // DROP VIEW (temp views live in the real session) need no catalog
    // routing at all; CREATE TEMP VIEW runs on the clone so `ns.tbl`
    // references resolve, then the registered view copies back.
    text match {
      case ExecImmediateRe() =>
        // the embedded statement is a STRING inside the plan — the
        // governed walks below cannot see its relations, so it would
        // run with zero ACL checks; belt-and-braces with the
        // plan-level gate in enforceReadAcl (leading comments)
        throw new SecurityException(
          "EXECUTE IMMEDIATE is closed through this surface: its embedded " +
            "statement would run outside the governed plan walk")
      case SessionSetRe() =>
        // the caller's principal is set by the EMBEDDING GATEWAY via
        // spark.conf, never by SQL text — otherwise any denied
        // principal could SET itself into an allow list
        if (PrincipalSetRe.matches(text)) throw new SecurityException(
          "graft.sql.principal cannot be set through the SQL surface")
        // enforceReadAcl also treats GraftCatalog aliases over this
        // warehouse as governed (defense in depth), but the conf door
        // stays closed as the primary control
        if (CatalogConfSetRe.matches(text) || BareResetRe.matches(text))
          throw new SecurityException(
            "spark.sql.catalog.* conf (and bare RESET) cannot be changed " +
              "through the SQL surface")
        // code loading is a governance ESCAPE, not a session setting:
        // ADD JAR puts arbitrary classes on the JVM classpath and
        // CREATE TEMPORARY FUNCTION instantiates an arbitrary class —
        // either bypasses every ACL (r14 self-review; the reference's
        // Athena surface has no such statement). DROP/DECLARE/SET
        // remain open.
        if (CodeLoadRe.matches(text)) throw new SecurityException(
          "ADD JAR/FILE/ARCHIVE and CREATE TEMPORARY FUNCTION are closed " +
            "through this surface: loaded code runs outside the governed " +
            "plan walk")
        return cat.spark.sql(text)
      case DropBareViewRe(global, name) =>
        val key = (if (global != null) "global_temp." else "") +
          cleanIdent(name).toLowerCase
        // dropping another principal's recorded view is administration
        // of their private object (r14 self-review)
        refuseForeignTempView(cat.spark, key)
        tempViewRecords(cat.spark, key).remove(key)
        return cat.spark.sql(text)
      case _ => ()
    }
    val spark = sessionFor(cat)
    withStmtScope {
    // stored-view substitution: splice each view's PARSED definition
    // under its reference (plan-level, never text rewriting) — the
    // Athena/Hive view model, resolved lazily so views always see
    // current table state. No view references → plain delegation.
    val bridge = org.apache.spark.sql.graft.ColumnBridge
    val plan =
      try bridge.parsePlan(spark, text)
      catch { case _: Exception => null }   // non-plan statements (SET …)
    val result =
      if (plan == null) spark.sql(text)
      else {
        val sub = substituteTvfs(cat, substituteViews(cat, plan, depth = 0))
        enforceReadAcl(cat, sub)
        val scoped = applyColumnScopes(cat, sub)
        scoped match {
          // a temp view stores its original TEXT and re-analyzes it on
          // every read — which would silently re-parse the definition
          // WITHOUT the view substitution / row-column scope splices
          // (a row-filtered principal's own temp view would serve the
          // unfiltered table). When governance changed the plan, store
          // the GOVERNED analyzed plan instead of the text.
          case cvc: org.apache.spark.sql.execution.command.CreateViewCommand
              if !(scoped eq plan) =>
            bridge.ofRows(spark, cvc.copy(originalText = None))
          // CACHE TABLE x AS SELECT registers a temp view from its
          // original text too, but offers no analyzed-plan storage
          // path — refuse it when governance rewrote the query (use
          // CREATE TEMP VIEW, which stores the governed plan)
          case c: org.apache.spark.sql.catalyst.plans.logical.CacheTableAsSelect
              if !(scoped eq plan) =>
            throw new SecurityException(
              s"CACHE TABLE ${c.tempViewName} AS SELECT would re-analyze " +
                "its text outside this surface's governance; " +
                "use CREATE TEMP VIEW instead")
          // ALTER VIEW ... AS stores its original TEXT like CREATE
          // TEMP VIEW, but offers no analyzed-plan storage path — when
          // governance rewrote the new definition, storing the text
          // would re-analyze it outside the scopes later
          case av: org.apache.spark.sql.catalyst.plans.logical.AlterViewAs
              if !(scoped eq plan) =>
            throw new SecurityException(
              "ALTER VIEW ... AS on a governed definition would " +
                "re-analyze its text outside this surface's governance; " +
                "drop and recreate the view")
          case _ =>
            if (scoped eq plan) spark.sql(text)
            else bridge.ofRows(spark, scoped)
        }
      }
    text match {
      case CreateTempViewRe(global, name) =>
        // global temp views live in shared state (visible to the real
        // session already); local ones copy over from the clone
        if (global == null) bridge.copyTempView(spark, cat.spark, cleanIdent(name))
        // the stored definition was read-checked and row/column-scoped
        // for the CREATING principal — record it (with the underlying
        // tables' ACL snapshot) so other principals cannot read
        // through it, and so a later grant change invalidates it
        // (see [[TempViewRecord]])
        val key = (if (global != null) "global_temp." else "") +
          cleanIdent(name).toLowerCase
        val snap =
          if (plan == null) Map.empty[(String, String), Map[String, String]]
          else {
            val subbed = substituteViews(cat, plan, depth = 0)
            aclSnapshotIn(cat, subbed) ++ tvfAclSnapshot(cat, subbed)
          }
        tempViewRecords(cat.spark, key).put(key,
          TempViewRecord(currentPrincipal(cat.spark), snap))
      case AlterTempViewRe(global, name) =>
        // the OWNER redefined their recorded view (foreign redefinition
        // was refused pre-execution): copy the altered LOCAL view back
        // from the clone like CREATE does, and refresh the record's
        // ACL snapshot to the NEW definition's tables
        if (global == null) bridge.copyTempView(spark, cat.spark, cleanIdent(name))
        val key = (if (global != null) "global_temp." else "") +
          cleanIdent(name).toLowerCase
        val recs = tempViewRecords(cat.spark, key)
        if (recs.containsKey(key)) {
          val snap =
            if (plan == null) Map.empty[(String, String), Map[String, String]]
            else {
              val subbed = substituteViews(cat, plan, depth = 0)
              aclSnapshotIn(cat, subbed) ++ tvfAclSnapshot(cat, subbed)
            }
          recs.put(key, TempViewRecord(currentPrincipal(cat.spark), snap))
        }
      case _ => ()
    }
    result
    }
  }

  /** What a recorded temp view was checked against at CREATE time: the
    * creating principal, plus the `graft.acl.*` table properties AND
    * namespace-ACL state of every governed table its (substituted)
    * definition touches. The snapshot makes the governance LIVE rather
    * than point-in-time (ADVICE r10): a REVOKE, a new column/row scope,
    * or any other grant change on an underlying table invalidates the
    * view — without it, the creator would retain their old, wider
    * visibility through a pre-existing temp view for the rest of the
    * session, unlike stored views (which re-substitute and re-check
    * per statement). */
  private case class TempViewRecord(owner: String,
      aclSnapshot: Map[(String, String), Map[String, String]])

  /** Stored views are SHARED objects whose READS are governed
    * per-reader (every statement re-substitutes and re-checks the
    * definition under the caller's own grants) — but REPLACING or
    * DROPPING one is administration: the recorded creator or a
    * namespace owner only (r14 self-review: any principal could drop
    * or redefine another's stored view — an integrity/denial hole, not
    * a confidentiality one). Views without a recorded creator (pre-r14,
    * or V2-catalog-created) fall back to the namespace bar alone; a
    * fully ungoverned namespace stays open, like every other resource
    * before its first grant. */
  private def storedViewAdminCheck(cat: TableCatalog, ns: String,
      v: String): Unit = {
    val ident = org.apache.spark.sql.connector.catalog.Identifier
      .of(Array(ns), v)
    val owner = graft.catalog.GraftViews
      .storedOwner(cat.spark, cat.warehouse, ident)
    val nsOwners = listOf(
      NamespaceAcl.load(cat.spark, cat.warehouse, ns), "OWNER")
    val admins = owner.toSet ++ nsOwners
    if (admins.nonEmpty) {
      val me = currentPrincipal(cat.spark)
      if (!admins.contains(me)) throw new SecurityException(
        s"principal '$me' may not administer view $ns.$v " +
          s"(its creator${owner.fold("")(o => s" '$o'")} or a namespace " +
          "owner only)")
    }
  }

  /** A RECORDED temp view is private to its creator in every respect:
    * reading it is gated in [[enforceReadAcl]]; replacing (CREATE OR
    * REPLACE), redefining (ALTER VIEW … AS), or dropping it are
    * administration of the same private object and take the same bar
    * (r14 self-review: OR REPLACE re-recorded the REPLACER as owner —
    * any principal could hijack another's view name, plant a
    * definition scoped to themselves, and lock the creator out). */
  private def refuseForeignTempView(
      spark: org.apache.spark.sql.SparkSession, key: String): Unit = {
    val rec = tempViewRecords(spark, key).get(key)
    if (rec != null && rec.owner != currentPrincipal(spark))
      throw new SecurityException(
        s"temp view $key was created by principal '${rec.owner}' " +
          "and is private to it")
  }

  /** Creating principal + ACL snapshot of each temp view registered
    * THROUGH this surface: a temp view's stored plan was ACL-checked
    * (and row/column-scoped) for its creator at CREATE time, so
    * serving it to a different principal would launder the creator's
    * visibility — reads of a recorded temp view by anyone else are
    * denied. Temp views registered host-side (outside GraftSql) are
    * the storage-account path and stay ungoverned, like every other
    * direct-session read. LOCAL views key per session; GLOBAL temp
    * views live in SharedState and are visible to every session on the
    * SparkContext, so their records key per CONTEXT (ADVICE r10: a
    * session-keyed record let a second gateway session over the same
    * context resolve a governed global view with no ownership record).
    * Weak keys: entries die with the session/context. */
  private val tempViewOwnersBySession =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[org.apache.spark.sql.SparkSession,
        java.util.concurrent.ConcurrentHashMap[String, TempViewRecord]]())

  private val globalTempViewOwnersByContext =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[org.apache.spark.SparkContext,
        java.util.concurrent.ConcurrentHashMap[String, TempViewRecord]]())

  private def tempViewRecords(spark: org.apache.spark.sql.SparkSession,
      key: String)
      : java.util.concurrent.ConcurrentHashMap[String, TempViewRecord] =
    if (key.startsWith("global_temp.")) {
      val m = globalTempViewOwnersByContext
      m.synchronized {
        var cur = m.get(spark.sparkContext)
        if (cur == null) {
          cur = new java.util.concurrent.ConcurrentHashMap[String, TempViewRecord]()
          m.put(spark.sparkContext, cur)
        }
        cur
      }
    } else {
      val m = tempViewOwnersBySession
      m.synchronized {
        var cur = m.get(spark)
        if (cur == null) {
          cur = new java.util.concurrent.ConcurrentHashMap[String, TempViewRecord]()
          m.put(spark, cur)
        }
        cur
      }
    }

  /** Current ACL-relevant state of one governed table: its
    * `graft.acl.*` properties (grants, owners, column scopes, row
    * filters) plus the enclosing namespace's ACL entries — everything
    * a grant change can touch, so snapshot equality ⇔ "no grant on
    * this table changed". */
  private def aclStateOf(cat: TableCatalog, ns: String,
      tbl: String): Map[String, String] =
    resolveTable(cat, ns, tbl) match {
      case None => Map.empty
      case Some(t) =>
        t.properties.filter(_._1.startsWith("graft.acl.")) ++
          NamespaceAcl.load(cat.spark, cat.warehouse, ns)
            .map { case (k, v) => ("ns::" + k) -> v } ++
          // warehouse tag grants can widen/narrow this table's effective
          // access without touching its properties — pin them too
          TagAcl.load(cat.spark, cat.warehouse)
            .map { case (k, v) => ("tag::" + k) -> v }
    }

  /** Governed tables referenced anywhere in a (substituted) plan, with
    * their current ACL state — the snapshot a temp-view record pins. */
  private def aclSnapshotIn(cat: TableCatalog,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : Map[(String, String), Map[String, String]] = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
    val out = scala.collection.mutable.Map
      .empty[(String, String), Map[String, String]]
    plan.foreachWithSubqueries {
      case r: UnresolvedRelation =>
        val target = r.multipartIdentifier match {
          case Seq(ns, t)                                    => Some((ns, t))
          case Seq(c, ns, t) if governedCatalog(cat, c)      => Some((ns, t))
          // sub-tables (`ns.t.changes`, branches, metadata) are
          // governed by the base table's ACL
          case Seq(ns, t, _)                                 => Some((ns, t))
          case Seq(c, ns, t, _) if governedCatalog(cat, c)   => Some((ns, t))
          case _                                             => None
        }
        target.foreach { case (ns, t) =>
          if (!out.contains((ns, t)) && resolveTable(cat, ns, t).isDefined)
            out((ns, t)) = aclStateOf(cat, ns, t)
        }
      case _ => ()
    }
    out.toMap
  }

  /** Replace references to stored views (`ns.v`, or catalog-qualified
    * with THIS catalog's name) with their parsed definitions,
    * recursively — nested views resolve through the same path. Depth-
    * capped against definition cycles. */
  private def substituteViews(cat: TableCatalog,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      depth: Int): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
    import org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias
    import org.apache.spark.sql.connector.catalog.Identifier
    require(depth < 16, "view nesting deeper than 16 (definition cycle?)")
    val spark = cat.spark
    val myCatalog = catalogNameFor(cat)
    plan.transformUpWithSubqueries {
      case r: UnresolvedRelation =>
        val target: Option[(String, String)] = r.multipartIdentifier match {
          case Seq(ns, v)                       => Some((ns, v))
          case Seq(c, ns, v) if c == myCatalog  => Some((ns, v))
          case _                                => None
        }
        target.flatMap { case (ns, v) =>
          val ident = Identifier.of(Array(ns), v)
          if (!graft.catalog.GraftViews.exists(spark, cat.warehouse, ident)) None
          else {
            val view = graft.catalog.GraftViews.load(spark, cat.warehouse, ident)
            Some(SubqueryAlias(v, substituteViews(cat,
              org.apache.spark.sql.graft.ColumnBridge
                .parsePlan(spark, view.query), depth + 1)))
          }
        }.getOrElse(r)
    }
  }

  /** The governed table-valued functions [[substituteTvfs]] resolves. */
  private val GovernedTvfs = Set("vector_search", "table_changes")

  /**
   * Analyzer-level TVF resolution (r14 VERDICT task 1): `vector_search`
   * and `table_changes` used to be whole-statement regex dispatches, so
   * `SELECT * FROM vector_search(...) WHERE score > 0.9`, a join
   * against the result, or a CTE over it fell through to stock Spark
   * and errored. Here the PARSED plan's UnresolvedTableValuedFunction
   * nodes are resolved IN PLACE — any query position composes — with
   * the same bars applied at resolution as the old direct forms
   * (SELECT/full-select, column-scope coverage, row-filter →
   * IDSelector), and the result spliced as an ANALYZED subtree: no
   * unresolved relation survives for the read walk to re-check,
   * because the checks were just applied on this exact resolution.
   * Arguments must be LITERALS, fail-closed — like CALL's table
   * argument, a non-literal would resolve outside the governed walk.
   */
  private def substituteTvfs(cat: TableCatalog,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedTableValuedFunction
    import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
    import org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias
    def isOurs(u: UnresolvedTableValuedFunction): Boolean =
      u.name.length == 1 && GovernedTvfs.contains(u.name.head.toLowerCase)
    def litStr(e: Expression, fn: String): String = e match {
      case Literal(v, _) if v != null => String.valueOf(v)
      case other => throw new SecurityException(
        s"$fn arguments must be literals through this surface " +
          s"(got ${other.sql}): a non-literal argument would resolve " +
          "outside the governed plan walk")
    }
    plan.transformUpWithSubqueries {
      // CTE definitions are INNER children of UnresolvedWith — the
      // generic transform never descends into them, so `WITH hits AS
      // (SELECT * FROM vector_search(...))` would sail through
      // unsubstituted and hit Spark's no-TVF-catalog error
      case w: org.apache.spark.sql.catalyst.plans.logical.UnresolvedWith =>
        w.copy(cteRelations = w.cteRelations.map { case (n, s, m) =>
          (n, substituteTvfs(cat, s)
            .asInstanceOf[SubqueryAlias], m)
        })
      case u: UnresolvedTableValuedFunction
          if isOurs(u) && u.name.head.equalsIgnoreCase("vector_search") =>
        val fn = "vector_search"
        val args = u.functionArgs
        require(args.size >= 3 && args.size <= 5,
          "usage: vector_search('ns.tbl', 'query_source' | array(...), k" +
            "[, 'vector_col'[, nprobe]])")
        val vecColOpt =
          if (args.size >= 4) Some(cleanIdent(litStr(args(3), fn))) else None
        val nprobeOpt =
          if (args.size >= 5) Some(litStr(args(4), fn).toInt) else None
        // the query source is EITHER a relation name (the batch form)
        // or one inline array literal (r15 VERDICT task 8 — the first
        // thing a real user does with a single query embedding is
        // inline it); the literal form takes the SAME corpus bars,
        // there is just no source relation to govern
        val df = literalVector(args(1), fn) match {
          case Some(vec) => vectorSearchLiteralRelation(cat,
            litStr(args(0), fn), vec, litStr(args(2), fn).toInt,
            vecColOpt, nprobeOpt)
          case None => vectorSearchRelation(cat, litStr(args(0), fn),
            litStr(args(1), fn), litStr(args(2), fn).toInt,
            vecColOpt, nprobeOpt)
        }
        SubqueryAlias(fn, df.queryExecution.analyzed)
      case u: UnresolvedTableValuedFunction
          if isOurs(u) && u.name.head.equalsIgnoreCase("table_changes") =>
        val fn = "table_changes"
        val args = u.functionArgs
        require(args.size == 2 || args.size == 3,
          "usage: table_changes('ns.tbl', from[, to])")
        val df = tableChangesRelation(cat, litStr(args(0), fn),
          litStr(args(1), fn),
          if (args.size == 3) Some(litStr(args(2), fn)) else None)
        SubqueryAlias(fn, df.queryExecution.analyzed)
    }
  }

  /** An `array(...)` argument of all-numeric-literal elements, or None
    * when the argument is something else (the relation-name form). An
    * array whose ELEMENTS are not literals fails closed like every
    * other TVF argument — a non-literal would evaluate outside the
    * governed walk. Matched on the UNRESOLVED shape (the parser emits
    * `array(…)` as an UnresolvedFunction; CreateArray covers a
    * pre-resolved splice). */
  private def literalVector(
      e: org.apache.spark.sql.catalyst.expressions.Expression,
      fn: String): Option[Seq[Float]] = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
    import org.apache.spark.sql.catalyst.expressions.{CreateArray, Expression, Literal}
    def elems(es: Seq[Expression]): Seq[Float] = es.map {
      case Literal(v, _) if v != null =>
        try String.valueOf(v).toFloat
        catch {
          case _: NumberFormatException => throw new SecurityException(
            s"$fn inline query vector elements must be numeric literals " +
              s"(got '${String.valueOf(v)}')")
        }
      case other => throw new SecurityException(
        s"$fn inline query vector elements must be numeric literals " +
          s"through this surface (got ${other.sql}): a non-literal " +
          "element would evaluate outside the governed plan walk")
    }
    e match {
      case f: UnresolvedFunction
          if f.nameParts.length == 1 &&
            f.nameParts.head.equalsIgnoreCase("array") =>
        Some(elems(f.arguments))
      case c: CreateArray => Some(elems(c.children))
      case _ => None
    }
  }

  /** `table_changes('ns.tbl', from[, to])` — the Delta CDF TVF read
    * over the STORED change feed (TxTable.changeFeed). Bounds are
    * versions (numbers) or commit timestamps (`yyyy-MM-dd
    * HH:mm:ss[.f]` strings, resolved by binary search). The feed
    * returns UNSCOPED rows, so the full-select bar applies. */
  private def tableChangesRelation(cat: TableCatalog, rawName: String,
      from: String, to: Option[String]): DataFrame = {
    val (ns, tbl) = splitName(rawName)
    val t = cat.getTable(ns, tbl)
    fullSelectCheck(t)
    if (from.trim.matches("""\d+"""))
      t.changeFeed(from.trim.toLong,
        to.map(_.trim.toLong).getOrElse(-1L))
    else {
      def ms(s: String) = java.sql.Timestamp.valueOf(s.trim).getTime
      t.changeFeedByTime(ms(from), to.map(ms).getOrElse(Long.MaxValue))
    }
  }

  /** `vector_search('ns.tbl', 'query_source', k[, 'vector_col'
    * [, nprobe]])` — ANN top-k over the PERSISTED index (r13 VERDICT
    * task 4). `query_source` is any readable relation with (query_id,
    * query_vec) columns — resolved through THIS surface, so its own
    * grants (and temp-view privacy) apply to the caller. */
  private def vectorSearchRelation(cat: TableCatalog, rawName: String,
      qname: String, k: Int, vecColOpt: Option[String],
      nprobeOpt: Option[Int]): DataFrame = {
    val (t, colName, filt) = vectorSearchTarget(cat, rawName, vecColOpt)
    // the query source resolves through THIS surface: its own grants
    // apply to the caller. Backticks normalize PER dot-separated part
    // (ADVICE r14: a single outer strip turned `ns`.`q` into malformed
    // ns`.`q) and each part is re-quoted so the inner statement is
    // well-formed regardless of how the caller quoted the source.
    val qsource = qname.split('.').map(p => s"`${cleanIdent(p)}`")
      .mkString(".")
    val queriesDf = sql(cat, s"SELECT * FROM $qsource")
    t.vectorSearch(queriesDf, k, colName,
      nprobe = nprobeOpt.getOrElse(-1), where = filt)
  }

  /** The literal-vector form: `vector_search('ns.t', array(…), k)` —
    * one inline query embedding, query_id 0 in the output. Same corpus
    * bars as the relation form ([[vectorSearchTarget]]); the inline
    * vector itself carries no governed data. */
  private def vectorSearchLiteralRelation(cat: TableCatalog,
      rawName: String, vec: Seq[Float], k: Int, vecColOpt: Option[String],
      nprobeOpt: Option[Int]): DataFrame = {
    val (t, colName, filt) = vectorSearchTarget(cat, rawName, vecColOpt)
    val dim = t.vectorIndexMeta(colName).map(_.dim).getOrElse(-1)
    require(vec.size == dim,
      s"inline query vector has ${vec.size} elements; the index on " +
        s"$rawName.$colName expects $dim")
    val session = cat.spark
    import session.implicits._
    val queriesDf = Seq((0L, vec.toArray)).toDF("query_id", "query_vec")
    t.vectorSearch(queriesDf, k, colName,
      nprobe = nprobeOpt.getOrElse(-1), where = filt)
  }

  /** Shared corpus-side resolution + bars of both vector_search forms:
    * SELECT on the corpus, column scope covering (id, vector), row
    * filter → IDSelector. */
  private def vectorSearchTarget(cat: TableCatalog, rawName: String,
      vecColOpt: Option[String])
      : (TxTable, String, Option[org.apache.spark.sql.Column]) = {
    val (ns, tbl) = splitName(rawName)
    val t = cat.getTable(ns, tbl)
    aclCheck(t, "SELECT")
    val colName = vecColOpt.getOrElse {
      t.vectorIndexedColumns match {
        case Seq(one) => one
        case Nil => throw new IllegalStateException(
          s"no vector index on $ns.$tbl — CALL build_vector_index first")
        case many => throw new IllegalArgumentException(
          s"multiple vector indexes on $ns.$tbl " +
            s"(${many.mkString(", ")}); name the column")
      }
    }
    val meta = t.vectorIndexMeta(colName).getOrElse(
      throw new IllegalStateException(
        s"no vector index on $ns.$tbl.$colName"))
    val me = currentPrincipal(cat.spark)
    // column-scope composition: the search reads the vector column
    // (scores derive from it) and serves the id column — a scope
    // must COVER both; the output then exposes nothing outside it
    selectScope(t, me).foreach { cols =>
      if (!cols.contains(meta.idColumn) || !cols.contains(colName))
        throw new SecurityException(
          s"principal '$me' holds a column-scoped SELECT on " +
            s"$ns.$tbl that does not cover (${meta.idColumn}, " +
            s"$colName) and may not vector-search it")
    }
    // row-filter composition: the scoped principal searches only
    // their visible rows — the filtered-search (IDSelector) path,
    // exact w.r.t. the index (never "top-k then filter")
    val bridge = org.apache.spark.sql.graft.ColumnBridge
    val filt = rowFilter(t, me).map(p =>
      bridge.column(bridge.parseExpression(cat.spark, p)))
    (t, colName, filt)
  }

  /** ACL-snapshot contribution of governed TVF references: their
    * target tables are literal ARGUMENTS, invisible to
    * [[aclSnapshotIn]]'s relation walk — without this, a temp view
    * over `vector_search('sec.t', …)` would not invalidate when
    * grants on sec.t change. Every table-shaped argument counts:
    * vector_search's QUERY SOURCE (arg 1) is a relation the stored
    * plan embeds resolved, so a grant change on it must invalidate
    * the view exactly like one on the corpus (arg 0). */
  private def tvfAclSnapshot(cat: TableCatalog,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : Map[(String, String), Map[String, String]] = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedTableValuedFunction
    import org.apache.spark.sql.catalyst.expressions.Literal
    val out = scala.collection.mutable.Map
      .empty[(String, String), Map[String, String]]
    plan.foreachWithSubqueries {
      case u: UnresolvedTableValuedFunction
          if u.name.length == 1 &&
            GovernedTvfs.contains(u.name.head.toLowerCase) =>
        val tableArgs =
          if (u.name.head.equalsIgnoreCase("vector_search"))
            u.functionArgs.take(2)
          else u.functionArgs.take(1)
        tableArgs.foreach {
          case Literal(v, _) if v != null =>
            try {
              val (ns, t) = splitName(String.valueOf(v))
              if (resolveTable(cat, ns, t).isDefined)
                out((ns, t)) = aclStateOf(cat, ns, t)
            } catch { case _: IllegalArgumentException => () }
          case _ => ()
        }
      case _ => ()
    }
    out.toMap
  }

  /** Route one SQL statement: DDL against the catalog, everything else
    * to spark.sql with this catalog CURRENT (so `ns.tbl` references
    * resolve through the V2 plugin). DDL returns a one-row
    * (result: string) frame, the way a CLI echoes `CREATED
    * analytics.txns`. DML on tables the catalog does not know falls
    * through to spark.sql rather than erroring — the statement may
    * target a temp view or a session-catalog table. */
  def sql(cat: TableCatalog, text: String): DataFrame = {
    val spark = cat.spark
    import spark.implicits._
    val stripped = stripLineComments(text)
    stripped match {
      // SHALLOW CLONE must match before the CTAS/column-list forms
      case CloneRe(ifNotExists, destRaw, srcRaw, ver) if knownTable(cat, srcRaw) =>
        val (dns, dtbl) = splitName(destRaw)
        val (sns, stbl) = splitName(srcRaw)
        if (cat.tableExists(dns, dtbl)) {
          require(ifNotExists != null, s"table $dns.$dtbl already exists")
          Seq(s"EXISTS $dns.$dtbl").toDF("result")
        } else {
          cat.createNamespace(dns)
          val src = cat.getTable(sns, stbl)
          // a clone IS a read of every source row, unscoped
          fullSelectCheck(src)
          val t = src.cloneTo(cat.tableRoot(dns, dtbl), s"$dns.$dtbl",
            Option(ver).map(_.toLong).getOrElse(-1L))
          Seq(s"CLONED $sns.$stbl -> $dns.$dtbl at v${t.currentVersion}")
            .toDF("result")
        }
      // CTAS must match before the column-list form (it has no parens
      // after the table name)
      case CtasRe(ifNotExists, rawName, partList, query) =>
        val (ns, tbl) = splitName(rawName)
        if (ifNotExists != null && cat.tableExists(ns, tbl))
          Seq(s"EXISTS $ns.$tbl").toDF("result")
        else {
          val df = nativeSql(cat, query)
          val spec = Option(partList).map(parsePartSpec).getOrElse(Nil)
          spec.filter(_.isIdentity).foreach(f =>
            require(df.columns.contains(f.name),
              s"PARTITIONED BY column '${f.name}' is not in the query output"))
          val t =
            if (spec.forall(_.isIdentity))
              cat.createTable(ns, tbl, df.schema, spec.map(_.name))
            else cat.createTable(ns, tbl, df.schema, Nil, partitionSpec = spec)
          t.append(df)
          Seq(s"CREATED $ns.$tbl AS SELECT").toDF("result")
        }
      case CreateRe(ifNotExists, rawName, rest) =>
        val (colsDdl, tail) = splitAtMatchingParen(rest)
        val schema = StructType.fromDDL(colsDdl)
        requireKnownTail(tail)
        val spec = PartitionedRe.findFirstMatchIn(tail)
          .map(m => parsePartSpec(m.group(1))).getOrElse(Nil)
        spec.filter(_.isIdentity).foreach(f =>
          require(schema.fieldNames.contains(f.name),
            s"PARTITIONED BY column '${f.name}' is not in the column list"))
        val (ns, tbl) = splitName(rawName)
        if (ifNotExists != null && cat.tableExists(ns, tbl))
          Seq(s"EXISTS $ns.$tbl").toDF("result")
        else {
          val props = """(?is)TBLPROPERTIES\s*\(([^)]*)\)""".r
            .findFirstMatchIn(tail).map(m => parseProps(m.group(1)))
            .getOrElse(Map.empty[String, String])
          if (spec.forall(_.isIdentity))
            cat.createTable(ns, tbl, schema, spec.map(_.name), props)
          else cat.createTable(ns, tbl, schema, Nil, props, partitionSpec = spec)
          Seq(s"CREATED $ns.$tbl").toDF("result")
        }
      case DropRe(ifExists, rawName) =>
        val (ns, tbl) = splitName(rawName)
        if (!cat.tableExists(ns, tbl) && ifExists == null)
          throw new IllegalArgumentException(s"table $ns.$tbl does not exist")
        // dropping destroys the data AND its ACL — owners only
        if (cat.tableExists(ns, tbl)) aclOwnerCheck(cat.getTable(ns, tbl))
        cat.dropTable(ns, tbl)
        Seq(s"DROPPED $ns.$tbl").toDF("result")
      // persistent views (the Athena CREATE VIEW surface): stored SQL
      // text + definition-time schema, substituted plan-level on read
      // materialized views (must precede CREATE VIEW: the keyword
      // MATERIALIZED otherwise falls into Spark's parser and errors)
      case CreateMvRe(ifNotExists, rawName, query) =>
        val (ns, mv) = splitName(rawName)
        if (MaterializedViews.exists(cat, ns, mv)) {
          if (ifNotExists != null) Seq(s"EXISTS $ns.$mv").toDF("result")
          else throw new IllegalArgumentException(
            s"materialized view $ns.$mv already exists")
        } else {
          val v = MaterializedViews.create(cat, ns, mv, query,
            items => splitTopLevel(items, ','))
          Seq(s"CREATED MATERIALIZED VIEW $ns.$mv @v$v").toDF("result")
        }
      case RefreshMvRe(rawName) =>
        val (ns, mv) = splitName(rawName)
        val (mode, commits) = MaterializedViews.refresh(cat, ns, mv)
        Seq(s"REFRESHED $ns.$mv ($mode, $commits commit(s))").toDF("result")
      case DropMvRe(ifExists, rawName) =>
        val (ns, mv) = splitName(rawName)
        MaterializedViews.drop(cat, ns, mv, ifExists != null)
        Seq(s"DROPPED MATERIALIZED VIEW $ns.$mv").toDF("result")
      case CreateViewRe(orReplace, ifNotExists, rawName, query) =>
        val (ns, v) = splitName(rawName)
        val ident = org.apache.spark.sql.connector.catalog.Identifier
          .of(Array(ns), v)
        if (graft.catalog.GraftViews.exists(spark, cat.warehouse, ident) &&
            orReplace == null) {
          if (ifNotExists != null) Seq(s"EXISTS $ns.$v").toDF("result")
          else throw new IllegalArgumentException(s"view $ns.$v already exists")
        } else {
          // REPLACING an existing stored view is administration of a
          // shared object — creator/namespace-owner bar (reads stay
          // per-reader governed, so this is integrity, not secrecy)
          if (orReplace != null &&
              graft.catalog.GraftViews.exists(spark, cat.warehouse, ident))
            storedViewAdminCheck(cat, ns, v)
          // analyzing the query now (a) validates it and (b) captures
          // the definition-time schema; nested views substitute inside
          val schema = nativeSql(cat, query).schema
          cat.createNamespace(ns)
          graft.catalog.GraftViews.createStored(spark, cat.warehouse, ident,
            query, schema, replace = true,
            owner = currentPrincipal(cat.spark))
          Seq(s"CREATED VIEW $ns.$v").toDF("result")
        }
      case DropViewRe(ifExists, rawName)
          // a TEMP view shadows a stored view of the same bare name
          // (Spark's own precedence) — its drop belongs to the real
          // session, not the stored-view registry; global_temp.<v> is
          // ALWAYS the session registry's business (routing it here
          // probed <warehouse>/global_temp/_views and left the live
          // view and its ownership record behind)
          // the first name part is backtick-NORMALIZED before the
          // global_temp comparison: `global_temp`.v must route to the
          // session registry exactly like the bare spelling (ADVICE
          // r13 — the quoted form slipped into the stored-view arm,
          // probing <warehouse>/global_temp/_views and leaving the
          // live view and its ownership record behind)
          if !(rawName != null && ((!rawName.contains(".") &&
            spark.sessionState.catalog
              .getRawTempView(cleanIdent(rawName)).isDefined) ||
            cleanIdent(rawName.split("\\.", 2)(0))
              .equalsIgnoreCase("global_temp"))) =>
        val (ns, v) = splitName(rawName)
        storedViewAdminCheck(cat, ns, v)   // creator/ns-owner bar
        val existed = graft.catalog.GraftViews.drop(spark, cat.warehouse,
          org.apache.spark.sql.connector.catalog.Identifier.of(Array(ns), v))
        if (!existed && ifExists == null)
          throw new IllegalArgumentException(s"view $ns.$v does not exist")
        Seq(s"DROPPED VIEW $ns.$v").toDF("result")
      case ShowViewsRe(nsRaw) =>
        val names = Option(nsRaw).map(cleanIdent) match {
          case Some(n) => graft.catalog.GraftViews.list(spark, cat.warehouse, n)
          case None => cat.listNamespaces()
            .flatMap(n => graft.catalog.GraftViews.list(spark, cat.warehouse, n))
        }
        names.map(i => (i.namespace()(0), i.name()))
          .toDF("namespace", "viewName")
      // partition evolution, identity or hidden spec:
      //   ALTER TABLE t SET PARTITION SPEC (days(ts), bucket(8, id))
      case SetPartSpecRe(rawName, list) if knownTable(cat, rawName) =>
        val (ns, tbl) = splitName(rawName)
        val t = cat.getTable(ns, tbl)
        aclCheck(t, "INSERT")          // rewrites/evolves physical layout
        val spec = parsePartSpec(list)
        val v =
          if (spec.forall(_.isIdentity)) t.repartitionTable(spec.map(_.name))
          else t.evolvePartitionSpec(spec)
        Seq(s"REPARTITIONED $ns.$tbl v$v").toDF("result")
      case UpdateRe(rawName, setAndWhere) if knownTable(cat, rawName) =>
        val (ns, tbl) = splitName(rawName)
        val t = cat.getTable(ns, tbl)
        aclCheck(t, "INSERT")
        aclCheck(t, "SELECT")   // predicates probe row data
        // split SET list from WHERE at the first TOP-LEVEL keyword —
        // a 'WHERE' inside a string literal must not end the SET list
        val (setList, where) = splitAtKeyword(setAndWhere, "WHERE")
        val set = splitTopLevel(setList, ',').map { assignment =>
          val eq = topLevelIndexOf(assignment, '=')
          require(eq > 0, s"malformed SET assignment: '$assignment'")
          requireNoSubquery(assignment.substring(eq + 1), "SET assignments")
          cleanIdent(assignment.substring(0, eq)) ->
            org.apache.spark.sql.functions.expr(assignment.substring(eq + 1))
        }.toMap
        // write.update.mode=merge-on-read (Iceberg shape): positions +
        // appended post-images instead of a copy-on-write rewrite
        val v =
          if (TxTable.morMode(t.snapshot, TxTable.UpdateModeProperty))
            t.updateMor(predicateOf(where), set)
          else t.update(predicateOf(where), set,
            partitionFilterFrom(where, t.schema, t.snapshot.partitionColumns,
              spark.sessionState.conf.sessionLocalTimeZone))
        Seq(s"UPDATED $ns.$tbl v$v").toDF("result")
      case DeleteFromRe(rawName, where) if knownTable(cat, rawName) =>
        val (ns, tbl) = splitName(rawName)
        val t = cat.getTable(ns, tbl)
        aclCheck(t, "INSERT")
        aclCheck(t, "SELECT")   // predicates probe row data
        val v =
          if (TxTable.morMode(t.snapshot, TxTable.DeleteModeProperty))
            t.deletePos(predicateOf(where))
          else t.delete(predicateOf(where),
            partitionFilterFrom(where, t.schema, t.snapshot.partitionColumns,
              spark.sessionState.conf.sessionLocalTimeZone))
        Seq(s"DELETED $ns.$tbl v$v").toDF("result")
      case InsertRe(rawName, colList, query) if knownTable(cat, rawName) =>
        val (ns, tbl) = splitName(rawName)
        val t = cat.getTable(ns, tbl)
        aclCheck(t, "INSERT")
        val df = nativeSql(cat, query)
        // SQL INSERT is POSITIONAL: map query columns onto the target's
        // (or the explicit column list's) names in order; columns the
        // list omits pad to null via append's schema alignment
        val targets =
          if (colList == null) t.schema.fieldNames.toSeq
          else colList.split(",").map(cleanIdent).toSeq
        require(df.columns.length == targets.length,
          s"INSERT column count ${df.columns.length} != target ${targets.length}")
        val v = t.append(df.toDF(targets: _*))
        Seq(s"INSERTED $ns.$tbl v$v").toDF("result")
      case MergeHeadRe(rawName, _, _) if knownTable(cat, rawName) =>
        val pm = parseMerge(stripped).getOrElse(throw new IllegalArgumentException(
          s"unsupported MERGE statement shape"))
        val (ns, tbl) = splitName(rawName)
        val t = cat.getTable(ns, tbl)
        aclCheck(t, "INSERT")
        aclCheck(t, "SELECT")   // MERGE reads matched target rows
        // the source query IS governed (nativeSql below); the ON /
        // branch-condition / assignment strings are NOT (they parse
        // raw inside the merge) — block subqueries in each
        requireNoSubquery(pm.on, "MERGE ON conditions")
        (pm.matched ++ pm.bySource).foreach { b =>
          b.cond.foreach(requireNoSubquery(_, "MERGE branch conditions"))
          b.assignments.foreach(_.values.foreach(
            requireNoSubquery(_, "MERGE assignments")))
        }
        pm.notMatched.foreach { b =>
          b.cond.foreach(requireNoSubquery(_, "MERGE branch conditions"))
        }
        val src = nativeSql(cat, pm.sourceQuery)
        val v = t.mergeBranches(src, pm.tgtAlias, pm.srcAlias, pm.on,
          pm.matched, pm.notMatched, pm.bySource)
        Seq(s"MERGED $ns.$tbl v$v").toDF("result")
      // maintenance statements (the Delta OPTIMIZE / VACUUM / DESCRIBE
      // HISTORY surface; Athena exposes the same via OPTIMIZE ...
      // REWRITE DATA). HISTORY must match before the plain DESCRIBE.
      case DescribeHistoryRe(rawName) if knownTable(cat, rawName) =>
        val (ns, tbl) = splitName(rawName)
        val t = cat.getTable(ns, tbl)
        metaCheckTable(t)              // per-commit file/row counts
        t.history()
      // vector_search(...) and table_changes(...) are NOT regex arms
      // anymore (r14 VERDICT task 1): the parser turns any
      // `FROM <fn>(args)` into an UnresolvedTableValuedFunction, and
      // [[substituteTvfs]] resolves ours at ANALYSIS level inside the
      // general path below — so they compose in any query position
      // (WHERE over the scores, joins back to the corpus, CTEs,
      // subqueries) with the same bars applied at resolution.
      case ShowIndexesRe(rawName) if knownTable(cat, rawName) =>
        val (ns, tbl) = splitName(rawName)
        val t = cat.getTable(ns, tbl)
        metaCheckTable(t)              // the DESCRIBE bar
        // parity with the stats-bearing metadata sub-tables (r14 task
        // 8): coverage is row COUNTS over the whole table — a column/
        // row-scoped principal is refused `.files`/`.partitions` for
        // exactly this class of leak, so the same bar applies here
        val me = currentPrincipal(cat.spark)
        if (selectScope(t, me).isDefined || rowFilter(t, me).isDefined)
          throw new SecurityException(
            s"principal '$me' holds a scoped SELECT on ${t.name} " +
              "and may not read its stats-bearing index metadata")
        t.showIndexes
      case ShowMvRe(nsRaw) =>
        val pairs = Option(nsRaw).map(cleanIdent) match {
          case Some(n) => MaterializedViews.list(cat, n).map((n, _))
          case None => cat.listNamespaces()
            .flatMap(n => MaterializedViews.list(cat, n).map((n, _)))
        }
        pairs.toDF("namespace", "viewName")
      case ShowCreateRe(rawName) if knownTable(cat, rawName) =>
        val (ns, tbl) = splitName(rawName)
        val t = cat.getTable(ns, tbl)
        metaCheckTable(t)              // schema/partitioning/constraints
        val s = t.snapshot
        val cols = t.schema.fields.map(f =>
          s"  ${f.name} ${f.dataType.sql}${if (f.nullable) "" else " NOT NULL"}")
        val partClause =
          if (s.partitionColumns.isEmpty) ""
          else {
            // hidden partitioning renders as its transform calls
            // (days(ts), bucket(8, id)), the re-runnable DDL form
            val rendered = PartitionTransform.resolve(s).map { f =>
              f.transform match {
                case "identity" => f.name
                case "bucket"   => s"bucket(${f.param}, ${f.source})"
                case "truncate" => s"truncate(${f.param}, ${f.source})"
                case t          => s"${t}s(${f.source})"
              }
            }
            s"\nPARTITIONED BY (${rendered.mkString(", ")})"
          }
        // allow-list values are grant metadata — redacted unless the
        // caller administers the table (the SHOW TBLPROPERTIES rule)
        val canSeeAcl = isAclAdmin(t)
        val propClause =
          if (s.properties.isEmpty) ""
          else "\nTBLPROPERTIES (" + s.properties.toSeq.sortBy(_._1)
            .map { case (k, v) =>
              val shown =
                if (!canSeeAcl && k.startsWith("graft.acl.")) "<redacted>"
                else v
              s"'$k'='$shown'" }.mkString(", ") + ")"
        val ckClauses = s.constraints.toSeq.sortBy(_._1).map {
          case (nm, cond) => s"\nALTER TABLE $ns.$tbl ADD CONSTRAINT $nm CHECK ($cond);"
        }.mkString
        val ddl = s"CREATE TABLE $ns.$tbl (\n${cols.mkString(",\n")}\n)" +
          partClause + propClause + ";" + ckClauses
        Seq(ddl).toDF("createtab_stmt")
      case DescribeDetailRe(rawName) if knownTable(cat, rawName) =>
        val (ns, tbl) = splitName(rawName)
        val t = cat.getTable(ns, tbl)
        metaCheckTable(t)              // location, file counts, branches
        val s = t.snapshot
        Seq(("graft", s"$ns.$tbl", t.root.toString, s.version, s.operation,
            new java.sql.Timestamp(s.timestampMs),
            s.partitionColumns.mkString(","), s.files.size.toLong,
            s.files.map(_.sizeBytes).sum, t.branches.mkString(","),
            s.constraints.size.toLong))
          .toDF("format", "name", "location", "version", "last_operation",
            "last_modified", "partition_columns", "num_files",
            "size_bytes", "branches", "num_constraints")
      case OptimizeRe(rawName, where, zorderCols) if knownTable(cat, rawName) =>
        val (ns, tbl) = splitName(rawName)
        val t = cat.getTable(ns, tbl)
        aclCheck(t, "INSERT")          // rewrites the table's files
        val cluster = Option(zorderCols)
          .map(_.split(",").map(cleanIdent).toSeq.filter(_.nonEmpty))
          .getOrElse(Nil)
        // OPTIMIZE has no row predicate to fall back on, so a WHERE
        // must convert ENTIRELY to partition equalities — a dropped
        // conjunct would silently widen the rewrite
        val pf = partitionFilterFrom(where, t.schema,
          t.snapshot.partitionColumns,
          spark.sessionState.conf.sessionLocalTimeZone)
        if (where != null) {
          val conjuncts = splitTopLevelKeyword(where, "AND").size
          require(pf.size == conjuncts,
            s"OPTIMIZE WHERE must be partition-column equalities " +
              s"(got: $where)")
        }
        val v = t.compact(clusterBy = cluster, partitionFilter = pf)
        val how = (if (pf.isEmpty) ""
          else s" WHERE ${pf.map { case (k, x) => s"$k=$x" }.mkString(" AND ")}") +
          (if (cluster.isEmpty) "" else s" ZORDER BY (${cluster.mkString(", ")})")
        Seq(s"OPTIMIZED $ns.$tbl$how v$v").toDF("result")
      case RestoreRe(rawName, version) if knownTable(cat, rawName) =>
        val (ns, tbl) = splitName(rawName)
        val t = cat.getTable(ns, tbl)
        aclCheck(t, "INSERT")          // rewinds committed data
        val v = t.restore(version.toLong)
        Seq(s"RESTORED $ns.$tbl to v$version as v$v").toDF("result")
      // write sort order (the Iceberg WRITE ORDERED BY surface):
      // declared layout metadata — writes cluster by it (see
      // TxTable.writeFiles), readers never depend on it
      case WriteOrderedRe(rawName, colList) if knownTable(cat, rawName) =>
        val (ns, tbl) = splitName(rawName)
        val t = cat.getTable(ns, tbl)
        aclCheck(t, "INSERT")          // declares the write layout
        val cols = colList.split(",").map(cleanIdent).toSeq.filter(_.nonEmpty)
        val unknown = cols.filterNot(t.schema.fieldNames.contains)
        require(unknown.isEmpty,
          s"WRITE ORDERED BY names unknown column(s): ${unknown.mkString(", ")}")
        val v = t.setProperties(Map(
          graft.table.TxTable.SortOrderProperty -> cols.mkString(",")))
        Seq(s"WRITE ORDER $ns.$tbl (${cols.mkString(", ")}) v$v").toDF("result")
      case WriteUnorderedRe(rawName) if knownTable(cat, rawName) =>
        val (ns, tbl) = splitName(rawName)
        val t = cat.getTable(ns, tbl)
        aclCheck(t, "INSERT")
        val v = t.unsetProperties(Seq(graft.table.TxTable.SortOrderProperty))
        Seq(s"WRITE UNORDERED $ns.$tbl v$v").toDF("result")
      // bulk file ingest: idempotent COPY INTO (Delta surface) and
      // metadata-only ADD FILES (the Iceberg add_files procedure) —
      // both precede the native fallthrough (Spark's parser rejects
      // these shapes)
      case CopyIntoRe(rawName, path, fmt) if knownTable(cat, rawName) =>
        val (ns, tbl) = splitName(rawName)
        val t = cat.getTable(ns, tbl)
        aclCheck(t, "INSERT")
        val (v, n) = t.copyInto(path,
          Option(fmt).map(_.toLowerCase).getOrElse("parquet"))
        Seq(s"COPIED $n file(s) INTO $ns.$tbl v$v").toDF("result")
      case AddFilesRe(rawName, path) if knownTable(cat, rawName) =>
        val (ns, tbl) = splitName(rawName)
        val t = cat.getTable(ns, tbl)
        aclCheck(t, "INSERT")          // injects rows past the DML arms
        val (v, n) = t.addFiles(path)
        Seq(s"ADDED $n file(s) TO $ns.$tbl v$v").toDF("result")
      // metadata-only partition drop (Hive/Athena syntax): the spec's
      // `k='v', k2=v2` list canonicalizes through the column types the
      // same way DML partition pruning does — every entry must convert
      // (a dropped conjunct would silently widen the drop)
      // metadata-only partition listing (Hive/Athena SHOW PARTITIONS):
      // straight from snapshot partitionValues, Hive spec rendering,
      // zero data IO
      case ShowPartitionsRe(rawName) if knownTable(cat, rawName) =>
        val (ns, tbl) = splitName(rawName)
        val t = cat.getTable(ns, tbl)
        metaCheckTable(t)              // partition VALUES are data-derived
        val s = t.snapshot
        require(s.partitionColumns.nonEmpty,
          s"table $ns.$tbl is not partitioned")
        s.files.map(f => s.partitionColumns
            .map(c => s"$c=${f.partitionValues.getOrElse(c, "__HIVE_DEFAULT_PARTITION__")}")
            .mkString("/"))
          .distinct.sorted.toDF("partition")
      case DropPartitionRe(rawName, specList) if knownTable(cat, rawName) =>
        val (ns, tbl) = splitName(rawName)
        val t = cat.getTable(ns, tbl)
        aclCheck(t, "INSERT")          // deletes the partition's rows
        aclCheck(t, "SELECT")
        val asWhere = splitTopLevel(specList, ',').mkString(" AND ")
        val pf = partitionFilterFrom(asWhere, t.schema,
          t.snapshot.partitionColumns,
          spark.sessionState.conf.sessionLocalTimeZone)
        require(pf.size == splitTopLevel(specList, ',').size,
          s"DROP PARTITION spec must be partition-column equalities (got: $specList)")
        val (v, n) = t.dropPartitions(pf)
        Seq(s"DROPPED $n file(s) FROM $ns.$tbl v$v").toDF("result")
      // branch DDL (the Iceberg WAP surface) — must precede the native
      // fallthrough: Spark's parser rejects these ALTER shapes
      // branch DDL is a write surface: a branch forks the table's data
      // (reads through it see every row) and fast-forward REPLACES main
      case CreateBranchRe(rawName, branch) if knownTable(cat, rawName) =>
        val (ns, tbl) = splitName(rawName)
        val t = cat.getTable(ns, tbl)
        aclCheck(t, "INSERT")
        val v = t.createBranch(cleanIdent(branch))
        Seq(s"CREATED BRANCH ${cleanIdent(branch)} ON $ns.$tbl at v$v").toDF("result")
      case DropBranchRe(rawName, branch) if knownTable(cat, rawName) =>
        val (ns, tbl) = splitName(rawName)
        val t = cat.getTable(ns, tbl)
        aclCheck(t, "INSERT")
        t.dropBranch(cleanIdent(branch))
        Seq(s"DROPPED BRANCH ${cleanIdent(branch)} ON $ns.$tbl").toDF("result")
      case FastForwardRe(rawName, branch) if knownTable(cat, rawName) =>
        val (ns, tbl) = splitName(rawName)
        val t = cat.getTable(ns, tbl)
        aclCheck(t, "INSERT")
        val v = t.fastForward(cleanIdent(branch))
        Seq(s"FAST-FORWARDED $ns.$tbl to branch ${cleanIdent(branch)} as v$v")
          .toDF("result")
      case SetPropsRe(rawName, list) if knownTable(cat, rawName) =>
        val (ns, tbl) = splitName(rawName)
        val props = parseProps(list)
        require(props.nonEmpty, s"no 'k'='v' pairs in TBLPROPERTIES ($list)")
        val t = cat.getTable(ns, tbl)
        // editing graft.acl.* through the property door is grant
        // administration — owners only, same as GRANT/REVOKE; and like
        // GRANT, the FIRST ACL edit records the editor as owner so
        // administration closes whichever door opened it
        val touchesAcl = props.keys.exists(_.startsWith("graft.acl."))
        if (touchesAcl) aclOwnerCheck(t)
        // tag keys through the raw door take the SAME bar as SET TAG
        // (tag-store administrators when the table is ungoverned)
        if (props.keys.exists(_.startsWith(TagAcl.TagPropPrefix)))
          tagAssignCheck(cat, t)
        val ownerSeed =
          if (touchesAcl && aclPrincipals(t, "OWNER").isEmpty &&
              !props.contains(aclProp("OWNER")))
            Map(aclProp("OWNER") -> currentPrincipal(t.spark))
          else Map.empty[String, String]
        val v = t.setProperties(ownerSeed ++ props)
        Seq(s"SET ${props.size} TBLPROPERTIES ON $ns.$tbl v$v").toDF("result")
      case UnsetPropsRe(rawName, list) if knownTable(cat, rawName) =>
        val (ns, tbl) = splitName(rawName)
        val keys = """'([^']*)'""".r.findAllMatchIn(list)
          .map(_.group(1)).toSeq
        require(keys.nonEmpty, s"no 'key' entries in TBLPROPERTIES ($list)")
        val t = cat.getTable(ns, tbl)
        if (keys.exists(_.startsWith("graft.acl."))) aclOwnerCheck(t)
        if (keys.exists(_.startsWith(TagAcl.TagPropPrefix)))
          tagAssignCheck(cat, t)
        val v = t.unsetProperties(keys)
        Seq(s"UNSET ${keys.size} TBLPROPERTIES ON $ns.$tbl v$v").toDF("result")
      case ShowPropsRe(rawName) if knownTable(cat, rawName) =>
        val (ns, tbl) = splitName(rawName)
        val t = cat.getTable(ns, tbl)
        metaCheckTable(t)              // non-ACL property values are
                                       // table metadata (DESCRIBE bar)
        // allow lists are grant metadata: visible to administrators,
        // redacted (key kept, value hidden) for everyone else
        val isOwner = isAclAdmin(t)
        t.properties.toSeq.sortBy(_._1)
          .map { case (k, v) =>
            if (!isOwner && k.startsWith("graft.acl.")) (k, "<redacted>")
            else (k, v) }
          .toDF("key", "value")
      case AddConstraintRe(rawName, cname, cond) if knownTable(cat, rawName) =>
        val (ns, tbl) = splitName(rawName)
        val t = cat.getTable(ns, tbl)
        aclCheck(t, "INSERT")    // a CHECK(false) would block every write
        val v = t.addConstraint(cleanIdent(cname), cond.trim)
        Seq(s"ADDED CONSTRAINT ${cleanIdent(cname)} ON $ns.$tbl v$v").toDF("result")
      case DropConstraintRe(rawName, cname) if knownTable(cat, rawName) =>
        val (ns, tbl) = splitName(rawName)
        val t = cat.getTable(ns, tbl)
        aclCheck(t, "INSERT")    // removes write-time enforcement
        val v = t.dropConstraint(cleanIdent(cname))
        Seq(s"DROPPED CONSTRAINT ${cleanIdent(cname)} ON $ns.$tbl v$v").toDF("result")
      case AnalyzeRe(rawName, allCols, colList) if knownTable(cat, rawName) =>
        val (ns, tbl) = splitName(rawName)
        val t = cat.getTable(ns, tbl)
        fullSelectCheck(t)   // scans every row; stats reveal hidden cells
        val cols =
          if (colList != null) colList.split(",").map(cleanIdent).toSeq
          else Nil                       // ALL COLUMNS and bare form alike
        val st = t.analyze(cols)
        Seq(s"ANALYZED $ns.$tbl v${st.analyzedVersion}: " +
          s"${st.rowCount} rows, ${st.cols.size} column(s)").toDF("result")
      // BEGIN; <stmt>; ...; COMMIT — the text form of
      // [[transaction]]: every statement's effect flips live through
      // one marker commit, or none does
      case TxnBlockRe(body) =>
        transaction(cat, splitTopLevel(body, ';')
          .map(_.trim).filter(_.nonEmpty))
      case ShowTxnsRe() =>
        cat.listTransactions()
      case ShowBranchesRe(rawName) if knownTable(cat, rawName) =>
        val (ns, tbl) = splitName(rawName)
        val t = cat.getTable(ns, tbl)
        metaCheckTable(t)
        t.branches.map(b => (b, t.branch(b).currentVersion,
            t.branchForkVersion(b)))
          .toDF("branch", "head_version", "fork_version")
      case VacuumRe(rawName, retain) if knownTable(cat, rawName) =>
        val (ns, tbl) = splitName(rawName)
        val t = cat.getTable(ns, tbl)
        aclCheck(t, "INSERT")          // reclaims history irreversibly
        val n = t.vacuum(retainVersions =
          Option(retain).map(_.toInt).getOrElse(2))
        Seq(s"VACUUMED $ns.$tbl removed $n files").toDF("result")
      case ShowNamespacesRe() =>
        cat.listNamespaces().toDF("namespace")
      case ShowTablesRe(ns) =>
        val spaces = Option(ns).map(n => Seq(cleanIdent(n)))
          .getOrElse(cat.listNamespaces())
        spaces.flatMap(n => cat.listTables(n).map(t => (n, t)))
          .toDF("namespace", "table_name")
      case DescribeRe(rawName)
          if !rawName.equalsIgnoreCase("TABLE") && knownTable(cat, rawName) =>
        val (ns, tbl) = splitName(rawName)
        val t = cat.getTable(ns, tbl)
        metaCheckTable(t)              // the native DESCRIBE bar, mirrored
        val parts = t.snapshot.partitionColumns.toSet
        t.schema.fields.toSeq.map(f => (f.name, f.dataType.simpleString,
            f.nullable, parts.contains(f.name)))
          .toDF("col_name", "data_type", "nullable", "is_partition")
      // namespace-scope grants must match before the table arms (the
      // table regex would never match the NAMESPACE keyword, but order
      // keeps the intent obvious)
      case GrantNsRe(priv, nsRaw, qp, bp) =>
        val ns = cleanIdent(nsRaw)
        require(cat.listNamespaces().contains(ns),
          s"namespace $ns does not exist")
        val principal = checkPrincipal(if (qp != null) qp else cleanIdent(bp))
        val props = NamespaceAcl.load(spark, cat.warehouse, ns)
        nsAclAdminCheck(spark, ns, props)
        val privs =
          if (priv.equalsIgnoreCase("ALL")) Seq("SELECT", "INSERT", "DESCRIBE")
          else Seq(priv.toUpperCase)
        // the FIRST namespace grant records the granting principal as
        // the namespace's owner, same as the table-level rule
        val ownerSeed =
          if (listOf(props, "OWNER").nonEmpty) Map.empty[String, String]
          else Map(aclProp("OWNER") -> currentPrincipal(spark))
        NamespaceAcl.store(spark, cat.warehouse, ns,
          props ++ ownerSeed ++ privs.map(pr => aclProp(pr) ->
            (listOf(props, pr) + principal).toSeq.sorted.mkString(",")))
        Seq(s"GRANTED ${priv.toUpperCase} ON NAMESPACE $ns TO $principal")
          .toDF("result")
      case RevokeNsRe(priv, nsRaw, qp, bp) =>
        val ns = cleanIdent(nsRaw)
        require(cat.listNamespaces().contains(ns),
          s"namespace $ns does not exist")
        val principal = checkPrincipal(if (qp != null) qp else cleanIdent(bp))
        val props = NamespaceAcl.load(spark, cat.warehouse, ns)
        nsAclAdminCheck(spark, ns, props)
        val privs =
          if (priv.equalsIgnoreCase("ALL")) Seq("SELECT", "INSERT", "DESCRIBE")
          else Seq(priv.toUpperCase)
        val updated = privs.foldLeft(props) { (acc, pr) =>
          val remaining = listOf(acc, pr) - principal
          if (remaining.isEmpty) acc - aclProp(pr)
          else acc + (aclProp(pr) -> remaining.toSeq.sorted.mkString(","))
        }
        NamespaceAcl.store(spark, cat.warehouse, ns, updated)
        Seq(s"REVOKED ${priv.toUpperCase} ON NAMESPACE $ns FROM $principal")
          .toDF("result")
      case ShowGrantsNsRe(nsRaw) =>
        val ns = cleanIdent(nsRaw)
        require(cat.listNamespaces().contains(ns),
          s"namespace $ns does not exist")
        val props = NamespaceAcl.load(spark, cat.warehouse, ns)
        val all = Seq("OWNER", "SELECT", "INSERT", "DESCRIBE")
          .flatMap(pr => listOf(props, pr).toSeq.sorted.map(p => (p, pr)))
        val me = currentPrincipal(spark)
        if (all.nonEmpty && !all.exists(_._1 == me))
          throw new SecurityException(s"principal '$me' holds no grant on " +
            s"namespace $ns and may not list its grants")
        all.toDF("principal", "privilege")
      // --- tag-based access control (LF-TBAC) ------------------------
      case SetTableTagRe(rawName, pairsRaw) if knownTable(cat, rawName) =>
        val (ns, tbl) = splitName(rawName)
        val t = cat.getTable(ns, tbl)
        val pairs = parseTagPairs(pairsRaw)
        require(pairs.nonEmpty, "SET TAG needs at least one 'key' = 'value'")
        // tagging ACTIVATES existing tag grants on this table, so it is
        // grant administration: table/namespace owners for governed
        // tables; for an UNgoverned table with a live tag-grant store,
        // tag-store owners only (any principal could otherwise lock
        // others out of an open table by tagging it into governance)
        tagAssignCheck(cat, t)
        val v = t.setProperties(pairs.map { case (k, vv) =>
          (TagAcl.TagPropPrefix + k) -> vv }.toMap)
        Seq(s"SET ${pairs.size} TAG(S) ON $ns.$tbl v$v").toDF("result")
      case UnsetTableTagRe(rawName, keysRaw) if knownTable(cat, rawName) =>
        val (ns, tbl) = splitName(rawName)
        val t = cat.getTable(ns, tbl)
        val keys = parseTagKeys(keysRaw)
        require(keys.nonEmpty, "UNSET TAG needs at least one 'key'")
        tagAssignCheck(cat, t)
        val v = t.unsetProperties(keys.map(TagAcl.TagPropPrefix + _))
        Seq(s"UNSET ${keys.size} TAG(S) ON $ns.$tbl v$v").toDF("result")
      case SetNsTagRe(nsRaw, pairsRaw) =>
        val ns = cleanIdent(nsRaw)
        require(cat.listNamespaces().contains(ns),
          s"namespace $ns does not exist")
        val pairs = parseTagPairs(pairsRaw)
        require(pairs.nonEmpty, "SET TAG needs at least one 'key' = 'value'")
        val props = NamespaceAcl.load(spark, cat.warehouse, ns)
        nsAclAdminCheck(spark, ns, props)
        // "governed" means real grants exist — tags alone don't govern
        // (they'd otherwise make the tag-then-grant flow deadlock)
        tagStoreOwnerCheckIfUngoverned(cat,
          props.exists(e => !e._1.startsWith(TagAcl.TagPropPrefix)))
        NamespaceAcl.store(spark, cat.warehouse, ns,
          props ++ pairs.map { case (k, v) => (TagAcl.TagPropPrefix + k) -> v })
        Seq(s"SET ${pairs.size} TAG(S) ON NAMESPACE $ns").toDF("result")
      case UnsetNsTagRe(nsRaw, keysRaw) =>
        val ns = cleanIdent(nsRaw)
        require(cat.listNamespaces().contains(ns),
          s"namespace $ns does not exist")
        val keys = parseTagKeys(keysRaw)
        require(keys.nonEmpty, "UNSET TAG needs at least one 'key'")
        val props = NamespaceAcl.load(spark, cat.warehouse, ns)
        nsAclAdminCheck(spark, ns, props)
        tagStoreOwnerCheckIfUngoverned(cat,
          props.exists(e => !e._1.startsWith(TagAcl.TagPropPrefix)))
        NamespaceAcl.store(spark, cat.warehouse, ns,
          props -- keys.map(TagAcl.TagPropPrefix + _))
        Seq(s"UNSET ${keys.size} TAG(S) ON NAMESPACE $ns").toDF("result")
      case GrantTagRe(priv, pairsRaw, qp, bp) =>
        val pairs = parseTagPairs(pairsRaw)
        require(pairs.nonEmpty, "GRANT ON TAG needs at least one 'key' = 'value'")
        val principal = checkPrincipal(if (qp != null) qp else cleanIdent(bp))
        val grants = TagAcl.load(spark, cat.warehouse)
        tagAclAdminCheck(spark, grants)
        val privs =
          if (priv.equalsIgnoreCase("ALL")) Seq("SELECT", "INSERT", "DESCRIBE")
          else Seq(priv.toUpperCase)
        // the FIRST tag grant seeds its issuer as the tag administrator
        val ownerSeed =
          if (listOf(grants, "OWNER").nonEmpty) Map.empty[String, String]
          else Map(aclProp("OWNER") -> currentPrincipal(spark))
        TagAcl.store(spark, cat.warehouse,
          grants ++ ownerSeed ++ privs.map { pr =>
            val key = TagAcl.grantKey(pr, pairs)
            key -> (grants.get(key).map(_.split(",").toSet)
              .getOrElse(Set.empty) + principal).toSeq.sorted.mkString(",")
          })
        Seq(s"GRANTED ${priv.toUpperCase} ON TAG " +
          s"(${TagAcl.exprKey(pairs)}) TO $principal").toDF("result")
      case RevokeTagRe(priv, pairsRaw, qp, bp) =>
        val pairs = parseTagPairs(pairsRaw)
        require(pairs.nonEmpty, "REVOKE ON TAG needs at least one 'key' = 'value'")
        val principal = checkPrincipal(if (qp != null) qp else cleanIdent(bp))
        val grants = TagAcl.load(spark, cat.warehouse)
        tagAclAdminCheck(spark, grants)
        val privs =
          if (priv.equalsIgnoreCase("ALL")) Seq("SELECT", "INSERT", "DESCRIBE")
          else Seq(priv.toUpperCase)
        val updated = privs.foldLeft(grants) { (acc, pr) =>
          val key = TagAcl.grantKey(pr, pairs)
          val remaining = acc.get(key).map(_.split(",").toSet)
            .getOrElse(Set.empty) - principal
          if (remaining.isEmpty) acc - key
          else acc + (key -> remaining.toSeq.sorted.mkString(","))
        }
        TagAcl.store(spark, cat.warehouse, updated)
        Seq(s"REVOKED ${priv.toUpperCase} ON TAG " +
          s"(${TagAcl.exprKey(pairs)}) FROM $principal").toDF("result")
      case ShowTagGrantsRe() =>
        val grants = TagAcl.load(spark, cat.warehouse)
        val rows = grants.toSeq.flatMap { case (key, ps) =>
          TagAcl.parseGrantKey(key).toSeq.flatMap { case (priv, pairs) =>
            ps.split(",").toSeq.sorted
              .map(p => (p, priv, TagAcl.exprKey(pairs)))
          }
        }.sorted
        val me = currentPrincipal(spark)
        val admins = listOf(grants, "OWNER")
        if (grants.nonEmpty && !admins.contains(me) &&
            !rows.exists(_._1 == me))
          throw new SecurityException(s"principal '$me' holds no tag grant " +
            "and may not list the tag grants")
        rows.toDF("principal", "privilege", "tag_expression")
      case ShowTagsRe(rawName) if knownTable(cat, rawName) =>
        val (ns, tbl) = splitName(rawName)
        val t = cat.getTable(ns, tbl)
        metaCheckTable(t)
        effectiveTags(t).toSeq.sorted.toDF("tag", "value")
      // row-filtered grant must match first (its trailing WHERE clause
      // would fail both other grant regexes, but order keeps the
      // intent obvious); an optional column list composes the full
      // LakeFormation data-cells filter (rows × columns)
      case GrantRowsRe(colList, rawName, qp, bp, pred)
          if knownTable(cat, rawName) =>
        val (ns, tbl) = splitName(rawName)
        val principal = checkPrincipal(if (qp != null) qp else cleanIdent(bp))
        val t = cat.getTable(ns, tbl)
        aclOwnerCheck(t)
        validateRowFilter(t, pred.trim)
        val cols = Option(colList).toSeq
          .flatMap(_.split(",").map(cleanIdent).filter(_.nonEmpty))
        val unknown = cols.filterNot(t.schema.fieldNames.contains)
        require(unknown.isEmpty,
          s"GRANT SELECT(...) names unknown column(s): ${unknown.mkString(", ")}")
        val ownerSeed =
          if (aclPrincipals(t, "OWNER").nonEmpty) Map.empty[String, String]
          else Map(aclProp("OWNER") -> currentPrincipal(t.spark))
        val scopeSet =
          if (cols.nonEmpty) Map(selectScopeProp(principal) -> cols.mkString(","))
          else Map.empty[String, String]
        val v = t.setProperties(ownerSeed ++ scopeSet ++ Map(
          aclProp("SELECT") ->
            (aclPrincipals(t, "SELECT") + principal).toSeq.sorted.mkString(","),
          rowFilterProp(principal) -> pred.trim))
        // a rows-only grant supersedes a column scope on record
        if (cols.isEmpty && t.properties.contains(selectScopeProp(principal)))
          t.unsetProperties(Seq(selectScopeProp(principal)))
        val colsShown = if (cols.isEmpty) "" else s" (${cols.mkString(", ")})"
        Seq(s"GRANTED SELECT$colsShown ON $ns.$tbl TO $principal " +
          s"WHERE ${pred.trim} v$v").toDF("result")
      // column-scoped grant must match before the plain form (the
      // plain regex would not match the parenthesized column list, but
      // order keeps the intent obvious)
      case GrantColsRe(colList, rawName, qp, bp) if knownTable(cat, rawName) =>
        val (ns, tbl) = splitName(rawName)
        val principal = checkPrincipal(if (qp != null) qp else cleanIdent(bp))
        val t = cat.getTable(ns, tbl)
        aclOwnerCheck(t)
        val cols = colList.split(",").map(cleanIdent).filter(_.nonEmpty).toSeq
        val unknown = cols.filterNot(t.schema.fieldNames.contains)
        require(unknown.isEmpty,
          s"GRANT SELECT(...) names unknown column(s): ${unknown.mkString(", ")}")
        val ownerSeed =
          if (aclPrincipals(t, "OWNER").nonEmpty) Map.empty[String, String]
          else Map(aclProp("OWNER") -> currentPrincipal(t.spark))
        val v = t.setProperties(ownerSeed ++ Map(
          aclProp("SELECT") ->
            (aclPrincipals(t, "SELECT") + principal).toSeq.sorted.mkString(","),
          selectScopeProp(principal) -> cols.mkString(",")))
        // a columns-only grant supersedes a row filter on record
        if (t.properties.contains(rowFilterProp(principal)))
          t.unsetProperties(Seq(rowFilterProp(principal)))
        Seq(s"GRANTED SELECT (${cols.mkString(", ")}) ON $ns.$tbl " +
          s"TO $principal v$v").toDF("result")
      case GrantRe(priv, rawName, qp, bp) if knownTable(cat, rawName) =>
        val (ns, tbl) = splitName(rawName)
        val principal = checkPrincipal(if (qp != null) qp else cleanIdent(bp))
        val t = cat.getTable(ns, tbl)
        aclOwnerCheck(t)
        val privs =
          if (priv.equalsIgnoreCase("ALL")) Seq("SELECT", "INSERT")
          else Seq(priv.toUpperCase)
        // the FIRST grant records the granting principal as owner, so
        // grant administration is closed from that moment on
        val ownerSeed =
          if (aclPrincipals(t, "OWNER").nonEmpty) Map.empty[String, String]
          else Map(aclProp("OWNER") -> currentPrincipal(t.spark))
        val v = t.setProperties(ownerSeed ++ privs.map(pr => aclProp(pr) ->
          (aclPrincipals(t, pr) + principal).toSeq.sorted.mkString(",")).toMap)
        // a FULL SELECT grant supersedes any column scope / row filter
        if (privs.contains("SELECT")) {
          val stale = Seq(selectScopeProp(principal), rowFilterProp(principal))
            .filter(t.properties.contains)
          if (stale.nonEmpty) t.unsetProperties(stale)
        }
        Seq(s"GRANTED ${priv.toUpperCase} ON $ns.$tbl TO $principal v$v")
          .toDF("result")
      case RevokeRe(priv, rawName, qp, bp) if knownTable(cat, rawName) =>
        val (ns, tbl) = splitName(rawName)
        val principal = checkPrincipal(if (qp != null) qp else cleanIdent(bp))
        val t = cat.getTable(ns, tbl)
        aclOwnerCheck(t)
        val privs =
          if (priv.equalsIgnoreCase("ALL")) Seq("SELECT", "INSERT")
          else Seq(priv.toUpperCase)
        // only lists the principal is actually ON change; an emptied
        // list UNSETS its property (the table reopens for that
        // privilege instead of locking everyone out). One commit per
        // kind, none for a no-op REVOKE.
        val changed = privs
          .map(pr => pr -> aclPrincipals(t, pr))
          .filter(_._2.contains(principal))
          .map { case (pr, set) => pr -> (set - principal) }
        val (keep, drop) = changed.partition(_._2.nonEmpty)
        if (keep.nonEmpty) t.setProperties(keep.map { case (pr, set) =>
          aclProp(pr) -> set.toSeq.sorted.mkString(",") }.toMap)
        // revoking SELECT also clears the principal's column scope
        // and row filter
        val scopeDrop =
          if (privs.contains("SELECT"))
            Seq(selectScopeProp(principal), rowFilterProp(principal))
              .filter(t.properties.contains)
          else Nil
        val allDrop = drop.map(p => aclProp(p._1)) ++ scopeDrop
        if (allDrop.nonEmpty) t.unsetProperties(allDrop)
        Seq(s"REVOKED ${priv.toUpperCase} ON $ns.$tbl FROM $principal " +
          s"v${t.currentVersion}").toDF("result")
      case ShowGrantsRe(rawName) if knownTable(cat, rawName) =>
        val (ns, tbl) = splitName(rawName)
        val t = cat.getTable(ns, tbl)
        // grant INSPECTION follows the LakeFormation model too: once an
        // ACL exists, only owners and grantees may enumerate it
        val all = Seq("OWNER", "SELECT", "INSERT")
          .flatMap(pr => aclPrincipals(t, pr).toSeq.sorted.map { p =>
            // scoped SELECT renders its allowed columns / row filter
            val shown =
              if (pr == "SELECT") {
                val base = selectScope(t, p)
                  .map(cs => s"SELECT (${cs.mkString(", ")})").getOrElse(pr)
                rowFilter(t, p).map(f => s"$base WHERE $f").getOrElse(base)
              } else pr
            (p, shown)
          })
        // tag-derived access is part of the table's EFFECTIVE grants —
        // a debugging admin needs to see why a principal can read (the
        // LakeFormation console shows LF-Tag grants on the resource
        // page for the same reason); rendered with its source
        // expression so the modality is unambiguous
        val viaTags = {
          val warehouse = t.root.getParent.getParent
          val grants = TagAcl.load(t.spark, warehouse)
          lazy val tags = effectiveTags(t)
          grants.toSeq.flatMap { case (key, ps) =>
            TagAcl.parseGrantKey(key) match {
              case Some((pr, pairs))
                  if pairs.forall { case (k, v) => tags.get(k).contains(v) } =>
                ps.split(",").toSeq.sorted.map(p =>
                  (p, s"$pr (via tag ${TagAcl.exprKey(pairs)})"))
              case _ => Nil
            }
          }.sorted
        }
        val effective = all ++ viaTags
        val me = currentPrincipal(t.spark)
        if (effective.nonEmpty && !effective.exists(_._1 == me))
          throw new SecurityException(
            s"principal '$me' holds no grant on ${t.name} and may not list its grants")
        effective.toDF("principal", "privilege")
      case _ => nativeSql(cat, stripped)
    }
  }

  // ---- table-level grants (LakeFormation analog) -----------------------

  /** Property key of one privilege's allow list (comma-separated
    * principals). An ABSENT/empty list means no ACL is declared and
    * the table is open — the LakeFormation model, where access only
    * narrows once grants exist. */
  private def aclProp(priv: String): String = s"graft.acl.${priv.toLowerCase}"

  /** The allow lists are comma-joined: a quoted principal carrying a
    * comma would silently split into two principals on read, and one
    * with whitespace could never be revoked through the bare-word form
    * (ADVICE r9) — reject both at grant time. */
  private def checkPrincipal(p: String): String = {
    require(p.nonEmpty && !p.exists(c => c == ',' || c.isWhitespace),
      s"principal '$p' must not be empty or contain commas/whitespace " +
        "(allow lists are comma-joined)")
    p
  }

  /** Namespace-grant administration: the first grant is open (and seeds
    * the granting principal as namespace owner); after that, namespace
    * owners only — with the same ownerless fallback discipline as
    * tables (INSERT grantees administer, never SELECT-only ones).
    * Tag assignments (`graft.acl.tag.*`) share the namespace store but
    * are NOT grants: a namespace that carries only tags is still
    * un-administered, so the first real grant stays open (ADVICE r11 —
    * without the filter, SET TAG on an ungoverned namespace made every
    * later GRANT throw for everyone, with no recovery). */
  private def nsAclAdminCheck(spark: org.apache.spark.sql.SparkSession,
      ns: String, allProps: Map[String, String]): Unit = {
    val props = allProps.filterNot(_._1.startsWith(TagAcl.TagPropPrefix))
    if (props.isEmpty) return
    val explicit = listOf(props, "OWNER")
    val admins = if (explicit.nonEmpty) explicit else listOf(props, "INSERT")
    val p = currentPrincipal(spark)
    if (!admins.contains(p)) throw new SecurityException(
      s"principal '$p' is not an owner of namespace $ns " +
        "(only owners may manage namespace grants)")
  }

  private def listOf(props: Map[String, String], priv: String): Set[String] =
    props.get(aclProp(priv))
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty)

  private def aclPrincipals(t: TxTable, priv: String): Set[String] =
    listOf(t.properties, priv)

  /** The table's NAMESPACE-scope allow list for `priv` — the
    * database-level LakeFormation grant (lakeformation.py:201-215
    * grants DESCRIBE at database scope). Read from
    * `<warehouse>/<ns>/_acl.json` via the table's root (root =
    * warehouse/ns/tbl). */
  private def nsPrincipals(t: TxTable, priv: String): Set[String] = {
    val nsDir = t.root.getParent
    listOf(NamespaceAcl.load(t.spark, nsDir.getParent, nsDir.getName), priv)
  }

  /** Same, for SEVERAL privileges in one pass — one namespace-ACL load
    * instead of one per privilege (the metadata bar checks four). */
  private def nsPrincipalsFor(t: TxTable, privs: Seq[String]): Set[String] = {
    val nsDir = t.root.getParent
    val props = NamespaceAcl.load(t.spark, nsDir.getParent, nsDir.getName)
    privs.iterator.flatMap(listOf(props, _)).toSet
  }

  // --- tag-based access control (LF-TBAC) helpers --------------------

  /** Parse `'k' = 'v', 'k2' = 'v2'` tag-pair lists (quoted form only —
    * tag tokens embed in property keys and canonical grant keys).
    * STRICT: every comma-separated segment must be a quoted pair. A
    * malformed conjunct silently dropped would yield a grant on FEWER
    * tag pairs than written — a strictly BROADER grant than intended
    * (ADVICE r11) — so residue is a parse error, never ignored. */
  private def parseTagPairs(raw: String): Seq[(String, String)] = {
    val PairRe = """\A\s*'([^']+)'\s*=\s*'([^']*)'\s*\z""".r
    val pairs = raw.split(",", -1).toSeq.map {
      case PairRe(k, v) => (TagAcl.checkTagToken(k, "tag key"),
        TagAcl.checkTagToken(v, "tag value"))
      case seg => throw new IllegalArgumentException(
        s"malformed tag pair segment '${seg.trim}' in ($raw) — " +
          "every conjunct must be 'key' = 'value' with both sides quoted")
    }
    require(pairs.map(_._1).distinct.size == pairs.size,
      s"duplicate tag key in ($raw)")
    pairs
  }

  private def parseTagKeys(raw: String): Seq[String] = {
    val KeyRe = """\A\s*'([^']+)'\s*\z""".r
    raw.split(",", -1).toSeq.map {
      case KeyRe(k) => TagAcl.checkTagToken(k, "tag key")
      case seg => throw new IllegalArgumentException(
        s"malformed tag key segment '${seg.trim}' in ($raw) — " +
          "every item must be a quoted 'key'")
    }
  }

  /** Effective tags of a table: namespace-level assignments inherited,
    * table-level values win per key (the LakeFormation inheritance
    * rule for database-assigned LF-Tags). */
  private def effectiveTags(t: TxTable): Map[String, String] = {
    val nsDir = t.root.getParent
    def tagsOf(props: Map[String, String]): Map[String, String] =
      props.collect { case (k, v) if k.startsWith(TagAcl.TagPropPrefix) =>
        k.drop(TagAcl.TagPropPrefix.length) -> v }
    tagsOf(NamespaceAcl.load(t.spark, nsDir.getParent, nsDir.getName)) ++
      tagsOf(t.properties)
  }

  /** Principals holding `priv` on the table THROUGH tag grants: every
    * grant whose expression's pairs are ALL satisfied by the table's
    * effective tags contributes its principals. Additive with the
    * named-resource grants (LakeFormation: a principal may hold access
    * through either modality). */
  private def tagPrincipals(t: TxTable, priv: String): Set[String] =
    tagPrincipalsFor(t, Seq(priv))

  /** Same, for SEVERAL privileges in one pass — one tag-store load and
    * one effective-tags resolution instead of one per privilege (the
    * metadata bar checks three). */
  private def tagPrincipalsFor(t: TxTable, privs: Seq[String]): Set[String] = {
    val warehouse = t.root.getParent.getParent
    val grants = TagAcl.load(t.spark, warehouse)
    if (grants.isEmpty) return Set.empty
    val privSet = privs.map(_.toUpperCase).toSet
    lazy val tags = effectiveTags(t)
    grants.iterator.flatMap { case (key, ps) =>
      TagAcl.parseGrantKey(key) match {
        case Some((pr, pairs)) if privSet.contains(pr) &&
            pairs.forall { case (k, v) => tags.get(k).contains(v) } =>
          ps.split(",").iterator.map(_.trim).filter(_.nonEmpty)
        case _ => Iterator.empty
      }
    }.toSet
  }

  /** Tag-grant administration: the first grant is open (and seeds the
    * issuer as the warehouse's tag administrator); after that, tag
    * administrators only. */
  private def tagAclAdminCheck(spark: org.apache.spark.sql.SparkSession,
      grants: Map[String, String]): Unit = {
    if (grants.isEmpty) return
    val admins = listOf(grants, "OWNER")
    val p = currentPrincipal(spark)
    if (admins.nonEmpty && !admins.contains(p)) throw new SecurityException(
      s"principal '$p' is not a tag administrator " +
        "(only tag administrators may manage tag grants)")
  }

  /** Assigning a tag to an UNGOVERNED resource while tag grants exist
    * would let any principal flip that open resource into tag-governed
    * state (locking everyone else out) — so when the resource itself
    * has no owner to gate on, tag assignment falls to the tag-store
    * administrators. With no tag grants at all, tags are inert
    * metadata and assignment stays open like any other property. */
  private def tagStoreOwnerCheckIfUngoverned(cat: TableCatalog,
      governed: Boolean): Unit = {
    if (governed) return
    val grants = TagAcl.load(cat.spark, cat.warehouse)
    if (grants.isEmpty) return
    val admins = listOf(grants, "OWNER")
    val p = currentPrincipal(cat.spark)
    if (admins.nonEmpty && !admins.contains(p)) throw new SecurityException(
      s"principal '$p' may not tag an ungoverned resource while tag " +
        "grants exist (tag administrators only)")
  }

  /** Table-tag assignment gate: owner rules for governed tables, tag-
    * store administrators for ungoverned ones (see above). */
  private def tagAssignCheck(cat: TableCatalog, t: TxTable): Unit = {
    aclOwnerCheck(t)
    val governed = aclPrincipals(t, "OWNER").nonEmpty ||
      aclPrincipals(t, "SELECT").nonEmpty ||
      aclPrincipals(t, "INSERT").nonEmpty ||
      nsPrincipals(t, "OWNER").nonEmpty
    tagStoreOwnerCheckIfUngoverned(cat, governed)
  }

  /** The statement's principal: the `graft.sql.principal` session conf
    * (how a multi-tenant gateway stamps the caller); "anonymous" when
    * unset. */
  private def currentPrincipal(spark: org.apache.spark.sql.SparkSession): String =
    spark.conf.get("graft.sql.principal", "anonymous")

  /** Throw unless the session principal holds `priv` on the table (or
    * no allow list is declared for it). Enforced at THIS routing
    * surface — the service-side check the reference's LakeFormation
    * grants provide; direct TxTable/DataFrame access is the storage-
    * account path that model does not govern either. */
  /** Property holding one principal's column-scoped SELECT list
    * (comma-joined columns; under `graft.acl.` so the property door,
    * redaction, and administration rules all apply unchanged). */
  private def selectScopeProp(principal: String): String =
    s"graft.acl.selectcols.$principal"

  private def selectScope(t: TxTable, principal: String): Option[Seq[String]] =
    t.properties.get(selectScopeProp(principal))
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)

  /** Property holding one principal's row-filter SELECT predicate
    * (SQL text over the table's own columns; under `graft.acl.` so the
    * property door, redaction, and administration rules all apply). */
  private def rowFilterProp(principal: String): String =
    s"graft.acl.rowfilter.$principal"

  private def rowFilter(t: TxTable, principal: String): Option[String] =
    t.properties.get(rowFilterProp(principal)).filter(_.trim.nonEmpty)

  /** Validate a row-filter predicate at GRANT time: it must parse, must
    * not smuggle a subquery (a subquery's relations would dodge the ACL
    * walk — LakeFormation row filters are simple predicates too), and
    * every column it names must exist in the table's schema. A filter
    * that later stops resolving (column dropped) fails analysis at read
    * time — denial, the safe default. */
  private def validateRowFilter(t: TxTable, pred: String): Unit = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.SubqueryExpression
    val e =
      try org.apache.spark.sql.graft.ColumnBridge.parseExpression(t.spark, pred)
      catch { case ex: Exception => throw new IllegalArgumentException(
        s"row filter does not parse: $pred (${ex.getMessage})") }
    require(!e.exists(_.isInstanceOf[SubqueryExpression]),
      "row filter may not contain a subquery")
    val fields = t.schema.fieldNames.map(_.toLowerCase).toSet
    val unknown = e.collect {
      case a: UnresolvedAttribute if !fields(a.nameParts.last.toLowerCase) =>
        a.name
    }
    require(unknown.isEmpty,
      s"row filter names unknown column(s): ${unknown.distinct.mkString(", ")}")
  }

  private def aclCheck(t: TxTable, priv: String): Unit = {
    // most-specific wins (the LakeFormation resolution order): a
    // table-level list for this privilege decides alone; otherwise a
    // namespace-level list decides; neither declared → open. TAG
    // grants are ADDITIVE to the named-resource resolution (a
    // principal may hold access through either modality), and a tag
    // grant matching an otherwise-open table makes it governed.
    val table = aclPrincipals(t, priv)
    val named = if (table.nonEmpty) table else nsPrincipals(t, priv)
    val allowed = named ++ tagPrincipals(t, priv)
    val p = currentPrincipal(t.spark)
    if (allowed.nonEmpty && !allowed.contains(p))
      throw new SecurityException(
        s"principal '$p' lacks $priv on ${t.name} " +
          s"(run: GRANT $priv ON ${t.name} TO $p)")
    // a column-scoped or row-filtered principal cannot run DML:
    // predicates, merges, and rewrites read (and writes fabricate)
    // cells outside the scope — writes require unscoped visibility
    if (priv == "INSERT" && selectScope(t, p).isDefined)
      throw new SecurityException(
        s"principal '$p' holds a column-scoped SELECT on ${t.name} " +
          "and may not write to it")
    if (priv == "INSERT" && rowFilter(t, p).isDefined)
      throw new SecurityException(
        s"principal '$p' holds a row-filtered SELECT on ${t.name} " +
          "and may not write to it")
  }

  /** Grant ADMINISTRATION is itself governed: the first GRANT on a
    * table records the granting principal as its owner
    * (`graft.acl.owner`); from then on GRANT/REVOKE — and property
    * statements touching `graft.acl.*` keys — require an owner
    * principal. Without this, any locked-out principal could simply
    * grant itself access and the ACL would be advisory. */
  private def aclOwnerCheck(t: TxTable): Unit = {
    val explicit = aclPrincipals(t, "OWNER")
    val anyTableAcl = explicit.nonEmpty ||
      aclPrincipals(t, "SELECT").nonEmpty ||
      aclPrincipals(t, "INSERT").nonEmpty
    val nsOwners = nsPrincipals(t, "OWNER")
    val admins =
      if (explicit.nonEmpty) explicit
      // an ACL'd table with NO recorded owner (grants written via raw
      // properties, outside both seeding doors): only its WRITE
      // grantees administer — a SELECT-only grantee must not be able to
      // grant itself INSERT (ADVICE r9); a SELECT-only ownerless ACL
      // stays frozen until fixed at the storage layer
      else if (anyTableAcl) aclPrincipals(t, "INSERT")
      // no table ACL but the NAMESPACE is governed: only namespace
      // owners may issue the first table-level grant — otherwise any
      // principal could seize ownership of a fresh table inside a
      // governed database
      else nsOwners
    if (anyTableAcl || nsOwners.nonEmpty) {
      val p = currentPrincipal(t.spark)
      if (!admins.contains(p)) throw new SecurityException(
        s"principal '$p' is not an owner of ${t.name} " +
          "(only owners may manage grants)")
    }
  }

  /** True iff the current principal may administer the table's grants —
    * the exact [[aclOwnerCheck]] rule, as a predicate (used for ACL
    * value redaction in the SHOW CREATE / SHOW TBLPROPERTIES arms, so
    * "may see raw allow lists" and "may edit them" stay one rule). */
  private def isAclAdmin(t: TxTable): Boolean =
    try { aclOwnerCheck(t); true } catch { case _: SecurityException => false }

  /** Table metadata (DESCRIBE bar): once an ACL exists, only owners and
    * grantees — table-level, or namespace-level incl. DESCRIBE — may
    * read it. Shared by the plan-walk gates AND the regex metadata arms
    * (SHOW PARTITIONS / DESCRIBE HISTORY / DESCRIBE DETAIL / SHOW
    * BRANCHES expose partition values and file/row counts, the same
    * class as the `.partitions`/`.files` sub-tables). */
  private def metaCheckTable(tt: TxTable): Unit = {
    val all = Seq("OWNER", "SELECT", "INSERT")
      .flatMap(pr => aclPrincipals(tt, pr)) ++
      nsPrincipalsFor(tt, Seq("OWNER", "SELECT", "INSERT", "DESCRIBE")) ++
      tagPrincipalsFor(tt, Seq("SELECT", "INSERT", "DESCRIBE"))
    if (all.nonEmpty && !all.contains(currentPrincipal(tt.spark)))
      throw new SecurityException(
        s"principal '${currentPrincipal(tt.spark)}' holds no grant " +
          s"on ${tt.name} and may not read its table metadata")
  }

  /** Full (unscoped) SELECT: the bar for reads that bypass the
    * column-scope projection — shallow clones, the change feed, branch
    * and stats-bearing metadata sub-tables all serve whole rows or
    * per-column values, so a column-scoped principal is denied. */
  private def fullSelectCheck(tt: TxTable): Unit = {
    aclCheck(tt, "SELECT")
    val p = currentPrincipal(tt.spark)
    if (selectScope(tt, p).isDefined || rowFilter(tt, p).isDefined)
      throw new SecurityException(
        s"principal '$p' holds a scoped SELECT on ${tt.name}: this " +
          "read surface serves unscoped rows/columns and is closed " +
          "to column-scoped and row-filtered grants")
  }

  /** Plan-level column-scope enforcement: every governed relation the
    * CURRENT principal may only partially see is replaced by
    * `SubqueryAlias(t, Project(allowed, rel))` — exactly the
    * authorized-view mechanism. A forbidden column then fails analysis
    * as unresolvable and `SELECT *` serves the allowed subset. Runs
    * AFTER view substitution (a view over a scoped table scopes its
    * underlying reads) and after [[enforceReadAcl]] (which denies
    * scoped principals every surface this rewrite cannot protect). */
  private def applyColumnScopes(cat: TableCatalog,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedRelation}
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Project, SubqueryAlias}
    val me = currentPrincipal(cat.spark)
    plan.transformUpWithSubqueries {
      case r: UnresolvedRelation =>
        val target = r.multipartIdentifier match {
          case Seq(ns, t)                               => Some((ns, t))
          case Seq(c, ns, t) if governedCatalog(cat, c) => Some((ns, t))
          case _                                        => None
        }
        target.flatMap { case (ns, tb) =>
          resolveTable(cat, ns, tb).flatMap { t =>
            val scope = selectScope(t, me)
            val filt = rowFilter(t, me)
            if (scope.isEmpty && filt.isEmpty) None
            else {
              // data-cells composition: the row predicate evaluates
              // over ALL columns (LakeFormation row filters may
              // reference columns outside the granted list), the
              // projection then narrows what the read serves
              val filtered = filt.map(p => Filter(
                org.apache.spark.sql.graft.ColumnBridge
                  .parseExpression(cat.spark, p), r)).getOrElse(r)
              val projected = scope.map(cols => Project(
                cols.map(c => UnresolvedAttribute.quoted(c)),
                filtered: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan))
                .getOrElse(filtered)
              Some(SubqueryAlias(tb, projected))
            }
          }
        }.getOrElse(r)
    }
  }

  /** ACL pass over a parsed plan: every reference that resolves to a
    * known table of this catalog (two-part, three-part with this
    * catalog's name, or a `.changes` sub-table) must pass the SELECT
    * check; write-shaped nodes ANYWHERE in the tree (INSERT [OVERWRITE]
    * / DELETE / UPDATE / MERGE / TRUNCATE reaching the V2 path — a CTE
    * prefix or multi-insert wraps them below the root) INSERT-check
    * their target; property edits touching `graft.acl.*` and metadata
    * shapes that expose the allow lists (SHOW TBLPROPERTIES / DESCRIBE)
    * are owner/grantee-gated. Runs AFTER view substitution, so views
    * check their underlying tables. Pure-insert targets are exempt from
    * the SELECT walk (a write-only principal can still insert); the
    * exemption keys on the relation's identifier, so `INSERT INTO t
    * SELECT FROM t` reads t unchecked — acceptable: the copy lands
    * back inside the same ACL'd table. */
  private def enforceReadAcl(cat: TableCatalog,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Unit = {
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedRelation, UnresolvedTable, UnresolvedTableOrView}
    import org.apache.spark.sql.catalyst.plans.logical._
    // one snapshot-pinned table open per (ns, tbl) per STATEMENT — a
    // self-join or a DML target visited by both checks must not
    // re-probe the log head (see [[stmtTables]])
    def tableFor(ns: String, tbl: String): Option[TxTable] =
      resolveTable(cat, ns, tbl)
    def fromParts(parts: Seq[String]): Option[(String, String)] = parts match {
      case Seq(ns, t)                                  => Some((ns, t))
      case Seq(c, ns, t) if governedCatalog(cat, c)    => Some((ns, t))
      // branch addressing (`ns.t.branch_<b>`) forks the same table's
      // data: reads and DML through it are governed by the base ACL
      case Seq(ns, t, sub) if sub.startsWith("branch_") => Some((ns, t))
      case Seq(c, ns, t, sub)
          if governedCatalog(cat, c) && sub.startsWith("branch_") =>
        Some((ns, t))
      case _                                           => None
    }
    def identOf(p: LogicalPlan): Option[(String, String)] = {
      var found: Option[(String, String)] = None
      p.foreach {
        case r: UnresolvedRelation if found.isEmpty =>
          found = fromParts(r.multipartIdentifier)
        case r: UnresolvedTable if found.isEmpty =>
          found = fromParts(r.multipartIdentifier)
        case r: UnresolvedTableOrView if found.isEmpty =>
          found = fromParts(r.multipartIdentifier)
        // REPLACE TABLE [AS SELECT] wraps its target in an
        // UnresolvedIdentifier, not an UnresolvedTable
        case r: org.apache.spark.sql.catalyst.analysis.UnresolvedIdentifier
            if found.isEmpty =>
          found = fromParts(r.nameParts)
        case _ => ()
      }
      found
    }
    def writeCheck(table: LogicalPlan): Unit =
      identOf(table).foreach { case (ns, t) =>
        tableFor(ns, t).foreach(aclCheck(_, "INSERT"))
      }
    def ownerGate(table: LogicalPlan): Unit =
      identOf(table).foreach { case (ns, t) =>
        tableFor(ns, t).foreach(aclOwnerCheck)
      }
    // table metadata through the native path (DESCRIBE, the metadata
    // sub-tables): once an ACL exists, only owners and grantees —
    // table-level, or namespace-level incl. the DESCRIBE privilege
    // (the database-scope LakeFormation grant) — may read it
    def metaCheck(tt: TxTable): Unit = metaCheckTable(tt)
    def metaGate(table: LogicalPlan): Unit =
      identOf(table).foreach { case (ns, t) =>
        tableFor(ns, t).foreach(metaCheck)
      }
    // shapes whose NATIVE output would include the raw graft.acl.*
    // values (the regex arms redact them for non-owners; the V2 path
    // cannot post-filter, so it is owner-gated once an ACL exists —
    // ADVICE r9: a SELECT-only grantee could otherwise enumerate the
    // full allow lists through this door)
    def aclValueGate(table: LogicalPlan): Unit =
      identOf(table).foreach { case (ns, t) =>
        tableFor(ns, t).foreach { tt =>
          metaCheck(tt)
          if (tt.properties.keys.exists(_.startsWith("graft.acl.")))
            aclOwnerCheck(tt)
        }
      }
    // pure inserts never read their target: SELECT applies only to the
    // source side, so a write-only principal can still insert
    val insertTargets = scala.collection.mutable.Set.empty[Seq[String]]
    def exemptFromRead(table: LogicalPlan): Unit = table.foreach {
      case r: UnresolvedRelation => insertTargets += r.multipartIdentifier
      case _ => ()
    }
    plan.foreachWithSubqueries {
      case i: InsertIntoStatement =>
        writeCheck(i.table); exemptFromRead(i.table)
      case o: OverwriteByExpression =>
        writeCheck(o.table); exemptFromRead(o.table)
      case o: OverwritePartitionsDynamic =>
        writeCheck(o.table); exemptFromRead(o.table)
      case tr: TruncateTable =>
        writeCheck(tr.table)
      case tp: TruncatePartition =>
        writeCheck(tp.table)
      // predicate/merge DML reads target rows: SELECT stays required
      // via the read walk below
      case d: DeleteFromTable            => writeCheck(d.table)
      case u: UpdateTable                => writeCheck(u.table)
      case m: MergeIntoTable             => writeCheck(m.targetTable)
      // time travel hides its relation inside an UnresolvedLeafNode
      // (RelationTimeTravel's relation is a FIELD, not a child), so
      // the read walk below never sees it — and historic versions
      // serve UNSCOPED rows no column/row-scope rewrite can reach, so
      // the full-select bar applies (like .changes and branch reads)
      case tt: org.apache.spark.sql.catalyst.analysis.RelationTimeTravel =>
        tt.relation.foreach {
          case r: UnresolvedRelation =>
            fromParts(r.multipartIdentifier).foreach { case (ns, t) =>
              tableFor(ns, t).foreach(fullSelectCheck)
            }
          case _ => ()
        }
      // destructive DDL through the V2 path: REPLACE/RENAME destroys a
      // governed table's data and its ACL with it — owners only, the
      // DROP TABLE bar; column surgery mutates the schema — the write
      // bar (a zero-grant principal could otherwise drop a governed
      // table's columns or replace it outright)
      case _: org.apache.spark.sql.catalyst.analysis.UnresolvedExecuteImmediate =>
        throw new SecurityException(
          "EXECUTE IMMEDIATE is closed through this surface: its embedded " +
            "statement would run outside the governed plan walk")
      case rt: ReplaceTable              => ownerGate(rt.name)
      case rt: ReplaceTableAsSelect      => ownerGate(rt.name)
      case rn: RenameTable               => ownerGate(rn.child)
      case sl: SetTableLocation          => ownerGate(sl.table)
      case ac: AddColumns                => writeCheck(ac.table)
      case rc: ReplaceColumns            => writeCheck(rc.table)
      case dc: DropColumns               => writeCheck(dc.table)
      case rn: RenameColumn              => writeCheck(rn.table)
      case al: AlterColumns              => writeCheck(al.table)
      // property edits through the V2 catalog (3-part ALTER TABLE):
      // touching graft.acl.* is grant administration — owners only,
      // exactly like the regex-arm TBLPROPERTIES door
      case st: SetTableProperties if st.properties.keys
          .exists(_.startsWith("graft.acl.")) =>
        identOf(st.table).foreach { case (ns, t) =>
          tableFor(ns, t).foreach { tt =>
            aclOwnerCheck(tt)
            // tag keys take the SET TAG bar through this door too
            if (st.properties.keys.exists(_.startsWith(TagAcl.TagPropPrefix)))
              tagAssignCheck(cat, tt)
            // the V2 property door seeds ownership on a FIRST ACL write
            // exactly like the regex TBLPROPERTIES arm — without this,
            // this door would mint the ownerless state the fallback in
            // aclOwnerCheck exists to contain (ADVICE r9)
            if (aclPrincipals(tt, "OWNER").isEmpty &&
                !st.properties.contains(aclProp("OWNER")))
              tt.setProperties(
                Map(aclProp("OWNER") -> currentPrincipal(tt.spark)))
          }
        }
      case ut: UnsetTableProperties if ut.propertyKeys
          .exists(_.startsWith("graft.acl.")) =>
        ownerGate(ut.table)
        // UNSETTING a tag is tag administration like setting one: on a
        // table whose ONLY governance is tag-based, the owner gate
        // no-ops (no named ACL to own), and stripping the tag would
        // open the table to the stripper — the SET TAG bar applies
        if (ut.propertyKeys.exists(_.startsWith(TagAcl.TagPropPrefix)))
          identOf(ut.table).foreach { case (ns, t) =>
            tableFor(ns, t).foreach(tagAssignCheck(cat, _))
          }
      case sp: ShowTableProperties       => aclValueGate(sp.table)
      case dr: DescribeRelation          =>
        // EXTENDED describes include the property map (raw ACL values);
        // the plain column listing stays at the grantee bar
        if (dr.isExtended) aclValueGate(dr.relation) else metaGate(dr.relation)
      case sc: ShowCreateTable           => aclValueGate(sc.child)
      // CALL graft.system.<proc>: the target table is a STRING argument
      // (GraftProcedures.TableParam) — invisible to every relation case
      // above, the same string-outside-the-plan-walk class as EXECUTE
      // IMMEDIATE. Resolve it here and apply the per-procedure bar
      // (r13 VERDICT finding 1: rollback_to_version / expire_snapshots /
      // add_files were reachable by a zero-grant principal).
      case c: Call                       => gateProcedureCall(cat, c)
      // SELECT TRANSFORM(...) USING '<cmd>' forks an ARBITRARY SHELL
      // COMMAND on the executors — total governance escape, closed
      // like EXECUTE IMMEDIATE (r14 self-review; Athena has no analog)
      case _: ScriptTransformation =>
        throw new SecurityException(
          "TRANSFORM ... USING is closed through this surface: the " +
            "script runs outside the governed plan walk")
      // CREATE FUNCTION AS '<class>' instantiates arbitrary JVM code;
      // a SQL-body UDF's RETURN expression is a STRING analyzed at
      // CALL time — after this walk — so a body like
      // (SELECT secret FROM sec.t) would read ungoverned. Both closed
      // (the TEMPORARY spellings are closed at the text gate).
      case _: CreateFunction =>
        throw new SecurityException(
          "CREATE FUNCTION is closed through this surface: function " +
            "bodies run outside the governed plan walk")
      case _: CreateUserDefinedFunction =>
        throw new SecurityException(
          "CREATE FUNCTION is closed through this surface: function " +
            "bodies run outside the governed plan walk")
      // redefining a RECORDED temp view is administration of another
      // principal's private object (see refuseForeignTempView)
      case av: AlterViewAs =>
        av.child.foreach {
          case v: org.apache.spark.sql.catalyst.analysis.UnresolvedView =>
            v.multipartIdentifier match {
              case Seq(n) =>
                refuseForeignTempView(cat.spark, n.toLowerCase)
              case Seq(g, n) if g.equalsIgnoreCase("global_temp") =>
                refuseForeignTempView(cat.spark,
                  "global_temp." + n.toLowerCase)
              case _ => ()
            }
          case _ => ()
        }
      case _                             => ()
    }
    plan.foreachWithSubqueries {
      // a temp view created through this surface is private to its
      // creating principal: its stored plan was checked and scoped for
      // the CREATOR, so another principal reading it would inherit the
      // creator's visibility (see [[tempViewOwners]])
      case r: UnresolvedRelation if r.multipartIdentifier.size == 1 ||
          (r.multipartIdentifier.size == 2 &&
            r.multipartIdentifier.head.equalsIgnoreCase("global_temp")) =>
        val key = r.multipartIdentifier.map(_.toLowerCase).mkString(".")
        val rec = tempViewRecords(cat.spark, key).get(key)
        if (rec != null) {
          if (rec.owner != currentPrincipal(cat.spark))
            throw new SecurityException(
              s"temp view $key was created by principal '${rec.owner}' " +
                "and is private to it")
          // LIVE governance (ADVICE r10): the stored plan was checked
          // and scoped at CREATE time — if any underlying table's
          // grant state moved since (REVOKE, a narrowing to a column
          // or row scope, ...), the old plan's visibility is stale and
          // must not be served; the creator recreates the view under
          // the current grants
          rec.aclSnapshot.foreach { case ((ns, t), old) =>
            if (aclStateOf(cat, ns, t) != old)
              throw new SecurityException(
                s"grants on $ns.$t changed since temp view $key was " +
                  "created; drop and recreate the view")
          }
        }
      case r: UnresolvedRelation
          if !insertTargets.contains(r.multipartIdentifier) =>
        // data-volume reads: the plain table needs SELECT (a column
        // scope is then applied by the plan rewrite); the change feed
        // and branch sub-tables serve UNSCOPED rows, so they take the
        // full-select bar (scoped principals denied)
        def dataSub(sub: String): Boolean =
          sub == "changes" || sub.startsWith("branch_")
        r.multipartIdentifier match {
          case Seq(ns, t) =>
            tableFor(ns, t).foreach(aclCheck(_, "SELECT"))
          case Seq(c, ns, t) if governedCatalog(cat, c) =>
            tableFor(ns, t).foreach(aclCheck(_, "SELECT"))
          case Seq(ns, t, sub) if dataSub(sub) =>
            tableFor(ns, t).foreach(fullSelectCheck)
          case Seq(c, ns, t, sub)
              if governedCatalog(cat, c) && dataSub(sub) =>
            tableFor(ns, t).foreach(fullSelectCheck)
          case _ => ()
        }
        // metadata sub-tables (.files/.partitions/.history/...) expose
        // file paths, partition values, and per-column min/max stats —
        // grant-holders only, the DESCRIBE bar (ADVICE r9: these
        // resolved through GraftCatalog with no check at all), and
        // closed to column-scoped principals (stats leak hidden
        // columns' values)
        val meta: Option[(String, String)] = r.multipartIdentifier match {
          case Seq(ns, t, sub) if MetadataSubTables(sub) => Some((ns, t))
          case Seq(c, ns, t, sub)
              if governedCatalog(cat, c) && MetadataSubTables(sub) =>
            Some((ns, t))
          case _ => None
        }
        meta.foreach { case (ns, t) => tableFor(ns, t).foreach { tt =>
          metaCheck(tt)
          val me = currentPrincipal(tt.spark)
          if (selectScope(tt, me).isDefined || rowFilter(tt, me).isDefined)
            throw new SecurityException(
              s"principal '$me' holds a scoped SELECT on ${tt.name} " +
                "and may not read its stats-bearing metadata tables")
        } }
      case _ => ()
    }
  }

  /** The metadata-table suffixes [[graft.catalog.GraftCatalog]] resolves
    * (GraftCatalog.MetadataKinds, kept in sync by AclSpec). */
  private val MetadataSubTables =
    Set("files", "partitions", "history", "tags", "branches", "constraints",
      "indexes")

  /** Per-procedure governance bars for `CALL graft.system.<proc>`:
    * destructive history/ref surgery takes the owner bar (same as DROP
    * — rollback rewrites the table's visible state, expiration destroys
    * time travel below the horizon), data/layout mutation the write
    * bar, metadata computation the DESCRIBE bar, and shallow_clone the
    * full-select bar (a clone serves every row/column of the source at
    * an UNGOVERNED destination — closed to scoped principals like
    * `.changes`). EVERY name in [[graft.catalog.GraftProcedures.names]]
    * must have an entry: [[gateProcedureCall]] fails closed on a
    * missing one, and AclSpec sweeps the two sets so a new procedure
    * cannot ship ungated. */
  private[graft] val ProcedureBars: Map[String, String] = Map(
    "rollback_to_version"      -> "OWNER",
    "rollback_to_timestamp"    -> "OWNER",
    "expire_snapshots"         -> "OWNER",
    "remove_orphan_files"      -> "OWNER",
    "create_branch"            -> "OWNER",
    "drop_branch"              -> "OWNER",
    "fast_forward"             -> "OWNER",
    "create_tag"               -> "OWNER",
    "add_files"                -> "INSERT",
    // changes the table's partition LAYOUT contract for all future
    // writes and readers — ALTER TABLE-class DDL, the owner's call
    "evolve_partition_spec"    -> "OWNER",
    "rewrite_data_files"       -> "INSERT",
    "rewrite_position_deletes" -> "INSERT",
    "build_bloom_index"        -> "INSERT",
    "refresh_bloom_index"      -> "INSERT",
    // rewrites the sidecar only (drops dead entries) — index
    // maintenance, same bar as the refresh it complements
    "compact_bloom_index"      -> "INSERT",
    "build_vector_index"       -> "INSERT",
    "refresh_vector_index"     -> "INSERT",
    "rewrite_vector_index"     -> "INSERT",
    "maintain_vector_index"    -> "INSERT",
    // maintain_table composes expiry + orphan removal (both OWNER) with
    // compaction and index upkeep (INSERT) — the strictest member's bar
    // governs the composite
    "maintain_table"           -> "OWNER",
    // read-only, but the recall probe brute-force-reads EVERY row and
    // its result is a whole-corpus-derived statistic — the same reason
    // .changes and shallow_clone refuse scoped principals
    "measure_vector_index_recall" -> "FULL_SELECT",
    "analyze_table"            -> "DESCRIBE",
    "index_commits"            -> "DESCRIBE",
    "shallow_clone"            -> "FULL_SELECT")

  /** Gate a parsed procedure call ([[enforceReadAcl]]'s Call arm). The
    * table reference is a string LITERAL per the procedure signatures;
    * anything else (an expression, a missing argument) fails closed —
    * a computed table name through this surface is indistinguishable
    * from laundering. Foreign-catalog calls (a three-part name whose
    * prefix is not a governed alias) are not ours to gate. */
  private def gateProcedureCall(cat: TableCatalog,
      c: org.apache.spark.sql.catalyst.plans.logical.Call): Unit = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedProcedure
    import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, NamedArgumentExpression}
    val nameParts = c.procedure match {
      case up: UnresolvedProcedure => up.nameParts
      case other => throw new SecurityException(
        s"CALL with unrecognized procedure plan ${other.nodeName} is " +
          "closed through this surface")
    }
    val proc = nameParts.last.toLowerCase
    // the catalog part keeps its ORIGINAL case: conf-registered alias
    // names are case-sensitive, so lowercasing before governedCatalog
    // would let `CALL \`AliasWh\`.system.proc` shed the gate (found by
    // the r14 self-review — the identOf relation cases never lowercase)
    val ours = nameParts match {
      case Seq(_) => true
      case Seq(ns, _) if ns.equalsIgnoreCase("system") => true
      case Seq(cn, ns, _) if ns.equalsIgnoreCase("system") =>
        governedCatalog(cat, cn)
      case _ => false
    }
    if (!ours || !graft.catalog.GraftProcedures.names.contains(proc)) return
    val bar = ProcedureBars.getOrElse(proc, throw new SecurityException(
      s"procedure $proc has no assigned governance bar and is closed " +
        "through this surface"))
    def asString(e: Expression): Option[String] = e match {
      case Literal(v: org.apache.spark.unsafe.types.UTF8String, _) =>
        Some(v.toString)
      case _ => None
    }
    val namedArg = c.args.collectFirst {
      case n: NamedArgumentExpression if n.key.equalsIgnoreCase("table") =>
        n.value
    }
    val positional = c.args.headOption
      .filterNot(_.isInstanceOf[NamedArgumentExpression])
    val tableRef = namedArg.orElse(positional).flatMap(asString).getOrElse(
      throw new SecurityException(
        s"CALL $proc requires a literal 'table' argument through the " +
          "governed surface"))
    val parts = tableRef.split("\\.")
    // a malformed reference is refused by GraftProcedures.resolve before
    // anything runs; nothing to govern here
    if (parts.length != 2) return
    resolveTable(cat, parts(0), parts(1)).foreach { t =>
      bar match {
        case "OWNER"       => aclOwnerCheck(t)
        case "INSERT"      => aclCheck(t, "INSERT")
        case "DESCRIBE"    => metaCheckTable(t)
        case "FULL_SELECT" => fullSelectCheck(t)
      }
    }
  }

  private final case class ParsedMerge(
      rawName: String, tgtAlias: String, sourceQuery: String,
      srcAlias: String, on: String,
      matched: Seq[TxTable.MatchedBranch],
      notMatched: Seq[TxTable.InsertBranch],
      bySource: Seq[TxTable.MatchedBranch])

  private val SourceNameRe = """(?s)^\s*([`\w.]+)(.*)$""".r
  private val SrcAliasRe = """(?is)^\s*(?:AS\s+)?(?!ON\b)([`\w]+)\b(.*)$""".r
  private val OnTailRe = """(?is)^\s*ON\b(.*)$""".r
  private val MatchedHeadRe = """(?is)^\s*MATCHED\s*(?:AND\s+(.+))?$""".r
  private val BySourceHeadRe =
    """(?is)^\s*NOT\s+MATCHED\s+BY\s+SOURCE\s*(?:AND\s+(.+))?$""".r
  private val NotMatchedHeadRe =
    """(?is)^\s*NOT\s+MATCHED\s*(?:BY\s+TARGET\s*)?(?:AND\s+(.+))?$""".r
  private val DeleteActRe = """(?is)^\s*DELETE\s*;?\s*$""".r
  private val UpdateStarRe = """(?is)^\s*UPDATE\s+SET\s+\*\s*;?\s*$""".r
  private val UpdateSetRe = """(?is)^\s*UPDATE\s+SET\s+(.+?)\s*;?\s*$""".r
  private val InsertStarRe = """(?is)^\s*INSERT\s+\*\s*;?\s*$""".r
  private val InsertColsRe = """(?is)^\s*INSERT\s*\((.*)$""".r
  private val ValuesTailRe = """(?is)^\s*VALUES\s*\((.*)$""".r

  /**
   * Parse the full standard MERGE statement: arbitrary `ON`, ordered
   * `WHEN MATCHED [AND cond] THEN UPDATE SET star-or-assignments |
   * DELETE`, `WHEN NOT MATCHED [BY TARGET] [AND cond] THEN INSERT
   * star-or-cols-values`, and `WHEN NOT MATCHED BY SOURCE [AND cond]
   * THEN UPDATE/DELETE` branches. The source may be a table/view name
   * or a parenthesized subquery (alias required, as in the standard).
   * Splitting happens at TOP-LEVEL keywords only (quotes and parens
   * respected), so conditions containing WHEN/THEN inside string
   * literals survive.
   */
  private def parseMerge(text: String): Option[ParsedMerge] = text match {
    case MergeHeadRe(rawName, tgtAliasRaw, rest) =>
      val trimmed = rest.trim
      val (sourceQuery, afterSrc, subquery, nameAlias) =
        if (trimmed.startsWith("(")) {
          val (body, tail) = splitAtMatchingParen(trimmed.drop(1))
          (body.trim, tail, true, null)
        } else trimmed match {
          case SourceNameRe(nm, tail) =>
            (s"SELECT * FROM ${nm.trim}", tail, false,
              cleanIdent(nm).split('.').last)
          case _ => return None
        }
      val (srcAlias, afterAlias) = afterSrc match {
        case SrcAliasRe(a, tail) => (cleanIdent(a), tail)
        case _ =>
          if (subquery) throw new IllegalArgumentException(
            "MERGE USING (subquery) requires an alias")
          (nameAlias, afterSrc)
      }
      val onTail = afterAlias match {
        case OnTailRe(tail) => tail
        case _ => return None
      }
      val pieces = splitTopLevelKeyword(onTail, "WHEN")
      if (pieces.length < 2) return None
      val tgtAlias = Option(tgtAliasRaw).map(cleanIdent)
        .getOrElse(cleanIdent(rawName).split('.').last)
      var matched = Vector.empty[TxTable.MatchedBranch]
      var notMatched = Vector.empty[TxTable.InsertBranch]
      var bySource = Vector.empty[TxTable.MatchedBranch]
      for (seg <- pieces.tail) {
        val (head, action) = splitAtKeyword(seg, "THEN")
        require(action != null, s"MERGE WHEN clause lacks THEN: '$seg'")
        def matchedAction(cond: Option[String]): TxTable.MatchedBranch =
          action match {
            case DeleteActRe() => TxTable.MatchedBranch(cond, isDelete = true, None)
            case UpdateStarRe() => TxTable.MatchedBranch(cond, isDelete = false, None)
            case UpdateSetRe(assigns) => TxTable.MatchedBranch(cond,
              isDelete = false, Some(parseAssignments(assigns)))
            case other => throw new IllegalArgumentException(
              s"unsupported MERGE matched action: '${other.trim}'")
          }
        head match {
          case BySourceHeadRe(c) => bySource :+= matchedAction(Option(c).map(_.trim))
          case MatchedHeadRe(c) => matched :+= matchedAction(Option(c).map(_.trim))
          case NotMatchedHeadRe(c) =>
            val cond = Option(c).map(_.trim)
            action match {
              case InsertStarRe() =>
                notMatched :+= TxTable.InsertBranch(cond, None, Nil)
              case InsertColsRe(afterParen) =>
                val (colsStr, tail2) = splitAtMatchingParen(afterParen)
                val cols = splitTopLevel(colsStr, ',')
                  .map(c2 => cleanIdent(c2).split('.').last)
                tail2 match {
                  case ValuesTailRe(afterV) =>
                    val (valsStr, _) = splitAtMatchingParen(afterV)
                    val vals = splitTopLevel(valsStr, ',').map(_.trim)
                    require(vals.length == cols.length,
                      s"INSERT has ${cols.length} columns but ${vals.length} values")
                    notMatched :+= TxTable.InsertBranch(cond, Some(cols), vals)
                  case _ => throw new IllegalArgumentException(
                    "MERGE INSERT (columns) requires VALUES (...)")
                }
              case other => throw new IllegalArgumentException(
                s"unsupported MERGE not-matched action: '${other.trim}'")
            }
          case other => throw new IllegalArgumentException(
            s"unsupported MERGE WHEN clause: 'WHEN ${other.trim}'")
        }
      }
      Some(ParsedMerge(rawName, tgtAlias, sourceQuery, srcAlias,
        pieces.head.trim, matched, notMatched, bySource))
    case _ => None
  }

  /** `a = expr, b = expr` → column → raw expression text (LHS may be
    * alias-qualified; the last segment names the target column). */
  private def parseAssignments(s: String): Map[String, String] =
    splitTopLevel(s, ',').map { assignment =>
      val eq = topLevelIndexOf(assignment, '=')
      require(eq > 0, s"malformed SET assignment: '$assignment'")
      cleanIdent(assignment.substring(0, eq)).split('.').last ->
        assignment.substring(eq + 1).trim
    }.toMap

  /** Execute several DML statements as ONE atomic multi-table
    * transaction ([[GraftTxn]]): every statement's effect becomes
    * visible together, or none does. Supported statements: `INSERT
    * INTO t [(cols)] SELECT|VALUES …` and `DELETE FROM t [WHERE …]`
    * (copy-on-write — final contents are identical to the table's
    * routed delete mode), at most one statement per table. Returns one
    * row per table with its committed version. Anything else —
    * including a statement on an unknown table — aborts the
    * transaction and throws. */
  def transaction(cat: TableCatalog, statements: Seq[String]): DataFrame = {
    val spark = cat.spark
    import spark.implicits._
    val txn = cat.beginTransaction()
    try {
      statements.foreach { text =>
        stripLineComments(text) match {
          case InsertRe(rawName, colList, query) if knownTable(cat, rawName) =>
            val (ns, tbl) = splitName(rawName)
            val t = cat.getTable(ns, tbl)
            aclCheck(t, "INSERT")
            val df = nativeSql(cat, query)
            val targets =
              if (colList == null) t.schema.fieldNames.toSeq
              else colList.split(",").map(cleanIdent).toSeq
            require(df.columns.length == targets.length,
              s"INSERT column count ${df.columns.length} != target ${targets.length}")
            txn.append(t, df.toDF(targets: _*))
          case DeleteFromRe(rawName, where) if knownTable(cat, rawName) =>
            val (ns, tbl) = splitName(rawName)
            val t = cat.getTable(ns, tbl)
            aclCheck(t, "INSERT")
            aclCheck(t, "SELECT")
            // same partition pruning as the single-table SQL DELETE —
            // without it stageDelete marks every file affected and a
            // one-partition txn DELETE becomes a full-table rewrite
            txn.delete(t, predicateOf(where),
              partitionFilterFrom(where, t.schema,
                t.snapshot.partitionColumns,
                spark.sessionState.conf.sessionLocalTimeZone))
          case other => throw new IllegalArgumentException(
            "unsupported statement in multi-table transaction " +
              s"(INSERT INTO / DELETE FROM a known table only): " +
              other.trim.take(80))
        }
      }
    } catch {
      case e: Throwable => txn.abort(); throw e
    }
    txn.commit().toSeq.sorted.toDF("table", "version")
  }

  /** True iff `raw` is a `[ns.]table` this catalog knows — statements on
    * anything else (temp views, session-catalog tables, three-part
    * names) fall through to the native path instead of erroring. */
  private def knownTable(cat: TableCatalog, raw: String): Boolean =
    try { val (ns, tbl) = splitName(raw); cat.tableExists(ns, tbl) }
    catch { case _: IllegalArgumentException => false }

  /** drop `-- …` comments (the reference's DDL annotates column groups
    * with them) — but only outside single-quoted literals, so
    * `COMMENT 'a--b'` or `LOCATION 's3://x--y'` survive intact. */
  private def stripLineComments(s: String): String =
    s.linesIterator.map { line =>
      var inQuote = false
      var cut = -1
      var i = 0
      while (i < line.length && cut < 0) {
        line.charAt(i) match {
          case '\'' => inQuote = !inQuote
          case '-' if !inQuote && i + 1 < line.length && line.charAt(i + 1) == '-' =>
            cut = i
          case _ =>
        }
        i += 1
      }
      if (cut >= 0) line.substring(0, cut) else line
    }.mkString("\n")

  /** body up to the paren matching the already-consumed `(`, plus tail.
    * Tracks only `()` depth — DECIMAL(12,2) nests, STRUCT<> doesn't. */
  private def splitAtMatchingParen(s: String): (String, String) = {
    var depth = 1
    var i = 0
    while (i < s.length && depth > 0) {
      s.charAt(i) match {
        case '(' => depth += 1
        case ')' => depth -= 1
        case _ =>
      }
      i += 1
    }
    require(depth == 0, "unbalanced parentheses in CREATE TABLE column list")
    (s.substring(0, i - 1), s.substring(i))
  }

  /** The tail after the column list may only carry the clauses we accept
    * (PARTITIONED BY / LOCATION / TBLPROPERTIES); anything else (USING,
    * AS SELECT, CLUSTERED BY, …) is rejected rather than silently
    * dropped — a swallowed clause would change table semantics. */
  private val TailClauseRe =
    """(?is)\s*(?:PARTITIONED\s+BY\s*\((?:[^()]|\([^()]*\))*\)|LOCATION\s+'[^']*'|TBLPROPERTIES\s*\([^)]*\)|;)\s*""".r
  private def requireKnownTail(tail: String): Unit = {
    val residue = TailClauseRe.replaceAllIn(tail, " ").trim
    require(residue.isEmpty,
      s"unsupported clause in CREATE TABLE (only PARTITIONED BY / LOCATION / TBLPROPERTIES accepted): '$residue'")
  }

  private def cleanIdent(s: String): String = s.trim.stripPrefix("`").stripSuffix("`")

  private val TransformCallRe = """(?is)^\s*(\w+)\s*\((.*)\)\s*$""".r

  /** Parse a PARTITIONED BY item list — bare columns (identity) and
    * transform calls (`days(ts)`, `bucket(8, id)`) — into a partition
    * spec. */
  private def parsePartSpec(list: String): Seq[PartField] =
    splitTopLevel(list, ',').map(_.trim).filter(_.nonEmpty).map {
      case TransformCallRe(fn, args) =>
        PartitionTransform.fromCall(fn,
          args.split(",").map(cleanIdent).toSeq)
      case bare =>
        val c = cleanIdent(bare)
        PartField(c, PartitionTransform.Identity, c)
    }

  /** WHERE-less DML touches every row (standard SQL). */
  /** Reject subqueries inside a DML expression string (UPDATE SET /
    * WHERE, DELETE WHERE, MERGE ON / branch conditions / assignment
    * values): these expressions evaluate OUTSIDE the governed plan
    * walk — straight `expr()` on the target's rows — so a scalar /
    * EXISTS / IN subquery inside one would read ANY table through the
    * registered catalog with no ACL check (the exact reasoning
    * validateRowFilter documents for row filters). Read-your-own-data
    * DML stays; cross-table logic belongs in a governed SELECT. */
  private def requireNoSubquery(text: String, where: String): Unit = {
    if (text == null) return
    // functions.expr is LAZY in Spark 4 (it wraps the raw text in a
    // SqlExpression node parsed only at analysis) — parse with the
    // real parser to see the catalyst tree
    val parsed =
      try org.apache.spark.sql.graft.ColumnBridge.parseExpression(
        org.apache.spark.sql.SparkSession.active, text)
      catch { case _: Exception => return }   // malformed → fails later
    val hasSubquery = parsed.exists {
      case _: org.apache.spark.sql.catalyst.expressions.SubqueryExpression => true
      case _ => false
    }
    if (hasSubquery) throw new SecurityException(
      s"subqueries are not allowed in $where through this surface: they " +
        "would read tables outside the governed plan walk (run a governed " +
        "SELECT and pass its result instead)")
  }

  private def predicateOf(where: String): org.apache.spark.sql.Column = {
    requireNoSubquery(where, "DML predicates")
    if (where == null) org.apache.spark.sql.functions.lit(true)
    else org.apache.spark.sql.functions.expr(where)
  }

  /** Split `s` at the first TOP-LEVEL (outside quotes/parens) occurrence
    * of the keyword; returns (before, after-or-null). Case-insensitive,
    * word-bounded — `SET note = 'see WHERE docs' WHERE id = 3` splits at
    * the second WHERE. */
  private def splitAtKeyword(s: String, kw: String): (String, String) = {
    var depth = 0; var inQuote = false; var i = 0
    val upper = s.toUpperCase(java.util.Locale.ROOT)
    while (i < s.length) {
      s.charAt(i) match {
        case '\'' => inQuote = !inQuote
        case '(' if !inQuote => depth += 1
        case ')' if !inQuote => depth -= 1
        case _ if !inQuote && depth == 0 &&
            upper.startsWith(kw, i) &&
            (i == 0 || !Character.isLetterOrDigit(s.charAt(i - 1))) &&
            (i + kw.length >= s.length ||
              !Character.isLetterOrDigit(s.charAt(i + kw.length))) =>
          return (s.substring(0, i).trim, s.substring(i + kw.length).trim)
        case _ =>
      }
      i += 1
    }
    (s.trim, null)
  }

  /** Best-effort partition pruning for SQL DML: a top-level AND-conjunct
    * of the form `<partitionColumn> = <literal>` guarantees rows of
    * other partitions are untouched, so the copy-on-write rewrite can
    * skip their files entirely. Anything more complex prunes nothing
    * (correct, just less efficient).
    *
    * The literal is CANONICALIZED through the partition column's data
    * type before matching — `hour = 05`, `hour = 5.0`, and `hour = 5`
    * on an int partition all render to the stored "5"; raw-text
    * comparison would match no file and silently no-op the statement.
    * A literal the type cannot parse drops the conjunct (no pruning —
    * always correct). */
  private def partitionFilterFrom(where: String,
      schema: org.apache.spark.sql.types.StructType,
      partCols: Seq[String],
      sessionZone: String = "UTC"): Map[String, String] = {
    if (where == null || partCols.isEmpty) return Map.empty
    // RHS must be a LITERAL: quoted, or numeric/date-shaped (digit-led).
    // A bare identifier (`date = other_col`) must NOT prune — it is a
    // column reference, not a partition value.
    val EqRe = """(?s)\s*(?:[`\w]+\.)?([`\w]+)\s*=\s*(?:'([^']*)'|(-?\d[\w.-]*))\s*""".r
    splitTopLevelKeyword(where, "AND").flatMap {
      case EqRe(col, quoted, bare) =>
        val c = cleanIdent(col)
        if (!partCols.contains(c)) None
        else {
          val raw = if (quoted != null) quoted else bare
          schema.fields.find(_.name == c)
            .flatMap(f => canonicalPartitionLiteral(raw, f.dataType, sessionZone))
            .map(c -> _)
        }
      case _ => None
    }.toMap
  }

  /** Cast a SQL literal's text through `dt` (in the session zone, the
    * zone the row predicate evaluates in) and render it the way snapshot
    * `partitionValues` are rendered ([[PartitionRender]]). None =
    * unparseable → caller skips pruning on that conjunct. */
  private def canonicalPartitionLiteral(raw: String,
      dt: org.apache.spark.sql.types.DataType,
      sessionZone: String = "UTC"): Option[String] = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
    val v = try Cast(Literal(raw), dt, Some(sessionZone)).eval() catch {
      case _: Exception => null
    }
    Option(v).map(PartitionRender(_, dt, sessionZone))
  }

  /** Split on a top-level keyword separator (e.g. AND) outside quotes
    * and parens. */
  private def splitTopLevelKeyword(s: String, kw: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var rest = s
    var done = false
    while (!done) {
      val (head, tail) = splitAtKeyword(rest, kw)
      out += head
      if (tail == null) done = true else rest = tail
    }
    out.result()
  }

  /** Split on `sep` at paren/quote depth 0 — `SET a = f(x, y), b = 2`
    * must not split inside the call, nor inside a string literal. */
  private def splitTopLevel(s: String, sep: Char): Seq[String] = {
    val out = Seq.newBuilder[String]
    var depth = 0; var inQuote = false; var start = 0; var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '\'' => inQuote = !inQuote
        case '(' if !inQuote => depth += 1
        case ')' if !inQuote => depth -= 1
        case c if c == sep && depth == 0 && !inQuote =>
          out += s.substring(start, i); start = i + 1
        case _ =>
      }
      i += 1
    }
    out += s.substring(start)
    out.result()
  }

  /** First occurrence of `c` at depth 0 outside quotes (−1 if absent). */
  private def topLevelIndexOf(s: String, c: Char): Int = {
    var depth = 0; var inQuote = false; var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '\'' => inQuote = !inQuote
        case '(' if !inQuote => depth += 1
        case ')' if !inQuote => depth -= 1
        case x if x == c && depth == 0 && !inQuote => return i
        case _ =>
      }
      i += 1
    }
    -1
  }

  /** `ns.table` or bare `table` (namespace defaults like Athena's
    * `default` database). Split on dots first, then unquote per segment,
    * so per-segment quoting like `` `analytics`.`txns` `` resolves. */
  private def splitName(raw: String): (String, String) =
    raw.split('.').map(cleanIdent) match {
      case Array(ns, tbl) => (ns, tbl)
      case Array(tbl) => ("default", tbl)
      case other => throw new IllegalArgumentException(
        s"expected [namespace.]table, got '${other.mkString(".")}'")
    }
}
